package graft.perfbench

import java.io.File

import scala.io.Source

/** Per-file freshness read back from a streaming query's checkpoint:
  * the file source log names the batch that took each landed file, and
  * the commit log's modification time says when that batch committed.
  * Needs no listener, so untraced runs measure it too.
  */
object Freshness {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name (last path segment) -> batch id, from `sources/0`,
    * compacted (`<id>.compact`) and plain log files alike. */
  def batchOfFile(checkpoint: String): Map[String, Long] = {
    val dir = new File(checkpoint, "sources/0")
    val logs = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
    logs.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line);
             b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toVector
      finally src.close()
    }.toMap
  }

  /** Batch id -> commit time (epoch ms) from `commits/`. */
  def commitTimes(checkpoint: String): Map[Long, Long] = {
    val dir = new File(checkpoint, "commits")
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified()).toMap
  }

  /** Freshness (ms) per scheduled file: commit time of the batch that
    * took it minus its scheduled landing time. Files never committed
    * are returned in `missing`. */
  final case class Result(freshMs: Map[String, Double], commitMs: Map[String, Long],
      missing: Seq[String])

  def compute(checkpoint: String, scheduledMs: Map[String, Long]): Result = {
    val batchOf = batchOfFile(checkpoint)
    val commits = commitTimes(checkpoint)
    val done = scheduledMs.keys.toSeq.flatMap { f =>
      batchOf.get(f).flatMap(commits.get).map(c => f -> c)
    }.toMap
    Result(done.map { case (f, c) => f -> (c - scheduledMs(f)).toDouble },
      done, scheduledMs.keys.filterNot(done.contains).toSeq.sorted)
  }

  /** Most files landed but not yet committed at any landing instant. */
  def backlogMax(landedMs: Map[String, Long], commitMs: Map[String, Long]): Int =
    landedMs.values.toSeq.map { t =>
      landedMs.count { case (f, l) => l <= t && commitMs.get(f).forall(_ > t) }
    }.maxOption.getOrElse(0)
}

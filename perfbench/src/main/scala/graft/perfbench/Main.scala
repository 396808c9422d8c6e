package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one named workload and prints the result
  * as the last stdout line (`correct`, `attempted`, `failed`, `metrics`).
  *
  * `java graft.perfbench.Main --workload <ingest|query>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *   --bench <dir> [--cores <n>] [--record <tsv>]`
  *
  * `perfbench/run.py` builds the classpath and calls this; see
  * `perfbench/README.md` for what each workload and metric means.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, data: File, bench: File, cores: Int,
      record: Option[File])

  /** End-to-end metrics (untraced run), every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "held_mb" -> "MB")

  private val families = Seq("ReferenceOps", "RelationalOps", "AnalyticOps",
    "FunctionOps", "AuditOps", "LlmTextOps", "LlmVectorOps", "KnnIncremental",
    "MultimodalKernels")

  /** Layers whose self time the traced run reports. */
  val Layers: Seq[String] =
    Seq("setup", "engine", "operators", "sources", "pipeline", "streaming")

  /** Per-layer metrics (traced run), every workload; a layer the
    * workload leaves idle reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.ann_index_s" -> "s", "setup.warm_s" -> "s",
    "engine.table_load_cold_ms" -> "ms", "engine.table_load_warm_ms" -> "ms",
    "engine.memo_builds" -> "count", "engine.memo_build_s" -> "s",
    "operators.plan_s" -> "s", "operators.exec_s" -> "s") ++
    families.flatMap(f => Seq(s"operators.$f.plan_s" -> "s", s"operators.$f.exec_s" -> "s")) ++
    SparkCounters.Names.map(n => s"spark.$n" ->
      (if (n.endsWith("_s")) "s" else if (n.endsWith("_bytes")) "bytes" else "count")) ++
    Seq("sources.parse_s" -> "s", "sources.lines_in" -> "count",
      "sources.ticks_out" -> "count", "sources.yield" -> "ratio",
      "pipeline.land_raw_s" -> "s", "pipeline.land_raw_files" -> "count",
      "pipeline.flush_hourly_s" -> "s", "pipeline.hourly_rows" -> "count",
      "pipeline.upsert_jdbc_s" -> "s", "pipeline.compact_s" -> "s",
      "pipeline.compact_files_before" -> "count",
      "pipeline.compact_files_after" -> "count", "pipeline.retention_s" -> "s",
      "pipeline.partitions_dropped" -> "count", "pipeline.raw_bytes_per_tick" -> "bytes",
      "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
      "streaming.batch_p95_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.input_rows" -> "count",
      "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
      "streaming.watermark_dropped_rows" -> "count",
      "streaming.duplicate_dropped_rows" -> "count",
      "streaming.backlog_files_max" -> "count", "streaming.drain_s" -> "s",
      "generator.late_p95_ms" -> "ms",
      "latency.samples" -> "count", "latency.tail_percentile" -> "pct",
      "latency.p50_ms" -> "ms") ++
    Layers.map(l => s"$l.self_s" -> "s") ++
    EndToEnd.filter(_._1 != "setup_s").map { case (n, u) => s"trace.overhead.$n" -> u }

  /** What a workload hands back: its counts and every metric it measured
    * (names from [[EndToEnd]] and [[PerLayer]]; missing ones print 0). */
  final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

  /** Counts operations and failures; a failure is reported on stderr. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    def check(what: String)(ok: => Boolean): Boolean = {
      attempted += 1
      val passed = try ok catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $what threw $e"); false
      }
      if (!passed) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
      passed
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("data")),
      new File(need("bench")),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("record").map(new File(_)))
  }

  /** A session as a user of the library builds one: `GraftSession`'s
    * canonical configuration on `local[cores]`, with Spark's temporary
    * files kept inside the benchmark's work directory. */
  def session(a: Args): SparkSession = {
    val s = graft.GraftSession.builder(a.cores)
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    graft.GraftSession.registerAll(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(a: Args, o: Outcome): String = {
    val spec = if (a.trace) PerLayer else EndToEnd
    val ms = spec.map { case (n, u) =>
      s""""$n":{"value":${num(o.metrics.getOrElse(n, 0.0))},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${o.failed == 0},"attempted":${math.max(1L, o.attempted)},""" +
      s""""failed":${o.failed},"metrics":{$ms}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val outcome = a.workload match {
      case "ingest" => IngestWorkload.run(a)
      case "query" => QueryWorkload.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    println(json(a, outcome))
  }
}

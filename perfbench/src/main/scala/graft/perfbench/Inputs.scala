package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

/** One tick as the reference records it: µs event time, symbol, price. */
final case class Tick(tsMicros: Long, symbol: String, price: Double)

/** The landing files the open-loop generator writes, fixed by the seed.
  *
  * @param primer      the first file, landed and committed alone before
  *                    the clock starts so that every later batch runs
  *                    with a watermark
  * @param files       the timed files, in landing order
  * @param streamTicks ticks the streaming job must keep (every source
  *                    event exactly once)
  * @param lateTicks   far-late ticks: the stream drops them at the
  *                    watermark, the batch twin keeps them
  * @param malformed   injected payloads that must not parse
  * @param duplicates  injected exact re-sends of earlier ticks
  */
final case class IngestPlan(
    primer: Vector[String],
    files: Vector[Vector[String]],
    streamTicks: Vector[Tick],
    lateTicks: Vector[Tick],
    malformed: Int,
    duplicates: Int) {
  def linesIn: Long = primer.size.toLong + files.map(_.size.toLong).sum
  def bytesOf(lines: Vector[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes("UTF-8")
}

/** Seeded input generation. Every choice (file boundaries, which ticks
  * are re-sent, what is injected where) comes from one
  * `scala.util.Random(seed)`, so a seed always yields the same bytes.
  */
object Inputs {
  /** Shares of injected payloads, per source tick. */
  val MalformedShare = 0.02
  val DuplicateShare = 0.03
  val LateShare = 0.01
  /** A duplicate is re-sent at most this far (event time) after its
    * original: well inside the library's 10-minute watermark delay, so
    * the dedup operator, not the watermark, drops it whatever the batch
    * boundaries are. */
  val MaxResendMicros: Long = 5L * 60 * 1000000
  /** Late ticks are stamped 10 min to 3 h before the first source tick:
    * older than the watermark the primer batch sets, so the watermark
    * drops every one of them whatever the batch boundaries are. */
  val LateMinMicros: Long = 10L * 60 * 1000000 + 1000000
  val LateMaxMicros: Long = 3L * 3600 * 1000000

  private val tsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def tsText(micros: Long): String =
    tsFmt.format(Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  /** One landing line (`TickSource.landingSchema`) around a raw payload. */
  def landingLine(tsMicros: Long, payload: String): String =
    s"""{"fetch_ts":"${tsText(tsMicros)}","payload":"${payload.replace("\"", "\\\"")}"}"""

  def payload(t: Tick): String =
    s"""{"symbol":"${t.symbol}","price":"${java.lang.Double.toString(t.price)}"}"""

  private val malformedPayloads = Vector(
    """{"symbol":"%s","price":"n/a"}""",
    """{"symbol":"%s","pri""",
    """{"price":"%s"}""",
    """not json at all %s""")

  /** Split `ticks` (sorted by time, unique per (symbol, ts)) into a primer
    * and `nFiles` landing files, injecting malformed payloads, duplicate
    * re-sends and far-late ticks.
    */
  def ingestPlan(ticks: IndexedSeq[Tick], seed: Long, nFiles: Int): IngestPlan = {
    require(ticks.size > 4 * (nFiles + 1), s"${ticks.size} ticks for $nFiles files")
    val rng = new scala.util.Random(seed)
    // file boundaries: nFiles distinct random cut points after a primer
    // of at least 1% of the ticks
    val primerEnd = math.max(1, ticks.size / 100)
    val cuts = rng.shuffle((primerEnd + 1 until ticks.size).toVector)
      .take(nFiles - 1).sorted
    val bounds = (primerEnd +: cuts) :+ ticks.size
    val t0 = ticks.head.tsMicros
    val symbols = ticks.map(_.symbol).distinct.sorted

    // duplicates: each chosen tick is re-sent just before the first
    // source tick at least `delta` later (the end, if none is)
    val times = ticks.map(_.tsMicros).toArray
    val resends = Array.fill(ticks.size + 1)(ArrayBuffer.empty[Tick])
    var duplicates = 0
    for (i <- primerEnd until ticks.size if rng.nextDouble() < DuplicateShare) {
      val delta = 1 + (rng.nextDouble() * MaxResendMicros).toLong
      val at = java.util.Arrays.binarySearch(times, ticks(i).tsMicros + delta)
      val pos = if (at >= 0) at else -at - 1
      resends(math.max(pos, i + 1)) += ticks(i)
      duplicates += 1
    }
    val lateSeen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val late = ArrayBuffer.empty[Tick]
    var malformed = 0
    def lineFor(t: Tick) = landingLine(t.tsMicros, payload(t))

    val files = bounds.sliding(2).map { w =>
      val (from, until) = (w(0), w(1))
      val out = ArrayBuffer.empty[String]
      for (i <- from until until) {
        resends(i).foreach(t => out += lineFor(t))
        val t = ticks(i)
        if (rng.nextDouble() < MalformedShare) {
          val tpl = malformedPayloads(rng.nextInt(malformedPayloads.size))
          out += landingLine(t.tsMicros, tpl.format(t.symbol))
          malformed += 1
        }
        if (rng.nextDouble() < LateShare) {
          val back = LateMinMicros +
            (rng.nextDouble() * (LateMaxMicros - LateMinMicros)).toLong
          val lt = Tick(t0 - back, symbols(rng.nextInt(symbols.size)),
            (1 + rng.nextInt(50000)) / 100.0)
          if (lateSeen.add((lt.symbol, lt.tsMicros))) {
            late += lt
            out += lineFor(lt)
          }
        }
        out += lineFor(t)
      }
      if (until == ticks.size) resends(until).foreach(t => out += lineFor(t))
      out.toVector
    }.toVector
    val primer = ticks.take(primerEnd).map(lineFor).toVector
    IngestPlan(primer, files, ticks.toVector, late.toVector, malformed, duplicates)
  }

  /** The seeded query order of a pass. */
  def queryOrder(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)
}

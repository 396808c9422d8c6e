package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private val t0 = 1704067200000000L // 2024-01-01 00:00 UTC
  private val ticks = (0 until 5000).map { i =>
    Tick(t0 + i * 7000000L + (i % 13), Seq("a", "b", "c")(i % 3), 1 + (i % 997) / 100.0)
  }

  private def bytes(p: IngestPlan): Seq[Seq[Byte]] =
    (p.primer +: p.files).map(f => p.bytesOf(f).toSeq)

  test("the same seed gives byte-identical inputs") {
    assert(bytes(Inputs.ingestPlan(ticks, 7, 200)) == bytes(Inputs.ingestPlan(ticks, 7, 200)))
  }

  test("another seed gives other file boundaries and injections") {
    assert(bytes(Inputs.ingestPlan(ticks, 7, 200)) != bytes(Inputs.ingestPlan(ticks, 8, 200)))
  }

  test("every line is accounted for: source ticks plus injected payloads") {
    val p = Inputs.ingestPlan(ticks, 3, 200)
    assert(p.files.size == 200)
    assert(p.linesIn == ticks.size + p.malformed + p.duplicates + p.lateTicks.size)
    assert(p.malformed > 0 && p.duplicates > 0 && p.lateTicks.nonEmpty)
    // far-late ticks sit before the watermark the primer sets
    assert(p.lateTicks.forall(_.tsMicros < ticks.head.tsMicros - 10L * 60 * 1000000))
  }

  test("a duplicate is re-sent after its original, within the resend window") {
    val p = Inputs.ingestPlan(ticks, 5, 200)
    val lines = (p.primer +: p.files).flatten
    val byLine = ticks.map(t => Inputs.landingLine(t.tsMicros, Inputs.payload(t)) -> t).toMap
    val firstSeen = scala.collection.mutable.Map.empty[String, Int]
    var clock = Long.MinValue
    lines.zipWithIndex.foreach { case (l, i) =>
      byLine.get(l).foreach { t =>
        if (firstSeen.contains(l))
          assert(clock - t.tsMicros <= Inputs.MaxResendMicros, s"resend too late at $i")
        else { firstSeen(l) = i; clock = math.max(clock, t.tsMicros) }
      }
    }
    assert(lines.count(byLine.contains) == ticks.size + p.duplicates)
  }

  test("the query order is fixed by the seed") {
    val names = (1 to 30).map(i => s"q$i")
    assert(Inputs.queryOrder(names, 4) == Inputs.queryOrder(names.reverse, 4))
    assert(Inputs.queryOrder(names, 4) != Inputs.queryOrder(names, 5))
    assert(Inputs.queryOrder(names, 4).sorted == names.sorted)
  }
}

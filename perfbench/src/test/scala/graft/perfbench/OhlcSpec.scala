package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class OhlcSpec extends AnyFunSuite {
  test("the reference's golden vector") {
    assert(Ohlc.goldenVectorHolds)
  }

  test("one bar per (date, hour, symbol); open and close follow time, not order") {
    val t0 = 1704103200000000L
    val bars = Ohlc.hourly(Seq(Tick(t0 + 2, "X", 3.0), Tick(t0, "X", 1.0),
      Tick(t0 + 1, "X", 2.0), Tick(t0 + 3600000000L, "X", 9.0)))
    assert(bars.size == 2)
    assert(bars.values.exists(_ == Ohlc.Bar(1.0, 3.0, 1.0, 3.0, 2.0, 3)))
  }
}

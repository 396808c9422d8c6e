package graft.perfbench

import java.time.{Instant, LocalDate, ZoneOffset}

/** Plain-Scala (no Spark) hourly OHLC: the reference's downsample rule
  * (`dataCollector.py:140-163`), used to check what the engine writes.
  */
object Ohlc {
  final case class Key(date: LocalDate, hour: Int, symbol: String)
  final case class Bar(open: Double, high: Double, low: Double,
      close: Double, avg: Double, count: Long)

  def keyOf(t: Tick): Key = {
    val at = Instant.ofEpochSecond(Math.floorDiv(t.tsMicros, 1000000L))
      .atOffset(ZoneOffset.UTC)
    Key(at.toLocalDate, at.getHour, t.symbol)
  }

  /** `Determinism.r6`: floor(x * 1e6 + 0.5) / 1e6. */
  def r6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0

  def hourly(ticks: Iterable[Tick]): Map[Key, Bar] =
    ticks.groupBy(keyOf).map { case (k, ts) =>
      val byTime = ts.toVector.sortBy(_.tsMicros)
      val prices = byTime.map(_.price)
      k -> Bar(byTime.head.price, prices.max, prices.min, byTime.last.price,
        r6(prices.sum / prices.size), prices.size.toLong)
    }

  /** Bars agree up to the rounding of a floating mean. */
  def same(a: Bar, b: Bar): Boolean =
    a.open == b.open && a.high == b.high && a.low == b.low &&
      a.close == b.close && a.count == b.count &&
      math.abs(a.avg - b.avg) <= 2e-6

  /** The reference's golden vector (`tests.py:103-117`): BTCUSDT at
    * 50000, 51000, 49000 in one hour. */
  def goldenVectorHolds: Boolean = {
    val t0 = 1704103200000000L // 2024-01-01 10:00 UTC
    val bars = hourly(Seq(Tick(t0, "BTCUSDT", 50000.0),
      Tick(t0 + 60000000L, "BTCUSDT", 51000.0),
      Tick(t0 + 120000000L, "BTCUSDT", 49000.0)))
    bars.size == 1 && bars.values.head == Bar(50000, 51000, 49000, 49000, 50000, 3)
  }
}

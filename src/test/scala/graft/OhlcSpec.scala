package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceOps

/** R3 golden + property tests, mirroring the reference's own unit
  * vectors (`/root/reference/tests.py:85-117`) per SURVEY.md §5.
  * Properties use seeded pseudo-random vectors (deterministic runs).
  */
class OhlcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ticksDf(rows: Seq[(String, String, Double)]) =
    rows.toDF("tss", "symbol", "price")
      .selectExpr("CAST(tss AS TIMESTAMP) AS ts", "symbol", "price")

  test("3-tick golden vector (tests.py:103-117)") {
    // prices [50000, 51000, 49000] in ts order within one hour
    val out = ReferenceOps.ohlcAgg(ticksDf(Seq(
      ("2024-01-01 10:00:05", "BTCUSDT", 50000.0),
      ("2024-01-01 10:00:10", "BTCUSDT", 51000.0),
      ("2024-01-01 10:00:15", "BTCUSDT", 49000.0)))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("open_price") == 50000.0)
    assert(r.getAs[Double]("high_price") == 51000.0)
    assert(r.getAs[Double]("low_price") == 49000.0)
    assert(r.getAs[Double]("close_price") == 49000.0)
    assert(r.getAs[Double]("avg_price") == 50000.0)
    assert(r.getAs[Long]("sample_count") == 3L)
    assert(r.getAs[Int]("hour") == 10)
  }

  test("single-tick vector (tests.py:85-100): all metrics = price") {
    val r = ReferenceOps.ohlcAgg(ticksDf(Seq(
      ("2024-01-01 10:00:05", "ETHUSDT", 3000.5))))
      .collect().head
    Seq("open_price", "high_price", "low_price", "close_price", "avg_price")
      .foreach(c => assert(r.getAs[Double](c) == 3000.5))
    assert(r.getAs[Long]("sample_count") == 1L)
  }

  test("empty input => empty output (tests.py:144-149 analog)") {
    assert(ReferenceOps.ohlcAgg(ticksDf(Seq.empty)).count() == 0)
  }

  test("price 0.0 as first tick stays the open (falsy-zero fix, SURVEY §7)") {
    val r = ReferenceOps.ohlcAgg(ticksDf(Seq(
      ("2024-01-01 10:00:05", "X", 0.0),
      ("2024-01-01 10:00:10", "X", 5.0)))).collect().head
    assert(r.getAs[Double]("open_price") == 0.0)
    assert(r.getAs[Double]("close_price") == 5.0)
  }

  test("property: OHLC invariants for random tick sequences") {
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val n = 1 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        (f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d", "S",
          math.rint(rnd.nextDouble() * 1e7) / 100)
      }
      val r = ReferenceOps.ohlcAgg(ticksDf(rows)).collect().head
      val (o, h, l, c) = (r.getAs[Double]("open_price"),
        r.getAs[Double]("high_price"), r.getAs[Double]("low_price"),
        r.getAs[Double]("close_price"))
      assert(l <= o && o <= h)
      assert(l <= c && c <= h)
      assert(o == rows.head._3 && c == rows.last._3)
      assert(r.getAs[Long]("sample_count") == n.toLong)
      val mean = rows.map(_._3).sum / n
      assert(math.abs(r.getAs[Double]("avg_price") - mean) < 1e-6)
    }
  }

  test("property: per-hour OHLC == OHLC of concatenated hours (merge associativity)") {
    val h1 = Seq(("2024-01-01 10:00:05", "S", 10.0), ("2024-01-01 10:30:00", "S", 20.0))
    val h2 = Seq(("2024-01-01 11:00:05", "S", 30.0), ("2024-01-01 11:30:00", "S", 5.0))
    val whole = ReferenceOps.ohlcAgg(ticksDf(h1 ++ h2))
      .orderBy("hour").collect()
    val parts = ReferenceOps.ohlcAgg(ticksDf(h1)).collect() ++
      ReferenceOps.ohlcAgg(ticksDf(h2)).collect()
    assert(whole.map(_.toString).sorted.toSeq ==
      parts.map(_.toString).sorted.toSeq)
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOhlc
import graft.streaming.StreamingOhlc.Tick

/** Streaming twins (SURVEY.md §2.2), driven by MemoryStream: the
  * watermarked tumbling-window OHLC and the other stateful operators —
  * window rows appear once closed, late data is dropped past the
  * watermark.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("S1 streaming_ohlc: closed hour emits one row per symbol; late tick dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Tick]
    val q = StreamingOhlc.hourlyOhlcStream(in.toDF())
      .writeStream.format("memory").queryName("s1_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:00:05"), "BTCUSDT", 50000.0),
        Tick(ts("2024-01-01 10:00:10"), "BTCUSDT", 51000.0),
        Tick(ts("2024-01-01 10:00:15"), "BTCUSDT", 49000.0))
      q.processAllAvailable()
      // hour 10 not closed yet (watermark still inside it): no output
      assert(spark.sql("SELECT * FROM s1_out").count() == 0)
      // an hour-13 tick pushes the watermark past hour 10 + 10 min
      in.addData(Tick(ts("2024-01-01 13:00:00"), "BTCUSDT", 48000.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s1_out ORDER BY date, hour").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[java.sql.Date]("date") == java.sql.Date.valueOf("2024-01-01"))
      assert(r.getAs[Int]("hour") == 10)
      assert(r.getAs[Double]("open_price") == 50000.0)
      assert(r.getAs[Double]("close_price") == 49000.0)
      assert(r.getAs[Double]("high_price") == 51000.0)
      assert(r.getAs[Double]("low_price") == 49000.0)
      assert(r.getAs[Long]("sample_count") == 3L)
      // late tick for the already-closed hour 10: dropped, no new row
      in.addData(Tick(ts("2024-01-01 10:59:59"), "BTCUSDT", 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s1_out").count() == 1)
    } finally q.stop()
  }

  test("S1 streaming_ohlc: two symbols in one hour close into one row each") {
    // each symbol closes into its own row, with the reference's
    // running mean (dataCollector.py:91-94) as avg_price
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in2 = MemoryStream[Tick]
    val q2 = StreamingOhlc.hourlyOhlcStream(in2.toDF())
      .writeStream.format("memory").queryName("s1_two_symbols")
      .outputMode(OutputMode.Append).start()
    try {
      in2.addData(
        Tick(ts("2024-01-01 10:00:05"), "BTCUSDT", 50000.0),
        Tick(ts("2024-01-01 10:00:10"), "BTCUSDT", 51000.0),
        Tick(ts("2024-01-01 10:00:15"), "BTCUSDT", 49000.0),
        Tick(ts("2024-01-01 10:00:20"), "ETHUSDT", 3000.0))
      q2.processAllAvailable()
      assert(spark.sql("SELECT * FROM s1_two_symbols").count() == 0)
      in2.addData(Tick(ts("2024-01-01 13:00:00"), "BTCUSDT", 48000.0))
      q2.processAllAvailable()
      val rows = spark.sql(
        "SELECT * FROM s1_two_symbols ORDER BY symbol").collect()
      assert(rows.length == 2)
      val btc = rows.head
      assert(btc.getAs[String]("symbol") == "BTCUSDT")
      assert(btc.getAs[Int]("hour") == 10)
      assert(btc.getAs[Double]("open_price") == 50000.0)
      assert(btc.getAs[Double]("close_price") == 49000.0)
      assert(btc.getAs[Double]("avg_price") == 50000.0)
      assert(btc.getAs[Long]("sample_count") == 3L)
      val eth = rows(1)
      assert(eth.getAs[String]("symbol") == "ETHUSDT")
      assert(eth.getAs[Long]("sample_count") == 1L)
    } finally q2.stop()
  }

  test("S1 watermark boundary: window stays open 1 us before close, flushes and drops at exactly it") {
    // pins the exact drop/keep rule the reference sidesteps (event
    // time assigned at fetch, dataCollector.py:106, so it can never
    // see late data): a window [10:00, 11:00) accepts late ticks
    // while watermark < 11:00:00 — even 1 us less — and at watermark
    // == 11:00:00.000000 exactly it flushes and every further tick
    // for it is dropped
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Tick]
    val q = StreamingOhlc.hourlyOhlcStream(in.toDF())
      .writeStream.format("memory").queryName("s1b_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Tick(ts("2024-01-01 10:00:05"), "BTCUSDT", 50000.0))
      q.processAllAvailable()
      // advance the watermark to 10:59:59.999999 — 1 us BEFORE the
      // hour-10 window end (delay is 10 min)
      in.addData(Tick(Timestamp.valueOf("2024-01-01 11:09:59.999999"),
        "ETHUSDT", 1.0))
      q.processAllAvailable()
      // a tick 30 min behind the watermark, but inside the still-open
      // window: MUST be aggregated, not dropped (lateness is judged
      // against the window end, not the row timestamp)
      in.addData(Tick(ts("2024-01-01 10:30:00"), "BTCUSDT", 52000.0))
      q.processAllAvailable()
      assert(spark.sql(
        "SELECT * FROM s1b_out WHERE symbol = 'BTCUSDT'").count() == 0,
        "window flushed early: watermark is still 1 us before its end")
      // +1 us: watermark lands EXACTLY on the window end -> flush,
      // with the late 10:30 tick included
      in.addData(Tick(Timestamp.valueOf("2024-01-01 11:10:00.0"),
        "ETHUSDT", 1.0))
      q.processAllAvailable()
      val flushed = spark.sql(
        "SELECT * FROM s1b_out WHERE symbol = 'BTCUSDT'").collect()
      assert(flushed.length == 1, flushed.mkString("; "))
      assert(flushed.head.getAs[java.sql.Date]("date")
        == java.sql.Date.valueOf("2024-01-01"))
      assert(flushed.head.getAs[Int]("hour") == 10)
      assert(flushed.head.getAs[Long]("sample_count") == 2L,
        "the 1-us-early late tick must be inside the flush")
      assert(flushed.head.getAs[Double]("high_price") == 52000.0)
      // any tick for the closed window — even 1 s inside it — is now
      // dropped: the no-late-data analog of the reference
      in.addData(Tick(ts("2024-01-01 10:59:59"), "BTCUSDT", 1.0))
      q.processAllAvailable()
      assert(spark.sql(
        "SELECT * FROM s1b_out WHERE symbol = 'BTCUSDT'").count() == 1,
        "tick for an exactly-closed window must be dropped")
    } finally q.stop()
  }

  test("S1 stream candle == batch ohlcAgg candle on every closed hour (schema and rows)") {
    // 3 hours x 2 symbols, ticks out of order inside each hour, and a
    // straggler that arrives after the next hour's ticks but above the
    // watermark. Prices are multiples of 1/4, so every sum is exact and
    // avg_price cannot depend on the fold order across micro-batches.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.ReferenceOps
    val batches = Seq(
      Seq(Tick(ts("2024-01-01 10:40:00"), "BTC", 101.25),
        Tick(ts("2024-01-01 10:05:00"), "BTC", 100.5),
        Tick(ts("2024-01-01 10:20:00"), "ETH", 20.75),
        Tick(ts("2024-01-01 10:25:00"), "BTC", 103.0),
        Tick(ts("2024-01-01 10:10:00"), "ETH", 21.5)),
      Seq(Tick(ts("2024-01-01 11:08:00"), "BTC", 104.75),
        Tick(ts("2024-01-01 11:05:00"), "ETH", 22.25),
        Tick(ts("2024-01-01 11:01:00"), "BTC", 99.0),
        Tick(ts("2024-01-01 11:03:00"), "ETH", 19.5)),
      // watermark is 10:58: the hour-10 straggler is above it, so it
      // must land in hour 10 although hour-11 ticks came first
      Seq(Tick(ts("2024-01-01 10:59:00"), "BTC", 97.75),
        Tick(ts("2024-01-01 11:30:00"), "ETH", 24.5),
        Tick(ts("2024-01-01 11:25:00"), "BTC", 98.25),
        Tick(ts("2024-01-01 12:50:00"), "BTC", 105.5),
        Tick(ts("2024-01-01 12:02:00"), "ETH", 23.0),
        Tick(ts("2024-01-01 12:15:00"), "BTC", 102.0),
        Tick(ts("2024-01-01 12:45:00"), "ETH", 18.25)),
      // watermark past 13:00 closes hour 12; hour 13 stays open
      Seq(Tick(ts("2024-01-01 13:30:00"), "BTC", 100.0)))
    val in = MemoryStream[Tick]
    val q = StreamingOhlc.hourlyOhlcStream(in.toDF())
      .writeStream.format("memory").queryName("s1_vs_batch")
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val stream = spark.table("s1_vs_batch")
      val batch = ReferenceOps.ohlcAgg(batches.flatten.toDF())
        .where($"hour" < 13)
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.schema.map(f => (f.name, f.dataType))
      assert(shape(stream) == shape(batch),
        s"${stream.schema.simpleString} vs ${batch.schema.simpleString}")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("date", "hour", "symbol").collect().toSeq
      assert(rows(batch).length == 6)
      assert(rows(stream) == rows(batch))
    } finally q.stop()
  }

  test("S4 streaming_dedup: duplicate (symbol, ts) dropped within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Tick]
    val q = StreamingOhlc.dedupStream(in.toDF())
      .writeStream.format("memory").queryName("s4_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:00:00"), "BTCUSDT", 50000.0),
        Tick(ts("2024-01-01 10:00:00"), "BTCUSDT", 50000.0), // dup same batch
        Tick(ts("2024-01-01 10:00:05"), "ETHUSDT", 3000.0))
      q.processAllAvailable()
      in.addData( // dup across batches, still inside watermark
        Tick(ts("2024-01-01 10:00:00"), "BTCUSDT", 50000.0),
        Tick(ts("2024-01-01 10:01:00"), "BTCUSDT", 50100.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s4_out").collect()
      assert(rows.length == 3, rows.mkString("; "))
    } finally q.stop()
  }

  test("S6 streaming_range_join: purchases match same-user clicks from the preceding hour only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Tick]
    val clicks = MemoryStream[Tick]
    def evs(m: MemoryStream[Tick]) = m.toDF()
      .selectExpr("ts", "CAST(substr(symbol, 2) AS BIGINT) AS user_id")
    val q = StreamingOhlc.rangeJoinStream(evs(purchases), evs(clicks))
      .writeStream.format("memory").queryName("s6_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Tick(ts("2024-01-01 09:10:00"), "u1", 0), // 80 min before: outside
        Tick(ts("2024-01-01 09:45:00"), "u1", 0), // 45 min before: inside
        Tick(ts("2024-01-01 10:40:00"), "u1", 0), // after purchase: outside
        Tick(ts("2024-01-01 09:50:00"), "u2", 0)) // other user
      purchases.addData(Tick(ts("2024-01-01 10:30:00"), "u1", 0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s6_out").collect()
      assert(rows.length == 1, rows.mkString("; "))
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(rows.head.getAs[Timestamp]("click_ts") == ts("2024-01-01 09:45:00"))
    } finally q.stop()
  }

  test("S5 polling_ingest: 5 s trigger job lands raw and flushes closed hours end-to-end", SlowTest) {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_poll").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    // one landing line: fetch wall-clock + the raw API payload string
    def line(ts: String, sym: String, price: String): String = {
      val p = s"""{"symbol":"$sym","price":"$price"}""".replace("\"", "\\\"")
      s"""{"fetch_ts":"$ts","payload":"$p"}"""
    }
    val job = graft.streaming.PollingIngest.start(
      spark, landing, s"$tmp/raw", s"$tmp/hourly", s"$tmp/ckpt")
    try {
      Files.writeString(Paths.get(s"$landing/poll1.json"), Seq(
        line("2024-01-01 10:00:05", "BTCUSDT", "50000.0"),
        line("2024-01-01 10:00:10", "BTCUSDT", "51000.0"),
        line("2024-01-01 10:00:10", "BTCUSDT", "51000.0"), // dup fetch
        line("2024-01-01 10:00:15", "BTCUSDT", "49000.0"),
        """{"fetch_ts":"2024-01-01 10:00:20","payload":"not json at all"}""",
        line("2024-01-01 10:00:25", "ETHUSDT", "not-a-price")
      ).mkString("\n"))
      job.processAllAvailable()
      // raw layer: malformed + non-numeric skipped, duplicate dropped
      val raw1 = spark.read.parquet(s"$tmp/raw")
      assert(raw1.count() == 3, "expected 3 deduped well-formed ticks")
      // hour 10 still open (watermark inside it): nothing flushed yet
      // a later poll closes hour 10 (watermark = 13:00 - 10 min)
      Files.writeString(Paths.get(s"$landing/poll2.json"),
        line("2024-01-01 13:00:00", "BTCUSDT", "48000.0"))
      job.processAllAvailable()
      val hourly = spark.read.parquet(s"$tmp/hourly").collect()
      assert(hourly.length == 1, hourly.mkString("; "))
      val r = hourly.head
      assert(r.getAs[Int]("hour") == 10)
      assert(r.getAs[String]("symbol") == "BTCUSDT")
      assert(r.getAs[Double]("open_price") == 50000.0)
      assert(r.getAs[Double]("close_price") == 49000.0)
      assert(r.getAs[Double]("high_price") == 51000.0)
      assert(r.getAs[Long]("sample_count") == 3L)
      assert(spark.read.parquet(s"$tmp/raw").count() == 4)
      // teardown-on-interrupt twin (dataCollector.py:222-226): the
      // registered hook stops both queries; run it directly (after
      // deregistering) to verify the behavior without killing the JVM
      val hook = graft.streaming.PollingIngest.stopOnShutdown(job)
      Runtime.getRuntime.removeShutdownHook(hook)
      hook.run()
      assert(!job.raw.isActive && !job.hourly.isActive)
    } finally job.stop()
  }

  test("S6b outer range join: unmatched purchase emits null click only after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Tick]
    val clicks = MemoryStream[Tick]
    def evs(m: MemoryStream[Tick]) = m.toDF()
      .selectExpr("ts", "CAST(substr(symbol, 2) AS BIGINT) AS user_id")
    val q = StreamingOhlc.rangeJoinStreamOuter(evs(purchases), evs(clicks))
      .writeStream.format("memory").queryName("s6b_out")
      .outputMode(OutputMode.Append).start()
    try {
      purchases.addData(Tick(ts("2024-01-01 10:30:00"), "u1", 0)) // no clicks
      clicks.addData(Tick(ts("2024-01-01 10:30:00"), "u2", 0))
      q.processAllAvailable()
      // match window not yet provably empty: nothing emitted
      assert(spark.sql("SELECT * FROM s6b_out").count() == 0)
      // advance BOTH watermarks far past the interval
      purchases.addData(Tick(ts("2024-01-01 13:00:00"), "u9", 0))
      clicks.addData(Tick(ts("2024-01-01 13:00:00"), "u9", 0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT * FROM s6b_out WHERE user_id = 1").collect()
      assert(rows.length == 1, rows.mkString("; "))
      assert(rows.head.isNullAt(rows.head.fieldIndex("click_ts")),
        "unmatched purchase must carry a null click_ts")
    } finally q.stop()
  }

  test("S7 polling ingest lands closed hours into the reference's JDBC table", SlowTest) {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_poll_jdbc").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val url = s"jdbc:derby:$tmp/db;create=true"
    def line(ts: String, sym: String, price: String): String = {
      val p = s"""{"symbol":"$sym","price":"$price"}""".replace("\"", "\\\"")
      s"""{"fetch_ts":"$ts","payload":"$p"}"""
    }
    val q = graft.streaming.PollingIngest.startJdbcHourly(
      spark, landing, url, s"$tmp/ckpt")
    try {
      Files.writeString(Paths.get(s"$landing/poll1.json"), Seq(
        line("2024-01-01 10:00:05", "BTCUSDT", "50000.0"),
        line("2024-01-01 10:00:10", "BTCUSDT", "51000.0")).mkString("\n"))
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$landing/poll2.json"),
        line("2024-01-01 13:00:00", "BTCUSDT", "48000.0"))
      q.processAllAvailable()
      val back = spark.read.jdbc(url, "downsampled_prices",
        new java.util.Properties).collect()
      assert(back.length == 1, back.mkString("; "))
      val r = back.head
      assert(r.getAs[Int]("hour") == 10)
      assert(r.getAs[Double]("open_price") == 50000.0)
      assert(r.getAs[Double]("close_price") == 51000.0)
      assert(r.getAs[Long]("sample_count") == 2L)
    } finally q.stop()
  }

  test("S7b replayed epochs leave the JDBC sink duplicate-free (retry idempotence)", SlowTest) {
    // foreachBatch offers at-least-once epoch execution: after a crash
    // between sink write and checkpoint commit, the SAME batch id
    // re-executes. Simulate exactly that by deleting the later commit
    // markers (keeping the offsets) and restarting on the same
    // checkpoint — Spark re-runs those epochs, re-invoking the upsert
    // with the same rows. The staged DELETE+INSERT transaction must
    // leave no duplicate (date, hour, symbol) rows.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_poll_retry").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val url = s"jdbc:derby:$tmp/db;create=true"
    def line(ts: String, sym: String, price: String): String = {
      val p = s"""{"symbol":"$sym","price":"$price"}""".replace("\"", "\\\"")
      s"""{"fetch_ts":"$ts","payload":"$p"}"""
    }
    val q1 = graft.streaming.PollingIngest.startJdbcHourly(
      spark, landing, url, s"$tmp/ckpt")
    try {
      Files.writeString(Paths.get(s"$landing/poll1.json"), Seq(
        line("2024-01-01 10:00:05", "BTCUSDT", "50000.0"),
        line("2024-01-01 10:00:10", "BTCUSDT", "51000.0")).mkString("\n"))
      q1.processAllAvailable()
      Files.writeString(Paths.get(s"$landing/poll2.json"),
        line("2024-01-01 13:00:00", "BTCUSDT", "48000.0"))
      q1.processAllAvailable()
    } finally q1.stop()
    // stop() can return before the checkpoint registration is released;
    // a racing restart trips the concurrent-checkpoint-use guard
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.id == q1.id)
        && System.nanoTime() < deadline) Thread.sleep(100)
    val props = new java.util.Properties
    val before = spark.read.jdbc(url, "downsampled_prices", props).collect()
    assert(before.length == 1, s"precondition: ${before.mkString("; ")}")
    // strip the LATEST commit marker (offsets stay): Spark allows at
    // most one uncommitted trailing epoch, and the trailing epoch here
    // is the watermark-eviction batch that emitted the closed hour —
    // poll2's batch advances the watermark at its end, and the
    // follow-up batch evicts + emits, so it is always last. The
    // restart re-executes exactly that epoch, re-invoking the upsert
    // with the already-landed rows.
    val commits = Paths.get(s"$tmp/ckpt/commits")
    val ids = Files.list(commits).iterator().asScala.toList
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong)
    assert(ids.nonEmpty && ids.max > 0, s"expected committed epochs, got $ids")
    Files.delete(commits.resolve(ids.max.toString))
    // Hadoop's ChecksumFileSystem keeps a hidden .N.crc sidecar; if it
    // survives, the replayed epoch's atomic commit rename fails and is
    // misreported as concurrent checkpoint use
    Files.deleteIfExists(commits.resolve(s".${ids.max}.crc"))
    val q2 = graft.streaming.PollingIngest.startJdbcHourly(
      spark, landing, url, s"$tmp/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.jdbc(url, "downsampled_prices", props).collect()
    assert(after.length == 1,
      s"replayed epoch duplicated sink rows: ${after.mkString("; ")}")
    val r = after.head
    assert(r.getAs[Int]("hour") == 10)
    assert(r.getAs[Double]("open_price") == 50000.0)
    assert(r.getAs[Double]("close_price") == 51000.0)
    assert(r.getAs[Long]("sample_count") == 2L)
  }

  test("S7c mid-upsert crash (between stage and swap) converges to exactly-once on restart", SlowTest) {
    // S7b replays a COMPLETED epoch; this kills the sink at the worst
    // point INSIDE one — after the staging table lands, before the
    // delete+insert transaction runs. The crash leaves: stage written,
    // target never created, no checkpoint commit. A restart must
    // replay the epoch, reclaim the leftover stage (overwrite), run
    // the transaction once, and leave exactly the closed hour's rows.
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_poll_crash").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val url = s"jdbc:derby:$tmp/db;create=true"
    def line(ts: String, sym: String, price: String): String = {
      val p = s"""{"symbol":"$sym","price":"$price"}""".replace("\"", "\\\"")
      s"""{"fetch_ts":"$ts","payload":"$p"}"""
    }
    val q1 = graft.streaming.PollingIngest.startJdbcHourly(
      spark, landing, url, s"$tmp/ckpt",
      afterStage = () => throw new RuntimeException("crash between stage and swap"))
    val crashed =
      try {
        Files.writeString(Paths.get(s"$landing/poll1.json"), Seq(
          line("2024-01-01 10:00:05", "BTCUSDT", "50000.0"),
          line("2024-01-01 10:00:10", "BTCUSDT", "51000.0")).mkString("\n"))
        q1.processAllAvailable() // hour 10 open: upsert never invoked
        Files.writeString(Paths.get(s"$landing/poll2.json"),
          line("2024-01-01 13:00:00", "BTCUSDT", "48000.0"))
        q1.processAllAvailable() // eviction epoch → upsert → crash
        false
      } catch { case _: Throwable => true }
      finally q1.stop()
    assert(crashed, "the poisoned upsert should have failed the query")
    val props = new java.util.Properties
    // the stage survived the crash; the target was never created
    // (the transaction — and even the DDL — sits after the kill point)
    assert(spark.read.jdbc(url, "downsampled_prices_stage", props)
      .count() == 1, "stage table should hold the crashed epoch's row")
    assert(intercept[Exception](
      spark.read.jdbc(url, "downsampled_prices", props).collect())
      != null, "target must not exist before the transaction ever ran")
    // wait out the checkpoint registration release (S7b precedent)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.id == q1.id)
        && System.nanoTime() < deadline) Thread.sleep(100)
    // healthy restart on the same checkpoint: the uncommitted epoch
    // replays, the stage overwrite reclaims the leftover, the
    // transaction runs exactly once
    val q2 = graft.streaming.PollingIngest.startJdbcHourly(
      spark, landing, url, s"$tmp/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.jdbc(url, "downsampled_prices", props).collect()
    assert(after.length == 1,
      s"crash+replay must yield exactly-once rows: ${after.mkString("; ")}")
    val r = after.head
    assert(r.getAs[Int]("hour") == 10)
    assert(r.getAs[Double]("open_price") == 50000.0)
    assert(r.getAs[Double]("close_price") == 51000.0)
    assert(r.getAs[Long]("sample_count") == 2L)
    // and the recovered run dropped its stage
    assert(intercept[Exception](
      spark.read.jdbc(url, "downsampled_prices_stage", props).collect())
      != null, "stage should be dropped after the recovered upsert")
  }

  test("S11 streaming_kmv: windowed cardinality — dedup bounded by watermark, sketch O(k)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Tick]
    // Tick(ts, symbol, price) stands in for (ts, event_type, user_id)
    def evs = in.toDF().selectExpr("ts", "symbol AS event_type",
      "CAST(price AS BIGINT) AS user_id")
    // k=4 so BOTH branches run: 'view' gets 6 distinct users (the
    // estimator), 'click' gets 2 (exact below-k)
    val q = graft.streaming.StreamingCardinality.kmvStream(spark, evs, k = 4)
      .writeStream.format("memory").queryName("s11_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:00:05"), "view", 1), // 6 distinct viewers
        Tick(ts("2024-01-01 10:05:00"), "view", 2),
        Tick(ts("2024-01-01 10:10:00"), "view", 3),
        Tick(ts("2024-01-01 10:15:00"), "view", 4),
        Tick(ts("2024-01-01 10:20:00"), "view", 5),
        Tick(ts("2024-01-01 10:25:00"), "view", 6),
        Tick(ts("2024-01-01 10:30:00"), "view", 1), // dups must not
        Tick(ts("2024-01-01 10:35:00"), "view", 2), // inflate anything
        Tick(ts("2024-01-01 10:40:00"), "click", 1),
        Tick(ts("2024-01-01 10:41:00"), "click", 2),
        Tick(ts("2024-01-01 10:42:00"), "click", 2))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s11_out").count() == 0,
        "hour 10 still open: nothing may emit")
      in.addData(Tick(ts("2024-01-01 13:00:00"), "view", 9))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s11_out").collect()
        .map(r => r.getAs[String]("event_type")
          -> r.getAs[Long]("n_users_kmv")).toMap
      // below-k group: exact
      assert(rows("click") == 2L, s"click: ${rows.get("click")}")
      // estimator group: replicate the KMV arithmetic on the known ids
      def h(u: Long): Long =
        ((u % 1048573L) * 2654435761L + (u % 8191L) * 131L) % 2147483647L + 1
      val h4 = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(h).sorted.apply(3)
      val expected =
        math.floor(3.0 * 2147483647.0 / h4.toDouble + 0.5).toLong
      assert(rows("view") == expected,
        s"view: ${rows("view")} vs expected KMV estimate $expected")
    } finally q.stop()
  }

  test("S13 streaming_topk: windowed heavy hitters emit at close, MG-exact below capacity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Tick]
    def evs = in.toDF().selectExpr("ts", "CAST(price AS BIGINT) AS user_id")
    val q = graft.streaming.StreamingTopk
      .topkStream(spark, evs, capacity = 16, n = 3)
      .writeStream.format("memory").queryName("s13_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:00:05"), "x", 7),
        Tick(ts("2024-01-01 10:05:00"), "x", 7),
        Tick(ts("2024-01-01 10:10:00"), "x", 7),
        Tick(ts("2024-01-01 10:15:00"), "x", 8),
        Tick(ts("2024-01-01 10:20:00"), "x", 8),
        Tick(ts("2024-01-01 10:25:00"), "x", 9),
        Tick(ts("2024-01-01 10:30:00"), "x", 10),
        Tick(ts("2024-01-01 10:35:00"), "x", 11))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s13_out").count() == 0,
        "hour 10 still open: nothing may emit")
      // watermark past hour 10 closes the window
      in.addData(Tick(ts("2024-01-01 13:00:00"), "x", 99))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s13_out ORDER BY rank").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
          r.getAs[Int]("rank"), r.getAs[Long]("user_id"),
          r.getAs[Long]("cnt")))
      val w10 = ts("2024-01-01 10:00:00")
      // capacity 16 > 5 distinct ⇒ exact counts, (cnt desc, key asc)
      assert(rows.toSeq == Seq(
        (w10, 1, 7L, 3L), (w10, 2, 8L, 2L), (w10, 3, 9L, 1L)),
        rows.mkString(","))
    } finally q.stop()
  }

  test("S14 streaming_gapfill: grid minutes emit once final, stream == batch on the closed range") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingGapfill
    import graft.streaming.StreamingGapfill.PricedEvent
    val in = MemoryStream[PricedEvent]
    val q = StreamingGapfill.gapfillStream(in.toDS())
      .writeStream.format("memory").queryName("s14_out")
      .outputMode(OutputMode.Append).start()
    def rowsA = spark.sql("SELECT * FROM s14_out WHERE symbol = 'A' ORDER BY m")
      .collect().map(r => (r.getTimestamp(1), r.getDouble(2),
        r.getTimestamp(3)))
    try {
      // two A ticks land; watermark still behind — nothing final yet
      in.addData(
        PricedEvent(ts("2024-01-01 10:00:30"), "A", 100.0, 1L),
        PricedEvent(ts("2024-01-01 10:03:10"), "A", 101.0, 2L))
      q.processAllAvailable()
      assert(rowsA.isEmpty, "watermark has not passed any A minute")
      // a third A tick (within the lateness allowance) extends the
      // grid; the B event pushes the watermark to 10:10 AFTER this
      // batch — still nothing final during it
      in.addData(
        PricedEvent(ts("2024-01-01 10:07:00"), "A", 102.0, 5L),
        PricedEvent(ts("2024-01-01 10:20:00"), "B", 1.0, 3L))
      // the B event moves the watermark to 10:10 after the data
      // batch; the trailing no-data micro-batch then fires the A
      // group's event-time timeout with NO new A rows — the
      // timeout-wake path — and every now-final minute emits, gap
      // minutes filling from the preceding tick
      q.processAllAvailable()
      assert(rowsA.toSeq == Seq(
        (ts("2024-01-01 10:01:00"), 100.0, ts("2024-01-01 10:00:30")),
        (ts("2024-01-01 10:02:00"), 100.0, ts("2024-01-01 10:00:30")),
        (ts("2024-01-01 10:03:00"), 100.0, ts("2024-01-01 10:00:30")),
        (ts("2024-01-01 10:04:00"), 101.0, ts("2024-01-01 10:03:10")),
        (ts("2024-01-01 10:05:00"), 101.0, ts("2024-01-01 10:03:10")),
        (ts("2024-01-01 10:06:00"), 101.0, ts("2024-01-01 10:03:10")),
        (ts("2024-01-01 10:07:00"), 102.0, ts("2024-01-01 10:07:00"))),
        s"after timeout wake: ${rowsA.mkString(",")}")
      // push the watermark far past everything; A's grid must still
      // stop at its last tick minute (10:07), matching the batch cap
      in.addData(PricedEvent(ts("2024-01-01 13:00:00"), "B", 1.0, 6L))
      q.processAllAvailable()
      in.addData(PricedEvent(ts("2024-01-01 13:01:00"), "B", 1.0, 7L))
      q.processAllAvailable()
      val streamed = rowsA
      assert(streamed.map(_._1).last == ts("2024-01-01 10:07:00"),
        s"grid must cap at the last A tick: ${streamed.mkString(",")}")
      // stream == batch: the batch operator over the same A ticks
      val tmp = java.nio.file.Files.createTempDirectory("s14").toString
      try {
        Seq(
          (1L, ts("2024-01-01 10:00:30"), 1L, "A", 100.0, "{}"),
          (2L, ts("2024-01-01 10:03:10"), 1L, "A", 101.0, "{}"),
          (5L, ts("2024-01-01 10:07:00"), 1L, "A", 102.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps.gapfillResample(spark, tmp)
          .collect().map(r => (r.getTimestamp(1), r.getDouble(2),
            r.getTimestamp(3)))
        assert(streamed.toSeq == batch.toSeq,
          s"stream ${streamed.mkString(",")} vs batch ${batch.mkString(",")}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    } finally q.stop()
  }

  test("S15 streaming_ewma: ticks score once final, out-of-order repair, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingEwma
    import graft.streaming.StreamingEwma.PricedTick
    val in = MemoryStream[PricedTick]
    val q = StreamingEwma.ewmaStream(in.toDS())
      .writeStream.format("memory").queryName("s15_out")
      .outputMode(OutputMode.Append).start()
    def rowsA = spark.sql(
      "SELECT * FROM s15_out WHERE symbol = 'A' ORDER BY ts, event_id")
      .collect().map(r => (r.getLong(2), r.getDouble(4)))
    try {
      // three A ticks arrive OUT of event-time order; watermark is
      // still behind them, so nothing may score yet
      in.addData(
        PricedTick(ts("2024-01-01 10:02:00"), "A", 104.0, 3L),
        PricedTick(ts("2024-01-01 10:00:00"), "A", 100.0, 1L),
        PricedTick(ts("2024-01-01 10:01:00"), "A", 102.0, 2L))
      q.processAllAvailable()
      assert(rowsA.isEmpty, "nothing final before the watermark moves")
      // a B tick drives the watermark past every A tick (10:20 - 10m
      // lateness = 10:10); the trailing micro-batch fires A's timeout
      // and the buffer drains IN EVENT-TIME ORDER despite arrival order
      in.addData(PricedTick(ts("2024-01-01 10:20:00"), "B", 1.0, 9L))
      q.processAllAvailable()
      val streamed = rowsA
      assert(streamed.map(_._1).toSeq == Seq(1L, 2L, 3L), "event-time order")
      // first tick smooths to itself; later ticks match the dyadic fold
      assert(streamed(0)._2 == 100.0)
      assert(streamed(1)._2 ==
        math.floor((102.0 * 0.5 + 100.0 * 0.25) / 0.75 * 1e6 + 0.5) / 1e6)
      // stream == batch over the same ticks
      val tmp = java.nio.file.Files.createTempDirectory("s15").toString
      try {
        Seq(
          (1L, ts("2024-01-01 10:00:00"), 1L, "A", 100.0, "{}"),
          (2L, ts("2024-01-01 10:01:00"), 1L, "A", 102.0, "{}"),
          (3L, ts("2024-01-01 10:02:00"), 1L, "A", 104.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps.ewmaSmooth(spark, tmp)
          .collect().map(r => (r.getLong(0), r.getDouble(3)))
        assert(streamed.toSeq == batch.toSeq,
          s"stream ${streamed.mkString(",")} vs batch ${batch.mkString(",")}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    } finally q.stop()
  }

  test("S16 streaming_psi: windowed drift vs static reference, emit at close, batch-recipe-exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDrift
    // static reference: symbol A uniform-ish 1..100
    val history = (1 to 100).map(i => ("A", i.toDouble))
      .toDF("symbol", "price")
    val ref = StreamingDrift.referenceProfile(history)
    try {
      val in = MemoryStream[Tick]
      val q = StreamingDrift.psiStream(
        in.toDF().selectExpr("ts", "symbol", "price"), ref)
        .writeStream.format("memory").queryName("s16_out")
        .outputMode(OutputMode.Append).start()
      try {
        // window 1 (10:00): matches the reference; window 2 (11:00):
        // collapsed into the top decile — must alarm
        val w1 = (1 to 100).map(i =>
          Tick(ts(f"2024-01-01 10:${(i % 50) + 1}%02d:00"), "A",
            i.toDouble))
        val w2 = (1 to 100).map(i =>
          Tick(ts(f"2024-01-01 11:${(i % 50) + 1}%02d:00"), "A",
            95.0 + (i % 5)))
        in.addData(w1: _*)
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM s16_out").count() == 0,
          "window 1 still open (watermark at 10:40)")
        in.addData(w2: _*)
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM s16_out").count() == 1,
          "window 1 closes when window 2's data advances the watermark")
        in.addData(Tick(ts("2024-01-01 14:00:00"), "A", 50.0))
        q.processAllAvailable()
        val rows = spark.sql(
          "SELECT window_start, n, psi FROM s16_out ORDER BY window_start")
          .collect().map(r => (r.getTimestamp(0), r.getLong(1),
            r.getDouble(2)))
        assert(rows.length == 2, rows.mkString(","))
        assert(rows(0)._2 == 100 && rows(1)._2 == 100)
        val (psiStable, psiShifted) = (rows(0)._3, rows(1)._3)
        assert(psiStable < 0.25, s"matching window must not alarm: $psiStable")
        assert(psiShifted > 1.0, s"collapsed window must alarm: $psiShifted")
        // exact recompute of the shifted window with the batch recipe
        val refRow = ref.collect().head
        val bs = refRow.getSeq[Double](1)
        val ps = (1 to 10).map(b => refRow.getDouble(1 + b))
        val counts = Array.fill(10)(0L)
        w2.foreach { t =>
          counts(bs.count(t.price > _)) += 1
        }
        val expected = (1 to 10).map { b =>
          val qb = math.floor((counts(b - 1) + 1).toDouble / 110.0 * 1e6
            + 0.5) / 1e6
          val ratio = math.floor(qb / ps(b - 1) * 1e6 + 0.5) / 1e6
          math.floor((qb - ps(b - 1)) * math.log(ratio) * 1e6 + 0.5).toLong
        }.sum
        assert(psiShifted ==
          math.floor(expected.toDouble / 1e6 * 1e6 + 0.5) / 1e6,
          "bit-exact vs the batch recipe")
      } finally q.stop()
    } finally { ref.unpersist(); () }
  }

  test("S8 streaming_similarity: probe window closes with the exact ranked top-k") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingSimilarity
    import graft.streaming.StreamingSimilarity.Probe
    def axis(dims: (Int, Float)*): Array[Float] = {
      val v = Array.fill(8)(0.0f); dims.foreach { case (i, x) => v(i) = x }; v
    }
    // corpus with hand-rankable geometry against an e0 probe:
    // v1 = e0 (cos 1), v2 = (e0+e1)/√2 (cos ≈ 0.7071), v3 = e1 (cos 0)
    val corpus = Seq(
      (1L, axis(0 -> 1.0f)),
      (2L, axis(0 -> 0.70710678f, 1 -> 0.70710678f)),
      (3L, axis(1 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[Probe]
    val q = StreamingSimilarity.topkStream(spark, in.toDF(), corpus, k = 2)
      .writeStream.format("memory").queryName("s8_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Probe(ts("2024-01-01 10:00:05"), 100L, axis(0 -> 1.0f)))
      q.processAllAvailable()
      // probe's window still open: nothing emitted yet
      assert(spark.sql("SELECT * FROM s8_out").count() == 0)
      // a later probe advances the watermark past the window close
      in.addData(Probe(ts("2024-01-01 13:00:00"), 101L, axis(1 -> 1.0f)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s8_out").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[java.sql.Timestamp]("window_start")
        == ts("2024-01-01 10:00:00"))
      assert(r.getAs[Long]("probe_id") == 100L)
      val topk = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getLong(0), x.getDouble(1)))
      // k=2 of 3: exact ranking, integer-exact quantized scores
      assert(topk == Seq((1L, 1.0), (2L, 0.707107)))
    } finally q.stop()
  }

  test("S9 streaming_decontaminate: only docs sharing a benchmark 8-gram emit, on window close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDecontaminate
    // benchmark: one doc of tokens b1..b12 (5 distinct 8-grams)
    val benchmark = Seq(
      (1 to 12).map(i => s"b$i").mkString(" ")).toDF("text")
    val in = MemoryStream[StreamingSpec.Doc]
    val q = StreamingDecontaminate.contaminationStream(in.toDF(), benchmark)
      .writeStream.format("memory").queryName("s9_out")
      .outputMode(OutputMode.Append).start()
    try {
      // doc 10: contains benchmark tokens b3..b10 (exactly ONE shared
      // 8-gram) padded by non-benchmark tokens; doc 11: same length,
      // no overlap; doc 12: a verbatim benchmark copy (all 5 grams)
      in.addData(
        StreamingSpec.Doc(ts("2024-01-01 10:00:05"), 10L,
          "x1 x2 " + (3 to 10).map(i => s"b$i").mkString(" ") + " x3 x4"),
        StreamingSpec.Doc(ts("2024-01-01 10:00:06"), 11L,
          (1 to 12).map(i => s"y$i").mkString(" ")),
        StreamingSpec.Doc(ts("2024-01-01 10:00:07"), 12L,
          (1 to 12).map(i => s"b$i").mkString(" ")))
      q.processAllAvailable()
      // window still open — nothing emitted
      assert(spark.sql("SELECT * FROM s9_out").count() == 0)
      // even a sub-8-token doc advances the watermark (the short-doc
      // guard is inside the shingle expression, NOT a where() that
      // Catalyst would push below the watermark node)
      in.addData(StreamingSpec.Doc(ts("2024-01-01 13:00:00"), 99L, "z z"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, n_shared_grams FROM s9_out")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // clean doc 11 emits NO row; doc 10 one gram; doc 12 all five
      assert(rows == Map(10L -> 1L, 12L -> 5L), rows.toString)
    } finally q.stop()
  }

  test("S17 streaming_cms: probe estimates emit at close, one-sided, batch-recipe-exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingFreq
    val probes = Seq("alpha", "beta", "missing")
    val in = MemoryStream[StreamingSpec.Doc]
    val q = StreamingFreq.cmsStream(spark, in.toDF(), probes)
      .writeStream.format("memory").queryName("s17_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        StreamingSpec.Doc(ts("2024-01-01 10:00:05"), 1L,
          "alpha beta alpha gamma delta"),
        StreamingSpec.Doc(ts("2024-01-01 10:20:00"), 2L,
          "beta beta epsilon alpha zeta"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s17_out").count() == 0,
        "window still open")
      in.addData(StreamingSpec.Doc(ts("2024-01-01 13:00:00"), 3L, "x y"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT token, exact_n, est_n, overcount FROM s17_out").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(rows.keySet == probes.toSet)
      assert(rows("alpha")._1 == 3L && rows("beta")._1 == 3L
        && rows("missing")._1 == 0L)
      // CMS never undercounts, overcount is the difference
      rows.values.foreach { case (exact, est, over) =>
        assert(est >= exact && over == est - exact)
      }
      // bit-exact vs the batch CMS recipe over the closed window
      val toks = Seq("alpha", "beta", "alpha", "gamma", "delta",
        "beta", "beta", "epsilon", "alpha", "zeta")
      val p = 1000000007L
      val as = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
      val bs = Seq(1L, 7L, 31L, 127L)
      def th(t: String): Long =
        graft.functions.PortableTokenHash.computeOne(t) % p
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      toks.foreach { t =>
        as.indices.foreach { r =>
          val c = ((th(t) * as(r) + bs(r)) % p) % 1024
          cells((r, c)) = cells.getOrElse((r, c), 0L) + 1
        }
      }
      probes.foreach { t =>
        val want = as.indices
          .map(r => cells.getOrElse((r, ((th(t) * as(r) + bs(r)) % p) % 1024), 0L))
          .min
        assert(rows(t)._2 == want, s"probe $t estimate")
      }
    } finally q.stop()
  }

  test("S10 streaming_anomalies: 3σ tick flagged immediately, flat symbols never flag") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingAnomalies
    import org.apache.spark.sql.functions.col
    // history: BTC prices 90..110 step 5 (μ=100, population σ=√50
    // ≈ 7.07); FLAT constant 0.1 —
    // the cancellation repro: double-form variance of five 0.1s rounds
    // to -1.4e-18 ⇒ σ = NaN, and NaN > 0.0 is TRUE in Spark, so the
    // old guard passed and flagged every FLAT tick. The decimal-exact
    // numerator makes σ exactly 0.0 and the guard sound.
    val history = ((Seq(90.0, 95.0, 100.0, 105.0, 110.0).map("BTC" -> _))
      ++ Seq.fill(5)("FLAT" -> 0.1)).toDF("symbol", "price")
    val stats = StreamingAnomalies.symbolStats(history)
    assert(stats.where(col("symbol") === "FLAT")
      .head().getAs[Double]("sigma") == 0.0)
    val in = MemoryStream[Tick]
    val q = StreamingAnomalies
      .anomalyStream(in.toDF().selectExpr("ts", "symbol", "price"), stats)
      .writeStream.format("memory").queryName("s10_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:00:00"), "BTC", 101.0),  // |z| ≈ 0.14
        Tick(ts("2024-01-01 10:00:05"), "BTC", 400.0),  // |z| ≈ 42 → flag
        Tick(ts("2024-01-01 10:00:10"), "FLAT", 9999.0), // σ=0 → never
        // unknown symbol: unscored by contract (inner join) — the
        // coverage gap the scaladoc tells deployments to alarm on
        Tick(ts("2024-01-01 10:00:15"), "NEWCOIN", 1e9))
      q.processAllAvailable()
      // stateless: emitted in the SAME micro-batch, no watermark wait
      val rows = spark.sql("SELECT symbol, price, z FROM s10_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "BTC"
        && rows.head.getDouble(1) == 400.0
        && rows.head.getDouble(2) > 3.0)
    } finally q.stop()
  }

  test("S12 streaming_mixture: stream verdicts == batch mixture, unknown source dropped, replay stable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingMixture
    import StreamingSpec.MixDoc
    // weights from the static sf0.001 reference corpus — the batch
    // operator's decisions over the same corpus are the ground truth
    val weights = StreamingMixture.mixtureWeights(
      graft.engine.Tables.documents(spark, TestSpark.sf0001))
    val batchKept = graft.operators.LlmTextOps
      .mixtureSample(spark, TestSpark.sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val srcOf = graft.engine.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // stream the first 40 corpus docs + one from a source the
    // reference corpus has never seen
    val streamed = (0L until 40L).map(id =>
      MixDoc(ts("2024-01-01 10:00:05"), id, srcOf(id)))
    val in = MemoryStream[MixDoc]
    val q = StreamingMixture.mixtureStream(in.toDF(), weights)
      .writeStream.format("memory").queryName("s12_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(streamed: _*)
      in.addData(MixDoc(ts("2024-01-01 10:00:06"), 99999L, "srcUNKNOWN"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM s12_out")
        .collect().map(_.getLong(0)).toSet
      // verdict-for-verdict agreement with the batch gate, stateless
      // same-micro-batch emission
      assert(got == batchKept.intersect((0L until 40L).toSet))
      assert(got.nonEmpty && got.size < 40, "gate must both keep and drop")
      assert(!got.contains(99999L), "unknown source must be dropped")
      // replay: re-adding the same micro-batch re-emits identical
      // verdicts (append-stable membership — no dedup state needed
      // for exactly-once OUTPUT SEMANTICS per doc)
      in.addData(streamed.take(10): _*)
      q.processAllAvailable()
      val replay = spark.sql("SELECT doc_id, COUNT(*) AS c FROM s12_out " +
        "GROUP BY doc_id HAVING COUNT(*) > 1")
        .collect().map(_.getLong(0)).toSet
      assert(replay == batchKept.intersect((0L until 10L).toSet),
        "replayed docs emit the same verdicts, and only them")
    } finally {
      q.stop(); weights.unpersist(); ()
    }
  }

  test("S18 streaming_funnel: steps settle below the watermark, out-of-order repair, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    val in = MemoryStream[FunnelEvent]
    val q = StreamingFunnel.funnelStream(in.toDS())
      .writeStream.format("memory").queryName("s18_out")
      .outputMode(OutputMode.Append).start()
    def rows = spark.sql(
      "SELECT user_id, step, ts FROM s18_out ORDER BY user_id, step")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2)))
    try {
      // user 1's click arrives BEFORE its view (out of event-time
      // order); user 2 clicks with no prior view; nothing is final
      // while the watermark sits behind them
      in.addData(
        FunnelEvent(ts("2024-01-01 10:05:00"), 1L, "click", 2L),
        FunnelEvent(ts("2024-01-01 10:00:00"), 1L, "view", 1L),
        FunnelEvent(ts("2024-01-01 10:01:00"), 2L, "click", 3L),
        FunnelEvent(ts("2024-01-01 10:06:00"), 1L, "purchase", 4L))
      q.processAllAvailable()
      assert(rows.isEmpty, "nothing settles before the watermark moves")
      // a user-3 event at 11:00 drives the watermark to 10:50: the
      // buffers drain in event-time order — the view is folded FIRST
      // even though the click arrived first, so the click qualifies
      in.addData(FunnelEvent(ts("2024-01-01 11:00:00"), 3L, "view", 9L))
      q.processAllAvailable()
      val settled = rows
      assert(settled.map(t => (t._1, t._2)).toSeq ==
        Seq((1L, 1), (1L, 2), (1L, 3)),
        s"user 1 completes all three steps, user 2 none: ${settled.mkString(",")}")
      // stream histogram == batch funnel_steps on the same closed data
      val tmp = java.nio.file.Files.createTempDirectory("s18").toString
      try {
        Seq(
          (2L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
          (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
          (3L, ts("2024-01-01 10:01:00"), 2L, "click", 1.0, "{}"),
          (4L, ts("2024-01-01 10:06:00"), 1L, "purchase", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps.funnelSteps(spark, tmp)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // batch: user 1 completed 3 steps, user 2 completed 0
        assert(batch == Map(3L -> 1L, 0L -> 1L))
        val streamMax = settled.groupBy(_._1).view
          .mapValues(_.map(_._2).max).toMap
        assert(streamMax == Map(1L -> 3), "stream agrees: only user 1 progressed")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      // a LATE view for user 2 (behind the watermark) is dropped by
      // the engine before the stateful operator — it cannot resurrect
      // the already-folded click, so settled steps never rewrite
      in.addData(FunnelEvent(ts("2024-01-01 10:00:30"), 2L, "view", 10L))
      q.processAllAvailable()
      in.addData(FunnelEvent(ts("2024-01-01 12:00:00"), 3L, "view", 11L))
      q.processAllAvailable()
      assert(rows.filter(_._1 == 2L).isEmpty,
        "the watermark-late view is dropped; user 2 stays at zero steps")
    } finally q.stop()
  }

  test("S19 streaming_attribution: purchases settle with the batch verdict, equal-ts click rejected") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingAttribution
    import graft.streaming.StreamingAttribution.TouchEvent
    val in = MemoryStream[TouchEvent]
    val q = StreamingAttribution.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("s19_out")
      .outputMode(OutputMode.Append).start()
    def rows = spark.sql(
      "SELECT user_id, purchase_event_id, attributed, gap_us FROM s19_out " +
        "ORDER BY user_id, purchase_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3)))
    try {
      // user 1: click then purchase 5 min later (attributed, arrives
      // out of order); user 2: purchase with a click at the SAME
      // timestamp (strict < rejects it); user 3: purchase 25 h after
      // its click (outside the 24 h lookback)
      in.addData(
        TouchEvent(ts("2024-01-01 10:05:00"), 1L, "purchase", 2L),
        TouchEvent(ts("2024-01-01 10:00:00"), 1L, "click", 1L),
        TouchEvent(ts("2024-01-01 10:00:00"), 2L, "click", 3L),
        TouchEvent(ts("2024-01-01 10:00:00"), 2L, "purchase", 4L),
        TouchEvent(ts("2024-01-01 09:00:00"), 3L, "click", 5L))
      q.processAllAvailable()
      assert(rows.isEmpty, "nothing settles before the watermark moves")
      in.addData(TouchEvent(ts("2024-01-02 10:30:00"), 3L, "purchase", 6L))
      q.processAllAvailable()
      // push the watermark past user 3's purchase too
      in.addData(TouchEvent(ts("2024-01-02 12:00:00"), 9L, "view", 7L))
      q.processAllAvailable()
      val settled = rows
      assert(settled.length == 3, s"three purchases settle: ${settled.mkString(",")}")
      val byId = settled.map(t => t._2 -> t).toMap
      assert(byId(2L)._3 && byId(2L)._4 == 5L * 60L * 1000000L,
        "user 1 attributed with a 5 min gap")
      assert(!byId(4L)._3, "equal-timestamp click is strictly before? no — rejected")
      assert(!byId(6L)._3, "25 h gap is outside the lookback")
      // stream verdicts == the batch operator's per-purchase logic on
      // the same closed data
      val tmp = java.nio.file.Files.createTempDirectory("s19").toString
      try {
        Seq(
          (2L, ts("2024-01-01 10:05:00"), 1L, "purchase", 1.0, "{}"),
          (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
          (3L, ts("2024-01-01 10:00:00"), 2L, "click", 1.0, "{}"),
          (4L, ts("2024-01-01 10:00:00"), 2L, "purchase", 1.0, "{}"),
          (5L, ts("2024-01-01 09:00:00"), 3L, "click", 1.0, "{}"),
          (6L, ts("2024-01-02 10:30:00"), 3L, "purchase", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps
          .attributionLastTouch(spark, tmp).collect()
        val nAttr = batch.map(_.getLong(2)).sum
        val nDirect = batch.map(_.getLong(3)).sum
        assert(nAttr == settled.count(_._3).toLong, "attributed totals agree")
        assert(nDirect == settled.count(!_._3).toLong, "direct totals agree")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    } finally q.stop()
  }

  // ---- chaos restarts (the S7c recipe applied to the stateful r7
  // operators): kill the query with UNPROCESSED input pending, restart
  // a new query on the same checkpoint + FILE sink (the memory sink
  // refuses checkpoint recovery; the parquet sink's _spark_metadata
  // log is the real exactly-once contract), and prove (a) the per-key
  // state (grid cursor + carried fill, ewma fold, funnel progress,
  // click registry) is RESTORED — the post-restart emissions need
  // facts only the checkpoint holds, since the rows that created them
  // were consumed pre-kill — and (b) emissions land exactly once
  // across the restart (replay-idempotence beyond single-run equality).

  test("S14r streaming_gapfill: kill + checkpoint restart — carried fill survives, minutes exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingGapfill
    import graft.streaming.StreamingGapfill.PricedEvent
    val in = MemoryStream[PricedEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("s14r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s14r_out").toString
    def start() = StreamingGapfill.gapfillStream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def minutes() = spark.read.parquet(out).where("symbol = 'A'")
      .orderBy("m")
      .collect().map(r => (r.getAs[Timestamp]("m"),
        r.getAs[Double]("price"), r.getAs[Timestamp]("last_tick_ts")))
    val q1 = start()
    try {
      in.addData(
        PricedEvent(ts("2024-01-01 10:00:30"), "A", 100.0, 1L),
        PricedEvent(ts("2024-01-01 10:03:10"), "A", 101.0, 2L))
      q1.processAllAvailable()
      in.addData(PricedEvent(ts("2024-01-01 10:20:00"), "B", 1.0, 3L))
      q1.processAllAvailable() // watermark 10:10 → minutes 10:01..10:03 commit
      assert(minutes().length == 3, "first run settles 3 minutes")
      // UNPROCESSED input lands, then the query dies
      in.addData(PricedEvent(ts("2024-01-01 10:15:00"), "A", 103.0, 4L))
    } finally q1.stop()
    val a = minutes()
    val q2 = start()
    try {
      q2.processAllAvailable() // replays the pending tick vs restored state
      in.addData(PricedEvent(ts("2024-01-01 10:40:00"), "B", 1.0, 6L))
      q2.processAllAvailable() // watermark 10:30 → 10:04..10:15 settle
      val b = minutes().filterNot(a.contains)
      // slots 10:04..10:14 fill from tick 2 (101.0 @ 10:03:10) — that
      // tick was consumed BEFORE the kill, so only restored state can
      // produce these rows
      assert(b.headOption.map(_._1).contains(ts("2024-01-01 10:04:00")) &&
        b.headOption.exists(_._2 == 101.0),
        s"restored carry must fill 10:04 from the pre-kill tick: ${b.mkString(",")}")
      val combined = minutes()
      assert(combined.map(_._1).distinct.length == combined.length,
        s"no minute may emit twice across the restart: ${combined.mkString(",")}")
      // combined == the batch operator over the same three A ticks
      val tmp = java.nio.file.Files.createTempDirectory("s14r").toString
      try {
        Seq(
          (1L, ts("2024-01-01 10:00:30"), 1L, "A", 100.0, "{}"),
          (2L, ts("2024-01-01 10:03:10"), 1L, "A", 101.0, "{}"),
          (4L, ts("2024-01-01 10:15:00"), 1L, "A", 103.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps.gapfillResample(spark, tmp)
          .collect().map(r => (r.getTimestamp(1), r.getDouble(2),
            r.getTimestamp(3)))
        assert(combined.toSeq == batch.toSeq,
          s"stream-across-restart ${combined.mkString(",")} vs batch ${batch.mkString(",")}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S15r streaming_ewma: kill + checkpoint restart — the fold value survives, scores exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingEwma
    import graft.streaming.StreamingEwma.PricedTick
    val in = MemoryStream[PricedTick]
    val ckpt = java.nio.file.Files.createTempDirectory("s15r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s15r_out").toString
    def start() = StreamingEwma.ewmaStream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def scores() = spark.read.parquet(out).where("symbol = 'A'")
      .orderBy("ts", "event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("ewma")))
    val q1 = start()
    try {
      in.addData(
        PricedTick(ts("2024-01-01 10:00:00"), "A", 100.0, 1L),
        PricedTick(ts("2024-01-01 10:01:00"), "A", 102.0, 2L))
      q1.processAllAvailable()
      in.addData(PricedTick(ts("2024-01-01 10:20:00"), "B", 1.0, 9L))
      q1.processAllAvailable() // watermark 10:10 → ticks 1,2 score
      assert(scores().map(_._1).toSeq == Seq(1L, 2L))
      in.addData(PricedTick(ts("2024-01-01 10:15:00"), "A", 104.0, 3L))
    } finally q1.stop()
    val a = scores()
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(PricedTick(ts("2024-01-01 10:40:00"), "B", 1.0, 10L))
      q2.processAllAvailable() // watermark 10:30 → tick 3 scores
      val b = scores().filterNot(a.contains)
      assert(b.map(_._1).toSeq == Seq(3L),
        s"only the post-kill tick settles in run 2: ${b.mkString(",")}")
      val combined = scores()
      assert(combined.map(_._1).distinct.length == combined.length,
        "no tick may score twice across the restart")
      // tick 3's score folds ticks 1 and 2 — consumed pre-kill, so it
      // is correct ONLY if the dyadic fold was restored. Compare the
      // whole curve against the batch operator.
      val tmp = java.nio.file.Files.createTempDirectory("s15r").toString
      try {
        Seq(
          (1L, ts("2024-01-01 10:00:00"), 1L, "A", 100.0, "{}"),
          (2L, ts("2024-01-01 10:01:00"), 1L, "A", 102.0, "{}"),
          (3L, ts("2024-01-01 10:15:00"), 1L, "A", 104.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$tmp/events.parquet")
        val batch = graft.operators.AnalyticOps.ewmaSmooth(spark, tmp)
          .collect().map(r => (r.getLong(0), r.getDouble(3)))
        assert(combined.toSeq == batch.toSeq,
          s"stream-across-restart ${combined.mkString(",")} vs batch ${batch.mkString(",")}")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S18r streaming_funnel: kill + checkpoint restart — step progress survives, steps exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    val in = MemoryStream[FunnelEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("s18r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s18r_out").toString
    def start() = StreamingFunnel.funnelStream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def steps() = spark.read.parquet(out)
      .orderBy("user_id", "step")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step")))
    val q1 = start()
    try {
      // user 1: view + click (click arrives first); user 2: click only
      in.addData(
        FunnelEvent(ts("2024-01-01 10:05:00"), 1L, "click", 2L),
        FunnelEvent(ts("2024-01-01 10:00:00"), 1L, "view", 1L),
        FunnelEvent(ts("2024-01-01 10:01:00"), 2L, "click", 3L))
      q1.processAllAvailable()
      in.addData(FunnelEvent(ts("2024-01-01 11:00:00"), 3L, "view", 9L))
      q1.processAllAvailable() // watermark 10:50 → user 1 steps 1,2 settle
      assert(steps().toSeq == Seq((1L, 1), (1L, 2)))
      // the purchase lands unprocessed; the query dies
      in.addData(FunnelEvent(ts("2024-01-01 11:30:00"), 1L, "purchase", 4L))
    } finally q1.stop()
    val a = steps()
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(FunnelEvent(ts("2024-01-01 13:00:00"), 3L, "view", 11L))
      q2.processAllAvailable() // watermark 12:50 → the purchase settles
      val b = steps().filterNot(a.contains)
      // step 3 requires knowing user 1 already passed steps 1 and 2 —
      // those events were consumed pre-kill (user 3's own first view,
      // the watermark pusher, settles as its step 1 alongside)
      assert(b.toSeq == Seq((1L, 3), (3L, 1)),
        s"restored progress must qualify the purchase as step 3: ${b.mkString(",")}")
      val combined = steps()
      assert(combined.distinct.length == combined.length,
        "no step may settle twice across the restart")
      assert(combined.filter(_._1 == 1L).sorted.toSeq ==
        Seq((1L, 1), (1L, 2), (1L, 3)) && !combined.exists(_._1 == 2L),
        s"user 1 completes the funnel exactly once; user 2 never progresses: ${combined.mkString(",")}")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S19r streaming_attribution: kill + checkpoint restart — click registry survives, verdicts exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingAttribution
    import graft.streaming.StreamingAttribution.TouchEvent
    val in = MemoryStream[TouchEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("s19r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s19r_out").toString
    def start() = StreamingAttribution.attributionStream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def verdicts() = spark.read.parquet(out)
      .orderBy("user_id", "purchase_event_id")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("purchase_event_id"), r.getAs[Boolean]("attributed"),
        r.getAs[Long]("gap_us")))
    val q1 = start()
    try {
      // user 1's click is consumed and committed; no purchase yet
      in.addData(TouchEvent(ts("2024-01-01 10:00:00"), 1L, "click", 1L))
      q1.processAllAvailable()
      in.addData(TouchEvent(ts("2024-01-01 12:00:00"), 9L, "view", 7L))
      q1.processAllAvailable() // watermark 11:50; nothing to settle
      assert(verdicts().isEmpty)
      // both purchases land unprocessed; the query dies
      in.addData(
        TouchEvent(ts("2024-01-01 12:30:00"), 1L, "purchase", 2L),
        TouchEvent(ts("2024-01-01 12:45:00"), 2L, "purchase", 4L))
    } finally q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(TouchEvent(ts("2024-01-02 14:00:00"), 9L, "view", 8L))
      q2.processAllAvailable() // watermark past both purchases
      val combined = verdicts()
      assert(combined.map(_._2).distinct.length == combined.length,
        "no purchase may settle twice across the restart")
      val byId = combined.map(t => t._2 -> t).toMap
      // attribution of purchase 2 needs the 10:00 click — consumed and
      // committed BEFORE the kill, recoverable only from the registry
      assert(byId.keySet == Set(2L, 4L), s"both purchases settle: ${combined.mkString(",")}")
      assert(byId(2L)._3 && byId(2L)._4 == 150L * 60L * 1000000L,
        s"restored click registry attributes purchase 2 at a 2.5 h gap: ${byId(2L)}")
      assert(!byId(4L)._3, "user 2 has no click anywhere: direct")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S20 streaming_benford: live digit screen emits at close, alarms on a bent feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingBenford
    val in = MemoryStream[(Timestamp, Double)]
    val q = StreamingBenford.benfordStream(
      in.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("s20_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window 1 (10:00): a roughly-Benford feed — leading digit d
      // appears ~30/18/12/10/8/7/6/5/5 times; window 2 (11:00): every
      // value leads with 9 — maximally bent
      val counts = Seq(1 -> 30, 2 -> 18, 3 -> 12, 4 -> 10, 5 -> 8,
        6 -> 7, 7 -> 6, 8 -> 5, 9 -> 5)
      val w1 = counts.flatMap { case (dg, n) =>
        (1 to n).map(i =>
          (ts(f"2024-01-01 10:${i % 50}%02d:00"), dg * 10.0 + (i % 7)))
      }
      val w2 = (1 to 80).map(i =>
        (ts(f"2024-01-01 11:${i % 50}%02d:00"), 900.0 + (i % 90)))
      in.addData(w1: _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s20_out").count() == 0,
        "window 1 still open")
      in.addData(w2: _*)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, n, max_abs_deviation, alarm FROM s20_out " +
          "ORDER BY window_start").collect()
      assert(rows.length == 2, s"two closed windows: ${rows.length}")
      val (okWin, badWin) = (rows(0), rows(1))
      assert(okWin.getLong(1) == w1.length.toLong)
      assert(!okWin.getBoolean(3), "near-Benford window must not alarm")
      assert(badWin.getLong(1) == 80L)
      assert(badWin.getBoolean(3), "all-9s window must alarm")
      // the bad window's worst deviation is digit 9's: |1.0 - 0.045757|
      assert(badWin.getDouble(2) ==
        math.floor((1.0 - 0.045757) * 1e6 + 0.5) / 1e6)
      // batch recipe agreement on the closed window-1 data
      val batchDev = {
        val digits = w1.map(_._2).map(v =>
          math.floor(v * 100.0 + 0.5).toLong).filter(_ >= 1).map { vq =>
          var x = vq; while (x >= 10) x /= 10; x.toInt
        }
        val n = digits.length.toDouble
        val shares = graft.operators.AnalyticOps.benfordShares.toMap
        (1 to 9).map { dg =>
          val obs = math.floor(digits.count(_ == dg) / n * 1e6 + 0.5) / 1e6
          math.abs(math.floor((obs - shares(dg)) * 1e6 + 0.5) / 1e6)
        }.max
      }
      assert(okWin.getDouble(2) == batchDev, "stream == batch digit recipe")
    } finally q.stop()
  }

  test("S21 streaming_vwap: closed cells emit the batch integer-fold VWAP; volume-less ticks still advance the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingVwap
    val in = MemoryStream[(Timestamp, String, Double, String)]
    val q = StreamingVwap.vwapStream(
      in.toDF().toDF("ts", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("s21_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:05"), "BTC", 100.00, """{"k": 2}"""),
        (ts("2024-01-01 10:10:00"), "BTC", 101.50, """{"k": 3}"""),
        // zero volume and missing volume: excluded from the folds,
        // but the rows still flow through the watermark operator
        (ts("2024-01-01 10:20:00"), "BTC", 999.99, """{"k": 0}"""),
        (ts("2024-01-01 10:30:00"), "BTC", 888.88, """{"q": 5}"""),
        (ts("2024-01-01 10:05:00"), "ETH", 50.25, """{"k": 4}"""))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s21_out").count() == 0,
        "hour 10 still open")
      // the watermark pusher itself has NO volume — if exclusion
      // were a row filter it would be pushed below the watermark
      // operator and hour 10 would never close
      in.addData((ts("2024-01-01 13:00:00"), "BTC", 1.0, "{}"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT symbol, n_ticks, total_vol, vwap FROM s21_out " +
          "ORDER BY symbol").collect()
      assert(rows.length == 2, s"two closed cells: ${rows.length}")
      val btc = rows(0); val eth = rows(1)
      assert(btc.getString(0) == "BTC" && btc.getLong(1) == 2L &&
        btc.getLong(2) == 5L)
      // pv = 10000·2 + 10150·3 = 50450 → 50450/(100·5) = 100.9
      assert(btc.getDouble(3) ==
        math.floor(50450.0 / 500.0 * 1e6 + 0.5) / 1e6)
      assert(eth.getString(0) == "ETH" && eth.getLong(1) == 1L &&
        eth.getLong(2) == 4L)
      assert(eth.getDouble(3) ==
        math.floor(20100.0 / 400.0 * 1e6 + 0.5) / 1e6)
    } finally q.stop()
  }

  test("S22 streaming_dq: rule counters per closed window; violating rows advance the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDq
    val in = MemoryStream[(Timestamp, Option[Double], String)]
    val q = StreamingDq.dqStream(
      in.toDF().toDF("ts", "value", "props"))
      .writeStream.format("memory").queryName("s22_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:01"), Some(10.0), """{"k": 3}"""),
        (ts("2024-01-01 10:00:02"), None, """{"k": 2}"""),
        (ts("2024-01-01 10:00:03"), Some(-5.0), """{"k": 1}"""),
        (ts("2024-01-01 10:00:04"), Some(7.0), """{"k": 0}"""),
        (ts("2024-01-01 10:00:05"), Some(8.0), """{"q": 9}"""))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s22_out").count() == 0,
        "hour 10 still open")
      // the watermark pusher is itself a violating row (null value):
      // violations must flow through the watermark operator
      in.addData((ts("2024-01-01 13:00:00"), None, "{}"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n_events, null_value, negative_value, bad_volume, clean " +
          "FROM s22_out").collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(r.getLong(0) == 5L)
      assert(r.getLong(1) == 1L, "null value")
      assert(r.getLong(2) == 1L, "negative value")
      assert(r.getLong(3) == 2L, "zero-k and missing-k rows lack volume")
      assert(!r.getBoolean(4))
    } finally q.stop()
  }

  test("S21r streaming_vwap: kill + checkpoint restart — open-cell folds survive, cells exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingVwap
    val in = MemoryStream[(Timestamp, String, Double, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("s21r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s21r_out").toString
    def start() = StreamingVwap.vwapStream(
      in.toDF().toDF("ts", "event_type", "value", "props"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def cells() = spark.read.parquet(out)
      .orderBy("window_start", "symbol")
      .collect().map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[String]("symbol"), r.getAs[Long]("n_ticks"),
        r.getAs[Long]("total_vol"), r.getAs[Double]("vwap")))
    val q1 = start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:05"), "BTC", 100.00, """{"k": 2}"""),
        (ts("2024-01-01 10:05:00"), "ETH", 50.25, """{"k": 4}"""))
      q1.processAllAvailable() // consumed into OPEN hour-10 state
      assert(cells().isEmpty, "hour 10 still open pre-kill")
      // UNPROCESSED tick lands, then the query dies
      in.addData((ts("2024-01-01 10:10:00"), "BTC", 101.50, """{"k": 3}"""))
    } finally q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable() // replayed tick merges with restored fold
      in.addData((ts("2024-01-01 13:00:00"), "BTC", 1.0, "{}"))
      q2.processAllAvailable() // watermark 12:50 → hour 10 closes
      val got = cells()
      // BTC folds the PRE-KILL tick (held only in checkpoint state)
      // with the replayed one: pv = 10000·2 + 10150·3 = 50450 → 100.9;
      // ETH's whole cell predates the kill — pure state restoration
      val h10 = ts("2024-01-01 10:00:00")
      assert(got.toSeq == Seq(
        (h10, "BTC", 2L, 5L, math.floor(50450.0 / 500.0 * 1e6 + 0.5) / 1e6),
        (h10, "ETH", 1L, 4L, math.floor(20100.0 / 400.0 * 1e6 + 0.5) / 1e6)),
        s"restored folds diverged: ${got.mkString(",")}")
      assert(got.map(c => (c._1, c._2)).distinct.length == got.length,
        "no cell may emit twice across the restart")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S22r streaming_dq: kill + checkpoint restart — rule counters survive, windows exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDq
    val in = MemoryStream[(Timestamp, Option[Double], String)]
    val ckpt = java.nio.file.Files.createTempDirectory("s22r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s22r_out").toString
    def start() = StreamingDq.dqStream(
      in.toDF().toDF("ts", "value", "props"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def windows() = spark.read.parquet(out).orderBy("window_start")
      .collect().map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[Long]("n_events"), r.getAs[Long]("null_value"),
        r.getAs[Long]("negative_value"), r.getAs[Long]("bad_volume"),
        r.getAs[Boolean]("clean")))
    val q1 = start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:01"), Some(10.0), """{"k": 3}"""),
        (ts("2024-01-01 10:00:02"), None, """{"k": 2}"""))
      q1.processAllAvailable() // consumed: n=2, null=1 held in state
      assert(windows().isEmpty, "hour 10 still open pre-kill")
      in.addData(
        (ts("2024-01-01 10:00:03"), Some(-5.0), """{"k": 1}"""),
        (ts("2024-01-01 10:00:04"), Some(7.0), """{"k": 0}"""))
    } finally q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable() // replay merges with restored counters
      in.addData((ts("2024-01-01 13:00:00"), None, "{}"))
      q2.processAllAvailable() // hour 10 closes
      in.addData((ts("2024-01-01 16:00:00"), Some(1.0), """{"k": 1}"""))
      q2.processAllAvailable() // hour 13 (built entirely in run 2) closes
      val got = windows()
      assert(got.toSeq == Seq(
        // pre-kill rows live only in the checkpoint: n=4 needs them
        (ts("2024-01-01 10:00:00"), 4L, 1L, 1L, 1L, false),
        (ts("2024-01-01 13:00:00"), 1L, 1L, 0L, 1L, false)),
        s"restored counters diverged: ${got.mkString(",")}")
      assert(got.map(_._1).distinct.length == got.length,
        "no window may emit twice across the restart")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S23 streaming_dedup: first arrival per digest wins within the horizon; state expires past it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import StreamingSpec.Doc
    val in = MemoryStream[Doc]
    val q = StreamingDedup.dedupStream(in.toDS().toDF())
      .writeStream.format("memory").queryName("s23_out")
      .outputMode(OutputMode.Append).start()
    def emitted() = spark.sql("SELECT doc_id FROM s23_out ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    try {
      in.addData(
        Doc(ts("2024-01-01 10:00:00"), 1L, "alpha beta"),
        Doc(ts("2024-01-01 10:00:05"), 2L, "alpha beta"), // dup of 1
        Doc(ts("2024-01-01 10:00:10"), 3L, "gamma delta"))
      q.processAllAvailable()
      assert(emitted() == Seq(1L, 3L),
        "first arrival per digest wins; in-horizon dup dropped")
      // a LATE duplicate still inside the horizon drops too
      in.addData(Doc(ts("2024-01-01 10:01:00"), 4L, "gamma delta"))
      q.processAllAvailable()
      assert(emitted() == Seq(1L, 3L))
      // push the watermark far past the digests' state horizon...
      in.addData(Doc(ts("2024-01-01 12:00:00"), 5L, "unrelated row"))
      q.processAllAvailable()
      // ...then the SAME text re-emits: per-digest state expired (the
      // documented bounded-state trade; the batch ledger reconciles)
      in.addData(Doc(ts("2024-01-01 12:00:01"), 6L, "alpha beta"))
      q.processAllAvailable()
      assert(emitted() == Seq(1L, 3L, 5L, 6L),
        "expired digest re-emits (bounded-state semantics)")
    } finally q.stop()
  }

  test("S23r streaming_dedup: kill + checkpoint restart — digest registry survives, docs exactly once", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import StreamingSpec.Doc
    val in = MemoryStream[Doc]
    val ckpt = java.nio.file.Files.createTempDirectory("s23r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s23r_out").toString
    def start() = StreamingDedup.dedupStream(in.toDS().toDF())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def emitted() = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(_.getLong(1)).toSeq
    val q1 = start()
    try {
      in.addData(Doc(ts("2024-01-01 10:00:00"), 1L, "alpha beta"))
      q1.processAllAvailable() // digest registered pre-kill
      // an UNPROCESSED duplicate of it lands, then the query dies
      in.addData(Doc(ts("2024-01-01 10:00:30"), 2L, "alpha beta"))
    } finally q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the replayed duplicate must be dropped against the RESTORED
      // registry — the row that registered the digest was consumed
      // before the kill, so only checkpoint state can drop doc 2
      in.addData(Doc(ts("2024-01-01 10:01:00"), 3L, "fresh text"))
      q2.processAllAvailable()
      assert(emitted() == Seq(1L, 3L),
        s"restored registry must drop the replayed dup: ${emitted()}")
      assert(emitted().distinct.length == emitted().length,
        "no doc may emit twice across the restart")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S24 streaming_sessions: native session_window merges runs, closes at watermark, exact spans") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingSessions
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamingSessions.sessionStream(
      in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("s24_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        // user 1: two events 10 min apart (one session), then a
        // 40-min gap (new session)
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:10:00"), 1L),
        (ts("2024-01-01 10:50:00"), 1L),
        // user 2: a single event (bounce)
        (ts("2024-01-01 10:05:00"), 2L),
        // user 3: two events 5 min apart, a 40-min gap, then one event
        (ts("2024-01-01 10:00:00"), 3L),
        (ts("2024-01-01 10:05:00"), 3L),
        (ts("2024-01-01 10:45:00"), 3L))
      q.processAllAvailable()
      // watermark after this batch: 10:50 − 10 min = 10:40, which
      // already passes the gap horizon of user 1's first session
      // (ends 10:10 + 30 = 10:40), user 2's (10:35) and user 3's first
      // (10:35) — all three emit; the 10:50 and 10:45 sessions
      // (horizons 11:20 and 11:15) stay open
      assert(spark.sql("SELECT * FROM s24_out").count() == 3,
        "the three passed-horizon sessions emit, the open ones hold")
      // advance event time far past every session's gap horizon
      in.addData((ts("2024-01-01 14:00:00"), 99L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, duration_sec FROM s24_out " +
          "ORDER BY user_id, n_events DESC").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(
        (1L, 2L, 600L), // 10:00-10:10 run merged into one session
        (1L, 1L, 0L),   // the 10:50 event, gap 40 min > 30
        (2L, 1L, 0L),   // bounce
        (3L, 2L, 300L), // 10:00 + 10:05
        (3L, 1L, 0L)),  // 10:45, after the 40-min gap
        s"sessions diverged: $rows")
      val user3End = spark.sql(
        "SELECT session_end FROM s24_out WHERE user_id = 3 AND n_events = 2")
        .collect().map(_.getAs[Timestamp](0)).toSeq
      assert(user3End == Seq(ts("2024-01-01 10:35:00")),
        "a session ends one gap after its last event")
    } finally q.stop()
  }

  test("S24r streaming_sessions: kill + checkpoint restart — open session state survives and merges", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingSessions
    val in = MemoryStream[(Timestamp, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("s24r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s24r_out").toString
    def start() = StreamingSessions.sessionStream(
      in.toDF().toDF("ts", "user_id"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def sessions() = spark.read.parquet(out)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_sec")))
    val q1 = start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:10:00"), 1L))
      q1.processAllAvailable() // open session lives ONLY in state
      assert(sessions().isEmpty, "session still open pre-kill")
      // an UNPROCESSED extension of the same session, then the kill
      in.addData((ts("2024-01-01 10:25:00"), 1L))
    } finally q1.stop()
    val q2 = start()
    try {
      // the replayed event must MERGE into the restored session
      // window, not open a parallel one
      q2.processAllAvailable()
      assert(sessions().isEmpty, "session still open after restart")
      in.addData((ts("2024-01-01 14:00:00"), 99L))
      q2.processAllAvailable() // watermark passes every gap horizon
      val got = sessions()
      assert(got.toSeq == Seq((1L, 3L, 1500L)),
        s"restored session diverged: ${got.mkString(",")} — n_events=3 " +
          "needs the two pre-kill events held only in the checkpoint")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S25 streaming_ohlc_tws: transformWithState candle machine — rollover emit, timer close, event-time OHLC") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOhlcTws
    import StreamingOhlcTws.{Tick, Candle}
    // transformWithState requires the RocksDB state store
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val in = MemoryStream[Tick]
    val q = StreamingOhlcTws.ohlcStream(in.toDS())
      .writeStream.format("memory").queryName("s25_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:05:00"), "BTC", 100.0),
        // out-of-order INSIDE the hour: close must be event-time-last
        Tick(ts("2024-01-01 10:40:00"), "BTC", 95.0),
        Tick(ts("2024-01-01 10:20:00"), "BTC", 120.0),
        Tick(ts("2024-01-01 10:10:00"), "ETH", 50.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM s25_out").count() == 0,
        "hour 10 still open for both symbols")
      // a NEWER-hour BTC tick triggers the reference's rollover emit;
      // the same batch's watermark (11:30 − 10 min = 11:20) also
      // expires quiet ETH's 11:00 timer — both hour-10 candles close
      in.addData(Tick(ts("2024-01-01 11:30:00"), "BTC", 101.0))
      q.processAllAvailable()
      val afterRoll = spark.sql(
        "SELECT symbol, open, high, low, close, n_ticks FROM s25_out " +
          "ORDER BY symbol")
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
      assert(afterRoll.toSeq == Seq(
        ("BTC", 100.0, 120.0, 95.0, 95.0, 3L), // rollover, ev-time close
        ("ETH", 50.0, 50.0, 50.0, 50.0, 1L)),  // expired timer
        s"hour-10 closes diverged: ${afterRoll.mkString(",")}")
      // push the watermark past 12:00: BTC hour 11 closes via its
      // EXPIRED TIMER — no rollover tick ever arrives for it
      in.addData(Tick(ts("2024-01-01 12:30:00"), "DOGE", 1.0))
      q.processAllAvailable()
      val all = spark.sql(
        "SELECT symbol, hour_start, open, close, n_ticks FROM s25_out " +
          "ORDER BY symbol, hour_start")
        .collect().map(r => (r.getString(0),
          r.getTimestamp(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      assert(all.toSeq == Seq(
        ("BTC", ts("2024-01-01 10:00:00"), 100.0, 95.0, 3L),
        ("BTC", ts("2024-01-01 11:00:00"), 101.0, 101.0, 1L),
        ("ETH", ts("2024-01-01 10:00:00"), 50.0, 50.0, 1L)),
        s"timer closes diverged: ${all.mkString(",")}")
      // exactly once per (symbol, hour)
      assert(all.map(c => (c._1, c._2)).distinct.length == all.length)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("S26 streaming_ohlc_complete: watermark-complete candles keep the cross-boundary straggler the eager machine drops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOhlcTws
    import StreamingOhlcTws.Tick
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    // the SAME tick sequence drives both machines — S1's tumbling
    // window (watermark-complete) and S25 (eager rollover): an hour-11
    // tick arrives BEFORE an hour-10 straggler that is still inside
    // the watermark delay — the exact reordering the eager rollover's
    // documented drop window loses
    val inC = MemoryStream[Tick]
    val inE = MemoryStream[Tick]
    val qC = StreamingOhlc.hourlyOhlcStream(inC.toDF())
      .writeStream.format("memory").queryName("s26_complete")
      .outputMode(OutputMode.Append).start()
    val qE = StreamingOhlcTws.ohlcStream(inE.toDS())
      .writeStream.format("memory").queryName("s26_eager")
      .outputMode(OutputMode.Append).start()
    try {
      def feed(ticks: Tick*): Unit = {
        inC.addData(ticks); inE.addData(ticks)
        qC.processAllAvailable(); qE.processAllAvailable()
      }
      feed(Tick(ts("2024-01-01 10:05:00"), "BTC", 100.0),
        Tick(ts("2024-01-01 10:20:00"), "BTC", 120.0),
        Tick(ts("2024-01-01 11:02:00"), "BTC", 200.0))
      // watermark is now 10:52 — hour 10 is NOT yet provably complete
      assert(spark.sql("SELECT * FROM s26_complete").count() == 0,
        "S1 must hold hour 10 until the watermark " +
          "passes 11:00 (the eager one has already emitted it)")
      // the straggler: hour-10 tick, above the 10:52 watermark
      feed(Tick(ts("2024-01-01 10:55:00"), "BTC", 95.0))
      // advance the watermark past every hour end
      feed(Tick(ts("2024-01-01 12:30:00"), "DOGE", 1.0))
      val complete = spark.sql(
        "SELECT symbol, hour, open_price, high_price, low_price, " +
          "close_price, sample_count FROM s26_complete " +
          "ORDER BY symbol, date, hour").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      assert(complete.toSeq == Seq(
        // the straggler is IN: low 95, event-time close 95, n = 3
        ("BTC", 10, 100.0, 120.0, 95.0, 95.0, 3L),
        ("BTC", 11, 200.0, 200.0, 200.0, 200.0, 1L)),
        s"watermark-complete candles diverged: ${complete.mkString(",")}")
      val eager = spark.sql(
        "SELECT n_ticks FROM s26_eager " +
          "WHERE symbol = 'BTC' AND hour_start = timestamp" +
          "'2024-01-01 10:00:00'").collect().map(_.getLong(0))
      assert(eager.toSeq == Seq(2L),
        "the eager machine's documented drop window: the straggler " +
          "must be missing from ITS hour-10 candle — if this starts " +
          "failing, the contract paragraph in StreamingOhlcTws is stale")
    } finally {
      qC.stop(); qE.stop()
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("S25r streaming_ohlc_tws: kill + checkpoint restart — RocksDB ValueState and timers survive", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOhlcTws
    import StreamingOhlcTws.Tick
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val in = MemoryStream[Tick]
    val ckpt = java.nio.file.Files.createTempDirectory("s25r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s25r_out").toString
    def start() = StreamingOhlcTws.ohlcStream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def candles() = spark.read.parquet(out)
      .orderBy("symbol", "hour_start")
      .collect().map(r => (r.getAs[String]("symbol"),
        r.getAs[Timestamp]("hour_start"), r.getAs[Double]("open"),
        r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("n_ticks")))
    val q1 = start()
    try {
      in.addData(
        Tick(ts("2024-01-01 10:05:00"), "BTC", 100.0),
        Tick(ts("2024-01-01 10:20:00"), "BTC", 120.0),
        Tick(ts("2024-01-01 10:10:00"), "ETH", 50.0))
      q1.processAllAvailable() // open hour-10 candles live ONLY in RocksDB
      assert(candles().isEmpty, "hour 10 still open pre-kill")
      // an UNPROCESSED tick lands, then the query dies
      in.addData(Tick(ts("2024-01-01 10:40:00"), "BTC", 95.0))
    } finally q1.stop()
    val q2 = start()
    try {
      // the replayed tick must fold into the RESTORED candle (close
      // becomes event-time-last 95), not open a fresh one
      q2.processAllAvailable()
      assert(candles().isEmpty, "hour 10 still open after restart")
      // rollover closes BTC hour 10; the same batch's watermark
      // (11:30 − 10 min) expires ETH's 11:00 timer — the timer itself
      // was registered BEFORE the kill, so its firing proves timers
      // are part of the recovered state
      in.addData(Tick(ts("2024-01-01 11:30:00"), "BTC", 101.0))
      q2.processAllAvailable()
      in.addData(Tick(ts("2024-01-01 12:30:00"), "DOGE", 1.0))
      q2.processAllAvailable() // BTC hour 11 closes via its timer
      val got = candles()
      assert(got.toSeq == Seq(
        ("BTC", ts("2024-01-01 10:00:00"), 100.0, 120.0, 95.0, 95.0, 3L),
        ("BTC", ts("2024-01-01 11:00:00"), 101.0, 101.0, 101.0, 101.0, 1L),
        ("ETH", ts("2024-01-01 10:00:00"), 50.0, 50.0, 50.0, 50.0, 1L)),
        s"recovered candles diverged: ${got.mkString(",")}")
      assert(got.map(c => (c._1, c._2)).distinct.length == got.length,
        "no (symbol, hour) may emit twice across the restart")
    } finally {
      q2.stop()
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("S27 streaming_scd2: closed versions == the batch twin's; open version stays in state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingScd2
    import graft.streaming.StreamingScd2.UserEvent
    val in = MemoryStream[UserEvent]
    val q = StreamingScd2.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("s27_out")
      .outputMode(OutputMode.Append).start()
    def rows() = spark.sql(
      "SELECT * FROM s27_out ORDER BY user_id, version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    try {
      // user 1: view view click; user 2: click (intra-batch disorder:
      // the click arrives first in the batch but sorts second)
      in.addData(
        UserEvent(ts("2024-01-01 10:02:00"), 3L, 1L, "click"),
        UserEvent(ts("2024-01-01 10:00:00"), 1L, 1L, "view"),
        UserEvent(ts("2024-01-01 10:01:00"), 2L, 1L, "view"),
        UserEvent(ts("2024-01-01 10:00:30"), 4L, 2L, "click"))
      q.processAllAvailable()
      val usOf: String => Long =
        s => Timestamp.valueOf(s).getTime * 1000L
      // user 1's view-run closed when the click opened version 2;
      // every OPEN version (1/click, 2/click) stays unemitted
      assert(rows().toSeq == Seq(
        (1L, 1L, "view", usOf("2024-01-01 10:00:00"),
          usOf("2024-01-01 10:02:00"), 2L)))
      // cross-batch continuity: the open click-run folds the next
      // click (no new version), then closes on the purchase
      in.addData(
        UserEvent(ts("2024-01-01 10:03:00"), 5L, 1L, "click"),
        UserEvent(ts("2024-01-01 10:04:00"), 6L, 1L, "purchase"))
      q.processAllAvailable()
      assert(rows().toSeq == Seq(
        (1L, 1L, "view", usOf("2024-01-01 10:00:00"),
          usOf("2024-01-01 10:02:00"), 2L),
        (1L, 2L, "click", usOf("2024-01-01 10:02:00"),
          usOf("2024-01-01 10:04:00"), 2L)),
        s"cross-batch fold diverged: ${rows().mkString(",")}")
      // the emitted stream == the batch twin's CLOSED (not current)
      // rows over the same replayed event log
      val log = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 1L, "view"),
        (ts("2024-01-01 10:01:00"), 2L, 1L, "view"),
        (ts("2024-01-01 10:02:00"), 3L, 1L, "click"),
        (ts("2024-01-01 10:00:30"), 4L, 2L, "click"),
        (ts("2024-01-01 10:03:00"), 5L, 1L, "click"),
        (ts("2024-01-01 10:04:00"), 6L, 1L, "purchase"))
        .toDF("ts", "event_id", "user_id", "event_type")
        // Tables.events selects the full schema — carry the unused cols
        .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      val dir = java.nio.file.Files
        .createTempDirectory("s27_batch").toString
      log.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batchClosed = graft.operators.AuditOps
        .scd2History(spark, dir).collect()
        .filter(!_.getBoolean(5))
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(6)))
      assert(rows().toSeq == batchClosed.toSeq,
        "stream must equal the batch twin's closed versions")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    } finally q.stop()
  }

  test("S27r streaming_scd2: kill + checkpoint restart — the open version survives", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingScd2
    import graft.streaming.StreamingScd2.UserEvent
    val in = MemoryStream[UserEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("s27r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s27r_out").toString
    def start() = StreamingScd2.scd2Stream(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def versions() = spark.read.parquet(out)
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val usOf: String => Long = s => Timestamp.valueOf(s).getTime * 1000L
    val q1 = start()
    try {
      // version 1 (view x2) opens and closes; version 2 (click) is
      // OPEN — it lives only in the state store when the query dies
      in.addData(
        UserEvent(ts("2024-01-01 09:00:00"), 1L, 7L, "view"),
        UserEvent(ts("2024-01-01 09:05:00"), 2L, 7L, "view"),
        UserEvent(ts("2024-01-01 09:10:00"), 3L, 7L, "click"))
      q1.processAllAvailable()
      assert(versions().toSeq == Seq(
        (7L, 1L, "view", usOf("2024-01-01 09:00:00"),
          usOf("2024-01-01 09:10:00"), 2L)))
      // an UNPROCESSED event lands, then the query dies
      in.addData(UserEvent(ts("2024-01-01 09:15:00"), 4L, 7L, "click"))
    } finally q1.stop()
    val q2 = start()
    try {
      // the replayed click must FOLD into the restored open version
      // (no new version row), proving the state survived the restart
      q2.processAllAvailable()
      assert(versions().length == 1, "open version must not re-close")
      // a type change closes the recovered version with BOTH clicks
      in.addData(UserEvent(ts("2024-01-01 09:30:00"), 5L, 7L, "purchase"))
      q2.processAllAvailable()
      val got = versions().toSeq
      assert(got == Seq(
        (7L, 1L, "view", usOf("2024-01-01 09:00:00"),
          usOf("2024-01-01 09:10:00"), 2L),
        (7L, 2L, "click", usOf("2024-01-01 09:10:00"),
          usOf("2024-01-01 09:30:00"), 2L)),
        s"recovered history diverged: ${got.mkString(",")}")
      // versions stay unique across the restart (exactly-once close)
      assert(got.map(v => (v._1, v._2)).distinct.length == got.length)
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
  test("S28 streaming_knn_serve: probe window closes with the routed top-k") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingKnnServe
    import graft.streaming.StreamingKnnServe.Probe
    def axis(dims: (Int, Float)*): Array[Float] = {
      val v = Array.fill(8)(0.0f); dims.foreach { case (i, x) => v(i) = x }; v
    }
    // two seed centroids (vec_id % 100 == 0): cluster A on e0
    // {0, 1, 2}, cluster B on e1 {100, 101}; member 2 sits between
    // (cos 0.7071 to both centroids, id-asc tie → list A)
    val corpus = Seq(
      (0L, axis(0 -> 1.0f)),
      (1L, axis(0 -> 1.0f)),
      (2L, axis(0 -> 0.70710678f, 1 -> 0.70710678f)),
      (100L, axis(1 -> 1.0f)),
      (101L, axis(1 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[Probe]
    val q = StreamingKnnServe
      .knnServeStream(spark, in.toDF(), corpus, k = 2, nprobe = 1)
      .writeStream.format("memory").queryName("s28_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Probe(ts("2024-01-01 10:00:05"), 500L, axis(0 -> 1.0f)),
        Probe(ts("2024-01-01 10:00:06"), 501L, axis(1 -> 1.0f)))
      q.processAllAvailable()
      // probes' window still open: nothing emitted yet
      assert(spark.sql("SELECT * FROM s28_out").count() == 0)
      // a later probe advances the watermark past the window close
      in.addData(Probe(ts("2024-01-01 13:00:00"), 502L, axis(0 -> 1.0f)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM s28_out ORDER BY probe_id")
        .collect()
      assert(rows.length == 2)
      def topkOf(r: org.apache.spark.sql.Row) =
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => (x.getLong(0), x.getDouble(1)))
      // probe 500 (= e0), nprobe 1 → list A only: ids 0, 1 at cos 1
      // (tie → id asc); the cross-list exemplars never scanned
      assert(rows(0).getAs[Long]("probe_id") == 500L)
      assert(rows(0).getAs[java.sql.Timestamp]("window_start")
        == ts("2024-01-01 10:00:00"))
      assert(topkOf(rows(0)) == Seq((0L, 1.0), (1L, 1.0)))
      // probe 501 (= e1) → list B: ids 100, 101 at cos 1
      assert(rows(1).getAs[Long]("probe_id") == 501L)
      assert(topkOf(rows(1)) == Seq((100L, 1.0), (101L, 1.0)))
    } finally q.stop()
  }

  test("S28r streaming_knn_serve: kill + checkpoint restart replays stably", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingKnnServe
    import graft.streaming.StreamingKnnServe.Probe
    def axis(dims: (Int, Float)*): Array[Float] = {
      val v = Array.fill(8)(0.0f); dims.foreach { case (i, x) => v(i) = x }; v
    }
    val corpus = Seq(
      (0L, axis(0 -> 1.0f)),
      (1L, axis(0 -> 1.0f)),
      (2L, axis(0 -> 0.70710678f, 1 -> 0.70710678f)),
      (100L, axis(1 -> 1.0f)),
      (101L, axis(1 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[Probe]
    val ckpt = java.nio.file.Files.createTempDirectory("s28r_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s28r_out").toString
    def start() = StreamingKnnServe
      .knnServeStream(spark, in.toDF(), corpus, k = 2, nprobe = 2)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def served() = spark.read.parquet(out)
      .orderBy("probe_id")
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => (x.getLong(0), x.getDouble(1)))))
    val q1 = start()
    try {
      in.addData(Probe(ts("2024-01-01 10:00:05"), 500L, axis(0 -> 1.0f)))
      q1.processAllAvailable() // window open — partial lives in state
      assert(served().isEmpty, "window 10:00 still open pre-kill")
      // an UNPROCESSED probe lands, then the query dies
      in.addData(Probe(ts("2024-01-01 10:00:06"), 501L, axis(1 -> 1.0f)))
    } finally q1.stop()
    val q2 = start()
    try {
      // the replayed probe folds into the RESTORED window state
      q2.processAllAvailable()
      assert(served().isEmpty, "window 10:00 still open after restart")
      in.addData(Probe(ts("2024-01-01 13:00:00"), 502L, axis(0 -> 1.0f)))
      q2.processAllAvailable()
      val got = served()
      // nprobe 2 = full probe here → S8's exact answer for both
      // probes; exactly once each across the kill/restart boundary
      assert(got.toSeq == Seq(
        (500L, Seq((0L, 1.0), (1L, 1.0))),
        (501L, Seq((100L, 1.0), (101L, 1.0)))),
        s"replayed serve diverged: ${got.mkString(",")}")
      assert(got.map(_._1).distinct.length == got.length,
        "no probe may emit twice across the restart")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  // ---- S29: online maintenance of the incremental kNN edge silver --

  private def s29Axis(dims: (Int, Float)*): Array[Float] = {
    val v = Array.fill(8)(0.0f); dims.foreach { case (i, x) => v(i) = x }; v
  }

  private def s29Corpus(rows: (Long, Array[Float])*)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def s29Served(dir: String): Set[(Long, Long)] =
    graft.operators.KnnIncremental.servedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("S29 streaming_knn_maintain: micro-batches fold into the edge silver == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.KnnIncremental
    import graft.streaming.StreamingKnnMaintain
    import graft.streaming.StreamingKnnMaintain.VecRow
    // seed book of the initial corpus: ids 0 and 100 → 2 lists
    val initial = s29Corpus(
      0L -> s29Axis(0 -> 1.0f), 1L -> s29Axis(0 -> 1.0f),
      2L -> s29Axis(0 -> 0.70710678f, 1 -> 0.70710678f),
      100L -> s29Axis(1 -> 1.0f), 101L -> s29Axis(1 -> 1.0f))
    val dir = java.nio.file.Files
      .createTempDirectory("s29_silver").toString
    KnnIncremental.build(spark, initial, dir, nprobe = 2)
    val in = MemoryStream[VecRow]
    val q = StreamingKnnMaintain
      .maintainStream(spark, in.toDF(), dir)
      .start()
    try {
      in.addData(VecRow(3L, s29Axis(0 -> 1.0f)))
      q.processAllAvailable()
      in.addData(VecRow(102L, s29Axis(1 -> 1.0f)),
        VecRow(103L, s29Axis(0 -> 0.6f, 1 -> 0.8f)))
      q.processAllAvailable()
    } finally q.stop()
    val got = s29Served(dir)
    assert(got.nonEmpty, "vacuous maintenance pin")
    // one-shot reference: the SAME frozen codebook over the union
    val all = s29Corpus(
      0L -> s29Axis(0 -> 1.0f), 1L -> s29Axis(0 -> 1.0f),
      2L -> s29Axis(0 -> 0.70710678f, 1 -> 0.70710678f),
      100L -> s29Axis(1 -> 1.0f), 101L -> s29Axis(1 -> 1.0f),
      3L -> s29Axis(0 -> 1.0f), 102L -> s29Axis(1 -> 1.0f),
      103L -> s29Axis(0 -> 0.6f, 1 -> 0.8f))
    val refDir = java.nio.file.Files
      .createTempDirectory("s29_ref").toString
    KnnIncremental.build(spark, all, refDir, nprobe = 2,
      cents = Some(spark.read.parquet(s"$dir/centroids.parquet")))
    assert(got == s29Served(refDir),
      "streamed maintenance diverged from the one-shot build")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(refDir))
  }

  test("S29r streaming_knn_maintain: kill + checkpoint restart converges to the same silver", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.KnnIncremental
    import graft.streaming.StreamingKnnMaintain
    import graft.streaming.StreamingKnnMaintain.VecRow
    val initial = s29Corpus(
      0L -> s29Axis(0 -> 1.0f), 1L -> s29Axis(0 -> 1.0f),
      100L -> s29Axis(1 -> 1.0f), 101L -> s29Axis(1 -> 1.0f))
    val dir = java.nio.file.Files
      .createTempDirectory("s29r_silver").toString
    KnnIncremental.build(spark, initial, dir, nprobe = 2)
    val ckpt = java.nio.file.Files
      .createTempDirectory("s29r_ckpt").toString
    val in = MemoryStream[VecRow]
    def start() = StreamingKnnMaintain
      .maintainStream(spark, in.toDF(), dir)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      in.addData(VecRow(3L, s29Axis(0 -> 1.0f)))
      q1.processAllAvailable()
      // an UNPROCESSED batch lands, then the query dies — on restart
      // foreachBatch replays it (at-least-once) into the idempotent
      // epoch, so the silver must converge, not double
      in.addData(VecRow(102L, s29Axis(1 -> 1.0f)))
    } finally q1.stop()
    // wait out the checkpoint registration release (S7b precedent)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.id == q1.id)
        && System.nanoTime() < deadline) Thread.sleep(100)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = s29Served(dir)
    val refDir = java.nio.file.Files
      .createTempDirectory("s29r_ref").toString
    KnnIncremental.build(spark, s29Corpus(
      0L -> s29Axis(0 -> 1.0f), 1L -> s29Axis(0 -> 1.0f),
      100L -> s29Axis(1 -> 1.0f), 101L -> s29Axis(1 -> 1.0f),
      3L -> s29Axis(0 -> 1.0f), 102L -> s29Axis(1 -> 1.0f)), refDir,
      nprobe = 2,
      cents = Some(spark.read.parquet(s"$dir/centroids.parquet")))
    assert(got == s29Served(refDir),
      "restarted maintenance diverged from the one-shot build")
    // every streamed vector's edges are present exactly once
    assert(got.map(_._1).intersect(Set(3L, 102L)) == Set(3L, 102L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(refDir))
  }
}

object StreamingSpec {
  case class Doc(ts: Timestamp, doc_id: Long, text: String)
  case class MixDoc(ts: Timestamp, doc_id: Long, source: String)
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CryptoIngest

/** End-to-end pipeline semantics (raw landing, idempotent hourly
  * flush, partition retention) + typed-Aggregator equivalence.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ticksDf(rows: Seq[(String, String, Double)]) =
    rows.toDF("tss", "symbol", "price")
      .selectExpr("CAST(tss AS TIMESTAMP) AS ts", "symbol", "price")

  private val batch = Seq(
    ("2024-01-01 10:00:05", "BTCUSDT", 50000.0),
    ("2024-01-01 10:30:00", "BTCUSDT", 51000.0),
    ("2024-01-02 09:00:00", "BTCUSDT", 49000.0),
    ("2024-01-03 09:00:00", "ETHUSDT", 3000.0))

  test("runBatch lands raw partitioned by date, flushes hourly, applies retention") {
    val tmp = Files.createTempDirectory("graft_pipe").toString
    val dropped = CryptoIngest.runBatch(ticksDf(batch),
      s"$tmp/raw", s"$tmp/hourly", keepDays = 2)
    // retention as of 2024-01-03, keep 2 days => drop 2024-01-01
    assert(dropped == Seq("2024-01-01"))
    val raw = spark.read.parquet(s"$tmp/raw")
    assert(raw.select("date").distinct().as[String].collect().sorted.toSeq
      == Seq("2024-01-02", "2024-01-03"))
    val hourly = spark.read.parquet(s"$tmp/hourly")
    assert(hourly.count() == 3) // 3 distinct (hour, symbol) groups
  }

  test("compactPartition merges small files, preserves rows, and is size-aware") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compact").toString
    val dir = s"$tmp/part"
    // 20 micro-batch-sized files, the 5 s append pattern
    spark.range(10000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(20).write.parquet(dir)
    val before = spark.read.parquet(dir)
      .select(sum(col("id")), count(lit(1))).head()
    val (nBefore, nAfter) =
      CryptoIngest.compactPartition(spark, dir, targetBytes = 64L * 1024)
    assert(nBefore == 20 && nAfter < nBefore && nAfter >= 1,
      s"before=$nBefore after=$nAfter")
    val after = spark.read.parquet(dir)
      .select(sum(col("id")), count(lit(1))).head()
    assert(after == before)
    // repeated passes at the same target reach a fixpoint (merging
    // files sheds per-file overhead, so byte totals can shrink once
    // more) and the fixpoint pass is a no-op — no rewrite churn
    val counts = Iterator.continually(
      CryptoIngest.compactPartition(spark, dir, targetBytes = 64L * 1024))
      .take(5).toSeq
    val (bLast, aLast) = counts.last
    assert(bLast == aLast, s"no fixpoint in 5 passes: $counts")
    assert(spark.read.parquet(dir)
      .select(sum(col("id")), count(lit(1))).head() == before)
  }

  test("compactPartition aborts on concurrent appends, originals untouched") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compact_race").toString
    val dir = s"$tmp/part"
    spark.range(5000).select(col("id")).repartition(10).write.parquet(dir)
    val before = spark.read.parquet(dir).agg(sum("id"), count(lit(1))).head()
    val e = intercept[IllegalStateException] {
      CryptoIngest.compactPartition(spark, dir, targetBytes = 64L * 1024,
        afterRewrite = () =>
          // a 5 s micro-batch lands one more file mid-compaction
          spark.range(5000, 5100).select(col("id"))
            .coalesce(1).write.mode("append").parquet(dir))
    }
    assert(e.getMessage.contains("changed during compaction"))
    // originals + the late append both survive; the rewrite temp is gone
    val after = spark.read.parquet(dir).agg(sum("id"), count(lit(1))).head()
    assert(after.getLong(1) == before.getLong(1) + 100)
    assert(!new java.io.File(s"$tmp/.part.compact-tmp").exists())
  }

  test("compactPartition heals a stranded .compact-old from a crashed promote") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compact_heal").toString
    val dir = s"$tmp/part"
    spark.range(5000).select(col("id")).repartition(10).write.parquet(dir)
    CryptoIngest.compactPartition(spark, dir, targetBytes = 64L * 1024)
    val before = spark.read.parquet(dir).agg(sum("id"), count(lit(1))).head()
    // reconstruct the crash-after-promote state: .old holds an
    // "original" named in the manifest (rows already in the promoted
    // files — must NOT come back) and a late append absent from it
    // (rows exist nowhere else — MUST come back)
    val old = new java.io.File(s"$tmp/.part.compact-old")
    spark.range(9000, 9100).select(col("id"))
      .coalesce(1).write.parquet(old.getPath)
    val files = old.listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val lateName = files.head.getName
    val originalName = "part-original-stale.parquet"
    java.nio.file.Files.copy(files.head.toPath,
      new java.io.File(old, originalName).toPath)
    java.nio.file.Files.write(
      new java.io.File(old, "_COMPACT_SNAPSHOT").toPath,
      originalName.getBytes("UTF-8"))
    old.listFiles.filter(_.getName == "_SUCCESS").foreach(_.delete())
    // any later invocation heals, even one that won't compact — the
    // 1-byte target forces the size early-return, proving recovery
    // runs before it (and leaving file names intact to assert on)
    CryptoIngest.compactPartition(spark, dir, targetBytes = 1L)
    assert(!old.exists(), "stranded .old not cleaned up")
    val after = spark.read.parquet(dir).agg(sum("id"), count(lit(1))).head()
    assert(after.getLong(1) == before.getLong(1) + 100,
      "late append rows not recovered (or originals duplicated)")
    assert(new java.io.File(dir).listFiles.exists(_.getName == lateName))
    assert(!new java.io.File(dir).listFiles.exists(_.getName == originalName),
      "compacted-away original resurrected — rows now duplicated")
  }

  test("compactPartition refuses a manifest-less .compact-old") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compact_nomf").toString
    val dir = s"$tmp/part"
    spark.range(1000).select(col("id")).repartition(4).write.parquet(dir)
    val old = new java.io.File(s"$tmp/.part.compact-old")
    spark.range(100).select(col("id"))
      .coalesce(1).write.parquet(old.getPath)
    val e = intercept[IllegalArgumentException] {
      CryptoIngest.compactPartition(spark, dir, targetBytes = 64L * 1024)
    }
    assert(e.getMessage.contains("_COMPACT_SNAPSHOT"))
    // nothing was deleted: both dirs intact for manual reconciliation
    assert(old.exists())
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("flushHourly is idempotent (dynamic partition overwrite)") {
    val tmp = Files.createTempDirectory("graft_flush").toString
    CryptoIngest.flushHourly(ticksDf(batch), s"$tmp/hourly")
    CryptoIngest.flushHourly(ticksDf(batch), s"$tmp/hourly") // re-flush same batch
    val hourly = spark.read.parquet(s"$tmp/hourly")
    assert(hourly.count() == 3, "re-flush must not duplicate rows")
  }

  test("flushHourly of disjoint hours of the same date keeps both (hour-grain overwrite)") {
    val tmp = Files.createTempDirectory("graft_flush_hours").toString
    val morning = Seq(
      ("2024-01-01 10:00:05", "BTCUSDT", 50000.0),
      ("2024-01-01 10:30:00", "BTCUSDT", 51000.0))
    val evening = Seq(
      ("2024-01-01 18:00:00", "BTCUSDT", 52000.0))
    CryptoIngest.flushHourly(ticksDf(morning), s"$tmp/hourly")
    CryptoIngest.flushHourly(ticksDf(evening), s"$tmp/hourly")
    val hourly = spark.read.parquet(s"$tmp/hourly")
    assert(hourly.select("hour").as[Int].collect().sorted.toSeq == Seq(10, 18),
      "a later batch of the same date must not delete earlier hours")
    // and re-flushing an hour replaces, not duplicates, it
    CryptoIngest.flushHourly(ticksDf(evening), s"$tmp/hourly")
    assert(spark.read.parquet(s"$tmp/hourly").count() == 2)
  }

  test("applyRetention keeps the cutoff day and drops strictly older partitions") {
    val tmp = Files.createTempDirectory("graft_retention").toString
    val ticks = ticksDf(Seq(
      ("2024-01-01 10:00:00", "BTCUSDT", 1.0),
      ("2024-01-02 10:00:00", "BTCUSDT", 2.0),
      ("2024-01-03 10:00:00", "BTCUSDT", 3.0)))
    CryptoIngest.landRaw(ticks, s"$tmp/raw")
    // keepDays=2 as-of Jan 3 ⇒ window = {Jan 2, Jan 3}; only Jan 1 goes
    val dropped = CryptoIngest.applyRetention(spark, s"$tmp/raw",
      java.time.LocalDate.parse("2024-01-03"), keepDays = 2)
    assert(dropped == Seq("2024-01-01"))
    val left = spark.read.parquet(s"$tmp/raw")
      .select("date").distinct().collect().map(_.get(0).toString).sorted.toSeq
    assert(left == Seq("2024-01-02", "2024-01-03"))
    // idempotent: nothing further to drop
    assert(CryptoIngest.applyRetention(spark, s"$tmp/raw",
      java.time.LocalDate.parse("2024-01-03"), keepDays = 2).isEmpty)
  }

  test("flushHourlyJdbc round-trips through Derby and is idempotent per (date, hour)") {
    val tmp = Files.createTempDirectory("graft_jdbc").toString
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val url = s"jdbc:derby:$tmp/db;create=true"
    CryptoIngest.flushHourlyJdbc(ticksDf(batch), url)
    CryptoIngest.flushHourlyJdbc(ticksDf(batch), url) // re-flush: upsert, no PK violation
    val back = spark.read.jdbc(url, "downsampled_prices", new java.util.Properties)
    assert(back.count() == 3, "re-flush must replace, not duplicate")
    val btc10 = back.where(col("hour") === 10 && col("symbol") === "BTCUSDT")
      .collect().head
    assert(btc10.getAs[Double]("open_price") == 50000.0)
    assert(btc10.getAs[Double]("close_price") == 51000.0)
    assert(btc10.getAs[Long]("sample_count") == 2L)
  }

  test("JDBC upsert SQL is PostgreSQL-dialect golden (Derby tests a superset)") {
    // Derby (the in-container-testable sink) accepts constructs
    // Postgres rejects — bare DOUBLE shipped in round 2 exactly
    // because only Derby ever executed the DDL. Pin the generated
    // statements verbatim so dialect drift is a test diff, not a
    // user's first-run failure on the documented migration target.
    assert(CryptoIngest.createTableSql("downsampled_prices") ==
      """CREATE TABLE downsampled_prices (
        |  "date" DATE NOT NULL, "hour" INTEGER NOT NULL,
        |  "symbol" VARCHAR(64) NOT NULL,
        |  "open_price" DOUBLE PRECISION, "high_price" DOUBLE PRECISION,
        |  "low_price" DOUBLE PRECISION, "close_price" DOUBLE PRECISION,
        |  "avg_price" DOUBLE PRECISION, "sample_count" BIGINT,
        |  PRIMARY KEY ("date", "hour", "symbol"))""".stripMargin)
    assert(CryptoIngest.deleteSql("downsampled_prices",
      "downsampled_prices_stage") ==
      """DELETE FROM downsampled_prices WHERE EXISTS (
        |  SELECT 1 FROM downsampled_prices_stage s
        |  WHERE s."date" = downsampled_prices."date"
        |    AND s."hour" = downsampled_prices."hour")""".stripMargin)
    assert(CryptoIngest.insertSql("downsampled_prices",
      "downsampled_prices_stage") ==
      """INSERT INTO downsampled_prices ("date", "hour", "symbol", """ +
      """"open_price", "high_price", "low_price", "close_price", """ +
      """"avg_price", "sample_count") SELECT "date", "hour", "symbol", """ +
      """"open_price", "high_price", "low_price", "close_price", """ +
      """"avg_price", "sample_count" FROM downsampled_prices_stage""")
    // dialect lint on top of the golden text: the two drift classes
    // that bit before stay structurally impossible
    val ddl = CryptoIngest.createTableSql("t")
    assert(!ddl.matches("(?s).*DOUBLE(?! PRECISION).*"),
      "bare DOUBLE is not valid PostgreSQL")
    Seq("date", "hour").foreach { kw =>
      assert(!ddl.matches(s"(?s).*(?<=[(,\\s])$kw\\s.*"),
        s"reserved word $kw must be quoted")
    }
  }

  test("CorpusSilver: dedup_minhash from the signature silver table matches inline") {
    import graft.pipeline.CorpusSilver
    val tmp = Files.createTempDirectory("graft_sigs").toString
    CorpusSilver.writeSignatures(spark, TestSpark.sf0001, s"$tmp/sigs")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val fromSilver = rows(CorpusSilver.dedupMinhash(spark, s"$tmp/sigs"))
    val inline = rows(graft.operators.LlmTextOps
      .dedupMinhash(spark, TestSpark.sf0001))
    assert(fromSilver.nonEmpty)
    assert(fromSilver == inline)
  }

  test("CorpusSilver: survivors from a materialized pair table match the inline pipeline") {
    import graft.pipeline.CorpusSilver
    val tmp = Files.createTempDirectory("graft_silver").toString
    CorpusSilver.writeNearDupPairs(spark, TestSpark.sf0001, s"$tmp/pairs")
    val fromSilver = CorpusSilver.survivors(spark, TestSpark.sf0001, s"$tmp/pairs")
      .collect().map(_.getLong(0)).toSeq
    val inline = graft.operators.LlmTextOps.dedupSurvivors(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSeq
    assert(fromSilver == inline)
    assert(fromSilver.nonEmpty)
    // the capstone served from silver matches the inline capstone too
    val cfSilver = CorpusSilver.corpusFilter(spark, TestSpark.sf0001, s"$tmp/pairs")
      .collect().map(_.getLong(0)).toSeq
    val cfInline = graft.operators.LlmTextOps.corpusFilter(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSeq
    assert(cfSilver == cfInline)
    // component labeling from silver matches the inline fixpoint too
    val ccSilver = CorpusSilver.components(spark, TestSpark.sf0001, s"$tmp/pairs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccInline = graft.operators.LlmTextOps
      .dedupComponents(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccSilver == ccInline)
  }
}

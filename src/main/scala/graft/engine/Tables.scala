package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders over the driver-generated testdata layout
  * (`TESTDATA.md`): one parquet file per table under `$sfDir/`.
  *
  * 100 TB posture: at scale these would be partitioned directories
  * (partitionBy date for `events`, hash-bucketed by key for the join
  * tables); the loader is the single seam where that layout swap
  * happens — every operator goes through it and stays unchanged.
  */
object Tables {
  /** One resolved relation per (session, table fingerprint): the
    * parquet read itself lists files and reads footers — a fixed
    * ~10-40 ms planning tax per table PER QUERY that dominates cheap
    * queries in a 224-query sweep. The memoized frame is just the
    * analyzed plan (no persisted data); the fingerprint key means an
    * in-place rewrite of the table resolves a fresh relation, so the
    * cache can never serve a stale file index.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SessionMemo.getOrCompute(spark,
      "scan|" + SessionMemo.tableFingerprint(spark, sfDir, name))(
      spark.read.parquet(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` arrives in one of two physical layouts depending on
    * the testdata generator vintage: TIMESTAMP(NANOS) footers (which
    * Spark's reader rejects — read as raw INT64 nanos via the legacy
    * conf and truncate to µs) or plain µs timestamps (which Spark
    * reads as TIMESTAMP_NTZ). Both normalize here to the session
    * (UTC) TIMESTAMP, the µs precision DuckDB's TIMESTAMP carries —
    * so every operator and every oracle sees one `ts` type no matter
    * which footer the corpus was written with.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The reference's tick stream (`dataCollector.py:110-114`) mapped onto
    * the `events` table per SURVEY.md §2: ts→timestamp, event_type→symbol,
    * value→price. The cast mirrors `float(data['price'])`
    * (`dataCollector.py:105`).
    */
  def ticks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    events(s, d).select(
      col("ts"),
      col("event_type").as("symbol"),
      col("value").cast("double").as("price"))
  }
}

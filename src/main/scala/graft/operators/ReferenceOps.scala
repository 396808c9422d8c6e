package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Determinism.r6
import graft.engine.Tables

/** R1–R10: the reference's own capabilities (SURVEY.md §2.1),
  * re-expressed as declarative Spark plans over the `events` table
  * (ts→timestamp, event_type→symbol, value→price).
  *
  * The reference (`/root/reference/dataCollector.py`) is a
  * single-threaded poll→SQLite→hourly-flush→Postgres loop; every one of
  * its behaviors is a projection, a tumbling-window aggregation, or a
  * TTL filter — all first-class Catalyst operators here, so predicate
  * pushdown / partial aggregation / whole-stage codegen come for free.
  */
object ReferenceOps {

  /** R1 `ingest_raw` — source scan + projection + cast
    * (`dataCollector.py:97-117`). At 100 TB this is a pure map stage:
    * no shuffle, column-pruned parquet scan.
    */
  def ingestRaw(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d).orderBy("ts", "symbol")

  /** R2 `raw_store_format` — sink-edge ISO-8601 serialization
    * (`dataCollector.py:126` `entry['timestamp'].isoformat()`).
    */
  def rawStoreFormat(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d)
      .select(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp_str"),
        col("symbol"), col("price"))
      .orderBy("timestamp_str", "symbol")

  /** R3 `ohlc_hourly` — THE core operator: per (hour, symbol) OHLC +
    * avg + count (state `dataCollector.py:20-30`, update `:80-94`,
    * flush `:140-163`). One hash-aggregate with map-side partials; the
    * reference's incremental running mean is exactly Spark's
    * partial+final `avg`. `min_by/max_by(price, ts)` gives true
    * first/last-by-time (also fixes the reference's falsy-zero open
    * bug at `dataCollector.py:83`, per SURVEY §7).
    */
  def ohlcHourly(s: SparkSession, d: String): DataFrame =
    ohlcAgg(Tables.ticks(s, d)).orderBy("date", "hour", "symbol")

  /** Core hourly-OHLC aggregation over any (ts, symbol, price) frame —
    * factored out so the reference's golden test vectors
    * (`tests.py:85-117`) run against in-memory Datasets.
    */
  def ohlcAgg(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("symbol"))
      .agg(ohlcColumns.head, ohlcColumns.tail: _*)
      .select(hourlyRow(col("hour_ts")): _*)

  /** The six candle aggregates over (ts, price) — the one definition
    * of the hourly candle, shared by the batch [[ohlcAgg]] and the
    * streaming `StreamingOhlc.hourlyOhlcOnWatermarked`.
    */
  val ohlcColumns: Seq[Column] = Seq(
    min_by(col("price"), col("ts")).as("open_price"),
    max(col("price")).as("high_price"),
    min(col("price")).as("low_price"),
    max_by(col("price"), col("ts")).as("close_price"),
    r6(avg(col("price"))).as("avg_price"),
    count(lit(1)).as("sample_count"))

  /** The `downsampled_prices` row (`dataCollector.py:62-75`) of a
    * candle keyed by the start of its hour.
    */
  def hourlyRow(hourStart: Column): Seq[Column] = Seq(
    to_date(hourStart).as("date"), hour(hourStart).as("hour"),
    col("symbol"), col("open_price"), col("high_price"), col("low_price"),
    col("close_price"), col("avg_price"), col("sample_count"))

  /** `ohlc_daily` — hierarchical re-aggregation: daily OHLC derived
    * FROM the hourly aggregate, not from raw ticks. open/close pick
    * the first/last hour's open/close (`min_by`/`max_by` on hour),
    * high/low/count fold exactly — the associative subset of OHLC, so
    * re-aggregation is lossless. This is the rollup pattern that
    * matters at 100 TB: the daily layer reads the (tiny) hourly silver
    * table, never rescanning raw. avg is deliberately excluded: a mean
    * of means needs the (sum, count) pair, which the hourly layer's
    * rounded avg no longer carries.
    */
  def ohlcDaily(s: SparkSession, d: String): DataFrame =
    ohlcAgg(Tables.ticks(s, d))
      .groupBy(col("date"), col("symbol"))
      .agg(
        min_by(col("open_price"), col("hour")).as("open_price"),
        max(col("high_price")).as("high_price"),
        min(col("low_price")).as("low_price"),
        max_by(col("close_price"), col("hour")).as("close_price"),
        sum(col("sample_count")).as("sample_count"))
      .orderBy("date", "symbol")

  /** `ohlc_merge` — incremental view maintenance of the hourly OHLC
    * silver, oracle-proven: the tick stream splits into an "existing"
    * load and a "late batch" (a deterministic hash slice stands in
    * for it), each side aggregates to mergeable OHLC PARTIALS (open +
    * its timestamp, close + its timestamp, high, low, exact decimal
    * sum, count), and the merge layer folds partials with the OHLC
    * merge algebra — min_by over open timestamps, max_by over close
    * timestamps, max/min/sum. The gate then hash-compares the merged
    * result against the FULL-recompute oracle (the `ohlc_hourly` SQL
    * verbatim): the algebraic claim "merge(partials) == recompute" is
    * itself driver-checked, per cell, cross-engine.
    *
    * This is the nightly-delta pattern at 100 TB: the silver layer
    * stores partial tuples (open_ts/close_ts/sum/count alongside the
    * display columns), a late batch aggregates alone, and only
    * affected (hour, symbol) groups rewrite — never a raw rescan.
    * The mean merges exactly because the partial carries the DECIMAL
    * sum, not the rounded average (the `ohlc_daily` doc explains why
    * a rounded avg cannot re-aggregate).
    */
  def ohlcMerge(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = Tables.ticks(s, d)
      .withColumn("late",
        pmod(unix_micros(col("ts")), lit(5L)) === 0L)
    def partials(df: DataFrame): DataFrame =
      df.groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("symbol"))
        .agg(
          min(col("ts")).as("open_ts"),
          min_by(col("price"), col("ts")).as("open_price"),
          max(col("ts")).as("close_ts"),
          max_by(col("price"), col("ts")).as("close_price"),
          max(col("price")).as("high_price"),
          min(col("price")).as("low_price"),
          sum(col("price").cast(DecimalType(18, 6)))
            .cast(DecimalType(24, 6)).as("sdec"),
          count(lit(1)).as("n"))
    partials(t.where(!col("late")))
      .union(partials(t.where(col("late"))))
      .groupBy(col("hour_ts"), col("symbol"))
      .agg(
        min_by(col("open_price"), col("open_ts")).as("open_price"),
        max(col("high_price")).as("high_price"),
        min(col("low_price")).as("low_price"),
        max_by(col("close_price"), col("close_ts")).as("close_price"),
        r6(sum(col("sdec")).cast(DecimalType(24, 6)).cast("double")
          / sum(col("n"))).as("avg_price"),
        sum(col("n")).as("sample_count"))
      .select(hourlyRow(col("hour_ts")): _*)
      .orderBy("date", "hour", "symbol")
  }

  /** R4 `have_samples` — post-aggregation filter (HAVING), mirroring
    * `if metrics['sample_count'] > 0` (`dataCollector.py:144`).
    */
  def haveSamples(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("sample_count"))
      .where(col("sample_count") > 0)
      .orderBy("symbol")

  /** R5 `latest_tick` — per-group argmax (`latest_price` /
    * `latest_timestamp`, `dataCollector.py:86,89`).
    */
  def latestTick(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d)
      .groupBy(col("symbol"))
      .agg(
        max_by(col("price"), col("ts")).as("latest_price"),
        max(col("ts")).as("latest_timestamp"))
      .orderBy("symbol")

  /** R6 `running_avg` — the reference's incremental mean
    * (`avg ← (avg·n + price)/(n+1)`, `dataCollector.py:91-94`) as an
    * analytic window. Scale note: partitioned by symbol so state is
    * O(1) per partition stream; no global sort.
    */
  def runningAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Prices are exact 2-dp: accumulate integer cents so the prefix
    // sum is exact and the rounded mean can't straddle a half-ulp
    // boundary between engines.
    Tables.ticks(s, d)
      .withColumn("cents", round(col("price") * 100.0, 0).cast("long"))
      .withColumn("running_avg",
        r6(sum(col("cents")).over(w).cast("double")
          / (count(lit(1)).over(w) * 100.0)))
      .drop("cents")
      .orderBy("symbol", "ts")
  }

  /** R7 `retention_day` — daily TTL of the raw layer
    * (`DELETE FROM raw_prices`, `dataCollector.py:130-136`) expressed
    * as a keep-filter on the latest day. At scale: partition-by-date +
    * partition drop; Catalyst prunes partitions on `to_date(ts)`.
    * The max-day scalar is a 1-row broadcast join, not a collect.
    */
  def retentionDay(s: SparkSession, d: String): DataFrame = {
    val t = Tables.ticks(s, d)
    val maxDay = t.agg(max(to_date(col("ts"))).as("max_day"))
    t.join(broadcast(maxDay), to_date(col("ts")) === col("max_day"))
      .select("ts", "symbol", "price")
      .orderBy("ts", "symbol")
  }

  /** R8 `hour_rollover` — window-close semantics
    * (`dataCollector.py:179-191`): the hourly aggregate restricted to
    * *closed* hours (strictly before the hour containing max(ts)).
    */
  def hourRollover(s: SparkSession, d: String): DataFrame = {
    val t = Tables.ticks(s, d)
    val lastHour = t.agg(date_trunc("hour", max(col("ts"))).as("open_hour"))
    ohlcAgg(t.join(broadcast(lastHour),
      date_trunc("hour", col("ts")) < col("open_hour")))
      .orderBy("date", "hour", "symbol")
  }

  /** R9 `error_tolerant_scan` — per-record drop-malformed
    * (`dataCollector.py:101-116`, tested `tests.py:144-149`): safe-cast
    * the JSON payload field and count survivors per symbol; bad
    * records are skipped, the batch continues.
    */
  def errorTolerantScan(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type").as("symbol"))
      .agg(
        count(lit(1)).as("n_total"),
        count(col("k")).as("n_valid"))
      .orderBy("symbol")

  /** R10 `display_format` — scalar formatting projection
    * (`f"{symbol}: ${price:.2f} at {ts}"`, `dataCollector.py:203-204`).
    * Prices are exact 2-dp values so %.2f-style formatting is
    * tie-free across engines; format_number is avoided (locale commas).
    */
  def displayFormat(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d)
      .select(
        col("ts"), col("symbol"),
        format_string("%s: $%.2f at %s", col("symbol"),
          col("price"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("display"))
      .orderBy("ts", "symbol")
}

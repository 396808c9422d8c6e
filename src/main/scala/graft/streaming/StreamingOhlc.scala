package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ReferenceOps.{hourlyRow, ohlcColumns}

/** Streaming twins of the reference pipeline (SURVEY.md §2.2 S1/S3/S4/S6).
  *
  * The reference is a hand-rolled streaming job: a 5 s poll loop
  * (`dataCollector.py:17,220`), per-symbol in-memory OHLC state
  * (`dataCollector.py:20-30,80-94`), an hourly flush on wall-clock
  * rollover (`dataCollector.py:179-191`), and state reset
  * (`dataCollector.py:166-175`). Here that is Structured Streaming:
  * the same *logical* aggregation as the batch `ohlc_hourly`, with the
  * state store, window close, and late-data policy supplied by the
  * engine instead of hand-rolled.
  */
object StreamingOhlc {

  /** A tick as the reference builds it (`dataCollector.py:110-114`). */
  case class Tick(ts: Timestamp, symbol: String, price: Double)

  /** S1 `streaming_ohlc` — watermark + tumbling window + append mode.
    * Late ticks beyond 10 min are dropped (the reference can't see
    * late data at all: event time is assigned at fetch,
    * `dataCollector.py:106`). Works on any streaming (or batch)
    * DataFrame with (ts, symbol, price).
    */
  def hourlyOhlcStream(ticks: DataFrame): DataFrame =
    hourlyOhlcOnWatermarked(ticks.withWatermark("ts", "10 minutes"))

  /** The S1 aggregation body over a stream whose watermark is already
    * set upstream (redefining a watermark is disallowed when chaining
    * stateful operators, e.g. dedup → window agg in PollingIngest).
    * The candle is `ReferenceOps`' own, so a closed hour emits the
    * batch `ohlcAgg` row (date, hour, symbol, open … sample_count).
    * The key is the `window` struct, not `window.start`: append mode
    * needs the watermarked column in the grouping key.
    */
  def hourlyOhlcOnWatermarked(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(window(col("ts"), "1 hour"), col("symbol"))
      .agg(ohlcColumns.head, ohlcColumns.tail: _*)
      .select(hourlyRow(col("window.start")): _*)

  /** S3 `streaming_sessionize` — gap-based session windows on a
    * stream: the E16 batch sessionization as a native
    * `session_window` aggregation (30 min gap), emitting one row per
    * closed session once the watermark passes its end.
    */
  def sessionizeStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** S4 `streaming_dedup` — exactly-once tick landing on an
    * at-least-once transport: drop duplicate (symbol, ts) keys with
    * bounded state via `dropDuplicatesWithinWatermark` — the
    * streaming twin of `dedup_exact`, and the fix for the raw-layer
    * duplication noted on CryptoIngest re-runs.
    */
  def dedupStream(ticks: DataFrame): DataFrame =
    ticks
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("symbol", "ts")

  /** S6 `streaming_range_join` — stream-stream interval join, the
    * streaming twin of the batch `join_range`: purchases join the same
    * user's clicks from the preceding hour. Both sides are
    * watermarked, and the time-range condition bounds exactly how long
    * click state must be retained (clicks older than purchase-watermark
    * − 1 h are evicted) — the canonical bounded-state stream-stream
    * join. Inner join: Spark emits a match as soon as both sides
    * arrive.
    */
  def rangeJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    p.join(c,
      col("user_id") === col("c_user")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR")
        && col("click_ts") < col("purchase_ts"))
      .select(col("user_id"), col("purchase_ts"), col("click_ts"))
  }

  /** S6b — left-outer variant of `rangeJoinStream`: purchases with NO
    * qualifying click emit once with a null click_ts, but only after
    * the click-side watermark passes the end of their match interval
    * (the engine must prove no match can still arrive before emitting
    * the null row — the semantics hand-rolled outer stream joins
    * usually get wrong).
    */
  def rangeJoinStreamOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    p.join(c,
      col("user_id") === col("c_user")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR")
        && col("click_ts") < col("purchase_ts"),
      "left_outer")
      .select(col("user_id"), col("purchase_ts"), col("click_ts"))
  }
}

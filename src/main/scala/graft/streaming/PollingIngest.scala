package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.TickSource

/** The reference's 5 s poll cadence end-to-end (SURVEY §7 step 6,
  * `dataCollector.py:17,220` — `time.sleep(5)` around the fetch loop),
  * re-expressed as Structured Streaming micro-batches: an external
  * poller drops raw API payload lines into a landing directory
  * (`TickSource.landingSchema`), and this job picks them up every
  * 5 seconds with `Trigger.ProcessingTime`, owning everything after
  * bytes land:
  *
  *   landing files → `parseApiPayload` (skip-and-continue, the
  *   reference's per-symbol error tolerance) → two sinks:
  *
  * - raw layer: watermark-deduped ticks (`dataCollector.py:120-128`'s
  *   append, made exactly-once on an at-least-once landing transport),
  *   date-partitioned parquet — the streaming twin of
  *   `CryptoIngest.landRaw`.
  * - hourly layer: the same deduped stream through the watermarked
  *   tumbling-window OHLC aggregate (chained stateful operators:
  *   dedup then window agg).
  *   Append mode emits each (hour, symbol) row exactly once, when the
  *   watermark passes the hour end — the engine-managed version of the
  *   reference's flush-on-rollover + state reset
  *   (`dataCollector.py:166-191`) — landing (date, hour)-partitioned
  *   parquet like `CryptoIngest.flushHourly`.
  *
  * Each sink is its own query (own checkpoint, own exactly-once
  * progress); both read one file source, so a landed file feeds both
  * without coordination. At scale this runs unchanged: the file source
  * lists incrementally, state is per (window, symbol), and both sinks
  * write partition-pruned layouts.
  */
object PollingIngest {

  /** Handle on the two running queries. */
  final case class Job(raw: StreamingQuery, hourly: StreamingQuery) {
    def processAllAvailable(): Unit = {
      raw.processAllAvailable(); hourly.processAllAvailable()
    }
    def stop(): Unit = { raw.stop(); hourly.stop() }
  }

  /** Graceful-teardown twin of the reference's interrupt handler
    * (`dataCollector.py:222-226` closes both DB connections in
    * `finally`): register a JVM shutdown hook that stops both
    * streaming queries, so an interrupted process ends at a committed
    * micro-batch boundary instead of mid-write (checkpoints make the
    * restart exactly-once either way; stopping cleanly just avoids
    * re-running the interrupted batch). Returns the hook thread so
    * callers/tests can deregister it.
    */
  def stopOnShutdown(job: Job): Thread = {
    val t = new Thread(() =>
      try job.stop()
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] PollingIngest: shutdown stop failed: $e") },
      "graft-polling-shutdown")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  def start(
      spark: SparkSession,
      landingDir: String,
      rawPath: String,
      hourlyPath: String,
      checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Job = {
    val raw = ticks(spark, landingDir)
      .withColumn("date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", rawPath)
      .option("checkpointLocation", s"$checkpointRoot/raw")
      .partitionBy("date")
      .outputMode("append")
      .trigger(trigger)
      .start()

    val hourly = StreamingOhlc.hourlyOhlcOnWatermarked(ticks(spark, landingDir))
      .writeStream
      .format("parquet")
      .option("path", hourlyPath)
      .option("checkpointLocation", s"$checkpointRoot/hourly")
      .partitionBy("date", "hour")
      .outputMode("append")
      .trigger(trigger)
      .start()

    Job(raw, hourly)
  }

  /** The direct-migration variant: hourly rows land in the reference's
    * `downsampled_prices` JDBC table (`dataCollector.py:140-163`)
    * instead of parquet. Append mode emits each closed (hour, symbol)
    * exactly once; `foreachBatch` + the staged transactional upsert make
    * a *retried* micro-batch idempotent too, so the sink is
    * effectively exactly-once end-to-end. Returns the hourly query
    * only (pair it with `start(...)` for the raw layer, or run both).
    */
  def startJdbcHourly(
      spark: SparkSession,
      landingDir: String,
      jdbcUrl: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      table: String = "downsampled_prices",
      afterStage: () => Unit = () => ()): StreamingQuery =
    StreamingOhlc.hourlyOhlcOnWatermarked(ticks(spark, landingDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.pipeline.CryptoIngest.upsertHourlyRows(batch, jdbcUrl, table,
            afterStage)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** The landing directory as a watermark-deduped tick stream. Every
    * sink consumes this, so a repeated (symbol, ts) fetch neither
    * duplicates the raw layer nor inflates an hourly sample_count —
    * the layers stay consistent.
    */
  private def ticks(spark: SparkSession, landingDir: String): DataFrame =
    StreamingOhlc.dedupStream(TickSource.parseApiPayload(
      spark.readStream.schema(TickSource.landingSchema).json(landingDir),
      col("payload"), col("fetch_ts")))
}

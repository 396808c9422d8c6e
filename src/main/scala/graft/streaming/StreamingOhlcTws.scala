package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** S25 `streaming_ohlc_tws` — the reference's per-symbol OHLC hourly
  * state machine (`dataCollector.py:80-94,140-163` build the candle;
  * `:179-191` roll it over when a tick of a newer hour arrives)
  * re-expressed on Spark 4's `transformWithState` arbitrary-stateful
  * API: one typed `ValueState[Hour]` per symbol plus an EVENT-TIME
  * TIMER per open hour, so the operator exercises the full new
  * surface — explicit state, timer registration/deletion, and
  * `handleExpiredTimer`.
  *
  * Semantics (the reference's, plus a watermark-driven close the
  * single-threaded poller never needed):
  *   - a tick inside the open hour folds into the candle (close =
  *     latest BY EVENT TIME, not arrival order — out-of-order ticks
  *     inside the hour are handled);
  *   - a tick of a NEWER hour emits the finished candle immediately
  *     (the reference's rollover) and re-arms the timer;
  *   - a quiet symbol's last hour closes when the WATERMARK passes
  *     the hour end (the expired timer) — the piece `mapGroups`-era
  *     rollover-only designs leak: without it the final candle never
  *     emits;
  *   - ticks older than the open hour are dropped (late beyond the
  *     rollover — the watermark delay is the knob).
  *
  * DOCUMENTED DROP WINDOW (the reference-faithful trade): because the
  * rollover emits hour H's candle on the FIRST hour-H+1 tick — the
  * reference's own eager close, `dataCollector.py:179-191` — an
  * out-of-order hour-H tick arriving AFTER that rollover is dropped
  * even when it is still inside the watermark delay. Candles are
  * therefore arrival-order dependent across the hour boundary: this
  * operator trades watermark-completeness for the reference's
  * emit-on-rollover latency. The WATERMARK-COMPLETE contract is S1
  * [[StreamingOhlc.hourlyOhlcStream]]: a tumbling-window aggregate
  * that closes an hour only when the watermark passes its end, so
  * any tick at or above the watermark folds into its hour no matter
  * what arrived in between — candles are arrival-order independent
  * at the price of one watermark-delay of latency per candle
  * (StreamingSpec S26 pins the two contracts against each other on
  * the exact cross-boundary reordering this paragraph describes).
  *
  * Requires the RocksDB state-store provider (the transformWithState
  * contract in Spark 4); StreamingSpec S25 sets it per query, and
  * S25r kill-restarts the query mid-hour to pin that the RocksDB
  * ValueState + registered timers survive a checkpoint recovery.
  */
object StreamingOhlcTws {

  case class Tick(ts: Timestamp, symbol: String, price: Double)

  case class Candle(symbol: String, hour_start: Timestamp, open: Double,
    high: Double, low: Double, close: Double, n_ticks: Long)

  /** Per-symbol open-hour candle state. `closeUs` tracks the latest
    * tick's event time so close is event-time-last under reordering.
    */
  case class Hour(hourMs: Long, open: Double, high: Double, low: Double,
    close: Double, closeMs: Long, n: Long)

  private val HourMs = 3600000L

  /** Open a fresh hour candle from a tick. */
  private def openHour(hr: Long, t: Tick, ms: Long): Hour =
    Hour(hr, t.price, t.price, t.price, t.price, ms, 1L)

  /** Fold a tick into an open candle: high/low extremes, close =
    * latest BY EVENT TIME (not arrival order).
    */
  private def foldTick(cur: Hour, t: Tick, ms: Long): Hour =
    Hour(cur.hourMs, cur.open,
      math.max(cur.high, t.price), math.min(cur.low, t.price),
      if (ms >= cur.closeMs) t.price else cur.close,
      math.max(ms, cur.closeMs), cur.n + 1L)

  class OhlcProcessor extends StatefulProcessor[String, Tick, Candle] {
    @transient private var state: ValueState[Hour] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Hour]("hour",
        Encoders.product[Hour], TTLConfig.NONE)

    private def candle(sym: String, h: Hour): Candle =
      Candle(sym, new Timestamp(h.hourMs), h.open, h.high, h.low,
        h.close, h.n)

    override def handleInputRows(key: String, rows: Iterator[Tick],
        timerValues: TimerValues): Iterator[Candle] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Candle]
      rows.foreach { t =>
        val ms = t.ts.getTime
        val hr = ms - ms % HourMs
        if (!state.exists()) {
          state.update(openHour(hr, t, ms))
          getHandle.registerTimer(hr + HourMs)
        } else {
          val cur = state.get()
          if (hr > cur.hourMs) {
            // the reference's rollover: emit the finished hour now,
            // retire its timer, open the new hour
            out += candle(key, cur)
            getHandle.deleteTimer(cur.hourMs + HourMs)
            state.update(openHour(hr, t, ms))
            getHandle.registerTimer(hr + HourMs)
          } else if (hr == cur.hourMs) {
            state.update(foldTick(cur, t, ms))
          } // hr < cur.hourMs: late past the rollover — dropped
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Candle] = {
      // the watermark passed this hour's end: close it if it is still
      // the open hour (a rollover may already have retired it — the
      // deleteTimer above makes that a non-event, but guard anyway)
      if (state.exists()
          && state.get().hourMs + HourMs == expiredTimerInfo.getExpiryTimeInMs) {
        val c = candle(key, state.get())
        state.clear()
        Iterator.single(c)
      } else Iterator.empty
    }
  }

  /** Ticks streaming with event-time watermark → closed hourly
    * candles, append mode.
    */
  def ohlcStream(ticks: Dataset[Tick]): Dataset[Candle] = {
    import ticks.sparkSession.implicits._
    ticks
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.symbol)
      .transformWithState(new OhlcProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

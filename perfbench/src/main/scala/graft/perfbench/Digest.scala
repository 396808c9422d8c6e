package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The timed action behind every query sample: one job that reads every
  * output column and returns the row count plus an order-insensitive
  * digest. A bare `count()` would let the optimizer prune columns the
  * user pays for; this reads them all.
  *
  * Each row is rendered as JSON (columns renamed by position, so names
  * with dots or duplicates are harmless), hashed with xxhash64, and the
  * hashes are summed exactly as decimals: the sum does not depend on row
  * or partition order, and no long arithmetic can overflow under ANSI.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  /** The one-row aggregate over `df` whose collection is the action. */
  def frame(df: DataFrame): DataFrame = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(positional.columns.map(col).toIndexedSeq: _*)))
    positional.agg(count(lit(1)), sum(h.cast("decimal(20,0)")))
  }

  def read(frame: DataFrame): Result = {
    val row = frame.collect()(0)
    val s = if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1))
    Result(row.getLong(0), s.bigDecimal.toPlainString)
  }

  def of(df: DataFrame): Result = read(frame(df))
}

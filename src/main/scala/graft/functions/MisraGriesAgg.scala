package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType,
  StructField, StructType}

/** Misra–Gries frequent-items summary as a `TypedImperativeAggregate`:
  * at most `capacity` (key, count) counters at every partial, merge,
  * and state-store write — the mergeable-summaries formulation
  * (Agarwal et al., PODS'12): combining two summaries sums counts,
  * then subtracts the (capacity+1)-th largest combined count from
  * every counter and drops the non-positive ones. Guarantees: any key
  * with true frequency > n/(capacity+1) survives, and every reported
  * count undercounts its true frequency by at most n/(capacity+1).
  *
  * Why an aggregate and not `groupBy(key).count()` + top-k: the exact
  * plan's state is O(distinct keys) — per (window, group) in a
  * streaming state store, that is unbounded; this summary is the
  * textbook O(capacity) answer (`streaming/StreamingTopk` S13). In
  * batch the exact two-phase count is usually right (`heavy_hitters`);
  * the summary is for cardinalities where even the per-group count
  * map stops fitting.
  *
  * Determinism: in the NO-EVICTION regime (capacity ≥ distinct keys
  * per group) no subtraction ever fires, counts are exact, and the
  * result is partition-order-free — that regime is what the gated
  * `heavy_hitters_mg` row runs in (the KMV below-k posture). Under
  * eviction the surviving counter SET is a function of merge order
  * (any MG implementation's is); quality is then gated by measured
  * error bounds (SketchQualitySpec), not hashes.
  */
case class MisraGriesAgg(
    key: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Long, Long]] {

  require(capacity >= 1, s"graft_mg needs capacity >= 1, got $capacity")

  override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
    new mutable.HashMap[Long, Long]()

  /** Shrink an over-capacity counter map in place: subtract the
    * (capacity+1)-th largest count from every counter, drop ≤ 0
    * (at most `capacity` strictly-greater counts can remain).
    */
  private def trim(buf: mutable.HashMap[Long, Long]): Unit = {
    if (buf.size <= capacity) return
    val counts = buf.values.toArray
    java.util.Arrays.sort(counts)
    // (capacity+1)-th largest = index size-capacity-1 of the ascending sort
    val d = counts(counts.length - capacity - 1)
    buf.filterInPlace((_, c) => c > d)
    buf.mapValuesInPlace((_, c) => c - d)
  }

  override def update(buf: mutable.HashMap[Long, Long],
      input: InternalRow): mutable.HashMap[Long, Long] = {
    val kv = key.eval(input)
    if (kv != null) {
      val k = kv.asInstanceOf[Long]
      buf.updateWith(k) { case Some(c) => Some(c + 1L); case None => Some(1L) }
      trim(buf)
    }
    buf
  }

  override def merge(a: mutable.HashMap[Long, Long],
      b: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    b.foreach { case (k, c) =>
      a.updateWith(k) { case Some(c0) => Some(c0 + c); case None => Some(c) }
    }
    trim(a)
    a
  }

  /** Full summary ordered (count desc, key asc) — callers slice the
    * top-n they want; the order rule matches the exact top-k family.
    */
  override def eval(buf: mutable.HashMap[Long, Long]): Any =
    new GenericArrayData(buf.toArray
      .sortBy { case (k, c) => (-c, k) }
      .map { case (k, c) => InternalRow(k, c) }
      .toArray[Any])

  override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (k, c) => bb.putLong(k); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.HashMap[Long, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new mutable.HashMap[Long, Long]()
    var i = 0
    while (i < n) { buf.put(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = MisraGriesAgg.schema
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(key)
  override def prettyName: String = "graft_mg"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(key = newChildren(0))
}

object MisraGriesAgg {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  /** Aggregate column: ARRAY<STRUCT<key, cnt>> summary ordered
    * (cnt desc, key asc), at most `capacity` entries.
    */
  def mg(s: SparkSession, key: Column, capacity: Int): Column =
    GraftFunctions.mg(s, key, lit(capacity))
}

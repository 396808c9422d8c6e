package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StructField, StructType}

/** Bounded top-k as a `TypedImperativeAggregate`: the buffer holds AT
  * MOST k (score, id) entries sorted by (score desc, id asc) — the
  * same ranking rule as the window-function top-k family. Exists for
  * the stateful-streaming shape (`streaming/StreamingSimilarity`):
  * a `collect_list` + sort/slice fold buffers EVERY scored candidate
  * per (probe, window) in the state store until the watermark closes
  * the window — O(|corpus|) state and checkpoint bytes per probe for
  * a k-row answer — while this buffer is O(k) at every partial,
  * merge, and state-store write. Batch plans don't need it (the
  * window rank path prunes map-side via WindowGroupLimit), streaming
  * plans can't use window functions at all, so the aggregate is the
  * only shape that serves both.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  require(k >= 1, s"graft_topk needs k >= 1, got $k")

  // (score desc, id asc): a beats b ⇔ higher score, or equal score
  // and lower id
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    new ArrayBuffer[(Double, Long)](k)

  /** Sorted bounded insert — linear scan is optimal at serving-sized
    * k (the buffer is touched once per scored candidate).
    */
  private def insert(buf: ArrayBuffer[(Double, Long)],
      e: (Double, Long)): Unit = {
    if (buf.length == k && !beats(e, buf.last)) return
    var i = buf.length
    while (i > 0 && beats(e, buf(i - 1))) i -= 1
    buf.insert(i, e)
    if (buf.length > k) buf.remove(k)
  }

  override def update(buf: ArrayBuffer[(Double, Long)],
      input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val sv = score.eval(input)
    val iv = id.eval(input)
    if (sv != null && iv != null)
      insert(buf, (sv.asInstanceOf[Double], iv.asInstanceOf[Long]))
    buf
  }

  override def merge(a: ArrayBuffer[(Double, Long)],
      b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    b.foreach(insert(a, _))
    a
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(buf.map { case (s, i) =>
      InternalRow(i, s)
    }.toArray[Any])

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.length * 16)
    bb.putInt(buf.length)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : ArrayBuffer[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ArrayBuffer[(Double, Long)](math.max(n, k))
    var i = 0
    while (i < n) { buf += ((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = TopKAgg.schema
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(score, id)
  override def prettyName: String = "graft_topk"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKAgg {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  /** Aggregate column: ranked ARRAY<STRUCT<vec_id, score>> of the k
    * best (score desc, id asc) entries per group.
    */
  def topk(s: SparkSession, score: Column, id: Column, k: Int): Column =
    GraftFunctions.topk(s, score, id, lit(k))
}

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType,
  LongType, StructField, StructType}

/** Corpus moment sums in ONE compiled aggregation pass: row count,
  * per-dimension coordinate sums, and the d(d+1)/2 upper-triangle
  * second-moment cells — everything PCA / whitening / `embed_gram`
  * needs. Each summand is quantized to integral NANO-units
  * (`floor(v·10⁹ + 0.5)`, the corr_matrix/embed_gram determinism
  * recipe) and accumulated in a primitive `long[]`, so sums are exact,
  * associative, and bit-identical to the declarative
  * explode-cells-then-DECIMAL-sum formulation at any shuffle order —
  * which is what lets the oracle-gated `embed_gram` ride this kernel.
  *
  * Why it exists: the declarative form explodes d(d+1)/2 struct cells
  * per row through two INTERPRETED nested `transform` lambdas before
  * the partial agg eats them — measured 2.1 s at sf0.1 where this
  * buffer does d(d+1)/2 fused multiply-quantize-adds per row inside
  * one codegen'd agg (the Shingle3 story, applied to moments). State
  * is a fixed 1 + d + d(d+1)/2 longs (d=64 ⇒ ~17 KiB) per partial —
  * independent of corpus size.
  *
  * Overflow: |x| ≤ 1 for unit-norm inputs ⇒ |cell| ≤ n·10⁹, so longs
  * hold exact sums to n ≈ 9·10⁹ rows; additions use `Math.addExact`
  * to fail loudly (the PackedPairs fail-fast posture) — past that
  * scale, quantize at micro-units (1e6) or shard the aggregation.
  */
case class GramAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_agg requires array<float>, got ${other.simpleString}")
  }

  // buffer layout: [0] = n; [1..d] = coordinate sums; then the upper
  // triangle row-major: (0,0)..(0,d-1),(1,1)..(1,d-1),...,(d-1,d-1).
  // Sized lazily on first update (d isn't known until data arrives);
  // Array.empty marks "no rows yet" and merges as identity.
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def q(v: Double): Long = math.floor(v * 1e9 + 0.5).toLong

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = child.eval(input)
    if (a == null) return buf
    val arr = a.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      // fail-fast on null ELEMENTS (getFloat would silently read 0.0
      // — the Int8Quantize lesson): a null coordinate has no moment
      // semantics the twin and oracle agree on (their SUM silently
      // drops per-cell products, itself a statistical footgun), so a
      // malformed vector is an error, not a guess
      require(!arr.isNullAt(i),
        s"graft_gram_agg: null element at position $i — moment sums " +
          "need fully-populated vectors (filter or impute first)")
      x(i) = arr.getFloat(i).toDouble; i += 1
    }
    val b =
      if (buf.length != 0) {
        require(buf.length == 1 + d + d * (d + 1) / 2,
          s"graft_gram_agg: mixed embedding dims (buffer for " +
            s"${dimOf(buf.length)} dims, row has $d)")
        buf
      } else new Array[Long](1 + d + d * (d + 1) / 2)
    b(0) = Math.addExact(b(0), 1L)
    i = 0
    while (i < d) { b(1 + i) = Math.addExact(b(1 + i), q(x(i))); i += 1 }
    var idx = 1 + d
    i = 0
    while (i < d) {
      val xi = x(i)
      var j = i
      while (j < d) {
        b(idx) = Math.addExact(b(idx), q(xi * x(j)))
        idx += 1; j += 1
      }
      i += 1
    }
    b
  }

  private def dimOf(len: Int): Int = {
    // len = 1 + d + d(d+1)/2 ⇒ d = (-3 + sqrt(9 + 8(len-1))) / 2
    ((-3 + math.sqrt(9.0 + 8.0 * (len - 1))) / 2).round.toInt
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (b.length == 0) return a
    if (a.length == 0) return b
    require(a.length == b.length,
      s"graft_gram_agg: mixed embedding dims across partials " +
        s"(${dimOf(a.length)} vs ${dimOf(b.length)})")
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  /** struct(n, sums ARRAY<LONG> nano-units, cells
    * ARRAY<STRUCT<i INT, j INT, v LONG>> nano-units).
    */
  override def eval(buf: Array[Long]): Any = {
    if (buf.length == 0) return null
    val d = dimOf(buf.length)
    val sums = new GenericArrayData(
      java.util.Arrays.copyOfRange(buf, 1, 1 + d))
    val cells = new Array[Any](d * (d + 1) / 2)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        cells(idx) = InternalRow(i, j, buf(1 + d + idx))
        idx += 1; j += 1
      }
      i += 1
    }
    InternalRow(buf(0), sums, new GenericArrayData(cells))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.length * 8)
    bb.putInt(buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = GramAgg.schema
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_gram_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): GramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramAgg =
    copy(child = newChildren(0))
}

object GramAgg {
  val schema: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("cells", ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("v", LongType, nullable = false))),
      containsNull = false), nullable = false)))

  /** Aggregate column over an `array<float>` embedding column. */
  def gramAgg(s: SparkSession, emb: Column): Column =
    GraftFunctions.gramAgg(s, emb)
}

package graft.functions

import java.math.{BigInteger, RoundingMode}
import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StructField, StructType}

/** The 15 `corr_matrix` moment sums (n, 4 linear, 10 upper-triangle
  * products) in ONE compiled aggregation pass — the [[GramAgg]] recipe
  * applied to lineitem's four measures. The declarative form summed 14
  * DECIMAL columns (each a boxed BigDecimal add per row per column in
  * the hash aggregate); this buffer does 4 quantizations and 14
  * primitive adds per row with fixed 25-long state.
  *
  * Determinism contract (what keeps the row hash-gated with the oracle
  * unchanged): each measure quantizes to centi-unit longs via
  * `BigDecimal.valueOf(v).setScale(2, HALF_UP)` — bit-identical to
  * Spark's `CAST(double AS DECIMAL(18,2))` (which goes through
  * `BigDecimal.valueOf`, i.e. the SHORTEST decimal rendering of the
  * double, not its exact binary expansion — `floor(v·100+0.5)` would
  * diverge on ties like 0.015 whose nearest double sits below the
  * tie). Products of centi-longs are exact 10⁻⁴-unit integers; linear
  * sums accumulate with `Math.addExact` (loud at ~8·10¹¹ rows of
  * max-range prices) and product cells in 128-bit hi/lo pairs —
  * Σ extendedprice² exceeds 2⁶³ at ~80k rows, which is why [[GramAgg]]'s
  * single-long cells can't carry this kernel. `eval` converts the
  * exact integer sums to double through `BigDecimal.doubleValue`, the
  * same correctly-rounded conversion `CAST(decimal AS DOUBLE)`
  * performs, so the closed-form math downstream sees bit-identical
  * inputs to the decimal formulation at any shuffle order.
  *
  * Null posture: a null measure fails loudly (the GramAgg lesson) —
  * per-column null-skipping SUM under COUNT(*) has no correlation
  * semantics both engines agree on.
  */
case class CorrMomentsAgg(
    measures: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val d = 4
  private val nCells = d * (d + 1) / 2 // 10
  private val bufLen = 1 + d + 2 * nCells // 25

  override def checkInputDataTypes(): TypeCheckResult =
    if (measures.length != d)
      TypeCheckResult.TypeCheckFailure(
        s"graft_corr_moments takes $d measures, got ${measures.length}")
    else measures.find(_.dataType != DoubleType) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"graft_corr_moments requires double measures, got " +
          bad.dataType.simpleString)
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  // CAST(double AS DECIMAL(18,2)) exactly: shortest-decimal rendering
  // then HALF_UP at scale 2 (see class doc). Fast path: away from a
  // .5 tie boundary, plain arithmetic provably agrees with the
  // BigDecimal route — the shortest rendering r satisfies
  // |100r − fl(100v)| ≤ 100·ulp(v)/2 + ulp(100v)/2 < 1e-6 for the
  // measure range, so both sit on the same side of the boundary. The
  // slow path (Double.toString inside BigDecimal.valueOf, ~100× the
  // cost) runs only within 1e-6 of a tie or for negatives — never on
  // clean 2-dp data, always when correctness needs it.
  private def q(v: Double): Long = {
    if (v >= 0) {
      val w = v * 100.0
      val f = Math.floor(w)
      val frac = w - f
      if (frac < 0.4999990) return f.toLong
      if (frac > 0.5000010) return f.toLong + 1L
    }
    java.math.BigDecimal.valueOf(v).setScale(2, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val x = new Array[Long](d)
    var i = 0
    while (i < d) {
      val v = measures(i).eval(input)
      require(v != null,
        s"graft_corr_moments: null measure at position $i — moment " +
          "sums need fully-populated rows (filter or impute first)")
      x(i) = q(v.asInstanceOf[Double])
      i += 1
    }
    buf(0) = Math.addExact(buf(0), 1L)
    i = 0
    while (i < d) { buf(1 + i) = Math.addExact(buf(1 + i), x(i)); i += 1 }
    var cell = 0
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        // per-row product ≤ (1.05e7)² ≈ 1.1e14 — fits a long; the SUM
        // is what needs 128 bits
        val p = Math.multiplyExact(x(i), x(j))
        val loIdx = 1 + d + 2 * cell + 1
        val hiIdx = 1 + d + 2 * cell
        val lo = buf(loIdx)
        val nl = lo + p
        // measures are non-negative ⇒ p ∈ [0, 2⁶³): unsigned carry iff
        // the sum wrapped below the old low word
        if (java.lang.Long.compareUnsigned(nl, lo) < 0)
          buf(hiIdx) = Math.addExact(buf(hiIdx), 1L)
        buf(loIdx) = nl
        cell += 1; j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 1 + d) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    var cell = 0
    while (cell < nCells) {
      val hiIdx = 1 + d + 2 * cell
      val loIdx = hiIdx + 1
      val lo = a(loIdx)
      val nl = lo + b(loIdx)
      val carry =
        if (java.lang.Long.compareUnsigned(nl, lo) < 0 ||
            java.lang.Long.compareUnsigned(nl, b(loIdx)) < 0) 1L else 0L
      a(loIdx) = nl
      a(hiIdx) = Math.addExact(Math.addExact(a(hiIdx), b(hiIdx)), carry)
      cell += 1
    }
    a
  }

  /** struct(n DOUBLE, s ARRAY<DOUBLE>(4), p ARRAY<DOUBLE>(10)) — the
    * exact doubles `CAST(SUM(decimal) AS DOUBLE)` would produce; p is
    * the upper triangle row-major (0,0)..(0,3),(1,1)..(3,3).
    */
  override def eval(buf: Array[Long]): Any = {
    val s = new Array[Any](d)
    var i = 0
    while (i < d) {
      s(i) = new java.math.BigDecimal(
        BigInteger.valueOf(buf(1 + i)), 2).doubleValue()
      i += 1
    }
    val p = new Array[Any](nCells)
    var cell = 0
    while (cell < nCells) {
      val hi = buf(1 + d + 2 * cell)
      val lo = buf(1 + d + 2 * cell + 1)
      val m = BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
      p(cell) = new java.math.BigDecimal(m, 4).doubleValue()
      cell += 1
    }
    InternalRow(buf(0).toDouble,
      new GenericArrayData(s), new GenericArrayData(p))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = CorrMomentsAgg.schema
  override def nullable: Boolean = true
  override def children: Seq[Expression] = measures
  override def prettyName: String = "graft_corr_moments"

  override def withNewMutableAggBufferOffset(newOffset: Int): CorrMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CorrMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CorrMomentsAgg =
    copy(measures = newChildren)
}

object CorrMomentsAgg {
  val schema: DataType = StructType(Seq(
    StructField("n", DoubleType, nullable = false),
    StructField("s", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("p", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Aggregate column over four double measure columns. */
  def corrMoments(s: SparkSession, m1: Column, m2: Column, m3: Column,
      m4: Column): Column =
    GraftFunctions.corrMoments(s, m1, m2, m3, m4)
}

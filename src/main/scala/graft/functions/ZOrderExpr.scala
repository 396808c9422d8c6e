package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton / Z-order key: bit-interleave of two 21-bit dimensions into
  * one 42-bit long — the space-filling-curve clustering key behind
  * multi-dimensional data layout (Orenstein & Merrett '84; the same
  * scheme Delta/Iceberg OPTIMIZE ZORDER uses). Sorting or
  * range-partitioning a 100 TB table by `z(x, y)` co-locates rows
  * that are close in BOTH dimensions, so a predicate box on (x, y)
  * prunes to the few files whose z-ranges intersect it — where a
  * single-column sort layout prunes on one dimension and scans the
  * full width of the other (ZOrderSpec measures exactly that
  * difference on range partitions standing in for files).
  *
  * Callers map each dimension into [0, 2²¹) first (truncate, bucket,
  * or scale — layout keys need ordering fidelity, not precision);
  * inputs are masked to 21 bits, so out-of-range values wrap rather
  * than corrupt neighbors' bits. One static call per row inside
  * whole-stage codegen; the pure-integer output hash-gates
  * (`zorder_layout`'s DuckDB oracle replays the interleave as a
  * 21-term shift/mask sum).
  */
case class ZOrderExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrderExpr.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.functions.ZOrderExpr.interleave($x, $y)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZOrderExpr = copy(left = newLeft, right = newRight)
}

object ZOrderExpr {
  /** Bits kept per dimension: 2·21 = 42 result bits, sign-safe. */
  val DimBits = 21
  private val Mask = (1L << DimBits) - 1L

  /** x occupies even bit positions, y odd — z = Σᵢ ((x>>i)&1)<<2i
    * | ((y>>i)&1)<<(2i+1). The loop form (not magic-number spread)
    * keeps the Scala, the SQL oracle, and the spec twin visibly the
    * same arithmetic.
    */
  def interleave(x0: Long, y0: Long): Long = {
    val x = x0 & Mask
    val y = y0 & Mask
    var z = 0L
    var i = 0
    while (i < DimBits) {
      z |= ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Column form: z-order key of two long dimensions (each masked to
    * 21 bits).
    */
  def zorder(s: SparkSession, x: Column, y: Column): Column =
    GraftFunctions.zorder(s, x, y)
}

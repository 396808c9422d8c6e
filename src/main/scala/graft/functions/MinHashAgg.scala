package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature sketch as a `TypedImperativeAggregate` (SURVEY §7
  * custom piece for E18-at-scale): one mutable `Array[Long]` buffer of
  * `numHashes` running minima per group, updated in a single pass —
  * the sketch-shaped alternative to 32 separate `min(...)` aggregate
  * columns (identical permutation constants, identical signatures).
  *
  * Same modular permutation family as `LlmTextOps.dedupMinhash`:
  * h_p = ((h mod P)·a_p + b_p) mod Q with a_p = 2654435761 + 2p,
  * b_p = 40503·p, P = 1e9+7, Q = 2^32+15 — products stay below 2^63,
  * so ANSI mode can't overflow.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int = 32,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val P = MinHash32.P
  private val Q = MinHash32.Q

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val hp = { val m = h % P; if (m < 0) m + P else m }
      var p = 0
      while (p < numHashes) {
        val perm = (hp * (2654435761L + 2L * p) + 40503L * p) % Q
        if (perm < buf(p)) buf(p) = perm
        p += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var p = 0
    while (p < numHashes) { if (b(p) < a(p)) a(p) = b(p); p += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_minhash"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

/** Map-side twin of `MinHashAgg`: the 32-minimum signature computed
  * directly from a document's (distinct) shingle-string ARRAY in one
  * compiled per-row pass — zero shuffle, where the aggregate form
  * needs the shingles exploded and grouped first. Same permutation
  * family and the same element hash as SQL `xxhash64` (XXH64, seed
  * 42), so both forms produce identical signatures
  * (`MinHashAggSpec` pins the equivalence). Use this on array-shaped
  * corpora (the 100 TB read path: signatures as a projection of the
  * document scan); use the aggregate when rows arrive pre-exploded
  * or incrementally (grouped/streaming shapes).
  */
case class MinHash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash32_arr"

  override def nullSafeEval(input: Any): Any =
    MinHash32.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    // the loop lives in compiled Scala (MinHash32.compute); the
    // generated code makes one static-dispatch call per row, staying
    // inside whole-stage codegen
    defineCodeGen(ctx, ev, a => s"graft.functions.MinHash32.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}

object MinHash32 {
  val P = 1000000007L
  val Q = 4294967311L

  /** 32 running minima over the permuted XXH64 hashes of the array's
    * strings. Null elements are skipped (shingle arrays never carry
    * them; defensive only).
    */
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
    val out = Array.fill(32)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(s, 42L)
        val m = h % P
        val hp = if (m < 0) m + P else m
        var p = 0
        while (p < 32) {
          val perm = (hp * (2654435761L + 2L * p) + 40503L * p) % Q
          if (perm < out(p)) out(p) = perm
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhash32FromSet(s: SparkSession, shingles: Column): Column =
    GraftFunctions.minhash32Arr(s, shingles)
}

object MinHashAgg {
  /** Aggregate column: 32-long MinHash signature of a LongType hash
    * column.
    */
  def minhash32(s: SparkSession, hashCol: Column): Column =
    GraftFunctions.minhash32(s, hashCol)
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot paths.
  *
  * The built-in higher-order functions (`zip_with` + `aggregate`) are
  * *interpreted* per element — at sf0.1 the all-pairs cosine
  * (2M pairs × 64 dims × 3 folds) costs ~65 s. These expressions run
  * the same arithmetic as a whole-stage-codegen'd tight loop.
  *
  * Determinism contract (must match the DuckDB oracle SQL): ascending
  * index order, each float widened to double *before* the multiply,
  * plain sequential accumulation. That keeps results bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)), 0D, +)`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are array<float> columns; call sites are internal (VectorExprs)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName everything: with non-nullable inputs the generated
      // snippet is inlined without a scoping block, so fixed local
      // names collide when the expression appears twice in one stage
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over an array of pre-hashed tokens (BIGINT): bit b
  * of the signature is set iff more token hashes have bit b set than
  * clear. One compiled pass per row instead of 64 interpreted
  * `aggregate` folds.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  // input is an array<bigint> column of pre-hashed tokens
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // freshName locals — see DotProduct.doGenCode
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val b2 = ctx.freshName("b2")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b2 = 0; $b2 < 64; $b2++) {
         |  if ($counts[$b2] > 0) $sig |= (1L << $b2);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit SimHash over PORTABLE token hashes — the oracle-visible twin
  * of [[SimHash64]]. Bit b (0 ≤ b < 60) of the signature is the
  * majority vote over tokens of the derived bit
  * `(h * (2b+3)) % 1000003 % 2` (ties → 0): every operation is plain
  * modular integer arithmetic on values far below 2⁶³, so DuckDB
  * reproduces the signature bit-for-bit in SQL — which is what lets
  * `dedup_simhash_portable` be hash-gated end-to-end. 60 bits (not
  * 64) keep the signature positive and every `1 << b` overflow-free
  * in ANSI engines; the derivation spreads the low-entropy portable
  * token codes across all 60 bits (raw-bit majority of [[SimHash64]]
  * would collapse on them: the top 40+ bits of every code are zero).
  */
case class PortableSimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60_portable"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprs.requireLongArray(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    PortableSimHash60.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.PortableSimHash60.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): PortableSimHash60 = copy(child = newChild)
}

object PortableSimHash60 {
  def compute(th: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = th.numElements()
    var sig = 0L
    var b = 0
    while (b < 60) {
      val m = 2L * b + 3L
      var count = 0
      var i = 0
      while (i < n) {
        // h ≤ ~1.9e10 (code points reach 0x10FFFF; the token-hash
        // arithmetic is widened to 64-bit), m ≤ 121: the product
        // stays far under 2^63 — identical in ANSI SQL
        if ((th.getLong(i) * m) % 1000003L % 2L == 1L) count += 1
        else count -= 1
        i += 1
      }
      if (count > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash60Portable(s: SparkSession, tokenHashes: Column): Column =
    GraftFunctions.simhash60Portable(s, tokenHashes)
}

/** Byte-level feature stats of a binary payload in one compiled pass:
  * `struct(n_bytes INT, byte_sum BIGINT, frames ARRAY<INT>)` where
  * `frames` samples every stride-th byte (stride = max(1, n/8), at
  * most 8 samples, each 0–255) — the frame-sample signal of the
  * multimodal kernels. Replaces a typed `Dataset.map` +
  * `Encoders.row` round-trip (full row deserialization per payload)
  * with a whole-stage-codegen'd scalar: the deterministic arithmetic
  * is also exactly expressible in the DuckDB oracle (hex-digit byte
  * extraction), which is what lets `multimodal_features` /
  * `multimodal_batch_features` be oracle-gated rather than
  * rows-only-checked.
  */
case class ByteStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ByteStats.schema
  override def prettyName: String = "graft_byte_stats"

  // the compute helper casts straight to Array[Byte]: anything but
  // binary would surface as a runtime ClassCastException mid-job —
  // reject at analysis time instead (same posture as requireLongArray
  // on the pair expressions)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires binary, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    ByteStats.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // loop lives in compiled Scala; one static call per row keeps the
    // expression inside whole-stage codegen (see Shingle3)
    defineCodeGen(ctx, ev, a => s"graft.functions.ByteStats.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): ByteStats =
    copy(child = newChild)
}

/** dHash-style 60-bit perceptual signature of a binary payload in one
  * compiled pass: probe bytes at 61 fixed fractional positions
  * (0-based p_i = i·(n−1) div 60), bit i = probe_i > probe_{i+1}
  * (unsigned). The native twin of `multimodal_phash`'s hex-extraction
  * formulation — the declarative form pays hex() + 61 substring/conv
  * string ops per row; this is 61 array reads. The DuckDB oracle
  * keeps the INDEPENDENT hex formulation, so the cross-engine gate
  * also witnesses this kernel.
  */
case class Phash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash60"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires binary, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Phash60.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Phash60.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Phash60 =
    copy(child = newChild)
}

object Phash60 {
  /** Signature width — matches LlmVectorOps.phashBits (60 keeps the
    * value in a non-negative LONG on both engines).
    */
  val Bits = 60

  def compute(bytes: Array[Byte]): Long = {
    val n = bytes.length
    // empty payload: the declarative form's probes go NULL and every
    // CASE falls to 0 — mirror that as the all-zero signature
    if (n == 0) return 0L
    var sig = 0L
    var i = 0
    while (i < Bits) {
      val a = bytes((i.toLong * (n - 1) / Bits).toInt) & 0xff
      val b = bytes(((i + 1).toLong * (n - 1) / Bits).toInt) & 0xff
      if (a > b) sig |= (1L << i)
      i += 1
    }
    sig
  }

  def phash60(s: SparkSession, payload: Column): Column =
    GraftFunctions.phash60(s, payload)
}

object ByteStats {
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("byte_sum", LongType, nullable = false),
    StructField("frames", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  def compute(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = bytes.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += bytes(i) & 0xff; i += 1 }
    val stride = math.max(1, n / 8)
    // number of indices 0, stride, 2*stride, … below n, capped at 8
    val nf = if (n == 0) 0 else math.min(8, (n + stride - 1) / stride)
    val frames = new Array[Any](nf)
    var k = 0
    while (k < nf) { frames(k) = bytes(k * stride) & 0xff; k += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, sum, new org.apache.spark.sql.catalyst.util.GenericArrayData(frames)))
  }

  def byteStats(s: SparkSession, payload: Column): Column =
    GraftFunctions.byteStats(s, payload)
}

/** Per-vector int8 symmetric quantization in one compiled pass:
  * `struct(scale DOUBLE, q ARRAY<FLOAT>)` with `scale = 127/max|x|`
  * (0 for the all-zero vector) and `q_i = floor(x_i·scale + 0.5)`.
  * Replaces three higher-order-function passes (two `transform`s +
  * `array_max`) that would sit outside whole-stage codegen in the
  * quantized-scan hot path — at 100 TB the quantized corpus scan is
  * the point of quantizing, so the kernel must stay compiled. The
  * floor(+0.5) form is the same IEEE op sequence as the DuckDB
  * oracle (Determinism.r6 rationale); codes are integral in
  * [-127, 127], lossless in FLOAT.
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Int8Quantize.schema
  // null elements propagate to a null result (see compute), so the
  // expression is nullable even over a non-nullable child
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int8_quantize"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Int8Quantize.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
       |${ev.value} = graft.functions.Int8Quantize.compute($a);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): Int8Quantize = copy(child = newChild)
}

object Int8Quantize {
  import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def compute(xs: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = xs.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      // a null element would silently read as 0.0f through getFloat —
      // propagate null for the whole result instead (the built-in
      // array-function contract); parquet list schemas are
      // containsNull=true even when data never is, so an
      // analysis-time reject would break every real table
      if (xs.isNullAt(i)) return null
      val v = math.abs(xs.getFloat(i).toDouble)
      if (v > amax) amax = v
      i += 1
    }
    val scale = if (amax > 0.0) 127.0 / amax else 0.0
    // primitive float[] → UnsafeArrayData: no per-element boxing on
    // the quantized-scan hot path
    val q = new Array[Float](n)
    i = 0
    while (i < n) {
      q(i) = math.floor(xs.getFloat(i).toDouble * scale + 0.5).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(q)))
  }

  def int8Quantize(s: SparkSession, emb: Column): Column =
    GraftFunctions.int8Quantize(s, emb)
}

/** Packs integral int8 codes (the `q` array of [[Int8Quantize]],
  * values in [-127, 127]) into a BINARY of one signed byte per
  * dimension — the true 4× storage form: a 64-d vector is 64 bytes
  * on disk instead of 256 (parquet stores array<float> codes at full
  * float width; binary is what actually shrinks the corpus). The
  * inverse is implicit: byte i IS code i.
  */
case class Int8Pack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  // null elements propagate to a null result (see compute)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int8_pack"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Int8Pack.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
       |${ev.value} = graft.functions.Int8Pack.compute($a);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): Int8Pack = copy(child = newChild)
}

object Int8Pack {
  def compute(xs: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n = xs.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null // null element → null result
      val v = xs.getFloat(i)
      // codes are integral in [-127, 127] by construction; clamp to
      // the SAME symmetric envelope rather than wrap if a caller
      // feeds raw floats (-128 would escape the documented range and
      // over-range symmetric dequantization)
      val c = if (v > 127f) 127f else if (v < -127f) -127f else v
      out(i) = c.toByte
      i += 1
    }
    out
  }

  def int8Pack(s: SparkSession, codes: Column): Column =
    GraftFunctions.int8Pack(s, codes)
}

/** Integer dot product straight over two packed int8 code vectors
  * ([[Int8Pack]] BINARYs) — the quantized-scan kernel: no unpack, no
  * float array materialization, one compiled byte loop per pair.
  * Products ≤ 127² and 64-dim sums stay far under 2⁵³, so the DOUBLE
  * result is EXACT — which is what keeps the packed silver path
  * equality-pinned to the oracle-gated `similarity_topk_q8`.
  */
case class Int8DotBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_int8_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType,
            org.apache.spark.sql.types.BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (binary, binary), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Int8DotBytes.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Int8DotBytes.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8DotBytes =
    copy(left = newLeft, right = newRight)
}

object Int8DotBytes {
  def compute(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0L // integer accumulation — exact, order-free
    var i = 0
    while (i < n) {
      acc += a(i).toLong * b(i).toLong
      i += 1
    }
    acc.toDouble
  }

  def int8Dot(s: SparkSession, a: Column, b: Column): Column =
    GraftFunctions.int8Dot(s, a, b)
}

/** Broadcast-corpus cosine scan: one call per vector row computes its
  * cosine against EVERY vector of a corpus array (struct<vec_id,
  * embedding, norm>, built once by `collect_list` and broadcast) and
  * returns either the top-k neighbor ids (k > 0; (score desc, id asc)
  * total order, self excluded) or every id > selfId whose r6 score
  * clears `cut` (k = 0; the i<j pair form). This is the compiled
  * replacement for the n² self-JOIN the quadratic baselines
  * (`pagerank_docs`' kNN build, `dedup_embed`) used to run: the join
  * materialized ~n² wide rows (two float arrays + norms each) through
  * the nested-loop output just to reduce them immediately, which cost
  * more in row copying than in arithmetic. Here the pair space never
  * materializes — the loop touches the broadcast corpus bytes in
  * place (measured 2.0 s → ~0.2 s for the 4M-pair scan at sf0.1).
  *
  * The score arithmetic is byte-identical to the join form (ascending
  * index order, float widened to double before the multiply, one
  * division, the r6 fence), so consumers' DuckDB oracles are
  * unchanged. Scale posture: these rows are the DOCUMENTED quadratic
  * baselines — at 100 TB the ANN rows are the path and this scan is
  * what they're measured against; the corpus array is O(n·dim) bytes
  * broadcast once, the same order the join's build side already
  * shipped.
  */
case class CosineScan(
    emb: Expression, norm: Expression, selfId: Expression,
    corpus: Expression, kExpr: Expression, cutExpr: Expression)
  extends Expression {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.ArrayType

  override def children: Seq[Expression] =
    Seq(emb, norm, selfId, corpus, kExpr, cutExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cosine_scan"

  private lazy val k: Int = kExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => other.toString.toInt
  }
  private lazy val cut: Double = cutExpr.eval(null) match {
    case d: Double => d
    case f: Float => f.toDouble
    case other => other.toString.toDouble
  }

  override def eval(input: InternalRow): Any =
    CosineScan.scan(
      emb.eval(input).asInstanceOf[ArrayData],
      norm.eval(input).asInstanceOf[Double],
      selfId.eval(input).asInstanceOf[Long],
      corpus.eval(input).asInstanceOf[ArrayData], k, cut)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val e = emb.genCode(ctx)
    val n = norm.genCode(ctx)
    val sid = selfId.genCode(ctx)
    val c = corpus.genCode(ctx)
    ev.copy(
      code = e.code + n.code + sid.code + c.code +
        code"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  graft.functions.CosineScan.scan(${e.value}, ${n.value},
           |    ${sid.value}, ${c.value}, $k, ${cut}D);
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0), norm = newChildren(1),
      selfId = newChildren(2), corpus = newChildren(3),
      kExpr = newChildren(4), cutExpr = newChildren(5))
}

object CosineScan {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  private[functions] def score1(e: ArrayData, nrm: Double,
      row: InternalRow): Double = {
    val v = row.getArray(1)
    val len = math.min(e.numElements(), v.numElements())
    var acc = 0.0
    var t = 0
    while (t < len) {
      acc += e.getFloat(t).toDouble * v.getFloat(t).toDouble
      t += 1
    }
    math.floor(acc / (nrm * row.getDouble(2)) * 1e6 + 0.5) / 1e6
  }

  def scan(e: ArrayData, nrm: Double, self: Long, corp: ArrayData,
      k: Int, cut: Double): ArrayData = {
    val n = corp.numElements()
    if (k > 0) {
      // bounded best-first insertion under (score desc, id asc)
      val ids = new Array[Long](k)
      val scs = new Array[Double](k)
      var m = 0
      var ci = 0
      while (ci < n) {
        val row = corp.getStruct(ci, 3)
        val id = row.getLong(0)
        if (id != self) {
          val score = score1(e, nrm, row)
          if (m < k || score > scs(m - 1) ||
              (score == scs(m - 1) && id < ids(m - 1))) {
            var i = if (m < k) m else k - 1
            while (i > 0 && (score > scs(i - 1) ||
                (score == scs(i - 1) && id < ids(i - 1)))) {
              scs(i) = scs(i - 1); ids(i) = ids(i - 1); i -= 1
            }
            scs(i) = score; ids(i) = id
            if (m < k) m += 1
          }
        }
        ci += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(ids, m))
    } else {
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      var ci = 0
      while (ci < n) {
        val row = corp.getStruct(ci, 3)
        val id = row.getLong(0)
        if (id > self && score1(e, nrm, row) >= cut) buf += id
        ci += 1
      }
      UnsafeArrayData.fromPrimitiveArray(buf.result())
    }
  }
}

/** [[CosineScan]]'s SCORED top-k form: array<struct<id, score>>
  * instead of bare ids — for consumers that MERGE partial top-ks
  * across several scans (the routed kNN edge build runs one scan per
  * probed inverted list and re-ranks the union; without the score the
  * merge would need a second lookup join per candidate). Same
  * insertion sort, same r6-gridded [[CosineScan.score1]] arithmetic,
  * same (score desc, id asc) total order — a k-covering union of
  * scored partials re-ranked under that order is EXACTLY the one-pass
  * scan's answer, which is what makes the full-probe routed edge set
  * equal the exact scan's (KnnRoutingSpec).
  */
case class CosineScanScored(
    emb: Expression, norm: Expression, selfId: Expression,
    corpus: Expression, kExpr: Expression)
  extends Expression {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

  override def children: Seq[Expression] =
    Seq(emb, norm, selfId, corpus, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cosine_scan_scored"

  private lazy val k: Int = kExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => other.toString.toInt
  }

  override def eval(input: InternalRow): Any =
    CosineScanScored.scan(
      emb.eval(input).asInstanceOf[ArrayData],
      norm.eval(input).asInstanceOf[Double],
      selfId.eval(input).asInstanceOf[Long],
      corpus.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val e = emb.genCode(ctx)
    val n = norm.genCode(ctx)
    val sid = selfId.genCode(ctx)
    val c = corpus.genCode(ctx)
    ev.copy(
      code = e.code + n.code + sid.code + c.code +
        code"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  graft.functions.CosineScanScored.scan(${e.value}, ${n.value},
           |    ${sid.value}, ${c.value}, $k);
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0), norm = newChildren(1),
      selfId = newChildren(2), corpus = newChildren(3),
      kExpr = newChildren(4))
}

object CosineScanScored {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def scan(e: ArrayData, nrm: Double, self: Long, corp: ArrayData,
      k: Int): ArrayData = {
    val n = corp.numElements()
    val bound = math.min(k, math.max(0, n))
    // k <= 0 (or an empty corpus) is an empty top-k, not a crash: the
    // function is SQL-exposed (graft_cosine_scan_scored), so a
    // user-supplied k must not index scs(-1) or size a negative array
    if (bound <= 0) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](bound)
    val scs = new Array[Double](bound)
    var m = 0
    var ci = 0
    while (ci < n) {
      val row = corp.getStruct(ci, 3)
      val id = row.getLong(0)
      if (id != self) {
        val score = CosineScan.score1(e, nrm, row)
        if (m < bound || score > scs(m - 1) ||
            (score == scs(m - 1) && id < ids(m - 1))) {
          var i = if (m < bound) m else bound - 1
          while (i > 0 && (score > scs(i - 1) ||
              (score == scs(i - 1) && id < ids(i - 1)))) {
            scs(i) = scs(i - 1); ids(i) = ids(i - 1); i -= 1
          }
          scs(i) = score; ids(i) = id
          if (m < bound) m += 1
        }
      }
      ci += 1
    }
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = new GenericInternalRow(
        Array[Any](ids(i), scs(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Column-level entry points: each installs its function from
  * [[GraftFunctions]] and calls it by name (`call_function`).
  */
object VectorExprs {
  def dot(s: SparkSession, a: Column, b: Column): Column =
    GraftFunctions.dot(s, a, b)

  /** Top-k neighbor ids of `emb` against the broadcast `corpus`
    * array (see [[CosineScan]]); (score desc, id asc) rank order.
    */
  def cosineKnn(s: SparkSession, emb: Column, norm: Column,
      selfId: Column, corpus: Column, k: Int): Column =
    GraftFunctions.cosineScan(s, emb, norm, selfId, corpus,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(0.0))

  /** Top-k (id, score) neighbor structs of `emb` against the
    * broadcast `corpus` array (see [[CosineScanScored]]); (score
    * desc, id asc) rank order, self excluded.
    */
  def cosineKnnScored(s: SparkSession, emb: Column, norm: Column,
      selfId: Column, corpus: Column, k: Int): Column =
    GraftFunctions.cosineScanScored(s, emb, norm, selfId, corpus,
      org.apache.spark.sql.functions.lit(k))

  /** Ids j > selfId whose r6 cosine against `emb` clears `cut` (the
    * i<j pair form of [[CosineScan]]).
    */
  def cosineCut(s: SparkSession, emb: Column, norm: Column,
      selfId: Column, corpus: Column, cut: Double): Column =
    GraftFunctions.cosineScan(s, emb, norm, selfId, corpus,
      org.apache.spark.sql.functions.lit(0),
      org.apache.spark.sql.functions.lit(cut))

  def simhash64(s: SparkSession, tokenHashes: Column): Column =
    GraftFunctions.simhash64(s, tokenHashes)
}

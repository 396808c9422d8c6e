package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions for the shingle hot path.
  *
  * `Shingle3` computes the distinct space-joined 3-token shingles of a
  * token array in one compiled pass — byte-for-byte the same strings,
  * in the same first-occurrence order, as the declarative form
  *
  * {{{ array_distinct(transform(sequence(0, size(toks) - 3),
  *       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) }}}
  *
  * which Spark evaluates as an *interpreted* per-element lambda: on the
  * dedup corpus that one expression dominated the whole shingle family
  * (three queries × two plan branches × ~100 lambda evals per doc).
  * Returns an empty array for arrays with fewer than 3 tokens (the
  * declarative form needs an explicit size guard to avoid the
  * descending-sequence trap).
  */
case class Shingle3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle3"

  override def nullSafeEval(input: Any): Any =
    Shingle3.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // loop lives in compiled Scala; one static call per row keeps the
    // expression inside whole-stage codegen
    defineCodeGen(ctx, ev, a => s"graft.functions.Shingle3.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Shingle3 =
    copy(child = newChild)
}

object Shingle3 {
  private[functions] val SPACE = UTF8String.fromString(" ")

  /** Distinct n-gram join of the token array, first-occurrence order.
    * `UTF8String.concatWs` skips null inputs — the same semantics as
    * SQL `concat_ws` (the tokenizer `split` never yields nulls, so
    * this is parity, not a behavior choice).
    */
  private[functions] def computeN(toks: ArrayData, gram: Int): GenericArrayData = {
    val n = toks.numElements()
    if (n < gram) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    val win = new Array[UTF8String](gram)
    var i = 0
    while (i <= n - gram) {
      var j = 0
      while (j < gram) { win(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(SPACE, win: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  def compute(toks: ArrayData): GenericArrayData = computeN(toks, 3)

  def shingle3(s: SparkSession, tokens: Column): Column =
    GraftFunctions.shingle3(s, tokens)
}

/** Distinct 2-gram (bigram) strings of a token array — the compiled
  * form of the `array_distinct(transform(sequence…, concat_ws))`
  * lambda in the collocation-profile pass (`ngram_stats`).
  */
case class Bigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams"

  override def nullSafeEval(input: Any): Any =
    Bigrams.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Bigrams.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

object Bigrams {
  def compute(toks: ArrayData): GenericArrayData = Shingle3.computeN(toks, 2)

  def bigrams(s: SparkSession, tokens: Column): Column =
    GraftFunctions.bigrams(s, tokens)
}

/** ALL adjacent bigram occurrences, space-joined, in document order —
  * the non-distinct sibling of [[Bigrams]] for operators that count
  * OCCURRENCES rather than document frequencies (`cooccurrence_pmi`'s
  * joint counts). Same compiled one-call-per-row shape as the rest of
  * the shingle family; an interpreted `transform(sequence…)` lambda
  * here would re-open the hot-loop cost the family was compiled to
  * close.
  */
case class BigramsAll(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams_all"

  override def nullSafeEval(input: Any): Any =
    BigramsAll.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BigramsAll.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): BigramsAll =
    copy(child = newChild)
}

object BigramsAll {
  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.concatWs(Shingle3.SPACE,
        toks.getUTF8String(i), toks.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def bigramsAll(s: SparkSession, tokens: Column): Column =
    GraftFunctions.bigramsAll(s, tokens)
}

/** Distinct 3-token shingles as 64-bit XXH64 hashes (seed 42 — the
  * same element hash as SQL `xxhash64`), in one compiled pass. The
  * posting-list branch of the near-dup pipeline never needs the
  * shingle STRINGS — only their identity — so hashing map-side shrinks
  * the posting-list shuffle key from a ~20-byte string to 8 bytes and
  * makes the aggregate's key hashing/equality a long compare. Distinct
  * is taken over the hashes: a same-document collision (~k²/2⁶⁵) would
  * merge two shingles, the same accepted-odds posture as
  * `dedup_exact_digest`'s content digest; for adversarial corpora
  * substitute a 128-bit hash.
  */
case class ShingleHash3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash3"

  override def nullSafeEval(input: Any): Any =
    ShingleHash3.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.ShingleHash3.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash3 =
    copy(child = newChild)
}

object ShingleHash3 {
  private val SPACE = UTF8String.fromString(" ")

  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long](n * 2)
    var i = 0
    while (i <= n - 3) {
      val sh = UTF8String.concatWs(SPACE, toks.getUTF8String(i),
        toks.getUTF8String(i + 1), toks.getUTF8String(i + 2))
      seen.add(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(sh, 42L))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  def shingleHash3(s: SparkSession, tokens: Column): Column =
    GraftFunctions.shingleHash3(s, tokens)
}

/** The portable 16-permutation MinHash signature of a token-hash
  * array, in one compiled pass — the native twin of the interpreted
  * HOF chain in `dedup_minhash_portable`
  * (`operators/LlmTextOps.scala`): 3-shingle combine
  * `(th[i]·131 + th[i+1])·131 + th[i+2]` then, per permutation
  * m ∈ [0,16), `min((2m+3)·sh + 7m+1 mod 10¹²+37)` over all
  * shingles. Two deliberate equivalences to the SQL form (pinned
  * byte-equal in TextExprsSpec, and the DuckDB oracle still replays
  * the SQL formulation independently):
  *   - no `array_distinct`: min over duplicates equals min over the
  *     distinct set, so the dedupe pass is pure overhead here;
  *   - shingle and perm arithmetic use the same budgeted ranges
  *     (sh ≤ ~3.4·10¹⁴, products ≤ ~1.1·10¹⁶ < 2⁶³), so plain Java
  *     `%` on non-negative operands matches ANSI `mod` exactly.
  * The interpreted form invoked a lambda per token per permutation
  * (16× per-element overhead); this is a tight primitive double loop
  * inside whole-stage codegen. Token hashes stay in SQL: their
  * `ascii`/`length` semantics belong to the engine dialect and cost
  * one lambda per token, not sixteen.
  */
case class PortableMinHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash16_portable"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprs.requireLongArray(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    PortableMinHash16.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PortableMinHash16.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): PortableMinHash16 = copy(child = newChild)
}

object PortableMinHash16 {
  private val PermMod = 1000000000037L // ~10¹², permuted hash range

  def compute(th: ArrayData): GenericArrayData = {
    val n = th.numElements()
    // init = the SQL aggregate's 2⁶³−1 seed: a doc with no complete
    // shingle (n < 3 — filtered upstream, but total here) yields the
    // same sentinel signature the SQL form would
    val mins = Array.fill[Long](16)(Long.MaxValue)
    var i = 0
    while (i <= n - 3) {
      val sh = (th.getLong(i) * 131L + th.getLong(i + 1)) * 131L +
        th.getLong(i + 2)
      var m = 0
      while (m < 16) {
        val p = ((2L * m + 3L) * sh + 7L * m + 1L) % PermMod
        if (p < mins(m)) mins(m) = p
        m += 1
      }
      i += 1
    }
    val out = new Array[Any](16)
    var k = 0
    while (k < 16) { out(k) = mins(k); k += 1 }
    new GenericArrayData(out)
  }

  def minhash16Portable(s: SparkSession, tokenHashes: Column): Column =
    GraftFunctions.minhash16Portable(s, tokenHashes)
}

/** The portable per-token hash array of a token-string array, in one
  * compiled pass — the native twin of the interpreted
  * `transform(toks, t -> ascii(t)·17161 + ascii(reverse(t))·131 +
  * length(t))` chain both portable-signature rows
  * (`dedup_minhash_portable`, `dedup_simhash_portable`) feed their
  * signature kernels. Replicated SQL semantics, probed against the
  * engine and spec-pinned byte-equal (TextExprsSpec, incl.
  * supplementary-plane chars):
  *   - `ascii(t)` = FULL code point of the first character (to
  *     0x10FFFF — `String.codePointAt`, surrogate-aware);
  *   - `ascii(reverse(t))` = code point of the LAST character
  *     (`codePointBefore` — Spark's reverse is code-point-aware, so
  *     the reversal itself never needs to materialize);
  *   - `length(t)` = CHARACTER count (`codePointCount`, not UTF-16
  *     units — an emoji counts 1);
  *   - empty token → 0 (ascii('') = 0 in both engines).
  * One expression call per row (loop inside) instead of one lambda
  * invocation per token.
  */
case class PortableTokenHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_token_hash_portable"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    PortableTokenHash.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.PortableTokenHash.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): PortableTokenHash = copy(child = newChild)
}

object PortableTokenHash {
  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val str = toks.getUTF8String(i).toString
      out(i) =
        if (str.isEmpty) 0L
        else
          str.codePointAt(0).toLong * 17161L +
            str.codePointBefore(str.length).toLong * 131L +
            str.codePointCount(0, str.length).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenHashPortable(s: SparkSession, tokens: Column): Column =
    GraftFunctions.tokenHashPortable(s, tokens)

  /** The same per-token hash for a driver-side literal — probe
    * tokens baked into streaming plans (S17) and test replays share
    * one formula with the compiled kernel. */
  def computeOne(t: String): Long =
    if (t.isEmpty) 0L
    else
      t.codePointAt(0).toLong * 17161L +
        t.codePointBefore(t.length).toLong * 131L +
        t.codePointCount(0, t.length).toLong
}

/** All C(k,2) ordered ID pairs of an UNSORTED id array, packed into
  * single longs `(i << 32) | j` with i < j — the narrow-shuffle form
  * of [[PairCombinations]]: the pair-count groupBy keys on ONE long
  * instead of two, and the explode materializes primitive longs
  * instead of a GenericInternalRow per pair (the struct allocation was
  * the explode branch's dominant cost). Sorting happens inside the
  * expression (saves the upstream `sort_array` array copy).
  *
  * Precondition: ids must fit in 31 bits (fail-fast otherwise).
  * Callers should not use this directly for arbitrary id spaces —
  * `engine.Pairs` probes the id space once and automatically falls
  * back to the struct form ([[PairCombinations]]) past 31-bit ids, so
  * a 100 TB corpus degrades to the 16-byte pair key instead of
  * crashing mid-pipeline.
  */
case class PackedPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_packed_pairs"

  // getLong on a narrower array reads misaligned slots — reject at
  // analysis time instead of emitting garbage pairs
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprs.requireLongArray(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    PackedPairs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PackedPairs.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): PackedPairs =
    copy(child = newChild)
}

object PackedPairs {
  def compute(ds: ArrayData): GenericArrayData = {
    val n = ds.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = ds.getLong(i)
      if (v < 0L || v > Int.MaxValue.toLong)
        throw new IllegalArgumentException(
          s"graft_packed_pairs requires ids in [0, 2^31); got $v — " +
            "use graft_pairs (struct form) for wider id spaces")
      ids(i) = v
      i += 1
    }
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n - 1) {
      val hi = ids(i) << 32
      var j = i + 1
      while (j < n) {
        out(k) = hi | ids(j)
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def packedPairs(s: SparkSession, ids: Column): Column =
    GraftFunctions.packedPairs(s, ids)
}

/** All C(k,2) ordered index pairs of a (sorted) id array, as an
  * `array<struct<i,j>>` built in one compiled pass — replaces the
  * interpreted nested `flatten(transform(sequence…, transform(…)))`
  * lambda in the posting-list pair generation (dedup_near /
  * dedup_embed_blocked and their dependents). Given an ascending
  * input, every emitted struct has i < j, in the same order as the
  * declarative form (`TextExprsSpec` pins the equivalence).
  */
case class PairCombinations(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprs.requireLongArray(prettyName, child.dataType)

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_pairs"

  override def nullSafeEval(input: Any): Any =
    PairCombinations.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PairCombinations.compute($a)")

  override protected def withNewChildInternal(
      newChild: Expression): PairCombinations = copy(child = newChild)
}

object PairCombinations {
  def compute(ds: ArrayData): GenericArrayData = {
    val n = ds.numElements()
    val out = new Array[Any](if (n < 2) 0 else n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = ds.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, ds.getLong(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def pairs(s: SparkSession, sortedIds: Column): Column =
    GraftFunctions.pairs(s, sortedIds)
}

/** Count of array elements that belong to a (small) reference set —
  * the compiled form of `size(filter(arr, t -> t IN (...)))`, which
  * interprets the lambda per element (the stopword-ratio hot path of
  * lang_id / text_quality / corpus_filter). The set side is a literal
  * array; membership is a linear scan, the right shape for
  * function-word lists of a handful of entries.
  */
case class CountInSet(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_count_in_set"

  override def nullSafeEval(arr: Any, set: Any): Any =
    CountInSet.compute(arr.asInstanceOf[ArrayData], set.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.CountInSet.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountInSet =
    copy(left = newLeft, right = newRight)
}

object CountInSet {
  def compute(arr: ArrayData, set: ArrayData): Int = {
    val n = arr.numElements()
    val m = set.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        var j = 0
        var found = false
        while (j < m && !found) {
          if (t.equals(set.getUTF8String(j))) found = true
          j += 1
        }
        if (found) cnt += 1
      }
      i += 1
    }
    cnt
  }

  def countInSet(s: SparkSession, arr: Column, set: Seq[String]): Column =
    GraftFunctions.countInSet(s, arr,
      org.apache.spark.sql.functions.typedLit(set))
}

/** Exact intersection cardinality of two BIGINT-array SETS in one
  * compiled pass. Already-ascending inputs (an O(k) check) merge-scan
  * directly over the array data with ZERO copying or sorting — the
  * hot path, since a document's set is intersected once per candidate
  * pair it appears in and callers pre-sort with one `sort_array` per
  * DOC (dedupNearPrefix does); unsorted inputs fall back to
  * copy + sort + merge, keeping the SQL-facing function total with no
  * order assumption. Inputs must be duplicate-free (ShingleHash3
  * emits distinct hashes); with duplicates this counts matched
  * occurrences, not set overlap.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_intersect_count"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = TextExprs.requireLongArray(prettyName, left.dataType)
    if (l.isSuccess) TextExprs.requireLongArray(prettyName, right.dataType)
    else l
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.IntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {
  private def isAscending(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i - 1) > a.getLong(i)) return false
      i += 1
    }
    true
  }

  // Function1[Int, Long] is @specialized, so the accessor indirection
  // stays boxing-free in both paths
  private def mergeCount(n: Int, m: Int,
      ga: Int => Long, gb: Int => Long): Int = {
    var i = 0
    var j = 0
    var cnt = 0
    while (i < n && j < m) {
      val x = ga(i)
      val y = gb(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { cnt += 1; i += 1; j += 1 }
    }
    cnt
  }

  def compute(a: ArrayData, b: ArrayData): Int =
    if (isAscending(a) && isAscending(b))
      mergeCount(a.numElements(), b.numElements(), a.getLong, b.getLong)
    else {
      val x = a.toLongArray()
      val y = b.toLongArray()
      java.util.Arrays.sort(x)
      java.util.Arrays.sort(y)
      mergeCount(x.length, y.length, x(_), y(_))
    }

  def intersectCount(s: SparkSession, a: Column, b: Column): Column =
    GraftFunctions.intersectCount(s, a, b)
}

object TextExprs {
  /** Shared analysis-time gate for the expressions that read 8-byte
    * array slots directly (`getLong`): anything but array<bigint>
    * would read misaligned data, so reject it loudly instead.
    */
  private[functions] def requireLongArray(name: String, dt: DataType)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name requires array<bigint>, got ${other.catalogString}")
    }

}

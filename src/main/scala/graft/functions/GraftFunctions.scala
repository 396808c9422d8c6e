package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** One graft SQL function: name, argument signature, arity, the
  * expression class it builds, and its builder. Both install paths —
  * `spark.sql.extensions` ([[graft.GraftExtensions]]) and the per-name
  * imperative install ([[install]]) — register the same
  * [[builder]], so a bad call fails with the same usage text however
  * the function got into the session.
  */
final class GraftFunction(val name: String, signature: String,
    val arity: Int, clazz: Class[_], build: Seq[Expression] => Expression) {

  val usage: String = s"$name($signature)"
  val identifier: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  /** Checks the argument count, then builds; any argument rejection
    * from the build names the usage. */
  def builder(args: Seq[Expression]): Expression = {
    require(args.length == arity,
      s"$usage takes $arity argument(s), got ${args.length}")
    try build(args)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"$usage: ${e.getMessage}", e) }
  }

  /** Registers this function in `s` unless the name is already
    * there. Guarded per name, never by a sibling's name: an
    * extension-built session already holds every entry, a recycled
    * one may hold some. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    if (!reg.functionExists(identifier))
      reg.registerFunction(identifier, info, builder _)
  }

  /** Column form for DataFrame callers: install, then call by name. */
  def apply(s: SparkSession, args: Column*): Column = {
    install(s)
    call_function(name, args: _*)
  }
}

/** The complete graft SQL function set, each name listed once. */
object GraftFunctions {
  private val table = ArrayBuffer.empty[GraftFunction]

  private def fn(name: String, signature: String, arity: Int,
      clazz: Class[_])(build: Seq[Expression] => Expression): GraftFunction = {
    val f = new GraftFunction(name, signature, arity, clazz, build)
    table += f
    f
  }

  /** A plan-time integer argument (`k`, `capacity`): it must fold to
    * a non-null number — evaluating a column reference here would be
    * an internal error, not a user-facing one. */
  private def constInt(e: Expression): Int =
    Some(e).filter(_.foldable).map(_.eval()) match {
      case Some(n: Number) => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"${e.sql} must be a constant integer")
    }

  val dot = fn("graft_dot", "array<float>, array<float>", 2,
    classOf[DotProduct])(a => DotProduct(a(0), a(1)))
  val cosineScan = fn("graft_cosine_scan",
    "array<float>, double, bigint, array<struct>, int, double", 6,
    classOf[CosineScan])(a => CosineScan(a(0), a(1), a(2), a(3), a(4), a(5)))
  val cosineScanScored = fn("graft_cosine_scan_scored",
    "array<float>, double, bigint, array<struct>, int", 5,
    classOf[CosineScanScored])(a =>
    CosineScanScored(a(0), a(1), a(2), a(3), a(4)))
  val simhash64 = fn("graft_simhash64", "array<bigint>", 1,
    classOf[SimHash64])(a => SimHash64(a(0)))
  val simhash60Portable = fn("graft_simhash60_portable", "array<bigint>", 1,
    classOf[PortableSimHash60])(a => PortableSimHash60(a(0)))
  val shingle3 = fn("graft_shingle3", "array<string>", 1,
    classOf[Shingle3])(a => Shingle3(a(0)))
  val minhash32Arr = fn("graft_minhash32_arr", "array<string>", 1,
    classOf[MinHash32])(a => MinHash32(a(0)))
  val minhash32 = fn("graft_minhash32", "bigint", 1,
    classOf[MinHashAgg])(a => MinHashAgg(a(0)).toAggregateExpression())
  val pairs = fn("graft_pairs", "array<bigint>", 1,
    classOf[PairCombinations])(a => PairCombinations(a(0)))
  val countInSet = fn("graft_count_in_set", "array<string>, array<string>", 2,
    classOf[CountInSet])(a => CountInSet(a(0), a(1)))
  val shingleHash3 = fn("graft_shingle_hash3", "array<string>", 1,
    classOf[ShingleHash3])(a => ShingleHash3(a(0)))
  val packedPairs = fn("graft_packed_pairs", "array<bigint>", 1,
    classOf[PackedPairs])(a => PackedPairs(a(0)))
  val minhash16Portable = fn("graft_minhash16_portable", "array<bigint>", 1,
    classOf[PortableMinHash16])(a => PortableMinHash16(a(0)))
  val tokenHashPortable = fn("graft_token_hash_portable", "array<string>", 1,
    classOf[PortableTokenHash])(a => PortableTokenHash(a(0)))
  val bigrams = fn("graft_bigrams", "array<string>", 1,
    classOf[Bigrams])(a => Bigrams(a(0)))
  val bigramsAll = fn("graft_bigrams_all", "array<string>", 1,
    classOf[BigramsAll])(a => BigramsAll(a(0)))
  val zorder = fn("graft_zorder", "bigint, bigint", 2,
    classOf[ZOrderExpr])(a => ZOrderExpr(a(0), a(1)))
  val mg = fn("graft_mg", "key, capacity", 2, classOf[MisraGriesAgg])(a =>
    MisraGriesAgg(a(0), constInt(a(1))).toAggregateExpression())
  val byteStats = fn("graft_byte_stats", "binary", 1,
    classOf[ByteStats])(a => ByteStats(a(0)))
  val phash60 = fn("graft_phash60", "binary", 1,
    classOf[Phash60])(a => Phash60(a(0)))
  val intersectCount = fn("graft_intersect_count",
    "array<bigint>, array<bigint>", 2,
    classOf[IntersectCount])(a => IntersectCount(a(0), a(1)))
  val int8Quantize = fn("graft_int8_quantize", "array<float>", 1,
    classOf[Int8Quantize])(a => Int8Quantize(a(0)))
  val int8Pack = fn("graft_int8_pack", "array<float>", 1,
    classOf[Int8Pack])(a => Int8Pack(a(0)))
  val int8Dot = fn("graft_int8_dot", "binary, binary", 2,
    classOf[Int8DotBytes])(a => Int8DotBytes(a(0), a(1)))
  val topk = fn("graft_topk", "score, id, k", 3, classOf[TopKAgg])(a =>
    TopKAgg(a(0), a(1), constInt(a(2))).toAggregateExpression())
  val gramAgg = fn("graft_gram_agg", "array<float>", 1,
    classOf[GramAgg])(a => GramAgg(a(0)).toAggregateExpression())
  val corrMoments = fn("graft_corr_moments",
    "double, double, double, double", 4,
    classOf[CorrMomentsAgg])(a => CorrMomentsAgg(a).toAggregateExpression())
  // Spark's own Bloom expressions under graft names: they ship
  // unregistered (Catalyst builds them only inside its runtime-filter
  // rules)
  val bloomAgg = fn("graft_bloom_agg", "bigint, est, numBits", 3,
    classOf[BloomFilterAggregate])(a =>
    new BloomFilterAggregate(a(0), a(1), a(2)).toAggregateExpression())
  val bloomMightContain = fn("graft_bloom_might_contain", "binary, bigint", 2,
    classOf[BloomFilterMightContain])(a => BloomFilterMightContain(a(0), a(1)))

  /** Every entry above, in declaration order (declared last so the
    * table is complete when it is read). */
  val all: Seq[GraftFunction] = table.toSeq
}

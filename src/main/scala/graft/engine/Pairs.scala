package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-pair generation from posting lists, with an automatic
  * fallback past the packed-long fast path's 31-bit id precondition.
  *
  * Every LSH-family candidate pipeline (dedup_near, dedup_minhash,
  * dedup_embed_blocked) reduces to the same tail: explode the C(k,2)
  * id pairs of short posting lists, then aggregate per pair (distinct
  * or co-occurrence count). The fast path packs a pair into ONE long
  * (`i << 32 | j`, functions.PackedPairs), so the aggregation hashes
  * an 8-byte key and the explode emits primitive longs — but it
  * requires ids in [0, 2³¹). A real 100 TB corpus id space overflows
  * that, and the old fail-fast would CRASH the pipeline there rather
  * than degrade; instead callers probe the id space once
  * (`needsWideForm`) and these generators transparently switch to the
  * struct-pair form (functions.PairCombinations: 16-byte keys, same
  * plan shape, measured ~25% slower on the pair stage) when the
  * packed form cannot hold the ids. DedupPropertiesSpec drives the
  * dedup operators through both forms.
  *
  * Buckets are not split: one bucket's C(k,2) pairs explode inside
  * one task. The hottest band bucket measured at 500k docs holds 561
  * members (BASELINE.md, "Round-7: compiled hot loops").
  */
object Pairs {

  /** True when the id column cannot ride the packed-long fast path
    * (any id < 0 or ≥ 2³¹). One min/max aggregation over the source
    * id column — on parquet a single-column scan, trivial next to the
    * pair pipeline it guards. NOTE this makes *constructing* a
    * dedup-family DataFrame eager by exactly that one job (plan
    * inspection without execution still pays it); pipelines that know
    * their id-space bound statically (e.g. ids minted by a ledger)
    * keep construction lazy by passing `wide` to the generators
    * directly.
    *
    * Memoized in [[SessionMemo]] per (session, file roots + probed
    * schema + a fingerprint of each root) — but ONLY when the plan
    * between the probed column and its file leaves is row-preserving
    * (projections/aliases): a verdict measured through a
    * Filter/Limit/Join would describe a subset of the files, and a
    * later full-table probe of the same root would wrongly reuse its
    * (possibly narrower) answer. Non-row-preserving plans are probed
    * every call. The root fingerprints make a table rewritten in place
    * (say, with wider ids) re-probe exactly when its scans re-resolve.
    */
  def needsWideForm(ids: DataFrame, idCol: String): Boolean = {
    // cache key = the file roots of every leaf + the probed column's
    // schema: session-free strings with source identity spelled out —
    // a plan's toString TRUNCATES the location, so two different
    // parquet tables would otherwise collide on one key and reuse the
    // wrong verdict. Plans with any non-file leaf (in-memory test
    // frames, views over synthetic data) return None and are probed
    // every call: that probe is cheap exactly when the data isn't a
    // 100 TB file source.
    val s = ids.sparkSession
    def probe: java.lang.Boolean = {
      val r = ids.agg(
        min(col(idCol).cast("long")).as("lo"),
        max(col(idCol).cast("long")).as("hi")).head()
      !r.isNullAt(0) &&
        (r.getLong(0) < 0L || r.getLong(1) > Int.MaxValue.toLong)
    }
    cacheKey(s, ids.select(col(idCol)).queryExecution.analyzed) match {
      case Some(k) => SessionMemo.getOrCompute(s, k)(probe).booleanValue()
      case None => probe.booleanValue()
    }
  }

  private def cacheKey(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias}
    // a cached verdict must describe the FILES, so it is only sound
    // when (a) every row of the leaves reaches the probe — any
    // row-dropping/row-adding node (Filter, Limit, Join, Sample, …)
    // above the leaves means a narrow filtered probe could cache
    // wide=false for the root — and (b) the probed VALUES are the
    // leaf column's values untransformed: a value-mapping projection
    // (e.g. doc_id % 100) has the same file roots and schema as the
    // raw table and would otherwise cache its narrowed verdict under
    // the raw table's key. So only pass-through Projects (attributes
    // and bare renames) are cacheable; anything else probes per call.
    val cacheable = plan.collect { case _ => () }.size == plan.collect {
      case p: Project if p.projectList.forall {
            case _: AttributeReference => true
            case a: Alias => a.child.isInstanceOf[AttributeReference]
            case _ => false
          } => ()
      case _: SubqueryAlias => ()
      case leaf if leaf.children.isEmpty => ()
    }.size
    if (!cacheable) return None
    val roots = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(fs.location.rootPaths.map(_.toString))
          case _ => None
        }
      case _ => None
    }
    // the schema goes first and the fingerprints last: sibling
    // eviction cuts the key at its last '@', which then always falls
    // inside the final root's fingerprint
    if (roots.nonEmpty && roots.forall(_.isDefined))
      Some("wide_form|" + plan.schema.catalogString + "#" + roots.flatten
        .map(_.map(SessionMemo.pathFingerprint(s, _)).mkString(";"))
        .mkString("|"))
    else None
  }

  /** Distinct (i, j) candidate id pairs (i < j) from posting lists —
    * `listCol` is an array<long> of the ids sharing one bucket.
    */
  def distinctPairs(s: SparkSession, lists: DataFrame, listCol: String,
      wide: Boolean): DataFrame =
    unpack(explodedPairs(s, lists, listCol, wide).distinct(), wide)

  /** (i, j, `cntName`) pair co-occurrence counts from posting lists —
    * the Jaccard-numerator shape (a pair appears once per shared
    * bucket).
    */
  def countedPairs(s: SparkSession, lists: DataFrame, listCol: String,
      cntName: String, wide: Boolean): DataFrame =
    unpack(explodedPairs(s, lists, listCol, wide)
      .groupBy(col("p")).agg(count(lit(1)).as(cntName)), wide, col(cntName))

  /** One exploded pair column "p" per C(k,2) combination — a packed
    * long on the fast path, a struct<i,j> on the wide path. The
    * aggregation (distinct vs count) goes on top; [[unpack]] recovers
    * (i, j) either way, so the two public shapes share one pipeline.
    */
  private def explodedPairs(s: SparkSession, lists: DataFrame,
      listCol: String, wide: Boolean): DataFrame =
    if (wide)
      lists.select(explode(graft.functions.PairCombinations.pairs(
        s, sort_array(col(listCol)))).as("p"))
    else
      lists.select(explode(graft.functions.PackedPairs.packedPairs(
        s, col(listCol))).as("p"))

  private def unpack(pairs: DataFrame, wide: Boolean,
      extra: org.apache.spark.sql.Column*): DataFrame = {
    val ij =
      if (wide) Seq(col("p.i").as("i"), col("p.j").as("j"))
      else Seq(shiftright(col("p"), 32).as("i"),
        col("p").bitwiseAND(lit(0xffffffffL)).as("j"))
    pairs.select(ij ++ extra: _*)
  }
}

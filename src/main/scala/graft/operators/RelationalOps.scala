package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Determinism.{dsum, r6}
import graft.engine.Tables

/** E1–E10: relational extension inventory (SURVEY.md §2.2) — the
  * categories the reference lacks entirely (joins, sorts, set ops,
  * rollup, ranking windows), sized for 100 TB: dimension joins are
  * broadcast-hinted, fact-fact joins shuffle on their keys and rely on
  * AQE for skew, top-k lowers to TakeOrderedAndProject (no full sort).
  */
object RelationalOps {

  /** E1 `pricing_summary` — TPC-H Q1-shaped multi-measure hash
    * aggregation over lineitem. Money sums go through DECIMAL(18,6)
    * partials (exact, order-proof); Catalyst plans partial+final
    * hash agg with whole-stage codegen.
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        r6(avg(col("l_quantity"))).as("avg_qty"),
        r6(avg(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** E2 `join_broadcast` — customer ⋈ nation ⋈ region with both dims
    * broadcast (region: 5 rows, nation: 25 rows at every sf — true
    * dimensions, never shuffled).
    */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy("r_name", "n_name")

  /** E3 `join_shuffle` — orders ⋈ customer on custkey: both sides
    * scale with sf, so Catalyst picks a shuffle join (SMJ/SHJ per
    * stats/AQE); aggregation by mktsegment reduces before the driver.
    */
  def joinShuffle(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_totalprice"))
      .orderBy("c_mktsegment")

  /** E4 `join_semi` — customers with ≥1 order (EXISTS). Semi joins
    * ship only the join key of the probe side — at 100 TB this is the
    * cheapest existence check available.
    */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d)
      .join(o, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** E5 `join_anti` — customers with no orders (NOT EXISTS). */
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d)
      .join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** E6 `join_asof_nearest` — as-of join, the one join Spark lacks as
    * a built-in (SURVEY §2.2). For each purchase event, the latest
    * click by the same user at ts ≤ purchase ts. Implemented the
    * scalable way: union both streams tagged, one window pass per
    * user ordered by (ts, tag) carrying the last click ts forward —
    * a single shuffle on user_id, no range cross-join, no point
    * lookups. DuckDB twin: ASOF JOIN.
    */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    asofJoin(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")))
      .orderBy("user_id", "purchase_ts")
  }

  /** Core as-of composition: for each right-side row, the latest
    * left-side ts of the same user with left.ts <= right.ts.
    * Exposed for unit tests (equal-ts tie semantics: a click at
    * exactly the purchase ts DOES match, like DuckDB `ASOF ... >=`).
    */
  private[graft] def asofJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val l = clicks.select(col("user_id"), col("ts"), lit(0).as("tag"),
      col("ts").as("click_ts"))
    val r = purchases.select(col("user_id"), col("ts"), lit(1).as("tag"),
      lit(null).cast("timestamp").as("click_ts"))
    // tag orders click before purchase at equal ts ⇒ ts <= semantics
    val w = Window.partitionBy("user_id").orderBy("ts", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("last_click_ts",
        last(col("click_ts"), ignoreNulls = true).over(w))
      .where(col("tag") === 1 && col("last_click_ts").isNotNull)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("last_click_ts"))
  }

  /** `join_asof_forward` — the forward as-of variant: for each
    * purchase, the EARLIEST click by the same user at ts ≥ purchase
    * ts (the "next event after" lookup — reaction-time and
    * next-touch attribution queries). Same single-shuffle union +
    * window shape as the backward form, with the frame reversed.
    */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    asofJoinForward(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")))
      .orderBy("user_id", "purchase_ts")
  }

  /** Forward as-of core: for each right-side row, the EARLIEST
    * left-side ts of the same user with left.ts >= right.ts. Equal-ts
    * ties match, mirroring the backward form's rule.
    *
    * Frame choice: the forward lookup runs as a RUNNING frame over
    * the REVERSED sort (ts desc, tag desc) — Spark evaluates the
    * running unboundedPreceding frame in O(n) per partition, while
    * an unboundedFollowing frame re-scans to the partition end for
    * every row (O(n²), the gapfill_linear scale-killer class that
    * PlanShapeSpec lints). At equal ts the click (tag 1) precedes
    * the purchase (tag 0) in the reversed order, so it lands inside
    * the purchase's frame ⇒ ts >= semantics preserved; the carried
    * value (click_ts = ts) is identical for any equal-ts tie, so
    * output is bit-equal to the naive forward-frame form
    * (AsofJoinSpec pins it).
    */
  private[graft] def asofJoinForward(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val l = clicks.select(col("user_id"), col("ts"), lit(1).as("tag"),
      col("ts").as("click_ts"))
    val r = purchases.select(col("user_id"), col("ts"), lit(0).as("tag"),
      lit(null).cast("timestamp").as("click_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("next_click_ts",
        last(col("click_ts"), ignoreNulls = true).over(w))
      .where(col("tag") === 0 && col("next_click_ts").isNotNull)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("next_click_ts"))
  }

  /** `join_range` — interval (range) join: for each purchase, count
    * the same user's clicks in the preceding hour. The equi key
    * (user_id) drives the shuffle/join strategy; the time bounds run
    * as a residual range predicate inside each key group — so unlike
    * a pure range cross-join this stays one hash/SMJ shuffle on
    * user_id at any scale. With heavy per-user history, pre-bucket
    * both sides by (user_id, hour-bucket) so each row only meets
    * candidate rows of adjacent buckets (the standard range-bucketing
    * rewrite; engine.Bucketing has the machinery). Left join keeps
    * zero-click purchases with count 0.
    */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
        col("user_id") === col("c_user")
          && col("c_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
          && col("c_ts") < col("ts"),
        "left")
      .groupBy(col("user_id"), col("ts"))
      .agg(count(col("c_ts")).as("n_prior_clicks"))
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("n_prior_clicks"))
      .orderBy("user_id", "purchase_ts")
  }

  /** `promo_revenue` — TPC-H Q14 shape over the fixture tables: the
    * monthly share of lineitem revenue from PROMO-type parts. The
    * 200-row part dimension broadcasts (one lineitem scan, zero
    * shuffle before the month aggregate); revenue sums ride
    * DECIMAL(18,6) partials so the group totals are
    * addition-order-proof, and the percentage divides the two exact
    * sums once per group.
    */
  def promoRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_partkey"), col("l_shipdate"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val pt = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
        .as("month_start"))
      .agg(
        graft.engine.Determinism.dsum(
          when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0)))
          .as("promo_rev"),
        graft.engine.Determinism.dsum(col("rev")).as("total_rev"),
        count(lit(1)).as("n_items"))
      .withColumn("promo_pct",
        graft.engine.Determinism.r6(
          lit(100.0) * col("promo_rev") / col("total_rev")))
      .orderBy("month_start")
  }

  /** `join_skew_salted` — the hot-key join pattern as a first-class
    * query: `events` is pathologically skewed by construction (10k
    * rows over 5 users), so the per-user dimension join runs through
    * `engine.Skew.saltedJoin` — the big side salts into 8 buckets, the
    * 5-row dim replicates 8×, and the hottest user's rows spread over
    * 8 tasks instead of 1. Output is identical to the unsalted join
    * (the oracle proves it); only the distribution changes.
    */
  def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    // event_id rides along ONLY as salt entropy: saltedJoin hashes all
    // big-side columns, so a projection of just (user_id, event_type)
    // would give identical rows identical salts and collapse the hot
    // user into #event_types buckets instead of 8. A per-row-unique
    // column restores the documented 8-way spread (SkewSpec asserts
    // the distribution).
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"))
    val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("user_events"))
    graft.engine.Skew.saltedJoin(ev, dim, "user_id", factor = 8)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("user_events")).as("sum_user_events"))
      .orderBy("event_type")
  }

  /** E7 `topk_orders` — global top 10 by totalprice; the
    * orderBy+limit shape lowers to TakeOrderedAndProject: each
    * partition keeps a 10-row heap, only 10×partitions rows move —
    * no global sort even at 100 TB. Tie-break on o_orderkey for
    * determinism.
    */
  def topkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** E8 `window_rank` — ranking window: top-3 orders per customer by
    * totalprice (row_number with a total-order tie-break, plus rank
    * over the same ordering).
    */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .where(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk")
      .orderBy("o_custkey", "rn")
  }

  /** E9 `rollup_report` — grouping sets: rollup over
    * (c_mktsegment, o_orderstatus) with count + exact decimal sum.
    * Rollup nulls are labeled 'ALL' (no real nulls in these columns)
    * so ordering/hashing is null-free in both engines.
    */
  def rollupReport(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .rollup(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_totalprice"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        col("n_orders"), col("sum_totalprice"))
      .orderBy("mktsegment", "orderstatus")

  /** `cube_report` — full grouping-sets lattice over
    * (c_mktsegment, o_orderstatus): all four grouping combinations in
    * one pass (Expand + single aggregate), labels via coalesce as in
    * rollup_report.
    */
  def cubeReport(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_totalprice"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        col("n_orders"), col("sum_totalprice"))
      .orderBy("mktsegment", "orderstatus")

  /** `set_ops_all` — multiset (bag) set operations: UNION ALL /
    * INTERSECT ALL / EXCEPT ALL over per-customer vs per-supplier
    * nation keys — duplicates carry multiplicity, unlike E10.
    */
  def setOpsAll(s: SparkSession, d: String): DataFrame = {
    val custN = Tables.customer(s, d).select(col("c_nationkey").as("nk"))
    val suppN = Tables.supplier(s, d).select(col("s_nationkey").as("nk"))
    custN.unionAll(suppN)
      .groupBy("nk").agg(count(lit(1)).as("cnt"))
      .withColumn("op", lit("union_all"))
      .unionByName(custN.intersectAll(suppN)
        .groupBy("nk").agg(count(lit(1)).as("cnt"))
        .withColumn("op", lit("intersect_all")))
      .unionByName(custN.exceptAll(suppN)
        .groupBy("nk").agg(count(lit(1)).as("cnt"))
        .withColumn("op", lit("except_all")))
      .select("op", "nk", "cnt")
      .orderBy("op", "nk")
  }

  /** `join_bloom_pruned` — the runtime-filter join pattern made
    * first-class: the small side's keys build a Bloom sketch
    * (driver-collected scalar, the `dedup_incremental_bloom`
    * posture) that prefilters the BIG side map-side BEFORE its
    * shuffle; the exact join then removes the false-positive tail,
    * so the output is bit-identical to the plain join (the oracle is
    * that plain join). At 100 TB this is the difference between
    * shuffling every order and shuffling only the ~selectivity
    * fraction that can possibly match — the pattern engines call
    * runtime filter / sideways information passing, expressed
    * explicitly so it survives any planner (Spark's own
    * spark.sql.optimizer.runtimeFilter covers only favorable
    * shapes). A 1 MiB sketch absorbs ~10⁶ keys at <1% FP; the FP
    * tail only costs shuffle bytes, never correctness.
    */
  def joinBloomPruned(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val bloom: Array[Byte] = cust
      .agg(graft.functions.BloomFns.bloomAgg(s, col("c_custkey"),
        lit(100000L), lit(800000L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val orders = Tables.orders(s, d)
    // empty build side ⇒ null sketch ⇒ nothing can match (the join
    // below would drop everything anyway; skip the probe)
    val pruned =
      if (bloom == null) orders.where(lit(false))
      else orders.where(graft.functions.BloomFns.mightContain(s,
        lit(bloom), col("o_custkey")))
    pruned
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** `zorder_layout` — the multi-dimensional clustering key for
    * 100 TB data layout: each event's Morton z-key over
    * (user_id, minute-of-epoch), the key a layout job sorts or
    * range-partitions by so that predicate boxes on EITHER OR BOTH
    * dimensions prune files (`functions.ZOrderExpr` — the Delta/
    * Iceberg OPTIMIZE ZORDER scheme; ZOrderSpec measures the
    * partitions-touched win over a single-column sort layout on the
    * same data). Emitted as a query row so the key arithmetic itself
    * is under the DuckDB gate: the oracle replays the interleave as
    * a 21-term shift/mask sum. The minute dimension wraps on a
    * 2²¹-minute (~4 year) period through pmod so both engines floor
    * identically regardless of the corpus epoch; row-local map —
    * no shuffle, layout jobs pay only their own range exchange.
    */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val origin = 1704067200000000L // 2024-01-01T00:00Z, micros
    val period = (1L << 21) * 60000000L
    Tables.events(s, d)
      .select(col("event_id"),
        col("user_id").bitwiseAND(lit((1L << 21) - 1)).as("x"),
        // pmod keeps the dividend positive, so DIV == floor in both
        // engines; result < 2^21 by construction
        expr(s"pmod(unix_micros(ts) - ${origin}L, ${period}L)" +
          " DIV 60000000").as("y"))
      .withColumn("zkey",
        graft.functions.ZOrderExpr.zorder(s, col("x"), col("y")))
      .orderBy("event_id")
  }

  /** E10 `set_ops` — union / intersect / except (distinct forms) of
    * customer nations vs supplier nations, tagged into one result.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val n = broadcast(Tables.nation(s, d))
    val custN = Tables.customer(s, d)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name")).distinct()
    val suppN = Tables.supplier(s, d)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name")).distinct()
    custN.union(suppN).distinct().withColumn("op", lit("union"))
      .unionByName(custN.intersect(suppN).withColumn("op", lit("intersect")))
      .unionByName(custN.except(suppN).withColumn("op", lit("except")))
      .select("op", "n_name")
      .orderBy("op", "n_name")
  }

  /** `fuzzy_name_match` — record linkage at edit distance 1 over the
    * customer names via symmetric-delete blocking (the SymSpell
    * method, Garbe 2012): the fuzzy-join primitive behind entity
    * resolution and typo-tolerant dedup, and the third blocking
    * family in the repo beside shingle-Jaccard (text) and
    * LSH/IVF (vectors) — here the blocking key is EXACT by
    * construction, not probabilistic.
    *
    * Why the blocking is complete: if lev(a, b) ≤ 1 then the two
    * names share a member of D(w) = {w} ∪ {w minus one char}
    * (substitution at i ⇒ both drop position i; insertion/deletion ⇒
    * one's identity key is the other's deletion) — the pigeonhole
    * argument of the simhash chunk join, applied to edit space.
    * Shared keys can also arise at distance 2 (transpositions), so
    * candidates pass an exact `levenshtein` = 1 verify — the
    * standard block-then-verify contract; the oracle replays both
    * stages and the spec brute-forces all pairs at sf0.001.
    *
    * Scale shape: |name|+1 keys per row (linear), one equi-join on
    * short string keys with bounded buckets, verification only on
    * candidates. The `c_custkey < 2000` slice keeps the gated output
    * compare-sized; production runs drop the filter (it reaches the
    * scan: partition pruning applies on a key-partitioned layout).
    */
  def fuzzyNameMatch(s: SparkSession, d: String): DataFrame = {
    // spread the name slice across the session's shuffle parallelism
    // before keying: the slice arrives as ONE scan split (a selective
    // filter / single row group), and without this the generate → join
    // → levenshtein-verify pipeline runs in a single task (guide §2.5
    // input skew: repartition right after the read). Deterministic
    // hash key (custkey), so retried tasks re-derive the same layout.
    val names = Tables.customer(s, d)
      .where(col("c_custkey") < 2000)
      .select(col("c_custkey"), col("c_name"))
      .repartition(col("c_custkey"))
    // deletion keys travel as 8-byte xxhash64, not strings — a hash
    // collision can only ADD a candidate pair, and the levenshtein
    // verification filters it, so the output is provably unchanged
    // while the join shuffles fixed-width longs
    // D(w) is a SET: array_distinct before the explode — dropping any
    // zero of a zero-RUN yields the same deletion string, so without
    // it every name emits k duplicate rows per k-run and the block
    // join inflates each candidate pair k·k-fold (measured 1.4 s → the
    // dedup collapses the candidate stream; output provably unchanged
    // because membership, not multiplicity, drives the block)
    val keyed = names.withColumn("k", explode(expr(
      """array_distinct(transform(concat(
           transform(sequence(1, length(c_name)),
             i -> concat(substr(c_name, 1, i - 1), substr(c_name, i + 1))),
           array(c_name)), v -> xxhash64(v)))""")))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.c_name") < col("b.c_name"))
      .select(col("a.c_custkey").as("custkey_a"),
        col("a.c_name").as("name_a"),
        col("b.c_custkey").as("custkey_b"),
        col("b.c_name").as("name_b"))
      // verify BEFORE the distinct: the predicate is deterministic
      // and row-local, so filter∘distinct == distinct∘filter — but
      // filtering first means the dedup exchange carries only true
      // matches instead of every distance-2 key collision.
      // THRESHOLDED levenshtein (Spark 3.5+): the bounded form runs a
      // banded O(n·k) DP and bails at distance > 1, vs the full
      // O(n·m) matrix per candidate — the verify is this query's
      // dominant per-row work. lev(a,b) = 1 ⟺ levenshtein(a, b, 1)
      // = 1 (0 ⇒ returns 0, > 1 ⇒ returns -1), so the predicate is
      // unchanged.
      .where(levenshtein(col("name_a"), col("name_b"), 1) === 1)
      .distinct()
      .orderBy("name_a", "name_b")
  }

  /** `basket_pairs` — market-basket association mining: the top-20
    * part pairs co-purchased within an order, with per-pair support
    * and lift = P(a,b)/(P(a)·P(b)) — the recommender / cross-sell
    * primitive, and the transactional cousin of `cooccurrence_pmi`
    * (same rational-ratio posture: lift = support·N / (c_a·c_b),
    * integer products, ONE fenced division).
    *
    * Scale shape: pair generation runs as map-side C(k,2) explode
    * over per-order part SETS (`engine.Pairs.countedPairs`, packed
    * longs) — ONE shuffle of the lineitem table builds the baskets
    * (collect_set dedups in the aggregate, replacing a separate
    * distinct shuffle + self-join), candidate volume is Σ basket²
    * (≤ 7 items in TPC-H-shaped data — linear in orders, never
    * parts²), the per-part counts and global N derive from the
    * already-deduped baskets, and the top-20 is a
    * TakeOrderedAndProject under the total (support desc, part_a,
    * part_b) order — ranked by integer support, so no float ever
    * orders rows.
    */
  /** Per-order part baskets, memoized per (session, lineitem
    * fingerprint) — the market-basket silver: [[basketPairs]] and
    * [[itemNeighbors]] both start from this exact aggregate, and a
    * production pipeline writes it once (the pair-silver / ANN-index
    * posture). The persisted frame is one small array row per order.
    * Lifecycle and rewrite-invalidation ride
    * [[graft.engine.SessionMemo]] (unpersist on context stop or
    * explicit invalidate; a lineitem table rewritten in-session keys
    * a fresh build instead of serving stale baskets).
    */
  private[graft] def orderBaskets(s: SparkSession, d: String): DataFrame = {
    def build = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ds"))
    graft.engine.SessionMemo.getOrBuild(s,
      "baskets|" + graft.engine.SessionMemo.tableFingerprint(s, d, "lineitem"))(
      build)
  }

  def basketPairs(s: SparkSession, d: String): DataFrame = {
    val wide = graft.engine.Pairs.needsWideForm(
      Tables.lineitem(s, d), "l_partkey")
    val baskets = orderBaskets(s, d)
    val n = baskets.agg(count(lit(1)).as("n_orders"))
    val pc = baskets.select(explode(col("ds")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    // the (support desc, part_a, part_b) top-20 needs nothing from
    // the frequency tables, so take it FIRST (TakeOrderedAndProject
    // over the pair stream) and join c_a/c_b/n onto 20 rows — the
    // former plan shuffled the full deduped pair stream through two
    // part-count joins just to decorate rows the limit then dropped
    graft.engine.Pairs.countedPairs(s,
      baskets.where(size(col("ds")) > 1), "ds", "support", wide)
      .select(col("i").as("part_a"), col("j").as("part_b"), col("support"))
      .orderBy(col("support").desc, col("part_a").asc, col("part_b").asc)
      .limit(20)
      .join(pc.select(col("l_partkey").as("part_a"), col("c").as("c_a")),
        Seq("part_a"))
      .join(pc.select(col("l_partkey").as("part_b"), col("c").as("c_b")),
        Seq("part_b"))
      .join(broadcast(n), lit(true))
      .select(col("part_a"), col("part_b"), col("support"),
        col("c_a"), col("c_b"),
        r6((col("support") * col("n_orders")).cast("double")
          / (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(col("support").desc, col("part_a").asc, col("part_b").asc)
  }

  /** `adamic_adar` — Adamic–Adar link prediction over the
    * co-purchase graph (Adamic & Adar 2003, "Friends and neighbors
    * on the Web"; the strongest unsupervised predictor in
    * Liben-Nowell & Kleinberg 2007's link-prediction survey): nodes
    * are parts, edges are part pairs co-ordered in ≥ 2 orders (the
    * [[basketPairs]] pair stream with a support floor), and every
    * NON-adjacent pair sharing a neighbor scores
    * Σ_{k ∈ N(i)∩N(j)} 1/ln(deg k) — common co-purchase partners
    * weighted inversely by their promiscuity, so two parts bridged
    * by a niche item outrank two bridged by a bestseller everyone
    * buys. Top-20 = "likely next co-purchases", the
    * recommendation-candidate list [[itemNeighbors]]' co-count
    * ranking feeds (AA re-ranks pairs that DON'T yet co-occur —
    * the graphs' complement — which co-counts cannot score at all).
    * (The near-dup document graph was measured and rejected as the
    * substrate: shingle Jaccard on this corpus is bimodal, so every
    * component is a complete clique and the non-adjacent wedge set
    * is empty at every threshold — a vacuous gate.)
    *
    * Portability: a common neighbor has deg ≥ 2 by construction, so
    * ln is never 0; each wedge term is quantized once —
    * floor(10⁶/ln(deg)+0.5) as a 64-bit integer — summed order-free
    * (the `token_surprisal` ln posture), one fenced division at
    * presentation, and the top-20 cut rides a TOTAL order
    * (grid score desc, then the pair).
    *
    * Scale shape: edges come off the memoized basket silver in one
    * shuffle; wedges materialize per common neighbor as the oriented
    * self-join of its adjacency — Σ C(deg k, 2) rows, the
    * `triangle_count` wedge budget. The support floor is the dial
    * that keeps the graph (and so the wedge volume) sparse as
    * orders grow; bestseller hubs make wedge counts quadratic in
    * THEIR degree only — at 100 TB cap per-hub adjacency before the
    * self-join. The top-20 is TakeOrderedAndProject, never a global
    * sort.
    */
  /** The co-purchase graph's edge silver: part pairs co-ordered in
    * ≥ 2 orders, off the memoized basket silver. Referenced five
    * times inside [[adamicAdar]] alone (both adj branches, the
    * degree fold, the wedge probe, the final anti-join) and again by
    * [[clusteringCoeff]] — without a silver each reference replays
    * the full 8×|lineitem| pair explode; memoized it is one tiny
    * (≤ |edges|) persisted frame (3.6k rows at sf0.1). Same
    * fingerprint lifecycle as the basket silver it derives from.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String)
      : DataFrame = {
    // resolve the basket silver BEFORE the edge memo's builder runs:
    // nested getOrBuild on one session is a ConcurrentHashMap
    // recursive update
    val baskets = orderBaskets(s, d)
    def buildE = graft.engine.Pairs.countedPairs(s,
      baskets.where(size(col("ds")) > 1), "ds", "co",
      graft.engine.Pairs.needsWideForm(Tables.lineitem(s, d), "l_partkey"))
      .where(col("co") >= 2).select(col("i"), col("j"))
    graft.engine.SessionMemo.getOrBuild(s,
      "copurchase_co2|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "lineitem"))(buildE)
  }

  /** `item_components` — connected components of the co-purchase
    * graph (parts linked by co-occurring in ≥ 2 orders): the
    * assortment's CLUSTER structure — each component is a family of
    * products that sell together, the unit a category manager or a
    * recommender's candidate generator actually wants
    * ([[basketPairs]] ranks individual edges; this names the
    * islands). Runs the SAME large-star/small-star fixpoint as
    * `dedup_components` ([[graft.operators.LlmTextOps
    * .componentsFromPairs]]) over a different edge silver — the
    * point of factoring the fixpoint out of dedup: connected
    * components is a GRAPH primitive, not a dedup detail, and the
    * O(log²) round bound holds regardless of what the edges mean.
    * Edge source is the memoized co≥2 silver shared with
    * `adamic_adar` / `clustering_coeff`.
    */
  def itemComponents(s: SparkSession, d: String): DataFrame =
    graft.operators.LlmTextOps
      .componentsFromPairs(s, coPurchaseEdges(s, d), pairsDistinct = true)
      .select(col("doc_id").as("part_id"), col("component_id"))
      .orderBy("part_id")

  /** The aggregated co-purchase WEDGE silver: per non-oriented pair
    * (i < j) sharing ≥ 1 common neighbor, the common-neighbor count
    * and the Adamic–Adar weight sum Σ floor(10⁶/ln(deg k) + 0.5).
    * [[adamicAdar]] and [[jaccardNeighbors]] each ran the identical
    * oriented-adjacency self-join + (i, j) aggregation over the same
    * edge silver — the wedge stream (Σ C(deg k, 2) rows, the
    * family's dominant real work) evaluated once per consumer. The
    * aggregate is ≤ |co-neighbor pairs| rows (the pair-silver weight
    * class), memoized per (session, lineitem fingerprint) under the
    * same lifecycle as the edge silver it reads. The weight
    * inner-join is a no-op row filter: a wedge center has two
    * distinct neighbors by construction, so deg ≥ 2 always holds and
    * jaccard's unweighted n_common is unchanged by riding this
    * weighted build (and ln's argument stays ≥ 2 for ANSI).
    */
  private[graft] def coPurchaseWedges(s: SparkSession, d: String)
      : DataFrame = {
    // resolve the edge silver BEFORE entering this memo (the
    // SessionMemo nesting convention)
    val e = coPurchaseEdges(s, d)
    def build = {
      val adj = e.select(col("i").as("k"), col("j").as("nbr"))
        .union(e.select(col("j").as("k"), col("i").as("nbr")))
      val deg = adj.groupBy(col("k")).agg(count(lit(1)).as("dg"))
      val w = deg.where(col("dg") >= 2)
        .select(col("k"), floor(lit(1000000.0)
          / log(col("dg").cast("double")) + lit(0.5)).cast("long").as("w"))
      // endpoint degrees ride the silver row (+2 longs): decorating
      // at BUILD time replaces two per-call broadcast deg joins —
      // each of which re-ran the degree aggregation — in every
      // consumer that scores with degrees (jaccard's union size)
      adj.select(col("k"), col("nbr").as("i"))
        .join(adj.select(col("k"), col("nbr").as("j")), Seq("k"))
        .where(col("i") < col("j"))
        .join(w, Seq("k"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_common"), sum(col("w")).as("wsum"))
        .join(broadcast(deg.select(col("k").as("i"), col("dg").as("deg_i"))),
          Seq("i"))
        .join(broadcast(deg.select(col("k").as("j"), col("dg").as("deg_j"))),
          Seq("j"))
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "copurchase_wedges|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "lineitem"))(build)
  }

  def adamicAdar(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    coPurchaseWedges(s, d)
      .join(e, Seq("i", "j"), "left_anti")
      .select(col("i").as("part_a"), col("j").as("part_b"),
        col("n_common"),
        r6(col("wsum").cast("double") / lit(1000000.0)).as("aa_score"))
      .orderBy(col("aa_score").desc, col("part_a").asc, col("part_b").asc)
      .limit(20)
  }

  /** `clustering_coeff` — local clustering coefficient per node of
    * the co-purchase graph (Watts & Strogatz 1998): for each part
    * with degree ≥ 2, the share of its neighbor pairs that are
    * themselves co-purchased — cc = 2·tri / (deg·(deg−1)). The
    * "does this part anchor a coherent bundle or a hub of unrelated
    * buys" score: cc ≈ 1 marks cliquey product families (bundle
    * candidates), cc ≈ 0 marks promiscuous hubs whose co-purchases
    * share nothing ([[adamicAdar]] down-weights exactly those as
    * wedge centers — this emits the per-node diagnostic it folds
    * in). Top-20 by coefficient, clique-ness first.
    *
    * Portability: triangle and degree counts are exact integers off
    * the shared edge silver; cc is one fenced division; the top-20
    * rides a TOTAL order (cc grid desc, degree desc, part asc).
    *
    * Scale shape: edges come off the memoized [[coPurchaseEdges]]
    * silver; wedges are Σ C(deg k, 2) rows (the `triangle_count`
    * budget, hub-capped at 100 TB) probed against the edge set in
    * one join; the top-20 is TakeOrderedAndProject, never a global
    * sort.
    */
  def clusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val adj = e.select(col("i").as("k"), col("j").as("nbr"))
      .union(e.select(col("j").as("k"), col("i").as("nbr")))
    val deg = adj.groupBy(col("k")).agg(count(lit(1)).as("degree"))
    // wedges centered at k, probed against the (i<j)-oriented edge
    // set: each hit is one triangle corner closed at k
    val tri = adj.select(col("k"), col("nbr").as("i"))
      .join(adj.select(col("k"), col("nbr").as("j")), Seq("k"))
      .where(col("i") < col("j"))
      .join(e, Seq("i", "j"))
      .groupBy(col("k")).agg(count(lit(1)).as("triangles"))
    deg.where(col("degree") >= 2L)
      .join(tri, Seq("k"), "left")
      .select(col("k").as("part"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        r6(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double")
          / (col("degree").cast("double")
            * (col("degree").cast("double") - lit(1.0))))
          .as("local_cc"))
      .orderBy(col("local_cc").desc, col("degree").desc, col("part").asc)
      .limit(20)
  }

  /** `jaccard_neighbors` — neighbor-set Jaccard link prediction over
    * the co-purchase graph: for every NON-adjacent part pair sharing
    * a neighbor, |N(i)∩N(j)| / |N(i)∪N(j)| (the classic structural-
    * equivalence score; Liben-Nowell & Kleinberg 2007's baseline
    * that [[adamicAdar]] refines by down-weighting hub neighbors —
    * emitting both lets a recommender A/B the two rankings on the
    * same candidate set). The union size needs no second pass:
    * |N∪| = deg_i + deg_j − n_common, so the whole score is three
    * exact integers off the SAME wedge stream adamic_adar already
    * rides (one oriented adjacency self-join per common neighbor,
    * Σ C(deg k, 2) rows — the `triangle_count` wedge budget,
    * hub-capped at 100 TB) plus the broadcast degree table. One
    * fenced division; top-20 under a TOTAL order (1e-6-grid jaccard
    * desc, then the pair).
    */
  def jaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    // n_common and both endpoint degrees come off the shared wedge
    // silver (one wedge aggregation serves this row AND adamic_adar;
    // the silver's weight join drops nothing — see coPurchaseWedges)
    coPurchaseWedges(s, d)
      .select(col("i"), col("j"), col("n_common"),
        col("deg_i").as("deg_a"), col("deg_j").as("deg_b"))
      .join(e, Seq("i", "j"), "left_anti")
      .select(col("i").as("part_a"), col("j").as("part_b"),
        col("deg_a"), col("deg_b"), col("n_common"),
        r6(col("n_common").cast("double")
          / (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a").asc, col("part_b").asc)
      .limit(20)
  }

  /** `l_diversity` — the homogeneity-attack audit k-anonymity alone
    * misses (Machanavajjhala et al. 2007): a quasi-identifier class
    * can be large (k-anonymous) yet reveal everyone's sensitive value
    * if that value is CONSTANT within the class. Here the QI tuple is
    * (nation, market segment) over customers, the sensitive attribute
    * is the account-balance band (ten fixed-width bins over the TPC-H
    * [-1000, 10000) range, clamp-guarded), and every class with fewer
    * than l = 3 distinct bands is reported with its size and its
    * distinct-band count. The always-present `__total` row mirrors
    * `k_anonymity`'s convention: `k` carries the total customer count
    * inside at-risk classes, `l_distinct` the at-risk class count —
    * the headline pair survives a clean table (non-vacuous gate).
    * Scale shape: one map-side-combined aggregate over row-local
    * keys; the distinct-band count per class rides the same shuffle
    * (band cardinality ≤ 10, so the distinct is bounded per group).
    */
  def lDiversity(s: SparkSession, d: String): DataFrame = {
    val t = Tables.customer(s, d)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        greatest(lit(0L), least(lit(9L),
          floor((col("c_acctbal") + lit(1000.0)) / lit(1100.0))
            .cast("long"))).as("bal_bin"))
    val classes = t.groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("bal_bin")).as("l_distinct"))
    val risky = classes.where(col("l_distinct") < 3L)
      .select(col("nation"), col("segment"), col("k"), col("l_distinct"))
    val total = classes.agg(
      sum(when(col("l_distinct") < 3L, col("k")).otherwise(0L))
        .as("at_risk"),
      sum(when(col("l_distinct") < 3L, 1L).otherwise(0L))
        .as("n_risky"))
      .select(lit(-1L).as("nation"), lit("__total").as("segment"),
        col("at_risk").as("k"), col("n_risky").as("l_distinct"))
    risky.unionByName(total).orderBy("nation", "segment")
  }

  /** `t_closeness` — the distribution-skew audit that completes the
    * privacy triad (Li, Li & Venkatasubramanian 2007): `k_anonymity`
    * bounds class SIZE, `l_diversity` bounds sensitive-value COUNT,
    * but a class can pass both while its sensitive DISTRIBUTION still
    * leaks ("this nation-segment skews rich"). t is the Earth Mover's
    * Distance between each (nation, segment) class's balance-band
    * distribution and the global one, over the ten ORDERED bands with
    * unit ground distance: EMD = Σ_{k<9} |CumP_k − CumQ_k| / 9.
    *
    * Portability: clearing denominators makes every cumulative
    * difference an exact integer — at band k the term is
    * Σ_{i≤k}(c_i·N − g_i·n) with c/g the class/global band counts and
    * n/N the class/corpus sizes — so the windowed cumsum, the |·|,
    * and the fold are integer ops and t is ONE fenced division by
    * n·N·9. Every class reports (no threshold row-cut: the t
    * distribution itself is the audit), flagged at the paper's
    * customary t > 0.25.
    *
    * Scale shape: one count aggregate to |classes|·10 rows, a
    * broadcast 10-row global distribution + 1-row total, a dense
    * class×band grid (bounded by the QI domain, not the table), and
    * one tiny per-class window — the corpus is scanned once.
    */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val t = Tables.customer(s, d)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        greatest(lit(0L), least(lit(9L),
          floor((col("c_acctbal") + lit(1000.0)) / lit(1100.0))
            .cast("long"))).as("bal_bin"))
    val cellCnt = t.groupBy(col("nation"), col("segment"), col("bal_bin"))
      .agg(count(lit(1)).as("c"))
    val classes = t.groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("n"))
    val global = t.groupBy(col("bal_bin")).agg(count(lit(1)).as("g"))
    val total = t.agg(count(lit(1)).as("nn"))
    val bins = s.range(0, 10).select(col("id").as("bal_bin"))
    val grid = classes
      .crossJoin(broadcast(bins))
      .join(cellCnt, Seq("nation", "segment", "bal_bin"), "left")
      .join(broadcast(global), Seq("bal_bin"), "left")
      .crossJoin(broadcast(total))
      .select(col("nation"), col("segment"), col("bal_bin"), col("n"),
        col("nn"),
        (coalesce(col("c"), lit(0L)) * col("nn")
          - coalesce(col("g"), lit(0L)) * col("n")).as("dnum"))
    val w = Window.partitionBy("nation", "segment").orderBy("bal_bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum", sum(col("dnum")).over(w))
      .where(col("bal_bin") < 9L)
      .groupBy(col("nation"), col("segment"))
      .agg(max(col("n")).as("k"), max(col("nn")).as("nn"),
        sum(abs(col("cum"))).as("emd_num"))
      .select(col("nation"), col("segment"), col("k"),
        r6(col("emd_num").cast("double")
          / (col("k") * col("nn") * lit(9L)).cast("double")).as("t_emd"),
        // t > 0.25 ⇔ 4·emd_num > 9·n·N — kept exact in integers
        (col("emd_num") * lit(4L) > col("k") * col("nn") * lit(9L))
          .as("above_t"))
      .orderBy("nation", "segment")
  }

  /** `ship_delay_stats` — order-to-ship latency distribution per
    * priority class: the fulfillment-SLA report card over the TPC-H
    * fact pair (does 1-URGENT actually ship faster?). Delay is an
    * exact integer DAY difference on both engines (timestamps cast
    * to dates first — a µs-level datediff would disagree on partial
    * days); moments ride the decimal recipe, percentiles the
    * `value_percentiles` interpolation contract. Scale: one
    * orderkey-keyed fact-fact shuffle join (AQE-skew-safe) + one
    * priority-keyed aggregate to 5 rows.
    */
  def shipDelayStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_d"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("order_d")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(col("ship_d"), col("order_d")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        min(col("delay_days")).as("min_days"),
        max(col("delay_days")).as("max_days"),
        sum(col("delay_days")).as("sum_days"),
        expr("percentile(delay_days, 0.5)").as("p50_raw"),
        expr("percentile(delay_days, 0.9)").as("p90_raw"))
      .select(col("o_orderpriority"), col("n_lines"), col("min_days"),
        col("max_days"),
        r6(col("sum_days").cast("double") / col("n_lines").cast("double"))
          .as("mean_days"),
        r6(col("p50_raw")).as("p50_days"),
        r6(col("p90_raw")).as("p90_days"))
      .orderBy("o_orderpriority")

  /** `market_hhi` — supplier concentration of lineitem revenue as
    * the Herfindahl–Hirschman index: HHI = Σ shareᵢ², plus the top
    * supplier's share and the effective competitor count 1/HHI. The
    * antitrust-grade concentration scalar beside
    * [[revenueConcentration]]'s customer Pareto — same family,
    * opposite side of the market.
    *
    * Portability: HHI's closed form Σcᵢ²/T² needs NO per-supplier
    * division — Σcᵢ² rides an exact DECIMAL sum of integer-cent
    * squares and T² is one DECIMAL product, so the index, its
    * inverse, and the top share are three fenced divisions from
    * exact integers. Scale: one suppkey aggregate + one scalar fold;
    * no window at all (max share via max, not rank).
    */
  def marketHhi(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(20, 2)) * lit(100))
        .cast(DecimalType(22, 0)).cast("long").as("cents"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("cents")).as("total_cents"),
        sum(dec(col("cents")) * dec(col("cents")))
          .cast(DecimalType(38, 0)).as("sq_sum"),
        max(col("cents")).as("max_cents"))
      .select(col("n_suppliers"), col("total_cents"),
        r6(col("sq_sum").cast("double")
          / (dec(col("total_cents")) * dec(col("total_cents")))
            .cast("double")).as("hhi"),
        r6((dec(col("total_cents")) * dec(col("total_cents")))
          .cast("double") / col("sq_sum").cast("double"))
          .as("effective_n"),
        r6(col("max_cents").cast("double")
          / col("total_cents").cast("double")).as("top_share"))
  }

  /** `revenue_concentration` — how concentrated is revenue across
    * customers: the top-decile revenue share plus the Gini
    * coefficient of the per-customer revenue distribution — the
    * Pareto ("do 10% of customers carry the book") readout, the
    * relational sibling of `gini_concentration`'s token curve.
    *
    * Portability: per-customer revenue is an exact DECIMAL(18,2) sum
    * converted once to integer CENTS, so ranks, the decile cut
    * k = ⌈n/10⌉ (pure-integer (n+9) div 10), the top-k cents sum,
    * and the Gini numerator/denominator are all exact integers (the
    * rank-weighted sum in DECIMAL — rn·cents overflows a long at
    * scale); two fenced divisions at the end. Scale: one custkey
    * aggregate, one rank window over CUSTOMER rows, one fold. The
    * global rank is a single-partition window here; at 100 TB swap
    * in `corpus_shuffle`'s range-bucket rank (order-preserving
    * ranges + broadcast prefix offsets — identical positions, one
    * data shuffle).
    */
  def revenueConcentration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(20, 2)) * lit(100))
        .cast(DecimalType(22, 0)).cast("long").as("cents"))
    val wAsc = Window.orderBy(col("cents").asc, col("o_custkey").asc)
    val wDesc = Window.orderBy(col("cents").desc, col("o_custkey").asc)
    val totals = perCust.agg(count(lit(1)).as("n_all"))
    perCust
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .crossJoin(broadcast(totals))
      .groupBy()
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(dec(col("rn")) * dec(col("cents")))
          .cast(DecimalType(38, 0)).as("wsum"),
        sum(when(col("rd") <= expr("(n_all + 9) DIV 10"), col("cents"))
          .otherwise(lit(0L))).as("topk_cents"))
      .select(col("n_customers"), col("total_cents"),
        r6(col("topk_cents").cast("double")
          / col("total_cents").cast("double")).as("top_decile_share"),
        r6((lit(2) * col("wsum")
          - (dec(col("n_customers")) + lit(1)) * dec(col("total_cents")))
          .cast("double")
          / (dec(col("n_customers")) * dec(col("total_cents")))
            .cast("double")).as("gini"))
  }

  /** `join_full_outer` — the one join type the E2–E5 inventory didn't
    * time: per-band reconciliation of the customer vs supplier
    * account-balance distributions via FULL OUTER join. Bands present
    * on only one side surface as genuine outer rows (the 1k-supplier
    * side leaves gaps against 15k customers at 25-unit bands), so
    * both null legs are exercised and coalesced — the
    * two-ledger-reconciliation shape (ours vs theirs, rows missing
    * from either side must still appear).
    *
    * Scale shape: both sides pre-aggregate to ≤ ~450 band rows BEFORE
    * the join (aggregate-then-join, never join-then-aggregate — at
    * 100 TB the outer join runs on two tiny summaries), and AQE
    * broadcasts the build side. Integer counts; no float anywhere.
    */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    def bands(t: DataFrame, bal: String, n: String) = t
      .groupBy(floor(col(bal).cast("double") / lit(25.0))
        .cast("long").as("band"))
      .agg(count(lit(1)).as(n))
    val c = bands(Tables.customer(s, d), "c_acctbal", "n_cust")
    val sup = bands(Tables.supplier(s, d), "s_acctbal", "n_supp")
    c.join(sup, Seq("band"), "full_outer")
      .select(col("band"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        (col("n_cust").isNotNull && col("n_supp").isNotNull)
          .cast("int").as("in_both"))
      .orderBy("band")
  }

  /** `grouping_sets_report` — explicit GROUPING SETS((flag),
    * (status), (flag, status)): the lattice subset neither `rollup`
    * (prefix chain) nor `cube` (full lattice) expresses — the report
    * that wants both one-dimensional margins plus the cross table but
    * NOT the grand total. Uses Spark 4's `Dataset.groupingSets` API
    * (one Expand + one hash aggregate, same plan family as
    * rollup_report); `grouping()` flags disambiguate margin rows from
    * data rows exactly, and the coalesce-to-'ALL' labels keep the
    * cross-engine sort away from engine-specific NULL ordering.
    */
  def groupingSetsReport(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
          Seq(col("l_returnflag"), col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus", "g_flag")

  /** `regional_revenue` — the TPC-H Q5 shape on this schema: local
    * supplier volume per nation (revenue where the supplier sits in
    * the customer's own nation) over a one-year order slice. The
    * canonical 6-way join-ordering showcase: two true fact-fact
    * shuffles (orders⋈lineitem on orderkey, then suppkey) with every
    * dimension broadcast (supplier is 100·sf rows, nation 25, region
    * 5) and the `c_nationkey = s_nationkey` locality constraint
    * applied as a post-join filter-free equi-key (it rides the
    * supplier broadcast join condition, so no extra pass). Revenue
    * rides the exact DECIMAL(18,6) partial-sum recipe.
    *
    * Scale: the orderdate predicate is pushed to the orders scan
    * (partition-prunable under a date-partitioned layout); Catalyst
    * reorders so the filtered orders side builds first, and AQE
    * handles orderkey skew. Output is ≤ 25 rows.
    */
  def regionalRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)

  /** `shipping_priority` — the TPC-H Q3 shape: the 10 highest-value
    * orders from one market segment placed before a cutoff whose
    * lines ship after it (revenue still in flight at the date). The
    * classic filter-pushdown + top-k pattern: both date predicates
    * and the segment predicate reach their scans (`PushedFilters`),
    * the grouped revenue ranks through TakeOrderedAndProject — no
    * global sort materializes. The tie-break (revenue desc, orderkey
    * asc) makes the top-10 SET deterministic cross-engine: revenue
    * is an exact decimal sum cast once to double, so equal values
    * are bit-equal on both engines.
    */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1999-07-01").cast("timestamp")
    Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d).where(col("o_orderdate") < cut),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).where(col("l_shipdate") > cut),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** `returned_items` — the TPC-H Q10 shape: the 20 customers who
    * returned the most revenue in a one-quarter order slice, with
    * their nation attached. Fact-fact shuffle on orderkey with the
    * returnflag predicate pushed to the lineitem scan, custkey
    * aggregate, nation broadcast onto the 20 survivors — the
    * decorate-AFTER-the-cut discipline (`basket_pairs` learned it
    * the hard way): nation names join to 20 rows, not to every
    * customer.
    */
  def returnedItems(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .join(Tables.lineitem(s, d).where(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
      .agg(count(lit(1)).as("n_returned"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("n_returned"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)

  /** `item_neighbors` — the item-item collaborative-filtering
    * neighborhood (Sarwar et al., WWW'01): for each of the 10
    * most-purchased parts, its top-3 co-purchase neighbors with
    * cosine similarity over the order×part incidence — the
    * "customers also bought" primitive beside [[basketPairs]]'s
    * association ranking.
    *
    * Determinism: head parts rank by INTEGER purchase count, and
    * neighbors rank by INTEGER co-support (tie-broken by partner
    * key) — cosine support/√(c_a·c_b) is presentation only, one
    * fenced expression from exact integers, so no float ever orders
    * rows. Scale: pair stream = map-side C(k,2) over per-order part
    * sets (one lineitem shuffle, `engine.Pairs`); the 10-row head
    * frame broadcast-prunes it before the per-part top-3 window runs
    * over ≤ 10 bounded neighbor lists.
    */
  def itemNeighbors(s: SparkSession, d: String): DataFrame = {
    val baskets = orderBaskets(s, d)
    val pc = baskets.select(explode(col("ds")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val head = pc
      .orderBy(col("c").desc, col("pk").asc).limit(10)
      .select(col("pk").as("part"), col("c").as("c_part"))
    // co-counts ONLY for pairs involving a head part: explode each
    // basket once against its head hits (broadcast semi), then its
    // partners — Σ(head-hits·k) rows instead of the full C(k,2)
    // support aggregation (which made the row the one superlinear
    // point of its wave: 5.1× per decade, now ~Σk against 10 keys)
    val sym = baskets
      .select(col("ds"), explode(col("ds")).as("part"))
      .join(broadcast(head), Seq("part"))
      .select(col("part"), col("c_part"), explode(col("ds")).as("nbr"))
      .where(col("nbr") =!= col("part"))
      .groupBy(col("part"), col("c_part"), col("nbr"))
      .agg(count(lit(1)).as("support"))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("support").desc, col("nbr").asc)
    sym
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .join(pc.select(col("pk").as("nbr"), col("c").as("c_nbr")),
        Seq("nbr"))
      .select(col("part"), col("c_part"), col("rk"), col("nbr"),
        col("c_nbr"), col("support"),
        r6(col("support").cast("double")
          / sqrt((col("c_part") * col("c_nbr")).cast("double")))
          .as("cosine"))
      .orderBy(col("part").asc, col("rk").asc)
  }

  /** `large_orders` — the TPC-H Q18 shape: orders whose total line
    * quantity exceeds a threshold, decorated with their customer —
    * the IN-(grouped-HAVING-subquery) pattern, planned as
    * aggregate-then-semi-equi-join. Quantities are integral doubles
    * → cast to long so the HAVING sum and the reported total are
    * pure integers (no float sum order-sensitivity at any scale).
    * Scale: the quantity aggregate shuffles 8-byte (key, qty) pairs
    * once; the ~0.3%-selectivity survivor set joins orders, then
    * customer decorates the survivors.
    */
  def largeOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .where(col("total_qty") > 300L)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"), col("n_lines"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
  }

  /** `dormant_customers` — the TPC-H Q22 shape: well-funded
    * customers gone quiet (above-average balance, no order in the
    * trailing 3 years), summarized per market segment. Two classic
    * subquery lowerings in one query: the scalar AVG subquery
    * becomes a 1-row broadcast compared by exact CROSS-MULTIPLICATION
    * (bal·n > Σbal on DECIMAL — no division, no float average, so
    * the cut is bit-portable); the NOT-EXISTS becomes a LEFT ANTI
    * join against the date-filtered orders keys (filter pushed to
    * the orders scan; only 8-byte keys shuffle).
    */
  def dormantCustomers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cust = Tables.customer(s, d)
    val posStats = cust.where(col("c_acctbal") > 0.0)
      .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("bal_sum"),
        count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(posStats))
      .where(col("c_acctbal").cast(DecimalType(18, 2)) * col("n_pos")
        > col("bal_sum"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_dormant"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** `zone_map_stats` — the data-skipping zone-map audit (the
    * Iceberg/Delta min-max file-stats mechanic, lowered to
    * shipdate-month partitions): per partition, row count and
    * min/max of orderkey and price cents, plus whether a fixed
    * price-band predicate could SKIP the partition entirely
    * (max < lo ∨ min > hi). The planning readout behind
    * `PushedFilters` — how much of the table a zone-mapped scan
    * would never open — and the honest negative result when the
    * column is unclustered: on this corpus prices span every month,
    * so nothing skips, which is exactly the evidence that justifies
    * `zorder_layout`'s re-clustering next door.
    *
    * One scan, one bounded aggregate (≤ months rows), all integers.
    */
  def zoneMapStats(s: SparkSession, d: String): DataFrame = {
    val lo = 2000000L  // 20,000.00 in cents — fixed band, sf-invariant
    val hi = 4000000L
    Tables.lineitem(s, d)
      .select(to_date(date_trunc("month", col("l_shipdate"))).as("month"),
        col("l_orderkey"),
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("cents"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .select(col("month"), col("n_rows"), col("min_okey"),
        col("max_okey"), col("min_cents"), col("max_cents"),
        (col("max_cents") < lo || col("min_cents") > hi)
          .as("skippable_for_band"))
      .orderBy("month")
  }

  /** `delayed_orders` — the TPC-H Q4 shape: per priority, how many
    * orders in a quarter had at least one line shipping more than
    * 90 days after the order date — the EXISTS-subquery lowered to
    * a LEFT SEMI join (each order counts ONCE however many lines
    * qualify — the bug a plain inner join + count would introduce).
    * Date arithmetic in whole integer days on both engines.
    */
  def delayedOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val late = Tables.lineitem(s, d)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_d"))
    o.join(late,
        col("o_orderkey") === col("l_orderkey") &&
          col("ship_d") > date_add(to_date(col("o_orderdate")), 90),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("delayed_count"))
      .orderBy("o_orderpriority")
  }

  /** `customer_order_dist` — the TPC-H Q13 shape: the distribution
    * of customers BY order count, zero bucket included — the
    * count-of-counts double aggregation whose left-outer leg is the
    * whole point (an inner join silently drops the never-ordered
    * customers, and "how many customers never ordered" is usually
    * the number the report exists for).
    */
  def customerOrderDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** `pareto_frontier` — the skyline operator (Börzsönyi et al., ICDE
    * 2001): parts not dominated on (price low, size high). q
    * dominates p iff q.price ≤ p.price ∧ q.size ≥ p.size with at
    * least one strict — the multi-objective shortlist ("no part is
    * both cheaper and bigger") that no single ORDER BY expresses.
    *
    * Formulation: two RANGE windows over integer price-cents instead
    * of the textbook NOT-EXISTS self-join — p survives iff
    * max(size) over strictly-cheaper parts < p.size AND max(size)
    * among equal-price parts ≤ p.size. RANGE frames are
    * order-insensitive within peers, so the result is deterministic
    * with no tie-break column; the DuckDB oracle runs the genuinely
    * independent NOT-EXISTS formulation, so the gate cross-checks
    * the window algebra itself. Equal (price, size) duplicates
    * dominate neither other and both survive — both formulations
    * agree by construction.
    *
    * Scale: the running max RANGE-PARTITIONS (the `corpus_shuffle`
    * discipline, applied): prices bucket into fixed 4096-cent ranges
    * (bucket count bounded by the price DOMAIN, never by row count),
    * the strictly-cheaper max decomposes into a bucket-LOCAL range
    * window plus the broadcast prefix maxima of strictly-smaller
    * buckets — every row in a smaller bucket is strictly cheaper, so
    * greatest(local, prior-bucket max) IS the global running max.
    * The only partition-less window left runs over one row per
    * bucket (PlanShapeSpec's global-window lint enforces this shape
    * repo-wide); the first cut ran one global range window — a
    * single-task sort at fact scale.
    */
  def paretoFrontier(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("price_cents"))
      .withColumn("bucket", expr("price_cents DIV 4096"))
    val bmax = parts.groupBy(col("bucket"))
      .agg(max(col("p_size")).as("bm"))
    // bucket-count-sized window: one row per occupied price range
    val woff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bmax
      .withColumn("prior_best", max(col("bm")).over(woff))
      .select(col("bucket"), col("prior_best"))
    val cheaperLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val peers = Window.partitionBy(col("price_cents"))
    parts.join(broadcast(offsets), Seq("bucket"))
      // greatest skips nulls: null iff no cheaper row exists anywhere
      .withColumn("best_cheaper",
        greatest(max(col("p_size")).over(cheaperLocal), col("prior_best")))
      .withColumn("best_peer", max(col("p_size")).over(peers))
      .where((col("best_cheaper").isNull ||
        col("best_cheaper") < col("p_size")) &&
        col("best_peer") <= col("p_size"))
      .select(col("p_partkey"), col("p_name"), col("price_cents"),
        col("p_size"))
      .orderBy(col("price_cents").asc, col("p_partkey").asc)
  }

  /** `open_orders_profile` — sweep-line interval aggregation: how
    * many orders are "open" (placed, not yet fully shipped) at the
    * end of each day the count changes. The interval-concurrency
    * pattern (room occupancy, session concurrency, WIP inventory)
    * that a naive per-day × per-order range join makes quadratic;
    * the sweep line makes it one aggregate + one prefix sum over
    * ±1 deltas.
    *
    * An order's interval is [orderdate, last l_shipdate]; days with
    * no boundary events don't emit (the count is constant there).
    * All integers end-to-end. Scale: the orderkey aggregate for
    * close dates is one shuffle; deltas collapse to ≤ one row per
    * distinct date BEFORE the prefix sum, so the running-sum window
    * orders a few thousand rows at any corpus size (same posture as
    * `activity_heatmap`'s bounded output).
    */
  def openOrdersProfile(s: SparkSession, d: String): DataFrame = {
    val closes = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("close_d"))
    val opens = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("d"), lit(1L).as("delta"))
    // the order closes AT END of close_d → still open on close_d,
    // the −1 takes effect the following day
    val deltas = opens.unionAll(
      closes.select(date_add(col("close_d"), 1).as("d"),
        lit(-1L).as("delta")))
      .groupBy(col("d"))
      .agg(sum(col("delta")).as("net_delta"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_opened"),
        sum(when(col("delta") < 0, 1L).otherwise(0L)).as("n_closed"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("open_at_eod", sum(col("net_delta")).over(w))
      .select(col("d"), col("n_opened"), col("n_closed"),
        col("open_at_eod"))
      .orderBy("d")
  }

  /** `top_supplier` — the TPC-H Q15 shape: the supplier(s) whose
    * revenue over a quarter equals the maximum such revenue — the
    * aggregate-then-join-on-max pattern (a self-referencing view in
    * the original). The per-supplier aggregate computes once; its
    * 1-row max broadcasts back onto it, so the "subquery" costs one
    * reused exchange, not a recompute. Revenue compares exactly:
    * both sides of the equality are the same DECIMAL(18,6) sum
    * (compared BEFORE any double cast — max-of-double equality
    * would be bit-fragile cross-engine only if the sums weren't
    * already exact decimals).
    */
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val rev = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))).as("rev_dec"))
    val top = rev.agg(max(col("rev_dec")).as("max_dec"))
    rev.join(broadcast(top), col("rev_dec") === col("max_dec"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey").asc)
  }
}

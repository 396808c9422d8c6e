package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Determinism.{dsum, r6}
import graft.engine.Tables

/** Analytic extension beyond the SURVEY §2 core: percentiles,
  * statistical aggregates, pivot, and time-range window frames — the
  * rest of the OLAP aggregate catalog a reference user would expect.
  */
object AnalyticOps {

  /** The per-symbol SORTED tick frame (event_id, us, symbol, value)
    * — the shared silver of the indicator/sequence family
    * (`lag_features`, `ewma_smooth`, `autocorrelation`, `ljung_box`,
    * `rsi_indicator`, `bollinger_bands`, `obv_indicator`,
    * `stochastic_oscillator`): each of those opens with the SAME
    * `Window.partitionBy(symbol).orderBy(us, event_id)`, and before
    * this silver each paid the symbol shuffle + per-partition sort
    * independently — 8× the one genuinely shared pass. Materialized
    * once per (session, corpus) pre-partitioned on `symbol` and
    * sorted within partitions on (symbol, us, event_id): the cached
    * scan REPORTS that partitioning and ordering, so every
    * consumer's window satisfies its required distribution and sort
    * from the cache and plans with no Exchange and no Sort (plans
    * asserted in TickSilverSpec). Consumers derive their own value
    * columns row-locally — projections preserve both properties.
    *
    * At 100 TB this is the silver-table discipline (CorpusSilver):
    * sort the stream once when it lands, serve every sequence
    * operator from the sorted layout. Memo caveat: persisted blocks,
    * the standard executor-loss recompute posture (lineage retained —
    * unlike the checkpoint-backed silvers this one recomputes).
    */
  private[graft] def sortedTicks(s: SparkSession, d: String): DataFrame = {
    // props rides along for obv_indicator's volume field; the cached
    // scan prunes it for the seven consumers that don't read it
    graft.engine.SessionMemo.getOrBuild(s,
      "sorted_ticks|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "events"))(
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type").as("symbol"), col("value"), col("props"))
        .repartition(col("symbol"))
        .sortWithinPartitions(col("symbol"), col("us"), col("event_id")))
  }

  /** `value_percentiles` — exact interpolated percentiles per group
    * (sort-based; the HLL-style scale path is the approx twin below).
    *
    * Routing at scale: Spark's exact `percentile` BUFFERS the whole
    * group per aggregation state — fine at this table's 5 symbols ×
    * bounded group size, unbounded at a 100 TB group. Past the point
    * where a group's values stop fitting executor memory, route to
    * `value_percentiles_sampled` (hash-sampled exact percentiles —
    * portable, hash-gated, rank error pinned ≤ 8% of target quantile
    * in SketchQualitySpec; the sample fraction is the accuracy dial)
    * or `value_percentiles_approx` (t-digest sketch, constant memory,
    * rank error ≤ 1e-3 at accuracy=1000). The same guidance covers
    * every exact-`percentile` consumer: `winsorized_stats`,
    * `psi_drift`, `anomaly_mad`.
    */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.9)")).as("p90"),
        r6(expr("percentile(value, 0.99)")).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** `value_percentiles_approx` — approx_percentile (t-digest-style
    * sketch, constant memory per group; no oracle: approximate).
    */
  def valuePercentilesApprox(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)")
          .as("p_approx"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("p_approx")(0).as("p50"),
        col("p_approx")(1).as("p90"), col("p_approx")(2).as("p99"), col("n"))
      .orderBy("event_type")

  /** `value_percentiles_sampled` — deterministic hash-sampled exact
    * percentiles: the PORTABLE approximate-quantile path beside the
    * engine-internal t-digest row (`value_percentiles_approx`, which
    * can only be rows-gated). A ~20% sample selected by a modular
    * hash of the unique event_id against a fixed integer threshold —
    * append-stable membership, the `mixture_sample` recipe — then the
    * SAME exact interpolated percentile the gated `value_percentiles`
    * row computes, over the sample. Every step replays in DuckDB, so
    * this approximate-quantile row hash-gates; SketchQualitySpec pins
    * its rank error against the full data. At 100 TB the sort/agg
    * runs over 1/5 of the rows and the sample fraction is the
    * accuracy-vs-cost dial (rank se ≈ √(p(1−p)/m) for sample size m).
    */
  def valuePercentilesSampled(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // threshold = ⌊0.2·(2³¹−1)⌋: ~20% of the hash ring
      .where(pmod(
        pmod(col("event_id"), lit(1048573L)) * lit(2654435761L)
          + pmod(col("event_id"), lit(8191L)) * lit(131L),
        lit(2147483647L)) < lit(429496729L))
      .groupBy(col("event_type"))
      .agg(
        r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.9)")).as("p90"),
        r6(expr("percentile(value, 0.99)")).as("p99"),
        count(lit(1)).as("n_sampled"))
      .orderBy("event_type")

  /** `value_stats` — second-moment aggregates: stddev/variance of the
    * tick value and correlation/covariance with the JSON payload k.
    * Merge-order float noise is ~1e-10 at these magnitudes — well
    * inside the 6 dp round.
    */
  def valueStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast("int").cast("double"))
      .groupBy(col("event_type"))
      .agg(
        r6(stddev_samp(col("value"))).as("sd_value"),
        r6(var_samp(col("value"))).as("var_value"),
        r6(corr(col("value"), col("k"))).as("corr_vk"),
        r6(covar_samp(col("value"), col("k"))).as("covar_vk"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** `orders_pivot` — pivot orderstatus into columns per market
    * segment (fixed pivot values keep the plan a single pass;
    * `coalesce(..,0)` matches SQL CASE-sum semantics for absent
    * combinations).
    */
  def ordersPivot(s: SparkSession, d: String): DataFrame = {
    val piv = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    piv.select(
      col("c_mktsegment"),
      coalesce(col("F"), lit(0L)).as("n_f"),
      coalesce(col("O"), lit(0L)).as("n_o"),
      coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("c_mktsegment")
  }

  /** `value_histogram` — fixed-width histogram of event values per
    * type (bucket = floor(value / 100)): the distribution-profiling
    * pass. One partial+final aggregate; integer bucketing is
    * bit-portable where quantile interpolation needs care.
    */
  def valueHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        floor(col("value") / 100.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")

  /** `window_ntile` — distribution window functions: quartile
    * (ntile), percent_rank, cume_dist per customer over order value.
    * percent_rank/cume_dist are rational (rank ratios), so they are
    * bit-exact across engines without transcendental concerns.
    */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        r6(percent_rank().over(w)).as("pct_rank"),
        r6(cume_dist().over(w)).as("cdist"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** `string_agg_statuses` — ordered string aggregation: the distinct
    * order statuses per market segment as one sorted CSV cell
    * (listagg/string_agg). Deterministic via the explicit sort inside
    * the aggregate.
    */
  def stringAggStatuses(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderstatus")).distinct()
      .groupBy(col("c_mktsegment"))
      .agg(array_join(sort_array(collect_list(col("o_orderstatus"))), ",")
        .as("statuses"))
      .orderBy("c_mktsegment")

  /** `funnel_steps` — ordered-sequence funnel (view → click →
    * purchase, 24 h conversion window per step): a user completes
    * step k only with an event strictly after their step-(k−1) time
    * and within 24 h of it. Built as a chain of per-step min
    * aggregations, each joined to the (monotonically shrinking)
    * previous step — at scale every step table is a per-user scalar,
    * broadcastable once the funnel narrows. Output: users per
    * completed-step count.
    */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val window = expr("INTERVAL 24 HOURS")
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val users = ev.select(col("user_id")).distinct()
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .where(col("ts") > col("t_view") && col("ts") <= col("t_view") + window)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .where(col("ts") > col("t_click") && col("ts") <= col("t_click") + window)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .withColumn("steps_completed",
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L))
      .groupBy(col("steps_completed"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("steps_completed")
  }

  /** `heavy_hitters` — the observability half of skew handling
    * (`engine.Skew.heavyHitters`) as an inventory query: top-3 keys by
    * row count with a deterministic (cnt desc, key asc) tie-break —
    * what you run to decide which keys `join_skew_salted` must salt.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame =
    graft.engine.Skew.heavyHitters(Tables.events(s, d), col("user_id"), 3)

  /** `quantile_bins` — equi-depth discretization: every event gets
    * its within-type decile. The SCALABLE twin of `window_ntile`'s
    * window formulation: ntile sorts every row inside its partition
    * (a full per-group sort at every refresh), while this computes
    * the 9 interior decile bounds in ONE aggregation pass, broadcasts
    * the 5×9 bound table, and assigns bins with a row-local array
    * scan — no sort, no window, map-side after the one stats pass
    * (and the stats pass itself hash-samples at scale via the
    * `value_percentiles_sampled` dial). Boundary semantics: bin =
    * 1 + #{bounds strictly below value}, so ties land in the lower
    * bin in both engines; bounds are r6-rounded BEFORE use (the
    * shared winsorized-bounds posture), making the comparisons
    * identical cross-engine.
    */
  def quantileBins(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr(
        """transform(
             percentile(value, array(0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9)),
             b -> floor(b * 1000000 + 0.5) / 1000000)""").as("bs"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        (size(expr("filter(bs, b -> value > b)")) + 1).as("decile"))
      .orderBy("event_id")
  }

  /** `heavy_hitters_mg` — per-group frequent items through the
    * bounded Misra–Gries summary (`functions.MisraGriesAgg`): top-3
    * users per event type from an aggregate whose state is O(capacity)
    * at every partial, merge, and (in the S13 streaming twin) state-
    * store write — where the exact `heavy_hitters` plan's count map
    * is O(distinct keys). Run here in the no-eviction regime, where
    * MG counts are exact and partition-order-free, so the row
    * hash-gates against the plain count/rank oracle — the gate proves
    * the summary's update/merge/serialize machinery cross-engine (the
    * KMV below-k posture); SketchQualitySpec separately measures the
    * eviction regime's guaranteed error bound on a skewed stream.
    *
    * The regime is an assumption about the corpus, so it is pinned,
    * not hoped: [[HhMgCapacity]] = 4096 sits 2.7× above the 1,500
    * distinct users at the largest shipped sf (cardinality grows with
    * sf — 15/150/1500 — which bit the round-7 first cut at 256), and
    * SketchQualitySpec asserts distinct < capacity AT sf0.1 so a
    * regenerated corpus fails the suite loudly instead of silently
    * flipping this row into the eviction regime under the exact
    * oracle.
    */
  val HhMgCapacity = 4096
  def heavyHittersMg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.MisraGriesAgg.mg(s, col("user_id"),
        HhMgCapacity).as("mg"))
      .select(col("event_type"),
        posexplode(expr("slice(mg, 1, 3)")).as(Seq("r", "e")))
      .select(col("event_type"), (col("r") + 1).cast("int").as("rank"),
        col("e.key").as("user_id"), col("e.cnt").as("cnt"))
      .orderBy("event_type", "rank")

  /** `moving_avg` — time-range window frame: mean tick value over the
    * trailing 1 hour per symbol (RANGE, not ROWS — event-time
    * semantics). Exact via integer cents like `running_avg`.
    */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L) // 1 hour of microseconds, inclusive
    Tables.ticks(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", round(col("price") * 100.0, 0).cast("long"))
      .withColumn("mavg",
        r6(sum(col("cents")).over(w).cast("double")
          / (count(lit(1)).over(w) * 100.0)))
      .select("ts", "symbol", "price", "mavg")
      .orderBy("symbol", "ts")
  }

  /** `value_anomalies` — per-group z-score outlier detection (the
    * tick-monitoring pass the reference's crypto domain wants):
    * events whose value sits more than 3σ from their type's mean.
    * μ/σ come from `Determinism.muSigma`: moments in DECIMAL (exact,
    * associative), with the variance numerator kept in decimal so a
    * degenerate group gets σ = exactly 0 (never NaN from
    * cancellation, never a DIVIDE_BY_ZERO under ANSI mode — such
    * groups are excluded by the σ > 0 guard, which is sound only
    * because the zero is exact). The z computation runs the identical
    * double op sequence as the oracle, so the >3σ cut lands on
    * identical values in both engines. One aggregation pass over the
    * corpus; the 5-row stats frame broadcasts back onto the scan.
    */
  def valueAnomalies(s: SparkSession, d: String): DataFrame = {
    val stats = graft.engine.Determinism
      .muSigma(Tables.events(s, d), "event_type", "value")
      .where(col("sigma") > 0.0)
    Tables.events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .where(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        r6(col("z")).as("z"))
      .orderBy("event_id")
  }

  /** `top_docs_per_lang` — per-group bounded top-k through the
    * `graft_topk` aggregate (functions/TopKAgg) instead of a window:
    * the aggregate keeps O(k) state at every map-side partial, so the
    * exchange carries one ≤k-entry buffer per (partition, group)
    * where the window formulation shuffles and sorts EVERY corpus row
    * inside each group. Same (score desc, id asc) ranking rule —
    * the oracle is the window formulation, which is what pins the
    * bounded aggregate's semantics inside the gated set (the specs
    * pin it too; this row makes DuckDB a second witness).
    */
  def topDocsPerLang(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAgg.topk(s,
        col("n_chars").cast("double"), col("doc_id"), 5).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("lang"), (col("r") + 1).cast("int").as("rank"),
        col("e.vec_id").as("doc_id"),
        // n_chars round-trips the double score exactly (< 2^53)
        col("e.score").cast("long").as("n_chars"))
      .orderBy("lang", "rank")

  /** `lineitem_unpivot` — wide→long reshape (melt) of the four
    * lineitem measures via `stack`: the standard feature-table →
    * (entity, measure, value) normalization. Row-local (4 output rows
    * per input, no shuffle beyond the presentation sort); restricted
    * to a deterministic order slice so the gated result stays
    * compare-sized.
    */
  def lineitemUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_orderkey") % 100 === 0)
      .selectExpr("l_orderkey", "l_linenumber",
        """stack(4,
             'discount', l_discount,
             'extendedprice', l_extendedprice,
             'quantity', l_quantity,
             'tax', l_tax) AS (measure, value)""")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** `corr_matrix` — pairwise Pearson correlation of lineitem's four
    * numeric measures, from DECIMAL-EXACT moment sums. The built-in
    * `corr()` folds doubles in partition order, so its last few bits
    * are shuffle-dependent and an external oracle can't hash-match it;
    * instead every moment (Σx, Σxy) accumulates in decimal — the
    * measures are exact at 2 dp, so products are exact at 4 dp and
    * decimal addition is associative ⇒ order-proof — then the closed
    * form n·Σxy−ΣxΣy / √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²) runs once in
    * double with the identical op sequence as the DuckDB twin. One
    * aggregation job (all 15 moments in a single compiled
    * `graft_corr_moments` pass, map-side partials — see
    * functions.CorrMomentsAgg for the fixed-point equivalence proof),
    * scalar math after — the same single-shuffle shape at any scale.
    */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // all 15 moments ride ONE compiled CorrMomentsAgg buffer (fixed
    // 25-long state, 4 quantizations + 14 primitive adds per row)
    // instead of 14 boxed-BigDecimal SUM columns; the kernel's
    // fixed-point arithmetic is pinned bit-identical to the decimal
    // formulation in CorrMomentsSpec, so the closed form below and
    // the DuckDB oracle are unchanged
    val mm = Tables.lineitem(s, d)
      .agg(graft.functions.CorrMomentsAgg.corrMoments(s,
        col(cols(0)), col(cols(1)), col(cols(2)), col(cols(3))).as("mm"))
    val cellIdx = (for { i <- cols.indices; j <- i until cols.length }
      yield (cols(i), cols(j))).zipWithIndex.toMap
    val m = mm.select(
      Seq(col("mm.n").as("n")) ++
        cols.zipWithIndex.map { case (c, i) =>
          col("mm.s").getItem(i).as(s"s_$c") } ++
        cellIdx.toSeq.map { case ((a, b), k) =>
          col("mm.p").getItem(k).as(s"p_${a}_$b") }: _*)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield {
        val (a, b) = (cols(i), cols(j))
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          r6((col("n") * col(s"p_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * col(s"p_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
              * sqrt(col("n") * col(s"p_${b}_$b")
                  - col(s"s_$b") * col(s"s_$b")))).as("corr"))
      }
    m.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.col_a"), col("kv.col_b"), col("kv.corr"))
      .orderBy("col_a", "col_b")
  }

  /** `winsorized_stats` — robust per-type moments with the tails
    * clamped to the exact interpolated [p05, p95] bounds
    * (winsorization: tail rows are KEPT at the bound, unlike a
    * trimmed mean which drops them — n never changes, so the
    * statistic stays comparable across groups with different outlier
    * mass). The recipe keeps every step engine-portable:
    *
    *  - bounds are the exact interpolated percentiles ROUNDED to the
    *    shared 6-dp grid (`r6`) before any downstream use — the same
    *    arithmetic `value_percentiles` hash-gates, so both engines
    *    hold bit-identical bound doubles and every comparison /
    *    product below is over identical inputs;
    *  - the untouched mid-mass is summed in DECIMAL (exact,
    *    order-free — the [[graft.engine.Determinism.muSigma]]
    *    posture), while the clamped tails contribute the closed-form
    *    terms n_low·p05 and n_high·p95: three IEEE ops in a fixed
    *    written order instead of a shuffle-order-dependent double
    *    fold, so the winsorized mean/σ are deterministic cross-engine
    *    without weakening to an approximate gate.
    *
    * Scale shape: one groupBy for bounds (5 groups, broadcast back),
    * one aggregation pass for the moments — no window, no sort of the
    * full data beyond `percentile`'s internal per-group sort (whose
    * scale path is `value_percentiles_sampled`'s hash-sample dial).
    * Reference analog: the robust-stats companion to `value_stats` /
    * `value_anomalies` (dataCollector.py:83-118's min/max/avg row).
    */
  /** `gapfill_resample` — regularize the irregular tick stream onto a
    * 1-minute grid per symbol, forward-filling the last known price
    * (and its observation time) into empty slots: the resample +
    * locf pass every time-series consumer of the reference's raw
    * store runs before modeling (`dataCollector.py:120-128` lands
    * ticks at arbitrary 5 s offsets; charts/features want a uniform
    * grid). Grid slots before a symbol's first tick are dropped
    * (nothing to fill), matching the oracle's inner ASOF join.
    *
    * Shape: the grid is generated per symbol from its min/max tick
    * minute (`sequence` + explode — no driver loop), then ONE
    * union + window pass does the fill: ticks and grid rows interleave
    * sorted by (time, kind, event_id), and `last(price, ignoreNulls)`
    * over the unbounded-preceding frame carries the newest tick
    * forward — the single-sort formulation of an as-of join against
    * the whole grid (per-slot backward joins would be a range join
    * per grid point). At 100 TB the symbol partition is the skew
    * unit; the production variant buckets by (symbol, day) and hands
    * the last pre-boundary tick to the next bucket — same window
    * logic, bounded partitions. event_id breaks equal-timestamp tick
    * ties deterministically (unique by construction).
    */
  def gapfillResample(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type").as("symbol"), col("ts"),
        col("value").cast("double").as("price"), col("event_id"))
    val grid = ev.groupBy(col("symbol"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("symbol"), explode(expr(
        """sequence(date_trunc('minute', t0), date_trunc('minute', t1),
             interval 1 minute)""")).as("ord"))
      .withColumn("pt", lit(null).cast("timestamp"))
      .withColumn("price", lit(null).cast("double"))
      .withColumn("event_id", lit(null).cast("long"))
      .withColumn("is_grid", lit(1))
    val ticks = ev
      .select(col("symbol"), col("ts").as("ord"), col("ts").as("pt"),
        col("price"), col("event_id"), lit(0).as("is_grid"))
    val w = Window.partitionBy("symbol")
      .orderBy(col("ord"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ticks.unionByName(grid.select(
        col("symbol"), col("ord"), col("pt"), col("price"),
        col("event_id"), col("is_grid")))
      .withColumn("fill_price", last(col("price"), ignoreNulls = true).over(w))
      .withColumn("fill_ts", last(col("pt"), ignoreNulls = true).over(w))
      .where(col("is_grid") === 1 && col("fill_price").isNotNull)
      .select(col("symbol"), col("ord").as("m"),
        col("fill_price").as("price"), col("fill_ts").as("last_tick_ts"))
      .orderBy("symbol", "m")
  }

  /** `gapfill_linear` — minute-grid fill by LINEAR interpolation
    * between the bracketing ticks (the locf twin of
    * [[gapfillResample]] — locf is right for state signals, linear
    * for sampled continuous ones; a resampler needs both fills).
    * Interior slots only: a slot before the first or after the last
    * tick has no bracket and drops, exactly matching the oracle's
    * inner ASOF joins.
    *
    * Determinism: bracket picks ride the same union + window trick
    * as locf (prev = last tick ≤ slot, next = first tick strictly
    * after — a tick exactly ON the slot becomes prev with ratio 0,
    * so the fill is the tick itself, exact); the interpolation
    * evaluates ONE written double expression over exact integers
    * (centi prices, µs offsets) then fences. The DuckDB oracle
    * formulates the SAME brackets independently as two ASOF joins —
    * a genuine cross-check of the window algebra.
    *
    * Scale: BOTH bracket directions run as RUNNING
    * (unboundedPreceding → current) frames — the forward bracket
    * over the REVERSED sort (ord/is_grid/event_id all desc, so at
    * equal ord the grid row precedes ticks and "strictly after" is
    * preserved) — because Spark's running frame is O(n) per
    * partition while any unboundedFollowing frame re-scans to the
    * partition end per row, O(n²): measured 255.9 s vs ≤0.7 s at
    * sf0.1 on identical data. One shuffle on symbol serves both
    * directions (two in-partition sorts); no range join per slot.
    * RobustOpsSpec pins bit-equality against the naive
    * unboundedFollowing formulation, and PlanShapeSpec lints every
    * registered query plan against that frame class.
    */
  def gapfillLinear(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type").as("symbol"), col("ts"),
        unix_micros(col("ts")).as("us"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("c"), col("event_id"))
    val grid = ev.groupBy(col("symbol"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("symbol"), explode(expr(
        """sequence(date_trunc('minute', t0), date_trunc('minute', t1),
             interval 1 minute)""")).as("ord"))
      .withColumn("us", lit(null).cast("long"))
      .withColumn("c", lit(null).cast("long"))
      .withColumn("event_id", lit(null).cast("long"))
      .withColumn("is_grid", lit(1))
    val ticks = ev
      .select(col("symbol"), col("ts").as("ord"), col("us"), col("c"),
        col("event_id"), lit(0).as("is_grid"))
    val wPrev = Window.partitionBy("symbol")
      .orderBy(col("ord"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // reversed sort: ticks strictly after the slot precede the grid
    // row; an equal-ord tick follows it (is_grid desc), staying
    // prev-only. last(_, ignoreNulls) over the running frame = the
    // nearest following tick — same value first(...) over the O(n²)
    // unboundedFollowing frame picked, at O(n).
    val wNext = Window.partitionBy("symbol")
      .orderBy(col("ord").desc, col("is_grid").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    ticks.unionByName(grid.select(col("symbol"), col("ord"), col("us"),
        col("c"), col("event_id"), col("is_grid")))
      .withColumn("pc", last(col("c"), ignoreNulls = true).over(wPrev))
      .withColumn("pus", last(col("us"), ignoreNulls = true).over(wPrev))
      .withColumn("nc", last(col("c"), ignoreNulls = true).over(wNext))
      .withColumn("nus", last(col("us"), ignoreNulls = true).over(wNext))
      .where(col("is_grid") === 1 && col("pc").isNotNull &&
        col("nc").isNotNull)
      .select(col("symbol"), col("ord").as("m"),
        r6((col("pc").cast("double")
          + (col("nc") - col("pc")).cast("double")
            * (unix_micros(col("ord")) - col("pus")).cast("double")
            / nullif((col("nus") - col("pus")).cast("double"), lit(0.0)))
          / lit(100.0)).as("price"))
      .orderBy("symbol", "m")
  }

  /** `attribution_linear` — equal-credit multi-touch attribution:
    * every click in the 24 h before a purchase shares the credit
    * 1/k (the position-agnostic member of the attribution family —
    * [[attributionLastTouch]] and `first_touch_mix` are its
    * endpoints). Fractional credits quantize to 1e-6 integer units
    * at birth (exact rational 10⁶ DIV k per click, the remainder
    * assigned to no one — documented truncation, identical on both
    * engines), so hourly credit totals are order-free integer sums.
    *
    * Scale: the click×purchase pairing is a per-user BAND join
    * (click.ts in (purchase.ts − 24 h, purchase.ts]), the
    * `join_range` posture — bounded by touches-per-user, never a
    * cross join.
    */
  def attributionLinear(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("us").as("c_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"),
        col("event_id").as("p_id"))
    val day = 86400000000L
    val pairs = purchases.join(clicks,
      Seq("user_id")).where(
        col("c_us") > col("p_us") - day && col("c_us") <= col("p_us"))
    val credits = pairs
      .withColumn("k", count(lit(1))
        .over(Window.partitionBy(col("p_id"))))
      .withColumn("credit_u", expr("1000000 DIV k"))
    credits
      .groupBy(hour(timestamp_micros(col("c_us"))).as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_u")).as("credit_u"))
      .select(col("click_hour"), col("n_touches"),
        r6(col("credit_u").cast("double") / lit(1000000.0))
          .as("credited_purchases"))
      .orderBy("click_hour")
  }

  /** `anomaly_mad` — robust outlier detection by median absolute
    * deviation: the breakdown-resistant twin of `value_anomalies`
    * (whose μ/σ an adversarial 1% of rows can drag arbitrarily —
    * median/MAD tolerate 50% contamination, the textbook reason
    * data-quality pipelines flag on MAD before training). Rows whose
    * modified z-score (value − med)/(1.4826·MAD) exceeds ±3.5 (the
    * Iglewicz–Hoaglin cut) are emitted.
    *
    * Portability recipe: both medians are exact interpolated
    * percentiles ROUNDED to the 6-dp grid BEFORE downstream use (the
    * `winsorized_stats` bounds posture), so both engines hold
    * bit-identical med/MAD doubles; |value − med| and the final score
    * are then single correctly-rounded IEEE ops over identical inputs
    * in a fixed written order — the whole statistic hash-gates with no
    * approximate weakening. 1.4826 enters as the same literal in both
    * engines (consistency constant: 1/Φ⁻¹(3/4), makes MAD estimate σ
    * under normality).
    *
    * Scale shape: two aggregation passes (median, then MAD over the
    * deviations) with 5-row broadcast joins back onto the scan — no
    * window, no full sort; `percentile`'s per-group sort is the cost,
    * and `value_percentiles_sampled`'s hash-sample dial is the
    * documented scale path for both passes. Degenerate groups (MAD=0,
    * >50% identical values) are excluded by the guard rather than
    * dividing by zero — exact because the grid round makes the zero
    * exact.
    */
  def anomalyMad(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val med = ev.groupBy(col("event_type"))
      .agg(r6(expr("percentile(value, 0.5)")).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(r6(expr("percentile(adev, 0.5)")).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .where(col("mad") > 0.0)
      .withColumn("rz",
        (col("value") - col("med")) / (lit(1.4826) * col("mad")))
      .where(abs(col("rz")) > 3.5)
      .select(col("event_id"), col("event_type"), col("value"),
        r6(col("rz")).as("rz"))
      .orderBy("event_id")
  }

  /** `winsorized_stats` — p05/p95-clamped moments per symbol.
    * Memory note: the exact-`percentile` bounds buffer each group in
    * aggregation state — bounded here (5 symbols), but a 100 TB group
    * should take its bounds from the sampled or sketch twin instead
    * (the `value_percentiles` routing note; sampled rank error is
    * pinned ≤ 8% in SketchQualitySpec, and winsorization bounds are
    * cut points, not statistics — a ≤ 8%-rank-off clamp still bounds
    * the same tail mass to first order).
    */
  def winsorizedStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(s, d)
    val bounds = ev.groupBy(col("event_type")).agg(
      r6(expr("percentile(value, 0.05)")).as("p05"),
      r6(expr("percentile(value, 0.95)")).as("p95"))
    val dec = col("value").cast(DecimalType(16, 2))
    val mid = col("value") >= col("p05") && col("value") <= col("p95")
    val agg = ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_high"),
        sum(when(mid, dec)).cast("double").as("sum_mid"),
        sum(when(mid, (dec * dec).cast(DecimalType(22, 4))))
          .cast("double").as("ssq_mid"),
        max(col("p05")).as("p05"),
        max(col("p95")).as("p95"))
      // mean computed ONCE and reused — the oracle mirrors the same
      // shape so the variance sees the identical mean double
      .withColumn("mean_raw",
        (col("sum_mid") + col("n_low") * col("p05")
          + col("n_high") * col("p95")) / col("n"))
      .withColumn("ssq_w",
        col("ssq_mid") + col("n_low") * (col("p05") * col("p05"))
          + col("n_high") * (col("p95") * col("p95")))
    agg.select(
      col("event_type"), col("n"), col("n_low"), col("n_high"),
      col("p05"), col("p95"),
      r6(col("mean_raw")).as("mean_w"),
      // greatest(..,0): the ssq−n·µ² form can round a hair negative
      // on near-constant groups; Spark would emit NaN while DuckDB
      // ERRORS on sqrt(negative) — clamp identically in both engines
      r6(sqrt(greatest(
        (col("ssq_w") - col("n") * col("mean_raw") * col("mean_raw"))
          / (col("n") - 1), lit(0.0)))).as("sd_w"))
      .orderBy("event_type")
  }

  /** `ks_drift` — two-sample Kolmogorov–Smirnov statistic per event
    * type between the EARLY and LATE halves of the stream (split at
    * the midpoint of the observed time range): the distribution-drift
    * monitor for the tick domain, and the nonparametric complement to
    * `vocab_drift`'s per-token chi-square — KS sees a shifted VALUE
    * distribution that per-category counts cannot.
    *
    * D = sup_v |F_early(v) − F_late(v)|, evaluated at every distinct
    * observed value (the ECDFs only jump there, so the sup over the
    * merged sample points is the true sup). Entirely rational: the
    * cumulative counts are integers from one ordered prefix sum, each
    * ECDF value is one correctly-rounded division, and max() over
    * identical doubles is order-free — no transcendental anywhere, so
    * the row hash-gates with no fence (the `vocab_drift` posture).
    *
    * Scale shape: one (type, value) count aggregation (the same
    * exchange `value_histogram` pays), a per-type window prefix sum
    * over DISTINCT values (bounded by value cardinality, not row
    * count), and a 5-row final aggregate. The midpoint constant rides
    * a 1-row broadcast.
    */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
    // integer midpoint: (min+max) div 2 — exact, overflow-free for
    // µs epochs (< 2^62 summed)
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val counts = e.join(broadcast(mid), lit(true))
      .groupBy(col("event_type"), col("value"))
      .agg(
        sum(when(col("us") <= col("mid_us"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("us") > col("mid_us"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val w = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum_a", sum(col("c_a")).over(w))
      .withColumn("cum_b", sum(col("c_b")).over(w))
      .join(broadcast(totals), Seq("event_type"))
      // a type living entirely in one half has no two-sample statistic
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("gap", abs(
        col("cum_a").cast("double") / col("n_a")
          - col("cum_b").cast("double") / col("n_b")))
      .groupBy(col("event_type"))
      .agg(max(col("n_a")).as("n_early"), max(col("n_b")).as("n_late"),
        max(col("gap")).as("gap"))
      .select(col("event_type"), col("n_early"), col("n_late"),
        r6(col("gap")).as("ks"))
      .orderBy("event_type")
  }

  /** `value_bands` — Bollinger bands per symbol: the 20-tick moving
    * mean ± 2σ envelope over the tick stream (the volatility-band
    * monitor of the reference's crypto domain; `moving_avg` is the
    * mean alone, `value_anomalies` the full-history z-score — this is
    * the LOCAL-window regime detector between them).
    *
    * Portability: the frame moments ride the `muSigma` decimal recipe
    * inside a ROWS window — Σv and Σv² exact in DECIMAL over the
    * 20-row frame (order-free), the variance numerator n·Σv² − (Σv)²
    * computed in decimal (exact, ≥ 0 ⇒ sqrt never sees a negative),
    * and mean/σ/bands evaluated in one written double op order. The
    * frame is pinned by (ts, event_id) — a total order, so both
    * engines fill it with the same 20 rows.
    *
    * Scale shape: one shuffle on symbol + per-partition sort (the
    * standard window plan); no broadcast, no second pass. At 100 TB
    * the symbol partitioning matches the tick layout, so the window
    * runs map-side over sorted partitions.
    */
  def valueBands(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(-19, 0)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
      .withColumn("vd", col("price").cast(DecimalType(16, 2)))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1d", sum(col("vd")).over(w).cast(DecimalType(16, 2)))
      .withColumn("s2d",
        sum(col("vd") * col("vd")).over(w).cast(DecimalType(22, 4)))
      .withColumn("mid_raw", col("s1d").cast("double") / col("n"))
      .withColumn("sigma_raw",
        sqrt((col("n").cast(DecimalType(10, 0)) * col("s2d")
          - col("s1d") * col("s1d")).cast("double")) / col("n"))
      .select(col("event_id"), col("symbol"), col("price"),
        col("n").as("n_window"),
        r6(col("mid_raw")).as("mid"),
        r6(col("mid_raw") + lit(2.0) * col("sigma_raw")).as("upper_band"),
        r6(col("mid_raw") - lit(2.0) * col("sigma_raw")).as("lower_band"))
      .orderBy("event_id")
  }

  /** `hourly_profile` — hour-of-day seasonality per symbol: sample
    * count, mean, σ, and range for each (symbol, hour 0–23) cell.
    * The intraday-pattern profile the reference's OHLC rollup can't
    * see (it buckets by ABSOLUTE hour; this folds all days onto one
    * 24-hour clock — the volatility-by-time-of-day view a trading
    * domain reads first). μ/σ ride the muSigma decimal recipe
    * (exact, order-free, σ exactly 0 for constant cells); min/max
    * are order-free by definition. One aggregation pass, ≤ 24·|symbols|
    * output rows at any scale — the partial aggregate does all the
    * work map-side.
    */
  def hourlyProfile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(16, 2))
    Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        hour(col("ts")).as("hod"),
        col("value").cast("double").as("price"))
      .groupBy(col("symbol"), col("hod"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("price"))).cast(DecimalType(16, 2)).as("s1d"),
        sum(dec(col("price")) * dec(col("price")))
          .cast(DecimalType(22, 4)).as("s2d"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))
      .select(col("symbol"), col("hod"), col("n"),
        r6(col("s1d").cast("double") / col("n")).as("mean_price"),
        r6(sqrt((col("n").cast(DecimalType(10, 0)) * col("s2d")
          - col("s1d") * col("s1d")).cast("double")) / col("n"))
          .as("sd_price"),
        col("min_price"), col("max_price"))
      .orderBy("symbol", "hod")
  }

  /** `lag_features` — the supervised-learning feature frame over the
    * tick stream: per-symbol lags, first difference, one-step return,
    * and the 10-tick rolling envelope. This is the forecasting /
    * anomaly-model input matrix a training pipeline materializes from
    * raw series (lag-k + return + local range is the canonical
    * feature triplet).
    *
    * Portability: lags are row-moves under the (us, event_id) total
    * order — value-preserving, no arithmetic; `delta1` is one IEEE
    * subtraction of identical operands; `ret1` is one division fenced
    * on the 6-dp grid with a NULLIF zero guard; min/max are
    * order-free. Nothing here depends on aggregation order.
    *
    * Scale shape: ONE shuffle on symbol + per-partition sort serves
    * every window column (all share the frame spec) — the same plan
    * whether 10⁵ or 10¹² ticks, with per-symbol partitions spilling
    * independently. No joins, no broadcast, no second pass.
    */
  def lagFeatures(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val w10 = w.rowsBetween(-9, 0)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
      .withColumn("lag1", lag(col("price"), 1).over(w))
      .withColumn("lag5", lag(col("price"), 5).over(w))
      .withColumn("delta1", col("price") - col("lag1"))
      .withColumn("ret1",
        r6((col("price") - col("lag1"))
          / nullif(col("lag1"), lit(0.0))))
      .withColumn("min10", min(col("price")).over(w10))
      .withColumn("max10", max(col("price")).over(w10))
      .select("event_id", "symbol", "price", "lag1", "lag5",
        "delta1", "ret1", "min10", "max10")
      .orderBy("event_id")
  }

  /** `pair_correlation` — cross-asset correlation: Pearson r between
    * every symbol pair's HOURLY mean-price series, over the hours
    * both traded (the co-movement matrix a portfolio/regime monitor
    * reads; `corr_matrix` correlates columns of one row — this
    * correlates two resampled time series per pair).
    *
    * Portability is the proven `corr_matrix` posture lifted onto a
    * derived series: each hourly mean lands on the 6-dp grid BEFORE
    * use (both engines hold the identical double, hence the identical
    * DECIMAL(18,6)), all five moment sums run exact in decimal
    * (products DECIMAL(37,12) — order-free), each is cast
    * correctly-rounded to double ONCE, and the closed form evaluates
    * in one written op order. σ=0 series yield NULL via the zero
    * denominator guard rather than an engine-dependent ±Inf.
    *
    * Scale shape: the hourly resample is the big-data pass (one
    * aggregation, map-side partials); the pair self-join runs on the
    * RESAMPLED series — |hours|·|symbols| rows, millions at a decade
    * of 100 TB tick history — and broadcasts, never shuffling the
    * raw ticks twice. Output is |symbols|²/2 rows.
    */
  def pairCorrelation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hr"),
        col("event_type").as("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("value").cast(DecimalType(16, 2)))
          .cast(DecimalType(16, 2)).as("s1d"))
      .select(col("hr"), col("symbol"),
        r6(col("s1d").cast("double") / col("n_ticks"))
          .cast(DecimalType(18, 6)).as("m"))
    val a = hourly.select(col("hr"), col("symbol").as("sym_a"),
      col("m").as("ma"))
    val b = hourly.select(col("hr"), col("symbol").as("sym_b"),
      col("m").as("mb"))
    a.join(b, Seq("hr"))
      .where(col("sym_a") < col("sym_b"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("ma")).cast(DecimalType(28, 6)).as("sx"),
        sum(col("mb")).cast(DecimalType(28, 6)).as("sy"),
        sum(col("ma") * col("ma")).cast(DecimalType(38, 12)).as("sxx"),
        sum(col("mb") * col("mb")).cast(DecimalType(38, 12)).as("syy"),
        sum(col("ma") * col("mb")).cast(DecimalType(38, 12)).as("sxy"))
      .select(col("sym_a"), col("sym_b"), col("n_hours"),
        r6((col("n_hours").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / nullif(
            sqrt(col("n_hours").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n_hours").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")),
            lit(0.0))).as("corr"))
      .orderBy("sym_a", "sym_b")
  }

  /** `user_features` — the per-entity feature-store materialization:
    * one row per user with activity counts, per-type counts, distinct
    * active days, exact value sums/means, and the activity time span.
    * This is the "wide profile" every ranking / churn / abuse model
    * trains on, built in ONE scan of the event log.
    *
    * Portability: counts and conditional counts are integers; the
    * value sum is exact decimal cast once to double; the mean and
    * span are single fenced divisions. The two DISTINCT aggregates
    * (event types, active days) ride one expand — still one source
    * scan (the `data_profile` posture). Everything is order-free.
    *
    * Scale shape: one shuffle on user_id with map-side partials;
    * output is |users| rows. At 100 TB this is the bronze→feature
    * silver job, and the user_id partitioning it produces is exactly
    * the layout downstream point-lookups and joins want.
    */
  def userFeatures(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_error"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        sum(col("value").cast(DecimalType(16, 2)))
          .cast(DecimalType(16, 2)).as("s1d"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(col("user_id"), col("n_events"), col("n_purchase"),
        col("n_error"), col("n_types"), col("active_days"),
        col("s1d").cast("double").as("total_value"),
        r6(col("s1d").cast("double") / col("n_events")).as("mean_value"),
        r6((col("last_us") - col("first_us")).cast("double")
          / lit(3600000000.0)).as("span_hours"))
      .orderBy("user_id")
  }

  /** `target_encoding` — m-estimate smoothed mean encoding of a
    * categorical (event_type → mean value, m=10): the leakage-safe
    * categorical feature every tabular model uses where one-hot
    * explodes. Rare categories shrink toward the global mean, head
    * categories keep their own.
    *
    * Portability: the statistic is evaluated in RATIONAL form —
    * enc = (Sv·Ng + m·Sg) / (Ng·(n+m)) with every term an exact
    * integer-valued decimal (no intermediate mean is ever a rounded
    * double), so both engines divide the identical numerator by the
    * identical denominator: one correctly-rounded division, fenced at
    * 6 dp. The naive form (n·mean + m·μ)/(n+m) would compound two
    * rounded doubles.
    *
    * Scale shape: one aggregation on the category key (map-side
    * partials), a 1-row global aggregate broadcast into the final
    * projection. Output is |categories| rows; no second data pass.
    */
  def targetEncoding(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, d)
    val g = e.agg(
      sum(col("value").cast(DecimalType(16, 2)))
        .cast(DecimalType(18, 2)).as("sg"),
      count(lit(1)).cast(DecimalType(12, 0)).as("ng"))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(16, 2)))
          .cast(DecimalType(18, 2)).as("sv"))
      .join(broadcast(g), lit(true))
      .select(col("event_type"), col("n"),
        r6(col("sv").cast("double") / col("n")).as("raw_mean"),
        r6((col("sv") * col("ng") + lit(10).cast(DecimalType(2, 0)) * col("sg"))
            .cast(DecimalType(38, 2)).cast("double")
          / (col("ng") * (col("n") + lit(10)).cast(DecimalType(12, 0)))
            .cast(DecimalType(25, 0)).cast("double")).as("smoothed_mean"))
      .orderBy("event_type")
  }

  /** `cohort_retention` — the weekly cohort-retention triangle: users
    * grouped by first-activity ISO week, and for each (cohort,
    * weeks-since) cell the share of the cohort still active. The
    * product-health query every event warehouse serves daily, and a
    * good stress of calendar arithmetic + self-referential
    * aggregation staying distributed.
    *
    * Portability: ISO-Monday `date_trunc('week')` agrees between
    * engines, weeks-since is exact integer day-diff div 7, activity
    * is deduped at (user, week) BEFORE counting, and the rate is one
    * fenced division. Scale shape: one aggregation to first-weeks
    * (|users| rows), one (user, week) dedup riding the same shuffle
    * key, a user-keyed join (AQE-broadcast when cohort table is
    * small, shuffle otherwise — both correct), and a final
    * cohort-cell aggregate. No window over raw events, no explode.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val first = e.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    val sizes = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    e.join(first, Seq("user_id"))
      .withColumn("weeks_since",
        expr("datediff(wk, cohort_week) div 7").cast("long"))
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("weeks_since"), col("n_active"),
        col("cohort_size"),
        r6(col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** `rfm_scores` — recency/frequency/monetary quintile scoring per
    * user: the classic customer-value segmentation (and the bucketed
    * categorical feature its ML successor models consume). Each
    * dimension is NTILE(5) under a TOTAL order (metric, then user_id)
    * so bucket assignment is deterministic in any engine — NTILE's
    * bucket-size formula (first n mod k buckets take one extra row)
    * is standard SQL and engine-agreed; ties are broken by user_id
    * before NTILE ever sees the rows. Monetary ranks on the EXACT
    * decimal sum, never a rounded double.
    *
    * Scale shape: one user aggregation, then three ntile windows over
    * the |users| aggregate (single partition by design — quintiles
    * are a global statistic; at 100 TB swap in `quantile_bins`'
    * bounds-broadcast form, which this row's spec pins as the
    * scalable twin for deciles). Output |users| rows.
    */
  def rfmScores(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(16, 2)))
          .cast(DecimalType(16, 2)).as("monetary"))
    u.withColumn("r_score",
        ntile(5).over(Window.orderBy(col("last_us").desc, col("user_id").asc)))
      .withColumn("f_score",
        ntile(5).over(Window.orderBy(col("n_events").desc, col("user_id").asc)))
      .withColumn("m_score",
        ntile(5).over(Window.orderBy(col("monetary").desc, col("user_id").asc)))
      .select(col("user_id"), col("last_us"), col("n_events"),
        col("monetary").cast("double").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm"))
      .orderBy("user_id")
  }

  /** `window_cume` — percent_rank and cume_dist of order value within
    * each order priority: the distribution-position features
    * (rank-based, hence insensitive to value scale and outliers —
    * what makes them robust model inputs). Both statistics are
    * RANK-based, so duplicate values receive identical positions and
    * the result is deterministic without any tie-break: percent_rank
    * = (rank−1)/(n−1), cume_dist = |peers ≤ v|/n — integer counts,
    * one fenced division each. One shuffle on the partition key +
    * per-partition sort; no joins.
    */
  def windowCume(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pr", r6(percent_rank().over(w)))
      .withColumn("cd", r6(cume_dist().over(w)))
      .orderBy("o_orderkey")
  }

  /** `ewma_smooth` — dyadic exponentially-weighted moving average per
    * symbol: weights 2⁻¹…2⁻⁸ over the last 8 ticks, renormalized over
    * the lags that exist. EWMA is the standard low-latency smoother;
    * the DYADIC truncation is what makes it hash-gateable — every
    * weight is a power of two, so each product is EXACT in IEEE, and
    * the single written left-to-right sum gives both engines the
    * identical double before the one fenced renormalizing division.
    * (A general-α EWMA needs pow(), whose last ulp is
    * implementation-defined — this is the fence-free formulation.)
    *
    * Scale shape: identical to [[lagFeatures]] — ONE shuffle+sort per
    * symbol serves all eight lag columns; no recursion, no state, so
    * the operator parallelizes like any window, unlike the textbook
    * recursive EWMA which is inherently sequential per key.
    */
  def ewmaSmooth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val base = sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
    val lagged = (1 to 7).foldLeft(base) { (df, k) =>
      df.withColumn(s"l$k", lag(col("price"), k).over(w))
    }
    // written fold order: price/2 + l1/4 + ... + l7/256; absent lags
    // contribute 0 to the sum and 0 to the weight mass
    val (num, den) = (1 to 7).foldLeft(
      (col("price") * lit(0.5), lit(0.5))) { case ((n, m), k) =>
      val wt = 1.0 / (1L << (k + 1)).toDouble
      (n + coalesce(col(s"l$k"), lit(0.0)) * lit(wt),
        m + when(col(s"l$k").isNotNull, lit(wt)).otherwise(lit(0.0)))
    }
    lagged
      .select(col("event_id"), col("symbol"), col("price"),
        r6(num / den).as("ewma"))
      .orderBy("event_id")
  }

  /** `interarrival_stats` — per-symbol inter-arrival profile: gap
    * count, mean/σ of the µs gaps, max gap, and the Goh–Barabási
    * burstiness B = (σ−μ)/(σ+μ) (B→−1 periodic, 0 Poisson, →1
    * bursty). The traffic-model readout that sizes stream capacity
    * and spots dying feeds — the reference's 5 s poll should score
    * B ≈ −1, which is how you'd detect the daemon's cadence from its
    * data alone.
    *
    * Portability: gaps are exact integer µs differences; Σgap and
    * Σgap² ride DECIMAL(19/30,0) (order-free, exact), μ and σ are
    * the muSigma double recipe, and B is one written expression over
    * those two doubles with a NULLIF(σ+μ) guard. One window pass for
    * gaps (the lag_features shuffle) + one aggregation.
    */
  def interarrivalStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type").as("symbol"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(dec(col("gap"))).cast(DecimalType(19, 0)).as("s1"),
        sum(dec(col("gap")) * dec(col("gap")))
          .cast(DecimalType(30, 0)).as("s2"),
        max(col("gap")).as("max_gap_us"))
      .withColumn("mean_raw", col("s1").cast("double") / col("n_gaps"))
      .withColumn("sd_raw",
        sqrt((col("n_gaps").cast(DecimalType(8, 0)) * col("s2")
          - col("s1") * col("s1")).cast("double")) / col("n_gaps"))
      .select(col("symbol"), col("n_gaps"),
        r6(col("mean_raw")).as("mean_gap_us"),
        r6(col("sd_raw")).as("sd_gap_us"),
        col("max_gap_us"),
        r6((col("sd_raw") - col("mean_raw"))
          / nullif(col("sd_raw") + col("mean_raw"), lit(0.0)))
          .as("burstiness"))
      .orderBy("symbol")
  }

  /** `activity_heatmap` — the (ISO weekday × hour) activity matrix:
    * tick count and exact mean value per cell, folding all history
    * onto one week — the weekly-seasonality twin of
    * [[hourlyProfile]]'s daily clock (`DAYOFWEEK_ISO`/`isodow` agree
    * between engines where the bare day-of-week numberings do not —
    * Spark counts Sunday=1, DuckDB Sunday=0). One aggregation pass,
    * ≤ 168 output rows at any scale; the muSigma decimal mean.
    */
  def activityHeatmap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.events(s, d)
      .select(expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").as("dow_iso"),
        hour(col("ts")).as("hod"),
        col("value").cast(DecimalType(16, 2)).as("vd"))
      .groupBy(col("dow_iso"), col("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("vd")).cast(DecimalType(16, 2)).as("s1d"))
      .select(col("dow_iso"), col("hod"), col("n"),
        r6(col("s1d").cast("double") / col("n")).as("mean_value"))
      .orderBy("dow_iso", "hod")
  }

  /** `psi_drift` — Population Stability Index per symbol: the
    * industry-standard ML monitoring drift score (`ks_drift` is the
    * statistician's sup-gap; PSI is what model-risk reviews ask for).
    * Reference bins are the EARLY half's deciles (bounds on the 6-dp
    * grid — the `quantile_bins` recipe), both halves' bin shares are
    * Laplace-smoothed (c+1)/(n+10) so empty bins stay finite and the
    * shares remain exact rationals, and
    * PSI = Σ (q−p)·ln(q/p) with the ln INPUT fenced to the grid and
    * each term integer-quantized at 10⁻⁶ before an ORDER-FREE 64-bit
    * sum (the `entropy_stats` log-fencing posture — a groupBy sum of
    * raw doubles would be fold-order-dependent).
    *
    * Scale shape: one midpoint broadcast, one bounds aggregate over
    * the early half broadcast back, one counting aggregation on
    * (symbol, bin), a 10-row-per-symbol fold. No window over raw
    * rows, no second corpus pass beyond the bounds job. The decile
    * bounds use exact `percentile` (per-group buffering — bounded at
    * 5 symbols); a 100 TB group takes its reference deciles from the
    * sampled twin instead (`value_percentiles` routing note — PSI
    * bins are monitoring cut points, and the sampled route's rank
    * error is pinned ≤ 8% in SketchQualitySpec).
    */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type").as("symbol"), col("value"),
        unix_micros(col("ts")).as("us"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val ev = e.join(broadcast(mid), lit(true))
      .withColumn("late", col("us") > col("mid_us"))
    val bounds = ev.where(!col("late"))
      .groupBy(col("symbol"))
      .agg(expr(
        """transform(
             percentile(value, array(0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9)),
             b -> floor(b * 1000000 + 0.5) / 1000000)""").as("bs"))
    val binned = ev.join(broadcast(bounds), Seq("symbol"))
      .select(col("symbol"), col("late"),
        (size(expr("filter(bs, b -> value > b)")) + 1).as("bin"))
      .groupBy(col("symbol"), col("bin"))
      .agg(
        sum(when(!col("late"), 1L).otherwise(0L)).as("c_p"),
        sum(when(col("late"), 1L).otherwise(0L)).as("c_q"))
    // per-symbol totals ride a window over the binned grid (≤ 10
    // rows per symbol, aggregate-bounded) instead of a second
    // aggregate joined back — the join form recomputed the whole
    // binned subtree (mid + bounds + corpus count) a second time
    val wSym = Window.partitionBy("symbol")
    binned
      .withColumn("n_p", sum(col("c_p")).over(wSym))
      .withColumn("n_q", sum(col("c_q")).over(wSym))
      // Laplace-smoothed shares; ln input fenced to the 6-dp grid,
      // each term quantized to 1e-6 BEFORE the order-free long sum
      .withColumn("p", r6((col("c_p") + 1).cast("double")
        / (col("n_p") + 10).cast("double")))
      .withColumn("q", r6((col("c_q") + 1).cast("double")
        / (col("n_q") + 10).cast("double")))
      .withColumn("term_q",
        floor(((col("q") - col("p")) * log(r6(col("q") / col("p"))))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("symbol"))
      .agg(max(col("n_p")).as("n_early"), max(col("n_q")).as("n_late"),
        r6(sum(col("term_q")).cast("double") / lit(1000000.0)).as("psi"))
      .orderBy("symbol")
  }

  /** `mutual_information` — MI between event type and value decile:
    * the feature-relevance score for a categorical↔numeric pair
    * (`corr_matrix` covers numeric↔numeric; this is the other half a
    * feature-selection pass needs). Deciles are global, bounds on the
    * 6-dp grid; MI = Σ (c_td/N)·ln(c_td·N/(c_t·c_d)) with every
    * probability an exact-integer division (correctly rounded
    * identically in both engines), the ln INPUT fenced to the grid,
    * and each term quantized at 10⁻⁹ into an order-free long sum —
    * finer than the PSI grid because MI terms are O(10⁻⁴) each.
    * One bounds pass + one (type, decile) count aggregation.
    */
  def mutualInformation(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val bounds = ev.agg(expr(
      """transform(
           percentile(value, array(0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9)),
           b -> floor(b * 1000000 + 0.5) / 1000000)""").as("bs"))
    val cells = ev.join(broadcast(bounds), lit(true))
      .select(col("event_type").as("t"),
        (size(expr("filter(bs, b -> value > b)")) + 1).as("dec"))
      .groupBy(col("t"), col("dec"))
      .agg(count(lit(1)).as("c_td"))
    // marginals and the grand total are window sums over the
    // (type, decile) grid — ≤ |types|·10 rows, aggregate-bounded —
    // instead of three re-aggregates joined back, each of which
    // recomputed the corpus scan + cell aggregation from scratch
    cells
      .withColumn("c_t", sum(col("c_td")).over(Window.partitionBy("t")))
      .withColumn("c_d", sum(col("c_td")).over(Window.partitionBy("dec")))
      .withColumn("n_total",
        sum(col("c_td")).over(Window.partitionBy()))
      .withColumn("term_q",
        floor(((col("c_td").cast("double") / col("n_total"))
          * log(r6((col("c_td") * col("n_total")).cast("double")
            / (col("c_t") * col("c_d")).cast("double"))))
          * lit(1000000000.0) + lit(0.5)).cast("long"))
      .agg(max(col("n_total")).as("n"),
        r6(sum(col("term_q")).cast("double") / lit(1000000000.0))
          .as("mi_nats"))
  }

  /** `cross_corr_lag` — lead–lag scanner: for every symbol pair, the
    * Pearson r between a's hourly mean series and b's series shifted
    * by L ∈ {−2..2} hours, reporting the lag with the strongest
    * |r| — the signal a pairs-trading / causality screen looks for
    * ([[pairCorrelation]] is the L = 0 slice). Hours become integer
    * epoch-hour ids so the shift is an exact integer join key.
    *
    * Portability: the 6-dp-gridded means and exact decimal moments
    * of `pair_correlation` per (pair, lag); the winner is picked
    * under a TOTAL order (|r| fenced to the grid desc, then lag asc)
    * so engines agree even when two lags tie to the micro-digit.
    * Scale shape: the resample is the only corpus pass; the 5-lag
    * pair join runs on the resampled series crossed with a 5-row
    * literal — |hours|·|symbols|·5 rows, still broadcast-sized
    * relative to the ticks.
    */
  def crossCorrLag(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hr"),
        col("event_type").as("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("value").cast(DecimalType(16, 2)))
          .cast(DecimalType(16, 2)).as("s1d"))
      .select(expr("unix_micros(hr) div 3600000000").as("hid"),
        col("symbol"),
        r6(col("s1d").cast("double") / col("n_ticks"))
          .cast(DecimalType(18, 6)).as("m"))
    val lags = (-2 to 2).map(l => s"($l)").mkString(
      "SELECT * FROM (VALUES ", ", ", ") AS t(lag)")
    val lagTab = s.sql(lags)
    val a = hourly.select(col("hid"), col("symbol").as("sym_a"),
      col("m").as("ma"))
    val b = hourly.select(col("hid").as("hid_b"), col("symbol").as("sym_b"),
      col("m").as("mb"))
    val joint = a.join(broadcast(lagTab), lit(true))
      .join(b, col("hid_b") === col("hid") + col("lag"))
      .where(col("sym_a") < col("sym_b"))
    val mom = joint.groupBy(col("sym_a"), col("sym_b"), col("lag"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("ma")).cast(DecimalType(28, 6)).as("sx"),
        sum(col("mb")).cast(DecimalType(28, 6)).as("sy"),
        sum(col("ma") * col("ma")).cast(DecimalType(38, 12)).as("sxx"),
        sum(col("mb") * col("mb")).cast(DecimalType(38, 12)).as("syy"),
        sum(col("ma") * col("mb")).cast(DecimalType(38, 12)).as("sxy"))
      .where(col("n_hours") >= 8)
      .withColumn("corr",
        r6((col("n_hours").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / nullif(
            sqrt(col("n_hours").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n_hours").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")),
            lit(0.0))))
      .where(col("corr").isNotNull)
    val w = Window.partitionBy("sym_a", "sym_b")
      .orderBy(abs(col("corr")).desc, col("lag").asc)
    mom.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("sym_a"), col("sym_b"),
        col("lag").cast("long").as("best_lag"),
        col("n_hours"), col("corr"))
      .orderBy("sym_a", "sym_b")
  }

  /** `max_drawdown` — per-symbol maximum peak-to-trough loss: the
    * risk metric every trading report leads with, and a window shape
    * the OHLC family doesn't cover (a running extremum CONSUMED by a
    * per-row ratio, then re-aggregated). drawdown_i =
    * (peak_i − price_i)/peak_i with peak_i the running max.
    *
    * Portability: the running max is order-free and exact; each
    * drawdown is one division fenced to the 6-dp grid; the final max
    * compares identical doubles. The NULLIF guard covers a
    * non-positive peak (defensive — prices here are positive).
    * Scale: the one symbol-keyed window shuffle + a tiny aggregate.
    */
  def maxDrawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
      .withColumn("peak", max(col("price")).over(w))
      .withColumn("dd", r6((col("peak") - col("price"))
        / nullif(col("peak"), lit(0.0))))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        max(col("peak")).as("peak_price"),
        min(col("price")).as("low_price"),
        max(col("dd")).as("max_drawdown"))
      .orderBy("symbol")
  }

  /** `rsi_indicator` — trailing-14 Relative Strength Index per
    * symbol (Wilder '78, SMA form): RSI = 100·G/(G+L) where G/L are
    * the summed gains/losses over the last 14 tick-to-tick moves.
    * The momentum oscillator every price feed consumer computes —
    * the natural companion to [[maxDrawdown]] and `value_bands` on
    * the reference's OHLC stream.
    *
    * Portability: the Wilder-smoothed form is recursive (inherently
    * sequential per key, like a general-α EWMA); the SMA form is a
    * pure ROWS frame. Each move is an exact IEEE double difference,
    * quantized to the 6-dp grid as an INTEGER before the frame sums —
    * so G and L are order-free integer folds (a windowed sum may
    * fold in segment-tree order in one engine and sequentially in
    * the other; integers make the order irrelevant), and the only
    * float op is the final fenced 100·G/(G+L) division. Output is
    * the last 20 full-frame ticks per symbol (bounded at any scale).
    *
    * Scale shape: the [[lagFeatures]] plan — ONE shuffle+sort per
    * symbol serves the lag, both frame sums, and both row_numbers.
    */
  def rsiIndicator(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val fr = w.rowsBetween(-13, 0)
    val wd = Window.partitionBy("symbol")
      .orderBy(col("us").desc, col("event_id").desc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
      .withColumn("dq",
        floor((col("price") - lag(col("price"), 1).over(w))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("gains",
        sum(when(col("dq") > 0, col("dq")).otherwise(lit(0L))).over(fr))
      .withColumn("losses",
        sum(when(col("dq") < 0, -col("dq")).otherwise(lit(0L))).over(fr))
      .where(col("rn") >= 15)
      .withColumn("rdesc", row_number().over(wd))
      .where(col("rdesc") <= 20)
      .select(col("symbol"), col("event_id"), col("price"),
        col("gains"), col("losses"),
        r6(lit(100.0) * col("gains").cast("double")
          / nullif((col("gains") + col("losses")).cast("double"),
            lit(0.0))).as("rsi14"))
      .orderBy("symbol", "event_id")
  }

  /** `rolling_median` — windowed EXACT quantiles: trailing-20-tick
    * median and IQR band per symbol — the robust twin of
    * [[bollingerBands]]'s mean±2σ envelope (a single flash-crash
    * tick drags a 20-tick mean ~5%, the median not at all). The
    * capability on show is an exact order-statistic aggregate inside
    * a ROWS window frame — a sort-based per-frame computation no
    * running-sum trick expresses.
    *
    * Determinism: quantiles interpolate at p·(n−1) over the INTEGER
    * centi frame — Spark `percentile` and DuckDB `quantile_cont`
    * share that formula, and on a 20-int frame every interpolation
    * weight is dyadic (0.25/0.5/0.75), so the values are IEEE-exact
    * on both engines before the single fenced /100 presentation
    * division. Frame membership is total-ordered by (us, event_id).
    * Output bounded: last 20 full-frame ticks per symbol (the
    * `rsi_indicator` emit discipline).
    */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val fr = w.rowsBetween(-19, 0)
    val wd = Window.partitionBy("symbol")
      .orderBy(col("us").desc, col("event_id").desc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"))
      .withColumn("rn", row_number().over(w))
      .withColumn("p25", percentile(col("centi"), lit(0.25)).over(fr))
      .withColumn("p50", percentile(col("centi"), lit(0.5)).over(fr))
      .withColumn("p75", percentile(col("centi"), lit(0.75)).over(fr))
      .where(col("rn") >= 20)
      .withColumn("rdesc", row_number().over(wd))
      .where(col("rdesc") <= 20)
      .select(col("symbol"), col("event_id"),
        r6(col("centi").cast("double") / lit(100.0)).as("price"),
        r6(col("p50") / lit(100.0)).as("median20"),
        r6(col("p25") / lit(100.0)).as("q1_20"),
        r6(col("p75") / lit(100.0)).as("q3_20"),
        r6((col("p75") - col("p25")) / lit(100.0)).as("iqr20"))
      .orderBy("symbol", "event_id")
  }

  /** `cohort_ltv` — the cumulative-revenue-by-cohort-age curve (the
    * LTV readout next to [[cohortRetention]]'s presence matrix):
    * customers cohorted by first-order quarter, revenue accumulated
    * over quarter age, reported as exact cents plus the
    * per-customer running average. The payback-period table every
    * growth model reads off.
    *
    * All-integer core: revenue as exact cents, ages as integer
    * quarter diffs, the cumulative sum an integer window over the
    * ≤ cohorts × ages grid (bounded at any corpus size — the same
    * collapse-then-window discipline as `open_orders_profile`).
    */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(s, d).select(col("o_custkey"),
      to_date(date_trunc("quarter", col("o_orderdate"))).as("q"),
      (col("o_totalprice").cast(DecimalType(18, 2))
        .cast(DecimalType(20, 2)) * lit(100))
        .cast(DecimalType(22, 0)).cast("long").as("cents"))
    val first = o.groupBy(col("o_custkey"))
      .agg(min(col("q")).as("cohort_q"))
    val sizes = first.groupBy(col("cohort_q"))
      .agg(count(lit(1)).as("cohort_size"))
    val aged = o.join(first, Seq("o_custkey"))
      .withColumn("age_q",
        ((months_between(col("q"), col("cohort_q"))) / lit(3.0))
          .cast("long"))
      .groupBy(col("cohort_q"), col("age_q"))
      .agg(sum(col("cents")).as("rev_cents"), count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("cohort_q")).orderBy(col("age_q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_q"))
      .select(col("cohort_q"), col("age_q"), col("cohort_size"),
        col("n_orders"), col("rev_cents"), col("cum_cents"),
        r6(col("cum_cents").cast("double") / lit(100.0)
          / col("cohort_size").cast("double")).as("ltv_per_customer"))
      .orderBy("cohort_q", "age_q")
  }

  /** `above_avg_orders` — the correlated-subquery decorrelation
    * pattern: orders strictly above their OWN customer's average
    * order value, summarized per segment. The textbook form runs a
    * correlated scalar subquery per row; the engine form computes
    * each customer's (sum, count) once and compares by exact
    * DECIMAL cross-multiplication price·n > Σprice — no division,
    * no float average, one groupBy + one key join.
    */
  def aboveAvgOrders(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(s, d).select(col("o_custkey"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
    val stats = o.groupBy(col("o_custkey"))
      .agg(sum(col("p")).as("psum"), count(lit(1)).as("n"))
    o.join(stats, Seq("o_custkey"))
      .where(col("p") * col("n") > col("psum"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_above"),
        dsum(col("p")).as("above_revenue"))
      .orderBy("c_mktsegment")
  }

  /** `active_users_7d` — DAU and rolling 7-day distinct users per
    * day: THE engagement metric, and the batch shape of
    * sliding-window COUNT DISTINCT (each (user, day) presence row
    * explodes into the ≤ 7 window-days it supports, then one
    * distinct + count per window-day — linear ×7, never a per-day
    * rescan). Pure integers.
    */
  def activeUsers7d(s: SparkSession, d: String): DataFrame = {
    val presence = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = presence.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = presence
      .select(col("user_id"), explode(sequence(col("day"),
        date_add(col("day"), 6))).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day"))
      .agg(count(lit(1)).as("wau_7d"))
    // report only days that actually have activity (inner join):
    // trailing ghost days from the +6 explode drop out
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau_7d"))
      .orderBy("day")
  }

  /** `cumulative_reach` — total distinct users ever seen, by day:
    * the growth curve beside [[activeUsers7d]]'s rolling window.
    * The naive form re-distincts an ever-growing prefix per day
    * (quadratic); the engine form reduces each user to their FIRST
    * day (one aggregate), counts first-appearances per day, and
    * prefix-sums over the bounded day grid — the running-distinct
    * identity that makes the curve one linear pass at any scale.
    * Days with no new users still appear (reach is a step function
    * defined on every active day), carried by the activity-day
    * frame with a zero new-user leg.
    */
  def cumulativeReach(s: SparkSession, d: String): DataFrame = {
    val pres = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = pres.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
    val activeDays = pres.select(col("day")).distinct()
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    activeDays
      .join(firstDay, Seq("day"), "left_outer")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("total_reach", sum(col("new_users")).over(w))
      .select(col("day"), col("new_users"), col("total_reach"))
      .orderBy("day")
  }

  /** `weighted_percentiles` — volume-weighted price percentiles per
    * symbol: where did the MONEY trade, not where did the ticks
    * print (a thin 2-lot print away from the market should barely
    * move the distribution; tick-weighted percentiles let it). The
    * capability: Spark's `percentile(col, p, frequency)` runs the
    * weighted quantile in O(distinct values) — while the DuckDB
    * oracle materializes the multiset by `generate_series` expansion
    * (~Σvol rows) and runs the UNWEIGHTED quantile over it. Two
    * genuinely independent formulations; they agree exactly because
    * both interpolate at p·(N−1) over the same expanded multiset and
    * the centi values are integers (the `rolling_median` dyadic
    * argument, here at N = Σvol).
    *
    * Scale: one hash aggregate per symbol over (value, weight)
    * pairs; the weighted path never expands — at 100 TB the oracle's
    * expansion is impossible and the weighted algebra is the ONLY
    * viable plan, which is exactly why the small-scale cross-check
    * earns its keep.
    */
  def weightedPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
      .where(col("vol").isNotNull && col("vol") > 0)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("vol")).as("total_vol"),
        percentile(col("centi"), lit(0.1), col("vol")).as("wq10"),
        percentile(col("centi"), lit(0.5), col("vol")).as("wq50"),
        percentile(col("centi"), lit(0.9), col("vol")).as("wq90"))
      .select(col("symbol"), col("n_ticks"), col("total_vol"),
        r6(col("wq10") / lit(100.0)).as("wp10"),
        r6(col("wq50") / lit(100.0)).as("wp50"),
        r6(col("wq90") / lit(100.0)).as("wp90"))
      .orderBy("symbol")

  /** `peak_detection` — strict local maxima per symbol with
    * prominence: a tick is a peak iff its centi price strictly
    * exceeds both neighbors; prominence is the smaller drop to a
    * neighbor. The signal-processing census (how spiky is this
    * series) beside [[cusumChangepoint]]'s level-shift locator.
    *
    * All-integer core: peak predicate and prominence compare exact
    * centi; the mean inter-peak gap TELESCOPES to
    * (last−first)/(n−1) — no per-gap pass, two exact integers and
    * one fenced division. One sort per symbol serves lag and lead;
    * the reduction is a 5-row aggregate.
    */
  def peakDetection(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"))
      .withColumn("prev", lag(col("centi"), 1).over(w))
      .withColumn("next", lead(col("centi"), 1).over(w))
      .withColumn("is_peak", col("prev").isNotNull &&
        col("next").isNotNull && col("centi") > col("prev") &&
        col("centi") > col("next"))
      .withColumn("prom", when(col("is_peak"),
        least(col("centi") - col("prev"), col("centi") - col("next"))))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(when(col("is_peak"), 1L).otherwise(0L)).as("n_peaks"),
        max(col("prom")).as("max_prom_centi"),
        sum(col("prom")).as("sum_prom_centi"),
        min(when(col("is_peak"), col("us"))).as("first_us"),
        max(when(col("is_peak"), col("us"))).as("last_us"))
      .select(col("symbol"), col("n_ticks"), col("n_peaks"),
        r6(col("max_prom_centi").cast("double") / lit(100.0))
          .as("max_prominence"),
        r6(col("sum_prom_centi").cast("double") / lit(100.0)
          / col("n_peaks").cast("double")).as("mean_prominence"),
        r6((col("last_us") - col("first_us")).cast("double")
          / lit(1000000.0)
          / nullif((col("n_peaks") - 1L).cast("double"), lit(0.0)))
          .as("mean_gap_sec"))
      .orderBy("symbol")
  }

  /** `runs_test` — the Wald–Wolfowitz randomness screen per symbol:
    * are up/down moves independent, or does the series trend /
    * mean-revert more than chance allows? Counts runs R of equal
    * move signs over the NONZERO centi moves, then z-scores R
    * against the exact null moments μ = 2·n₊·n₋/n + 1,
    * σ² = 2·n₊·n₋·(2·n₊·n₋ − n) / (n²·(n−1)).
    *
    * Portability: R, n₊, n₋ are exact integers (one lag window for
    * moves, one more for sign changes); μ, σ², z evaluate as ONE
    * written double expression from those integers — identical op
    * sequence in the oracle — then the single r6 fence. The
    * zero-move exclusion is a row filter (batch: no watermark to
    * protect). Scale: two narrow windows per symbol + a 5-row
    * aggregate.
    */
  def runsTest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val moves = sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"))
      .withColumn("mv", col("centi") - lag(col("centi"), 1).over(w))
      .where(col("mv").isNotNull && col("mv") =!= 0L)
      .withColumn("sgn", when(col("mv") > 0, 1).otherwise(-1))
    val agg = moves
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(w).isNull, 0L)
          .when(col("sgn") =!= lag(col("sgn"), 1).over(w), 1L)
          .otherwise(0L))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("sgn") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") < 0, 1L).otherwise(0L)).as("n_down"),
        (sum(col("chg")) + lit(1L)).as("runs"))
    val nD = col("n").cast("double")
    val twoPN = lit(2.0) * col("n_up").cast("double") *
      col("n_down").cast("double")
    val mu = twoPN / nD + lit(1.0)
    val sigma = sqrt(twoPN * (twoPN - nD) / (nD * nD * (nD - lit(1.0))))
    agg.select(col("symbol"), col("n"), col("n_up"), col("n_down"),
      col("runs"),
      r6((col("runs").cast("double") - mu) / sigma).as("z"))
      .orderBy("symbol")
  }

  /** `first_touch_mix` — the distribution of each user's FIRST event
    * type: the acquisition-integrity check for the funnel family — a
    * cohort whose first touch is "purchase" never saw the top of the
    * funnel (tracking gap or bot traffic), and the mix shifting
    * between snapshots means the entry channel changed.
    * Deterministic first = min (us, event_id) per user; integer
    * counts; one fenced share. One user-keyed rank + one ≤ |types|
    * aggregate.
    */
  def firstTouchMix(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val firsts = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    val totals = Window.partitionBy()
    firsts
      .groupBy(col("event_type").as("first_type"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("total", sum(col("n_users")).over(totals))
      .select(col("first_type"), col("n_users"),
        r6(col("n_users").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("first_type")
  }

  /** `markov_transitions` — the first-order behavioral Markov chain:
    * transition counts and probabilities between consecutive event
    * types per user, ordered by event time. The "what do users do
    * NEXT" matrix — [[funnelSteps]] checks one scripted path,
    * [[attributionLastTouch]] credits one edge; this is the full
    * ≤ |types|² transition structure those two are slices of.
    *
    * Portability: counts are integers from one lag window over the
    * (user, time) sort (the same single shuffle the funnel family
    * rides); row-normalized probabilities are one fenced division
    * per matrix cell. Output is vocabulary-bounded (≤ 25 cells) at
    * any scale.
    */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val trans = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = Window.partitionBy("from_type")
    trans
      .withColumn("from_n", sum(col("n")).over(fromTotals))
      .select(col("from_type"), col("to_type"), col("n"),
        r6(col("n").cast("double") / col("from_n").cast("double"))
          .as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** `cusum_changepoint` — CUSUM change-point scan per symbol: the
    * index maximizing |Σ_{i≤k}(xᵢ − x̄)|, the classic single-change
    * location estimate (Page '54). The "WHEN did this series shift"
    * answer beside the distribution-level drift rows (`ks_drift`,
    * `psi_drift`) — those say the window changed, this points at the
    * tick.
    *
    * Portability: the whole argmax is EXACT INTEGER arithmetic — with
    * prices on the 1e-2 grid, Σ_{i≤k}(xᵢ − S/n) = (n·P_k − k·S)/n
    * shares the positive denominator n, so ranking |n·P_k − k·S|
    * (DECIMAL product, exact) ranks the true CUSUM with zero float
    * ops; ties break earliest (us, event_id). Only the reported
    * magnitude is divided back and fenced. Scale: one per-symbol
    * sort window (prefix sum + index ride it) + a rank — the
    * [[maxDrawdown]] plan.
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("ts"), col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      .withColumn("pk", sum(col("vq")).over(wf))
      .withColumn("k", row_number().over(w).cast("long"))
    val totals = base.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("sv"))
    val wr = Window.partitionBy("symbol")
      .orderBy(col("absnum").desc, col("us").asc, col("event_id").asc)
    base.join(totals, Seq("symbol"))
      .withColumn("num", dec(col("n")) * dec(col("pk"))
        - dec(col("k")) * dec(col("sv")))
      .withColumn("absnum", abs(col("num")))
      .withColumn("r", row_number().over(wr))
      .where(col("r") === 1)
      .select(col("symbol"), col("n"),
        col("event_id").as("change_event_id"), col("ts").as("change_ts"),
        col("k").as("change_index"),
        r6(col("num").cast("double") / col("n").cast("double")
          / lit(100.0)).as("cusum_value"))
      .orderBy("symbol")
  }

  /** `autocorrelation` — the ACF at lags 1–5 per symbol: Pearson r
    * between the series and its k-step-lagged self, the
    * memory-structure readout behind every ARIMA order choice (and
    * the formal generalization of [[crossCorrLag]]'s cross-series
    * scan to the self-pair at tick granularity).
    *
    * Portability: the `pair_correlation` decimal recipe — prices on
    * the 1e-2 integer grid, all five moments exact DECIMAL sums over
    * the lag-k pair stream, one written double expression with the
    * n·Σ − Σ·Σ closed form and two correctly-rounded sqrts, fenced.
    * Scale: ONE per-symbol sort window materializes all five lag
    * columns; the stack explode is map-side; one aggregate per
    * (symbol, lag) cell — 25 cells at any scale.
    */
  def autocorrelation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val lagged = (1 to 5).foldLeft(
      sortedTicks(s, d)
        .select(col("event_id"), col("us"), col("symbol"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("x"))) { (df, k) =>
      df.withColumn(s"l$k", lag(col("x"), k).over(w))
    }
    val stacked = lagged.select(col("symbol"), col("x"),
      expr("stack(5, 1, l1, 2, l2, 3, l3, 4, l4, 5, l5) AS (lag, y)"))
      .where(col("y").isNotNull)
    stacked
      .groupBy(col("symbol"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).cast(DecimalType(38, 0))
          .as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).cast(DecimalType(38, 0))
          .as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).cast(DecimalType(38, 0))
          .as("syy"))
      .select(col("symbol"), col("lag"), col("n"),
        r6((dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("double")
          / nullif(
            sqrt((dec(col("n")) * col("sxx")
              - dec(col("sx")) * dec(col("sx"))).cast("double"))
              * sqrt((dec(col("n")) * col("syy")
                - dec(col("sy")) * dec(col("sy"))).cast("double")),
            lit(0.0))).as("acf"))
      .orderBy("symbol", "lag")
  }

  /** `ljung_box` — the Ljung–Box portmanteau white-noise test per
    * symbol: Q = n(n+2)·Σ_{k=1..5} ρ̂_k²/(n−k) over the first five
    * autocorrelations of the centi-price series (Ljung & Box 1978) —
    * the single-scalar verdict `autocorrelation`'s per-lag table
    * feeds ("is there ANY serial structure here, jointly"), the
    * standard pre-fit diagnostic before an ARIMA/GARCH model and the
    * post-fit residual check after one.
    *
    * Portability: ρ̂_k uses the textbook full-series mean and
    * variance (not the pairwise-Pearson of `autocorrelation`), which
    * clears the divisions entirely: with S = Σx, SS = Σx² and
    * per-lag truncated sums (Σx_t·x_{t−k}, Σ_{t>k}x_t, Σx_{t−k}),
    * n²·num_k = n²Σxy − nS(Sa+Sb) + (n−k)S² and n²·den = n(nSS−S²)
    * are EXACT integer quantities (DECIMAL(38,0) / HUGEINT — peak
    * ~1e29 at sf0.1, comfortably inside both), so each ρ̂_k is ONE
    * fenced division on the 1e-6 grid and Q is a five-term sum of
    * gridded doubles in written order. Symbols shorter than 6 ticks
    * drop (no lag-5 pair), identically via the n ≥ 6 guard.
    *
    * Scale shape: the `autocorrelation` plan — one per-symbol
    * shuffle+sort serves all five lags, the stacked pair moments are
    * map-side combined to ≤ 5·|symbols| rows, the global moments to
    * |symbols| rows (broadcast), and the lag pivot is an aggregate
    * over 25 rows.
    */
  def ljungBox(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val base = sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("x"))
    val lagged = (1 to 5).foldLeft(base) { (df, k) =>
      df.withColumn(s"l$k", lag(col("x"), k).over(w))
    }
    val stacked = lagged.select(col("symbol"), col("x"),
      expr("stack(5, 1, l1, 2, l2, 3, l3, 4, l4, 5, l5) AS (lg, y)"))
      .where(col("y").isNotNull)
    val perLag = stacked.groupBy(col("symbol"), col("lg"))
      .agg(sum(dec(col("x")) * dec(col("y"))).cast(DecimalType(38, 0))
        .as("sxy"),
        sum(col("x")).as("sa"), sum(col("y")).as("sb"))
    val glob = base.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(dec(col("x")) * dec(col("x"))).cast(DecimalType(38, 0))
          .as("sxx"))
      .where(col("n") >= 6L)
    val rho = perLag.join(broadcast(glob), Seq("symbol"))
      .select(col("symbol"), col("lg"), col("n"),
        r6((dec(col("n")) * dec(col("n")) * col("sxy")
          - dec(col("n")) * dec(col("sx"))
            * (dec(col("sa")) + dec(col("sb")))
          + (dec(col("n")) - dec(col("lg")))
            * dec(col("sx")) * dec(col("sx"))).cast("double")
          / nullif((dec(col("n")) * (dec(col("n")) * col("sxx")
            - dec(col("sx")) * dec(col("sx")))).cast("double"),
            lit(0.0))).as("rho"))
    def rhoAt(k: Int) = sum(when(col("lg") === k, col("rho"))).as(s"rho$k")
    rho.groupBy(col("symbol"))
      .agg(max(col("n")).as("n"),
        rhoAt(1), rhoAt(2), rhoAt(3), rhoAt(4), rhoAt(5))
      .select(col("symbol"), col("n"),
        col("rho1"), col("rho2"), col("rho3"), col("rho4"), col("rho5"),
        r6((col("n") * (col("n") + 2L)).cast("double")
          * (col("rho1") * col("rho1") / (col("n") - 1L).cast("double")
            + col("rho2") * col("rho2") / (col("n") - 2L).cast("double")
            + col("rho3") * col("rho3") / (col("n") - 3L).cast("double")
            + col("rho4") * col("rho4") / (col("n") - 4L).cast("double")
            + col("rho5") * col("rho5") / (col("n") - 5L).cast("double")))
          .as("q_lb"))
      .orderBy("symbol")
  }

  /** `event_paths` — the top-20 most-travelled 3-step behavioral
    * paths: consecutive event-type trigrams per user under the
    * (us, event_id) total order, counted corpus-wide with each
    * path's distinct-traveller count. `markov_transitions` is the
    * order-1 view; paths are the order-2 question product analytics
    * actually asks ("what do users DO around a purchase") and the
    * input to funnel DISCOVERY — `funnel_steps` measures a funnel
    * you already guessed, this table surfaces the funnels worth
    * guessing. Top-20 under (n desc, path asc) — a total order.
    *
    * Scale shape: the one per-user sort every sequence operator
    * shares (two lag()s over the same window — one shuffle), a
    * map-side-combined count to |type|³ ≤ tiny rows, then
    * TakeOrderedAndProject.
    */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .where(col("p2").isNotNull)
      .select(concat(col("p2"), lit(" > "), col("p1"), lit(" > "),
        col("event_type")).as("path"), col("user_id"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(20)
  }

  /** `momentum_rank` — the cross-sectional MOMENTUM factor table:
    * for each day, every symbol's trailing 7-day close-to-close
    * return and its rank across symbols that day (1 = strongest).
    * The construction step of every momentum strategy (Jegadeesh &
    * Titman 1993 scaled to daily bars): the factor is the RANK, not
    * the return — cross-sectional ranking is what makes it
    * market-neutral. Days before a symbol's 7th bar drop (no
    * trailing window), identically on both engines.
    *
    * Portability: closes are exact centi picks, the return is ONE
    * fenced division of exact integers, and the rank orders by the
    * FENCED return with symbol as tie column — a total order.
    * Scale shape: one per-symbol sort for the lag, one per-day rank
    * over |symbols| rows (bounded by the universe, not the tape).
    */
  def momentumRank(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("day"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wS = Window.partitionBy("symbol").orderBy(col("day"))
    val wD = Window.partitionBy("day")
    bars
      .withColumn("close_7d_ago", lag(col("close"), 7).over(wS))
      .where(col("close_7d_ago").isNotNull)
      .withColumn("ret_7d",
        r6((col("close") - col("close_7d_ago")).cast("double")
          / col("close_7d_ago").cast("double")))
      .withColumn("mom_rank", row_number().over(
        wD.orderBy(col("ret_7d").desc, col("symbol").asc)))
      .select(col("day"), col("symbol"), col("ret_7d"), col("mom_rank"))
      .orderBy("day", "mom_rank")
  }

  /** `seasonal_decompose` — STL-style strength-of-trend and
    * strength-of-seasonality per symbol (Hyndman & Athanasopoulos
    * FPP3 §4.3): decompose the hourly close series into trend (a
    * centered 25-bar moving average), seasonality (hour-of-day mean
    * of the detrended series), and remainder, then report
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) and
    * F_seasonal = max(0, 1 − Var(R)/Var(S+R)). The pair that says
    * which MODEL class a series wants — [[seasonalityStrength]]'s
    * raw clock-R² can't separate "strong daily rhythm" from "strong
    * drift aliased onto the clock"; removing the trend first can.
    *
    * Portability: bars are exact centi closes; the 25-bar trend is
    * exact-integer-sum / count (sliding frame, both engines fold
    * longs); every derived series value quantizes at 1e-6 into
    * order-free longs the moment it leaves its row, so the three
    * variances are exact DECIMAL moments with one fenced division
    * each. Scale shape: one per-symbol sort serves the trend frame,
    * one (symbol, hod) aggregate broadcasts back — the indicator
    * family's plan.
    */
  def seasonalDecompose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("hour", col("ts"))) / lit(3600000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wT = Window.partitionBy("symbol").orderBy(col("h"))
      .rowsBetween(-12, 12)
    val detr = bars
      .withColumn("trend", avg(col("close")).over(wT))
      .withColumn("hod", pmod(col("h"), lit(24L)))
      .withColumn("dq",
        floor((col("close").cast("double") - col("trend")) * lit(1.0e6)
          + lit(0.5)).cast("long"))
    val seas = detr.groupBy(col("symbol"), col("hod"))
      .agg((sum(col("dq")).cast("double")
        / count(lit(1)).cast("double")).as("sm"))
    val series = detr.join(seas, Seq("symbol", "hod"))
      // R and S+R in 1e-6 units, quantized the moment they exist
      .withColumn("rq",
        floor(col("dq").cast("double") - col("sm") + lit(0.5)).cast("long"))
      .withColumn("sq", col("dq"))  // S+R = detrended series (already quantized)
      // T+R = close − S, in the same 1e-6-centi units
      .withColumn("tq",
        floor((col("close") * lit(1000000L)).cast("double") - col("sm")
          + lit(0.5)).cast("long"))
    def varExpr(x: String, n: org.apache.spark.sql.Column,
        sx: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column) =
      (dec(n) * sxx - dec(sx) * dec(sx)).cast("double")
    val agg = series.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("rq")).as("sr"),
        sum(dec(col("rq")) * dec(col("rq"))).cast(DecimalType(38, 0))
          .as("srr"),
        sum(col("sq")).as("ss"),
        sum(dec(col("sq")) * dec(col("sq"))).cast(DecimalType(38, 0))
          .as("sss"),
        sum(col("tq")).as("st"),
        sum(dec(col("tq")) * dec(col("tq"))).cast(DecimalType(38, 0))
          .as("stt"))
    agg.select(col("symbol"), col("n").as("n_bars"),
        greatest(lit(0.0), r6(lit(1.0)
          - varExpr("r", col("n"), col("sr"), col("srr"))
            / nullif(varExpr("t", col("n"), col("st"), col("stt")),
              lit(0.0)))).as("f_trend"),
        greatest(lit(0.0), r6(lit(1.0)
          - varExpr("r", col("n"), col("sr"), col("srr"))
            / nullif(varExpr("s", col("n"), col("ss"), col("sss")),
              lit(0.0)))).as("f_seasonal"))
      .orderBy("symbol")
  }

  /** `conversion_lag` — the click→purchase LATENCY distribution:
    * exact interpolated percentiles (and max) of the last-click gap
    * over attributed purchases, in seconds. The distribution behind
    * [[attributionLastTouch]]'s 24 h window: the window parameter
    * every attribution model hard-codes should be READ off this
    * table (if p99 is 4 h, a 24 h window is fine; if the mass runs
    * to the cap, conversions are being truncated). Same
    * running-window carry as last-touch (one per-user sort), then
    * one exact-percentile aggregate over integer-µs gaps — the
    * `value_percentiles` portability recipe.
    */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("us")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" &&
        col("last_click_us").isNotNull &&
        col("last_click_us") < col("us") &&
        col("us") - col("last_click_us") <= lit(86400000000L))
      .select((col("us") - col("last_click_us")).as("lag_us"))
      .agg(count(lit(1)).as("n_conversions"),
        r6(expr("percentile(lag_us, 0.25)") / lit(1.0e6)).as("p25_s"),
        r6(expr("percentile(lag_us, 0.5)") / lit(1.0e6)).as("p50_s"),
        r6(expr("percentile(lag_us, 0.9)") / lit(1.0e6)).as("p90_s"),
        r6(expr("percentile(lag_us, 0.99)") / lit(1.0e6)).as("p99_s"),
        r6(max(col("lag_us")).cast("double") / lit(1.0e6)).as("max_s"))
  }

  /** `theil_sen_slope` — robust trend per symbol: the MEDIAN of all
    * pairwise slopes between daily closing bars (Theil 1950; Sen
    * 1968) — the estimator that shrugs off the outlier ticks that
    * wreck an OLS trend line (29% breakdown point vs 0%). Slopes
    * are centi-price per day over the daily close series, so the
    * pair set is C(days, 2) per symbol — BOUNDED by the calendar,
    * not the tick count: aggregate-to-bars-first is what makes the
    * quadratic affordable at any corpus size (measured: hourly bars
    * put 260k slopes in one per-symbol rank partition, 1.9 s at
    * sf0.1 — daily is the estimator's standard resolution AND the
    * scale-sane one; at decades of days, Siegel's repeated median
    * or slope sampling is the documented swap).
    *
    * Portability: closes are exact max_by picks on centi integers,
    * day indices exact epoch-days, each slope ONE written double
    * division; the median is an explicit rank selection under a
    * (slope, h_i, h_j) total order — lower/upper middle averaged,
    * fenced — never an engine median() whose interpolation rule
    * could differ.
    */
  /** `var_es` — historical Value-at-Risk and Expected Shortfall at
    * 95% per symbol (the Basel/RiskMetrics pair): VaR = the 5th
    * percentile of daily close-to-close returns, ES = the mean of the
    * worst ⌈n/20⌉ observed returns — the coherent tail statistic VaR
    * alone misses (Artzner et al. 1999). Returns ride the centi-price
    * daily bars ([[theilSenSlope]]'s aggregate-to-bars-first shape)
    * and quantize to 1e-6 LONGs, so the ES numerator is an exact
    * integer sum over a rank cut (total order: return, then day) and
    * VaR is the engine-shared exact-percentile interpolation over
    * integers (the conversion_lag contract). One window + one
    * aggregate per symbol — calendar-bounded rows.
    */
  def varEs(s: SparkSession, d: String): DataFrame = {
    val rets = dailyRetQ(s, d)
    val wr = Window.partitionBy("symbol")
      .orderBy(col("ret_q").asc, col("h").asc)
    rets
      .withColumn("rn", row_number().over(wr))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("k", expr("(n + 19) div 20"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        r6(expr("percentile(ret_q, 0.05)") / lit(1000000.0))
          .as("var95_ret"),
        r6(sum(when(col("rn") <= col("k"), col("ret_q"))).cast("double")
          / (max(col("k")) * lit(1000000.0)).cast("double"))
          .as("es95_ret"))
      .orderBy("symbol")
  }

  /** Per-(symbol, day) close-to-close returns as 1e-6-quantized
    * LONGs off the centi-price daily bars — the shared core of
    * [[varEs]], [[sharpeRatio]] and [[capmBeta]] (every downstream
    * moment is then an exact integer fold).
    */
  private def dailyRetQ(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    bars
      .withColumn("pc", lag(col("close"), 1).over(wd))
      .where(col("pc").isNotNull && col("pc") =!= 0L)
      .select(col("symbol"), col("h"),
        floor((col("close") - col("pc")).cast("double")
          / col("pc").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("ret_q"))
  }

  /** `sharpe_ratio` — annualized Sharpe per symbol (zero risk-free):
    * mean/std of the daily 1e-6 integer returns × √365 — the one
    * risk-adjusted return scalar every strategy report leads with.
    * Both moments are exact integer sums (Σr ≤ 1e8, Σr² ≤ ~1e14 —
    * comfortably inside both engines' exact-long range); the ddof-1
    * variance numerator n·Σr² − (Σr)² stays exact in the hundreds of
    * days; one fenced sqrt + division. Null for one-day symbols and
    * zero-variance series (nullif fence, mirrored in the oracle).
    */
  def sharpeRatio(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    dailyRetQ(s, d)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ret_q")).as("sr"),
        // the synthetic uniform prices make daily returns huge
        // (ret_q up to ~1e11), so squared moments ride DECIMAL(38,0)
        // — the arch_effect HUGEINT posture, never bare longs
        sum(dec(col("ret_q")) * dec(col("ret_q")))
          .cast(DecimalType(38, 0)).as("srr"))
      .where(col("n_days") >= 2L)
      .select(col("symbol"), col("n_days"),
        r6(col("sr").cast("double")
          / (col("n_days") * lit(1000000L)).cast("double"))
          .as("mean_ret"),
        r6((col("sr").cast("double") / col("n_days").cast("double"))
          / nullif(sqrt(
            (dec(col("n_days")) * col("srr")
              - dec(col("sr")) * dec(col("sr"))).cast("double")
              / (col("n_days") * (col("n_days") - 1L)).cast("double")),
            lit(0.0))
          * sqrt(lit(365.0))).as("sharpe_ann"))
      .orderBy("symbol")
  }

  /** `capm_beta` — market beta per symbol: the through-origin-free
    * OLS slope of a symbol's daily return on the EQUAL-WEIGHT market
    * return (the CAPM systematic-risk scalar; the market index is
    * the cross-sectional mean of the symbols' same-day returns,
    * itself re-quantized to the 1e-6 grid so every downstream moment
    * is an exact integer fold). β = [nΣxy − ΣxΣy] / [nΣx² − (Σx)²]
    * over the (day) pairs, plus the Pearson correlation — all
    * integer sums until the two fenced divisions. Days with a single
    * traded symbol still define the index (of one return); symbols
    * need ≥ 2 shared days.
    */
  def capmBeta(s: SparkSession, d: String): DataFrame = {
    val rets = dailyRetQ(s, d)
    val market = rets.groupBy(col("h"))
      .agg(floor(sum(col("ret_q")).cast("double")
        / count(lit(1)).cast("double") + lit(0.5)).cast("long").as("m_q"))
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    rets.join(broadcast(market), Seq("h"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("m_q")).as("sx"), sum(col("ret_q")).as("sy"),
        // DECIMAL(38,0) moments — see sharpeRatio
        sum(dec(col("m_q")) * dec(col("m_q")))
          .cast(DecimalType(38, 0)).as("sxx"),
        sum(dec(col("ret_q")) * dec(col("ret_q")))
          .cast(DecimalType(38, 0)).as("syy"),
        sum(dec(col("m_q")) * dec(col("ret_q")))
          .cast(DecimalType(38, 0)).as("sxy"))
      .where(col("n_days") >= 2L)
      .select(col("symbol"), col("n_days"),
        r6((dec(col("n_days")) * col("sxy")
          - dec(col("sx")) * dec(col("sy"))).cast("double")
          / nullif((dec(col("n_days")) * col("sxx")
            - dec(col("sx")) * dec(col("sx"))).cast("double"),
            lit(0.0))).as("beta"),
        r6((dec(col("n_days")) * col("sxy")
          - dec(col("sx")) * dec(col("sy"))).cast("double")
          / nullif(
            sqrt((dec(col("n_days")) * col("sxx")
              - dec(col("sx")) * dec(col("sx"))).cast("double"))
              * sqrt((dec(col("n_days")) * col("syy")
                - dec(col("sy")) * dec(col("sy"))).cast("double")),
            lit(0.0))).as("corr_mkt"))
      .orderBy("symbol")
  }

  /** `sortino_ratio` — annualized Sortino per symbol (target 0):
    * mean daily return over the DOWNSIDE deviation √(Σ min(r,0)²/n)
    * × √365 (Sortino & van der Meer 1991) — the Sharpe variant that
    * only charges for harmful volatility, so a right-skewed strategy
    * isn't penalized for its winners. Same exact-integer-moment
    * recipe as [[sharpeRatio]]: the clipped squared sum rides
    * DECIMAL(38,0) (ret_q can reach ~1e11 on the synthetic uniform
    * prices), the denominator is the population form (/n — the
    * estimator's standard definition, unlike Sharpe's ddof-1), and
    * the only float ops are one fenced sqrt + division in written
    * order. All-gain symbols (no down day) null out via the nullif
    * fence, mirrored in the oracle.
    */
  def sortinoRatio(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    dailyRetQ(s, d)
      .withColumn("dn", when(col("ret_q") < 0L, col("ret_q")).otherwise(0L))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("ret_q") < 0L, 1L).otherwise(0L)).as("n_down"),
        sum(col("ret_q")).as("sr"),
        sum(dec(col("dn")) * dec(col("dn")))
          .cast(DecimalType(38, 0)).as("sdd"))
      .where(col("n_days") >= 2L)
      .select(col("symbol"), col("n_days"), col("n_down"),
        r6(col("sr").cast("double")
          / (col("n_days") * lit(1000000L)).cast("double"))
          .as("mean_ret"),
        r6((col("sr").cast("double") / col("n_days").cast("double"))
          / nullif(sqrt(col("sdd").cast("double")
            / col("n_days").cast("double")), lit(0.0))
          * sqrt(lit(365.0))).as("sortino_ann"))
      .orderBy("symbol")
  }

  /** `calmar_ratio` — annualized arithmetic return over maximum
    * drawdown per symbol, both on the DAILY close-to-close grain
    * (Young 1991): the "how much pain bought this return" scalar
    * that completes the risk panel ([[sharpeRatio]] charges total
    * vol, [[sortinoRatio]] downside vol, this one charges the worst
    * peak-to-trough loss — the number an allocator actually fears).
    * `max_drawdown` measures tick-level drawdown; Calmar is defined
    * on the bar series and needs the return leg too, so both legs
    * ride ONE per-symbol window pass (running peak + lag — one
    * shuffle+sort serves both, the lag_features plan). Each day's
    * drawdown is one fenced division of exact centi integers on the
    * 1e-6 grid (zero-peak days guarded to 0 identically both
    * engines); annualization is arithmetic (mean daily × 365 — the
    * √-free convention, matching the family's transcendental-fence
    * budget of sqrt only).
    */
  def calmarRatio(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    val wp = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("pc", lag(col("close"), 1).over(wd))
      .withColumn("peak", max(col("close")).over(wp))
      .withColumn("dd_q", when(col("peak") > 0L,
        floor((col("peak") - col("close")).cast("double")
          / col("peak").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long")).otherwise(0L))
      .withColumn("ret_q", when(col("pc").isNotNull && col("pc") =!= 0L,
        floor((col("close") - col("pc")).cast("double")
          / col("pc").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long")))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        max(col("dd_q")).as("mdd_q"),
        sum(col("ret_q")).as("sret"),
        count(col("ret_q")).as("n_rets"))
      .where(col("n_rets") >= 2L)
      .select(col("symbol"), col("n_days"),
        r6(col("mdd_q").cast("double") / lit(1000000.0)).as("max_dd"),
        r6(col("sret").cast("double") / col("n_rets").cast("double")
          / lit(1000000.0) * lit(365.0)).as("ann_ret"),
        r6((col("sret").cast("double") / col("n_rets").cast("double")
          / lit(1000000.0) * lit(365.0))
          / nullif(col("mdd_q").cast("double") / lit(1000000.0),
            lit(0.0))).as("calmar"))
      .orderBy("symbol")
  }

  /** `underwater_duration` — drawdown SPELL statistics per symbol:
    * how long the price sits below its running peak, on the daily
    * close grain. `max_drawdown`/`calmar_ratio` answer "how DEEP";
    * this answers "how LONG" — the recovery-time dimension an
    * allocator reads next to depth (two strategies with equal max-DD
    * but 3-day vs 3-month underwater spells are different products).
    * Per symbol: bar count, number of distinct underwater spells,
    * the longest spell in days, and the length of the still-open
    * trailing spell (0 when the last close IS the peak).
    *
    * The spell structure is the gaps-and-islands recipe
    * (`scd2_history`'s): underwater flag off the running peak, a
    * change marker, a running-sum island id, one aggregate per
    * island. All-integer (closes are exact centi picks, lengths are
    * counts), so the row hash-gates with no float fence at all.
    * Scale shape: ONE per-symbol shuffle+sort serves the peak, the
    * lag, and the island sum; the island aggregate reuses the hash
    * partitioning.
    */
  def underwaterDuration(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    val wr = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = bars
      .withColumn("peak", max(col("close")).over(wr))
      .withColumn("under", (col("close") < col("peak")).cast("int"))
      .withColumn("chg",
        when(lag(col("under"), 1).over(wd).isNull
          || lag(col("under"), 1).over(wd) =!= col("under"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(wr))
    val lastDay = bars.groupBy(col("symbol"))
      .agg(max(col("h")).as("last_h"), count(lit(1)).as("n_days"))
    val spells = flagged.where(col("under") === 1)
      .groupBy(col("symbol"), col("grp"))
      .agg(count(lit(1)).as("len"), max(col("h")).as("spell_end"))
    // an outer join can only BUILD its non-preserved side, and the
    // old right-outer spelling hinted the preserved side (lastDay) —
    // silently ignored, shuffle join. Written as lastDay LEFT JOIN
    // broadcast(spells): spells is the non-preserved side (BuildRight
    // is legal for LeftOuter) and is itself tiny — one row per
    // underwater island of the DAILY bar frame, bounded by
    // symbols × days at any tick volume
    lastDay
      .join(broadcast(spells), Seq("symbol"), "left")
      .groupBy(col("symbol"))
      .agg(max(col("n_days")).as("n_days"),
        count(col("len")).as("n_spells"),
        coalesce(max(col("len")), lit(0L)).as("max_spell_days"),
        coalesce(sum(when(col("spell_end") === col("last_h"),
          col("len")).otherwise(0L)), lit(0L)).as("open_spell_days"))
      .orderBy("symbol")
  }

  /** `adf_stat` — the (augmented-)Dickey–Fuller unit-root statistic
    * per symbol, lag order 0 with constant: regress Δy_h = α + β·y_{h−1}
    * + ε over the daily closes and report β̂ with its t-statistic
    * t = β̂/SE(β̂) (Dickey & Fuller 1979). The stationarity screen a
    * modeling pipeline runs BEFORE the ARIMA/GARCH families the risk
    * panel assumes: t ≪ 0 rejects the unit root (mean-reverting
    * level), t ≈ 0 says difference first. No p-value — the DF null
    * distribution is tabulated, not closed-form, and the STATISTIC
    * is the portable part.
    *
    * Portability: closes are exact centi integers, the five OLS
    * moments fold in DECIMAL(38,0)/HUGEINT (order-free), each is
    * cast to double ONCE, and β̂/SSR/SE evaluate in one written
    * op sequence mirrored verbatim in the oracle — the `capm_beta`
    * discipline extended through the residual variance (SSR via the
    * normal-equations identity Σz² − α̂Σz − β̂Σxz, no residual
    * materialization). Degenerate fences: constant regressor → NULL
    * via the D=0 guard; perfect fit → NULL via nullif(SE, 0); a
    * float-rounding-negative SSR clamps through GREATEST(·, 0).
    * Scale shape: the daily-bar aggregate + one per-symbol lag + a
    * six-column moment fold — the risk-panel plan exactly.
    */
  def adfStat(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    val pairs = bars
      .withColumn("x", lag(col("close"), 1).over(wd))
      .where(col("x").isNotNull)
      .withColumn("z", col("close") - col("x"))
    val m = pairs.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(dec(col("x")) * dec(col("x")))
          .cast(DecimalType(38, 0)).as("sxx"),
        sum(dec(col("z")) * dec(col("z")))
          .cast(DecimalType(38, 0)).as("szz"),
        sum(dec(col("x")) * dec(col("z")))
          .cast(DecimalType(38, 0)).as("sxz"))
      .where(col("n") >= 3L)
    // each exact moment product casts to double ONCE; every op below
    // is one written IEEE sequence, mirrored in the oracle
    val dd = (dec(col("n")) * col("sxx")
      - dec(col("sx")) * dec(col("sx"))).cast("double")
    val nn = (dec(col("n")) * col("sxz")
      - dec(col("sx")) * dec(col("sz"))).cast("double")
    val zz = (dec(col("sz")) * dec(col("sz"))).cast("double")
    val xz = (dec(col("sx")) * dec(col("sz"))).cast("double")
    val nD = col("n").cast("double")
    val beta = nn / nullif(dd, lit(0.0))
    val ssr = col("szz").cast("double") - (zz - beta * xz) / nD -
      beta * col("sxz").cast("double")
    val s2n = ssr / (nD - lit(2.0)) * nD / dd
    m.select(col("symbol"), col("n").as("n_diffs"),
        r6(beta).as("beta"),
        r6(beta / nullif(sqrt(greatest(s2n, lit(0.0))), lit(0.0)))
          .as("t_adf"))
      .orderBy("symbol")
  }

  /** `variance_ratio` — the Lo–MacKinlay variance-ratio test
    * (Lo & MacKinlay 1988) per symbol at q = 4 over daily closes:
    * VR(q) = Var[q-day price change]/(q·Var[1-day change]), computed
    * from OVERLAPPING q-day differences (their unbiased-count form),
    * plus the homoskedastic asymptotic z. Under a random walk
    * VR → 1; VR < 1 reads mean-reversion, VR > 1 momentum — the
    * market-efficiency screen that sits beside `adf_stat` (unit root)
    * and `hurst_exponent` (long memory) in the regime panel, asking
    * the cheapest version of the same question: do price changes
    * self-cancel or compound over horizon q?
    *
    * Portability: the `adf_stat` recipe — closes on the integer cent
    * grid, 1-day and q-day differences stay exact longs, both
    * variance numerators (n·Σz² − (Σz)², m·Σw² − (Σw)²) and the
    * VR numerator/denominator cross-products fold entirely in
    * DECIMAL(38,0)/HUGEINT, ONE cast to double each, then a fixed
    * written IEEE sequence for VR and z (correctly-rounded ops in an
    * identical order match bit-for-bit across engines — the OLS-
    * family pattern generalized to ratio statistics).
    *
    * Scale shape: one groupBy to daily bars, one lag window per
    * symbol (the events table's symbol count bounds partitions), one
    * 6-moment aggregation — no second pass, no driver math.
    */
  def varianceRatio(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val q = 4
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    val seq = bars
      .withColumn("z", col("close") - lag(col("close"), 1).over(wd))
      .withColumn("w", col("close") - lag(col("close"), q).over(wd))
    val m = seq.groupBy(col("symbol"))
      .agg(count(col("z")).as("n"),
        sum(col("z")).as("sz"),
        sum(dec(col("z")) * dec(col("z")))
          .cast(DecimalType(38, 0)).as("szz"),
        count(col("w")).as("mq"),
        sum(col("w")).as("sw"),
        sum(dec(col("w")) * dec(col("w")))
          .cast(DecimalType(38, 0)).as("sww"))
      .where(col("mq") >= 2L)
    // exact decimal cross-products, ONE cast to double per side, then
    // a written IEEE sequence mirrored verbatim in the oracle
    val var1 = dec(col("n")) * col("szz") - dec(col("sz")) * dec(col("sz"))
    val varq = dec(col("mq")) * col("sww") - dec(col("sw")) * dec(col("sw"))
    val num = (varq * dec(col("n")) * dec(col("n"))).cast("double")
    val den = (var1 * dec(col("mq")) * dec(col("mq")) * lit(q.toLong)
      .cast(DecimalType(38, 0))).cast("double")
    val nD = col("n").cast("double")
    val vr = num / nullif(den, lit(0.0))
    // homoskedastic variance 2(2q−1)(q−1)/(3q) = 42/12 at q = 4
    val zvr = (vr - lit(1.0)) / sqrt(lit(42.0) / (lit(12.0) * nD))
    m.select(col("symbol"), col("n").as("n_diffs"),
        r6(vr).as("vr4"), r6(zvr).as("z_vr"))
      .orderBy("symbol")
  }

  /** `rolling_beta` — 10-day rolling CAPM beta per (symbol, day):
    * the `capm_beta` regression (daily 1e-6 integer returns on the
    * equal-weight market return) over a sliding 10-row window, so
    * risk desks see beta DRIFT instead of one full-sample scalar —
    * the time-varying exposure view that pairs with `psi_drift`'s
    * distribution drift. Rows emit only where the window is FULL
    * (10 days — partial-window betas are noise and would also make
    * the row count depend on warm-up length).
    *
    * Portability: the window sums fold exact DECIMAL(38,0)/HUGEINT
    * integers (same grid as `capm_beta` — ret_q can reach ~1e11 on
    * the synthetic uniform prices; 10 squares stay ≤ ~1e24), then
    * the written closed form (10·Σxy − ΣxΣy)/(10·Σxx − (Σx)²) with
    * ONE cast to double per side and a nullif fence.
    *
    * Scale shape: one broadcast of the per-day market row, one
    * window pass over (symbol, day) rows — the frame is 10 BAR rows,
    * so cost is calendar-bounded like `kpss_stat`, invariant in the
    * tick count.
    */
  def rollingBeta(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val rets = dailyRetQ(s, d)
    val market = rets.groupBy(col("h"))
      .agg(floor(sum(col("ret_q")).cast("double")
        / count(lit(1)).cast("double") + lit(0.5)).cast("long").as("m_q"))
    val w = Window.partitionBy("symbol").orderBy("h").rowsBetween(-9, 0)
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c).over(w).cast(DecimalType(38, 0))
    rets.join(broadcast(market), Seq("h"))
      .select(col("symbol"), col("h"),
        count(lit(1)).over(w).as("nw"),
        dsum(dec(col("m_q"))).as("sx"),
        dsum(dec(col("ret_q"))).as("sy"),
        dsum(dec(col("m_q")) * dec(col("m_q"))).as("sxx"),
        dsum(dec(col("m_q")) * dec(col("ret_q"))).as("sxy"))
      .where(col("nw") === 10L)
      .select(col("symbol"), col("h").as("day_idx"),
        r6((lit(10L).cast(DecimalType(38, 0)) * col("sxy")
          - col("sx") * col("sy")).cast("double")
          / nullif((lit(10L).cast(DecimalType(38, 0)) * col("sxx")
            - col("sx") * col("sx")).cast("double"), lit(0.0)))
          .as("beta_10d"))
      .orderBy("symbol", "day_idx")
  }

  /** `kpss_stat` — the KPSS level-stationarity statistic
    * (Kwiatkowski, Phillips, Schmidt & Shin 1992; lag-0 variant, the
    * `adf_stat` posture) per symbol over daily closes: with residuals
    * e_t = c_t − c̄ and partial sums S_t = Σ_{i≤t} e_i,
    * η = (Σ S_t²/n²)/σ̂². KPSS and ADF test OPPOSITE nulls — ADF's
    * null is a unit root, KPSS's is stationarity — so the pair
    * brackets each symbol: reject both → misspecified, reject
    * neither → underpowered, and the two clean quadrants are the
    * regime answer. Completes the stationarity screen beside
    * `adf_stat`, `variance_ratio`, `hurst_exponent`.
    *
    * Portability: multiply residuals through by n so everything
    * integer — E_t = n·c_t − Σc is an exact integer, the windowed
    * partial sums T_t = Σ E_i too, and η reduces ALGEBRAICALLY to
    * ΣT² / (n·ΣE²) (the n² and n³ scalings cancel): two exact
    * DECIMAL(38,0)/HUGEINT folds, ONE cast to double each, one
    * fenced division. No float enters before the final op.
    *
    * Scale shape: one groupBy to daily bars, one broadcast of the
    * per-symbol (n, Σc) row, one cumulative window per symbol over
    * ~thousands of bar rows, one 2-moment fold. The window runs over
    * BARS (days), not ticks — bounded at any corpus size by the
    * calendar, not the data.
    */
  def kpssStat(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val tot = bars.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"), sum(col("close")).as("sc"))
      .where(col("n") >= 2L)
    val wd = Window.partitionBy("symbol").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = bars.join(broadcast(tot), Seq("symbol"))
      .withColumn("e", dec(col("n")) * dec(col("close")) - dec(col("sc")))
      .withColumn("t_cum", sum(col("e")).over(wd).cast(DecimalType(38, 0)))
      .groupBy(col("symbol"), col("n"))
      .agg(sum(col("t_cum") * col("t_cum"))
          .cast(DecimalType(38, 0)).as("stt"),
        sum(col("e") * col("e")).cast(DecimalType(38, 0)).as("see"))
    m.select(col("symbol"), col("n").as("n_days"),
        r6(col("stt").cast("double")
          / nullif((dec(col("n")) * col("see")).cast("double"), lit(0.0)))
          .as("kpss_eta"))
      .orderBy("symbol")
  }

  /** `half_life` — mean-reversion half-life per symbol, in days:
    * from the `adf_stat` AR(1) regression Δc_t = α + β·c_{t−1} + ε,
    * hl = −ln 2 / ln(1+β̂) — how long a shock takes to decay halfway
    * back. The practitioner's reading of the same regression the ADF
    * t-stat tests: ADF answers "IS it mean-reverting", half-life
    * answers "how FAST" (the number a pairs-trading horizon is sized
    * from). Emits null unless −1 < β̂ < 0: that is the MONOTONE-decay
    * band where ln(1+β̂) is defined and negative — at β̂ ≤ −1 the
    * AR(1) oscillates or diverges (no real log, no half-life), at
    * β̂ ≥ 0 shocks never decay. The fence is the definition, not a
    * convenience (a first cut fenced at (−2, 0) and DuckDB's ln
    * rejected it — the oracle catching a definition bug).
    *
    * Portability: β̂ comes off the identical exact-HUGEINT moment
    * chain as `adf_stat` (bit-equal across engines), then ln runs on
    * the SAME double in both; libm/StrictMath ln agree to ≤ 1 ulp,
    * invisible under the r6 round except on an exact grid boundary —
    * the `psi_drift`/`entropy_stats` log posture.
    */
  def halfLife(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    val pairs = bars
      .withColumn("x", lag(col("close"), 1).over(wd))
      .where(col("x").isNotNull)
      .withColumn("z", col("close") - col("x"))
    val m = pairs.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(dec(col("x")) * dec(col("x")))
          .cast(DecimalType(38, 0)).as("sxx"),
        sum(dec(col("x")) * dec(col("z")))
          .cast(DecimalType(38, 0)).as("sxz"))
      .where(col("n") >= 3L)
    val dd = (dec(col("n")) * col("sxx")
      - dec(col("sx")) * dec(col("sx"))).cast("double")
    val nn = (dec(col("n")) * col("sxz")
      - dec(col("sx")) * dec(col("sz"))).cast("double")
    val beta = nn / nullif(dd, lit(0.0))
    m.select(col("symbol"), col("n").as("n_diffs"),
        r6(beta).as("beta"),
        r6(when(beta > lit(-1.0) && beta < lit(0.0),
          -log(lit(2.0)) / log(lit(1.0) + beta))).as("half_life_days"))
      .orderBy("symbol")
  }

  /** `kendall_tau` — Kendall's τ-b per symbol between daily close and
    * daily tick count (Kendall 1938): does activity rise with price
    * MONOTONICALLY, counted over pairs of days — the rank-correlation
    * complement to `spearman_corr` (which ranks tick-level price vs
    * volume): τ reads concordance directly off pair orientations, so
    * it is the more robust of the two under heavy ties, and its
    * pair form needs NO rank table at all.
    *
    * Portability: concordant/discordant/tied pair counts are exact
    * integers off the unrolled (h1 < h2) self-join; τ-b =
    * (C − D) / (√(n0−t_x)·√(n0−t_y)) is one written IEEE sequence
    * (two sqrts, one division), 6-dp fenced, null when either side is
    * all-ties. Scale shape: the pair frame is per-symbol
    * CALENDAR-bounded (days², the `rolling_beta` posture) — the
    * corpus-sized work is the daily-bar aggregate alone.
    */
  def kendallTau(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"), count(lit(1)).as("v"))
    val a = bars.select(col("symbol"), col("h").as("h1"),
      col("close").as("c1"), col("v").as("v1"))
    val b = bars.select(col("symbol"), col("h").as("h2"),
      col("close").as("c2"), col("v").as("v2"))
    a.join(b, Seq("symbol")).where(col("h1") < col("h2"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n0"),
        sum(when((col("c2") - col("c1")) * (col("v2") - col("v1")) > 0L, 1L)
          .otherwise(0L)).as("n_conc"),
        sum(when((col("c2") - col("c1")) * (col("v2") - col("v1")) < 0L, 1L)
          .otherwise(0L)).as("n_disc"),
        sum(when(col("c1") === col("c2"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("v1") === col("v2"), 1L).otherwise(0L)).as("ty"))
      .select(col("symbol"), col("n0").as("n_pairs"), col("n_conc"),
        col("n_disc"),
        r6((col("n_conc") - col("n_disc")).cast("double")
          / nullif(sqrt((col("n0") - col("tx")).cast("double"))
            * sqrt((col("n0") - col("ty")).cast("double")), lit(0.0)))
          .as("tau_b"))
      .orderBy("symbol")
  }

  /** `turning_points` — the turning-point test of series randomness
    * (Kendall & Stuart; Brockwell–Davis §1.6) per symbol: count the
    * STRICT local maxima/minima of the daily close sequence and score
    * against the i.i.d. expectation E[T] = 2(n−2)/3,
    * Var[T] = (16n−29)/90 — too FEW turns flags trend, too MANY flags
    * oscillation/mean-reversion, the nonparametric sibling of
    * `runs_test` (which scores tick-level sign runs). Plateaus
    * (tied neighbors) are non-turns by the strict-inequality
    * definition, identically in both engines.
    *
    * Portability: the turn indicator is pure integer comparison over
    * one lag/lead window; T is an exact count; the z-score is one
    * written IEEE sequence, null under n < 3 (no interior day — the
    * statistic is undefined, not zero). Scale: calendar-bounded bars.
    */
  def turningPoints(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    bars
      .withColumn("pv", lag(col("close"), 1).over(wd))
      .withColumn("nx", lead(col("close"), 1).over(wd))
      .withColumn("turn", when(col("pv").isNotNull && col("nx").isNotNull
        && ((col("close") > col("pv") && col("close") > col("nx"))
          || (col("close") < col("pv") && col("close") < col("nx"))), 1L)
        .otherwise(0L))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"), sum(col("turn")).as("n_turns"))
      .select(col("symbol"), col("n_days"), col("n_turns"),
        r6(when(col("n_days") >= 3L,
          (col("n_turns").cast("double")
            - lit(2.0) * (col("n_days") - lit(2L)).cast("double") / lit(3.0))
            / sqrt((lit(16.0) * col("n_days").cast("double") - lit(29.0))
              / lit(90.0)))).as("z_score"))
      .orderBy("symbol")
  }

  /** `overnight_gap` — per-symbol overnight gap profile: today's OPEN
    * against yesterday's CLOSE on the 1e-6 return grid — the
    * discontinuity risk a close-to-close return series hides (a
    * symbol can look calm daily while gapping violently at the open;
    * gap risk is why overnight positions price differently than
    * intraday ones). Counts of gap-ups/downs plus the exact mean and
    * extreme gaps.
    *
    * Portability: open/close pick exact centi-integers under the
    * (us, event_id)-free arg_min/arg_max tie contract the OHLC family
    * already gates; gap_q quantizes each day's gap to an exact long
    * at birth, so every aggregate is an integer fold until the two
    * fenced divisions. Scale: one corpus aggregate to (symbol, day)
    * bars, then calendar-bounded windows.
    */
  def overnightGap(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"))
      .groupBy(col("symbol"), col("h"))
      .agg(min_by(col("c"), col("us")).as("open"),
        max_by(col("c"), col("us")).as("close"))
    val wd = Window.partitionBy("symbol").orderBy("h")
    bars
      .withColumn("pc", lag(col("close"), 1).over(wd))
      .where(col("pc").isNotNull && col("pc") =!= 0L)
      .withColumn("gap_q", floor((col("open") - col("pc")).cast("double")
        / col("pc").cast("double") * lit(1000000.0) + lit(0.5))
        .cast("long"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(when(col("gap_q") > 0L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("gap_q") < 0L, 1L).otherwise(0L)).as("n_down"),
        sum(col("gap_q")).as("sg"),
        max(col("gap_q")).as("mxg"),
        min(col("gap_q")).as("mng"))
      .select(col("symbol"), col("n_gaps"), col("n_up"), col("n_down"),
        r6(col("sg").cast("double")
          / (col("n_gaps") * lit(1000000L)).cast("double")).as("mean_gap"),
        r6(col("mxg").cast("double") / lit(1000000.0)).as("max_gap"),
        r6(col("mng").cast("double") / lit(1000000.0)).as("min_gap"))
      .orderBy("symbol")
  }

  /** `omega_ratio` — Ω(0) per symbol: total gain mass over total
    * loss mass of the daily returns (Keating & Shadwick 2002 at
    * threshold 0) — the whole-distribution risk ratio that needs NO
    * moment assumptions: it is literally Σ max(r,0) / Σ max(−r,0),
    * so unlike Sharpe/Sortino it survives fat tails and skew without
    * lying. Pure exact integer sums off the shared 1e-6 return grid
    * ([[dailyRetQ]]) until one fenced division — the cheapest row in
    * the risk panel and the only transcendental-free one. Loss-free
    * symbols null out via the nullif fence (Ω = ∞ conventionally).
    */
  def omegaRatio(s: SparkSession, d: String): DataFrame =
    dailyRetQ(s, d)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("ret_q") > 0L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("ret_q") < 0L, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("ret_q") > 0L, col("ret_q")).otherwise(0L)).as("gq"),
        sum(when(col("ret_q") < 0L, -col("ret_q")).otherwise(0L)).as("lq"))
      .select(col("symbol"), col("n_days"), col("n_up"), col("n_down"),
        r6(col("gq").cast("double") / lit(1000000.0)).as("gain_mass"),
        r6(col("lq").cast("double") / lit(1000000.0)).as("loss_mass"),
        r6(col("gq").cast("double")
          / nullif(col("lq").cast("double"), lit(0.0))).as("omega"))
      .orderBy("symbol")

  def theilSenSlope(s: SparkSession, d: String): DataFrame = {
    val bars = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (unix_micros(date_trunc("day", col("ts"))) / lit(86400000000L))
          .cast("long").as("h"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .groupBy(col("symbol"), col("h"))
      .agg(max_by(col("c"), col("us")).as("close"))
    val a = bars.select(col("symbol"), col("h").as("hi"),
      col("close").as("ci"))
    val b = bars.select(col("symbol"), col("h").as("hj"),
      col("close").as("cj"))
    val slopes = a.join(b, Seq("symbol"))
      .where(col("hi") < col("hj"))
      .select(col("symbol"),
        ((col("cj") - col("ci")).cast("double")
          / (col("hj") - col("hi")).cast("double")).as("slope"),
        col("hi"), col("hj"))
    val w = Window.partitionBy("symbol")
      .orderBy(col("slope").asc, col("hi").asc, col("hj").asc)
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("symbol")))
      .where(col("rn") === expr("(cnt + 1) div 2")
        || col("rn") === expr("(cnt + 2) div 2"))
      .groupBy(col("symbol"))
      .agg(max(col("cnt")).as("n_pairs"), r6(avg(col("slope"))).as("ts_slope"))
      .orderBy("symbol")
  }

  /** `garman_klass_vol` — daily Garman–Klass volatility per symbol:
    * σ²_GK = ½·ln(H/L)² − (2ln2−1)·ln(C/O)² over the day's OHLC
    * (Garman & Klass 1980) — the range-based estimator that is ~7.4×
    * more efficient than close-to-close variance on the same data,
    * the standard daily-vol readout a tick store serves
    * ([[realizedVol]] is its intraday sum-of-squares sibling; this
    * one needs only 4 numbers per day, so it survives sparse days).
    * Days whose low touches 0 drop (log-range undefined) —
    * identically on both engines via the min-price guard.
    *
    * Portability: OHLC picks exact stored doubles (the `ohlc_hourly`
    * tie contract), then ONE written double expression (two ln
    * ratios, squares, the 2ln2−1 constant spelled as an expression
    * so both engines evaluate the same tree) fences at 1e-6. Scale
    * shape: one map-side-combined (date, symbol) aggregate — no
    * window, no join.
    */
  def garmanKlassVol(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(to_date(col("ts")).as("date"),
        col("event_type").as("symbol"), col("value").as("price"), col("ts"))
      .groupBy(col("date"), col("symbol"))
      .agg(min_by(col("price"), col("ts")).as("o"),
        max(col("price")).as("h"), min(col("price")).as("l"),
        max_by(col("price"), col("ts")).as("c"),
        count(lit(1)).as("n_ticks"))
      .where(col("l") > 0.0)
      .select(col("date"), col("symbol"), col("n_ticks"),
        r6(lit(0.5) * log(col("h") / col("l")) * log(col("h") / col("l"))
          - (lit(2.0) * log(lit(2.0)) - lit(1.0))
            * log(col("c") / col("o")) * log(col("c") / col("o")))
          .as("gk_var"))
      .orderBy("date", "symbol")

  /** `parkinson_vol` — Parkinson's range volatility estimator
    * (Parkinson 1980) per (date, symbol): ln(H/L)² / (4·ln 2) — the
    * high-low sibling of [[garmanKlassVol]] that needs only the
    * day's extremes (no open/close), ~5× more efficient than
    * close-to-close variance and the right estimator when intraday
    * ticks are sparse or open/close prints are unreliable. Reading
    * GK and Parkinson side by side separates range-driven variance
    * from drift-driven variance (GK subtracts the open-close term;
    * Parkinson doesn't).
    *
    * Portability: H and L are exact stored doubles (min/max pick,
    * never arithmetic), then ONE written double expression with the
    * 4·ln 2 constant spelled as an expression tree both engines
    * evaluate identically — the [[garmanKlassVol]] contract. Scale:
    * one map-side-combined (date, symbol) aggregate, no window.
    */
  def parkinsonVol(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(to_date(col("ts")).as("date"),
        col("event_type").as("symbol"), col("value").as("price"))
      .groupBy(col("date"), col("symbol"))
      .agg(max(col("price")).as("hi"), min(col("price")).as("lo"),
        count(lit(1)).as("n_ticks"))
      .where(col("lo") > 0.0)
      .select(col("date"), col("symbol"), col("n_ticks"),
        r6(log(col("hi") / col("lo")) * log(col("hi") / col("lo"))
          / (lit(4.0) * log(lit(2.0)))).as("park_var"))
      .orderBy("date", "symbol")

  /** `arch_effect` — volatility clustering per symbol: the lag-1
    * autocorrelation of SQUARED tick returns (the statistic behind
    * Engle 1982's ARCH LM test — returns themselves are near-white,
    * their squares are not when variance clusters). Positive acf1
    * on squares = turbulent ticks follow turbulent ticks, the
    * fact every GARCH-style risk model conditions on; ≈0 means
    * [[realizedVol]]'s hourly bars are already independent draws.
    *
    * Portability: returns are exact centi-integer deltas, squares
    * exact longs, all five Pearson sums fold in DECIMAL(38,0)
    * (HUGEINT on the oracle side) — the [[autocorrelation]]
    * contract applied to x = r². Scale shape: ONE per-symbol sort
    * serves both lags (the tickDeltas posture), one
    * map-side-combined aggregate to |symbol| rows.
    */
  def archEffect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val sq = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("p"))
      .withColumn("r", col("p") - lag(col("p"), 1).over(w))
      .where(col("r").isNotNull)
      .withColumn("x", col("r") * col("r"))
      .withColumn("y", lag(col("x"), 1).over(w))
      .where(col("y").isNotNull)
    sq.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).cast(DecimalType(38, 0))
          .as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).cast(DecimalType(38, 0))
          .as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).cast(DecimalType(38, 0))
          .as("syy"))
      .select(col("symbol"), col("n"),
        r6((dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("double")
          / nullif(
            sqrt((dec(col("n")) * col("sxx")
              - dec(col("sx")) * dec(col("sx"))).cast("double"))
              * sqrt((dec(col("n")) * col("syy")
                - dec(col("sy")) * dec(col("sy"))).cast("double")),
            lit(0.0))).as("arch_acf1"))
      .orderBy("symbol")
  }

  /** `seasonality_strength` — how much of a symbol's price variance
    * the hour-of-day clock explains: R² = SSB/SST from the one-way
    * ANOVA decomposition over 24 hour-of-day groups, plus the peak
    * hour. The scalar that says whether [[hourlyProfile]]'s curve is
    * signal or noise — a symbol near 0 has no daily rhythm, near 1
    * is almost a function of the clock (the intraday-seasonality
    * readout market and load-forecasting pipelines key on).
    *
    * Portability: values land on the 1e-2 grid as integers, so the
    * per-group sums S_h, ΣS_h, and Σv² are exact; the between-group
    * term S_h²/n_h is IEEE-divided per group and quantized to an
    * integer (absolute ½-unit rounding on the vq² scale — far below
    * the variance magnitudes), then the ≤ 24 terms sum order-free;
    * R² combines the three integers in one fenced division. The
    * grand-mean correction S²/n is quantized ONCE and reused in
    * numerator and denominator, so both engines subtract the
    * identical integer. Scale: one (symbol, hod) aggregate → one
    * 24-row-per-symbol fold; nothing touches row order.
    */
  def seasonalityStrength(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val perHour = Tables.events(s, d)
      .select(col("event_type").as("symbol"), hour(col("ts")).as("hod"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      .groupBy(col("symbol"), col("hod"))
      .agg(count(lit(1)).as("nh"),
        sum(col("vq")).as("sh"),
        sum(dec(col("vq")) * dec(col("vq"))).cast(DecimalType(38, 0))
          .as("qh"))
      .withColumn("bterm",
        floor((dec(col("sh")) * dec(col("sh"))).cast("double")
          / col("nh").cast("double") + lit(0.5)).cast("long"))
      .withColumn("mh_r6",
        r6(col("sh").cast("double") / col("nh").cast("double")
          / lit(100.0)))
    val wp = Window.partitionBy("symbol")
      .orderBy(col("mh_r6").desc, col("hod").asc)
    val peaks = perHour.withColumn("pr", row_number().over(wp))
      .where(col("pr") === 1)
      .select(col("symbol"), col("hod").as("peak_hod"),
        col("mh_r6").as("peak_mean"))
    perHour
      .groupBy(col("symbol"))
      .agg(sum(col("nh")).as("n"),
        sum(col("sh")).as("sv"),
        sum(col("qh")).cast(DecimalType(38, 0)).as("ssq"),
        sum(col("bterm")).as("bsum"))
      .withColumn("corr_q",
        floor((dec(col("sv")) * dec(col("sv"))).cast("double")
          / col("n").cast("double") + lit(0.5)).cast("long"))
      .join(peaks, Seq("symbol"))
      .select(col("symbol"), col("n"), col("peak_hod"), col("peak_mean"),
        r6((col("bsum") - col("corr_q")).cast("double")
          / nullif((col("ssq").cast("double")
            - col("corr_q").cast("double")), lit(0.0)))
          .as("seasonality_r2"))
      .orderBy("symbol")
  }

  /** `best_trade` — maximum single-transaction profit per symbol:
    * the (buy, sell) pair maximizing sell − buy with buy strictly
    * before sell, i.e. each tick's profit against the running
    * minimum so far, maximized. The classic one-pass market scan
    * completing the risk pair with [[maxDrawdown]] (drawdown looks
    * down from the running peak; this looks up from the running
    * trough).
    *
    * Portability: the running min and the profit difference are
    * exact IEEE ops on the raw prices; the winning sell is chosen
    * under the total order (r6 profit desc, us asc, event_id asc) so
    * both engines pick the identical row even among equal-profit
    * sells. One window pass + one per-symbol rank — the
    * [[maxDrawdown]] plan exactly.
    */
  def bestTrade(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.partitionBy("symbol")
      .orderBy(col("profit").desc, col("us").asc, col("event_id").asc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"))
      .withColumn("trough", min(col("price")).over(w))
      .withColumn("profit", r6(col("price") - col("trough")))
      .withColumn("r", row_number().over(wr))
      .where(col("r") === 1)
      .select(col("symbol"), col("event_id").as("sell_event_id"),
        col("trough").as("buy_price"), col("price").as("sell_price"),
        col("profit").as("max_profit"))
      .orderBy("symbol")
  }

  /** `attribution_last_touch` — last-touch conversion attribution:
    * every purchase credits the user's most recent click within the
    * 24 h lookback, or counts as "direct" if none exists. The
    * marketing-analytics sibling of [[funnelSteps]] — the funnel
    * asks "did the user progress", attribution asks "which touch
    * gets the credit". Reported as the hourly attribution mix
    * (purchases, attributed, direct, and the mean click→purchase
    * gap), the shape a reporting layer actually consumes.
    *
    * Portability & scale: the carried last-click is the
    * `gapfill_resample` single-sort formulation of a per-row as-of
    * join — ONE window pass over (user, time)-sorted events carries
    * `last(click ts, ignoreNulls)` forward, so the purchase rows
    * read their answer in place (no per-purchase range join, no
    * second shuffle). Gap sums ride exact integer µs; the mean is
    * one fenced division per hour bucket.
    */
  def attributionLastTouch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("us")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("attributed",
        col("last_click_us").isNotNull &&
          col("last_click_us") < col("us") &&
          col("us") - col("last_click_us") <= lit(86400000000L))
      .withColumn("gap_us",
        when(col("attributed"), col("us") - col("last_click_us")))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), lit(1)).otherwise(lit(0)))
          .as("n_attributed"),
        sum(when(!col("attributed"), lit(1)).otherwise(lit(0)))
          .as("n_direct"),
        sum(col("gap_us").cast(DecimalType(19, 0)))
          .cast(DecimalType(19, 0)).as("gap_sum"))
      .select(col("hour"), col("n_purchases"), col("n_attributed"),
        col("n_direct"),
        r6(col("gap_sum").cast("double")
          / nullif(col("n_attributed").cast("double"), lit(0.0))
          / lit(60000000.0)).as("mean_gap_min"))
      .orderBy("hour")
  }

  /** `survival_km` — Kaplan–Meier survival of signup→purchase
    * conversion time: for each user, the µs from their FIRST signup
    * to their first purchase AFTER it (users with no qualifying
    * purchase are right-censored at their last event). The
    * time-to-event readout behind activation dashboards — "how long
    * until half the signups convert" is the p50 of THIS curve, which
    * naive mean-gap stats get wrong exactly because of censoring.
    *
    * Portability: the ln posture — every per-time factor
    * (nᵢ−dᵢ)/nᵢ is an exact rational whose double quotient is
    * identical cross-engine, its ln is quantized to a 1e-6-grid
    * integer, and the survival curve is the cumulative INTEGER sum
    * of those terms in duration order (reported as ln S; exp is the
    * one op fenced away). Risk sets are integer window cumsums.
    * Scale: one user-keyed fold to one observation per user, then
    * windows over DISTINCT event times — rows bounded by the
    * distinct-duration count.
    */
  def survivalKm(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("us"))).as("t0"),
        max(col("us")).as("t_last"))
      .where(col("t0").isNotNull)
    val firstPurch = ev.where(col("event_type") === "purchase")
      .join(perUser, Seq("user_id"))
      .where(col("us") > col("t0"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t_purch"))
    val obs = perUser.join(firstPurch, Seq("user_id"), "left")
      .select(
        when(col("t_purch").isNotNull, col("t_purch") - col("t0"))
          .otherwise(col("t_last") - col("t0")).as("dur_us"),
        when(col("t_purch").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("event"))
    val byDur = obs.groupBy(col("dur_us"))
      .agg(sum(col("event")).as("d"),
        sum(lit(1L) - col("event")).as("c"))
    val wDesc = Window.orderBy(col("dur_us").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("dur_us").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk", sum(col("d") + col("c")).over(wDesc))
      .where(col("d") > 0)
      // a time where everyone at risk converts drives S to exactly 0
      // (ln S = −∞); that can only be the LAST row — its ln_survival
      // reports NULL rather than a non-finite double
      .withColumn("term_q",
        when(col("n_risk") > col("d"),
          floor(log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")) * lit(1000000.0) + lit(0.5))
            .cast("long")))
      .withColumn("ln_surv_q", sum(col("term_q")).over(wAsc))
      .select(col("dur_us"), col("n_risk"), col("d").as("n_events"),
        r6(col("d").cast("double") / col("n_risk").cast("double"))
          .as("hazard"),
        when(col("n_risk") > col("d"),
          col("ln_surv_q").cast("double") / lit(1000000.0))
          .as("ln_survival"))
      .orderBy("dur_us")
  }

  /** `benford_deviation` — first-significant-digit distribution of
    * event values against Benford's law: the forensic data-quality
    * screen (fabricated, clipped, or unit-mangled numeric feeds bend
    * the leading-digit curve long before summary stats move). Joins
    * the audit family (`data_profile`, `anomaly_mad`) as the
    * "is this column's SHAPE natural" check.
    *
    * Portability: the first digit comes from a pure-integer CASE
    * ladder over the 1e-2-grid value (no log10 — its last ulp at
    * decade boundaries is exactly where floor would flip), counts
    * are integers, the nine Benford shares are identical 6-dp
    * literals on both engines, and each share/deviation is one
    * fenced op. One aggregate to ≤ 9 rows at any scale.
    */
  /** First significant digit of a positive 1e-2-grid integer via a
    * pure-integer CASE ladder — shared by the batch Benford screen
    * and S20's live twin so the two digit rules cannot drift.
    * `vqName` must reference a LONG column ≥ 1.
    */
  private[graft] def firstDigit(vqName: String): org.apache.spark.sql.Column = {
    var digit = when(col(vqName) < 10, col(vqName))
    var p = 10L
    (2 to 18).foreach { _ =>
      digit = digit.when(col(vqName) < p * 10, expr(s"$vqName DIV ${p}L"))
      p = p * 10
    }
    digit
  }

  /** The nine Benford leading-digit shares, 6-dp literals. */
  private[graft] val benfordShares: Seq[(Int, Double)] = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)

  def benfordDeviation(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
        .as("vq"))
      .where(col("vq") >= 1)
    val digit = firstDigit("vq")
    val bshare = benfordShares.tail.foldLeft(
      when(col("digit") === 1, lit(benfordShares.head._2))) {
      case (acc, (dg, sh)) => acc.when(col("digit") === dg, lit(sh))
    }
    base
      .select(digit.as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        r6(col("n").cast("double") / col("total").cast("double"))
          .as("obs_share"),
        bshare.as("benford_share"))
      .withColumn("deviation",
        r6(col("obs_share") - col("benford_share")))
      .orderBy("digit")
  }

  /** `ab_test_power` — the sample-size side of [[abTestZ]]: given the
    * two arms' observed rates, the per-arm n needed to detect that
    * delta at α = 0.05 (two-sided) with 80% power — the standard
    * two-proportion power formula (Fleiss): n = (z₁₋α/₂·√(2p̄q̄) +
    * z₁₋β·√(p₁q₁+p₂q₂))² / δ². The "is this experiment even big
    * enough" readout an experimentation platform prints beside the
    * z-test.
    *
    * Portability: the arm integers are shared with [[abTestZ]]; the
    * two z quantiles are identical 6-dp literals on both engines, and
    * the whole formula is one written IEEE op sequence (divisions,
    * sqrt, ceil — all correctly rounded) from those integers. One
    * row out.
    */
  def abTestPower(s: SparkSession, d: String): DataFrame = {
    val arms = abArms(s, d)
    val p1 = col("conv_a").cast("double") / col("n_a").cast("double")
    val p2 = col("conv_b").cast("double") / col("n_b").cast("double")
    val pbar = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val num = lit(1.959964) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(0.841621) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    arms.select(
      col("n_a"), col("n_b"),
      r6(p1).as("rate_a"), r6(p2).as("rate_b"),
      r6(p1 - p2).as("delta"),
      ceil(num * num
        / nullif((p1 - p2) * (p1 - p2), lit(0.0))).cast("long")
        .as("n_required_per_arm"))
  }

  /** The shared per-arm conversion aggregate behind [[abTestZ]] and
    * [[abTestPower]] — one row: n and converters per hash arm.
    */
  private def abArms(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", lit(1))
        .otherwise(lit(0))) >= 14, lit(1)).otherwise(lit(0)).as("conv"))
      .withColumn("arm",
        ((col("user_id") % lit(1000000007L)) * lit(3432918353L)
          % lit(1000000007L)) % lit(2))
      .agg(
        sum(when(col("arm") === 0, lit(1)).otherwise(lit(0))).as("n_a"),
        sum(when(col("arm") === 1, lit(1)).otherwise(lit(0))).as("n_b"),
        sum(when(col("arm") === 0, col("conv")).otherwise(lit(0)))
          .as("conv_a"),
        sum(when(col("arm") === 1, col("conv")).otherwise(lit(0)))
          .as("conv_b"))

  /** `bootstrap_ci` — deterministic subsample bootstrap of the mean
    * purchase value: 32 half-rate replicates drawn by a decorrelated
    * per-(row, replicate) hash predicate, a 95% CI from the sorted
    * replicate means by linear order-statistic interpolation. The
    * error-bar companion to [[valueStats]]' point estimates — and
    * the bootstrap a DISTRIBUTED engine can actually run: classic
    * with-replacement resampling needs per-row RNG multiplicities
    * (irreproducible across engines and re-runs), while the
    * hash-predicate subsample is a pure row-local membership test —
    * append-stable, shuffle-free at draw time, identical on any
    * engine.
    *
    * Portability: replicate membership is modular-integer arithmetic
    * (replicate index folded into the hash input, so the 32 draws
    * decorrelate); each replicate mean is an exact DECIMAL sum over
    * one fenced division; the CI interpolates between r6-fenced
    * order statistics (ranks 1,2 and 31,32 for p2.5/p97.5 over B=32,
    * ties broken by replicate id) with one written op sequence.
    * Scale: the explode is a map-side ×32 row multiply feeding ONE
    * map-side-combinable aggregate to 32 partials — no extra
    * shuffle, no RNG state, no driver loop.
    */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val p = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .select(col("event_id"),
        col("value").cast(DecimalType(18, 6)).as("vd"))
    val reps = p
      .select(col("event_id"), col("vd"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .where(
        ((((col("event_id") % lit(1000000007L)) * lit(31) + col("b"))
          % lit(1000000007L)) * lit(1566083941L)
          % lit(1000000007L)) % lit(2) === 0)
    val means = reps.groupBy(col("b"))
      .agg(count(lit(1)).as("nb"),
        sum(col("vd")).cast(DecimalType(28, 6)).as("sb"))
      .select(col("b"),
        r6(col("sb").cast("double") / col("nb").cast("double"))
          .as("mb"))
    val w = Window.orderBy(col("mb").asc, col("b").asc)
    val stats = means
      .withColumn("rn", row_number().over(w))
      .agg(
        max(when(col("rn") === 1, col("mb"))).as("m1"),
        max(when(col("rn") === 2, col("mb"))).as("m2"),
        max(when(col("rn") === 31, col("mb"))).as("m31"),
        max(when(col("rn") === 32, col("mb"))).as("m32"),
        count(lit(1)).as("n_replicates"))
    val full = p.agg(count(lit(1)).as("n_purchases"),
      sum(col("vd")).cast(DecimalType(28, 6)).as("sv"))
    // p2.5 rank over B=32 (0-based): 0.025·31 = 0.775 between order
    // stats 1 and 2; p97.5: 30.225 between 31 and 32
    stats.crossJoin(full)
      .select(col("n_purchases"), col("n_replicates"),
        r6(col("sv").cast("double") / col("n_purchases").cast("double"))
          .as("mean_value"),
        r6(col("m1") + lit(0.775) * (col("m2") - col("m1")))
          .as("ci_lo"),
        r6(col("m31") + lit(0.225) * (col("m32") - col("m31")))
          .as("ci_hi"))
  }

  /** `ab_test_z` — two-proportion z-test between hash-assigned
    * experiment arms: per-user conversion (≥ 14 purchase events — a
    * median split of this corpus's per-user purchase depth, chosen
    * so both rates are interior; "≥ 1 purchase" is degenerate here,
    * every user converts and the pooled variance collapses to 0), arms
    * split by a decorrelated multiplicative hash of user_id
    * (Murmur3 c1; append-stable like every sampler here — a user's
    * arm never flips as events accrue, the property a real
    * experiment assignment must have). The canonical experimentation
    * readout beside the ML-monitoring rows (`psi_drift`,
    * `score_auc`, `calibration_curve`).
    *
    * Portability: counts are integers; rates and the z statistic are
    * ONE written IEEE op sequence over those integers (divisions and
    * sqrt are correctly-rounded ops, so both engines produce the
    * identical doubles), fenced on the 6-dp grid. Scale: one
    * user-keyed aggregate + a single global fold to one row.
    */
  def abTestZ(s: SparkSession, d: String): DataFrame = {
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    abArms(s, d)
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        r6(col("conv_a").cast("double") / col("n_a").cast("double"))
          .as("rate_a"),
        r6(col("conv_b").cast("double") / col("n_b").cast("double"))
          .as("rate_b"),
        r6((col("conv_a").cast("double") / col("n_a").cast("double")
          - col("conv_b").cast("double") / col("n_b").cast("double"))
          / nullif(sqrt(pooled * (lit(1.0) - pooled)
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))), lit(0.0)))
          .as("z_score"))
  }

  /** `obv_indicator` — On-Balance Volume per symbol (Granville '63):
    * OBV_t = Σ_{i≤t} sign(Δprice_i)·vol_i — volume flows "into" the
    * asset on up-ticks and "out" on down-ticks; the classic
    * volume-confirmation companion to [[rsiIndicator]]'s price
    * momentum, on the same tick stream (`props` JSON `k` as per-tick
    * size, the [[vwapHourly]] precedent).
    *
    * Portability: the tick-to-tick move is compared on the exact
    * centi-price integer grid (2-dp data), sign and volume are
    * integers, and the running OBV is an integer prefix sum — the
    * ENTIRE query is integer arithmetic, no float fence anywhere.
    * Output is the last 20 ticks per symbol (bounded at any scale).
    *
    * Scale shape: one shuffle+sort per symbol serves the lag, the
    * prefix sum, and both row_numbers — the [[rsiIndicator]] plan.
    */
  def obvIndicator(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wd = Window.partitionBy("symbol")
      .orderBy(col("us").desc, col("event_id").desc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("vol"))
      .withColumn("dc", col("centi") - lag(col("centi"), 1).over(w))
      .withColumn("flow",
        when(col("dc") > 0, col("vol"))
          .when(col("dc") < 0, -col("vol"))
          .otherwise(lit(0L)))
      .withColumn("obv", sum(col("flow")).over(run))
      .withColumn("rdesc", row_number().over(wd))
      .where(col("rdesc") <= 20)
      .select(col("symbol"), col("event_id"), col("price"),
        col("vol"), col("obv"))
      .orderBy("symbol", "event_id")
  }

  /** `bollinger_bands` — 20-tick Bollinger bands per symbol
    * (Bollinger '80s): moving mean ± 2σ over the trailing-20 frame,
    * the volatility envelope read alongside [[rsiIndicator]] on every
    * trading chart. Emitted for the last 20 full-frame ticks per
    * symbol with the band width and a position flag (price above /
    * below the envelope).
    *
    * Portability: the frame moments are INTEGER sums of centi-prices
    * (Σc, Σc² — c ≤ ~10⁶ ⇒ Σc² ≤ ~2×10¹³, well inside long), the
    * variance numerator n·Σc² − (Σc)² is exact integer arithmetic,
    * and the only float ops are one correctly-rounded sqrt of an
    * integer and the fixed divisions by 100n — a single written IEEE
    * op sequence both engines reproduce bit-for-bit, then the 6-dp
    * fence. Σ over the frame is an integer fold, so segment-tree vs
    * sequential window evaluation order cannot differ.
    *
    * Scale shape: the [[rsiIndicator]] plan — one shuffle+sort per
    * symbol serves both frame sums and both row_numbers.
    */
  def bollingerBands(s: SparkSession, d: String): DataFrame = {
    val n = 20
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val fr = w.rowsBetween(-(n - 1), 0)
    val wd = Window.partitionBy("symbol")
      .orderBy(col("us").desc, col("event_id").desc)
    val mid = col("sc").cast("double") / lit(100.0 * n)
    val sd = sqrt((lit(n.toLong) * col("sc2") - col("sc") * col("sc"))
      .cast("double")) / lit(100.0 * n)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"))
      .withColumn("rn", row_number().over(w))
      .withColumn("sc", sum(col("centi")).over(fr))
      .withColumn("sc2", sum(col("centi") * col("centi")).over(fr))
      .where(col("rn") >= n)
      .withColumn("rdesc", row_number().over(wd))
      .where(col("rdesc") <= 20)
      .select(col("symbol"), col("event_id"), col("price"),
        r6(mid).as("mid"),
        r6(sd).as("sd20"),
        r6(mid - lit(2.0) * sd).as("lower"),
        r6(mid + lit(2.0) * sd).as("upper"),
        (col("centi").cast("double") / lit(100.0) >
          mid + lit(2.0) * sd).cast("int").as("above_upper"),
        (col("centi").cast("double") / lit(100.0) <
          mid - lit(2.0) * sd).cast("int").as("below_lower"))
      .orderBy("symbol", "event_id")
  }

  /** `stochastic_oscillator` — trailing-14 stochastic %K per symbol
    * (Lane '50s): %K = 100·(close − L14)/(H14 − L14), the position of
    * the current price inside its recent range — with
    * [[rsiIndicator]] (momentum), [[obvIndicator]] (volume flow) and
    * [[bollingerBands]] (volatility envelope) this completes the
    * classical chart-indicator quartet on the reference's tick
    * stream.
    *
    * Portability: L14/H14 are frame MIN/MAX of the exact centi-price
    * integers (order-free by construction), the numerator and
    * denominator are integer differences, and the ONLY float op is
    * the final fenced division (nullif-guarded for a flat frame).
    * Output is the last 20 full-frame ticks per symbol.
    *
    * Scale shape: the [[rsiIndicator]] plan — one shuffle+sort per
    * symbol serves both frame extrema and both row_numbers.
    */
  def stochasticOscillator(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val fr = w.rowsBetween(-13, 0)
    val wd = Window.partitionBy("symbol")
      .orderBy(col("us").desc, col("event_id").desc)
    sortedTicks(s, d)
      .select(col("event_id"), col("us"), col("symbol"),
        col("value").cast("double").as("price"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"))
      .withColumn("rn", row_number().over(w))
      .withColumn("l14", min(col("centi")).over(fr))
      .withColumn("h14", max(col("centi")).over(fr))
      .where(col("rn") >= 14)
      .withColumn("rdesc", row_number().over(wd))
      .where(col("rdesc") <= 20)
      .select(col("symbol"), col("event_id"), col("price"),
        (col("l14").cast("double") / lit(100.0)).as("low14"),
        (col("h14").cast("double") / lit(100.0)).as("high14"),
        r6(lit(100.0) * (col("centi") - col("l14")).cast("double")
          / nullif((col("h14") - col("l14")).cast("double"), lit(0.0)))
          .as("pct_k"))
      .orderBy("symbol", "event_id")
  }

  /** `vwap_hourly` — volume-weighted average price per (date, hour,
    * symbol): VWAP = Σ(price·vol)/Σ(vol), the execution benchmark
    * every trading desk compares fills against and the weighted
    * companion to R3's unweighted `avg_price` (the reference's tick
    * payload carries only price, `dataCollector.py:105`; the `props`
    * JSON `k` field stands in as the per-tick size, read with the
    * same extraction `json_extract` gates).
    *
    * Portability: prices on the 2-dp data grid quantize to integer
    * centi-price; centi·vol products and both sums are pure integer
    * folds (order-free), so the ONLY float op is the final fenced
    * division by 100·Σvol. Scale shape: identical to `ohlc_hourly` —
    * one hash aggregate with map-side partials, no window, no join.
    */
  def vwapHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts"), col("event_type").as("symbol"),
        floor(col("value").cast("double") * lit(100.0) + lit(0.5))
          .cast("long").as("centi"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
      .where(col("vol").isNotNull && col("vol") > 0)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("symbol"))
      .agg(
        sum(col("centi") * col("vol")).as("pv_centi"),
        sum(col("vol")).as("total_vol"),
        count(lit(1)).as("n_ticks"))
      .select(
        to_date(col("hour_ts")).as("date"),
        hour(col("hour_ts")).as("hour"),
        col("symbol"), col("n_ticks"), col("total_vol"),
        r6(col("pv_centi").cast("double")
          / (lit(100.0) * col("total_vol").cast("double"))).as("vwap"))
      .orderBy("date", "hour", "symbol")

  /** `forecast_backtest` — seasonal-naive forecast evaluation per
    * symbol: predict each hour's close as the close 24 hours
    * earlier, score MAE / MAPE / bias over every hour that HAS a
    * same-hour-yesterday predecessor. The day-ahead baseline every
    * forecasting stack must beat — and the backtest harness shape
    * (build prediction frame → join actuals → error reduction)
    * that any model slot reuses.
    *
    * Determinism: hourly close is arg_max(price, ts) on the exact
    * centi grid (an INTEGER — ts is unique per symbol, so the pick
    * is total-ordered); absolute errors are integer cents, MAE is
    * ONE fenced division of an exact integer sum; MAPE's per-row
    * |err|/actual terms are 1e-6-quantized into an order-free long
    * sum (the psi_drift recipe) before their fenced mean.
    *
    * Scale: one hash aggregate to hourly closes (map-side partials),
    * one self equi-join on (symbol, hour−24h) — hourly rows are
    * corpus-size/3600, so at 100 TB this joins MB-scale frames; AQE
    * broadcasts them. No window over raw ticks.
    */
  def forecastBacktest(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.ticks(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("symbol"),
        col("ts"),
        floor(col("price") * lit(100.0) + lit(0.5)).cast("long")
          .as("centi"))
      .groupBy(col("h"), col("symbol"))
      .agg(max_by(col("centi"), col("ts")).as("close_centi"))
    val pred = hourly.select(
      (col("h") + expr("INTERVAL 24 HOURS")).as("h"),
      col("symbol"), col("close_centi").as("pred_centi"))
    hourly.join(pred, Seq("h", "symbol"))
      .select(col("symbol"),
        abs(col("close_centi") - col("pred_centi")).as("abs_err"),
        (col("close_centi") - col("pred_centi")).as("err"),
        // a zero actual (value 0.0 exists in the feed) would be a
        // div-by-zero → ANSI throw: MAPE conventionally excludes
        // zero actuals, so the term is NULL there and n_ape counts
        // only scored rows
        when(col("close_centi") > 0L,
          floor(abs(col("close_centi") - col("pred_centi")).cast("double")
            / col("close_centi").cast("double") * lit(1000000.0)
            + lit(0.5)).cast("long")).as("ape_q"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_pred"),
        sum(col("abs_err")).as("sum_abs_err"),
        sum(col("err")).as("sum_err"),
        count(col("ape_q")).as("n_ape"),
        sum(col("ape_q")).as("sum_ape_q"))
      .select(col("symbol"), col("n_pred"), col("n_ape"),
        r6(col("sum_abs_err").cast("double")
          / (lit(100.0) * col("n_pred").cast("double"))).as("mae"),
        r6(col("sum_err").cast("double")
          / (lit(100.0) * col("n_pred").cast("double"))).as("bias"),
        r6(col("sum_ape_q").cast("double") / lit(10000.0)
          / col("n_ape").cast("double")).as("mape_pct"))
      .orderBy("symbol")
  }

  /** `welch_t_test` — Welch's unequal-variance t-test (Welch 1947)
    * of each event stream's value distribution against the `view`
    * baseline: the mean-difference companion to [[abTestZ]]'s
    * proportion test, and the form every experimentation platform
    * defaults to because pooled-variance Student's t silently assumes
    * equal spread. Per non-baseline event_type: both sample sizes,
    * means, ddof-1 variances, the t statistic, and the
    * Welch–Satterthwaite effective degrees of freedom.
    *
    * Portability: values live on the exact centi grid (2-dp data),
    * so n, Σc, Σc² are exact integers; every downstream quantity is
    * ONE written IEEE op sequence over those integers (each op
    * correctly rounded ⇒ both engines produce bit-identical doubles
    * — the [[abTestZ]] posture), fenced on the 6-dp grid only at the
    * output. Σc² stays < 2⁵³ (exact as a double) until ~10¹¹ rows
    * per arm at this price range — document-and-swap to a decimal
    * fold past that.
    *
    * Scale shape: ONE map-side-combined aggregate to |event_type|
    * rows, then a broadcast of the 1-row baseline. No other shuffle
    * at any corpus size.
    */
  def welchTTest(s: SparkSession, d: String): DataFrame = {
    val g = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
    def mean(n: String, sc: String) =
      col(sc).cast("double") / (lit(100.0) * col(n).cast("double"))
    def variance(n: String, sc: String, sc2: String) =
      ((col(sc2).cast("double") / lit(10000.0)
        - (col(sc).cast("double") / lit(100.0))
          * (col(sc).cast("double") / lit(100.0))
          / col(n).cast("double"))
        / (col(n).cast("double") - lit(1.0)))
    val base = g.where(col("event_type") === "view")
      .select(col("n").as("n_view"), col("sc").as("sc_v"),
        col("sc2").as("sc2_v"))
    g.where(col("event_type") =!= "view")
      .crossJoin(broadcast(base))
      .withColumn("va", variance("n", "sc", "sc2"))
      .withColumn("vb", variance("n_view", "sc_v", "sc2_v"))
      .withColumn("sa", col("va") / col("n").cast("double"))
      .withColumn("sb", col("vb") / col("n_view").cast("double"))
      .select(col("event_type"), col("n"), col("n_view"),
        r6(mean("n", "sc")).as("mean"),
        r6(mean("n_view", "sc_v")).as("mean_view"),
        r6(col("va")).as("var_grp"),
        r6(col("vb")).as("var_view"),
        r6((mean("n", "sc") - mean("n_view", "sc_v"))
          / sqrt(col("sa") + col("sb"))).as("t_stat"),
        r6((col("sa") + col("sb")) * (col("sa") + col("sb"))
          / (col("sa") * col("sa") / (col("n").cast("double") - lit(1.0))
            + col("sb") * col("sb")
              / (col("n_view").cast("double") - lit(1.0)))).as("df"))
      .orderBy("event_type")
  }

  /** `mann_whitney` — the Mann–Whitney U rank-sum test (Mann &
    * Whitney 1947) of `purchase` vs `click` values: the
    * nonparametric twin of [[welchTTest]] — compares distributions
    * by rank, so it survives the heavy tails and outliers that sink
    * mean-based tests on revenue-like data. Emits both sample sizes,
    * U, the tie-corrected normal-approximation z, and the
    * rank-biserial effect size (Cureton 1956; 0 = stochastic
    * equality).
    *
    * Formulation without per-row ranking: group by exact centi
    * value, one running count over the value grid, and the
    * tie-averaged rank of every row at value c is
    * (2·cum_before + t + 1)/2 — carried DOUBLED so rank sums stay
    * exact integers (Σ(t³−t) for the tie correction likewise).
    * The z and effect size are single written IEEE op sequences
    * over those integers, 6-dp fenced at the output.
    *
    * Scale shape: the corpus-size work is one map-side-combined
    * aggregate to |distinct value| cells; the running frame is a
    * single-partition window over the VALUE GRID (bounded by the
    * centi price range — ~49k cells here — NOT by corpus row count,
    * the `quantile_bins` posture), then one global fold to one row.
    */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val byVal = Tables.events(s, d)
      .where(col("event_type").isin("purchase", "click"))
      .select(
        when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
          .as("is_a"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("t"), sum(col("is_a")).as("ta"))
    val run = Window.orderBy(col("c").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = byVal
      .withColumn("cum", sum(col("t")).over(run))
      .withColumn("r2",
        lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
      .agg(sum(col("ta")).as("n_a"), sum(col("t")).as("n"),
        sum(col("ta") * col("r2")).as("r2a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    folded
      .withColumn("n_b", col("n") - col("n_a"))
      .withColumn("u",
        (col("r2a") - col("n_a") * (col("n_a") + lit(1L))).cast("double")
          / lit(2.0))
      .withColumn("mu",
        col("n_a").cast("double") * col("n_b").cast("double") / lit(2.0))
      .withColumn("sig2",
        col("n_a").cast("double") * col("n_b").cast("double") / lit(12.0)
          * ((col("n").cast("double") + lit(1.0))
            - col("tie3").cast("double")
              / (col("n").cast("double")
                * (col("n").cast("double") - lit(1.0)))))
      .select(col("n_a"), col("n_b"),
        r6(col("u")).as("u_stat"),
        r6((col("u") - col("mu")) / sqrt(col("sig2"))).as("z_score"),
        r6(lit(1.0) - lit(2.0) * col("u")
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("rank_biserial"))
  }

  /** `spearman_corr` — Spearman rank correlation (Spearman 1904)
    * between tick price and tick volume per symbol: does volume
    * rise with price MONOTONICALLY, regardless of functional form —
    * the robust counterpart to [[pairCorrelation]]'s Pearson on
    * returns, immune to the outliers and nonlinearity that distort
    * product-moment correlation on raw prices. ρ = Pearson over
    * tie-averaged ranks.
    *
    * Formulation: ranks come from the value-grid trick
    * ([[mannWhitney]] — 2·avg_rank = 2·cum_before + t + 1, exact
    * integers), computed per symbol over the DISTINCT value cells,
    * then joined back broadcast (the rank tables are bounded by the
    * value grids — centi price range × symbols and the small volume
    * alphabet — not by corpus rows). Σr², Σrᵣrᵥ etc. are exact
    * integer folds; ρ is one written IEEE sequence over them
    * (products may round past 2⁵³ — identically in both engines),
    * 6-dp fenced.
    *
    * Scale shape: two map-side-combined grid aggregates + two
    * broadcast joins + one final aggregate to |symbol| rows; the
    * only per-symbol windows run over the bounded value grids. The
    * base projection feeds THREE consumers (two rank tables + the
    * final fold), so it reads the shared [[sortedTicks]] silver —
    * one events scan per (session, corpus) total, the cached
    * materialization served three times — instead of scanning the
    * parquet three times (the pre-silver shape, real money at
    * 100 TB; TickSilverSpec pins the one-scan plan).
    */
  def spearmanCorr(s: SparkSession, d: String): DataFrame = {
    val rows = sortedTicks(s, d)
      .select(col("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("v"))
    def rankTable(vcol: String, out: String) = {
      val run = Window.partitionBy(col("symbol")).orderBy(col(vcol).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rows.groupBy(col("symbol"), col(vcol))
        .agg(count(lit(1)).as("t"))
        .withColumn("cum", sum(col("t")).over(run))
        .select(col("symbol"), col(vcol),
          (lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
            .as(out))
    }
    rows
      .join(broadcast(rankTable("c", "rc")), Seq("symbol", "c"))
      .join(broadcast(rankTable("v", "rv")), Seq("symbol", "v"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("rc")).as("sx"), sum(col("rv")).as("sy"),
        sum(col("rc") * col("rv")).as("sxy"),
        sum(col("rc") * col("rc")).as("sxx"),
        sum(col("rv") * col("rv")).as("syy"))
      .select(col("symbol"), col("n"),
        r6((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("rho"))
      .orderBy("symbol")
  }

  /** `chi2_independence` — Pearson's χ² test of independence
    * (Pearson 1900) on the documents lang × source contingency
    * table, with Cramér's V (Cramér 1946) as the normalized effect
    * size: is the language mix the same across sources, the first
    * question a corpus-composition audit asks (a V near 1 means
    * sources are language-siloed and a language filter doubles as a
    * source filter — a sampling hazard [[mixtureSample]]'s strata
    * would inherit).
    *
    * Portability: observed counts and marginals are exact integers;
    * each cell's (O−E)²/E is one IEEE sequence over them, quantized
    * to the 10⁻⁶ grid as a 64-bit integer and summed ORDER-FREE
    * (the `token_surprisal` posture — a raw double Σ over cells
    * would be fold-order-dependent); χ² and V divide once, fenced.
    *
    * Scale shape: one cell aggregate (|lang|×|source| rows), two
    * broadcast marginal folds OF the cells, one 1-row broadcast
    * total, final fold to one row. Corpus-size work is the first
    * aggregate only.
    */
  def chi2Independence(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    // marginals/total as window sums over the |lang|×|source| grid
    // (aggregate-bounded) — the re-aggregate-and-join-back form
    // recomputed the corpus cell aggregation once per marginal
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy("lang")))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy("source")))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy()))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double")
          / col("nn").cast("double"))
      .withColumn("contrib_q",
        floor((col("o").cast("double") - col("e"))
          * (col("o").cast("double") - col("e")) / col("e")
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .agg(count(lit(1)).as("n_cells"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        max(col("nn")).as("n_docs"),
        sum(col("contrib_q")).as("qsum"))
      .select(col("n_docs"), col("n_cells"),
        ((col("n_langs") - lit(1L)) * (col("n_sources") - lit(1L)))
          .as("dof"),
        r6(col("qsum").cast("double") / lit(1000000.0)).as("chi2"),
        r6(sqrt(col("qsum").cast("double") / lit(1000000.0)
          / (col("n_docs").cast("double")
            * least(col("n_langs") - lit(1L), col("n_sources") - lit(1L))
              .cast("double")))).as("cramers_v"))
  }

  /** `cond_entropy` — conditional entropy H(lang | source) and
    * Theil's uncertainty coefficient U = (H(lang) − H(lang|source))
    * / H(lang) over the documents table: the DIRECTED counterpart to
    * [[chi2Independence]]'s symmetric association — "given the
    * source, how much language uncertainty remains", on a 0–1 scale
    * where 1 means source determines language exactly (fully siloed
    * corpus: a language filter IS a source filter) and 0 means the
    * language mix is source-independent. The number a mixture
    * designer reads before stratifying ([[graft.operators.LlmTextOps]]'
    * `mixture_sample`).
    *
    * Portability: marginal and cell counts are exact integers; each
    * entropy term (p·ln(1/p) with both ratios written as explicit
    * CAST-divisions) quantizes to the 1e-9 grid as a 64-bit integer
    * and sums ORDER-FREE (the `token_surprisal`/`chi2` posture); the
    * two H values and U derive from those exact longs in one written
    * IEEE sequence each. Scale shape: one corpus-sized cell
    * aggregate; everything after runs on |lang|×|source| rows.
    */
  def condEntropy(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val langTot = cells.groupBy(col("lang")).agg(sum(col("o")).as("lt"))
    val tot = cells.agg(sum(col("o")).as("nn"))
    val hl = langTot.crossJoin(broadcast(tot))
      .select(floor((col("lt").cast("double") / col("nn").cast("double"))
        * log(col("nn").cast("double") / col("lt").cast("double"))
        * lit(1000000000.0) + lit(0.5)).cast("long").as("q"))
      .agg(sum(col("q")).as("hl_q"))
    val hc = cells.join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(floor((col("o").cast("double") / col("nn").cast("double"))
        * log(col("ct").cast("double") / col("o").cast("double"))
        * lit(1000000000.0) + lit(0.5)).cast("long").as("q"))
      .agg(sum(col("q")).as("hc_q"))
    tot.crossJoin(hl).crossJoin(hc)
      .select(col("nn").as("n_docs"),
        r6(col("hl_q").cast("double") / lit(1000000000.0)).as("h_lang"),
        r6(col("hc_q").cast("double") / lit(1000000000.0))
          .as("h_lang_given_source"),
        r6((col("hl_q") - col("hc_q")).cast("double")
          / nullif(col("hl_q").cast("double"), lit(0.0)))
          .as("uncertainty_coeff"))
  }

  /** `anova_oneway` — one-way analysis of variance (Fisher 1925)
    * across ALL event-type arms at once: [[welchTTest]] answers "is
    * arm A's mean different from the baseline", this answers "do ANY
    * of the k arms differ" in one F statistic — the omnibus gate an
    * experimentation platform runs before pairwise tests, because k
    * uncorrected pairwise comparisons inflate the false-positive
    * rate the single F does not. Emits the sum-of-squares
    * decomposition (between/within), the F ratio, and η² (the share
    * of value variance explained by arm membership).
    *
    * Portability: per-group moments are exact centi integers
    * ([[welchTTest]]); each group's SS-between and SS-within
    * contribution is ONE written IEEE sequence over them, quantized
    * to the 10⁻⁶ grid as a 64-bit integer and summed ORDER-FREE
    * across groups (the `chi2_independence` posture — a raw double
    * fold over group rows would be aggregation-order-dependent);
    * F and η² divide once from the two quantized sums, fenced.
    *
    * Scale shape: ONE map-side-combined aggregate to |event_type|
    * rows, a 1-row broadcast of the grand totals, and a ≤ k-row
    * final fold. No other corpus-size work at any scale.
    */
  def anovaOneway(s: SparkSession, d: String): DataFrame = {
    val g = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("sc")).as("scc"),
      count(lit(1)).as("k"))
    val withQ = g.crossJoin(broadcast(tot))
      .withColumn("mg",
        col("sc").cast("double") / (lit(100.0) * col("n").cast("double")))
      .withColumn("mm",
        col("scc").cast("double") / (lit(100.0) * col("nn").cast("double")))
      .withColumn("ssb_q",
        floor(col("n").cast("double") * (col("mg") - col("mm"))
          * (col("mg") - col("mm")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .withColumn("ssw_q",
        floor((col("sc2").cast("double") / lit(10000.0)
          - (col("sc").cast("double") / lit(100.0))
            * (col("sc").cast("double") / lit(100.0))
            / col("n").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    withQ
      .agg(max(col("nn")).as("n_total"), max(col("k")).as("k_groups"),
        sum(col("ssb_q")).as("ssbq"), sum(col("ssw_q")).as("sswq"))
      .select(col("n_total"), col("k_groups"),
        (col("k_groups") - lit(1L)).as("df_between"),
        (col("n_total") - col("k_groups")).as("df_within"),
        r6(col("ssbq").cast("double") / lit(1000000.0)).as("ss_between"),
        r6(col("sswq").cast("double") / lit(1000000.0)).as("ss_within"),
        r6((col("ssbq").cast("double") / lit(1000000.0)
          / (col("k_groups").cast("double") - lit(1.0)))
          / (col("sswq").cast("double") / lit(1000000.0)
            / (col("n_total").cast("double")
              - col("k_groups").cast("double")))).as("f_stat"),
        r6(col("ssbq").cast("double")
          / (col("ssbq").cast("double") + col("sswq").cast("double")))
          .as("eta_sq"))
  }

  /** `weekday_effect` — the day-of-week calendar-anomaly screen
    * (French 1980's "weekend effect", the oldest documented market
    * seasonal): one-way ANOVA of the pooled daily returns across the
    * seven day-of-week groups — does WHICH day it is explain any
    * return variance. The [[anovaOneway]] machinery applied to
    * [[dailyRetQ]]'s 1e-6 return grid; day-of-week comes from epoch
    *-day arithmetic ((h+3) mod 7, Monday = 0 — pure integers, no
    * locale-dependent date function in either engine).
    *
    * Portability: group moments are exact (Σr long, Σr² in
    * DECIMAL(38,0)/HUGEINT — returns on the synthetic price walk
    * reach ~1e11 micro-units, the `sharpe_ratio` posture); each
    * group's SSB/SSW contribution quantizes to a 1e-6-grid long and
    * sums order-free; F and η² are written IEEE sequences over the
    * exact sums. Scale: one corpus aggregate to ≤ 7 rows.
    */
  def weekdayEffect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val g = dailyRetQ(s, d)
      .withColumn("dow", pmod(col("h") + lit(3L), lit(7L)))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("ret_q")).as("sr"),
        sum(dec(col("ret_q")) * dec(col("ret_q")))
          .cast(DecimalType(38, 0)).as("sr2"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("sr")).as("sg"),
      count(lit(1)).as("k"))
    g.crossJoin(broadcast(tot))
      .withColumn("mg", col("sr").cast("double")
        / (lit(1000000.0) * col("n").cast("double")))
      .withColumn("mm", col("sg").cast("double")
        / (lit(1000000.0) * col("nn").cast("double")))
      .withColumn("ssb_q",
        floor(col("n").cast("double") * (col("mg") - col("mm"))
          * (col("mg") - col("mm")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .withColumn("ssw_q",
        floor((col("sr2").cast("double") / lit(1000000000000.0)
          - (col("sr").cast("double") / lit(1000000.0))
            * (col("sr").cast("double") / lit(1000000.0))
            / col("n").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .agg(max(col("nn")).as("n_days"), max(col("k")).as("k_dows"),
        sum(col("ssb_q")).as("ssbq"), sum(col("ssw_q")).as("sswq"))
      .select(col("n_days"), col("k_dows"),
        (col("k_dows") - lit(1L)).as("df_between"),
        (col("n_days") - col("k_dows")).as("df_within"),
        r6(col("ssbq").cast("double") / lit(1000000.0)).as("ss_between"),
        r6(col("sswq").cast("double") / lit(1000000.0)).as("ss_within"),
        r6((col("ssbq").cast("double") / lit(1000000.0)
          / (col("k_dows").cast("double") - lit(1.0)))
          / nullif(col("sswq").cast("double") / lit(1000000.0)
            / (col("n_days").cast("double")
              - col("k_dows").cast("double")), lit(0.0))).as("f_stat"),
        r6(col("ssbq").cast("double")
          / nullif(col("ssbq").cast("double")
            + col("sswq").cast("double"), lit(0.0))).as("eta_sq"))
  }

  /** `sequence_entropy` — plug-in entropy rate of the behavioral
    * Markov chain (Shannon 1948): H(next | current) in bits over the
    * same per-user consecutive-event transitions
    * [[markovTransitions]] counts, beside the zeroth-order marginal
    * entropy H(next) and their difference — the information the
    * current state carries about the next action. The corpus-level
    * "how predictable are users" scalar: info_gain ≈ 0 means the
    * transition matrix is rank-one noise and sequence models add
    * nothing over frequency tables (the go/no-go a sequence-modeling
    * investment decision reads first).
    *
    * Portability: transition counts are exact integers off one lag
    * window; each cell's (n_ij/N)·ln(n_i/n_ij) term and each
    * marginal's (n_i/N)·ln(N/n_i) term is one written IEEE sequence
    * (ln ≤ 1 ulp in both engines, fenced far above that), quantized
    * to the 10⁻⁶ grid and summed ORDER-FREE; the bits conversion
    * divides by ln(2.0) once at the end.
    *
    * Scale shape: the corpus-size work is the one (user, time)-sorted
    * lag window the whole funnel family shares + one aggregate to
    * ≤ |types|² cells; everything after is vocabulary-bounded.
    */
  def sequenceEntropy(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val trans = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // marginals (ni), the grand total (nn) and the per-state marginal
    // terms all ride windows over the ≤ |types|² transition grid
    // (aggregate-bounded), folded in ONE final aggregate — the
    // re-aggregate-and-broadcast-back form recomputed the corpus lag
    // window + cell aggregation once per derived table (~5 passes).
    // Each state's marginal term mq is attached to exactly one of its
    // cells (row_number = 1); the term itself depends only on the
    // group constants (ni, nn), so the carrier choice is irrelevant.
    val cells = trans
      .withColumn("ni",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("from_type").orderBy(col("to_type").asc)))
      .withColumn("nn", sum(col("n")).over(Window.partitionBy()))
    cells
      .select(col("nn"), col("rn"),
        floor(col("n").cast("double") / col("nn").cast("double")
          * log(col("ni").cast("double") / col("n").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("tq"),
        when(col("rn") === 1,
          floor(col("ni").cast("double") / col("nn").cast("double")
            * log(col("nn").cast("double") / col("ni").cast("double"))
            * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("mq"))
      .agg(max(col("nn")).as("nn"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_states"),
        sum(col("tq")).as("hq"),
        sum(col("mq")).as("h0q"))
      .select(col("nn").as("n_transitions"), col("n_states"),
        r6(col("hq").cast("double") / lit(1000000.0) / log(lit(2.0)))
          .as("h_rate_bits"),
        r6(col("h0q").cast("double") / lit(1000000.0) / log(lit(2.0)))
          .as("h_marginal_bits"),
        r6((col("h0q") - col("hq")).cast("double") / lit(1000000.0)
          / log(lit(2.0))).as("info_gain_bits"))
      // zero-transition corpus: the single global agg would emit one
      // all-null row where the pre-r13 groupBy+crossJoin form emitted
      // none — restore the 0-row contract (free on any real corpus:
      // one row-local filter over the single aggregate row)
      .where(col("n_transitions").isNotNull)
  }

  /** `hurst_exponent` — rescaled-range (R/S) estimate of the Hurst
    * exponent per symbol (Hurst 1951; Mandelbrot & Wallis 1969):
    * is the tick series mean-reverting (H < ½), a random walk
    * (H ≈ ½), or trending/long-memory (H > ½) — the regime scalar
    * behind [[autocorrelation]]'s lag curve, and the first
    * stylized-fact check a quant runs on a new price feed. Blocks of
    * m ∈ {8, 32, 128} ticks; per block R = range of cumulative
    * mean-deviations, S = population std; H = the log-log slope of
    * mean R/S against m (equally-spaced in ln m, so the
    * least-squares slope collapses to (ln RS₁₂₈ − ln RS₈)/ln 16).
    *
    * Portability: with prices on the centi grid the ENTIRE per-block
    * statistic is integer until one sqrt — Z'_t = m·Σ_{i≤t}cᵢ − t·Σc
    * makes R/S = (max Z' − min Z')/√(m·Σc² − (Σc)²) exactly (the
    * 100m scale cancels), each block's value one IEEE sequence
    * quantized to the 10⁻⁶ grid, summed order-free across blocks
    * ([[AnalyticOps.anovaOneway]] posture). Σc² stays < 2⁶³ up to
    * ~$237k prices at m=128 — document-and-swap to decimal past
    * that. Partial trailing blocks are excluded exactly
    * (rn ≤ m·⌊n/m⌋).
    *
    * Scale shape: one per-symbol sort shuffle (row_number), a
    * bounded ×3 explode, then ALL windows run inside (symbol, m,
    * block) partitions of ≤ 128 rows — block count grows with the
    * corpus, block size never does. Final fold is |symbol|×3 rows.
    */
  def hurstExponent(s: SparkSession, d: String): DataFrame = {
    val wSym = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    val base = Tables.events(s, d)
      .select(col("event_type").as("symbol"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .withColumn("rn", row_number().over(wSym).cast("long"))
    val nPer = base.groupBy(col("symbol")).agg(count(lit(1)).as("n_ticks"))
    val exploded = base
      .join(broadcast(nPer), Seq("symbol"))
      .crossJoin(broadcast(
        s.range(1).select(explode(array(lit(8L), lit(32L), lit(128L)))
          .as("m"))))
      .where(col("rn") <= col("m") * floor(col("n_ticks") / col("m")))
      .withColumn("blk", floor((col("rn") - lit(1L)) / col("m")))
      .withColumn("t", (col("rn") - lit(1L)) % col("m") + lit(1L))
    val wBlk = Window.partitionBy("symbol", "m", "blk")
    val wRun = wBlk.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = exploded
      .withColumn("runc", sum(col("c")).over(wRun))
      .withColumn("scb", sum(col("c")).over(wBlk))
      .withColumn("z", col("m") * col("runc") - col("t") * col("scb"))
      .groupBy(col("symbol"), col("m"), col("blk"))
      .agg(max(col("z")).as("zmax"), min(col("z")).as("zmin"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"),
        max(col("n_ticks")).as("n_ticks"))
      .withColumn("varp", col("m") * col("sc2") - col("sc") * col("sc"))
      .where(col("varp") > 0L)
      .withColumn("rs_q",
        floor((col("zmax") - col("zmin")).cast("double")
          / sqrt(col("varp").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    val bySize = blocks
      .groupBy(col("symbol"), col("m"))
      .agg(count(lit(1)).as("nb"), sum(col("rs_q")).as("rsq"),
        max(col("n_ticks")).as("n_ticks"))
      .withColumn("rs_mean", col("rsq").cast("double")
        / (col("nb").cast("double") * lit(1000000.0)))
    bySize
      .groupBy(col("symbol"))
      .agg(max(col("n_ticks")).as("n_ticks"),
        max(when(col("m") === 8L, col("nb"))).as("nb_8"),
        max(when(col("m") === 32L, col("nb"))).as("nb_32"),
        max(when(col("m") === 128L, col("nb"))).as("nb_128"),
        max(when(col("m") === 8L, col("rs_mean"))).as("rs8_raw"),
        max(when(col("m") === 32L, col("rs_mean"))).as("rs32_raw"),
        max(when(col("m") === 128L, col("rs_mean"))).as("rs128_raw"))
      .select(col("symbol"), col("n_ticks"),
        col("nb_8"), col("nb_32"), col("nb_128"),
        r6(col("rs8_raw")).as("rs_8"),
        r6(col("rs32_raw")).as("rs_32"),
        r6(col("rs128_raw")).as("rs_128"),
        r6((log(col("rs128_raw")) - log(col("rs8_raw")))
          / (log(lit(128.0)) - log(lit(8.0)))).as("hurst"))
      .orderBy("symbol")
  }

  /** `levene_test` — Brown–Forsythe variance-homogeneity test
    * (Levene 1960; Brown & Forsythe 1974, median-centered): are the
    * event-type arms' SPREADS equal — the assumption
    * [[anovaOneway]]'s F silently makes, so this is the check an
    * experimentation platform runs beside it ([[welchTTest]] exists
    * precisely for when this rejects). W = the one-way ANOVA F
    * statistic over |x − median(group)|.
    *
    * Formulation entirely on the VALUE GRID: medians come from one
    * running count over (group, centi cell) — carried DOUBLED so the
    * even-n interpolated median stays an exact integer (the
    * `mann_whitney` doubled-rank trick) — and the deviation moments
    * Σt·d, Σt·d² are integer folds over CELLS, so after the first
    * cell aggregate nothing touches corpus rows. Per-group SS
    * contributions quantize 10⁻⁶ and sum order-free ([[anovaOneway]]
    * posture); W is scale-invariant so the doubled-centi units
    * cancel; only the reported medians/MADs divide back to dollars.
    *
    * Scale shape: ONE map-side-combined aggregate to |group|×|cell|
    * rows; every window after runs over the bounded value grid
    * (the `quantile_bins` posture), never corpus rows.
    */
  def leveneTest(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
    val run = Window.partitionBy(col("event_type")).orderBy(col("c").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = cells.withColumn("cum", sum(col("t")).over(run))
    val nPer = cells.groupBy(col("event_type")).agg(sum(col("t")).as("n"))
      .withColumn("lo", floor((col("n") + lit(1L)) / lit(2.0)).cast("long"))
      .withColumn("hi", -floor(-(col("n") + lit(1L)) / lit(2.0))
        .cast("long"))
    // med2 = c(lo) + c(hi) on the doubled grid: c(r) = first cell
    // whose running count reaches rank r (1-based)
    val med = withCum.join(broadcast(nPer), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg((min(when(col("cum") >= col("lo"), col("c")))
        + min(when(col("cum") >= col("hi"), col("c")))).as("med2"),
        max(col("n")).as("n"))
    val devs = cells.join(broadcast(med), Seq("event_type"))
      .withColumn("dd", abs(lit(2L) * col("c") - col("med2")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med2")).as("med2"),
        sum(col("t") * col("dd")).as("sd"),
        sum(col("t") * col("dd") * col("dd")).as("sd2"))
    val tot = devs.agg(sum(col("n")).as("nn"), sum(col("sd")).as("sdd"),
      count(lit(1)).as("k"))
    val q = devs.crossJoin(broadcast(tot))
      .withColumn("mg", col("sd").cast("double") / col("n").cast("double"))
      .withColumn("mm",
        col("sdd").cast("double") / col("nn").cast("double"))
      .withColumn("ssb_q",
        floor(col("n").cast("double") * (col("mg") - col("mm"))
          * (col("mg") - col("mm")) + lit(0.5)).cast("long"))
      .withColumn("ssw_q",
        floor(col("sd2").cast("double")
          - col("sd").cast("double") * col("sd").cast("double")
            / col("n").cast("double") + lit(0.5)).cast("long"))
    q.agg(max(col("nn")).as("n_total"), max(col("k")).as("k_groups"),
      sum(col("ssb_q")).as("ssbq"), sum(col("ssw_q")).as("sswq"))
      .select(col("n_total"), col("k_groups"),
        (col("k_groups") - lit(1L)).as("df_between"),
        (col("n_total") - col("k_groups")).as("df_within"),
        r6((col("ssbq").cast("double")
          / (col("k_groups").cast("double") - lit(1.0)))
          / (col("sswq").cast("double")
            / (col("n_total").cast("double")
              - col("k_groups").cast("double")))).as("w_stat"))
  }

  /** `twap_hourly` — time-weighted average price per symbol-hour:
    * each tick's price weighted by how long it stood (µs to the next
    * tick in the symbol), the execution-benchmark twin of
    * [[vwapHourly]] — TWAP is what an execution desk is graded
    * against when volume is unreliable or absent, and the two
    * diverge exactly where volume bursts concentrate. A tick's whole
    * standing interval credits the hour it STARTS in (the interval
    * is open on the right; each symbol's final tick has no interval
    * and drops — both choices documented and mirrored in the
    * oracle).
    *
    * Portability: weights are exact integer µs off one lead() over
    * the (symbol, time) sort; Σc·dt stays < 2⁶³ until a symbol-hour
    * holds ~10⁸ tick-seconds of centi-price mass; TWAP is one fenced
    * division.
    *
    * Scale shape: one per-symbol sort window + one (symbol, hour)
    * aggregate — the [[vwapHourly]] plan plus the lead.
    */
  def twapHourly(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
          .as("centi"))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .where(col("dt").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("symbol"))
      .agg(sum(col("centi") * col("dt")).as("pdt"),
        sum(col("dt")).as("span_us"), count(lit(1)).as("n_ticks"))
      .select(to_date(col("hour_ts")).as("date"),
        hour(col("hour_ts")).as("hour"),
        col("symbol"), col("n_ticks"), col("span_us"),
        r6(col("pdt").cast("double")
          / (lit(100.0) * col("span_us").cast("double"))).as("twap"))
      .orderBy("date", "hour", "symbol")
  }

  /** `realized_vol` — daily realized volatility per symbol: the
    * square root of the day's sum of squared log returns (Andersen &
    * Bollerslev 1998), the standard model-free daily volatility
    * measure — the risk number behind [[bollingerBands]]' rolling σ
    * and the denominator of any Sharpe-style ratio over this feed.
    *
    * Portability: each squared return ln(c_t/c_{t−1})² is one IEEE
    * sequence over exact centi integers, quantized to the 10⁻⁹ grid
    * (returns are O(1), so 10⁻⁹ keeps six significant digits after
    * the sqrt) and summed order-free; rv takes one sqrt and is
    * fenced. Zero-centi ticks (sub-half-cent prices) cannot enter a
    * log return — both the tick and its successor's return drop,
    * mirrored in the oracle. A day's first return looks back to the
    * previous day's close (the overnight gap is real volatility;
    * documented).
    *
    * Scale shape: one per-symbol sort window (lag) + one
    * (symbol, day) aggregate to |symbol|×|day| rows.
    */
  def realizedVol(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .where(col("pc").isNotNull && col("pc") > 0L && col("c") > 0L)
      .withColumn("rq",
        floor(log(col("c").cast("double") / col("pc").cast("double"))
          * log(col("c").cast("double") / col("pc").cast("double"))
          * lit(1000000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("symbol"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_returns"), sum(col("rq")).as("rqs"))
      .select(col("symbol"), col("day"), col("n_returns"),
        r6(sqrt(col("rqs").cast("double") / lit(1000000000.0)))
          .as("rv"))
      .orderBy("symbol", "day")
  }

  /** Shared microstructure base: per-symbol time-sorted ticks with
    * the centi price, its lag, and the tick-rule sign of the move —
    * the one sort window [[orderFlowImbalance]], [[kyleLambda]] and
    * [[rollSpread]] all ride (the same shuffle the indicator family
    * pays; at scale this is ONE exchange per wave, not one per
    * query).
    */
  private def tickDeltas(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("v"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .where(col("pc").isNotNull)
      .withColumn("dc", col("c") - col("pc"))
      .withColumn("sgn", signum(col("dc").cast("double")).cast("long"))
  }

  /** `order_flow_imbalance` — tick-test order flow per symbol-hour:
    * upticks, downticks, zero-ticks, and the normalized imbalance
    * (up − down)/(up + down) — the classic tick-rule proxy for
    * signed order flow when the book isn't visible (Lee & Ready
    * 1991), and the directional-pressure row a market-making
    * dashboard shows beside [[vwapHourly]]. Exact integer counts off
    * the shared per-symbol sort; one guarded fenced division
    * (all-zero-tick hours emit null, mirrored in the oracle).
    */
  def orderFlowImbalance(s: SparkSession, d: String): DataFrame =
    tickDeltas(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("symbol"))
      .agg(sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("upticks"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("downticks"),
        sum(when(col("sgn") === 0L, 1L).otherwise(0L)).as("zeroticks"))
      .select(to_date(col("hour_ts")).as("date"),
        hour(col("hour_ts")).as("hour"), col("symbol"),
        col("upticks"), col("downticks"), col("zeroticks"),
        when(col("upticks") + col("downticks") > 0L,
          r6((col("upticks") - col("downticks")).cast("double")
            / (col("upticks") + col("downticks")).cast("double")))
          .as("ofi"))
      .orderBy("date", "hour", "symbol")

  /** `kyle_lambda` — price-impact coefficient per symbol (Kyle
    * 1985): the through-origin regression of the centi price move on
    * tick-rule-signed volume, λ = Σ(Δc·sv)/Σ(sv²) — "how many centi
    * does a unit of net flow move this symbol", the standard
    * liquidity-depth scalar beside [[rollSpread]]'s cost scalar.
    * Both sums are exact integers (|Δc| ≤ price range, v ≤ the
    * two-digit volume alphabet); λ is one fenced division. Zero-move
    * ticks carry sv = 0 and drop out of both sums arithmetically.
    * A symbol whose ticks carry NO volume at all (props without `$.k`)
    * has Σsv² = 0 — λ is undefined there, and the nullif fence pins
    * the degenerate case to null on BOTH engines (Spark would emit
    * null from 0/0 anyway, but DuckDB double division yields inf; the
    * orderFlowImbalance all-zero posture).
    */
  def kyleLambda(s: SparkSession, d: String): DataFrame =
    tickDeltas(s, d)
      .withColumn("sv", col("sgn") * col("v"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("dc") * col("sv")).as("dsv"),
        sum(col("sv") * col("sv")).as("sv2"))
      .select(col("symbol"), col("n"),
        r6(col("dsv").cast("double")
          / nullif(col("sv2").cast("double"), lit(0.0)))
          .as("lambda_centi"))
      .orderBy("symbol")

  /** `roll_spread` — Roll's implied effective spread per symbol
    * (Roll 1984): s = 2·√(−cov(Δp_t, Δp_{t−1})) — bid-ask bounce
    * makes consecutive price changes negatively autocorrelated, and
    * the magnitude of that autocovariance IS the spread, estimable
    * from trade prices alone. Sample covariance (ddof = 1) over the
    * (Δ_t, Δ_{t−1}) pairs, all four moments exact integers off one
    * extra lag on the shared sort; positive-autocovariance regimes
    * (trending, where Roll is undefined) emit null — mirrored in the
    * oracle — beside the raw covariance so the regime is visible.
    */
  def rollSpread(s: SparkSession, d: String): DataFrame =
    tickDeltas(s, d)
      .withColumn("pdc", lag(col("dc"), 1).over(
        Window.partitionBy("symbol")
          .orderBy(col("us").asc, col("event_id").asc)))
      .where(col("pdc").isNotNull)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("m"),
        sum(col("dc")).as("sa"), sum(col("pdc")).as("sb"),
        sum(col("dc") * col("pdc")).as("sab"))
      .withColumn("cov_centi2",
        (col("sab").cast("double")
          - col("sa").cast("double") * col("sb").cast("double")
            / col("m").cast("double"))
          / (col("m").cast("double") - lit(1.0)))
      .select(col("symbol"), col("m").as("n_pairs"),
        r6(col("cov_centi2")).as("autocov_centi2"),
        when(col("cov_centi2") < 0.0,
          r6(lit(2.0) * sqrt(-col("cov_centi2")) / lit(100.0)))
          .as("roll_spread"))
      .orderBy("symbol")

  /** `amihud_illiquidity` — Amihud's (2002) daily price-impact
    * ratio per symbol: mean over days of |daily return| / daily
    * dollar volume, scaled ×10⁶ — "how much does a dollar of flow
    * move the price over a day", the low-frequency cousin of
    * [[kyleLambda]] and the standard cross-sectional illiquidity
    * sort key. Daily return is (close − open)/open on exact centi
    * opens/closes (picked by row_number over the (day, time) sort);
    * dollar volume is an exact centi·volume integer; each day's
    * ratio is one IEEE sequence quantized 10⁻⁹ and summed order-free
    * across days ([[anovaOneway]] posture). Zero-volume or
    * zero-open days drop (documented, mirrored).
    */
  def amihudIlliquidity(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        to_date(col("ts")).as("day"),
        col("event_type").as("symbol"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("c"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("v"))
    val wDay = Window.partitionBy("symbol", "day")
    val wAsc = wDay.orderBy(col("us").asc, col("event_id").asc)
    val wDesc = wDay.orderBy(col("us").desc, col("event_id").desc)
    val days = base
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy(col("symbol"), col("day"))
      .agg(max(when(col("ra") === 1, col("c"))).as("open_c"),
        max(when(col("rd") === 1, col("c"))).as("close_c"),
        sum(col("c") * col("v")).as("dvol_centi"))
      .where(col("open_c") > 0L && col("dvol_centi") > 0L)
      .withColumn("ratio_q",
        floor(abs((col("close_c") - col("open_c")).cast("double"))
          / col("open_c").cast("double")
          / (col("dvol_centi").cast("double") / lit(100.0))
          * lit(1000000.0) * lit(1000000000.0) + lit(0.5)).cast("long"))
    days.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_days"), sum(col("ratio_q")).as("rqs"))
      .select(col("symbol"), col("n_days"),
        r6(col("rqs").cast("double") / lit(1000000000.0)
          / col("n_days").cast("double")).as("illiq_e6"))
      .orderBy("symbol")
  }
}

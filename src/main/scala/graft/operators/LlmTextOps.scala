package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Determinism.r6
import graft.engine.Tables

/** Text-side LLM-data-pipeline operators (SURVEY.md §2.2 E16–E18/E20 +
  * the mandated dedup/text-analysis surface): sessionization, exact and
  * near dedup (shingle-Jaccard exact form + MinHash-LSH and SimHash
  * scale forms), language-ID heuristic, quality scoring, token
  * counting, and rolling-hash fingerprints.
  */
object LlmTextOps {

  /** Per-document distinct 3-token shingle SET, unexploded — the
    * map-side root of the whole shingle family: set size (the Jaccard
    * denominator) and the MinHash signature both derive from this
    * array without any shuffle; only the posting-list step needs the
    * exploded form. k=3 shingling because the corpus vocabulary is
    * tiny (~31 tokens): unigram sets are near-identical across all
    * docs, 3-gram sets separate true near-dups (J≥0.8) from noise
    * (J≤0.1).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      // docs with < 3 tokens have no 3-shingles (Shingle3 returns an
      // empty array; the filter keeps them out of downstream branches
      // entirely, matching the DuckDB oracle which yields no rows)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.Shingle3.shingle3(s, col("toks")).as("shs"))

  /** E16 `sessionize` — gap-based sessionization (batch form of
    * session windows): a new session starts when the gap to the
    * previous event of the same user exceeds 30 min. One shuffle on
    * user_id; state is O(1) per stream (lag). Streaming twin:
    * `session_window(ts, "30 minutes")`.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // microsecond gap to match the oracle's epoch_us exactly —
      // unix_timestamp truncates to whole seconds, so a 1800.9 s gap
      // would sessionize differently in the two engines.
      .withColumn("new_session",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("new_session")).as("n_sessions"))
      .orderBy("user_id")
  }

  /** `session_stats` — the per-session distribution behind
    * [[sessionize]]'s per-user counts: sessions cut at the same
    * 1800 s µs-exact gap, then duration and event-count percentiles
    * plus the bounce share (single-event sessions) — the
    * engagement-shape report a product dashboard renders from the
    * session table. One extra window (the running session-id cumsum
    * rides the SAME user-sort shuffle sessionize already pays) + one
    * session-keyed aggregate + one global fold.
    *
    * Portability: durations are exact integer µs; percentiles use
    * the `value_percentiles` interpolation contract; the mean and
    * bounce share are fenced divisions from integer sums.
    *
    * Scale shape: the final fold's exact `percentile` aggregates
    * buffer every session row in ONE reducer — fine while sessions
    * per corpus stay in the millions, but session count grows
    * linearly with the corpus. At 100 TB swap the exact percentiles
    * for the `value_percentiles_sampled` / `quantile_bins`
    * bounds-broadcast posture (rank from broadcast bin bounds, no
    * single-partition buffer) — the same documented swap-in
    * `revenue_concentration` and `rfm_scores` carry for their
    * entity-level global windows.
    */
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      sum(col("n_events")).as("total_events"),
      sum(when(col("n_events") === 1, lit(1)).otherwise(lit(0)))
        .as("n_bounce"),
      expr("percentile(dur_us, 0.5)").as("p50_raw"),
      expr("percentile(dur_us, 0.9)").as("p90_raw"),
      expr("percentile(n_events, 0.5)").as("pe_raw"))
      .select(col("n_sessions"),
        r6(col("total_events").cast("double")
          / col("n_sessions").cast("double")).as("mean_events"),
        r6(col("n_bounce").cast("double")
          / col("n_sessions").cast("double")).as("bounce_share"),
        r6(col("p50_raw")).as("p50_dur_us"),
        r6(col("p90_raw")).as("p90_dur_us"),
        r6(col("pe_raw")).as("p50_events"))
  }

  /** E17 `dedup_exact` — exact dedup on text: hash-groupBy on the
    * content, deterministic survivor = min doc_id. At 100 TB, group
    * on a content digest (xxhash64/sha2) instead of the full text to
    * shrink shuffle width — semantics identical.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** `dedup_exact_digest` — E17's 100 TB shape: group on a 64-bit
    * content digest instead of the full text, so the dedup shuffle
    * carries 8-byte keys instead of document bodies. Output is
    * identical to `dedup_exact` absent digest collisions
    * (~n²/2⁶⁵ — at 10¹² docs, expected collisions ≈ 0.03; for
    * adversarial corpora substitute sha2(text, 256)), which lets the
    * exact-dedup oracle gate this query too.
    */
  def dedupExactDigest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(xxhash64(col("text")).as("digest"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** `dedup_incremental` — the continuous-ingestion face of E17: a
    * new batch (doc_id ≥ 250 stands in for it) keeps only docs whose
    * content digest is unseen in the existing corpus (doc_id < 250) —
    * an anti-join on xxhash64(text), so the ledger probe ships 8-byte
    * digests. This is the nightly-batch dedup pattern: the "existing"
    * side is the silver digest ledger (`CorpusSilver` posture), and
    * re-running the batch is idempotent by construction.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("digest", xxhash64(col("text")))
    val existing = docs.where(col("doc_id") < 250).select("digest")
    docs.where(col("doc_id") >= 250)
      .join(existing, Seq("digest"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_incremental_bloom` — [[dedupIncremental]] with a
    * Bloom-filter prefilter, the shape that survives when the digest
    * ledger is billions of rows: the ledger aggregates once into a
    * driver-small Bloom sketch (1 MiB here; Spark's own
    * `BloomFilterAggregate` kernel, map-side partials, no row
    * traffic), and the batch probes it as a row-local predicate.
    * Batch rows the filter rejects are DEFINITELY new (no false
    * negatives) and skip the anti-join entirely; only the accepted
    * sliver — true dups plus the FPP tail — joins the ledger for
    * exact confirmation. False positives therefore cost only join
    * work, never correctness, so the output is bit-identical to
    * `dedup_incremental` and shares its oracle. At 100 TB the
    * anti-join probe side shrinks from the whole batch to ~dup-rate ×
    * batch; the sketch swaps for per-partition blooms when the ledger
    * outgrows one (est·10 bits).
    */
  def dedupIncrementalBloom(s: SparkSession, d: String): DataFrame =
    dedupIncrementalBloomFrom(s, Tables.documents(s, d))

  /** [[dedupIncrementalBloom]] over an externally supplied documents
    * frame — lets tests feed the empty-ledger edge.
    */
  private[graft] def dedupIncrementalBloomFrom(s: SparkSession,
      documents: DataFrame): DataFrame = {
    val docs = documents.withColumn("digest", xxhash64(col("text")))
    val ledger = docs.where(col("doc_id") < 250).select("digest")
    // driver-collected sketch literal (the IVF-codebook pattern): one
    // scalar read of an aggregation result, never row data
    val bloom: Array[Byte] = ledger
      .agg(graft.functions.BloomFns.bloomAgg(s, col("digest"),
        lit(1000000L), lit(8000000L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val batch = docs.where(col("doc_id") >= 250)
    // empty ledger ⇒ BloomFilterAggregate yields null ⇒ might_contain
    // would be null for every row and BOTH union legs would drop
    // everything; the correct answer is the whole batch (nothing can
    // be a duplicate of an empty ledger)
    val survivors =
      if (bloom == null) batch
      else {
        val probed = batch.withColumn("maybe_dup",
          graft.functions.BloomFns.mightContain(s, lit(bloom),
            col("digest")))
        probed.where(!col("maybe_dup"))
          .unionByName(
            probed.where(col("maybe_dup"))
              .join(ledger, Seq("digest"), "left_anti"))
      }
    survivors
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Per-document distinct 3-shingle HASH sets — the shared map-side
    * root of both exact near-dup formulations. One compiled pass
    * (functions.ShingleHash3) hashes each distinct shingle to 64
    * bits: posting keys are 8-byte longs, and Jaccard numerator and
    * denominator both derive from the hash sets, so the sides stay
    * consistent. Collision odds are the dedup_exact_digest posture;
    * the DuckDB oracle computes string-set Jaccard and hash-matches
    * at every sf.
    */
  private[graft] def shingleHashSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.ShingleHash3.shingleHash3(s, col("toks")).as("hs"))

  /** E18 `dedup_near` — near-dup pairs by exact 3-shingle Jaccard
    * ≥ 0.8. Exact formulation for the oracle; `dedupNearPrefix` is
    * the same exact output with AllPairs-style prefix pruning (the
    * asymptotic shape), and the LSH twins below are the
    * recall-trading path. At bench scale THIS counted form wins:
    * fixed costs dominate and the full pair stream is cheap for 32
    * cores, while the prefix form's extra document passes cost more
    * than its pruning saves (measured, see dedupNearPrefix).
    */
  def dedupNear(s: SparkSession, d: String): DataFrame =
    // the global sort is presentation-only — every internal consumer
    // (survivors, components, the silver-table writers) reads the
    // sort-free pair set and skips the range exchange
    dedupNearPairs(s, d).orderBy("i", "j")

  /** The near-dup pair set WITHOUT the final presentation sort. */
  /** The verified ≥ 0.8 near-dup pair stream: a Jaccard filter over
    * the [[cooccurPairs]] co-occurrence silver. Seven downstream
    * operators consume this exact pair set (pairs,
    * survivors, components, the capstone filter, the size/degree
    * histograms, the auto route), so the POST-threshold result keeps
    * its own memo layer — hundreds of 24-byte rows vs the raw
    * silver's ~1.1M, so consumers skip even the filter scan. The
    * upstream silver is resolved BEFORE entering this memo (the
    * SessionMemo nesting hazard). FeatureOpsSpec pins the memoized
    * pairs to a filter over [[cooccurPairsUncached]].
    */
  private[graft] def dedupNearPairs(s: SparkSession, d: String): DataFrame = {
    val co = cooccurPairs(s, d)
    graft.engine.SessionMemo.getOrBuild(s,
      "neardup_pairs|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(
      jaccardFilter(co))
  }

  /** The single definition of the ≥ 0.8 Jaccard cut over a
    * co-occurrence frame `(i, j, inter, sz_i, sz_j)`.
    */
  private[graft] def jaccardFilter(co: DataFrame): DataFrame = co
    .withColumn("jaccard",
      r6(col("inter") / (col("sz_i") + col("sz_j") - col("inter"))))
    .where(col("jaccard") >= 0.8)
    .select("i", "j", "jaccard")

  /** The PRE-threshold co-occurrence pair stream — every doc pair
    * sharing at least one 3-shingle hash, with the intersection count
    * and both set sizes: `(i, j, inter, sz_i, sz_j)`. This is the
    * shared expensive core of BOTH exact near-dup statistics —
    * symmetric Jaccard ([[dedupNear]], threshold on
    * inter/(szi+szj−inter)) and asymmetric containment
    * ([[dedupContainment]], threshold on inter/min(szi,szj)) — so the
    * tokenize + shingle + posting-list + packed-pair pass runs ONCE
    * per (session, corpus) and every formulation filters the memoized
    * result (the `CorpusSilver` posture; the ANN index conf is the
    * same dial on the vector side). Memoized PERSISTED per (session,
    * corpus fingerprint); lifecycle and rewrite-invalidation ride
    * [[graft.engine.SessionMemo]].
    *
    * Cache mass: the raw co-occurrence set is bounded by
    * Σ C(list, 2) over posting lists (~40 bytes/row) — measured
    * 1.13M rows (~45 MB persisted) at sf0.1, cheap on any executor.
    * At 100 TB this pre-threshold stream is exactly the quadratic
    * object the prefix/LSH routes exist to avoid materializing —
    * there the auto pair/substring routes switch to the
    * banded-MinHash sources, which never read this silver.
    */
  private[graft] def cooccurPairs(s: SparkSession, d: String): DataFrame = {
    graft.engine.SessionMemo.getOrBuild(s,
      "cooccur_pairs|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(
      cooccurPairsUncached(s, d))
  }

  private[graft] def cooccurPairsUncached(s: SparkSession,
      d: String): DataFrame = {
    val hashed = shingleHashSets(s, d)
    // sizes map-side from the hash array: with the compiled expression
    // the re-scan per join branch is cheap, vs the explode + groupBy
    // count this replaces (a full O(shingles) shuffle). A struct-
    // carried (doc_id, sz) posting-list variant stays rejected —
    // struct-typed collect_list / pair-explode allocate far more than
    // bare longs. Small at any doc count relative to the pair stream
    // ⇒ broadcast both size joins explicitly (AQE dedupes them into
    // ONE build — ReusedExchange, PlanShapeSpec-pinned; at true
    // 100 TB doc counts, fall back to shuffle joins on the
    // already-tiny ≥0.8-filtered pair set).
    val sizes = hashed
      .select(col("doc_id"), size(col("hs")).cast("long").as("sz"))
    // pair generation per shingle posting list instead of a self-join:
    // one shuffle (groupBy shingle hash) + map-side C(k,2) explode.
    // Safe because posting lists are short (hottest shingle: 25 docs
    // at sf0.1). Pairs travel PACKED as one long
    // (i << 32 | j — engine.Pairs / functions.PackedPairs), halving
    // the pair-count shuffle key and skipping per-pair struct rows;
    // past 31-bit doc_ids the generator auto-falls-back to the struct
    // form instead of crashing (id-space probe = one doc_id min/max).
    val wide = graft.engine.Pairs.needsWideForm(
      Tables.documents(s, d), "doc_id")
    val lists = hashed
      .select(col("doc_id"), explode(col("hs")).as("shh"))
      .groupBy(col("shh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    val inter = graft.engine.Pairs.countedPairs(s, lists, "ds", "inter", wide)
    inter
      .join(broadcast(
        sizes.select(col("doc_id").as("i"), col("sz").as("sz_i"))), Seq("i"))
      .join(broadcast(
        sizes.select(col("doc_id").as("j"), col("sz").as("sz_j"))), Seq("j"))
      .select("i", "j", "inter", "sz_i", "sz_j")
  }

  /** `dedup_containment` — ASYMMETRIC near-dup: containment
    * C = |A∩B| / min(|A|,|B|) ≥ 0.9 flags a document whose shingle
    * set is (almost) a subset of another's — the quote-expansion /
    * boilerplate-wrapped / superset-copy class that symmetric Jaccard
    * structurally misses (a doc fully contained in a 10× longer doc
    * has J ≈ 0.1 but C = 1.0). Standard member of the published
    * dedup suites next to MinHash-Jaccard; literally the SAME pair
    * stream as [[dedupNear]] — both are one-column filters over the
    * [[cooccurPairs]] co-occurrence silver, so the tokenize + shingle
    * + posting-list pass is paid once per session, not once per
    * statistic (measured 1.96 s → ~0.1 s at sf0.1 once the silver is
    * warm).
    *
    * Scale: at 100 TB apply the containment variant of the prefix
    * principle — only the SMALLER set's (k − ⌈τ·k⌉ + 1)-prefix needs
    * indexing for C ≥ τ (Chaudhuri SSJoin §4 adapts directly; the
    * [[dedupNearPrefix]] plumbing is the template), or bound the
    * posting lists with the banded-MinHash source the way
    * `dedup_components` routes.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    cooccurPairs(s, d)
      .withColumn("containment",
        r6(col("inter") / least(col("sz_i"), col("sz_j"))))
      .where(col("containment") >= 0.9)
      .select(col("i"), col("j"), col("containment"))
      .orderBy("i", "j")

  /** Prefix-filtered exact near-dup join (Chaudhuri et al. SSJoin /
    * Bayardo et al. AllPairs / Xiao et al. PPJoin) — IDENTICAL output
    * to [[dedupNear]] (DedupPropertiesSpec pins equality), different
    * asymptotics: the quadratic pair stream runs only over PREFIX
    * collisions (~4% of the co-occurrence mass at t = 0.8), with
    * candidates verified by one compiled merge scan
    * (functions.IntersectCount) against the full hash sets.
    *
    * Not the bench-timed form: at sf ≤ 0.1 / local[32] the counted
    * formulation is faster (measured 1.9 s vs 2.4 s at sf0.1 —
    * everything fits one machine's shuffle bandwidth and this form
    * pays two extra document passes for its pruning). The crossover
    * is where the pair stream stops fitting — BASELINE.md's scale
    * curve measured it at 90× work per 10× docs, so at 100 TB the
    * pruned stream is the difference between a job that finishes and
    * one that doesn't. Library users pick per deployment.
    */
  /** The t = 0.8 prefix projection over a sorted shingle-hash set.
    * Prefix principle: under ANY global total order on shingles —
    * ascending hash value here, no frequency pass needed — a pair
    * with J ≥ t shares an element inside both docs'
    * (k − ⌈t·k⌉ + 1)-prefixes, so only prefixes are indexed.
    * ⌈0.8k⌉ is computed as (4k+4) div 5 in INTEGER arithmetic: float
    * 0.8*k rounds UP at e.g. k=15 (12.000000000000002 → ceil 13),
    * silently shortening the prefix and dropping true pairs.
    * `private[graft]` so tools measuring the prefix work unit
    * (ScaleSweep) index the EXACT prefix the operator runs.
    */
  private[graft] val PrefixSliceSql =
    "slice(sort_array(hs), 1, size(hs) - CAST((4 * size(hs) + 4) DIV 5 AS INT) + 1)"

  def dedupNearPrefix(s: SparkSession, d: String): DataFrame = {
    // shingle + sort ONCE and localCheckpoint (lazy): the prefix
    // projection and BOTH verify sides read one materialization —
    // the bare form re-shingled the corpus three times and re-sorted
    // every set twice. This is the write-once sorted-set silver
    // projection, intra-query; PrefixSliceSql's sort_array is
    // idempotent on the pre-sorted sets, so the indexed prefix is
    // bit-identical to the unsorted form's. Executor-loss posture:
    // localCheckpoint blocks are UNREPLICATED executor storage — a
    // lost executor mid-query fails the job instead of recomputing
    // (CorpusSilver's edge-memo tradeoff, documented there); on a
    // cluster where that matters, swap for Dataset.checkpoint
    // against a configured checkpoint dir (componentsFromPairs'
    // reliableCheckpoint pattern).
    val hashed = shingleHashSets(s, d)
      .select(col("doc_id"), sort_array(col("hs")).as("hs"))
      .localCheckpoint(false)
    val prefixed = hashed.select(col("doc_id"),
      expr(PrefixSliceSql).as("pref"))
    val wide = graft.engine.Pairs.needsWideForm(
      Tables.documents(s, d), "doc_id")
    val lists = prefixed
      .select(col("doc_id"), explode(col("pref")).as("shh"))
      .groupBy(col("shh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    val cand = graft.engine.Pairs.distinctPairs(s, lists, "ds", wide)
    // verification: re-attach the FULL hash sets per candidate; set
    // sizes come free as size(hs). Sets are sorted ONCE PER DOC here
    // (sort_array in the projection) so IntersectCount's
    // ascending-input fast path runs a pure O(k) merge per candidate
    // — a doc in m candidate pairs would otherwise be re-sorted m
    // times inside the expression. Join strategy left to the
    // optimizer: at 100 TB both joins shuffle 8-byte ids + one pass
    // of the (silver) set table; candidates are O(true pairs).
    cand
      .join(hashed.select(col("doc_id").as("i"),
        col("hs").as("hs_i")), Seq("i"))
      .join(hashed.select(col("doc_id").as("j"),
        col("hs").as("hs_j")), Seq("j"))
      .withColumn("inter", graft.functions.IntersectCount
        .intersectCount(s, col("hs_i"), col("hs_j")).cast("long"))
      .withColumn("jaccard", r6(col("inter") /
        (size(col("hs_i")).cast("long") + size(col("hs_j")).cast("long")
          - col("inter"))))
      .where(col("jaccard") >= 0.8)
      .select("i", "j", "jaccard")
      .orderBy("i", "j")
  }

  /** Measured crossover between the counted and prefix-filtered exact
    * near-dup joins, in average distinct shingles per document (k):
    * below it the counted form wins (fixed costs dominate, the full
    * pair stream is cheap — measured 1.9 s vs 2.4 s at sf0.1 where
    * k ≈ 5); above it the prefix form's pruning pays for its two extra
    * document passes (prefix length shrinks to ~(1−t)·k ≈ k/5 of the
    * posting mass at t = 0.8, so the quadratic pair stream collapses
    * 25×). BASELINE.md's round-4/5 scale tables carry the numbers.
    */
  private[graft] val NearDupPrefixCrossoverK = 100.0

  /** Pair-stream budget (second routing axis of [[dedupNearAuto]]):
    * even at small k the counted form's FULL pair stream grows
    * ~quadratically with corpus size once the shingle space saturates
    * (ScaleSweep measured 1.3M pairs at 5k docs → 130M at 50k, a tie
    * → 3.2× prefix win on wall), so past this many estimated pairs
    * the pruned stream wins regardless of document length. 10M sits
    * safely above the measured tie zone (~1M) and well below the
    * measured flip (130M).
    */
  private[graft] val NearDupPairStreamBudget = 10L * 1000 * 1000

  /** Which exact near-dup join form [[dedupNearAuto]] picks for this
    * corpus, from ONE stats aggregation over the shingle-set
    * projection (the same numbers a silver write computes anyway;
    * n counts shingle-bearing docs — shingle-less docs never join):
    *
    *  - avg distinct shingles/doc k̄ ≥ 100 → prefix (prefix length
    *    scales as (1−t)·k, so pruning wins at long documents — the
    *    measured per-document crossover);
    *  - else estimate the counted form's full pair stream as
    *    P² / (2·B̂) (P = total postings, B̂ = approx-distinct shingles;
    *    uniform-occupancy estimate — within 4% of the exact Σ C(k,2)
    *    on both measured corpora) and take prefix past the budget —
    *    the corpus-size crossover ScaleSweep measured (skewed posting
    *    lists make the true mass larger, i.e. the estimate errs
    *    toward the form that degrades gracefully).
    */
  /** The one-job corpus stats record both routing dials read:
    * `p` = total postings (Σ distinct shingles over docs), `n` =
    * approx shingle-bearing docs, `bHat` = approx distinct shingles.
    */
  private[graft] case class CorpusPairStats(p: Long, n: Long, bHat: Long) {
    def avgK: Double = if (n == 0L) 0.0 else p.toDouble / n
    /** Uniform-occupancy estimate of the counted form's full pair
      * stream (within 4% of the exact Σ C(k,2) on both measured
      * corpora; skew errs the estimate LOW, i.e. toward the form
      * that degrades gracefully).
      */
    def estPairs: Double = p.toDouble * p.toDouble / (2.0 * bHat)
  }

  /** Corpus routing stats, memoized in [[graft.engine.SessionMemo]]
    * per (session, `documents` fingerprint): the verdicts are
    * properties of the corpus, and re-paying the tokenize+shingle stats
    * scan on every invocation is exactly what a 100 TB deployment
    * wouldn't do. A corpus rewritten in place fingerprints fresh and
    * re-measures.
    */
  private[graft] def corpusPairStats(s: SparkSession,
      d: String): CorpusPairStats =
    graft.engine.SessionMemo.getOrCompute(s, "pair_stats|" +
      graft.engine.SessionMemo.tableFingerprint(s, d, "documents")) {
      // ONE stats job, not two: the dominant cost is the tokenize +
      // shingle-hash scan feeding the sets, so all routing axes read
      // from a single exploded pass. n̂ (docs) rides an HLL at
      // rsd = 0.02 (explicit — the default is 5%) — a ±2% count cannot
      // move a decision whose crossovers carry order-of-magnitude
      // margins, and exact n would cost either a second scan (the old
      // shape) or a count-distinct shuffle.
      val r = shingleHashSets(s, d)
        .select(col("doc_id"), explode(col("hs")).as("shh"))
        .agg(
          count(lit(1)).as("p"),
          approx_count_distinct(col("doc_id"), 0.02).as("n"),
          approx_count_distinct(col("shh"), 0.02).as("b")).head()
      CorpusPairStats(r.getLong(0), r.getLong(1), math.max(1L, r.getLong(2)))
    }

  private[graft] def nearDupJoinForm(s: SparkSession, d: String,
      pairStreamBudget: Long = NearDupPairStreamBudget): String = {
    val st = corpusPairStats(s, d)
    if (st.n == 0L) return "counted"
    if (st.avgK >= NearDupPrefixCrossoverK) return "prefix"
    if (st.estPairs >= pairStreamBudget) "prefix" else "counted"
  }

  /** [[dedupNear]] with the join form auto-selected per corpus: the
    * AllPairs prefix formulation for long documents (k̄ ≥ 100) or
    * large estimated pair streams (≥ 10M), the counted formulation
    * otherwise. Both forms emit the identical exact pair set
    * (DedupPropertiesSpec pins all three equal), so the choice is
    * purely a cost decision — this entry point makes it from the
    * memoized corpus stats instead of asking the user to know the
    * crossover.
    */
  def dedupNearAuto(s: SparkSession, d: String): DataFrame =
    if (nearDupJoinForm(s, d) == "prefix") dedupNearPrefix(s, d)
    else dedupNear(s, d)

  /** `dedup_survivors` — the dedup *output*: one survivor per
    * near-dup group, greedy keep-smallest-id policy (a doc survives
    * iff it has no near-dup with a smaller id). Deterministic and
    * single-pass over the E18 pair set — the standard corpus-dedup
    * reduction when full connected components aren't required.
    */
  def dedupSurvivors(s: SparkSession, d: String): DataFrame =
    survivorsFromPairs(Tables.documents(s, d), dedupNearPairs(s, d))

  /** Survivor selection against an externally supplied (i, j) near-dup
    * pair set — the entry point for the silver-table pattern
    * (`pipeline.CorpusSilver`): at 100 TB the pair set is written once
    * and every consumer anti-joins against it instead of re-running
    * the shingle pipeline.
    */
  def survivorsFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    survivorsCore(docs, pairs).orderBy("doc_id")

  /** The selection rule itself, without the presentation sort — the
    * single definition both [[survivorsFromPairs]] and the
    * zero-exchange bucketed consumer (`CorpusSilver.survivorsBucketed`)
    * share, so the removal-key convention (drop every `j`, i.e. the
    * larger id of each pair) can never drift between them.
    */
  private[graft] def survivorsCore(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val removed = pairs.select(col("j").as("doc_id")).distinct()
    docs
      .join(removed, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** `dedup_components` — connected-components survivor labeling over
    * the near-dup pair graph: every document in the graph gets the
    * smallest doc_id reachable through near-dup edges as its
    * `component_id`. Greedy keep-smallest-id (`dedup_survivors`)
    * under-merges transitive chains (A–B, B–C with A≁C keeps both A
    * and C); components merge the full chain. Algorithm: alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — O(log²) rounds of a few narrow shuffles
    * each, no driver-side data, which is the 100 TB-honest shape
    * (Pregel-style propagation needs O(diameter) rounds; a driver
    * union-find needs the whole edge set on one node).
    */
  def dedupComponents(s: SparkSession, d: String): DataFrame =
    componentsRouted(s, d)

  /** The components LABELING as a memoized silver: THREE registered
    * consumers (`dedup_components`, `component_stats`,
    * `top_dup_clusters`) each ran the full large∘small fixpoint —
    * the sweep's single most repeated expensive subplan — over the
    * same routed pair set; the labeling itself is |graph| tiny rows,
    * so it memoizes per (session, corpus fingerprint, resolved pair
    * source) exactly like the pair silver it reads. The pair source
    * is resolved BEFORE entering the memo (the SessionMemo nesting
    * hazard), and the resolved route is part of the key so a
    * conf-forced source can never serve another route's labels.
    */
  private[graft] def componentsRouted(s: SparkSession, d: String): DataFrame = {
    // dedupNear emits each (i, j) exactly once (pairs are the keys of
    // its count aggregation), so the fixpoint can skip its defensive
    // initial distinct — one fewer shuffle over the widest data
    val pairs = dedupPairsRouted(s, d).select(col("i"), col("j"))
    def build = componentsFromPairs(s, pairs, pairsDistinct = true)
    val src = s.conf.get(PairSourceConf, "auto") match {
      case "auto" => pairSourceRoute(s, d)
      case other  => other
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "components|" + src + "|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(build)
  }

  /** large-star: every node hands its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Input orientation free
    * (symmetrized here); output oriented big → small.
    *
    * Neighborhood minima come from a whole-partition window min (ONE
    * shuffle on u) rather than `collect_set` neighborhoods: a giant
    * component's hub would otherwise materialize its entire
    * neighborhood as one in-memory array on one task, while
    * WindowExec buffers each key group in a spillable sorter — a
    * 10⁹-member component spills to disk instead of OOMing the task.
    */
  private def largeStar(edges: DataFrame, parts: Int): DataFrame = {
    val w = Window.partitionBy("u")
    // no mid-round distinct: small-star's window min tolerates
    // duplicate edges, and its final distinct canonicalizes the round
    // for the convergence checksum — one fewer shuffle per round.
    // Symmetrize via ONE explode instead of a self-union: the union
    // form read the round's checkpointed edge set twice (one map
    // stage per branch feeding the window exchange); the exploded
    // form emits the same two oriented rows per edge in one pass.
    // The explicit size-derived repartition IS the window's exchange
    // (hash(u) satisfies the window's clustering, so no second one
    // is added) — see roundParts.
    edges.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(parts, col("u"))
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** small-star: every node links its smaller neighbors (and itself)
    * to the minimum of those. Input MUST be oriented u > v (large-star
    * output is); output stays oriented big → small. Window-min for the
    * same giant-component reason as [[largeStar]].
    */
  private def smallStar(edges: DataFrame, parts: Int): DataFrame = {
    val w = Window.partitionBy("u")
    val withMin = edges
      .repartition(parts, col("u"))
      .withColumn("m", min(col("v")).over(w))
    // One explode emits both output rows per input edge — (u, m)
    // always, (v, m) when v ≠ m — where the previous two-branch
    // union ran the per-u sort + window min TWICE per round (each
    // union branch is its own reduce pipeline over the shared
    // exchange; only the exchange gets reuse, not the WindowExec):
    // one fewer stage and one fewer sort+window pass per fixpoint
    // round, identical rows (ComponentsSpec).
    // No distinct on the self-edge rows pre-explode: the final
    // distinct's MAP-SIDE partial aggregate collapses the per-edge
    // (u, m) duplicates before its exchange anyway, so a dedicated
    // inner distinct paid a full extra exchange+final-agg per round
    // for dedup work the round's last shuffle does for free.
    withMin
      .select(explode(when(col("v") =!= col("m"),
          array(struct(col("v").as("w"), col("m")),
            struct(col("u").as("w"), col("m"))))
        .otherwise(array(struct(col("u").as("w"), col("m")))))
        .as("e"))
      .select(col("e.w").as("u"), col("e.m").as("v"))
      .distinct()
  }

  /** Component labeling against an externally supplied (i, j) pair set
    * (the silver-table entry point, like [[survivorsFromPairs]]).
    * Loops large-star∘small-star to fixpoint; convergence is detected
    * by an order-insensitive (count, bit_xor of edge hashes) checksum —
    * a 2⁻⁶⁴ false-convergence posture, same class as the digest
    * queries. At the fixpoint every tree is a star rooted at its
    * component minimum, so the edge set IS the labeling.
    *
    * `reliableCheckpoint = true` switches the per-round lineage
    * truncation from `localCheckpoint` (executor-local blocks — fast,
    * but a lost executor kills the job past round 1 because earlier
    * rounds' blocks are unrecoverable) to `Dataset.checkpoint` against
    * the session's configured checkpoint directory (HDFS/S3 on a real
    * cluster), which survives executor loss — the setting a multi-hour
    * 100 TB labeling run should use. Requires
    * `SparkContext.setCheckpointDir` to have been called; each round
    * writes one edge-set snapshot there (old rounds are only
    * auto-removed with `spark.cleaner.referenceTracking.cleanCheckpoints`).
    */
  def componentsFromPairs(s: SparkSession, pairs: DataFrame,
      pairsDistinct: Boolean = false,
      reliableCheckpoint: Boolean = false): DataFrame =
    componentsFixpoint(s, pairs, pairsDistinct, reliableCheckpoint)._1

  /** [[componentsFromPairs]] plus the number of large∘small rounds the
    * fixpoint took — exposed so ComponentsSpec can gate the O(log n)
    * round-count claim on structured graphs (a path of n nodes must
    * converge in ~2·log₂ n rounds, not O(diameter) = n).
    * `pairsDistinct = true` skips the defensive dedup of the input
    * pair set (correct only when the caller guarantees each undirected
    * pair appears once, as dedupNear does).
    */
  private[graft] def componentsFixpoint(s: SparkSession, pairs: DataFrame,
      pairsDistinct: Boolean = false,
      reliableCheckpoint: Boolean = false): (DataFrame, Int) = {
    if (reliableCheckpoint) require(
      s.sparkContext.getCheckpointDir.isDefined,
      "componentsFromPairs(reliableCheckpoint = true) needs " +
        "SparkContext.setCheckpointDir (a cluster-visible path)")
    // NOTE the checksum is ALREADY folded into each round's
    // materialization: truncate() is lazy, so checksum(next) — the
    // round's FIRST action — computes the stars, writes the
    // checkpoint blocks, and aggregates (count, bit_xor) in ONE job.
    // There is no separate convergence pass to save; the marginal
    // checksum cost is one xxhash64 per edge riding the cache write.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // orient big → small so an already-converged input is a fixpoint
    // of iteration 1 (small-star preserves star graphs). Each round is
    // checkpointed: without lineage truncation the logical plan nests
    // one level per round and Catalyst/AQE planning goes super-linear
    // (measured: minutes at round ~10 on a 3-edge input).
    // localCheckpoint (default) keeps blocks executor-local — the
    // single-node/bench shape; reliableCheckpoint writes rounds to the
    // configured checkpoint dir so a multi-hour cluster run survives
    // executor death (see componentsFromPairs). Both are LAZY: the
    // checksum action right after materializes each round's edge set,
    // so the local path costs ONE job per round. The reliable path
    // additionally pays Spark's checkpoint-write job after that first
    // action (the round recomputes once to persist) — the durability
    // price, worth it exactly when rounds are hours, not seconds.
    def truncate(e: DataFrame): DataFrame =
      if (reliableCheckpoint) e.checkpoint(false) else e.localCheckpoint(false)
    val oriented = pairs
      .select(greatest(col("i"), col("j")).as("u"),
        least(col("i"), col("j")).as("v"))
      .where(col("u") =!= col("v"))
    var edges = truncate(if (pairsDistinct) oriented else oriented.distinct())
    var cs = checksum(edges)
    // Scale-adaptive round partitioning (guide §2.2): size the two
    // per-round window exchanges from the CURRENT edge count — known
    // for free from the convergence checksum — instead of the session
    // shuffle constant. ~8M (u, v) long-pairs ≈ 128 MB per partition;
    // a tiny graph runs 1-task rounds (the fixpoint is latency-bound
    // there: measured 1.75 s → 1.0 s for 4 rounds over 3.6k edges at
    // 32 session partitions), a 10¹² -edge graph gets thousands of
    // right-sized partitions, and shrinking rounds shrink their
    // shuffles with the data. Sizing uses the PREVIOUS round's count;
    // one star round moves the count by at most a small constant
    // factor (each input edge emits ≤ 2 rows), so the estimate stays
    // within a partition-size factor of right and is re-derived
    // every round.
    def roundParts(edgeCount: Long): Int =
      math.max(1L, math.min(200000L, (edgeCount + (8L << 20) - 1)
        / (8L << 20))).toInt
    // AQE off for the round queries (restored after): with the
    // exchanges explicitly size-derived there is nothing left for
    // AQE to coalesce, rounds contain no joins (so no skew-join or
    // strategy rewrites to gain), and AQE's stage-at-a-time
    // re-planning adds driver latency to EVERY round of an iterative
    // loop (measured ~20% of fixpoint wall at sf0.1, and the same
    // per-round barrier cost applies at any scale).
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = s.conf.getOption(aqeKey)
    s.conf.set(aqeKey, "false")
    var stable = false
    var iter = 0
    try {
      while (!stable && iter < 50) {
        val p = roundParts(cs._1)
        val next = truncate(smallStar(largeStar(edges, p), p))
        val ncs = checksum(next)
        edges.unpersist()
        edges = next
        stable = ncs == cs
        cs = ncs
        iter += 1
      }
    } finally aqePrev match {
      case Some(v) => s.conf.set(aqeKey, v)
      case None => s.conf.unset(aqeKey)
    }
    require(stable, s"componentsFromPairs: no fixpoint after $iter rounds")
    // at the verified fixpoint the edge set is a disjoint star
    // forest oriented child → root (u > v): every child u carries
    // EXACTLY one (u, root) edge and no root appears as a u, so
    // `members` is already unique on doc_id and disjoint from
    // `roots` — the defensive outer distinct paid a full
    // exchange+aggregate over the labeling for set math the star
    // invariant already guarantees (ComponentsSpec's union-find
    // property pins the labeling across 20 random graphs)
    val members = edges.select(col("u").as("doc_id"), col("v").as("component_id"))
    val roots = edges.select(col("v").as("doc_id"), col("v").as("component_id"))
      .distinct()
    (members.union(roots).orderBy("doc_id"), iter)
  }

  /** `dedup_minhash` — MinHash + banded LSH, the scale path for E18
    * (no oracle: signature permutations are engine-specific).
    * 32 hashes = 8 bands × 4 rows; band-bucket join finds candidates
    * in O(near-dups), then candidates are verified with the signature
    * Jaccard estimate. At 100 TB only the band join shuffles, and only
    * doc_id+band keys move.
    */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    dedupMinhashFromSignatures(s, minhashSignatures(s, d),
      wide = graft.engine.Pairs.needsWideForm(
        Tables.documents(s, d), "doc_id"))

  /** Per-document 32-hash MinHash signatures — one compiled map-side
    * pass over each doc's shingle SET (functions.MinHash32, same
    * permutation family and element hash as the MinHashAgg aggregate
    * twin, MinHashAggSpec-pinned equivalent). This is the write-once
    * silver projection (`pipeline.CorpusSilver.writeSignatures`): at
    * 100 TB every LSH consumer reads the materialized 32-long rows
    * instead of re-shingling the corpus.
    */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    shingleSets(s, d).select(col("doc_id"),
      graft.functions.MinHash32.minhash32FromSet(s, col("shs")).as("sig"))

  /** `dedup_minhash_portable` — [[dedupMinhash]]'s oracle-visible
    * twin (the `dedup_simhash_portable` precedent applied to the
    * OTHER LSH family). The band-bucket machinery is the same shape;
    * every hash is portable modular arithmetic both engines run
    * bit-for-bit: token hash `ascii·17161 + ascii(reverse)·131 +
    * length` (≤ ~1.9·10¹⁰), 3-shingle combine `(t₁·131 + t₂)·131 +
    * t₃` (≤ ~3.4·10¹⁴), 16 permutations `(2m+3)·h + 7m+1 mod
    * 10¹²+37` (products ≤ ~1.1·10¹⁶ — every intermediate is budgeted
    * under 2⁶³ for ANSI mode), band key = degree-4 polynomial fold
    * mod 10¹⁵+37 over each of 4 bands × 4 rows. The DuckDB oracle
    * recomputes signatures, band keys, the candidate join, and the
    * est_jaccard filter from raw text — i.e. it independently
    * verifies the banded-LSH candidate generation that the
    * xxhash64-based `dedup_minhash` can only pin in unit tests.
    * Every step is deterministic, so the approximate OPERATOR has an
    * exact, hash-gateable OUTPUT. Verification query: the scale path
    * stays `dedup_minhash`'s compiled 32-perm kernel.
    */
  def dedupMinhashPortable(s: SparkSession, d: String): DataFrame =
    portableMinhashScored(s, d)
      .where(col("est_jaccard") >= 0.8)
      .select("i", "j", "est_jaccard")
      .orderBy("i", "j")

  /** Every banded-LSH candidate pair with its signature-agreement
    * estimate, UNthresholded — the shared core of
    * [[dedupMinhashPortable]] (which applies the ≥ 0.8 cut) and
    * [[minhashCalibration]] (which scores the whole candidate set
    * against exact Jaccard).
    */
  private[graft] def portableMinhashScored(s: SparkSession,
      d: String): DataFrame = {
    val bandMod = 1000000000000037L   // ~10¹⁵, band polynomial range
    // token hashes stay interpreted SQL (one lambda per token — the
    // ascii/length dialect semantics live with the engine); the
    // shingle + 16-perm signature build, formerly a per-token
    // per-perm interpreted lambda chain and the most expensive step
    // of the whole sweep, is the compiled PortableMinHash16 kernel
    // (TextExprsSpec pins it byte-equal to the SQL HOF formulation;
    // the DuckDB oracle still replays the SQL form independently)
    val sigs = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .withColumn("th",
        graft.functions.PortableTokenHash.tokenHashPortable(s, col("toks")))
      .withColumn("sig",
        graft.functions.PortableMinHash16.minhash16Portable(s, col("th")))
      .select(col("doc_id"), col("sig"))
    val banded = sigs.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, 3), b -> struct(b AS band,
              aggregate(slice(sig, b * 4 + 1, 4), 0L,
                (acc, v) -> (acc * 131 + v) % ${bandMod}L) AS bk))"""))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bk"))
    val wide = graft.engine.Pairs.needsWideForm(
      Tables.documents(s, d), "doc_id")
    val lists = banded.groupBy(col("band"), col("bk"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    val candIds = graft.engine.Pairs.distinctPairs(s, lists, "ds", wide)
    candIds
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_i")),
        Seq("i"))
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_j")),
        Seq("j"))
      .withColumn("est_jaccard", r6(expr(
        """aggregate(zip_with(sig_i, sig_j, (a, b) -> IF(a = b, 1, 0)),
                     0, (acc, v) -> acc + v) / 16.0""")))
      .select("i", "j", "est_jaccard")
  }

  /** `minhash_calibration` — the sketch-calibration report: every
    * banded-LSH candidate pair scored BOTH ways — the 16-perm
    * signature-agreement estimate and the exact Jaccard over the same
    * distinct shingle-hash sets — with the absolute estimation error.
    * This is the query that answers "can I trust the sketch's
    * threshold?" empirically, per corpus: the error column IS the
    * binomial noise of 16 Bernoulli trials, and reading it tells you
    * whether to spend the 32- or 64-perm signature before changing
    * any production cut. Fully portable arithmetic end to end, so the
    * entire calibration — candidates, estimates, exact scores —
    * hash-gates cross-engine.
    *
    * Scale shape: candidates come from the banded join (never
    * all-pairs); the exact re-score joins the two shingle-set arrays
    * per CANDIDATE only — the verify-candidates pattern every
    * production MinHash pipeline runs, costed by candidate count.
    */
  def minhashCalibration(s: SparkSession, d: String): DataFrame =
    portableCandidatesExact(s, d)
      .select(col("i"), col("j"), col("est_jaccard"), col("jaccard"),
        r6(abs(col("est_jaccard") - col("jaccard"))).as("est_err"))
      .orderBy("i", "j")

  /** Every banded-LSH candidate pair scored by BOTH the 16-perm
    * estimate and the exact Jaccard over the same distinct
    * shingle-hash sets — the shared core of [[minhashCalibration]]
    * (which adds the error column) and [[decontaminateFuzzy]] (which
    * filters to cross-benchmark pairs). The exact re-score joins the
    * two shingle arrays per CANDIDATE only — verify-candidates, the
    * production MinHash shape, costed by candidate count.
    */
  private[graft] def portableCandidatesExact(s: SparkSession,
      d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .withColumn("th",
        graft.functions.PortableTokenHash.tokenHashPortable(s, col("toks")))
      .withColumn("shs", array_distinct(expr(
        """transform(sequence(0, size(th) - 3),
             i -> (th[i] * 131 + th[i + 1]) * 131 + th[i + 2])""")))
      .select(col("doc_id"), col("shs"))
    portableMinhashScored(s, d)
      .join(sh.select(col("doc_id").as("i"), col("shs").as("sa")), Seq("i"))
      .join(sh.select(col("doc_id").as("j"), col("shs").as("sb")), Seq("j"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", r6(col("inter").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("inter"))))
      .select(col("i"), col("j"), col("est_jaccard"), col("jaccard"))
  }

  /** The LSH band join + verification over an externally supplied
    * (doc_id, sig) signature frame — the silver-table consumer entry
    * point. `wide` gates the packed-pair fast path (see engine.Pairs);
    * callers with a known id bound pass it directly.
    */
  private[graft] val minhashHashes = 32
  private[graft] val minhashBands = 8 // 4 rows/band

  /** The (doc_id, band, bh) band-bucket membership of a (doc_id, sig)
    * signature frame — the LSH blocking projection shared by the
    * candidate join and the ScaleSweep occupancy probe (which
    * measures exactly the bucket distribution the join shuffles on).
    */
  private[graft] def minhashBandMembers(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, ${minhashBands - 1}),
              b -> struct(b AS band,
                          xxhash64(slice(sig,
                            b * ${minhashHashes / minhashBands} + 1,
                            ${minhashHashes / minhashBands})) AS bh))"""))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))

  /** The banded-LSH candidate (i, j) id pairs of a (doc_id, sig)
    * signature frame — the blocking step shared by
    * [[dedupMinhashFromSignatures]] (which verifies candidates with
    * the signature-agreement ESTIMATE) and [[minhashVerifiedPairs]]
    * (which verifies them with EXACT Jaccard over the full shingle
    * sets). Candidate pairs ride band-bucket posting lists (the same
    * pattern as dedup_near / dedup_embed_blocked): ONE shuffle on
    * (band, bh), map-side C(k,2) into packed single longs, distinct
    * on an 8-byte key — no self-join, so there is no replicated build
    * side to outgrow broadcast at 100 TB. Wide doc_ids ride the
    * struct pair form (engine.Pairs).
    */
  private[graft] def minhashCandidateIds(s: SparkSession, sigs: DataFrame,
      wide: Boolean): DataFrame = {
    val lists = minhashBandMembers(sigs)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    graft.engine.Pairs.distinctPairs(s, lists, "ds", wide)
  }

  def dedupMinhashFromSignatures(s: SparkSession, rawSigs: DataFrame,
      wide: Boolean): DataFrame = {
    // normalize the id width up front: an externally written silver
    // table may carry doc_id as INT32, and the packed-pair expressions
    // read 8-byte slots (they type-check array<bigint> and would
    // reject the narrower explode otherwise)
    val sigs = rawSigs.select(
      col("doc_id").cast("long").as("doc_id"), col("sig"))
    // the 32-long signatures re-attach AFTER the blocking join so only
    // ids ride the candidate shuffle
    val cand = minhashCandidateIds(s, sigs, wide)
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_i")), Seq("i"))
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_j")), Seq("j"))
    cand
      .withColumn("est_jaccard", r6(expr(
        s"""aggregate(zip_with(sig_i, sig_j, (a, b) -> IF(a = b, 1, 0)),
                      0, (acc, v) -> acc + v) / CAST($minhashHashes AS DOUBLE)""")))
      .where(col("est_jaccard") >= 0.8)
      .select("i", "j", "est_jaccard")
      .orderBy("i", "j")
  }

  /** MinHash-blocked, EXACTLY-verified near-dup pairs: banded-LSH
    * candidate generation ([[minhashCandidateIds]], the production
    * 32-hash / 8-band family) followed by exact Jaccard over the full
    * 3-shingle hash sets — the verify-candidates composition every
    * production MinHash pipeline runs (Lee et al. §4.1; the
    * [[minhashCalibration]] shape with the cut applied). Output
    * schema and semantics match [[dedupNearPairs]] exactly —
    * `(i, j, jaccard)` with the same r6-fenced exact Jaccard — up to
    * banding recall (a true pair must share one of the 8 bands;
    * PairRoutingSpec pins output EQUAL to the exact silver on the
    * shipped corpora, where every ≥ 0.8 pair clears the 4-row band
    * collision odds).
    *
    * Scale: this is the pair source the graph consumers route to past
    * the exact forms' crossover — candidates are O(colliding pairs)
    * off linear banding units, never the Σ C(k,2) posting-list
    * explosion (ScaleSweep: the exact pair stream grew ~90–102× per
    * decade and stops terminating around half a million docs; the
    * banded stream tracks its linear unit). Verification joins the
    * sorted hash sets per CANDIDATE only (compiled merge-scan
    * IntersectCount, sets sorted once per doc). Memoized per
    * (session, corpus) like the exact silver — the same seven-consumer
    * reuse argument.
    */
  private[graft] def minhashVerifiedPairs(s: SparkSession,
      d: String): DataFrame = {
    def build: DataFrame = {
      val wide = graft.engine.Pairs.needsWideForm(
        Tables.documents(s, d), "doc_id")
      val sigs = minhashSignatures(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("sig"))
      val hashed = shingleHashSets(s, d)
      minhashCandidateIds(s, sigs, wide)
        .join(hashed.select(col("doc_id").as("i"),
          sort_array(col("hs")).as("hs_i")), Seq("i"))
        .join(hashed.select(col("doc_id").as("j"),
          sort_array(col("hs")).as("hs_j")), Seq("j"))
        .withColumn("inter", graft.functions.IntersectCount
          .intersectCount(s, col("hs_i"), col("hs_j")).cast("long"))
        .withColumn("jaccard", r6(col("inter") /
          (size(col("hs_i")).cast("long")
            + size(col("hs_j")).cast("long") - col("inter"))))
        .where(col("jaccard") >= 0.8)
        .select("i", "j", "jaccard")
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "minhash_verified_pairs|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(build)
  }

  /** Session conf routing the GRAPH consumers' pair source
    * (`triangle_count`, `dedup_components`, `component_stats`,
    * `degree_stats`, `top_dup_clusters`, `dedup_impact`): `auto`
    * (default) routes on the corpus-stats doc count; `exact` pins the
    * exact co-occurrence silver ([[dedupNearPairs]]); `minhash` pins
    * the banded-and-exactly-verified source
    * ([[minhashVerifiedPairs]]). Where [[dedupNearAuto]] picks
    * between two EXACT formulations, this conf swaps the
    * candidate-generation strategy itself.
    */
  val PairSourceConf = "spark.graft.pairs.source"

  /** Corpus-size crossover for [[dedupPairsRouted]]'s auto route, in
    * (approx) shingle-bearing documents. Below it the exact
    * co-occurrence silver is cheap and shared with the dedup_near
    * family; above it the Σ C(k,2) posting-list pair stream is the
    * measured scale-killer (ScaleSweep: ~90–102×/decade growth,
    * non-terminating around half a million docs on the synthesized
    * corpus) and the banded-MinHash source takes over. 100k sits a
    * decade past the largest corpus where the exact stream was
    * comfortable (50k docs: 130M pairs, a measured tie) and at the
    * size where ScaleSweep stopped sweeping the exact forms.
    */
  private[graft] val PairSourceCrossoverDocs = 100000L

  /** Which pair source [[dedupPairsRouted]]'s auto route picks for
    * this corpus — one memoized stats job ([[corpusPairStats]], shared
    * with [[nearDupJoinForm]]'s axes).
    */
  private[graft] def pairSourceRoute(s: SparkSession, d: String): String =
    if (corpusPairStats(s, d).n >= PairSourceCrossoverDocs) "minhash"
    else "exact"

  /** The near-dup pair stream the GRAPH consumers read, routed per
    * corpus: the exact co-occurrence silver below the measured
    * crossover, the banded-MinHash + exact-verify source above it
    * (see [[PairSourceCrossoverDocs]]). Both emit `(i, j, jaccard)`
    * with the same exact r6 Jaccard; PairRoutingSpec pins them EQUAL
    * on the shipped corpora and [[PairSourceConf]] pins the route for
    * deployments that already know their corpus.
    */
  private[graft] def dedupPairsRouted(s: SparkSession, d: String): DataFrame =
    s.conf.get(PairSourceConf, "auto") match {
      case "exact"   => dedupNearPairs(s, d)
      case "minhash" => minhashVerifiedPairs(s, d)
      case "auto" =>
        if (pairSourceRoute(s, d) == "minhash") minhashVerifiedPairs(s, d)
        else dedupNearPairs(s, d)
      case other => throw new IllegalArgumentException(
        s"$PairSourceConf must be auto|exact|minhash, got '$other'")
    }

  /** `dedup_simhash` — 64-bit SimHash near-dup detection (no oracle).
    * Signature = sign of the per-bit sum of token-hash bits; near-dups
    * = pairs at Hamming distance ≤ 3. Signature build is one narrow
    * projection; candidate generation blocks on the 4 disjoint 16-bit
    * signature chunks — EXACT by pigeonhole (≤ 3 differing bits can
    * touch at most 3 chunks, so every qualifying pair agrees on ≥ 1
    * chunk) — turning the all-pairs scan into an equi-join on
    * (chunk#, chunk-value). Only (doc_id, sig) pairs shuffle; the
    * final Hamming check runs on candidates only.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashBlockedPairs(simhashSigs(s, d), sigBits = 64, nBlocks = 4,
      maxHamming = 3)

  /** The 64-bit xxhash SimHash signature projection shared by the
    * fixed-depth, scaled, and candidate-mass entry points. */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("th", expr("transform(split(text, ' '), t -> xxhash64(t))"))
      .withColumn("sig", graft.functions.VectorExprs.simhash64(s, col("th")))
      .select(col("doc_id"), col("sig"))

  /** [[dedupSimhash]] with the block count sized from the corpus — the
    * SimHash twin of `dedupEmbedBlockedScaled`'s k ≈ log₂(n) rule.
    * The fixed 4-block scheme joins on 16-bit keys, so its
    * random-collision candidate mass grows as n²/2¹⁶ — the round-5
    * scale sweep measured exactly that super-linear curve on the
    * low-entropy synthetic corpus. Deeper blocking
    * ([[simhashBlocksFor]]) keeps C(B,B−3)·n²/2^keyBits ≲ O(n) by
    * moving to 32/36/40-bit combination keys as n grows; output is
    * UNCHANGED at any depth (pigeonhole exactness + the exact Hamming
    * filter — InventorySpec pins every depth equal to brute force).
    * Costs one count job up front, negligible against the pair
    * pipeline it right-sizes.
    */
  def dedupSimhashScaled(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(s, d).count()
    simhashBlockedPairs(simhashSigs(s, d), sigBits = 64,
      nBlocks = simhashBlocksFor(n, sigBits = 64, maxHamming = 3),
      maxHamming = 3)
  }

  /** Block count in [4, 8] sized from the corpus, one depth step per
    * ~4× documents past the 4k-doc anchor. The calibration is
    * MEASURED, not modeled: a uniform-random-bits model says 16-bit
    * keys absorb 50k docs, but real signatures inherit the corpus's
    * token structure — at 50k low-entropy docs the fixed B=4 scheme
    * produced 23.6M pre-Hamming candidates (~470/doc, growing ~n²)
    * while each +1 block cut mass only ~3–4× (B=5 → 5.8M, B=6 →
    * 1.8M, B=8 → 0.42M; BASELINE.md round-6 curve). A ~4× mass cut
    * per step against ~n² fixed-depth growth ⇒ one step per 4×
    * corpus holds candidates/doc roughly constant. Calibrated for
    * 64-bit signatures at maxHamming = 3 (the only shipped config).
    * True near-dup clusters are unaffected by depth — identical
    * signatures collide at every depth, and that candidate mass is
    * the output's own size, not overhead.
    */
  private[graft] def simhashBlocksFor(n: Long, sigBits: Int,
      maxHamming: Int): Int = {
    // the depth schedule (anchor, step rate, cap) was measured at
    // maxHamming = 3 — make the contract loud instead of returning a
    // miscalibrated depth (or one simhashComboKeyed would reject)
    require(maxHamming == 3,
      s"depth schedule calibrated for maxHamming = 3, got $maxHamming")
    // ⌈log₄(n/4096)⌉ extra depth steps over the B=4 anchor
    val x = math.max(1L, n / 4096L)
    val log2 = 63 - java.lang.Long.numberOfLeadingZeros(x)
    math.min(4 + (log2 + 1) / 2, math.min(8, sigBits / 4))
  }

  /** `dedup_simhash_portable` — [[dedupSimhash]]'s oracle-visible
    * twin. The blocking/verification machinery is byte-identical (the
    * shared [[simhashBlockedPairs]]); only the signature changes:
    * 60 bits of majority vote over PORTABLE token hashes
    * (`ascii·17161 + ascii(reverse)·131 + length`, spread per bit as
    * `(h·(2b+3)) % 1000003 % 2` — functions.PortableSimHash60), all
    * plain modular arithmetic DuckDB reproduces bit-for-bit. The
    * oracle then checks the BLOCKED pair set against brute-force
    * all-pairs Hamming ≤ 3 in SQL — i.e. it independently verifies
    * the pigeonhole exactness claim the engine-specific
    * `dedup_simhash` can only pin in unit tests. 15-bit × 4 chunks
    * cover the 60 bits; pigeonhole exactness is unchanged (≤ 3
    * differing bits touch ≤ 3 chunks).
    */
  def dedupSimhashPortable(s: SparkSession, d: String): DataFrame = {
    // token hashes via the compiled PortableTokenHash kernel (full
    // code-point ascii to 0x10FFFF, widened to 64-bit — a
    // supplementary-plane first char would overflow 32-bit INT under
    // ANSI in both engines; TextExprsSpec pins byte-equality to the
    // interpreted transform the oracle still replays)
    val sigs = Tables.documents(s, d)
      .withColumn("th", graft.functions.PortableTokenHash
        .tokenHashPortable(s, split(col("text"), " ")))
      .withColumn("sig",
        graft.functions.PortableSimHash60.simhash60Portable(s, col("th")))
      .select(col("doc_id"), col("sig"))
    simhashBlockedPairs(sigs, sigBits = 60, nBlocks = 4, maxHamming = 3)
  }

  /** Block-combination-keyed exact Hamming join over (doc_id, sig)
    * signatures — shared by every SimHash variant. The signature
    * splits into `nBlocks` disjoint bit blocks; each doc is indexed
    * under every size-(nBlocks − maxHamming) COMBINATION of its block
    * values (the multi-block scheme of Manku et al., WWW'07 §3).
    * Exact by pigeonhole: ≤ maxHamming differing bits touch ≤
    * maxHamming blocks, so ≥ nBlocks − maxHamming blocks agree — the
    * combination made of those agreeing blocks is shared and the pair
    * surfaces in that equi-join. nBlocks = maxHamming + 1 degenerates
    * to the classic one-block-per-key scheme (combinations of size 1);
    * LARGER nBlocks trade keys/doc — C(B, B−h) — for key width
    * (B−h)·sigBits/B, the candidate-mass dial [[simhashBlocksFor]]
    * turns with corpus size. Combination values compress to one
    * xxhash64 key before the shuffle (equal values ⇒ equal hash, so
    * no pair is lost; a hash collision only adds a candidate the
    * exact Hamming filter removes). Only (doc_id, sig, key) rows
    * shuffle; the Hamming check runs on candidates only.
    */
  private[graft] def simhashBlockedPairs(sigs: DataFrame, sigBits: Int,
      nBlocks: Int, maxHamming: Int): DataFrame = {
    // localCheckpoint (lazy) the keyed index: the self-join otherwise
    // evaluates the signature kernels + combo explode TWICE (once per
    // side — broadcast self-joins get no exchange reuse). This is the
    // blocked-index silver projection, intra-query. Executor-loss
    // posture: unreplicated executor blocks — a lost executor fails
    // the query instead of recomputing (the CorpusSilver edge-memo
    // tradeoff); swap for Dataset.checkpoint on clusters that need
    // mid-query survival.
    val keyed = simhashComboKeyed(sigs, sigBits, nBlocks, maxHamming)
      .localCheckpoint(false)
    keyed.as("x").join(keyed.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        col("x.sig").as("sig_i"), col("y.sig").as("sig_j"))
      // verify BEFORE the combo-duplicate dedup (a pair agreeing on
      // several combinations surfaces once per combo): the Hamming
      // predicate is row-local and sig is functionally determined by
      // doc_id, so filter∘distinct == distinct∘filter — but filtering
      // first keeps non-pairs out of the dedup exchange
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))))
      .where(col("hamming") <= maxHamming)
      .select("i", "j", "hamming")
      .distinct()
      .orderBy("i", "j")
  }

  /** (doc_id, sig, k): each signature exploded to its C(B, B−h)
    * combination keys. Block widths split sigBits as evenly as
    * integer division allows (uneven widths don't affect pigeonhole).
    */
  private def simhashComboKeyed(sigs: DataFrame, sigBits: Int,
      nBlocks: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < nBlocks, "pigeonhole needs maxHamming < nBlocks")
    val m = nBlocks - maxHamming
    val w = sigBits / nBlocks
    val r = sigBits % nBlocks
    def blockVal(b: Int): String = {
      val off = b * w + math.min(b, r)
      val width = w + (if (b < r) 1 else 0)
      s"(shiftright(sig, $off) & ${(1L << width) - 1}L)"
    }
    val keyExprs = (0 until nBlocks).combinations(m).zipWithIndex
      .map { case (combo, cid) =>
        s"xxhash64(${cid}L, ${combo.map(blockVal).mkString(", ")})"
      }
    sigs.select(col("doc_id"), col("sig"),
      explode(expr(keyExprs.mkString("array(", ", ", ")"))).as("k"))
  }

  /** Distinct candidate-pair count BEFORE the Hamming filter at a
    * given block depth — the engine-independent work unit behind the
    * scale-curve table (ScaleSweep publishes it for the fixed and
    * scaled depths side by side).
    */
  private[graft] def simhashCandidateMass(sigs: DataFrame, sigBits: Int,
      nBlocks: Int, maxHamming: Int): Long = {
    val keyed = simhashComboKeyed(sigs, sigBits, nBlocks, maxHamming)
    keyed.as("x").join(keyed.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
  }

  /** E20 `text_stats` — corpus stats per language: doc count, char
    * stats, token totals. Integer sums are exact; averages rounded.
    */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        r6(avg(col("n_chars"))).as("avg_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        r6(avg(col("n_tokens"))).as("avg_tokens"))
      .orderBy("lang")

  /** `lang_id` — n-gram/stopword-heuristic language ID: the fraction
    * of tokens drawn from an English function-word list. (The corpus
    * is synthetic English-ish tokens under every lang label, so the
    * heuristic scores content, not the label — that's the point of a
    * content-based classifier.)
    */
  /** English function-word list shared by lang_id / text_quality;
    * membership counting runs through the compiled
    * `functions.CountInSet` (the interpreted `filter(toks, t IN ...)`
    * lambda was the family's remaining HOF hot spot).
    */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("en_hits",
        graft.functions.CountInSet.countInSet(s, col("toks"), stopwords))
      .withColumn("en_ratio", r6(col("en_hits") / size(col("toks"))))
      .withColumn("predicted_lang",
        when(col("en_ratio") >= 0.05, lit("en")).otherwise(lit("und")))
      .select("doc_id", "lang", "en_ratio", "predicted_lang")
      .orderBy("doc_id")

  /** `ngram_lm_score` — add-one-smoothed bigram language-model
    * cross-entropy of the val slice under counts trained on the
    * train slice: the KenLM-style corpus-quality eval (CCNet ranks
    * documents by exactly this statistic; `token_surprisal` is its
    * unigram little sibling). Reported as ln-perplexity
    * −(Σ ln p(w₂|w₁))/N — a held-out slice drifting away from the
    * training distribution raises it before any token-level stat
    * moves.
    *
    * Portability: p = (c₂+1)/(c₁+V) is an exact rational from
    * integer counts (c₂/c₁ via left joins, absent → 0), each ln is
    * quantized to the 1e-6 grid as an integer (the `psi_drift`
    * posture), the corpus sum is order-free, and the final division
    * is fenced. Scale: counts are bigram-keyed aggregates, scoring
    * is two equi-joins on bigram/unigram keys — everything shuffles
    * small keys, never documents.
    */
  def ngramLmScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
    def bigramsOf(df: DataFrame) = df.select(col("doc_id"), explode(
      graft.functions.BigramsAll.bigramsAll(s, col("toks"))).as("bigram"))
    val train = docs.where(col("bucket") < 8)
    val value = docs.where(col("bucket") === 8)
    val c2 = bigramsOf(train).groupBy(col("bigram"))
      .agg(count(lit(1)).as("c2"))
    val c1 = train
      .select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = train.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val scored = bigramsOf(value)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c2, Seq("bigram"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(
        floor(log((coalesce(col("c2"), lit(0L)) + lit(1)).cast("double")
          / (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("lq"))
    scored.agg(count(lit(1)).as("n_bigrams"), sum(col("lq")).as("lsum"))
      .crossJoin(broadcast(vocab))
      .select(col("n_bigrams"), col("v").as("vocab"),
        r6((-col("lsum")).cast("double") / col("n_bigrams").cast("double")
          / lit(1000000.0)).as("ln_ppl"))
  }

  /** `quality_vs_dup` — do exact duplicates score worse on the
    * quality heuristic? Joins [[textQuality]]'s composite score with
    * the digest-duplicate flag and compares the two groups' means —
    * the one-row answer to "is dedup also a quality filter here"
    * that decides whether the near-dup pass can double as scoring.
    * Exact decimal mean of the (already-fenced) scores per group,
    * one fenced difference. One digest aggregate + one join.
    */
  def qualityVsDup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dupDocs = Tables.documents(s, d)
      .groupBy(col("text")).agg(count(lit(1)).as("copies"),
        collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("doc_id"),
        (col("copies") > 1).as("is_dup"))
    val byGroup = textQuality(s, d)
      .select(col("doc_id"), col("quality_score"))
      .join(dupDocs, Seq("doc_id"))
      .groupBy(col("is_dup"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality_score").cast(DecimalType(18, 6)))
          .cast(DecimalType(28, 6)).as("qsum"))
      .select(col("is_dup"), col("n_docs"),
        r6(col("qsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_quality"))
      .orderBy("is_dup")
    byGroup
  }

  /** `lang_confusion` — the confusion matrix of the n-gram
    * language-ID heuristic against the labeled `lang` column, with
    * per-cell share of the true class: the eval that says whether
    * [[langId]]'s 0.05 stopword-ratio threshold actually separates
    * the corpus ("the heuristic is 99% right on en, but calls half
    * of und en" is an actionable row; raw per-doc predictions are
    * not). Vocabulary-bounded output (|langs|² cells), one count
    * aggregate over [[langId]]'s map-side prediction.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("true_lang")
    langId(s, d)
      .groupBy(col("lang").as("true_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("true_n", sum(col("n")).over(w))
      .select(col("true_lang"), col("predicted_lang"), col("n"),
        r6(col("n").cast("double") / col("true_n").cast("double"))
          .as("share_of_true"))
      .orderBy("true_lang", "predicted_lang")
  }

  /** `text_quality` — per-doc quality features + a deterministic
    * composite score (length, lexical diversity, stopword ratio) of
    * the kind used to filter LLM pretraining data.
    */
  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("distinct_ratio", r6(col("n_distinct") / col("n_tokens")))
      .withColumn("avg_token_len",
        r6((length(col("text")) - (col("n_tokens") - 1L)) / col("n_tokens")))
      .withColumn("stop_ratio", r6(
        graft.functions.CountInSet.countInSet(s, col("toks"), stopwords)
          / col("n_tokens")))
      .withColumn("quality_score", r6(
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.4
          + col("distinct_ratio") * 0.4
          + (lit(1.0) - col("stop_ratio")) * 0.2))
      .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio",
        "avg_token_len", "stop_ratio", "quality_score")
      .orderBy("doc_id")

  /** `quality_gopher` — the Gopher rule-based quality filter census
    * (Rae et al. 2021, §A1.1.1 "Quality Filtering" — the published
    * rule set MassiveText shipped with, reused by most open corpus
    * builds since): per source, how many documents fail each
    * heuristic and the overall pass rate. The four rules expressible
    * over single-line documents: word count ∈ [50, 100 000], mean
    * word length ∈ [3, 10], ≥ 80% of words containing an alphabetic
    * character, and ≥ 2 DISTINCT members of the paper's 8-word stop
    * list ("the be to of and that have with") present (the
    * line-shape rules — bullet/ellipsis ratios — are zero by
    * construction on one-line docs and add no signal here).
    *
    * Portability: every comparison runs on INTEGERS — the mean-word-
    * length band as `n_letter_chars` vs `3·n` / `10·n`, the alpha
    * ratio as `10·n_alpha ≥ 8·n` — so no float boundary can disagree
    * across engines; only the presentation pass_rate divides (r6).
    * One scan + one ≤|sources| aggregate: the 100 TB cost is the
    * scan, embarrassingly parallel, the `pii_scrub` posture.
    */
  /** Rae et al. 2021 §A1.1.1's stop list, verbatim. */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def qualityGopher(s: SparkSession, d: String): DataFrame = {
    val perDoc = gopherFlags(s, d).select(col("source"),
      col("f_wc"), col("f_mwl"), col("f_alpha"), col("f_stop"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_wc"), 1L).otherwise(0L)).as("fail_word_count"),
        sum(when(col("f_mwl"), 1L).otherwise(0L)).as("fail_mean_word_len"),
        sum(when(col("f_alpha"), 1L).otherwise(0L)).as("fail_alpha_ratio"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(!col("f_wc") && !col("f_mwl") && !col("f_alpha")
          && !col("f_stop"), 1L).otherwise(0L)).as("n_pass"))
      .select(col("source"), col("n_docs"), col("fail_word_count"),
        col("fail_mean_word_len"), col("fail_alpha_ratio"),
        col("fail_stopwords"),
        r6(col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"))
      .orderBy("source")
  }

  /** The per-document Gopher rule flags — the row-local block shared
    * by [[qualityGopher]] (per-source census) and [[qualityNb]]
    * (which uses pass-all-rules as the weak training label).
    */
  private def gopherFlags(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      // sum of per-word lengths = chars minus the n-1 separators
      .withColumn("wchars", (length(col("text")) - (col("n") - 1L)))
      .withColumn("n_alpha",
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long"))
      // distinct presence, not occurrence count (array_intersect
      // dedups) — the rule as commonly implemented
      .withColumn("n_stop", size(array_intersect(col("toks"),
        array(gopherStops.map(lit): _*))).cast("long"))
      .select(col("doc_id"), col("source"),
        (col("n") < 50L || col("n") > 100000L).as("f_wc"),
        (col("wchars") < col("n") * 3L || col("wchars") > col("n") * 10L)
          .as("f_mwl"),
        (col("n_alpha") * 10L < col("n") * 8L).as("f_alpha"),
        (col("n_stop") < 2L).as("f_stop"))

  /** `token_count` — whitespace tokens + a word-regex count + char
    * count per doc (the BPE-ish pre-tokenizer accounting pass).
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
        length(col("text")).as("n_chars_actual"),
        col("n_chars"))
      .orderBy("doc_id")

  /** `corpus_filter` — the assembled training-data selection pass:
    * near-dup survivors ∩ quality ≥ 0.62 ∩ lang = 'en', joined to
    * their embedding vectors — the end-to-end "documents in, training
    * corpus out" composition of E17/E18/quality/lang/E21.
    */
  def corpusFilter(s: SparkSession, d: String): DataFrame =
    corpusFilterFromSurvivors(s, d, dedupSurvivors(s, d))

  /** The capstone composition over an externally supplied survivor
    * set — lets `pipeline.CorpusSilver` serve the whole training-data
    * selection from the materialized pair table instead of re-running
    * the shingle pipeline.
    */
  def corpusFilterFromSurvivors(s: SparkSession, d: String,
      survivors: DataFrame): DataFrame = {
    val quality = textQuality(s, d).select("doc_id", "quality_score")
    val embNorm = graft.engine.Tables.embeddings(s, d).select(
      col("vec_id").as("doc_id"),
      graft.engine.Determinism.r6(sqrt(
        graft.functions.VectorExprs.dot(s, col("embedding"), col("embedding"))))
        .as("emb_norm"))
    survivors
      .where(col("lang") === "en")
      .join(quality, Seq("doc_id"))
      .where(col("quality_score") >= 0.62)
      .join(embNorm, Seq("doc_id"))
      .select("doc_id", "source", "n_chars", "quality_score", "emb_norm")
      .orderBy("doc_id")
  }

  /** `text_normalize` — the canonicalization pass that precedes
    * exact/near dedup in a training pipeline: lower-case, strip
    * non-alphanumerics, collapse runs of spaces, trim. Pure per-row
    * string projection — map-side, codegen'd, no shuffle.
    */
  def textNormalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")))
      .withColumn("n_tokens_norm", size(split(col("norm_text"), " ")))
      .orderBy("doc_id")

  /** `train_val_split` — deterministic stratified corpus split
    * (80/10/10) by a multiplicative hash of doc_id: engine-portable
    * arithmetic (products stay < 2^63, ANSI-safe) instead of an
    * engine-specific hash or RNG, so the assignment is reproducible
    * anywhere and stable under re-runs — the property a training
    * pipeline needs so val examples never leak into train between
    * runs. Map-side assignment; one aggregation shuffle for the
    * report.
    */
  def trainValSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // reduce doc_id mod P BEFORE the multiply: (id % P) * K stays
      // < 2^63 for any id, where the bare product ANSI-overflows past
      // id ≈ 3.5e9 (a real corpus id space). Identical output for
      // id < P, so the oracle is unchanged.
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")

  /** `stratified_sample` — deterministic per-stratum quota sampling,
    * the corpus-mixing primitive (cap the head language so the
    * training mix isn't 'en'-dominated; same shape serves per-source
    * or per-quality-tier quotas). A document survives iff its
    * portable multiplicative hash lands under its stratum's
    * per-mille quota — so the sample is a pure row-local predicate:
    * no shuffle, no RNG state, reproducible on any engine, and
    * (unlike `TABLESAMPLE`/`rand()`) STABLE under re-runs and corpus
    * appends — adding documents never flips the membership of
    * existing ones, which is what makes the sample safe to
    * incrementally maintain at 100 TB. Multiplier 2246822519
    * (xxHash prime 2) decorrelates these buckets from
    * [[trainValSplit]]'s 2654435761 stream over the same ids, so
    * sampling composes with splitting without bias; the mod-P-first
    * reduction keeps products < 2^63 (ANSI-safe past 31-bit ids).
    * Quotas here: 'en' (the ~2.5× head stratum) capped at 25%,
    * tails at 75% — which lands all five languages within a few
    * documents of each other on the driver corpus.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2246822519L)
          % lit(1000000007L)) % lit(1000))
      .where(col("bucket") <
        when(col("lang") === "en", lit(250)).otherwise(lit(750)))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** `mixture_sample` — temperature-weighted source mixing, the
    * data-mixing pass of pretraining corpus assembly: subsample each
    * source with probability ∝ n_s^(τ−1) so kept mass per source is
    * ∝ n_s^τ — large sources downweighted, small ones kept nearly
    * whole. τ = 1/2 deliberately: n^0.5 needs only `sqrt` (IEEE
    * correctly-rounded in every engine) where the textbook τ = 0.7
    * needs libm `pow`, which is NOT bit-reproducible across engines —
    * the same portability rule that keeps `bigram_novelty` out of
    * log-space. p_s = min(1, f·N/Z / √n_s) with Z = Σ√n_s and
    * target fraction f = 1/2; membership is a deterministic modular
    * hash of doc_id against the integer threshold ⌊p_s·2³¹⌉ —
    * append-stable like `stratified_sample`, and integer-compared so
    * the cut is exact cross-engine. Scale shape: one tiny per-source
    * aggregate broadcast back onto the scan; the corpus itself never
    * shuffles (row-local predicate). Oracle replicates the whole
    * computation from raw rows.
    */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.join(broadcast(mixtureThresholds(docs)), Seq("source"))
      .where(mixtureMember(col("doc_id"), col("ht")))
      .select(col("doc_id"), col("source"), col("n_s"), col("p_s"))
      .orderBy("doc_id")
  }

  /** The per-source threshold table (source, n_s, p_s, ht) behind
    * [[mixtureSample]] — factored out so S12
    * [[graft.streaming.StreamingMixture]] applies the IDENTICAL
    * weights to an arriving stream (the two gates must agree on what
    * the mixture is, the `GramHashExpr` sharing rule). Driver-small:
    * one row per source.
    */
  private[graft] def mixtureThresholds(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n_s"))
    // z = Σ√n_s on the 2⁻²⁰ grid: a plain double sum would fold in
    // partition order (the lloydStep lesson) — integer summands make
    // it associative, so both engines get the same z
    val totals = counts.agg(
      sum(col("n_s")).as("n"),
      (sum(floor(sqrt(col("n_s").cast("double")) * lit(1048576.0) + 0.5)
        .cast("long")).cast("double") / lit(1048576.0)).as("z"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_s", least(lit(1.0),
        lit(0.5) * col("n").cast("double") / col("z")
          / sqrt(col("n_s").cast("double"))))
      .withColumn("ht", floor(col("p_s") * lit(2147483648.0) + 0.5)
        .cast("long"))
      .select(col("source"), col("n_s"), r6(col("p_s")).as("p_s"),
        col("ht"))
  }

  /** The append-stable membership cut shared by the batch and
    * streaming mixture gates: modular hash of the id against the
    * integer threshold ⌊p_s·2³¹⌉. A document's verdict is a pure
    * function of (id, source threshold) — re-ingesting it, replaying
    * a micro-batch, or growing the corpus never flips it.
    */
  private[graft] def mixtureMember(id: Column, ht: Column): Column =
    pmod(pmod(id, lit(1048573L)) * lit(2654435761L)
      + pmod(id, lit(8191L)) * lit(131L),
      lit(2147483648L)) < ht

  /** `sample_per_source` — deterministic k-per-group uniform sample
    * (the distributed reservoir: rank every document by a portable
    * hash and keep each source's k smallest). Classic reservoir
    * sampling is sequential; the order-free reformulation — k
    * minimal hash ranks — is what distributes: the bounded
    * `graft_topk` aggregate carries an O(k) buffer through every
    * map-side partial and merge, so the exchange moves one ≤k-entry
    * state per (partition, source) no matter the corpus size, where
    * a window row_number would shuffle and sort every row. Hash
    * multiplier 3266489917 (xxHash prime 3) decorrelates the rank
    * stream from [[trainValSplit]] (2654435761) and
    * [[stratifiedSample]] (2246822519) over the same ids, so the
    * sample composes with both without bias; mod-P-first keeps
    * products < 2⁶³. Append-stable in the reservoir sense: a new
    * document displaces at most the current max rank, never
    * reshuffles the whole sample.
    */
  def samplePerSource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h",
        (col("doc_id") % lit(1000000007L)) * lit(3266489917L)
          % lit(1000000007L))
      .groupBy(col("source"))
      // negate: topk keeps (score desc, id asc) = (h asc, doc_id asc);
      // h < 2³⁰ round-trips the double score exactly
      .agg(graft.functions.TopKAgg.topk(s,
        -col("h").cast("double"), col("doc_id"), 20).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("source"), (col("r") + 1).cast("int").as("rank"),
        col("e.vec_id").as("doc_id"),
        (-col("e.score")).cast("long").as("h"))
      .orderBy("source", "rank")

  /** `corpus_shuffle` — global training-order assignment: every
    * document gets a unique position `pos` in the deterministic
    * pseudo-random permutation ordered by (portable hash, doc_id).
    * Pretraining needs the corpus globally shuffled, but a global
    * `row_number` is a single-partition sort — the one shape that
    * cannot scale. Instead the hash space is cut into fixed RANGES
    * (order-preserving, and uniform because the hash is): positions
    * are `bucket offset + within-bucket rank`, where the offsets come
    * from one 64-row count aggregate prefix-summed and broadcast
    * back, and the within-bucket ranks from a window partitioned by
    * bucket — ONE data shuffle (the range partitioning itself), with
    * per-partition sorts, exactly how a 100 TB sort distributes. The
    * oracle is the naive global row_number, which is what proves the
    * two-phase decomposition exact.
    */
  def corpusShuffle(s: SparkSession, d: String): DataFrame = {
    val p = 1000000007L
    val width = 15625001L // ceil(P / 64) — 64 order-preserving ranges
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"),
        ((col("doc_id") % lit(p)) * lit(668265263L) % lit(p)).as("h"))
      .withColumn("bucket", expr(s"h DIV $width"))
    val offsets = hashed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      // 64 rows: the unpartitioned window is driver-scale by design
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val wb = Window.partitionBy("bucket")
      .orderBy(col("h").asc, col("doc_id").asc)
    hashed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("pos", col("offset") + row_number().over(wb) - 1L)
      .select(col("doc_id"), col("h"), col("pos"))
      .orderBy("pos")
  }

  /** `importance_weights` — n-gram importance weighting for targeted
    * data selection (the DSIR idea — Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — in rational
    * form): score each document by how much its bigram mass comes
    * from a target slice (here source `src0`, standing in for the
    * high-quality target distribution). weight =
    * Σ df_target / Σ df_corpus over the doc's distinct bigrams —
    * integer document-frequency sums and ONE double division
    * (IEEE-exact both engines) instead of the textbook log-likelihood
    * ratio, the same no-transcendentals portability rule as
    * `tfidf_top_terms` and `bigram_novelty`. Scale shape: both df
    * counters ride one conditional aggregate over one bigram-keyed
    * shuffle (the corpus never moves twice), df table re-joined on
    * the same key — identical plan to `bigram_novelty`, which holds
    * linear through the measured decades.
    */
  def importanceWeights(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), explode(
        graft.functions.Bigrams.bigrams(s, col("toks"))).as("bg"))
    val dfTable = bg.groupBy(col("bg")).agg(
      count(lit(1)).as("df_all"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("df_target"))
    bg.join(dfTable, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("df_target")).as("sum_target_df"),
        sum(col("df_all")).as("sum_df"),
        r6(sum(col("df_target")).cast("double")
          / sum(col("df_all")).cast("double")).as("weight"))
      .orderBy("doc_id")
  }

  /** `dsir_sample` — the resampling half of DSIR (Xie et al. 2023):
    * [[importanceWeights]] scores target-likeness; this row DRAWS the
    * sample — accept document d iff u(d) < w(d)/τ with τ = 1/5, via a
    * fresh decorrelated hash stream (multiplier 1779033703, odd,
    * disjoint from the five xxHash-prime streams, so acceptance is
    * independent of the split/sample/shuffle/mixture buckets over the
    * same ids). The acceptance test is evaluated in EXACT integer
    * form — u < 5w  ⟺  h·Σdf < 5·Σdf_target·P — one cross-multiplied
    * comparison, no float anywhere, so the sampled set hash-gates.
    * Row-local once the weights exist, append-stable, reproducible on
    * any engine. Integer budget: h·Σdf < 2⁶³ up to per-doc df mass
    * ~9·10⁹ — beyond that, pre-reduce both sides by a common shift
    * (documented, not needed at any measured sf).
    */
  def dsirSample(s: SparkSession, d: String): DataFrame = {
    val p = 1000000007L
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      .join(importanceWeights(s, d)
        .select(col("doc_id"), col("sum_target_df"), col("sum_df"),
          col("weight")), Seq("doc_id"))
      .withColumn("h", (col("doc_id") % lit(p)) * lit(1779033703L) % lit(p))
      .where(col("h") * col("sum_df")
        < lit(5L) * col("sum_target_df") * lit(p))
      .select(col("doc_id"), col("source"), col("lang"), col("weight"))
      .orderBy("doc_id")
  }

  /** `pack_sequences` — token-budget sequence packing (the batch
    * shaping pass of LLM pretraining): stream docs per lang in doc_id
    * order, accumulate token counts, and cut a new pack every 512
    * tokens. Expressed as an exclusive prefix sum over a window plus
    * integer binning — one shuffle on the partition key, no iteration,
    * works identically at any scale (each lang stream packs
    * independently; at 100 TB partition by (lang, shard) to bound
    * window state).
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 512
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("off") / budget))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  /** `ngram_stats` — corpus-wide top-20 bigrams by document
    * frequency: the vocabulary/collocation profile pass of corpus
    * analysis. Distinct-per-doc explode → count → top-k with a
    * deterministic (count desc, bigram asc) tie-break; lowers to
    * TakeOrderedAndProject, so only 20×partitions rows move.
    */
  def ngramStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.Bigrams.bigrams(s, col("toks"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("bigram").asc)
      .limit(20)

  /** `tfidf_top_terms` — each document's most characteristic term by
    * tf × (N / df) with a *rational* idf (no transcendental: ln is
    * not bit-standardized across engines, a ratio of counts is).
    * Shape: per-doc term counts → document frequencies → score +
    * per-doc argmax. df is a term-keyed aggregate joined back — at
    * 100 TB that join shuffles only (term, df) pairs.
    */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n"))
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df derives from tf (one tf row per (doc, term) ⇒ rows per term
    // = docs containing the term): no second corpus explode, and the
    // df aggregation reads the already-reduced tf set
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // per-doc argmax as ONE hash aggregation: min over
    // struct(-score, term, score) is lexicographic, so it picks the
    // highest score with the term-ascending tie-break — same row the
    // (score desc, term asc) row_number window selected, without the
    // window's shuffle+sort pass (scores are > 0, so -score is
    // ordinary double ordering; map-side partials apply)
    tf.join(df, Seq("term"))
      .join(broadcast(nDocs), lit(true))
      .withColumn("score", r6(col("tf") * col("n") / col("df")))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("term"),
        col("score"))).as("best"))
      .select(col("doc_id"), col("best.term").as("top_term"),
        col("best.score").as("score"))
      .orderBy("doc_id")
  }

  /** `source_quality` — the per-source corpus report card: document
    * count, total characters, mean document length in tokens, share
    * of English documents, and the within-source exact-duplicate rate
    * — the one-page summary a curation run reads before deciding
    * per-source mixture weights (`mixture_sample`) and filters
    * (`corpus_filter`). Counts are exact integers; the two ratios are
    * fixed-op-order IEEE over exact ints, r6'd — fully hash-gated.
    *
    * Scale shape: token counts are a row-local `size(split(...))`;
    * the duplicate rate rides a (source, digest) count (8-byte digest
    * keys, the `dedup_exact_digest` posture — text never shuffles);
    * one final 5-row aggregation per source.
    */
  def sourceQuality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("digest", xxhash64(col("text")))
    val dupRows = docs.groupBy(col("source"), col("digest"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("source"))
      // duplicates = rows beyond each digest's first occurrence
      .agg(sum(col("k") - 1L).as("n_dups"))
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_toks"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .join(dupRows, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        r6(col("total_toks").cast("double") / col("n_docs"))
          .as("mean_toks"),
        r6(col("n_en").cast("double") / col("n_docs")).as("pct_en"),
        col("n_dups"),
        r6(col("n_dups").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy("source")
  }

  /** `vocab_drift` — distribution drift between two corpus slices as
    * a per-token two-sample chi-square: the data-drift monitor a
    * training pipeline runs between yesterday's and today's drop (or
    * here, between the deterministic train and val splits — the same
    * hash buckets `train_val_split` carves, so the slices are
    * reproducible). For each token with ≥ 20 total occurrences,
    * χ² = (o_t − e_t)²/e_t + (o_v − e_v)²/e_v against the pooled
    * expectation; the top-20 by (χ², token) are the vocabulary's most
    * drifted items. Entirely RATIONAL arithmetic (counts, one fixed
    * double op sequence) — no log anywhere, so the row hash-gates
    * with no transcendental fence at all: the cheapest-to-port member
    * of the drift/association family (`cooccurrence_pmi` needs the
    * monotone-ratio trick, `bm25_rank` the idf fence; this needs
    * nothing).
    *
    * Scale shape: one corpus explode → (token, slice) counts → a
    * token-keyed 24-byte-row aggregation; totals ride a 1-row
    * broadcast; top-20 via TakeOrderedAndProject.
    */
  def vocabDrift(s: SparkSession, d: String): DataFrame = {
    val p = 1000000007L
    val toks = Tables.documents(s, d)
      .withColumn("bucket",
        (col("doc_id") % p) * lit(2654435761L) % p % 10)
      .where(col("bucket") <= 8) // train (0-7) vs val (8); test held out
      .withColumn("is_val", (col("bucket") === 8).cast("int"))
      .select(col("is_val"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      sum(when(col("is_val") === 0, 1L).otherwise(0L)).as("o_t"),
      sum(when(col("is_val") === 1, 1L).otherwise(0L)).as("o_v"))
    val totals = counts.agg(
      sum(col("o_t")).as("n_t"), sum(col("o_v")).as("n_v"))
    counts.where(col("o_t") + col("o_v") >= 20)
      .join(broadcast(totals), lit(true))
      .withColumn("e_t",
        (col("o_t") + col("o_v")).cast("double") * col("n_t").cast("double")
          / (col("n_t") + col("n_v")).cast("double"))
      .withColumn("e_v",
        (col("o_t") + col("o_v")).cast("double") * col("n_v").cast("double")
          / (col("n_t") + col("n_v")).cast("double"))
      .withColumn("chi2",
        (col("o_t") - col("e_t")) * (col("o_t") - col("e_t")) / col("e_t")
          + (col("o_v") - col("e_v")) * (col("o_v") - col("e_v")) / col("e_v"))
      .orderBy(col("chi2").desc, col("tok").asc)
      .limit(20)
      .select(col("tok"), col("o_t"), col("o_v"), r6(col("chi2")).as("chi2"))
      .orderBy("tok")
  }

  /** `cooccurrence_pmi` — top-20 collocations by pointwise mutual
    * information (Church & Hanks '90): adjacent token pairs whose
    * joint occurrence beats the independence expectation —
    * pmi = log₂( (c_xy/N_pairs) / ((c_x/N_tok)·(c_y/N_tok)) ), with a
    * c_xy ≥ 5 floor against singleton noise. The association-strength
    * layer over `ngram_stats`' raw counts (which surface frequency,
    * not attraction).
    *
    * Portability posture: the RANKING never touches the log — rows
    * order by the exact rational ratio (log₂ is monotone, so the
    * order is identical), built from integer counts with one fixed
    * double op sequence; the displayed pmi applies log₂ to that
    * already-identical double and lands on the r6 grid. So unlike
    * `bm25_rank` (where the fenced idf feeds further arithmetic), a
    * last-ulp log disagreement here cannot even reorder rows.
    *
    * Scale shape: occurrence bigrams come from one compiled pass
    * (`graft_bigrams_all` — the non-distinct sibling of the shingle
    * family), counts ride two (key, count) aggregations; the marginal
    * joins are vocab-sized (AQE picks broadcast at any realistic
    * vocab; a web-scale vocab shuffles 16-byte pairs), the two 1-row
    * totals broadcast, and the final top-20 is a
    * TakeOrderedAndProject — no global sort materializes.
    */
  def cooccurrencePmi(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(split(col("text"), " ").as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
    val cx = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(count(lit(1)).as("n_tok"))
    val pairs = toks
      .select(explode(
        graft.functions.BigramsAll.bigramsAll(s, col("toks"))).as("bg"))
    val cxy = pairs.groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    cxy.where(col("c_xy") >= 5)
      .withColumn("w1", split(col("bg"), " ")(0))
      .withColumn("w2", split(col("bg"), " ")(1))
      .join(cx.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(cx.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .join(broadcast(nTok), lit(true))
      .join(broadcast(nPairs), lit(true))
      // fixed op order; c_x*c_y stays exact in long (< 2^62)
      .withColumn("ratio",
        col("c_xy").cast("double") * col("n_tok").cast("double")
          * col("n_tok").cast("double") / col("n_pairs").cast("double")
          / (col("c_x") * col("c_y")).cast("double"))
      .orderBy(col("ratio").desc, col("w1").asc, col("w2").asc)
      .limit(20)
      .select(col("w1"), col("w2"), col("c_xy"),
        r6(log2(col("ratio"))).as("pmi"))
      // presentation order over the 20 kept rows (the top-k cut
      // itself ordered on the exact ratio above)
      .orderBy("w1", "w2")
  }

  /** `entropy_stats` — per-document token Shannon entropy: the
    * information-density quality signal (near-zero entropy = keyword
    * stuffing / boilerplate loops, the gibberish axis `text_quality`'s
    * ratio features miss). H = log₂(dl) − (Σ c·log₂ c)/dl over the
    * token histogram — the standard plug-in estimator in its
    * grouped form.
    *
    * Portability: the Σ c·log₂ c term would be a shuffle-order double
    * fold; instead each distinct count contributes the INTEGER
    * c·⌊log₂(c)·10⁶⌉, so the sum is exact 64-bit arithmetic (order-
    * free in any engine) and the two log₂ calls per output row land
    * on the shared 6-dp grid before use — the `bm25_rank` ln fence
    * applied to entropy. Counts are small ints, so the quantized
    * products stay far under 2⁶³ (ANSI-safe).
    *
    * Scale shape: one explode + (doc, token) count — the same
    * exchange `map_funcs`/`tfidf_top_terms` pay — then a per-doc
    * aggregation of 16-byte rows. The per-doc histogram never
    * materializes as a map column.
    */
  def entropyStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("dl"),
        count(lit(1)).as("n_distinct"),
        sum(expr("c * CAST(floor(log2(CAST(c AS DOUBLE)) * 1000000 + 0.5)" +
          " AS BIGINT)")).as("q"))
      .select(col("doc_id"), col("dl"), col("n_distinct"),
        r6(expr(
          """floor(log2(CAST(dl AS DOUBLE)) * 1000000 + 0.5) / 1000000
             - (CAST(q AS DOUBLE) / 1000000.0) / CAST(dl AS DOUBLE)"""))
          .as("token_entropy"))
      .orderBy("doc_id")

  /** `bm25_rank` — Okapi BM25 retrieval (Robertson et al., TREC-3)
    * over the corpus for a fixed 3-term query: the ranking function
    * behind benchmark-decontamination lookups and quality-filter
    * retrieval where `tfidf_top_terms`'s raw tf·N/df over-weights
    * long documents and unsaturated term counts. k1 = 1.2, b = 0.75
    * (the standard operating point); idf is the Lucene-style
    * ln(1 + (N − df + 0.5)/(df + 0.5)), always positive.
    *
    * Portability: BM25 is the repo's one transcendental-bearing gated
    * row, and the ln is fenced the same way `winsorized_stats` fences
    * its percentile bounds — each term's idf (3 values total, from
    * integer N/df) is rounded to the shared 6-dp grid BEFORE use, so
    * any last-ulp ln() disagreement between engines is absorbed at
    * three fixed points rather than per row; every downstream op is a
    * correctly-rounded IEEE step over identical doubles in one
    * written order, and the per-document term sum runs in FIXED query
    * order (three conditional columns added left to right — never a
    * shuffle-order double fold). avgdl = Σdl/N is one exact-int
    * division.
    *
    * Scale shape: per-term tf comes from a row-local array scan of
    * the already-split tokens (a 3-term query never justifies the
    * corpus-wide explode — `tfidf_top_terms` pays that because it
    * scores EVERY term); the (N, Σdl, df) constants ride ONE 1-row
    * aggregate broadcast back; the global top-20 is the bounded
    * `graft_topk` aggregate (O(k) state, no global sort).
    */
  def bm25Rank(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .groupBy()
      .agg(graft.functions.TopKAgg.topk(s,
        col("score"), col("doc_id"), 20).as("tk"))
      .select(posexplode(col("tk")).as(Seq("r", "e")))
      .select((col("r") + 1).cast("int").as("rank"),
        col("e.vec_id").as("doc_id"), r6(col("e.score")).as("score"))
      .orderBy("rank")

  /** The BM25 scoring pass behind [[bm25Rank]] (and the lexical leg
    * of `rrf_fusion`): every doc with score > 0 for the fixed 3-term
    * query, raw (un-r6'd) scores — cross-engine identical doubles by
    * the idf-fence argument in [[bm25Rank]]'s scaladoc.
    */
  private[graft] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("spark", "merge", "window")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val withTf = qTerms.foldLeft(base) { (df, t) =>
      df.withColumn(s"tf_$t",
        size(filter(col("toks"), x => x === lit(t))).cast("long"))
    }.drop("toks")
    val constAggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens")) ++
        qTerms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val consts = withTf.agg(constAggs.head, constAggs.tail: _*)
    val scored0 = withTf.join(broadcast(consts), lit(true))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs"))
    val scored = qTerms.foldLeft(scored0) { (df, t) =>
      // idf on the 6-dp grid BEFORE use (see scaladoc)
      df.withColumn(s"idf_$t", r6(log(
          (col("n_docs") - col(s"df_$t") + lit(0.5))
            / (col(s"df_$t") + lit(0.5)) + lit(1.0))))
        .withColumn(s"c_$t", when(col(s"tf_$t") > 0,
          col(s"idf_$t") * (col(s"tf_$t").cast("double") * lit(2.2))
            / (col(s"tf_$t").cast("double")
              + lit(1.2) * (lit(0.25)
                + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
          .otherwise(lit(0.0)))
    }
    // fixed-order sum: c_spark + c_merge + c_window, never a fold
    scored.withColumn("score",
      qTerms.map(t => col(s"c_$t")).reduceLeft(_ + _))
      .where(col("score") > 0.0)
      .select(col("doc_id"), col("score"))
  }

  /** `doc_fingerprint` — rolling polynomial hash over the token
    * stream (mod 1e9+7): a cheap content fingerprint for incremental
    * dedup ledgers. Pure 64-bit integer folds ⇒ bit-exact in any
    * engine.
    */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("codes", expr(
        "transform(split(text, ' '), t -> CAST(ascii(t) * 31 + length(t) AS BIGINT))"))
      .withColumn("fingerprint", expr(
        "aggregate(codes, 0L, (acc, v) -> (acc * 131 + v) % 1000000007)"))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  /** The benchmark slice for [[decontaminate]]: four named sources
    * stand in for held-out evaluation sets. At 100 TB the benchmark
    * side is a separate small table (eval suites are MBs), which is
    * why its distinct-gram set is broadcast below.
    */
  private val benchmarkSources = Seq("src0", "src1", "src2", "src3")

  /** Distinct 8-token contiguous shingles of a `toks` array, hashed to
    * 8-byte keys — shared by batch [[decontaminate]] and the S9
    * streaming twin (`streaming/StreamingDecontaminate`): the two
    * sides must shingle identically or the streaming gate would pass
    * what the batch gate catches.
    */
  private[graft] val GramHashExpr =
    """transform(sequence(0, size(toks) - 8),
         i -> xxhash64(array_join(slice(toks, i + 1, 8), ' ')))"""

  /** `decontaminate` — benchmark-contamination detection, the
    * eval-leakage gate every pretraining pipeline runs before
    * training: flag every candidate document that shares at least one
    * contiguous 8-token shingle with the benchmark slice, with the
    * count of distinct shared shingles as evidence. 8 tokens over a
    * ~30-token vocabulary is far past the random-collision horizon
    * (30⁸ ≈ 6.5·10¹¹ possible grams vs ~2·10⁵ realized at sf0.1), so
    * every hit is true leakage — here the injected near-dup copies
    * whose source landed outside the benchmark slice.
    *
    * Scale shape: grams ship as 8-byte xxhash64 keys, never strings
    * (the dedup_exact_digest collision posture); the benchmark gram
    * set is distinct-reduced then BROADCAST — the corpus side never
    * shuffles, the whole query is scan → hash-semi-probe → per-doc
    * count, embarrassingly parallel over corpus splits. The oracle
    * joins the raw gram strings, independently confirming the hashed
    * join loses nothing.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 8)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr(GramHashExpr))).as("gk"))
    val bench = grams
      .where(col("source").isin(benchmarkSources: _*))
      .select("gk").distinct()
    grams
      .where(!col("source").isin(benchmarkSources: _*))
      .join(broadcast(bench), Seq("gk"))
      // gram keys are distinct per doc and distinct in bench, so each
      // join row IS one distinct shared shingle
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** `decontaminate_fuzzy` — NEAR-match benchmark contamination (the
    * fuzzy half of the eval-leakage gate): a paraphrased or
    * lightly-edited benchmark item shares no exact 8-token shingle
    * with its source, so [[decontaminate]] misses it — but its
    * 3-shingle Jaccard against the benchmark doc stays high. This is
    * the MinHash decontamination pass the open-data pipelines run
    * beside the exact-gram one (Dolma and FineWeb both ship exactly
    * this pair of gates). Candidates come from the banded
    * portable-MinHash buckets ([[portableMinhashScored]]), are
    * confirmed by exact Jaccard ≥ 0.5 over the same portable
    * shingle-hash sets, and only corpus↔benchmark pairs count —
    * corpus-internal near-dups are [[dedupNear]]'s business. Reports,
    * per contaminated corpus doc: how many benchmark docs it matches
    * and the best match (highest Jaccard, smallest bench_id on ties).
    *
    * Fully portable arithmetic end to end (the
    * `dedup_minhash_portable` posture), so the fuzzy gate itself
    * hash-gates cross-engine. Scale shape: the candidate join is the
    * banded-LSH bucket join (never corpus×benchmark), the exact
    * re-score touches candidates only, and the per-doc best rides the
    * bounded `graft_topk` aggregate. At 100 TB the benchmark side is
    * MBs, so nearly every band bucket is corpus-only and prunes
    * before the pair stage.
    */
  def decontaminateFuzzy(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    def isB(c: Column): Column = c.isin(benchmarkSources: _*)
    portableCandidatesExact(s, d)
      .join(src.select(col("doc_id").as("i"), col("source").as("src_i")),
        Seq("i"))
      .join(src.select(col("doc_id").as("j"), col("source").as("src_j")),
        Seq("j"))
      .where(isB(col("src_i")) =!= isB(col("src_j")))
      .where(col("jaccard") >= 0.5)
      .select(
        when(isB(col("src_i")), col("j")).otherwise(col("i")).as("doc_id"),
        when(isB(col("src_i")), col("i")).otherwise(col("j")).as("bench_id"),
        col("jaccard"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        graft.functions.TopKAgg.topk(s,
          col("jaccard"), col("bench_id"), 1).as("tk"))
      .select(col("doc_id"), col("n_bench_matches"),
        col("tk").getItem(0).getField("vec_id").as("bench_id"),
        col("tk").getItem(0).getField("score").as("jaccard"))
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for `decontaminate_fuzzy`: the full portable
    * MinHash pipeline (signatures, band keys, candidate join, exact
    * Jaccard) replayed from raw text, then the cross-benchmark
    * filter and per-doc best-match fold. Benchmark sources and the
    * 0.5 cut are shared with the Spark side via this generator.
    */
  private[graft] def decontaminateFuzzyOracleSql: String = {
    val bset = benchmarkSources.map(x => s"'$x'").mkString(", ")
    s"""WITH docs AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE len(string_split(text, ' ')) >= 3),
         th AS (SELECT doc_id,
                  [CAST(ascii(t) AS BIGINT) * 17161
                   + CAST(ascii(reverse(t)) AS BIGINT) * 131
                   + length(t) for t in toks] AS th FROM docs),
         shs AS (SELECT doc_id, list_distinct(
                  [(th[i] * 131 + th[i + 1]) * 131 + th[i + 2]
                   for i in range(1, len(th) - 1)]) AS shs FROM th),
         sigs AS (SELECT doc_id,
                  [list_aggregate([((2 * m + 3) * h + 7 * m + 1) % 1000000000037
                                   for h in shs], 'min')
                   for m in range(0, 16)] AS sig FROM shs),
         banded AS (SELECT doc_id, b,
                  list_reduce(list_prepend(0::BIGINT,
                      [sig[b * 4 + r] for r in range(1, 5)]),
                    (acc, v) -> (acc * 131 + v) % 1000000000000037) AS bk
                  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
         cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
                  FROM banded x JOIN banded y
                    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
         ex AS (SELECT c.i, c.j,
                  len(list_filter(sa.shs, x -> list_contains(sb.shs, x)))
                    AS inter,
                  len(sa.shs) AS na, len(sb.shs) AS nb
                FROM cand c JOIN shs sa ON sa.doc_id = c.i
                            JOIN shs sb ON sb.doc_id = c.j),
         jc AS (SELECT i, j,
                  floor((inter / (na + nb - inter)) * 1000000 + 0.5)
                    / 1000000 AS jaccard
                FROM ex),
         lab AS (SELECT doc_id, source IN ($bset) AS isb FROM documents),
         cj AS (SELECT CASE WHEN li.isb THEN p.j ELSE p.i END AS doc_id,
                  CASE WHEN li.isb THEN p.i ELSE p.j END AS bench_id,
                  p.jaccard
                FROM jc p JOIN lab li ON li.doc_id = p.i
                          JOIN lab lj ON lj.doc_id = p.j
                WHERE li.isb <> lj.isb AND p.jaccard >= 0.5),
         n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches
               FROM cj GROUP BY 1),
         rk AS (SELECT doc_id, bench_id, jaccard,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY jaccard DESC, bench_id ASC) AS r FROM cj)
         SELECT n.doc_id AS doc_id, n.n_bench_matches, rk.bench_id,
                rk.jaccard
         FROM n JOIN rk ON rk.doc_id = n.doc_id AND rk.r = 1
         ORDER BY n.doc_id"""
  }

  /** `repetition_stats` — Gopher-style repetition quality metrics per
    * document: duplicate-token fraction and the fraction of bigram
    * slots occupied by the single most frequent bigram (boilerplate /
    * degenerate-generation signals used to filter pretraining data).
    *
    * The per-doc bigram mode is computed ENTIRELY map-side: sort the
    * doc's bigram array and take the longest equal-adjacent run with
    * one `aggregate` fold — no explode, no shuffle, the whole query is
    * a single codegen'd projection over the scan (documents are
    * bounded at ~100 tokens, so the per-row sort is O(k log k) on a
    * tiny k). The exploded groupBy(doc, bigram) alternative shuffles
    * every bigram occurrence in the corpus — at 100 TB that's the
    * difference between a map-only pass and the corpus's largest
    * shuffle.
    */
  def repetitionStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("bg", expr(
        """array_sort(transform(sequence(0, size(toks) - 2),
             i -> concat(toks[i], ' ', toks[i + 1])))"""))
      .withColumn("top_c", expr(
        """CASE WHEN size(bg) < 2 THEN 1L ELSE
             aggregate(sequence(1, size(bg) - 1),
               named_struct('run', 1L, 'best', 1L),
               (acc, i) -> IF(bg[i] = bg[i - 1],
                 named_struct('run', acc.run + 1L,
                              'best', greatest(acc.best, acc.run + 1L)),
                 named_struct('run', 1L, 'best', acc.best)),
               acc -> acc.best)
           END"""))
      .select(
        col("doc_id"), col("n_tokens"),
        r6(lit(1.0) - size(array_distinct(col("toks"))) / col("n_tokens"))
          .as("dup_token_frac"),
        r6(col("top_c") / (col("n_tokens") - 1L)).as("top_bigram_frac"))
      .orderBy("doc_id")

  /** `chunk_documents` — fixed-size sliding-window chunking (32-token
    * windows, stride 24 ⇒ 8-token overlap): the context-window
    * preparation step that turns documents into training sequences,
    * the inverse of `pack_sequences`' short-doc binning. Row-local
    * explode of per-doc start offsets — no shuffle beyond the
    * presentation sort, chunk count scales with corpus tokens.
    */
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    chunks(s, d).orderBy("doc_id", "chunk_idx")

  /** [[chunkDocuments]] without the presentation sort — the form
    * internal consumers compose over (the near-dup-pair lesson:
    * every consumer that re-aggregates must not inherit a range
    * exchange it immediately destroys).
    */
  private def chunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0, size(toks) - 1, 24)")).as("st"))
      .select(
        col("doc_id"),
        expr("CAST(st DIV 24 AS BIGINT)").as("chunk_idx"),
        least(lit(32), col("n") - col("st")).cast("int").as("chunk_len"),
        expr("array_join(slice(toks, st + 1, 32), ' ')").as("chunk_text"))

  /** `bigram_novelty` — cross-corpus rarity scoring: each document's
    * mean corpus document-frequency over its distinct bigrams. The
    * language-model-free perplexity proxy: a LOW mean-df document is
    * built from bigrams few other documents use (novel — or noise),
    * a HIGH one from boilerplate-common ones; both tails get routed
    * to review in a pretraining mix. Deliberately avoids log-space
    * (a true logprob score): `ln` is libm-dependent and not
    * bit-reproducible across engines, while integer df sums and one
    * double division are — which is what keeps this row hash-gated.
    * Complements `repetition_stats` (intra-doc signal) with the
    * cross-doc one.
    *
    * Scale shape: the df table is vocabulary²-bounded, which on THIS
    * corpus's ~30-token vocabulary makes it tiny — but on natural
    * text the distinct-bigram count grows roughly with corpus size,
    * so the join strategy is deliberately left to AQE rather than
    * force-broadcast: a small df table still broadcasts at runtime
    * (AQE sees the post-aggregation size), a large one falls back to
    * a partitioned join on `bg` — the key the aggregation already
    * hashed on. One bigram-keyed aggregation is the only guaranteed
    * corpus shuffle.
    */
  def bigramNovelty(s: SparkSession, d: String): DataFrame = {
    // bigram keys reduce to 8-byte xxhash64 BEFORE the shuffle (the
    // dedup_exact_digest posture: a collision could only merge two
    // bigrams' df counts, and the string-replaying oracle hash-gates
    // the result at every oracle sf), and df attaches as a window
    // count over the bigram-keyed partition instead of a
    // re-aggregate-and-join-back — the r13 marginal-rejoin removal
    // (guide §2.4): one exchange on the 8-byte key serves both the
    // df count and the per-doc fold, no second aggregate build, no
    // join. Per-key window groups are df-sized and spill-safe.
    val bg = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          """transform(sequence(0, size(toks) - 2),
               i -> concat(toks[i], ' ', toks[i + 1]))"""))).as("bgs"))
      .select(col("doc_id"), xxhash64(col("bgs")).as("bg"))
    bg.withColumn("df",
        count(lit(1)).over(Window.partitionBy("bg")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        r6(sum(col("df")).cast("double") / count(lit(1))).as("mean_df"))
      .orderBy("doc_id")
  }

  /** `dedup_chunks` — cross-corpus chunk-granularity dedup (the
    * C4-style "drop repeated spans" pass, at `chunk_documents`'
    * window granularity): a chunk is a duplicate when an identical
    * chunk exists earlier in the corpus; the survivor is the
    * lexicographically first (doc_id, chunk_idx). Reports per-doc
    * chunk and duplicate counts — the mass a span-level dedup would
    * remove beyond whole-document dedup.
    *
    * Scale shape: chunk text reduces to an 8-byte xxhash64 digest
    * BEFORE any shuffle (the dedup_exact_digest posture — the
    * groupBy and the keeper join both move 24-byte rows, never
    * text); the oracle recomputes over raw chunk strings, proving
    * the digest join loses nothing.
    */
  def dedupChunks(s: SparkSession, d: String): DataFrame = {
    val ch = chunks(s, d)
      .select(col("doc_id"), col("chunk_idx"),
        xxhash64(col("chunk_text")).as("digest"))
    val keeper = ch.groupBy("digest")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
    ch.join(keeper, Seq("digest"))
      .withColumn("is_dup",
        col("doc_id") =!= col("k.doc_id")
          || col("chunk_idx") =!= col("k.chunk_idx"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** Modulus for the 8-token passage-shingle polynomial fold: the
    * running value stays < 10¹⁵+37, so each `acc·131 + th` step peaks
    * at ~1.3·10¹⁷ + 1.9·10¹⁰ — comfortably inside 2⁶³ under ANSI
    * mode, and identical arithmetic in DuckDB's BIGINT. */
  private val passageMod = 1000000000000037L

  /** `duplicate_passages` — per-document CROSS-corpus passage
    * duplication profile (the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" diagnostic): for every
    * 8-token window, does that exact passage occur in any OTHER
    * document? Reports, per doc, the window count, how many windows
    * are shared, and the shared fraction — the statistic an exact
    * substring-dedup pass cuts on. Complements the whole-doc and
    * chunk granularities (`dedup_exact`, `dedup_chunks`): a boilerplate
    * header repeated across thousands of crawl pages shows up here
    * long before whole documents or 200-char chunks collide.
    * Intra-doc repetition deliberately does NOT count (that is
    * `repetition_stats`' job): a window's occurrences across
    * DISTINCT docs must be ≥ 2.
    *
    * Scale shape: windows reduce to an 8-token polynomial hash over
    * the portable token-hash chain ([[graft.functions.PortableTokenHash]]
    * — the compiled kernel both portable LSH rows ride), so nothing
    * wider than (doc_id, 8-byte key) crosses an exchange, and the
    * text column is scanned + tokenized exactly ONCE: the document
    * frequency rides a count-over-window on the (doc_id, key) rows
    * (partition by key — groups are posting lists, small) instead of
    * a separate aggregate joined back, which would re-derive the
    * postings from a second full scan (at 100 TB the text scan IS
    * the cost; plan-pinned single-scan in PlanShapeSpec). Exchanges:
    * (doc_id, key) → key → doc_id, all 16-byte rows.
    * The DuckDB oracle replays the full hash arithmetic from raw
    * text, so the row hash-gates like the other portable-family ops.
    */
  /** `shared_substrings` — the EXACT-SUBSTRING dedup shape (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": ExactSubstr removes verbatim runs ≥ 50 tokens that
    * suffix arrays find): the top-20 document pairs by LONGEST shared
    * verbatim token run, with the count of aligned 8-token window
    * matches. Where [[duplicatePassages]] counts repeated chunks and
    * [[dedupNear]] scores set overlap, this measures CONTIGUOUS
    * copying — the quotes/mirrors/license-header class.
    *
    * Distributed formulation (no suffix array, same answer for runs
    * ≥ the 8-token window): rolling windows (doc, pos) → postings by
    * window value → cross-doc aligned matches (i, j, pi, pj) → runs
    * are maximal chains of consecutive positions on one DIAGONAL
    * (pi − pj constant; islands via the pos − row_number trick, an
    * O(n) running window per (i,j,diag)) — a run of L shared tokens
    * is L−7 consecutive window matches, so max_run_tokens =
    * longest_island + 7, exact.
    *
    * Scale: the pair stream is the dedup_near posting-list unit (a
    * viral boilerplate window = a hot posting list, one task's
    * C(k, 2)); the diagonal pass shuffles
    * once on (i, j) and its windows are running frames. At 100 TB,
    * gate candidate pairs through banded MinHash first and run this
    * as the aligner on survivors — the pipeline Lee et al. describe,
    * re-expressed as three shuffles.
    */
  def sharedSubstrings(s: SparkSession, d: String): DataFrame =
    substringRuns(s, d).groupBy(col("i"), col("j"))
      .agg((max(col("len_wins")) + 7L).as("max_run_tokens"),
        sum(col("len_wins")).as("n_shared_windows"))
      .orderBy(col("max_run_tokens").desc, col("i").asc, col("j").asc)
      .limit(20)

  /** The maximal cross-doc diagonal runs shared by
    * [[sharedSubstrings]] (top-pairs report) and
    * [[dedupSubstringRemoval]] (the removal pass): one row per
    * maximal chain of consecutive aligned 8-token window matches —
    * `(i, j, diag, len_wins, pi_start)` with `pi_start` the run's
    * first window position in doc i (doc j's is `pi_start − diag`).
    * A run of L shared tokens is L−7 consecutive window matches, so
    * the covered token span is [start, start + len_wins + 6], exact.
    *
    * Memoized per (session, corpus) like the pair silver — TWO
    * registered consumers (`shared_substrings`,
    * `dedup_substring_removal`) read the identical runs, and the runs
    * table is maximal-chain rows (hundreds), far smaller than the
    * window pass that builds it.
    */
  private[graft] def substringRuns(s: SparkSession, d: String): DataFrame = {
    val src = s.conf.get(SubstrSourceConf, "auto") match {
      case "auto"                       => substrSourceRoute(s, d)
      case v @ ("exact" | "minhash")    => v
      case other => throw new IllegalArgumentException(
        s"$SubstrSourceConf must be auto|exact|minhash, got '$other'")
    }
    def build =
      if (src == "minhash") substringRunsBanded(s, d)
      else substringRunsUncached(s, d)
    graft.engine.SessionMemo.getOrBuild(s,
      "substring_runs|" + src + "|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(build)
  }

  /** Session conf routing the substring ALIGNER's input
    * (`shared_substrings`, `dedup_substring_removal`, and
    * `dedup_cascade`'s substring stage — everything that reads
    * [[substringRuns]]): `auto` (default) routes on the corpus-stats
    * doc count exactly like [[PairSourceConf]]; `exact` pins the full
    * window-posting pair explode; `minhash` pins the banded-candidate
    * gate ([[substringRunsBanded]]). The [[dedupPairsRouted]]
    * precedent applied one operator down the Lee et al. pipeline.
    */
  val SubstrSourceConf = "spark.graft.substr.source"

  /** Which aligner input [[substringRuns]]' auto route picks — same
    * memoized stats job and the same measured crossover as
    * [[pairSourceRoute]]: the aligner's window-posting pair stream is
    * the dedup_near posting-list unit (ScaleSweep: ~90–102×/decade,
    * non-terminating around half a million docs), so the doc count
    * where the exact pair silver stops being safe is the doc count
    * where the exact window explode stops being safe.
    */
  private[graft] def substrSourceRoute(s: SparkSession, d: String): String =
    if (corpusPairStats(s, d).n >= PairSourceCrossoverDocs) "minhash"
    else "exact"

  /** The 8-token window stream both aligner inputs share:
    * `(doc_id, pos, wh)` with `wh` the xxhash64 of the space-joined
    * window — 8-byte keys on every downstream shuffle, text never
    * leaves the map side.
    */
  private def docWindows(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 7),
             p -> struct(p AS pos,
                         xxhash64(array_join(slice(toks, p, 8), ' ')) AS wh))"""))
        .as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))

  /** Maximal diagonal runs from an aligned window-match pair stream
    * `(i, j, pi, pj)` — the islands-in-diagonals pass shared verbatim
    * by the exact and banded aligner inputs, so the run semantics
    * cannot drift between routes.
    */
  private def runsFromAlignedPairs(pairs: DataFrame): DataFrame = {
    val wDiag = Window.partitionBy("i", "j", "diag").orderBy("pi")
    pairs
      .withColumn("diag", col("pi") - col("pj"))
      .withColumn("island", col("pi") - row_number().over(wDiag))
      .groupBy(col("i"), col("j"), col("diag"), col("island"))
      .agg(count(lit(1)).as("len_wins"), min(col("pi")).as("pi_start"))
      .select("i", "j", "diag", "len_wins", "pi_start")
  }

  private[graft] def substringRunsUncached(s: SparkSession,
      d: String): DataFrame = {
    val wins = docWindows(s, d)
    val lists = wins.groupBy(col("wh"))
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("ms"))
      .where(size(col("ms")) > 1)
    // map-side aligned-pair explode (i < j with both positions);
    // k² per posting list, the countedPairs posture — cap hot window
    // values the same way on viral boilerplate
    val pairs = lists.select(explode(expr(
      """flatten(transform(ms, a -> filter(transform(ms, b ->
           IF(a.doc_id < b.doc_id,
              struct(a.doc_id AS i, b.doc_id AS j,
                     a.pos AS pi, b.pos AS pj),
              CAST(NULL AS
                struct<i:bigint,j:bigint,pi:int,pj:int>))),
           x -> x IS NOT NULL)))""")).as("p"))
      .select(col("p.i"), col("p.j"), col("p.pi"), col("p.pj"))
    runsFromAlignedPairs(pairs)
  }

  /** The banded aligner input — the Lee et al. 2022 published order
    * (§3: cluster with MinHash first, align inside clusters): window
    * postings are restricted to banded-MinHash CANDIDATE doc pairs
    * ([[minhashCandidateIds]] — the pre-verify candidate set, NOT the
    * ≥ 0.8-verified silver: a ≥ 50-token shared span needn't clear
    * whole-doc Jaccard 0.8, so gating through the verified pairs
    * would structurally under-recall) before any pair explode
    * happens. Instead of exploding Σ C(k,2) per window value, each
    * candidate pair pulls doc i's windows (one equi-join on i) and
    * matches them against doc j's windows on (j, wh) — intermediate
    * mass is Σ_pairs |windows(i)|, linear in candidates × doc length,
    * never quadratic in a window value's document frequency.
    *
    * Recall contract (same clause as [[minhashVerifiedPairs]]): a
    * cross-doc run only surfaces if its pair collides in ≥ 1 of the
    * 8 bands. SubstrRouting tests pin banded == exact on the shipped
    * corpora and the constructed span corpus; at 100 TB the missed
    * mass is the published MinHash-recall tradeoff, bought to keep
    * the aligner's input linear.
    */
  private[graft] def substringRunsBanded(s: SparkSession,
      d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val wide = graft.engine.Pairs.needsWideForm(docs, "doc_id")
    val sigs = minhashSignatures(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("sig"))
    val cand = minhashCandidateIds(s, sigs, wide)
      .select(col("i"), col("j"))
    val wins = docWindows(s, d)
    val aligned = cand
      .join(wins.select(col("doc_id").as("i"), col("pos").as("pi"),
        col("wh")), Seq("i"))
      .join(wins.select(col("doc_id").as("j"), col("pos").as("pj"),
        col("wh")), Seq("j", "wh"))
      .select(col("i"), col("j"), col("pi"), col("pj"))
    runsFromAlignedPairs(aligned)
  }

  /** Minimum run length (in TOKENS) [[dedupSubstringRemoval]] cuts —
    * the Lee et al. 2022 ExactSubstr published threshold.
    */
  private[graft] val SubstringRemovalMinTokens = 50

  /** `dedup_substring_removal` — the ExactSubstr REMOVAL pass (Lee et
    * al. 2022 §3: spans of ≥ 50 verbatim shared tokens are cut from
    * the corpus, not whole documents): per affected document, the
    * removed-token accounting after cutting every maximal cross-doc
    * run of ≥ [[SubstringRemovalMinTokens]] tokens — total tokens,
    * removed tokens, retained tokens, and the count of maximal
    * contiguous removed regions. [[sharedSubstrings]] FINDS the
    * spans; this row applies the published removal semantics and
    * accounts for the survivor text (TextPipelineSpec's round-trip
    * pin: removed + retained reconstruct each doc exactly).
    *
    * Shape: the [[substringRuns]] core (three shuffles, 8-byte
    * window keys) emits runs with start positions; both pair sides
    * contribute intervals ([start, start + len + 6] in doc i,
    * diag-shifted in doc j); per-doc interval UNION rides the classic
    * prefix-max sweep (one window over each doc's ≤ handful of
    * intervals — overlapping-or-adjacent intervals chain into one
    * region), so no token-level explode ever happens: the accounting
    * is integer interval arithmetic end to end.
    */
  def dedupSubstringRemoval(s: SparkSession, d: String): DataFrame = {
    val minWins = SubstringRemovalMinTokens - 7
    val runs = substringRuns(s, d).where(col("len_wins") >= minWins)
    val sideI = runs.select(col("i").as("doc_id"),
      col("pi_start").as("st"),
      (col("pi_start") + col("len_wins") + lit(6)).as("en"))
    val sideJ = runs.select(col("j").as("doc_id"),
      (col("pi_start") - col("diag")).as("st"),
      (col("pi_start") - col("diag") + col("len_wins") + lit(6)).as("en"))
    // DISTINCT before the sweep: duplicate intervals (the same span
    // shared with several partners) would make the (st, en) sort
    // order non-total, and the two window passes below could then
    // position tied rows differently — splitting one region in two.
    // With distinct rows the order is total and both passes agree
    // (and the oracle's two passes agree with them).
    val iv = sideI.unionByName(sideJ).distinct()
    // interval union per doc: new region when this start clears the
    // running max end by ≥ 2 (adjacent regions [a,b][b+1,c] are ONE
    // contiguous removed region)
    val wDoc = Window.partitionBy("doc_id").orderBy(col("st"), col("en"))
    val regions = iv
      .withColumn("prev_max",
        max(col("en")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("prev_max").isNull
          || col("st") > col("prev_max") + lit(1), 1L).otherwise(0L))
      .withColumn("region",
        sum(col("fresh")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("region"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"))
    val perDoc = regions.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + lit(1)).cast("long")
          .as("removed_tokens"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("removed_tokens"),
        (col("n_tokens") - col("removed_tokens")).as("retained_tokens"),
        col("n_spans"))
      .orderBy("doc_id")
  }

  def duplicatePassages(s: SparkSession, d: String): DataFrame = {
    val shp = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 8)
      .withColumn("th",
        graft.functions.PortableTokenHash.tokenHashPortable(s, col("toks")))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(th) - 7),
              i -> aggregate(slice(th, i, 8), 0L,
                (acc, v) -> (acc * 131 + v) % ${passageMod}L))"""))
        .as("sh"))
    val perDoc = shp.groupBy(col("doc_id"), col("sh"))
      .agg(count(lit(1)).as("n_pos"))
    perDoc
      .withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_pos")).as("n_windows"),
        sum(when(col("n_docs") >= 2, col("n_pos")).otherwise(0L))
          .as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        r6(col("n_shared").cast("double") / col("n_windows"))
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  /** `component_stats` — the near-dup cluster-size histogram: how
    * many clusters of each size the connected-components pass found,
    * and how many documents they absorb. This is the first diagnostic
    * a dedup review reads — a heavy tail here means templated spam
    * (one giant component) rather than organic pairwise dups, and
    * decides whether survivors should be kept per-component or the
    * whole component dropped.
    *
    * Pure composition over [[dedupComponents]]'s fixpoint (reused
    * without its presentation sort): two integer aggregations over
    * the |graph| rows the fixpoint already produced — negligible atop
    * the components cost at any scale, and the histogram is ≤
    * max-cluster-size rows.
    */
  def componentStats(s: SparkSession, d: String): DataFrame =
    componentsRouted(s, d)
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")

  /** `dedup_impact` — the dedup cascade as a funnel: docs and tokens
    * surviving at each stage (raw → exact dedup → near-dup
    * survivors), with shares of raw. The pipeline-observability
    * one-pager: how much of the corpus each gate actually removes is
    * the number that justifies (or kills) its compute budget, and a
    * share that MOVES between snapshots is a crawl-composition
    * alarm. Exact stage = one doc per distinct text; near stage =
    * the `dedup_survivors` removal rule (drop every pair's larger
    * id) against the same verified ≥ 0.8 pair stream every
    * component consumer reads (memoized silver). Integer counts,
    * fenced shares; three rows at any scale.
    */
  def dedupImpact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    def summarize(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("stage", lit(stage))
    val raw = summarize(docs, "1_raw")
    val exact = summarize(
      docs.groupBy(col("text")).agg(min(col("n_toks")).as("n_toks")),
      "2_exact")
    // the survivorsCore removal rule (drop each pair's larger id),
    // inlined because its projection drops the token-count column
    val removed = dedupPairsRouted(s, d)
      .select(col("j").as("doc_id")).distinct()
    val near = summarize(
      docs.join(removed, Seq("doc_id"), "left_anti"), "3_near")
    val rawTotals = raw.select(col("n_docs").as("raw_docs"),
      col("n_tokens").as("raw_tokens"))
    raw.unionByName(exact).unionByName(near)
      .crossJoin(broadcast(rawTotals))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        r6(col("n_docs").cast("double") / col("raw_docs").cast("double"))
          .as("pct_docs"),
        r6(col("n_tokens").cast("double")
          / col("raw_tokens").cast("double")).as("pct_tokens"))
      .orderBy("stage")
  }

  /** `top_dup_clusters` — the five largest near-dup components with
    * their representative, source spread, and a sample member: the
    * "show me the worst offenders" drill-down on
    * [[componentStats]]' histogram — the first thing a curator
    * opens after the dedup report, because the biggest cluster is
    * usually a template or boilerplate family with a nameable fix.
    * Rides the same memoized pair silver + fixpoint as the other
    * component consumers; the top-5 is a TakeOrderedAndProject over
    * COMPONENT rows (already aggregated — tiny at any scale).
    */
  def topDupClusters(s: SparkSession, d: String): DataFrame =
    componentsRouted(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("representative"),
        max(col("doc_id")).as("sample_member"))
      .orderBy(col("cluster_size").desc, col("component_id").asc)
      .limit(5)

  /** `degree_stats` — degree distribution of the near-dup pair
    * graph: for each degree d, how many documents have exactly d
    * near-duplicate partners. Reads alongside [[componentStats]]:
    * a fat degree tail with small components means star-shaped
    * template reuse; fat components with thin degrees mean long
    * chains — different cleanup policies. Pure integer composition
    * over the pair stream: symmetrize, count per node, histogram —
    * two narrow aggregations atop the pairs the dedup already built.
    */
  def degreeStats(s: SparkSession, d: String): DataFrame = {
    val pairs = dedupPairsRouted(s, d).select(col("i"), col("j"))
    pairs.select(col("i").as("node"))
      .union(pairs.select(col("j").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** `triangle_count` — global triangle census of the near-dup
    * graph, plus the global clustering coefficient 3T/W (W = open
    * wedges Σ C(deg,2)): triangles mean MUTUALLY near-identical
    * triples (template clusters), while a trianglefree pair set is
    * chains — with [[componentStats]] and [[degreeStats]] this
    * completes the shape diagnostics. The classic oriented
    * edge-join: with every edge stored i < j, path (i→j→k) joined
    * against closing edge (i, k) counts each triangle EXACTLY once —
    * two equi-joins on the (memoized) pair silver, no explosion
    * beyond real wedges. Integers until one fenced division.
    */
  def triangleCount(s: SparkSession, d: String): DataFrame = {
    val e = dedupPairsRouted(s, d).select(col("i"), col("j"))
    val deg = e.select(col("i").as("node"))
      .union(e.select(col("j").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("(dg * (dg - 1)) div 2")).cast("long").as("n_wedges"))
    val paths = e.select(col("i").as("a"), col("j").as("b"))
      .join(e.select(col("i").as("b"), col("j").as("c")), Seq("b"))
    val tris = paths
      .join(e.select(col("i").as("a"), col("j").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    stats.join(broadcast(edges), lit(true))
      .join(broadcast(tris), lit(true))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        r6(lit(3.0) * col("n_triangles")
          / nullif(col("n_wedges").cast("double"), lit(0.0)))
          .as("clustering"))
  }

  /** `source_overlap` — vocabulary Jaccard between every source
    * pair: |V_a ∩ V_b| / |V_a ∪ V_b| over distinct token sets — the
    * corpus-comparison matrix that answers "are these two crawls the
    * same content" BEFORE any document-level dedup runs. One
    * distinct (source, token) projection; the intersection counts
    * ride a token-keyed self-join of that deduped posting table
    * (|vocab|·k² rows for k sources sharing a token — k is the
    * source count, single digits, so the join is vocab-bounded);
    * union sizes come from the same projection. Integers to one
    * fenced division.
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = st.select(col("token"), col("source").as("src_a"))
      .join(st.select(col("token"), col("source").as("src_b")), Seq("token"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        r6(col("n_shared").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_shared"))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** `group_split` — group-aware train/val/test split: the bucket is
    * hashed from the SOURCE, not the document, so every document of
    * one provenance lands on one side (sklearn's GroupShuffleSplit).
    * This is the split that actually prevents leakage when documents
    * within a source are correlated (same site, same author, same
    * crawl) — [[trainValSplit]]'s per-doc hash puts near-identical
    * siblings on both sides.
    *
    * The source key is hashed with the portable first/last-codepoint
    * formula ([[graft.functions.PortableTokenHash]]'s per-token hash,
    * already DuckDB-replayed by `duplicate_passages`), then routed
    * through the same mod-P multiplicative stream as the doc-level
    * split — a row-local predicate: no shuffle to assign, stable
    * under corpus appends, and any engine reproduces it.
    */
  def groupSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("hsrc",
        ascii(col("source")).cast("long") * lit(17161L)
          + ascii(reverse(col("source"))).cast("long") * lit(131L)
          + length(col("source")).cast("long"))
      .withColumn("bucket",
        ((col("hsrc") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(
        countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split")

  /** `split_leakage` — the cross-split contamination audit: documents
    * whose CONTENT (portable polynomial fingerprint) appears in two
    * or more sides of the [[trainValSplit]] assignment. A per-doc
    * hash split guarantees id-level disjointness but nothing about
    * content-level disjointness when the corpus carries exact
    * duplicates — this query measures exactly that residual, which is
    * the number eval-integrity reviews ask for before trusting a
    * held-out score.
    *
    * Portability: the fingerprint is `doc_fingerprint`'s integer
    * fold, the split is `train_val_split`'s mod-P stream — both
    * already oracle-replayed; the audit itself is count-distinct +
    * join, all integer. Scale shape: one aggregation keyed by the
    * 8-byte fingerprint (never the text), one join back — the same
    * digest-ledger plan as `dedup_exact_digest`, linear at 100 TB.
    */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .withColumn("fp", expr(
        """aggregate(
             transform(split(text, ' '),
               t -> CAST(ascii(t) * 31 + length(t) AS BIGINT)),
             0L, (acc, v) -> (acc * 131 + v) % 1000000007)"""))
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
    val groups = f.groupBy(col("fp"))
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("group_size"))
      .where(col("n_splits") >= 2)
    f.join(groups, Seq("fp"))
      .select(col("doc_id"), col("split"), col("n_splits"),
        col("group_size"))
      .orderBy("doc_id")
  }

  /** `token_surprisal` — per-document mean unigram surprisal: the
    * log-space corpus-LM quality score (the CCNet filter of Wenzek
    * et al. 2020, with the corpus's own unigram document-frequency
    * distribution standing in for the external LM). Each token
    * occurrence contributes −ln(df_t / D); a LOW mean means the doc
    * is built from tokens everyone uses (boilerplate), a HIGH mean
    * from tokens almost nobody does (novel — or OCR noise). The
    * log-space complement of `bigram_novelty`'s rational mean-df:
    * surprisal compresses the head and stretches the tail the way a
    * real LM logprob does, which is why pretraining filters cut on
    * this shape.
    *
    * Portability (the `psi_drift` ln posture): df/D is one
    * correctly-rounded integer division, the ln INPUT is fenced to
    * the 6-dp grid, each term is quantized at 10⁻⁶ into an
    * order-free 64-bit sum, and the final mean divides by n·10⁶ in
    * one fenced step — so the row hash-gates despite the
    * transcendental.
    *
    * Scale shape: one token explode feeds both the df aggregation
    * and the per-doc fold; the df table is vocabulary-bounded (AQE
    * broadcasts it small, shuffles on `token` when a natural-text
    * vocabulary outgrows that — the `bigram_novelty` join posture);
    * the only guaranteed corpus shuffle is the token-keyed df join.
    */
  def tokenSurprisal(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val dfTab = toks.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    toks.join(dfTab, Seq("token"))
      .join(broadcast(nDocs), lit(true))
      .withColumn("term_q",
        floor(-log(r6(col("df").cast("double") / col("n_docs")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        r6(sum(col("term_q")).cast("double")
          / (count(lit(1)) * lit(1000000.0))).as("mean_surprisal"))
      .orderBy("doc_id")
  }

  /** `ccnet_buckets` — the CCNet head/middle/tail partition (Wenzek
    * et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): per language, rank documents by
    * LM score and cut the corpus into three equal buckets — `head`
    * (most fluent / lowest score, kept for pretraining), `middle`,
    * `tail` (usually dropped). The published pipeline scores with an
    * external 5-gram KenLM; here the corpus's own unigram surprisal
    * ([[tokenSurprisal]] — already the CCNet-style stand-in) is the
    * ranking statistic, so the operator composes two existing gated
    * stages instead of inventing a new score. Output per
    * lang × bucket: doc and char mass plus the surprisal band — the
    * table a curator reads to decide where to cut each language.
    *
    * Portability: bucket assignment is NTILE(3) under a TOTAL order
    * (quantized surprisal, then doc_id — the `rfm_scores` posture),
    * engine-agreed; the bucket's mean re-sums the 10⁻⁶-grid integer
    * quantities order-free and divides once fenced; min/max compare
    * grid values exactly.
    *
    * Scale shape: the surprisal stage's df join is the only corpus
    * shuffle; ranking then runs per-LANGUAGE (the natural partition
    * CCNet itself shards by — languages are few, so each window
    * partition is |docs_lang|, and a 100 TB deployment swaps the
    * exact ntile for `quantile_bins`' bounds-broadcast cut exactly
    * as `rfm_scores` documents). Final aggregate is ≤ 3·|langs|.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val scores = tokenSurprisal(s, d)
      .select(col("doc_id"), col("mean_surprisal"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mean_surprisal").asc, col("doc_id").asc)
    scores.join(docs, Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(w))
      .withColumn("sq",
        floor(col("mean_surprisal") * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("sq")).as("qsum"),
        min(col("mean_surprisal")).as("min_surprisal"),
        max(col("mean_surprisal")).as("max_surprisal"))
      .select(col("lang"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("n_chars"),
        r6(col("qsum").cast("double")
          / (col("n_docs") * lit(1000000.0))).as("mean_surprisal"),
        col("min_surprisal"), col("max_surprisal"))
      .orderBy("lang", "bucket")
  }

  /** Count-Min row-hash constants: 4 independent affine maps over
    * the portable token hash, mod-P then mod-width. The multipliers
    * are the xxhash32 primes already used as decorrelated hash
    * streams elsewhere in the engine. */
  private[graft] val cmsHashA =
    Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
  private[graft] val cmsHashB = Seq(1L, 7L, 31L, 127L)
  private[graft] val cmsWidth = 1024
  private[graft] val cmsMod = 1000000007L

  /** `freq_cms` — Count-Min sketch frequency estimation (Cormode &
    * Muthukrishnan 2005) over token occurrences: the third sketch
    * family beside Misra–Gries (`heavy_hitters_mg`, top-k) and KMV
    * (`distinct_users_kmv`, cardinality) — CMS answers POINT
    * queries ("how often does this token occur") from d·w counters
    * regardless of corpus size, with one-sided error (never an
    * undercount). Reports the 10 true-most-frequent tokens with
    * exact count, CMS estimate, and the overcount — the
    * collision-error readout that calibrates the sketch width the
    * way `minhash_calibration` calibrates the Jaccard estimate.
    *
    * Fully deterministic — counters are integer sums over fixed
    * affine maps of the portable token hash ([[graft.functions.PortableTokenHash]],
    * the compiled kernel the portable LSH rows ride), so the DuckDB
    * oracle replays sketch build, point queries, and the min fold
    * exactly and the row hash-gates (no engine-internal state, the
    * `distinct_users_approx` limitation this family exists to
    * escape).
    *
    * Scale shape: the sketch build is ONE map-side-combinable
    * aggregation into ≤ d·w = 4096 cells — partials are O(d·w) per
    * partition no matter how many tokens stream through (the
    * mergeable-summary property; this is what a 100 TB frequency
    * profile actually runs). The truth side (exact counts + top-10)
    * exists only because the row reports calibration; a production
    * deployment keeps the sketch and drops the truth pass.
    */
  def freqCms(s: SparkSession, d: String): DataFrame = {
    val p = cmsMod
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .withColumn("th",
        element_at(graft.functions.PortableTokenHash
          .tokenHashPortable(s, array(col("token"))), 1) % lit(p))
    val cells = toks
      .select(posexplode(array(cmsHashA.zip(cmsHashB).map { case (a, b) =>
        (((col("th") * lit(a) + lit(b)) % lit(p)) % lit(cmsWidth.toLong))
          .cast("int")
      }: _*)).as(Seq("r", "c")))
      .groupBy(col("r"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val top10 = toks.groupBy(col("token"), col("th"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token").asc)
      .limit(10)
    top10
      .select(col("token"), col("exact_n"),
        posexplode(array(cmsHashA.zip(cmsHashB).map { case (a, b) =>
          (((col("th") * lit(a) + lit(b)) % lit(p)) % lit(cmsWidth.toLong))
            .cast("int")
        }: _*)).as(Seq("r", "c")))
      .join(cells, Seq("r", "c"))
      .groupBy(col("token"), col("exact_n"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("token"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("token").asc)
  }

  /** The DuckDB oracle for `freq_cms`: sketch build, truth top-10,
    * and the min-over-rows point query replayed from raw text with
    * the same affine row hashes.
    */
  private[graft] def freqCmsOracleSql: String = {
    val hp = cmsHashA.zip(cmsHashB).zipWithIndex
      .map { case ((a, b), r) => s"($r, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents),
       th AS (SELECT token,
                (CAST(ascii(token) AS BIGINT) * 17161
                 + CAST(ascii(reverse(token)) AS BIGINT) * 131
                 + length(token)) % 1000000007 AS thm FROM toks),
       hp AS (SELECT * FROM (VALUES $hp) AS t(r, a, b)),
       cells AS (SELECT r, ((thm * a + b) % 1000000007) % $cmsWidth AS c,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM th CROSS JOIN hp GROUP BY 1, 2),
       truth AS (SELECT token, MAX(thm) AS thm,
                CAST(COUNT(*) AS BIGINT) AS exact_n
              FROM th GROUP BY 1),
       top10 AS (SELECT * FROM truth
              ORDER BY exact_n DESC, token ASC LIMIT 10),
       probes AS (SELECT t.token, t.exact_n, h.r,
                ((t.thm * h.a + h.b) % 1000000007) % $cmsWidth AS c
              FROM top10 t CROSS JOIN hp h),
       est AS (SELECT token, exact_n, MIN(cnt) AS est_n
              FROM probes JOIN cells USING (r, c) GROUP BY 1, 2)
       SELECT token, exact_n, est_n, est_n - exact_n AS overcount
       FROM est ORDER BY exact_n DESC, token ASC"""
  }

  /** `self_similarity` — corpus diversity as mean pairwise bigram
    * Jaccard over a deterministic 40-doc hash sample: the Self-BLEU
    * idea (Zhu et al. '18 — how much does a corpus resemble itself)
    * in the engine's portable-set vocabulary. A rising mean says the
    * corpus is collapsing toward templates even when no single pair
    * crosses the near-dup threshold — the aggregate early-warning
    * beside [[dedupNear]]'s pairwise gate. Zero-overlap pairs COUNT
    * in the mean (they are the diversity), which is why the
    * denominator is C(n,2), not the intersecting-pair count.
    *
    * Portability: the sample is the k-smallest-hash-rank reservoir
    * (`sample_per_source`'s order-free bounded draw, seventh
    * decorrelated multiplier); intersections are integer counts from
    * one distinct-bigram self-join; Jaccard terms land on the 1e-6
    * grid as integers and sum order-free, one fenced division at the
    * end. Scale: the quadratic lives on 40 sampled docs — C(40,2)
    * pairs — while the corpus is touched once for the hash ranks,
    * so the operator costs the same at any corpus size.
    */
  def selfSimilarity(s: SparkSession, d: String): DataFrame = {
    val sample = Tables.documents(s, d)
      .withColumn("h",
        (col("doc_id") % lit(1000000007L)) * lit(1181783497L)
          % lit(1000000007L))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(40)
      .select(col("doc_id"), col("text"))
    val grams = sample
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.Bigrams.bigrams(s, col("toks"))).as("bigram"))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.bigram") === col("b.bigram")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.select(col("doc_id").as("i"), col("sz").as("szi")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("sz").as("szj")), Seq("j"))
      .select(floor(col("inter").cast("double")
        / (col("szi") + col("szj") - col("inter")).cast("double")
        * lit(1000000.0) + lit(0.5)).cast("long").as("jq"))
    val nDocs = sample.agg(count(lit(1)).as("n_docs"))
    scored.agg(sum(col("jq")).as("jsum"),
      count(lit(1)).as("n_overlapping"),
      max(col("jq")).as("maxq"))
      .crossJoin(nDocs)
      .select(col("n_docs"), col("n_overlapping"),
        r6(coalesce(col("jsum"), lit(0L)).cast("double")
          / (col("n_docs") * (col("n_docs") - 1) / lit(2)).cast("double")
          / lit(1000000.0)).as("mean_pairwise_jaccard"),
        (coalesce(col("maxq"), lit(0L)).cast("double") / lit(1000000.0))
          .as("max_pairwise_jaccard"))
  }

  /** `zipf_slope` — OLS fit of ln(frequency) on ln(rank) over the
    * top-500 corpus tokens: the Zipf exponent (slope ≈ −1 for
    * natural language; a corpus drifting toward 0 is losing its
    * long tail — template/boilerplate flood — while a steepening
    * slope means a few tokens are eating the distribution). The
    * scalar summary of the rank-frequency curve the concentration
    * diagnostics ([[giniConcentration]], `heavy_hitters_mg`) view
    * pointwise.
    *
    * Portability: the ln posture of `psi_drift`/`token_surprisal` —
    * both regressors take EXACT integer inputs (rank i, count cᵢ),
    * the ln outputs are quantized to the 1e-6 grid as integers, and
    * all five OLS sums are order-free integer folds; the closed-form
    * slope/intercept numerators and denominators combine those sums
    * in DECIMAL (n·Sxy overflows a long at this grid), with one
    * fenced double division each. Scale: token-keyed aggregate →
    * TakeOrderedAndProject top-500 (per-partition heads + one
    * driver-side merge of 500-row heads, never a global sort) → a
    * 500-row rank window → one scalar fold.
    */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val top = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(500)
    val w = Window.orderBy(col("c").desc, col("tok").asc)
    val q = top
      .withColumn("rank", row_number().over(w))
      .select(
        floor(log(col("rank").cast("double")) * lit(1000000.0)
          + lit(0.5)).cast("long").as("xq"),
        floor(log(col("c").cast("double")) * lit(1000000.0)
          + lit(0.5)).cast("long").as("yq"))
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    q.agg(count(lit(1)).as("n"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum(col("xq") * col("xq")).as("sxx"),
      sum(col("xq") * col("yq")).as("sxy"))
      .select(col("n"),
        r6((dec(col("n")) * dec(col("sxy"))
          - dec(col("sx")) * dec(col("sy"))).cast("double")
          / (dec(col("n")) * dec(col("sxx"))
            - dec(col("sx")) * dec(col("sx"))).cast("double"))
          .as("slope"),
        // slope is scale-free (x and y share the 1e6 grid); the
        // intercept carries y's scale, so divide it back out
        r6((dec(col("sy")) * dec(col("sxx"))
          - dec(col("sx")) * dec(col("sxy"))).cast("double")
          / (dec(col("n")) * dec(col("sxx"))
            - dec(col("sx")) * dec(col("sx"))).cast("double")
          / lit(1000000.0))
          .as("intercept"))
  }

  /** `gini_concentration` — per-source Gini coefficient of the token
    * frequency distribution: 0 = every type equally frequent, → 1 =
    * mass concentrated on a few types. The corpus-balance scalar the
    * heavy-tail diagnostics (`heavy_hitters_mg`, `freq_cms`) imply
    * but never state — a crawl whose Gini jumps between snapshots
    * changed its content mix (template flood or boilerplate
    * takeover) even when volume and vocabulary look stable.
    *
    * Portability: with type counts c₁ ≤ … ≤ cₙ ranked ascending
    * (ties broken by token text — plain-ASCII byte order, the one
    * string collation both engines agree on),
    * G = (2·Σ i·cᵢ − (n+1)·Σc) / (n·Σc) — numerator and denominator
    * are pure integers, one fenced division at the end. Scale: one
    * token-keyed aggregate (map-side combinable), one per-source
    * rank window over VOCABULARY rows (types, not tokens — bounded),
    * one tiny per-source fold.
    */
  def giniConcentration(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").asc, col("tok").asc)
    freq
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("total_tokens"),
        sum(col("rn") * col("c")).as("wsum"))
      .select(col("source"), col("n_types"), col("total_tokens"),
        r6((lit(2) * col("wsum")
          - (col("n_types") + lit(1)) * col("total_tokens"))
          .cast("double")
          / (col("n_types") * col("total_tokens")).cast("double"))
          .as("gini"))
      .orderBy("source")
  }

  /** `corpus_datacard` — the datasheet-for-datasets metric block
    * (Gebru et al., CACM'21; every released corpus ships one): a
    * (metric, value) frame of the headline numbers — volume, source
    * and language spread, token economy, duplication rate — each
    * derived with the same exact arithmetic its dedicated operator
    * uses, so the card can never disagree with the detailed reports
    * beside it.
    *
    * Two bounded jobs: one documents pass (conditional + distinct
    * aggregates; the exact-dup count is n_docs − distinct texts,
    * no digest needed) and one token explode for vocabulary; every
    * value is an integer or ONE fenced division, presented as
    * DOUBLE for the uniform card schema.
    */
  def corpusDatacard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      sum(size(split(col("text"), " "))).as("total_tokens"),
      (count(lit(1)) - countDistinct(col("text"))).as("dup_n"))
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("n"))
    def row(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("metric"), v.cast("double").as("value"))
    base.crossJoin(broadcast(vocab.select(col("n").as("vocab_n"))))
      .select(explode(array(
        row("n_docs", col("n_docs")),
        row("n_sources", col("n_sources")),
        row("n_langs", col("n_langs")),
        row("total_chars", col("total_chars")),
        row("total_tokens", col("total_tokens")),
        row("vocab_size", col("vocab_n")),
        row("exact_dup_docs", col("dup_n")),
        row("mean_doc_tokens", r6(col("total_tokens").cast("double")
          / col("n_docs").cast("double"))),
        row("exact_dup_pct", r6(lit(100.0) * col("dup_n").cast("double")
          / col("n_docs").cast("double"))))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
      .orderBy("metric")
  }

  /** The PII patterns shared by the batch rule sweep and its spec —
    * written in the RE2 ∩ java.util.regex common dialect (character
    * classes, bounded quantifiers, ASCII \b; no backreferences, no
    * lookaround) so Spark (Java regex) and DuckDB (RE2) match
    * identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "phone" -> """\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}""",
    "ipv4" -> """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b""")

  /** `pii_scrub` — the PII detection/redaction census every
    * training-data pipeline runs before release (the Dolma/FineWeb
    * anonymization gate): per source, documents containing an email
    * / phone / IPv4 pattern, match counts per rule, and the exact
    * character volume redaction would remove (sequential
    * replace-with-empty over the three patterns).
    *
    * The gated corpus is synthetic vocabulary and carries no PII —
    * the sweep proves the zero; the spec injects each PII class and
    * proves every pattern FIRES and the redaction arithmetic holds
    * (the `dq_audit` posture). Row-local regex work over one corpus
    * scan + one small aggregate: the 100 TB cost is the scan itself,
    * embarrassingly parallel, no shuffle beyond the ≤ sources
    * reduction.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    piiScrubFrames(Tables.documents(s, d))

  /** SQL text expression for the injected-PII fixture, shared
    * VERBATIM with the DuckDB oracle (SparkEntry interpolates this
    * exact string): both engines synthesize the SAME PII-bearing
    * rows from doc_id, so [[piiScrubInjected]]'s hash gate verifies
    * the RE2 ∩ Java pattern-equivalence claim CROSS-ENGINE on data
    * where every rule fires — the gated corpus itself is PII-free
    * and proves only the zero. The fixture deliberately exercises
    * the dialect-sensitive spots: greedy-class backtracking
    * (domains ending in `.co.uk` / `),`), \b at a digit–dot
    * boundary (`1.2.3.4.5` → one match) and at end-of-string, a
    * backtracking dead-end (`999.999.999.9999` → zero matches),
    * optional-prefix anchoring (`\+?`), and near-misses
    * (`no-at-sign.example.com`, `x@y`, `12-34`).
    */
  val piiInjectedTextSql: String =
    "concat('Contact u', CAST(doc_id AS STRING), " +
      "'@ex-ample.co.uk or (v', CAST(doc_id AS STRING), " +
      "'@sub.example.com), call +', " +
      "CAST(100 + doc_id % 900 AS STRING), '-', " +
      "CAST(200 + doc_id % 800 AS STRING), '-', " +
      "CAST(1000 + doc_id % 9000 AS STRING), ' or ', " +
      "CAST(100 + doc_id % 900 AS STRING), ' ', " +
      "CAST(200 + doc_id % 800 AS STRING), ' 4567; near-miss ', " +
      "'no-at-sign.example.com x@y 12-34 999.999.999.9999 ', " +
      "'chain 1.2.3.4.5 end 10.', CAST(doc_id % 256 AS STRING), '.0.1')"

  /** `pii_scrub_injected` — [[piiScrub]] over the synthesized
    * PII-bearing fixture ([[piiInjectedTextSql]]): per source,
    * exactly 2 emails / 2 phones / 2 IPv4s per document plus the
    * exact redaction volume, hash-gated against DuckDB running the
    * SAME patterns over the SAME synthesized rows. This is the
    * cross-engine proof the PII-free gated corpus can't give.
    */
  def piiScrubInjected(s: SparkSession, d: String): DataFrame =
    piiScrubFrames(Tables.documents(s, d)
      .select(col("source"), expr(piiInjectedTextSql).as("text")))

  /** Frame-parameterized core of [[piiScrub]] — the injection seam
    * for the spec. */
  def piiScrubFrames(docs: DataFrame): DataFrame = {
    val Seq(email, phone, ipv4) = piiPatterns.map(_._2)
    def cnt(p: String) = regexp_count(col("text"), lit(p))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      col("text"), email, ""), phone, ""), ipv4, "")
    docs
      .select(col("source"),
        cnt(email).as("e"), cnt(phone).as("p"), cnt(ipv4).as("i"),
        (length(col("text")) - length(scrubbed)).as("redacted"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("e").cast("long")).as("emails"),
        sum(col("p").cast("long")).as("phones"),
        sum(col("i").cast("long")).as("ipv4s"),
        sum(col("redacted").cast("long")).as("chars_redacted"))
      .orderBy("source")
  }

  /** `hapax_ratio` — vocabulary-richness profile per source: hapax
    * legomena share (types seen exactly once), dis legomena share
    * (exactly twice), and the type-token ratio. The corpus
    * linguistics richness triple (Baayen 2001): a source whose hapax
    * share collapses is template/boilerplate text ([[zipfSlope]]
    * sees the same thing as a steep slope; this localizes it to the
    * tail), and TTR differences across sources are the first thing
    * a mixture re-weighting ([[mixtureSample]]) should know about.
    *
    * Portability: all counts are exact integers off one
    * (source, token) aggregate; the three shares are fenced
    * divisions. Scale shape: one explode + one map-side-combined
    * aggregate to |source|×|vocab| cells, folded to |source| rows —
    * the `zipf_slope` plan.
    */
  def hapaxRatio(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("hapax"), col("dis"),
        graft.engine.Determinism.r6(col("hapax").cast("double")
          / col("vocab").cast("double")).as("hapax_share"),
        graft.engine.Determinism.r6(col("dis").cast("double")
          / col("vocab").cast("double")).as("dis_share"),
        graft.engine.Determinism.r6(col("vocab").cast("double")
          / col("n_tokens").cast("double")).as("ttr"))
      .orderBy("source")

  /** `token_burstiness` — Fano-factor dispersion of the 20 most
    * frequent tokens: variance-to-mean ratio of the token's per-doc
    * count over ALL docs, zeros included (Church & Gale 1995).
    * Fano ≈ 1 is Poisson (function words sprinkle uniformly);
    * Fano ≫ 1 is bursty (topical words clump into few docs) — the
    * content/function split a stopword list approximates, measured
    * instead of assumed, and the signal behind df-based term
    * weighting ([[bm25Rank]]'s IDF assumes exactly this clumping).
    *
    * Portability: Fano = Σx²/Σx − Σx/D needs only the integer
    * per-doc count moments and the doc total — both exact off ONE
    * (token, doc) aggregate (zero-count docs enter through D alone,
    * so nothing materializes per zero); one fenced subtraction of
    * two divisions. Top-20 rides a TOTAL order (count desc, token).
    *
    * Scale shape: one explode + one (token, doc) map-side-combined
    * aggregate + one token-keyed fold; the top-20 is
    * TakeOrderedAndProject. No join, no second corpus pass.
    */
  def tokenBurstiness(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("tok"))
      .agg(sum(col("x")).as("total"), sum(col("x") * col("x")).as("sx2"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("total").desc, col("tok").asc)
      .limit(20)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("total"), col("doc_freq"),
        graft.engine.Determinism.r6(
          col("sx2").cast("double") / col("total").cast("double")
            - col("total").cast("double") / col("n_docs").cast("double"))
          .as("fano"))
      .orderBy(col("total").desc, col("tok").asc)
  }

  /** `shuffle_uniformity` — the QA gate on [[corpusShuffle]]: a χ²
    * independence test between position DECILE and source over the
    * assigned global permutation. A correct shuffle decorrelates
    * position from provenance (χ² ≈ dof); a broken one (range
    * bucketing by an attribute-correlated hash, a stable sort
    * leaking input order) shows up as χ² ≫ dof — the exact failure
    * that turns "globally shuffled corpus" into "source-ordered
    * corpus" and wrecks training-loss curves. Same quantized-χ²
    * algebra as `chi2_independence` (zero cells absent on both
    * engines, their contribution understated identically); the
    * decile cut is integer division on the exact permutation, so
    * the whole row hash-gates.
    */
  def shuffleUniformity(s: SparkSession, d: String): DataFrame = {
    val pos = corpusShuffle(s, d).select(col("doc_id"), col("pos"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val nRow = src.agg(count(lit(1)).as("nn"))
    val cells = pos.join(src, Seq("doc_id")).crossJoin(broadcast(nRow))
      .withColumn("decile", expr("CAST((pos * 10) div nn AS INT)"))
      .groupBy(col("decile"), col("source"))
      .agg(count(lit(1)).as("o"), max(col("nn")).as("nn"))
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy("decile")))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy("source")))
      .withColumn("e", col("rt").cast("double") * col("ct").cast("double")
        / col("nn").cast("double"))
      .withColumn("contrib_q",
        floor((col("o").cast("double") - col("e"))
          * (col("o").cast("double") - col("e")) / col("e")
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .agg(count(lit(1)).as("n_cells"),
        countDistinct(col("decile")).as("n_deciles"),
        countDistinct(col("source")).as("n_sources"),
        max(col("nn")).as("n_docs"),
        sum(col("contrib_q")).as("qsum"))
      .select(col("n_docs"), col("n_cells"),
        ((col("n_deciles") - lit(1L)) * (col("n_sources") - lit(1L)))
          .as("dof"),
        r6(col("qsum").cast("double") / lit(1000000.0)).as("chi2"))
  }

  /** `heaps_law` — the vocabulary-GROWTH exponent per source: fit
    * V = K·Nᵝ (Heaps 1978) by least squares on (ln N, ln V) over
    * per-document checkpoints of cumulative tokens vs cumulative
    * vocabulary. The corpus-linguistics twin of [[zipfSlope]] (the
    * two laws are duals): β ≈ 0.5 is healthy natural text; β
    * collapsing toward 0 means the source stopped contributing new
    * types — template/boilerplate mass that dedup won't catch
    * because the DOCUMENTS differ while the vocabulary doesn't.
    * Mixture designers read this before up-weighting a source.
    *
    * Portability: cumulative vocabulary rides the first-appearance
    * identity ([[cumulativeReach]]'s trick — a type's first doc is
    * min(doc_id), so new-type counts per doc need no distinct scan
    * per checkpoint); both cumulative series are exact integer
    * prefix sums, each ln checkpoint quantizes to 1e-9 longs (the
    * `adamic_adar` ln contract) so the five regression sums are
    * order-free exact integers; one fenced slope division at the
    * end. Scale shape: one (source, token) aggregate + one bounded
    * per-source window over |docs| checkpoint rows.
    */
  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        split(col("text"), " ").as("toks"))
    val perDoc = docs.select(col("source"), col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"))
    val newTypes = docs
      .select(col("source"), col("doc_id"),
        explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("source"), col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.partitionBy("source").orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ckpt = perDoc
      .join(newTypes, Seq("source", "doc_id"), "left")
      .withColumn("nt", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_toks")).over(w))
      .withColumn("cum_vocab", sum(col("nt")).over(w))
      .select(col("source"),
        floor(log(col("cum_tokens").cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long").as("x"),
        floor(log(col("cum_vocab").cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long").as("y"),
        col("cum_tokens"), col("cum_vocab"))
    ckpt.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("cum_tokens")).as("total_tokens"),
        max(col("cum_vocab")).as("vocab"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).cast(DecimalType(38, 0))
          .as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).cast(DecimalType(38, 0))
          .as("sxx"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("vocab"),
        r6((dec(col("n_docs")) * col("sxy")
            - dec(col("sx")) * dec(col("sy"))).cast("double")
          / nullif((dec(col("n_docs")) * col("sxx")
            - dec(col("sx")) * dec(col("sx"))).cast("double"), lit(0.0)))
          .as("heaps_beta"))
      .orderBy("source")
  }

  /** `doc_features` — the per-document FEATURE TABLE a quality
    * classifier trains on: the engine's curation signals assembled
    * into one wide row per doc — size (tokens, chars), the
    * [[textQuality]] score and its fenced sub-ratios, the
    * [[trainValSplit]] assignment, and the near-dup removal flag
    * ([[dedupSurvivors]]'s rule). This is the feature-engineering
    * hand-off of the pipeline: everything upstream is a signal,
    * this row is the design matrix (fastText-quality-filter /
    * DSIR-style classifiers consume exactly these columns).
    *
    * Shape: one corpus pass for the per-doc text features (shared
    * with text_quality's algebra), a broadcast anti-lookup of the
    * post-threshold pair stream for the dup flag — no corpus-sized
    * join at all.
    */
  def docFeatures(s: SparkSession, d: String): DataFrame = {
    val removed = dedupPairsRouted(s, d).select(col("j").as("doc_id"))
      .distinct().withColumn("is_removed", lit(true))
    textQuality(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars")), Seq("doc_id"))
      .join(broadcast(removed), Seq("doc_id"), "left")
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("n_chars"), col("distinct_ratio"),
        col("stop_ratio"), col("quality_score"),
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")).as("split"),
        col("is_removed").isNotNull.as("is_near_dup"))
      .orderBy("doc_id")
  }

  /** `dedup_threshold_sweep` — the threshold-selection datacard for
    * near dedup: pair counts and removal counts (distinct larger
    * ids, the [[dedupSurvivors]] removal rule) at τ ∈ {0.7, 0.8,
    * 0.9, 0.95} off ONE pass over the shared co-occurrence silver.
    * Dedup papers tune τ by exactly this sweep (aggressiveness vs
    * collateral); running it as four separate dedup_near calls
    * would pay the shingle pipeline four times — here every τ is a
    * one-column filter over the same memoized pair stream, so the
    * whole table costs one silver read. A τ with zero surviving
    * pairs emits no row, identically on both engines.
    */
  def dedupThresholdSweep(s: SparkSession, d: String): DataFrame =
    cooccurPairs(s, d)
      .withColumn("jaccard",
        r6(col("inter") / (col("sz_i") + col("sz_j") - col("inter"))))
      .select(col("jaccard"), col("j"),
        explode(array(Seq(0.7, 0.8, 0.9, 0.95).map(lit): _*)).as("tau"))
      .where(col("jaccard") >= col("tau"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("j")).as("docs_removed"))
      .orderBy("tau")

  /** `filter_funnel` — the end-to-end SELECTION FUNNEL datacard: how
    * many documents and tokens survive each successive curation
    * stage — all → length bounds (the Gopher word-count rule,
    * 50 ≤ tokens ≤ 100k; the full 4-rule census lives in
    * [[qualityGopher]] — its stopword rule is a constant-false on
    * this corpus's synthetic vocabulary, which would zero the whole
    * funnel, so the composite stays a census and the funnel takes
    * the discriminating rule) → quality score ≥ 0.62
    * ([[textQuality]], the [[corpusFilter]] threshold) → near-dedup
    * survivor ([[dedupSurvivors]]). Every published corpus paper
    * reports exactly this table (RefinedWeb table 2, Gopher §A1.1,
    * Dolma §4); the engine's per-stage operators answer "who fails
    * rule X", this row answers the budgeting question — "what
    * fraction of my token budget does the pipeline actually keep,
    * and which stage eats it".
    *
    * Shape: per-doc flags compute in ONE corpus pass (the length
    * bounds inline, quality via the shared per-doc score, the
    * dedup flag via a broadcast anti-lookup of the post-threshold
    * pair stream); all four stages fold in ONE aggregate (cumulative
    * conjunctions, so the funnel is monotone by construction) and
    * `stack` unpivots the single row — no per-stage corpus scans.
    */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    val q = textQuality(s, d).select(col("doc_id"), col("quality_score"))
    val removed = dedupPairsRouted(s, d).select(col("j").as("doc_id"))
      .distinct().withColumn("is_removed", lit(true))
    val flags = Tables.documents(s, d)
      .withColumn("n", size(split(col("text"), " ")).cast("long"))
      .withColumn("g", col("n") >= 50L && col("n") <= 100000L)
      .join(q, Seq("doc_id"))
      .join(broadcast(removed), Seq("doc_id"), "left")
      .select(col("n"), col("g"),
        (col("g") && col("quality_score") >= 0.62).as("gq"),
        (col("g") && col("quality_score") >= 0.62
          && col("is_removed").isNull).as("gqd"))
    flags.agg(
        count(lit(1)).as("d0"),
        sum(when(col("g"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("gq"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("gqd"), 1L).otherwise(0L)).as("d3"),
        sum(col("n")).as("t0"),
        sum(when(col("g"), col("n")).otherwise(0L)).as("t1"),
        sum(when(col("gq"), col("n")).otherwise(0L)).as("t2"),
        sum(when(col("gqd"), col("n")).otherwise(0L)).as("t3"))
      .selectExpr(
        """stack(4,
             0, 'all',        d0, t0,
             1, 'length',     d1, t1,
             2, 'quality',    d2, t2,
             3, 'near_dedup', d3, t3)
           AS (stage, stage_name, n_docs, tokens)""",
        "d0", "t0")
      .select(col("stage"), col("stage_name"), col("n_docs"), col("tokens"),
        r6(col("n_docs").cast("double") / col("d0").cast("double"))
          .as("doc_share"),
        r6(col("tokens").cast("double") / col("t0").cast("double"))
          .as("token_share"))
      .orderBy("stage")
  }

  /** `ngram_coverage` — how much of the held-out splits' 3-gram mass
    * the train split's vocabulary already covers: per (split, lang),
    * the distinct-trigram count of val/test documents and the
    * fraction found in train's trigram vocabulary. This is the
    * gradient between [[decontaminate]] (whole-doc 8-gram hits =
    * leakage) and generalization measurement: coverage near 1 means
    * the held-out split can't measure memorization at the n-gram
    * level; coverage collapsing for one language flags a split whose
    * train side under-represents it. Rides the SAME doc_id-hash
    * bucket assignment as [[trainValSplit]], so the splits being
    * scored are exactly the splits the pipeline would ship.
    *
    * Scale: one corpus pass builds (doc, gram) rows, the
    * train-vocab distinct and the coverage join both shuffle on the
    * gram key — the `decontaminate` posture (never broadcast: train
    * vocab is corpus-sized). Grams travel as raw strings here for
    * oracle portability; the production swap is xxhash64 of the
    * gram ([[dedupExactDigest]]'s 8-byte-key argument), plan shape
    * unchanged.
    */
  def ngramCoverage(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
      .withColumn("toks", split(col("text"), " "))
      // sequence(0, size-3) DESCENDS for size < 3 (toks[-1] rows):
      // the guard is load-bearing, not cosmetic
      .where(size(col("toks")) >= 3)
      .select(col("lang"), col("split"),
        explode(array_distinct(expr(
          """transform(sequence(0, size(toks) - 3),
               i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))""")))
          .as("gram"))
    val trainVocab = grams.where(col("split") === "train")
      .select(col("gram")).distinct()
    grams.where(col("split") =!= "train")
      .join(trainVocab.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("total_ngrams"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L))
          .as("covered_ngrams"))
      .select(col("split"), col("lang"), col("total_ngrams"),
        col("covered_ngrams"),
        r6(col("covered_ngrams").cast("double")
          / col("total_ngrams").cast("double")).as("coverage"))
      .orderBy("split", "lang")
  }

  /** `dedup_cross_source` — the cross-source CONTAMINATION matrix:
    * for every unordered source pair connected by at least one
    * verified near-dup pair (J ≥ 0.8, the [[dedupNearPairs]]
    * stream), the dup-pair count and the number of distinct
    * documents involved. The mixture-design companion to
    * [[dedupNear]]: per-corpus dup RATES say how much to deduplicate;
    * the cross-source matrix says which sources are copies of EACH
    * OTHER — the "CC dump republished by N mirrors" signal that
    * decides whether two sources deserve independent mixture weights
    * ([[mixtureSample]]) or are one source wearing two names. The
    * diagonal (source_a = source_b) is the within-source dup mass
    * for comparison.
    *
    * Scale: the corpus-sized work is already paid by the memoized
    * pair silver; this query adds two joins where the BROADCAST side
    * is the post-threshold pair set (hundreds of rows at sf0.1,
    * ≪ docs at any scale — the opposite orientation from the size
    * joins inside the silver, on purpose: here docs stream, pairs
    * build). The pair count rides the same explode that feeds the
    * distinct-doc count (count(*) is exactly 2× pairs), so one
    * aggregate serves both outputs.
    */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val p = dedupPairsRouted(s, d).select(col("i"), col("j"))
    val withI = src.join(broadcast(p), col("doc_id") === col("i"))
      .select(col("source").as("si"), col("i"), col("j"))
    val lab = src.join(broadcast(withI), col("doc_id") === col("j"))
      .select(least(col("si"), col("source")).as("source_a"),
        greatest(col("si"), col("source")).as("source_b"),
        col("i"), col("j"))
    lab
      .select(col("source_a"), col("source_b"),
        explode(array(col("i"), col("j"))).as("doc"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((count(lit(1)) / lit(2L)).cast("long").as("dup_pairs"),
        countDistinct(col("doc")).as("docs_involved"))
      .orderBy("source_a", "source_b")
  }

  /** `tokenizer_fertility` — per-language pre-tokenizer FERTILITY:
    * subword-proxy tokens per whitespace word (the [[tokenCount]]
    * BPE-ish `[a-z0-9]+` regex as the subword stand-in) and
    * characters per subword token. Fertility is THE tokenizer-equity
    * metric for a multilingual corpus (Rust et al. 2021; Petrov
    * et al. 2023 "tokenizer unfairness"): a language whose fertility
    * runs high pays more sequence length per sentence, so token
    * budgets ([[packSequences]]) and mixture weights measured in
    * tokens silently under-sample it — this table is the correction
    * input.
    *
    * Portability: all sums are exact integers off one map-side
    * projection; the two ratios are single fenced divisions of
    * exact BIGINT sums. Scale shape: fully map-side-combined
    * aggregate to |lang| rows — no join, no window, one tiny
    * shuffle.
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("re"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"), sum(col("ch")).as("total_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("re_tokens"), col("total_chars"),
        r6(col("re_tokens").cast("double") / col("ws_tokens").cast("double"))
          .as("fertility"),
        r6(col("total_chars").cast("double") / col("re_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")

  /** `curriculum_bins` — length-curriculum stage assignment: per
    * language, docs rank into 4 NTILE stages by whitespace-token
    * count (short → long, the classic length curriculum; doc_id
    * breaks ties so the assignment is a total order), and the output
    * is the per-(lang, stage) datacard a curriculum schedule
    * consumes: doc count, token budget, and the stage's length
    * bracket. Per-language so no language's long tail lands entirely
    * in the last global stage.
    *
    * Scale: the NTILE window partitions by lang — entity-level rows
    * like `rfm_scores` / `session_stats`, so a language's docs rank
    * on one task. At 100 TB swap in the [[corpusShuffle]]
    * range-bucket global order (sample boundaries → broadcast →
    * bucket rank) exactly as `revenue_concentration` documents; the
    * per-stage aggregate itself is map-side-combined either way.
    */
  def curriculumBins(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("toks"), col("doc_id"))
    docs.withColumn("stage", ntile(4).over(w))
      .groupBy(col("lang"), col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"),
        min(col("toks")).as("min_tokens"), max(col("toks")).as("max_tokens"))
      .orderBy("lang", "stage")
  }

  /** `mixture_weights` — temperature-scaled source sampling weights,
    * the data-mixing classic (multilingual pretraining's
    * p_s^τ / Σ p_t^τ up-sampling of low-resource slices; DoReMi's
    * baseline): per source, token count, raw corpus share, and the
    * τ = 0.5 resampled weight. τ is HALF on purpose — p^0.5 = sqrt(p)
    * and IEEE sqrt is correctly rounded, so both engines compute the
    * identical double where a general pow(p, 0.7) could differ in the
    * last bit and break the hash gate; 0.5 sits inside the published
    * 0.3–0.7 flattening band. One map-side aggregate (sources are
    * single digits), shares against broadcast totals, r6 fences on
    * the divisions.
    */
  def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot")).select(col("tot"))
    // per-source sqrt weights quantized to 1e-9 LONGs before the
    // normalizer sum: a double Σ would fold in partition order and
    // could differ from DuckDB's in the last bit; the integer fold is
    // order-free and exact in both engines
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("w_int",
        floor(sqrt(col("share")) * lit(1.0e9) + lit(0.5)).cast("long"))
    val z = shared.agg(sum(col("w_int")).as("z")).select(col("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r6(col("share")).as("share"),
        r6(col("w_int").cast("double") / col("z").cast("double"))
          .as("weight"))
      .orderBy("source")
  }

  /** `cross_val_split` — k-fold assignment audit (k = 5): every
    * document lands in a fold via the SAME multiplicative-hash stream
    * as [[trainValSplit]] (mod 5 instead of mod 10), and the output
    * is the per-fold datacard — doc count, char mass, language
    * coverage, share — the balance check run before trusting any
    * cross-validated metric. Row-local assignment (stable under
    * corpus appends, no shuffle to assign) + one hash aggregate.
    */
  def crossValSplit(s: SparkSession, d: String): DataFrame = {
    val folds = Tables.documents(s, d)
      .withColumn("fold",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(5))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
    val tot = folds.agg(sum(col("n_docs")).as("tot")).select(col("tot"))
    folds.crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("total_chars"),
        col("n_langs"),
        r6(col("n_docs").cast("double") / col("tot").cast("double"))
          .as("share"))
      .orderBy("fold")
  }

  /** `quality_nb` — train a quality CLASSIFIER in the engine: the
    * CCNet/fastText-classifier curation step with the model swapped
    * for multinomial Naive Bayes, the one classifier whose training
    * is pure relational aggregation and therefore oracle-portable
    * (token counts + Laplace smoothing — no iterative optimizer).
    * Weak labels come from the Gopher rule block (pass all three
    * APPLICABLE rules = good; the stop-word rule is excluded from
    * the label because the synthetic 31-word vocabulary contains
    * one stop word, so every document fails it and the label would
    * be one-class — the census row keeps all four);
    * the output is the resubstitution confusion matrix with the mean
    * NB logit per cell — the datacard that says whether token
    * distributions alone can reproduce the rule filter (and, by
    * extension, generalize it to rule-evading documents).
    *
    * Portability: every per-token weight is the LOG-LIKELIHOOD-RATIO
    * quantized to an integer once per VOCAB WORD —
    * `floor(ln(r6((tg+1)(Tb+V) / ((tb+1)(Tg+V))))·1e6 + 0.5)` (the
    * [[tokenSurprisal]] grid; the ratio — not the raw probability —
    * is what r6 quantizes, so nothing underflows the 1e-6 grid at
    * any corpus size; all integer products stay < 2⁵³). Per-doc
    * logits are order-free LONG sums of those weights plus the
    * quantized prior ratio; the prediction is an integer sign test.
    *
    * Scale: training = one token-count aggregation (map-side
    * combined) + a vocab-sized weight table; scoring = one join of
    * the token stream against that table + a per-doc integer sum —
    * the same two-shuffle shape as tf-idf. At 100 TB the weight
    * table broadcasts (|vocab| rows).
    */
  def qualityNb(s: SparkSession, d: String): DataFrame = {
    val labels = gopherFlags(s, d).select(col("doc_id"),
      (!col("f_wc") && !col("f_mwl") && !col("f_alpha"))
        .as("label_good"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(labels, Seq("doc_id"))
    // class-conditional token counts + the shared totals, one pass;
    // the vocab-sized count table is localCheckpoint'd (lazy) so the
    // totals fold and the weight projection read ONE materialization
    // instead of each re-running the corpus token aggregation.
    // Executor-loss posture: unreplicated executor blocks — lost
    // executor fails the query rather than recomputing (CorpusSilver
    // edge-memo tradeoff; Dataset.checkpoint is the cluster swap)
    val perTok = toks.groupBy(col("token"))
      .agg(sum(when(col("label_good"), 1L).otherwise(0L)).as("tg"),
        sum(when(!col("label_good"), 1L).otherwise(0L)).as("tb"))
      .localCheckpoint(false)
    val totals = perTok.agg(
      sum(col("tg")).as("total_g"), sum(col("tb")).as("total_b"),
      count(lit(1)).as("v"))
      .select(col("total_g"), col("total_b"), col("v"))
    val weights = perTok.crossJoin(broadcast(totals))
      .select(col("token"),
        floor(log(r6(
          ((col("tg") + 1L) * (col("total_b") + col("v"))).cast("double")
            / ((col("tb") + 1L) * (col("total_g") + col("v")))
              .cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("w_q"))
    val priors = labels.agg(
      sum(when(col("label_good"), 1L).otherwise(0L)).as("ng"),
      sum(when(!col("label_good"), 1L).otherwise(0L)).as("nb"))
      .select(floor(log(r6(col("ng").cast("double")
        / nullif(col("nb").cast("double"), lit(0.0))))
        * lit(1000000.0) + lit(0.5))
        .cast("long").as("prior_q"))
    val logits = toks.join(weights, Seq("token"))
      .groupBy(col("doc_id"), col("label_good"))
      .agg(sum(col("w_q")).as("sum_w"))
      .crossJoin(broadcast(priors))
      .withColumn("logit_q", col("prior_q") + col("sum_w"))
    logits
      .groupBy(col("label_good"), (col("logit_q") > 0L).as("pred_good"))
      .agg(count(lit(1)).as("n_docs"),
        r6(avg(col("logit_q")) / lit(1000000.0)).as("avg_logit"))
      .orderBy("label_good", "pred_good")
  }

  /** `quality_nb_cv` — the LEAKAGE-FREE evaluation [[qualityNb]]
    * deliberately doesn't do (its confusion is resubstitution —
    * trained and scored on the same documents): train the identical
    * multinomial-NB weights on folds 1–4 of [[crossValSplit]]'s
    * assignment, score the HELD-OUT fold 0, and report its confusion
    * matrix — the honest generalization number a classifier-based
    * curation gate ships with.
    *
    * Two deltas vs [[qualityNb]], both forced by the split: (1) the
    * fold predicate is the crossValSplit multiplicative-hash stream —
    * row-local, so train/test membership never shuffles; (2) held-out
    * tokens UNSEEN in training take the Laplace zero-count weight
    * (`tg = tb = 0` in the same LLR formula → one corpus-level
    * constant) via a left join + coalesce — multinomial NB's standard
    * smoothing, and the one code path resubstitution can never
    * exercise. Same two-shuffle scale shape as the trainer; the
    * weight table still broadcasts.
    */
  def qualityNbCv(s: SparkSession, d: String): DataFrame = {
    val foldCol = ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
      % lit(1000000007L)) % lit(5)
    val labels = gopherFlags(s, d).select(col("doc_id"),
      (!col("f_wc") && !col("f_mwl") && !col("f_alpha"))
        .as("label_good"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(labels, Seq("doc_id"))
      .withColumn("fold", foldCol)
    val train = toks.where(col("fold") =!= 0L)
    // vocab-sized, localCheckpoint'd (lazy): totals, weights AND the
    // unseen-token w0 all read one materialization — the bare form
    // re-ran the train-fold token aggregation three times
    val perTok = train.groupBy(col("token"))
      .agg(sum(when(col("label_good"), 1L).otherwise(0L)).as("tg"),
        sum(when(!col("label_good"), 1L).otherwise(0L)).as("tb"))
      .localCheckpoint(false)
    val totals = perTok.agg(
      sum(col("tg")).as("total_g"), sum(col("tb")).as("total_b"),
      count(lit(1)).as("v"))
      .select(col("total_g"), col("total_b"), col("v"))
    def llrQ(tg: Column, tb: Column) =
      floor(log(r6(
        ((tg + 1L) * (col("total_b") + col("v"))).cast("double")
          / ((tb + 1L) * (col("total_g") + col("v"))).cast("double")))
        * lit(1000000.0) + lit(0.5)).cast("long")
    val weights = perTok.crossJoin(broadcast(totals))
      .select(col("token"), llrQ(col("tg"), col("tb")).as("w_q"))
    // the unseen-token weight: the same formula at tg = tb = 0
    val w0 = totals.select(llrQ(lit(0L), lit(0L)).as("w0_q"))
    val priors = labels.withColumn("fold", foldCol)
      .where(col("fold") =!= 0L)
      .agg(
        sum(when(col("label_good"), 1L).otherwise(0L)).as("ng"),
        sum(when(!col("label_good"), 1L).otherwise(0L)).as("nb"))
      .select(floor(log(r6(col("ng").cast("double")
        / nullif(col("nb").cast("double"), lit(0.0))))
        * lit(1000000.0) + lit(0.5))
        .cast("long").as("prior_q"))
    val logits = toks.where(col("fold") === 0L)
      .join(weights, Seq("token"), "left")
      .crossJoin(broadcast(w0))
      .withColumn("w_eff", coalesce(col("w_q"), col("w0_q")))
      .groupBy(col("doc_id"), col("label_good"))
      .agg(sum(col("w_eff")).as("sum_w"))
      .crossJoin(broadcast(priors))
      .withColumn("logit_q", col("prior_q") + col("sum_w"))
    logits
      .groupBy(col("label_good"), (col("logit_q") > 0L).as("pred_good"))
      .agg(count(lit(1)).as("n_docs"),
        r6(avg(col("logit_q")) / lit(1000000.0)).as("avg_logit"))
      .orderBy("label_good", "pred_good")
  }

  /** `dedup_cascade` — the published dedup PIPELINE as one gated
    * accounting query: documents and tokens surviving each stage of
    * the full cascade a production corpus release runs —
    *
    *   1_raw → 2_exact (one survivor per distinct text) →
    *   3_near (≥ 0.8 shingle-Jaccard removal, routed pair source) →
    *   4_substring (ExactSubstr ≥ 50-token span CUT — token-level,
    *   doc count unchanged) → 5_semantic (SemDeDup centroid-rank
    *   removal over the trained Lloyd cells)
    *
    * — i.e. `dedup_impact`'s funnel extended through the round-9
    * stages, with shares of raw. This is the capstone the curation
    * suite reads first: which gate removes what, in docs AND tokens.
    * Stage order is the conservative published one (doc-level exact/
    * near first, then span surgery, then semantic); spans and
    * semantic pairs are computed on the FULL corpus (their silvers
    * are corpus-level), applied to the surviving set.
    *
    * Cost: every expensive input is a memoized session silver (the
    * routed pair set, the substring runs, the Lloyd codebook via
    * [[graft.operators.LlmVectorOps.semdedup]]), so the cascade adds
    * only anti-joins and five count/sum rows; at 100 TB each silver
    * is a write-once table and this query is the cheap report over
    * them. Semantic coverage rides the doc_id == vec_id convention
    * (`multimodal_profile`'s join): docs without embeddings pass the
    * semantic gate untouched.
    */
  def dedupCascade(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val exactKeep = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val nearRemoved = dedupPairsRouted(s, d)
      .select(col("j").as("doc_id")).distinct()
    val substr = dedupSubstringRemoval(s, d)
      .select(col("doc_id"), col("removed_tokens"))
    val semRemoved = graft.operators.LlmVectorOps.semdedup(s, d)
      .select(col("vec_id").as("doc_id"))
    // ONE pass: the five funnel stages were five separate aggregates,
    // each re-running its whole upstream chain (the exact-keep
    // groupBy over the corpus recomputed 4×, documents scanned ~10× —
    // guide §2.4/§6, the r13 marginal-rejoin pattern). Stage
    // membership is monotone (each gate only removes docs), so one
    // flagged row per doc carries every stage's predicate and ONE
    // aggregate computes all five (docs, tokens) pairs as conditional
    // sums; the funnel unstacks from that single row. Every gate
    // table is unique on doc_id (exactKeep: one row per text group;
    // nearRemoved: distinct; substr: groupBy(doc_id); semRemoved:
    // vec_id unique in the assignment), so the left joins cannot
    // duplicate rows and flags ≡ the semi/anti joins they replace.
    val flags = docs
      .join(exactKeep.withColumn("f2", lit(true)), Seq("doc_id"), "left")
      .join(nearRemoved.withColumn("rm3", lit(true)), Seq("doc_id"), "left")
      .join(substr, Seq("doc_id"), "left")
      .join(semRemoved.withColumn("rm5", lit(true)), Seq("doc_id"), "left")
      .select(col("n_toks"),
        coalesce(col("f2"), lit(false)).as("f2"),
        (coalesce(col("f2"), lit(false))
          && !coalesce(col("rm3"), lit(false))).as("f3"),
        (col("n_toks") - coalesce(col("removed_tokens"), lit(0L)))
          .as("toks4"),
        (coalesce(col("f2"), lit(false))
          && !coalesce(col("rm3"), lit(false))
          && !coalesce(col("rm5"), lit(false))).as("f5"))
    def cnt(f: org.apache.spark.sql.Column) =
      sum(when(f, 1L).otherwise(0L))
    def tok(f: org.apache.spark.sql.Column,
        t: org.apache.spark.sql.Column) = sum(when(f, t))
    flags.agg(
      count(lit(1)).as("d1"), sum(col("n_toks")).as("t1"),
      cnt(col("f2")).as("d2"), tok(col("f2"), col("n_toks")).as("t2"),
      cnt(col("f3")).as("d3"), tok(col("f3"), col("n_toks")).as("t3"),
      tok(col("f3"), col("toks4")).as("t4"),
      cnt(col("f5")).as("d5"), tok(col("f5"), col("toks4")).as("t5"))
      .selectExpr(
        """stack(5,
             '1_raw',       d1, t1,
             '2_exact',     d2, t2,
             '3_near',      d3, t3,
             '4_substring', d3, t4,
             '5_semantic',  d5, t5
           ) AS (stage, n_docs, n_tokens)""",
        "d1", "t1")
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        r6(col("n_docs").cast("double") / col("d1").cast("double"))
          .as("pct_docs"),
        r6(col("n_tokens").cast("double")
          / col("t1").cast("double")).as("pct_tokens"))
      .orderBy("stage")
  }

  /** [[dedupCascade]]'s DuckDB oracle: the semdedup CTE chain
    * (re-trained Lloyd codebook and all — shared fragment,
    * [[graft.operators.LlmVectorOps.semdedupCtes]]), the near-pair
    * replay, the substring interval-union replay (CTEs prefixed `s`
    * to avoid the fragment's names), and the five-stage funnel.
    */
  private[graft] def dedupCascadeOracleSql: String =
    s"""WITH ${graft.operators.LlmVectorOps.semdedupCtes},
         docs AS (SELECT doc_id, text,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
            FROM documents),
         exact_keep AS (SELECT MIN(doc_id) AS doc_id
            FROM documents GROUP BY text),
         sh_t AS (
           SELECT doc_id, unnest(list_distinct([toks[i] || ' ' || toks[i+1]
                    || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh_t GROUP BY 1),
         cpairs AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
                   FROM sh_t a JOIN sh_t b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         np AS (SELECT i, j
                FROM cpairs JOIN sizes si ON si.doc_id = i
                            JOIN sizes sj ON sj.doc_id = j
                WHERE floor((inter / (si.sz + sj.sz - inter)) * 1000000
                            + 0.5) / 1000000 >= 0.8),
         s2 AS (SELECT d.* FROM docs d
                JOIN exact_keep k ON k.doc_id = d.doc_id),
         s3 AS (SELECT * FROM s2
                WHERE doc_id NOT IN (SELECT j FROM np)),
         sdocs AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE len(string_split(text, ' ')) >= 8),
         swins AS (
           SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS win
           FROM (SELECT doc_id, toks,
                        unnest(range(1, len(toks) - 6)) AS pos FROM sdocs)),
         spair AS (
           SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pi, b.pos AS pj
           FROM swins a JOIN swins b
             ON a.win = b.win AND a.doc_id < b.doc_id),
         sruns AS (
           SELECT i, j, pi - pj AS diag, pi,
                  row_number() OVER (PARTITION BY i, j, pi - pj
                                     ORDER BY pi) AS rn
           FROM spair),
         sisl AS (
           SELECT i, j, diag, pi - rn AS island, count(*) AS len_wins,
                  min(pi) AS pi_start
           FROM sruns GROUP BY 1, 2, 3, 4),
         scut AS (SELECT * FROM sisl WHERE len_wins >= 43),
         siv AS (
           SELECT DISTINCT doc_id, st, en FROM (
             SELECT i AS doc_id, pi_start AS st,
                    pi_start + len_wins + 6 AS en FROM scut
             UNION ALL
             SELECT j AS doc_id, pi_start - diag AS st,
                    pi_start - diag + len_wins + 6 AS en FROM scut)),
         smk AS (
           SELECT doc_id, st, en,
                  max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
           FROM siv),
         sgrp AS (
           SELECT doc_id, st, en,
                  SUM(CASE WHEN prev_max IS NULL OR st > prev_max + 1
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY st, en
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS region
           FROM smk),
         sreg AS (
           SELECT doc_id, region, min(st) AS st, max(en) AS en
           FROM sgrp GROUP BY 1, 2),
         sper AS (
           SELECT doc_id, CAST(SUM(en - st + 1) AS BIGINT)
                    AS removed_tokens
           FROM sreg GROUP BY 1),
         s4 AS (SELECT s3.doc_id, s3.n_toks,
                  s3.n_toks - COALESCE(sper.removed_tokens, 0) AS toks4
                FROM s3 LEFT JOIN sper ON sper.doc_id = s3.doc_id),
         s5 AS (SELECT * FROM s4
                WHERE doc_id NOT IN (SELECT vec_id FROM rem)),
         raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM docs),
         u AS (SELECT '1_raw' AS stage, n_docs, n_tokens FROM raw
           UNION ALL SELECT '2_exact', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_toks) AS BIGINT) FROM s2
           UNION ALL SELECT '3_near', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_toks) AS BIGINT) FROM s3
           UNION ALL SELECT '4_substring', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(toks4) AS BIGINT) FROM s4
           UNION ALL SELECT '5_semantic', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(toks4) AS BIGINT) FROM s5)
         SELECT stage, n_docs, n_tokens,
                floor(CAST(n_docs AS DOUBLE)
                  / CAST((SELECT n_docs FROM raw) AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 AS pct_docs,
                floor(CAST(n_tokens AS DOUBLE)
                  / CAST((SELECT n_tokens FROM raw) AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 AS pct_tokens
         FROM u ORDER BY stage"""

  /** `k_anonymity` — the privacy-side census PII scrubbing doesn't
    * cover: treat (lang, source, length-decile) as the
    * quasi-identifier tuple and report every equivalence class
    * smaller than k = 5 — documents whose metadata combination alone
    * narrows them to a handful of candidates (Sweeney's k-anonymity
    * applied as a release-audit over the corpus datacard dimensions).
    * Output: each at-risk class with its size, plus the always-present
    * `__total` row whose `k` carries the raw at-risk document COUNT
    * (not a share — the count keeps the column integer-typed and the
    * share is one division away against `n_docs` from any datacard
    * row), so the headline number survives even a clean corpus
    * (non-vacuous gate).
    * One hash-aggregate over row-local keys; the decile rides a
    * fenced integer division of n_chars (no window, no sort) — at
    * 100 TB this is a map-side-combined single shuffle.
    */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val classes = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        least(lit(9L), expr("n_chars div 60")).cast("long").as("len_bin"))
      .groupBy(col("lang"), col("source"), col("len_bin"))
      .agg(count(lit(1)).as("k"))
    val risky = classes.where(col("k") < 5)
      .select(col("lang"), col("source"), col("len_bin"), col("k"))
    val total = classes.agg(
      sum(col("k")).as("n_docs"),
      sum(when(col("k") < 5, col("k")).otherwise(0L)).as("at_risk"))
      .select(lit("__total").as("lang"), lit("__total").as("source"),
        lit(-1L).as("len_bin"),
        col("at_risk").as("k"))
    risky.unionByName(total).orderBy("lang", "source", "len_bin")
  }

  /** How many BPE merge rounds [[bpeMerges]] trains (the "first N
    * merges" of the tokenizer-training classic — enough to exercise
    * multi-char symbols merging with each other, small enough that
    * the N-round driver loop stays a footnote next to the corpus
    * scan).
    */
  private[graft] val BpeMergeRounds = 12

  /** `bpe_merges` — byte-pair-encoding tokenizer TRAINING (Sennrich
    * et al. 2016 §3.2): the first [[BpeMergeRounds]] greedy merges
    * learned from the corpus, each with its pair frequency at merge
    * time. `tokenizer_fertility` measures a tokenizer; this trains
    * one — the training-data-pipeline classic the curation suite was
    * missing.
    *
    * Distributed shape: ONE corpus-sized pass builds the word
    * frequency table (explode + hash-agg — the only job that touches
    * raw text; at 100 TB the word table is millions of rows, not
    * billions of tokens), then every merge round runs two narrow
    * operations over THAT table: an adjacent-pair weighted count
    * (explode + hash-agg, map-side combined) whose argmax row — one
    * scalar — is the round's merge (the IVF-codebook driver-read
    * pattern: an aggregation RESULT crosses to the driver, never row
    * data), and a row-local string rewrite applying it. Rounds are
    * lineage-TRUNCATED (`localCheckpoint`, the components-fixpoint
    * posture) and the parent released each step: a plain persist()
    * keeps the logical plan nesting one rewrite level per round, and
    * by round 12 Catalyst re-analyzes the whole chain (corpus scan
    * included) on every job — measured 11.5 s at sf0.1 vs the
    * truncated loop's ~2 s, the dedup_components lesson replayed.
    * Bounded rounds, integer counts → hash-gateable.
    *
    * Symbol representation is Sennrich's space-joined form, padded
    * with boundary spaces: merging pair (l, r) is the double-space
    * literal-replace form — see [[bpeMergePass]] for why a naive
    * single replace is NOT greedy merging and why the doubled
    * separators make one replace-all exactly greedy leftmost
    * non-overlapping merging, the textbook semantics
    * (TextPipelineSpec replays the dict-based reference algorithm
    * driver-side and pins equality). Pair counts weight EVERY
    * adjacent position (Sennrich's get_stats), ties break on
    * (count DESC, l ASC, r ASC) — a total order, so the merge
    * sequence is deterministic and the DuckDB oracle replays all
    * rounds unrolled.
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrainMerges(s, d).toDF("merge_rank", "lhs", "rhs", "c")
      .select(col("merge_rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"),
        col("c").as("pair_count"))
      .orderBy("merge_rank")
  }

  /** The trained merge list itself — the [[BpeMergeRounds]] argmax
    * loop factored out of [[bpeMerges]] so [[bpeEncode]] can APPLY
    * the same tokenizer. Memoized in [[graft.engine.SessionMemo]] per
    * (session, corpus fingerprint):
    * the list is 12 tuples, but producing it costs one corpus scan
    * plus 12 aggregate jobs — two registered consumers
    * (`bpe_merges`, `bpe_encode`) must not pay that twice (the merges,
    * like [[corpusPairStats]], are a corpus property).
    */
  private[graft] def bpeTrainMerges(s: SparkSession,
      d: String): Seq[(Int, String, String, Long)] =
    graft.engine.SessionMemo.getOrCompute(s, "bpe_merges|" +
      graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(
      bpeTrainMergesUncached(s, d))

  /** One greedy merge of pair (l, r) over the space-joined symbol
    * form, via the DOUBLE-SPACE trick: a naive non-overlapping
    * replace of " l r " → " lr " is NOT greedy leftmost merging —
    * each match consumes its flanking spaces, so the next eligible
    * occurrence loses its boundary (disjoint repeats " l r l r "
    * under-merge to " lr l r "; same-symbol runs " a a a a a a "
    * merge the WRONG positions, [aa, a, aa, a] where greedy gives
    * [aa, aa, aa]). Doubling every separator first gives each
    * occurrence its own boundary space on each side — " l  r "
    * matches are pairwise disjoint, so one replace-all merges exactly
    * the greedy leftmost non-overlapping set — and collapsing the
    * leftover double spaces restores the canonical form (runs of
    * > 2 spaces cannot occur: replacements emit single-spaced text
    * and untouched gaps hold exactly two). Verified exhaustively
    * against the textbook loop over all ≤ 10-symbol {a,b} words and
    * ≤ 7-symbol multi-char words for every merge shape including
    * l == r (21,300 cases, 0 divergences); TrainApplySpec pins a
    * constructed corpus through both hazard shapes. Shared by the
    * trainer's rewrite and [[bpeEncode]]'s application, and mirrored
    * verbatim in the generated oracle ([[bpeOracleCtes]]), so the
    * three can never disagree on merge semantics.
    */
  private def bpeMergePass(w: Column, l: String, r: String): Column =
    replace(
      replace(
        replace(w, lit(" "), lit("  ")),
        lit(s" $l  $r "), lit(s" $l$r ")),
      lit("  "), lit(" "))

  private def bpeTrainMergesUncached(s: SparkSession,
      d: String): Seq[(Int, String, String, Long)] = {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          " "),
        lit(" ")).as("w"), col("cnt"))
    var cur = words.localCheckpoint(false)
    // the previous round's blocks are released only AFTER the argmax
    // action has materialized the current round's checkpoint — which
    // means each round costs ONE job (the argmax rides the
    // materialization, the componentsFixpoint checksum trick), not a
    // count() + argmax pair
    var prev: DataFrame = null
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (round <- 1 to BpeMergeRounds if !exhausted) {
      val top = cur
        .withColumn("s", split(trim(col("w")), " "))
        .where(size(col("s")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(s) - 1),
               i -> struct(element_at(s, i) AS l,
                           element_at(s, i + 1) AS r))""")).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .take(1)
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, c))
        val next = cur.select(
          bpeMergePass(col("w"), l, r).as("w"),
          col("cnt")).localCheckpoint(false)
        prev = cur
        cur = next
      }
    }
    if (prev != null) prev.unpersist()
    cur.unpersist()
    merges.toSeq
  }

  /** `bpe_encode` — APPLY the tokenizer [[bpeMerges]] trained (the
    * train→apply closure: a merge table nobody encodes with is a
    * benchmark, not a tokenizer): encode the corpus with the learned
    * merge list and report, per source, the whitespace-token
    * baseline, the BPE token count, fertility (BPE tokens per word —
    * `tokenizer_fertility`'s metric now computed for the IN-ENGINE
    * tokenizer), and BPE tokens per document.
    *
    * Distributed shape: encoding is ROW-LOCAL given the merge list —
    * the 12 learned merges are driver-side literals (an aggregation
    * RESULT, the codebook pattern), applied as a chain of 12
    * [[bpeMergePass]] rewrites over the space-joined symbol form,
    * exactly the training rewrite — so greedy application order
    * matches training by construction. The
    * encode runs once per DISTINCT word (vocab-sized frame, broadcast
    * back onto the (source, word) counts), so corpus text is scanned
    * once and never shuffled: at 100 TB the expensive part is the
    * word-count aggregate the trainer already ran.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val perSrcDocs = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val words = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    val per = words.join(broadcast(bpeWordSubCounts(s, d)), Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_bpe_tokens"))
    per.join(perSrcDocs, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        r6(col("n_bpe_tokens").cast("double")
          / col("n_words").cast("double")).as("fertility"),
        r6(col("n_bpe_tokens").cast("double")
          / col("n_docs").cast("double")).as("tokens_per_doc"))
      .orderBy("source")
  }

  /** The word → BPE-subword-count mapping (the ENCODER itself as a
    * vocab-sized silver): every distinct corpus word, encoded with
    * the learned merge list via the chained double-space
    * [[bpeMergePass]] rewrites — exactly the training rewrite, so
    * greedy application order matches training by construction.
    * MEMOIZED per (session, corpus): two registered consumers
    * (`bpe_encode`, `pack_sequences_bpe`) read it, and each would
    * otherwise re-run the 12-pass rewrite over the vocabulary.
    * Vocab-sized (distinct words, not token positions) — broadcasts
    * at any corpus scale where a tokenizer's vocab fits an executor,
    * i.e. always.
    */
  private[graft] def bpeWordSubCounts(s: SparkSession,
      d: String): DataFrame = {
    def build = {
      val merges = bpeTrainMerges(s, d)
      val sym0 = concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          " "),
        lit(" "))
      val symFinal = merges.foldLeft(sym0) { case (c, (_, l, r, _)) =>
        bpeMergePass(c, l, r)
      }
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")) > 0)
        .select(col("word")).distinct()
        .withColumn("n_sub", size(split(trim(symFinal), " ")).cast("long"))
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "bpe_encmap|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "documents"))(build)
  }

  /** `pack_sequences_bpe` — [[packSequences]]'s 512-token packing
    * driven by REAL tokenizer lengths (the train→apply→pack closure):
    * per-document token counts come from the in-engine BPE encoder
    * ([[bpeWordSubCounts]] — broadcast vocab mapping, row-local
    * lookup) instead of the whitespace proxy, then the identical
    * exclusive-prefix-sum binning cuts packs per lang. A doc with no
    * words (empty text) packs at 0 tokens via the left join. Shape:
    * one corpus explode reduced to (doc_id, Σn_sub) with map-side
    * combine, one broadcast join against the vocab silver, then the
    * one window shuffle the whitespace variant already pays — at
    * 100 TB the added cost over `pack_sequences` is one hash
    * aggregate, not a second corpus scan.
    */
  def packSequencesBpe(s: SparkSession, d: String): DataFrame = {
    val budget = 512
    val docs = Tables.documents(s, d)
    val perDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(bpeWordSubCounts(s, d)), Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("n_sub")).as("nt"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("nt"), lit(0L)))
      .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("off") / budget))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  /** [[bpeEncode]]'s DuckDB oracle: the SAME generated training-CTE
    * chain as [[bpeMergesOracleSql]] (the `word` column rides every
    * `w_r` rewrite, so `w$BpeMergeRounds` IS the word → encoded-form
    * mapping), then the per-source roll-up over the (source, word)
    * counts. Reusing the chain means the oracle re-trains the
    * tokenizer from raw text — the encode gate cannot pass unless
    * training AND application both match.
    */
  private[graft] def bpeEncodeOracleSql: String =
    s"""WITH $bpeOracleCtes,
         encmap AS (SELECT word,
              CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_sub
            FROM w$BpeMergeRounds),
         dw AS (SELECT source, word, COUNT(*) AS n FROM (
                  SELECT source, unnest(string_split(text, ' ')) AS word
                  FROM documents)
                WHERE length(word) > 0 GROUP BY source, word),
         per AS (SELECT dw.source,
                  CAST(SUM(dw.n) AS BIGINT) AS n_words,
                  CAST(SUM(dw.n * e.n_sub) AS BIGINT) AS n_bpe_tokens
                 FROM dw JOIN encmap e ON e.word = dw.word
                 GROUP BY dw.source),
         pd AS (SELECT source, COUNT(*) AS n_docs
                FROM documents GROUP BY source)
         SELECT per.source, pd.n_docs, per.n_words, per.n_bpe_tokens,
                floor(CAST(n_bpe_tokens AS DOUBLE)
                  / CAST(n_words AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS fertility,
                floor(CAST(n_bpe_tokens AS DOUBLE)
                  / CAST(pd.n_docs AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS tokens_per_doc
         FROM per JOIN pd ON pd.source = per.source
         ORDER BY per.source"""

  /** `pack_sequences_bpe`'s DuckDB oracle: the shared training-CTE
    * chain, the encode oracle's word → n_sub mapping, a per-doc
    * token roll-up (LEFT JOIN so wordless docs pack at 0), then
    * `pack_sequences`' exclusive-prefix-sum binning verbatim. One
    * gate covers train → apply → pack end to end.
    */
  private[graft] def packSequencesBpeOracleSql: String =
    s"""WITH $bpeOracleCtes,
         encmap AS (SELECT word,
              CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_sub
            FROM w$BpeMergeRounds),
         dw AS (SELECT doc_id, word FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS word
                  FROM documents)
                WHERE length(word) > 0),
         dcnt AS (SELECT dw.doc_id,
                  CAST(SUM(e.n_sub) AS BIGINT) AS nt
                 FROM dw JOIN encmap e ON e.word = dw.word
                 GROUP BY dw.doc_id),
         pdoc AS (SELECT d.doc_id, d.lang,
                  CAST(COALESCE(c.nt, 0) AS BIGINT) AS n_tokens
                 FROM documents d LEFT JOIN dcnt c ON c.doc_id = d.doc_id),
         offs AS (SELECT doc_id, lang, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS off
                 FROM pdoc)
         SELECT lang, CAST(floor(off / 512.0) AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM offs GROUP BY 1, 2 ORDER BY lang, bin"""

  /** [[bpeMerges]]'s DuckDB oracle — the same training loop with the
    * [[BpeMergeRounds]] rounds UNROLLED as chained CTEs (one
    * pair-count + argmax + rewrite triple per round), generated so
    * the round count can never drift from the operator's. Every CTE
    * is MATERIALIZED: each round references its parent twice (pair
    * count + rewrite), so default CTE inlining would expand the base
    * scan 2^N times.
    */
  private[graft] def bpeMergesOracleSql: String = {
    val sel = (1 to BpeMergeRounds).map { r =>
      s"""SELECT $r AS merge_rank, l AS lhs, r AS rhs,
            l || r AS merged, c AS pair_count FROM m$r"""
    }.mkString("\n UNION ALL ")
    s"WITH $bpeOracleCtes\n$sel ORDER BY merge_rank"
  }

  /** The generated training-CTE chain shared by the `bpe_merges` and
    * `bpe_encode` oracles (w0 … w[[BpeMergeRounds]] with the per-round
    * pair-count/argmax/rewrite triple). Every `w_r` carries the
    * ORIGINAL `word` alongside its rewritten symbol form: pair counts
    * aggregate over (l, r) regardless, so the merges are unchanged,
    * and the final table doubles as the encode oracle's word →
    * subword-count mapping. The rewrite is the engine's double-space
    * [[bpeMergePass]] verbatim, guarded for EARLY EXHAUSTION: when a
    * round's `m_r` is empty (the pair stream dried up before round
    * N), `w_r` passes `w` through unchanged — a bare
    * `replace(w, NULL, NULL)` would NULL-poison every later CTE and
    * sink the encode oracle on tiny corpora (the trainer's loop just
    * stops; the unrolled SQL can't). CTE names used: w0..wN, p1..pN,
    * m1..mN.
    */
  private[graft] def bpeOracleCtes: String = {
    val w0 =
      """w0 AS MATERIALIZED (
           SELECT word, ' ' || array_to_string(
                    [word[i] for i in range(1, length(word) + 1)], ' ')
                  || ' ' AS w, cnt
           FROM (SELECT word, COUNT(*) AS cnt
                 FROM (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents)
                 WHERE length(word) > 0 GROUP BY word))"""
    val rounds = (1 to BpeMergeRounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r,
                    CAST(SUM(cnt) AS BIGINT) AS c
             FROM (SELECT unnest([{'l': s[i], 'r': s[i + 1]}
                                  for i in range(1, len(s))]) AS pr, cnt
                   FROM (SELECT string_split(trim(w), ' ') AS s, cnt
                         FROM w${r - 1})
                   WHERE len(s) >= 2)
             GROUP BY 1, 2),
         m$r AS MATERIALIZED (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
         w$r AS MATERIALIZED (SELECT word,
             CASE WHEN (SELECT COUNT(*) FROM m$r) = 0 THEN w
                  ELSE replace(replace(replace(w, ' ', '  '),
                    ' ' || (SELECT l FROM m$r) || '  '
                        || (SELECT r FROM m$r) || ' ',
                    ' ' || (SELECT l FROM m$r)
                        || (SELECT r FROM m$r) || ' '),
                    '  ', ' ') END AS w, cnt
             FROM w${r - 1})"""
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }
}

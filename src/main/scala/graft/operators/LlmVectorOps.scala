package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Determinism.r6
import graft.engine.Tables
import graft.functions.VectorExprs

/** Vector-similarity + multimodal-column operators (SURVEY.md §2.2
  * E19/E21 + the mandated ANN and multimodal surface).
  *
  * Determinism contract for every cosine here: dot and norms fold in
  * ascending index order with each float widened to double before the
  * multiply — the DuckDB oracle runs the identical op sequence, so the
  * doubles match bit-for-bit and survive 6 dp rounding. The hot loop
  * is the native codegen'd `graft.functions.DotProduct` (the
  * interpreted `zip_with`+`aggregate` formulation costs ~50× more at
  * sf0.1); norms are computed once per row *before* any pair join.
  */
object LlmVectorOps {

  /** Constants shared by the Spark queries AND the generated DuckDB
    * oracles. Every literal here appears on both sides of a
    * hash-gate; a change to one side's copy would silently break
    * gating and surface only at Verify time — deriving both from ONE
    * named val (the `lshPlaneVal` precedent, applied to the scalar
    * knobs) makes the drift impossible.
    */
  private[graft] val embDim = 64     // fixture embedding dimensionality
  private[graft] val nProbes = 5     // probe set: vec_id < nProbes
  private[graft] val lshTables = 8   // L hash tables
  private[graft] val lshKPlanes = 4  // k hyperplanes per table
  private[graft] val ivfStride = 100 // seed centroids: vec_id % stride = 0
  private[graft] val ivfNprobe = 2   // probed lists in the plain IVF rows

  private[graft] def withNorm(s: SparkSession, df: DataFrame, emb: String,
      normName: String): DataFrame =
    df.withColumn(normName,
      sqrt(VectorExprs.dot(s, col(emb), col(emb))))

  /** E19 `similarity_topk` — brute-force cosine top-k: probes
    * (vec_id < 5) × corpus, ranked per probe. The probe side is tiny
    * and broadcast, so this is a map-side nested loop over the corpus
    * — the correct *exact* baseline even at scale (cost = one corpus
    * scan per probe batch). `similarity_lsh` below is the sublinear
    * path.
    */
  def similarityTopk(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probes = e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"))
    val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "rank", "vec_id", "score")
      .orderBy("probe_id", "rank")
  }

  /** `hard_negatives` — contrastive-training hard-negative mining
    * (the DPR / Contriever curation step): for each probe, the top-5
    * most similar corpus vectors whose LABEL DIFFERS — the negatives
    * that actually move a contrastive loss, vs the easy random ones.
    * Same broadcast-probe brute-force scan as `similarity_topk`
    * (labels ride the same row, so the filter is free); at 100 TB
    * swap the candidate stream for the IVF/PQ index exactly like the
    * `_served` rows — the label filter composes with any candidate
    * source. Deterministic (r6 scores, id tie-break) → hash-gated.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probes = e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("probe_emb"), col("norm").as("probe_norm"))
    val pairs = e.join(broadcast(probes),
      col("vec_id") =!= col("probe_id")
        && col("label") =!= col("probe_label"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"),
        col("label").as("neg_label"), col("score"))
      .orderBy("probe_id", "rank")
  }

  /** `knn_label` — k-nearest-neighbor majority-vote classification
    * over the embedding space: each probe takes the modal `label`
    * of its 10 exact-cosine nearest neighbors (vote ties break to
    * the smaller label, neighbor-rank ties to the smaller vec_id —
    * total order, so the prediction is deterministic). This is the
    * label-propagation pass of training-data curation: spread a
    * small set of human labels (quality tiers, domains, topics)
    * onto unlabeled corpus members by embedding proximity. Scale
    * shape: identical to [[similarityTopk]] (broadcast probes, one
    * corpus scan, per-probe bounded rank) plus two tiny aggregates
    * over ≤ 10·|probes| vote rows — the neighbor search dominates,
    * and swapping in any ANN row above (IVF-PQ at 100 TB) keeps the
    * voting tail unchanged.
    */
  def knnLabel(s: SparkSession, d: String): DataFrame =
    knnPredictions(s, d, nProbes).orderBy("probe_id")

  /** Shared leave-one-out 10-NN majority-vote prediction pipeline —
    * [[knnLabel]] presents it per probe; [[knnConfusion]] aggregates
    * it into the confusion matrix. The probe cap is the only dial:
    * probes broadcast, so cost = one corpus scan regardless of cap.
    */
  private def knnPredictions(s: SparkSession, d: String,
      probeCap: Long): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probes = e.where(col("vec_id") < probeCap)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"), col("label").as("true_label"))
    val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    val votes = pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .groupBy(col("probe_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col("label").asc)
    votes
      .withColumn("r", row_number().over(wv))
      .where(col("r") === 1)
      .select(col("probe_id"), col("true_label"),
        col("label").as("predicted_label"), col("votes"))
  }

  /** `knn_confusion` — the label-quality CONFUSION MATRIX of the
    * embedding space: leave-one-out 10-NN majority-vote predictions
    * over a 64-probe panel ([[knnLabel]]'s pipeline, wider panel),
    * folded to (true_label, predicted_label) counts with the
    * per-true-label share. The diagonal shares are per-class kNN
    * recall — the standard probe for label noise and class overlap
    * in an embedding corpus (a class whose mass votes elsewhere is
    * mislabeled or inseparable, the same docs `embed_outliers` and
    * [[contrastivePairs]]' margin ≤ 0 flag one at a time; this is
    * the corpus-level census). Scale shape: identical to
    * [[similarityTopk]] — broadcast probes, ONE corpus scan,
    * per-probe bounded rank — then two tiny aggregates; the share
    * window runs over ≤ |labels|² rows.
    */
  def knnConfusion(s: SparkSession, d: String): DataFrame = {
    val wt = Window.partitionBy("true_label")
    knnPredictions(s, d, probeCap = 64L)
      .groupBy(col("true_label"), col("predicted_label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(wt))
      .select(col("true_label"), col("predicted_label"), col("n"),
        r6(col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy("true_label", "predicted_label")
  }

  /** `embedding_isotropy` — the mean pairwise cosine of the WHOLE
    * embedding corpus, computed exactly in O(n·d) — no pair stream:
    * Σ_{i≠j} cos(i,j) = ‖Σ_i u_i‖² − Σ_i ‖u_i‖² over unit vectors
    * u, so per-dimension sums of the normalized components are
    * sufficient statistics. High mean cosine = anisotropic cone
    * (Ethayarajh 2019; Mu & Viswanath 2018's "all-but-the-top"
    * postprocess exists because of exactly this) — embeddings that
    * all point the same way make cosine thresholds ([[dedupEmbed]])
    * and ANN recall ([[similarityIvf]]) misleadingly tight, so this
    * scalar is the first diagnostic to read before trusting either.
    *
    * Portability: unit components quantize to the label_centroids
    * 2^20 grid at birth → per-dim sums are EXACT BIGINTs in any
    * fold order; the squares accumulate in DECIMAL(38,0) (HUGEINT
    * on the oracle side — S_d² ≈ 4·10¹⁹ overflows a long), and ONE
    * written double expression scales by 2⁻⁴⁰ and fences. Scale
    * shape: one posexplode pass, one |dim|-row aggregate, one
    * 1-row fold — the asymptotic opposite of the n² pair scan the
    * identity replaces.
    */
  def embeddingIsotropy(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val q = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .select(col("vec_id"), col("norm"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        floor(col("v").cast("double") / col("norm") * lit(grid) + lit(0.5))
          .cast("long").as("q"))
    val perDim = q.groupBy(col("dim"))
      .agg(sum(col("q")).as("sd"), sum(col("q") * col("q")).as("qq"))
    val nRow = Tables.embeddings(s, d).agg(count(lit(1)).as("n"))
    perDim
      .agg(sum(col("sd").cast("decimal(38,0)")
          * col("sd").cast("decimal(38,0)")).as("s2"),
        sum(col("qq")).as("qsum"))
      .crossJoin(broadcast(nRow))
      .select(col("n"),
        r6((col("s2") - col("qsum").cast("decimal(38,0)")).cast("double")
          / (col("n") * (col("n") - lit(1L))).cast("double")
          / lit(1099511627776.0)).as("mean_pairwise_cosine"))
  }

  /** `contrastive_pairs` — (anchor, positive, hard negative) triplet
    * mining over the embedding corpus: for each anchor (vec_id < 32),
    * the positive is its exact-cosine nearest SAME-label neighbor and
    * the negative its nearest DIFFERENT-label neighbor — the "hardest
    * negative", the one an embedding model most needs to push away
    * (Schroff et al. '15 semi-hard mining's deterministic batch-global
    * form). This is the training-data GENERATION side of the
    * embedding stack: `score_auc`/`calibration_curve` evaluate a
    * space, this row manufactures the triplets that improve it. A
    * margin ≤ 0 flags an anchor whose nearest impostor beats its
    * nearest genuine — exactly the label-noise candidates
    * `embed_outliers` ranks by a different statistic.
    *
    * Portability: the [[similarityTopk]] contract — r6-fenced exact
    * cosine, (score desc, vec_id asc) total order, one top-1 per
    * label class. Scale shape: broadcast anchors, ONE corpus scan
    * scores both classes, per-anchor bounded rank; any ANN row swaps
    * in for candidate generation with the mining tail unchanged.
    */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val anchors = e.where(col("vec_id") < 32)
      .select(col("vec_id").as("anchor_id"),
        col("embedding").as("a_emb"), col("norm").as("a_norm"),
        col("label").as("a_label"))
    val pairs = e.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("a_emb"), col("embedding"))
          / (col("a_norm") * col("norm"))))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    val pos = pairs.where(col("label") === col("a_label"))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("anchor_id"), col("a_label").as("label"),
        col("vec_id").as("pos_id"), col("score").as("pos_sim"))
    val neg = pairs.where(col("label") =!= col("a_label"))
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("anchor_id"), col("vec_id").as("neg_id"),
        col("score").as("neg_sim"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("label"),
        col("pos_id"), col("pos_sim"), col("neg_id"), col("neg_sim"),
        r6(col("pos_sim") - col("neg_sim")).as("margin"))
      .orderBy("anchor_id")
  }

  /** `similarity_topk_b1` — 1-bit binary-quantized similarity: each
    * 64-dim float vector collapses to its 64 SIGN bits (two packed
    * 32-bit halves in longs), candidates rank by Hamming distance
    * (popcount of XOR — the binary-quantization serving rung vector
    * stores ship between scalar int8 and PQ: 32× memory, distance =
    * 2 machine instructions), exact cosine attached for calibration.
    * Completes the engine's quantization ladder: f32 exact → int8
    * (4×, `similarity_topk_q8`) → PQ (64×, ADC) → 1-bit (32×,
    * XOR+popcount, no codebook at all).
    *
    * Portability: the signature build is a sign test + integer
    * shift-sum (bit-exact on any engine), Hamming is pure integer,
    * and the (hamming asc, vec_id asc) rank is a total order — the
    * whole row hash-gates with no float fence except the attached r6
    * cosine. Scale shape: [[similarityTopk]]'s broadcast-probe
    * corpus scan, but each candidate costs 16 bytes and two
    * popcounts instead of a 64-term float dot — the brute-force scan
    * that stays affordable 32× longer before ANN routing is needed.
    */
  def similarityTopkB1(s: SparkSession, d: String): DataFrame = {
    def half(offset: Int) = expr(
      s"aggregate(transform(sequence(1, 32), i -> " +
        s"IF(embedding[i + $offset - 1] > 0, shiftleft(1L, i - 1), 0L)), " +
        "0L, (a, x) -> a + x)")
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .withColumn("lo", half(0)).withColumn("hi", half(32))
    val probes = e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"), col("lo").as("plo"),
        col("hi").as("phi"))
    val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("hamming",
        expr("bit_count(lo ^ plo) + bit_count(hi ^ phi)"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("hamming").asc, col("vec_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "rank", "vec_id", "hamming", "score")
      .orderBy("probe_id", "rank")
  }

  /** `ann_recall_b1` — recall@10 of the 1-bit Hamming rung against
    * the exact cosine ranking, per probe, AS A QUERY: both rankings
    * are fully deterministic (total orders over gridded scores), so
    * the quality of the approximation is itself an oracle-gateable
    * number — the in-engine form of the recall measurements the ANN
    * specs run, servable to a dashboard on every corpus snapshot
    * ("is 1-bit still good enough on TODAY's data" is a monitoring
    * question, not a one-off benchmark). Scale: two broadcast-probe
    * corpus scans + a 50-row join.
    */
  def annRecallB1(s: SparkSession, d: String): DataFrame = {
    val exact = similarityTopk(s, d)
      .select(col("probe_id"), col("vec_id"))
    val b1 = similarityTopkB1(s, d)
      .select(col("probe_id"), col("vec_id"))
    val hits = exact.join(b1, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("hits"), lit(0L)).as("n_hit"), col("n_exact"),
        r6(coalesce(col("hits"), lit(0L)).cast("double")
          / col("n_exact").cast("double")).as("recall_at_10"))
      .orderBy("probe_id")
  }

  /** `rrf_fusion` — reciprocal-rank fusion (Cormack et al., SIGIR'09)
    * of a lexical and a semantic ranking: the hybrid-retrieval
    * primitive every RAG / decontamination-lookup stack runs. Leg 1
    * is BM25 for the fixed 3-term query ([[LlmTextOps.bm25Scored]]);
    * leg 2 is exact cosine against the vec_id-0 embedding as the
    * query vector. Each leg keeps its top-100 via the bounded
    * `graft_topk` aggregate (O(k) state — neither leg pays a global
    * sort), then score(d) = Σ_legs 1/(60 + rank_leg(d)) with the
    * standard k=60, missing legs contributing 0, and the fused
    * top-20 cut on (score desc, doc_id asc).
    *
    * Portability: ranks are small integers, each reciprocal is one
    * correctly-rounded division, and the two-term sum is written
    * order — fully hash-gated with no fence (the ranking never
    * touches BM25's ln output raw: leg-1 ranks inherit the idf-fenced
    * score order the gated `bm25_rank` row already proves).
    *
    * Scale shape: leg 1 = one documents scan + a 1-row constants
    * broadcast; leg 2 = one embeddings scan with a broadcast probe;
    * both legs reduce to ≤100-row frames, so the fusion join and the
    * final cut are driver-trivial and the whole query is two
    * corpus-linear passes.
    */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    def ranked(scored: DataFrame, idCol: String, rankName: String) =
      scored
        .groupBy()
        .agg(graft.functions.TopKAgg.topk(s,
          col("score"), col(idCol), 100).as("tk"))
        .select(posexplode(col("tk")).as(Seq("r", "e")))
        .select(col("e.vec_id").as("doc_id"),
          (col("r") + 1).cast("int").as(rankName))
    val lex = ranked(LlmTextOps.bm25Scored(s, d), "doc_id", "lex_rank")
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"), col("norm").as("probe_norm"))
    val semScored = e.where(col("vec_id") =!= 0)
      .join(broadcast(probe), lit(true))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val sem = ranked(semScored, "vec_id", "sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(1.0) / (col("lex_rank") + lit(60)).cast("double"),
          lit(0.0))
          + coalesce(lit(1.0) / (col("sem_rank") + lit(60)).cast("double"),
            lit(0.0)))
      .orderBy(col("rrf_raw").desc, col("doc_id").asc)
      .limit(20)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        r6(col("rrf_raw")).as("rrf_score"))
      .orderBy("doc_id")
  }

  /** Session conf routing the kNN EDGE substrate's candidate source
    * (`spark.graft.knn.source` = `auto` | `exact` | `ivf`) — the
    * [[graft.operators.LlmTextOps.PairSourceConf]] /
    * `spark.graft.substr.source` precedent applied to the vector
    * side: `exact` pins the compiled broadcast-corpus all-pairs scan
    * ([[knnEdges3Exact]]), `ivf` pins compiled IVF candidate
    * generation + exact re-rank ([[knnEdges3Ivf]]), `auto` (default)
    * routes on the corpus vector count
    * ([[KnnSourceCrossoverVecs]]).
    */
  val KnnSourceConf = "spark.graft.knn.source"

  /** Probed inverted lists per probe vector on the `ivf` route
    * (`spark.graft.knn.nprobe`, default 8). Every corpus vector is a
    * probe, so the candidate mass is ≈ n · nprobe · [[ivfStride]] —
    * LINEAR in n at fixed nprobe, vs the exact scan's n². Edge
    * recall is corpus-dependent: on clustered encoder output modest
    * nprobe recovers the true edges (ScaleSweep's mixture corpus:
    * measured recall + timing per decade), while on the shipped
    * ISOTROPIC fixture vectors no sublinear candidate source can
    * (measured: 18% of true top-3 edges at nprobe=1 and sf0.1, 100%
    * only when every list is probed — curse of dimensionality, not
    * an implementation gap). That is exactly why `auto` keeps small
    * corpora on the exact scan and why the gated rows stay exact at
    * every test sf.
    *
    * Partial-probe out-degree contract: a probed list contributes
    * edges only if it holds at least one OTHER member, so at small
    * nprobe a vector all of whose probed lists are its own singleton
    * emits ZERO edges and is absent as a src (out-degree 0, not
    * merely < 3). Graph consumers that need every node present
    * (LPA, assortativity) already join back to the node table; a
    * deployment that needs a floor on out-degree should raise nprobe
    * — at the default 8 a singleton own list still leaves 7 probed
    * neighbors' lists, which in practice always carry members.
    */
  val KnnNprobeConf = "spark.graft.knn.nprobe"

  /** Vector-count crossover for [[KnnSourceConf]]'s auto route. The
    * exact scan is n²·d fused multiply-adds with no materialized pair
    * rows — measured comfortable through 32k vectors (ScaleSweep) —
    * while its broadcast corpus array grows linearly (~32k·64·4 B ≈
    * 8 MiB at the crossover; past it the broadcast and the n² dots
    * both stop scaling). 32768 sits at the last measured-comfortable
    * decade, one step before the 128k corpus where the routed build
    * is demonstrably ahead.
    */
  private[graft] val KnnSourceCrossoverVecs = 32768L

  /** Which edge source [[knnEdges3]]'s auto route picks for this
    * corpus. The resolving count is one parquet-metadata job, but
    * FIVE consumers share the edge silver (`knn_edges`,
    * `pagerank_docs`, `hits_scores`, `degree_assortativity`,
    * `label_propagation`) and each would re-pay it on every memo HIT
    * — so the resolved route memoizes in [[graft.engine.SessionMemo]]
    * per (session, corpus fingerprint) — the same fingerprint the edge
    * memo itself keys on, so an in-place corpus rewrite re-resolves
    * exactly when the memo rebuilds.
    */
  private[graft] def knnSourceRoute(s: SparkSession, d: String): String =
    graft.engine.SessionMemo.getOrCompute(s, "knn_route|" +
      graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings")) {
      if (Tables.embeddings(s, d).count() >= KnnSourceCrossoverVecs) "ivf"
      else "exact"
    }

  /** The EXACT directed top-3 cosine kNN edge set (src, dst): the
    * compiled broadcast-corpus scan (functions.CosineScan) — (r6
    * score desc, id asc) rank order, no materialized pair rows (the
    * former n² self-join spent more on copying wide pair rows than
    * on the dots themselves). The documented-quadratic baseline the
    * `ivf` route is gated against.
    */
  private[graft] def knnEdges3Exact(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .select(col("vec_id"), col("embedding"), col("norm"))
    val corpusArr = e.agg(collect_list(
      struct(col("vec_id"), col("embedding"), col("norm"))).as("corpus"))
    e.crossJoin(broadcast(corpusArr))
      .select(col("vec_id").as("src"),
        explode(VectorExprs.cosineKnn(s, col("embedding"), col("norm"),
          col("vec_id"), col("corpus"), 3)).as("dst"))
  }

  /** The ROUTED kNN edge build for large corpora: IVF candidate
    * generation + exact cosine re-rank, with BOTH hot loops compiled
    * (the CosineScan family — a first cut through the declarative
    * assignment/join machinery measured SLOWER than the compiled
    * exact scan at 131k vectors, 166 vs 112 s, because four n×k
    * window-ranked frames dominated; this form reads 10×+ under it).
    *
    * Shape, all linear in n:
    *   1. ONE compiled scan per vector over the BROADCAST seed
    *      codebook (k ≈ n/[[ivfStride]] centroid structs) yields its
    *      `nprobe` nearest list ids — element 0 is its OWN list
    *      (keep-1 assignment and probe assignment in one pass, no
    *      window, no n×k row frame).
    *   2. Inverted lists materialize as k (cent_id, members[]) array
    *      rows — one corpus-sized shuffle on the 8-byte list key.
    *   3. Each (probe, probed-list) pair — n·nprobe skinny rows —
    *      runs ONE compiled SCORED scan ([[VectorExprs.cosineKnnScored]])
    *      over the list's member array: top-3 (id, score) per list,
    *      ~[[ivfStride]] dots each, pair space never materialized.
    *   4. The ≤ n·nprobe·3 scored partials re-rank per src under the
    *      exact scan's (r6 score desc, id asc) total order — a
    *      k-covering union of per-list top-3s re-ranked this way IS
    *      the one-pass answer, so full-probe ivf == exact
    *      (KnnRoutingSpec pins it on every shipped corpus).
    *
    * Codebook: the deterministic seed set (every 100th vector) — the
    * Lloyd-trained book adds two n×k assignment passes for marginal
    * list quality here (measured edge recall on the clustered sweep
    * corpus is the BASELINE round-11 table's number). At corpus sizes
    * where k itself outgrows a broadcast (n ≫ 10⁸ at stride 100),
    * deployments re-stride toward k ≈ √n — the standard IVF dial.
    */
  private[graft] def knnEdges3Ivf(s: SparkSession, d: String,
      nprobe: Int, codebook: String = "seed"): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .select(col("vec_id"), col("embedding"), col("norm"))
    val cents = codebook match {
      case "trained" => trainedCentroidsCompiled(s, d)
      case _         => seedCentroids(e)
    }
    val centArr = cents
      .agg(collect_list(struct(col("cent_id"), col("cent_emb"),
        col("cent_norm"))).as("cents"))
    // selfId = -1 never matches a centroid id, so no list is excluded.
    // The repartition is a MATERIALIZATION FENCE: without it
    // CollapseProject folds the compiled nprobe scan into the
    // downstream Generate/projections and the n×k assignment
    // re-evaluates per exploded probe row (the 64×-per-dimension
    // variant of this cost 170 s in the trained-codebook Lloyd —
    // see trainedCentroidsCompiled). Each of the two consumers below
    // (inverted lists, probe explode) evaluates the fenced pass once;
    // measured at 131k vectors the warm-JVM build reads 7.8 s.
    val scanned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("norm"),
        VectorExprs.cosineKnn(s, col("embedding"), col("norm"), lit(-1L),
          col("cents"), nprobe).as("probed"))
      .repartition(col("vec_id"))
    val listArrs = scanned
      .select(col("probed")(0).as("cent_id"),
        struct(col("vec_id"), col("embedding"), col("norm")).as("member"))
      .groupBy(col("cent_id"))
      .agg(collect_list(col("member")).as("members"))
    val probes = scanned
      .select(col("vec_id").as("src"), col("embedding").as("p_emb"),
        col("norm").as("p_norm"), explode(col("probed")).as("cent_id"))
    val w = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    probes.join(listArrs, Seq("cent_id"))
      .select(col("src"),
        explode(VectorExprs.cosineKnnScored(s, col("p_emb"),
          col("p_norm"), col("src"), col("members"), 3)).as("c"))
      .select(col("src"), col("c.id").as("dst"), col("c.score").as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("src"), col("dst"))
  }

  /** The directed top-3 cosine kNN edge set (src, dst) — the shared
    * substrate of [[pagerankDocs]], [[hitsScores]], and the gated
    * `knn_edges` row — ROUTED per [[KnnSourceConf]]: the exact
    * compiled scan below the vector-count crossover, IVF candidates
    * + exact re-rank above it. Lineage-truncated (localCheckpoint)
    * so every power-iteration round reuses materialized blocks, and
    * MEMOIZED per (session, corpus, resolved route): the build runs
    * once per corpus and the graph consumers pay only their (narrow,
    * linear) iteration tails. Memo caveat (the coPurchaseEdges
    * posture, now on a heavier build): localCheckpoint blocks live
    * on executors, so an executor lost between the two graph
    * consumers fails later reads instead of recomputing — a
    * deployment that needs resilience across consumer runs should
    * write the edge silver to storage (CorpusSilver) rather than
    * lean on the in-session memo.
    */
  private def knnEdges3(s: SparkSession, d: String): DataFrame = {
    servedSilverDir(s, d, s.conf.get(KnnEdgesDirConf, ""), KnnEdgesFile) match {
      case Some(dir) =>
        // storage-backed serving: every consumer (and every power-
        // iteration round) reads the parquet scan — blocks live in
        // storage, so an executor lost between consumers recomputes
        // from disk instead of failing the read (the localCheckpoint
        // memo's documented caveat, closed). Plan-memoized so the
        // five consumers share one resolved relation (one
        // footer-listing pass), not five. The key carries the CORPUS
        // fingerprint, not just the dir: a silver dir rewritten
        // in-session for a second corpus sharing the basename would
        // otherwise keep serving the first corpus's eagerly-listed
        // file set even after servedSilverDir re-verified the new
        // fingerprint.
        graft.engine.SessionMemo.getOrCompute(s,
          s"knn_edges3_stored|$dir|" +
            graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(
          s.read.parquet(s"$dir/$KnnEdgesFile"))
      case None => knnEdges3Inline(s, d)
    }
  }

  /** The inline (non-silver-served) edge build: route per session
    * confs, localCheckpoint, memoize. [[pipeline.CorpusSilver.writeKnnEdges]]
    * calls this directly so a stale silver already pointed at by
    * [[KnnEdgesDirConf]] can never feed its own rewrite. */
  private[graft] def knnEdges3Inline(s: SparkSession, d: String): DataFrame = {
    val route = s.conf.get(KnnSourceConf, "auto") match {
      case "auto"                => knnSourceRoute(s, d)
      case r @ ("exact" | "ivf") => r
      case other => throw new IllegalArgumentException(
        s"$KnnSourceConf must be auto|exact|ivf, got '$other'")
    }
    val nprobe = s.conf.get(KnnNprobeConf, "8").toInt
    val codebook = s.conf.get(KnnCodebookConf, "seed") match {
      case c @ ("seed" | "trained") => c
      case other => throw new IllegalArgumentException(
        s"$KnnCodebookConf must be seed|trained, got '$other'")
    }
    def build = (route match {
      case "ivf" => knnEdges3Ivf(s, d, nprobe, codebook)
      case _     => knnEdges3Exact(s, d)
    }).localCheckpoint(false)
    graft.engine.SessionMemo.getOrBuild(s,
      s"knn_edges3|$route" +
        (if (route == "ivf") s"|np$nprobe|cb$codebook" else "") + "|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(
      build)
  }

  /** Session conf pointing the kNN edge substrate at a silver edge
    * BASE directory (`pipeline.CorpusSilver.writeKnnEdges` writes
    * one): when set, [[knnEdges3]] serves the stored (src, dst) edge
    * parquet at `<base>/<corpus-dir-basename>` instead of building —
    * the [[AnnIndexConf]] posture applied to the graph substrate.
    * This is the resilience answer to the in-session memo's
    * documented caveat: `localCheckpoint` blocks die with their
    * executor, while the silver's consumers recompute any lost
    * partition from storage. Same fingerprint contract as the ANN
    * index: an edge set built on one corpus never serves another;
    * missing dir/marker/fingerprint or a mismatch ⇒ inline build,
    * never an error. The build that writes the silver honors the
    * session's route/nprobe/codebook confs, so a deployment can pay
    * the trained-codebook build once and serve its recall forever.
    */
  val KnnEdgesDirConf = "spark.graft.knn.edges.dir"

  /** The edge parquet's name under a per-corpus silver dir (also the
    * serving marker). */
  val KnnEdgesFile = "edges.parquet"

  /** Codebook choice for the `ivf` edge route
    * (`spark.graft.knn.codebook` = `seed` | `trained`, default
    * `seed`): `seed` is the deterministic every-100th-vector book —
    * zero training passes; `trained` runs a 2-round fixed-point
    * Lloyd with COMPILED keep-1 assignment
    * ([[trainedCentroidsCompiled]], memoized) — two extra compiled
    * n×k scan passes buying tighter lists (measured on the clustered
    * sweep corpus at 131k vectors: edge recall 1.000 vs seed's
    * 0.970 — BASELINE.md round-12 table). Amortization shape: inline builds pay the
    * training on every fresh session, while a [[KnnEdgesDirConf]]
    * silver pays it ONCE at `writeKnnEdges` time — trained is the
    * write-once default posture, seed the cheap inline one. Full
    * probe under either book still equals the exact scan
    * (KnnRoutingSpec) because the re-rank shares the (r6 desc, id
    * asc) total order.
    */
  val KnnCodebookConf = "spark.graft.knn.codebook"

  /** `knn_edges` — the edge substrate itself as a gated row: the
    * directed top-3 cosine kNN graph both graph queries iterate
    * over, emitted as (src, dst) pairs. Gating the substrate
    * separately from its consumers means a routing regression
    * surfaces HERE (3N ordered id pairs, the cheapest possible
    * witness) before it perturbs a power iteration — and the DuckDB
    * oracle is just the shared [[knnEdgeCtes]] edge definition the
    * `pagerank_docs`/`hits_scores` oracles already replay.
    */
  def knnEdges(s: SparkSession, d: String): DataFrame =
    knnEdges3(s, d).orderBy("src", "dst")

  /** `pagerank_docs` — LexRank-style representativeness (Erkan &
    * Radev '04, PageRank over a similarity graph): 3 rounds of
    * PageRank (d = 0.85) over the DIRECTED top-3 cosine kNN graph of
    * the embedding corpus ([[knnEdges3]]). A doc that many other
    * docs count among their nearest neighbors sits in a dense region
    * of embedding space — the "representative exemplar" signal
    * curation uses to pick coverage anchors (the inverse of
    * `diversity_sample`'s spread; `knn_label` propagates labels
    * along the same edges).
    *
    * Portability: out-degree is exactly 3, so each round's neighbor
    * sum — the one shuffle-order-sensitive fold — quantizes each
    * contribution to floor(s/3·2⁴⁰ + 0.5) and sums in INTEGER
    * (order-free, exact); scores stay in the scaled form s = pr·N
    * (init 1.0, O(1) magnitude at any corpus size), and the damping
    * step 0.15 + 0.85·(Σq/2⁴⁰) is one written double op sequence.
    * Zero-in-degree docs (nobody's neighbor) take the floor 0.15 via
    * the same left-join-coalesce both engines run. The kNN edges
    * rank on the r6 cosine grid with vec_id tie-breaks — the
    * `similarity_topk` determinism contract — so DuckDB rebuilds the
    * identical graph and replays the three unrolled rounds.
    *
    * Scale shape: the edge build is [[knnEdges3]]'s routed concern
    * (exact below the crossover, IVF candidates above); the PageRank
    * tail is unchanged either way — each round is one edge join +
    * one integer aggregation over 3N edge rows.
    */
  def pagerankDocs(s: SparkSession, d: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40 fixed-point grid for the edge sums
    val edges = knnEdges3(s, d)
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    var pr = nodes.withColumn("s", lit(1.0))
    for (_ <- 1 to 3) {
      val contrib = edges.join(pr, col("src") === col("id"))
        .select(col("dst"),
          floor(col("s") / lit(3) * lit(Q) + lit(0.5)).cast("long").as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      pr = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85)
            * (coalesce(col("qs"), lit(0L)).cast("double") / lit(Q)))
            .as("s"))
    }
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
    pr.join(indeg, col("id") === col("dst"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("ind"), lit(0L)).as("in_degree"),
        r6(col("s")).as("pagerank"))
      .orderBy("doc_id")
  }

  /** `hits_scores` — HITS hub/authority over the SAME directed top-3
    * kNN graph as [[pagerankDocs]] (Kleinberg 1999): two L1-normalized
    * power-iteration rounds of a ← Aᵀh, h ← Aa. On a similarity graph
    * the pair separates two roles PageRank conflates — an AUTHORITY
    * is a doc many others point at (a dense-region exemplar), a HUB
    * is a doc whose own neighbor list points at exemplars (a good
    * "router" for curation sampling). Emitting both beside `pagerank`
    * lets curation rank anchors three ways on one edge silver.
    *
    * Portability: the L1 normalization is what makes HITS gateable
    * with NO transcendental at all (the L2 classic needs a sqrt per
    * round): each round quantizes scores to the 2⁴⁰ grid, sums
    * per-node contributions as exact LONGs (order-free), and divides
    * by the exact long TOTAL — one written double division per node
    * per half-round. DuckDB unrolls the two rounds over the identical
    * r6-ranked edge set (the `pagerank_docs` contract).
    *
    * Scale shape: the kNN build is the shared documented-quadratic
    * baseline (swap any ANN candidate source at 100 TB); each
    * half-round is one edge join + one integer aggregation over 3N
    * edge rows + a 1-row broadcast total — no driver data.
    */
  def hitsScores(s: SparkSession, d: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40 — the pagerank fixed-point grid
    val edges = knnEdges3(s, d)
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    def half(scores: DataFrame, joinOn: String, groupTo: String)
        : DataFrame = {
      val q = edges.join(scores, col(joinOn) === col("id"))
        .select(col(groupTo),
          floor(col("s") * lit(Q) + lit(0.5)).cast("long").as("q"))
        .groupBy(col(groupTo)).agg(sum(col("q")).as("qs"))
      val t = q.agg(sum(col("qs")).as("t"))
      nodes.join(q, col("id") === col(groupTo), "left")
        .crossJoin(broadcast(t))
        .select(col("id"),
          (coalesce(col("qs"), lit(0L)).cast("double")
            / nullif(col("t").cast("double"), lit(0.0))).as("s"))
    }
    var h = nodes.withColumn("s", lit(1.0))
    var a: DataFrame = null
    for (_ <- 1 to 2) {
      a = half(h, "src", "dst") // authority ← hubs pointing in
      h = half(a, "dst", "src") // hub ← authorities pointed at
    }
    nodes
      .join(a.select(col("id"), col("s").as("auth")), Seq("id"))
      .join(h.select(col("id"), col("s").as("hub")), Seq("id"))
      .select(col("id").as("doc_id"),
        r6(col("auth") * lit(1000.0)).as("authority_x1k"),
        r6(col("hub") * lit(1000.0)).as("hub_x1k"))
      .orderBy("doc_id")
  }

  /** The DuckDB twin of [[knnEdges3]] — nr/sc/rk/e/nodes CTE chain
    * shared by the `pagerank_docs` and `hits_scores` oracles (one
    * edge definition, two consumers — the seedAssignCorpusCtes
    * posture).
    */
  private def knnEdgeCtes: String =
    """nr AS (SELECT vec_id,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       for x in embedding], 'sum')) AS nrm
               FROM embeddings),
         sc AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                  floor((list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                          * CAST(b.embedding[i] AS DOUBLE)
                          for i in range(1, len(a.embedding) + 1)], 'sum')
                    / (na.nrm * nb.nrm)) * 1000000 + 0.5) / 1000000
                    AS score
                FROM embeddings a JOIN embeddings b
                  ON a.vec_id <> b.vec_id
                JOIN nr na ON na.vec_id = a.vec_id
                JOIN nr nb ON nb.vec_id = b.vec_id),
         rk AS (SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY score DESC, dst ASC) AS rk
                FROM sc),
         e AS (SELECT src, dst FROM rk WHERE rk <= 3),
         nodes AS (SELECT vec_id AS id FROM embeddings)"""

  /** `knn_edges`' DuckDB oracle — the shared [[knnEdgeCtes]] edge
    * definition alone, no iteration tail. */
  private[graft] def knnEdgesOracleSql: String =
    s"WITH $knnEdgeCtes SELECT src, dst FROM e ORDER BY src, dst"

  /** The DuckDB oracle for `pagerank_docs`: shared kNN edges + the
    * three unrolled fixed-point damping rounds.
    */
  private[graft] def pagerankOracleSql: String =
    s"""WITH $knnEdgeCtes,
         it0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS s FROM nodes),
         c1 AS (SELECT e.dst, CAST(SUM(CAST(floor(
                    p.s / 3 * 1099511627776.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS qs
                FROM e JOIN it0 p ON p.id = e.src GROUP BY 1),
         it1 AS (SELECT n.id, 0.15 + 0.85 * (CAST(COALESCE(c.qs, 0)
                   AS DOUBLE) / 1099511627776.0) AS s
                 FROM nodes n LEFT JOIN c1 c ON c.dst = n.id),
         c2 AS (SELECT e.dst, CAST(SUM(CAST(floor(
                    p.s / 3 * 1099511627776.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS qs
                FROM e JOIN it1 p ON p.id = e.src GROUP BY 1),
         it2 AS (SELECT n.id, 0.15 + 0.85 * (CAST(COALESCE(c.qs, 0)
                   AS DOUBLE) / 1099511627776.0) AS s
                 FROM nodes n LEFT JOIN c2 c ON c.dst = n.id),
         c3 AS (SELECT e.dst, CAST(SUM(CAST(floor(
                    p.s / 3 * 1099511627776.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS qs
                FROM e JOIN it2 p ON p.id = e.src GROUP BY 1),
         it3 AS (SELECT n.id, 0.15 + 0.85 * (CAST(COALESCE(c.qs, 0)
                   AS DOUBLE) / 1099511627776.0) AS s
                 FROM nodes n LEFT JOIN c3 c ON c.dst = n.id),
         dg AS (SELECT dst, COUNT(*) AS ind FROM e GROUP BY 1)
         SELECT p.id AS doc_id,
                CAST(COALESCE(dg.ind, 0) AS BIGINT) AS in_degree,
                floor(p.s * 1000000 + 0.5) / 1000000 AS pagerank
         FROM it3 p LEFT JOIN dg ON dg.dst = p.id ORDER BY doc_id"""

  /** The DuckDB oracle for `hits_scores`: shared kNN edges + two
    * unrolled L1-normalized (authority, hub) half-round pairs.
    */
  private[graft] def hitsOracleSql: String = {
    def halfSql(in: String, out: String, joinOn: String,
        groupTo: String): String =
      s"""q_$out AS (SELECT e.$groupTo AS node, CAST(SUM(CAST(floor(
                    p.s * 1099511627776.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS qs
                FROM e JOIN $in p ON p.id = e.$joinOn GROUP BY 1),
         t_$out AS (SELECT CAST(SUM(qs) AS BIGINT) AS t FROM q_$out),
         $out AS (SELECT n.id, CAST(COALESCE(q.qs, 0) AS DOUBLE)
                   / NULLIF(CAST(t_$out.t AS DOUBLE), 0.0) AS s
                 FROM nodes n LEFT JOIN q_$out q ON q.node = n.id
                 CROSS JOIN t_$out)"""
    s"""WITH $knnEdgeCtes,
         h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS s FROM nodes),
         ${halfSql("h0", "a1", "src", "dst")},
         ${halfSql("a1", "h1", "dst", "src")},
         ${halfSql("h1", "a2", "src", "dst")},
         ${halfSql("a2", "h2", "dst", "src")}
         SELECT a2.id AS doc_id,
                floor((a2.s * 1000.0) * 1000000 + 0.5) / 1000000
                  AS authority_x1k,
                floor((h2.s * 1000.0) * 1000000 + 0.5) / 1000000
                  AS hub_x1k
         FROM a2 JOIN h2 ON h2.id = a2.id ORDER BY doc_id"""
  }

  /** `similarity_lsh` — random-hyperplane LSH-bucketed ANN.
    * Signature = sign bits of the projection onto deterministic
    * pseudo-random hyperplanes; candidates share a signature bucket
    * with a probe; exact cosine re-rank inside the bucket. At 100 TB
    * the bucket join replaces the corpus broadcast-scan with a
    * shuffle on small bucket keys. Oracle-gated since round 6: the
    * planes are constants, so the approximation lives in RECALL only
    * — the output is an exact function of (corpus, planes) and
    * [[lshOracleSql]] replicates it bit-for-bit in DuckDB.
    */
  /** Deterministic random-hyperplane LSH keys: one (table, bucket)
    * struct per table per vector. Plane components come from a
    * splitmix64-style mix of (plane#, dim#) — seedless, reproducible
    * arithmetic with no RNG state AND no short period: the previous
    * mod-97 lattice made plane m+97 literally equal plane m, which
    * breaks table independence exactly when `dedupEmbedBlockedScaled`
    * drives kPlanes past 97/8 planes. Bucket bits are built in LONG
    * (kPlanes ≤ 62) so deep tables cannot wrap a 32-bit shift.
    * Shared by `similarity_lsh` and `dedup_embed_blocked`.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The i-th coordinate of hyperplane (t, j) — the ONE definition
    * both the Spark key expression and the generated DuckDB oracle
    * literals read, so the two engines can never disagree on what a
    * plane is. */
  private[graft] def lshPlaneVal(t: Int, j: Int, i: Int,
      kPlanes: Int): Float = {
    val m = t.toLong * kPlanes + j
    ((mix64(m * 1000003L + i) >>> 11).toDouble / (1L << 53) - 0.5).toFloat
  }

  private def lshTableKeys(s: SparkSession, nTables: Int, kPlanes: Int,
      dim: Int): Column = {
    require(kPlanes >= 1 && kPlanes <= 62,
      s"kPlanes must be in [1, 62], got $kPlanes")
    def plane(t: Int, j: Int): Column = typedLit((0 until dim).map { i =>
      lshPlaneVal(t, j, i, kPlanes)
    })
    array((0 until nTables).map { t =>
      val bits = (0 until kPlanes).map { j =>
        when(VectorExprs.dot(s, col("embedding"), plane(t, j)) > 0.0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("t"), bits.as("b"))
    }: _*)
  }

  def similarityLsh(s: SparkSession, d: String): DataFrame = {
    // L=8 hash tables × k=4 hyperplanes: P[collide in ≥1 table] =
    // 1-(1-p^4)^8 with p = 1-θ/π — measured recall@10 ≈ 0.7 on the
    // sf0.01 corpus (weakly-similar neighbors, cos ≈ 0.3-0.5) while
    // scanning ~half the corpus; on true near-dup data the same
    // parameters prune orders of magnitude harder.
    val tableKeys = lshTableKeys(s, nTables = lshTables, kPlanes = lshKPlanes, dim = embDim)
    val base = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val keyed = base
      .withColumn("tk", explode(tableKeys))
      .select(col("vec_id"), col("tk.t").as("t"), col("tk.b").as("b"))
    val probeKeys = keyed.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("t"), col("b"))
    // dedupe candidate id pairs first (a pair may collide in several
    // tables) — only ids ride the shuffle, embeddings re-attach after
    val candIds = keyed.join(probeKeys, Seq("t", "b"))
      .where(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val cand = candIds
      .join(base.select(col("vec_id"), col("embedding"), col("norm")),
        Seq("vec_id"))
      .join(broadcast(base.where(col("vec_id") < nProbes).select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"))), Seq("probe_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "rank", "vec_id", "score")
      .orderBy("probe_id", "rank")
  }

  /** The shared CTE prefix of the hyperplane-LSH oracles: norms, the
    * 8×4 plane family as DuckDB list literals (each coordinate from
    * [[lshPlaneVal]] — the same definition the Spark expression
    * reads, serialized via `Double.toString` so both engines parse
    * the identical double), sign bits, and per-(vector, table)
    * bucket keys. The planes are data-INDEPENDENT constants, so
    * these oracles are static SQL — the LSH output is approximate
    * only in RECALL; given the planes it is fully deterministic,
    * which is what makes the rows hash-gateable.
    */
  private def lshKeysCtes: String = {
    val values = (for { t <- 0 until lshTables; j <- 0 until lshKPlanes } yield {
      val lst = (0 until embDim)
        .map(i => lshPlaneVal(t, j, i, kPlanes = lshKPlanes).toDouble.toString)
        .mkString("[", ", ", "]")
      s"($t, $j, $lst)"
    }).mkString(",\n           ")
    s"""base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         planes(t, j, p) AS (VALUES $values),
         bits AS (SELECT b.vec_id, p.t, p.j,
                  CASE WHEN list_aggregate(
                         [CAST(b.embedding[i] AS DOUBLE) * p.p[i]
                          for i in range(1, ${embDim + 1})], 'sum') > 0.0
                       THEN (1::BIGINT << p.j) ELSE 0 END AS bit
                  FROM base b CROSS JOIN planes p),
         keys AS (SELECT vec_id, t, CAST(SUM(bit) AS BIGINT) AS bkt
                  FROM bits GROUP BY vec_id, t)"""
  }

  /** The DuckDB oracle for `similarity_lsh`: replicate the bucket
    * keys, the candidate join, and the exact-cosine top-10 tail. */
  private[graft] def lshOracleSql: String =
    s"""WITH $lshKeysCtes,
         cand AS (SELECT DISTINCT kp.vec_id AS probe_id, kc.vec_id AS vec_id
                  FROM keys kc JOIN keys kp ON kc.t = kp.t AND kc.bkt = kp.bkt
                  WHERE kp.vec_id < $nProbes AND kc.vec_id <> kp.vec_id),
         pairs AS (SELECT c.probe_id, c.vec_id,
                  floor((list_aggregate([CAST(pe.embedding[i] AS DOUBLE)
                           * CAST(ce.embedding[i] AS DOUBLE)
                           for i in range(1, len(pe.embedding) + 1)], 'sum')
                    / (pe.norm * ce.norm)) * 1000000 + 0.5) / 1000000 AS score
                  FROM cand c JOIN base pe ON pe.vec_id = c.probe_id
                              JOIN base ce ON ce.vec_id = c.vec_id),
         ranked AS (SELECT probe_id, vec_id, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
                  FROM pairs)
         SELECT probe_id, rank, vec_id, score FROM ranked
         WHERE rank <= 10 ORDER BY probe_id, rank"""

  /** The DuckDB oracle for `similarity_ivf` (the seed-codebook
    * variant): centroids, keep-1 corpus assignment, keep-2 probe
    * routing, and the exact-cosine rank tail are all deterministic
    * relational ops over identically-computed doubles, so the row is
    * hash-gateable — the IVF approximation, like LSH's, lives in
    * recall, not in the output function. (The TRAINED variant stays
    * no-oracle: replicating two fixed-point Lloyd rounds in SQL is
    * possible but its machinery is already pinned by AnnQualitySpec
    * and the shared `assignToCentroids`/`ivfSearch` path this oracle
    * proves.)
    */
  private[graft] def ivfOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                          norm AS cent_norm
                   FROM base WHERE vec_id % $ivfStride = 0),
         sims AS (SELECT b.vec_id, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, len(b.embedding) + 1)], 'sum')
                    / (b.norm * c.cent_norm) AS cent_sim
                  FROM base b CROSS JOIN cents c),
         ranked_c AS (SELECT vec_id, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cent_sim DESC, cent_id ASC) AS r FROM sims),
         corpus AS (SELECT vec_id, cent_id FROM ranked_c WHERE r = 1),
         probes AS (SELECT vec_id AS probe_id, cent_id
                    FROM ranked_c WHERE r <= $ivfNprobe AND vec_id < $nProbes),
         cand AS (SELECT p.probe_id, c.vec_id
                  FROM corpus c JOIN probes p ON c.cent_id = p.cent_id
                  WHERE c.vec_id <> p.probe_id),
         pairs AS (SELECT c.probe_id, c.vec_id,
                  floor((list_aggregate([CAST(pe.embedding[i] AS DOUBLE)
                           * CAST(ce.embedding[i] AS DOUBLE)
                           for i in range(1, len(pe.embedding) + 1)], 'sum')
                    / (pe.norm * ce.norm)) * 1000000 + 0.5) / 1000000 AS score
                  FROM cand c JOIN base pe ON pe.vec_id = c.probe_id
                              JOIN base ce ON ce.vec_id = c.vec_id),
         ranked AS (SELECT probe_id, vec_id, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
                  FROM pairs)
         SELECT probe_id, rank, vec_id, score FROM ranked
         WHERE rank <= 10 ORDER BY probe_id, rank"""

  /** The DuckDB oracle for `dedup_embed_ann`: the same seed
    * codebook + keep-1 assignment CTEs as [[ivfOracleSql]], then the
    * within-list self-join and the exact r6 cosine cut. Constants
    * come from the shared named vals, so the Spark side and this SQL
    * cannot drift.
    */
  private[graft] def dedupEmbedAnnOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                          norm AS cent_norm
                   FROM base WHERE vec_id % $ivfStride = 0),
         sims AS (SELECT b.vec_id, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, len(b.embedding) + 1)], 'sum')
                    / (b.norm * c.cent_norm) AS cent_sim
                  FROM base b CROSS JOIN cents c),
         ranked_c AS (SELECT vec_id, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cent_sim DESC, cent_id ASC) AS r FROM sims),
         corpus AS (SELECT vec_id, cent_id FROM ranked_c WHERE r = 1),
         pairs AS (SELECT x.vec_id AS i, y.vec_id AS j,
                  floor((list_aggregate([CAST(bi.embedding[p] AS DOUBLE)
                           * CAST(bj.embedding[p] AS DOUBLE)
                           for p in range(1, len(bi.embedding) + 1)], 'sum')
                    / (bi.norm * bj.norm)) * 1000000 + 0.5) / 1000000
                    AS cos_sim
                  FROM corpus x JOIN corpus y
                    ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
                  JOIN base bi ON bi.vec_id = x.vec_id
                  JOIN base bj ON bj.vec_id = y.vec_id)
         SELECT i, j, cos_sim FROM pairs
         WHERE cos_sim >= 0.4 ORDER BY i, j"""

  /** One Lloyd round as DuckDB CTEs: keep-1 assignment against
    * `inCte`, fixed-point member means per (centroid, pos), rebuilt
    * centroid lists with zero-norm drop — the SQL transliteration of
    * [[lloydStep]], possible ONLY because the engine's means run on
    * the 2⁻²⁰ integer grid (exact long sums ⇒ order-free ⇒ the same
    * value in any engine; a plain avg() of doubles would fold in
    * Spark's partition order and be unreproducible outside it).
    */
  private def lloydRoundSql(inCte: String, outCte: String): String = {
    val grid = "1048576.0" // 2^20, the lloydStep grid
    s"""asg_$outCte AS (SELECT vec_id, cent_id FROM (
              SELECT b.vec_id, c.cent_id,
                ROW_NUMBER() OVER (PARTITION BY b.vec_id
                  ORDER BY list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                             * CAST(c.cent_emb[i] AS DOUBLE)
                             for i in range(1, ${embDim + 1})], 'sum')
                           / (b.norm * c.cent_norm) DESC,
                         c.cent_id ASC) AS r
              FROM base b CROSS JOIN $inCte c) WHERE r = 1),
         mean_$outCte AS (SELECT a.cent_id, t.pos,
              CAST(SUM(CAST(floor(CAST(b.embedding[t.pos] AS DOUBLE)
                     * $grid + 0.5) AS BIGINT)) AS DOUBLE)
                / (COUNT(*) * $grid) AS m
              FROM asg_$outCte a JOIN base b ON b.vec_id = a.vec_id
              CROSS JOIN (SELECT unnest(range(1, ${embDim + 1})) AS pos) t
              GROUP BY 1, 2),
         emb_$outCte AS (SELECT cent_id,
                list(CAST(m AS REAL) ORDER BY pos) AS cent_emb
              FROM mean_$outCte GROUP BY cent_id),
         $outCte AS (SELECT cent_id, cent_emb,
                sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       for x in cent_emb], 'sum')) AS cent_norm
              FROM emb_$outCte
              WHERE sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      for x in cent_emb], 'sum')) > 0.0)"""
  }

  /** The DuckDB oracle for `similarity_ivf_trained`: the seed
    * codebook, TWO full Lloyd rounds ([[lloydRoundSql]] — exact
    * fixed-point means), and the shared keep-1/keep-2 search tail.
    * Like the other round-6 conversions, the training is approximate
    * only in RECALL: every step is deterministic, so the trained
    * codebook — and with it the emitted top-k — is an exact function
    * of the corpus that a second engine reproduces bit-for-bit.
    */
  private[graft] def ivfTrainedOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents0 AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                           norm AS cent_norm
                    FROM base WHERE vec_id % $ivfStride = 0),
         ${lloydRoundSql("cents0", "cents1")},
         ${lloydRoundSql("cents1", "cents2")},
         sims AS (SELECT b.vec_id, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, ${embDim + 1})], 'sum')
                    / (b.norm * c.cent_norm) AS cent_sim
                  FROM base b CROSS JOIN cents2 c),
         ranked_c AS (SELECT vec_id, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cent_sim DESC, cent_id ASC) AS r FROM sims),
         corpus AS (SELECT vec_id, cent_id FROM ranked_c WHERE r = 1),
         probes AS (SELECT vec_id AS probe_id, cent_id
                    FROM ranked_c WHERE r <= $ivfNprobe AND vec_id < $nProbes),
         cand AS (SELECT p.probe_id, c.vec_id
                  FROM corpus c JOIN probes p ON c.cent_id = p.cent_id
                  WHERE c.vec_id <> p.probe_id),
         pairs AS (SELECT c.probe_id, c.vec_id,
                  floor((list_aggregate([CAST(pe.embedding[i] AS DOUBLE)
                           * CAST(ce.embedding[i] AS DOUBLE)
                           for i in range(1, len(pe.embedding) + 1)], 'sum')
                    / (pe.norm * ce.norm)) * 1000000 + 0.5) / 1000000 AS score
                  FROM cand c JOIN base pe ON pe.vec_id = c.probe_id
                              JOIN base ce ON ce.vec_id = c.vec_id),
         ranked AS (SELECT probe_id, vec_id, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
                  FROM pairs)
         SELECT probe_id, rank, vec_id, score FROM ranked
         WHERE rank <= 10 ORDER BY probe_id, rank"""

  // ---- PQ oracles (generated SQL) ---------------------------------
  // The product-quantization rows are deterministic end-to-end for
  // the same reason the trained IVF is: seeds are fixed id sets,
  // Lloyd means run on the 2⁻²⁰ integer grid (order-free), argmins
  // tie-break on centroid id, LUT entries quantize to integer longs,
  // and the candidate cut orders on (integer approx, id). So DuckDB
  // can re-train the codebooks, re-encode the corpus, and re-serve
  // the ADC tail from raw parquet — the strongest correctness
  // statement available for an ANN operator: not "recall is above a
  // floor" but "the produced rows are bit-identical".

  /** dot over a DuckDB list pair, ascending index fold. */
  private def dotSql(a: String, b: String, n: Int): String =
    s"""list_aggregate([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
            for i in range(1, ${n + 1})], 'sum')"""

  /** One per-subspace Lloyd round over `rowsCte` (vec_id, sub,
    * subemb) against codebook `inCte` (sub, cent_id, cent_emb, cc) →
    * `outCte`. Transliterates [[pqLloyd]]: |x−c|² expanded argmin
    * with (dist, cent_id) tie-break, fixed-point member means.
    */
  private def pqRoundSql(rowsCte: String, inCte: String,
      outCte: String): String =
    s"""asg_$outCte AS (SELECT vec_id, sub, cent_id, subemb FROM (
              SELECT r.vec_id, r.sub, c.cent_id, r.subemb,
                ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.sub
                  ORDER BY ((${dotSql("r.subemb", "r.subemb", pqSubDim)}
                             - ${dotSql("r.subemb", "c.cent_emb", pqSubDim)}
                               * 2.0) + c.cc) ASC,
                           c.cent_id ASC) AS rk
              FROM $rowsCte r JOIN $inCte c ON c.sub = r.sub) WHERE rk = 1),
         mean_$outCte AS (SELECT a.sub, a.cent_id, t.pos,
              CAST(SUM(CAST(floor(CAST(a.subemb[t.pos] AS DOUBLE)
                     * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / (COUNT(*) * 1048576.0) AS m
              FROM asg_$outCte a
              CROSS JOIN (SELECT unnest(range(1, ${pqSubDim + 1})) AS pos) t
              GROUP BY 1, 2, 3),
         emb_$outCte AS (SELECT sub, cent_id,
                list(CAST(m AS REAL) ORDER BY pos) AS cent_emb
              FROM mean_$outCte GROUP BY 1, 2),
         $outCte AS (SELECT sub, cent_id, cent_emb,
                ${dotSql("cent_emb", "cent_emb", pqSubDim)} AS cc
              FROM emb_$outCte)"""

  /** Codebook training + corpus encode as CTEs over `baseCte`
    * (vec_id, embedding): subspace rows, seed (vec_id < pqK), two
    * Lloyd rounds, 4-bit renumbering, and the (vec_id, sub, code)
    * encode — [[pqCodebook]] + [[pqEncode]] in SQL. Emits CTEs
    * `subr_$tag`, `book_$tag`, `codes_$tag`.
    */
  private def pqTrainCtes(baseCte: String, tag: String): String =
    s"""subr_$tag AS (SELECT vec_id, t.sub,
                list_slice(embedding, t.sub * $pqSubDim + 1,
                           t.sub * $pqSubDim + $pqSubDim) AS subemb
              FROM $baseCte
              CROSS JOIN (SELECT unnest(range(0, $pqSubs)) AS sub) t),
         seed_$tag AS (SELECT sub, vec_id AS cent_id, subemb AS cent_emb,
                ${dotSql("subemb", "subemb", pqSubDim)} AS cc
              FROM subr_$tag WHERE vec_id < $pqK),
         ${pqRoundSql(s"subr_$tag", s"seed_$tag", s"pq1_$tag")},
         ${pqRoundSql(s"subr_$tag", s"pq1_$tag", s"pq2_$tag")},
         book_$tag AS (SELECT sub,
                CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cent_id)
                     - 1 AS INT) AS code, cent_emb, cc
              FROM pq2_$tag),
         codes_$tag AS (SELECT vec_id, sub, code FROM (
              SELECT r.vec_id, r.sub, c.code,
                ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.sub
                  ORDER BY ((${dotSql("r.subemb", "r.subemb", pqSubDim)}
                             - ${dotSql("r.subemb", "c.cent_emb", pqSubDim)}
                               * 2.0) + c.cc) ASC,
                           c.code ASC) AS rk
              FROM subr_$tag r JOIN book_$tag c ON c.sub = r.sub)
              WHERE rk = 1)"""

  /** The probe LUT + exact-rerank serving tail shared by both PQ
    * oracles — [[pqServe]] in SQL. `candCte` is empty for the full
    * code-table scan, or the name of a (probe_id, vec_id, base_q)
    * CTE for the routed IVF path.
    */
  private def pqServeSql(tag: String, candCte: Option[String]): String = {
    val scored = candCte match {
      case Some(cand) =>
        s"""SELECT c.probe_id, k.vec_id, l.lutq, c.base_q
            FROM $cand c JOIN codes_$tag k ON k.vec_id = c.vec_id
            JOIN lut_$tag l ON l.probe_id = c.probe_id
              AND l.sub = k.sub AND l.code = k.code"""
      case None =>
        s"""SELECT l.probe_id, k.vec_id, l.lutq, 0 AS base_q
            FROM codes_$tag k
            JOIN lut_$tag l ON l.sub = k.sub AND l.code = k.code
            WHERE k.vec_id <> l.probe_id"""
    }
    s"""lut_$tag AS (SELECT p.vec_id AS probe_id, p.sub, c.code,
                CAST(floor(${dotSql("p.subemb", "c.cent_emb", pqSubDim)}
                     * 1048576.0 + 0.5) AS BIGINT) AS lutq
              FROM (SELECT * FROM subr_base WHERE vec_id < $nProbes) p
              JOIN book_$tag c ON c.sub = p.sub),
         scored_$tag AS ($scored),
         approx_$tag AS (SELECT probe_id, vec_id,
                CAST(SUM(lutq) AS BIGINT) + MIN(base_q) AS approx_q
              FROM scored_$tag GROUP BY 1, 2),
         top50_$tag AS (SELECT probe_id, vec_id FROM (
              SELECT probe_id, vec_id,
                ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY approx_q DESC, vec_id ASC) AS crk
              FROM approx_$tag) WHERE crk <= 50),
         pairs_$tag AS (SELECT t.probe_id, t.vec_id,
                floor((${dotSql("pe.embedding", "ce.embedding", 64)}
                  / (pe.norm * ce.norm)) * 1000000 + 0.5) / 1000000 AS score
              FROM top50_$tag t JOIN base pe ON pe.vec_id = t.probe_id
                                JOIN base ce ON ce.vec_id = t.vec_id),
         ranked_$tag AS (SELECT probe_id, vec_id, score,
                CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
              FROM pairs_$tag)"""
  }

  /** The DuckDB oracle for `similarity_topk_pq`: re-trains the
    * per-subspace codebooks, re-encodes the corpus, rebuilds the
    * probe LUTs, and re-runs the candidate cut + exact re-rank —
    * the full 64×-compression ANN pipeline replayed by a second
    * engine. Bit-identical because every stage was built order-free
    * (grid means, integer LUT sums, id tie-breaks).
    */
  private[graft] def topkPqOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(${dotSql("embedding", "embedding", 64)}) AS norm
                FROM embeddings),
         ${pqTrainCtes("base", "t")},
         subr_base AS (SELECT * FROM subr_t),
         ${pqServeSql("t", None)}
         SELECT probe_id, rank, vec_id, score FROM ranked_t
         WHERE rank <= 10 ORDER BY probe_id, rank"""

  /** The DuckDB oracle for `similarity_ivf_pq` — the full
    * composition: coarse codebook (two [[lloydRoundSql]] rounds),
    * keep-1 residuals, residual-PQ training + encode
    * ([[pqTrainCtes]]), nprobe=3 routing with the q·c_list base
    * terms, and the shared ADC + exact-rerank tail. The doubly
    * approximate production ANN, hash-gated.
    */
  private[graft] def ivfPqOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(${dotSql("embedding", "embedding", 64)}) AS norm
                FROM embeddings),
         cents0 AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                           norm AS cent_norm
                    FROM base WHERE vec_id % $ivfStride = 0),
         ${lloydRoundSql("cents0", "cents1")},
         ${lloydRoundSql("cents1", "cents2")},
         casg AS (SELECT vec_id, cent_id FROM (
              SELECT b.vec_id, c.cent_id,
                ROW_NUMBER() OVER (PARTITION BY b.vec_id
                  ORDER BY ${dotSql("b.embedding", "c.cent_emb", 64)}
                           / (b.norm * c.cent_norm) DESC,
                         c.cent_id ASC) AS r
              FROM base b CROSS JOIN cents2 c) WHERE r = 1),
         resid AS (SELECT a.vec_id, a.cent_id,
                [b.embedding[i] - c.cent_emb[i]
                 for i in range(1, ${embDim + 1})] AS embedding
              FROM casg a JOIN base b ON b.vec_id = a.vec_id
                          JOIN cents2 c ON c.cent_id = a.cent_id),
         ${pqTrainCtes("resid", "r")},
         subr_base AS (SELECT vec_id, t.sub,
                list_slice(embedding, t.sub * $pqSubDim + 1,
                           t.sub * $pqSubDim + $pqSubDim) AS subemb
              FROM base
              CROSS JOIN (SELECT unnest(range(0, $pqSubs)) AS sub) t),
         probes_r AS (SELECT cent_id, probe_id, base_q FROM (
              SELECT c.cent_id, b.vec_id AS probe_id,
                CAST(floor(${dotSql("b.embedding", "c.cent_emb", 64)}
                     * 1048576.0 + 0.5) AS BIGINT) AS base_q,
                ROW_NUMBER() OVER (PARTITION BY b.vec_id
                  ORDER BY ${dotSql("b.embedding", "c.cent_emb", 64)}
                           / (b.norm * c.cent_norm) DESC,
                         c.cent_id ASC) AS r
              FROM base b CROSS JOIN cents2 c WHERE b.vec_id < $nProbes)
              WHERE r <= 3),
         cand_r AS (SELECT p.probe_id, l.vec_id, p.base_q
              FROM resid l JOIN probes_r p ON l.cent_id = p.cent_id
              WHERE l.vec_id <> p.probe_id),
         ${pqServeSql("r", Some("cand_r"))}
         SELECT probe_id, rank, vec_id, score FROM ranked_r
         WHERE rank <= 10 ORDER BY probe_id, rank"""

  /** The DuckDB oracle for `dedup_embed_blocked`: same bucket keys,
    * i < j candidate pairs, exact cosine re-score at ≥ 0.4. */
  private[graft] def dedupEmbedBlockedOracleSql: String =
    s"""WITH $lshKeysCtes,
         cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
                  FROM keys a JOIN keys b ON a.t = b.t AND a.bkt = b.bkt
                  WHERE a.vec_id < b.vec_id),
         scored AS (SELECT i, j,
                  floor((list_aggregate([CAST(ei.embedding[x] AS DOUBLE)
                           * CAST(ej.embedding[x] AS DOUBLE)
                           for x in range(1, len(ei.embedding) + 1)], 'sum')
                    / (ei.norm * ej.norm)) * 1000000 + 0.5) / 1000000 AS cos_sim
                  FROM cand JOIN base ei ON ei.vec_id = i
                            JOIN base ej ON ej.vec_id = j)
         SELECT i, j, cos_sim FROM scored
         WHERE cos_sim >= 0.4 ORDER BY i, j"""

  /** `similarity_ivf` — IVF-style ANN. Coarse codebook = every 100th
    * vector (deterministic seed set, k ≈ n/100); each corpus vector
    * is assigned to its nearest centroid in one broadcast pass;
    * probes search their nprobe=2 nearest inverted lists, exact
    * cosine re-rank inside. At 100 TB: the assignment is a map stage
    * over the corpus, the probe join shuffles only the probed lists
    * (~2/k of the data) — the classic recall/cost dial. Oracle-gated
    * since round 6 ([[ivfOracleSql]] — the seed codebook and both
    * assignment ranks are deterministic relational ops, so the
    * approximation lives in recall, not the output function).
    */
  def similarityIvf(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    ivfSearch(s, e, seedCentroids(e))
  }

  /** `similarity_ivf_trained` — IVF with the codebook refined by two
    * rounds of spherical k-means (Lloyd) before indexing: assign every
    * vector to its nearest centroid, recompute each centroid as its
    * members' elementwise mean (cosine is scale-invariant, so the raw
    * mean serves unnormalized), repeat. Training is the part every
    * production IVF has and the seed-only variant skips; each round is
    * one broadcast assignment pass + one (cent_id, dim) aggregation —
    * both linear in corpus size, and the codebook stays driver-small
    * (k ≈ n/100 rows broadcast, never the corpus). Oracle-gated
    * since round 6 ([[ivfTrainedOracleSql]] — the fixed-point Lloyd
    * means are order-free, so DuckDB re-trains the identical
    * codebook); AnnQualitySpec additionally holds the recall floor.
    */
  def similarityIvfTrained(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    ivfSearch(s, e, trainedCentroids(s, d))
  }

  /** The seed + 2-round Lloyd codebook as a memoized silver: TWO
    * registered consumers (`similarity_ivf_trained`, `semdedup`) each
    * re-trained the identical codebook — the two broadcast assignment
    * passes are the expensive part, and the codebook is k ≈ n/100
    * tiny rows. Memoized per (session, embeddings fingerprint).
    */
  private[graft] def trainedCentroids(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    def build = (1 to 2).foldLeft(seedCentroids(e)) {
      (cents, _) => lloydStep(s, e, cents)
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "lloyd_codebook|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(build)
  }

  /** The COMPILED 2-round Lloyd codebook for the kNN edge route's
    * `trained` option: same seed, same fixed-point 2⁻²⁰ member means
    * as [[trainedCentroids]], but the keep-1 assignment runs as ONE
    * compiled CosineScan per vector over the broadcast codebook
    * struct array instead of the declarative n×k window-ranked join
    * — the declarative form measured 126.9 s at 131k vectors BECAUSE
    * of that window frame (the round-11 lesson: any ANN stage racing
    * a compiled baseline must compile its hot loop too). Compiling
    * alone was NOT enough: fused under the posexplode Generate the
    * scan re-evaluated per dimension (170 s) until the repartition
    * fence below — see the in-body comment. Assignment ties differ
    * from [[trainedCentroids]] only on the r6 grid boundary
    * (CosineScan ranks r6-rounded scores; the declarative form ranks
    * raw doubles), so this book is NOT bit-identical to the
    * `similarity_ivf_trained` oracle's — it deliberately lives under
    * its own memo key and serves only the routed edge build, whose
    * contract is recall (measured 1.0 on the clustered sweep corpus)
    * plus the full-probe==exact pin, not codebook equality.
    */
  private[graft] def trainedCentroidsCompiled(s: SparkSession,
      d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .select(col("vec_id"), col("embedding"), col("norm"))
    val grid = (1L << 20).toDouble
    def step(cents: DataFrame): DataFrame = {
      val centArr = cents.agg(collect_list(struct(col("cent_id"),
        col("cent_emb"), col("cent_norm"))).as("cents"))
      // the repartition is a MATERIALIZATION FENCE, not a layout
      // choice: without it CollapseProject folds the compiled scan
      // into the Generate's projection and the n×k assignment
      // re-evaluates once per exploded DIMENSION (64×) — measured
      // 170 s vs 15.6 s cold (≈5 s warm-JIT) for the identical
      // 2-round training at 131k vectors. The exchange ships
      // (8 B + one vector) per row exactly once.
      val assigned = e.crossJoin(broadcast(centArr))
        .select(VectorExprs.cosineKnn(s, col("embedding"), col("norm"),
          lit(-1L), col("cents"), 1)(0).as("cent_id"), col("embedding"))
        .repartition(col("cent_id"))
      val means = assigned
        .select(col("cent_id"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg((sum(floor(col("v") * grid + 0.5).cast("long")).cast("double")
          / (count(lit(1)) * grid)).as("m"))
        .groupBy("cent_id")
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, m)))," +
            " x -> CAST(x.m AS FLOAT))").as("cent_emb"))
      withNorm(s, means, "cent_emb", "cent_norm")
        .where(col("cent_norm") > 0.0)
    }
    def build = (1 to 2).foldLeft(seedCentroids(e))((c, _) => step(c))
    graft.engine.SessionMemo.getOrBuild(s,
      "lloyd_codebook_knn|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(build)
  }

  /** Deterministic seed codebook: every 100th vector (k ≈ n/100). */
  private[graft] def seedCentroids(e: DataFrame): DataFrame =
    e.where(col("vec_id") % ivfStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))

  /** Nearest-`keep` centroids per vector (broadcast codebook pass). */
  private def assignToCentroids(s: SparkSession, df: DataFrame,
      cents: DataFrame, keep: Int): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    df.join(broadcast(cents), lit(true))
      .withColumn("cent_sim",
        VectorExprs.dot(s, col("embedding"), col("cent_emb"))
          / (col("norm") * col("cent_norm")))
      .withColumn("cent_rank", row_number().over(w))
      .where(col("cent_rank") <= keep)
      .drop("cent_emb", "cent_norm", "cent_sim", "cent_rank")
  }

  /** One Lloyd round: members' elementwise mean per centroid, via a
    * (cent_id, dim) aggregation — no collect, no per-centroid loop; a
    * centroid whose member mean degenerates to zero norm is dropped
    * (a NaN cosine would otherwise sort above every real candidate).
    * The mean runs in 2⁻²⁰ fixed point — member coordinates round to
    * an integer grid BEFORE summing, so the fold is order-free and
    * the trained codebook is bit-stable across partitionings (a plain
    * avg() of doubles folds in partition order; a last-bit wobble on
    * a borderline assignment would make the emitted top-k rows differ
    * between runs). The grid rounds unit-vector coordinates at ~1e-6
    * — noise-level next to the k-means objective itself.
    */
  private[graft] def lloydStep(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    val grid = (1L << 20).toDouble
    val means = assignToCentroids(s, e, cents, keep = 1)
      .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cent_id", "pos")
      .agg((sum(floor(col("v") * grid + 0.5).cast("long")).cast("double")
        / (count(lit(1)) * grid)).as("m"))
      .groupBy("cent_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, m)))," +
          " x -> CAST(x.m AS FLOAT))").as("cent_emb"))
    withNorm(s, means, "cent_emb", "cent_norm")
      .where(col("cent_norm") > 0.0)
  }

  /** The IVF search tail shared by the seed and trained codebooks:
    * corpus → inverted lists (keep=1), probes → nprobe=2 lists, exact
    * cosine re-rank inside the probed lists only.
    */
  private def ivfSearch(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    val corpus = assignToCentroids(s, e, cents, keep = 1)
      .select(col("cent_id"), col("vec_id"), col("embedding"), col("norm"))
    val probes = assignToCentroids(s, e.where(col("vec_id") < nProbes), cents,
        keep = ivfNprobe)
      .select(col("cent_id"), col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"), col("norm").as("probe_norm"))
    val cand = corpus.join(probes, Seq("cent_id"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    rankTopk(cand)
  }

  /** SemDeDup's ε threshold, calibrated to THIS corpus: the shipped
    * embeddings are isotropic unit vectors (no semantic cluster
    * structure — within-label avg cos ≈ 0.0008), so the published
    * 0.9+ cuts for real encoder output would fire on nothing; 0.2
    * (~1.6σ of the cos distribution at d = 64) keeps the row
    * non-vacuous while exercising the identical machinery.
    */
  private[graft] val SemDedupEps = 0.2

  /** `semdedup` — centroid-rank semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus with k-means, call pairs
    * within one cluster whose cosine clears ε semantic duplicates,
    * and from each duplicate pair KEEP the member with the LOWEST
    * cosine to its cluster centroid (the paper's keep-the-outlier
    * rule — the retained point carries the most non-redundant
    * signal), removing the other. Output = the removed rows with
    * their cluster and centroid similarity.
    *
    * Reuses the trained-IVF machinery end to end: the seed + 2-round
    * fixed-point Lloyd codebook ([[lloydStep]]'s 2⁻²⁰ grid is what
    * makes this row hash-gateable — DuckDB re-trains the identical
    * centroids), the broadcast keep-1 assignment, and cluster-bounded
    * pair generation — the SemDeDup point is exactly that pairs are
    * confined to k-means cells, so the pair stream is Σ C(cell, 2),
    * never n²; at 100 TB k scales with n (n/100 here) keeping cells
    * bounded, and the per-cell self-join is the dedup_embed_ann
    * blocking shape. Removal order compares the r6-FENCED centroid
    * sim (ties on vec_id), so the survivor choice is reproducible
    * cross-engine; AnnQualitySpec pins the rule against a brute-force
    * driver replay.
    */
  def semdedup(s: SparkSession, d: String): DataFrame = {
    val assigned = semdedupAssigned(s, d)
    // the REMOVED set is |removals| tiny rows consumed by this row
    // AND dedup_cascade's 5_semantic gate, and the Σ C(cell, 2) pair
    // scan above it re-ran per call (0.55 s/call at sf0.1 — the
    // whole cascade's dominant term). Memoize it like the assignment
    // it reads (same fingerprint lifecycle).
    // `assigned` is resolved ABOVE the memo (SessionMemo nesting
    // convention). Ordering is applied on read — the memoized frame
    // is the unordered removed set.
    graft.engine.SessionMemo.getOrBuild(s,
      "semdedup_removed|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(
      semdedupRemoved(s, assigned)).orderBy("vec_id")
  }

  /** [[semdedup]]'s removed-set lineage (unordered): the within-cell
    * ε-pair scan + keep-the-outlier rule. */
  private def semdedupRemoved(s: SparkSession,
      assigned: DataFrame): DataFrame = {
    val x = assigned.select(col("vec_id").as("i"),
      col("embedding").as("emb_i"), col("norm").as("norm_i"),
      col("cent_id"), col("cent_sim").as("cs_i"))
    val y = assigned.select(col("vec_id").as("j"),
      col("embedding").as("emb_j"), col("norm").as("norm_j"),
      col("cent_id"), col("cent_sim").as("cs_j"))
    // the removed member's decoration (cent_id, cent_sim) rides the
    // pair row itself — no third pass over the assignment
    x.join(y, Seq("cent_id")).where(col("i") < col("j"))
      .withColumn("cos_sim", r6(
        VectorExprs.dot(s, col("emb_i"), col("emb_j"))
          / (col("norm_i") * col("norm_j"))))
      .where(col("cos_sim") >= SemDedupEps)
      .select(
        when(col("cs_i") > col("cs_j")
          || (col("cs_i") === col("cs_j") && col("i") > col("j")),
          struct(col("i").as("vec_id"), col("cent_id"),
            col("cs_i").as("cent_sim")))
          .otherwise(struct(col("j").as("vec_id"), col("cent_id"),
            col("cs_j").as("cent_sim"))).as("r"))
      .select(col("r.vec_id"), col("r.cent_id"), col("r.cent_sim"))
      .distinct()
  }

  /** The keep-1 Lloyd-cell assignment with the r6-fenced centroid
    * sim, embedding carried for the pair cosine — memoized per
    * (session, embeddings fingerprint): the n·k broadcast-assignment
    * window is [[semdedup]]'s dominant stage and its pair join reads
    * the assignment TWICE (both sides); without the memo each side —
    * and each bench rep — re-ran the full pass (the 500k sweep's
    * shuffle-spill lesson). ~(embedding + 3 scalars) per vector, the
    * signature-silver weight class.
    */
  private[graft] def semdedupAssigned(s: SparkSession,
      d: String): DataFrame = {
    val trained = trainedCentroids(s, d)
    def build: DataFrame = {
      // vec_id normalized to LONG at the assignment (not per consumer):
      // semdedup's OUTPUT schema stays LONG for an INT32 embeddings
      // table
      val e = withNorm(s,
        Tables.embeddings(s, d)
          .withColumn("vec_id", col("vec_id").cast("long")),
        "embedding", "norm")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("raw_sim").desc, col("cent_id").asc)
      e.join(broadcast(trained), lit(true))
        .withColumn("raw_sim",
          VectorExprs.dot(s, col("embedding"), col("cent_emb"))
            / (col("norm") * col("cent_norm")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("vec_id"), col("embedding"), col("norm"),
          col("cent_id"), r6(col("raw_sim")).as("cent_sim"))
    }
    graft.engine.SessionMemo.getOrBuild(s,
      "semdedup_assigned|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings"))(build)
  }

  /** The DuckDB oracle for `semdedup`: seed codebook, two
    * [[lloydRoundSql]] rounds, keep-1 assignment with the r6-fenced
    * centroid sim, the within-cluster ε cut, and the keep-lowest-
    * centroid-sim removal rule — shared constants, so the ε and the
    * grid can't drift from the engine's.
    */
  private[graft] def semdedupOracleSql: String =
    s"""WITH $semdedupCtes
         SELECT a.vec_id, a.cent_id, a.cent_sim
         FROM rem r JOIN asg a ON a.vec_id = r.vec_id
         ORDER BY a.vec_id"""

  /** The semdedup oracle's CTE chain (… `asg`, `rem`) without the
    * final SELECT — shared with the `dedup_cascade` oracle, whose
    * semantic stage consumes `rem(vec_id)`. CTE names used: base,
    * cents0/1/2 (+ lloydRoundSql's asg_/mean_/emb_ prefixes), sims,
    * asg, pairs, rem — composing oracles must avoid these.
    */
  private[graft] def semdedupCtes: String =
    s"""base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents0 AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                           norm AS cent_norm
                    FROM base WHERE vec_id % $ivfStride = 0),
         ${lloydRoundSql("cents0", "cents1")},
         ${lloydRoundSql("cents1", "cents2")},
         sims AS (SELECT b.vec_id, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, ${embDim + 1})], 'sum')
                    / (b.norm * c.cent_norm) AS raw_sim
                  FROM base b CROSS JOIN cents2 c),
         asg AS (SELECT vec_id, cent_id,
                  floor(raw_sim * 1000000 + 0.5) / 1000000 AS cent_sim
                 FROM (SELECT vec_id, cent_id, raw_sim,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY raw_sim DESC, cent_id ASC) AS r
                       FROM sims) WHERE r = 1),
         pairs AS (SELECT xi.vec_id AS i, xj.vec_id AS j,
                  xi.cent_sim AS cs_i, xj.cent_sim AS cs_j,
                  floor((list_aggregate([CAST(bi.embedding[p] AS DOUBLE)
                           * CAST(bj.embedding[p] AS DOUBLE)
                           for p in range(1, ${embDim + 1})], 'sum')
                    / (bi.norm * bj.norm)) * 1000000 + 0.5) / 1000000
                    AS cos_sim
                  FROM asg xi JOIN asg xj
                    ON xi.cent_id = xj.cent_id AND xi.vec_id < xj.vec_id
                  JOIN base bi ON bi.vec_id = xi.vec_id
                  JOIN base bj ON bj.vec_id = xj.vec_id),
         rem AS (SELECT DISTINCT
                  CASE WHEN cs_i > cs_j OR (cs_i = cs_j AND i > j)
                       THEN i ELSE j END AS vec_id
                 FROM pairs WHERE cos_sim >= $SemDedupEps)"""

  /** Per-vector int8 symmetric scalar quantization — the 4× memory
    * lever for embedding stores at 100 TB (a 64-d float corpus drops
    * from 256 B to 64 B + one scale per vector). Row-local map, no
    * shuffle: `scale = 127 / max|x|`, `q_i = floor(x_i·scale + 0.5)`
    * — the floor(+0.5) form instead of round() so Spark and the
    * DuckDB oracle run the identical IEEE op sequence (see
    * [[graft.engine.Determinism.r6]] for why round() diverges on
    * ties). Every q_i lands in [-127, 127]; values are integral, so
    * they ride an `array<float>` losslessly and every downstream
    * integer dot/sum stays EXACT in double (< 2⁵³) — that exactness
    * is what lets the quantized path keep a hash-matched oracle
    * where float ANN paths can't. All-zero vectors get scale = 0 and
    * an all-zero code (guarded, not NaN).
    */
  private[graft] def quantized(s: SparkSession, embs: DataFrame): DataFrame =
    // one compiled pass per row (graft_int8_quantize) instead of the
    // three interpreted higher-order passes the declarative spelling
    // costs — the arithmetic contract lives on the expression
    embs
      .withColumn("qz",
        graft.functions.Int8Quantize.int8Quantize(s, col("embedding")))
      .withColumn("scale", col("qz.scale"))
      .withColumn("qemb", col("qz.q"))
      .drop("qz")

  /** `embed_quantize` — the quantization audit projection: per-vector
    * scale plus exact integer summaries of the code vector (min, max,
    * sum, squared norm). The summaries are order-insensitive integer
    * sums — exact in any engine — so the whole quantization kernel is
    * oracle-gated bit-for-bit; the pairwise geometry it preserves is
    * gated separately by `similarity_topk_q8`'s 5×n dot products.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    quantized(s, Tables.embeddings(s, d))
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        r6(col("scale")).as("scale"),
        array_min(col("qemb")).cast("int").as("q_min"),
        array_max(col("qemb")).cast("int").as("q_max"),
        // compiled dot against a ones vector instead of the
        // interpreted aggregate() HOF (the ~50× cost center the
        // module header warns about); 64 is the corpus embedding
        // contract (lshTableKeys pins the same dim) and a dim
        // mismatch can't pass silently — the oracle's true sum
        // would hash-mismatch a truncated one
        VectorExprs.dot(s, col("qemb"),
          typedLit(Array.fill(64)(1.0f))).cast("long").as("q_sum"),
        VectorExprs.dot(s, col("qemb"), col("qemb"))
          .cast("long").as("q_normsq"))
      .orderBy("vec_id")

  /** `similarity_topk_q8` — brute-force cosine top-k over the int8
    * codes: the memory-compressed twin of `similarity_topk` (same
    * probe set, same ranking rule). Because codes are integral, the
    * dot and both squared norms are exact integers in double, so the
    * score is a deterministic two-sqrt-one-divide away — this is the
    * rare ANN variant an external oracle can hash-match exactly.
    * QuantizeSpec additionally pins recall@10 vs the float top-k
    * (int8 on 64-d unit vectors loses almost nothing). At 100 TB the
    * quantized corpus is what you'd actually scan: 4× more vectors
    * per executor-byte, integer kernels, identical plan shape.
    */
  def similarityTopkQ8(s: SparkSession, d: String): DataFrame =
    q8Topk(
      quantized(s, Tables.embeddings(s, d))
        .select(col("vec_id"), col("qemb")),
      "qemb", (a, b) => VectorExprs.dot(s, a, b))

  /** `similarity_topk_q8` served from a PACKED code table
    * (vec_id, code BINARY — `pipeline.CorpusSilver.writeQuantizedCodes`):
    * the 100 TB serving shape. The scan reads 1/4 the vector bytes of
    * the float corpus and the kernel (`graft_int8_dot`) runs the
    * integer dot straight over the bytes — no unpack, no float array.
    * Scores are the identical exact integers as the inline query, so
    * QuantizeSpec equality-pins this path to the oracle-gated one.
    */
  def similarityTopkQ8FromCodes(s: SparkSession, codes: DataFrame): DataFrame =
    q8Topk(codes.select(col("vec_id"), col("code")), "code",
      (a, b) => graft.functions.Int8DotBytes.int8Dot(s, a, b))

  /** The one quantized top-k pipeline behind both code
    * representations (float-array codes / packed bytes): self-dot →
    * zero-norm guard → probe broadcast → exact integer scores →
    * shared rank tail. Parameterized by the code column and dot
    * kernel so the two entry points cannot drift apart (their
    * equality is spec-pinned).
    */
  private def q8Topk(codes: DataFrame, codeCol: String,
      dot: (Column, Column) => Column): DataFrame = {
    val q = codes
      .withColumn("qq", dot(col(codeCol), col(codeCol)))
      .where(col("qq") > 0.0)
    val probes = q.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col(codeCol).as("probe_c"),
        col("qq").as("probe_qq"))
    val pairs = q.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("score", r6(
        dot(col("probe_c"), col(codeCol))
          / (sqrt(col("probe_qq")) * sqrt(col("qq")))))
    rankTopk(pairs)
  }

  /** The shared top-k tail: per-probe rank over (score desc, id asc)
    * — map-side WindowGroupLimit prunes to ≤10 per partition before
    * the single window exchange.
    */
  private def rankTopk(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "rank", "vec_id", "score")
      .orderBy("probe_id", "rank")
  }

  /** `dedup_embed` — embedding-cosine near-dup pairs (cos ≥ 0.4,
    * where this corpus's near-dup mass sits). Exact all-pairs at test
    * sf with norms hoisted out of the O(n²) loop; at scale, run
    * behind `similarity_lsh` blocking.
    */
  def dedupEmbed(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    // the i<j pair stream runs as the compiled broadcast-corpus scan
    // (functions.CosineScan, cut form) — no materialized n² pair
    // rows; the few surviving pairs rejoin the corpus for the score
    // column with the identical r6 arithmetic
    val corpusArr = e.agg(collect_list(
      struct(col("vec_id"), col("embedding"), col("norm"))).as("corpus"))
    val cand = e.crossJoin(broadcast(corpusArr))
      .select(col("vec_id").as("i"),
        explode(VectorExprs.cosineCut(s, col("embedding"), col("norm"),
          col("vec_id"), col("corpus"), 0.4)).as("j"))
    cand
      .join(e.select(col("vec_id").as("i"), col("embedding").as("emb_i"),
        col("norm").as("norm_i")), Seq("i"))
      .join(e.select(col("vec_id").as("j"), col("embedding").as("emb_j"),
        col("norm").as("norm_j")), Seq("j"))
      .withColumn("cos_sim", r6(
        VectorExprs.dot(s, col("emb_i"), col("emb_j"))
          / (col("norm_i") * col("norm_j"))))
      .select("i", "j", "cos_sim")
      .orderBy("i", "j")
  }

  /** `dedup_embed_ann` — embedding near-dup with the candidate set
    * blocked by the IVF coarse quantizer instead of random planes:
    * every vector is assigned to its nearest seed centroid (keep=1,
    * the same inverted-list build `similarity_ivf` serves from) and
    * pairs are generated only WITHIN a list, then cut by the same
    * exact cosine ≥ 0.4 the brute-force row uses. This is the third
    * blocking family for semantic dedup beside `dedup_embed`
    * (all-pairs truth) and `dedup_embed_blocked` (random-hyperplane
    * LSH): data-adaptive lists concentrate near-dups into the same
    * block wherever the corpus clusters, where oblivious planes split
    * boundary-straddling pairs — the trade AnnQualitySpec measures as
    * pair recall against the exact row.
    *
    * Scale shape: one broadcast codebook pass (k ≈ n/stride rows),
    * one shuffle on cent_id, quadratic only within a list (mean list
    * size ≈ stride, so pair work is n·stride/2, not n²/2). Every
    * step is deterministic — seed centroids are a fixed stride, the
    * keep-1 argmax breaks ties on cent_id — so the approximate
    * operator has an exact output the DuckDB oracle
    * ([[dedupEmbedAnnOracleSql]]) replays bit-for-bit.
    */
  def dedupEmbedAnn(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val corpus = assignToCentroids(s, e, seedCentroids(e), keep = 1)
    val a = corpus.select(col("cent_id"), col("vec_id").as("i"),
      col("embedding").as("emb_i"), col("norm").as("norm_i"))
    val b = corpus.select(col("cent_id"), col("vec_id").as("j"),
      col("embedding").as("emb_j"), col("norm").as("norm_j"))
    a.join(b, Seq("cent_id"))
      .where(col("i") < col("j"))
      .withColumn("cos_sim", r6(
        VectorExprs.dot(s, col("emb_i"), col("emb_j"))
          / (col("norm_i") * col("norm_j"))))
      .where(col("cos_sim") >= 0.4)
      .select("i", "j", "cos_sim")
      .orderBy("i", "j")
  }

  /** `diversity_sample` — cluster-balanced corpus sampling: k
    * documents per IVF coarse cell instead of k per metadata group.
    * Metadata-stratified samplers (`stratified_sample`,
    * `sample_per_source`) balance what the corpus SAYS it is;
    * training-data curation also needs balance over what the corpus
    * IS — embedding-space coverage, so a duplicated-topic crawl can't
    * flood the sample no matter how many sources it spans. The cells
    * are the same deterministic keep-1 seed-codebook assignment
    * `similarity_ivf` serves from and `dedup_embed_ann` blocks on;
    * within each cell the pick is the k minimal portable-hash ranks
    * through the bounded `graft_topk` aggregate (the order-free
    * distributed reservoir of `sample_per_source` — O(k) state per
    * partial, no per-cell window sort). Hash multiplier 374761393
    * (xxHash prime 5) decorrelates this sampler from the other three
    * hash streams over the same id space, so the four compose
    * without bias.
    *
    * Scale shape: one broadcast codebook pass + ONE shuffle of
    * (cell, id, hash) triples into the bounded aggregate — sampling
    * cost is independent of k·cells until the output itself is big.
    * Every step is deterministic (stride seeds, id tie-breaks,
    * integer hash), so the row hash-gates: the DuckDB oracle replays
    * assignment and ranks from raw parquet.
    */
  def diversitySample(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val corpus = assignToCentroids(s, e, seedCentroids(e), keep = 1)
    corpus
      .withColumn("h",
        (col("vec_id") % lit(1000000007L)) * lit(374761393L)
          % lit(1000000007L))
      .groupBy(col("cent_id"))
      // negate: topk keeps (score desc, id asc) = (h asc, vec_id asc);
      // h < 2³⁰ round-trips the double score exactly
      .agg(graft.functions.TopKAgg.topk(s,
        -col("h").cast("double"), col("vec_id"), 8).as("tk"))
      .select(col("cent_id"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("cent_id"), (col("r") + 1).cast("int").as("rank"),
        col("e.vec_id").as("vec_id"),
        (-col("e.score")).cast("long").as("h"))
      .orderBy("cent_id", "rank")
  }

  /** The DuckDB oracle for `label_centroids`: the [[lloydRoundSql]]
    * fixed-point mean replayed per (label, dim) — exact long sums on
    * the 2⁻²⁰ grid, so the mean is order-free in any engine.
    */
  private[graft] def labelCentroidsOracleSql: String =
    s"""WITH t AS (SELECT label, p.pos - 1 AS dim,
                CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1048576.0
                    + 0.5) AS BIGINT) AS q
              FROM embeddings
              CROSS JOIN (SELECT unnest(range(1, ${embDim + 1})) AS pos) p)
         SELECT label, CAST(dim AS INTEGER) AS dim, COUNT(*) AS n,
                CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0) AS m
         FROM t GROUP BY label, dim ORDER BY label, dim"""

  /** The DuckDB oracle for `diversity_sample`: the shared seed
    * codebook + keep-1 assignment CTEs, then the modular hash rank
    * per cell. Constants come from the shared named vals.
    */
  private[graft] def diversitySampleOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                          norm AS cent_norm
                   FROM base WHERE vec_id % $ivfStride = 0),
         sims AS (SELECT b.vec_id, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, len(b.embedding) + 1)], 'sum')
                    / (b.norm * c.cent_norm) AS cent_sim
                  FROM base b CROSS JOIN cents c),
         ranked_c AS (SELECT vec_id, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cent_sim DESC, cent_id ASC) AS r FROM sims),
         corpus AS (SELECT vec_id, cent_id FROM ranked_c WHERE r = 1),
         hashed AS (SELECT cent_id, vec_id,
                  ((vec_id % 1000000007) * 374761393) % 1000000007 AS h
                  FROM corpus),
         rk AS (SELECT cent_id, vec_id, h,
                  CAST(ROW_NUMBER() OVER (PARTITION BY cent_id
                    ORDER BY h ASC, vec_id ASC) AS INTEGER) AS rank
                FROM hashed)
         SELECT cent_id, rank, vec_id, h FROM rk
         WHERE rank <= 8 ORDER BY cent_id, rank"""

  /** `ann_mrr` — the RANKING-quality gate of the ANN ladder: for
    * each probe, where does the TRUE nearest neighbor (exact
    * [[similarityTopk]] rank 1) land in the PQ-served top-10
    * ([[similarityTopkPq]])? Emits the found rank (0 = missed) and
    * the reciprocal rank — MRR is the metric retrieval evaluations
    * report when "recall@k" hides rank inversions (a system that
    * always buries the true hit at rank 10 has perfect recall@10
    * and terrible MRR). `ann_recall_b1` gates the 1-bit rung's SET
    * overlap; this row gates the 64× rung's ORDER. Both sub-queries
    * are already deterministic total orders, so the composition
    * hash-gates: the DuckDB oracle re-trains the PQ codebooks and
    * replays both rankings, then takes the same left join.
    *
    * Scale shape: the two inputs are per-probe bounded (≤ 10 rows
    * each); the join adds nothing corpus-sized beyond what the
    * inputs already pay.
    */
  def annMrr(s: SparkSession, d: String): DataFrame = {
    val e1 = similarityTopk(s, d).where(col("rank") === 1)
      .select(col("probe_id"), col("vec_id").as("true_nn"))
    val pq = similarityTopkPq(s, d)
      .select(col("probe_id").as("pq_probe"), col("rank").as("pq_rank"),
        col("vec_id").as("pq_vec"))
    e1.join(pq, col("pq_probe") === col("probe_id")
        && col("pq_vec") === col("true_nn"), "left")
      .select(col("probe_id"), col("true_nn"),
        coalesce(col("pq_rank"), lit(0)).as("found_rank"),
        r6(coalesce(lit(1.0) / col("pq_rank"), lit(0.0))).as("rr"))
      .orderBy("probe_id")
  }

  /** The DuckDB oracle for `ann_mrr`: the exact top-1 CTE (the
    * similarity_topk formulation) left-joined against the full
    * PQ-retrain oracle ([[topkPqOracleSql]]) as a subquery.
    */
  private[graft] def annMrrOracleSql: String =
    s"""WITH e1 AS (
           SELECT probe_id, vec_id AS true_nn FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", embDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", embDim)})
                       * sqrt(${dotSql("embedding", "embedding", embDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank = 1)),
         pq AS (SELECT probe_id AS pq_probe, rank AS found_rank,
                       vec_id AS pq_vec
                FROM ($topkPqOracleSql))
         SELECT e1.probe_id, true_nn,
                COALESCE(found_rank, 0) AS found_rank,
                floor(COALESCE(1.0 / found_rank, 0.0)
                  * 1000000 + 0.5) / 1000000 AS rr
         FROM e1 LEFT JOIN pq
           ON pq_probe = e1.probe_id AND pq_vec = true_nn
         ORDER BY probe_id"""

  /** `ann_recall_pq` — recall@10 of the PQ-served ranking against
    * the exact top-10, per probe: the SET-overlap gate of the 64×
    * rung, completing the eval family (`ann_recall_b1` floors the
    * 1-bit rung, `ann_mrr` gates the 64× rung's ORDER, this row its
    * coverage). Per-probe rows rather than one mean so a single
    * pathological probe is visible, not averaged away.
    */
  def annRecallPq(s: SparkSession, d: String): DataFrame = {
    val exact = similarityTopk(s, d).select(col("probe_id"), col("vec_id"))
    val pq = similarityTopkPq(s, d)
      .select(col("probe_id").as("p2"), col("vec_id").as("v2"))
    exact.join(pq, col("p2") === col("probe_id")
        && col("v2") === col("vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("v2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("probe_id"), col("k"), col("hits"),
        r6(col("hits").cast("double") / col("k").cast("double"))
          .as("recall"))
      .orderBy("probe_id")
  }

  /** `ann_recall_ivf` — per-probe recall@10 of the (seed-codebook)
    * IVF ranking against the exact top-10: completes the ANN eval
    * family's ladder (exact → IVF → PQ → 1-bit, each rung with its
    * own gated recall row), and the number a deployment reads before
    * turning the nprobe dial. Same overlap join as [[annRecallPq]].
    */
  def annRecallIvf(s: SparkSession, d: String): DataFrame = {
    val exact = similarityTopk(s, d).select(col("probe_id"), col("vec_id"))
    val ivf = similarityIvf(s, d)
      .select(col("probe_id").as("p2"), col("vec_id").as("v2"))
    exact.join(ivf, col("p2") === col("probe_id")
        && col("v2") === col("vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("v2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("probe_id"), col("k"), col("hits"),
        r6(col("hits").cast("double") / col("k").cast("double"))
          .as("recall"))
      .orderBy("probe_id")
  }

  /** The DuckDB oracle for `ann_recall_ivf`: the exact top-10 and the
    * [[ivfOracleSql]] replay as subqueries, per-probe overlap.
    */
  private[graft] def annRecallIvfOracleSql: String =
    s"""WITH ex AS (
           SELECT probe_id, vec_id FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", embDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", embDim)})
                       * sqrt(${dotSql("embedding", "embedding", embDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank <= 10)),
         iv AS (SELECT probe_id AS p2, vec_id AS v2
                FROM ($ivfOracleSql))
         SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
                floor(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                    * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS recall
         FROM ex LEFT JOIN iv ON p2 = ex.probe_id AND v2 = ex.vec_id
         GROUP BY 1 ORDER BY 1"""

  /** `ann_recall_lsh` — per-probe recall@10 of the hyperplane-LSH
    * ranking against the exact top-10: the recall ladder's missing
    * rung (`_ivf` prunes by coarse cells, `_pq`/`_b1` by code
    * fidelity, `_trunc` by geometry — this one by RANDOM-PROJECTION
    * buckets, the candidate strategy `similarity_lsh` serves). Same
    * overlap join as [[annRecallIvf]]; the LSH side is the
    * registered row itself, so the gate re-derives the fixed
    * hyperplanes, the bucket join, and the exact re-rank end to end.
    */
  def annRecallLsh(s: SparkSession, d: String): DataFrame = {
    val exact = similarityTopk(s, d).select(col("probe_id"), col("vec_id"))
    val lsh = similarityLsh(s, d)
      .select(col("probe_id").as("p2"), col("vec_id").as("v2"))
    exact.join(lsh, col("p2") === col("probe_id")
        && col("v2") === col("vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("v2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("probe_id"), col("k"), col("hits"),
        r6(col("hits").cast("double") / col("k").cast("double"))
          .as("recall"))
      .orderBy("probe_id")
  }

  /** The DuckDB oracle for `ann_recall_lsh`: the exact top-10 and
    * the [[lshOracleSql]] replay as subqueries, per-probe overlap —
    * the [[annRecallIvfOracleSql]] shape on the LSH rung.
    */
  private[graft] def annRecallLshOracleSql: String =
    s"""WITH ex AS (
           SELECT probe_id, vec_id FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", embDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", embDim)})
                       * sqrt(${dotSql("embedding", "embedding", embDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank <= 10)),
         ls AS (SELECT probe_id AS p2, vec_id AS v2
                FROM ($lshOracleSql))
         SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
                floor(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                    * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS recall
         FROM ex LEFT JOIN ls ON p2 = ex.probe_id AND v2 = ex.vec_id
         GROUP BY 1 ORDER BY 1"""

  /** `degree_assortativity` — Newman's degree assortativity over the
    * directed top-3 kNN graph ([[knnEdges3]] — the third consumer of
    * the routed edge silver): the Pearson correlation between the
    * IN-degrees of an edge's endpoints, over all 3N edges.
    * Out-degree is constant 3 by construction, so in-degree is the
    * only informative axis: r < 0 (disassortative) means popular
    * exemplars are pointed AT by peripheral docs — the hub-and-spoke
    * shape SemDeDup-style pruning assumes; r > 0 means dense cores
    * reference each other, where graph-based dedup over-prunes.
    * One number a curation run reads next to `pagerank_docs` /
    * `hits_scores` before trusting either.
    *
    * Portability: in-degrees are exact integer counts, the five
    * moments fold in DECIMAL(38,0) (order-free), and the closed-form
    * r follows `capm_beta`'s written op sequence (two sqrt's, one
    * fenced division). Scale shape: one degree aggregate + two
    * broadcast joins of the (node, deg) frame + a 6-column moment
    * fold — all linear in edges.
    */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val edges = knnEdges3(s, d)
    val indeg = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(broadcast(indeg.select(col("node").as("src"),
        col("deg").as("dx"))), Seq("src"), "left")
      .join(broadcast(indeg.select(col("node").as("dst"),
        col("deg").as("dy"))), Seq("dst"), "left")
      .select(coalesce(col("dx"), lit(0L)).as("x"),
        coalesce(col("dy"), lit(0L)).as("y"))
    xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("x")))
          .cast(DecimalType(38, 0)).as("sxx"),
        sum(dec(col("y")) * dec(col("y")))
          .cast(DecimalType(38, 0)).as("syy"),
        sum(dec(col("x")) * dec(col("y")))
          .cast(DecimalType(38, 0)).as("sxy"))
      .select(col("n").as("n_edges"),
        r6((dec(col("n")) * col("sxy")
          - dec(col("sx")) * dec(col("sy"))).cast("double")
          / nullif(
            sqrt((dec(col("n")) * col("sxx")
              - dec(col("sx")) * dec(col("sx"))).cast("double"))
              * sqrt((dec(col("n")) * col("syy")
                - dec(col("sy")) * dec(col("sy"))).cast("double")),
            lit(0.0))).as("assortativity"))
  }

  /** The DuckDB oracle for `degree_assortativity`: the shared
    * [[knnEdgeCtes]] edges, an in-degree CTE, exact HUGEINT moments,
    * and the identical written closed form.
    */
  private[graft] def degreeAssortativityOracleSql: String =
    s"""WITH $knnEdgeCtes,
         ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM e GROUP BY 1),
         xy AS (SELECT CAST(COALESCE(dx.deg, 0) AS BIGINT) AS x,
                       CAST(COALESCE(dy.deg, 0) AS BIGINT) AS y
                FROM e LEFT JOIN ind dx ON dx.node = e.src
                       LEFT JOIN ind dy ON dy.node = e.dst),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                 SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                 SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
               FROM xy)
         SELECT n AS n_edges,
                floor((CAST(n * sxy - CAST(sx AS HUGEINT)
                    * CAST(sy AS HUGEINT) AS DOUBLE)
                  / NULLIF(sqrt(CAST(n * sxx - CAST(sx AS HUGEINT)
                        * CAST(sx AS HUGEINT) AS DOUBLE))
                      * sqrt(CAST(n * syy - CAST(sy AS HUGEINT)
                        * CAST(sy AS HUGEINT) AS DOUBLE)), 0.0))
                  * 1000000 + 0.5) / 1000000 AS assortativity
         FROM m"""

  /** `label_propagation` — two rounds of majority-vote label
    * propagation over the directed top-3 kNN graph (Raghavan et al.
    * 2007's LPA restricted to a FIXED round count, which is what
    * makes it deterministic and gateable): each doc re-takes the
    * modal label of its 3 nearest neighbors, ties to the smaller
    * label id. The label-DENOISING pass of curation — `knn_label`
    * spreads labels onto 5 probes; this runs the same vote over the
    * WHOLE corpus and reports which seeds flip, i.e. which labels
    * disagree with their embedding neighborhood (mislabeled or
    * boundary docs, the ones a quality pass re-reviews). Fourth
    * consumer of the [[knnEdges3]] silver.
    *
    * Portability: integer votes, (count desc, label asc) modal
    * tie-break — a total order per node; the mode computes as ONE
    * hash aggregation via the lexicographic min(struct(−v, lbl))
    * trick (`tfidf_top_terms`' argmax, no window). Out-degree is
    * exactly 3, so every node votes every round. Scale: per round
    * one edge join + two map-side-combined aggregations over 3N
    * rows — the pagerank tail's shape.
    */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val edges = knnEdges3(s, d)
    val seed = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("label").cast("long").as("lbl"))
    var cur = seed
    for (_ <- 1 to 2) {
      val votes = edges
        .join(cur.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("v"))
      cur = votes.groupBy(col("src"))
        .agg(min(struct((-col("v")).as("nv"), col("lbl"))).as("best"))
        .select(col("src").as("id"), col("best.lbl").as("lbl"))
    }
    seed.join(cur.select(col("id"), col("lbl").as("label_final")), Seq("id"))
      .select(col("id").as("doc_id"), col("lbl").as("label_seed"),
        col("label_final"),
        (col("lbl") =!= col("label_final")).cast("int").as("changed"))
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for `label_propagation`: shared edges + the
    * two unrolled modal-vote rounds ((v desc, lbl asc) row_number —
    * the same total order as the engine's min-struct argmax).
    */
  private[graft] def labelPropagationOracleSql: String =
    s"""WITH $knnEdgeCtes,
         seed AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl
                  FROM embeddings),
         v1 AS (SELECT e.src, s.lbl, COUNT(*) AS v
                FROM e JOIN seed s ON s.id = e.dst GROUP BY 1, 2),
         l1 AS (SELECT src AS id, lbl FROM (
                  SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY v DESC, lbl ASC) AS rk FROM v1)
                WHERE rk = 1),
         v2 AS (SELECT e.src, s.lbl, COUNT(*) AS v
                FROM e JOIN l1 s ON s.id = e.dst GROUP BY 1, 2),
         l2 AS (SELECT src AS id, lbl FROM (
                  SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY v DESC, lbl ASC) AS rk FROM v2)
                WHERE rk = 1)
         SELECT s.id AS doc_id, s.lbl AS label_seed,
                l2.lbl AS label_final,
                CASE WHEN s.lbl <> l2.lbl THEN 1 ELSE 0 END AS changed
         FROM seed s JOIN l2 ON l2.id = s.id ORDER BY 1"""

  /** `graph_reciprocity` — the fraction of directed kNN edges whose
    * reverse edge also exists (Garlaschelli & Loffredo 2004's r for a
    * directed graph, the count form). On a top-3 similarity graph
    * reciprocity reads as MUTUALITY of nearness: a reciprocal edge
    * pair is two docs that are each other's near neighbors (a tight
    * local cluster — dedup/semdedup candidates), while a one-way edge
    * is a doc pointing at a popular exemplar that doesn't point back
    * (the hub/authority asymmetry `hits_scores` scores). Sixth
    * consumer of the [[knnEdges3]] silver; one 3N self-join on the
    * reversed key pair + two counts — no per-node state.
    *
    * Portability: integer counts and ONE written double division on
    * the r6 grid; the left-semi join against the reversed edge set is
    * an EXISTS in the oracle.
    */
  def graphReciprocity(s: SparkSession, d: String): DataFrame = {
    val e = knnEdges3(s, d)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val tot = e.agg(count(lit(1)).as("n_edges"))
    val rec = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    tot.crossJoin(rec)
      .select(col("n_edges"), col("n_reciprocal"),
        r6(col("n_reciprocal").cast("double")
          / nullif(col("n_edges").cast("double"), lit(0.0)))
          .as("reciprocity"))
  }

  /** The DuckDB oracle for `graph_reciprocity`: shared kNN edges, an
    * EXISTS for the reverse-edge test, one fenced division. */
  private[graft] def graphReciprocityOracleSql: String =
    s"""WITH $knnEdgeCtes,
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
         rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal
                 FROM e a WHERE EXISTS (SELECT 1 FROM e b
                   WHERE b.src = a.dst AND b.dst = a.src))
         SELECT n_edges, n_reciprocal,
                floor(CAST(n_reciprocal AS DOUBLE)
                    / NULLIF(CAST(n_edges AS DOUBLE), 0.0)
                    * 1000000 + 0.5) / 1000000 AS reciprocity
         FROM tot CROSS JOIN rec"""

  /** `katz_centrality` — three unrolled rounds of the Katz recurrence
    * x ← 1 + α·Aᵀx (Katz 1953, α = 0.1) over the directed top-3 kNN
    * graph: unlike PageRank's damped random surfer (out-degree
    * normalized), Katz counts ALL inbound walks with geometric decay,
    * so a doc's score reads as "how many docs reach me in ≤ 3 hops,
    * discounted by distance" — the walk-based exemplar score beside
    * `pagerank_docs`' stationary one and `hits_scores`' mutual-
    * reinforcement pair. Seventh consumer of the [[knnEdges3]]
    * silver; each round is one edge join + one integer aggregation
    * over 3N rows (the pagerank tail's shape — no driver data, no
    * new scan).
    *
    * Portability: the `pagerank_docs` fixed-point recipe verbatim —
    * each round's neighbor sum quantizes α·x to the 2⁴⁰ grid and
    * sums exact longs (order-free); the rebuild 1 + Σq/2⁴⁰ is one
    * written double op sequence; zero-in-degree docs take the floor
    * 1.0 via the same left-join-coalesce both engines run.
    */
  def katzCentrality(s: SparkSession, d: String): DataFrame = {
    val Q = 1099511627776.0 // 2^40 — the pagerank fixed-point grid
    val edges = knnEdges3(s, d)
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    var x = nodes.withColumn("s", lit(1.0))
    for (_ <- 1 to 3) {
      val contrib = edges.join(x, col("src") === col("id"))
        .select(col("dst"),
          floor(col("s") * lit(0.1) * lit(Q) + lit(0.5)).cast("long")
            .as("q"))
        .groupBy(col("dst"))
        .agg(sum(col("q")).as("qs"))
      x = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(1.0) + coalesce(col("qs"), lit(0L)).cast("double") / lit(Q))
            .as("s"))
    }
    x.select(col("id").as("doc_id"), r6(col("s")).as("katz"))
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for `katz_centrality`: shared kNN edges + the
    * three unrolled fixed-point Katz rounds. */
  private[graft] def katzCentralityOracleSql: String = {
    def round(in: String, c: String, out: String): String =
      s"""$c AS (SELECT e.dst, CAST(SUM(CAST(floor(
                    p.s * 0.1 * 1099511627776.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS qs
                FROM e JOIN $in p ON p.id = e.src GROUP BY 1),
         $out AS (SELECT n.id, 1.0 + CAST(COALESCE(c.qs, 0)
                   AS DOUBLE) / 1099511627776.0 AS s
                 FROM nodes n LEFT JOIN $c c ON c.dst = n.id)"""
    s"""WITH $knnEdgeCtes,
         x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS s FROM nodes),
         ${round("x0", "c1", "x1")},
         ${round("x1", "c2", "x2")},
         ${round("x2", "c3", "x3")}
         SELECT id AS doc_id,
                floor(s * 1000000 + 0.5) / 1000000 AS katz
         FROM x3 ORDER BY doc_id"""
  }

  /** `knn_edges_served` — the storage-backed serving path
    * ([[pipeline.CorpusSilver.writeKnnEdges]] +
    * [[KnnEdgesDirConf]]-style read-back) as its own gated row, the
    * `similarity_ivf_pq_served` posture applied to the graph
    * substrate: write the edge silver ONCE per corpus (memoized —
    * per-run scratch dir, removed on JVM exit), serve every
    * subsequent call from the parquet, and gate the served rows
    * against the SAME DuckDB edge oracle as the inline `knn_edges`
    * row — a cross-engine proof that write → serve loses nothing.
    *
    * LOCAL-MODE scratch assumption: the per-run dir comes from
    * `java.nio.file.Files.createTempDirectory` — a driver-local
    * `file://` path, correct under `local[*]` (the library's test
    * contract) but NOT under a multi-machine master, where executors
    * would resolve it to different disks. A cluster deployment serves
    * through [[KnnEdgesDirConf]] pointed at a shared filesystem
    * ([[pipeline.CorpusSilver.writeKnnEdges]]) instead of this
    * self-provisioned demo dir.
    */
  def knnEdgesServed(s: SparkSession, d: String): DataFrame = {
    val served = graft.engine.SessionMemo.getOrCompute(s,
      "knn_edges_served|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_knn_edges_served").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))))
      graft.pipeline.CorpusSilver.writeKnnEdges(s, d, dir)
      s.read.parquet(s"$dir/$KnnEdgesFile")
    }
    served.orderBy("src", "dst")
  }

  /** `khop_reachability` — per doc, how many DISTINCT docs its kNN
    * edges reach within 1, 2, and 3 hops (self excluded): the local
    * expansion profile of the similarity graph. Out-degree is exactly
    * 3, so the k-hop frontier is bounded by 3+9+27 rows per node —
    * the joins stay LINEAR in corpus size by construction (this is
    * the property that makes truncated reachability computable where
    * full transitive closure is not). Curation reads it as a
    * redundancy/coverage signal: a doc whose 3-hop reach saturates
    * near the 39-node ceiling sits in a well-connected region
    * (diverse neighbors), one whose reach collapses toward 3 sits in
    * a closed clique (near-dup pocket — `graph_reciprocity`'s signal,
    * localized). Eighth consumer of the [[knnEdges3]] silver.
    *
    * Portability: pure distinct-count integer folds over unrolled
    * self-joins — UNION/DISTINCT semantics identical across engines,
    * no float anywhere.
    */
  def khopReachability(s: SparkSession, d: String): DataFrame = {
    val e = knnEdges3(s, d).select(col("src"), col("dst"))
    def hop(from: DataFrame): DataFrame = from
      .join(e.select(col("src").as("mid"), col("dst").as("d2")),
        from("dst") === col("mid"))
      .select(from("src"), col("d2").as("dst"))
    val h2 = hop(e)
    val h3 = hop(h2)
    val u2 = e.union(h2)
    val u3 = u2.union(h3)
    def reach(edges: DataFrame, out: String): DataFrame = edges
      .where(col("dst") =!= col("src"))
      .groupBy(col("src"))
      .agg(countDistinct(col("dst")).as(out))
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
    nodes
      .join(reach(e, "reach1"), col("doc_id") === col("src"), "left")
      .drop("src")
      .join(reach(u2, "reach2"), col("doc_id") === col("src"), "left")
      .drop("src")
      .join(reach(u3, "reach3"), col("doc_id") === col("src"), "left")
      .drop("src")
      .select(col("doc_id"),
        coalesce(col("reach1"), lit(0L)).as("reach1"),
        coalesce(col("reach2"), lit(0L)).as("reach2"),
        coalesce(col("reach3"), lit(0L)).as("reach3"))
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for `khop_reachability`: shared kNN edges +
    * the two unrolled hop joins and three distinct-count folds. */
  private[graft] def khopReachabilityOracleSql: String =
    s"""WITH $knnEdgeCtes,
         h2 AS (SELECT a.src, b.dst FROM e a JOIN e b ON b.src = a.dst),
         h3 AS (SELECT a.src, b.dst FROM h2 a JOIN e b ON b.src = a.dst),
         u2 AS (SELECT src, dst FROM e UNION ALL SELECT src, dst FROM h2),
         u3 AS (SELECT src, dst FROM u2 UNION ALL SELECT src, dst FROM h3),
         r1 AS (SELECT src, CAST(COUNT(DISTINCT dst) AS BIGINT) AS c
                FROM e WHERE dst <> src GROUP BY 1),
         r2 AS (SELECT src, CAST(COUNT(DISTINCT dst) AS BIGINT) AS c
                FROM u2 WHERE dst <> src GROUP BY 1),
         r3 AS (SELECT src, CAST(COUNT(DISTINCT dst) AS BIGINT) AS c
                FROM u3 WHERE dst <> src GROUP BY 1)
         SELECT n.id AS doc_id,
                COALESCE(r1.c, 0) AS reach1,
                COALESCE(r2.c, 0) AS reach2,
                COALESCE(r3.c, 0) AS reach3
         FROM nodes n
         LEFT JOIN r1 ON r1.src = n.id
         LEFT JOIN r2 ON r2.src = n.id
         LEFT JOIN r3 ON r3.src = n.id
         ORDER BY doc_id"""

  /** `degree_gini` — Gini concentration of IN-degree over the kNN
    * graph (every node has out-degree 3, so in-degree carries all the
    * structure): the single-number answer to "is neighbor mass spread
    * evenly or funneled into a few exemplar hubs?" — 0 = every doc
    * equally referenced, → 1 = a few docs absorb the corpus's
    * nearest-neighbor votes (the skew `pagerank_docs` ranks doc by
    * doc, summarized). Ninth consumer of the [[knnEdges3]] silver.
    *
    * Portability: the rank-sum closed form G = (2·Σ(i·dᵢ) − (n+1)·Σd)
    * / (n·Σd) over in-degrees sorted (d asc, id asc) — every sum an
    * exact integer (zero-in-degree nodes included via the left join),
    * one fenced division on the r6 grid.
    *
    * Scale: the rank sum folds over the DEGREE ALPHABET, never
    * per-node ranks. Within a tied-degree group the (deg asc, id asc)
    * ranks are the consecutive integers off+1 .. off+cnt, whose
    * doubled sum is cnt·(2·off + cnt + 1) REGARDLESS of which id
    * takes which rank — so 2·Σ(rk·deg) = Σ_deg deg·cnt·(2·off+cnt+1)
    * needs one count per distinct degree plus a prefix-offset window
    * over the alphabet (≤ max in-degree + 1 rows at ANY corpus size —
    * the `corpus_shuffle` offsets posture). The first cut ranked
    * per-node through an unpartitioned row_number window — a
    * single-task sort over one row per node, the one shape that
    * cannot scale; this form's corpus-sized work is the degree
    * aggregate alone.
    */
  def degreeGini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val edges = knnEdges3(s, d)
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    val degs = nodes.join(indeg, col("id") === col("dst"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
    val byDeg = degs.groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
    // alphabet-sized window: input is one row per DISTINCT in-degree
    val wOff = Window.orderBy(col("deg").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byDeg
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .agg(sum(col("cnt")).as("n_nodes"),
        sum(dec(col("deg")) * dec(col("cnt")))
          .cast(DecimalType(38, 0)).as("sd"),
        // 2·Σ(rk·deg) folded per degree group: deg·cnt·(2·off+cnt+1)
        sum(dec(col("deg")) * dec(col("cnt"))
          * (lit(2L).cast(DecimalType(38, 0)) * dec(col("off"))
            + dec(col("cnt")) + lit(1L).cast(DecimalType(38, 0))))
          .cast(DecimalType(38, 0)).as("srd2"))
      .select(col("n_nodes"),
        r6((col("srd2")
          - (dec(col("n_nodes")) + lit(1L).cast(DecimalType(38, 0)))
            * col("sd")).cast("double")
          / nullif((dec(col("n_nodes")) * col("sd")).cast("double"),
            lit(0.0))).as("degree_gini"))
  }

  /** The DuckDB oracle for `degree_gini`: the shared edge CTEs, the
    * same (deg asc, id asc) rank window and exact rank-sum fold. */
  private[graft] def degreeGiniOracleSql: String =
    s"""WITH $knnEdgeCtes,
         indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg
                   FROM e GROUP BY 1),
         degs AS (SELECT n.id, COALESCE(i.deg, 0) AS deg
                  FROM nodes n LEFT JOIN indeg i ON i.dst = n.id),
         drank AS (SELECT id, deg,
                  ROW_NUMBER() OVER (ORDER BY deg ASC, id ASC) AS dr
                FROM degs),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(deg) AS BIGINT) AS sd,
                 SUM(CAST(dr AS HUGEINT) * CAST(deg AS HUGEINT)) AS srd
               FROM drank)
         SELECT n_nodes,
                floor(CAST(CAST(2 AS HUGEINT) * srd
                    - (CAST(n_nodes AS HUGEINT) + CAST(1 AS HUGEINT))
                      * CAST(sd AS HUGEINT) AS DOUBLE)
                  / NULLIF(CAST(CAST(n_nodes AS HUGEINT)
                      * CAST(sd AS HUGEINT) AS DOUBLE), 0.0)
                  * 1000000 + 0.5) / 1000000 AS degree_gini
         FROM m"""

  /** `local_clustering` — per-node DIRECTED local clustering
    * coefficient over the kNN graph: of the ≤ k·(k−1) ordered pairs
    * (a, b) of v's out-neighbors, what fraction is itself an edge
    * a→b. The per-doc version of `graph_reciprocity`'s corpus scalar:
    * a coefficient near 1 marks a closed clique (a near-dup pocket —
    * every neighbor also neighbors the others), near 0 a hub-spoke
    * region whose neighbors have nothing in common with each other.
    * Tenth consumer of the [[knnEdges3]] silver.
    *
    * Scale: out-degree is capped at 3, so each node contributes ≤ 6
    * ordered neighbor pairs — the candidate-pair frame is 6N rows
    * joined against the 3N edge set, LINEAR by construction (the
    * `khop_reachability` bounded-frontier argument; contrast the
    * unbounded-degree `clustering_coeff` on the co-purchase graph,
    * which needs the hub-cap dial). Portability: pure integer counts
    * until one fenced division on the r6 grid.
    */
  def localClustering(s: SparkSession, d: String): DataFrame = {
    val e = knnEdges3(s, d)
    val nbrPairs = e.select(col("src"), col("dst").as("a"))
      .join(e.select(col("src"), col("dst").as("b")), Seq("src"))
      .where(col("a") =!= col("b"))
    val closed = nbrPairs
      .join(e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .groupBy(col("src")).agg(count(lit(1)).as("linked"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
    nodes
      .join(outdeg, col("doc_id") === outdeg("src"), "left")
      .drop(outdeg("src"))
      .join(closed, col("doc_id") === closed("src"), "left")
      .drop(closed("src"))
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("linked"), lit(0L)).as("linked"))
      .select(col("doc_id"), col("out_deg"), col("linked"),
        r6(col("linked").cast("double")
          / nullif((col("out_deg") * (col("out_deg") - lit(1L)))
            .cast("double"), lit(0.0))).as("clustering"))
      .orderBy("doc_id")
  }

  /** The DuckDB oracle for `local_clustering`: shared kNN edges, the
    * ordered neighbor-pair frame, one closure join, one fenced
    * division. */
  private[graft] def localClusteringOracleSql: String =
    s"""WITH $knnEdgeCtes,
         od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
                FROM e GROUP BY 1),
         np AS (SELECT x.src, x.dst AS a, y.dst AS b
                FROM e x JOIN e y ON y.src = x.src AND x.dst <> y.dst),
         cl AS (SELECT np.src, CAST(COUNT(*) AS BIGINT) AS linked
                FROM np JOIN e ON e.src = np.a AND e.dst = np.b
                GROUP BY 1)
         SELECT n.id AS doc_id,
                COALESCE(od.out_deg, 0) AS out_deg,
                COALESCE(cl.linked, 0) AS linked,
                floor(CAST(COALESCE(cl.linked, 0) AS DOUBLE)
                  / NULLIF(CAST(COALESCE(od.out_deg, 0)
                      * (COALESCE(od.out_deg, 0) - 1) AS DOUBLE), 0.0)
                  * 1000000 + 0.5) / 1000000 AS clustering
         FROM nodes n
         LEFT JOIN od ON od.src = n.id
         LEFT JOIN cl ON cl.src = n.id
         ORDER BY doc_id"""

  /** `edge_jaccard` — per-EDGE neighborhood overlap (embeddedness)
    * on the kNN graph: for each directed edge (src, dst), the
    * Jaccard of the two endpoints' out-neighbor sets — the edge-level
    * refinement of [[localClustering]]'s per-node coefficient. An
    * edge with high overlap is INSIDE a dense pocket (its endpoints
    * agree on who else is near — the strong-tie signal link
    * prediction and near-dup clustering both rank by); overlap 0
    * marks a bridge between regions. Eleventh consumer of the
    * [[knnEdges3]] silver.
    *
    * Scale: out-degree ≤ 3 bounds the common-neighbor probe at 9
    * candidate rows per edge — linear by construction, the
    * `khop_reachability` argument (contrast `jaccard_neighbors` on
    * the unbounded-degree co-purchase graph, which needs the hub
    * cap). Portability: integer counts, one fenced division.
    */
  def edgeJaccard(s: SparkSession, d: String): DataFrame = {
    val e = knnEdges3(s, d)
    val base = e.select(col("src"), col("dst"))
    val an = e.select(col("src").as("js"), col("dst").as("x"))
    val bn = e.select(col("src").as("jd"), col("dst").as("y"))
    val cmn = base
      .join(an, col("src") === col("js"))
      .join(bn, col("dst") === col("jd") && col("x") === col("y"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("common"))
    val od = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    base
      .join(cmn, Seq("src", "dst"), "left")
      .join(od.select(col("src").as("k1"), col("dg").as("dg_s")),
        col("src") === col("k1"), "left")
      .join(od.select(col("src").as("k2"), col("dg").as("dg_d")),
        col("dst") === col("k2"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("common"), lit(0L)).as("common"),
        (coalesce(col("dg_s"), lit(0L)) + coalesce(col("dg_d"), lit(0L))
          - coalesce(col("common"), lit(0L))).as("union_ct"))
      .select(col("src"), col("dst"), col("common"), col("union_ct"),
        r6(col("common").cast("double")
          / nullif(col("union_ct").cast("double"), lit(0.0)))
          .as("jaccard"))
      .orderBy("src", "dst")
  }

  /** The DuckDB oracle for `edge_jaccard`: shared kNN edges, the
    * bounded common-neighbor join, degree lookups, one fenced
    * division. */
  private[graft] def edgeJaccardOracleSql: String =
    s"""WITH $knnEdgeCtes,
         od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg
                FROM e GROUP BY 1),
         cmn AS (SELECT x.src, x.dst, CAST(COUNT(*) AS BIGINT) AS common
                 FROM e x
                 JOIN e a ON a.src = x.src
                 JOIN e b ON b.src = x.dst AND b.dst = a.dst
                 GROUP BY 1, 2)
         SELECT x.src, x.dst,
                COALESCE(c.common, 0) AS common,
                COALESCE(os.dg, 0) + COALESCE(odd.dg, 0)
                  - COALESCE(c.common, 0) AS union_ct,
                floor(CAST(COALESCE(c.common, 0) AS DOUBLE)
                  / NULLIF(CAST(COALESCE(os.dg, 0) + COALESCE(odd.dg, 0)
                      - COALESCE(c.common, 0) AS DOUBLE), 0.0)
                  * 1000000 + 0.5) / 1000000 AS jaccard
         FROM e x
         LEFT JOIN cmn c ON c.src = x.src AND c.dst = x.dst
         LEFT JOIN od os ON os.src = x.src
         LEFT JOIN od odd ON odd.src = x.dst
         ORDER BY x.src, x.dst"""

  /** How many leading dimensions the truncated-search rung keeps. */
  private[graft] val truncDim = 16

  /** `ann_recall_trunc` — recall@10 of TRUNCATED-dimension search:
    * rank the corpus by cosine over only the first [[truncDim]] of
    * the 64 dims (the Matryoshka-representation serving trick —
    * Kusupati et al. 2022 — and the oldest ANN dial there is: drop
    * dims, not candidates) and score the overlap against the full-
    * dim exact top-10. This completes the recall ladder's missing
    * rung: IVF/PQ/1-bit shrink the CANDIDATE set or the CODES;
    * truncation shrinks the GEOMETRY, costing 4× less dot-product
    * work and bytes with zero training. On isotropic fixtures the
    * leading dims carry no privileged mass, so measured recall here
    * is the PESSIMISTIC floor — MRL-trained embeddings would only
    * beat it. Both rankings are deterministic brute-force scans
    * (r6-gridded scores, vec_id tie-break) ⇒ the row hash-gates at
    * every sf, like `ann_recall_ivf` and unlike any trained rung.
    * Scale shape: two broadcast-probe corpus scans + one per-probe
    * bounded rank each — the `similarity_topk` plan twice.
    */
  def annRecallTrunc(s: SparkSession, d: String): DataFrame = {
    val exact = similarityTopk(s, d).select(col("probe_id"), col("vec_id"))
    val et = Tables.embeddings(s, d)
      .withColumn("emb16", slice(col("embedding"), 1, truncDim))
      .withColumn("norm16",
        sqrt(VectorExprs.dot(s, col("emb16"), col("emb16"))))
    val probes = et.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("p2"), col("emb16").as("probe_emb"),
        col("norm16").as("probe_norm"))
    val w = Window.partitionBy("p2")
      .orderBy(col("score").desc, col("vec_id").asc)
    val trunc = et.join(broadcast(probes), col("vec_id") =!= col("p2"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("emb16"))
          / (col("probe_norm") * col("norm16"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("p2"), col("vec_id").as("v2"))
    exact.join(trunc, col("p2") === col("probe_id")
        && col("v2") === col("vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("v2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("probe_id"), col("k"), col("hits"),
        r6(col("hits").cast("double") / col("k").cast("double"))
          .as("recall"))
      .orderBy("probe_id")
  }

  /** The DuckDB oracle for `ann_recall_trunc`: exact top-10 vs the
    * first-[[truncDim]]-dims ranking, both replayed brute-force.
    */
  private[graft] def annRecallTruncOracleSql: String =
    s"""WITH ex AS (
           SELECT probe_id, vec_id FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", embDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", embDim)})
                       * sqrt(${dotSql("embedding", "embedding", embDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank <= 10)),
         tr AS (SELECT probe_id AS p2, vec_id AS v2 FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", truncDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", truncDim)})
                       * sqrt(${dotSql("embedding", "embedding", truncDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank <= 10))
         SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
                floor(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                    * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS recall
         FROM ex LEFT JOIN tr ON p2 = ex.probe_id AND v2 = ex.vec_id
         GROUP BY 1 ORDER BY 1"""

  /** `embedding_drift` — per-label centroid drift between the train
    * and holdout split buckets (the doc-level multiplicative-hash
    * split applied to vec_id): 1 − cos(centroid_train,
    * centroid_holdout) plus both member counts — the snapshot-drift
    * check an embedding-store refresh runs before swapping indexes
    * (a label whose two halves disagree means the encoder or the
    * corpus moved). Centroids ride the 2⁻²⁰ fixed-point grid
    * ([[lloydStep]]'s order-free integer sums), so the row
    * hash-gates; isotropic fixtures make real drift ≈ tiny, which is
    * exactly the clean-baseline reading the check exists to confirm.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val split = Tables.embeddings(s, d)
      .withColumn("is_train",
        ((col("vec_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10) < 8)
    val sums = split
      .select(col("is_train"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("is_train"), col("pos"))
      .agg(sum(floor(col("v") * grid + 0.5).cast("long")).as("qs"),
        count(lit(1)).as("cnt"))
      .groupBy(col("label"), col("is_train"))
      .agg(max(col("cnt")).as("n_vecs"), expr(
        """transform(array_sort(collect_list(struct(pos, qs, cnt))),
             x -> CAST(CAST(x.qs AS DOUBLE) / (x.cnt * 1048576.0)
                       AS FLOAT))""")
        .as("centroid"))
    val tr = sums.where(col("is_train"))
      .select(col("label"), col("n_vecs").as("n_train"),
        col("centroid").as("c_tr"))
    val ho = sums.where(!col("is_train"))
      .select(col("label"), col("n_vecs").as("n_holdout"),
        col("centroid").as("c_ho"))
    tr.join(ho, Seq("label"))
      .select(col("label"), col("n_train"), col("n_holdout"),
        r6(lit(1.0) - VectorExprs.dot(s, col("c_tr"), col("c_ho"))
          / (sqrt(VectorExprs.dot(s, col("c_tr"), col("c_tr")))
            * sqrt(VectorExprs.dot(s, col("c_ho"), col("c_ho")))))
          .as("drift"))
      .orderBy("label")
  }

  /** The DuckDB oracle for `embedding_drift`: split-bucket hash,
    * fixed-point per-dim sums, REAL-cast centroids, exact cosine.
    */
  private[graft] def embeddingDriftOracleSql: String =
    s"""WITH sp AS (SELECT vec_id, label, embedding,
                ((vec_id % 1000000007) * 2654435761 % 1000000007) % 10 < 8
                  AS is_train
              FROM embeddings),
         t AS (SELECT label, is_train, p.pos,
                CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1048576.0
                    + 0.5) AS BIGINT) AS qv
              FROM sp CROSS JOIN
                (SELECT unnest(range(1, ${embDim + 1})) AS pos) p),
         m AS (SELECT label, is_train, pos,
                CAST(CAST(SUM(qv) AS DOUBLE)
                  / (COUNT(*) * 1048576.0) AS REAL) AS c,
                COUNT(*) AS cnt
              FROM t GROUP BY 1, 2, 3),
         cen AS (SELECT label, is_train, CAST(MAX(cnt) AS BIGINT) AS n_vecs,
                  list(c ORDER BY pos) AS centroid
                 FROM m GROUP BY 1, 2),
         tr AS (SELECT label, n_vecs AS n_train, centroid AS ctr
                FROM cen WHERE is_train),
         ho AS (SELECT label, n_vecs AS n_holdout, centroid AS cho
                FROM cen WHERE NOT is_train)
         SELECT tr.label, tr.n_train, ho.n_holdout,
                floor((1.0 - ${dotSql("tr.ctr", "ho.cho", embDim)}
                  / (sqrt(${dotSql("tr.ctr", "tr.ctr", embDim)})
                     * sqrt(${dotSql("ho.cho", "ho.cho", embDim)})))
                  * 1000000 + 0.5) / 1000000 AS drift
         FROM tr JOIN ho ON ho.label = tr.label
         ORDER BY tr.label"""

  /** The DuckDB oracle for `ann_recall_pq`: the exact top-10 CTE
    * left-joined against the PQ-retrain oracle, per-probe overlap.
    */
  private[graft] def annRecallPqOracleSql: String =
    s"""WITH ex AS (
           SELECT probe_id, vec_id FROM (
             WITH probes AS (SELECT vec_id AS probe_id,
                      embedding AS probe_emb
                    FROM embeddings WHERE vec_id < $nProbes),
             pairs AS (SELECT probe_id, vec_id,
                  ${dotSql("probe_emb", "embedding", embDim)}
                    / (sqrt(${dotSql("probe_emb", "probe_emb", embDim)})
                       * sqrt(${dotSql("embedding", "embedding", embDim)}))
                    AS score
               FROM embeddings, probes WHERE vec_id <> probe_id),
             ranked AS (SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY floor(score * 1000000 + 0.5) / 1000000 DESC,
                      vec_id ASC) AS rank
                  FROM pairs)
             SELECT probe_id, vec_id FROM ranked WHERE rank <= 10)),
         pq AS (SELECT probe_id AS p2, vec_id AS v2
                FROM ($topkPqOracleSql))
         SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
                floor(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END)
                    * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS recall
         FROM ex LEFT JOIN pq ON p2 = ex.probe_id AND v2 = ex.vec_id
         GROUP BY 1 ORDER BY 1"""

  /** `isotropy_centered` — [[embeddingIsotropy]] AFTER removing the
    * corpus mean vector (the first step of Mu & Viswanath 2018's
    * "all-but-the-top" postprocess): center every embedding on the
    * per-dimension mean, renormalize, and measure the mean pairwise
    * cosine of the RESULT — still exactly, still O(n·d), via the
    * same ‖Σu‖² − Σ‖u‖² identity. Reading the pair (raw ≫ 0,
    * centered ≈ 0) confirms the anisotropy is the common-mean cone
    * the postprocess removes; centered staying high means real
    * cluster structure, not an offset — the diagnostic that decides
    * whether to ship the correction.
    *
    * Portability: the mean rides the label_centroids 2⁻²⁰ grid
    * (exact integer sums, one division); each centered norm folds
    * 1e-12-quantized squared terms (order-free longs), and the unit
    * components re-quantize to the 2²⁰ grid before the per-dim
    * sums. Three aggregates, one broadcast of 64 means — still no
    * pair stream.
    */
  def isotropyCentered(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val coords = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
    val means = coords.groupBy(col("dim"))
      .agg((sum(floor(col("vd") * grid + 0.5).cast("long")).cast("double")
        / (count(lit(1)) * grid)).as("m"))
    val centered = coords.join(broadcast(means), Seq("dim"))
      .withColumn("w", col("vd") - col("m"))
    val norms = centered.groupBy(col("vec_id"))
      .agg(sum(floor(col("w") * col("w") * lit(1.0e12) + lit(0.5))
        .cast("long")).as("n2q"))
      .select(col("vec_id"),
        sqrt(col("n2q").cast("double") / lit(1.0e12)).as("wnorm"))
    val q = centered.join(norms, Seq("vec_id"))
      .select(col("dim"),
        floor(col("w") / col("wnorm") * lit(grid) + lit(0.5))
          .cast("long").as("q"))
    val perDim = q.groupBy(col("dim"))
      .agg(sum(col("q")).as("sd"), sum(col("q") * col("q")).as("qq"))
    val nRow = Tables.embeddings(s, d).agg(count(lit(1)).as("n"))
    perDim
      .agg(sum(col("sd").cast("decimal(38,0)")
          * col("sd").cast("decimal(38,0)")).as("s2"),
        sum(col("qq")).as("qsum"))
      .crossJoin(broadcast(nRow))
      .select(col("n"),
        r6((col("s2") - col("qsum").cast("decimal(38,0)")).cast("double")
          / (col("n") * (col("n") - lit(1L))).cast("double")
          / lit(1099511627776.0)).as("centered_mpc"))
  }

  /** `cluster_purity` — per-cluster label PURITY over the shared
    * seed-codebook keep-1 assignment (the [[similarityIvf]] /
    * [[diversitySample]] partition of the corpus): for every
    * cluster, its size, majority label, and majority share. The
    * unsupervised-vs-labeled cross-check of the embedding space —
    * [[silhouetteScore]] asks "do the LABELS form tight clusters";
    * purity asks the converse, "do the CLUSTERS recover the labels"
    * — low-purity cells localize exactly where the geometry and the
    * annotation disagree (the standard external clustering metric,
    * Manning et al. IR §16.3). Majority ties break to the smaller
    * label — total order, deterministic.
    *
    * Scale shape: the assignment is the broadcast-codebook corpus
    * scan every IVF row already pays; the fold is one
    * (cent_id, label) aggregate and a window over |cents|·|labels|
    * rows. Purity over a TRAINED codebook = swap
    * [[seedCentroids]] for the Lloyd output — assignment contract
    * identical.
    */
  def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val counts = assignToCentroids(s, e, seedCentroids(e), keep = 1)
      .groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("cent_id")
      .orderBy(col("cnt").desc, col("label").asc)
    counts
      .withColumn("n_vecs", sum(col("cnt")).over(Window.partitionBy("cent_id")))
      .withColumn("r", row_number().over(w))
      .where(col("r") === 1)
      .select(col("cent_id"), col("n_vecs"), col("label").as("top_label"),
        col("cnt").as("top_n"),
        r6(col("cnt").cast("double") / col("n_vecs").cast("double"))
          .as("purity"))
      .orderBy("cent_id")
  }

  /** The shared seed-codebook + keep-1 assignment CTE chain
    * (base → cents → sims → ranked_c → corpus(vec_id, label,
    * cent_id)) — the DuckDB twin of [[seedCentroids]] +
    * [[assignToCentroids]] keep-1, referenced by BOTH the
    * `cluster_purity` and `clustering_ari` oracles so the two
    * replays cannot drift (the `lshPlaneVal` shared-definition
    * posture applied to a CTE fragment).
    */
  private def seedAssignCorpusCtes: String =
    s"""base AS (SELECT vec_id, label, embedding,
                  sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         for x in embedding], 'sum')) AS norm
                FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb,
                          norm AS cent_norm
                   FROM base WHERE vec_id % $ivfStride = 0),
         sims AS (SELECT b.vec_id, b.label, c.cent_id,
                  list_aggregate([CAST(b.embedding[i] AS DOUBLE)
                       * CAST(c.cent_emb[i] AS DOUBLE)
                       for i in range(1, len(b.embedding) + 1)], 'sum')
                    / (b.norm * c.cent_norm) AS cent_sim
                  FROM base b CROSS JOIN cents c),
         ranked_c AS (SELECT vec_id, label, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cent_sim DESC, cent_id ASC) AS r FROM sims),
         corpus AS (SELECT vec_id, label, cent_id FROM ranked_c WHERE r = 1)"""

  /** The DuckDB oracle for `cluster_purity` — the shared seed
    * codebook + keep-1 assignment CTEs (constants from the shared
    * named vals), then the majority fold.
    */
  private[graft] def clusterPurityOracleSql: String =
    s"""WITH $seedAssignCorpusCtes,
         counts AS (SELECT cent_id, label, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM corpus GROUP BY 1, 2),
         g AS (SELECT *,
                 CAST(SUM(cnt) OVER (PARTITION BY cent_id) AS BIGINT)
                   AS n_vecs,
                 ROW_NUMBER() OVER (PARTITION BY cent_id
                   ORDER BY cnt DESC, label ASC) AS r
               FROM counts)
         SELECT cent_id, n_vecs, label AS top_label, cnt AS top_n,
                floor(CAST(cnt AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                  * 1000000 + 0.5) / 1000000 AS purity
         FROM g WHERE r = 1 ORDER BY cent_id"""

  /** `clustering_ari` — the Adjusted Rand Index between the seed-
    * codebook Lloyd assignment and the stored labels (Hubert &
    * Arabie 1985): the chance-corrected agreement scalar
    * `cluster_purity`'s per-cell majority table cannot give (purity
    * rewards shattering — n singleton cells score 1.0; ARI charges
    * for it). ARI is pure pair counting off the contingency table:
    * with I = Σ C(n_ij,2), A = Σ C(a_i,2), B = Σ C(b_j,2), C =
    * C(n,2), ARI = 2(C·I − A·B) / (C·(A+B) − 2AB) — every term an
    * EXACT integer (C(x,2) = x(x−1) div 2 is always whole; products
    * ride DECIMAL(38,0) — C·I reaches ~2.5e35 at a billion vectors,
    * inside both engines' 128-bit range), so the single fenced
    * division is the only float op and the row hash-gates.
    * Scale shape: one broadcast-codebook assignment scan (the
    * `cluster_purity` plan) + one contingency aggregate (≤ cells ×
    * labels rows) + three tiny folds cross-joined — no pair
    * materialization anywhere despite the pairwise definition.
    */
  def clusteringAri(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val assigned = assignToCentroids(s, e, seedCentroids(e), keep = 1)
      .select(col("cent_id"), col("label"))
    val cont = assigned.groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).as("nij"))
    val tot = assigned.agg(count(lit(1)).as("n_vecs"))
      .select(col("n_vecs"),
        expr("n_vecs * (n_vecs - 1) div 2").as("c_n"))
    val isum = cont.agg(sum(expr("nij * (nij - 1) div 2")).as("i_sum"))
    val asum = cont.groupBy(col("cent_id")).agg(sum(col("nij")).as("ai"))
      .agg(count(lit(1)).as("n_cells"),
        sum(expr("ai * (ai - 1) div 2")).as("a_sum"))
    val bsum = cont.groupBy(col("label")).agg(sum(col("nij")).as("bj"))
      .agg(count(lit(1)).as("n_labels"),
        sum(expr("bj * (bj - 1) div 2")).as("b_sum"))
    tot.crossJoin(isum).crossJoin(asum).crossJoin(bsum)
      .select(col("n_vecs"), col("n_cells"), col("n_labels"),
        r6((lit(2L).cast(DecimalType(38, 0))
          * (dec(col("c_n")) * dec(col("i_sum"))
            - dec(col("a_sum")) * dec(col("b_sum")))).cast("double")
          / nullif((dec(col("c_n"))
            * (dec(col("a_sum")) + dec(col("b_sum")))
            - lit(2L).cast(DecimalType(38, 0))
              * dec(col("a_sum")) * dec(col("b_sum"))).cast("double"),
            lit(0.0))).as("ari"))
  }

  /** The DuckDB oracle for `clustering_ari` — the shared assignment
    * chain, then the exact pair-count folds in HUGEINT.
    */
  private[graft] def clusteringAriOracleSql: String =
    s"""WITH $seedAssignCorpusCtes,
         cont AS (SELECT cent_id, label, CAST(COUNT(*) AS BIGINT) AS nij
                  FROM corpus GROUP BY 1, 2),
         i AS (SELECT CAST(SUM(CAST(nij AS HUGEINT) * (nij - 1) // 2)
                 AS HUGEINT) AS i_sum FROM cont),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                 CAST(SUM(CAST(ai AS HUGEINT) * (ai - 1) // 2)
                   AS HUGEINT) AS a_sum
               FROM (SELECT cent_id, CAST(SUM(nij) AS BIGINT) AS ai
                     FROM cont GROUP BY 1)),
         b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
                 CAST(SUM(CAST(bj AS HUGEINT) * (bj - 1) // 2)
                   AS HUGEINT) AS b_sum
               FROM (SELECT label, CAST(SUM(nij) AS BIGINT) AS bj
                     FROM cont GROUP BY 1)),
         t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(CAST(COUNT(*) AS HUGEINT) * (COUNT(*) - 1) // 2
                   AS HUGEINT) AS c_n FROM corpus)
         SELECT n_vecs, n_cells, n_labels,
                floor(CAST(2 * (c_n * i_sum - a_sum * b_sum) AS DOUBLE)
                  / NULLIF(CAST(c_n * (a_sum + b_sum)
                    - 2 * a_sum * b_sum AS DOUBLE), 0.0)
                  * 1000000 + 0.5) / 1000000 AS ari
         FROM t, i, a, b"""

  /** `label_centroids` — per-class prototype vectors in long form
    * (label, dim, mean): the embedding-space health check a labeled
    * corpus gets before anyone trains on it — collapsed or duplicated
    * prototypes flag label noise, and the prototypes feed
    * nearest-centroid probes (`knn_label`'s cheap sibling). The mean
    * runs on the same 2⁻²⁰ fixed-point grid as the Lloyd trainer
    * ([[lloydStep]]): coordinates round to an integer grid BEFORE
    * summing, so the fold is order-free and the row hash-gates — a
    * plain avg() of floats would fold in partition order and no
    * external engine could reproduce its last bits. One (label, dim)
    * aggregation over posexploded coordinates; 16-byte rows on the
    * one exchange.
    */
  def labelCentroids(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("v").cast("double") * grid + 0.5).cast("long"))
          .cast("double") / (count(lit(1)) * grid)).as("m"))
      .orderBy("label", "dim")
  }

  /** `centroid_drift` — per-label L2 distance between the train and
    * val slices' class centroids (slices by the `train_val_split`
    * hash stream on vec_id, so membership is append-stable): the
    * "did my split shear a class" audit — a label whose two halves
    * sit apart in embedding space will train on one mode and
    * validate on another, the silent eval-inflation failure
    * `split_leakage` can't see because no CONTENT leaks.
    *
    * Portability: per-(label, split, dim) sums ride the Lloyd 2⁻²⁰
    * integer grid (order-free, exact; the [[labelCentroids]]
    * recipe), each per-dim squared difference of the two exact
    * rational means is one written IEEE expression quantized at
    * 10⁻⁹ into an order-free long sum (the `embed_outliers`
    * posture), and the final sqrt is fenced. Scale: one explode
    * aggregate to labels × splits × dims rows, one join, one fold.
    */
  def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val byDim = Tables.embeddings(s, d)
      .withColumn("split",
        when(((col("vec_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10) < 8, lit("train"))
          .otherwise(lit("val")))
      .select(col("label"), col("split"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("split"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * grid + 0.5).cast("long"))
          .as("sq"))
    val t = byDim.where(col("split") === "train")
      .select(col("label"), col("dim"), col("n").as("n_t"),
        col("sq").as("sq_t"))
    val v = byDim.where(col("split") === "val")
      .select(col("label"), col("dim"), col("n").as("n_v"),
        col("sq").as("sq_v"))
    t.join(v, Seq("label", "dim"))
      .withColumn("mt", col("sq_t").cast("double") / (col("n_t") * grid))
      .withColumn("mv", col("sq_v").cast("double") / (col("n_v") * grid))
      .withColumn("dq",
        floor((col("mt") - col("mv")) * (col("mt") - col("mv"))
          * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("label"))
      .agg(max(col("n_t")).as("n_train"), max(col("n_v")).as("n_val"),
        sum(col("dq")).as("dsum"))
      .select(col("label"), col("n_train"), col("n_val"),
        r6(sqrt(col("dsum").cast("double") / lit(1.0e9))).as("drift_l2"))
      .orderBy("label")
  }

  /** The DuckDB oracle for [[centroidDrift]] — dims and grid from
    * the shared named vals so the two sides cannot drift.
    */
  private[graft] def centroidDriftOracleSql: String =
    s"""WITH b AS (SELECT vec_id, label, embedding,
                CASE WHEN ((vec_id % 1000000007) * 2654435761
                    % 1000000007) % 10 < 8
                  THEN 'train' ELSE 'val' END AS split
              FROM embeddings),
         t AS (SELECT label, split, p.pos - 1 AS dim,
                 CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1048576.0
                     + 0.5) AS BIGINT) AS q
               FROM b CROSS JOIN
                 (SELECT unnest(range(1, ${embDim + 1})) AS pos) p),
         g AS (SELECT label, split, dim, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(q) AS BIGINT) AS sq
               FROM t GROUP BY 1, 2, 3),
         j AS (SELECT tr.label, tr.dim, tr.n AS n_t, tr.sq AS sq_t,
                 va.n AS n_v, va.sq AS sq_v
               FROM g tr JOIN g va ON tr.label = va.label
                 AND tr.dim = va.dim
                 AND tr.split = 'train' AND va.split = 'val'),
         dq AS (SELECT label, n_t, n_v,
                 CAST(floor((CAST(sq_t AS DOUBLE) / (n_t * 1048576.0)
                       - CAST(sq_v AS DOUBLE) / (n_v * 1048576.0))
                     * (CAST(sq_t AS DOUBLE) / (n_t * 1048576.0)
                       - CAST(sq_v AS DOUBLE) / (n_v * 1048576.0))
                     * 1000000000.0 + 0.5) AS BIGINT) AS dterm
                FROM j),
         a AS (SELECT label, CAST(MAX(n_t) AS BIGINT) AS n_train,
                 CAST(MAX(n_v) AS BIGINT) AS n_val,
                 CAST(SUM(dterm) AS BIGINT) AS dsum
               FROM dq GROUP BY 1)
         SELECT label, n_train, n_val,
                floor(sqrt(CAST(dsum AS DOUBLE) / 1000000000.0)
                  * 1000000.0 + 0.5) / 1000000.0 AS drift_l2
         FROM a ORDER BY label"""

  /** `embed_outliers` — the 3 vectors FARTHEST from their own
    * label's centroid, per label: the mislabeled-data detector a
    * labeled corpus runs right after [[labelCentroids]] — a point
    * sitting far from its class prototype is either labeled wrong,
    * an encoder failure, or genuinely hard, and all three go to
    * review before training. (Confident-learning pipelines rank by
    * exactly this statistic; the centroid form is its
    * embedding-space instance.)
    *
    * Portability: centroids come from the same 2⁻²⁰ fixed-point
    * grid as the Lloyd trainer (order-free integer sums, one exact
    * division), each squared-residual term (v−m)² is one written
    * IEEE expression quantized at 10⁻⁹ into an order-free 64-bit
    * per-vector sum, and ranking runs on the INTEGER sum (vec_id
    * tie-break) — so the row hash-gates end to end.
    *
    * Scale shape: one posexplode feeds both the centroid aggregate
    * and the residual join (centroid table is |labels|·dim rows —
    * broadcast at any corpus size); per-vector fold is one
    * (label, vec_id)-keyed aggregation of 16-byte rows; the
    * per-label top-3 rides the bounded `graft_topk` aggregate
    * (O(k) state, no per-label sort — the `diversity_sample`
    * posture).
    */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val coords = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
    val cents = coords.groupBy(col("label"), col("dim"))
      .agg((sum(floor(col("vd") * grid + 0.5).cast("long"))
        .cast("double") / (count(lit(1)) * grid)).as("m"))
    coords.join(broadcast(cents), Seq("label", "dim"))
      .withColumn("term_q",
        floor((col("vd") - col("m")) * (col("vd") - col("m"))
          * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(col("term_q")).as("d2q"))
      .groupBy(col("label"))
      // d2q < 2^53 round-trips the double score exactly; topk keeps
      // (score desc, id asc) = (farthest first, vec_id tie-break)
      .agg(graft.functions.TopKAgg.topk(s,
        col("d2q").cast("double"), col("vec_id"), 3).as("tk"))
      .select(col("label"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("label"), (col("r") + 1).cast("int").as("rank"),
        col("e.vec_id").as("vec_id"),
        r6(col("e.score") / lit(1.0e9)).as("dist2"))
      .orderBy("label", "rank")
  }

  /** The DuckDB oracle for `embed_outliers`: grid centroids, the
    * quantized residual fold, and the integer ranking replayed from
    * raw parquet (dim constant shared with the Spark side).
    */
  private[graft] def embedOutliersOracleSql: String =
    s"""WITH t AS (SELECT vec_id, label, p.pos - 1 AS dim,
                CAST(embedding[p.pos] AS DOUBLE) AS vd,
                CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1048576.0
                    + 0.5) AS BIGINT) AS q
              FROM embeddings
              CROSS JOIN (SELECT unnest(range(1, ${embDim + 1})) AS pos) p),
         c AS (SELECT label, dim,
                CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0) AS m
               FROM t GROUP BY 1, 2),
         terms AS (SELECT t.vec_id, t.label,
                CAST(floor((vd - m) * (vd - m) * 1000000000.0 + 0.5)
                  AS BIGINT) AS term_q
              FROM t JOIN c ON c.label = t.label AND c.dim = t.dim),
         d2 AS (SELECT label, vec_id, CAST(SUM(term_q) AS BIGINT) AS d2q
                FROM terms GROUP BY 1, 2),
         rk AS (SELECT label, vec_id, d2q,
                CAST(ROW_NUMBER() OVER (PARTITION BY label
                  ORDER BY d2q DESC, vec_id ASC) AS INTEGER) AS rank
                FROM d2)
         SELECT label, rank, vec_id,
                floor((CAST(d2q AS DOUBLE) / 1000000000.0) * 1000000 + 0.5)
                  / 1000000 AS dist2
         FROM rk WHERE rank <= 3 ORDER BY label, rank"""

  /** `silhouette_score` — simplified (centroid) silhouette per
    * label: s(i) = (b−a)/max(a,b) with a = squared distance to the
    * own-label centroid and b = the nearest OTHER centroid — the
    * cluster-quality verdict (are these labels actually separated in
    * embedding space?) that closes the clustering diagnostics next
    * to [[centroidDrift]] (stability) and [[embedOutliers]]
    * (mislabeled points). The full Rousseeuw silhouette is O(n²)
    * pairwise; the centroid form is the one that scales, and at
    * 100 TB it is the only choice — same reduction discipline as
    * the Lloyd assignment pass itself.
    *
    * Portability: centroids on the 2⁻²⁰ Lloyd grid, per-dim residual
    * terms 1e-9-quantized into order-free longs, so a and b are
    * EXACT integers and min/max/compare are integer ops; per-row s
    * quantizes at 1e-6 before the order-free sum, one fenced mean at
    * the end. Scale: one posexplode pass, the 640-row centroid frame
    * broadcasts, one (vec × label) aggregate, one label reduction.
    */
  def silhouetteScore(s: SparkSession, d: String): DataFrame = {
    val grid = (1L << 20).toDouble
    val coords = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
    val cents = coords.groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(floor(col("vd") * grid + 0.5).cast("long"))
        .cast("double") / (count(lit(1)) * grid)).as("m"))
    val d2 = coords.join(broadcast(cents), Seq("dim"))
      .withColumn("term_q",
        floor((col("vd") - col("m")) * (col("vd") - col("m"))
          * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(col("term_q")).as("d2q"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("clabel") === col("label"), col("d2q"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("d2q"))).as("b"))
      .withColumn("s_q",
        floor((col("b") - col("a")).cast("double")
          / nullif(greatest(col("a"), col("b")).cast("double"), lit(0.0))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("s_q")).as("n_scored"),
        sum(when(col("s_q") < 0L, 1L).otherwise(0L)).as("n_negative"),
        sum(col("s_q")).as("sum_sq"))
      .select(col("label"), col("n_vecs"), col("n_scored"),
        col("n_negative"),
        r6(col("sum_sq").cast("double") / lit(1000000.0)
          / col("n_scored").cast("double")).as("mean_silhouette"))
      .orderBy("label")
  }

  /** The DuckDB oracle for `silhouette_score` — grid centroids and
    * the quantized a/b fold replayed from raw parquet. */
  private[graft] def silhouetteOracleSql: String =
    s"""WITH t AS (SELECT vec_id, label, p.pos - 1 AS dim,
                CAST(embedding[p.pos] AS DOUBLE) AS vd,
                CAST(floor(CAST(embedding[p.pos] AS DOUBLE) * 1048576.0
                    + 0.5) AS BIGINT) AS q
              FROM embeddings
              CROSS JOIN (SELECT unnest(range(1, ${embDim + 1})) AS pos) p),
         c AS (SELECT label AS clabel, dim,
                CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1048576.0) AS m
               FROM t GROUP BY 1, 2),
         d2 AS (SELECT t.vec_id, t.label, c.clabel,
                CAST(SUM(CAST(floor((vd - m) * (vd - m) * 1000000000.0
                  + 0.5) AS BIGINT)) AS BIGINT) AS d2q
              FROM t JOIN c ON c.dim = t.dim GROUP BY 1, 2, 3),
         ab AS (SELECT vec_id, label,
                MIN(CASE WHEN clabel = label THEN d2q END) AS a,
                MIN(CASE WHEN clabel <> label THEN d2q END) AS b
              FROM d2 GROUP BY 1, 2),
         sq AS (SELECT label,
                CAST(floor(CAST(b - a AS DOUBLE)
                  / NULLIF(CAST(greatest(a, b) AS DOUBLE), 0.0)
                  * 1000000.0 + 0.5) AS BIGINT) AS s_q
              FROM ab)
         SELECT label, COUNT(*) AS n_vecs,
                COUNT(s_q) AS n_scored,
                CAST(SUM(CASE WHEN s_q < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_negative,
                floor(CAST(SUM(s_q) AS DOUBLE) / 1000000.0
                  / CAST(COUNT(s_q) AS DOUBLE)
                  * 1000000 + 0.5) / 1000000 AS mean_silhouette
         FROM sq GROUP BY 1 ORDER BY 1"""

  /** `cluster_top_terms` — the 5 most DISTINCTIVE tokens per
    * embedding-cluster label, scored by label-tf / corpus-df: the
    * "what is this cluster about" readout every semantic-clustering
    * review runs (per-label relevance over raw counts — a pure count
    * ranking returns the corpus head for every label). The tf/df
    * ratio is the rational core of tf-idf with the log dropped —
    * same ranking on a single corpus, zero transcendental to fence.
    *
    * Portability: tf and df are integers, the score is one fenced
    * division, rank order (score desc, token asc) is total. Scale
    * shape: one token explode feeding BOTH counters (df via a
    * (doc, token) dedup, tf via a doc-keyed label join — AQE
    * broadcasts the label map at test scale and shuffles it when the
    * corpus outgrows that), a vocab-keyed join for the ratio, and a
    * per-label top-5 window over |labels|·|vocab| scored rows —
    * never the corpus.
    */
  def clusterTopTerms(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("label"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val dfTab = toks.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
    val tfTab = toks.join(labels, Seq("doc_id"))
      .groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("term_freq"))
    val w = Window.partitionBy("label")
      .orderBy(col("score").desc, col("token").asc)
    tfTab.join(dfTab, Seq("token"))
      .withColumn("score",
        r6(col("term_freq").cast("double") / col("doc_freq")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("label"), col("rank"), col("token"),
        col("term_freq"), col("doc_freq"), col("score"))
      .orderBy("label", "rank")
  }

  /** `embed_norm_stats` — per-label L2-norm distribution of the
    * embedding space: count, mean, min, max of vector norms. The
    * first corpus-health check an embedding pipeline runs — a label
    * whose norm band collapses (dead encoder) or drifts (unnormalized
    * ingest batch) shows here before any similarity metric moves.
    *
    * Portability: each norm is sqrt of the ascending-index exact dot
    * (the repo-wide cosine recipe), fenced to the 6-dp grid BEFORE
    * aggregation; the mean sums those grid values in DECIMAL(18,6)
    * (exact, order-free) with one fenced division, min/max compare
    * identical doubles. One scan, one |labels|-row aggregate.
    */
  def embedNormStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
      .withColumn("nr", r6(col("norm")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("nr").cast(DecimalType(18, 6)))
          .cast(DecimalType(24, 6)).as("s1"),
        min(col("nr")).as("min_norm"),
        max(col("nr")).as("max_norm"))
      .select(col("label"), col("n"),
        r6(col("s1").cast("double") / col("n")).as("mean_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy("label")
  }

  /** `score_auc` — embedding-quality AUC: how well cosine similarity
    * to a probe vector separates its OWN label from the rest (the
    * Mann–Whitney/AUC of "same-label detection by similarity" — the
    * single number an embedding-model eval reports before anything
    * ships). Computed rank-based with AVERAGE ranks for ties, in
    * PURE INTEGERS to the last step: 2·avgrank = 2·minrank+ties−1
    * per row, so AUC = (Σ2avgrank_pos − n⁺(n⁺+1)) / (2·n⁺·n⁻) needs
    * exactly ONE division of exact-integer doubles — no fence beyond
    * the score grid, fully hash-gateable.
    *
    * Ranks come from the VALUE GRID, never a per-row window: scores
    * are r6-gridded at birth, so one aggregate per distinct score
    * cell (size t, positives tp) plus a prefix window over the
    * bounded cell table gives every cell's min-rank, and the per-row
    * identity 2·rk + ties − 1 = 2·cum_before + t + 1 folds the
    * positive rank-sum as Σ tp·(2·cum_before + t + 1) — the
    * `mann_whitney`/`spearman_corr` posture. The first cut ranked
    * per-row through an unpartitioned rank() window (single-task
    * sort over |corpus| rows — the shape PlanShapeSpec's
    * global-window lint now rejects); this form's corpus-sized work
    * is the cell aggregate alone.
    */
  def scoreAuc(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"), col("label").as("probe_label"))
    val scored = e.where(col("vec_id") =!= 0)
      .join(broadcast(probe), lit(true))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
      .withColumn("pos",
        (col("label") === col("probe_label")).cast("long"))
    val cells = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("t"), sum(col("pos")).as("tp"))
    // grid-bounded window: one row per DISTINCT r6 score cell
    val run = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum(col("t")).over(run))
      .agg(
        sum(col("tp")).as("n_pos"),
        sum(col("t") - col("tp")).as("n_neg"),
        sum(col("tp") * (lit(2L) * (col("cum") - col("t"))
          + col("t") + 1L)).as("r2"))
      .select(col("n_pos"), col("n_neg"),
        r6((col("r2").cast("double")
            - col("n_pos").cast("double") * (col("n_pos").cast("double") + 1))
          / (lit(2.0) * col("n_pos").cast("double")
            * col("n_neg").cast("double"))).as("auc"))
  }

  /** `calibration_curve` — the reliability diagram for
    * [[scoreAuc]]'s similarity score: cosine-to-probe bucketed into
    * ten fixed-width bins on [−1, 1], with each bin's observed
    * same-label rate. AUC says the score RANKS well; calibration
    * says whether a given score VALUE means what a threshold-picker
    * assumes — the pair of plots every model eval shows side by
    * side. Entirely rational: fixed bin edges (width 0.2, bin =
    * ⌊(score+1)·5⌋ clamped — integer arithmetic on the gridded
    * score), integer counts, one fenced division per bin.
    */
  def calibrationCurve(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val probe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"), col("label").as("probe_label"))
    e.where(col("vec_id") =!= 0)
      .join(broadcast(probe), lit(true))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
      .withColumn("bin",
        least(greatest(floor((col("score") + 1.0) * 5.0).cast("int"),
          lit(0)), lit(9)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("probe_label"), 1L).otherwise(0L))
          .as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("n_pos").cast("double") / col("n")).as("pos_rate"))
      .orderBy("bin")
  }

  /** `dedup_embed_blocked` — the 100 TB shape of `dedup_embed`.
    * Candidate pairs come from shared random-hyperplane buckets
    * (ids-only shuffle), then candidates get the *exact* cosine
    * re-score at the same ≥ 0.4 threshold — so every emitted pair is
    * a true pair; the approximation is only recall (pairs whose
    * bucket never collides). Measured vs the exact `dedup_embed` at
    * sf0.01: see BASELINE.md. Oracle-gated since round 6
    * ([[dedupEmbedBlockedOracleSql]] — constant planes make the
    * output deterministic, same as `similarity_lsh`).
    */
  def dedupEmbedBlocked(s: SparkSession, d: String): DataFrame =
    dedupEmbedBlockedFrom(s, Tables.embeddings(s, d))

  /** Blocked embedding dedup over an externally supplied
    * (vec_id, embedding) frame — lets quality tests feed a synthetic
    * high-similarity slice, and is the silver-table entry point.
    */
  def dedupEmbedBlockedFrom(s: SparkSession, embs: DataFrame): DataFrame =
    // k=4 planes, L=8 tables — the measured sweet spot AT TEST SF:
    // recall at sf0.01 k=4 → 0.66, k=5 → 0.52, k=6 → 0.44, wall flat
    // across all three (distinct + re-attach dominates there). On the
    // slice that matters (true near-dups at cos ≥ 0.9) recall is
    // ≳ 0.95 — AnnQualitySpec measures it on a perturbed-copy corpus.
    dedupEmbedBlockedFrom(s, embs, kPlanes = lshKPlanes)

  /** [[dedupEmbedBlockedFrom]] with the hyperplane depth exposed: the
    * bucket count per table is 2^kPlanes, FIXED — so candidate volume
    * scales as L·n²/2^kPlanes and a constant k quietly re-quadratizes
    * at scale (ScaleSweep measured 6.6× wall for 4× vectors at k=4).
    * The 100 TB rule is k ≈ log₂(n/targetOccupancy): bucket occupancy
    * — and with it pair mass per vector — stays constant. For true
    * near-dups (cos ≥ 0.9, collision p ≈ 0.92/plane) deeper tables
    * are nearly free in recall: p^k per table compounds to ≥ 0.99
    * corpus recall at L=8 even at k=7.
    */
  def dedupEmbedBlockedFrom(s: SparkSession, embs: DataFrame,
      kPlanes: Int): DataFrame = {
    val tableKeys = lshTableKeys(s, nTables = lshTables, kPlanes = kPlanes, dim = embDim)
    val base = withNorm(s, embs, "embedding", "norm")
    val keyed = base
      .withColumn("tk", explode(tableKeys))
      .select(col("vec_id"), col("tk.t").as("t"), col("tk.b").as("b"))
    // candidate pairs from bucket member lists (the dedup_near
    // posting-list pattern): one shuffle on (table, bucket) + map-side
    // C(k,2) explode, ids-only through the distinct — no self-join.
    // Pairs travel packed as one long (engine.Pairs), so the dedup
    // distinct hashes a single 8-byte key; vec_ids past 31 bits
    // auto-fall-back to the struct pair form. Bucket population
    // ~ n/2^kPlanes per table; with real skew (many identical
    // vectors), cap/salt hot buckets first (engine.Skew.heavyHitters).
    val wide = graft.engine.Pairs.needsWideForm(embs, "vec_id")
    val lists = keyed.groupBy(col("t"), col("b"))
      .agg(collect_list(col("vec_id")).as("vs"))
      .where(size(col("vs")) > 1)
    val candIds = graft.engine.Pairs.distinctPairs(s, lists, "vs", wide)
    candIds
      .join(base.select(col("vec_id").as("i"), col("embedding").as("emb_i"),
        col("norm").as("norm_i")), Seq("i"))
      .join(base.select(col("vec_id").as("j"), col("embedding").as("emb_j"),
        col("norm").as("norm_j")), Seq("j"))
      .withColumn("cos_sim", r6(
        VectorExprs.dot(s, col("emb_i"), col("emb_j"))
          / (col("norm_i") * col("norm_j"))))
      .where(col("cos_sim") >= 0.4)
      .select("i", "j", "cos_sim")
      .orderBy("i", "j")
  }

  /** [[dedupEmbedBlocked]] with the hyperplane depth sized from the
    * corpus (k = max(4, ⌈log₂(n/64)⌉) → ~64 vectors per bucket
    * regardless of n): the scale-adaptive entry point that keeps
    * candidate volume LINEAR in corpus size where the fixed-k form
    * re-quadratizes (see [[dedupEmbedBlockedFrom]]). Costs one count
    * job up front — the same construction-time-probe posture as
    * `engine.Pairs.needsWideForm`, and negligible against the pair
    * pipeline it right-sizes.
    */
  def dedupEmbedBlockedScaled(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    val k = math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / 64)))
    dedupEmbedBlockedFrom(s, Tables.embeddings(s, d), kPlanes = k)
  }

  /** E21 `multimodal_profile` — one profiled row set joining text
    * (documents) and vector (embeddings) modalities on doc_id=vec_id,
    * aggregated per (lang, label): the "join everything about a
    * sample" pass of a training-data pipeline.
    */
  def multimodalProfile(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val embs = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    docs.join(embs, col("doc_id") === col("vec_id"))
      .groupBy(col("lang"), col("label"))
      .agg(
        count(lit(1)).as("n"),
        r6(avg(col("n_chars"))).as("avg_chars"),
        r6(avg(col("norm"))).as("avg_norm"))
      .orderBy("lang", "label")
  }

  /** `multimodal_binary` — opaque-binary column plumbing: treat the
    * payload as bytes (here text encoded to UTF-8 standing in for
    * image/audio blobs), carry typed metadata alongside, and compute
    * byte-level features (length, header hex) relationally.
    */
  def multimodalBinary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        substring(hex(col("payload")), 1, 16).as("header_hex"),
        col("lang"), col("source"))
      .orderBy("doc_id")

  /** Shared byte-feature columns of the multimodal queries: the
    * native codegen'd [[graft.functions.ByteStats]] scalar over the
    * payload plus the stub "decode" dims derived from the byte length
    * (`fakeDecode` arithmetic expressed declaratively — the dims ARE
    * a function of n_bytes, which is what makes the stub
    * oracle-expressible). Mean rounding rides the engine-wide `r6`
    * contract so the DuckDB oracle can mirror it bit-for-bit.
    */
  private[operators] def withByteFeatures(s: SparkSession,
      docs: DataFrame): DataFrame =
    docs
      .withColumn("bs",
        graft.functions.ByteStats.byteStats(s, encode(col("text"), "UTF-8")))
      .withColumn("n_bytes", col("bs.n_bytes"))
      .withColumn("byte_mean",
        when(col("n_bytes") === 0, lit(0.0)).otherwise(
          r6(col("bs.byte_sum").cast("double") / col("n_bytes").cast("double"))))
      .withColumn("fake_width", greatest(lit(1), col("n_bytes") % 640))
      .withColumn("fake_height",
        greatest(lit(1), expr("CAST(n_bytes div 7 AS INT)") % 480))

  /** `multimodal_features` — decode/feature-extract pass over binary
    * payloads. The decode is a STUB (deterministic fake dims from the
    * byte length — this container ships no codec libs) but the
    * pipeline shape is real: binary column in, fixed feature schema
    * out, map-only, no shuffle — and because the stub arithmetic is
    * deterministic byte math it is oracle-gated against DuckDB rather
    * than rows-only-checked. Runs fully in whole-stage codegen via the
    * native `graft_byte_stats` expression (the earlier typed
    * `Dataset.map` deserialized every row).
    */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    withByteFeatures(s, Tables.documents(s, d))
      .select(col("doc_id"), col("n_bytes"), col("byte_mean"),
        col("fake_width"), col("fake_height"), lit(3).as("fake_channels"))
      .orderBy("doc_id")

  /** `multimodal_dedup` — exact binary dedup over the opaque payload
    * column: duplicate groups keyed by the payload's MD5 (md5 here
    * rather than the engine-native xxhash64 the text digests use,
    * because BOTH engines ship bit-identical md5 — the digest itself
    * is oracle-gateable, the `dedup_exact_digest` posture without the
    * no-oracle caveat). Per duplicate group: copies, byte size, the
    * keep-smallest-id representative, and the removable-byte total —
    * the storage-reclaim number an image/audio lake dedup reports.
    * Scale: only 16-byte digests shuffle, never payloads (at 100 TB
    * the payload column is the corpus; this plan never exchanges it).
    */
  def multimodalDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), md5(col("payload")).as("digest"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("n_bytes")).as("n_bytes"),
        min(col("doc_id")).as("keep_doc"))
      .where(col("n_copies") > 1)
      .select(col("digest"), col("n_copies"), col("n_bytes"),
        col("keep_doc"),
        ((col("n_copies") - 1L) * col("n_bytes")).as("reclaim_bytes"))
      .orderBy("digest")

  /** Bits in the perceptual-hash signature (60, not 64: the top
    * nibble stays clear so the signature lives in a non-negative
    * LONG on both engines — the PortableSimHash60 width posture).
    */
  private[graft] val phashBits = 60

  /** `multimodal_phash` — perceptual-hash NEAR-dup pairs over the
    * opaque binary payloads: the dHash recipe (gradient sign between
    * neighboring samples — the classic image fingerprint) applied to
    * [[phashBits]]+1 probe bytes at fixed fractional positions of
    * each payload, bit i = probe_i > probe_{i+1}; pairs within
    * Hamming ≤ 3 are near-duplicates. `multimodal_dedup` catches
    * byte-identical blobs only; a re-encoded / metadata-tweaked copy
    * changes the MD5 but barely moves the sampled gradient profile —
    * THIS row is the multimodal family's near-dup rung, completing
    * exact → near in the modality where it matters most (image lakes
    * are re-encode city). The "decode" is the stub convention
    * (deterministic byte arithmetic over the UTF-8 payload), so the
    * signature is an exact function of the bytes and the row
    * hash-gates — the real-codec swap changes only the probe source.
    *
    * Scale shape: signatures are one row-local compiled pass (61
    * fixed-position byte probes — no explode, payload never
    * shuffles); candidate pairs ride the 4×15-bit chunk pigeonhole
    * EXACT for Hamming ≤ 3 (the `dedup_simhash` blocking: ≤ 3
    * differing bits cannot touch all 4 chunks), so only 8-byte
    * (chunk, signature) keys exchange and the brute-force pair scan
    * the DuckDB oracle runs is never materialized in-engine.
    */
  def multimodalPhash(s: SparkSession, d: String): DataFrame = {
    // signatures ride the native compiled probe kernel
    // (functions.Phash60 — 61 array reads/row); the hex-extraction
    // declarative twin lives on as [[multimodalPhashSigsHex]],
    // spec-pinned equal, and the DuckDB oracle keeps that independent
    // formulation
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Phash60.phash60(s,
          encode(col("text"), "UTF-8")).as("sig"))
    val chunks = sigs
      .select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch"),
        expr("shiftright(sig, 15 * ch) & 32767").as("ck"))
    val cand = chunks.select(col("ch"), col("ck"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(chunks.select(col("ch"), col("ck"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("ch", "ck"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .where(col("hamming") <= 3L)
      .orderBy("doc_a", "doc_b")
  }

  /** The hex-extraction declarative formulation of the phash
    * signatures — the pre-kernel form kept as the in-repo
    * cross-implementation witness (spec-pinned byte-equal to the
    * compiled [[graft.functions.Phash60]] path at two sfs; the DuckDB
    * oracle replays this same hex arithmetic independently).
    */
  private[graft] def multimodalPhashSigsHex(s: SparkSession, d: String)
      : DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("hx", hex(encode(col("text"), "UTF-8")))
      .withColumn("n", octet_length(encode(col("text"), "UTF-8"))
        .cast("long"))
    def byteAt(p: String): String =
      s"CAST(conv(substring(hx, 2*($p)-1, 2), 16, 10) AS LONG)"
    def pos(i: Int): String = s"(($i * (n-1)) div $phashBits + 1)"
    val sigExpr = (0 until phashBits).map { i =>
      s"(CASE WHEN ${byteAt(pos(i))} > ${byteAt(pos(i + 1))} " +
        s"THEN ${1L << i}L ELSE 0L END)"
    }.mkString(" + ")
    base.select(col("doc_id"), expr(sigExpr).as("sig"))
  }

  /** The DuckDB oracle for `multimodal_phash`: signatures replayed
    * via hex-digit byte extraction (the multimodal gating convention)
    * and the pair cut BRUTE-FORCED over all C(n,2) pairs — an
    * independent witness that the 4-chunk pigeonhole blocking emits
    * the complete Hamming ≤ 3 pair set.
    */
  private[graft] def multimodalPhashOracleSql: String =
    s"""WITH b AS (
           SELECT doc_id, hex(encode(text)) AS hx,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n
           FROM documents),
         sig AS (
           SELECT doc_id,
             COALESCE(list_aggregate(list_transform(
               generate_series(0, ${phashBits - 1}), i ->
               CASE WHEN
                 (strpos('0123456789ABCDEF',
                    substr(hx, CAST(2*((i*(n-1))//$phashBits + 1)-1
                      AS INTEGER), 1))-1)*16
                 + (strpos('0123456789ABCDEF',
                    substr(hx, CAST(2*((i*(n-1))//$phashBits + 1)
                      AS INTEGER), 1))-1)
                 >
                 (strpos('0123456789ABCDEF',
                    substr(hx, CAST(2*(((i+1)*(n-1))//$phashBits + 1)-1
                      AS INTEGER), 1))-1)*16
                 + (strpos('0123456789ABCDEF',
                    substr(hx, CAST(2*(((i+1)*(n-1))//$phashBits + 1)
                      AS INTEGER), 1))-1)
               THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT)
               END), 'sum'), 0) AS sig
           FROM b)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY doc_a, doc_b"""

  /** Stubbed binary decoder: pretends the payload is an image whose
    * dims derive from the byte length. Deterministic so tests can pin
    * outputs.
    */
  private[graft] def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    (math.max(1, n % 640), math.max(1, (n / 7) % 480), 3)
  }

  /** `embed_gram` — the upper triangle of the corpus second-moment
    * matrix XᵀX (d=64 ⇒ 2080 cells), the one-pass statistic under
    * PCA, whitening, and data-aware LSH plane selection. Cross-engine
    * exactness follows the corr_matrix recipe adapted to float inputs:
    * each pairwise product (exact in double) is quantized to integral
    * NANO-units — `floor(p·10⁹ + 0.5)` — so every summand is an
    * integer-valued DECIMAL(38,0) and the sum is associative ⇒
    * shuffle-order-proof; DuckDB runs the identical op sequence and
    * hash-matches bit-for-bit. The 10⁻⁹ quantization biases each cell
    * by ≤ n·5·10⁻¹⁰ — four orders below the smallest covariance
    * eigenvalue here.
    *
    * Shape: ONE compiled aggregation pass (`functions.GramAgg`,
    * Array[Long] nano-unit state — the Shingle3 story applied to
    * moments: the declarative explode-2080-struct-cells-per-row twin
    * runs its nested `transform` lambdas interpreted and measured
    * 2.1 s vs ~0.4 s at sf0.1). State is ~17 KiB per partial,
    * independent of corpus size; exact long sums make the kernel
    * bit-identical to the decimal-summed explode form
    * ([[embedGramExploded]], GramKernelSpec-pinned), so the same
    * DuckDB oracle hash-gates both.
    */
  def embedGram(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .agg(graft.functions.GramAgg.gramAgg(s, col("embedding")).as("g"))
      .select(explode(col("g.cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        (col("c.v").cast("double") / 1e9).as("gram"))
      .orderBy("i", "j")

  // ---- product quantization (PQ) ----------------------------------

  private val pqSubs = 8    // subspaces
  private val pqSubDim = 8  // dims per subspace (8×8 = 64)
  private val pqK = 16      // centroids per subspace ⇒ 4-bit codes
  // 2⁻²⁰ fixed-point grid shared by every PQ quantization step: LUT
  // entries, Lloyd means, and the residual base terms all round to
  // this grid so partial sums are order-free longs
  private val pqGrid = (1L << 20).toDouble

  /** (vec_id, sub, subemb): the embedding split into [[pqSubs]]
    * contiguous subvectors — the row shape every PQ stage works on.
    */
  private def subspaceRows(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, ${pqSubs - 1}),
            t -> slice(embedding, t * $pqSubDim + 1, $pqSubDim))"""))
      .as(Seq("sub", "subemb")))

  /** Nearest centroid per (vec_id, sub) against a broadcast
    * per-subspace codebook — |x−c|² expanded to xx − 2·x·c + cc so
    * all three terms ride the compiled `graft_dot`; argmin via the
    * min-struct trick (no window shuffle), (dist, cent_id) ordering
    * makes ties deterministic. `keepSubemb` carries the (group-
    * constant) subvector through for the Lloyd update; the encode
    * path turns it off so the corpus-sized aggregation exchanges
    * (vec_id, sub, code) rows only — never embeddings.
    */
  private def pqAssign(s: SparkSession, rows: DataFrame,
      book: DataFrame, keepSubemb: Boolean): DataFrame = {
    val scored = rows
      .withColumn("xx", VectorExprs.dot(s, col("subemb"), col("subemb")))
      .join(broadcast(book), Seq("sub"))
      .withColumn("dist",
        col("xx") - VectorExprs.dot(s, col("subemb"), col("cent_emb")) * 2.0
          + col("cc"))
    val aggCols =
      if (keepSubemb) Seq(min(struct(col("dist"), col("cent_id"))).as("b"),
        first(col("subemb")).as("subemb"))
      else Seq(min(struct(col("dist"), col("cent_id"))).as("b"))
    val outCols = Seq(col("vec_id"), col("sub"),
      col("b.cent_id").as("cent_id")) ++
      (if (keepSubemb) Seq(col("subemb")) else Nil)
    scored.groupBy(col("vec_id"), col("sub"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(outCols: _*)
  }

  /** One per-subspace Lloyd round — the `lloydStep` recipe on
    * subvectors: members' elementwise mean per (sub, centroid) in
    * 2⁻²⁰ fixed point (order-free sums ⇒ bit-stable codebooks across
    * partitionings). Emptied centroids vanish; their members reassign
    * to survivors next pass.
    */
  private def pqLloyd(s: SparkSession, rows: DataFrame,
      book: DataFrame): DataFrame = {
    val grid = (1L << 20).toDouble
    val means = pqAssign(s, rows, book, keepSubemb = true)
      .select(col("sub"), col("cent_id"),
        posexplode(col("subemb")).as(Seq("pos", "v")))
      .groupBy("sub", "cent_id", "pos")
      .agg((sum(floor(col("v") * grid + 0.5).cast("long")).cast("double")
        / (count(lit(1)) * grid)).as("m"))
      .groupBy("sub", "cent_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, m)))," +
          " x -> CAST(x.m AS FLOAT))").as("cent_emb"))
    means.withColumn("cc",
      VectorExprs.dot(s, col("cent_emb"), col("cent_emb")))
  }

  /** Trained per-subspace PQ codebook: seed = subvectors of the
    * [[pqK]] lowest vec_ids, two Lloyd rounds, then centroids
    * renumbered 0..k−1 per subspace (codes must fit 4 bits for
    * packing). Codebook is pqSubs·pqK·pqSubDim floats — driver-small
    * at any corpus size.
    */
  private def pqCodebook(s: SparkSession, e: DataFrame): DataFrame = {
    val rows = subspaceRows(e)
    val seed = subspaceRows(e.where(col("vec_id") < pqK))
      .select(col("sub"), col("vec_id").as("cent_id"),
        col("subemb").as("cent_emb"))
      .withColumn("cc", VectorExprs.dot(s, col("cent_emb"), col("cent_emb")))
    val trained = (1 to 2).foldLeft(seed)((b, _) => pqLloyd(s, rows, b))
    trained.withColumn("code",
      (row_number().over(
        Window.partitionBy("sub").orderBy("cent_id")) - 1).cast("int"))
      .select("sub", "code", "cent_emb", "cc")
  }

  /** `pq_distortion` — per-subspace RECONSTRUCTION error of the
    * trained PQ codebook: mean ‖x_sub − ĉ(x)_sub‖² over the encoded
    * corpus. The quantization-quality datacard of the 64× rung —
    * recall ([[annRecallB1]]) and MRR (`ann_mrr`) measure end-to-end
    * retrieval, distortion localizes WHERE the codebook loses it (a
    * subspace whose MSE runs hot needs more centroids or a rotation;
    * Jégou et al. 2011 §IV tunes exactly this table). Distance
    * expands to xx − 2·x·c + cc so all three terms ride the compiled
    * dot; each residual quantizes at 1e-9 into order-free longs, one
    * fenced mean per subspace. The oracle re-trains the codebooks
    * (the [[topkPqOracleSql]] CTEs) and replays the fold.
    */
  def pqDistortion(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    // serve the codebook from the silver ANN index when one is bound
    // (the similarity_topk_pq routing): training is deterministic, so
    // the stored book IS the inline book (PqIndexSpec pins it) and the
    // distortion fold — the actual query — reads it instead of paying
    // the Lloyd rounds per call. Inline fallback when no index — OR
    // when the index has been APPENDED to: an appended index's book
    // is prefix-trained (appendAnnIndex never re-trains) while this
    // query's oracle re-trains on the full corpus, so serving it
    // would silently diverge. The serving rows (similarity_topk_pq /
    // _ivf_pq) keep accepting appended indexes — encode-against-
    // frozen-books is exactly their pinned contract.
    val book = annIndexDir(s, d, "codebook.parquet")
      .filterNot(annIndexAppended(s, _)) match {
      case Some(dir) => s.read.parquet(s"$dir/codebook.parquet")
      case None => pqCodebook(s, e)
    }
    // the encoded centroid is the distance argmin, so the encoded
    // distortion IS the min distance — no codes join (which would
    // re-run the training lineage a second time; measured 3.2 s vs
    // 0.9 s), one rows × broadcast(book) pass, min per (vec, sub).
    // floor is monotone, so min-of-quantized == quantized-of-min.
    subspaceRows(e)
      .join(broadcast(book.select(col("sub"), col("cent_emb"), col("cc"))),
        Seq("sub"))
      .withColumn("d2q", floor(
        (VectorExprs.dot(s, col("subemb"), col("subemb"))
          - lit(2.0) * VectorExprs.dot(s, col("subemb"), col("cent_emb"))
          + col("cc")) * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("d2q")).as("d2q"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2q")).as("sq"))
      .select(col("sub"), col("n_vecs"),
        r6(col("sq").cast("double") / lit(1.0e9)
          / col("n_vecs").cast("double")).as("mse"))
      .orderBy("sub")
  }

  /** The DuckDB oracle for `pq_distortion`: the shared PQ training
    * CTEs, then the same expanded-distance fold.
    */
  private[graft] def pqDistortionOracleSql: String =
    s"""WITH base AS (SELECT vec_id, embedding,
                  sqrt(${dotSql("embedding", "embedding", embDim)}) AS norm
                FROM embeddings),
         ${pqTrainCtes("base", "t")},
         q AS (SELECT r.sub, r.vec_id,
                 MIN(CAST(floor((${dotSql("r.subemb", "r.subemb", pqSubDim)}
                     - 2.0 * ${dotSql("r.subemb", "b.cent_emb", pqSubDim)}
                     + b.cc) * 1000000000.0 + 0.5) AS BIGINT)) AS d2q
               FROM subr_t r JOIN book_t b ON b.sub = r.sub
               GROUP BY 1, 2)
         SELECT CAST(sub AS INTEGER) AS sub,
                CAST(COUNT(*) AS BIGINT) AS n_vecs,
                floor(CAST(SUM(d2q) AS DOUBLE) / 1000000000.0
                    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)
                  / 1000000.0 AS mse
         FROM q GROUP BY 1 ORDER BY 1"""

  /** Session conf pointing the PQ inventory rows at a silver ANN
    * index BASE directory (`pipeline.CorpusSilver.writeAnnIndex`
    * writes one): when set, `similarity_topk_pq` and
    * `similarity_ivf_pq` skip inline codebook training and serve from
    * the stored index at `<base>/<corpus-dir-basename>` — the
    * write-once/serve-many production shape, and what the timed bench
    * path measures. Unset (default — Verify, the quality specs), the
    * queries train inline and are fully self-contained. An index
    * trained on one corpus must never serve another: the basename
    * keying is what lets one conf cover multiple scale factors, and
    * the corpus fingerprint written at build time (canonical corpus
    * path — `CorpusSilver.writeAnnIndex`) is what makes the contract
    * hold when two distinct corpora share a basename. Missing index,
    * missing fingerprint, or fingerprint mismatch for a corpus ⇒
    * inline fallback, never an error.
    */
  val AnnIndexConf = "spark.graft.ann.index"

  /** Fingerprint file binding a silver ANN index to its training
    * corpus (first line: canonical corpus path; second: row count at
    * build, diagnostic only). */
  val CorpusFingerprintFile = "corpus.fingerprint"

  /** Marker stamped by `CorpusSilver.appendAnnIndex`: the index's
    * codebooks are now PREFIX-trained relative to the corpus they
    * serve (appends encode against frozen books — correct for the
    * encode/serve rows, which PqIndexSpec pins append == one-shot
    * encode, but NOT for [[pqDistortion]], whose oracle re-trains on
    * the full corpus). `pq_distortion` refuses an appended index and
    * falls back to inline training; the serving rows keep accepting
    * it. */
  val AnnIndexAppendedMarker = "appended.marker"

  /** True when `dir` carries the [[AnnIndexAppendedMarker]] stamp —
    * driver-side metadata probe, no job. */
  private[graft] def annIndexAppended(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, AnnIndexAppendedMarker)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Resolve the per-corpus index dir under [[AnnIndexConf]], gated
    * on `marker` existing AND the stored corpus fingerprint matching
    * `d` (both driver-side metadata probes, no job). */
  private def annIndexDir(s: SparkSession, d: String,
      marker: String): Option[String] =
    servedSilverDir(s, d, s.conf.get(AnnIndexConf, ""), marker)

  /** The shared per-corpus silver-dir resolution ([[AnnIndexConf]],
    * [[KnnEdgesDirConf]] and the `_served` gate index all use it):
    * `<base>/<corpus dir basename>`, served only when `marker` exists
    * AND the stored corpus fingerprint matches `d`. Empty base,
    * missing marker/fingerprint or a mismatch ⇒ None (inline
    * fallback, never an error). */
  private def servedSilverDir(s: SparkSession, d: String,
      base: String, marker: String): Option[String] = {
    if (base.isEmpty) None
    else {
      val dir = new org.apache.hadoop.fs.Path(base,
        new java.io.File(d).getName)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val fp = new org.apache.hadoop.fs.Path(dir, CorpusFingerprintFile)
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, marker))
          || !fs.exists(fp)) None
      else {
        // an unreadable/corrupt fingerprint counts as a mismatch:
        // inline fallback is always corpus-correct, serving an
        // unverified index never is
        val storedCorpus =
          try {
            val in = fs.open(fp)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .nextOption().getOrElse("")
            finally in.close()
          } catch { case scala.util.control.NonFatal(_) => "" }
        if (storedCorpus == new java.io.File(d).getCanonicalPath)
          Some(dir.toString)
        else None
      }
    }
  }

  /** `similarity_topk_pq` — product-quantized ANN with asymmetric
    * distance (ADC) + exact re-rank: the 64× memory lever of the
    * quantization family (4-bit code per subspace ⇒ 4 B/vector vs
    * 256 B float — int8 is the 4× rung, PQ is the 64×). Oracle-gated
    * since round 6 ([[topkPqOracleSql]] — DuckDB re-trains the
    * codebooks, re-encodes the corpus, and replays the ADC +
    * exact-rerank tail bit-for-bit; the approximation lives in
    * recall, which AnnQualitySpec additionally floors against the
    * exact `similarity_topk`).
    *
    * Serving shape: corpus encodes ONCE to (vec_id, sub, code) rows
    * (8-byte-ish rows, never embeddings); each probe's 8×16
    * dot-product LUT materializes as 128 rows and BROADCASTS; the
    * approx score is a map-side join + 8-term sum per (probe, vec) —
    * LUT entries quantized to 2⁻²⁰ fixed point so the partial sums
    * are order-free longs and the candidate cut is reproducible.
    * Top-50 approx candidates per probe re-rank with the EXACT
    * cosine, so emitted scores are true similarities (the r6/oracle
    * formulation); only recall is approximate. At 100 TB the code
    * table is the only corpus-sized scan (4 B/vec), embeddings are
    * touched for ≤ 50 rows per probe.
    */
  def similarityTopkPq(s: SparkSession, d: String): DataFrame =
    annIndexDir(s, d, "codebook.parquet") match {
      case Some(dir) => graft.pipeline.CorpusSilver.similarityTopkPq(s, d, dir)
      case None =>
        val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
        val book = pqCodebook(s, e)
        val codes = pqEncode(s, e, book)
        pqServe(s, e, book, codes)
    }

  /** Encode a corpus against a trained codebook: one assignment pass
    * emitting (vec_id, sub, code) rows — never embeddings.
    */
  private[graft] def pqEncode(s: SparkSession, e: DataFrame,
      book: DataFrame): DataFrame =
    pqAssign(s, subspaceRows(e),
      book.select(col("sub"), col("code").as("cent_id"), col("cent_emb"),
        col("cc")),
      keepSubemb = false)
      .select(col("vec_id"), col("sub"), col("cent_id").as("code"))

  /** The ADC serving tail shared by the inline query, the silver
    * index, and the IVF-PQ composition: broadcast per-probe LUT,
    * fixed-point approx sums over the code rows, top-50 candidate
    * cut, exact cosine re-rank. `candPairs` (probe_id, vec_id)
    * restricts scoring to routed candidates (the IVF path); None
    * scores the full code table. When `candPairs` carries a `base_q`
    * column (the residual-encoded IVF path: base_q = ⌊q·c_list·2²⁰⌉,
    * the probe-×-coarse-centroid term of q·x̂ = q·c + q·r̂), it is
    * added to the LUT sum so the candidate cut ranks the full
    * reconstructed dot, not just the residual part.
    */
  private[graft] def pqServe(s: SparkSession, e: DataFrame,
      book: DataFrame, codes: DataFrame,
      candPairs: Option[DataFrame] = None): DataFrame = {
    val grid = pqGrid
    val lut = subspaceRows(e.where(col("vec_id") < nProbes))
      .join(broadcast(book), Seq("sub"))
      .select(col("vec_id").as("probe_id"), col("sub"), col("code"),
        floor(VectorExprs.dot(s, col("subemb"), col("cent_emb")) * grid
          + 0.5).cast("long").as("lutq"))
    val scored = candPairs match {
      case Some(pairs) => pairs
        .join(codes, Seq("vec_id"))
        .join(broadcast(lut), Seq("probe_id", "sub", "code"))
      case None => codes.join(broadcast(lut), Seq("sub", "code"))
        .where(col("vec_id") =!= col("probe_id"))
    }
    val hasBase = candPairs.exists(_.columns.contains("base_q"))
    // min, not first: keep=1 list assignment makes base_q unique per
    // (probe_id, vec_id) today, but the oracle aggregates with MIN —
    // a deterministic aggregate costs nothing and stays equal to the
    // oracle even if a hand-built lists table ever carries duplicates
    val approx =
      if (hasBase) (sum(col("lutq")) + min(col("base_q"))).as("approx_q")
      else sum(col("lutq")).as("approx_q")
    val cand = scored
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(approx)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("approx_q").desc, col("vec_id").asc)
    val top50 = cand
      .withColumn("crk", row_number().over(w))
      .where(col("crk") <= 50)
      .select("probe_id", "vec_id")
    val probes = e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("norm").as("probe_norm"))
    val exact = top50
      .join(e.select(col("vec_id"), col("embedding"), col("norm")),
        Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("score", r6(
        VectorExprs.dot(s, col("probe_emb"), col("embedding"))
          / (col("probe_norm") * col("norm"))))
    rankTopk(exact)
  }

  /** Trained PQ codebook over a (vec_id, embedding) frame — the
    * silver index writer's entry point to the private trainer. */
  private[graft] def pqTrain(s: SparkSession, e: DataFrame): DataFrame =
    pqCodebook(s, e)

  /** The trained coarse router shared by the IVF-PQ paths: the
    * `similarity_ivf_trained` codebook (seed + 2 Lloyd rounds). */
  private[graft] def coarseTrained(s: SparkSession, e: DataFrame): DataFrame =
    (1 to 2).foldLeft(seedCentroids(e)) {
      (cents, _) => lloydStep(s, e, cents)
    }

  /** Per-vector residuals against the coarse router: each vector's
    * keep=1 list assignment joined back to its (broadcast) centroid,
    * residual = x − c_list elementwise. The classical IVF-PQ
    * refinement: residual norms are a fraction of vector norms, so
    * the SAME 4-bit-per-subspace budget spends its 16 cells on a much
    * smaller cube — quantization error (and with it candidate-cut
    * inversions) drops accordingly. Emits (cent_id, vec_id,
    * embedding=residual); downstream PQ stages consume it unchanged
    * because they only ever read (vec_id, embedding).
    */
  private def residuals(s: SparkSession, e: DataFrame,
      coarse: DataFrame): DataFrame =
    assignToCentroids(s, e, coarse, keep = 1)
      .join(broadcast(coarse.select(col("cent_id"), col("cent_emb"))),
        Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"),
        zip_with(col("embedding"), col("cent_emb"),
          (x, c) => (x - c).cast("float")).as("embedding"))

  /** Probe routing with the residual base terms: each probe's
    * `nprobe` nearest lists, each carrying base_q = ⌊q·c_list·2²⁰⌉ —
    * the coarse-centroid half of the reconstructed dot
    * q·x̂ = q·c_list + q·r̂ that the ADC tail adds to its LUT sum.
    */
  private def probeRouting(s: SparkSession, e: DataFrame,
      coarse: DataFrame, nprobe: Int): DataFrame =
    assignToCentroids(s, e.where(col("vec_id") < nProbes), coarse, keep = nprobe)
      .join(broadcast(coarse.select(col("cent_id"), col("cent_emb"))),
        Seq("cent_id"))
      .select(col("cent_id"), col("vec_id").as("probe_id"),
        floor(VectorExprs.dot(s, col("embedding"), col("cent_emb")) * pqGrid
          + 0.5).cast("long").as("base_q"))

  /** `similarity_ivf_pq` — the production ANN composition (the
    * Faiss-IVFPQ shape, residual-encoded): coarse k-means lists route
    * each probe to its nprobe nearest inverted lists, PQ codes score
    * ONLY the vectors in those lists (broadcast LUT, fixed-point
    * sums), and the top-50 survivors re-rank with the exact cosine.
    * The two approximations multiply where they're cheap and cancel
    * where it matters: candidate recall comes from the coarse lists
    * (scan nprobe/k of the corpus), score fidelity from the exact
    * re-rank — the code scan in between touches 4 B/vector for just
    * the routed lists.
    *
    * The PQ codebook encodes RESIDUALS x − c_list (see [[residuals]])
    * — the classical refinement over raw-vector codes: the ADC score
    * becomes q·c_list (exact, rides the routing pass as `base_q`)
    * plus the LUT sum over residual centroids, so quantization error
    * applies only to the small residual term. nprobe=3: routing is
    * the recall ceiling of the whole composition (code fidelity can
    * only recover UP TO what the probed lists contain — measured
    * ceiling 0.68 at nprobe=2 on this corpus), so the dial that buys
    * recall is one more list per probe (+k/n corpus scanned), not
    * more code bits. Oracle-gated since round 6 ([[ivfPqOracleSql]]
    * — coarse Lloyd, residuals, residual-PQ training, routing, and
    * the ADC tail all replayed by DuckDB); AnnQualitySpec
    * additionally holds recall@10 ≥ 0.6 with exact re-ranked scores.
    */
  /** `similarity_topk_pq_served` / `similarity_ivf_pq_served` — the
    * STORED-INDEX serving paths as first-class oracle-gated inventory
    * rows. The plain rows train inline when [[AnnIndexConf]] is unset
    * (Verify's default), so until these twins existed the exact code
    * path Bench times (read codebook/codes/coarse/lists from the
    * silver index, serve) was only spec-pinned (PqIndexSpec), never
    * driver-gated. Each call builds the silver index ONCE per
    * (session, corpus) into a managed temp dir
    * (`CorpusSilver.writeAnnIndex` — memoized, removed on JVM exit)
    * and serves from it directly, without touching [[AnnIndexConf]];
    * deterministic training makes stored ≡ inline, so the SAME DuckDB
    * oracles gate both formulations.
    */
  def similarityTopkPqServed(s: SparkSession, d: String): DataFrame =
    graft.pipeline.CorpusSilver.similarityTopkPq(s, d,
      gateIndexDir(s, d, "codebook.parquet"))

  def similarityIvfPqServed(s: SparkSession, d: String): DataFrame =
    similarityIvfPqFromIndex(s, d, gateIndexDir(s, d, "coarse.parquet"))

  /** This session's gate-index dir for corpus `d`, through the same
    * marker + fingerprint gate as [[AnnIndexConf]] serving. A miss
    * fails loudly instead of silently gating the inline path twice. */
  private def gateIndexDir(s: SparkSession, d: String,
      marker: String): String = {
    val base = gateIndexBase(s, d)
    val dir = servedSilverDir(s, d, base, marker)
    require(dir.isDefined, s"gate index at $base did not resolve for $d")
    dir.get
  }

  /** One silver-index build per (session, canonical corpus) for the
    * `_served` gate rows; weak session keying and a shutdown-hook
    * cleanup for the temp tree. Kept apart from
    * [[graft.engine.SessionMemo]] on purpose: the entry owns a
    * directory on disk, and [[graft.engine.SessionMemo.invalidate]]
    * must not force a rebuild of the index.
    */
  private val gateIndexMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())

  private def gateIndexBase(s: SparkSession, d: String): String = {
    val per = gateIndexMemo.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    per.computeIfAbsent(new java.io.File(d).getCanonicalPath, _ => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_ann_gate").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))))
      graft.pipeline.CorpusSilver.writeAnnIndex(s, d,
        new java.io.File(base, new java.io.File(d).getName).getPath)
      base
    })
  }

  def similarityIvfPq(s: SparkSession, d: String): DataFrame =
    annIndexDir(s, d, "coarse.parquet") match {
      case Some(dir) => similarityIvfPqFromIndex(s, d, dir)
      case None =>
        val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
        val coarse = coarseTrained(s, e)
        val resid = residuals(s, e, coarse)
        val probeLists = probeRouting(s, e, coarse, nprobe = 3)
        // per-probe candidate pairs from shared lists: ids + base term
        val candPairs = resid.select(col("cent_id"), col("vec_id"))
          .join(broadcast(probeLists), Seq("cent_id"))
          .where(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("base_q"))
        // residual-PQ scoring restricted to candidates — shared ADC tail
        val book = pqCodebook(s, resid)
        pqServe(s, e, book, pqEncode(s, resid, book), Some(candPairs))
    }

  /** `similarity_ivf_pq` served from the silver index
    * (`CorpusSilver.writeAnnIndex`): coarse router, inverted lists,
    * residual codebook, and packed residual codes all READ — the only
    * per-query work is routing 5 probes against the broadcast coarse
    * codebook, the routed 4 B/vector code scan, and the exact top-50
    * re-rank. Bit-equal to the inline form (PqIndexSpec): training is
    * deterministic, so stored and inline codebooks are identical.
    */
  private[graft] def similarityIvfPqFromIndex(s: SparkSession, d: String,
      dir: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val coarse = s.read.parquet(s"$dir/coarse.parquet")
    val probeLists = probeRouting(s, e, coarse, nprobe = 3)
    val candPairs = s.read.parquet(s"$dir/lists.parquet")
      .join(broadcast(probeLists), Seq("cent_id"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("base_q"))
    pqServe(s, e, s.read.parquet(s"$dir/rbook.parquet"),
      unpackCodes(s.read.parquet(s"$dir/rcodes.parquet")),
      Some(candPairs))
  }

  /** Train and store the full IVF-PQ index for a corpus: coarse
    * router (`coarse.parquet`), inverted lists (`lists.parquet`),
    * residual PQ codebook (`rbook.parquet`) and packed per-vector
    * residual codes (`rcodes.parquet`). Each stage reads the
    * previously STORED artifact rather than its training lineage, so
    * the write pays each pass once. Driver-small artifacts (coarse
    * codebook, rbook) and two corpus-linear passes (assignment,
    * encode) — the write-once cost the serving path amortizes.
    */
  private[graft] def writeIvfPqIndex(s: SparkSession, d: String,
      dir: String): Unit = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    coarseTrained(s, e).write.mode("overwrite").parquet(s"$dir/coarse.parquet")
    val coarse = s.read.parquet(s"$dir/coarse.parquet")
    // the residual frame feeds the lists write, the codebook trainer
    // (seed + two Lloyd passes), AND the encode — six consumers of
    // the same corpus-wide assignment lineage. Persist it for the
    // duration of the write so the assignment pass runs once
    // (MEMORY_AND_DISK: an index build may exceed executor memory at
    // full corpus scale; spilling beats recomputing five times).
    val resid = residuals(s, e, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      resid.select("cent_id", "vec_id")
        .write.mode("overwrite").parquet(s"$dir/lists.parquet")
      pqCodebook(s, resid).write.mode("overwrite")
        .parquet(s"$dir/rbook.parquet")
      pqEncode(s, resid, s.read.parquet(s"$dir/rbook.parquet"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(CAST(code AS BIGINT), sub * 4)"))
          .as("pq_code"))
        .write.mode("overwrite").parquet(s"$dir/rcodes.parquet")
    } finally resid.unpersist()
  }

  /** Fold a batch of new vectors into a STORED IVF-PQ index without
    * re-training (the `KnnIncremental` posture on the ANN side):
    * assign the batch against the frozen coarse router, encode its
    * residuals against the frozen residual codebook, and append the
    * resulting list/code rows to `lists.parquet` / `rcodes.parquet`.
    * Serving ([[similarityIvfPqFromIndex]]) is unchanged — it reads
    * whole directories, and per-vector assignment/encoding against
    * frozen books is corpus-independent, so append-then-serve equals
    * encoding the grown corpus in one shot against the same books
    * (PqIndexSpec pins it). Batch-proportional: two batch-sized
    * broadcast-codebook passes, zero corpus reads. Offline batch
    * API — a replayed append duplicates rows (parquet `append`);
    * the replay-idempotent epoch layout is the edge silver's
    * ([[graft.operators.KnnIncremental]]), documented trade.
    */
  private[graft] def appendIvfPqIndex(s: SparkSession, dir: String,
      batch: DataFrame): Unit = {
    val b = withNorm(s,
      batch.select(col("vec_id"), col("embedding")), "embedding", "norm")
    val coarse = s.read.parquet(s"$dir/coarse.parquet")
    val resid = residuals(s, b, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      resid.select("cent_id", "vec_id")
        .write.mode("append").parquet(s"$dir/lists.parquet")
      pqEncode(s, resid, s.read.parquet(s"$dir/rbook.parquet"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(CAST(code AS BIGINT), sub * 4)"))
          .as("pq_code"))
        .write.mode("append").parquet(s"$dir/rcodes.parquet")
    } finally resid.unpersist()
  }

  /** [[appendIvfPqIndex]]'s sibling for the raw PQ index
    * (`CorpusSilver.writePqIndex`'s `codebook.parquet` +
    * `codes.parquet`): encode the batch against the frozen codebook,
    * append its packed codes. */
  private[graft] def appendPqIndex(s: SparkSession, dir: String,
      batch: DataFrame): Unit =
    pqEncode(s, batch.select(col("vec_id"), col("embedding")),
      s.read.parquet(s"$dir/codebook.parquet"))
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(CAST(code AS BIGINT), sub * 4)"))
        .as("pq_code"))
      .write.mode("append").parquet(s"$dir/codes.parquet")

  /** Serve the PQ top-k from a silver index: `book` as stored by
    * `CorpusSilver.writePqIndex`, `packed` as (vec_id, pq_code) with
    * the 8 4-bit codes packed little-nibble-first. Unpacking is a
    * row-local explode of shift/mask — the corpus-sized input stays
    * 12 bytes per vector.
    */
  private[graft] def similarityTopkPqFromIndex(s: SparkSession, d: String,
      book: DataFrame, packed: DataFrame): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    pqServe(s, e, book, unpackCodes(packed))
  }

  /** Unpack (vec_id, pq_code) little-nibble-first into the (vec_id,
    * sub, code) rows the ADC tail consumes — a row-local explode of
    * shift/mask; the corpus-sized input stays 12 bytes per vector. */
  private def unpackCodes(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, ${pqSubs - 1}),
            t -> CAST(shiftright(pq_code, t * 4) & 15 AS INT))"""))
      .as(Seq("sub", "code")))

  /** [[embedGram]]'s declarative twin: explode d(d+1)/2 quantized
    * product cells per row, sum as integral DECIMAL(38,0) (associative
    * ⇒ order-proof). Kept as the oracle-visible formulation the
    * compiled kernel is equality-pinned against — this is lexically
    * the DuckDB oracle query, translated.
    */
  private[graft] def embedGramExploded(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(embedding) - 1),
             i -> transform(sequence(i, size(embedding) - 1),
               j -> named_struct(
                 'i', i, 'j', j,
                 'p', CAST(floor(CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE)
                                 * 1000000000 + 0.5) AS DECIMAL(38,0))))))"""))
        .as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg((sum(col("c.p")).cast("double") / 1e9).as("gram"))
      .orderBy("i", "j")

  /** Fit + pin: the top-2 components rounded onto the 10⁻⁶ grid,
    * plus the folded center terms μ·v (driver doubles). This pinned
    * literal set is what BOTH the Spark projection and the generated
    * DuckDB oracle consume — rounding makes every literal a short
    * decimal whose parse is the identical correctly-rounded double in
    * either engine, which is what turns the projection from a
    * no-oracle row into a hash-gated one. The fit itself is
    * bit-deterministic (exact-long moment pass + cyclic Jacobi —
    * `engine.Pca`), so re-fitting at oracle-generation time yields
    * the same literals the query used.
    */
  private def pcaPinned(s: SparkSession,
      d: String): (Array[Array[Double]], Array[Double]) = {
    val model = graft.engine.Pca.fit(s, Tables.embeddings(s, d),
      "embedding", k = 2)
    val vr = model.components.map(_.map(v => math.floor(v * 1e6 + 0.5) / 1e6))
    val centers = vr.map(v =>
      model.mean.zip(v).map { case (a, b) => a * b }.sum)
    (vr, centers)
  }

  /** `embed_pca_project` — dimensionality reduction for the vector
    * corpus: project every embedding onto the top-2 principal
    * components of the corpus covariance. The eigendecomposition runs
    * on the driver (`engine.Pca`: one O(d²) exact-moment pass +
    * Jacobi — PcaSpec holds residuals, orthonormality,
    * projected-variance = λ, and refit determinism); the projection
    * itself is a row-local dot against the PINNED component literals
    * ([[pcaPinned]]) — map-only over the corpus, the standard recipe
    * for whitening / data-aware LSH planes / 2-D corpus maps.
    *
    * Oracle-gated: DuckDB can't run Jacobi, but it CAN verify the
    * projection given the pinned components — [[pcaOracleSql]] embeds
    * them as literals and recomputes every row's (pc1, pc2) from the
    * raw parquet with the identical IEEE op sequence (ascending-index
    * fold, literal center subtraction, r6), so the row hashes match
    * bit-for-bit. The oracle SQL is corpus-dependent by construction
    * and is generated at Verify time (`SparkEntry.dynamicOracleSql`).
    */
  def embedPcaProject(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val (vr, centers) = pcaPinned(s, d)
    def proj(m: Int): Column = {
      // (x − μ)·v = x·v − μ·v: the mean term folded into one constant
      val dotV = aggregate(
        zip_with(col("embedding"), typedLit(vr(m).toSeq),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, z) => acc + z)
      r6(dotV - lit(centers(m)))
    }
    e.select(col("vec_id"), proj(0).as("pc1"), proj(1).as("pc2"))
      .orderBy("vec_id")
  }

  /** The DuckDB oracle for `embed_pca_project`, generated against a
    * concrete corpus: pinned components and center terms as literals
    * (`Double.toString` — shortest round-trip form; both engines'
    * strtod parse it to the same double), the dot as the ascending
    * list_aggregate sum the hash-matched `similarity_topk` oracle
    * already proves equivalent to Spark's fold, then the engine-wide
    * r6 rounding.
    */
  private[graft] def pcaOracleSql(s: SparkSession, d: String): String = {
    val (vr, centers) = pcaPinned(s, d)
    def lst(v: Array[Double]) = v.mkString("[", ", ", "]")
    s"""WITH comps AS (SELECT ${lst(vr(0))} AS v1, ${lst(vr(1))} AS v2)
       SELECT vec_id,
              floor((list_aggregate([CAST(embedding[i] AS DOUBLE) * v1[i]
                      for i in range(1, len(embedding) + 1)], 'sum')
                - (${centers(0)})) * 1000000 + 0.5) / 1000000 AS pc1,
              floor((list_aggregate([CAST(embedding[i] AS DOUBLE) * v2[i]
                      for i in range(1, len(embedding) + 1)], 'sum')
                - (${centers(1)})) * 1000000 + 0.5) / 1000000 AS pc2
       FROM embeddings, comps ORDER BY vec_id"""
  }

  /** `bitext_mining` — margin-based parallel-pair mining (Artetxe &
    * Schwenk, ACL'19 — the WikiMatrix/CCMatrix recipe): treat labels
    * 0–4 as the source language and 5–9 as the target, and for each
    * source vector pick the target whose MARGIN — cosine divided by
    * the mean of both sides' 4-NN cosines — is highest. Raw cosine
    * retrieves hubs (vectors near everything); the margin denominator
    * cancels hubness, which is why production bitext pipelines rank
    * by margin, not similarity.
    *
    * Determinism: cosines quantize to integer micro-units (q6) at
    * birth, so the 4-NN sums sx/sy are exact integers and the margin
    * is ONE fenced division 8·q/(sx+sy) — both engines rank on
    * bit-identical doubles. Source side bounded to vec_id < 32 (the
    * `contrastive_pairs` probe convention); sy averages over the
    * same probe set, documented.
    *
    * Scale: probes broadcast over one corpus scan (the
    * `similarity_topk` shape); both rank windows partition on
    * bounded keys. At 100 TB the pair stream swaps for the ANN
    * candidate lists (IVF-PQ rows above) with the margin tail
    * unchanged.
    */
  def bitextMining(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, Tables.embeddings(s, d), "embedding", "norm")
    val src = e.where(col("label") < 5 && col("vec_id") < 32)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"),
        col("norm").as("src_norm"))
    val tgt = e.where(col("label") >= 5)
      .select(col("vec_id").as("tgt_id"), col("embedding"), col("norm"))
    val pairs = tgt.join(broadcast(src), lit(true))
      .withColumn("q", floor(
        VectorExprs.dot(s, col("src_emb"), col("embedding"))
          / (col("src_norm") * col("norm")) * lit(1000000.0) + lit(0.5))
        .cast("long"))
      .select(col("src_id"), col("tgt_id"), col("q"))
    val wx = Window.partitionBy("src_id")
      .orderBy(col("q").desc, col("tgt_id").asc)
    val wy = Window.partitionBy("tgt_id")
      .orderBy(col("q").desc, col("src_id").asc)
    val ranked = pairs
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
    val sx = ranked.where(col("rx") <= 4)
      .groupBy(col("src_id")).agg(sum(col("q")).as("sx"))
    val sy = ranked.where(col("ry") <= 4)
      .groupBy(col("tgt_id")).agg(sum(col("q")).as("sy"))
    val wm = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id").asc)
    ranked
      .join(broadcast(sx), Seq("src_id"))
      .join(broadcast(sy), Seq("tgt_id"))
      .withColumn("margin", r6(lit(8.0) * col("q").cast("double")
        / nullif((col("sx") + col("sy")).cast("double"), lit(0.0))))
      .withColumn("rm", row_number().over(wm))
      .where(col("rm") === 1)
      .select(col("src_id"), col("tgt_id"),
        r6(col("q").cast("double") / lit(1000000.0)).as("cosine"),
        col("margin"),
        (col("margin") > lit(1.0)).as("mined"))
      .orderBy("src_id")
  }
}

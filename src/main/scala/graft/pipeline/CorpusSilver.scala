package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Bucketing, Tables}
import graft.operators.LlmTextOps

/** Opt-in silver-table materialization for the corpus-dedup pipeline.
  *
  * `dedup_near`, `dedup_survivors` and `corpus_filter` share the
  * shingle → posting-list → pair subplan; as independent bench queries
  * each recomputes it (measured: an in-session persist() is *slower*
  * at test scale — cache-fill races + serialization, see the note in
  * `LlmTextOps.dedupMinhash`). At 100 TB the honest shape is to write
  * the pair set ONCE as a silver table and let every downstream
  * consumer anti-join against the parquet — one shingle pass total,
  * pruned scans for everyone after. This module is that pattern as an
  * explicit, caller-invoked step; it deliberately is NOT wired into
  * Bench, whose per-query numbers must keep measuring full plans.
  */
object CorpusSilver {

  /** Compute and write the exact 3-shingle Jaccard near-dup pair table
    * (the `dedup_near` result: i, j, jaccard) as a silver parquet.
    */
  def writeNearDupPairs(s: SparkSession, sfDir: String, path: String): Unit =
    // the sort-free pair set: dedup_near's global orderBy is
    // presentation-only, and paying its range exchange before a write
    // whose consumers never read in order is pure waste at scale
    LlmTextOps.dedupNearPairs(s, sfDir).write.mode("overwrite").parquet(path)

  /** `dedup_survivors` reading the materialized pair table instead of
    * recomputing the shingle pipeline.
    */
  def survivors(s: SparkSession, sfDir: String, pairsPath: String): DataFrame =
    LlmTextOps.survivorsFromPairs(
      Tables.documents(s, sfDir), s.read.parquet(pairsPath))

  /** Connected-components labeling read from the materialized pair
    * table (the `dedup_components` consumer path): the fixpoint loop
    * runs over the silver parquet, so relabeling after a threshold or
    * policy change never re-runs the shingle pipeline.
    * `reliableCheckpoint` is the cluster setting — per-round snapshots
    * go to the configured checkpoint dir instead of executor-local
    * blocks, so the multi-hour relabel survives executor loss (see
    * `LlmTextOps.componentsFromPairs`).
    */
  def components(s: SparkSession, sfDir: String, pairsPath: String,
      reliableCheckpoint: Boolean = false): DataFrame =
    LlmTextOps.componentsFromPairs(s,
      s.read.parquet(pairsPath).select("i", "j"),
      reliableCheckpoint = reliableCheckpoint)

  /** The full `corpus_filter` capstone served from the silver pair
    * table: one shingle pass ever (at `writeNearDupPairs` time), then
    * the selection composes quality + language + embeddings against
    * the parquet — the shape every downstream consumer runs at 100 TB.
    */
  def corpusFilter(s: SparkSession, sfDir: String,
      pairsPath: String): DataFrame =
    LlmTextOps.corpusFilterFromSurvivors(s, sfDir,
      survivors(s, sfDir, pairsPath))

  /** Write the per-document MinHash signature table (doc_id, 32-long
    * sig) — the other write-once silver projection: relabeling
    * thresholds, re-banding, or any new LSH consumer reads 32 longs
    * per doc instead of re-shingling the corpus.
    */
  def writeSignatures(s: SparkSession, sfDir: String, path: String): Unit =
    LlmTextOps.minhashSignatures(s, sfDir)
      .write.mode("overwrite").parquet(path)

  /** `dedup_minhash` served from the materialized signature table. */
  def dedupMinhash(s: SparkSession, sigsPath: String): DataFrame = {
    val sigs = s.read.parquet(sigsPath)
    LlmTextOps.dedupMinhashFromSignatures(s, sigs,
      wide = graft.engine.Pairs.needsWideForm(sigs, "doc_id"))
  }

  /** Write the packed int8 code table (vec_id, scale, code BINARY) —
    * the quantized embedding store: quantize ONCE, then every search
    * scans 1-byte-per-dimension codes (a 64-d vector is 64 bytes vs
    * 256 for floats — array<float> codes would NOT shrink anything,
    * parquet stores them at full float width). `scale` rides along so
    * consumers can dequantize or compare across corpora.
    */
  def writeQuantizedCodes(s: SparkSession, sfDir: String, path: String): Unit =
    graft.operators.LlmVectorOps
      .quantized(s, Tables.embeddings(s, sfDir))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("scale"),
        graft.functions.Int8Pack.int8Pack(s,
          org.apache.spark.sql.functions.col("qemb")).as("code"))
      .write.mode("overwrite").parquet(path)

  /** `similarity_topk_q8` served from the packed code table — integer
    * dots straight over the stored bytes, equality-pinned to the
    * oracle-gated inline query (QuantizeSpec).
    */
  def similarityTopkQ8(s: SparkSession, codesPath: String): DataFrame =
    graft.operators.LlmVectorOps
      .similarityTopkQ8FromCodes(s, s.read.parquet(codesPath))

  /** PQ silver index: the trained per-subspace codebook plus every
    * vector's 8 4-bit codes packed little-nibble-first into one
    * integer — 4 logical bytes per vector, the 64× rung of the
    * quantization storage ladder (the int8 code table above is the 4×
    * rung). Training happens ONCE at write time; serving reads the
    * two tables and never re-runs Lloyd.
    */
  def writePqIndex(s: SparkSession, sfDir: String, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    // training and encoding read only (vec_id, embedding)
    val e = Tables.embeddings(s, sfDir)
    val book = graft.operators.LlmVectorOps.pqTrain(s, e)
    book.write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    graft.operators.LlmVectorOps
      .pqEncode(s, e, s.read.parquet(s"$dir/codebook.parquet"))
      // codes are 0..15 and subs 0..7 ⇒ the packed value uses 32 bits
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(CAST(code AS BIGINT), sub * 4)"))
        .as("pq_code"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
  }

  /** `similarity_topk_pq` served from the silver index —
    * equality-pinned to the inline trained query (PqIndexSpec). */
  def similarityTopkPq(s: SparkSession, sfDir: String,
      dir: String): DataFrame =
    graft.operators.LlmVectorOps.similarityTopkPqFromIndex(s, sfDir,
      s.read.parquet(s"$dir/codebook.parquet"),
      s.read.parquet(s"$dir/codes.parquet"))

  /** The full silver ANN index for one corpus under `dir`: the raw
    * PQ index ([[writePqIndex]] — `similarity_topk_pq`'s serving
    * tables) plus the residual-encoded IVF-PQ index (coarse router,
    * inverted lists, residual codebook, packed residual codes —
    * `similarity_ivf_pq`'s). Point `spark.graft.ann.index`
    * ([[graft.operators.LlmVectorOps.AnnIndexConf]]) at the PARENT of
    * per-corpus dirs named like the corpus directory and both
    * inventory rows serve from storage instead of training inline —
    * train once at write time, serve many.
    */
  def writeAnnIndex(s: SparkSession, sfDir: String, dir: String): Unit = {
    writePqIndex(s, sfDir, dir)
    graft.operators.LlmVectorOps.writeIvfPqIndex(s, sfDir, dir)
    writeCorpusFingerprint(s, sfDir, dir)
  }

  /** Bind a silver dir to its source corpus: serving resolution
    * verifies this fingerprint before routing a query here, so two
    * distinct corpora whose dirs share a basename (/a/sf0.01 vs
    * /b/sf0.01) under one silver base can never silently serve each
    * other's results — mismatch falls back to the inline build.
    * Canonical path is the driver-cheap identity check; the row
    * count is recorded for diagnostics (a content check at serve
    * time would cost a per-query job).
    */
  private def writeCorpusFingerprint(s: SparkSession, sfDir: String,
      dir: String): Unit = {
    val fp = new org.apache.hadoop.fs.Path(dir,
      graft.operators.LlmVectorOps.CorpusFingerprintFile)
    val fs = fp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(fp, true)
    try out.write(
      (new java.io.File(sfDir).getCanonicalPath + "\n" +
        Tables.embeddings(s, sfDir).count())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fold a batch of new vectors into the STORED ANN index at `dir`
    * (both the raw-PQ and IVF-PQ halves of [[writeAnnIndex]]'s
    * layout) WITHOUT re-training: per-vector assignment and encoding
    * against the frozen codebooks are corpus-independent, so
    * append-then-serve equals a one-shot encode of the grown corpus
    * against the same books (PqIndexSpec pins it). The corpus
    * fingerprint is re-stamped from `sfDir` so serving resolution
    * keeps accepting the index for the grown corpus. Offline batch
    * API (parquet append — a replayed append duplicates rows); the
    * replay-idempotent epoch layout lives on the edge-silver side
    * ([[graft.operators.KnnIncremental.append]]).
    */
  def appendAnnIndex(s: SparkSession, sfDir: String, dir: String,
      batch: DataFrame): Unit = {
    graft.operators.LlmVectorOps.appendPqIndex(s, dir, batch)
    graft.operators.LlmVectorOps.appendIvfPqIndex(s, dir, batch)
    writeCorpusFingerprint(s, sfDir, dir)
    // stamp the prefix-trained marker: serving rows keep accepting
    // this index (frozen-book encode is their pinned contract), but
    // pq_distortion — whose oracle RE-TRAINS on the full corpus —
    // must fall back to inline training once the books no longer
    // cover the corpus they serve
    val mk = new org.apache.hadoop.fs.Path(dir,
      graft.operators.LlmVectorOps.AnnIndexAppendedMarker)
    val fs = mk.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(mk, true).close()
  }

  /** The kNN edge silver for one corpus under `dir`: the routed
    * directed top-3 cosine edge set (src, dst) written ONCE as
    * parquet, plus the corpus fingerprint binding it to `sfDir`.
    * Point `spark.graft.knn.edges.dir`
    * ([[graft.operators.LlmVectorOps.KnnEdgesDirConf]]) at the PARENT
    * of per-corpus dirs and all five edge consumers (`knn_edges`,
    * `pagerank_docs`, `hits_scores`, `degree_assortativity`,
    * `label_propagation`) serve the stored edges instead of building
    * — and, unlike the in-session `localCheckpoint` memo, survive
    * executor loss between consumers (lost partitions re-read from
    * storage). The build honors the session's
    * route/nprobe/codebook confs — the production shape is
    * `spark.graft.knn.codebook=trained` here, amortizing the two
    * Lloyd assignment passes into the one-time write.
    */
  def writeKnnEdges(s: SparkSession, sfDir: String, dir: String): Unit = {
    graft.operators.LlmVectorOps.knnEdges3Inline(s, sfDir)
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir,
        graft.operators.LlmVectorOps.KnnEdgesFile).toString)
    writeCorpusFingerprint(s, sfDir, dir)
  }

  /** Bucketed silver layout: pay the shuffle ONCE at write time.
    * Pairs bucket on the removal key `j`, documents on `doc_id`, same
    * bucket count — the consumer's distinct and anti-join then both
    * reuse the on-disk hash distribution and run with ZERO exchanges
    * (BucketingSpec asserts it). This is the layout that makes the
    * silver table not just a recompute-saver but a shuffle-eliminator
    * at 100 TB: every nightly survivor/relabel pass reads co-located
    * buckets instead of re-shuffling the corpus.
    */
  def writePairsBucketed(s: SparkSession, sfDir: String, table: String,
      buckets: Int): Unit =
    Bucketing.writeBucketed(LlmTextOps.dedupNearPairs(s, sfDir), table, "j",
      buckets)

  /** Documents as a bucketed silver table keyed by doc_id. */
  def writeDocumentsBucketed(s: SparkSession, sfDir: String, table: String,
      buckets: Int): Unit =
    Bucketing.writeBucketed(Tables.documents(s, sfDir), table, "doc_id",
      buckets)

  /** Survivor selection served entirely from the bucketed silver
    * tables: distinct-on-j reuses the pair table's bucket
    * distribution, and the anti-join matches it against the document
    * table's buckets — no exchange anywhere in the plan. No global
    * sort either (a sort is a range exchange); consumers that need
    * presentation order sort their final, already-tiny result.
    */
  def survivorsBucketed(s: SparkSession, docsTable: String,
      pairsTable: String): DataFrame =
    // same selection core as survivorsFromPairs (shared so the
    // removal-key rule can't drift), minus the presentation sort — a
    // global sort is a range exchange, and this entry point exists to
    // plan with zero exchanges off the bucketed layout
    LlmTextOps.survivorsCore(s.table(docsTable), s.table(pairsTable))

  /** Events rewritten as the DATE-PARTITIONED fact layout (one
    * directory per event_date) — the 100 TB events shape `Tables`'
    * header promises: time-range scans prune directories statically,
    * and joins against a filtered calendar dimension prune them at
    * RUNTIME via dynamic partition pruning (PlanShapeSpec pins the
    * DPP subquery + the pruned partition count; BASELINE.md carries
    * the partitions-read with/without measurement).
    */
  def writeEventsByDate(s: SparkSession, sfDir: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions._
    Tables.events(s, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(path)
  }

  /** The calendar dimension for the partitioned fact: one row per
    * event_date with its day-of-week — the filterable side of the
    * DPP join (tiny, broadcast).
    */
  def writeDateDim(s: SparkSession, sfDir: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    Tables.events(s, sfDir)
      .select(to_date(col("ts")).as("event_date")).distinct()
      .withColumn("dow", dayofweek(col("event_date")))
      .write.mode("overwrite").parquet(path)
  }

  /** Per-day event counts for one day-of-week, through the dim join —
    * the canonical DPP plan: the filter lives on the DIMENSION, the
    * fact carries no static predicate, and the only thing that can
    * prune the fact's 30 date directories is the runtime subquery
    * broadcasting the dim's surviving dates into the scan. At 100 TB
    * this is the difference between reading ~1/7 of the fact and all
    * of it.
    */
  def eventsOnDow(s: SparkSession, factPath: String, dimPath: String,
      dow: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    s.read.parquet(factPath)
      .join(s.read.parquet(dimPath).where(col("dow") === dow),
        Seq("event_date"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_date")
  }
}

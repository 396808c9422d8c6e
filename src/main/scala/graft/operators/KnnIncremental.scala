package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.VectorExprs

/** Incremental maintenance for the kNN edge silver — the missing
  * closure of the storage-backed silver family: a corpus that GROWS
  * (the actual 100 TB operating mode) must not pay a full
  * `CorpusSilver.writeKnnEdges` rebuild per append batch. This module
  * is the `dedup_incremental` posture applied to the vector side:
  * encode/assign ONLY the new vectors against the STORED codebook (no
  * re-train, ever — KnnRoutingSpec pins the centroids bit-stable
  * across appends), append their inverted-list/probe/edge rows as a
  * new epoch, and re-rank only the AFFECTED old nodes — the ones
  * whose probed lists received new members.
  *
  * Layout under a per-corpus `dir` (every appendable table is an
  * epoch-partitioned parquet; each epoch is written by OVERWRITE into
  * its own `epoch=N` subdir, which is what makes a replayed append —
  * a crashed job, a Structured Streaming micro-batch retry — exactly
  * idempotent):
  *
  *   - `centroids.parquet` — (cent_id, cent_emb, cent_norm), written
  *     once at build, never touched again;
  *   - `build.meta` — the build's `nprobe` (appends must probe the
  *     same lists the stored probe table recorded, or the affected-set
  *     logic would miss candidates);
  *   - `members/epoch=N` — (cent_id, vec_id, embedding, norm): keep-1
  *     list assignment; doubles as the vector store, so appends never
  *     re-scan the source corpus;
  *   - `probes/epoch=N` — (vec_id, cent_id): which lists each vector
  *     probes — the reverse index that makes "which old nodes does
  *     this batch affect" one broadcast join instead of a corpus scan;
  *   - `edges/epoch=N` — (src, dst, score): the FULL top-3 scored
  *     edge rows for every src this epoch (re)computed. Serving takes
  *     the latest epoch per src (LSM semantics; a long-lived
  *     deployment folds epochs back with an offline rewrite when the
  *     delta chain grows — the standard compaction dial).
  *
  * Append cost is proportional to the BATCH, not the corpus: the
  * assignment scan runs over batch rows only; batch candidates are
  * the members of batch-probed lists (≈ batch·nprobe·stride dots);
  * affected-old work is old-probes-of-touched-lists × new members
  * (≈ batch·nprobe·stride again, since each new member is seen by
  * ~nprobe·stride stored probes). BASELINE.md carries the measured
  * append-vs-rebuild numbers on the clustered sweep corpus.
  *
  * Correctness contract (the reason append == rebuild EXACTLY, at any
  * nprobe, pinned in KnnRoutingSpec and oracle-gated at full probe by
  * the `knn_edges_incremental` row): the codebook is frozen, so every
  * vector's list assignment and probe set are append-invariant; a new
  * vector's candidate set is exactly the rebuild's (old + new members
  * of its probed lists); and an old node's rebuild top-3 over
  * C_old ∪ N is contained in top3(C_old) ∪ N — the stored top-3 plus
  * the new members of its probed lists — so merging the stored scored
  * edges with the freshly scored new candidates under the shared
  * (r6 score desc, id asc) total order IS the rebuild answer.
  *
  * The reference (a 231-line polling collector, dataCollector.py) has
  * no vector surface; this is part of the mandated LLM-pipeline
  * extension (SURVEY §2.3+).
  */
object KnnIncremental {

  private val MetaFile = "build.meta"

  private def fs(s: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def writeMeta(s: SparkSession, dir: String, nprobe: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
    val out = fs(s, dir).create(p, true)
    try out.write(s"nprobe=$nprobe\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readNprobe(s: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
    val in = fs(s, dir).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .collectFirst { case l if l.startsWith("nprobe=") =>
        l.stripPrefix("nprobe=").trim.toInt }
      .getOrElse(throw new IllegalStateException(s"no nprobe in $dir/$MetaFile"))
    finally in.close()
  }

  /** Initial build: freeze the codebook (seed rule over `vecs` unless
    * an explicit one is supplied — the KnnRoutingSpec rebuild-parity
    * hook), then bootstrap the silver by appending the whole initial
    * corpus as epoch 0 through the SAME code path every later batch
    * takes — build-vs-append parity is structural, not tested-for.
    */
  def build(s: SparkSession, vecs: DataFrame, dir: String, nprobe: Int,
      cents: Option[DataFrame] = None): Unit = {
    val e = LlmVectorOps.withNorm(s,
      vecs.select(col("vec_id"), col("embedding")), "embedding", "norm")
    cents.getOrElse(LlmVectorOps.seedCentroids(e))
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    writeMeta(s, dir, nprobe)
    append(s, dir, vecs, epoch = 0L)
  }

  /** Append one batch of (vec_id, embedding) rows as `epoch`:
    * assign against the STORED codebook, write the epoch's
    * member/probe rows, compute the batch's top-3 edges plus the
    * re-ranked top-3 of every affected old node, and write them as
    * the epoch's edge delta. Idempotent per (dir, epoch): every
    * artifact lands by overwrite in its own epoch subdir and every
    * read of prior state filters `epoch < N`, so a replay neither
    * duplicates rows nor observes its own partial output.
    */
  def append(s: SparkSession, dir: String, batch: DataFrame,
      epoch: Long): Unit = {
    val nprobe = readNprobe(s, dir)
    val centArr = s.read.parquet(s"$dir/centroids.parquet")
      .agg(collect_list(struct(col("cent_id"), col("cent_emb"),
        col("cent_norm"))).as("cents"))
    val b = LlmVectorOps.withNorm(s,
      batch.select(col("vec_id"), col("embedding")), "embedding", "norm")
    // one compiled scan per batch vector over the broadcast codebook:
    // element 0 is its own (keep-1) list, the rest its probe set. The
    // repartition is the Generate materialization fence (the
    // round-12 lesson — see knnEdges3Ivf): without it the scan folds
    // under the probes explode and re-evaluates per generated row.
    val scanned = b.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"), col("norm"),
        VectorExprs.cosineKnn(s, col("embedding"), col("norm"), lit(-1L),
          col("cents"), nprobe).as("probed"))
      .repartition(col("vec_id"))
    scanned
      .select(col("probed")(0).as("cent_id"), col("vec_id"),
        col("embedding"), col("norm"))
      .write.mode("overwrite").parquet(s"$dir/members/epoch=$epoch")
    scanned
      .select(col("vec_id"), explode(col("probed")).as("cent_id"))
      .write.mode("overwrite").parquet(s"$dir/probes/epoch=$epoch")
    // from here on, every input is a STORED artifact (the
    // writeIvfPqIndex posture): the assignment lineage is never
    // recomputed by the edge jobs below
    val members = s.read.parquet(s"$dir/members")
    val newM = members.where(col("epoch") === epoch)
    val oldM = members.where(col("epoch") < epoch)
    val probes = s.read.parquet(s"$dir/probes")
    val newProbes = probes.where(col("epoch") === epoch)
    val oldProbes = probes.where(col("epoch") < epoch)
    def asMembers(m: DataFrame): Column =
      collect_list(struct(m("vec_id"), m("embedding"), m("norm")))
    val w = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    def top3(cands: DataFrame): DataFrame = cands
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("src"), col("dst"), col("score"))
    def scoredAgainst(probeRows: DataFrame, lists: DataFrame): DataFrame =
      probeRows.join(lists, Seq("cent_id"))
        .select(col("src"), explode(VectorExprs.cosineKnnScored(s,
          col("p_emb"), col("p_norm"), col("src"), col("members"), 3))
          .as("c"))
        .select(col("src"), col("c.id").as("dst"), col("c.score").as("score"))
    // batch edges: candidates = ALL members (old + this epoch) of the
    // lists the batch probes — exactly the rebuild's candidate set,
    // including the batch's own vectors assigned there
    val batchLists = members
      .join(broadcast(newProbes.select(col("cent_id")).distinct()),
        Seq("cent_id"))
      .groupBy(col("cent_id")).agg(asMembers(members).as("members"))
    val bProbeRows = newProbes.select(col("vec_id").as("src"), col("cent_id"))
      .join(newM.select(col("vec_id").as("src"),
        col("embedding").as("p_emb"), col("norm").as("p_norm")), Seq("src"))
    val batchEdges = top3(scoredAgainst(bProbeRows, batchLists))
    // affected old nodes: stored probes hitting a list that received
    // new members — score them against ONLY the new members of those
    // lists and merge with their stored top-3 under the shared order
    val hasPrior = fs(s, dir).exists(
      new org.apache.hadoop.fs.Path(dir, "edges"))
    val delta =
      if (!hasPrior) batchEdges
      else {
        val touched = newM.select(col("cent_id")).distinct()
        val newLists = newM.groupBy(col("cent_id"))
          .agg(asMembers(newM).as("members"))
        val affProbes = oldProbes.join(broadcast(touched), Seq("cent_id"))
          .select(col("vec_id").as("src"), col("cent_id"))
        val affProbeRows = affProbes
          .join(oldM.select(col("vec_id").as("src"),
            col("embedding").as("p_emb"), col("norm").as("p_norm")),
            Seq("src"))
        val affCands = scoredAgainst(affProbeRows, newLists)
        val affStored = servedScored(s, dir, beforeEpoch = Some(epoch),
          onlySrcs = Some(affProbes.select(col("src")).distinct()))
        top3(affStored.union(affCands)).union(batchEdges)
      }
    delta.write.mode("overwrite").parquet(s"$dir/edges/epoch=$epoch")
  }

  /** The current scored edge set: latest epoch per src (each epoch
    * holds the FULL top-3 of every src it touched). `beforeEpoch`
    * serves the state as of an earlier epoch — the append path's
    * replay-safe read of its own prior state. `onlySrcs` pushes a
    * src restriction BELOW the latest-epoch window (the window
    * partitions by src, so filtering first is semantics-preserving):
    * the append path reads only its AFFECTED nodes' stored rows —
    * batch-proportional when a batch touches few lists — instead of
    * windowing the whole edge table to then keep a sliver.
    */
  private def servedScored(s: SparkSession, dir: String,
      beforeEpoch: Option[Long] = None,
      onlySrcs: Option[DataFrame] = None): DataFrame = {
    val all = s.read.parquet(s"$dir/edges")
    val in0 = beforeEpoch.map(m => all.where(col("epoch") < m)).getOrElse(all)
    val in = onlySrcs.map(f => in0.join(f, Seq("src"))).getOrElse(in0)
    val wm = Window.partitionBy("src")
    in.withColumn("me", max(col("epoch")).over(wm))
      .where(col("epoch") === col("me"))
      .select(col("src"), col("dst"), col("score"))
  }

  /** Serve the maintained edge set as (src, dst) — the
    * `knnEdges3`-shaped consumer surface. */
  def servedEdges(s: SparkSession, dir: String): DataFrame =
    servedScored(s, dir).select(col("src"), col("dst"))

  /** Fold the epoch chain back into one epoch — the LSM compaction
    * dial: serving pays a latest-epoch-per-src window whose input
    * grows with every append (each epoch re-ranks its affected srcs,
    * so superseded rows accumulate); compaction materializes the
    * CURRENT top-3 of every src as a single fresh epoch and drops
    * the older dirs. Correct under the serving rule by construction
    * (the new epoch is the per-src latest and covers every src).
    * Offline maintenance — run it between appends, not concurrently
    * with one (the same single-writer contract every LSM compactor
    * has); an append that lands after compaction continues the epoch
    * sequence above it.
    */
  def compact(s: SparkSession, dir: String): Unit = {
    val edges = s.read.parquet(s"$dir/edges")
    val maxEpoch = edges.agg(max(col("epoch").cast("long")))
      .head().getLong(0)
    val target = maxEpoch + 1L
    servedScored(s, dir)
      .write.mode("overwrite").parquet(s"$dir/edges/epoch=$target")
    val f = fs(s, dir)
    val root = new org.apache.hadoop.fs.Path(s"$dir/edges")
    f.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("epoch=")
          && name.stripPrefix("epoch=").toLong < target)
        f.delete(st.getPath, true)
    }
  }

  /** `knn_edges_incremental` — the gated row proving append-then-serve
    * equals the full build on the SAME exact-edge oracle as
    * `knn_edges`/`knn_edges_served`: build the silver on the first
    * ~80% of the corpus, append the rest as epoch 1, serve the merged
    * edge set. Probing is FULL (nprobe = centroid count), so the
    * served edges equal the exact top-3 scan's — the oracle-gateable
    * configuration; partial-probe append==rebuild parity is pinned in
    * KnnRoutingSpec, where exactness is not the claim. Same
    * per-run-scratch posture as `knn_edges_served` (local-mode demo
    * dir; a deployment points `build`/`append` at shared storage).
    */
  def knnEdgesIncremental(s: SparkSession, d: String): DataFrame = {
    val served = graft.engine.SessionMemo.getOrCompute(s,
      "knn_edges_incremental|" +
        graft.engine.SessionMemo.tableFingerprint(s, d, "embeddings")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_knn_incr").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))))
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val splitId = e.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5
      val prefix = e.where(col("vec_id") <= splitId)
      val k = LlmVectorOps.seedCentroids(
        LlmVectorOps.withNorm(s, prefix, "embedding", "norm"))
        .count().toInt
      build(s, prefix, dir, nprobe = k)
      append(s, dir, e.where(col("vec_id") > splitId), epoch = 1L)
      servedEdges(s, dir)
    }
    served.orderBy("src", "dst")
  }
}

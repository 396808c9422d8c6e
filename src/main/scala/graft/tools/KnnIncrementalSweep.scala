package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.KnnIncremental

/** Append-vs-rebuild evidence for the INCREMENTAL kNN edge silver
  * (`KnnIncremental`, BASELINE.md round-13 table): on the clustered
  * sweep corpus ([[KnnRouteSweep.genEmbeddingsClustered]] — the shape
  * real encoder output has), per decade:
  *
  *   - build the silver on the corpus minus a fixed-size tail batch;
  *   - time `append` of the tail (the maintenance cost a growing
  *     corpus pays per landing batch);
  *   - time the full one-shot `build` (what the write-once silver
  *     family pays INSTEAD on every append — the number the append
  *     path exists to retire);
  *   - time the warm serve read.
  *
  * The claim under measurement: append cost tracks the BATCH, not the
  * corpus — the same 2048-vector batch appended at both decades reads
  * near-flat (the residual decade growth is the batch×k assignment
  * term, k ∝ n/stride — the standard IVF re-stride dial, shared with
  * the inline route), while the rebuild grows with the corpus.
  *
  * Usage: runMain graft.tools.KnnIncrementalSweep [outBase] [sizes]
  * [batch] [reps] (defaults /tmp/graft_scale/knn, 32768,131072, 2048,
  * 1). Reuses KnnRouteSweep's cached corpora.
  */
object KnnIncrementalSweep {

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/tmp/graft_scale/knn")
    val sizes = args.lift(1).getOrElse("32768,131072")
      .split(",").map(_.trim.toLong).toSeq
    val batchN = args.lift(2).map(_.toLong).getOrElse(2048L)
    val reps = args.lift(3).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)

    def timed[T](body: => T): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    val results = sizes.map { n =>
      val dir = s"$outBase/v$n"
      val embPath = s"$dir/embeddings.parquet"
      if (!new java.io.File(embPath).exists())
        KnnRouteSweep.genEmbeddingsClustered(spark, n)
          .write.mode("overwrite").parquet(embPath)
      val e = spark.read.parquet(embPath)
        .select(col("vec_id"), col("embedding"))
      val splitId = n - batchN
      val prefix = e.where(col("vec_id") < splitId)
      val batch = e.where(col("vec_id") >= splitId)
      def scratch(tag: String): String = {
        val p = java.nio.file.Files.createTempDirectory(tag)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
        p.toString
      }
      val (tAppend, incrDir) = (1 to reps).map { _ =>
        val d2 = scratch("graft_incr_sweep")
        KnnIncremental.build(spark, prefix, d2, nprobe = 8)
        (timed(KnnIncremental.append(spark, d2, batch, epoch = 1L)), d2)
      }.minBy(_._1)
      val tRebuild = (1 to reps).map { _ =>
        val d3 = scratch("graft_incr_rebuild")
        timed(KnnIncremental.build(spark, e, d3, nprobe = 8))
      }.min
      val tServe = timed(
        KnnIncremental.servedEdges(spark, incrDir).count())
      val nEdges = KnnIncremental.servedEdges(spark, incrDir).count()
      (n, tAppend, tRebuild, tServe, nEdges)
    }

    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    println("{\"metric\":\"knn_incremental_sweep\",\"batch\":" + batchN +
      ",\"decades\":[" +
      results.map { case (n, ta, tr, ts, ne) =>
        s"""{"vecs":$n,"append_sec":${r3(ta)},""" +
          s""""rebuild_sec":${r3(tr)},"serve_sec":${r3(ts)},""" +
          s""""edges":$ne}"""
      }.mkString(",") + "]}")
    spark.stop()
  }
}

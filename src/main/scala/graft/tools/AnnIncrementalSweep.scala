package graft.tools

import org.apache.spark.sql.functions._

/** Append-vs-rebuild evidence for the STORED ANN index
  * (`CorpusSilver.appendAnnIndex`, BASELINE.md round-13): on the
  * clustered sweep corpus, time the full `writeAnnIndex` (train both
  * codebooks + encode the corpus) against `appendAnnIndex` of a
  * fixed-size batch into the prefix-built index — the no-retrain
  * maintenance path. Serving equality is PqIndexSpec's pin; this
  * tool carries the cost side.
  *
  * Usage: runMain graft.tools.AnnIncrementalSweep [outBase] [sizes]
  * [batch] (defaults /tmp/graft_scale/knn, 131072, 2048).
  */
object AnnIncrementalSweep {

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/tmp/graft_scale/knn")
    val sizes = args.lift(1).getOrElse("131072")
      .split(",").map(_.trim.toLong).toSeq
    val batchN = args.lift(2).map(_.toLong).getOrElse(2048L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)

    def timed[T](body: => T): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def scratch(tag: String): String = {
      val p = java.nio.file.Files.createTempDirectory(tag)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
      p.toString
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
      // stage the prefix as its own corpus dir (training input)
      val prefixDir = scratch("graft_ann_prefix")
      e.where(col("vec_id") < splitId)
        .write.mode("overwrite").parquet(s"$prefixDir/embeddings.parquet")
      val idx = scratch("graft_ann_idx")
      val tBuildPrefix = timed(
        graft.pipeline.CorpusSilver.writeAnnIndex(spark, prefixDir, idx))
      val tAppend = timed(graft.pipeline.CorpusSilver.appendAnnIndex(
        spark, dir, idx, e.where(col("vec_id") >= splitId)))
      val idxFull = scratch("graft_ann_full")
      val tBuildFull = timed(
        graft.pipeline.CorpusSilver.writeAnnIndex(spark, dir, idxFull))
      (n, tBuildPrefix, tAppend, tBuildFull)
    }

    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    println("{\"metric\":\"ann_incremental_sweep\",\"batch\":" + batchN +
      ",\"decades\":[" +
      results.map { case (n, tp, ta, tf) =>
        s"""{"vecs":$n,"prefix_build_sec":${r3(tp)},""" +
          s""""append_sec":${r3(ta)},"full_rebuild_sec":${r3(tf)}}"""
      }.mkString(",") + "]}")
    spark.stop()
  }
}

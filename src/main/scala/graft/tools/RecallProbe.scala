package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.LlmVectorOps

/** Recall@10 of every approximate similarity path vs the exact
  * brute-force top-k — the measurement loop behind AnnQualitySpec's
  * floors. Run it when tuning an ANN dial (nprobe, code bits,
  * residual encoding) to see the measured value, not just the
  * pass/fail of the floor:
  *
  *   java -cp "$CP" graft.tools.RecallProbe /root/testdata/sf0.01
  *
  * Prints one `name recall@10=0.xxx` line per path. Floors live in
  * AnnQualitySpec; BASELINE.md records the measured history.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    def topkSet(df: DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(LlmVectorOps.similarityTopk(spark, sf))
    val paths: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "similarity_lsh" -> (LlmVectorOps.similarityLsh _),
      "similarity_ivf" -> (LlmVectorOps.similarityIvf _),
      "similarity_ivf_trained" -> (LlmVectorOps.similarityIvfTrained _),
      "similarity_topk_pq" -> (LlmVectorOps.similarityTopkPq _),
      "similarity_ivf_pq" -> (LlmVectorOps.similarityIvfPq _))
    paths.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = (exact & topkSet(fn(spark, sf))).size.toDouble / exact.size
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$name%-24s recall@10=$r%.3f  ($secs%.2f s)")
    }
    spark.stop()
  }
}

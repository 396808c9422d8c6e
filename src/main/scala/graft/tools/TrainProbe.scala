package graft.tools

import graft.operators.LlmVectorOps

/** Ad-hoc timing probe for the trained-codebook kNN route: breaks the
  * `spark.graft.knn.codebook=trained` edge build into its stages
  * (codebook train, edge build off a warm codebook) so a slow arm in
  * KnnRouteSweep can be attributed before it's chased. Not part of
  * any gated surface.
  */
object TrainProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft_scale/knn/v131072")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    def t(label: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"($r)")
    }
    t("trained codebook (cold)") {
      LlmVectorOps.trainedCentroidsCompiled(spark, d).count()
    }
    t("trained codebook (memo hit)") {
      LlmVectorOps.trainedCentroidsCompiled(spark, d).count()
    }
    // list-size skew of the trained book vs seed: scored-scan cost is
    // n·nprobe·listsize, so a fat tail here IS the slow edge build
    spark.conf.set(LlmVectorOps.KnnCodebookConf, "trained")
    spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
    t("edge build, warm codebook") {
      LlmVectorOps.knnEdges(spark, d).count()
    }
    graft.engine.SessionMemo.invalidate(spark)
    t("trained codebook rebuild") {
      LlmVectorOps.trainedCentroidsCompiled(spark, d).count()
    }
    val plan = LlmVectorOps.knnEdges3Ivf(spark, d, 8, "trained")
    val executed = {
      val t0 = System.nanoTime()
      val n = plan.count()
      println(f"[probe] ivf build alone, warm codebook: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n)")
      plan.queryExecution.executedPlan.toString
    }
    println("[probe] Exchange nodes: " +
      executed.split("\n").count(_.contains("Exchange")) +
      " reused: " + executed.split("\n").count(_.contains("ReusedExchange")))
    spark.stop()
  }
}

package graft.tools

/** Dev tool: dump formatted physical plans for the plan-shape review
  * (SURVEY.md §4 / the 100 TB checklist). Not part of the driver
  * contract. Usage: runMain graft.tools.ExplainPlans [names...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "pricing_summary", "join_broadcast", "join_shuffle", "topk_orders",
      "similarity_topk", "ohlc_hourly")
    // SPARK_GRAFT_EXEC=1: run the query first and print the FINAL
    // adaptive plan (shows AQE runtime decisions — ReusedExchange,
    // coalesced partitions, skew splits — that the static plan hides)
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      if (exec) df.collect()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package graft.tools

/** Dev probe (not part of the driver contract): time the pieces of
  * `item_components` — edge silver build vs the large∘small fixpoint
  * — and report the round count at a given SF.
  */
object ComponentsProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    // warm JVM
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val edges = time("edge silver build+count") {
      val e = graft.operators.RelationalOps.coPurchaseEdges(spark, sf)
      println(s"[probe] edges = ${e.count()}")
      e
    }
    (1 to 3).foreach { i =>
      time(s"fixpoint rep $i") {
        val (labeled, iters) =
          graft.operators.LlmTextOps.componentsFixpoint(spark, edges,
            pairsDistinct = true)
        println(s"[probe] rounds = $iters, labels = ${labeled.count()}")
      }
    }
    (1 to 2).foreach { i =>
      time(s"item_components e2e $i") {
        graft.operators.RelationalOps.itemComponents(spark, sf).count()
      }
    }
    // conf experiments: where does the per-round constant go?
    def fix(tag: String, kv: (String, String)*): Unit = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try time(tag) {
        graft.operators.LlmTextOps.componentsFixpoint(spark, edges,
          pairsDistinct = true)._1.count()
      } finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    fix("fixpoint AQE off", "spark.sql.adaptive.enabled" -> "false")
    fix("fixpoint parts=4", "spark.sql.shuffle.partitions" -> "4")
    fix("fixpoint AQEoff parts=4",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    fix("fixpoint noBroadcast",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    spark.stop()
  }
}

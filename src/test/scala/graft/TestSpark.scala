package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true),
  * on the local filesystem `GraftSession` installs but otherwise plain:
  * no extensions, so `GraftExtensionsSpec` sees a bare function registry. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  /** Structural children of an EXECUTED plan node, descending through
    * the AQE wrappers (adaptive root → its finalized plan, query
    * stages → their materialized subtree, reused exchanges → the
    * original). Cached InMemoryTableScans deliberately do NOT descend
    * into their relation's stored build plan — a cache is a
    * materialization boundary, and plan-shape assertions about a
    * CONSUMER must not see the build's internals.
    */
  def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case r: ReusedExchangeExec    => Seq(r.child)
    case other                    => other.children
  }

  /** Every node of an executed plan, AQE-aware ([[planKids]]). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: planKids(p).flatMap(planNodes)
}

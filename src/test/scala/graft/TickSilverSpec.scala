package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnalyticOps

/** The shared sorted-ticks silver: every rewired sequence/indicator
  * consumer must read the memoized pre-partitioned/pre-sorted cache,
  * and its plan must actually REUSE the silver's layout: no
  * per-consumer symbol re-shuffle above the cached scan. Each
  * consumer's rows are gated by its own spec and oracle.
  */
class TickSilverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val consumers: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      "lag_features" -> (AnalyticOps.lagFeatures _),
      "ewma_smooth" -> (AnalyticOps.ewmaSmooth _),
      "autocorrelation" -> (AnalyticOps.autocorrelation _),
      "ljung_box" -> (AnalyticOps.ljungBox _),
      "rsi_indicator" -> (AnalyticOps.rsiIndicator _),
      "bollinger_bands" -> (AnalyticOps.bollingerBands _),
      "obv_indicator" -> (AnalyticOps.obvIndicator _),
      "stochastic_oscillator" -> (AnalyticOps.stochasticOscillator _),
      "value_bands" -> (AnalyticOps.valueBands _),
      "max_drawdown" -> (AnalyticOps.maxDrawdown _),
      "best_trade" -> (AnalyticOps.bestTrade _),
      "rolling_median" -> (AnalyticOps.rollingMedian _),
      "peak_detection" -> (AnalyticOps.peakDetection _),
      "runs_test" -> (AnalyticOps.runsTest _),
      "spearman_corr" -> (AnalyticOps.spearmanCorr _))

  test("every tick-silver consumer reads the cached silver at sf0.001") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    consumers.foreach { case (n, q) =>
      val df = q(spark, TestSpark.sf0001)
      assert(df.collect().nonEmpty, s"vacuous pin: $n")
      assert(TestSpark.planNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$n does not read the sorted-ticks silver")
    }
  }

  test("a pure-ascending consumer plans NO symbol re-shuffle over the silver") {
    // lag_features uses only the ascending (symbol, us, event_id)
    // window, so with the silver ON its window must be satisfied by
    // the cached layout: the only Exchange left is the final
    // presentation orderBy (range partitioning), never a
    // hashpartitioning on symbol
    val df = AnalyticOps.lagFeatures(spark, TestSpark.sf0001)
    df.collect() // materialize through AQE so the final plan is real
    val plan = df.queryExecution.executedPlan.toString
    // the silver's own build plan (inside InMemoryRelation) contains
    // the one legitimate symbol shuffle+sort; the CONSUMER region is
    // everything above it
    val cacheAt = plan.indexOf("InMemoryRelation")
    assert(cacheAt >= 0, s"expected the cached tick silver:\n$plan")
    val consumer = plan.substring(0, cacheAt)
    assert(consumer.contains("Window"), s"no window above the cache:\n$plan")
    assert(!consumer.contains("Exchange hashpartitioning(symbol"),
      s"consumer re-shuffled on symbol above the sorted silver:\n$plan")
    assert(!consumer.contains("Sort [symbol"),
      s"consumer re-sorted on symbol above the sorted silver:\n$plan")
  }

  test("second call serves the SAME memoized silver frame") {
    assert(AnalyticOps.sortedTicks(spark, TestSpark.sf0001)
      eq AnalyticOps.sortedTicks(spark, TestSpark.sf0001))
  }

  test("spearman_corr reads ONE events scan through the silver, three off it") {
    // the base projection feeds two rank tables plus the final fold;
    // with the silver ON all three consumers read the cached
    // materialization (zero parquet scans above the cache — the one
    // real scan lives inside the silver's build, paid once per
    // session), with it OFF the plan scans events three times
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.collect() // finalize AQE before walking
      val nodes = TestSpark.planNodes(df.queryExecution.executedPlan)
      (nodes.count(_.isInstanceOf[FileSourceScanExec]),
        nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
    }
    val (scansOn, cachedOn) = shape(
      AnalyticOps.spearmanCorr(spark, TestSpark.sf0001))
    assert(scansOn == 0,
      s"silver ON: expected zero parquet scans above the cache, got $scansOn")
    assert(cachedOn == 3,
      s"silver ON: expected the three consumers on the cache, got $cachedOn")
  }
}

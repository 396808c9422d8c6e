package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmTextOps

/** The graph consumers' pair-source routing (`spark.graft.pairs.source`):
  * the banded-MinHash + exact-verify source must emit EXACTLY the pair
  * set the exact co-occurrence silver emits on the shipped corpora
  * (same (i, j, jaccard) rows — verification is exact Jaccard, so the
  * only possible divergence is a banding recall miss, and these pins
  * prove there is none at test sf), the auto route must pick the exact
  * silver below the measured crossover, and a forced route must carry
  * a registered graph query to the identical result.
  */
class PairRoutingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("i"), col("j"), col("jaccard"))
      .collect().map(_.toString).sorted.toSeq

  test("minhash-verified pairs == exact pair silver at sf0.001 and sf0.01") {
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val exact = pairsOf(LlmTextOps.dedupNearPairs(spark, d))
      val routed = pairsOf(LlmTextOps.minhashVerifiedPairs(spark, d))
      assert(exact.nonEmpty, s"vacuous pin at $d")
      assert(routed == exact,
        s"minhash-verified pair set diverged from exact at $d: " +
          s"${routed.size} vs ${exact.size} pairs")
    }
  }

  test("auto route picks the exact silver below the crossover") {
    assert(LlmTextOps.pairSourceRoute(spark, TestSpark.sf0001) == "exact")
    assert(LlmTextOps.pairSourceRoute(spark, TestSpark.sf001) == "exact")
    // the crossover itself: the route flips on the doc-count axis
    assert(LlmTextOps.PairSourceCrossoverDocs <= 500000L,
      "crossover must sit at or below the measured non-termination size")
  }

  test("triangle_count through the forced minhash source == exact") {
    val d = TestSpark.sf001
    def run(): Seq[String] =
      LlmTextOps.triangleCount(spark, d).collect().map(_.toString).toSeq
    val viaExact = run()
    spark.conf.set(LlmTextOps.PairSourceConf, "minhash")
    try {
      val viaMinhash = run()
      assert(viaMinhash == viaExact,
        "triangle_count must be identical through both pair sources")
    } finally spark.conf.unset(LlmTextOps.PairSourceConf)
  }

  test("component_stats and dedup_impact through the forced minhash source == exact") {
    val d = TestSpark.sf0001
    def run(q: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Seq[String] =
      q(spark, d).collect().map(_.toString).toSeq
    val statsExact = run(LlmTextOps.componentStats)
    val impactExact = run(LlmTextOps.dedupImpact)
    spark.conf.set(LlmTextOps.PairSourceConf, "minhash")
    try {
      assert(run(LlmTextOps.componentStats) == statsExact)
      assert(run(LlmTextOps.dedupImpact) == impactExact)
    } finally spark.conf.unset(LlmTextOps.PairSourceConf)
  }

  test("an invalid pair-source conf value fails loudly") {
    spark.conf.set(LlmTextOps.PairSourceConf, "bogus")
    try intercept[IllegalArgumentException] {
      LlmTextOps.dedupPairsRouted(spark, TestSpark.sf0001)
    } finally spark.conf.unset(LlmTextOps.PairSourceConf)
  }

  test("memoized silvers (components, substring runs, Lloyd codebook) == their uncached builds") {
    val d = TestSpark.sf0001
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(LlmTextOps.componentsRouted(spark, d)) ==
      rows(LlmTextOps.componentsFromPairs(spark,
        LlmTextOps.dedupPairsRouted(spark, d).select("i", "j"),
        pairsDistinct = true)))
    // sf0.001 sits far below the substring crossover: auto == exact
    assert(rows(LlmTextOps.substringRuns(spark, d)) ==
      rows(LlmTextOps.substringRunsUncached(spark, d)))
    val v = graft.operators.LlmVectorOps
    val e = v.withNorm(spark, graft.engine.Tables.embeddings(spark, d),
      "embedding", "norm")
    assert(rows(v.trainedCentroids(spark, d)) == rows((1 to 2)
      .foldLeft(v.seedCentroids(e))((c, _) => v.lloydStep(spark, e, c))))
    // second memoized call serves the SAME frame (no rebuild)
    assert(LlmTextOps.componentsRouted(spark, d)
      eq LlmTextOps.componentsRouted(spark, d))
  }
}

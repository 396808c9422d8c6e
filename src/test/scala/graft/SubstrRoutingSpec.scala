package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmTextOps

/** The substring ALIGNER's input routing (`spark.graft.substr.source`)
  * — the `dedupPairsRouted` precedent applied to the Lee et al.
  * ExactSubstr pipeline: past the doc-count crossover, window postings
  * are restricted to banded-MinHash candidate doc pairs BEFORE any
  * pair explode. These pins prove the banded input reproduces the
  * exact aligner bit-for-bit on the shipped corpora (where every
  * cross-doc run belongs to a high-Jaccard copy pair that cannot miss
  * all 8 bands), that the auto route sits on the exact side below the
  * crossover, and that the registered consumers
  * (`shared_substrings`, `dedup_substring_removal`, `dedup_cascade`)
  * carry a forced banded route to identical results.
  */
class SubstrRoutingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def forced[A](src: String)(body: => A): A = {
    spark.conf.set(LlmTextOps.SubstrSourceConf, src)
    try body finally spark.conf.unset(LlmTextOps.SubstrSourceConf)
  }

  test("banded substring runs == exact runs at sf0.001 and sf0.01") {
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val exact = forced("exact")(rows(LlmTextOps.substringRuns(spark, d)))
      val banded = forced("minhash")(rows(LlmTextOps.substringRuns(spark, d)))
      assert(exact.nonEmpty, s"vacuous pin at $d")
      assert(banded == exact,
        s"banded aligner input diverged from exact at $d: " +
          s"${banded.size} vs ${exact.size} runs")
    }
  }

  test("auto route picks the exact aligner below the crossover") {
    assert(LlmTextOps.substrSourceRoute(spark, TestSpark.sf0001) == "exact")
    assert(LlmTextOps.substrSourceRoute(spark, TestSpark.sf001) == "exact")
  }

  test("shared_substrings and dedup_substring_removal through the forced banded route == exact") {
    val d = TestSpark.sf001
    val reportExact = forced("exact")(
      LlmTextOps.sharedSubstrings(spark, d).collect().map(_.toString).toSeq)
    val removalExact = forced("exact")(
      rows(LlmTextOps.dedupSubstringRemoval(spark, d)))
    val reportBanded = forced("minhash")(
      LlmTextOps.sharedSubstrings(spark, d).collect().map(_.toString).toSeq)
    val removalBanded = forced("minhash")(
      rows(LlmTextOps.dedupSubstringRemoval(spark, d)))
    assert(removalExact.nonEmpty, "vacuous removal pin")
    assert(reportBanded == reportExact,
      "shared_substrings must be identical through both aligner inputs")
    assert(removalBanded == removalExact,
      "dedup_substring_removal must be identical through both inputs")
  }

  test("dedup_cascade through the forced banded substring route == exact") {
    val d = TestSpark.sf0001
    val viaExact = forced("exact")(
      LlmTextOps.dedupCascade(spark, d).collect().map(_.toString).toSeq)
    val viaBanded = forced("minhash")(
      LlmTextOps.dedupCascade(spark, d).collect().map(_.toString).toSeq)
    assert(viaBanded == viaExact,
      "the five-stage cascade must not see the aligner-input swap")
  }

  test("constructed corpus: banded route keeps the copy-pair spans and the accounting") {
    // the TextPipelineSpec span corpus, driven through the banded
    // route: the high-Jaccard pairs (B and D vs A) MUST survive
    // banding; F's low-Jaccard containment spans sit below the
    // banding odds by design — the documented recall trade — so the
    // pin here is the invariant set, not raw equality: banded runs
    // are a SUBSET of exact runs, and removal accounting still
    // reconstructs every affected doc
    import spark.implicits._
    val a = (1 to 60).map(i => s"a$i")
    val docs = Seq(
      (0L, a.mkString(" ")),
      (1L, (a.slice(4, 58) ++ (1 to 6).map(i => s"b$i")).mkString(" ")),
      (3L, a.mkString(" ")),
      (4L, (1 to 20).map(i => s"e$i").mkString(" "))
    ).map { case (id, text) => (id, text, "en", "srcT", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_substr_route").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val exact = forced("exact")(rows(LlmTextOps.substringRuns(spark, dir)))
      val banded = forced("minhash")(
        rows(LlmTextOps.substringRuns(spark, dir)))
      assert(banded.toSet.subsetOf(exact.toSet),
        "banded runs must be a subset of the exact aligner's")
      assert(banded == exact,
        "every constructed pair is a high-J copy pair — banding must " +
          "keep all of them")
      val removal = forced("minhash")(
        LlmTextOps.dedupSubstringRemoval(spark, dir).collect())
      assert(removal.nonEmpty)
      removal.foreach { r =>
        assert(r.getLong(2) + r.getLong(3) == r.getLong(1),
          s"removed + retained must reconstruct the doc: $r")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("an invalid substr-source conf value fails loudly") {
    spark.conf.set(LlmTextOps.SubstrSourceConf, "bogus")
    try intercept[IllegalArgumentException] {
      LlmTextOps.substringRuns(spark, TestSpark.sf0001)
    } finally spark.conf.unset(LlmTextOps.SubstrSourceConf)
  }

  test("banded memoized runs == uncached banded build, and routes memoize under distinct keys") {
    val d = TestSpark.sf0001
    val memo = forced("minhash")(rows(LlmTextOps.substringRuns(spark, d)))
    assert(rows(LlmTextOps.substringRunsBanded(spark, d)) == memo,
      "banded memo must equal its uncached build")
    // the two routes memoize under different keys: serving the banded
    // frame to an exact-route caller (or vice versa) would silently
    // swap semantics
    val viaExact = forced("exact")(LlmTextOps.substringRuns(spark, d))
    val viaBanded = forced("minhash")(LlmTextOps.substringRuns(spark, d))
    assert(!(viaExact eq viaBanded),
      "exact and banded routes must not share one memo entry")
  }
}

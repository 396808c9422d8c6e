package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmTextOps

/** The dedup-idempotence properties SURVEY §5 promises: running dedup
  * over its own output changes nothing.
  */
class DedupPropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("dedup_exact survivors carry pairwise-distinct texts (idempotence)") {
    val survivors = LlmTextOps.dedupExact(spark, sf)
      .select("doc_id")
    val texts = graft.engine.Tables.documents(spark, sf)
      .join(survivors, Seq("doc_id"))
      .select("text")
    // re-running exact dedup on the survivor set is a no-op iff every
    // surviving text is already unique
    assert(texts.count() == texts.distinct().count())
  }

  test("dedup_survivors contains no full near-dup pair (idempotence)") {
    val pairs = LlmTextOps.dedupNear(spark, sf).select("i", "j")
    val survivors = LlmTextOps.dedupSurvivors(spark, sf)
      .select(col("doc_id"))
    val inside = pairs
      .join(survivors.withColumnRenamed("doc_id", "i"), Seq("i"))
      .join(survivors.withColumnRenamed("doc_id", "j"), Seq("j"))
    // a pair fully inside the survivor set would mean a second dedup
    // pass still has work to do
    assert(inside.count() == 0)
  }

  test("prefix-filtered near-dup join equals the counted formulation exactly") {
    // dedupNearPrefix prunes candidate generation (AllPairs prefix
    // principle) but must emit the identical exact pair set — a
    // too-short prefix (e.g. the float-ceil bug the integer
    // arithmetic guards against) would silently DROP true pairs
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    for (d <- Seq(sf, TestSpark.sf001)) {
      val counted = rows(LlmTextOps.dedupNear(spark, d))
      val prefixed = rows(LlmTextOps.dedupNearPrefix(spark, d))
      assert(counted.nonEmpty)
      assert(prefixed == counted, s"diverged at $d")
    }
  }

  test("wide ids (>= 2^31) auto-fall-back to the struct pair form across the dedup family") {
    import spark.implicits._
    val base = 1L << 31 // first id the packed-long form cannot hold
    val tmp = java.nio.file.Files.createTempDirectory("graft-wide-ids").toString
    try {
      Seq(
        (base + 1, "alpha beta gamma delta epsilon", "en", "web", 30L),
        (base + 2, "alpha beta gamma delta epsilon", "en", "web", 30L), // dup of +1
        (5L,       "alpha beta gamma delta zeta",    "en", "web", 27L), // mixed-width id, J=0.5
        (base + 7, "totally different words entirely here", "en", "web", 37L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")

      assert(graft.engine.Pairs.needsWideForm(
        graft.engine.Tables.documents(spark, tmp), "doc_id"))
      assert(!graft.engine.Pairs.needsWideForm(
        graft.engine.Tables.documents(spark, sf), "doc_id"))

      // the packed form would throw IllegalArgumentException here
      val near = LlmTextOps.dedupNear(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(near.toSeq == Seq((base + 1, base + 2, 1.0)))
      val mh = LlmTextOps.dedupMinhash(spark, tmp)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(mh.toSeq == Seq((base + 1, base + 2)))

      // embedding path: two identical wide-id vectors must pair up
      val emb = Seq.tabulate(64)(i => (i % 7).toFloat / 7f)
      val embs = Seq((base + 3, emb), (base + 9, emb),
        (7L, emb.map(x => 1f - x)))
        .toDF("vec_id", "embedding")
      val blocked = graft.operators.LlmVectorOps
        .dedupEmbedBlockedFrom(spark, embs)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(blocked.contains((base + 3, base + 9)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("dedupNearAuto routes by corpus shingle stats and matches both forms") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    // this corpus sits below both crossovers (k̄ ≈ 50, estimated pair
    // stream ≪ 10M), so auto must pick the counted form and emit the
    // identical pair set
    assert(LlmTextOps.nearDupJoinForm(spark, sf) == "counted")
    assert(rows(LlmTextOps.dedupNearAuto(spark, sf)) ==
      rows(LlmTextOps.dedupNear(spark, sf)))
    // the second routing axis: with the pair-stream budget forced to
    // 1, the SAME corpus must route prefix (the corpus-size crossover
    // at ~10M estimated pairs; BASELINE.md, "Round-5 scale curve")
    assert(LlmTextOps.nearDupJoinForm(spark, sf, pairStreamBudget = 1L)
      == "prefix")

    // a long-document corpus (~150 distinct shingles/doc) crosses it:
    // auto must flip to the prefix form, still the same exact output
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-long-docs").toString
    try {
      val a = (0 until 150).map(i => s"tok$i").mkString(" ")
      val b = ((0 until 149).map(i => s"tok$i") :+ "changed").mkString(" ")
      val c = (0 until 150).map(i => s"other$i").mkString(" ")
      Seq((1L, a), (2L, b), (3L, c))
        .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      assert(LlmTextOps.nearDupJoinForm(spark, tmp) == "prefix")
      val auto = rows(LlmTextOps.dedupNearAuto(spark, tmp))
      assert(auto == rows(LlmTextOps.dedupNear(spark, tmp)))
      assert(auto == rows(LlmTextOps.dedupNearPrefix(spark, tmp)))
      assert(auto.map(t => (t._1, t._2)) == Seq((1L, 2L)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("a filtered narrow probe does not poison the wide-form cache for the full table") {
    import spark.implicits._
    val base = 1L << 31
    val tmp = java.nio.file.Files.createTempDirectory("graft-wide-cache").toString
    try {
      Seq((1L, "a"), (2L, "b"), (base + 5, "c"))
        .toDF("doc_id", "text")
        .write.parquet(s"$tmp/documents.parquet")
      val full = spark.read.parquet(s"$tmp/documents.parquet")
      // probe a narrow SUBSET of the same files first: were its
      // verdict cached under the file-root key, the full-table probe
      // below would reuse wide=false and take the packed path into
      // PackedPairs' mid-job crash
      assert(!graft.engine.Pairs.needsWideForm(
        full.where(col("doc_id") < base), "doc_id"))
      assert(graft.engine.Pairs.needsWideForm(full, "doc_id"))
      // and the cached full-table verdict stays correct on re-probe
      assert(graft.engine.Pairs.needsWideForm(full, "doc_id"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("component labels are idempotent: relabeling the star edges is a no-op") {
    val labeled = LlmTextOps.dedupComponents(spark, sf)
    val asPairs = labeled
      .where(col("doc_id") =!= col("component_id"))
      .select(col("component_id").as("i"), col("doc_id").as("j"))
    val relabeled = LlmTextOps.componentsFromPairs(spark, asPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val original = labeled
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relabeled == original)
  }

  test("decontaminate_fuzzy: sides are correct and scores agree with the calibration slice") {
    val s = spark
    val bench = Set("src0", "src1", "src2", "src3")
    val srcOf = graft.engine.Tables.documents(s, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = LlmTextOps.decontaminateFuzzy(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "fixture should contain fuzzy contamination")
    // every flagged doc is corpus-side, every best match benchmark-side
    got.foreach { case (docId, _, benchId, j) =>
      assert(!bench.contains(srcOf(docId)), s"doc $docId is benchmark-side")
      assert(bench.contains(srcOf(benchId)), s"bench $benchId is corpus-side")
      assert(j >= 0.5)
    }
    // the reported best-match jaccard is exactly the calibration
    // slice's exact jaccard for that candidate pair
    val cal = LlmTextOps.minhashCalibration(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    got.foreach { case (docId, _, benchId, j) =>
      val key = if (docId < benchId) (docId, benchId) else (benchId, docId)
      assert(cal(key) == j, s"pair $key")
    }
    // n_bench_matches counts exactly the >= 0.5 cross-side candidates
    val crossCount = cal.toSeq.map { case ((i, jj), jac) =>
      val bi = bench.contains(srcOf(i)); val bj = bench.contains(srcOf(jj))
      if (bi != bj && jac >= 0.5) Some(if (bi) jj else i) else None
    }.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    got.foreach { case (docId, n, _, _) =>
      assert(crossCount(docId) == n, s"doc $docId match count")
    }
  }
}

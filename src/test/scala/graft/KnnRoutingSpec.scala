package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmVectorOps

/** The kNN edge substrate's source routing (`spark.graft.knn.source`):
  * the IVF candidate route re-ranks with the SAME (r6 score desc, id
  * asc) total order as the exact compiled scan, so whenever every
  * inverted list is probed the routed edges must be IDENTICAL — the
  * full-probe pin proves the candidate-join + re-rank machinery is
  * exact, isolating the route's only approximation in list recall.
  * On the shipped ISOTROPIC fixture vectors partial-probe recall is
  * poor BY MEASUREMENT (18% at nprobe=1, sf0.1 — no sublinear
  * candidate source does better on clusterless data), which is why
  * auto pins small corpora to the exact scan; the clustered-corpus
  * recall story is in BASELINE.md's "Round 11" and "Round 12" routed
  * kNN tables.
  */
class KnnRoutingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edges(d: String): Seq[(Long, Long)] =
    LlmVectorOps.knnEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("full-probe ivf == exact edge set at sf0.001 and sf0.01", SlowTest) {
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val exact = edges(d)
      assert(exact.nonEmpty, s"vacuous pin at $d")
      spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
      spark.conf.set(LlmVectorOps.KnnNprobeConf, "1000000")
      try {
        assert(edges(d) == exact,
          s"full-probe ivf edges diverged from exact at $d")
      } finally {
        spark.conf.unset(LlmVectorOps.KnnSourceConf)
        spark.conf.unset(LlmVectorOps.KnnNprobeConf)
      }
    }
  }

  test("auto routes exact below the vector-count crossover") {
    assert(LlmVectorOps.knnSourceRoute(spark, TestSpark.sf0001) == "exact")
    assert(LlmVectorOps.knnSourceRoute(spark, TestSpark.sf001) == "exact")
    assert(LlmVectorOps.knnSourceRoute(spark, TestSpark.sf01) == "exact")
  }

  test("default-nprobe ivf edges keep the contract shape") {
    val d = TestSpark.sf001
    spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
    try {
      val e = edges(d)
      val n = graft.engine.Tables.embeddings(spark, d).count()
      // every vector emits edges (its own list alone holds candidates)
      assert(e.map(_._1).distinct.size.toLong == n)
      // out-degree is at most 3 and no self-loops
      assert(e.groupBy(_._1).valuesIterator.forall(_.size <= 3))
      assert(e.forall { case (s0, d0) => s0 != d0 })
    } finally spark.conf.unset(LlmVectorOps.KnnSourceConf)
  }

  test("graph consumers through the full-probe ivf route == exact") {
    val d = TestSpark.sf0001
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val prExact = rows(LlmVectorOps.pagerankDocs(spark, d))
    val hitsExact = rows(LlmVectorOps.hitsScores(spark, d))
    spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
    spark.conf.set(LlmVectorOps.KnnNprobeConf, "1000000")
    try {
      assert(rows(LlmVectorOps.pagerankDocs(spark, d)) == prExact)
      assert(rows(LlmVectorOps.hitsScores(spark, d)) == hitsExact)
    } finally {
      spark.conf.unset(LlmVectorOps.KnnSourceConf)
      spark.conf.unset(LlmVectorOps.KnnNprobeConf)
    }
  }

  test("an invalid knn-source conf value fails loudly") {
    spark.conf.set(LlmVectorOps.KnnSourceConf, "bogus")
    try intercept[IllegalArgumentException] {
      LlmVectorOps.knnEdges(spark, TestSpark.sf0001).collect()
    } finally spark.conf.unset(LlmVectorOps.KnnSourceConf)
  }

  test("an invalid knn-codebook conf value fails loudly") {
    spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
    spark.conf.set(LlmVectorOps.KnnCodebookConf, "bogus")
    try intercept[IllegalArgumentException] {
      LlmVectorOps.knnEdges(spark, TestSpark.sf0001).collect()
    } finally {
      spark.conf.unset(LlmVectorOps.KnnSourceConf)
      spark.conf.unset(LlmVectorOps.KnnCodebookConf)
    }
  }

  test("trained-codebook full-probe ivf == exact edge set", SlowTest) {
    val d = TestSpark.sf0001
    val exact = edges(d)
    spark.conf.set(LlmVectorOps.KnnSourceConf, "ivf")
    spark.conf.set(LlmVectorOps.KnnNprobeConf, "1000000")
    spark.conf.set(LlmVectorOps.KnnCodebookConf, "trained")
    try {
      assert(edges(d) == exact,
        "trained-codebook full-probe ivf edges diverged from exact")
    } finally {
      spark.conf.unset(LlmVectorOps.KnnSourceConf)
      spark.conf.unset(LlmVectorOps.KnnNprobeConf)
      spark.conf.unset(LlmVectorOps.KnnCodebookConf)
    }
  }

  test("stored edge silver serves identically; bad fingerprint falls back") {
    val d = TestSpark.sf0001
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val exactEdges = edges(d)
    val prExact = rows(LlmVectorOps.pagerankDocs(spark, d))
    val base = java.nio.file.Files
      .createTempDirectory("graft_knn_edges").toString
    val corpusDir = new java.io.File(base, new java.io.File(d).getName)
    graft.pipeline.CorpusSilver.writeKnnEdges(spark, d,
      corpusDir.toString)
    spark.conf.set(LlmVectorOps.KnnEdgesDirConf, base)
    try {
      // served results equal the inline build, and the plan proves
      // the edges really come from the silver scan
      assert(edges(d) == exactEdges, "served edges diverged from inline")
      assert(rows(LlmVectorOps.pagerankDocs(spark, d)) == prExact,
        "served pagerank diverged from inline")
      val plan = LlmVectorOps.knnEdges(spark, d)
        .queryExecution.executedPlan.toString
      assert(plan.contains(base),
        s"expected a silver scan in the served plan:\n$plan")
      // a corrupted fingerprint must fall back to the inline build —
      // never serve an unverified edge set
      val fp = new java.io.File(corpusDir,
        LlmVectorOps.CorpusFingerprintFile)
      java.nio.file.Files.write(fp.toPath,
        "/not/the/corpus\n0".getBytes("UTF-8"))
      assert(edges(d) == exactEdges, "fallback edges diverged")
      val planAfter = LlmVectorOps.knnEdges(spark, d)
        .queryExecution.executedPlan.toString
      assert(!planAfter.contains(base),
        s"fingerprint mismatch still served the silver:\n$planAfter")
    } finally spark.conf.unset(LlmVectorOps.KnnEdgesDirConf)
  }

  // ---- incremental silver (KnnIncremental) -------------------------

  import org.apache.spark.sql.functions.col
  import graft.operators.KnnIncremental

  private def vecs(d: String): DataFrame =
    graft.engine.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))

  private def servedSet(dir: String): Set[(Long, Long)] =
    KnnIncremental.servedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def tmp(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
    p.toString
  }

  test("incremental append == rebuild at PARTIAL probe (same stored codebook)") {
    // exactness is NOT the claim at nprobe=2 on the isotropic fixture
    // — append/rebuild PARITY is: growing the silver one batch at a
    // time must land exactly where a one-shot build over the full
    // corpus with the SAME frozen codebook lands, at any probe depth
    val d = TestSpark.sf0001
    val e = vecs(d)
    val prefix = e.where(col("vec_id") <= 399L)
    val batch = e.where(col("vec_id") > 399L)
    val incrDir = tmp("graft_incr_partial")
    KnnIncremental.build(spark, prefix, incrDir, nprobe = 2)
    KnnIncremental.append(spark, incrDir, batch, epoch = 1L)
    val rebuiltDir = tmp("graft_incr_rebuild")
    KnnIncremental.build(spark, e, rebuiltDir, nprobe = 2,
      cents = Some(spark.read.parquet(s"$incrDir/centroids.parquet")))
    val got = servedSet(incrDir)
    assert(got.nonEmpty, "vacuous parity pin")
    assert(got == servedSet(rebuiltDir),
      "append-then-serve diverged from the same-codebook rebuild")
  }

  test("append never re-trains: centroids bit-stable across appends") {
    val d = TestSpark.sf0001
    val e = vecs(d)
    val dir = tmp("graft_incr_frozen")
    KnnIncremental.build(spark, e.where(col("vec_id") <= 399L), dir,
      nprobe = 2)
    def book: Set[String] = spark.read
      .parquet(s"$dir/centroids.parquet")
      .collect().map(_.toString).toSet
    val before = book
    assert(before.nonEmpty)
    KnnIncremental.append(spark, dir,
      e.where(col("vec_id") > 399L), epoch = 1L)
    assert(book == before, "an append modified the stored codebook")
  }

  test("a replayed append epoch is idempotent") {
    // the foreachBatch at-least-once contract (S29): re-running the
    // same epoch overwrites its own dirs and reads only epoch < N
    // state, so the silver after a replay is byte-for-byte the same
    val d = TestSpark.sf0001
    val e = vecs(d)
    val dir = tmp("graft_incr_replay")
    KnnIncremental.build(spark, e.where(col("vec_id") <= 399L), dir,
      nprobe = 2)
    val batch = e.where(col("vec_id") > 399L)
    KnnIncremental.append(spark, dir, batch, epoch = 1L)
    val once = servedSet(dir)
    KnnIncremental.append(spark, dir, batch, epoch = 1L)
    assert(servedSet(dir) == once, "replaying epoch 1 changed the silver")
  }

  test("compaction folds the epoch chain without changing the served edges") {
    val d = TestSpark.sf0001
    val e = vecs(d)
    val dir = tmp("graft_incr_compact")
    KnnIncremental.build(spark, e.where(col("vec_id") <= 299L), dir,
      nprobe = 2)
    KnnIncremental.append(spark, dir,
      e.where(col("vec_id") > 299L && col("vec_id") <= 399L), epoch = 1L)
    KnnIncremental.append(spark, dir,
      e.where(col("vec_id") > 399L), epoch = 2L)
    val before = servedSet(dir)
    KnnIncremental.compact(spark, dir)
    assert(servedSet(dir) == before, "compaction changed the served edges")
    // the chain really folded: one epoch dir remains
    val epochDirs = new java.io.File(s"$dir/edges").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochDirs.length == 1,
      s"expected one epoch after compaction: ${epochDirs.mkString(",")}")
  }

  test("multi-batch appends == one-batch append (same codebook)") {
    // epoch composition: two consecutive batches must land where the
    // union batch lands — the property the streaming maintainer leans
    // on when micro-batch boundaries are arbitrary
    val d = TestSpark.sf0001
    val e = vecs(d)
    val prefix = e.where(col("vec_id") <= 299L)
    val dirA = tmp("graft_incr_two")
    KnnIncremental.build(spark, prefix, dirA, nprobe = 2)
    KnnIncremental.append(spark, dirA,
      e.where(col("vec_id") > 299L && col("vec_id") <= 399L), epoch = 1L)
    KnnIncremental.append(spark, dirA,
      e.where(col("vec_id") > 399L), epoch = 2L)
    val dirB = tmp("graft_incr_one")
    KnnIncremental.build(spark, prefix, dirB, nprobe = 2,
      cents = Some(spark.read.parquet(s"$dirA/centroids.parquet")))
    KnnIncremental.append(spark, dirB,
      e.where(col("vec_id") > 299L), epoch = 1L)
    assert(servedSet(dirA) == servedSet(dirB),
      "two-batch growth diverged from the one-batch union append")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Shingle3

/** Shingle3 native expression: byte-exact equivalence with the
  * declarative array_distinct(transform(...)) form it replaces.
  */
class TextExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def declarative = array_distinct(expr(
    """transform(sequence(0, size(toks) - 3),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))

  test("Shingle3 equals the declarative HOF form on random token arrays") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("the", "a", "fox", "dog", "jumps", "data", "spark", "x1")
    val rows = (0 until 300).map { i =>
      // lengths 3..40, heavy repetition so array_distinct has real work
      i.toLong -> Seq.fill(3 + rnd.nextInt(38))(vocab(rnd.nextInt(vocab.size)))
    }
    val df = rows.toDF("id", "toks")
    val both = df.select(col("id"),
        Shingle3.shingle3(spark, col("toks")).as("native"),
        declarative.as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
  }

  test("Shingle3 yields an empty array below 3 tokens") {
    val df = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"))
      .toDF("toks")
    val out = df.select(Shingle3.shingle3(spark, col("toks")).as("s"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out.toList == List(Nil, Nil, Nil, List("a b c")))
  }

  test("PairCombinations equals the declarative flatten/transform form") {
    val rnd = new scala.util.Random(17)
    // sizes >= 2 only: the declarative form ANSI-throws on smaller
    // arrays (descending sequence + ds[i]) — production always
    // filters size > 1 before pair generation
    val rows = (0 until 100).map { i =>
      i.toLong -> Seq.fill(2 + rnd.nextInt(10))(rnd.nextLong()).sorted
    }
    val df = rows.toDF("id", "ds")
    val both = df.select(col("id"),
        graft.functions.PairCombinations.pairs(spark, col("ds")).as("native"),
        expr("""flatten(transform(sequence(0, size(ds) - 2),
                 i -> transform(sequence(i + 1, size(ds) - 1),
                                j -> struct(ds[i] AS i, ds[j] AS j))))""")
          .as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](1)
        == r.getSeq[org.apache.spark.sql.Row](2), s"id=${r.getLong(0)}")
    }
    // native form is total: empty pairs below 2 elements, no throw
    val tiny = Seq(0L -> Seq.empty[Long], 1L -> Seq(7L)).toDF("id", "ds")
      .select(graft.functions.PairCombinations.pairs(spark, col("ds")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).length).toSeq
    assert(tiny == Seq(0, 0))
  }

  test("Bigrams equals the declarative HOF form") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("the", "a", "fox", "dog", "jumps", "data", "東京")
    val rows = (0 until 200).map { i =>
      i.toLong -> Seq.fill(2 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    }
    rows.toDF("id", "toks")
      .select(col("id"),
        graft.functions.Bigrams.bigrams(spark, col("toks")).as("native"),
        array_distinct(expr(
          """transform(sequence(0, size(toks) - 2),
                       i -> concat_ws(' ', toks[i], toks[i+1]))""")).as("hof"))
      .collect()
      .foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
      }
    // below 2 tokens: empty, no throw
    val tiny = Seq(Seq.empty[String], Seq("a")).toDF("toks")
      .select(graft.functions.Bigrams.bigrams(spark, col("toks")).as("b"))
      .collect().map(_.getSeq[String](0).length).toSeq
    assert(tiny == Seq(0, 0))
  }

  test("ShingleHash3 equals xxhash64 over the Shingle3 string set") {
    val rnd = new scala.util.Random(23)
    // multi-byte UTF-8 tokens included: the hash must agree with SQL
    // xxhash64 on the raw bytes, not only on ASCII
    val vocab = Vector("the", "a", "fox", "dog", "jumps", "data", "spark",
      "x1", "naïve", "東京", "µs", "🦊")
    val rows = (0 until 200).map { i =>
      i.toLong -> Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
    }
    val df = rows.toDF("id", "toks")
    // reference: xxhash64 over the pinned Shingle3 string set
    val strs = df.select(col("id"),
        Shingle3.shingle3(spark, col("toks")).as("shs"))
      .select(col("id"), expr("transform(shs, sh -> xxhash64(sh))").as("hh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    df.select(col("id"),
        graft.functions.ShingleHash3.shingleHash3(spark, col("toks")).as("hs"))
      .collect()
      .foreach { r =>
        assert(r.getSeq[Long](1) == strs(r.getLong(0)), s"id=${r.getLong(0)}")
      }
  }

  test("PackedPairs equals PairCombinations on packed sorted ids") {
    val rnd = new scala.util.Random(29)
    val rows = (0 until 100).map { i =>
      // unsorted ids in [0, 2^31): PackedPairs sorts internally
      i.toLong -> Seq.fill(2 + rnd.nextInt(10))(rnd.nextInt(Int.MaxValue).toLong)
    }
    val df = rows.toDF("id", "ds")
    df.select(col("id"),
        graft.functions.PackedPairs.packedPairs(spark, col("ds")).as("packed"),
        graft.functions.PairCombinations.pairs(
          spark, sort_array(col("ds"))).as("structs"))
      .collect()
      .foreach { r =>
        val packed = r.getSeq[Long](1)
        val structs = r.getSeq[org.apache.spark.sql.Row](2)
          .map(p => (p.getLong(0) << 32) | p.getLong(1))
        assert(packed == structs, s"id=${r.getLong(0)}")
      }
    // fail-fast outside the 31-bit id space
    val wide = Seq(0L -> Seq(1L, 1L << 40)).toDF("id", "ds")
    val ex = intercept[Exception] {
      wide.select(
        graft.functions.PackedPairs.packedPairs(spark, col("ds"))).collect()
    }
    assert(ex.getMessage.contains("graft_packed_pairs"))
  }

  test("CountInSet equals the declarative size(filter(IN)) form") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("the", "a", "of", "and", "to", "in", "fox", "dog",
      "data", "x", "", "THE")
    val rows = (0 until 200).map { i =>
      i.toLong -> Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    }
    val df = rows.toDF("id", "toks")
    val both = df.select(col("id"),
        graft.functions.CountInSet.countInSet(spark, col("toks"),
          Seq("the", "a", "of", "and", "to", "in")).as("native"),
        expr("size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))")
          .as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)}")
    }
  }

  test("graft expressions compile under codegen with fallback disabled") {
    // codegen compile failures normally only WARN and silently fall
    // back to interpreted execution (round-2 gotcha: colliding local
    // names between two instances in one stage). fallback=false makes
    // any such failure throw. Two instances of each expression share
    // one projection to exercise exactly the collision case.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = graft.engine.Tables.documents(spark, TestSpark.sf0001)
        .withColumn("toks", split(col("text"), " "))
        .where(size(col("toks")) >= 3)
      docs.select(
        graft.functions.Shingle3.shingle3(spark, col("toks")).as("a"),
        graft.functions.Shingle3.shingle3(spark, reverse(col("toks"))).as("b"),
        graft.functions.ShingleHash3.shingleHash3(spark, col("toks")).as("c"),
        graft.functions.ShingleHash3.shingleHash3(spark, reverse(col("toks"))).as("d"),
        graft.functions.CountInSet.countInSet(spark, col("toks"),
          Seq("the", "a")).as("e"),
        graft.functions.CountInSet.countInSet(spark, col("toks"),
          Seq("of", "to")).as("f"))
        .collect()
      val ids = docs.select(col("doc_id")).limit(6)
        .agg(collect_list(col("doc_id")).as("ds"))
      ids.select(
        graft.functions.PairCombinations.pairs(spark, sort_array(col("ds"))).as("p1"),
        graft.functions.PackedPairs.packedPairs(spark, col("ds")).as("p2"),
        graft.functions.PackedPairs.packedPairs(spark,
          slice(col("ds"), 1, 3)).as("p3"))
        .collect()
      docs.select(
        graft.functions.IntersectCount.intersectCount(spark,
          graft.functions.ShingleHash3.shingleHash3(spark, col("toks")),
          graft.functions.ShingleHash3.shingleHash3(spark,
            reverse(col("toks")))).as("g"),
        graft.functions.IntersectCount.intersectCount(spark,
          graft.functions.ShingleHash3.shingleHash3(spark, col("toks")),
          graft.functions.ShingleHash3.shingleHash3(spark,
            col("toks"))).as("h"))
        .collect()
      // both exact dedup pipelines end-to-end under strict codegen
      graft.operators.LlmTextOps.dedupNear(spark, TestSpark.sf0001).collect()
      graft.operators.LlmTextOps.dedupNearPrefix(spark, TestSpark.sf0001)
        .collect()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("Shingle3 on the documents table matches the HOF form end-to-end") {
    val docs = graft.engine.Tables.documents(spark, TestSpark.sf0001)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
    val diff = docs.select(col("doc_id"),
        Shingle3.shingle3(spark, col("toks")).as("native"),
        declarative.as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("long-array expressions reject narrower element types at analysis time") {
    // the expressions read 8-byte array slots directly; an INT32 id
    // column (e.g. an externally written silver table) must fail
    // analysis loudly, not read misaligned data
    GraftSession.registerAll(spark)
    for (sql <- Seq(
        "SELECT graft_packed_pairs(array(1, 2))",
        "SELECT graft_pairs(array(1, 2))",
        "SELECT graft_intersect_count(array(1L), array(1))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getMessage.contains("array<bigint>"), s"$sql: ${e.getMessage}")
    }
  }

  test("PortableMinHash16 equals the interpreted HOF signature chain") {
    // the exact SQL formulation dedup_minhash_portable used before the
    // kernel was compiled (and which the DuckDB oracle still replays):
    // distinct 3-shingle combine, then per-perm aggregate-min — the
    // native twin must be byte-equal including the no-distinct
    // shortcut (min over duplicates == min over the distinct set) and
    // the 2⁶³−1 seed for shingle-free arrays
    val hof = expr(
      s"""transform(sequence(0, 15), m ->
            aggregate(
              array_distinct(transform(sequence(0, size(th) - 3),
                i -> (th[i] * 131 + th[i + 1]) * 131 + th[i + 2])),
              9223372036854775807L,
              (acc, h) -> least(acc,
                ((2 * m + 3) * h + 7 * m + 1) % 1000000000037L)))""")
    val rnd = new scala.util.Random(23)
    // token-hash range matches production: ascii ≤ 0x10FFFF so
    // th ≤ ~1.9e10; include heavy duplication and the minimum length
    val rows = (0 until 200).map { i =>
      i.toLong -> Seq.fill(3 + rnd.nextInt(60))(
        rnd.nextLong(19000000000L))
    }
    val both = rows.toDF("id", "th")
      .select(col("id"),
        graft.functions.PortableMinHash16
          .minhash16Portable(spark, col("th")).as("native"),
        hof.as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("PortableMinHash16 yields the seed signature below 3 hashes") {
    val out = Seq(Seq.empty[Long], Seq(1L), Seq(1L, 2L))
      .toDF("th")
      .select(graft.functions.PortableMinHash16
        .minhash16Portable(spark, col("th")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    out.foreach { sig =>
      assert(sig == Seq.fill(16)(Long.MaxValue))
    }
  }

  test("PortableTokenHash equals the interpreted ascii/reverse/length chain") {
    // the SQL formulation both portable-signature rows fed their
    // kernels before this was compiled (and which the DuckDB oracles
    // still replay). Adversarial set: empty token, 1-char ASCII,
    // Latin-1 (é, ÿ), BMP CJK, supplementary-plane emoji (surrogate
    // pair — code-point ascii, code-point length, code-point-aware
    // reverse are all load-bearing), mixed-script multi-char tokens
    val hof = expr(
      """transform(toks, t -> CAST(ascii(t) AS BIGINT) * 17161
                              + CAST(ascii(reverse(t)) AS BIGINT) * 131
                              + length(t))""")
    val adversarial = Seq(
      Seq("", "a", "Z", "the", "spark"),
      Seq("é", "ÿ", "éx", "xé"),
      Seq("中", "中文", "x中y"),
      Seq("😀", "😀x", "x😀", "a😀b"),
      Seq("mixed中é😀", "😀😀😀"))
    val rnd = new scala.util.Random(29)
    val vocab = Vector("the", "a", "fox", "é", "中文", "😀ab", "x😀")
    val rows = adversarial ++ Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))))
    val both = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "toks")
      .select(col("id"),
        graft.functions.PortableTokenHash
          .tokenHashPortable(spark, col("toks")).as("native"),
        hof.as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("IntersectCount equals reference set intersection on random arrays") {
    val rnd = new scala.util.Random(31)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(5L, 1L, 9L), Seq(9L, 5L, 1L)), // same set, different order
      (Seq(1L, 2L), Seq(3L, 4L))) ++
      Seq.fill(15) {
        def set() = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(60).toLong)
          .distinct
        (set(), set())
      }
    val got = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "a", "b")
      .select(col("id"), graft.functions.IntersectCount
        .intersectCount(spark, col("a"), col("b")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i) == (a.toSet & b.toSet).size, s"case $i: $a vs $b")
    }
  }
}

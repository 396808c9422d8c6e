package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate for the extensions entry point: a session whose ONLY
  * registration path is `spark.sql.extensions=graft.GraftExtensions`
  * must resolve every graft SQL function. Round 2 shipped a bug where
  * the per-family register() guards short-circuited on a sibling name
  * the extension had injected, leaving graft_pairs / graft_count_in_set
  * unresolvable exactly (and only) on the canonical GraftSession path —
  * tests and Bench built plain sessions, so nothing caught it.
  *
  * The raw-SQL assertions here run against a FRESH session (fresh
  * function registry) before any Scala helper gets a chance to patch
  * the registry imperatively, so they gate the injection list itself.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val base = TestSpark.spark // materialize the shared SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-extensions-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the config-string form (`spark.sql.extensions`) is a STATIC
      // conf read from the SparkContext, so it cannot apply on this
      // shared test context; withExtensions() runs the exact same
      // GraftExtensions.apply, which is what this spec gates
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("extensions-only session resolves the complete graft function set via SQL") {
    withExtensionsSession { s =>
      val row = s.sql(
        """SELECT
          |  graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
          |            array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
          |  graft_simhash64(array(1L, 1L, 2L)) AS sh,
          |  graft_shingle3(array('a', 'b', 'c', 'd')) AS g3,
          |  graft_minhash32_arr(array('a', 'b')) AS mh,
          |  graft_pairs(array(1L, 2L, 3L)) AS prs,
          |  graft_count_in_set(array('a', 'b', 'a'), array('a')) AS cis,
          |  graft_shingle_hash3(array('a', 'b', 'c')) AS sh3,
          |  graft_packed_pairs(array(2L, 1L)) AS pp,
          |  graft_bigrams(array('a', 'b', 'c')) AS bg,
          |  graft_byte_stats(encode('ab', 'UTF-8')) AS bs,
          |  graft_intersect_count(array(3L, 1L, 2L), array(2L, 9L, 1L)) AS ic
          |""".stripMargin).head()
      assert(row.getDouble(0) == 1.5 * 2.0 + 2.0 * 0.5)
      // bits present in >half the inputs survive: 1L twice, 2L once
      assert(row.getLong(1) == 1L)
      assert(row.getSeq[String](2) == Seq("a b c", "b c d"))
      assert(row.getSeq[Long](3).length == 32)
      assert(row.getSeq[org.apache.spark.sql.Row](4).map(r =>
        (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      assert(row.getInt(5) == 2)
      assert(row.getSeq[Long](6).length == 1)
      assert(row.getSeq[Long](7) == Seq((1L << 32) | 2L))
      assert(row.getSeq[String](8) == Seq("a b", "b c"))
      val bs = row.getStruct(9)
      assert(bs.getInt(0) == 2 && bs.getLong(1) == 'a'.toLong + 'b'.toLong)
      assert(bs.getSeq[Int](2) == Seq('a'.toInt, 'b'.toInt))
      assert(row.getInt(10) == 2) // {3,1,2} ∩ {2,9,1}

      // the aggregate form injects too
      val agg = s.sql(
        "SELECT graft_minhash32(h) AS sig FROM VALUES (1L), (2L), (3L) AS t(h)")
        .head().getSeq[Long](0)
      assert(agg.length == 32)

      // gram aggregate: one 2-d vector (1, 2) ⇒ n=1, nano-unit sums
      val gram = s.sql(
        """SELECT graft_gram_agg(v) AS g FROM VALUES
          |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS t(v)"""
          .stripMargin).head().getStruct(0)
      assert(gram.getLong(0) == 1L)
      assert(gram.getSeq[Long](1) == Seq(1000000000L, 2000000000L))
      assert(gram.getSeq[org.apache.spark.sql.Row](2).map(c =>
        (c.getInt(0), c.getInt(1), c.getLong(2)))
        == Seq((0, 0, 1000000000L), (0, 1, 2000000000L), (1, 1, 4000000000L)))

      // bloom pair: a built filter recognizes its members and rejects
      // an absent digest (the sketch side must be a constant or scalar
      // subquery — Spark's might_contain contract)
      val bloom = s.sql(
        """SELECT
          |  graft_bloom_might_contain(
          |    (SELECT graft_bloom_agg(h, 1000L, 8000L)
          |     FROM VALUES (1L), (2L) AS t(h)), 1L),
          |  graft_bloom_might_contain(
          |    (SELECT graft_bloom_agg(h, 1000L, 8000L)
          |     FROM VALUES (1L), (2L) AS t(h)), 99L)"""
          .stripMargin).head()
      assert(bloom.getBoolean(0) && !bloom.getBoolean(1))
    }
  }

  test("extension injection and imperative registerAll expose the same function set") {
    // the round-2 bug class was drift between the two registration
    // paths; pin them equal so adding a function to one without the
    // other fails here
    def graftNames(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val injected = withExtensionsSession(graftNames)
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder()
      .master("local[2]").appName("graft-regall-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      GraftSession.registerAll(fresh)
      val registered = graftNames(fresh)
      assert(registered == injected,
        s"drift: only-imperative=${registered -- injected} " +
          s"only-injected=${injected -- registered}")
      assert(injected.nonEmpty)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("every table entry resolves and rejects a wrong arity with its usage, on both install paths") {
    // one function table feeds both paths, so each entry must behave
    // the same whichever path installed it: resolvable by name, and a
    // bad call fails with the usage text instead of an index error
    def check(path: String, s: SparkSession): Unit = {
      for (f <- graft.functions.GraftFunctions.all) {
        assert(s.catalog.functionExists(f.name), s"$path: ${f.name} unresolved")
        val tooMany = Seq.fill(f.arity + 1)("NULL")
          .mkString(s"SELECT ${f.name}(", ", ", ")")
        val e = intercept[Exception](s.sql(tooMany).collect())
        assert(e.getMessage.contains(f.usage),
          s"$path: $tooMany failed without the usage text: ${e.getMessage}")
      }
      // plan-time integer arguments must be constants
      for ((q, usage) <- Seq(
          "SELECT graft_mg(id, id) FROM range(3)" -> "graft_mg(key, capacity)",
          "SELECT graft_topk(CAST(id AS DOUBLE), id, id) FROM range(3)" ->
            "graft_topk(score, id, k)")) {
        val e = intercept[Exception](s.sql(q).collect())
        assert(e.getMessage.contains(usage),
          s"$path: $q failed without the usage text: ${e.getMessage}")
      }
    }
    withExtensionsSession(check("extensions", _))
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder()
      .master("local[2]").appName("graft-regall-arity-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      assert(!fresh.catalog.functionExists("graft_dot"),
        "a plain session must start without graft functions")
      GraftSession.registerAll(fresh)
      check("registerAll", fresh)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("previously-broken operators run end-to-end on the extensions session") {
    withExtensionsSession { s =>
      // each of these resolved to an undefined function under the
      // round-2 shared-guard bug (graft_pairs / graft_count_in_set)
      for (q <- Seq("dedup_near", "dedup_survivors", "corpus_filter",
                    "lang_id", "text_quality", "dedup_embed_blocked")) {
        val n = SparkEntry.queries(q)(s, TestSpark.sf0001).count()
        assert(n > 0, s"$q returned no rows on the extensions session")
      }
    }
  }
}

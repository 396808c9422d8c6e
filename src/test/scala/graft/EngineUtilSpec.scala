package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Skew

/** Skew utilities + SQL extension registration. */
class EngineUtilSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin == plain join on skewed data") {
    // one hot key carrying 90% of rows
    val big = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", 1.0), ("k901", 2.0), ("k950", 3.0))
      .toDF("key", "w")
    val plain = big.join(small, Seq("key"))
      .select("key", "v", "w").collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(big, small, "key", factor = 8)
      .select("key", "v", "w").collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
    assert(plain.size == 902)
  }

  test("salted join_skew_salted projection spreads the hot user across all 8 buckets") {
    // regression: salting hashes all big-side columns, so a projection
    // of only (user_id, event_type) collapses the hot user into
    // #event_types buckets; the query feeds event_id as entropy
    val ev = graft.engine.Tables.events(spark, TestSpark.sf0001)
      .select(col("user_id"), col("event_type"), col("event_id"))
    val hot = ev.groupBy(col("user_id")).count()
      .orderBy(col("count").desc).first().getLong(0)
    val buckets = ev.where(col("user_id") === hot)
      .withColumn("_salt",
        pmod(xxhash64(struct(col("user_id"), col("event_type"),
          col("event_id"))), lit(8L)))
      .select("_salt").distinct().count()
    assert(buckets == 8L,
      s"hot user landed in $buckets/8 salt buckets — spread collapsed")
  }

  test("AQE skew-join splits the hot partition on the unsalted join") {
    // The other half of the skew story: for shuffle joins AQE's
    // OptimizeSkewedJoin handles hot keys at runtime with no code
    // change — manual salting (above) remains for patterns AQE can't
    // touch (aggregations, broadcast-incompatible buildsides). Shrink
    // the thresholds so the tiny fixture triggers the same machinery a
    // 100 TB hot key would.
    val confs = Seq(
      // pin the partition count: a prior suite may have stamped a
      // different value onto the shared session, and skew detection
      // needs several partitions for a meaningful median
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 100
      val big = (1 to 20000)
        .map(i => (if (i % 10 != 0) "hot" else s"k$i", s"$pad$i"))
        .toDF("key", "payload")
      val small = (1 to 2000).map(i => (s"k$i", i)).toDF("key", "w")
        .union(Seq(("hot", 0)).toDF("key", "w"))
      val joined = big.join(small, Seq("key"))
      // collect() executes joined's OWN query execution (count() would
      // plan a separate query and leave this one un-finalized)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("heavyHitters surfaces the hot key first") {
    val big = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("key", "v")
    val top = Skew.heavyHitters(big, col("key"), 3).collect()
    assert(top.head.getString(0) == "hot" && top.head.getLong(1) == 900L)
  }

  test("GraftExtensions exposes graft_dot / graft_simhash64 to SQL") {
    val base = TestSpark.spark
    // getOrCreate returns the active session (extensions silently
    // skipped) unless both active and default are cleared first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val d = s2.sql(
        """SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
                            CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d""")
        .collect().head.getDouble(0)
      assert(d == 11.0)
      val h = s2.sql(
        "SELECT graft_simhash64(array(CAST(-1 AS BIGINT))) AS h")
        .collect().head.getLong(0)
      assert(h == -1L) // single all-ones hash -> all bits set
    } finally {
      // newSession-style shared context: don't stop the JVM-wide SC
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("Pairs: wide and narrow forms emit identical pair sets on narrow ids") {
    // the wide-id fallback must be a pure representation change: on an
    // id space BOTH forms can hold, distinct and counted pair
    // generation agree exactly (random posting lists, dupes included)
    def pairsOf(lists: DataFrame, wide: Boolean) =
      graft.engine.Pairs.distinctPairs(spark, lists, "ds", wide)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def countsOf(lists: DataFrame, wide: Boolean) =
      graft.engine.Pairs.countedPairs(spark, lists, "ds", "cnt", wide)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rnd = new scala.util.Random(23)
    val random = Seq.fill(40)(
      Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(30).toLong).distinct)
      .map(Tuple1(_)).toDF("ds")
    // adversarial skew: one viral bucket of 200 ids, a mid bucket
    // inside it (ids 150..189 co-occur twice) and 20 cold 3-member
    // buckets
    val skewed = ((0L until 200L).map(id => (0L, id))
      ++ (150L until 190L).map(id => (1L, id))
      ++ (0L until 60L).map(id => (100L + id % 20, 200L + id)))
      .toDF("bh", "doc_id")
      .groupBy("bh").agg(collect_list("doc_id").as("ds"))
    for (lists <- Seq(random, skewed)) {
      assert(pairsOf(lists, wide = true) == pairsOf(lists, wide = false))
      assert(countsOf(lists, wide = true) == countsOf(lists, wide = false))
    }
    assert(pairsOf(random, wide = false).nonEmpty)
    // viral C(200,2) ∪ mid C(40,2) (a subset) ∪ 20 × C(3,2)
    assert(pairsOf(skewed, wide = false).size == 200 * 199 / 2 + 20 * 3)
    assert(countsOf(skewed, wide = false)((150L, 151L)) == 2L)
  }

  test("muSigma: flat groups get sigma EXACTLY 0, never NaN from cancellation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 0.1 is the cancellation repro: five copies summed as doubles
    // give variance -1.4e-18 ⇒ sqrt = NaN, and NaN > 0.0 is TRUE in
    // Spark — the decimal-exact numerator must return exactly 0.0.
    // flat2 is the positive-rounding direction of the same bug (a
    // large constant whose double-form variance rounds to +tiny);
    // 56920.39 is exactly representable at the scale-2 cast, so the
    // variance math — not input quantization — is what's exercised
    val df = (Seq.fill(5)("flat" -> 0.1)
      ++ Seq("vary" -> 1.0, "vary" -> 3.0)
      ++ Seq.fill(1102)("flat2" -> 56920.39)).toDF("g", "v")
    val m = graft.engine.Determinism.muSigma(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("mu"), r.getAs[Double]("sigma"))).toMap
    assert(m("flat")._2 == 0.0, s"flat sigma: ${m("flat")._2}")
    assert(m("flat2")._2 == 0.0, s"flat2 sigma: ${m("flat2")._2}")
    assert(!m.values.exists(v => v._1.isNaN || v._2.isNaN))
    assert(m("vary")._1 == 2.0 && m("vary")._2 == 1.0)
  }

  test("muSigma scale 6 preserves sub-cent variance that scale 2 flattens") {
    import spark.implicits._
    // ALT-coin prices: distinct at 4 dp, identical at 2 dp — the
    // monitoring regression scale parametrization exists to prevent
    val df = Seq("ALT" -> 0.0312, "ALT" -> 0.0318, "ALT" -> 0.0325)
      .toDF("g", "v")
    val at2 = graft.engine.Determinism.muSigma(df, "g", "v", scale = 2)
      .head().getAs[Double]("sigma")
    val at6 = graft.engine.Determinism.muSigma(df, "g", "v", scale = 6)
      .head().getAs[Double]("sigma")
    assert(at2 == 0.0, "scale 2 must flatten sub-cent values (documented)")
    assert(at6 > 0.0, s"scale 6 lost sub-cent variance: $at6")
    intercept[IllegalArgumentException] {
      graft.engine.Determinism.muSigma(df, "g", "v", scale = 3)
    }
  }

  test("SessionMemo: same key serves the same persisted frame; invalidate unpersists") {
    import graft.engine.SessionMemo
    val s = spark
    var builds = 0
    def build = { builds += 1; s.range(10).toDF("id") }
    val key = "spec|" + java.util.UUID.randomUUID()
    val a = SessionMemo.getOrBuild(s, key)(build)
    val b = SessionMemo.getOrBuild(s, key)(build)
    assert(builds == 1 && (a eq b), "second call must serve the memo")
    assert(a.storageLevel.useMemory, "memo must be persisted")
    SessionMemo.invalidate(s)
    assert(SessionMemo.size(s) == 0)
    // give the non-blocking unpersist a beat, then check it landed
    val t0 = System.nanoTime()
    while (a.storageLevel.useMemory && System.nanoTime() - t0 < 5e9)
      Thread.sleep(20)
    assert(!a.storageLevel.useMemory, "invalidate must unpersist")
    val c = SessionMemo.getOrBuild(s, key)(build)
    assert(builds == 2 && !(a eq c), "post-invalidate call rebuilds")
    SessionMemo.invalidate(s)
  }

  test("SessionMemo: a new fingerprint for the same table evicts + unpersists the sibling") {
    // a table rewritten in place keys a fresh build; the superseded
    // fingerprint's persisted frame must not stay pinned (the
    // repeated-rewrite storage leak)
    import graft.engine.SessionMemo
    val s = spark
    val base = "spec-evict|/tmp/" + java.util.UUID.randomUUID() + "@"
    val a = SessionMemo.getOrBuild(s, base + "fp1")(s.range(5).toDF("id"))
    assert(a.storageLevel.useMemory)
    val b = SessionMemo.getOrBuild(s, base + "fp2")(s.range(6).toDF("id"))
    assert(b.storageLevel.useMemory)
    val t0 = System.nanoTime()
    while (a.storageLevel.useMemory && System.nanoTime() - t0 < 5e9)
      Thread.sleep(20)
    assert(!a.storageLevel.useMemory, "evicted sibling must unpersist")
    // fp1 was evicted, so asking for it again REBUILDS (and evicts fp2)
    var rebuilt = false
    SessionMemo.getOrBuild(s, base + "fp1") {
      rebuilt = true; s.range(5).toDF("id")
    }
    assert(rebuilt, "evicted sibling key must rebuild, not serve stale")
    // an unrelated key (different prefix) must be untouched
    val other = "spec-evict-other|/tmp/" + java.util.UUID.randomUUID() + "@x"
    val c = SessionMemo.getOrBuild(s, other)(s.range(7).toDF("id"))
    SessionMemo.getOrBuild(s, base + "fp3")(s.range(8).toDF("id"))
    var otherRebuilt = false
    SessionMemo.getOrBuild(s, other) {
      otherRebuilt = true; s.range(7).toDF("id")
    }
    assert(!otherRebuilt && c.storageLevel.useMemory,
      "sibling eviction must not touch other prefixes")
  }

  test("SessionMemo.tableFingerprint changes when the table is rewritten in place") {
    import graft.engine.SessionMemo
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_fp")
    try {
      val t = dir.resolve("t.parquet")
      java.nio.file.Files.write(t, "v1".getBytes)
      val fp1 = SessionMemo.tableFingerprint(dir.toString, "t")
      val fp1again = SessionMemo.tableFingerprint(dir.toString, "t")
      assert(fp1 == fp1again, "fingerprint must be stable without writes")
      // same length, different mtime (in-place rewrite)
      Thread.sleep(5)
      java.nio.file.Files.write(t, "v2".getBytes)
      t.toFile.setLastModified(System.currentTimeMillis() + 2000)
      // expire the short-TTL cache first: this test pins the
      // INVALIDATION semantics (rewrite => new fingerprint), which
      // hold from the first post-expiry call
      SessionMemo.expireFingerprints()
      val fp2 = SessionMemo.tableFingerprint(dir.toString, "t")
      assert(fp1 != fp2, "rewrite must change the fingerprint")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("tableFingerprint TTL cache: hits skip the listing, expiry restores invalidation") {
    import graft.engine.SessionMemo
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_ttl")
    try {
      val t = dir.resolve("t.parquet")
      java.nio.file.Files.write(t, "v1".getBytes)
      SessionMemo.expireFingerprints()
      val fp1 = SessionMemo.tableFingerprint(dir.toString, "t")
      // rewrite INSIDE the TTL window: the cached fingerprint must be
      // served (that is the whole point — no listing per memo hit),
      // so the value is unchanged until expiry
      Thread.sleep(5)
      java.nio.file.Files.write(t, "v2".getBytes)
      t.toFile.setLastModified(System.currentTimeMillis() + 2000)
      val cached = SessionMemo.tableFingerprint(dir.toString, "t")
      assert(cached == fp1,
        "within the TTL the cached fingerprint is served verbatim")
      // expiry (test hook stands in for the clock) => fresh listing
      SessionMemo.expireFingerprints()
      val fp2 = SessionMemo.tableFingerprint(dir.toString, "t")
      assert(fp2 != fp1, "post-expiry call must see the rewrite")
      // the session-threaded overload resolves through the session's
      // Hadoop conf and agrees with the thread-local form on local FS
      val fp3 = SessionMemo.tableFingerprint(spark, dir.toString, "t")
      assert(fp3 == fp2, "session-threaded overload must agree")
      // invalidate() also drops the (global) fingerprint cache — use
      // a throwaway child session so this suite doesn't unpersist the
      // shared session's silver memos out from under later tests
      Thread.sleep(5)
      java.nio.file.Files.write(t, "v3".getBytes)
      t.toFile.setLastModified(System.currentTimeMillis() + 4000)
      SessionMemo.invalidate(spark.newSession())
      assert(SessionMemo.tableFingerprint(dir.toString, "t") != fp2,
        "invalidate() must expire cached fingerprints")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a table rewritten in place is seen fresh after invalidate or fingerprint expiry") {
    import graft.engine.{Pairs, SessionMemo, Tables}
    import graft.operators.LlmTextOps
    // a child session, so invalidate() leaves the shared session's
    // silver memos alone
    val s = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft-memo-rewrite")
    val docs = tmp.resolve("documents.parquet").toString
    // every doc has a verbatim twin (ids 2k and 2k+1 share a text), so
    // the minhash bands emit candidate pairs: under a stale packed-form
    // verdict, ids >= 2^32 make PackedPairs fail the job
    def rewrite(ids: Seq[Long]): Unit =
      ids.map { id =>
        val t = s"alpha beta gamma delta tok${id / 2} word${id / 2} end"
        (id, t, "en", "web", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(docs)
    // p (total postings: 5 distinct 3-shingles per 7-token doc) is
    // exact; the doc count n is an HLL estimate (rsd 2%)
    def check(n: Long, wide: Boolean): Unit = {
      val st = LlmTextOps.corpusPairStats(s, tmp.toString)
      assert(st.p == 5 * n && math.abs(st.n - n) <= n / 20, st)
      assert(Pairs.needsWideForm(Tables.documents(s, tmp.toString), "doc_id")
        == wide)
      assert(LlmTextOps.dedupMinhash(s, tmp.toString).count() == n / 2)
    }
    try {
      rewrite(Seq(2L, 3L, 4L))
      assert(LlmTextOps.corpusPairStats(s, tmp.toString).p == 15)
      assert(!Pairs.needsWideForm(Tables.documents(s, tmp.toString), "doc_id"))
      assert(LlmTextOps.dedupMinhash(s, tmp.toString).count() == 1)
      // 3 docs -> 60 docs, ids past 2^32
      rewrite((0L until 60L).map(i => (1L << 32) + i))
      SessionMemo.invalidate(s)
      check(60, wide = true)
      // rewritten again: fingerprint expiry alone re-keys every value
      rewrite(0L until 10L)
      SessionMemo.expireFingerprints()
      check(10, wide = false)
    } finally {
      SessionMemo.invalidate(s)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  test("orderBaskets memo survives repeat calls and yields identical baskets") {
    // the basket silver must serve the same persisted frame across
    // consumers (basket_pairs + item_neighbors) and equal a fresh
    // per-order aggregate of lineitem
    val s = spark
    val d = TestSpark.sf0001
    val m1 = graft.operators.RelationalOps.orderBaskets(s, d)
    val m2 = graft.operators.RelationalOps.orderBaskets(s, d)
    assert(m1 eq m2, "basket silver must memoize per (session, table)")
    val fresh = graft.engine.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ds"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("l_orderkey"), array_sort(col("ds")).as("ds"))
        .collect().map(_.toString).sorted.toSeq
    val a = rows(m1)
    assert(a == rows(fresh) && a.nonEmpty)
  }
}

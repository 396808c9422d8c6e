package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.{AnalyticOps, LlmTextOps, LlmVectorOps}

/** Round-7 third wave: feature-engineering and audit operators. Each
  * test pins the distributed formulation against an independent naive
  * recomputation (driver-side Scala or a formulation sharing no code),
  * mirroring the DuckDB gate locally at sf0.001.
  */
class FeatureOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("lag_features == driver-side recomputation per symbol") {
    val s = spark
    val got = AnalyticOps.lagFeatures(s, TestSpark.sf0001).collect()
    val events = Tables.events(s, TestSpark.sf0001)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val bySym = events.groupBy(_._3).map { case (sym, rows) =>
      sym -> rows.sortBy(r => (r._2, r._1))
    }
    val expected = bySym.toSeq.flatMap { case (sym, rows) =>
      rows.zipWithIndex.map { case ((id, _, _, price), i) =>
        val lag1 = if (i >= 1) Some(rows(i - 1)._4) else None
        val lag5 = if (i >= 5) Some(rows(i - 5)._4) else None
        val win = rows.slice(math.max(0, i - 9), i + 1).map(_._4)
        (id, sym, price, lag1, lag5, win.min, win.max)
      }
    }.map(t => t._1 -> t).toMap
    assert(got.length == events.length)
    got.foreach { r =>
      val e = expected(r.getLong(0))
      assert(r.getString(1) == e._2 && r.getDouble(2) == e._3)
      assert(Option(r.get(3)).map(_.asInstanceOf[Double]) == e._4, "lag1")
      assert(Option(r.get(4)).map(_.asInstanceOf[Double]) == e._5, "lag5")
      assert(r.getDouble(7) == e._6 && r.getDouble(8) == e._7, "min10/max10")
      // delta1 = price - lag1 when lag1 exists
      e._4.foreach(l1 => assert(r.getDouble(5) == r.getDouble(2) - l1))
    }
  }

  test("pair_correlation tracks Spark's built-in corr on the joint hourly series") {
    val s = spark
    val hourly = Tables.events(s, TestSpark.sf001)
      .groupBy(date_trunc("hour", col("ts")).as("hr"),
        col("event_type").as("sym"))
      .agg(avg(col("value")).as("m"))
    val a = hourly.select(col("hr"), col("sym").as("sym_a"), col("m").as("ma"))
    val b = hourly.select(col("hr"), col("sym").as("sym_b"), col("m").as("mb"))
    val want = a.join(b, Seq("hr")).where(col("sym_a") < col("sym_b"))
      .groupBy("sym_a", "sym_b").agg(corr(col("ma"), col("mb")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val got = AnalyticOps.pairCorrelation(s, TestSpark.sf001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      // gridded means differ from raw means by <1e-6 per point; the
      // correlation of ~constant-shifted series stays within 1e-4
      assert(math.abs(r.getDouble(3) - want(key)) < 1e-4, s"corr $key")
    }
  }

  test("user_features == driver-side recomputation") {
    val s = spark
    val got = AnalyticOps.userFeatures(s, TestSpark.sf0001).collect()
    val events = Tables.events(s, TestSpark.sf0001)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string"), col("value"),
        unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
    val byUser = events.groupBy(_._1)
    assert(got.length == byUser.size)
    got.foreach { r =>
      val rows = byUser(r.getLong(0))
      assert(r.getLong(1) == rows.length, "n_events")
      assert(r.getLong(2) == rows.count(_._2 == "purchase"), "n_purchase")
      assert(r.getLong(3) == rows.count(_._2 == "error"), "n_error")
      assert(r.getLong(4) == rows.map(_._2).distinct.length, "n_types")
      assert(r.getLong(5) == rows.map(_._3).distinct.length, "active_days")
      val total = rows.map(e => BigDecimal(e._4).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum
      assert(math.abs(r.getDouble(6) - total.toDouble) < 1e-9, "total_value")
      assert(r.getDouble(8) >= 0.0, "span_hours")
    }
  }

  test("target_encoding shrinks each category toward the global mean") {
    val s = spark
    val rows = AnalyticOps.targetEncoding(s, TestSpark.sf0001).collect()
    val e = Tables.events(s, TestSpark.sf0001)
      .select(col("value")).collect().map(_.getDouble(0))
    val globalMean = e.sum / e.length
    rows.foreach { r =>
      val (n, raw, smooth) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      // smoothed lies between raw and global (within rounding slack)
      val lo = math.min(raw, globalMean) - 1e-6
      val hi = math.max(raw, globalMean) + 1e-6
      assert(smooth >= lo && smooth <= hi, s"${r.getString(0)}")
      // and matches the m-estimate closed form
      val want = (raw * n + 10.0 * globalMean) / (n + 10.0)
      assert(math.abs(smooth - want) < 1e-4, s"${r.getString(0)} formula")
    }
  }

  test("cohort_retention cells are consistent and bounded") {
    val s = spark
    val rows = AnalyticOps.cohortRetention(s, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    val users = Tables.events(s, TestSpark.sf0001)
      .select(col("user_id")).distinct().count()
    // cohort sizes partition the user base
    val sizes = rows.map(r => r.getDate(0).toString -> r.getLong(3)).toMap
    assert(sizes.values.sum <= users * sizes.size) // sanity on types
    rows.foreach { r =>
      assert(r.getLong(1) >= 0, "weeks_since >= 0")
      assert(r.getLong(2) <= r.getLong(3), "n_active <= cohort_size")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0, "retention in (0,1]")
    }
    // week 0 is fully retained by construction (first activity week)
    rows.filter(_.getLong(1) == 0L).foreach { r =>
      assert(r.getDouble(4) == 1.0, s"cohort ${r.getDate(0)} week0")
    }
    assert(sizes.values.sum == users, "cohorts partition users")
  }

  test("group_split never splits a source across sides") {
    val s = spark
    val perSplit = LlmTextOps.groupSplit(s, TestSpark.sf001).collect()
    val docs = Tables.documents(s, TestSpark.sf001)
    val nSources = docs.select(col("source")).distinct().count()
    val nDocs = docs.count()
    assert(perSplit.map(_.getLong(2)).sum == nDocs, "docs partitioned")
    assert(perSplit.map(_.getLong(1)).sum == nSources,
      "each source in exactly one split")
  }

  test("split_leakage covers every exact-text group that straddles splits") {
    val s = spark
    val leaked = LlmTextOps.splitLeakage(s, TestSpark.sf001).collect()
      .map(_.getLong(0)).toSet
    // brute force on raw text (no fingerprint): any text appearing in
    // >= 2 split buckets must be reported (fp groups ⊇ text groups)
    val byText = Tables.documents(s, TestSpark.sf001)
      .withColumn("bucket",
        ((col("doc_id") % lit(1000000007L)) * lit(2654435761L)
          % lit(1000000007L)) % lit(10))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val")).otherwise(lit("test")))
      .select(col("doc_id"), col("text"), col("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val straddling = byText.groupBy(_._2)
      .filter(_._2.map(_._3).distinct.length >= 2)
      .values.flatten.map(_._1).toSet
    assert(straddling.subsetOf(leaked),
      s"missing ${(straddling -- leaked).take(5)}")
  }

  test("component_stats histogram reconciles with dedup_components") {
    val s = spark
    val comp = LlmTextOps.dedupComponents(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wantHist = comp.groupBy(_._2).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    val got = LlmTextOps.componentStats(s, TestSpark.sf001).collect()
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == wantHist)
    assert(got.map(_.getLong(2)).sum == comp.length, "n_docs total")
    got.foreach(r =>
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1), "n_docs = sz * n"))
  }

  test("rfm_scores quintiles are balanced and rank-consistent") {
    val s = spark
    val rows = AnalyticOps.rfmScores(s, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    assert(rows.nonEmpty)
    // each dimension's buckets are 1..5 and balanced to within one row
    Seq[((Long, Long, Long, Double, Int, Int, Int, Int)) => Int](
      _._5, _._6, _._7).foreach { dim =>
      val sizes = rows.groupBy(dim).view.mapValues(_.length).toMap
      assert(sizes.keySet.subsetOf((1 to 5).toSet))
      assert(sizes.values.max - sizes.values.min <= 1, s"balance $sizes")
    }
    // the most recent user is in R bucket 1; the top spender in M 1
    assert(rows.maxBy(r => (r._2, -r._1))._5 == 1)
    assert(rows.maxBy(r => (r._4, -r._1.toDouble))._7 == 1)
    rows.foreach(r => assert(r._8 == r._5 * 100 + r._6 * 10 + r._7))
  }

  test("window_cume is tie-consistent and bounded") {
    val s = spark
    val rows = AnalyticOps.windowCume(s, TestSpark.sf0001).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, pr, cd) =>
      assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
    }
    // equal values in a partition share identical pr and cd
    rows.groupBy(t => (t._1, t._2)).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1)
      assert(g.map(_._4).distinct.length == 1)
    }
    // the minimum value of each partition has pr == 0
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.minBy(_._2)._3 == 0.0)
    }
  }

  test("ewma_smooth == driver-side dyadic recomputation") {
    val s = spark
    val got = AnalyticOps.ewmaSmooth(s, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val events = Tables.events(s, TestSpark.sf0001)
      .select(col("event_id"), unix_micros(col("ts")),
        col("event_type"), col("value").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    events.groupBy(_._3).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._1))
      sorted.zipWithIndex.foreach { case ((id, _, _, _), i) =>
        var num = 0.0; var den = 0.0
        (0 to 7).foreach { k =>
          if (i - k >= 0) {
            val wt = 1.0 / (1L << (k + 1)).toDouble
            num += sorted(i - k)._4 * wt
            den += wt
          }
        }
        val want = math.floor(num / den * 1e6 + 0.5) / 1e6
        assert(math.abs(got(id)._3 - want) < 1e-9, s"event $id")
      }
    }
    // a symbol's first tick smooths to exactly itself
    events.groupBy(_._3).foreach { case (_, rs) =>
      val first = rs.minBy(r => (r._2, r._1))
      assert(got(first._1)._3 == math.floor(first._4 * 1e6 + 0.5) / 1e6)
    }
  }

  test("interarrival_stats == driver-side gap recomputation") {
    val s = spark
    val got = AnalyticOps.interarrivalStats(s, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val events = Tables.events(s, TestSpark.sf0001)
      .select(col("event_id"), unix_micros(col("ts")), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    events.groupBy(_._3).foreach { case (sym, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._1)).map(_._2)
      val gaps = sorted.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      if (gaps.nonEmpty) {
        val (n, mean, sd, mx, b) = got(sym)
        assert(n == gaps.length, s"$sym n_gaps")
        assert(mx == gaps.max, s"$sym max")
        def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val mu = gaps.map(BigDecimal(_)).sum.toDouble / gaps.length
        assert(f6(mu) == mean, s"$sym mean")
        val s1 = gaps.map(BigInt(_)).sum
        val s2 = gaps.map(g => BigInt(g) * BigInt(g)).sum
        val sig = math.sqrt((BigInt(gaps.length) * s2 - s1 * s1).toDouble) /
          gaps.length
        assert(f6(sig) == sd, s"$sym sd")
        assert(math.abs(b - (sig - mu) / (sig + mu)) < 1e-5, s"$sym burstiness")
      } else assert(!got.contains(sym), s"$sym should be absent")
    }
  }

  test("basket_pairs == driver-side support/lift recomputation") {
    val s = spark
    val rows = graft.operators.RelationalOps.basketPairs(s, TestSpark.sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.length <= 20 && rows.nonEmpty)
    val li = Tables.lineitem(s, TestSpark.sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = li.map(_._1).distinct.length
    val partC = li.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val pairSupport = li.groupBy(_._1).values.flatMap { order =>
      val parts = order.map(_._2).sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val want = pairSupport.toSeq
      .sortBy { case ((a, b), sup) => (-sup, a, b) }.take(rows.length)
    assert(rows.map(r => ((r._1, r._2), r._3)).toSeq == want)
    rows.foreach { case (a, b, sup, ca, cb, lift) =>
      assert(ca == partC(a) && cb == partC(b))
      val wantLift =
        math.floor(sup.toDouble * nOrders / (ca * cb).toDouble * 1e6 + 0.5) / 1e6
      assert(lift == wantLift, s"pair ($a,$b)")
    }
  }

  test("degree_stats reconciles with the near-dup pair stream") {
    val s = spark
    val pairs = LlmTextOps.dedupNear(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wantHist = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val got = LlmTextOps.degreeStats(s, TestSpark.sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == wantHist)
  }

  test("max_drawdown == driver-side running-peak recomputation") {
    val s = spark
    val got = AnalyticOps.maxDrawdown(s, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toMap
    val events = Tables.events(s, TestSpark.sf0001)
      .select(col("event_id"), unix_micros(col("ts")),
        col("event_type"), col("value").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    events.groupBy(_._3).foreach { case (sym, rs) =>
      val prices = rs.sortBy(r => (r._2, r._1)).map(_._4)
      var peak = Double.MinValue
      var maxDd = Double.MinValue
      prices.foreach { p =>
        peak = math.max(peak, p)
        maxDd = math.max(maxDd,
          math.floor((peak - p) / peak * 1e6 + 0.5) / 1e6)
      }
      val (n, pk, lo, dd) = got(sym)
      assert(n == prices.length && pk == prices.max && lo == prices.min)
      assert(dd == maxDd, s"$sym drawdown")
    }
  }

  test("embed_norm_stats == driver-side norm recomputation") {
    val s = spark
    val got = LlmVectorOps.embedNormStats(s, TestSpark.sf0001).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toMap
    val embs = Tables.embeddings(s, TestSpark.sf0001)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    embs.groupBy(_._1).foreach { case (label, rs) =>
      val norms = rs.map { case (_, v) =>
        var acc = 0.0
        v.foreach(x => acc += x.toDouble * x.toDouble)
        math.floor(math.sqrt(acc) * 1e6 + 0.5) / 1e6
      }
      val (n, mean, mn, mx) = got(label)
      assert(n == norms.length && mn == norms.min && mx == norms.max)
      val s1 = norms.map(BigDecimal(_).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum
      assert(mean ==
        math.floor(s1.toDouble / norms.length * 1e6 + 0.5) / 1e6,
        s"label $label mean")
    }
  }

  test("minhash_calibration: thresholded slice == dedup_minhash_portable, exact dups estimate 1.0") {
    val s = spark
    val cal = LlmTextOps.minhashCalibration(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(cal.nonEmpty)
    val gate = LlmTextOps.dedupMinhashPortable(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cal.filter(_._3 >= 0.8).map(t => (t._1, t._2, t._3)).toSet == gate,
      "the >= 0.8 slice of the calibration IS the gated dedup row")
    cal.foreach { case (i, j, est, jac, err) =>
      assert(err == math.floor(math.abs(est - jac) * 1e6 + 0.5) / 1e6)
      // identical shingle sets agree on every permutation minimum
      if (jac == 1.0) assert(est == 1.0, s"pair ($i,$j)")
      assert(est >= 0.0 && est <= 1.0 && jac >= 0.0 && jac <= 1.0)
    }
  }

  test("near-dup pair memoization: memoized pairs and components == uncached builds") {
    val s = spark
    val d = TestSpark.sf001
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val uncachedPairs =
      LlmTextOps.jaccardFilter(LlmTextOps.cooccurPairsUncached(s, d))
    assert(rows(LlmTextOps.dedupNearPairs(s, d)) == rows(uncachedPairs))
    assert(rows(LlmTextOps.dedupComponents(s, d)) ==
      rows(LlmTextOps.componentsFromPairs(s,
        uncachedPairs.select("i", "j"), pairsDistinct = true)))
    // containment rides the same co-occurrence silver
    assert(rows(LlmTextOps.cooccurPairs(s, d)) ==
      rows(LlmTextOps.cooccurPairsUncached(s, d)))
    assert(LlmTextOps.dedupNearPairs(s, d) eq LlmTextOps.dedupNearPairs(s, d))
  }

  test("dsir_sample accepts exactly the cross-multiplied predicate over the weights") {
    val s = spark
    val accepted = LlmTextOps.dsirSample(s, TestSpark.sf001).collect()
      .map(_.getLong(0)).toSet
    val weights = LlmTextOps.importanceWeights(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(accepted.nonEmpty && accepted.size < weights.length,
      "a proper nonempty subset")
    val p = 1000000007L
    weights.foreach { case (id, target, all) =>
      val h = id % p * 1779033703L % p
      val want = h * all < 5L * target * p
      assert(accepted.contains(id) == want, s"doc $id")
    }
    // target-affine sources are over-represented relative to the corpus
    val bySource = LlmTextOps.dsirSample(s, TestSpark.sf001).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySource.getOrElse("src0", 0) > 0, "target source survives")
  }

  test("activity_heatmap == driver-side weekday/hour recomputation") {
    val s = spark
    val got = AnalyticOps.activityHeatmap(s, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val events = Tables.events(s, TestSpark.sf0001)
      .select(expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int"),
        hour(col("ts")), col("value"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val want = events.groupBy(t => (t._1, t._2))
    assert(got.keySet == want.keySet)
    want.foreach { case (k, rows) =>
      assert(got(k)._1 == rows.length)
      val mean = rows.map(r => BigDecimal(r._3).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / rows.length
      assert(got(k)._2 == math.floor(mean * 1e6 + 0.5) / 1e6, s"cell $k")
    }
  }

  test("ohlc_merge: merged partials == full recompute on every cell") {
    val s = spark
    import graft.operators.ReferenceOps
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getInt(1), r.getString(2))
    val full = ReferenceOps.ohlcHourly(s, TestSpark.sf001).collect()
      .map(r => key(r) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getLong(8))).toMap
    val merged = ReferenceOps.ohlcMerge(s, TestSpark.sf001).collect()
      .map(r => key(r) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getLong(8))).toMap
    assert(merged.keySet == full.keySet)
    merged.foreach { case (k, m) =>
      val f = full(k)
      assert(m._1 == f._1 && m._2 == f._2 && m._3 == f._3 && m._4 == f._4,
        s"OHLC $k")
      assert(m._6 == f._6, s"count $k")
      // decimal-sum mean vs double mean, both on the 6-dp grid
      assert(math.abs(m._5 - f._5) < 2e-6, s"avg $k")
    }
  }

  test("score_auc == driver-side Mann-Whitney recomputation") {
    val s = spark
    val row = LlmVectorOps.scoreAuc(s, TestSpark.sf0001).collect().head
    val embs = Tables.embeddings(s, TestSpark.sf0001)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def norm(v: Seq[Float]) = {
      var a = 0.0; v.foreach(x => a += x.toDouble * x.toDouble); math.sqrt(a)
    }
    val probe = embs.find(_._1 == 0L).get
    val pn = norm(probe._3)
    val scored = embs.filter(_._1 != 0L).map { case (_, l, v) =>
      var dot = 0.0
      v.indices.foreach(i => dot += probe._3(i).toDouble * v(i).toDouble)
      (l == probe._2,
        math.floor(dot / (pn * norm(v)) * 1e6 + 0.5) / 1e6)
    }
    // average ranks ascending by score
    val byScore = scored.map(_._2).sorted
    val minRank = byScore.zipWithIndex.groupBy(_._1)
      .map { case (sc, xs) => sc -> (xs.map(_._2).min + 1) }
    val ties = byScore.groupBy(identity).map { case (sc, xs) => sc -> xs.length }
    val nPos = scored.count(_._1)
    val nNeg = scored.length - nPos
    val r2 = scored.filter(_._1)
      .map { case (_, sc) => 2L * minRank(sc) + ties(sc) - 1L }.sum
    val auc = (r2.toDouble - nPos.toDouble * (nPos + 1)) /
      (2.0 * nPos * nNeg)
    assert(row.getLong(0) == nPos && row.getLong(1) == nNeg)
    assert(row.getDouble(2) == math.floor(auc * 1e6 + 0.5) / 1e6)
  }

  test("psi_drift: identical halves score ~0, all symbols covered") {
    val s = spark
    val rows = AnalyticOps.psiDrift(s, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val symbols = Tables.events(s, TestSpark.sf001)
      .select(col("event_type")).distinct().count()
    assert(rows.length == symbols, "every symbol scored")
    rows.foreach { case (sym, np, nq, psi) =>
      assert(np > 0 && nq > 0, s"$sym halves populated")
      // PSI is a sum of (q-p)·ln(q/p) terms, each individually >= 0
      // (same sign factors), so the total must be non-negative
      assert(psi >= 0.0, s"$sym psi >= 0")
      // the driver corpus is stationary by construction — the two
      // halves draw from one distribution, so PSI sits far below the
      // 0.25 "significant shift" alarm threshold
      assert(psi < 0.25, s"$sym stationary corpus drifted: $psi")
    }
  }

  test("mutual_information is non-negative and bounded by min entropy") {
    val s = spark
    val row = AnalyticOps.mutualInformation(s, TestSpark.sf001)
      .collect().head
    val (n, mi) = (row.getLong(0), row.getDouble(1))
    assert(n > 0)
    // MI >= 0 up to the 1e-9 term-quantization slack
    assert(mi >= -1e-5, s"mi $mi")
    // MI <= H(type) <= ln(|types|); MI <= H(decile) <= ln(10)
    val types = Tables.events(s, TestSpark.sf001)
      .select(col("event_type")).distinct().count()
    assert(mi <= math.log(math.min(types.toDouble, 10.0)) + 1e-6)
  }

  test("cross_corr_lag: lag 0 slice agrees with pair_correlation; winner maximizes |r|") {
    val s = spark
    val best = AnalyticOps.crossCorrLag(s, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(best.nonEmpty)
    val pc = AnalyticOps.pairCorrelation(s, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    best.foreach { case (a, b, lag, _, corr) =>
      assert(lag >= -2 && lag <= 2)
      // the winning |r| must be at least the lag-0 |r| (same moment
      // recipe, same pairs — lag 0 is always a candidate when the
      // joint-hours floor is met)
      pc.get((a, b)).foreach { r0 =>
        assert(math.abs(corr) + 1e-9 >= math.abs(r0) ||
          math.abs(math.abs(corr) - math.abs(r0)) < 1e-6,
          s"pair ($a,$b): best $corr vs lag0 $r0")
      }
    }
  }

  test("calibration_curve: bins partition the scored corpus, rates are exact") {
    val s = spark
    val rows = LlmVectorOps.calibrationCurve(s, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val corpus = Tables.embeddings(s, TestSpark.sf0001).count() - 1
    assert(rows.map(_._2).sum == corpus, "bins partition the non-probe corpus")
    rows.foreach { case (bin, n, pos, rate) =>
      assert(bin >= 0 && bin <= 9 && pos <= n)
      assert(rate == math.floor(pos.toDouble / n * 1e6 + 0.5) / 1e6)
    }
  }

  test("triangle_count == driver-side brute-force census") {
    val s = spark
    val row = LlmTextOps.triangleCount(s, TestSpark.sf001).collect().head
    val pairs = LlmTextOps.dedupNear(s, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).toSeq.distinct
    val deg = nodes.map(n =>
      n -> pairs.count(p => p._1 == n || p._2 == n)).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val tris = (for {
      (a, b) <- pairs.toSeq
      c <- nodes if c > b
      if pairs.contains((b, c)) && pairs.contains((a, c))
    } yield 1).size
    assert(row.getLong(0) == nodes.length && row.getLong(1) == pairs.size)
    assert(row.getLong(2) == wedges, "wedges")
    assert(row.getLong(3) == tris, "triangles")
    if (wedges > 0)
      assert(row.getDouble(4) ==
        math.floor(3.0 * tris / wedges * 1e6 + 0.5) / 1e6)
  }

  test("source_overlap == driver-side vocabulary Jaccard") {
    val s = spark
    val got = LlmTextOps.sourceOverlap(s, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val docs = Tables.documents(s, TestSpark.sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view
      .mapValues(_.flatMap(_._2.split(" ")).toSet).toMap
    val sources = vocab.keys.toSeq.sorted
    for (a <- sources; b <- sources if a < b) {
      val inter = (vocab(a) & vocab(b)).size.toLong
      if (inter > 0) {
        val (ns, za, zb, j) = got((a, b))
        assert(ns == inter && za == vocab(a).size && zb == vocab(b).size)
        assert(j == math.floor(
          inter.toDouble / (za + zb - inter) * 1e6 + 0.5) / 1e6)
      } else assert(!got.contains((a, b)))
    }
  }

  test("cluster_top_terms ranks by tf/df with total tie order") {
    val s = spark
    val rows = LlmVectorOps.clusterTopTerms(s, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (label, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"label $label dense ranks")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6 > b._6 || (a._6 == b._6 && a._3 < b._3),
            s"label $label order")
        case _ =>
      }
    }
    // spot-check one label against a driver-side recompute
    val docs = Tables.documents(s, TestSpark.sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val labels = Tables.embeddings(s, TestSpark.sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dfm = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    val label0 = rows.filter(_._1 == 0)
    val tf0 = docs.filter(d => labels.get(d._1).contains(0))
      .flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val best = tf0.map { case (t, tf) =>
      (t, math.floor(tf.toDouble / dfm(t) * 1e6 + 0.5) / 1e6)
    }.toSeq.sortBy { case (t, sc) => (-sc, t) }.take(label0.length)
    assert(label0.sortBy(_._2).map(t => (t._3, t._6)).toSeq == best.toSeq)
  }

  test("token_surprisal == driver-side recomputation with the same quantization") {
    val s = spark
    val got = LlmTextOps.tokenSurprisal(s, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = Tables.documents(s, TestSpark.sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val nDocs = docs.length.toLong
    val dfm = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    assert(got.size == docs.length)
    docs.foreach { case (id, toks) =>
      val sumQ = toks.map { t =>
        val p = math.floor(dfm(t).toDouble / nDocs * 1e6 + 0.5) / 1e6
        math.floor(-math.log(p) * 1e6 + 0.5).toLong
      }.sum
      val mean = math.floor(
        sumQ.toDouble / (toks.length * 1e6) * 1e6 + 0.5) / 1e6
      val (n, m) = got(id)
      assert(n == toks.length.toLong && m == mean, s"doc $id")
    }
    // every-token-everywhere doc scores 0-ish only if all tokens are
    // corpus-wide; sanity: all surprisals are non-negative
    got.values.foreach { case (_, m) => assert(m >= 0.0) }
  }

  test("embed_outliers == driver-side recomputation; distances descend per label") {
    val s = spark
    val got = LlmVectorOps.embedOutliers(s, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val embs = Tables.embeddings(s, TestSpark.sf0001)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val grid = (1L << 20).toDouble
    val byLabel = embs.groupBy(_._2)
    val expected = byLabel.toSeq.flatMap { case (label, vs) =>
      val dim = vs.head._3.length
      val cent = (0 until dim).map { d =>
        val qs = vs.map(v => math.floor(v._3(d) * grid + 0.5).toLong)
        qs.sum.toDouble / (qs.length * grid)
      }.toArray
      vs.map { case (id, _, v) =>
        val d2q = (0 until dim).map { d =>
          val r = v(d) - cent(d)
          math.floor(r * r * 1e9 + 0.5).toLong
        }.sum
        (label, id, d2q)
      }.sortBy(t => (-t._3, t._2)).take(3).zipWithIndex.map {
        case ((l, id, d2q), i) =>
          (l, i + 1, id, math.floor(d2q.toDouble / 1e9 * 1e6 + 0.5) / 1e6)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == expected)
    // ranks strictly descend in distance within a label (ties by id)
    got.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4)
        case _ =>
      }
    }
  }

  test("freq_cms: estimates are one-sided and match a driver-side sketch replay") {
    val s = spark
    val got = LlmTextOps.freqCms(s, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 10)
    // CMS never undercounts
    got.foreach { case (t, exact, est, over) =>
      assert(est >= exact, s"token $t undercounted")
      assert(over == est - exact)
    }
    // replay the sketch on the driver with the same hash chain
    val p = 1000000007L
    val as = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
    val bs = Seq(1L, 7L, 31L, 127L)
    def th(t: String): Long =
      (if (t.isEmpty) 0L
       else t.codePointAt(0).toLong * 17161L +
         t.codePointBefore(t.length).toLong * 131L +
         t.codePointCount(0, t.length).toLong) % p
    val toks = Tables.documents(s, TestSpark.sf0001)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    toks.foreach { t =>
      val h = th(t)
      as.indices.foreach { r =>
        val c = ((h * as(r) + bs(r)) % p) % 1024
        cells((r, c)) = cells.getOrElse((r, c), 0L) + 1
      }
    }
    val truth = toks.groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val top = truth.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
    val want = top.map { case (t, n) =>
      val h = th(t)
      val est = as.indices.map(r => cells((r, ((h * as(r) + bs(r)) % p) % 1024))).min
      (t, n, est, est - n)
    }
    assert(got.toSeq == want)
  }

  test("join_full_outer reconciles both ledgers and exercises the outer legs") {
    val s = spark
    val got = graft.operators.RelationalOps
      .joinFullOuter(s, TestSpark.sf001).collect()
    val nCust = Tables.customer(s, TestSpark.sf001).count()
    val nSupp = Tables.supplier(s, TestSpark.sf001).count()
    // every row of either ledger lands in exactly one band
    assert(got.map(_.getLong(1)).sum == nCust)
    assert(got.map(_.getLong(2)).sum == nSupp)
    // the outer join is genuinely outer: the 100-supplier side cannot
    // fill the ~440 bands the 1500 customers cover at sf0.01
    assert(got.exists(r => r.getLong(2) == 0L && r.getInt(3) == 0))
    // in_both == both sides non-zero (zero count only arises from the
    // coalesced null leg — a present band always counts ≥ 1)
    got.foreach { r =>
      assert((r.getInt(3) == 1) == (r.getLong(1) > 0 && r.getLong(2) > 0))
    }
    // bands are unique and sorted
    val bands = got.map(_.getLong(0))
    assert(bands.toSeq == bands.toSeq.sorted && bands.distinct.length == bands.length)
  }

  test("grouping_sets_report == the cross table plus both margins, no grand total") {
    val s = spark
    val got = graft.operators.RelationalOps
      .groupingSetsReport(s, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))
    val cross = got.filter(t => t._3 == 0 && t._4 == 0)
    val flagM = got.filter(t => t._3 == 0 && t._4 == 1)
    val statusM = got.filter(t => t._3 == 1 && t._4 == 0)
    // exactly the three declared sets — no () grand-total row
    assert(cross.nonEmpty && flagM.nonEmpty && statusM.nonEmpty)
    assert(cross.length + flagM.length + statusM.length == got.length)
    assert(!got.exists(t => t._3 == 1 && t._4 == 1))
    // margins label the grouped-out side 'ALL' and fold the cross rows
    flagM.foreach { m =>
      assert(m._2 == "ALL")
      assert(m._5 == cross.filter(_._1 == m._1).map(_._5).sum, m._1)
    }
    statusM.foreach { m =>
      assert(m._1 == "ALL")
      assert(m._5 == cross.filter(_._2 == m._2).map(_._5).sum, m._2)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.RelationalOps

/** Round-7 fifth wave: the classic TPC-H multi-join shapes (Q5, Q3,
  * Q10, Q15) adapted to this schema. Each test pins the distributed
  * formulation against an independent driver-side recomputation at
  * sf0.001, plus the plan shapes that matter at 100 TB (dimension
  * broadcasts, TakeOrderedAndProject for the limits).
  */
class RelationalClassicsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  // Spark's double→DECIMAL(18,6) cast goes through the shortest
  // decimal rendering (BigDecimal.valueOf) then HALF_UP — the same
  // path scala.BigDecimal(d) takes (see CorrMomentsSpec).
  private def d6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  // orders/lineitem timestamps are TIMESTAMP_NTZ → collect as
  // java.time.LocalDateTime
  private def ts(s: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(s + "T00:00:00")

  private lazy val lineitem = Tables.lineitem(spark, sf)
    .select(col("l_orderkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_discount"), col("l_returnflag"),
      col("l_shipdate"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getString(4), r.getAs[java.time.LocalDateTime](5)))
  private lazy val orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.time.LocalDateTime](2)))
  private def lv(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[Number](i).longValue
  private lazy val custNation = Tables.customer(spark, sf)
    .select(col("c_custkey"), col("c_nationkey"))
    .collect().map(r => lv(r, 0) -> lv(r, 1)).toMap
  private lazy val suppNation = Tables.supplier(spark, sf)
    .select(col("s_suppkey"), col("s_nationkey"))
    .collect().map(r => lv(r, 0) -> lv(r, 1)).toMap
  private lazy val nationName = Tables.nation(spark, sf)
    .select(col("n_nationkey"), col("n_name"))
    .collect().map(r => lv(r, 0) -> r.getString(1)).toMap

  test("regional_revenue == driver-side 6-way join recomputation") {
    val got = RelationalOps.regionalRevenue(spark, sf).collect()
    val orderIdx = orders
      .filter(o => !o._3.isBefore(ts("1996-01-01")) && o._3.isBefore(ts("1997-01-01")))
      .map(o => o._1 -> o._2).toMap
    val terms = lineitem.flatMap { l =>
      orderIdx.get(l._1).flatMap { custkey =>
        val cn = custNation(custkey)
        suppNation.get(l._2).filter(_ == cn)
          .map(sn => nationName(sn) -> d6(l._3 * (1.0 - l._4)))
      }
    }
    val expected = terms.groupBy(_._1)
      .map { case (n, ts0) => n -> (ts0.length, ts0.map(_._2).sum) }
    assert(got.nonEmpty && got.length == expected.size)
    got.foreach { r =>
      val (n, rev) = expected(r.getString(1))
      assert(r.getLong(2) == n, s"n_lines for ${r.getString(1)}")
      assert(r.getDouble(3) == rev.toDouble, s"revenue for ${r.getString(1)}")
    }
    // locality: every nation in the output must have ≥1 supplier
    got.foreach { r =>
      assert(nationName.values.toSet.contains(r.getString(1)))
    }
  }

  test("regional_revenue broadcasts supplier/nation/region — no dim shuffle") {
    val df = RelationalOps.regionalRevenue(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("shipping_priority == driver-side top-10 in-flight revenue") {
    val got = RelationalOps.shippingPriority(spark, sf).collect()
    val cut = ts("1999-07-01")
    val buildingCust = Tables.customer(spark, sf)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val okOrders = orders
      .filter(o => buildingCust.contains(o._2) && o._3.isBefore(cut))
      .map(o => o._1 -> o._3).toMap
    val grouped = lineitem
      .filter(l => l._6.isAfter(cut) && okOrders.contains(l._1))
      .groupBy(_._1)
      .map { case (ok, ls) => (ok, okOrders(ok), ls.map(l => d6(l._3 * (1.0 - l._4))).sum) }
      .toSeq
      .sortBy { case (ok, _, rev) => (-rev.toDouble, ok) }
      .take(10)
    assert(got.length == grouped.length)
    got.zip(grouped).foreach { case (r, (ok, od, rev)) =>
      assert(r.getLong(0) == ok)
      assert(r.getAs[java.time.LocalDateTime](1) == od)
      assert(r.getDouble(3) == rev.toDouble)
    }
  }

  test("shipping_priority lowers to TakeOrderedAndProject — no global sort") {
    val p = RelationalOps.shippingPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("returned_items == driver-side top-20 returned revenue, nation attached") {
    val got = RelationalOps.returnedItems(spark, sf).collect()
    val sliceOrders = orders
      .filter(o => !o._3.isBefore(ts("1997-01-01")) && o._3.isBefore(ts("1997-07-01")))
      .map(o => o._1 -> o._2).toMap
    val perCust = lineitem
      .filter(l => l._5 == "R" && sliceOrders.contains(l._1))
      .map(l => (sliceOrders(l._1), d6(l._3 * (1.0 - l._4))))
      .groupBy(_._1)
      .map { case (ck, ts0) => (ck, ts0.length.toLong, ts0.map(_._2).sum) }
      .toSeq
      .sortBy { case (ck, _, rev) => (-rev.toDouble, ck) }
      .take(20)
    assert(got.length == perCust.length && got.nonEmpty)
    got.zip(perCust).foreach { case (r, (ck, n, rev)) =>
      assert(r.getLong(0) == ck)
      assert(r.getString(2) == nationName(custNation(ck)))
      assert(r.getLong(4) == n)
      assert(r.getDouble(5) == rev.toDouble)
    }
  }

  test("pareto_frontier == brute-force NOT-EXISTS skyline; sizes strictly increase along the frontier") {
    val got = RelationalOps.paretoFrontier(spark, sf).collect()
      .map(r => (lv(r, 0), r.getLong(2), r.getAs[Number](3).intValue))
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect()
      .map(r => (lv(r, 0),
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong,
        r.getAs[Number](2).intValue))
    val expected = parts.filter { case (_, pc, sz) =>
      !parts.exists { case (_, qc, qz) =>
        qc <= pc && qz >= sz && (qc < pc || qz > sz)
      }
    }.sortBy(p => (p._2, p._1))
    assert(got.toSeq == expected.toSeq)
    // along ascending price, survivor size strictly increases
    // (except equal-price duplicates, which tie exactly)
    got.sliding(2).foreach {
      case Array((_, pc1, sz1), (_, pc2, sz2)) =>
        if (pc2 > pc1) assert(sz2 > sz1)
        else assert(pc2 == pc1 && sz2 == sz1)
      case _ =>
    }
  }

  test("open_orders_profile == driver-side sweep line; ends at zero open") {
    val got = RelationalOps.openOrdersProfile(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val openDays = orders.map(_._3.toLocalDate)
    val closeDays = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("cd"))
      .collect().map(_.getDate(1).toLocalDate.plusDays(1))
    val byDay = (openDays.map(d => d -> 1L) ++ closeDays.map(d => d -> -1L))
      .groupBy(_._1).toSeq.sortBy(_._1.toEpochDay)
      .map { case (d, ds) =>
        (d, ds.count(_._2 > 0).toLong, ds.count(_._2 < 0).toLong,
          ds.map(_._2).sum)
      }
    var run = 0L
    val expected = byDay.map { case (d, o, c, net) =>
      run += net; (d, o, c, run)
    }
    assert(got.toSeq == expected)
    // orders with no lineitem never close: the final running count
    // equals exactly that population
    assert(got.last._4 == (orders.length - closeDays.length).toLong,
      "final open count == lineitem-less orders")
    assert(got.map(_._2).sum == orders.length.toLong)
  }

  test("large_orders == driver-side integer-quantity HAVING recomputation") {
    val got = RelationalOps.largeOrders(spark, sf).collect()
    val qty = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (ok, ls) => (ok, ls.map(_._2).sum, ls.length.toLong) }
      .filter(_._2 > 300L)
    val custOf = orders.map(o => o._1 -> o._2).toMap
    val expected = qty.toSeq
      .sortBy { case (ok, tq, _) => (-tq, ok) }
    assert(got.length == expected.length && got.nonEmpty)
    got.zip(expected).foreach { case (r, (ok, tq, nl)) =>
      assert(r.getLong(2) == ok)
      assert(lv(r, 0) == custOf(ok))
      assert(r.getLong(4) == tq && r.getLong(5) == nl)
    }
  }

  test("dormant_customers == cross-multiplied scalar cut + anti join replay") {
    val got = RelationalOps.dormantCustomers(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .collect().map(r => (lv(r, 0), r.getDouble(1), r.getString(2)))
    def d2(x: Double) = BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP)
    val pos = cust.filter(_._2 > 0.0)
    val balSum = pos.map(c => d2(c._2)).sum
    val nPos = pos.length
    val active = orders
      .filter(o => !o._3.isBefore(ts("1999-01-01"))).map(_._2).toSet
    val dormant = cust.filter { case (ck, bal, _) =>
      d2(bal) * nPos > balSum && !active.contains(ck)
    }
    val expected = dormant.groupBy(_._3).map { case (seg, cs) =>
      seg -> (cs.length.toLong,
        cs.map(c => BigDecimal(c._2).setScale(6,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    }
    assert(got == expected)
  }

  test("item_neighbors == brute-force co-purchase neighborhood recomputation") {
    val got = RelationalOps.itemNeighbors(spark, sf).collect()
    val dp = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pc = dp.groupBy(_._2).map { case (pk, xs) => pk -> xs.length.toLong }
    val head = pc.toSeq.sortBy { case (pk, c) => (-c, pk) }.take(10)
    val byOrder = dp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val co = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.values.foreach { parts =>
      val ps = parts.toSeq
      for (a <- ps; b <- ps if a != b)
        co((a, b)) = co.getOrElse((a, b), 0L) + 1L
    }
    val expected = head.flatMap { case (part, cPart) =>
      co.toSeq.collect { case ((a, b), sup) if a == part => (b, sup) }
        .sortBy { case (nbr, sup) => (-sup, nbr) }
        .take(3).zipWithIndex
        .map { case ((nbr, sup), i) =>
          (part, cPart, i + 1, nbr, pc(nbr), sup,
            math.floor(sup.toDouble / math.sqrt((cPart * pc(nbr)).toDouble)
              * 1e6 + 0.5) / 1e6)
        }
    }.sortBy(e => (e._1, e._3))
    assert(got.length == expected.length && got.nonEmpty)
    got.zip(expected).foreach { case (r, e) =>
      assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)) == e)
    }
  }

  test("delayed_orders == driver-side EXISTS replay; multi-line orders count once") {
    val got = RelationalOps.delayedOrders(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val slice = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2)))
      .filter(o => !o._3.isBefore(ts("1997-01-01")) &&
        o._3.isBefore(ts("1997-04-01")))
    val lateKeys = lineitem.groupBy(_._1).view.mapValues(_.map(_._6)).toMap
    val delayed = slice.filter { case (ok, _, od) =>
      lateKeys.get(ok).exists(_.exists(sd =>
        sd.toLocalDate.isAfter(od.toLocalDate.plusDays(90))))
    }
    val expected = delayed.groupBy(_._2).map { case (p, os) =>
      p -> os.length.toLong
    }
    assert(got == expected && got.values.sum > 0)
    // each delayed order counted exactly once regardless of how many
    // of its lines qualify
    assert(got.values.sum == delayed.map(_._1).distinct.length.toLong)
  }

  test("customer_order_dist == driver-side count-of-counts; zero bucket present") {
    val got = RelationalOps.customerOrderDist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allCust = custNation.keySet
    val perCust = orders.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = allCust.toSeq
      .map(ck => perCust.getOrElse(ck, 0L))
      .groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    assert(got == expected)
    assert(got.contains(0L) == allCust.exists(!perCust.contains(_)))
    assert(got.values.sum == allCust.size.toLong)
  }

  test("top_supplier == the exact-decimal max; all ties returned") {
    val got = RelationalOps.topSupplier(spark, sf).collect()
    val perSupp = lineitem
      .filter(l => !l._6.isBefore(ts("1998-01-01")) && l._6.isBefore(ts("1998-04-01")))
      .groupBy(_._2)
      .map { case (sk, ls) => sk -> ls.map(l => d6(l._3 * (1.0 - l._4))).sum }
    val mx = perSupp.values.max
    val winners = perSupp.filter(_._2 == mx).keys.toSeq.sorted
    assert(got.map(_.getLong(0)).toSeq == winners)
    got.foreach(r => assert(r.getDouble(2) == mx.toDouble))
  }

  test("adamic_adar == brute-force wedge replay over the co-purchase graph") {
    val got = RelationalOps.adamicAdar(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got.nonEmpty, "the co>=2 graph must yield non-adjacent wedges")
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2))
    val co = scala.collection.mutable.Map[(Long, Long), Int]()
      .withDefaultValue(0)
    baskets.foreach { ps =>
      for (a <- ps; b <- ps if a < b) co((a, b)) += 1
    }
    // iterator first: Map.collect with a tuple-valued function
    // rebuilds a MAP (deduping on the pair's first element)
    val edges = co.iterator.collect { case (k, c) if c >= 2 => k }.toSet
    val adjm = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adjm(a) += b; adjm(b) += a }
    def w(k: Long): Long =
      math.floor(1e6 / math.log(adjm(k).size.toDouble) + 0.5).toLong
    val cand = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    adjm.foreach { case (k, nbrs) =>
      if (nbrs.size >= 2) {
        val ns = nbrs.toSeq.sorted
        for (i <- ns; j <- ns if i < j) {
          val (ws, nc) = cand.getOrElse((i, j), (0L, 0L))
          cand((i, j)) = (ws + w(k), nc + 1L)
        }
      }
    }
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val want = cand.toSeq.collect {
      case ((i, j), (ws, nc)) if !edges((i, j)) =>
        (i, j, nc, r6d(ws / 1e6))
    }.sortBy { case (i, j, _, s) => (-s, i, j) }.take(20)
    assert(got == want,
      s"got ${got.take(3)}... want ${want.take(3)}...")
    // every returned pair must NOT be an edge (it is a prediction)
    got.foreach { case (i, j, _, _) => assert(!edges((i, j))) }
  }

  test("item_components == driver union-find over the co-purchase edges") {
    val s = spark
    val edges = RelationalOps.coPurchaseEdges(s, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // classic path-compressed union-find on the driver
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val expected = parent.keys.map(x => (x, find(x))).toSet
    val got = RelationalOps.itemComponents(s, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    // components are non-trivial on this corpus
    assert(got.exists(t => t._1 != t._2))
  }

  test("shuffle_uniformity == driver chi2 replay; permutation decorrelates") {
    val s = spark
    val docs = Tables.documents(s, TestSpark.sf001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nn = docs.length.toLong
    val ordered = docs.sortBy { case (id, _) =>
      ((id % 1000000007L) * 668265263L % 1000000007L, id)
    }
    val cells = ordered.zipWithIndex
      .map { case ((_, src), pos) => ((pos.toLong * 10 / nn).toInt, src) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowT = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val colT = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val qsum = cells.map { case ((dec, src), o) =>
      val e = rowT(dec).toDouble * colT(src).toDouble / nn.toDouble
      math.floor((o - e) * (o - e) / e * 1.0e6 + 0.5).toLong
    }.sum
    val dof = (rowT.size - 1).toLong * (colT.size - 1).toLong
    val expected = (nn, cells.size.toLong, dof,
      math.floor(qsum.toDouble / 1.0e6 * 1e6 + 0.5) / 1e6)
    val got = graft.operators.LlmTextOps.shuffleUniformity(s, TestSpark.sf001)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getDouble(3)) == expected)
    // a healthy hash shuffle: chi2 within a loose multiple of dof
    // (independence would put E[chi2] = dof; 3x flags source leakage)
    assert(got.getDouble(3) < 3.0 * dof, s"shuffle leaks source order: $got")
  }

  test("jaccard_neighbors == brute-force neighbor-set replay; AA candidate set shared") {
    val got = RelationalOps.jaccardNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got.nonEmpty)
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2))
    val co = scala.collection.mutable.Map[(Long, Long), Int]()
      .withDefaultValue(0)
    baskets.foreach { ps =>
      for (a <- ps; b <- ps if a < b) co((a, b)) += 1
    }
    val edges = co.iterator.collect { case (k, c) if c >= 2 => k }.toSet
    val adjm = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adjm(a) += b; adjm(b) += a }
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val cand = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    adjm.foreach { case (_, nbrs) =>
      if (nbrs.size >= 2) {
        val ns = nbrs.toSeq.sorted
        for (i <- ns; j <- ns if i < j) cand((i, j)) += 1L
      }
    }
    val want = cand.toSeq.collect {
      case ((i, j), nc) if !edges((i, j)) =>
        val (da, db) = (adjm(i).size.toLong, adjm(j).size.toLong)
        (i, j, da, db, nc, r6d(nc.toDouble / (da + db - nc).toDouble))
    }.sortBy { case (i, j, _, _, _, s) => (-s, i, j) }.take(20)
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    // jaccard is a [0,1] set statistic; intersection bounded by both
    // degrees (the union identity holds by construction)
    got.foreach { case (_, _, da, db, nc, s) =>
      assert(s >= 0.0 && s <= 1.0 + 1e-9)
      assert(nc <= math.min(da, db))
    }
  }

  test("l_diversity == driver census replay; __total row consistent") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def bin(b: Double): Long =
      math.max(0L, math.min(9L, math.floor((b + 1000.0) / 1100.0).toLong))
    val classes = cust.groupBy(c => (c._1, c._2)).map { case (k, cs) =>
      k -> ((cs.length.toLong, cs.map(c => bin(c._3)).distinct.length.toLong))
    }
    val risky = classes.filter(_._2._2 < 3L)
    val got = RelationalOps.lDiversity(spark, sf).collect()
    val totalRow = got.filter(_.getString(1) == "__total")
    assert(totalRow.length == 1)
    assert(totalRow.head.getLong(2) == risky.values.map(_._1).sum,
      "at-risk customer total")
    assert(totalRow.head.getLong(3) == risky.size.toLong,
      "at-risk class count")
    val gotRisky = got.filter(_.getString(1) != "__total")
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(gotRisky == risky, s"risky classes: got ${gotRisky.size} " +
      s"want ${risky.size}")
    // every reported class is genuinely below the l = 3 bar
    gotRisky.values.foreach { case (_, l) => assert(l < 3L) }
  }

  test("t_closeness == driver EMD replay over ordered balance bands") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def bin(b: Double): Long =
      math.max(0L, math.min(9L, math.floor((b + 1000.0) / 1100.0).toLong))
    val nn = cust.length.toLong
    val globalC = cust.groupBy(c => bin(c._3)).view
      .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = cust.groupBy(c => (c._1, c._2)).map { case (k, cs) =>
      val n = cs.length.toLong
      val cc = cs.groupBy(c => bin(c._3)).view
        .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
      // integer cumulative differences with cleared denominators
      val emdNum = (0L to 8L).map { kk =>
        math.abs((0L to kk).map(i => cc(i) * nn - globalC(i) * n).sum)
      }.sum
      k -> ((n, r6d(emdNum.toDouble / (n * nn * 9L).toDouble),
        emdNum * 4L > n * nn * 9L))
    }
    val got = RelationalOps.tCloseness(spark, sf).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val e = expected((r.getLong(0), r.getString(1)))
      assert(r.getLong(2) == e._1, s"${r.getLong(0)} k")
      assert(math.abs(r.getDouble(3) - e._2) < 2e-6,
        s"${r.getLong(0)}/${r.getString(1)} t: ${r.getDouble(3)} vs ${e._2}")
      assert(r.getBoolean(4) == e._3, s"${r.getLong(0)} flag")
      // EMD over a unit-distance ordered domain normalized by m-1
      // lives in [0, 1]
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
    // classes partition the table
    assert(got.map(_.getLong(2)).sum == nn)
  }
}

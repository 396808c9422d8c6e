package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{SessionMemo, Tables}
import graft.operators.LlmVectorOps
import graft.pipeline.CorpusSilver

import Main.{Args, Outcome, Tally, seconds}

/** `query`: a pass over a fixed panel of registry rows from every
  * operator family (`expected/query.tsv`) in a seeded order, on a
  * session that was first warmed on the small `warm` corpus. One sample is the
  * registry call plus the digest action ([[Digest]]); every sample's row
  * count and digest are checked against the panel file.
  */
object QueryWorkload {
  /** One panel row: its operator family and expected output. A digest
    * of `*` marks a row whose digest does not repeat across runs: only
    * its row count is checked. */
  final case class Expect(name: String, family: String, rows: Long, digest: String)

  /** Panel rows that serve from the stored ANN index. */
  val IndexServed: Set[String] = Set("similarity_ivf_pq_served")

  /** Set-ups per run; `setup_s` reports the median. */
  val SetupAttempts = 3
  /** Nominal length of one measured pass: `--seconds` is rounded to a
    * whole number of passes (at least one), so a run's work is fixed. */
  val PassSeconds = 15

  def panel(a: Args): Seq[Expect] = {
    val src = scala.io.Source.fromFile(
      new File(a.bench, s"expected/${a.workload}.tsv"), "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(f => Expect(f(0), f(1), f(2).toLong, f(3))).toVector
    finally src.close()
  }

  final case class Sample(q: Expect, latency: Double, plan: Double, exec: Double,
      result: Option[Digest.Result], memoBuilt: Int)

  private def runOne(spark: SparkSession, q: Expect, dir: String, trace: Trace,
      group: String): Sample = {
    spark.sparkContext.setJobGroup(group, q.name, interruptOnCancel = false)
    val before = SessionMemo.size(spark)
    val t0 = System.nanoTime()
    try {
      val fn = SparkEntry.queries(q.name)
      val frame = trace.span("operators", s"${q.family}.${q.name}.plan") {
        val f = Digest.frame(fn(spark, dir))
        // the traced run plans apart from executing, to split the two
        if (trace.enabled) f.queryExecution.executedPlan
        f
      }
      val t1 = System.nanoTime()
      val r = trace.span("operators", s"${q.family}.${q.name}.exec")(Digest.read(frame))
      val t2 = System.nanoTime()
      Sample(q, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(r),
        math.max(0, SessionMemo.size(spark) - before))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ${q.name} threw $e")
        Sample(q, seconds(t0), 0, 0, None, 0)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Bytes held by persisted RDD blocks: memoized silvers, local
    * checkpoints and anything else the pass left cached. */
  def heldMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** The pass's end-to-end metrics. Its rows are unlike one another (a
    * fifth of a second to several seconds), and a pass has too few of
    * them for a percentile: the median would be whichever row lands in
    * the middle, and no tail percentile leaves 10 samples beyond it. So
    * the central latency is the geometric mean over all rows, and the
    * tail is the geometric mean over the slowest half. */
  final case class Pass(samples: Seq[Sample], wall: Double, heldMb: Double) {
    def latenciesMs: Seq[Double] = samples.map(_.latency * 1000)
    def e2e: Map[String, Double] = Map(
      "latency_ms" -> Stats.geomean(latenciesMs),
      "latency_tail_ms" -> Stats.geomean(
        latenciesMs.sorted.takeRight(math.max(1, latenciesMs.size / 2))),
      "throughput_per_s" -> samples.size / wall,
      "held_mb" -> heldMb)
  }

  private def pass(spark: SparkSession, qs: Seq[Expect], a: Args, dir: String,
      trace: Trace, passes: Int): Pass = {
    val t0 = System.nanoTime()
    val samples = (0 until passes).flatMap { p =>
      val byName = qs.map(q => q.name -> q).toMap
      Inputs.queryOrder(qs.map(_.name), a.seed * 1000 + p)
        .map { n =>
          val r = runOne(spark, byName(n), dir, trace, s"q:$n")
          System.err.println(f"[perfbench] pass $p $n ${r.latency * 1000}%.0f ms")
          r
        }
    }
    Pass(samples, seconds(t0), heldMb(spark))
  }

  def run(a: Args): Outcome = {
    val qs = panel(a)
    val bench = new File(a.data, "bench").getPath
    val warm = new File(a.data, "warm").getPath
    val trace = new Trace(a.trace, s"${a.workload}-${a.seed}")
    val tally = new Tally

    // set-up: the session start, repeated (setup_s takes the median);
    // then, once, the warm pass and the stored ANN index of the measured
    // corpus. The index is built after the warm pass, whose rows have
    // compiled its training code. The rows that serve from it are warmed
    // on the measured corpus instead (without an index the warm corpus
    // would train one inline), and the session's memos are dropped after,
    // so the measured pass starts from nothing memoized.
    val sessions = (1 to SetupAttempts).map { i =>
      val t0 = System.nanoTime()
      val s = trace.span("setup", s"session.$i")(Main.session(a))
      val sessionS = seconds(t0)
      if (i < SetupAttempts) s.stop()
      (s, sessionS)
    }
    val spark = sessions.last._1
    val t0 = System.nanoTime()
    trace.span("setup", "warm") {
      Inputs.queryOrder(qs.map(_.name), a.seed).filterNot(IndexServed).foreach { n =>
        val q = qs.find(_.name == n).get
        val r = runOne(spark, q, warm, Trace.off, "warm")
        System.err.println(f"[perfbench] warm ${q.name} ${r.latency * 1000}%.0f ms")
        tally.check(s"warm $n")(r.result.isDefined)
      }
    }
    val warmPassS = seconds(t0)
    val t1 = System.nanoTime()
    trace.span("setup", "ann_index") {
      val base = new File(a.work, "ann-index").getPath
      CorpusSilver.writeAnnIndex(spark, bench, new File(base, new File(bench).getName).getPath)
      spark.conf.set(LlmVectorOps.AnnIndexConf, base)
    }
    val annS = seconds(t1)
    val t2 = System.nanoTime()
    trace.span("setup", "warm_served") {
      qs.filter(q => IndexServed(q.name)).foreach { q =>
        tally.check(s"warm ${q.name}")(runOne(spark, q, bench, Trace.off, "warm").result.isDefined)
      }
      SessionMemo.invalidate(spark)
    }
    val warmS = warmPassS + seconds(t2)
    val sessionS = Stats.median(sessions.map(_._2))

    val passes = math.max(1, math.round(a.seconds.toDouble / PassSeconds).toInt)
    // the traced run measures an untraced pass first, then drops the
    // session's memos so the traced pass rebuilds what the first built
    val plain = pass(spark, qs, a, bench, Trace.off, passes)
    val counters = new SparkCounters
    val measured =
      if (!a.trace) plain
      else {
        SessionMemo.invalidate(spark)
        spark.sparkContext.addSparkListener(counters)
        try pass(spark, qs, a, bench, trace, passes)
        finally {
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counters)
        }
      }

    a.record match {
      case Some(out) => record(out, plain)
      case None => measured.samples.foreach { s =>
        tally.check(s"${s.q.name} rows/digest") {
          s.result.exists(r => r.rows == s.q.rows &&
            (s.q.digest == "*" || r.digest == s.q.digest)) || {
            System.err.println(s"[perfbench] ${s.q.name}: got ${s.result}, " +
              s"expected rows=${s.q.rows} digest=${s.q.digest}")
            false
          }
        }
      }
    }

    val e2e = plain.e2e + ("setup_s" -> (sessionS + annS + warmS))
    val layer =
      if (!a.trace) Map.empty[String, Double]
      else {
        val ss = measured.samples
        val byFamily = ss.groupBy(_.q.family).toSeq.flatMap { case (f, xs) =>
          Seq(s"operators.$f.plan_s" -> xs.map(_.plan).sum,
            s"operators.$f.exec_s" -> xs.map(_.exec).sum)
        }
        val (cold, warmLoad) = tableLoads(spark, bench, trace)
        val builds = ss.filter(_.memoBuilt > 0)
        Map("setup.session_s" -> sessionS, "setup.ann_index_s" -> annS,
          "setup.warm_s" -> warmS,
          "engine.table_load_cold_ms" -> cold, "engine.table_load_warm_ms" -> warmLoad,
          "engine.memo_builds" -> ss.map(_.memoBuilt).sum.toDouble,
          "engine.memo_build_s" -> builds.map(_.latency).sum,
          "operators.plan_s" -> ss.map(_.plan).sum,
          "operators.exec_s" -> ss.map(_.exec).sum,
          "latency.samples" -> ss.size.toDouble,
          "latency.p50_ms" -> Stats.median(ss.map(_.latency * 1000))) ++ byFamily ++
          counters.totals(_.startsWith("q:")).map { case (k, v) => s"spark.$k" -> v } ++
          trace.selfSeconds.map { case (l, v) => s"$l.self_s" -> v } ++
          measured.e2e.map { case (k, v) => s"trace.overhead.$k" -> (v - plain.e2e(k)) }
      }
    if (a.trace) trace.write(new File(a.work, "trace.jsonl"))
    Outcome(tally.attempted, tally.failed, e2e ++ layer)
  }

  /** Median per-table `Tables.load` time (ms) on a session with nothing
    * memoized (cold), then again with the plans memoized (warm). */
  private def tableLoads(spark: SparkSession, dir: String, trace: Trace): (Double, Double) = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    SessionMemo.invalidate(spark)
    def time(kind: String): Double = Stats.median(tables.map { t =>
      val t0 = System.nanoTime()
      trace.span("engine", s"Tables.load.$t.$kind")(Tables.load(spark, dir, t))
      seconds(t0) * 1000
    })
    val cold = time("cold")
    (cold, time("warm"))
  }

  private def record(out: File, p: Pass): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try p.samples.sortBy(_.q.name).foreach { s =>
      val r = s.result.getOrElse(Digest.Result(-1, "error"))
      w.println(s"${s.q.name}\t${s.q.family}\t${r.rows}\t${r.digest}")
    } finally w.close()
  }
}

package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.Tables
import graft.pipeline.CryptoIngest
import graft.sources.TickSource
import graft.streaming.PollingIngest

import Main.{Args, Outcome, Tally, seconds}

/** `ingest`: the reference's own job. An open-loop generator lands
  * payload files at a fixed rate while `PollingIngest` consumes them
  * (stream phase); then the batch twin runs over the same landing
  * directory and the stream's raw layer gets its nightly maintenance
  * (batch phase). Every output is checked against plain-Scala
  * accounting of the seeded inputs.
  */
object IngestWorkload {
  /** Landing rate of the open-loop generator. */
  val FilesPerSecond = 25
  /** Raw-layer retention the maintenance step applies. */
  val KeepDays = 2
  val SetupAttempts = 3
  /** Files the set-up's warm-up streams, one micro-batch each. */
  val WarmFiles = 3

  /** Lands each file at its scheduled time, whatever the consumer's pace:
    * written under a hidden name, then renamed into place. */
  final class Generator(landing: File, files: Vector[(String, Array[Byte])],
      intervalMs: Long) extends Thread("perfbench-generator") {
    val scheduledMs = new Array[Long](files.size)
    val landedMs = new Array[Long](files.size)
    @volatile var error: Option[Throwable] = None
    override def run(): Unit = try {
      val startMs = System.currentTimeMillis() + 100
      val startNs = System.nanoTime() + 100L * 1000000
      files.zipWithIndex.foreach { case ((name, bytes), k) =>
        scheduledMs(k) = startMs + k * intervalMs
        val due = startNs + k * intervalMs * 1000000
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        land(landing, name, bytes)
        landedMs(k) = System.currentTimeMillis()
      }
    } catch { case e: Throwable => error = Some(e) }
  }

  def land(dir: File, name: String, bytes: Array[Byte]): Unit = {
    val tmp = new File(dir, s".$name.tmp").toPath
    Files.write(tmp, bytes)
    Files.move(tmp, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(k: Int): String = f"part-$k%05d.json"

  private def ticksOf(df: DataFrame): Vector[Tick] =
    df.select(unix_micros(col("ts")), col("symbol"), col("price")).collect()
      .map(r => Tick(r.getLong(0), r.getString(1), r.getDouble(2)))
      .toVector.sortBy(t => (t.tsMicros, t.symbol, t.price))

  private def barsOf(df: DataFrame): Map[Ohlc.Key, Ohlc.Bar] =
    df.select(col("date").cast("string"), col("hour").cast("int"), col("symbol"),
      col("open_price"), col("high_price"), col("low_price"), col("close_price"),
      col("avg_price"), col("sample_count").cast("long")).collect().map { r =>
      Ohlc.Key(java.time.LocalDate.parse(r.getString(0)), r.getInt(1), r.getString(2)) ->
        Ohlc.Bar(r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7), r.getLong(8))
    }.toMap

  private def sameBars(a: Map[Ohlc.Key, Ohlc.Bar], b: Map[Ohlc.Key, Ohlc.Bar]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => Ohlc.same(v, b(k)) }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).toArray.toSeq.map(p => p.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** One stream + batch cycle over fresh directories. */
  private final class Cycle(spark: SparkSession, plan: IngestPlan,
      root: File, trace: Trace, tally: Tally, checked: Boolean = true) {
    val landing = new File(root, "landing")
    val raw = new File(root, "raw")
    val hourly = new File(root, "hourly")
    val ckpt = new File(root, "checkpoint")
    val batchRaw = new File(root, "batch-raw")
    val batchHourly = new File(root, "batch-hourly")
    val metrics = scala.collection.mutable.Map.empty[String, Double]
    landing.mkdirs()

    def group[T](name: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(s"p:$name", name, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }

    def stream(streamCounters: Option[StreamCounters]): Unit = {
      land(landing, "part-primer.json", plan.bytesOf(plan.primer))
      val job = trace.span("streaming", "PollingIngest.start")(group("stream") {
        PollingIngest.start(spark, landing.getPath, raw.getPath, hourly.getPath,
          ckpt.getPath, Trigger.ProcessingTime(0L))
      })
      try {
        trace.span("streaming", "primer")(job.processAllAvailable())
        val files = plan.files.zipWithIndex.map { case (f, k) => fileName(k) -> plan.bytesOf(f) }
        val gen = new Generator(landing, files, 1000L / FilesPerSecond)
        trace.span("streaming", "open_loop") { gen.start(); gen.join() }
        gen.error.foreach(e => throw e)
        val lastLanded = gen.landedMs.max
        trace.span("streaming", "drain")(job.processAllAvailable())
        metrics("streaming.drain_s") = (System.currentTimeMillis() - lastLanded) / 1e3
        val scheduled = files.map(_._1).zip(gen.scheduledMs).toMap
        val fresh = Freshness.compute(new File(ckpt, "raw").getPath, scheduled)
        tally.attempted += files.size
        tally.failed += fresh.missing.size
        if (fresh.missing.nonEmpty)
          System.err.println(s"[perfbench] ${fresh.missing.size} files never committed")
        val f = fresh.freshMs.values.toSeq
        metrics("latency_ms") = Stats.median(f)
        metrics("latency_tail_ms") = Stats.tail(f)
        metrics("latency.samples") = f.size
        metrics("latency.tail_percentile") = Stats.tailPercentile(f.size)
        metrics("latency.p50_ms") = Stats.median(f)
        val lateness = gen.landedMs.zip(gen.scheduledMs).map { case (l, s) => (l - s).toDouble }
        metrics("generator.late_p95_ms") = Stats.percentile(lateness.toSeq, 95)
        metrics("streaming.backlog_files_max") =
          Freshness.backlogMax(files.map(_._1).zip(gen.landedMs).toMap, fresh.commitMs)
        streamCounters.foreach { c =>
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          metrics ++= c.metrics(job.raw.id, Seq(job.raw.id, job.hourly.id))
            .map { case (k, v) => s"streaming.$k" -> v }
        }
      } finally job.stop()
      if (checked) checkStream()
    }

    /** Set-up's warm-up: the primer and the first `n` files, one
      * micro-batch each, through both sinks, then the batch phase. */
    def warmUp(n: Int): Unit = {
      land(landing, "part-primer.json", plan.bytesOf(plan.primer))
      val job = PollingIngest.start(spark, landing.getPath, raw.getPath,
        hourly.getPath, ckpt.getPath, Trigger.ProcessingTime(0L))
      try {
        job.processAllAvailable()
        plan.files.take(n).zipWithIndex.foreach { case (f, k) =>
          land(landing, fileName(k), plan.bytesOf(f))
          job.processAllAvailable()
        }
      } finally job.stop()
      batch()
    }

    /** The batch twin over the landing directory, then maintenance of
      * the stream's raw layer. */
    def batch(): Unit = {
      val t0 = System.nanoTime()
      val obs = new Observation("parsed")
      def parsed = TickSource.parseApiPayload(
        spark.read.schema(TickSource.landingSchema).json(landing.getPath),
        col("payload"), col("fetch_ts"))
      val observed = if (trace.enabled) parsed.observe(obs, count(lit(1)).as("n")) else parsed
      val ticks = observed.dropDuplicates("symbol", "ts")
      def step(name: String, key: String)(body: => Unit): Unit = {
        val s0 = System.nanoTime()
        trace.span("pipeline", name)(group(name)(body))
        metrics(key) = seconds(s0)
      }
      step("CryptoIngest.landRaw", "pipeline.land_raw_s")(
        CryptoIngest.landRaw(ticks, batchRaw.getPath))
      step("CryptoIngest.flushHourly", "pipeline.flush_hourly_s")(
        CryptoIngest.flushHourly(ticks, batchHourly.getPath))
      step("CryptoIngest.upsertHourlyRows", "pipeline.upsert_jdbc_s")(
        CryptoIngest.upsertHourlyRows(spark.read.parquet(batchHourly.getPath),
          derbyUrl, "downsampled_prices"))
      // nightly maintenance of the stream's raw layer: compact every
      // sealed date, then drop dates past retention
      val dates = Option(raw.listFiles()).getOrElse(Array.empty[File])
        .filter(d => d.isDirectory && d.getName.startsWith("date=")).map(_.getName).sorted
      var before, after = 0
      step("CryptoIngest.compactPartition", "pipeline.compact_s") {
        dates.dropRight(1).foreach { d =>
          val (b, n) = CryptoIngest.compactPartition(spark, new File(raw, d).getPath)
          before += b; after += n
        }
      }
      var dropped = Seq.empty[String]
      step("CryptoIngest.applyRetention", "pipeline.retention_s") {
        dropped = CryptoIngest.applyRetention(spark, raw.getPath,
          java.time.LocalDate.parse(dates.last.stripPrefix("date=")), KeepDays)
      }
      metrics("throughput_per_s") = plan.linesIn / seconds(t0)
      metrics("pipeline.compact_files_before") = before
      metrics("pipeline.compact_files_after") = after
      metrics("pipeline.partitions_dropped") = dropped.size
      metrics("pipeline.land_raw_files") = parquetFiles(batchRaw).size
      metrics("sources.lines_in") = plan.linesIn.toDouble
      if (checked) checkBatch()
      if (trace.enabled) {
        val out = obs.get("n").asInstanceOf[Long].toDouble
        metrics("sources.ticks_out") = out
        metrics("sources.yield") = out / plan.linesIn
        // parse alone, outside the timed phase
        val p0 = System.nanoTime()
        trace.span("sources", "TickSource.parseApiPayload")(group("parse")(parsed.count()))
        metrics("sources.parse_s") = seconds(p0)
      }
    }

    val derbyUrl = s"jdbc:derby:memory:perfbench-${root.getName};create=true"

    private def sorted(ts: Seq[Tick]) = ts.sortBy(t => (t.tsMicros, t.symbol, t.price))
    private var streamBars = Map.empty[Ohlc.Key, Ohlc.Bar]

    /** Stream outputs against the seeded accounting: every source tick
      * exactly once in the raw layer (malformed, duplicate and late
      * payloads dropped), and the plain-Scala OHLC of those ticks on
      * every hour the final watermark closed. */
    def checkStream(): Unit = {
      val accepted = plan.streamTicks
      tally.check("golden vector (plain-Scala OHLC)")(Ohlc.goldenVectorHolds)
      tally.check("stream raw rows == accounting")(
        ticksOf(spark.read.parquet(raw.getPath)) == sorted(accepted))
      val watermark = accepted.map(_.tsMicros).max - 10L * 60 * 1000000
      def closed(k: Ohlc.Key): Boolean =
        (k.date.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond +
          (k.hour + 1) * 3600L) * 1000000L <= watermark
      streamBars = barsOf(spark.read.parquet(hourly.getPath))
      tally.check("stream hourly == plain-Scala OHLC on closed hours")(
        sameBars(streamBars, Ohlc.hourly(accepted).filter { case (k, _) => closed(k) }))
      metrics.get("streaming.watermark_dropped_rows").foreach { n =>
        tally.check("watermark drops == injected late ticks")(n == plan.lateTicks.size)
      }
      metrics.get("streaming.duplicate_dropped_rows").foreach { n =>
        tally.check("dedup drops == injected re-sends")(n == plan.duplicates)
      }
    }

    /** Batch outputs: the raw layer keeps late ticks too, its hourly
      * layer matches plain-Scala OHLC and the stream on closed hours, and
      * the Derby table matches the parquet hourly layer. */
    def checkBatch(): Unit = {
      val accepted = plan.streamTicks ++ plan.lateTicks
      tally.check("batch raw rows == accounting")(
        ticksOf(spark.read.parquet(batchRaw.getPath)) == sorted(accepted))
      val batchBars = barsOf(spark.read.parquet(batchHourly.getPath))
      tally.check("batch hourly == plain-Scala OHLC")(
        sameBars(batchBars, Ohlc.hourly(accepted)))
      tally.check("stream hourly == batch hourly on closed hours")(
        streamBars.nonEmpty &&
          sameBars(streamBars, batchBars.filter { case (k, _) => streamBars.contains(k) }))
      tally.check("Derby table == parquet hourly layer")(sameBars(
        barsOf(spark.read.jdbc(derbyUrl, "downsampled_prices", new java.util.Properties)),
        batchBars))
      metrics("pipeline.hourly_rows") = batchBars.size
    }

    /** The stream's raw layer after maintenance: total size and bytes
      * per retained tick. Each date directory is read on its own: the
      * sink's `_spark_metadata` log at the layer root still lists the
      * files compaction replaced, so a root read would look for them. */
    def rawLayer(): Unit = {
      val files = parquetFiles(raw)
      val bytes = files.map(_.length).sum.toDouble
      val rows = Option(raw.listFiles()).getOrElse(Array.empty[File])
        .filter(d => d.isDirectory && d.getName.startsWith("date="))
        .map(d => spark.read.parquet(d.getPath).count()).sum
      metrics("held_mb") = bytes / (1024.0 * 1024.0)
      metrics("pipeline.raw_bytes_per_tick") = bytes / math.max(1L, rows)
    }
  }

  def run(a: Args): Outcome = {
    val trace = new Trace(a.trace, s"ingest-${a.seed}")
    val tally = new Tally
    val source = new File(a.data, "ingest").getPath
    val nFiles = a.seconds * FilesPerSecond
    val setups = (1 to SetupAttempts).map { i =>
      val t0 = System.nanoTime()
      val s = trace.span("setup", s"session.$i")(Main.session(a))
      val sessionS = seconds(t0)
      val plan = trace.span("setup", s"inputs.$i")(
        Inputs.ingestPlan(ticksOf(Tables.ticks(s, source)), a.seed, nFiles))
      val total = seconds(t0)
      if (i < SetupAttempts) s.stop()
      (s, plan, sessionS, total)
    }
    val (spark, plan, _, _) = setups.last
    // warm the stream and batch paths once on a few files, so neither
    // measured phase is the JVM's first run of its steps
    val w0 = System.nanoTime()
    trace.span("setup", "warm") {
      new Cycle(spark, plan, new File(a.work, "warm"), Trace.off, new Tally,
        checked = false).warmUp(WarmFiles)
    }
    val warmS = seconds(w0)
    val setupS = Stats.median(setups.map(_._4)) + warmS

    def cycle(name: String, t: Trace, traced: Boolean): Map[String, Double] = {
      val c = new Cycle(spark, plan, new File(a.work, name), t, tally)
      val counters = new SparkCounters
      val streams = new StreamCounters
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.streams.addListener(streams)
      }
      try {
        c.stream(if (traced) Some(streams) else None)
        c.batch()
        c.rawLayer()
      } finally if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.streams.removeListener(streams)
      }
      c.metrics.toMap ++
        (if (traced) counters.totals(_ => true).map { case (k, v) => s"spark.$k" -> v }
         else Map.empty)
    }

    // the traced run measures an untraced cycle first, then a traced one
    // over fresh directories, and reports the difference as overhead
    val plain = cycle("plain", Trace.off, traced = false)
    val e2eKeys = Main.EndToEnd.map(_._1).filter(_ != "setup_s")
    val layer =
      if (!a.trace) Map.empty[String, Double]
      else {
        val traced = cycle("traced", trace, traced = true)
        trace.write(new File(a.work, "trace.jsonl"))
        traced.filter { case (k, _) => !e2eKeys.contains(k) } ++
          Map("setup.session_s" -> Stats.median(setups.map(_._3)),
            "setup.warm_s" -> warmS) ++
          trace.selfSeconds.map { case (l, v) => s"$l.self_s" -> v } ++
          e2eKeys.map(k => s"trace.overhead.$k" -> (traced(k) - plain(k)))
      }
    Outcome(tally.attempted, tally.failed,
      plain.filter { case (k, _) => e2eKeys.contains(k) } + ("setup_s" -> setupS) ++ layer)
  }
}

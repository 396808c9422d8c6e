package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spark-side counters, attributed to the job group the client thread
  * set around each query or phase. Registered only in the traced run.
  */
final class SparkCounters extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(group: String, k: String, v: Double): Unit = {
    val m = byGroup.computeIfAbsent(group, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    add(g, "jobs", 1)
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    add(g, "tasks", 1)
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))
    val m = e.taskMetrics
    if (m != null) {
      add(g, "executor_run_s", m.executorRunTime / 1e3)
      add(g, "executor_cpu_s", m.executorCpuTime / 1e9)
      add(g, "gc_s", m.jvmGCTime / 1e3)
      add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.getOrDefault(info.stageId, "none")
    add(g, "stages", 1)
    for (sub <- info.submissionTime; first <- Option(stageFirstLaunch.get(info.stageId)))
      add(g, "stage_wait_s", math.max(0L, first - sub) / 1e3)
  }

  /** Counters summed over the groups `keep` accepts. */
  def totals(keep: String => Boolean): Map[String, Double] = {
    val sums = mutable.Map.empty[String, Double]
    byGroup.asScala.foreach { case (g, m) =>
      if (keep(g)) m.synchronized(m.foreach { case (k, v) =>
        sums(k) = sums.getOrElse(k, 0.0) + v })
    }
    SparkCounters.Names.map(n => n -> sums.getOrElse(n, 0.0)).toMap
  }
}

object SparkCounters {
  /** Counter names, in report order (all reported under `spark.`). */
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "stage_wait_s",
    "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes")
}

/** `StreamingQueryProgress` per micro-batch of every query, keyed by
  * query id. Traced run only. */
final class StreamCounters extends StreamingQueryListener {
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** The `streaming.*` metrics: batch timings and drops from the raw
    * sink (whose commits define freshness), state from every query. */
  def metrics(raw: java.util.UUID, all: Seq[java.util.UUID]): Map[String, Double] = {
    val ps = progress.asScala.toVector
    val rawPs = ps.filter(_.id == raw)
    val data = rawPs.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val batchMs = data.map(p => dur(p, "triggerExecution"))
    val rawOps = rawPs.flatMap(_.stateOperators)
    val lastState = all.flatMap(id =>
      ps.filter(_.id == id).lastOption.toSeq.flatMap(_.stateOperators))
    def pct(p: Double) = if (batchMs.isEmpty) 0.0 else Stats.percentile(batchMs, p)
    Map(
      "batches" -> data.size.toDouble,
      "batch_p50_ms" -> pct(50),
      "batch_p95_ms" -> pct(95),
      "add_batch_ms" -> data.map(dur(_, "addBatch")).sum,
      "latest_offset_ms" -> data.map(dur(_, "latestOffset")).sum,
      "query_planning_ms" -> data.map(dur(_, "queryPlanning")).sum,
      "wal_commit_ms" -> data.map(dur(_, "walCommit")).sum,
      "input_rows" -> data.map(_.numInputRows.toDouble).sum,
      "state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "state_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
      "watermark_dropped_rows" -> rawOps.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "duplicate_dropped_rows" -> rawOps.map(o => Option(o.customMetrics
        .get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)).sum)
  }
}

package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ReferenceOps

/** The reference pipeline assembled end-to-end (SURVEY.md §3):
  * ingest → raw layer → hourly downsample → retention, as idempotent
  * lake writes instead of the reference's SQLite/Postgres sinks.
  *
  * Sink semantics vs the reference:
  * - raw append (`dataCollector.py:120-128`) → date-partitioned parquet
  *   append; one atomic job commit per batch replaces the per-poll
  *   `conn.commit()`.
  * - hourly flush (`dataCollector.py:140-163`) → *dynamic partition
  *   overwrite* by date: re-flushing an hour is idempotent, fixing the
  *   reference's PK-violating bare INSERT (`dataCollector.py:73,146-150`,
  *   SURVEY §7 "no-upsert flush").
  * - daily truncate (`dataCollector.py:130-136`) → partition drop of
  *   date directories older than the retention window; with
  *   partition-by-date layout, readers get partition pruning for free.
  */
object CryptoIngest {

  /** Land a tick batch into the raw layer, partitioned by event date. */
  def landRaw(ticks: DataFrame, path: String): Unit =
    ticks
      .withColumn("date", to_date(col("ts")))
      .write.partitionBy("date").mode("append").parquet(path)

  /** Downsample ticks to hourly OHLC and flush idempotently.
    * Partitioned by (date, hour) — the flush unit IS the hour
    * (`dataCollector.py:140-163` flushes completed hours), so dynamic
    * overwrite replaces exactly the (date, hour) partitions present in
    * this batch; a batch covering only some hours of a date leaves that
    * date's other hours untouched.
    */
  def flushHourly(ticks: DataFrame, path: String): Unit =
    ReferenceOps.ohlcAgg(ticks)
      .write.partitionBy("date", "hour").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** JDBC twin of `flushHourly` for users migrating straight off the
    * reference's Postgres sink (`dataCollector.py:140-163`): same
    * `downsampled_prices` DDL (`dataCollector.py:62-75`), idempotent
    * via a staged, single-transaction delete+insert of the (date,
    * hour) keys present in the batch — the upsert the reference's
    * bare INSERT lacks.
    */
  def flushHourlyJdbc(ticks: DataFrame, url: String,
      table: String = "downsampled_prices"): Unit =
    upsertHourlyRows(ReferenceOps.ohlcAgg(ticks), url, table)

  private val hourlyCols = Seq("date", "hour", "symbol", "open_price",
    "high_price", "low_price", "close_price", "avg_price", "sample_count")

  /** The upsert's SQL, exposed as pure generators so PipelineSpec can
    * golden-pin the exact statements against the PostgreSQL dialect
    * (the documented migration target — Derby, the testable sink,
    * accepts a superset, so dialect drift like bare `DOUBLE` or
    * unquoted reserved words would otherwise only surface on a user's
    * first real Postgres run).
    */
  private[graft] def createTableSql(table: String): String =
    // quoted lower-case names: DATE/HOUR are reserved words, and
    // Spark's JDBC writer quotes the DataFrame's column names.
    // DOUBLE PRECISION, not DOUBLE: valid in both Derby and
    // PostgreSQL.
    s"""CREATE TABLE $table (
       |  "date" DATE NOT NULL, "hour" INTEGER NOT NULL,
       |  "symbol" VARCHAR(64) NOT NULL,
       |  "open_price" DOUBLE PRECISION, "high_price" DOUBLE PRECISION,
       |  "low_price" DOUBLE PRECISION, "close_price" DOUBLE PRECISION,
       |  "avg_price" DOUBLE PRECISION, "sample_count" BIGINT,
       |  PRIMARY KEY ("date", "hour", "symbol"))""".stripMargin

  private[graft] def deleteSql(table: String, stage: String): String =
    s"""DELETE FROM $table WHERE EXISTS (
       |  SELECT 1 FROM $stage s
       |  WHERE s."date" = $table."date"
       |    AND s."hour" = $table."hour")""".stripMargin

  private[graft] def insertSql(table: String, stage: String): String = {
    val cols = hourlyCols.map(c => s""""$c"""").mkString(", ")
    s"INSERT INTO $table ($cols) SELECT $cols FROM $stage"
  }

  /** Idempotent landing of already-aggregated hourly OHLC rows
    * (schema of `ReferenceOps.ohlcAgg`) — the shared core of the batch
    * `flushHourlyJdbc` and the streaming `PollingIngest` JDBC sink.
    *
    * Shape: executors land the batch in a staging table
    * (`df.write.jdbc`, no data on the driver at any point), then ONE
    * connection runs `DELETE ... WHERE EXISTS (stage)` + `INSERT ...
    * SELECT FROM stage` in a single transaction — so re-flushing an
    * hour is idempotent AND the swap is atomic: concurrent readers see
    * the old rows or the new rows, never the between-statements gap a
    * two-connection delete-then-append exposes. Scales as O(batch) on
    * executors and O(1) driver statements regardless of how many hours
    * a backfill covers.
    *
    * The staging table name derives from the target, so concurrent
    * upserts into the SAME target are not supported (the streaming
    * sink serializes batches per query, which satisfies this); a
    * failed run's leftover stage is reclaimed by the next overwrite.
    */
  def upsertHourlyRows(hourly: DataFrame, url: String,
      table: String = "downsampled_prices",
      afterStage: () => Unit = () => ()): Unit = {
    val stage = table + "_stage"
    // executors write the staging rows; overwrite drops any leftover
    // stage from a failed previous attempt
    hourly.write.mode("overwrite").jdbc(url, stage, new java.util.Properties)
    // test seam (the compactPartition afterRewrite precedent): a kill
    // between the stage landing and the delete+insert transaction is
    // the worst-case crash point — stage written, target untouched,
    // no checkpoint commit. StreamingSpec injects a crash here and
    // proves the replayed epoch converges to exactly-once.
    afterStage()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val meta = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      val exists = Iterator.continually(meta)
        .takeWhile(_.next()).exists(_.getString("TABLE_NAME")
          .equalsIgnoreCase(table))
      if (!exists) {
        val st = conn.createStatement()
        try st.execute(createTableSql(table))
        finally st.close()
      }
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        st.executeUpdate(deleteSql(table, stage))
        st.executeUpdate(insertSql(table, stage))
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
      conn.setAutoCommit(true)
      val drop = conn.createStatement()
      try drop.execute(s"DROP TABLE $stage") finally drop.close()
    } finally conn.close()
  }

  /** Drop raw-layer date partitions strictly older than `keepDays`
    * days before `asOf`. Pure partition-directory deletes — no data
    * rewrite, O(partitions) metadata work at any scale.
    * Returns the dropped partition dates.
    */
  def applyRetention(spark: SparkSession, path: String, asOf: java.time.LocalDate,
      keepDays: Int): Seq[String] = {
    val cutoff = asOf.minusDays(keepDays.toLong - 1).toString
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val dropped = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter(_.getName.stripPrefix("date=") < cutoff)
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName.stripPrefix("date="))
  }

  /** Compact one landed partition directory: rewrite its many small
    * files (the 5 s-cadence append pattern — one file per micro-batch
    * per executor, `dataCollector.py:220`'s poll loop made durable)
    * into ⌈bytes / targetBytes⌉ right-sized files. The 100 TB lake
    * needs this nightly: a day of 5 s appends is ~17k files per
    * partition, and every downstream scan pays open/footer cost per
    * file. Write-then-swap: the rewrite lands in a sibling temp dir
    * and replaces the partition only after its job commits, so a
    * failed compaction leaves the original intact; a crash between
    * delete and rename loses no data (the temp dir holds the full
    * rewrite) but needs a manual rename — the lake-format ledger
    * (Delta/Iceberg) is the production answer, this is the
    * plain-parquet shape of it.
    *
    * Returns (filesBefore, filesAfter). `afterRewrite` is a test seam
    * invoked between the rewrite and the concurrent-append re-check —
    * production callers leave it default.
    */
  def compactPartition(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      afterRewrite: () => Unit = () => ()): (Int, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no such partition dir: $dir")
    // heal a stranded .old from a PRIOR run that crashed after its
    // promote but before its late-append recovery finished: the .old
    // holds the pre-compaction originals (whose rows live on in the
    // promoted files — by-name comparison against the live dir cannot
    // identify them, which is why the promote persists a snapshot
    // manifest) plus any late appends that rode the rename-aside.
    // Runs on EVERY invocation, before the size early-return, so a
    // partition that never needs compacting again still recovers.
    recoverStaleOld(fs, p)
    val dataFiles = fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (dataFiles.size <= nOut) return (dataFiles.size, dataFiles.size)
    val tmp = new Path(p.getParent, s".${p.getName}.compact-tmp")
    fs.delete(tmp, true)
    // coalesce, not repartition: narrow (no shuffle) — compaction
    // must not pay a corpus shuffle to merge files
    spark.read.parquet(dir).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    afterRewrite()
    // concurrent-append guard: compaction targets SEALED partitions
    // (yesterday's dates), but a misrouted call on today's hot
    // partition would silently drop any file landed after the
    // rewrite's snapshot — re-list and abort instead of losing rows
    // (plain-parquet best effort; a lake-format ledger makes this
    // transactional)
    val now = fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.getName -> f.getLen).toMap
    val snapshot = dataFiles.map(f => f.getPath.getName -> f.getLen).toMap
    if (now != snapshot) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"$dir changed during compaction (live appends?) — aborted, " +
          "original files untouched; compact only sealed partitions")
    }
    // promote via rename-aside, not delete-then-rename: a file
    // appended between the re-check above and a delete would be
    // silently destroyed, and a crash between delete and rename would
    // leave the partition with ZERO copies at the canonical path.
    // With p -> .old first, a late append lands in the renamed-aside
    // dir and is MOVED BACK into the live dir before .old is removed
    // — recovered, not lost. Every crash window leaves the data at
    // .old and/or tmp.
    val old = new Path(p.getParent, s".${p.getName}.compact-old")
    // a lingering .old that fails to delete would make rename(p, old)
    // nest the live dir INSIDE it (Hadoop rename-into-existing
    // returns true), and the final cleanup would then destroy the
    // original — so the delete result is load-bearing, same as tmp's.
    // (recoverStaleOld already healed any crash leftovers at entry;
    // one appearing HERE means a concurrent compaction — fail either
    // way rather than race it.)
    if (fs.exists(old))
      require(fs.delete(old, true),
        s"stale $old could not be removed — aborting before promote")
    require(fs.rename(p, old), s"rename $p -> $old failed — rewrite left at $tmp")
    // persist the pre-compaction file list INTO .old before promoting:
    // if this run crashes after the promote below but before its
    // recovery loop completes, the next invocation's recoverStaleOld
    // needs this manifest to tell compacted-away originals (safe to
    // drop) from late appends (must move back) — the live dir alone
    // can't distinguish them
    writeSnapshotManifest(fs, old, snapshot.keys.toSeq.sorted)
    if (!fs.rename(tmp, p)) {
      // restore the original before failing: no window with an absent
      // canonical path survives this function — and if even the
      // restore fails, say where the data actually is
      val restored = fs.rename(old, p)
      throw new IllegalStateException(
        if (restored) s"rename $tmp -> $p failed — original restored"
        else s"rename $tmp -> $p failed AND restore failed — " +
          s"original at $old, rewrite at $tmp, canonical path absent")
    }
    // recover any file that landed between the re-check and the
    // rename-aside: it rode p into .old and is not in the snapshot —
    // move it into the promoted dir instead of deleting it
    fs.listStatus(old).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .filterNot(f => snapshot.contains(f.getPath.getName))
      .foreach { f =>
        require(fs.rename(f.getPath, new Path(p, f.getPath.getName)),
          s"late append ${f.getPath} could not be moved into $p — " +
            s"left in $old")
      }
    fs.delete(old, true)
    val after = fs.listStatus(p).toSeq
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (dataFiles.size, after)
  }

  /** Name of the pre-compaction file-list manifest written into the
    * rename-aside dir (see [[compactPartition]]'s promote).
    */
  private val SnapshotManifest = "_COMPACT_SNAPSHOT"

  private def writeSnapshotManifest(fs: org.apache.hadoop.fs.FileSystem,
      old: Path, names: Seq[String]): Unit = {
    val out = fs.create(new Path(old, SnapshotManifest), true)
    try out.write(names.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Heal a `.compact-old` stranded by a prior run that crashed after
    * promoting its rewrite: move late appends (files absent from the
    * persisted snapshot manifest) back into the live dir, then drop
    * the dir with the compacted-away originals. A manifest-less .old
    * is refused loudly — without the manifest there is no way to tell
    * an original (whose rows the promoted files already carry — moving
    * it back would duplicate data) from a late append (whose rows
    * exist nowhere else — deleting it would lose data).
    */
  private def recoverStaleOld(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Unit = {
    val old = new Path(p.getParent, s".${p.getName}.compact-old")
    if (!fs.exists(old)) return
    val mf = new Path(old, SnapshotManifest)
    require(fs.exists(mf),
      s"stale $old has no $SnapshotManifest — cannot tell originals " +
        s"from late appends; reconcile against $p manually")
    val in = fs.open(mf)
    val names =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
      finally in.close()
    fs.listStatus(old).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .filterNot(f => names.contains(f.getPath.getName))
      .foreach { f =>
        val dest = new Path(p, f.getPath.getName)
        require(!fs.exists(dest),
          s"late append ${f.getPath} collides with existing $dest — " +
            "reconcile manually")
        require(fs.rename(f.getPath, dest),
          s"late append ${f.getPath} could not be moved into $p — " +
            s"left in $old")
      }
    require(fs.delete(old, true),
      s"recovered $old could not be removed")
  }

  /** One full pipeline pass over a landed tick batch: raw append,
    * hourly flush, retention. The batch twin of the reference's
    * `run()` loop iteration (`dataCollector.py:179-220`).
    */
  def runBatch(ticks: DataFrame, rawPath: String, hourlyPath: String,
      keepDays: Int = 1): Seq[String] = {
    val spark = ticks.sparkSession
    landRaw(ticks, rawPath)
    flushHourly(ticks, hourlyPath)
    // retention as-of = newest landed date partition, read off the raw
    // layer's directory names — a driver metadata listing (the same
    // O(partitions) op applyRetention does), so the pipeline runs no
    // data-collecting Spark action.
    val p = new Path(rawPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = fs.listStatus(p).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("date=")).map(_.stripPrefix("date="))
    if (days.isEmpty) Seq.empty
    else applyRetention(spark, rawPath, java.time.LocalDate.parse(days.max),
      keepDays)
  }
}

package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home for session-scoped state: persisted silver
  * DataFrames ([[getOrBuild]]) and every other per-session value —
  * resolved table plans, corpus routing stats, resolved routes, trained
  * merge lists, wide-form probe verdicts ([[getOrCompute]]). Replaces
  * the per-site `WeakHashMap[SparkSession, Map[String, DataFrame]]`
  * pattern, which could never evict: a persisted Dataset's
  * `sparkSession` field strongly references the weak KEY, so the weak
  * entry was unreclaimable by construction and persisted blocks pinned
  * storage for the life of the JVM.
  *
  * Design:
  *   - sessions map to a synthetic id through a WeakHashMap whose
  *     values are plain Strings — that map holds no strong reference
  *     to the session, so ITS entries collect normally;
  *   - both stores are keyed by the synthetic id, and an
  *     application-end listener (registered once per session) evicts
  *     the session's entries and unpersists its frames, releasing the
  *     last strong references so a stopped session can be collected in
  *     a JVM that outlives it; [[invalidate]] drops the same set;
  *   - memo keys embed [[tableFingerprint]] of the backing table, so
  *     a table rewritten in place mid-session builds fresh values
  *     instead of serving stale results — from the first call after
  *     the fingerprint cache's 5 s TTL, or at once after
  *     [[invalidate]].
  *
  * Residual (documented): a session discarded WITHOUT stopping its
  * context keeps its memos until [[invalidate]] — Spark exposes no
  * per-session (vs per-context) end event to hook. Long-lived
  * multi-session servers should call [[invalidate]] when retiring a
  * session.
  *
  * Builders run OUTSIDE the maps' locks (probe, build, putIfAbsent —
  * see [[getOrBuild]]), so a builder may recursively resolve other
  * memos on the same session without deadlock or
  * IllegalStateException. Derived silvers still PREFER resolving
  * their upstream silver before entering their own memo (the
  * `RelationalOps.adamicAdar` basket hoist): a nested resolve inside
  * the builder runs on every race loser too, and hoisting keeps the
  * duplicate-build window minimal.
  */
object SessionMemo {
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private val memos =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, DataFrame]]()
  private val values =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, AnyRef]]()

  /** Run a best-effort step: a non-fatal failure is reported on stderr
    * and `fallback` returned instead; fatal errors propagate. */
  private def bestEffort[T](what: String, fallback: => T)(body: => T): T =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[graft] SessionMemo: $what failed: $e")
      fallback
    }

  private def unpersistBestEffort(df: DataFrame): Unit =
    bestEffort("unpersist", ())(df.unpersist(blocking = false))

  private def idOf(s: SparkSession): String = {
    var fresh = false
    val id = ids.synchronized {
      var v = ids.get(s)
      if (v == null) {
        v = java.util.UUID.randomUUID().toString
        ids.put(s, v)
        fresh = true
      }
      v
    }
    if (fresh) {
      val sid = id
      bestEffort("registering the application-end listener", ()) {
        s.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(
              e: SparkListenerApplicationEnd): Unit = clearId(sid)
        })
      }
    }
    id
  }

  private def clearId(id: String): Unit = {
    val m = memos.remove(id)
    if (m != null) m.values.forEach(df => unpersistBestEffort(df))
    values.remove(id)
  }

  /** Drop everything memoized for this session — persisted frames
    * (unpersisted), plans, stats, routes, merge lists and probe
    * verdicts — and every cached fingerprint. */
  def invalidate(s: SparkSession): Unit = {
    clearId(idOf(s))
    expireFingerprints()
  }

  /** Count of live persisted-frame memos for this session (test and
    * benchmark hook; [[getOrCompute]] values are not counted). */
  private[graft] def size(s: SparkSession): Int = {
    val m = memos.get(idOf(s))
    if (m == null) 0 else m.size()
  }

  /** Fingerprint of the table file/dir backing a memo: qualified
    * path + a (name, mtime, length) fold over the recursive file
    * listing, resolved through Hadoop `FileSystem` so hdfs://, s3a://
    * and any other configured scheme fingerprint correctly (the old
    * java.io.File walk silently degenerated to a constant off the
    * local FS, which would have let plan/silver memos serve stale
    * results after a remote rewrite). One listing RPC batch per
    * memoized call — noise next to the scan the query itself plans.
    * A corpus rewritten in place changes the fingerprint, keying a
    * fresh build; the deep fold is the only form that detects a single
    * part-file rewritten in place under an untouched root.
    */
  def tableFingerprint(sfDir: String, table: String): String = {
    // thread-local fallback resolution, kept for call sites that have
    // no session in hand (tests); operators use the session-threaded
    // overload below — getActiveSession on a sessionless thread would
    // fall back to a bare Configuration, which for hdfs://s3a:// paths
    // can resolve a differently-configured FileSystem than the one
    // that built the memo (missing credentials → throw or a
    // fingerprint inconsistent with the session's)
    fingerprintWith(tablePath(sfDir, table),
      SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration()))
  }

  /** [[tableFingerprint]] resolved through THIS session's Hadoop conf
    * — the overload every operator call site uses, so the FileSystem
    * that fingerprints a table is always the one whose session built
    * (and will serve) the memo, regardless of which thread runs the
    * call.
    */
  def tableFingerprint(s: SparkSession, sfDir: String,
      table: String): String =
    fingerprintWith(tablePath(sfDir, table), s.sessionState.newHadoopConf())

  /** [[tableFingerprint]] of an arbitrary file or directory (a scan's
    * root path), resolved through this session's Hadoop conf. */
  private[graft] def pathFingerprint(s: SparkSession, path: String): String =
    fingerprintWith(new Path(path), s.sessionState.newHadoopConf())

  private def tablePath(sfDir: String, table: String): Path =
    new Path(new Path(sfDir), table + ".parquet")

  /** Short-TTL fingerprint cache: a 286-query sweep calls
    * [[tableFingerprint]] several times per query (every
    * `Tables.load` plus every memo key), and each call paid a
    * recursive listing even when the memo it keyed was a hit — a pure
    * listing tax. Entries expire after [[FingerprintTtlNanos]] (5 s),
    * so a table rewritten in place fingerprints fresh on the first
    * call after expiry. The window is a deliberate staleness bound —
    * within one sweep's back-to-back queries the corpus is immutable —
    * and a writer that rewrites a table mid-session and needs the
    * change seen at once calls [[invalidate]].
    */
  private val fpCache =
    new ConcurrentHashMap[String, (Long, String)]()

  private val FingerprintTtlNanos = 5000L * 1000000L

  /** Drop every cached fingerprint (test hook + [[invalidate]]). */
  private[graft] def expireFingerprints(): Unit = fpCache.clear()

  private def fingerprintWith(path: Path, conf: Configuration): String = {
    // the cache key carries the conf's filesystem identity: two
    // sessions whose confs resolve the same path string to DIFFERENT
    // filesystems (fs.defaultFS divergence -- the axis that changes
    // which bytes a relative/unqualified path names) must not serve
    // each other's cached fingerprints. NUL separates the parts: it is
    // legal in no path, so the key is collision-free. Divergences the
    // key cannot see (per-scheme endpoint remaps, credential-dependent
    // views of one URI) are bounded by the TTL, or closed at once by
    // [[invalidate]].
    val ck = conf.get("fs.defaultFS", "file:///") + "\u0000" + path
    val hit = fpCache.get(ck)
    if (hit != null && System.nanoTime() - hit._1 < FingerprintTtlNanos)
      return hit._2
    val fp = fingerprintUncached(path, conf)
    fpCache.put(ck, (System.nanoTime(), fp))
    fp
  }

  private def fingerprintUncached(path: Path, conf: Configuration): String = {
    val fs = path.getFileSystem(conf)
    val qual = fs.makeQualified(path)
    def statHash(st: FileStatus): Long =
      st.getPath.getName.hashCode * 1000003L ^
        st.getModificationTime ^ (st.getLen * 31L)
    val h =
      if (!fs.exists(qual)) 0L
      else {
        val root = fs.getFileStatus(qual)
        if (root.isFile) statHash(root)
        else {
          val it = fs.listFiles(qual, true)
          val files = scala.collection.mutable.ArrayBuffer.empty[
            (String, Long)]
          while (it.hasNext) {
            val st = it.next()
            files += ((st.getPath.toString, statHash(st)))
          }
          files.sortBy(_._1)
            .foldLeft(statHash(root))((acc, kv) => acc * 1000003L ^ kv._2)
        }
      }
    qual.toString + "@" + java.lang.Long.toHexString(h)
  }

  /** Evict sibling entries of `key`, handing each evicted value to
    * `release`: same prefix up to the LAST '@' (i.e. same memo kind +
    * table path), different fingerprint suffix. Without this, a table
    * rewritten in place mid-session keys a fresh build but the
    * superseded build's persisted blocks stay pinned until
    * invalidate/context stop — repeated rewrites would accumulate dead
    * cached frames. Keys embedding several fingerprints evict on the
    * LAST table's rewrite only (the earlier fingerprints are part of
    * the prefix); that residual leak is bounded by rewrites of the
    * non-final table.
    */
  private def evictSiblings[V](per: ConcurrentHashMap[String, V],
      key: String)(release: V => Unit): Unit = {
    val at = key.lastIndexOf('@')
    if (at < 0) return
    val prefix = key.substring(0, at + 1)
    val it = per.keySet().iterator()
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val k = it.next()
      if (k != key && k.startsWith(prefix)) stale += k
    }
    stale.foreach { k =>
      val v = per.remove(k)
      if (v != null) release(v)
    }
  }

  /** Memoize `build` — persisted — under (session, key). The same
    * key returns the SAME persisted frame; unpersist via
    * [[invalidate]] or context stop.
    *
    * The builder runs OUTSIDE the map's bin lock: several memoized
    * silvers run eager Spark jobs in their builders (the components
    * fixpoint's per-round localCheckpoints), and `computeIfAbsent`
    * would hold the bin lock for the build's whole duration — minutes
    * at scale — stalling every concurrent memo user hashing into the
    * same bin. The race cost is an occasional duplicate build whose
    * loser is unpersisted immediately.
    */
  def getOrBuild(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val per = memos.computeIfAbsent(idOf(s),
      _ => new ConcurrentHashMap[String, DataFrame]())
    evictSiblings(per, key)(unpersistBestEffort)
    val hit = per.get(key)
    if (hit != null) return hit
    val built = build.persist()
    val prior = per.putIfAbsent(key, built)
    if (prior != null) {
      // losing the race: release the duplicate build's storage — but
      // ONLY if its plan is distinct from the winner's. CacheManager
      // keys cached data by CANONICALIZED plan, so when both builders
      // produced the same plan (the common deterministic case) they
      // share ONE cache entry and unpersisting the loser would uncache
      // the winner too, leaving the memoized frame silently
      // recomputing forever. Distinct plans (e.g. localCheckpoint
      // builders, whose RDD-backed plans are unique per build) hold
      // separate entries and the loser's must be dropped or it leaks.
      val distinctPlan = bestEffort("comparing race-loser plans", false)(
        !built.queryExecution.analyzed.sameResult(
          prior.queryExecution.analyzed))
      if (distinctPlan) unpersistBestEffort(built)
      prior
    } else built
  }

  /** Memoize an UNPERSISTED value under (session, key): a resolved
    * plan (no storage blocks — [[Tables.load]]'s parquet relations,
    * whose re-reading otherwise re-lists files and re-reads footers on
    * every query), or any small per-corpus result whose computation
    * costs Spark jobs (routing stats, a resolved route, a trained merge
    * list, a probe verdict). Same build-outside-the-lock, putIfAbsent
    * and sibling-eviction rules as [[getOrBuild]]; cleared with
    * [[invalidate]] / context stop. Callers give each value kind its
    * own key prefix, so one key never names two types.
    */
  def getOrCompute[T <: AnyRef](s: SparkSession, key: String)(
      build: => T): T = {
    val per = values.computeIfAbsent(idOf(s),
      _ => new ConcurrentHashMap[String, AnyRef]())
    evictSiblings(per, key)(_ => ())
    val hit = per.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val built = build
    val prior = per.putIfAbsent(key, built)
    (if (prior != null) prior else built).asInstanceOf[T]
  }
}

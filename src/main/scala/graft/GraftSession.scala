package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a session builder with the engine's canonical
  * configuration — UTC semantics (oracle parity), AQE on, the graft
  * SQL functions registered, shuffle parallelism sized to the cluster
  * instead of Spark's 200-partition default, and `file:` paths served
  * by the fork-free local filesystem.
  */
object GraftSession {

  /** `file:` paths through [[graft.engine.ForklessLocalFs]], for both
    * the `FileSystem` API and the `FileContext` API that streaming
    * checkpoints use. Other schemes keep Hadoop's defaults. */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.engine.ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.engine.ForklessLocalFs].getName)

  /** Pre-configured builder; caller adds master/appName and builds. */
  def builder(shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .config(localFsConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // collect_list/collect_set run as ObjectHashAggregate, whose
      // sort-based fallback triggers at 128 in-memory keys by default
      // — the posting-list builds here aggregate tens of thousands of
      // keys per partition, so the default silently degrades them to
      // a full sort. Entries are (key, small list) pairs; 4M keys is
      // still well inside executor memory at our partition sizing.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** Install every graft SQL function imperatively — idempotent per
    * name, from the same table `GraftExtensions` injects. The safety
    * net for sessions where the extensions config cannot apply
    * (getOrCreate over an existing SparkContext freezes static
    * confs).
    */
  def registerAll(s: SparkSession): Unit =
    graft.functions.GraftFunctions.all.foreach(_.install(s))

  /** Local session for mains, tests and demos. Functions are also
    * registered imperatively: `getOrCreate` may return a pre-existing
    * session whose extensions config is frozen, and registration is
    * idempotent.
    */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(cores)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    registerAll(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

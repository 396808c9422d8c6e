package graft.tools

import graft.engine.Tables
import graft.pipeline.CryptoIngest

/** Run the assembled reference pipeline (raw landing → hourly flush →
  * retention) over the events-derived tick stream.
  * Usage: runMain graft.tools.PipelineDemo <sfDir> <outDir> [keepDays]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val keepDays = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.local(4)
    val ticks = Tables.ticks(spark, sfDir)
    val dropped = CryptoIngest.runBatch(ticks, s"$outDir/raw",
      s"$outDir/hourly", keepDays)
    println(s"[pipeline] dropped raw partitions: ${dropped.mkString(", ")}")
    val raw = spark.read.parquet(s"$outDir/raw")
    val hourly = spark.read.parquet(s"$outDir/hourly")
    println(s"[pipeline] raw rows retained: ${raw.count()} " +
      s"(dates: ${raw.select("date").distinct().count()})")
    println(s"[pipeline] hourly rows: ${hourly.count()}")
    hourly.orderBy("date", "hour", "symbol").show(5, truncate = false)
    spark.stop()
  }
}

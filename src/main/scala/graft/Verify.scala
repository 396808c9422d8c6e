package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // Pin every routed pair/aligner source to the EXACT formulation
    // for the oracle-gated dump: the DuckDB oracles replay the exact
    // co-occurrence pairs and the exact window explode, so a banded
    // route (auto flips at ~100k docs) would compare a recall-bounded
    // engine result against an exact oracle. Oracle corpora sit far
    // below the crossover today; the pin makes that a guarantee
    // instead of a coincidence. The routed forms are gated by their
    // own specs (PairRouting/SubstrRouting: routed == exact).
    spark.conf.set(operators.LlmTextOps.PairSourceConf, "exact")
    spark.conf.set(operators.LlmTextOps.SubstrSourceConf, "exact")
    // same guarantee for the kNN edge substrate (knn_edges,
    // pagerank_docs, hits_scores, degree_assortativity oracles all
    // replay the exact edge set; auto stays exact below 32k vectors,
    // the pin removes the coincidence)
    spark.conf.set(operators.LlmVectorOps.KnnSourceConf, "exact")
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }
    // dev knob (mirrors Bench): SPARK_GRAFT_QUERIES comma-list limits
    // the dump for fast local oracle iteration; the driver sets no env
    // and always gets the full sweep
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop any previous dump FIRST: write-on-success alone would let
      // a failing query leave the prior run's parquet behind and turn
      // the oracle compare into a vacuous pass on stale data
      deleteRec(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: " +
          s"${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // corpus-dependent oracles (pinned-literal SQL — e.g. the PCA
    // projection) are generated here, against the same sfDir the
    // queries just ran on; a generation failure degrades that row to
    // the rows-only check instead of sinking the whole dump
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracle generation failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

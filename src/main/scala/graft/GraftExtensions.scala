package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions first-class SQL functions in any session built with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * so pure-SQL users get `graft_dot(a, b)` / `graft_simhash64(hs)`
  * without touching the Scala API. The set is [[GraftFunctions.all]],
  * the same table `GraftSession.registerAll` installs from.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(f =>
      e.injectFunction((f.identifier, f.info, f.builder _)))
}

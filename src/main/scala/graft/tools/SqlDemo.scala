package graft.tools

/** Drive the SQL-facing surface: session built with
  * `spark.sql.extensions=graft.GraftExtensions` (the config-string
  * path a cluster would use), native functions called from pure SQL
  * over the testdata tables. Usage: runMain graft.tools.SqlDemo [sfDir]
  */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.builder(4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("[sql] graft_dot: " + spark.sql(
      """SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
                          CAST(array(3.0, 4.0) AS ARRAY<FLOAT>))""")
      .collect().head.getDouble(0))
    println("[sql] graft_simhash64(all-ones): 0x" + java.lang.Long.toHexString(
      spark.sql("SELECT graft_simhash64(array(CAST(-1 AS BIGINT)))")
        .collect().head.getLong(0)))
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("embeddings")
    println("[sql] top self-norms via SQL over parquet:")
    spark.sql(
      """SELECT vec_id, round(sqrt(graft_dot(embedding, embedding)), 6) AS norm
         FROM embeddings ORDER BY norm DESC, vec_id LIMIT 3""")
      .collect().foreach(r => println(s"[sql]   vec ${r.getLong(0)} norm ${r.getDouble(1)}"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .createOrReplaceTempView("documents")
    println("[sql] byte stats + set intersection via SQL:")
    spark.sql(
      """SELECT doc_id,
                graft_byte_stats(encode(text, 'UTF-8')).n_bytes AS n_bytes,
                graft_intersect_count(
                  graft_shingle_hash3(split(text, ' ')),
                  graft_shingle_hash3(split(upper(text), ' '))) AS self_ci
         FROM documents ORDER BY doc_id LIMIT 3""")
      .collect().foreach(r => println(
        s"[sql]   doc ${r.getLong(0)} n_bytes ${r.getInt(1)} case-insensitive-overlap ${r.getInt(2)}"))
    println("[sql] int8 quantization round-trip via SQL:")
    spark.sql(
      """SELECT vec_id,
                round(graft_int8_quantize(embedding).scale, 4) AS scale,
                graft_int8_dot(
                  graft_int8_pack(graft_int8_quantize(embedding).q),
                  graft_int8_pack(graft_int8_quantize(embedding).q)) AS qq
         FROM embeddings ORDER BY vec_id LIMIT 3""")
      .collect().foreach(r => println(
        s"[sql]   vec ${r.getLong(0)} scale ${r.getDouble(1)} |q|^2 ${r.getDouble(2)}"))
    val badArgs = try {
      spark.sql("SELECT graft_dot(1)").collect(); "no error (unexpected)"
    } catch { case e: Exception => e.getClass.getSimpleName }
    println(s"[sql] graft_dot(1) with wrong arity/type -> $badArgs")
    spark.stop()
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}

/** Session wrappers over Spark's own Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind Catalyst's runtime row-group filters, not exposed through
  * `functions._`). Registered like the graft native expressions so
  * operators can use the codegen'd kernels Spark already ships instead
  * of a per-row UDF over `util.sketch.BloomFilter`.
  */
object BloomFns {
  /** Aggregate a LONG column into a serialized Bloom filter (BINARY).
    * `est` sizes the expected item count, `numBits` the bit array —
    * both must be literals (plan-time constants).
    */
  def bloomAgg(s: SparkSession, digests: Column, est: Column,
      numBits: Column): Column =
    GraftFunctions.bloomAgg(s, digests, est, numBits)

  /** Membership probe of a LONG value against a serialized Bloom
    * filter. `bloom` must fold to a constant (a collected sketch
    * literal or scalar subquery) — Spark evaluates it once per plan,
    * not per row.
    */
  def mightContain(s: SparkSession, bloom: Column, value: Column): Column =
    GraftFunctions.bloomMightContain(s, bloom, value)
}

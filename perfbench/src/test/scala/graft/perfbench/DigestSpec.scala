package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("the digest ignores row order and partitioning") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i, s"s$i", i * 0.5, Seq(i, i + 1))).toDF("a", "b.c", "d", "e")
    val base = Digest.of(df)
    assert(base.rows == 200)
    assert(Digest.of(df.orderBy($"a".desc)) == base)
    assert(Digest.of(df.repartition(7)) == base)
  }

  test("the digest changes when any value changes") {
    import spark.implicits._
    val df = Seq((1, "x", 2.0), (2, "y", 3.0)).toDF("a", "b", "c")
    val changed = Seq((1, "x", 2.0), (2, "y", 3.5)).toDF("a", "b", "c")
    assert(Digest.of(df).rows == Digest.of(changed).rows)
    assert(Digest.of(df).digest != Digest.of(changed).digest)
  }

  test("an empty result has a zero digest") {
    import spark.implicits._
    assert(Digest.of(Seq.empty[(Int, String)].toDF("a", "b")) == Digest.Result(0, "0"))
  }
}

package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted join must be RESULT-equivalent to the plain form — salting
  * only changes the partitioning. Verified on a deliberately skewed key
  * distribution (90% of rows share one key).
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val skewed = {
    val rnd = new scala.util.Random(9)
    (0 until 5000).map { i =>
      val k = if (rnd.nextDouble() < 0.9) 7L else rnd.nextInt(50).toLong
      (i.toLong, k, rnd.nextInt(1000).toDouble)
    }.toDF("row_id", "k", "v")
  }

  private lazy val dim =
    (0L until 50L).map(k => (k, s"name_$k")).toDF("k", "name")

  test("saltedJoin == plain join on a skewed key") {
    val plain = skewed.join(dim, Seq("k"))
      .select("row_id", "k", "v", "name").collect().toSet
    val salted = Skew.saltedJoin(skewed, dim, "k", col("row_id"), 8)
      .select("row_id", "k", "v", "name").collect().toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("salting actually spreads the hot key across sub-keys") {
    val spread = skewed
      .withColumn("__salt", pmod(xxhash64(col("row_id")), lit(8)).cast("int"))
      .where($"k" === 7L).select("__salt").distinct().count()
    assert(spread == 8L)
  }
}

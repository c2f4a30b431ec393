package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the R9 idempotent-reimport composites (SURVEY.md §5.2.3). */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dedupLatest(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("tb").desc)
    df.withColumn("rn", row_number().over(w)).where($"rn" === 1).drop("rn")
  }

  private def merge(base: DataFrame, batch: DataFrame): DataFrame =
    base.join(batch, Seq("k"), "left_anti").unionByName(batch)

  test("dedup_latest is idempotent and output is a subset of input") {
    val df = Seq((1L, 5L, 1L), (1L, 9L, 2L), (2L, 3L, 3L), (2L, 3L, 4L))
      .toDF("k", "v", "tb")
    val once = dedupLatest(df)
    val twice = dedupLatest(once)
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
    assert(once.except(df).count() == 0)
    // ties on v broken by tb desc
    assert(once.where($"k" === 2).select("tb").as[Long].head() == 4L)
  }

  test("incremental merge == full rebuild (batch wins on matched keys)") {
    val base = Seq((1L, "old"), (2L, "old"), (3L, "old")).toDF("k", "payload")
    val batch = Seq((2L, "new"), (4L, "new")).toDF("k", "payload")
    val merged = merge(base, batch).orderBy("k").collect().toSeq
    val expected = Seq((1L, "old"), (2L, "new"), (3L, "old"), (4L, "new"))
      .toDF("k", "payload").orderBy("k").collect().toSeq
    assert(merged == expected)
  }

  test("merge with empty batch is identity; merge with empty base is batch") {
    val base = Seq((1L, "a")).toDF("k", "p")
    val empty = Seq.empty[(Long, String)].toDF("k", "p")
    assert(merge(base, empty).collect().toSeq == base.collect().toSeq)
    assert(merge(empty, base).collect().toSeq == base.collect().toSeq)
  }

  test("exceptAll keeps multiset semantics") {
    val a = Seq(1, 1, 1, 2).toDF("x")
    val b = Seq(1, 2).toDF("x")
    assert(a.exceptAll(b).as[Int].collect().sorted.toSeq == Seq(1, 1))
  }

  test("etl_scd2 ⋈ as-of T reconstructs etl_snapshot_scd's state at T") {
    // the two SCD representations must agree: filtering the history
    // table to valid_from <= T < valid_to picks exactly the state the
    // point-in-time snapshot reports (snapshot returns the latest EVENT
    // row; its event_type is the open version's state by construction)
    val sf = "/root/testdata/sf0.001"
    val T = "2024-01-15 00:00:00"
    val scd = SparkEntry.queries("etl_scd2")(spark, sf)
    val asOf = scd.where($"valid_from" <= lit(T).cast("timestamp") &&
        ($"valid_to".isNull || $"valid_to" > lit(T).cast("timestamp")))
      .select($"user_id", $"state")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val snap = SparkEntry.queries("etl_snapshot_scd")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("event_type")).toMap
    assert(asOf == snap)
  }

  test("etl_scd2: versions chain gaplessly, states alternate, one current row per user") {
    val scd = SparkEntry.queries("etl_scd2")(spark, "/root/testdata/sf0.001")
      .cache()
    try {
      // exactly one open-ended (current) version per user
      val users = scd.select("user_id").distinct().count()
      assert(scd.where($"is_current").count() == users)
      assert(scd.where($"is_current" && $"valid_to".isNotNull).count() == 0)
      val w = Window.partitionBy("user_id").orderBy("valid_from", "version_id")
      val chained = scd
        .withColumn("next_from", lead($"valid_from", 1).over(w))
        .withColumn("next_state", lead($"state", 1).over(w))
      // each closed version's valid_to is exactly the next version's start
      assert(chained.where($"next_from".isNotNull &&
        !($"valid_to" <=> $"next_from")).count() == 0)
      // consecutive versions always change state (that is what a version IS)
      assert(chained.where($"next_state".isNotNull &&
        $"state" === $"next_state").count() == 0)
    } finally scd.unpersist()
  }

  test("etl_interpurchase: gap accounting matches a driver-side replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("etl_interpurchase")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("c_mktsegment")).toSeq ==
      rows.map(_.getAs[String]("c_mktsegment")).sorted.toSeq)
    // replay: per customer, day gaps between consecutive orders
    val seg = Tables(spark, sf, "customer").select("c_custkey", "c_mktsegment")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // read order dates as epoch DAYS (dates are midnight-normalized) so
    // the replay is physical-timestamp-encoding-agnostic (NTZ vs TZ)
    val byCust = Tables(spark, sf, "orders")
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        col("o_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val gaps = byCust.toSeq.flatMap { case (ck, os) =>
      val sorted = os.sortBy(o => (o._2, o._3))
      sorted.sliding(2).collect { case Array(a, b) =>
        seg(ck) -> (b._2 - a._2).toLong
      }
    }.groupBy(_._1)
    rows.foreach { r =>
      val g = gaps(r.getAs[String]("c_mktsegment")).map(_._2)
      assert(r.getAs[Long]("n_gaps") == g.size)
      assert(r.getAs[Long]("max_gap") == g.max)
      val avg = math.floor(g.sum.toDouble / g.size * 10000) / 10000
      assert(r.getAs[Double]("avg_gap") == avg)
    }
  }

  test("etl_cohort_ltv: offset-0 retention is 1, LTV is nondecreasing, counts bounded") {
    val rows = SparkEntry.queries("etl_cohort_ltv")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_day").toString)
    byCohort.values.foreach { cs =>
      val sorted = cs.sortBy(_.getAs[Long]("offset_days"))
      // the first offset present is 0 (first-day activity is definitional)
      assert(sorted.head.getAs[Long]("offset_days") == 0L)
      assert(sorted.head.getAs[Double]("retention") == 1.0)
      sorted.foreach { r =>
        assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_users"))
        val ret = r.getAs[Double]("retention")
        assert(ret > 0.0 && ret <= 1.0)
      }
      // cumulative revenue per user never decreases with offset
      val ltvs = sorted.map(_.getAs[Double]("ltv_per_user"))
      // floor-scaling can shave ≤1e-4 off each point; allow that slack
      assert(ltvs.zip(ltvs.tail).forall { case (a, b) => b >= a - 1e-4 })
    }
  }

  test("etl_revenue_waterfall: decomposition identities hold per month") {
    val rows = SparkEntry.queries("etl_revenue_waterfall")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (gross, disc, net) = (r.getAs[Double]("gross"),
        r.getAs[Double]("discount_amt"), r.getAs[Double]("net"))
      val (tax, charge) = (r.getAs[Double]("tax_amt"), r.getAs[Double]("charge"))
      // gross − discount == net and net + tax == charge (exact in
      // decimal; double display introduces ≤ulp-scale noise)
      assert(math.abs(gross - disc - net) < 1e-6 * math.max(1.0, gross))
      assert(math.abs(net + tax - charge) < 1e-6 * math.max(1.0, charge))
      assert(disc >= 0 && tax >= 0 && net <= gross)
    }
  }

  test("clampedLedgerScan == the declared key's in-row fold, hot key " +
    "and multi-user partitions included (r8)") {
    // seeded, debit-leaning stream; user 0 is HOT (half of all rows) so
    // the scan's key-change path crosses a large run, and deltas swing
    // negative often enough that the clamp fires
    val rnd = new scala.util.Random(13)
    val rows = (0 until 2000).map { i =>
      val u = if (rnd.nextBoolean()) 0L else rnd.nextInt(20).toLong + 1L
      (u, i.toLong * 1000L, i.toLong, (rnd.nextInt(300) - 170).toLong)
    }
    val df = rows.toDF("user_id", "ts_micros", "event_id", "delta")
    // reference: the in-row array-accumulator fold, the shape of the
    // etl_clamped_ledger oracle's list_reduce
    val fold = df.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("sort_array(collect_list(struct(ts_micros, event_id, delta)))")
          .as("ledger"))
      .select(col("user_id"), col("n_events"),
        expr(
          """aggregate(ledger,
            |  array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
            |  (a, x) -> array(
            |    greatest(CAST(0 AS BIGINT), element_at(a, 1) + x.delta),
            |    element_at(a, 2) + CASE WHEN element_at(a, 1) + x.delta < 0
            |                            THEN CAST(1 AS BIGINT)
            |                            ELSE CAST(0 AS BIGINT) END))"""
            .stripMargin).as("fin"))
      .select(col("user_id"), col("n_events"),
        expr("element_at(fin, 1)").as("balance_cents"),
        expr("element_at(fin, 2)").as("n_clamps"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val scan = operators.Etl.clampedLedgerScan(df)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(scan == fold, "scan twin must equal the in-row fold")
    assert(fold.values.exists(_._3 > 0), "fixture must exercise the clamp")
  }
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AsOfJoinPlan
import org.scalatest.funsuite.AnyFunSuite

/** The native as-of join operator (AsOfJoinPlan: logical node + strategy +
  * physical one-pass merge). The DuckDB oracle pins join_asof_native's
  * values at sf0.01; these pin operator-vs-compose equality, the merge's
  * edge semantics, and the physical plan shape.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def purchasesViews = {
    val ev = Tables(spark, sf, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    (p, v)
  }

  /** Test-scope composed as-of: the equi + range join and rank-1 window
    * that the join_asof oracle spells. The engine keeps only the native
    * operator; this is its independent reference. */
  private def composedAsof = {
    val (p, v) = purchasesViews
    val w = Window.partitionBy("p_id")
      .orderBy(col("v_ts").desc_nulls_last, col("v_id").desc_nulls_last)
    p.join(v, col("v_user") === col("user_id") && col("v_ts") <= col("p_ts"), "left")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "p_id", "p_ts", "v_id", "v_ts")
      .orderBy("p_id")
  }

  test("native as-of == composed join+window form on the real fixture") {
    val composed = composedAsof.collect()
    val native = SparkEntry.queries("join_asof_native")(spark, sf).collect()
    assert(native.length == composed.length)
    native.zip(composed).foreach { case (n, c) => assert(n == c) }
  }

  test("physical plan: AsOfJoinExec with co-partitioned sorted children, no window") {
    val df = SparkEntry.queries("join_asof_native")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"expected the native operator:\n$p")
    assert(!p.contains("Window"), s"no window/group-limit machinery:\n$p")
    // AQE wraps the plan in query stages (collect() does not descend
    // into them) — materialize and assert on the FINAL plan's shape
    df.collect()
    val fin = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }).toString
    assert(fin.contains("AsOfJoin"), s"no AsOfJoinExec in final plan:\n$fin")
    // EnsureRequirements planned the declared layout: both sides hashed
    // on the user key and sorted (key, ts[, tie]) under the operator
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(fin).size == 1 &&
      "Exchange hashpartitioning\\(v_user".r.findAllIn(fin).size == 1,
      s"expected one key exchange per side:\n$fin")
    assert(fin.contains("Sort [user_id") && fin.contains("Sort [v_user"),
      s"children not sorted for the merge:\n$fin")
  }

  test("merge semantics: ties, exact-boundary, null keys/ts, empty right") {
    val left = Seq(
      (1L, 10L, "l-a"), (1L, 20L, "l-b"), (2L, 5L, "l-c"),
      (3L, 7L, "l-d")).toDF("k", "ts", "ltag")
    val right = Seq(
      (1L, 10L, 1L, "r-t10-1"), (1L, 10L, 2L, "r-t10-2"), // tie on ts
      (1L, 15L, 3L, "r-t15"), (2L, 6L, 4L, "r-late"),
      (4L, 1L, 5L, "r-other")).toDF("k", "ts", "id", "rtag")
    val out = AsOfJoinPlan.asof(
        left, right.withColumnRenamed("k", "rk").withColumnRenamed("ts", "rts"),
        "k", "rk", "ts", "rts", rightTie = Seq("id"))
      .select(col("ltag"), col("rtag"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("l-a") == "r-t10-2") // exact boundary matches; tie → max id
    assert(out("l-b") == "r-t15")   // most recent ≤ 20
    assert(out("l-c") == null)      // right row is LATER than the left ts
    assert(out("l-d") == null)      // key absent on the right

    // null left key / null right ts never match; row still emitted
    val lNull = Seq((Some(1L), 10L, "a"), (None, 10L, "b"))
      .toDF("k", "ts", "ltag")
    val rNull = Seq((Some(1L), Some(5L), "m"), (Some(1L), None, "x"))
      .toDF("rk", "rts", "rtag")
    val out2 = AsOfJoinPlan.asof(lNull, rNull, "k", "rk", "ts", "rts")
      .select(col("ltag"), col("rtag"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2("a") == "m" && out2("b") == null)

    // empty right side: all left rows survive unmatched
    val outEmpty = AsOfJoinPlan.asof(
        left, right.where(lit(false))
          .withColumnRenamed("k", "rk").withColumnRenamed("ts", "rts"),
        "k", "rk", "ts", "rts")
      .collect()
    assert(outEmpty.length == 4 && outEmpty.forall(_.isNullAt(4)))
  }

  test("forward direction: first at-or-after, shared matches, peek not consume") {
    val left = Seq(
      (1L, 10L, "l-a"), (1L, 12L, "l-b"), (1L, 16L, "l-c"),
      (2L, 5L, "l-d")).toDF("k", "ts", "ltag")
    val right = Seq(
      (1L, 12L, 1L, "r-t12-1"), (1L, 12L, 2L, "r-t12-2"), // tie on ts
      (1L, 20L, 3L, "r-t20"), (2L, 1L, 4L, "r-early"))
      .toDF("rk", "rts", "id", "rtag")
    val out = AsOfJoinPlan.asof(left, right, "k", "rk", "ts", "rts",
        rightTie = Seq("id"), forward = true)
      .select(col("ltag"), col("rtag"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // l-a and l-b both match the SAME first-at-or-after row (peek, not
    // consume); ties on ts resolve to the LOWEST tie column
    assert(out("l-a") == "r-t12-1")
    assert(out("l-b") == "r-t12-1") // exact boundary matches
    assert(out("l-c") == "r-t20")
    assert(out("l-d") == null) // only earlier rows on that key
  }

  test("randomized forward: native == driver-side oracle") {
    val rnd = new scala.util.Random(11)
    val lrows = Seq.fill(800)((rnd.nextInt(40).toLong, rnd.nextInt(500).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val rrows = Seq.fill(800)((rnd.nextInt(40).toLong, rnd.nextInt(500).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val got = AsOfJoinPlan.asof(
        lrows.toDF("k", "ts", "lid"), rrows.toDF("rk", "rts", "rid"),
        "k", "rk", "ts", "rts", rightTie = Seq("rid"), forward = true)
      .select("lid", "rid").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
      .toMap
    val byKey = rrows.groupBy(_._1)
    lrows.foreach { case (k, ts, lid) =>
      val want = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 >= ts)
        .sortBy(x => (x._2, x._3))
        .headOption.map(_._3).getOrElse(-1L)
      assert(got(lid) == want, s"lid=$lid k=$k ts=$ts")
    }
  }

  test("tolerance: nearest match beyond the window drops to null, both directions") {
    val left = Seq((1L, 100L, "l-a"), (1L, 200L, "l-b")).toDF("k", "ts", "ltag")
    val right = Seq((1L, 95L, "r-95"), (1L, 230L, "r-230"))
      .toDF("rk", "rts", "rtag")
    def run(fwd: Boolean, tol: Long) =
      AsOfJoinPlan.asof(left, right, "k", "rk", "ts", "rts",
          forward = fwd, toleranceMicros = Some(tol))
        .select(col("ltag"), col("rtag"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val back = run(fwd = false, tol = 10L)
    assert(back("l-a") == "r-95")  // gap 5 ≤ 10
    assert(back("l-b") == null)    // nearest-before gap 105 > 10
    val fwdOut = run(fwd = true, tol = 40L)
    assert(fwdOut("l-a") == null)  // nearest-after gap 130 > 40
    assert(fwdOut("l-b") == "r-230") // gap 30 ≤ 40
    // randomized parity vs the filtered driver oracle
    val rnd = new scala.util.Random(23)
    val lrows = Seq.fill(600)((rnd.nextInt(30).toLong, rnd.nextInt(300).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val rrows = Seq.fill(600)((rnd.nextInt(30).toLong, rnd.nextInt(300).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val got = AsOfJoinPlan.asof(
        lrows.toDF("k", "ts", "lid"), rrows.toDF("rk", "rts", "rid"),
        "k", "rk", "ts", "rts", rightTie = Seq("rid"),
        toleranceMicros = Some(20L))
      .select("lid", "rid").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
      .toMap
    val byKey = rrows.groupBy(_._1)
    lrows.foreach { case (k, ts, lid) =>
      val want = byKey.getOrElse(k, Seq.empty)
        .filter(r => r._2 <= ts && ts - r._2 <= 20L)
        .sortBy(x => (x._2, x._3))
        .lastOption.map(_._3).getOrElse(-1L)
      assert(got(lid) == want, s"lid=$lid k=$k ts=$ts")
    }
  }

  test("randomized: native == driver-side oracle over 2000 rows × 50 keys") {
    val rnd = new scala.util.Random(7)
    val lrows = Seq.fill(1000)((rnd.nextInt(50).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val rrows = Seq.fill(1000)((rnd.nextInt(50).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val l = lrows.toDF("k", "ts", "lid")
    val r = rrows.toDF("rk", "rts", "rid")
    val got = AsOfJoinPlan.asof(l, r, "k", "rk", "ts", "rts",
        rightTie = Seq("rid"))
      .select("lid", "rid").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
      .toMap
    val byKey = rrows.groupBy(_._1)
    lrows.foreach { case (k, ts, lid) =>
      val want = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= ts)
        .sortBy(x => (x._2, x._3))
        .lastOption.map(_._3).getOrElse(-1L)
      assert(got(lid) == want, s"lid=$lid k=$k ts=$ts")
    }
  }
}

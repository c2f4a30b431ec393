package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RankFence
import graft.operators.RankFence.OrderCol

/** Laws for the KLL-fenced exact-rank engine (round 8): every fenced
  * plan must be BYTE-IDENTICAL to its global-sort window twin — the
  * fence can only move work, never a boundary. Random frames exercise
  * ties on the leading key, n < tiles, skewed distributions, and every
  * supported leading type.
  */
class RankFenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randFrame(seed: Long, n: Int, distinctVals: Int) = {
    val r = new scala.util.Random(seed)
    // deliberately collision-heavy leading values to exercise tie routing
    (1 to n).map(i => (r.nextInt(distinctVals).toDouble / 4.0, i.toLong))
      .toDF("v", "id")
  }

  test("ntileFenced == window ntile on random frames (ties, small n, skew)") {
    for ((seed, n, dv, tiles, buckets) <- Seq(
        (1L, 500, 40, 10, 16), // heavy ties
        (2L, 500, 5000, 7, 16), // near-unique
        (3L, 9, 1000, 4, 8), // n > tiles barely
        (4L, 3, 1000, 10, 8), // n < tiles
        (5L, 1000, 3, 4, 16), // 3 distinct values, massive ties
        (6L, 800, 200, 10, 2) // 2 buckets: almost everything one interval
      )) {
      val df = randFrame(seed, n, dv)
      val expected = df
        .withColumn("t", ntile(tiles).over(Window.orderBy("v", "id")))
        .select("id", "t").as[(Long, Int)].collect().toMap
      val got = RankFence
        .ntileFenced(df, Seq(OrderCol("v"), OrderCol("id")), tiles, "t",
          buckets = buckets)
        .select("id", "t").as[(Long, Int)].collect().toMap
      assert(got == expected,
        s"seed=$seed n=$n dv=$dv tiles=$tiles buckets=$buckets")
    }
  }

  test("ntileFenced descending + tie-break law") {
    val df = randFrame(11L, 400, 25)
    val expected = df
      .withColumn("t", ntile(4).over(Window.orderBy(col("v").desc, col("id"))))
      .select("id", "t").as[(Long, Int)].collect().toMap
    val got = RankFence
      .ntileFenced(df, Seq(OrderCol("v", asc = false), OrderCol("id")), 4, "t")
      .select("id", "t").as[(Long, Int)].collect().toMap
    assert(got == expected)
  }

  test("ntileFenced on DATE and LONG leading keys (the rfm shapes)") {
    val r = new scala.util.Random(21L)
    val rows = (1 to 300).map { i =>
      (java.sql.Date.valueOf(s"2024-0${1 + r.nextInt(9)}-${10 + r.nextInt(19)}"),
        r.nextInt(50).toLong, s"u$i")
    }
    val df = rows.toDF("d", "cnt", "uid")
    val wD = Window.orderBy(col("d").desc, col("uid"))
    val wL = Window.orderBy(col("cnt").desc, col("uid"))
    val expected = df
      .withColumn("td", ntile(4).over(wD)).withColumn("tl", ntile(4).over(wL))
      .select("uid", "td", "tl").as[(String, Int, Int)].collect().toMap2
    val got = RankFence.ntileFenced(
        RankFence.ntileFenced(df,
          Seq(OrderCol("d", asc = false), OrderCol("uid")), 4, "td"),
        Seq(OrderCol("cnt", asc = false), OrderCol("uid")), 4, "tl")
      .select("uid", "td", "tl").as[(String, Int, Int)].collect().toMap2
    assert(got == expected)
  }

  test("elementsAtRanks == driver-side sort selection") {
    val df = randFrame(31L, 700, 60)
    val sorted = df.select("v", "id").as[(Double, Long)].collect()
      .sortBy(identity)
    val ranks = Seq(1L, 7L, 350L, 699L, 700L)
    val got = RankFence.elementsAtRanks(
      df, Seq(OrderCol("v"), OrderCol("id")), ranks, buckets = 16)
    ranks.foreach { r =>
      val e = sorted(r.toInt - 1)
      assert(got(r) == Seq(e._1, e._2), s"rank $r")
    }
  }

  test("weightedMedianFenced == two-window compose on random weighted groups") {
    val r = new scala.util.Random(41L)
    val rows = (1 to 600).map { i =>
      (s"g${r.nextInt(3)}", r.nextInt(30).toDouble,
        new java.math.BigDecimal(1 + r.nextInt(9)).setScale(4), i.toLong)
    }
    val df = rows.toDF("g", "v", "w", "id")
      .withColumn("w", col("w").cast("decimal(18,4)"))
    // the two-window compose (the weighted-median oracle's shape)
    val wRun = Window.partitionBy("g").orderBy("v", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    val composed = df
      .withColumn("cumw", sum(col("w")).over(wRun))
      .withColumn("totw", sum(col("w")).over(wAll))
      .where(col("cumw") * 2 >= col("totw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("cumw", "v")))
      .where(col("rn") === 1)
      .select(col("g"), col("v"),
        col("totw").cast("double").as("tot"))
      .as[(String, Double, Double)].collect().toSet
    val fenced = RankFence
      .weightedMedianFenced(df, "g",
        Seq(OrderCol("v"), OrderCol("id")), "w", buckets = 8)
      .select(col("g"), col("median").cast("double"),
        col("total").cast("double"))
      .as[(String, Double, Double)].collect().toSet
    assert(fenced == composed)
  }

  test("ntileFencedMulti == chained single-ordering ntileFenced (3 orderings, " +
    "mixed types, incl. n < tiles)") {
    import RankFence.NtileSpec
    val r = new scala.util.Random(61L)
    for (n <- Seq(300, 3)) {
      val rows = (1 to n).map { i =>
        (java.sql.Date.valueOf(s"2024-0${1 + r.nextInt(9)}-${10 + r.nextInt(19)}"),
          r.nextInt(40).toLong, r.nextInt(500).toDouble / 4, s"u$i")
      }
      val df = rows.toDF("d", "cnt", "m", "uid")
      val specs = Seq(
        NtileSpec(Seq(OrderCol("d", asc = false), OrderCol("uid")), 4, "r"),
        NtileSpec(Seq(OrderCol("cnt", asc = false), OrderCol("uid")), 4, "f"),
        NtileSpec(Seq(OrderCol("m", asc = false), OrderCol("uid")), 4, "m2"))
      val chained = specs.foldLeft(df)((acc, s) =>
        RankFence.ntileFenced(acc, s.order, s.tiles, s.out, buckets = 8))
        .select("uid", "r", "f", "m2")
        .as[(String, Int, Int, Int)].collect().toSet
      val batched = RankFence.ntileFencedMulti(df, specs, buckets = 8)
        .select("uid", "r", "f", "m2")
        .as[(String, Int, Int, Int)].collect().toSet
      assert(batched == chained, s"n=$n")
    }
  }

  test("recursive selection: giant-tie and skewed frames == window ntile " +
    "with a 25-row sort budget (the r8 quickselect escape)") {
    val r = new scala.util.Random(71L)
    // three adversarial shapes for the fence:
    //  a) 70% of rows share ONE leading value (the Zipf hot-key tie)
    //  b) 99% share one value — sketch quantiles all collapse onto it
    //  c) two tie values straddling a decile boundary
    val shapes = Seq(
      (1 to 1000).map(i =>
        (if (r.nextInt(10) < 7) 5.0 else r.nextInt(100).toDouble, i.toLong)),
      (1 to 1000).map(i =>
        (if (r.nextInt(100) < 99) 7.0 else r.nextInt(50).toDouble, i.toLong)),
      (1 to 1000).map(i => ((i % 2).toDouble, i.toLong)))
    for ((rows, si) <- shapes.zipWithIndex) {
      val df = rows.toDF("v", "id")
      val expected = df
        .withColumn("t", ntile(10).over(Window.orderBy("v", "id")))
        .select("id", "t").as[(Long, Int)].collect().toMap
      // 25-row budget forces recursion on nearly every boundary interval,
      // including the giant-tie descent to the id tie-break column
      val got = RankFence.ntileFenced(df,
          Seq(OrderCol("v"), OrderCol("id")), 10, "t",
          buckets = 8, maxWindowRows = 25L)
        .select("id", "t").as[(Long, Int)].collect().toMap
      assert(got == expected, s"shape $si")
    }
  }

  test("recursive selection in the multi form and quantiles under a tiny budget") {
    import RankFence.NtileSpec
    val r = new scala.util.Random(81L)
    val rows = (1 to 800).map { i =>
      (if (r.nextInt(10) < 6) 3L else r.nextInt(40).toLong,
        if (r.nextInt(10) < 8) 1.5 else r.nextInt(30).toDouble, s"u$i")
    }
    val df = rows.toDF("cnt", "m", "uid")
    val specs = Seq(
      NtileSpec(Seq(OrderCol("cnt", asc = false), OrderCol("uid")), 4, "f"),
      NtileSpec(Seq(OrderCol("m", asc = false), OrderCol("uid")), 4, "m2"))
    val expected = specs.foldLeft(df)((acc, s) =>
      acc.withColumn(s.out, ntile(s.tiles).over(
        Window.orderBy(s.order.map(oc =>
          if (oc.asc) col(oc.name).asc else col(oc.name).desc): _*))))
      .select("uid", "f", "m2").as[(String, Int, Int)].collect().toMap2
    val got = RankFence.ntileFencedMulti(df, specs,
        buckets = 8, maxWindowRows = 20L)
      .select("uid", "f", "m2").as[(String, Int, Int)].collect().toMap2
    assert(got == expected)
    // quantiles on a 95%-tied frame under the same tiny budget
    val qdf = (1 to 500).map(i =>
      (if (i % 20 == 0) i.toDouble else 42.0, i.toLong)).toDF("v", "id")
    val sorted = qdf.select("v", "id").as[(Double, Long)].collect()
      .sortBy(identity)
    val qs = Seq(0.5, 0.9, 0.99)
    val gotQ = RankFence.quantilesFenced(qdf,
      Seq(OrderCol("v"), OrderCol("id")), qs, buckets = 8, maxWindowRows = 15L)
    qs.zip(gotQ).foreach { case (q, (_, rank, v)) =>
      assert(rank == math.max(1L, math.ceil(q * 500).toLong))
      assert(v == sorted(rank.toInt - 1)._1, s"q=$q")
    }
  }

  // the two-window compose (the weighted-median oracle's shape) with a
  // direction-aware order — truth for the recursive-escape laws
  private def composeWeightedMedian(
      df: org.apache.spark.sql.DataFrame,
      sort: Seq[org.apache.spark.sql.Column]): Set[(String, Double, Double)] = {
    val wRun = Window.partitionBy("g").orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    df.withColumn("cumw", sum(col("w")).over(wRun))
      .withColumn("totw", sum(col("w")).over(wAll))
      .where(col("cumw") * 2 >= col("totw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("cumw", "v")))
      .where(col("rn") === 1)
      .select(col("g"), col("v").cast("double"), col("totw").cast("double"))
      .as[(String, Double, Double)].collect().toSet
  }

  test("weightedMedianFenced recursive escape: giant-tie crossing intervals " +
    "== two-window compose under a 25-row sort budget") {
    val r = new scala.util.Random(91L)
    // (tiePct, zeroWeightPct, asc, groups): giant asc tie; desc with
    // positive weights; zero weights asc; desc WITH zero weights (the
    // documented sort fallback); mixed hot + cold groups
    val cases = Seq(
      (80, 0, true, 1), (80, 0, false, 1), (70, 30, true, 1),
      (70, 30, false, 1), (90, 0, true, 3))
    for (((tiePct, zeroPct, asc, groups), ci) <- cases.zipWithIndex) {
      val rows = (1 to 1000).map { i =>
        val g = if (groups == 1) "g0" else s"g${r.nextInt(groups)}"
        val v = if (r.nextInt(100) < tiePct) 5.0 else r.nextInt(60).toDouble
        val w = new java.math.BigDecimal(
          if (r.nextInt(100) < zeroPct) 0 else 1 + r.nextInt(9)).setScale(4)
        (g, v, w, i.toLong)
      }
      val df = rows.toDF("g", "v", "w", "id")
        .withColumn("w", col("w").cast("decimal(18,4)"))
      val order = Seq(OrderCol("v", asc = asc), OrderCol("id"))
      val sort = order.map(oc =>
        if (oc.asc) col(oc.name).asc else col(oc.name).desc)
      val expected = composeWeightedMedian(df, sort)
      val fenced = RankFence
        .weightedMedianFenced(df, "g", order, "w",
          buckets = 8, maxWindowRows = 25L)
        .select(col("g"), col("median").cast("double"),
          col("total").cast("double"))
        .as[(String, Double, Double)].collect().toSet
      assert(fenced == expected,
        s"case $ci: tie=$tiePct zero=$zeroPct asc=$asc groups=$groups")
    }
  }

  test("globalRanksFenced == the window rank family (ties, desc, full-tie, " +
    "tiny-budget recursion)") {
    val r = new scala.util.Random(101L)
    def law(df: org.apache.spark.sql.DataFrame, asc: Boolean,
        budget: Long, tag: String): Unit = {
      val vCol = if (asc) col("v").asc else col("v").desc
      val w = Window.orderBy(vCol)
      val wFull = Window.orderBy(vCol, col("id").asc)
      val expected = df.select(col("id"),
          row_number().over(wFull).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("p"), cume_dist().over(w).as("c"))
        .as[(Long, Long, Long, Long, Double, Double)].collect().toSet
      val got = RankFence.globalRanksFenced(df,
          Seq(OrderCol("v", asc = asc)), Seq(OrderCol("id")),
          buckets = 8, maxWindowRows = budget)
        .select(col("id"), col("rn"), col("rnk"), col("drnk"),
          col("pct_rank"), col("cume"))
        .as[(Long, Long, Long, Long, Double, Double)].collect().toSet
      assert(got == expected, tag)
    }
    // tie-heavy frames at the default budget and at recursion-forcing ones
    for ((n, hot, dv, budget, asc) <- Seq(
        (900, 60, 12, RankFence.DefaultMaxWindowRows, true),
        (900, 60, 12, 25L, true), // giant-tie recursion
        (900, 60, 12, 25L, false), // descending
        (1000, 99, 4, 20L, true), // 99% one value
        (500, 0, 5000, 15L, true) // near-unique, every interval splits
      )) {
      val rows = (1 to n).map(i =>
        (if (r.nextInt(100) < hot) 7.0 else r.nextInt(dv).toDouble, i.toLong))
      law(rows.toDF("v", "id"), asc, budget, s"n=$n hot=$hot dv=$dv b=$budget")
    }
    // ONE value everywhere: a single rank group, rn descends to the
    // tie-break ordering
    law((1 to 400).map(i => (5.0, i.toLong)).toDF("v", "id"),
      asc = true, budget = 30L, tag = "full-tie")
  }

  test("globalRanksFenced multi-column rank prefix (prefix ties, date+long)") {
    val r = new scala.util.Random(111L)
    val rows = (1 to 600).map { i =>
      (java.sql.Date.valueOf(s"2024-0${1 + r.nextInt(3)}-1${r.nextInt(5)}"),
        r.nextInt(4).toLong, i.toLong)
    }
    val df = rows.toDF("d", "k", "id")
    val w = Window.orderBy(col("d").asc, col("k").desc)
    val wFull = Window.orderBy(col("d").asc, col("k").desc, col("id").asc)
    val expected = df.select(col("id"),
        row_number().over(wFull).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("p"), cume_dist().over(w).as("c"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSet
    val got = RankFence.globalRanksFenced(df,
        Seq(OrderCol("d"), OrderCol("k", asc = false)), Seq(OrderCol("id")),
        buckets = 8, maxWindowRows = 40L)
      .select(col("id"), col("rn"), col("rnk"), col("drnk"),
        col("pct_rank"), col("cume"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSet
    assert(got == expected)
  }

  test("fenced plans carry no O(1)-partition window (the guard's promise)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def windows(p: SparkPlan): Seq[WindowExec] =
      p.collect { case w: WindowExec => w } ++
        p.collect { case a: AdaptiveSparkPlanExec => a }
          .flatMap(a => windows(a.executedPlan))
    val df = randFrame(51L, 400, 30)
    val plan = RankFence
      .ntileFenced(df, Seq(OrderCol("v"), OrderCol("id")), 10, "t")
      .queryExecution.executedPlan
    windows(plan).foreach(w =>
      assert(w.partitionSpec.nonEmpty,
        s"fenced plan grew an unpartitioned window:\n$w"))
  }

  test("driver-grid contract enforced (r9): fact-scale group key fails with " +
    "an actionable error, not a silent driver collect") {
    val r = new scala.util.Random(71L)
    // every row its own group — the fact-scale key the API contract
    // forbids; the tiny maxGridRows stands in for MaxDriverGridRows so
    // the test overflows without building a 2M-group frame
    val df = (1 to 500).map(i =>
        (i.toLong, r.nextInt(30).toDouble,
          new java.math.BigDecimal(1 + r.nextInt(9)).setScale(4), i.toLong))
      .toDF("g", "v", "w", "id")
      .withColumn("w", col("w").cast("decimal(18,4)"))
    val e = intercept[IllegalArgumentException] {
      RankFence.weightedMedianFenced(df, "g",
        Seq(OrderCol("v"), OrderCol("id")), "w", buckets = 8,
        maxGridRows = 100)
    }
    assert(e.getMessage.contains("low-cardinality") &&
      e.getMessage.contains("'g'"), e.getMessage)
    // and the real default bound is generous enough for report keys
    assert(RankFence.MaxDriverGridRows >= 1000000)
  }

  test("maxWindowRows budget must fit an Int at every public entry (r9): " +
    "local ranks are Int-narrowed against row_number") {
    val df = randFrame(72L, 50, 10)
    val tooBig = Int.MaxValue.toLong + 1L
    val order = Seq(OrderCol("v"), OrderCol("id"))
    for (call <- Seq[() => Any](
        () => RankFence.ntileFenced(df, order, 4, "t", maxWindowRows = tooBig),
        () => RankFence.ntileFencedMulti(df,
          Seq(RankFence.NtileSpec(order, 4, "t"),
            RankFence.NtileSpec(order.reverse, 3, "u")),
          maxWindowRows = tooBig),
        () => RankFence.elementsAtRanks(df, order, Seq(1L),
          maxWindowRows = tooBig),
        () => RankFence.quantilesFenced(df, order, Seq(0.5),
          maxWindowRows = tooBig),
        () => RankFence.globalRanksFenced(df, order, maxWindowRows = tooBig)
      )) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("maxWindowRows"), e.getMessage)
    }
  }

  private implicit class ToMap2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}

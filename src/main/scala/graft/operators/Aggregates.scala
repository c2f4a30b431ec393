package graft.operators

import graft.{Q, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.KmvFunctions._

/** §2.D aggregation (SURVEY.md). All hash aggregates with partial/final
  * split (map-side combine) for free; the only authored decisions are
  * determinism ones:
  *  - money-like DOUBLE sums go through DECIMAL(18,4) so the result is
  *    independent of partitioning/accumulation order (SURVEY.md §7.3.2),
  *    then cast back to DOUBLE for a stable schema;
  *  - counts are BIGINT on both engines (DuckDB sum(int) would be HUGEINT);
  *  - every query ends in a total order.
  */
object Aggregates {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Order-insensitive exact sum of a money-like double column. */
  private def moneySum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(18,4)")).cast("double")

  /** Shared by agg_hist_equidepth (report-twin window plan) and
    * agg_hist_equidepth_fenced (the KLL-fence scale plan) — ONE oracle,
    * two plans, byte-identical results. */
  private val histEquidepthOracle =
    """WITH r AS (
      |  SELECT o_totalprice,
      |         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders
      |)
      |SELECT CAST(decile AS BIGINT) AS decile,
      |       CAST(count(*) AS BIGINT) AS n,
      |       min(o_totalprice) AS lo,
      |       max(o_totalprice) AS hi,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |         AS total
      |FROM r GROUP BY decile ORDER BY decile""".stripMargin

  /** The SCALE plan for the weighted median (round 8), shared by
    * agg_weighted_median and agg_weighted_median_fenced: a window
    * partitioned by l_returnflag would be THREE giant tasks at 100 TB.
    * RankFence.weightedMedianFenced does one KLL fence pass, exact
    * per-(flag, interval) decimal weights locate each flag's crossing
    * interval on the driver, and the only running-sum window runs over
    * that ONE interval per flag (≈ n/64 rows), seeded with the exact
    * weight-before. */
  private def weightedMedianFenced(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("decimal(18,4)").as("w"),
        col("l_orderkey"), col("l_linenumber"))
    RankFence.weightedMedianFenced(li, "l_returnflag",
        Seq(RankFence.OrderCol("l_extendedprice"),
          RankFence.OrderCol("l_orderkey"),
          RankFence.OrderCol("l_linenumber")),
        weightCol = "w")
      .select(col("l_returnflag"),
        col("median").as("weighted_median_price"),
        col("total").cast("double").as("total_qty"))
      .orderBy("l_returnflag")
  }

  /** Shared by agg_weighted_median / agg_weighted_median_fenced. */
  private val weightedMedianOracle =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice,
      |         sum(CAST(l_quantity AS DECIMAL(18,4)))
      |           OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice,
      |                 l_orderkey, l_linenumber
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS cumw,
      |         sum(CAST(l_quantity AS DECIMAL(18,4)))
      |           OVER (PARTITION BY l_returnflag) AS totw
      |  FROM lineitem
      |), x AS (
      |  SELECT l_returnflag, l_extendedprice, totw,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY cumw, l_extendedprice) AS rn
      |  FROM r WHERE cumw * 2 >= totw
      |)
      |SELECT l_returnflag, l_extendedprice AS weighted_median_price,
      |       CAST(totw AS DOUBLE) AS total_qty
      |FROM x WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin

  val qs: Seq[Q] = Seq(

    // Deterministic mode (round 5): most frequent value per group. Spark's
    // (and DuckDB's) built-in mode() is tie-UNDEFINED, so the declared op
    // is the argmax spelled explicitly — count per (group, value), then
    // rn=1 over (count DESC, value ASC). The rank filter compiles to a
    // WindowGroupLimit over the pre-aggregated (group, value) pairs, so
    // the window never sees raw rows — at 100 TB the only full-data
    // shuffle is the two-phase count's.
    // FILTER-clause aggregation (round 5): per-group conditional
    // aggregates in ONE pass — the idiomatic SQL form of the CASE-sum
    // ladder (fn_conditional covers the expression form; this covers the
    // aggregate syntax both engines support natively). One two-phase
    // hash aggregate; each FILTER is a codegen predicate on the update
    // path, never a second scan.
    Q("agg_count_filter",
      """SELECT l_returnflag,
        |       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
        |       CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT) AS n_nodisc,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |            FILTER (WHERE l_quantity > 25) AS DOUBLE) AS rev_big
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_big"),
          expr("count(*) FILTER (WHERE l_discount = 0)").as("n_nodisc"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))" +
            " FILTER (WHERE l_quantity > 25) AS DOUBLE)").as("rev_big"))
        .orderBy("l_returnflag")
    },

    Q("agg_mode",
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_quantity
        |)
        |SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |                               ORDER BY n DESC, l_quantity) AS rn
        |  FROM c)
        |WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("n").desc, col("l_quantity"))
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
        .orderBy("l_returnflag")
    },

    // TPC-H Q1 shape — the canonical multi-key hash aggregate.
    Q("agg_groupby",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneySum("l_quantity").as("sum_qty"),
          moneySum("l_extendedprice").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Exact distinct (Expand + two-phase agg) — daily active users.
    Q("agg_count_distinct",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          countDistinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"))
        .orderBy("day")
    },

    // Hierarchical subtotals region → nation (R8 reporting).
    Q("agg_rollup",
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        // Expand's null-extended attribute copies trip the DataFrame-API
        // ambiguity check on post-rollup references; the SQL analyzer path
        // resolves ROLLUP cleanly, so register the joined input and use it.
        t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name", "c_acctbal")
          .createOrReplaceTempView("agg_rollup_src")
        s.sql(
          """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
            |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
            |FROM agg_rollup_src
            |GROUP BY ROLLUP (r_name, n_name)
            |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },

    Q("agg_cube",
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        t(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), moneySum("o_totalprice").as("total"))
          .orderBy(
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
    },

    // Explicit grouping sets + per-column grouping() disambiguation.
    Q("agg_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        t(s, d, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping(col("o_orderstatus")).cast("long").as("g_status"),
            grouping(col("o_orderpriority")).cast("long").as("g_prio"),
            count(lit(1)).as("n"))
          .orderBy(
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
    },

    // Pivot event_type → indicator columns (monthly-table shape, R4).
    Q("agg_pivot",
      """SELECT user_id,
        |       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        |       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
        |       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
        |       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
        |       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(
          col("user_id") +: types.map(tp =>
            coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
        .orderBy("user_id")
    },

    // Exact interpolating percentile (median visit value, R4).
    // Winsorized mean (round 11): clamp to the [p05, p95] fences then
    // average — the robust-location sibling of agg_trimmed_mean (trim
    // DROPS the tails and shrinks n; winsorize PINS them and keeps n —
    // the estimator metric pipelines prefer when tail rows carry other
    // columns that must stay in the denominator). Determinism: values
    // enter as exact BIGINT cents, the interpolated fences ROUND TO THE
    // CENT GRID before clamping (documented definitional choice — a
    // double-valued fence would make the clamped sum order-dependent),
    // so the clamped sum is integer and the mean is ONE division. The
    // bounded per-type fence frame broadcasts onto the second pass.
    Q("agg_winsorized_mean",
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), f AS (
        |  SELECT event_type,
        |         CAST(round(quantile_cont(v, 0.05)) AS BIGINT) AS lo,
        |         CAST(round(quantile_cont(v, 0.95)) AS BIGINT) AS hi
        |  FROM c GROUP BY event_type
        |)
        |SELECT c.event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(f.lo AS DOUBLE) / 100, 2) AS fence_lo,
        |       round(CAST(f.hi AS DOUBLE) / 100, 2) AS fence_hi,
        |       round(CAST(sum(least(greatest(c.v, f.lo), f.hi)) AS DOUBLE)
        |             / 100 / count(*), 6) AS winsorized_mean
        |FROM c JOIN f ON c.event_type = f.event_type
        |GROUP BY c.event_type, f.lo, f.hi
        |ORDER BY c.event_type""".stripMargin) { (s, d) =>
      val c = t(s, d, "events")
        .where(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
      val f = c.groupBy("event_type")
        .agg(round(percentile(col("v"), lit(0.05))).cast("long").as("lo"),
          round(percentile(col("v"), lit(0.95))).cast("long").as("hi"))
      c.join(broadcast(f), Seq("event_type"))
        .groupBy("event_type", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum(least(greatest(col("v"), col("lo")), col("hi"))).as("sw"))
        .select(col("event_type"), col("n"),
          round(col("lo").cast("double") / 100, 2).as("fence_lo"),
          round(col("hi").cast("double") / 100, 2).as("fence_hi"),
          round(col("sw").cast("double") / 100 / col("n"), 6)
            .as("winsorized_mean"))
        .orderBy("event_type")
    },

    // Latency-tail panel (round 11): p50/p95/p99 + the p99/p50 tail
    // ratio per event type — the SLO readout every ops dashboard leads
    // with (a fat tail at flat medians is the first sign of queueing).
    // Same exact-percentile machinery as agg_median_percentile
    // (percentile ↔ quantile_cont, one grouped pass); the ratio is one
    // division of two already-rounded display values, identical order
    // of operations in both engines.
    Q("agg_tail_ratio",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(quantile_cont(value, 0.99), 4) AS p99,
        |       round(round(quantile_cont(value, 0.99), 4)
        |             / nullif(round(quantile_cont(value, 0.5), 4), 0), 6)
        |         AS tail_ratio
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(percentile(col("value"), lit(0.5)), 4).as("p50"),
          round(percentile(col("value"), lit(0.95)), 4).as("p95"),
          round(percentile(col("value"), lit(0.99)), 4).as("p99"))
        .select(col("event_type"), col("n"), col("p50"), col("p95"),
          col("p99"),
          round(col("p99") / nullif(col("p50"), lit(0)), 6).as("tail_ratio"))
        .orderBy("event_type")
    },

    Q("agg_median_percentile",
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(
          round(percentile(col("value"), lit(0.5)), 4).as("p50"),
          round(percentile(col("value"), lit(0.9)), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Benford first-digit audit (round 7, continued): the distribution
    // of leading digits of order totals vs Benford's law expectation
    // log10(1+1/d) — the classic fabricated-amounts fraud screen (a
    // synthetic uniform fixture like this one FAILS Benford visibly,
    // which is exactly what the report is for). Plan: digit extraction
    // is a pure codegen projection — floor → BIGINT → first character
    // (numeric-to-string, deterministic on both engines; floor+log10
    // digit math would risk engine-specific 2.999..9 edge flips); one
    // 9-bucket groupBy; the total rides in as a broadcast scalar. The
    // expected/deviation columns round at 6 with ≥1e-8 margins from
    // every rounding boundary (checked for all d ∈ 1..9), so libm ULP
    // differences cannot flip a digit.
    Q("agg_benford",
      """SELECT CAST(digit AS BIGINT) AS digit, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(count(*) AS DOUBLE) /
        |             (SELECT count(*) FROM orders), 6) AS pct,
        |       round(log10(1 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford,
        |       round(CAST(count(*) AS DOUBLE) /
        |             (SELECT count(*) FROM orders)
        |             - log10(1 + 1.0 / CAST(digit AS BIGINT)), 6) AS deviation
        |FROM (
        |  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |                1, 1) AS digit
        |  FROM orders
        |)
        |GROUP BY digit ORDER BY digit""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders").select(
        substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .as("digit"))
      val tot = o.agg(count(lit(1)).as("total"))
      val benford = log10(lit(1) + lit(1.0) / col("digit").cast("long"))
      o.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(
          col("digit").cast("long").as("digit"),
          col("n"),
          round(col("n").cast("double") / col("total"), 6).as("pct"),
          round(benford, 6).as("benford"),
          round(col("n").cast("double") / col("total") - benford, 6)
            .as("deviation"))
        .orderBy("digit")
    },

    // Robust outlier profile (round 7, continued): median / MAD
    // anomaly flagging per event_type — the data-quality audit that
    // survives the heavy tails that break mean±3σ (one whale purchase
    // inflates σ until nothing is an outlier; the median and the
    // median-of-absolute-deviations barely move). Threshold =
    // 3·1.4826·MAD (1.4826 rescales MAD to σ under normality, Hampel's
    // consistency constant). Plan: two exact-percentile passes over the
    // same scan — per-type median, then per-type MAD of |x−med| — each
    // an O(types) frame broadcast back (the event_type domain is fixed,
    // NOT linear in SF, so the hint is scale-safe); the outlier count
    // folds into the second pass's re-join as a conditional count, so
    // the fact table is scanned twice and shuffled never (broadcast
    // joins + map-side-combinable aggs on a 5-value key). Both engines
    // build the threshold as (3·1.4826)·mad in identical IEEE order.
    Q("agg_mad_outliers",
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med, m.n
        |  FROM events e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type
        |)
        |SELECT d.event_type, round(max(d.med), 4) AS med,
        |       round(max(ma.mad), 4) AS mad,
        |       CAST(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * ma.mad)
        |            AS BIGINT) AS n_outliers,
        |       max(d.n) AS n
        |FROM dev d JOIN mad ma USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events").select("event_type", "value")
      // the O(types) median frame feeds BOTH the MAD pass and the final
      // classify pass — persisted so the first pass isn't re-derived
      // (3 events scans is the exact-MAD necessity floor: median → MAD
      // → classify; without the persist the plan paid 4)
      val med = ev.groupBy("event_type").agg(
        percentile(col("value"), lit(0.5)).as("med"),
        count(lit(1)).as("n"))
        .persist()
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          round(max(col("med")), 4).as("med"),
          round(max(col("mad")), 4).as("mad"),
          count(when(
            col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1))
            .as("n_outliers"),
          max(col("n")).as("n"))
        .orderBy("event_type")
    },

    // Gini coefficient of customer lifetime spend per nation (round 7,
    // cont.) — the inequality audit that completes the concentration
    // family (etl_pareto_revenue shows WHERE the revenue sits; Gini says
    // HOW UNEQUAL the whole distribution is in one number). Rank-based
    // identity G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending-sorted spend:
    // every sum is EXACT (rank BIGINT × DECIMAL spend), so both engines
    // reach the final expression on bit-identical doubles and the
    // FLOOR-scaled display (win_rolling_stats doctrine — no HALF_UP tie
    // semantics) cannot wobble. Ties in spend can't move Σi·xᵢ: equal x
    // under different i sum identically. Plan: one orders groupBy (THE
    // fact shuffle), customer join pre-reduced to (custkey, nationkey) —
    // AQE sizes it (tpch discipline: no linear-SF broadcast hint) — then
    // a per-nation window over the O(customers) frame and a 25-row
    // reduce; nation rides in on the pinned bounded-dim broadcast.
    Q("agg_gini",
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT c_nationkey, sp,
        |         CAST(row_number() OVER (PARTITION BY c_nationkey
        |             ORDER BY sp, o_custkey) AS BIGINT) AS i
        |  FROM spend JOIN customer ON o_custkey = c_custkey
        |), g AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |         CAST(sum(sp) AS DOUBLE) AS tot, CAST(sum(i * sp) AS DOUBLE) AS s
        |  FROM ranked GROUP BY c_nationkey
        |)
        |SELECT n_name, n_customers, round(tot, 2) AS total,
        |       floor((2.0 * s / (CAST(n_customers AS DOUBLE) * tot)
        |              - (CAST(n_customers AS DOUBLE) + 1.0)
        |                / CAST(n_customers AS DOUBLE)) * 1000000) / 1000000 AS gini
        |FROM g JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sp"))
      val ranked = spend
        .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .withColumn("i", row_number().over(
          Window.partitionBy("c_nationkey").orderBy("sp", "o_custkey"))
          .cast("long"))
      val g = ranked.groupBy("c_nationkey").agg(
        count(lit(1)).as("n_customers"),
        sum(col("sp")).cast("double").as("tot"),
        sum(col("i") * col("sp")).cast("double").as("s"))
      val dn = col("n_customers").cast("double")
      g.join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_customers"),
          round(col("tot"), 2).as("total"),
          (floor((lit(2.0) * col("s") / (dn * col("tot"))
            - (dn + lit(1.0)) / dn) * 1000000) / lit(1000000)).as("gini"))
        .orderBy("n_name")
    },

    // Per-brand OLS regression (round 7, cont.): slope / intercept / R²
    // of extended price on quantity — the "does X drive Y, per segment"
    // profiling question (price elasticity shape). NO Welford/streaming
    // moments anywhere: the five sufficient statistics Σx Σy Σxy Σx² Σy²
    // are EXACT DECIMAL sums (inputs are ≤2-dp by fixture invariant, so
    // the 4-dp products are exact; DECIMAL(38,4) holds them to ~1e34 —
    // warehouse-scale headroom), and both engines derive slope =
    // (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) through the identical double expression
    // on identical inputs — bit-exact, unlike the engine-specific
    // accumulation order inside built-in regr_slope/corr. One fact
    // shuffle (the brand groupBy after the part join, which AQE sizes);
    // map-side partial aggregation carries five decimals + a count.
    // FLOOR-scaled display; intercept/slope may be negative — floor on
    // bit-identical doubles is still deterministic (no tie semantics).
    Q("agg_regression",
      """WITH j AS (
        |  SELECT p_brand,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), m AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx,
        |         CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM j GROUP BY p_brand
        |)
        |SELECT p_brand, n,
        |       floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |             / (CAST(n AS DOUBLE) * sxx - sx * sx) * 1000000) / 1000000 AS slope,
        |       floor((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
        |                   / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
        |             / CAST(n AS DOUBLE) * 1000000) / 1000000 AS intercept,
        |       floor(((CAST(n AS DOUBLE) * sxy - sx * sy)
        |              * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |                * (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000) / 1000000 AS r2
        |FROM m ORDER BY p_brand""".stripMargin) { (s, d) =>
      val j = t(s, d, "lineitem")
        .select(col("l_partkey"),
          col("l_quantity").cast("decimal(18,2)").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"))
        .join(t(s, d, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
      val m = j.groupBy("p_brand").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      val dn = col("n").cast("double")
      val covNum = dn * col("sxy") - col("sx") * col("sy")
      val varXNum = dn * col("sxx") - col("sx") * col("sx")
      val varYNum = dn * col("syy") - col("sy") * col("sy")
      val slope = covNum / varXNum
      m.select(col("p_brand"), col("n"),
          (floor(slope * 1000000) / lit(1000000)).as("slope"),
          (floor((col("sy") - slope * col("sx")) / dn * 1000000)
            / lit(1000000)).as("intercept"),
          (floor(covNum * covNum / (varXNum * varYNum) * 1000000)
            / lit(1000000)).as("r2"))
        .orderBy("p_brand")
    },

    // Market-segment mix entropy per nation (round 7, cont.): Shannon
    // entropy (bits) of each nation's customer-segment distribution —
    // the diversity/balance profile (dq_profile's categorical sibling;
    // H → log₂5 means a uniform mix, → 0 means one segment dominates).
    // Float doctrine: the ≤5 per-nation terms are folded IN A PINNED
    // ORDER (segment-sorted in-row fold on both engines — a plain
    // grouped sum would accumulate in engine-specific partial order),
    // each term computed by the identical −p·ln(p)/ln(2) expression on
    // exact-integer-derived p, so pre-display doubles are bit-identical;
    // FLOOR-scaled display. Plan: one customer groupBy to the O(nation ×
    // segment) frame, everything after is 25-row work; zero fact joins.
    Q("agg_entropy",
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        |  FROM customer GROUP BY 1, 2
        |), t AS (
        |  SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS n_customers,
        |         CAST(count(*) AS BIGINT) AS n_segments
        |  FROM c GROUP BY c_nationkey
        |), terms AS (
        |  SELECT c.c_nationkey, c_mktsegment,
        |         -(CAST(cnt AS DOUBLE) / CAST(n_customers AS DOUBLE))
        |           * ln(CAST(cnt AS DOUBLE) / CAST(n_customers AS DOUBLE))
        |           / ln(2.0) AS term
        |  FROM c JOIN t ON c.c_nationkey = t.c_nationkey
        |), h AS (
        |  SELECT c_nationkey,
        |         list_reduce(list(term ORDER BY c_mktsegment),
        |                     (a, b) -> a + b) AS hsum
        |  FROM terms GROUP BY c_nationkey
        |)
        |SELECT n_name, n_customers, n_segments,
        |       floor(hsum * 1000000) / 1000000 AS entropy_bits
        |FROM h JOIN t ON h.c_nationkey = t.c_nationkey
        |       JOIN nation ON h.c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      val g = c.groupBy("c_nationkey").agg(
        sort_array(collect_list(struct(col("c_mktsegment"), col("cnt"))))
          .as("segs"),
        sum(col("cnt")).as("n_customers"),
        count(lit(1)).as("n_segments"))
      g.join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_customers"), col("n_segments"),
          (floor(expr(
            """aggregate(segs, 0d, (acc, s) ->
              |  acc + (-(CAST(s.cnt AS DOUBLE) / CAST(n_customers AS DOUBLE))
              |         * ln(CAST(s.cnt AS DOUBLE) / CAST(n_customers AS DOUBLE))
              |         / ln(2.0d)))""".stripMargin) * 1000000)
            / lit(1000000)).as("entropy_bits"))
        .orderBy("n_name")
    },

    // Mutual information between two categorical columns, per ship
    // year (round 12): the dependence audit a feature/leakage review
    // runs — MI(returnflag; linestatus) in bits plus both marginal
    // entropies and the normalized MI (MI/√(H·H), 0 = independent,
    // 1 = determined). agg_entropy float doctrine throughout: every
    // input is an exact BIGINT count, the ≤6 per-year cell terms and
    // ≤3 marginal terms fold in PINNED category order (sorted in-row
    // lists — never a float partial aggregation), each term the
    // identical p·ln(·)/ln2 expression in both engines, FLOOR-scaled at
    // display. Plan: ONE lineitem scan to the bounded (year, flag,
    // status) cell frame; marginals and totals re-aggregate that frame;
    // three bounded in-row folds — no windows, no second fact pass.
    Q("dq_mutual_info",
      """WITH c AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |         l_returnflag AS x, l_linestatus AS y,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3
        |), mx AS (
        |  SELECT yr, x, CAST(sum(cnt) AS BIGINT) AS cx FROM c GROUP BY 1, 2
        |), my AS (
        |  SELECT yr, y, CAST(sum(cnt) AS BIGINT) AS cy FROM c GROUP BY 1, 2
        |), tot AS (
        |  SELECT yr, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY yr
        |), mi AS (
        |  SELECT c.yr,
        |         list_reduce(
        |           list((CAST(cnt AS DOUBLE) / n)
        |                * ln(CAST(cnt AS DOUBLE) * n
        |                     / (CAST(cx AS DOUBLE) * cy)) / ln(2.0)
        |                ORDER BY c.x, c.y),
        |           (a, b) -> a + b) AS v
        |  FROM c JOIN mx ON c.yr = mx.yr AND c.x = mx.x
        |         JOIN my ON c.yr = my.yr AND c.y = my.y
        |         JOIN tot ON c.yr = tot.yr
        |  GROUP BY c.yr
        |), hx AS (
        |  SELECT mx.yr,
        |         list_reduce(
        |           list(-(CAST(cx AS DOUBLE) / n)
        |                * ln(CAST(cx AS DOUBLE) / n) / ln(2.0)
        |                ORDER BY x),
        |           (a, b) -> a + b) AS v
        |  FROM mx JOIN tot ON mx.yr = tot.yr GROUP BY mx.yr
        |), hy AS (
        |  SELECT my.yr,
        |         list_reduce(
        |           list(-(CAST(cy AS DOUBLE) / n)
        |                * ln(CAST(cy AS DOUBLE) / n) / ln(2.0)
        |                ORDER BY y),
        |           (a, b) -> a + b) AS v
        |  FROM my JOIN tot ON my.yr = tot.yr GROUP BY my.yr
        |)
        |SELECT tot.yr AS ship_year, n AS n_rows,
        |       floor(mi.v * 1000000) / 1000000 AS mi_bits,
        |       floor(hx.v * 1000000) / 1000000 AS h_flag_bits,
        |       floor(hy.v * 1000000) / 1000000 AS h_status_bits,
        |       floor(mi.v / sqrt(hx.v * hy.v) * 1000000) / 1000000 AS nmi
        |FROM tot JOIN mi ON tot.yr = mi.yr JOIN hx ON tot.yr = hx.yr
        |         JOIN hy ON tot.yr = hy.yr
        |ORDER BY ship_year""".stripMargin) { (s, d) =>
      val c = t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          col("l_returnflag").as("x"), col("l_linestatus").as("y"))
        .agg(count(lit(1)).as("cnt"))
      val mx = c.groupBy("yr", "x").agg(sum(col("cnt")).as("cx"))
      val my = c.groupBy("yr", "y").agg(sum(col("cnt")).as("cy"))
      val tot = c.groupBy("yr").agg(sum(col("cnt")).as("n"))
      val mi = c.join(mx, Seq("yr", "x")).join(my, Seq("yr", "y"))
        .join(broadcast(tot), Seq("yr"))
        .groupBy("yr")
        .agg(expr(
          """aggregate(
            |  transform(sort_array(collect_list(named_struct(
            |    'x', x, 'y', y, 'cnt', cnt, 'cx', cx, 'cy', cy, 'n', n))),
            |    e -> (CAST(e.cnt AS DOUBLE) / e.n)
            |         * ln(CAST(e.cnt AS DOUBLE) * e.n
            |              / (CAST(e.cx AS DOUBLE) * e.cy)) / ln(2.0d)),
            |  0d, (a, b) -> a + b)""".stripMargin).as("miv"))
      def marginalFold(m: org.apache.spark.sql.DataFrame, cc: String) =
        m.join(broadcast(tot), Seq("yr"))
          .groupBy("yr")
          .agg(expr(
            s"""aggregate(
               |  transform(sort_array(collect_list(named_struct(
               |    'k', $cc, 'c', c$cc, 'n', n))),
               |    e -> -(CAST(e.c AS DOUBLE) / e.n)
               |         * ln(CAST(e.c AS DOUBLE) / e.n) / ln(2.0d)),
               |  0d, (a, b) -> a + b)""".stripMargin).as(s"h$cc"))
      tot.join(mi, Seq("yr"))
        .join(marginalFold(mx, "x"), Seq("yr"))
        .join(marginalFold(my, "y"), Seq("yr"))
        .select(col("yr").as("ship_year"), col("n").as("n_rows"),
          (floor(col("miv") * 1000000) / 1000000).as("mi_bits"),
          (floor(col("hx") * 1000000) / 1000000).as("h_flag_bits"),
          (floor(col("hy") * 1000000) / 1000000).as("h_status_bits"),
          (floor(col("miv") / sqrt(col("hx") * col("hy")) * 1000000)
            / 1000000).as("nmi"))
        .orderBy("ship_year")
    },

    Q("agg_stats",
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_discount), 6) AS var_disc,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(var_samp(col("l_discount")), 6).as("var_disc"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
    },

    Q("agg_distinct_rows",
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // Batch twin of the streaming tumbling window (§2.J) — oracle-checked
    // here; the streaming variant shares the same grouping logic.
    // Hopping (sliding) event-time window, batch twin (round 13 —
    // §2.J's second window shape next to the tumbling key): 1-hour
    // windows every 15 minutes, so each event lands in exactly FOUR
    // overlapping windows. Spark's window(ts, '1 hour', '15 minutes')
    // is the Structured Streaming operator evaluated on a batch frame —
    // the same plan a readStream would run; the oracle derives the
    // window set arithmetically (bucket − k·15min for k ∈ 0..3, every
    // one of which contains ts by construction). Epoch alignment: both
    // engines' 15-minute grids sit on unix-epoch multiples of 900 s.
    Q("win_hopping_batch",
      """SELECT make_timestamp(
        |         epoch_us(time_bucket(INTERVAL '15 minutes',
        |                              CAST(ts AS TIMESTAMP)))
        |         - k.k * 900000000) AS w_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events, (SELECT unnest(range(0, 4)) AS k) k
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin) {
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"))
          .orderBy("w_start", "event_type")
    },

    // Categorical share drift (round 13): event_type mix of the FIRST
    // month vs the LAST month, with each category's PSI contribution —
    // the categorical companion to dq_psi_drift's numeric buckets (a
    // new release shifting traffic between event types shows up here
    // as signed share deltas, not just one summary number). Counts
    // exact BIGINT; shares and the ln() contribution are per-category
    // floats over a bounded domain, composed identically both engines.
    Q("dq_category_drift",
      """WITH b AS (
        |  SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS m, event_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), lo AS (SELECT min(m) AS m1, max(m) AS m2 FROM b),
        |p AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN m = (SELECT m1 FROM lo) THEN n ELSE 0 END)
        |              AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN m = (SELECT m2 FROM lo) THEN n ELSE 0 END)
        |              AS BIGINT) AS n2
        |  FROM b GROUP BY event_type
        |), tot AS (
        |  SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
        |  FROM p
        |)
        |SELECT event_type, n1, n2,
        |       round(CAST(n1 AS DOUBLE) / t1, 6) AS share_1,
        |       round(CAST(n2 AS DOUBLE) / t2, 6) AS share_2,
        |       round((CAST(n2 AS DOUBLE) / t2 - CAST(n1 AS DOUBLE) / t1)
        |             * ln((CAST(n2 AS DOUBLE) / t2)
        |                  / (CAST(n1 AS DOUBLE) / t1)), 6)
        |         AS psi_contribution
        |FROM p, tot ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = t(s, d, "events")
        .groupBy(date_trunc("month", col("ts")).as("m"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .persist()
      val lo = b.agg(min(col("m")).as("m1"), max(col("m")).as("m2"))
      val p = b.crossJoin(broadcast(lo))
        .groupBy("event_type")
        .agg(sum(when(col("m") === col("m1"), col("n")).otherwise(0L))
          .as("n1"),
          sum(when(col("m") === col("m2"), col("n")).otherwise(0L))
            .as("n2"))
        .persist()
      val tot = p.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
      val s1 = col("n1").cast("double") / col("t1")
      val s2 = col("n2").cast("double") / col("t2")
      p.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n1"), col("n2"),
          round(s1, 6).as("share_1"), round(s2, 6).as("share_2"),
          round((s2 - s1) * log(s2 / s1), 6).as("psi_contribution"))
        .orderBy("event_type")
    },

    // XmR control chart over daily event volume (round 13; Shewhart /
    // Wheeler): individuals + moving-range limits — mean ± 2.66·mR̄ —
    // with out-of-control flags per day; the PROCESS-control cousin of
    // dq_volume_anomaly's z-scores (XmR limits come from short-term
    // moving range, so a slow drift that inflates the global σ still
    // trips them). Counts and moving ranges are exact BIGINT; the
    // limits assemble once per series from exact sums; the flag
    // compares an exact integer against that double — deterministic in
    // both engines.
    Q("dq_control_chart",
      """WITH dayv AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), mr AS (
        |  SELECT event_type, day, n,
        |         abs(n - lag(n) OVER (PARTITION BY event_type ORDER BY day))
        |           AS mrange
        |  FROM dayv
        |), lim AS (
        |  SELECT event_type,
        |         CAST(sum(n) AS DOUBLE) / count(*) AS xbar,
        |         CAST(sum(mrange) AS DOUBLE) / count(mrange) AS mrbar
        |  FROM mr GROUP BY event_type
        |)
        |SELECT m.event_type, m.day, m.n,
        |       round(l.xbar + 2.66 * l.mrbar, 6) AS ucl,
        |       round(l.xbar - 2.66 * l.mrbar, 6) AS lcl,
        |       (m.n > l.xbar + 2.66 * l.mrbar
        |        OR m.n < l.xbar - 2.66 * l.mrbar) AS out_of_control
        |FROM mr m JOIN lim l USING (event_type)
        |ORDER BY m.event_type, m.day""".stripMargin) { (s, d) =>
      val dayv = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val ws = Window.partitionBy("event_type").orderBy("day")
      val mr = dayv
        .withColumn("mrange", abs(col("n") - lag(col("n"), 1).over(ws)))
        .persist()
      val lim = mr.groupBy("event_type")
        .agg((sum(col("n")).cast("double") / count(lit(1))).as("xbar"),
          (sum(col("mrange")).cast("double") / count(col("mrange")))
            .as("mrbar"))
      mr.join(lim, Seq("event_type"))
        .select(col("event_type"), col("day"), col("n"),
          round(col("xbar") + lit(2.66) * col("mrbar"), 6).as("ucl"),
          round(col("xbar") - lit(2.66) * col("mrbar"), 6).as("lcl"),
          (col("n") > col("xbar") + lit(2.66) * col("mrbar") ||
            col("n") < col("xbar") - lit(2.66) * col("mrbar"))
            .as("out_of_control"))
        .orderBy("event_type", "day")
    },

    // Session-window batch twin (round 13 — §2.J's third window shape):
    // Spark's NATIVE session_window(ts, '30 minutes') evaluated on a
    // batch frame, hash-verified against the classic lag+cumsum gap
    // sessionization — the declared proof that the streaming session
    // operator and the batch etl_sessionize family share one truth.
    // Boundary semantics differ subtly from etl_sessionize's: an event
    // at EXACTLY prev+gap starts a NEW session under session_window
    // (its [ts, ts+gap) interval no longer overlaps), so the oracle's
    // gap compare is >= where etl_sessionize's is > — pinned here so
    // the distinction is a tested fact, not an accident. session_end =
    // last event + gap (the operator's window end), not last event.
    Q("win_session_window_batch",
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id
        |              ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // 2-D histogram (round 13): joint quantity-bucket × discount-bucket
    // counts + revenue — the joint-distribution readout behind every
    // pricing heatmap (agg_histogram is its 1-D marginal). Bucket
    // arithmetic is exact integer on the unit/cent grids; one scan, one
    // bounded groupBy (≤ 5×6 cells).
    Q("agg_histogram_2d",
      """SELECT CAST((CAST(round(l_quantity) AS BIGINT) - 1) // 10 AS BIGINT)
        |         AS qty_bucket,
        |       CAST(CAST(round(l_discount * 100) AS BIGINT) // 2 AS BIGINT)
        |         AS disc_bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS rev_cents
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY qty_bucket, disc_bucket""".stripMargin) {
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(
            expr("(CAST(round(l_quantity) AS BIGINT) - 1) div 10")
              .as("qty_bucket"),
            expr("CAST(round(l_discount * 100) AS BIGINT) div 2")
              .as("disc_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("rev_cents"))
          .orderBy("qty_bucket", "disc_bucket")
    },

    // Near-duplicate ROW detection in structured data (round 13): line
    // pairs inside ONE order that reference the SAME part under
    // different line numbers — the double-entered-line audit
    // (dq_uniqueness catches exact key dups; this catches the
    // almost-dups exact key matching misses: same business content,
    // fresh surrogate key). EQUI self-join on (orderkey, partkey) —
    // selective keys, never a cross; linenumber < linenumber keeps
    // each pair once; the quantity/price columns ride along so the
    // report shows whether the dup doubles exposure or is a split.
    Q("dq_duplicate_near_rows",
      """SELECT a.l_orderkey AS orderkey, a.l_partkey AS partkey,
        |       CAST(a.l_linenumber AS BIGINT) AS ln1,
        |       CAST(b.l_linenumber AS BIGINT) AS ln2,
        |       CAST(round(a.l_quantity) AS BIGINT) AS qty1,
        |       CAST(round(b.l_quantity) AS BIGINT) AS qty2,
        |       (round(a.l_extendedprice * 100)
        |        = round(b.l_extendedprice * 100)) AS same_price
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        | AND a.l_partkey = b.l_partkey
        | AND a.l_linenumber < b.l_linenumber
        |ORDER BY orderkey, partkey, ln1, ln2""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") === col("b.l_partkey") &&
            col("a.l_linenumber") < col("b.l_linenumber"))
        .select(col("a.l_orderkey").as("orderkey"),
          col("a.l_partkey").as("partkey"),
          col("a.l_linenumber").cast("long").as("ln1"),
          col("b.l_linenumber").cast("long").as("ln2"),
          col("a.q").as("qty1"), col("b.q").as("qty2"),
          (col("a.pc") === col("b.pc")).as("same_price"))
        .orderBy("orderkey", "partkey", "ln1", "ln2")
    },

    // Cliff's delta (round 13; Cliff 1993): the ORDINAL effect size
    // between two samples — P(x > y) − P(x < y) — the
    // distribution-free companion to agg_cohens_d (which assumes
    // location-scale) and the effect-size readout the Mann-Whitney
    // p-value lacks. Computed for every returnflag pair over
    // l_quantity WITHOUT the n² comparison join: quantities live on a
    // small integer domain, so each group collapses to a bounded
    // value-histogram and the pairwise counts are one histogram×
    // histogram theta-join (the agg_mann_whitney / graph_richclub
    // bounded-domain doctrine. gt/lt counts are exact BIGINT; the
    // single float op is the final δ division.
    Q("agg_cliffs_delta",
      """WITH h AS (
        |  SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS q,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), n AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY g
        |), p AS (
        |  SELECT a.g AS g1, b.g AS g2,
        |         CAST(sum(CASE WHEN a.q > b.q THEN a.c * b.c ELSE 0 END)
        |              AS BIGINT) AS gt,
        |         CAST(sum(CASE WHEN a.q < b.q THEN a.c * b.c ELSE 0 END)
        |              AS BIGINT) AS lt
        |  FROM h a JOIN h b ON a.g < b.g
        |  GROUP BY 1, 2
        |)
        |SELECT g1, g2, n1.n AS n1, n2.n AS n2,
        |       round(CAST(gt - lt AS DOUBLE) / (n1.n * n2.n), 6)
        |         AS cliffs_delta
        |FROM p JOIN n n1 ON n1.g = p.g1 JOIN n n2 ON n2.g = p.g2
        |ORDER BY g1, g2""".stripMargin) { (s, d) =>
      val h = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("g"),
          round(col("l_quantity")).cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        .persist()
      val n = h.groupBy("g").agg(sum(col("c")).as("n"))
      val pairs = h.as("a").join(h.as("b"), col("a.g") < col("b.g"))
        .groupBy(col("a.g").as("g1"), col("b.g").as("g2"))
        .agg(
          sum(when(col("a.q") > col("b.q"), col("a.c") * col("b.c"))
            .otherwise(0L)).as("gt"),
          sum(when(col("a.q") < col("b.q"), col("a.c") * col("b.c"))
            .otherwise(0L)).as("lt"))
      pairs
        .join(n.select(col("g").as("g1"), col("n").as("n1")), Seq("g1"))
        .join(n.select(col("g").as("g2"), col("n").as("n2")), Seq("g2"))
        .select(col("g1"), col("g2"), col("n1"), col("n2"),
          round((col("gt") - col("lt")).cast("double") /
            (col("n1") * col("n2")), 6).as("cliffs_delta"))
        .orderBy("g1", "g2")
    },

    // Simpson's-paradox check (round 13): per-group OLS slope vs the
    // pooled slope of price-on-quantity, flagging groups whose
    // association REVERSES when the grouping column is ignored — the
    // classic aggregation-bias audit a warehouse should run before
    // publishing any pooled correlation. All second-moment sums are
    // exact BIGINT on the cent/unit grid (the agg_regression doctrine);
    // the slope itself is ONE double expression over those sums,
    // composed identically in both engines — n is CAST to DOUBLE before
    // the products so the n·Σxy term can never overflow BIGINT at
    // scale.
    Q("dq_simpsons_check",
      """WITH m AS (
        |  SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS sy,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |                  * CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS sxx,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |                  * CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY 1
        |), pool AS (
        |  SELECT round((CAST(sum(n) AS DOUBLE) * sum(sxy)
        |                - CAST(sum(sx) AS DOUBLE) * sum(sy))
        |               / (CAST(sum(n) AS DOUBLE) * sum(sxx)
        |                  - CAST(sum(sx) AS DOUBLE) * sum(sx)), 6)
        |           AS pooled_slope
        |  FROM m
        |)
        |SELECT grp, n,
        |       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |         AS slope,
        |       pooled_slope,
        |       (round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |              / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |        * pooled_slope < 0) AS sign_reversed
        |FROM m, pool ORDER BY grp""".stripMargin) { (s, d) =>
      val x = round(col("l_quantity")).cast("long")
      val y = round(col("l_extendedprice") * 100).cast("long")
      val m = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("grp"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(x * y).as("sxy"))
        .persist()
      def slopeOf(n: org.apache.spark.sql.Column,
          sx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
          sxx: org.apache.spark.sql.Column,
          sxy: org.apache.spark.sql.Column) =
        round((n.cast("double") * sxy - sx.cast("double") * sy) /
          (n.cast("double") * sxx - sx.cast("double") * sx), 6)
      val pool = m.agg(slopeOf(sum(col("n")), sum(col("sx")), sum(col("sy")),
        sum(col("sxx")), sum(col("sxy"))).as("pooled_slope"))
      m.crossJoin(broadcast(pool))
        .select(col("grp"), col("n"),
          slopeOf(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"))
            .as("slope"),
          col("pooled_slope"),
          (slopeOf(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"))
            * col("pooled_slope") < 0).as("sign_reversed"))
        .orderBy("grp")
    },

    Q("win_tumbling_batch",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) {
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(
            col("window.start").as("hour_start"), col("event_type"), col("n"))
          .orderBy("hour_start", "event_type")
    },

    // R9/R11: per-column data-quality profile — the nightly audit report
    // (row count, nulls, distincts, min/max) a warehouse platform runs
    // over every ingested table. ONE scan: a single aggregate row holds
    // every column's metrics, then a stack() melt reshapes it to one row
    // per column — profiling four columns costs the same pass as
    // profiling one (the naive per-column UNION of aggregates, which the
    // ORACLE deliberately uses, scans the table once per column).
    // Doubles go through DECIMAL(18,2) before the string cast so both
    // engines render identically.
    Q(
      "dq_profile",
      """SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(min(o_custkey) AS VARCHAR) AS min_v,
        |       CAST(max(o_custkey) AS VARCHAR) AS max_v
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(o_orderkey) AS BIGINT),
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |       CAST(min(o_orderkey) AS VARCHAR),
        |       CAST(max(o_orderkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |       min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(o_totalprice) AS BIGINT),
        |       CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |       CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR),
        |       CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def dec(c: org.apache.spark.sql.Column) =
        round(c, 2).cast("decimal(18,2)").cast("string")
      val one = o.agg(
        count(lit(1)).as("n"),
        count(col("o_custkey")).as("cnt_ck"),
        countDistinct(col("o_custkey")).as("nd_ck"),
        min(col("o_custkey")).cast("string").as("min_ck"),
        max(col("o_custkey")).cast("string").as("max_ck"),
        count(col("o_orderkey")).as("cnt_ok"),
        countDistinct(col("o_orderkey")).as("nd_ok"),
        min(col("o_orderkey")).cast("string").as("min_ok"),
        max(col("o_orderkey")).cast("string").as("max_ok"),
        count(col("o_orderstatus")).as("cnt_os"),
        countDistinct(col("o_orderstatus")).as("nd_os"),
        min(col("o_orderstatus")).as("min_os"),
        max(col("o_orderstatus")).as("max_os"),
        count(col("o_totalprice")).as("cnt_tp"),
        countDistinct(col("o_totalprice")).as("nd_tp"),
        dec(min(col("o_totalprice"))).as("min_tp"),
        dec(max(col("o_totalprice"))).as("max_tp"))
      one.select(col("n"), expr(
        """stack(4,
          |  'o_custkey',    n - cnt_ck, nd_ck, min_ck, max_ck,
          |  'o_orderkey',   n - cnt_ok, nd_ok, min_ok, max_ok,
          |  'o_orderstatus', n - cnt_os, nd_os, min_os, max_os,
          |  'o_totalprice', n - cnt_tp, nd_tp, min_tp, max_tp
          |) AS (col_name, n_null, n_distinct, min_v, max_v)""".stripMargin))
        .select("col_name", "n", "n_null", "n_distinct", "min_v", "max_v")
        .orderBy("col_name")
    },

    // R11 data-quality, continued: Tukey-fence outlier audit — per
    // event type, how many values fall outside [q1 − 1.5·IQR,
    // q3 + 1.5·IQR]. Two passes by necessity (exact quantiles need a
    // full pass before anything can be classified); the bounds frame is
    // DOMAIN-bounded (one row per event type) so its join back is a
    // safe explicit broadcast — the nation/region argument, not the
    // linear-dimension trap. Both engines compute lo/hi with the same
    // expression shape on the same interpolated quantiles, and the
    // fixture's 2-decimal values keep data points off the fence ulp.
    // At 100 TB the bounds pass drops to one kll_sketch aggregate
    // (mergeable, streamable) with the fences read off the sketch —
    // same second pass, approximate fences.
    Q(
      "dq_outliers",
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type
        |), f AS (
        |  SELECT e.event_type, e.value,
        |         b.q1 - 1.5 * (b.q3 - b.q1) AS lo,
        |         b.q3 + 1.5 * (b.q3 - b.q1) AS hi
        |  FROM events e JOIN b ON e.event_type = b.event_type
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(CASE WHEN value < lo THEN 1 END) AS BIGINT) AS n_low,
        |       CAST(count(CASE WHEN value > hi THEN 1 END) AS BIGINT) AS n_high,
        |       floor(min(lo) * 10000) / 10000 AS lo_bound,
        |       floor(max(hi) * 10000) / 10000 AS hi_bound
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val iqr = col("q3") - col("q1")
      val b = ev.groupBy("event_type")
        .agg(
          percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
        .select(col("event_type"),
          (col("q1") - lit(1.5) * iqr).as("lo"),
          (col("q3") + lit(1.5) * iqr).as("hi"))
      ev.join(broadcast(b), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("value") < col("lo"), 1)).as("n_low"),
          count(when(col("value") > col("hi"), 1)).as("n_high"),
          // FLOOR display scaling, not round: the fences are eighth-step
          // decimals (q ∓ 1.5·IQR over quarter-interpolated 2-decimal
          // values), which land exactly on x.xx?25-style round-ties where
          // Spark's exact-binary HALF_UP and DuckDB's double-space v·10⁴
          // disagree (the win_rolling_stats lesson)
          (floor(min(col("lo")) * 10000) / lit(10000)).as("lo_bound"),
          (floor(max(col("hi")) * 10000) / lit(10000)).as("hi_bound"))
        .orderBy("event_type")
    },

    // R11 data-quality, continued: referential-integrity audit — orphan
    // counts for the star schema's FK edges (the ingest gate every
    // warehouse runs before publishing). Each edge is one left join on
    // the key with only the parent KEY column selected (pruned scans),
    // counting child rows and NULL-parent orphans in the same pass; the
    // unique parent keys mean no fan-out, so n_child doubles as the row
    // audit. At 100 TB the parent side of each probe is a shuffle join
    // by default; when orphans are expected to be rare, bloom_build over
    // the parent keys broadcast as a map-side prefilter (the
    // llm_decontaminate_bloom shape) turns the audit into one child scan
    // + a sliver-sized exact join.
    Q(
      "dq_referential",
      """SELECT 'lineitem.l_orderkey -> orders' AS fk,
        |       CAST(count(*) AS BIGINT) AS n_child,
        |       CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_orphan
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey -> part',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(CASE WHEN p_partkey IS NULL THEN 1 END) AS BIGINT)
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |UNION ALL
        |SELECT 'orders.o_custkey -> customer',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(CASE WHEN c_custkey IS NULL THEN 1 END) AS BIGINT)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY fk""".stripMargin) { (s, d) =>
      def edge(label: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String) =
        child.select(col(childKey))
          .join(parent.select(col(parentKey)),
            col(childKey) === col(parentKey), "left")
          .agg(count(lit(1)).as("n_child"),
            count(when(col(parentKey).isNull, 1)).as("n_orphan"))
          .select(lit(label).as("fk"), col("n_child"), col("n_orphan"))
      edge("lineitem.l_orderkey -> orders",
          t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey")
        .unionAll(edge("lineitem.l_partkey -> part",
          t(s, d, "lineitem"), "l_partkey", t(s, d, "part"), "p_partkey"))
        .unionAll(edge("orders.o_custkey -> customer",
          t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey"))
        .orderBy("fk")
    },

    // Daily-volume anomaly trend (round 7, cont.): each day's event
    // count scored against the trailing 7-day window — the
    // pipeline-health monitor that catches ingest drops/spikes
    // (dq_profile says what the data looks like; this says whether
    // TODAY's batch looks like yesterday's). win_rolling_stats
    // determinism transplanted to the daily grain: the rolling moments
    // are INTEGER window sums (Σn, Σn², m) over exact daily counts, both
    // engines derive mu/z through the same double expression on
    // identical integers, FLOOR-scaled display. The global day-ordered
    // window is a single-task sort BY DESIGN: the frame is O(days) —
    // report-scale at any SF (100 TB of events still has ~3650 daily
    // rows a decade) — because the fact-sized work all happens in the
    // preceding map-side-combinable daily groupBy.
    Q("dq_volume_anomaly",
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT day, n,
        |         CAST(sum(n) OVER w AS DOUBLE) AS s1,
        |         CAST(sum(n * n) OVER w AS DOUBLE) AS s2,
        |         CAST(count(*) OVER w AS DOUBLE) AS m
        |  FROM d WINDOW w AS (ORDER BY day
        |                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT day, n,
        |       floor(s1 / m * 100) / 100 AS mu,
        |       floor((CAST(n AS DOUBLE) - s1 / m)
        |             / sqrt((s2 - s1 * s1 / m) / (m - 1)) * 10000) / 10000 AS z
        |FROM r WHERE m >= 4 AND (s2 - s1 * s1 / m) / (m - 1) > 0
        |ORDER BY day""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("day").rowsBetween(-7, -1)
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val r = daily.select(col("day"), col("n"),
        sum(col("n")).over(w).cast("double").as("s1"),
        sum(col("n") * col("n")).over(w).cast("double").as("s2"),
        count(lit(1)).over(w).cast("double").as("m"))
      val varN = (col("s2") - col("s1") * col("s1") / col("m")) / (col("m") - 1)
      r.where(col("m") >= 4 && varN > 0)
        .select(col("day"), col("n"),
          (floor(col("s1") / col("m") * 100) / lit(100)).as("mu"),
          (floor((col("n").cast("double") - col("s1") / col("m"))
            / sqrt(varN) * 10000) / lit(10000)).as("z"))
        .orderBy("day")
    },

    // 1-Wasserstein drift (round 12 — the INTEGRAL-gap companion to
    // dq_ks_test's max-gap statistic, same ref/cur halves): earth-mover
    // distance between the two halves' value distributions per event
    // type. KS sees only the worst single point; W1 integrates the
    // whole CDF gap, so a broad small shift (the way drift usually
    // arrives) registers even when no single quantile moves much.
    // Exact arithmetic: distributions live on the bounded cent-tick
    // domain, W1 = Σ|cumRef·totCur − cumCur·totRef|·gap over the tick
    // frame — DECIMAL(38,0) integer folds (order-independent, no
    // overflow at any SF), ONE division at display. Cost: one fact
    // scan to the (type, tick) frame, one bounded per-type window.
    Q("dq_wasserstein_drift",
      """WITH b AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS tick,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), tt AS (
        |  SELECT event_type, CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |         CAST(sum(n_cur) AS BIGINT) AS tot_cur
        |  FROM b GROUP BY event_type
        |), c AS (
        |  SELECT b.event_type, tick,
        |         CAST(sum(n_ref) OVER w AS BIGINT) AS cum_ref,
        |         CAST(sum(n_cur) OVER w AS BIGINT) AS cum_cur,
        |         lead(tick) OVER w - tick AS gap,
        |         tot_ref, tot_cur
        |  FROM b JOIN tt USING (event_type)
        |  WINDOW w AS (PARTITION BY b.event_type ORDER BY tick)
        |)
        |SELECT event_type,
        |       CAST(max(tot_ref) AS BIGINT) AS tot_ref,
        |       CAST(max(tot_cur) AS BIGINT) AS tot_cur,
        |       floor(CAST(sum(CAST(abs(cum_ref * tot_cur
        |                               - cum_cur * tot_ref) AS HUGEINT)
        |                      * coalesce(gap, 0)) AS DOUBLE)
        |             / max(tot_ref) / max(tot_cur) / 100
        |             * 1000000) / 1000000 AS w1_drift
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"),
          round(col("value") * 100).cast("long").as("tick"))
        .agg(
          sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("n_ref"),
          sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("n_cur"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("tick")
      val tot = b.groupBy("event_type")
        .agg(sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"))
      val c = b.select(col("event_type"), col("tick"),
          sum(col("n_ref")).over(w).as("cum_ref"),
          sum(col("n_cur")).over(w).as("cum_cur"),
          (lead(col("tick"), 1).over(w) - col("tick")).as("gap"))
        .join(broadcast(tot), Seq("event_type"))
      c.groupBy("event_type")
        .agg(
          sum(abs(col("cum_ref").cast("decimal(38,0)") * col("tot_cur")
            - col("cum_cur").cast("decimal(38,0)") * col("tot_ref"))
            * coalesce(col("gap"), lit(0L))).cast("double").as("s"),
          max(col("cum_ref")).as("tot_ref_o"),
          max(col("cum_cur")).as("tot_cur_o"))
        .select(col("event_type"),
          col("tot_ref_o").as("tot_ref"), col("tot_cur_o").as("tot_cur"),
          (floor(col("s") / col("tot_ref_o") / col("tot_cur_o") / 100
            * 1000000) / 1000000).as("w1_drift"))
        .orderBy("event_type")
    },

    // NULL-burst profile (round 12 — dq_volume_anomaly's completeness
    // twin): per-day null rate of the value column plus a burst flag
    // against the trailing-7-day rate (exclusive window — today must
    // not mask its own burst). A schema/ingest regression shows up as
    // a null-rate step before any downstream aggregate goes visibly
    // wrong; rate-vs-trailing-rate comparison is a cross-multiplied
    // exact-integer inequality (no float threshold anywhere in the
    // FLAG), FLOOR-scaled rates at display only.
    Q("dq_null_profile",
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_null
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT day, n, n_null,
        |         CAST(sum(n) OVER w AS BIGINT) AS tn,
        |         CAST(sum(n_null) OVER w AS BIGINT) AS tnull,
        |         CAST(count(*) OVER w AS BIGINT) AS m
        |  FROM d WINDOW w AS (ORDER BY day
        |                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT day, n, n_null,
        |       floor(CAST(n_null AS DOUBLE) / n * 1000000) / 1000000
        |         AS null_rate,
        |       floor(CAST(tnull AS DOUBLE) / tn * 1000000) / 1000000
        |         AS trailing_rate,
        |       CAST(CASE WHEN n_null * tn > 2 * tnull * n
        |                 THEN 1 ELSE 0 END AS BIGINT) AS burst
        |FROM r WHERE m >= 4
        |ORDER BY day""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("day").rowsBetween(-7, -1)
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"))
      daily.select(col("day"), col("n"), col("n_null"),
          sum(col("n")).over(w).as("tn"),
          sum(col("n_null")).over(w).as("tnull"),
          count(lit(1)).over(w).as("m"))
        .where(col("m") >= 4)
        .select(col("day"), col("n"), col("n_null"),
          (floor(col("n_null").cast("double") / col("n") * 1000000)
            / 1000000).as("null_rate"),
          (floor(col("tnull").cast("double") / col("tn") * 1000000)
            / 1000000).as("trailing_rate"),
          when(col("n_null") * col("tn") > lit(2) * col("tnull") * col("n"),
            1L).otherwise(0L).as("burst"))
        .orderBy("day")
    },

    // k-anonymity audit (round 7, cont.): the privacy-engineering
    // readout — the smallest quasi-identifier equivalence class over
    // (nation, segment) is the dataset's k-anonymity (Sweeney 2002): a
    // released table is k-anonymous iff every QI combination matches ≥ k
    // rows, and the at-risk tail (combos below 5/20) is what a release
    // review actually reads. Plan: one pruned scan → map-side-combinable
    // QI groupBy → a single-row reduce over the O(|QI-domain|) frame;
    // p50 of integer combo sizes interpolates only at .0/.5 (exact).
    Q("dq_k_anonymity",
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(min(n) AS BIGINT) AS k_anonymity,
        |       CAST(count(*) AS BIGINT) AS n_combos,
        |       CAST(count(CASE WHEN n < 5 THEN 1 END) AS BIGINT) AS n_below_5,
        |       CAST(count(CASE WHEN n < 20 THEN 1 END) AS BIGINT) AS n_below_20,
        |       CAST(max(n) AS BIGINT) AS max_combo,
        |       round(quantile_cont(n, 0.5), 1) AS p50_combo
        |FROM g""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("k_anonymity"),
          count(lit(1)).as("n_combos"),
          count(when(col("n") < 5, 1)).as("n_below_5"),
          count(when(col("n") < 20, 1)).as("n_below_20"),
          max(col("n")).as("max_combo"),
          round(percentile(col("n"), lit(0.5)), 1).as("p50_combo"))
    },

    // Key-uniqueness audit (round 7, cont.): rows vs distinct keys per
    // declared natural key — the dq companion of dq_referential (that
    // one checks FKs point somewhere; this checks PKs are actually
    // keys). The fixture itself demonstrates the value: lineitem's
    // (l_orderkey, l_linenumber) carries ~24% duplicate rows at every
    // SF, which any downstream "line number is unique per order"
    // assumption would silently trip over. Plan: one pruned scan per
    // table, each a single count + count-distinct aggregate (the
    // distinct expands map-side; at 100 TB the approx path is one conf
    // away via the injected HLL rewrite — single-arg keys only, the
    // composite stays exact).
    Q("dq_uniqueness",
      """SELECT 'customer.c_custkey' AS key_col, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
        |       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS n_dup_rows
        |FROM customer
        |UNION ALL
        |SELECT 'events.event_id', CAST(count(*) AS BIGINT),
        |       CAST(count(DISTINCT event_id) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'lineitem.(l_orderkey, l_linenumber)', CAST(count(*) AS BIGINT),
        |       CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders.o_orderkey', CAST(count(*) AS BIGINT),
        |       CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders
        |ORDER BY key_col""".stripMargin) { (s, d) =>
      def audit(label: String, df: DataFrame, keys: Seq[String]) =
        df.select(keys.map(col): _*)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col(keys.head), keys.tail.map(col): _*).as("n_keys"))
          .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
            (col("n_rows") - col("n_keys")).as("n_dup_rows"))
      audit("customer.c_custkey", t(s, d, "customer"), Seq("c_custkey"))
        .unionAll(audit("events.event_id", t(s, d, "events"), Seq("event_id")))
        .unionAll(audit("lineitem.(l_orderkey, l_linenumber)",
          t(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber")))
        .unionAll(audit("orders.o_orderkey", t(s, d, "orders"),
          Seq("o_orderkey")))
        .orderBy("key_col")
    },

    // R11: wide→long reshaping (the inverse of agg_pivot) — Spark 4's
    // native unpivot/melt. Zero-shuffle: each input row explodes to one
    // row per measure map-side (Expand), so the reshape costs one narrow
    // pass at any scale. The oracle is the portable UNION ALL form.
    Q(
      "agg_unpivot",
      """SELECT c_custkey, metric, value FROM (
        |  SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'c_nationkey' AS metric,
        |         CAST(c_nationkey AS DOUBLE) AS value
        |  FROM customer
        |) ORDER BY c_custkey, metric""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .select(
          col("c_custkey"),
          col("c_acctbal"),
          col("c_nationkey").cast("double").as("c_nationkey"))
        .unpivot(
          Array(col("c_custkey")),
          Array(col("c_acctbal"), col("c_nationkey")),
          "metric", "value")
        .orderBy("c_custkey", "metric")
    },

    // R11: fixed-width histogram + CDF — the distribution report the
    // reference's R analysis layer draws (bucket counts + cumulative
    // share). Two-level plan: the data-sized pass is a plain hash
    // aggregate (map-side partial combine, one shuffle on bucket); the
    // windowed CDF then runs over the BUCKET frame, whose size is bounded
    // by the value range / width — independent of row count — so the
    // single-task global-order window is safe at any data scale.
    Q(
      "agg_histogram",
      """SELECT bucket, bucket_lo, n,
        |       CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
        |       round(CAST(sum(n) OVER (ORDER BY bucket) AS DOUBLE)
        |             / sum(n) OVER (), 6) AS cdf
        |FROM (
        |  SELECT CAST(floor(value / 100) AS BIGINT) AS bucket,
        |         CAST(CAST(floor(value / 100) AS BIGINT) * 100 AS DOUBLE)
        |           AS bucket_lo,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |) ORDER BY bucket""".stripMargin) { (s, d) =>
      val byBucket = Window.orderBy("bucket")
      val buckets = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(floor(col("value") / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bucket_lo", col("bucket") * 100.0)
      buckets
        .withColumn("cum_n", sum(col("n")).over(byBucket))
        .withColumn(
          "cdf",
          round(
            col("cum_n").cast("double") /
              sum(col("n")).over(Window.partitionBy()),
            6))
        .select("bucket", "bucket_lo", "n", "cum_n", "cdf")
        .orderBy("bucket")
    },

    // Skewness + kurtosis (round 7, cont.): the 3rd/4th standardized
    // moments per event_type — tail asymmetry and heaviness, the two
    // shape numbers agg_stats's mean/stddev can't see (and the reason
    // mean±3σ alerting lies on skewed data — agg_mad_outliers' robust
    // complement from the parametric side). Engine-ordered float folds
    // NEVER touch the data path: all four power sums fold in exact
    // DECIMAL — value fits (7,2), so v⁴ lands at (31,8) and the sums at
    // (38,8) with zero rounding on either engine — and only the final
    // standardized expressions run in (identical-order) double.
    Q("agg_skew_kurt",
      """WITH p AS (
        |  SELECT event_type, v, v2, CAST(v2 * v AS DECIMAL(29,6)) AS v3,
        |         CAST(CAST(v2 * v AS DECIMAL(29,6)) * v AS DECIMAL(36,8)) AS v4
        |  FROM (
        |    SELECT event_type, CAST(value AS DECIMAL(7,2)) AS v,
        |           CAST(CAST(value AS DECIMAL(7,2))
        |                * CAST(value AS DECIMAL(7,2)) AS DECIMAL(22,4)) AS v2
        |    FROM events WHERE value IS NOT NULL
        |  )
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(v) AS DOUBLE) AS s1,
        |         CAST(sum(v2) AS DOUBLE) AS s2,
        |         CAST(sum(v3) AS DOUBLE) AS s3,
        |         CAST(sum(v4) AS DOUBLE) AS s4
        |  FROM p GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       floor((s1 / n) * 1000000) / 1000000 AS mean,
        |       floor((s3 / n - 3 * (s1 / n) * (s2 / n)
        |              + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        |             / ((s2 / n - (s1 / n) * (s1 / n))
        |                * sqrt(s2 / n - (s1 / n) * (s1 / n)))
        |             * 1000000) / 1000000 AS skewness,
        |       floor((s4 / n - 4 * (s1 / n) * (s3 / n)
        |              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |             / ((s2 / n - (s1 / n) * (s1 / n))
        |                * (s2 / n - (s1 / n) * (s1 / n)))
        |             * 1000000) / 1000000 - 3 AS excess_kurtosis
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = col("value").cast("decimal(7,2)")
      val m = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(v).cast("double").as("s1"),
          sum(v * v).cast("double").as("s2"),
          sum(v * v * v).cast("double").as("s3"),
          sum(v * v * v * v).cast("double").as("s4"))
      val mean = col("s1") / col("n")
      val m2 = col("s2") / col("n") - mean * mean
      val skew = (col("s3") / col("n") - lit(3) * mean * (col("s2") / col("n"))
        + lit(2) * mean * mean * mean) / (m2 * sqrt(m2))
      val kurt = (col("s4") / col("n")
        - lit(4) * mean * (col("s3") / col("n"))
        + lit(6) * mean * mean * (col("s2") / col("n"))
        - lit(3) * mean * mean * mean * mean) / (m2 * m2)
      m.select(col("event_type"), col("n").cast("long").as("n"),
          (floor(mean * 1000000) / 1000000).as("mean"),
          (floor(skew * 1000000) / 1000000).as("skewness"),
          (floor(kurt * 1000000) / 1000000 - 3).as("excess_kurtosis"))
        .orderBy("event_type")
    },

    // Equi-DEPTH histogram (round 7, cont.): order totals cut into ten
    // equal-population buckets — the complement of agg_histogram's
    // equi-WIDTH $100 bins (skewed money data leaves equi-width bins
    // empty at the tail; equi-depth tracks the distribution's own
    // shape). ntile over the (value, key) total order — the etl_rfm
    // report-scale global-sort discipline, with KLL quantile fences as
    // the documented 100 TB escape; per-bucket money sums fold in exact
    // DECIMAL.
    Q("agg_hist_equidepth", histEquidepthOracle) { (s, d) =>
      val w = Window.orderBy("o_totalprice", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_totalprice"), col("o_orderkey"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("total"))
        .orderBy("decile")
    },

    // The SCALE plan for the same report (round 8, closing VERDICT r7's
    // weak class): exact decile histogram with NO global sort anywhere.
    // RankFence: KLL fences route rows into ~64 intervals (one sketch
    // pass), exact per-interval counts locate the 9 decile boundary
    // ranks, a window over ONLY the candidate intervals (each ≈ n/64,
    // partitioned per interval) picks the boundary tuples, and every
    // row's decile is then 1 + #{boundaries < (price, key)} — a map-side
    // comparison ladder feeding the same exact DECIMAL folds. Identical
    // output to agg_hist_equidepth under the shared oracle; 3 pruned
    // scans + 1 filtered scan instead of one scan into a single task.
    Q("agg_hist_equidepth_fenced", histEquidepthOracle) { (s, d) =>
      val base = t(s, d, "orders").select(col("o_totalprice"), col("o_orderkey"))
      RankFence.ntileFenced(base,
          Seq(RankFence.OrderCol("o_totalprice"), RankFence.OrderCol("o_orderkey")),
          tiles = 10, out = "decile")
        .withColumn("decile", col("decile").cast("long"))
        .groupBy("decile")
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("total"))
        .orderBy("decile")
    },

    // Sequence-integrity audit (round 7, cont.): is each order's
    // l_linenumber sequence the contiguous 1..n it claims to be?
    // Three independent defect classes from one per-order profile
    // (min / max / count / distinct-count): duplicate line numbers,
    // wrong start, gaps inside the occupied span — and another REAL
    // fixture finding (sf0.01: only 1,155 of 14,743 orders are fully
    // valid; 8,499 carry duplicate line numbers, corroborating
    // dq_uniqueness's 24% dup-row rate from the key side). ONE scan +
    // one partial-agg groupBy; the verdict fold runs over the bounded
    // per-order profile.
    Q("dq_sequence_integrity",
      """WITH p AS (
        |  SELECT l_orderkey,
        |         CAST(min(l_linenumber) AS BIGINT) AS mn,
        |         CAST(max(l_linenumber) AS BIGINT) AS mx,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd
        |  FROM lineitem GROUP BY l_orderkey
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN n != nd THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_lines,
        |       CAST(sum(CASE WHEN mn != 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bad_start,
        |       CAST(sum(CASE WHEN mx - mn + 1 != nd THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_gapped,
        |       CAST(sum(CASE WHEN n = nd AND mn = 1 AND mx = nd
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        |FROM p""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          min(col("l_linenumber")).cast("long").as("mn"),
          max(col("l_linenumber")).cast("long").as("mx"),
          count(lit(1)).as("n"),
          countDistinct(col("l_linenumber")).as("nd"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("n") =!= col("nd"), 1L).otherwise(0L))
            .as("n_dup_lines"),
          sum(when(col("mn") =!= 1, 1L).otherwise(0L)).as("n_bad_start"),
          sum(when(col("mx") - col("mn") + 1 =!= col("nd"), 1L)
            .otherwise(0L)).as("n_gapped"),
          sum(when(col("n") === col("nd") && col("mn") === 1 &&
            col("mx") === col("nd"), 1L).otherwise(0L)).as("n_valid"))
    },

    // Daily-volume correlation matrix (round 7, cont.): Pearson r
    // between every pair of event-type daily count series — the ops
    // question "do error spikes move with traffic?" answered for all
    // pairs at once. The matrix complement of the single-series family
    // (autocorr within a type, Mann-Kendall per type). Exact BIGINT
    // daily counts cast identically on both engines feed one
    // map-side-combinable corr fold per pair (the etl_autocorr_daily
    // float discipline); the pair join runs on the BOUNDED type×day
    // frame and the output is the 10-row upper triangle.
    Q("agg_corr_matrix",
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       round(corr(CAST(a.c AS DOUBLE), CAST(b.c AS DOUBLE)), 6) AS r
        |FROM daily a JOIN daily b
        |  ON a.day = b.day AND a.event_type < b.event_type
        |GROUP BY 1, 2
        |ORDER BY t1, t2""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .persist() // bounded frame feeds both pair sides
      daily.as("a")
        .join(daily.as("b"),
          col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
        .agg(
          count(lit(1)).as("n_days"),
          round(corr(col("a.c").cast("double"), col("b.c").cast("double")), 6)
            .as("r"))
        .orderBy("t1", "t2")
    },

    // Exact weighted median (round 7, cont.): per return flag, the
    // quantity-weighted median unit price — the "half the VOLUME sold
    // below this price" statistic plain percentiles (agg_median, row-
    // weighted) cannot answer: the first row, under the (price, key)
    // total order, whose cumulative weight reaches half the total, with
    // weights folded in exact DECIMAL(18,4). Both this key and its
    // `_fenced` twin run [[weightedMedianFenced]]: the two-window compose
    // that used to serve it lost at sf0.1 (2.19 vs 3.17 s) and at 6M rows
    // (3.5 vs 4.2 s), and only the fence runs at 60M (SCALING.md).
    Q("agg_weighted_median", weightedMedianOracle)(weightedMedianFenced),

    // Exact GLOBAL percentiles, fenced (round 8): the element at rank
    // max(1, ⌈q·n⌉) under the (price, key) total order for q ∈ {25, 50,
    // 75, 90, 99}% — quantile_disc semantics, EXACT (approx_percentile's
    // deterministic complement), with no global sort: RankFence locates
    // all five ranks in the same 3 fenced passes. The oracle replays the
    // identical rank arithmetic (⌈⌉ over the same IEEE q·n product), so
    // the readout is value-verified, not bound-verified.
    Q("agg_percentiles_fenced",
      """WITH r AS (
        |  SELECT o_totalprice,
        |         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM orders
        |)
        |SELECT CAST(p.pct AS BIGINT) AS pct,
        |       CAST(greatest(1, CAST(ceil(p.pct / 100.0 * r.n) AS BIGINT))
        |            AS BIGINT) AS rnk,
        |       CAST(o_totalprice AS DOUBLE) AS value
        |FROM (VALUES (25), (50), (75), (90), (99)) p(pct)
        |JOIN r ON r.rn = greatest(1, CAST(ceil(p.pct / 100.0 * r.n)
        |                                  AS BIGINT))
        |ORDER BY pct""".stripMargin) { (s, d) =>
      val pcts = Seq(25, 50, 75, 90, 99)
      val got = RankFence.quantilesFenced(
        t(s, d, "orders").select(col("o_totalprice"), col("o_orderkey")),
        Seq(RankFence.OrderCol("o_totalprice"), RankFence.OrderCol("o_orderkey")),
        pcts.map(_ / 100.0))
      val rows = pcts.zip(got).map { case (p, (_, rank, v)) =>
        (p.toLong, rank, v.asInstanceOf[Number].doubleValue)
      }
      import s.implicits._
      rows.toDF("pct", "rnk", "value").orderBy("pct")
    },

    Q("agg_weighted_median_fenced", weightedMedianOracle)(weightedMedianFenced),

    // Mann-Kendall trend test (round 7, cont.): per event_type, the
    // nonparametric monotone-trend statistic over the daily count series
    // — S = Σ_{i<j} sign(c_j − c_i), its normal approximation z with
    // continuity correction. The rank-based complement of
    // etl_autocorr_daily/win_cusum: no distribution assumption, robust
    // to spikes, the standard environmental/ops "is this actually
    // trending" test. All-pairs runs over the BOUNDED daily report frame
    // (30 days → 435 pairs per type, never the fact table), S stays an
    // exact BIGINT, and z is derived from integers in identical IEEE
    // order on both engines.
    Q("agg_trend_mk",
      """WITH dtab AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT a.event_type,
        |         CAST(sum(CASE WHEN b.c > a.c THEN 1
        |                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM dtab a JOIN dtab b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1
        |), n AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM dtab GROUP BY 1
        |)
        |SELECT event_type, n_days, s,
        |       round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
        |                    / sqrt(CAST(n_days AS DOUBLE) * (n_days - 1)
        |                           * (2 * n_days + 5) / 18)
        |                  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
        |                    / sqrt(CAST(n_days AS DOUBLE) * (n_days - 1)
        |                           * (2 * n_days + 5) / 18)
        |                  ELSE 0.0 END, 6) AS z
        |FROM p JOIN n USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val dtab = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .persist() // bounded report frame feeds both pair sides + n
      val pairs = dtab.as("a")
        .join(dtab.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(when(col("b.c") > col("a.c"), 1L)
          .when(col("b.c") < col("a.c"), -1L).otherwise(0L)).as("s"))
      val n = dtab.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val sd = sqrt(col("n_days").cast("double") * (col("n_days") - 1)
        * (lit(2) * col("n_days") + 5) / 18)
      pairs.join(n, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("s"),
          round(
            when(col("s") > 0, (col("s").cast("double") - 1) / sd)
              .when(col("s") < 0, (col("s").cast("double") + 1) / sd)
              .otherwise(0.0), 6).as("z"))
        .orderBy("event_type")
    },

    // PSI distribution drift (round 7, cont.): Population Stability
    // Index of the value distribution, first half-month vs second, per
    // event_type — THE deployed-model monitoring metric (PSI > 0.2 =
    // investigate). Complements the mean-level drift family
    // (dq_volume_anomaly z, win_cusum, llm_embedding_drift): PSI sees
    // SHAPE changes the mean never moves. Bins are the agg_histogram
    // $100 buckets; only bins present in BOTH periods enter the sum
    // (ln(p/0) is undefined; the one-sided bin counts are reported
    // alongside so mass appearing/vanishing is still visible). The
    // per-type fold runs over the in-row bin list in pinned bin order
    // (source_mix_kl idiom) with floor-truncation — engine-ordered
    // double sums never decide output. One fact scan; the bin frame is
    // bounded (types × ~100 buckets).
    Q("dq_psi_drift",
      """WITH b AS (
        |  SELECT event_type,
        |         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS period,
        |         CAST(floor(value / 100) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT event_type, bin,
        |         CAST(sum(CASE WHEN period = 0 THEN n ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN period = 1 THEN n ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type,
        |         CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |         CAST(sum(n_cur) AS BIGINT) AS tot_cur,
        |         CAST(sum(CASE WHEN n_ref > 0 AND n_cur > 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS bins_common,
        |         CAST(sum(CASE WHEN n_ref > 0 AND n_cur = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS bins_ref_only,
        |         CAST(sum(CASE WHEN n_ref = 0 AND n_cur > 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS bins_cur_only,
        |         list(struct_pack(bin := bin, n_ref := n_ref, n_cur := n_cur)
        |              ORDER BY bin) AS bins
        |  FROM w GROUP BY event_type
        |)
        |SELECT event_type, tot_ref, tot_cur, bins_common, bins_ref_only,
        |       bins_cur_only,
        |       floor(list_reduce(list_prepend(0.0, list_transform(bins, e ->
        |         CASE WHEN e.n_ref > 0 AND e.n_cur > 0 THEN
        |           (CAST(e.n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE)
        |            - CAST(e.n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE))
        |           * ln((CAST(e.n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE))
        |                / (CAST(e.n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE)))
        |         ELSE 0.0 END)), (a, x) -> a + x) * 1000000) / 1000000 AS psi
        |FROM t ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"),
          when(col("ts") < lit("2024-01-16").cast("timestamp"), 0)
            .otherwise(1).as("period"),
          floor(col("value") / 100).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
      val w = b.groupBy("event_type", "bin")
        .agg(
          sum(when(col("period") === 0, col("n")).otherwise(0L)).as("n_ref"),
          sum(when(col("period") === 1, col("n")).otherwise(0L)).as("n_cur"))
      w.groupBy("event_type")
        .agg(
          sum(col("n_ref")).as("tot_ref"),
          sum(col("n_cur")).as("tot_cur"),
          sum(when(col("n_ref") > 0 && col("n_cur") > 0, 1L).otherwise(0L))
            .as("bins_common"),
          sum(when(col("n_ref") > 0 && col("n_cur") === 0, 1L).otherwise(0L))
            .as("bins_ref_only"),
          sum(when(col("n_ref") === 0 && col("n_cur") > 0, 1L).otherwise(0L))
            .as("bins_cur_only"),
          expr("sort_array(collect_list(struct(bin, n_ref, n_cur)))")
            .as("bins"))
        .select(col("event_type"), col("tot_ref"), col("tot_cur"),
          col("bins_common"), col("bins_ref_only"), col("bins_cur_only"),
          (floor(expr(
            """aggregate(bins, 0d, (a, e) ->
              |  a + (CASE WHEN e.n_ref > 0 AND e.n_cur > 0 THEN
              |    (CAST(e.n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE)
              |     - CAST(e.n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE))
              |    * ln((CAST(e.n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE))
              |         / (CAST(e.n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE)))
              |  ELSE 0d END))""".stripMargin) * 1000000) / lit(1000000))
            .as("psi"))
        .orderBy("event_type")
    },

    // Two-sample Kolmogorov-Smirnov drift test (round 8, cont. 4): per
    // event_type, the EXACT max ECDF gap of the value distribution,
    // first half-month vs second — the nonparametric complement of
    // dq_psi_drift (PSI needs binning and misses tail shifts inside a
    // bin; KS is binning-free and distribution-assumption-free). The
    // statistic is computed in INTEGER cross-multiplication the whole
    // way: D = max |cum_ref·tot_cur − cum_cur·tot_ref| / (tot_ref·tot_cur),
    // so the max is over exact BIGINTs and the one division happens at
    // the end (floor to micro-units) — no engine-ordered float fold ever
    // decides the output. Products stay < 2⁶³ to ~3e9 rows/side; past
    // that the accumulator dial is DECIMAL(38,0).
    //
    // Plan: ONE fact scan → (type, value) groupBy (map-side combinable,
    // bounded: the value domain is 10k ticks) → per-type sorted in-row
    // fold over the bounded bin list (the dq_psi_drift idiom — no
    // window, no second shuffle). The ECDF fold carries
    // (max, cum_ref, cum_cur) as a struct accumulator; the max field is
    // written FIRST and recomputes the new cums from the STALE
    // accumulator because DuckDB's list_reduce mutates struct fields
    // sequentially (later fields see earlier fields' new values) while
    // Spark's aggregate() is functional — field order + explicit sums
    // make both engines execute identical integer ops.
    Q("dq_ks_test",
      """WITH b AS (
        |  SELECT event_type, value,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |         CAST(sum(n_cur) AS BIGINT) AS tot_cur,
        |         list(struct_pack(m := CAST(0 AS BIGINT), c1 := n_ref,
        |                          c2 := n_cur) ORDER BY value) AS bins
        |  FROM b GROUP BY event_type
        |), k AS (
        |  SELECT event_type, tot_ref, tot_cur,
        |         list_reduce(list_prepend(
        |             struct_pack(m := CAST(0 AS BIGINT),
        |                         c1 := CAST(0 AS BIGINT),
        |                         c2 := CAST(0 AS BIGINT)), bins),
        |           (a, x) -> struct_pack(
        |             m := greatest(a.m, abs((a.c1 + x.c1) * tot_cur
        |                                    - (a.c2 + x.c2) * tot_ref)),
        |             c1 := a.c1 + x.c1,
        |             c2 := a.c2 + x.c2)).m AS d_num
        |  FROM g
        |), r AS (
        |  SELECT event_type, tot_ref, tot_cur, d_num,
        |         (d_num * 1000000) // (tot_ref * tot_cur) AS d_micro,
        |         CAST(floor(1.358 * sqrt(
        |           CAST(tot_ref + tot_cur AS DOUBLE)
        |           / CAST(tot_ref * tot_cur AS DOUBLE)) * 1000000)
        |           AS BIGINT) AS crit_micro
        |  FROM k
        |)
        |SELECT event_type, tot_ref, tot_cur, d_num,
        |       CAST(d_micro AS DOUBLE) / 1000000 AS ks_d,
        |       CAST(crit_micro AS DOUBLE) / 1000000 AS ks_crit_95,
        |       d_micro > crit_micro AS drifted
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      val split = lit("2024-01-16").cast("timestamp")
      val b = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), col("value"))
        .agg(
          sum(when(col("ts") < split, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("ts") >= split, 1L).otherwise(0L)).as("n_cur"))
      val k = b.groupBy("event_type")
        .agg(
          sum(col("n_ref")).as("tot_ref"),
          sum(col("n_cur")).as("tot_cur"),
          expr("sort_array(collect_list(struct(value, n_ref, n_cur)))")
            .as("bins"))
        .select(col("event_type"), col("tot_ref"), col("tot_cur"),
          expr(
            """aggregate(bins,
              |  named_struct('m', CAST(0 AS BIGINT),
              |               'c1', CAST(0 AS BIGINT),
              |               'c2', CAST(0 AS BIGINT)),
              |  (a, x) -> named_struct(
              |    'm', greatest(a.m, abs((a.c1 + x.n_ref) * tot_cur
              |                           - (a.c2 + x.n_cur) * tot_ref)),
              |    'c1', a.c1 + x.n_ref,
              |    'c2', a.c2 + x.n_cur)).m""".stripMargin).as("d_num"))
      k.select(col("event_type"), col("tot_ref"), col("tot_cur"),
          col("d_num"),
          expr("(d_num * 1000000) div (tot_ref * tot_cur)").as("d_micro"),
          floor(lit(1.358) * sqrt((col("tot_ref") + col("tot_cur"))
            .cast("double") / (col("tot_ref") * col("tot_cur"))
            .cast("double")) * 1000000).cast("long").as("crit_micro"))
        .select(col("event_type"), col("tot_ref"), col("tot_cur"),
          col("d_num"),
          (col("d_micro").cast("double") / 1000000).as("ks_d"),
          (col("crit_micro").cast("double") / 1000000).as("ks_crit_95"),
          (col("d_micro") > col("crit_micro")).as("drifted"))
        .orderBy("event_type")
    },

    // Wald-Wolfowitz runs test (round 8, cont. 4): per event_type, are
    // the daily up/down moves RANDOM — count maximal runs of same-sign
    // day-over-day changes and compare against the exact two-type runs
    // distribution. The randomness complement of the family: trend_mk
    // asks "is there a monotone trend", autocorr asks "does lag-1
    // predict", the runs test asks the weaker-but-broader "is the
    // up/down sequence exchangeable at all" (clustered volatility fails
    // it without any trend). Zero changes drop (standard); R, n_up,
    // n_down are exact integers from an in-row ARRAY-accumulator fold
    // over the day-ordered sign list ([changes, prev] — functional in
    // both engines); E[R] and Var(R) take the exact integers into
    // identical IEEE order at the end.
    Q("agg_runs_test",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, list(n ORDER BY day) AS l FROM d GROUP BY 1
        |), sg AS (
        |  SELECT event_type,
        |         list_filter(list_transform(range(2, len(l) + 1), i ->
        |           CASE WHEN l[i] > l[i - 1] THEN CAST(1 AS BIGINT)
        |                WHEN l[i] < l[i - 1] THEN CAST(-1 AS BIGINT)
        |                ELSE CAST(0 AS BIGINT) END), x -> x <> 0) AS s
        |  FROM g
        |), r AS (
        |  SELECT event_type,
        |         CAST(len(list_filter(s, x -> x = 1)) AS BIGINT) AS n_up,
        |         CAST(len(list_filter(s, x -> x = -1)) AS BIGINT) AS n_down,
        |         list_reduce(list_prepend([CAST(0 AS BIGINT),
        |                                   CAST(0 AS BIGINT)],
        |             list_transform(s, x -> [x, CAST(0 AS BIGINT)])),
        |           (a, x) -> [CASE WHEN a[2] <> 0 AND x[1] <> a[2]
        |                           THEN a[1] + 1 ELSE a[1] END,
        |                      x[1]])[1] + 1 AS runs
        |  FROM sg WHERE len(s) > 0
        |), f AS (
        |  SELECT event_type, n_up, n_down, runs,
        |         CAST(n_up + n_down AS BIGINT) AS m,
        |         CAST(2 * n_up * n_down AS BIGINT) AS p2
        |  FROM r
        |)
        |SELECT event_type, n_up, n_down, runs,
        |       CASE WHEN n_up = 0 OR n_down = 0 OR m = 1 THEN NULL
        |            ELSE floor((CAST(runs AS DOUBLE)
        |                   - (CAST(1 AS DOUBLE) + CAST(p2 AS DOUBLE)
        |                      / CAST(m AS DOUBLE)))
        |                  / sqrt(CAST(p2 AS DOUBLE)
        |                         * (CAST(p2 AS DOUBLE) - CAST(m AS DOUBLE))
        |                         / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
        |                            * CAST(m - 1 AS DOUBLE)))
        |                  * 1000000) / 1000000 END AS z
        |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, n))), e -> e.n)")
          .as("l"))
        .select(col("event_type"),
          expr(
            """filter(transform(sequence(2, size(l)), i ->
              |  CASE WHEN element_at(l, i) > element_at(l, i - 1)
              |       THEN CAST(1 AS BIGINT)
              |       WHEN element_at(l, i) < element_at(l, i - 1)
              |       THEN CAST(-1 AS BIGINT)
              |       ELSE CAST(0 AS BIGINT) END), x -> x != 0)"""
              .stripMargin).as("sgn"))
        .where(size(col("sgn")) > 0)
        .select(col("event_type"),
          expr("CAST(size(filter(sgn, x -> x = 1)) AS BIGINT)").as("n_up"),
          expr("CAST(size(filter(sgn, x -> x = -1)) AS BIGINT)").as("n_down"),
          (expr(
            """element_at(aggregate(transform(sgn, x ->
              |    array(x, CAST(0 AS BIGINT))),
              |  array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
              |  (a, x) -> array(
              |    CASE WHEN element_at(a, 2) != 0
              |              AND element_at(x, 1) != element_at(a, 2)
              |         THEN element_at(a, 1) + 1
              |         ELSE element_at(a, 1) END,
              |    element_at(x, 1))), 1)""".stripMargin) + 1).as("runs"))
        .select(col("event_type"), col("n_up"), col("n_down"), col("runs"),
          (col("n_up") + col("n_down")).as("m"),
          (lit(2) * col("n_up") * col("n_down")).as("p2"))
        .select(col("event_type"), col("n_up"), col("n_down"), col("runs"),
          when(col("n_up") === 0 || col("n_down") === 0 || col("m") === 1,
            lit(null))
            .otherwise(floor((col("runs").cast("double")
              - (lit(1.0) + col("p2").cast("double") / col("m").cast("double")))
              / sqrt(col("p2").cast("double")
                * (col("p2").cast("double") - col("m").cast("double"))
                / (col("m").cast("double") * col("m").cast("double")
                  * (col("m") - 1).cast("double"))) * 1000000) / 1000000)
            .as("z"))
        .orderBy("event_type")
    },

    // Friedman test (round 8, cont. 4): per event_type, do the month's
    // four full WEEKS differ once the weekday effect is blocked out —
    // the k-related-samples member that completes the nonparametric
    // family (MW = 2 unpaired, Wilcoxon = 2 paired, Friedman = k
    // repeated measures over blocks). Blocks = the 7 weekday slots,
    // treatments = weeks 1–4 (days 1–28), observation = the (week,
    // weekday) daily count; only complete blocks (all 4 weeks present)
    // enter, n is data-driven. Within-block midranks carried as 2×rank
    // (integers, the family trick — with k=4 the within-block rank work
    // is 16 compares in-row); χ²_F = 3·ΣR'²/(n·k·(k+1)) − 3·n·(k+1)
    // with R' = 2×rank column sums, so ΣR'² is an exact BIGINT and the
    // statistic is two double ops at the end (tie correction omitted —
    // documented, identical on both engines either way).
    Q("agg_friedman",
      """WITH c AS (
        |  SELECT event_type, isodow(ts) AS wd,
        |         1 + (day(ts) - 1) // 7 AS wk,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE day(ts) <= 28 GROUP BY 1, 2, 3
        |), b AS (
        |  SELECT event_type, wd,
        |         list(struct_pack(wk := wk, n := n) ORDER BY wk) AS l
        |  FROM c GROUP BY 1, 2 HAVING count(*) = 4
        |), r AS (
        |  SELECT event_type, wd, u.wk, u.r2
        |  FROM b, unnest(list_transform(l, e -> struct_pack(
        |    wk := e.wk,
        |    r2 := CAST(2 * len(list_filter(l, z -> z.n < e.n))
        |               + len(list_filter(l, z -> z.n = e.n)) + 1
        |               AS BIGINT)))) AS t(u)
        |), s AS (
        |  SELECT event_type, wk, CAST(sum(r2) AS BIGINT) AS rj
        |  FROM r GROUP BY 1, 2
        |), f AS (
        |  SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS k,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list(rj * rj ORDER BY wk)), (a, x) -> a + x) AS sr2
        |  FROM s GROUP BY event_type
        |), nb AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks
        |  FROM b GROUP BY event_type
        |)
        |SELECT event_type, n_blocks, k,
        |       floor((CAST(3 AS DOUBLE) * sr2 / (n_blocks * k * (k + 1))
        |              - CAST(3 AS DOUBLE) * n_blocks * (k + 1)) * 1000000)
        |         / 1000000 AS chi2_f
        |FROM f JOIN nb USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = t(s, d, "events")
        .where(dayofmonth(col("ts")) <= 28)
        .groupBy(col("event_type"), (weekday(col("ts")) + 1).as("wd"),
          (lit(1) + (dayofmonth(col("ts")) - 1).cast("long") / 7)
            .cast("long").as("wk"))
        .agg(count(lit(1)).as("n"))
      val b = c.groupBy("event_type", "wd")
        .agg(expr("sort_array(collect_list(struct(wk, n)))").as("l"))
        .where(size(col("l")) === 4)
        .persist() // bounded (type × 7) frame feeds ranks AND n_blocks
      val r = b.select(col("event_type"), col("wd"),
          explode(expr(
            """transform(l, e -> struct(e.wk AS wk,
              |  CAST(2 * size(filter(l, z -> z.n < e.n))
              |       + size(filter(l, z -> z.n = e.n)) + 1 AS BIGINT)
              |  AS r2))""".stripMargin)).as("u"))
        .select(col("event_type"), col("u.wk").as("wk"),
          col("u.r2").as("r2"))
      val sj = r.groupBy("event_type", "wk").agg(sum(col("r2")).as("rj"))
      val f = sj.groupBy("event_type")
        .agg(count(lit(1)).as("k"),
          expr("""aggregate(transform(sort_array(collect_list(struct(wk, rj))),
                 |  e -> e.rj * e.rj), CAST(0 AS BIGINT),
                 |  (a, x) -> a + x)""".stripMargin).as("sr2"))
      val nb = b.groupBy("event_type").agg(count(lit(1)).as("n_blocks"))
      f.join(nb, Seq("event_type"))
        .select(col("event_type"), col("n_blocks"), col("k"),
          (floor((lit(3.0) * col("sr2")
            / (col("n_blocks") * col("k") * (col("k") + 1))
            - lit(3.0) * col("n_blocks") * (col("k") + 1)) * 1000000)
            / 1000000).as("chi2_f"))
        .orderBy("event_type")
    },

    // Wilcoxon signed-rank test (round 8, cont. 4): per event_type, pair
    // each of the month's first 15 days with its +16-day partner and ask
    // whether the PAIRED differences shift — the paired complement of
    // agg_mann_whitney (unpaired): pairing by calendar slot removes the
    // day-of-month trend variance the rank-sum test has to average over.
    // Exact integers throughout (the family doctrine): zero differences
    // drop (standard), |d| midranks as 2×rank via in-row filters over
    // the ≤15-element list (the spearman idiom), 2W⁺ = Σ 2r over
    // positive d, tie term Σ(t³−t) = Σ_elements(c²−1) exactly; the
    // normal z takes exact longs into identical IEEE order at the end.
    Q("agg_wilcoxon_signed",
      """WITH d AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS dom,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT a.event_type, a.dom,
        |         b.n - a.n AS diff
        |  FROM d a JOIN d b
        |    ON a.event_type = b.event_type AND b.dom = a.dom + 16
        |  WHERE a.dom <= 15 AND a.n <> b.n
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(ad := abs(diff), pos := diff > 0)
        |              ORDER BY abs(diff), diff, dom) AS l
        |  FROM p GROUP BY event_type
        |), r AS (
        |  SELECT event_type, CAST(len(l) AS BIGINT) AS n_nz,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e -> CASE WHEN e.pos
        |               THEN CAST(2 * len(list_filter(l, z -> z.ad < e.ad))
        |                         + len(list_filter(l, z -> z.ad = e.ad)) + 1
        |                         AS BIGINT)
        |               ELSE CAST(0 AS BIGINT) END)),
        |           (a, x) -> a + x) AS two_w_plus,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e ->
        |               CAST(len(list_filter(l, z -> z.ad = e.ad))
        |                    * len(list_filter(l, z -> z.ad = e.ad)) - 1
        |                    AS BIGINT))),
        |           (a, x) -> a + x) AS tie_t
        |  FROM g
        |)
        |SELECT event_type, n_nz, two_w_plus,
        |       floor(CAST(two_w_plus - n_nz * (n_nz + 1) // 2 AS DOUBLE)
        |             / (2 * sqrt(CAST(n_nz AS DOUBLE)
        |                 * CAST(n_nz + 1 AS DOUBLE)
        |                 * CAST(2 * n_nz + 1 AS DOUBLE) / 24
        |                 - CAST(tie_t AS DOUBLE) / 48)) * 1000000)
        |         / 1000000 AS z
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("dom"))
        .agg(count(lit(1)).as("n"))
        .persist() // bounded (type × 31) frame feeds both pair sides
      val pairs = daily.as("a")
        .join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.dom") === col("a.dom") + 16)
        .where(col("a.dom") <= 15 && col("a.n") =!= col("b.n"))
        .select(col("a.event_type").as("event_type"), col("a.dom").as("dom"),
          (col("b.n") - col("a.n")).as("diff"))
      pairs.groupBy("event_type")
        .agg(expr(
          """sort_array(collect_list(
            |  struct(abs(diff) AS ad, diff AS df, dom)))""".stripMargin)
          .as("l0"))
        .select(col("event_type"),
          expr("transform(l0, e -> struct(e.ad AS ad, e.df > 0 AS pos))")
            .as("l"))
        .select(col("event_type"), size(col("l")).cast("long").as("n_nz"),
          expr(
            """aggregate(transform(l, e -> CASE WHEN e.pos
              |    THEN CAST(2 * size(filter(l, z -> z.ad < e.ad))
              |              + size(filter(l, z -> z.ad = e.ad)) + 1
              |              AS BIGINT)
              |    ELSE CAST(0 AS BIGINT) END),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("two_w_plus"),
          expr(
            """aggregate(transform(l, e ->
              |    CAST(size(filter(l, z -> z.ad = e.ad))
              |         * size(filter(l, z -> z.ad = e.ad)) - 1 AS BIGINT)),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("tie_t"))
        .select(col("event_type"), col("n_nz"), col("two_w_plus"),
          (floor((col("two_w_plus")
            - expr("(n_nz * (n_nz + 1)) div 2")).cast("double")
            / (lit(2) * sqrt(col("n_nz").cast("double")
              * (col("n_nz") + 1).cast("double")
              * (lit(2) * col("n_nz") + 1).cast("double") / 24
              - col("tie_t").cast("double") / 48)) * 1000000) / 1000000)
            .as("z"))
        .orderBy("event_type")
    },

    // Candidate-key audit (round 8, cont. 4): exact uniqueness ratio of
    // nested lineitem column prefixes — the data-contract check that
    // answers "can I use this tuple as a key / sort tie-break". Born of
    // a real incident: this harness's (l_orderkey, l_linenumber) is NOT
    // unique (FIXTURES.md trap note) and win_rank_global_fenced's
    // row_number tie-break silently depended on it until the sf0.1 hash
    // caught it — this key turns that one-off discovery into a standing
    // audit. Plan: ONE scan, five exact count-distincts in one aggregate
    // (Expand-based — at 100 TB swap any individual combo to
    // approx_count_distinct or the HLL sketch family when exactness
    // isn't contractual); the report unpivots map-side.
    Q("dq_candidate_keys",
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d1,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |           AS d2,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber, l_partkey))
        |              AS BIGINT) AS d3,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber, l_partkey,
        |                              l_suppkey)) AS BIGINT) AS d4,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber, l_partkey,
        |                              l_suppkey, l_shipdate)) AS BIGINT) AS d5
        |  FROM lineitem
        |), u AS (
        |  SELECT n, unnest(['1_orderkey', '2_+linenumber', '3_+partkey',
        |                    '4_+suppkey', '5_+shipdate']) AS combo,
        |         unnest([d1, d2, d3, d4, d5]) AS n_distinct
        |  FROM a
        |)
        |SELECT combo, n AS n_rows, n_distinct,
        |       floor(CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE)
        |             * 1000000) / 1000000 AS uniqueness,
        |       n_distinct = n AS is_key
        |FROM u ORDER BY combo""".stripMargin) { (s, d) =>
      val a = t(s, d, "lineitem")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("d1"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).as("d2"),
          countDistinct(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey")).as("d3"),
          countDistinct(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")).as("d4"),
          countDistinct(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_shipdate")).as("d5"))
      a.select(col("n"), explode(array(
          struct(lit("1_orderkey").as("combo"), col("d1").as("n_distinct")),
          struct(lit("2_+linenumber").as("combo"), col("d2").as("n_distinct")),
          struct(lit("3_+partkey").as("combo"), col("d3").as("n_distinct")),
          struct(lit("4_+suppkey").as("combo"), col("d4").as("n_distinct")),
          struct(lit("5_+shipdate").as("combo"), col("d5").as("n_distinct"))))
          .as("e"))
        .select(col("e.combo").as("combo"), col("n").as("n_rows"),
          col("e.n_distinct").as("n_distinct"),
          (floor(col("e.n_distinct").cast("double") / col("n").cast("double")
            * 1000000) / 1000000).as("uniqueness"),
          (col("e.n_distinct") === col("n")).as("is_key"))
        .orderBy("combo")
    },

    // Theil-Sen robust trend slope (round 8, cont. 4): per event_type,
    // the MEDIAN of all pairwise day-over-day slopes of the daily count
    // series — the robust-regression complement of agg_regression (one
    // outlier day drags OLS; the pairwise median shrugs) and the
    // magnitude partner of agg_trend_mk (MK says IF there's a monotone
    // trend, Theil-Sen says HOW STEEP). All 435 pairs enumerate in-row
    // over the bounded 30-day list (O(days²) — report frame, never the
    // fact); slopes are single double divisions of exact integer deltas
    // (identical IEEE both engines), the median is a quantile_disc-style
    // element pick from the sorted slope list (value-based double sort —
    // no engine order anywhere), micro-floored for display.
    Q("agg_theil_sen",
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(d := d, n := n) ORDER BY d) AS l
        |  FROM d GROUP BY event_type
        |), s AS (
        |  SELECT event_type, CAST(len(l) AS BIGINT) AS n_days,
        |         flatten(list_transform(l, (a, i) ->
        |           list_transform(l[i + 1 :], b ->
        |             (CAST(b.n AS DOUBLE) - CAST(a.n AS DOUBLE))
        |               / (CAST(b.d AS DOUBLE) - CAST(a.d AS DOUBLE)))))
        |           AS slopes
        |  FROM g
        |)
        |SELECT event_type, n_days,
        |       CAST(len(slopes) AS BIGINT) AS n_pairs,
        |       floor(list_sort(slopes)[CAST((len(slopes) + 1) // 2 AS BIGINT)]
        |             * 1000000) / 1000000 AS slope_per_day
        |FROM s ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_date(CAST(ts AS DATE))").cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(d, n)))").as("l"))
        .select(col("event_type"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """flatten(transform(l, (a, i) ->
              |  transform(slice(l, i + 2, size(l)), b ->
              |    (CAST(b.n AS DOUBLE) - CAST(a.n AS DOUBLE))
              |      / (CAST(b.d AS DOUBLE) - CAST(a.d AS DOUBLE)))))"""
              .stripMargin).as("slopes"))
        .select(col("event_type"), col("n_days"),
          size(col("slopes")).cast("long").as("n_pairs"),
          (floor(expr(
            "element_at(array_sort(slopes), CAST((size(slopes) + 1) div 2 AS INT))")
            * 1000000) / 1000000).as("slope_per_day"))
        .orderBy("event_type")
    },

    // Spearman rank correlation (round 8, cont. 4): per event_type, do
    // days with more EVENTS also take more REVENUE — rank correlation
    // over the daily series, the outlier-robust complement of
    // agg_corr_matrix's raw-value Pearson (one whale purchase wrecks
    // Pearson; ranks shrug). Midranks for ties carried as 2×rank
    // (integers, the agg_mann_whitney trick): 2r = 2·|smaller| +
    // |equal| + 1 via in-row filters over the 30-element list (O(days²)
    // compares, bounded by the REPORT frame, never the fact — which also
    // makes every moment sum integer-exact at ANY corpus scale, unlike
    // raw-value moments whose squares outgrow BIGINT). Pearson over the
    // 2×ranks (scale cancels) with one double division+sqrt at the end.
    Q("agg_spearman_daily",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS rev
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(n := n, rev := rev) ORDER BY day) AS l
        |  FROM d GROUP BY event_type
        |), rk AS (
        |  SELECT event_type, CAST(len(l) AS BIGINT) AS n_days,
        |         list_transform(l, e -> struct_pack(
        |           x := CAST(2 * len(list_filter(l, z -> z.n < e.n))
        |                     + len(list_filter(l, z -> z.n = e.n)) + 1
        |                     AS BIGINT),
        |           y := CAST(2 * len(list_filter(l, z -> z.rev < e.rev))
        |                     + len(list_filter(l, z -> z.rev = e.rev)) + 1
        |                     AS BIGINT))) AS r
        |  FROM g
        |), acc AS (
        |  SELECT event_type, n_days,
        |         list_reduce(list_prepend(
        |             [CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |              CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |              CAST(0 AS BIGINT)],
        |             list_transform(r, e ->
        |               [e.x * e.y, e.x, e.y, e.x * e.x, e.y * e.y])),
        |           (a, x) -> [a[1] + x[1], a[2] + x[2], a[3] + x[3],
        |                      a[4] + x[4], a[5] + x[5]]) AS s
        |  FROM rk
        |)
        |SELECT event_type, n_days,
        |       floor(CAST(n_days * s[1] - s[2] * s[3] AS DOUBLE)
        |             / sqrt(CAST(n_days * s[4] - s[2] * s[2] AS DOUBLE)
        |                    * CAST(n_days * s[5] - s[3] * s[3] AS DOUBLE))
        |             * 1000000) / 1000000 AS spearman_rho
        |FROM acc ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("rev"))
      daily.groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(day, n, rev)))").as("l0"))
        .select(col("event_type"),
          expr("transform(l0, e -> struct(e.n, e.rev))").as("l"))
        .select(col("event_type"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """transform(l, e -> named_struct(
              |  'x', CAST(2 * size(filter(l, z -> z.n < e.n))
              |            + size(filter(l, z -> z.n = e.n)) + 1 AS BIGINT),
              |  'y', CAST(2 * size(filter(l, z -> z.rev < e.rev))
              |            + size(filter(l, z -> z.rev = e.rev)) + 1
              |            AS BIGINT)))""".stripMargin).as("r"))
        .select(col("event_type"), col("n_days"),
          expr(
            """aggregate(r,
              |  array(CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              |        CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              |        CAST(0 AS BIGINT)),
              |  (a, e) -> array(
              |    element_at(a, 1) + e.x * e.y,
              |    element_at(a, 2) + e.x,
              |    element_at(a, 3) + e.y,
              |    element_at(a, 4) + e.x * e.x,
              |    element_at(a, 5) + e.y * e.y))""".stripMargin).as("s"))
        .select(col("event_type"), col("n_days"),
          (floor((col("n_days") * expr("element_at(s, 1)")
            - expr("element_at(s, 2)") * expr("element_at(s, 3)"))
            .cast("double")
            / sqrt((col("n_days") * expr("element_at(s, 4)")
              - expr("element_at(s, 2)") * expr("element_at(s, 2)"))
              .cast("double")
              * (col("n_days") * expr("element_at(s, 5)")
                - expr("element_at(s, 3)") * expr("element_at(s, 3)"))
                .cast("double")) * 1000000) / 1000000).as("spearman_rho"))
        .orderBy("event_type")
    },

    // Mann-Whitney U rank-sum test (round 8, cont. 4): per event_type,
    // did the value distribution SHIFT between the two half-months —
    // the location-sensitive nonparametric complement of dq_ks_test (KS
    // reacts to any ECDF gap; MW asks specifically "does one period
    // stochastically dominate"). Exact INTEGER arithmetic throughout:
    // midranks with ties are half-integers, so the fold carries 2×(rank
    // sum) — per tick, 2·ΣmidrankCur += c_cur·(2·cum_before + t + 1)
    // with t = c_ref + c_cur — and the tie correction Σ(t³−t) is an
    // exact BIGINT (overflow dial past ~1e6 rows/tick: DECIMAL(38,0)).
    // The normal z (no continuity correction, documented) and the
    // common-language effect size U/(n1·n2) take integers into identical
    // IEEE op order at the very end. Plan: same as dq_ks_test — one fact
    // scan, bounded (type, tick) groupBy, in-row sorted fold with an
    // ARRAY accumulator [cum, 2R_cur, T].
    Q("agg_mann_whitney",
      """WITH b AS (
        |  SELECT event_type, value,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         list([c1, c2] ORDER BY value) AS bins
        |  FROM b GROUP BY event_type
        |), f AS (
        |  SELECT event_type, n1, n2,
        |         list_reduce(list_prepend(
        |             [CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |              CAST(0 AS BIGINT)], bins),
        |           (a, x) -> [
        |             a[1] + x[1] + x[2],
        |             a[2] + x[2] * (2 * a[1] + x[1] + x[2] + 1),
        |             a[3] + (x[1] + x[2]) * (x[1] + x[2]) * (x[1] + x[2])
        |                  - (x[1] + x[2])]) AS acc
        |  FROM g
        |), r AS (
        |  SELECT event_type, n1, n2,
        |         acc[2] - n2 * (n2 + 1) AS two_u, acc[3] AS tie_t,
        |         n1 + n2 AS n
        |  FROM f
        |)
        |SELECT event_type, n1 AS n_ref, n2 AS n_cur, two_u,
        |       floor(CAST(two_u - n1 * n2 AS DOUBLE)
        |             / (2 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                 * (CAST(n + 1 AS DOUBLE)
        |                    - CAST(tie_t AS DOUBLE)
        |                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |                 / 12)) * 1000000) / 1000000 AS z,
        |       floor(CAST(two_u AS DOUBLE)
        |             / (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |             * 1000000) / 1000000 AS cles
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      val split = lit("2024-01-16").cast("timestamp")
      val b = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), col("value"))
        .agg(
          sum(when(col("ts") < split, 1L).otherwise(0L)).as("c1"),
          sum(when(col("ts") >= split, 1L).otherwise(0L)).as("c2"))
      val g = b.groupBy("event_type")
        .agg(sum("c1").as("n1"), sum("c2").as("n2"),
          expr("sort_array(collect_list(struct(value, c1, c2)))").as("bins"))
        .select(col("event_type"), col("n1"), col("n2"),
          expr(
            """aggregate(bins,
              |  array(CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              |        CAST(0 AS BIGINT)),
              |  (a, x) -> array(
              |    element_at(a, 1) + x.c1 + x.c2,
              |    element_at(a, 2)
              |      + x.c2 * (2 * element_at(a, 1) + x.c1 + x.c2 + 1),
              |    element_at(a, 3)
              |      + (x.c1 + x.c2) * (x.c1 + x.c2) * (x.c1 + x.c2)
              |      - (x.c1 + x.c2)))""".stripMargin).as("acc"))
      g.select(col("event_type"), col("n1"), col("n2"),
          (expr("element_at(acc, 2)") - col("n2") * (col("n2") + 1))
            .as("two_u"),
          expr("element_at(acc, 3)").as("tie_t"),
          (col("n1") + col("n2")).as("n"))
        .select(col("event_type"),
          col("n1").as("n_ref"), col("n2").as("n_cur"), col("two_u"),
          (floor((col("two_u") - col("n1") * col("n2")).cast("double")
            / (lit(2) * sqrt(col("n1").cast("double")
              * col("n2").cast("double")
              * ((col("n") + 1).cast("double")
                - col("tie_t").cast("double")
                  / (col("n").cast("double") * (col("n") - 1).cast("double")))
              / 12)) * 1000000) / 1000000).as("z"),
          (floor(col("two_u").cast("double")
            / (lit(2) * col("n1").cast("double") * col("n2").cast("double"))
            * 1000000) / 1000000).as("cles"))
        .orderBy("event_type")
    },

    // Cramér's V (round 8, cont. 4): association strength between two
    // CATEGORICALS — event_type × weekday — via the χ² of independence,
    // normalized to [0,1]. The categorical complement of agg_corr_matrix
    // (numeric Pearson) and the KS/PSI drift family (distribution vs
    // time): "does traffic MIX depend on weekday" is a mix-design
    // question a sampling recipe (llm_sample_mix) needs answered before
    // weighting by day. All count cross-products are exact BIGINTs
    // (o·n − rt·ct, with n·rt·ct ≤ ~2e17 at sf0.1 — the dial past ~1e6
    // rows/cell-margin is DECIMAL(38,0)); per-cell χ² contributions are
    // deterministic double ops folded in pinned (type, dow) order; one
    // division + one sqrt at the end. Plan: ONE fact scan → bounded
    // (type × 7) cell frame persisted; margins/totals derive from the
    // 35-row cache, never a second fact pass; broadcast margin joins.
    Q("dq_cramers_v",
      """WITH cells AS (
        |  SELECT event_type, isodow(ts) AS dow,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (
        |  SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1
        |), ct AS (
        |  SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        |), nr AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |         CAST(count(DISTINCT dow) AS BIGINT) AS c
        |  FROM cells
        |), j AS (
        |  SELECT cells.event_type, cells.dow,
        |         o * n - rt * ct AS num, n * rt * ct AS den, n, r, c
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
        |       CROSS JOIN nr
        |), g AS (
        |  SELECT max(n) AS n, max(r) AS r, max(c) AS c,
        |         list(struct_pack(event_type := event_type, dow := dow,
        |                          num := num, den := den)
        |              ORDER BY event_type, dow) AS cl
        |  FROM j
        |), k AS (
        |  SELECT n, r, c,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(cl, x ->
        |               (CAST(x.num AS DOUBLE) * CAST(x.num AS DOUBLE))
        |                 / CAST(x.den AS DOUBLE))),
        |           (a, x) -> a + x) AS chi2
        |  FROM g
        |)
        |SELECT n, r, c,
        |       floor(chi2 * 1000000) / 1000000 AS chi2,
        |       floor(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE))
        |             * 1000000) / 1000000 AS cramers_v
        |FROM k""".stripMargin) { (s, d) =>
      val cells = t(s, d, "events")
        .select(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("o"))
        .persist() // 35-row frame feeds margins, totals, and the cells
      val rt = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val ctf = cells.groupBy("dow").agg(sum("o").as("ct"))
      val nr = cells.agg(sum("o").as("n"),
        countDistinct("event_type").as("r"), countDistinct("dow").as("c"))
      cells
        .join(broadcast(rt), Seq("event_type"))
        .join(broadcast(ctf), Seq("dow"))
        .crossJoin(broadcast(nr))
        .select(col("event_type"), col("dow"),
          (col("o") * col("n") - col("rt") * col("ct")).as("num"),
          (col("n") * col("rt") * col("ct")).as("den"),
          col("n"), col("r"), col("c"))
        .groupBy()
        .agg(max("n").as("n"), max("r").as("r"), max("c").as("c"),
          expr("sort_array(collect_list(struct(event_type, dow, num, den)))")
            .as("cl"))
        .select(col("n"), col("r"), col("c"),
          expr(
            """aggregate(cl, CAST(0 AS DOUBLE), (a, x) ->
              |  a + (CAST(x.num AS DOUBLE) * CAST(x.num AS DOUBLE))
              |        / CAST(x.den AS DOUBLE))""".stripMargin).as("chi2"))
        .select(col("n"), col("r"), col("c"),
          (floor(col("chi2") * 1000000) / 1000000).as("chi2"),
          (floor(sqrt(col("chi2")
            / (col("n") * least(col("r") - 1, col("c") - 1)).cast("double"))
            * 1000000) / 1000000).as("cramers_v"))
    },

    // OHLC candlestick rollup (round 7, cont.): per (event_type, day)
    // open/high/low/close/volume over the value stream — the time-series
    // report finance and metrics dashboards both run. open/close are
    // rank-1 picks under the unique (ts, event_id) order (SELECTIONS,
    // not accumulations — no float-fold order risk); both directions ride
    // ONE exchange on the group key (two Window sorts, same partitioning)
    // and the rank filters fuse into the following hash agg. At 100 TB
    // this is the standard pre-aggregation that turns a raw tick stream
    // into a bounded (type × day) frame.
    Q("agg_ohlc",
      """WITH v AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         value,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
        |                            ORDER BY ts, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, day,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(count(*) AS BIGINT) AS volume
        |FROM v GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val base = t(s, d, "events")
        .where(col("value").isNotNull)
        .withColumn("day", date_trunc("day", col("ts")))
      val wa = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wd = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      base
        .withColumn("rn_a", row_number().over(wa))
        .withColumn("rn_d", row_number().over(wd))
        .groupBy("event_type", "day")
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("volume"))
        .orderBy("event_type", "day")
    },

    // Cross-table money reconciliation (round 7, cont.): does each
    // order's header total equal the sum of its line charges
    // (extendedprice·(1-disc)·(1+tax))? The classic ledger-vs-detail
    // audit — and a REAL finding on this fixture (the dq_uniqueness
    // precedent): NO order reconciles within 1% and 257 orders at sf0.01
    // have no lineitems at all, so the report is the banded error
    // profile. Per-order charge sums fold in exact DECIMAL(18,6) (the
    // tpch_q1 triple-product discipline — an engine-ordered double fold
    // could flip band edges); the relative error and its band cut are
    // then identical IEEE ops on both engines. At 100 TB: one shuffle
    // each side on the join key (both fact-sized — no broadcast bait),
    // partial agg collapses lineitem first, the band report is bounded.
    Q("dq_reconciliation",
      """WITH li AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM lineitem GROUP BY l_orderkey
        |), j AS (
        |  SELECT o_orderkey, o_totalprice, s,
        |         abs(o_totalprice - s) / o_totalprice AS rel
        |  FROM orders LEFT JOIN li ON l_orderkey = o_orderkey
        |)
        |SELECT CASE WHEN s IS NULL THEN 'no_lineitems'
        |            WHEN rel < 0.01 THEN 'reconciled_1pct'
        |            WHEN rel < 0.1 THEN 'off_10pct'
        |            WHEN rel < 1.0 THEN 'off_100pct'
        |            ELSE 'off_more' END AS band,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(min(rel), 6) AS min_rel,
        |       round(max(rel), 6) AS max_rel
        |FROM j GROUP BY 1 ORDER BY band""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).cast("decimal(18,6)"))
          .cast("double").as("s"))
      val j = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .join(li, col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("rel",
          abs(col("o_totalprice") - col("s")) / col("o_totalprice"))
      j.withColumn("band",
          when(col("s").isNull, "no_lineitems")
            .when(col("rel") < 0.01, "reconciled_1pct")
            .when(col("rel") < 0.1, "off_10pct")
            .when(col("rel") < 1.0, "off_100pct")
            .otherwise("off_more"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("rel")), 6).as("min_rel"),
          round(max(col("rel")), 6).as("max_rel"))
        .orderBy("band")
    },

    // KMV/theta-sketch audience overlap (round 7, cont.): per event-type
    // PAIR, estimated distinct users in each side, in the intersection,
    // and in the union — the set-algebra readout HLL structurally cannot
    // provide (HLL unions losslessly but |A∩B| via inclusion-exclusion
    // inherits the union's absolute error). The sketch retains the k=256
    // smallest PortableHash values per type (a uniform sample of the
    // distinct-user domain below θ), so intersect/union estimates are
    // c/θ* and (k-1)/θ_union. The declared plan is SKETCH-ONLY (round 8):
    // only the 2 KB sketches cross the network — the fact table is
    // scanned ONCE, map-side partial-aggregated, and the pair join runs
    // over the BOUNDED type-domain frame. The exact-intersection
    // estimator-quality audit (previously inline, the one subplan a user
    // must not copy at 100 TB) lives in ApproxSpec. Every derived number
    // (θ, estimates, strict-< retention cut) is replayed by the oracle
    // from md5 with identical IEEE ops, so the sketch itself is
    // hash-verified — exact regime at sf≤0.01 (n<k), estimator regime at
    // sf0.1 (n=1500≥k): both paths oracle-covered.
    Q("agg_theta_overlap",
      s"""WITH u AS (
         |  SELECT DISTINCT event_type,
         |         ${PortableHash.sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM u
         |), sk AS (
         |  SELECT event_type, h, rn, n FROM r WHERE rn <= 256
         |), th AS (
         |  SELECT event_type, max(n) AS n_exact,
         |         CASE WHEN max(n) >= 256
         |              THEN CAST(max(CASE WHEN rn = 256 THEN h END) AS DOUBLE)
         |                   / 1152921504606846976.0
         |              ELSE 1.0 END AS theta
         |  FROM sk GROUP BY event_type
         |), co AS (
         |  SELECT x.event_type AS t1, y.event_type AS t2,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM sk x JOIN sk y ON x.h = y.h AND x.event_type < y.event_type
         |  JOIN th ta ON ta.event_type = x.event_type
         |  JOIN th tb ON tb.event_type = y.event_type
         |  WHERE CAST(x.h AS DOUBLE) / 1152921504606846976.0
         |        < least(ta.theta, tb.theta)
         |  GROUP BY 1, 2
         |), pu AS (
         |  SELECT a.event_type AS t1, b.event_type AS t2, u.h
         |  FROM th a JOIN th b ON a.event_type < b.event_type
         |  JOIN u ON u.event_type IN (a.event_type, b.event_type)
         |  GROUP BY 1, 2, u.h
         |), ur AS (
         |  SELECT t1, t2, h,
         |         row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn,
         |         CAST(count(*) OVER (PARTITION BY t1, t2) AS BIGINT) AS nu
         |  FROM pu
         |), ut AS (
         |  SELECT t1, t2, max(nu) AS nu,
         |         CASE WHEN max(nu) >= 256
         |              THEN CAST(max(CASE WHEN rn = 256 THEN h END) AS DOUBLE)
         |                   / 1152921504606846976.0
         |              ELSE 1.0 END AS theta_u
         |  FROM ur WHERE rn <= 256 GROUP BY t1, t2
         |)
         |SELECT a.event_type AS t1, b.event_type AS t2,
         |       a.n_exact AS n1,
         |       round(CASE WHEN a.n_exact >= 256 THEN 255.0 / a.theta
         |                  ELSE CAST(a.n_exact AS DOUBLE) END, 4) AS est1,
         |       b.n_exact AS n2,
         |       round(CASE WHEN b.n_exact >= 256 THEN 255.0 / b.theta
         |                  ELSE CAST(b.n_exact AS DOUBLE) END, 4) AS est2,
         |       round(COALESCE(co.c, 0) / least(a.theta, b.theta), 4)
         |         AS inter_est,
         |       round(CASE WHEN ut.nu >= 256 THEN 255.0 / ut.theta_u
         |                  ELSE CAST(ut.nu AS DOUBLE) END, 4) AS union_est
         |FROM th a JOIN th b ON a.event_type < b.event_type
         |LEFT JOIN co ON co.t1 = a.event_type AND co.t2 = b.event_type
         |JOIN ut ON ut.t1 = a.event_type AND ut.t2 = b.event_type
         |ORDER BY t1, t2""".stripMargin) { (s, d) =>
      // r8: the declared plan is SKETCH-ONLY — the u×u exact-intersection
      // self-join that used to ride alongside (the one plan-shape a user
      // must NOT copy at 100 TB) moved to ApproxSpec's estimator audit.
      // What remains is exactly the scale shape: one distinct, one
      // ObjectHashAggregate folding 2 KB sketches, a bounded type-pair
      // join, in-row set algebra.
      val u = t(s, d, "events")
        .select(col("event_type"),
          PortableHash.pHash(col("user_id").cast("string")).as("h"))
        .distinct()
      val sk = u.groupBy("event_type").agg(
        kmvSketch(col("h"), 256, 60).as("sk"),
        count(lit(1)).as("n_exact")) // u is distinct → exact distinct count
      val a = sk.select(col("event_type").as("t1"),
        col("sk").as("ska"), col("n_exact").as("n1"))
      val b = sk.select(col("event_type").as("t2"),
        col("sk").as("skb"), col("n_exact").as("n2"))
      a.join(b, col("t1") < col("t2"))
        .select(
          col("t1"), col("t2"), col("n1"),
          round(kmvEstimate(col("ska")), 4).as("est1"),
          col("n2"),
          round(kmvEstimate(col("skb")), 4).as("est2"),
          round(kmvIntersectEst(col("ska"), col("skb")), 4).as("inter_est"),
          round(kmvEstimate(kmvUnionPair(col("ska"), col("skb"))), 4)
            .as("union_est"))
        .orderBy("t1", "t2")
    },

    // Kruskal-Wallis H test (round 8, cont. 5): per event_type, do the
    // month's four full weeks (days 1-28) differ in daily volume — the
    // k-sample UNPAIRED member that completes the nonparametric family
    // (MW = 2 unpaired, Wilcoxon = 2 paired, Friedman = k blocked,
    // KW = k unpaired: Friedman without the weekday blocking, so the two
    // disagree exactly when the block effect carries the variance).
    // Family doctrine: pooled midranks carried as 2×rank integers via
    // in-row filters over the ≤28-element daily list (O(days²) compares
    // on the bounded report frame); with R' = 2×rank group sums,
    // H = 3·Σ_j R'_j²/n_j / (N(N+1)) − 3(N+1) and the tie correction
    // C = 1 − Σ(t³−t)/(N³−N) uses the exact Σ_elements(c²−1) BIGINT.
    // Doubles only in the final per-week rational fold (pinned week
    // order) and the closing H arithmetic, identical IEEE order.
    Q("agg_kruskal_wallis",
      """WITH c AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS dom,
        |         CAST(1 + (day(ts) - 1) // 7 AS BIGINT) AS wk,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE day(ts) <= 28 GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(wk := wk, n := n) ORDER BY dom) AS l
        |  FROM c GROUP BY event_type
        |), r AS (
        |  SELECT event_type, CAST(len(l) AS BIGINT) AS n_days,
        |         list_transform(l, e -> struct_pack(
        |           wk := e.wk,
        |           r2 := CAST(2 * len(list_filter(l, z -> z.n < e.n))
        |                      + len(list_filter(l, z -> z.n = e.n)) + 1
        |                      AS BIGINT))) AS rl,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e ->
        |               CAST(len(list_filter(l, z -> z.n = e.n))
        |                    * len(list_filter(l, z -> z.n = e.n)) - 1
        |                    AS BIGINT))),
        |           (a, x) -> a + x) AS tie_t
        |  FROM g
        |), w AS (
        |  SELECT event_type, n_days, tie_t,
        |         CAST(len(list_filter(range(1, 5),
        |              w -> len(list_filter(rl, z -> z.wk = w)) > 0))
        |              AS BIGINT) AS k,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 5), w ->
        |               CASE WHEN len(list_filter(rl, z -> z.wk = w)) = 0
        |                    THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                             list_transform(list_filter(rl,
        |                               z -> z.wk = w), z -> z.r2)),
        |                             (a, x) -> a + x)
        |                         * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                             list_transform(list_filter(rl,
        |                               z -> z.wk = w), z -> z.r2)),
        |                             (a, x) -> a + x) AS DOUBLE)
        |                         / CAST(len(list_filter(rl, z -> z.wk = w))
        |                                AS BIGINT)
        |               END)),
        |           (a, x) -> a + x) AS sum_term
        |  FROM r
        |)
        |SELECT event_type, n_days, k,
        |       floor((CAST(3 AS DOUBLE) * sum_term / (n_days * (n_days + 1))
        |              - CAST(3 AS DOUBLE) * (n_days + 1)) * 1000000)
        |         / 1000000 AS h,
        |       CASE WHEN tie_t = n_days * n_days * n_days - n_days THEN NULL
        |            ELSE floor((CAST(3 AS DOUBLE) * sum_term
        |                        / (n_days * (n_days + 1))
        |                        - CAST(3 AS DOUBLE) * (n_days + 1))
        |                       / (CAST(1 AS DOUBLE) - CAST(tie_t AS DOUBLE)
        |                          / (n_days * n_days * n_days - n_days))
        |                       * 1000000) / 1000000
        |       END AS h_adj
        |FROM w ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = t(s, d, "events")
        .where(dayofmonth(col("ts")) <= 28)
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          (lit(1) + (dayofmonth(col("ts")) - 1).cast("long") / 7)
            .cast("long").as("wk"))
        .agg(count(lit(1)).as("n"))
      c.groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(dom, wk, n)))").as("l0"))
        .select(col("event_type"),
          expr("transform(l0, e -> struct(e.wk AS wk, e.n AS n))").as("l"))
        .select(col("event_type"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """transform(l, e -> named_struct(
              |  'wk', e.wk,
              |  'r2', CAST(2 * size(filter(l, z -> z.n < e.n))
              |             + size(filter(l, z -> z.n = e.n)) + 1
              |             AS BIGINT)))""".stripMargin).as("rl"),
          expr(
            """aggregate(transform(l, e ->
              |    CAST(size(filter(l, z -> z.n = e.n))
              |         * size(filter(l, z -> z.n = e.n)) - 1 AS BIGINT)),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("tie_t"))
        .select(col("event_type"), col("n_days"), col("tie_t"),
          expr(
            """CAST(size(filter(sequence(1, 4),
              |  w -> size(filter(rl, z -> z.wk = w)) > 0)) AS BIGINT)"""
              .stripMargin).as("k"),
          expr(
            """aggregate(transform(sequence(1, 4), w ->
              |    CASE WHEN size(filter(rl, z -> z.wk = w)) = 0
              |         THEN CAST(0 AS DOUBLE)
              |         ELSE CAST(aggregate(transform(filter(rl,
              |                  z -> z.wk = w), z -> z.r2),
              |                  CAST(0 AS BIGINT), (a, x) -> a + x)
              |              * aggregate(transform(filter(rl,
              |                  z -> z.wk = w), z -> z.r2),
              |                  CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)
              |              / CAST(size(filter(rl, z -> z.wk = w)) AS BIGINT)
              |    END),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("sum_term"))
        .select(col("event_type"), col("n_days"), col("k"),
          (floor((lit(3.0) * col("sum_term")
            / (col("n_days") * (col("n_days") + 1))
            - lit(3.0) * (col("n_days") + 1)) * 1000000) / 1000000).as("h"),
          when(col("tie_t") ===
            col("n_days") * col("n_days") * col("n_days") - col("n_days"),
            lit(null))
            .otherwise(floor((lit(3.0) * col("sum_term")
              / (col("n_days") * (col("n_days") + 1))
              - lit(3.0) * (col("n_days") + 1))
              / (lit(1.0) - col("tie_t").cast("double")
                / (col("n_days") * col("n_days") * col("n_days")
                  - col("n_days"))) * 1000000) / 1000000)
            .as("h_adj"))
        .orderBy("event_type")
    },

    // One-way ANOVA F test (round 8, cont. 5): the PARAMETRIC twin of
    // agg_kruskal_wallis over the same weeks-of-daily-volume framing —
    // between-week vs within-week variance of daily counts. Exact
    // integers by cross-multiplication: SSW_j·n_j = n_j·Σy² − (Σy)² and
    // SSB_j·n_j·N² = (N·S_j − n_j·S)² are exact BIGINTs (overflow dial
    // past ~3e9 events/type-week: DECIMAL(38,0), the family note), so
    // each week contributes ONE double division, folded in pinned week
    // order; F = (SSB/(k−1))/(SSW/(N−k)) is three more IEEE ops. Plan:
    // one fact scan → bounded (type, day) groupBy → in-row fold.
    Q("agg_anova_f",
      """WITH c AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS dom,
        |         CAST(1 + (day(ts) - 1) // 7 AS BIGINT) AS wk,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE day(ts) <= 28 GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(wk := wk, n := n) ORDER BY dom) AS l
        |  FROM c GROUP BY event_type
        |), m AS (
        |  SELECT event_type, l, CAST(len(l) AS BIGINT) AS n_days,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e -> e.n)), (a, x) -> a + x) AS s
        |  FROM g
        |), w AS (
        |  SELECT event_type, n_days,
        |         CAST(len(list_filter(range(1, 5),
        |              w -> len(list_filter(l, z -> z.wk = w)) > 0))
        |              AS BIGINT) AS k,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 5), w ->
        |               CASE WHEN len(list_filter(l, z -> z.wk = w)) = 0
        |                    THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST(CAST(len(list_filter(l, z -> z.wk = w))
        |                              AS BIGINT)
        |                           * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.n * z.n)),
        |                               (a, x) -> a + x)
        |                           - list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.n)),
        |                               (a, x) -> a + x)
        |                           * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.n)),
        |                               (a, x) -> a + x) AS DOUBLE)
        |                         / CAST(len(list_filter(l, z -> z.wk = w))
        |                                AS BIGINT)
        |               END)),
        |           (a, x) -> a + x) AS ssw,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 5), w ->
        |               CASE WHEN len(list_filter(l, z -> z.wk = w)) = 0
        |                    THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST((n_days
        |                            * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                                list_transform(list_filter(l,
        |                                  z -> z.wk = w), z -> z.n)),
        |                                (a, x) -> a + x)
        |                            - CAST(len(list_filter(l, z -> z.wk = w))
        |                                   AS BIGINT) * s)
        |                           * (n_days
        |                            * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                                list_transform(list_filter(l,
        |                                  z -> z.wk = w), z -> z.n)),
        |                                (a, x) -> a + x)
        |                            - CAST(len(list_filter(l, z -> z.wk = w))
        |                                   AS BIGINT) * s) AS DOUBLE)
        |                         / (CAST(len(list_filter(l, z -> z.wk = w))
        |                                 AS BIGINT) * n_days * n_days)
        |               END)),
        |           (a, x) -> a + x) AS ssb
        |  FROM m
        |)
        |SELECT event_type, n_days, k,
        |       floor(ssb * 1000000) / 1000000 AS ssb,
        |       floor(ssw * 1000000) / 1000000 AS ssw,
        |       CASE WHEN k < 2 OR n_days <= k OR ssw = 0 THEN NULL
        |            ELSE floor((ssb / (k - 1)) / (ssw / (n_days - k))
        |                       * 1000000) / 1000000
        |       END AS f
        |FROM w ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = t(s, d, "events")
        .where(dayofmonth(col("ts")) <= 28)
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          (lit(1) + (dayofmonth(col("ts")) - 1).cast("long") / 7)
            .cast("long").as("wk"))
        .agg(count(lit(1)).as("n"))
      c.groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(dom, wk, n)))").as("l0"))
        .select(col("event_type"),
          expr("transform(l0, e -> struct(e.wk AS wk, e.n AS n))").as("l"))
        .select(col("event_type"), col("l"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """aggregate(transform(l, e -> e.n), CAST(0 AS BIGINT),
              |  (a, x) -> a + x)""".stripMargin).as("s"))
        .select(col("event_type"), col("n_days"),
          expr(
            """CAST(size(filter(sequence(1, 4),
              |  w -> size(filter(l, z -> z.wk = w)) > 0)) AS BIGINT)"""
              .stripMargin).as("k"),
          expr(
            """aggregate(transform(sequence(1, 4), w ->
              |    CASE WHEN size(filter(l, z -> z.wk = w)) = 0
              |         THEN CAST(0 AS DOUBLE)
              |         ELSE CAST(CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                * aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.n * z.n), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x)
              |                - aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.n), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x)
              |                * aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.n), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x) AS DOUBLE)
              |              / CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |    END),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("ssw"),
          expr(
            """aggregate(transform(sequence(1, 4), w ->
              |    CASE WHEN size(filter(l, z -> z.wk = w)) = 0
              |         THEN CAST(0 AS DOUBLE)
              |         ELSE CAST((n_days
              |                 * aggregate(transform(filter(l, z -> z.wk = w),
              |                     z -> z.n), CAST(0 AS BIGINT),
              |                     (a, x) -> a + x)
              |                 - CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                   * s)
              |                * (n_days
              |                 * aggregate(transform(filter(l, z -> z.wk = w),
              |                     z -> z.n), CAST(0 AS BIGINT),
              |                     (a, x) -> a + x)
              |                 - CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                   * s) AS DOUBLE)
              |              / (CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                 * n_days * n_days)
              |    END),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("ssb"))
        .select(col("event_type"), col("n_days"), col("k"),
          (floor(col("ssb") * 1000000) / 1000000).as("ssb"),
          (floor(col("ssw") * 1000000) / 1000000).as("ssw"),
          when(col("k") < 2 || col("n_days") <= col("k") || col("ssw") === 0,
            lit(null))
            .otherwise(floor((col("ssb") / (col("k") - 1))
              / (col("ssw") / (col("n_days") - col("k"))) * 1000000)
              / 1000000)
            .as("f"))
        .orderBy("event_type")
    },

    // Kendall tau-b rank correlation (round 8, cont. 5): per event_type,
    // the concordant-vs-discordant complement of agg_spearman_daily over
    // the SAME daily (volume, revenue) pairing — tau's pairwise-inversion
    // metric is the one bounded by sorting theory (tau = 1 − 2·inversions
    // /pairs) and degrades more gracefully under ties than rho. Exact
    // integers: Σ sign(Δx)·sign(Δy) over all C(N,2) in-row pairs (≤465
    // compares on the bounded ≤31-day list) gives nc−nd exactly, and the
    // tau-b tie denominators carry 2n1 = Σ_elements(c_x−1), so
    // tau_b = 2(nc−nd)/√((2n0−2n1)(2n0−2n2)) takes exact BIGINTs into
    // one sqrt+division at the end.
    Q("agg_kendall_tau",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS rev
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(n := n, rev := rev) ORDER BY day) AS l
        |  FROM d GROUP BY event_type
        |), p AS (
        |  SELECT event_type, CAST(len(l) AS BIGINT) AS n_days,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           flatten(list_transform(range(1, len(l)), i ->
        |             list_transform(range(i + 1, len(l) + 1), j ->
        |               CAST(sign(l[i].n - l[j].n)
        |                    * sign(l[i].rev - l[j].rev) AS BIGINT))))),
        |           (a, x) -> a + x) AS cmd,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(l, e ->
        |             CAST(len(list_filter(l, z -> z.n = e.n)) - 1
        |                  AS BIGINT))), (a, x) -> a + x) AS tx2,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(l, e ->
        |             CAST(len(list_filter(l, z -> z.rev = e.rev)) - 1
        |                  AS BIGINT))), (a, x) -> a + x) AS ty2
        |  FROM g
        |)
        |SELECT event_type, n_days, cmd AS conc_minus_disc,
        |       CASE WHEN n_days * (n_days - 1) - tx2 = 0
        |              OR n_days * (n_days - 1) - ty2 = 0 THEN NULL
        |            ELSE floor(CAST(2 * cmd AS DOUBLE)
        |                       / sqrt(CAST(n_days * (n_days - 1) - tx2
        |                                   AS DOUBLE)
        |                              * CAST(n_days * (n_days - 1) - ty2
        |                                     AS DOUBLE)) * 1000000) / 1000000
        |       END AS tau_b
        |FROM p ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("rev"))
      daily.groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(day, n, rev)))").as("l0"))
        .select(col("event_type"),
          expr("transform(l0, e -> struct(e.n, e.rev))").as("l"))
        .select(col("event_type"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """CASE WHEN size(l) < 2 THEN CAST(0 AS BIGINT)
              |ELSE aggregate(flatten(transform(sequence(1, size(l) - 1),
              |  i -> transform(sequence(i + 1, size(l)), j ->
              |    CAST(signum(element_at(l, i).n - element_at(l, j).n)
              |         * signum(element_at(l, i).rev - element_at(l, j).rev)
              |         AS BIGINT)))),
              |  CAST(0 AS BIGINT), (a, x) -> a + x) END""".stripMargin)
            .as("cmd"),
          expr(
            """aggregate(transform(l, e ->
              |    CAST(size(filter(l, z -> z.n = e.n)) - 1 AS BIGINT)),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("tx2"),
          expr(
            """aggregate(transform(l, e ->
              |    CAST(size(filter(l, z -> z.rev = e.rev)) - 1 AS BIGINT)),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("ty2"))
        .select(col("event_type"), col("n_days"),
          col("cmd").as("conc_minus_disc"),
          when(col("n_days") * (col("n_days") - 1) - col("tx2") === 0 ||
            col("n_days") * (col("n_days") - 1) - col("ty2") === 0,
            lit(null))
            .otherwise(floor((lit(2) * col("cmd")).cast("double")
              / sqrt((col("n_days") * (col("n_days") - 1) - col("tx2"))
                .cast("double")
                * (col("n_days") * (col("n_days") - 1) - col("ty2"))
                  .cast("double")) * 1000000) / 1000000)
            .as("tau_b"))
        .orderBy("event_type")
    },

    // Jarque-Bera normality test (round 8, cont. 5): per event_type,
    // JB = n/6·(g1² + g2ex²/4) from the SAME exact-DECIMAL power sums as
    // agg_skew_kurt — the one-number answer to "is mean±3σ alerting even
    // valid on this column" that turns the two shape moments into a
    // χ²(2) verdict (95% critical value 5.991465). The four power sums
    // fold in exact DECIMAL (zero rounding on either engine); skewness,
    // excess kurtosis, and JB are identical-order IEEE doubles at the
    // end, and the verdict compares the FLOORED jb so both engines
    // branch on the same number.
    Q("agg_jarque_bera",
      """WITH p AS (
        |  SELECT event_type, v, v2, CAST(v2 * v AS DECIMAL(29,6)) AS v3,
        |         CAST(CAST(v2 * v AS DECIMAL(29,6)) * v AS DECIMAL(36,8))
        |           AS v4
        |  FROM (
        |    SELECT event_type, CAST(value AS DECIMAL(7,2)) AS v,
        |           CAST(CAST(value AS DECIMAL(7,2))
        |                * CAST(value AS DECIMAL(7,2)) AS DECIMAL(22,4)) AS v2
        |    FROM events WHERE value IS NOT NULL
        |  )
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(v) AS DOUBLE) AS s1,
        |         CAST(sum(v2) AS DOUBLE) AS s2,
        |         CAST(sum(v3) AS DOUBLE) AS s3,
        |         CAST(sum(v4) AS DOUBLE) AS s4
        |  FROM p GROUP BY event_type
        |), j AS (
        |  SELECT event_type, n,
        |         floor(n / 6 * (
        |           ((s3 / n - 3 * (s1 / n) * (s2 / n)
        |             + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        |            / ((s2 / n - (s1 / n) * (s1 / n))
        |               * sqrt(s2 / n - (s1 / n) * (s1 / n))))
        |           * ((s3 / n - 3 * (s1 / n) * (s2 / n)
        |               + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        |              / ((s2 / n - (s1 / n) * (s1 / n))
        |                 * sqrt(s2 / n - (s1 / n) * (s1 / n))))
        |           + ((s4 / n - 4 * (s1 / n) * (s3 / n)
        |               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |              / ((s2 / n - (s1 / n) * (s1 / n))
        |                 * (s2 / n - (s1 / n) * (s1 / n))) - 3)
        |           * ((s4 / n - 4 * (s1 / n) * (s3 / n)
        |               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |              / ((s2 / n - (s1 / n) * (s1 / n))
        |                 * (s2 / n - (s1 / n) * (s1 / n))) - 3) / 4)
        |           * 1000000) / 1000000 AS jb
        |  FROM m
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n, jb,
        |       jb > 5.991465 AS non_normal_95
        |FROM j ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = col("value").cast("decimal(7,2)")
      val m = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(v).cast("double").as("s1"),
          sum(v * v).cast("double").as("s2"),
          sum(v * v * v).cast("double").as("s3"),
          sum(v * v * v * v).cast("double").as("s4"))
      val n = col("n")
      val mean = col("s1") / n
      val m2 = col("s2") / n - mean * mean
      val skew = (col("s3") / n - lit(3) * mean * (col("s2") / n)
        + lit(2) * mean * mean * mean) / (m2 * sqrt(m2))
      val kex = (col("s4") / n
        - lit(4) * mean * (col("s3") / n)
        + lit(6) * mean * mean * (col("s2") / n)
        - lit(3) * mean * mean * mean * mean) / (m2 * m2) - lit(3)
      val jb = floor(n / 6 * (skew * skew + kex * kex / 4) * 1000000) / 1000000
      m.select(col("event_type"), n.cast("long").as("n"), jb.as("jb"),
          (jb > 5.991465).as("non_normal_95"))
        .orderBy("event_type")
    },

    // Chi-square goodness-of-fit (round 8, cont. 6): per order status, is
    // order volume UNIFORM over the 7 weekdays? The GOF leg the test
    // family still lacked (dq_cramers_v is the independence leg; this is
    // the one-distribution-vs-expected verdict a seasonality/robot-traffic
    // audit runs first). Under uniform expected E = N/7 the statistic
    // collapses to chi2 = (7*sum(O_d^2) - N^2)/N, whose NUMERATOR is an
    // exact BIGINT (weekdays with zero orders contribute 0 to sum(O^2) —
    // exactly their (0-E)^2/E share after the algebra), so both engines
    // divide the same integer once. Weekday bucket labels never surface,
    // so Spark's 1-7 vs DuckDB's 0-6 dayofweek conventions cannot skew
    // the compare — only the partition of dates matters, and both derive
    // it from the same timestamps. Plan: one fact scan, bounded
    // (status, dow) groupBy, in-row fold — ZERO windows, zero joins.
    Q("dq_chi_square_gof",
      """WITH c AS (
        |  SELECT o_orderstatus, dayofweek(o_orderdate) AS dow,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2
        |), g AS (
        |  SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n,
        |         CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM c GROUP BY o_orderstatus
        |)
        |SELECT o_orderstatus, n,
        |       floor(CAST(7 * s2 - n * n AS DOUBLE) / n * 1000000)
        |         / 1000000 AS chi2,
        |       CAST(7 * s2 - n * n AS DOUBLE) / n > 12.591587
        |         AS non_uniform_95
        |FROM g ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val g = t(s, d, "orders")
        .groupBy(col("o_orderstatus"), dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("o_orderstatus")
        .agg(sum(col("cnt")).as("n"),
          sum(col("cnt") * col("cnt")).as("s2"))
      val num = (lit(7) * col("s2") - col("n") * col("n")).cast("double")
      g.select(col("o_orderstatus"), col("n"),
          (floor(num / col("n") * 1000000) / 1000000).as("chi2"),
          (num / col("n") > 12.591587).as("non_uniform_95"))
        .orderBy("o_orderstatus")
    },

    // Brown-Forsythe / Levene variance-homogeneity test (round 8, cont.
    // 6): the ASSUMPTION AUDIT for agg_anova_f — ANOVA's F is only valid
    // if the week groups share a variance, and Brown-Forsythe tests
    // exactly that by running the same one-way F on the absolute
    // deviations z_ij = |y_ij - median_j| (median-centered = the
    // robust-to-skew variant, Brown & Forsythe 1974). Same weeks-of-
    // daily-volume framing as agg_anova_f/agg_kruskal_wallis so the trio
    // reads as one analysis. Exactness: daily counts are integers, the
    // per-week LOWER median of a sorted integer list is an integer, so
    // every z is an exact BIGINT and the cross-multiplied SSW/SSB
    // spelling from agg_anova_f applies verbatim (one double division
    // per week, folded in pinned week order). Plan: one fact scan,
    // bounded (type, day) groupBy, in-row fold — zero windows.
    Q("agg_levene",
      """WITH c AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS dom,
        |         CAST(1 + (day(ts) - 1) // 7 AS BIGINT) AS wk,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE day(ts) <= 28 GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(wk := wk, n := n) ORDER BY dom) AS l
        |  FROM c GROUP BY event_type
        |), z AS (
        |  SELECT event_type,
        |         list_transform(l, e -> struct_pack(
        |           wk := e.wk,
        |           z := abs(e.n - list_sort(list_transform(
        |                  list_filter(l, x -> x.wk = e.wk), x -> x.n))
        |                [(len(list_filter(l, x -> x.wk = e.wk)) + 1) // 2])))
        |           AS l
        |  FROM g
        |), m AS (
        |  SELECT event_type, l, CAST(len(l) AS BIGINT) AS n_days,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e -> e.z)), (a, x) -> a + x) AS s
        |  FROM z
        |), w AS (
        |  SELECT event_type, n_days,
        |         CAST(len(list_filter(range(1, 5),
        |              w -> len(list_filter(l, z -> z.wk = w)) > 0))
        |              AS BIGINT) AS k,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 5), w ->
        |               CASE WHEN len(list_filter(l, z -> z.wk = w)) = 0
        |                    THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST(CAST(len(list_filter(l, z -> z.wk = w))
        |                              AS BIGINT)
        |                           * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.z * z.z)),
        |                               (a, x) -> a + x)
        |                           - list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.z)),
        |                               (a, x) -> a + x)
        |                           * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                               list_transform(list_filter(l,
        |                                 z -> z.wk = w), z -> z.z)),
        |                               (a, x) -> a + x) AS DOUBLE)
        |                         / CAST(len(list_filter(l, z -> z.wk = w))
        |                                AS BIGINT)
        |               END)),
        |           (a, x) -> a + x) AS ssw,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 5), w ->
        |               CASE WHEN len(list_filter(l, z -> z.wk = w)) = 0
        |                    THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST((n_days
        |                            * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                                list_transform(list_filter(l,
        |                                  z -> z.wk = w), z -> z.z)),
        |                                (a, x) -> a + x)
        |                            - CAST(len(list_filter(l, z -> z.wk = w))
        |                                   AS BIGINT) * s)
        |                           * (n_days
        |                            * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                                list_transform(list_filter(l,
        |                                  z -> z.wk = w), z -> z.z)),
        |                                (a, x) -> a + x)
        |                            - CAST(len(list_filter(l, z -> z.wk = w))
        |                                   AS BIGINT) * s) AS DOUBLE)
        |                         / (CAST(len(list_filter(l, z -> z.wk = w))
        |                                 AS BIGINT) * n_days * n_days)
        |               END)),
        |           (a, x) -> a + x) AS ssb
        |  FROM m
        |)
        |SELECT event_type, n_days, k,
        |       CASE WHEN k < 2 OR n_days <= k OR ssw = 0 THEN NULL
        |            ELSE floor((ssb / (k - 1)) / (ssw / (n_days - k))
        |                       * 1000000) / 1000000
        |       END AS bf_w,
        |       CASE WHEN k = 4 AND n_days = 28 AND ssw > 0
        |            THEN (ssb / 3) / (ssw / 24) > 3.008787
        |       END AS heteroscedastic_95
        |FROM w ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = t(s, d, "events")
        .where(dayofmonth(col("ts")) <= 28)
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          (lit(1) + (dayofmonth(col("ts")) - 1).cast("long") / 7)
            .cast("long").as("wk"))
        .agg(count(lit(1)).as("n"))
      c.groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(dom, wk, n)))").as("l0"))
        .select(col("event_type"),
          expr(
            """transform(l0, e -> named_struct(
              |  'wk', e.wk,
              |  'z', abs(e.n - element_at(
              |         array_sort(transform(filter(l0, x -> x.wk = e.wk),
              |                              x -> x.n)),
              |         CAST((size(filter(l0, x -> x.wk = e.wk)) + 1) / 2
              |              AS INT)))))""".stripMargin).as("l"))
        .select(col("event_type"), col("l"),
          size(col("l")).cast("long").as("n_days"),
          expr(
            """aggregate(transform(l, e -> e.z), CAST(0 AS BIGINT),
              |  (a, x) -> a + x)""".stripMargin).as("s"))
        .select(col("event_type"), col("n_days"),
          expr(
            """CAST(size(filter(sequence(1, 4),
              |  w -> size(filter(l, z -> z.wk = w)) > 0)) AS BIGINT)"""
              .stripMargin).as("k"),
          expr(
            """aggregate(transform(sequence(1, 4), w ->
              |    CASE WHEN size(filter(l, z -> z.wk = w)) = 0
              |         THEN CAST(0 AS DOUBLE)
              |         ELSE CAST(CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                * aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.z * z.z), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x)
              |                - aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.z), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x)
              |                * aggregate(transform(filter(l, z -> z.wk = w),
              |                    z -> z.z), CAST(0 AS BIGINT),
              |                    (a, x) -> a + x) AS DOUBLE)
              |              / CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |    END),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("ssw"),
          expr(
            """aggregate(transform(sequence(1, 4), w ->
              |    CASE WHEN size(filter(l, z -> z.wk = w)) = 0
              |         THEN CAST(0 AS DOUBLE)
              |         ELSE CAST((n_days
              |                 * aggregate(transform(filter(l, z -> z.wk = w),
              |                     z -> z.z), CAST(0 AS BIGINT),
              |                     (a, x) -> a + x)
              |                 - CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                   * s)
              |                * (n_days
              |                 * aggregate(transform(filter(l, z -> z.wk = w),
              |                     z -> z.z), CAST(0 AS BIGINT),
              |                     (a, x) -> a + x)
              |                 - CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                   * s) AS DOUBLE)
              |              / (CAST(size(filter(l, z -> z.wk = w)) AS BIGINT)
              |                 * n_days * n_days)
              |    END),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("ssb"))
        .select(col("event_type"), col("n_days"), col("k"),
          when(col("k") < 2 || col("n_days") <= col("k") || col("ssw") === 0,
            lit(null))
            .otherwise(floor((col("ssb") / (col("k") - 1))
              / (col("ssw") / (col("n_days") - col("k"))) * 1000000)
              / 1000000)
            .as("bf_w"),
          when(col("k") === 4 && col("n_days") === 28 && col("ssw") > 0,
            (col("ssb") / 3) / (col("ssw") / 24) > 3.008787)
            .as("heteroscedastic_95"))
        .orderBy("event_type")
    },

    // Percentile-bootstrap confidence interval (round 8, cont. 6): the
    // resampling leg of the inference family — a 95% CI for the mean
    // daily revenue per event_type, from B=200 bootstrap resamples of
    // the (bounded, <=31-element) daily series. DETERMINISTIC bootstrap:
    // resample b's j-th draw is day 1 + (portable_hash(type:b:j) mod n)
    // — engine-portable, rerun-stable, no rand(). Every resample SUM is
    // an exact BIGINT in cents (means would be rationals; dividing once
    // at display keeps the compare exact), the 200 sums sort in-row, and
    // the CI picks order statistics ceil(0.025*200)=5 and
    // ceil(0.975*200)=195 — quantile_disc arithmetic, no interpolation.
    // Plan: one fact scan, bounded (type, day) groupBy, 200*n in-row
    // hash folds (~6k md5 per type) — zero windows, zero joins, and at
    // 100 TB the only thing that grows is the one daily-rollup shuffle.
    Q("agg_bootstrap_ci",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, list(c ORDER BY day) AS cs
        |  FROM d GROUP BY event_type
        |), m AS (
        |  SELECT event_type, cs, CAST(len(cs) AS BIGINT) AS n,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
        |           (a, x) -> a + x) AS s
        |  FROM g
        |), b AS (
        |  SELECT event_type, n, s,
        |         list_sort(list_transform(range(0, 200), b ->
        |           list_reduce(list_prepend(CAST(0 AS BIGINT),
        |               list_transform(range(1, n + 1), j ->
        |                 cs[CAST(1 + CAST('0x' || substr(md5(
        |                        event_type || ':' || CAST(b AS VARCHAR)
        |                        || ':' || CAST(j AS VARCHAR)), 1, 15)
        |                      AS BIGINT) % n AS INT)])),
        |             (a, x) -> a + x))) AS sums
        |  FROM m
        |)
        |SELECT event_type, n AS n_days, CAST(200 AS BIGINT) AS n_boot,
        |       floor(CAST(s AS DOUBLE) / n / 100 * 1000000) / 1000000
        |         AS mean_obs,
        |       floor(CAST(sums[5] AS DOUBLE) / n / 100 * 1000000) / 1000000
        |         AS ci_lo,
        |       floor(CAST(sums[195] AS DOUBLE) / n / 100 * 1000000) / 1000000
        |         AS ci_hi
        |FROM b ORDER BY event_type""".stripMargin) { (s, d) =>
      val m = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
        .groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, c))), "
          + "e -> e.c)").as("cs"))
        .select(col("event_type"), col("cs"),
          size(col("cs")).cast("long").as("n"),
          expr("aggregate(cs, CAST(0 AS BIGINT), (a, x) -> a + x)").as("s"))
      m.select(col("event_type"), col("n"), col("s"),
          expr(
            """sort_array(transform(sequence(0, 199), b ->
              |  aggregate(transform(sequence(1, n), j ->
              |      element_at(cs, CAST(1 + CAST(conv(substring(md5(
              |             concat(event_type, ':', CAST(b AS STRING), ':',
              |                    CAST(j AS STRING))), 1, 15), 16, 10)
              |           AS BIGINT) % n AS INT))),
              |    CAST(0 AS BIGINT), (a, x) -> a + x)))""".stripMargin)
            .as("sums"))
        .select(col("event_type"), col("n").as("n_days"),
          lit(200L).as("n_boot"),
          (floor(col("s").cast("double") / col("n") / 100 * 1000000)
            / 1000000).as("mean_obs"),
          (floor(expr("element_at(sums, 5)").cast("double") / col("n") / 100
            * 1000000) / 1000000).as("ci_lo"),
          (floor(expr("element_at(sums, 195)").cast("double") / col("n")
            / 100 * 1000000) / 1000000).as("ci_hi"))
        .orderBy("event_type")
    },

    // Differentially-private counts (round 8, cont. 6): the release leg
    // of the privacy family (dq_k_anonymity audits quasi-identifier
    // risk; this key RELEASES a count under epsilon-DP). Mechanism: the
    // discrete Laplace via two geometric draws, X = G1 - G2 with
    // G ~ Geometric(1/2) — the Ghosh-Roughgarden-Sundararajan geometric
    // mechanism at alpha = 1/2, i.e. epsilon = ln 2 per unit sensitivity
    // (one event changes a count by 1). EXACT and engine-portable: the
    // uniform draw is portable_hash mod 2^30, and G counts thresholds
    // u >= 1 - 2^-j, i.e. h >= 2^30 - 2^(30-j) — pure BIGINT shifts, no
    // ln(), no float CDF, so the noise REPLAYS exactly in both engines
    // (truncation at j=30 is 2^-30 tail mass, replayed identically).
    // The true count and noise columns are part of this AUDIT readout;
    // a production release ships only (event_type, noisy_count,
    // epsilon). Plan: one bounded groupBy, map-side hash fold.
    Q("dq_dp_counts", {
      val h1 = PortableHash.sqlSeeded(1, "'dp:' || event_type")
      val h2 = PortableHash.sqlSeeded(2, "'dp:' || event_type")
      s"""WITH c AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type
         |), u AS (
         |  SELECT event_type, n,
         |         $h1 % (CAST(1 AS BIGINT) << 30) AS u1,
         |         $h2 % (CAST(1 AS BIGINT) << 30) AS u2
         |  FROM c
         |), gg AS (
         |  SELECT event_type, n,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(range(1, 31), j ->
         |               CASE WHEN u1 >= (CAST(1 AS BIGINT) << 30)
         |                      - (CAST(1 AS BIGINT) << CAST(30 - j AS INT))
         |                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
         |               END)), (a, x) -> a + x)
         |         - list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(range(1, 31), j ->
         |               CASE WHEN u2 >= (CAST(1 AS BIGINT) << 30)
         |                      - (CAST(1 AS BIGINT) << CAST(30 - j AS INT))
         |                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
         |               END)), (a, x) -> a + x) AS noise
         |  FROM u
         |)
         |SELECT event_type, n AS n_true, noise, n + noise AS noisy_count,
         |       CAST(0.693147 AS DOUBLE) AS epsilon
         |FROM gg ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      // geometric draw from the seeded portable hash: count thresholds
      // h mod 2^30 >= 2^30 - 2^(30-j), j = 1..30 (see the oracle twin)
      def gExpr(seed: Int): String =
        s"""aggregate(transform(sequence(1, 30), j ->
           |    IF(CAST(conv(substring(md5(concat('$seed:dp:', event_type)),
           |              1, 15), 16, 10) AS BIGINT)
           |         % shiftleft(CAST(1 AS BIGINT), 30)
           |       >= shiftleft(CAST(1 AS BIGINT), 30)
           |          - shiftleft(CAST(1 AS BIGINT), CAST(30 - j AS INT)),
           |       CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
           |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin
      val c = t(s, d, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          (expr(gExpr(1)) - expr(gExpr(2))).as("noise"))
      c.select(col("event_type"), col("n").as("n_true"), col("noise"),
          (col("n") + col("noise")).as("noisy_count"),
          lit(0.693147).as("epsilon"))
        .orderBy("event_type")
    },

    // Trimmed + winsorized mean (round 8, cont. 6): the robust-MEAN leg
    // beside agg_mad_outliers' robust-spread — what is the typical order
    // value once the tails can't vote? Value-banded at the exact
    // quantile_disc elements p10/p90 (trim = drop outside [lo, hi],
    // winsorize = clamp into it) — value-banded rather than rank-banded
    // so the definition is reproducible under ties and the thresholds
    // are REUSABLE constants downstream. The thresholds come from
    // RankFence.quantilesFenced under the (o_totalprice, o_orderkey)
    // total order — the agg_percentiles_fenced machinery on the orders
    // fact, NO global sort — and the oracle replays the identical
    // max(1, ceil(q*n)) rank arithmetic. Money sums go through
    // DECIMAL(18,4) (order-independent exactness); one division per
    // display. Plan: fence passes + ONE map-side clamp/filter scan into
    // a single-row aggregate — zero windows in the declared plan.
    Q("agg_trimmed_mean",
      """WITH r AS (
        |  SELECT o_totalprice,
        |         row_number() OVER (ORDER BY o_totalprice, o_orderkey)
        |           AS rn,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM orders
        |), th AS (
        |  SELECT
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(10 / 100.0 * n)
        |                                        AS BIGINT))
        |             THEN o_totalprice END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(90 / 100.0 * n)
        |                                        AS BIGINT))
        |             THEN o_totalprice END) AS hi
        |  FROM r
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, lo, hi,
        |         CAST(count(*) FILTER (WHERE o_totalprice >= lo
        |                                 AND o_totalprice <= hi)
        |              AS BIGINT) AS n_kept,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |              FILTER (WHERE o_totalprice >= lo
        |                        AND o_totalprice <= hi) AS DOUBLE)
        |           AS sum_kept,
        |         CAST(sum(CAST(least(greatest(o_totalprice, lo), hi)
        |                       AS DECIMAL(18,4))) AS DOUBLE) AS sum_wins
        |  FROM orders CROSS JOIN th GROUP BY lo, hi
        |)
        |SELECT n, lo AS p10, hi AS p90, n_kept,
        |       floor(sum_kept / n_kept * 1000000) / 1000000
        |         AS trimmed_mean,
        |       floor(sum_wins / n * 1000000) / 1000000 AS winsorized_mean
        |FROM agg""".stripMargin) { (s, d) =>
      val th = RankFence.quantilesFenced(
        t(s, d, "orders").select(col("o_totalprice"), col("o_orderkey")),
        Seq(RankFence.OrderCol("o_totalprice"),
          RankFence.OrderCol("o_orderkey")),
        Seq(10 / 100.0, 90 / 100.0))
      val lo = th(0)._3.asInstanceOf[Number].doubleValue
      val hi = th(1)._3.asInstanceOf[Number].doubleValue
      val kept = col("o_totalprice") >= lo && col("o_totalprice") <= hi
      t(s, d, "orders")
        .agg(count(lit(1)).as("n"),
          count(when(kept, 1)).as("n_kept"),
          sum(when(kept, col("o_totalprice").cast("decimal(18,4)")))
            .cast("double").as("sum_kept"),
          sum(least(greatest(col("o_totalprice"), lit(lo)), lit(hi))
            .cast("decimal(18,4)")).cast("double").as("sum_wins"))
        .select(col("n"), lit(lo).as("p10"), lit(hi).as("p90"),
          col("n_kept"),
          (floor(col("sum_kept") / col("n_kept") * 1000000) / 1000000)
            .as("trimmed_mean"),
          (floor(col("sum_wins") / col("n") * 1000000) / 1000000)
            .as("winsorized_mean"))
    },

    // Cohen's d effect size (round 8, cont. 6): the MAGNITUDE companion
    // to etl_ab_ttest's significance — a t-test on fact-scale n flags
    // differences too small to matter; d = (mean_A - mean_B)/s_pooled
    // (with the Hedges' g small-sample correction) is what a rollout
    // decision actually reads. Framing: first half of the month (days
    // 1-14) vs second half (15-28) of daily revenue per event_type.
    // Exact: daily cents are BIGINTs, both per-group variance numerators
    // n*Sxx - S*S are exact BIGINTs (overflow ~3e9 cents/day: DECIMAL
    // dial), so s_pooled and d assemble from exact integers in identical
    // IEEE order with one sqrt at the end. Plan: one fact scan, bounded
    // (type, half) groupBy, in-row assembly — zero windows, zero joins.
    Q("agg_cohens_d",
      """WITH d AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS dom,
        |         CASE WHEN day(ts) <= 14 THEN 'a' ELSE 'b' END AS half,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS c
        |  FROM events WHERE value IS NOT NULL AND day(ts) <= 28
        |  GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT event_type,
        |         CAST(count(*) FILTER (WHERE half = 'a') AS BIGINT) AS na,
        |         CAST(count(*) FILTER (WHERE half = 'b') AS BIGINT) AS nb,
        |         CAST(sum(c) FILTER (WHERE half = 'a') AS BIGINT) AS sa,
        |         CAST(sum(c) FILTER (WHERE half = 'b') AS BIGINT) AS sb,
        |         CAST(sum(c * c) FILTER (WHERE half = 'a') AS BIGINT)
        |           AS qa,
        |         CAST(sum(c * c) FILTER (WHERE half = 'b') AS BIGINT)
        |           AS qb
        |  FROM d GROUP BY event_type
        |), e AS (
        |  SELECT event_type, na, nb,
        |         CAST(sa AS DOUBLE) / na / 100 AS mean_a,
        |         CAST(sb AS DOUBLE) / nb / 100 AS mean_b,
        |         (CAST(na * qa - sa * sa AS DOUBLE) / na
        |          + CAST(nb * qb - sb * sb AS DOUBLE) / nb)
        |           / (na + nb - 2) AS s2p
        |  FROM g WHERE na >= 2 AND nb >= 2
        |)
        |SELECT event_type, na, nb,
        |       floor(mean_a * 1000000) / 1000000 AS mean_a,
        |       floor(mean_b * 1000000) / 1000000 AS mean_b,
        |       CASE WHEN s2p = 0 THEN NULL
        |            ELSE floor((mean_a - mean_b) * 100 / sqrt(s2p)
        |                       * 1000000) / 1000000 END AS cohens_d,
        |       CASE WHEN s2p = 0 THEN NULL
        |            ELSE floor((mean_a - mean_b) * 100 / sqrt(s2p)
        |                       * (1 - CAST(3 AS DOUBLE)
        |                              / (4 * (na + nb) - 9))
        |                       * 1000000) / 1000000 END AS hedges_g
        |FROM e ORDER BY event_type""".stripMargin) { (s, d) =>
      val dd = t(s, d, "events")
        .where(col("value").isNotNull && dayofmonth(col("ts")) <= 28)
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          when(dayofmonth(col("ts")) <= 14, "a").otherwise("b").as("half"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      val g = dd.groupBy("event_type")
        .agg(count(when(col("half") === "a", 1)).as("na"),
          count(when(col("half") === "b", 1)).as("nb"),
          sum(when(col("half") === "a", col("c"))).as("sa"),
          sum(when(col("half") === "b", col("c"))).as("sb"),
          sum(when(col("half") === "a", col("c") * col("c"))).as("qa"),
          sum(when(col("half") === "b", col("c") * col("c"))).as("qb"))
        .where(col("na") >= 2 && col("nb") >= 2)
      val meanA = col("sa").cast("double") / col("na") / 100
      val meanB = col("sb").cast("double") / col("nb") / 100
      val s2p = (((col("na") * col("qa") - col("sa") * col("sa"))
        .cast("double") / col("na")
        + (col("nb") * col("qb") - col("sb") * col("sb"))
          .cast("double") / col("nb")) / (col("na") + col("nb") - 2))
      g.select(col("event_type"), col("na"), col("nb"),
          (floor(meanA * 1000000) / 1000000).as("mean_a"),
          (floor(meanB * 1000000) / 1000000).as("mean_b"),
          when(s2p === 0, lit(null))
            .otherwise(floor((meanA - meanB) * 100 / sqrt(s2p) * 1000000)
              / 1000000).as("cohens_d"),
          when(s2p === 0, lit(null))
            .otherwise(floor((meanA - meanB) * 100 / sqrt(s2p)
              * (lit(1) - lit(3).cast("double")
                / (lit(4) * (col("na") + col("nb")) - 9)) * 1000000)
              / 1000000).as("hedges_g"))
        .orderBy("event_type")
    },

    // Multiple OLS regression (round 8, cont. 6): daily revenue on
    // daily volume AND day index per event_type — the 2-regressor step
    // beyond agg_regression's simple OLS, separating "more events buy
    // more revenue" from calendar drift (omitted-variable bias the
    // simple slope conflates). Solved by the CENTERED normal equations
    // with Cramer's rule: S_ij = n*Sum(x_i x_j) - Sum(x_i)Sum(x_j) are
    // exact BIGINTs; the four b-numerator/denominator PRODUCTS (e.g.
    // S22*S1y) can reach ~1e20, so exactly those products compute in
    // DECIMAL(38,0) (oracle: HUGEINT) before ONE double division each —
    // both engines round the same exact integer to double. R² =
    // (b1*S1y + b2*S2y)/Syy from the same moments, identical IEEE
    // order. Plan: one fact scan, bounded (type, day) groupBy, one
    // moment aggregate, in-row assembly — zero windows/joins.
    Q("agg_regression_multi",
      """WITH d AS (
        |  SELECT event_type, CAST(day(ts) AS BIGINT) AS x2,
        |         CAST(count(*) AS BIGINT) AS x1,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x1) AS BIGINT) AS t1,
        |         CAST(sum(x2) AS BIGINT) AS t2,
        |         CAST(sum(y) AS BIGINT) AS ty,
        |         CAST(sum(x1 * x1) AS BIGINT) AS q11,
        |         CAST(sum(x1 * x2) AS BIGINT) AS q12,
        |         CAST(sum(x2 * x2) AS BIGINT) AS q22,
        |         CAST(sum(x1 * y) AS BIGINT) AS q1y,
        |         CAST(sum(x2 * y) AS BIGINT) AS q2y,
        |         CAST(sum(y * y) AS BIGINT) AS qyy
        |  FROM d GROUP BY event_type
        |), s AS (
        |  SELECT event_type, n, t1, t2, ty,
        |         n * q11 - t1 * t1 AS s11,
        |         n * q12 - t1 * t2 AS s12,
        |         n * q22 - t2 * t2 AS s22,
        |         n * q1y - t1 * ty AS s1y,
        |         n * q2y - t2 * ty AS s2y,
        |         n * qyy - ty * ty AS syy
        |  FROM m WHERE n >= 3
        |), b AS (
        |  SELECT event_type, n, t1, t2, ty, s1y, s2y, syy,
        |         CAST(s11 AS HUGEINT) * CAST(s22 AS HUGEINT)
        |           - CAST(s12 AS HUGEINT) * CAST(s12 AS HUGEINT) AS den,
        |         CAST(s22 AS HUGEINT) * CAST(s1y AS HUGEINT)
        |           - CAST(s12 AS HUGEINT) * CAST(s2y AS HUGEINT) AS nb1,
        |         CAST(s11 AS HUGEINT) * CAST(s2y AS HUGEINT)
        |           - CAST(s12 AS HUGEINT) * CAST(s1y AS HUGEINT) AS nb2
        |  FROM s
        |), r AS (
        |  SELECT event_type, n, syy, s1y, s2y,
        |         CAST(nb1 AS DOUBLE) / CAST(den AS DOUBLE) AS b1,
        |         CAST(nb2 AS DOUBLE) / CAST(den AS DOUBLE) AS b2,
        |         CAST(ty AS DOUBLE) AS tyd, CAST(t1 AS DOUBLE) AS t1d,
        |         CAST(t2 AS DOUBLE) AS t2d
        |  FROM b WHERE den <> 0
        |)
        |SELECT event_type, n AS n_days,
        |       floor(b1 / 100 * 1000000) / 1000000 AS b_volume,
        |       floor(b2 / 100 * 1000000) / 1000000 AS b_day,
        |       floor((tyd - b1 * t1d - b2 * t2d) / n / 100 * 1000000)
        |         / 1000000 AS intercept,
        |       CASE WHEN syy = 0 THEN NULL
        |            ELSE floor((b1 * CAST(s1y AS DOUBLE)
        |                        + b2 * CAST(s2y AS DOUBLE))
        |                       / CAST(syy AS DOUBLE) * 1000000) / 1000000
        |       END AS r2
        |FROM r ORDER BY event_type""".stripMargin) { (s, d) =>
      val dd = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("x2"))
        .agg(count(lit(1)).as("x1"),
          sum(round(col("value") * 100).cast("long")).as("y"))
      val m = dd.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("t1"), sum(col("x2")).as("t2"),
          sum(col("y")).as("ty"),
          sum(col("x1") * col("x1")).as("q11"),
          sum(col("x1") * col("x2")).as("q12"),
          sum(col("x2") * col("x2")).as("q22"),
          sum(col("x1") * col("y")).as("q1y"),
          sum(col("x2") * col("y")).as("q2y"),
          sum(col("y") * col("y")).as("qyy"))
        .where(col("n") >= 3)
      val dec = "decimal(38,0)"
      val withS = m.select(col("event_type"), col("n"), col("t1"),
        col("t2"), col("ty"),
        (col("n") * col("q11") - col("t1") * col("t1")).as("s11"),
        (col("n") * col("q12") - col("t1") * col("t2")).as("s12"),
        (col("n") * col("q22") - col("t2") * col("t2")).as("s22"),
        (col("n") * col("q1y") - col("t1") * col("ty")).as("s1y"),
        (col("n") * col("q2y") - col("t2") * col("ty")).as("s2y"),
        (col("n") * col("qyy") - col("ty") * col("ty")).as("syy"))
      val den = col("s11").cast(dec) * col("s22").cast(dec) -
        col("s12").cast(dec) * col("s12").cast(dec)
      val nb1 = col("s22").cast(dec) * col("s1y").cast(dec) -
        col("s12").cast(dec) * col("s2y").cast(dec)
      val nb2 = col("s11").cast(dec) * col("s2y").cast(dec) -
        col("s12").cast(dec) * col("s1y").cast(dec)
      val r = withS.where(den =!= 0)
        .select(col("event_type"), col("n"), col("syy"), col("s1y"),
          col("s2y"),
          (nb1.cast("double") / den.cast("double")).as("b1"),
          (nb2.cast("double") / den.cast("double")).as("b2"),
          col("ty").cast("double").as("tyd"),
          col("t1").cast("double").as("t1d"),
          col("t2").cast("double").as("t2d"))
      r.select(col("event_type"), col("n").as("n_days"),
          (floor(col("b1") / 100 * 1000000) / 1000000).as("b_volume"),
          (floor(col("b2") / 100 * 1000000) / 1000000).as("b_day"),
          (floor((col("tyd") - col("b1") * col("t1d")
            - col("b2") * col("t2d")) / col("n") / 100 * 1000000)
            / 1000000).as("intercept"),
          when(col("syy") === 0, lit(null))
            .otherwise(floor((col("b1") * col("s1y").cast("double")
              + col("b2") * col("s2y").cast("double"))
              / col("syy").cast("double") * 1000000) / 1000000).as("r2"))
        .orderBy("event_type")
    },

    // Herfindahl-Hirschman concentration index (round 8, cont. 6): how
    // concentrated is revenue across customers — the market/mix
    // concentration readout (HHI, its n-adjusted normalization, and the
    // CR10 top-10 share) a marketplace/risk review runs beside
    // etl_pareto_revenue's full curve. Exact: per-customer revenue folds
    // to BIGINT cents (round-the-value, the money invariant), Σc² runs
    // in DECIMAL(38,0) (oracle HUGEINT — BIGINT would overflow past
    // ~3e18 at ~100× this SF), and HHI = Σc²/S² divides exact integers
    // once. CR10's top-10 sum is tie-insensitive (equal boundary values
    // sum the same), so no tie-break is needed. Plan: one fact scan →
    // customer groupBy → single-row reduce + TakeOrderedAndProject
    // top-10 — no window, no global sort.
    Q("agg_hhi",
      """WITH c AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |         CAST(sum(cents) AS BIGINT) AS s,
        |         CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT))
        |              AS HUGEINT) AS q
        |  FROM c
        |), top AS (
        |  SELECT CAST(sum(cents) AS BIGINT) AS top10 FROM (
        |    SELECT cents FROM c ORDER BY cents DESC LIMIT 10)
        |)
        |SELECT n_customers,
        |       floor(CAST(s AS DOUBLE) / 100 * 100) / 100
        |         AS total_revenue,
        |       floor(CAST(q AS DOUBLE)
        |             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |             * 1000000) / 1000000 AS hhi,
        |       floor((CAST(q AS DOUBLE)
        |              / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |              - CAST(1 AS DOUBLE) / n_customers)
        |             / (1 - CAST(1 AS DOUBLE) / n_customers)
        |             * 1000000) / 1000000 AS hhi_normalized,
        |       floor(CAST(top10 AS DOUBLE) / CAST(s AS DOUBLE) * 1000000)
        |         / 1000000 AS cr10
        |FROM tot CROSS JOIN top""".stripMargin) { (s, d) =>
      val c = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .persist() // feeds the reduce AND the top-10 pick
      val tot = c.agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("s"),
        sum(col("cents").cast("decimal(38,0)")
          * col("cents").cast("decimal(38,0)")).as("q"))
      val top = c.orderBy(col("cents").desc).limit(10)
        .agg(sum(col("cents")).as("top10"))
      val hhi = (col("q").cast("double")
        / (col("s").cast("double") * col("s").cast("double")))
      tot.crossJoin(broadcast(top))
        .select(col("n_customers"),
          (floor(col("s").cast("double") / 100 * 100) / 100)
            .as("total_revenue"),
          (floor(hhi * 1000000) / 1000000).as("hhi"),
          (floor((hhi - lit(1).cast("double") / col("n_customers"))
            / (lit(1) - lit(1).cast("double") / col("n_customers"))
            * 1000000) / 1000000).as("hhi_normalized"),
          (floor(col("top10").cast("double") / col("s").cast("double")
            * 1000000) / 1000000).as("cr10"))
    },

    // Cross-table temporal sanity (round 8, cont. 6): the data-contract
    // audit dq_referential (key existence) cannot see — do the FACTS
    // agree in TIME? Two invariants per order status: a line item must
    // not ship BEFORE its order, nor more than 180 days AFTER it
    // (stale-pipeline / clock-skew detectors; TPC-H ships within ~122
    // days, so the 180-day band flags generator drift too). Plan: ONE
    // co-keyed fact⋈fact join (both sides shuffle on orderkey — the
    // canonical co-partitioned join, nothing broadcast) into a bounded
    // per-status aggregate; integer counts, one rate division each.
    Q("dq_temporal_sanity",
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(count(*) FILTER (WHERE l_shipdate < o_orderdate)
        |            AS BIGINT) AS ship_before_order,
        |       CAST(count(*) FILTER (
        |              WHERE l_shipdate > o_orderdate + INTERVAL 180 DAY)
        |            AS BIGINT) AS ship_beyond_180d,
        |       floor((CAST(count(*) FILTER (WHERE l_shipdate < o_orderdate)
        |                   AS DOUBLE)
        |              + count(*) FILTER (
        |                  WHERE l_shipdate > o_orderdate
        |                        + INTERVAL 180 DAY))
        |             / count(*) * 1000000) / 1000000 AS violation_rate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, d) =>
        val j = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
          .join(t(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate"),
              col("o_orderstatus")),
            col("l_orderkey") === col("o_orderkey"))
        val early = col("l_shipdate") < col("o_orderdate")
        val late = col("l_shipdate") >
          expr("o_orderdate + INTERVAL 180 DAY")
        j.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_lines"),
            count(when(early, 1)).as("ship_before_order"),
            count(when(late, 1)).as("ship_beyond_180d"))
          .select(col("o_orderstatus"), col("n_lines"),
            col("ship_before_order"), col("ship_beyond_180d"),
            (floor((col("ship_before_order").cast("double")
              + col("ship_beyond_180d")) / col("n_lines") * 1000000)
              / 1000000).as("violation_rate"))
          .orderBy("o_orderstatus")
    },

    // Benford MAD conformity verdict (round 8, cont. 6): Nigrini's mean
    // absolute deviation over the 9 first-digit shares, with the
    // published verdict bands (<0.006 close, <0.012 acceptable, <0.015
    // marginal, else nonconformity) — the ONE-NUMBER forensic verdict on
    // top of agg_benford's per-digit table. EXACT: the 6-dp Benford
    // expectations are integer LITERALS scaled by 1e6 (the
    // agg_circular_stats literal-table doctrine — no libm log10 in the
    // statistic), so MAD·N·9e6 = Σ_d |n_d·1e6 − E_d·N| is an exact
    // BIGINT including ZERO-COUNT digits (the in-row fold walks 1..9,
    // not just observed digits); one division chain at display, and the
    // verdict branches on the FLOORED mad in both engines. Plan: one
    // scan, 9-row groupBy, in-row fold — zero windows/joins.
    Q("agg_benford_mad",
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1
        |), g AS (
        |  SELECT list(struct_pack(digit := digit, n := n)
        |              ORDER BY digit) AS l,
        |         CAST(sum(n) AS BIGINT) AS total
        |  FROM c
        |), m AS (
        |  SELECT total,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, 10), d ->
        |             abs(coalesce(list_filter(l,
        |                   e -> e.digit = d)[1].n, 0) * 1000000
        |                 - [301030, 176091, 124939, 96910, 79181, 66947,
        |                    57992, 51153, 45757][CAST(d AS INT)] * total))),
        |           (a, x) -> a + x) AS sad
        |  FROM g
        |)
        |SELECT total AS n,
        |       floor(CAST(sad AS DOUBLE) / total / 9 / 1000000 * 1000000)
        |         / 1000000 AS mad,
        |       CASE WHEN floor(CAST(sad AS DOUBLE) / total / 9 / 1000000
        |                       * 1000000) / 1000000 < 0.006
        |              THEN '1_close'
        |            WHEN floor(CAST(sad AS DOUBLE) / total / 9 / 1000000
        |                       * 1000000) / 1000000 < 0.012
        |              THEN '2_acceptable'
        |            WHEN floor(CAST(sad AS DOUBLE) / total / 9 / 1000000
        |                       * 1000000) / 1000000 < 0.015
        |              THEN '3_marginal'
        |            ELSE '4_nonconformity' END AS verdict
        |FROM m""".stripMargin) { (s, d) =>
      val c = t(s, d, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val m = c.agg(
        expr("sort_array(collect_list(struct(digit, n)))").as("l"),
        sum(col("n")).as("total"))
        .select(col("total"),
          expr(
            """aggregate(transform(sequence(1, 9), d ->
              |    abs(coalesce(element_at(filter(l,
              |          e -> e.digit = d), 1).n, CAST(0 AS BIGINT))
              |          * 1000000
              |        - element_at(array(301030L, 176091L, 124939L,
              |            96910L, 79181L, 66947L, 57992L, 51153L,
              |            45757L), CAST(d AS INT)) * total)),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("sad"))
      val mad = floor(col("sad").cast("double") / col("total") / 9
        / 1000000 * 1000000) / 1000000
      m.select(col("total").as("n"), mad.as("mad"),
        when(mad < 0.006, "1_close")
          .when(mad < 0.012, "2_acceptable")
          .when(mad < 0.015, "3_marginal")
          .otherwise("4_nonconformity").as("verdict"))
    },

    // Circular (hour-of-day) statistics (round 8, cont. 6): how
    // CONCENTRATED is each event type around its peak hour — the mean
    // resultant length R̄ = |Σ e^(iθ)|/n over θ = 2π·hour/24 (Fisher,
    // Statistical Analysis of Circular Data): R̄ ~ 0 = around-the-clock
    // traffic, R̄ → 1 = a single-hour spike; the 24h-seasonality scalar
    // a linear mean of hours gets WRONG at midnight wraparound. NO libm
    // trig in either engine: hours bucket to 24 cells and cos/sin come
    // from a shared 6-dp LITERAL table (DECIMAL(8,6)), so C = Σn_k·c_k
    // and S = Σn_k·s_k are EXACT DECIMAL sums (order-independent) and
    // the only float ops are one sqrt + one division. Peak hour via the
    // BIGINT encode n·24 + (23−hour) (max → largest count, ties to the
    // earliest hour). Plan: one fact scan, bounded (type, hour) groupBy,
    // map-side literal lookup — zero windows/joins.
    Q("agg_circular_stats", {
      val cos24 = Seq("1.0", "0.965926", "0.866025", "0.707107", "0.5",
        "0.258819", "0.0", "-0.258819", "-0.5", "-0.707107", "-0.866025",
        "-0.965926", "-1.0", "-0.965926", "-0.866025", "-0.707107",
        "-0.5", "-0.258819", "0.0", "0.258819", "0.5", "0.707107",
        "0.866025", "0.965926")
      val sin24 = Seq("0.0", "0.258819", "0.5", "0.707107", "0.866025",
        "0.965926", "1.0", "0.965926", "0.866025", "0.707107", "0.5",
        "0.258819", "0.0", "-0.258819", "-0.5", "-0.707107", "-0.866025",
        "-0.965926", "-1.0", "-0.965926", "-0.866025", "-0.707107",
        "-0.5", "-0.258819")
      def arr(xs: Seq[String]) =
        xs.map(x => s"CAST($x AS DECIMAL(8,6))").mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT event_type, CAST(hour(ts) AS INT) AS h,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2
         |), g AS (
         |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
         |         sum(n * ${arr(cos24)}[h + 1]) AS cs,
         |         sum(n * ${arr(sin24)}[h + 1]) AS sn,
         |         max(n * 24 + (23 - h)) AS enc
         |  FROM c GROUP BY event_type
         |)
         |SELECT event_type, n,
         |       CAST(23 - enc % 24 AS BIGINT) AS peak_hour,
         |       enc // 24 AS peak_n,
         |       floor(sqrt(CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
         |                  + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
         |             / n * 1000000) / 1000000 AS resultant
         |FROM g ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      val cos24 = Seq("1.0", "0.965926", "0.866025", "0.707107", "0.5",
        "0.258819", "0.0", "-0.258819", "-0.5", "-0.707107", "-0.866025",
        "-0.965926", "-1.0", "-0.965926", "-0.866025", "-0.707107",
        "-0.5", "-0.258819", "0.0", "0.258819", "0.5", "0.707107",
        "0.866025", "0.965926")
      val sin24 = Seq("0.0", "0.258819", "0.5", "0.707107", "0.866025",
        "0.965926", "1.0", "0.965926", "0.866025", "0.707107", "0.5",
        "0.258819", "0.0", "-0.258819", "-0.5", "-0.707107", "-0.866025",
        "-0.965926", "-1.0", "-0.965926", "-0.866025", "-0.707107",
        "-0.5", "-0.258819")
      def arr(xs: Seq[String]) =
        xs.map(x => s"CAST($x AS DECIMAL(8,6))").mkString("array(", ", ", ")")
      val g = t(s, d, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("event_type")
        .agg(sum(col("cnt")).as("n"),
          sum(col("cnt") * expr(s"element_at(${arr(cos24)}, h + 1)"))
            .as("cs"),
          sum(col("cnt") * expr(s"element_at(${arr(sin24)}, h + 1)"))
            .as("sn"),
          max(col("cnt") * 24 + (lit(23) - col("h"))).as("enc"))
      g.select(col("event_type"), col("n"),
          (lit(23) - col("enc") % 24).cast("long").as("peak_hour"),
          expr("enc DIV 24").as("peak_n"),
          (floor(sqrt(col("cs").cast("double") * col("cs").cast("double")
            + col("sn").cast("double") * col("sn").cast("double"))
            / col("n") * 1000000) / 1000000).as("resultant"))
        .orderBy("event_type")
    },

    // DAU/MAU stickiness (round 8, cont. 6): per day, the active-user
    // count, the trailing-28-day distinct-user count, and their ratio —
    // THE product-engagement readout (how much of the monthly audience
    // shows up daily) beside etl_churn_daily's flow view. The MAU is
    // computed WITHOUT a distinct-over-range window (no engine does
    // that efficiently): each (user, day) observation explodes
    // arithmetically into the <=28 future report days it keeps the user
    // active for, then ONE (day, user) distinct + count — a map-side
    // *28 fan-out of the already-deduplicated user-day frame, the shape
    // that survives 100 TB (fan-out bounded by the window length, never
    // by the data). The bounded observed-days frame broadcast-semi-joins
    // away phantom days past the horizon.
    Q("etl_dau_mau",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM ud
        |)
        |SELECT d.day,
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ud
        |        WHERE ud.day = d.day) AS dau,
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ud
        |        WHERE ud.day BETWEEN d.day - 27 AND d.day) AS mau28,
        |       floor((SELECT CAST(count(DISTINCT user_id) AS DOUBLE)
        |              FROM ud WHERE ud.day = d.day)
        |             / (SELECT count(DISTINCT user_id) FROM ud
        |                WHERE ud.day BETWEEN d.day - 27 AND d.day)
        |             * 1000000) / 1000000 AS stickiness
        |FROM days d ORDER BY d.day""".stripMargin) { (s, d) =>
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .persist() // referenced by dau, the mau fan-out, and days
      val days = ud.select("day").distinct()
      val dau = ud.groupBy("day")
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = ud
        .select(col("user_id"),
          explode(expr(
            "sequence(day, date_add(day, 27), interval 1 day)"))
            .as("day"))
        .join(broadcast(days), Seq("day"), "left_semi")
        .distinct()
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("mau28"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau28"),
          (floor(col("dau").cast("double") / col("mau28") * 1000000)
            / 1000000).as("stickiness"))
        .orderBy("day")
    },

    // Functional-dependency audit (round 9): given a CLAIMED dependency
    // lhs → rhs (here l_partkey → l_suppkey, deliberately false — a part
    // ships from many suppliers), report how badly the data violates it:
    // total lhs values, violating lhs count and rate, and the top-10
    // worst offenders with their distinct-rhs counts. This is the dq
    // check that catches "we assumed order_id determines warehouse"
    // before a dedup-by-lhs silently drops rows. Plan: ONE (lhs, rhs)
    // distinct + lhs groupBy (both two-phase map-side), summary via a
    // broadcast 1-row cross join, top-10 fused to TakeOrderedAndProject —
    // no windows, no fact-side collect.
    Q("dq_fd_violations",
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |), lhs AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rhs,
        |         CAST(sum(n_rows) AS BIGINT) AS n_rows
        |  FROM pairs GROUP BY l_partkey
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_lhs,
        |         CAST(count(*) FILTER (WHERE n_rhs > 1) AS BIGINT)
        |           AS n_violating,
        |         floor(count(*) FILTER (WHERE n_rhs > 1) * 1.0 / count(*)
        |               * 1000000) / 1000000 AS violation_rate
        |  FROM lhs
        |)
        |SELECT l_partkey, n_rhs, n_rows, n_lhs, n_violating, violation_rate
        |FROM lhs CROSS JOIN s
        |WHERE n_rhs > 1
        |ORDER BY n_rhs DESC, n_rows DESC, l_partkey LIMIT 10""".stripMargin) {
      (s, d) =>
      val pairs = t(s, d, "lineitem")
        .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("n_rows"))
      val lhs = pairs.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rhs"), sum(col("n_rows")).as("n_rows"))
      val summary = lhs.agg(
        count(lit(1)).as("n_lhs"),
        count(when(col("n_rhs") > 1, 1)).as("n_violating"),
        (floor(count(when(col("n_rhs") > 1, 1)) * lit(1.0) / count(lit(1))
          * 1000000) / 1000000).as("violation_rate"))
      lhs.crossJoin(broadcast(summary))
        .where(col("n_rhs") > 1)
        .orderBy(col("n_rhs").desc, col("n_rows").desc, col("l_partkey"))
        .limit(10)
        .select("l_partkey", "n_rhs", "n_rows", "n_lhs", "n_violating",
          "violation_rate")
    },

    // Freshness / staleness audit (round 9): per event type, how far its
    // newest event lags the stream's global watermark — the "is source X
    // still flowing?" check every ingest dashboard leads with (a stuck
    // upstream shows up as one type's lag racing ahead while volume
    // looks normal for days). Seconds via the floor(epoch) contract
    // (§7.4). Plan: one fact scan → bounded per-type max + a broadcast
    // 1-row global max — two map-side-partial aggregates, nothing else.
    Q("dq_freshness",
      """WITH per AS (
        |  SELECT event_type, max(ts) AS last_ts,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY event_type
        |), g AS (SELECT max(last_ts) AS wm FROM per)
        |SELECT event_type, last_ts, n_events,
        |       CAST(floor(epoch(wm)) AS BIGINT)
        |         - CAST(floor(epoch(last_ts)) AS BIGINT) AS lag_seconds,
        |       CAST(CAST(floor(epoch(wm)) AS BIGINT)
        |              - CAST(floor(epoch(last_ts)) AS BIGINT) > 86400
        |            AS INT) AS is_stale
        |FROM per CROSS JOIN g ORDER BY event_type""".stripMargin) { (s, d) =>
      val per = Tables(s, d, "events").groupBy("event_type")
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
      val g = per.agg(max(col("last_ts")).as("wm"))
      per.crossJoin(broadcast(g))
        .select(col("event_type"), col("last_ts"), col("n_events"),
          (unix_timestamp(col("wm")) - unix_timestamp(col("last_ts")))
            .as("lag_seconds"))
        .withColumn("is_stale", (col("lag_seconds") > 86400).cast("int"))
        .orderBy("event_type")
    },

    // Hodges-Lehmann pseudo-median (round 9): median of all pairwise
    // Walsh averages (xᵢ+xⱼ)/2, i ≤ j, of the 1995 daily revenue per
    // order priority — the location estimator dual to the Wilcoxon
    // signed-rank test (agg_wilcoxon_signed), ~95% Gaussian efficiency
    // with a 29% breakdown point where the mean's is 0 and the plain
    // median's efficiency is 64%. Completes the robust-location panel:
    // agg_trimmed_mean (fenced trim), agg_theil_sen (robust slope),
    // agg_mad_outliers (robust spread) — HL is the one a revenue
    // "typical day" readout should quote when a quarter of days are
    // promo-spiked. EXACT: daily cents are BIGINT, each Walsh pair
    // rides as w2 = cᵢ+cⱼ (= 2·avg, integer), the median of w2 comes
    // from explicit order statistics over the in-row sorted array
    // (lo+hi = 4·HL, integer), and the one display division by 4 is
    // exact in binary. No window anywhere.
    //
    // Scale shape: the quadratic pair build runs on the calendar-
    // BOUNDED daily frame (365 days × 5 priorities → ≤67k pairs per
    // group from ONE map-side-combinable fact groupBy) — arithmetic at
    // the report grain, not the fact; the in-row sorted array is
    // ~67k longs ≈ 0.5 MB, SF-independent. 100× the fact grows only
    // the first aggregate. (At an unbounded grain the dial is the
    // RankFence exact-rank family over the w2 frame instead of the
    // in-row array — same boundary-pick arithmetic, distributed.)
    Q("agg_hodges_lehmann",
      """WITH daily AS (
        |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT a.pri, a.cents + b.cents AS w2
        |  FROM daily a JOIN daily b ON a.pri = b.pri AND a.day <= b.day
        |), g AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n_walsh,
        |         list(w2 ORDER BY w2) AS arr
        |  FROM w GROUP BY pri
        |)
        |SELECT pri AS o_orderpriority, n_walsh,
        |       CAST(arr[CAST((n_walsh + 1) // 2 AS INT)]
        |            + arr[CAST((n_walsh + 2) // 2 AS INT)] AS BIGINT)
        |         AS hl_x4,
        |       CAST(arr[CAST((n_walsh + 1) // 2 AS INT)]
        |            + arr[CAST((n_walsh + 2) // 2 AS INT)] AS DOUBLE) / 4.0
        |         AS hl_cents
        |FROM g ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val daily = t(s, d, "orders")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val b = daily.select(col("pri").as("pri2"), col("day").as("d2"),
        col("cents").as("c2"))
      daily.join(b, col("pri") === col("pri2") && col("day") <= col("d2"))
        .select(col("pri"), (col("cents") + col("c2")).as("w2"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n_walsh"),
          sort_array(collect_list(col("w2"))).as("arr"))
        .select(col("pri").as("o_orderpriority"), col("n_walsh"),
          expr("""element_at(arr, CAST((n_walsh + 1) DIV 2 AS INT))
                 | + element_at(arr, CAST((n_walsh + 2) DIV 2 AS INT))"""
            .stripMargin).as("hl_x4"))
        .withColumn("hl_cents", col("hl_x4").cast("double") / 4.0)
        .orderBy("o_orderpriority")
    },

    // Embedding-norm hygiene audit (round 9): per label — vector count,
    // zero-vector count, min/max/RMS L2 norm on the shared 1e-7 tick
    // grid. The vector-column entry of the dq_profile family: a
    // mis-normalized batch (norms far from 1), an all-zeros failure
    // mode from a crashed encoder, or one label's drifted scale all
    // surface HERE before they poison cosine similarity (which
    // silently ranks by magnitude when inputs aren't unit) — the gate
    // a pipeline runs between embed and index/dedup
    // (llm_ann_*/llm_semantic_dedup). EXACT: per-vector Σtick² folds
    // in-row into DECIMAL(38,0)/HUGEINT (the PCA scatter's overflow
    // lesson: 64·(1e9)² per vector can pass BIGINT range), per-label
    // min/max/Σ of those integers are exact, and the three sqrt calls
    // are correctly-rounded IEEE ops on identical operands.
    //
    // Scale shape: ONE map-side pass (the fold is in-row) + a bounded
    // per-label aggregate — embarrassingly parallel at any SF.
    Q("dq_embedding_norms",
      """WITH x AS (
        |  SELECT label,
        |         list_transform(embedding, v ->
        |           CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT))
        |           AS xi
        |  FROM embeddings
        |), n2 AS (
        |  SELECT label,
        |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |             list_transform(xi, v -> CAST(v AS HUGEINT) * v)),
        |           (a, b) -> a + b) AS n2
        |  FROM x
        |)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(least(min(n2), 9223372036854775807) AS BIGINT)
        |    AS min_norm2_ticks,
        |  CAST(least(max(n2), 9223372036854775807) AS BIGINT)
        |    AS max_norm2_ticks,
        |  floor(sqrt(CAST(CAST(least(min(n2), 9223372036854775807) AS BIGINT)
        |                  AS DOUBLE)) / 10000000 * 1000000)
        |    / 1000000 AS min_norm,
        |  floor(sqrt(CAST(CAST(least(max(n2), 9223372036854775807) AS BIGINT)
        |                  AS DOUBLE)) / 10000000 * 1000000)
        |    / 1000000 AS max_norm,
        |  floor(sqrt(CAST(sum(n2) AS DOUBLE) / count(*)) / 10000000
        |        * 1000000) / 1000000 AS rms_norm
        |FROM n2 GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val n2 = t(s, d, "embeddings")
        .select(col("label"),
          expr("""aggregate(
                 |  transform(embedding, v ->
                 |    CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT)),
                 |  CAST(0 AS DECIMAL(38,0)),
                 |  (a, v) -> a + CAST(v AS DECIMAL(19,0))
                 |                * CAST(v AS DECIMAL(19,0)))"""
            .stripMargin).as("n2"))
      // ticks clamp (round 10 — ADVICE r9: the DECIMAL accumulator exists
      // BECAUSE per-vector Σtick² can pass BIGINT range, but the readout
      // cast then overflowed differently per engine: DuckDB throws,
      // non-ANSI Spark yields null. least() against Long.MaxValue makes
      // the guarded case saturate identically in both engines; the norm
      // columns derive from the SAME clamped value)
      n2.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
          least(min(col("n2")), lit(Long.MaxValue).cast("decimal(38,0)"))
            .cast("long").as("min_norm2_ticks"),
          least(max(col("n2")), lit(Long.MaxValue).cast("decimal(38,0)"))
            .cast("long").as("max_norm2_ticks"),
          sum(col("n2")).as("sum_n2"))
        .select(col("label"), col("n_vecs"), col("n_zero"),
          col("min_norm2_ticks"), col("max_norm2_ticks"),
          (floor(sqrt(col("min_norm2_ticks").cast("double")) / 10000000
            * 1000000) / 1000000).as("min_norm"),
          (floor(sqrt(col("max_norm2_ticks").cast("double")) / 10000000
            * 1000000) / 1000000).as("max_norm"),
          (floor(sqrt(col("sum_n2").cast("double") / col("n_vecs"))
            / 10000000 * 1000000) / 1000000).as("rms_norm"))
        .orderBy("label")
    },

    // Two-sample Anderson-Darling drift test (round 9, cont.): ref
    // window (ts < 2024-01-16) vs current per event_type over value —
    // the TAIL-WEIGHTED member completing the drift panel: dq_ks_test
    // reacts to the biggest single ECDF gap (body shifts), dq_psi_drift
    // to binned mass moves, agg_mann_whitney to location; AD's
    // 1/(B(N−B)) weight amplifies discrepancies in the tails, where
    // latency/fraud drift actually lives and KS is least powerful.
    // Ties-adapted (right-inclusive ECDF) discrete form pinned in both
    // engines (Scholz & Stephens 1987, k=2 — both samples' terms
    // collapse onto one cross-product): A² = (1/(n₁·n₂·N)) ·
    // Σ_{bins, B<N} l·(N·M − n₁·B)²/(B·(N−B)) with
    // M/B cumulative inclusive ref/pooled counts — integer-valued
    // doubles folded in-row over the value-sorted bin list (the
    // mann_whitney shape) with a fixed-arity [M, B, acc] DOUBLE
    // accumulator; identical op sequences both engines, floor-scaled.
    //
    // Scale shape: ONE map-side-combinable (type, value) groupBy
    // collapses the fact; the fold runs over the bounded value-tick
    // domain per type. Same asymptote as dq_ks_test.
    Q("agg_anderson_darling",
      """WITH b AS (
        |  SELECT event_type, value,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         list([CAST(c1 AS DOUBLE), CAST(c2 AS DOUBLE)]
        |              ORDER BY value) AS bins
        |  FROM b GROUP BY event_type
        |), f AS (
        |  SELECT event_type, n1, n2, n1 + n2 AS n,
        |         list_reduce(list_prepend([0.0, 0.0, 0.0], bins),
        |           (a, x) -> [
        |             a[1] + x[1],
        |             a[2] + x[1] + x[2],
        |             a[3] + CASE WHEN a[2] + x[1] + x[2] < n1 + n2
        |               THEN (x[1] + x[2])
        |                    * ((n1 + n2) * (a[1] + x[1])
        |                       - n1 * (a[2] + x[1] + x[2]))
        |                    * ((n1 + n2) * (a[1] + x[1])
        |                       - n1 * (a[2] + x[1] + x[2]))
        |                    / ((a[2] + x[1] + x[2])
        |                       * ((n1 + n2) - (a[2] + x[1] + x[2])))
        |               ELSE 0.0 END]) AS acc
        |  FROM g
        |)
        |SELECT event_type, n1 AS n_ref, n2 AS n_cur,
        |       floor(acc[3] / n1 / n2 / n * 1000000) / 1000000 AS ad_stat
        |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
      val split = lit("2024-01-16").cast("timestamp")
      val b = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), col("value"))
        .agg(
          sum(when(col("ts") < split, 1L).otherwise(0L)).as("c1"),
          sum(when(col("ts") >= split, 1L).otherwise(0L)).as("c2"))
      b.groupBy("event_type")
        .agg(sum("c1").as("n1"), sum("c2").as("n2"),
          expr("""transform(sort_array(collect_list(struct(value, c1, c2))),
                 |  e -> array(CAST(e.c1 AS DOUBLE), CAST(e.c2 AS DOUBLE)))"""
            .stripMargin).as("bins"))
        .select(col("event_type"), col("n1"), col("n2"),
          (col("n1") + col("n2")).as("n"),
          expr("""aggregate(bins, array(0d, 0d, 0d),
                 |  (a, x) -> array(
                 |    a[0] + x[0],
                 |    a[1] + x[0] + x[1],
                 |    a[2] + CASE WHEN a[1] + x[0] + x[1] < n1 + n2
                 |      THEN (x[0] + x[1])
                 |           * ((n1 + n2) * (a[0] + x[0])
                 |              - n1 * (a[1] + x[0] + x[1]))
                 |           * ((n1 + n2) * (a[0] + x[0])
                 |              - n1 * (a[1] + x[0] + x[1]))
                 |           / ((a[1] + x[0] + x[1])
                 |              * ((n1 + n2) - (a[1] + x[0] + x[1])))
                 |      ELSE 0d END))""".stripMargin).as("acc"))
        .select(col("event_type"),
          col("n1").as("n_ref"), col("n2").as("n_cur"),
          (floor(expr("acc[2]") / col("n1") / col("n2") / col("n")
            * 1000000) / 1000000).as("ad_stat"))
        .orderBy("event_type")
    },

    // Class-balance audit (round 9, cont.): label distribution of the
    // embeddings table in one row — label count, totals, max/min class
    // share, imbalance ratio, Shannon entropy. The classification twin
    // of llm_source_mix_kl's source-mix audit: a skewed label column
    // silently biases every downstream consumer (llm_cluster_purity's
    // majority vote, stratified splits, a probe classifier), and the
    // imbalance ratio is the first number a resampling decision needs.
    // Entropy's ln() calls fold in label order over the BOUNDED label
    // list (both engines execute identical call sequences in
    // compare-free positions — the agg_entropy / llm_zipf_slope
    // contract), floor-scaled at display.
    //
    // Scale shape: ONE map-side-combinable label groupBy collapses the
    // table; everything after is arithmetic on the ≤|labels| list.
    Q("dq_label_balance",
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY label
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(n) AS BIGINT) AS tot,
        |         CAST(max(n) AS BIGINT) AS mx,
        |         CAST(min(n) AS BIGINT) AS mn,
        |         list(CAST(n AS DOUBLE) ORDER BY label) AS ns
        |  FROM c
        |)
        |SELECT k AS n_labels, tot AS n_vecs, mx AS max_n, mn AS min_n,
        |  floor(CAST(mx AS DOUBLE) / tot * 1000000) / 1000000 AS max_share,
        |  floor(CAST(mx AS DOUBLE) / mn * 1000000) / 1000000 AS imbalance,
        |  floor(-list_reduce(list_prepend(0.0,
        |          list_transform(ns, x -> x / tot * ln(x / tot))),
        |        (a, b) -> a + b) * 1000000) / 1000000 AS entropy
        |FROM t""".stripMargin) { (s, d) =>
      t(s, d, "embeddings")
        .groupBy("label").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("k"), sum("n").as("tot"),
          max("n").as("mx"), min("n").as("mn"),
          expr("""transform(sort_array(collect_list(
                 |  struct(label, CAST(n AS DOUBLE) AS nd))), e -> e.nd)"""
            .stripMargin).as("ns"))
        .select(col("k").as("n_labels"), col("tot").as("n_vecs"),
          col("mx").as("max_n"), col("mn").as("min_n"),
          (floor(col("mx").cast("double") / col("tot") * 1000000)
            / 1000000).as("max_share"),
          (floor(col("mx").cast("double") / col("mn") * 1000000)
            / 1000000).as("imbalance"),
          (floor(-expr(
            """aggregate(transform(ns, x -> x / tot * ln(x / tot)),
              | 0d, (a, b) -> a + b)""".stripMargin) * 1000000)
            / 1000000).as("entropy"))
    },

    // Ljung–Box portmanteau test (round 10; Ljung & Box 1978): per
    // event_type, are the daily-volume autocorrelations at lags 1..7
    // jointly zero — the white-noise test run on forecast RESIDUALS to
    // decide whether etl_forecast_holt/_hw left structure on the table
    // (a high lb_q at lag 7 says the model missed a weekly cycle;
    // etl_autocorr_daily is the lag-1 smell test this generalizes).
    // Determinism doctrine: autocovariances are computed from n²-scaled
    // integer moments — num_k = Σ(N·x_t − S)(N·x_{t−k} − S), den =
    // Σ(N·x_t − S)² are exact BIGINTs (n²·c_k with x̄ cleared), so
    // ρ_k = round(num/den, 6) is ONE double division of two exact
    // integers and the statistic assembles from 6-dp-pinned terms; the
    // cumulative Q_k fold runs over the ≤7-row per-type lag frame.
    // Plan: events reduce to the bounded (type × day) frame map-side;
    // 7 lag columns in one window pass; one moment aggregate; the
    // lag unpivot and Q fold touch 35 rows.
    Q("agg_ljung_box",
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(n) AS BIGINT) AS s
        |  FROM daily GROUP BY 1
        |), lg AS (
        |  SELECT d.event_type, nd, s, n,
        |         lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
        |         lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
        |         lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
        |         lag(n, 7) OVER w AS l7
        |  FROM daily d JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY day)
        |), mo AS (
        |  SELECT event_type, max(nd) AS nd,
        |    CAST(sum((nd*n - s) * (nd*n - s)) AS BIGINT) AS den,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN (nd*n - s) * (nd*l1 - s) END) AS BIGINT) AS m1,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN (nd*n - s) * (nd*l2 - s) END) AS BIGINT) AS m2,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN (nd*n - s) * (nd*l3 - s) END) AS BIGINT) AS m3,
        |    CAST(sum(CASE WHEN l4 IS NOT NULL THEN (nd*n - s) * (nd*l4 - s) END) AS BIGINT) AS m4,
        |    CAST(sum(CASE WHEN l5 IS NOT NULL THEN (nd*n - s) * (nd*l5 - s) END) AS BIGINT) AS m5,
        |    CAST(sum(CASE WHEN l6 IS NOT NULL THEN (nd*n - s) * (nd*l6 - s) END) AS BIGINT) AS m6,
        |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN (nd*n - s) * (nd*l7 - s) END) AS BIGINT) AS m7
        |  FROM lg GROUP BY event_type
        |), up AS (
        |  SELECT event_type, nd, den, CAST(k AS BIGINT) AS lag,
        |         CASE k WHEN 1 THEN m1 WHEN 2 THEN m2 WHEN 3 THEN m3
        |                WHEN 4 THEN m4 WHEN 5 THEN m5 WHEN 6 THEN m6
        |                ELSE m7 END AS num
        |  FROM mo CROSS JOIN (SELECT unnest(range(1, 8)) AS k)
        |), rho AS (
        |  SELECT event_type, nd, lag,
        |         round(CAST(num AS DOUBLE) / nullif(den, 0), 6) AS rho
        |  FROM up
        |)
        |SELECT event_type, lag, nd AS n_days, rho,
        |       round(nd * (nd + 2) * sum(rho * rho / (nd - lag)) OVER (
        |         PARTITION BY event_type ORDER BY lag
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS lb_q
        |FROM rho WHERE nd > lag
        |ORDER BY event_type, lag""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("n").as("s"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lg = daily
        .select(col("event_type") +: col("n") +:
          (1 to 7).map(k => lag(col("n"), k).over(w).as(s"l$k")): _*)
        .join(broadcast(st), Seq("event_type"))
      def c0 = col("nd") * col("n") - col("s")
      val moCols = max("nd").as("nd") +: sum(c0 * c0).as("den") +:
        (1 to 7).map(k => sum(when(col(s"l$k").isNotNull,
          c0 * (col("nd") * col(s"l$k") - col("s")))).as(s"m$k"))
      val mo = lg.groupBy("event_type").agg(moCols.head, moCols.tail: _*)
      val up = mo.crossJoin(
          broadcast(s.range(1, 8).select(col("id").as("lag"))))
        .select(col("event_type"), col("nd"), col("den"), col("lag"),
          (2 to 7).foldLeft(when(col("lag") === 1, col("m1"))) {
            (acc, k) => acc.when(col("lag") === k, col(s"m$k"))
          }.as("num"))
      val wq = Window.partitionBy("event_type").orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      up.select(col("event_type"), col("lag"), col("nd").as("n_days"),
          round(col("num").cast("double") /
            when(col("den") =!= 0, col("den")), 6).as("rho"),
          col("nd"), col("den"))
        .where(col("nd") > col("lag"))
        .select(col("event_type"), col("lag"), col("n_days"), col("rho"),
          round(col("nd") * (col("nd") + 2) *
            sum(col("rho") * col("rho") / (col("nd") - col("lag"))).over(wq),
            6).as("lb_q"))
        .orderBy("event_type", "lag")
    },

    // Durbin–Watson statistic (round 10; Durbin & Watson 1950): the
    // lag-1 residual-autocorrelation diagnostic agg_ljung_box
    // generalizes — DW ≈ 2(1−ρ₁), so ~2 = white noise, →0 = positive
    // serial correlation, →4 = negative. Same (type × day) bounded
    // frame; same integer doctrine: the numerator Σ(xₜ−xₜ₋₁)² is exact
    // BIGINT as-is, the denominator clears x̄ by N-scaling — num·N² /
    // Σ(N·x−S)² is a single double division of two exact integers.
    Q("agg_durbin_watson",
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(n) AS BIGINT) AS s
        |  FROM daily GROUP BY 1
        |), lg AS (
        |  SELECT d.event_type, nd, s, n,
        |         lag(n) OVER (PARTITION BY d.event_type ORDER BY day) AS pn
        |  FROM daily d JOIN st USING (event_type)
        |), mo AS (
        |  SELECT event_type, max(nd) AS n_days,
        |    CAST(sum(CASE WHEN pn IS NOT NULL
        |                  THEN (n - pn) * (n - pn) END) AS BIGINT) AS num,
        |    CAST(sum((nd*n - s) * (nd*n - s)) AS BIGINT) AS den
        |  FROM lg GROUP BY event_type
        |)
        |SELECT event_type, n_days,
        |       round(CAST(num AS DOUBLE) * n_days * n_days
        |             / nullif(den, 0), 6) AS dw_stat
        |FROM mo ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("n").as("s"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lg = daily
        .select(col("event_type"), col("n"), lag(col("n"), 1).over(w).as("pn"))
        .join(broadcast(st), Seq("event_type"))
      def c0 = col("nd") * col("n") - col("s")
      lg.groupBy("event_type")
        .agg(max("nd").as("n_days"),
          sum(when(col("pn").isNotNull,
            (col("n") - col("pn")) * (col("n") - col("pn")))).as("num"),
          sum(c0 * c0).as("den"))
        .select(col("event_type"), col("n_days"),
          round(col("num").cast("double") * col("n_days") * col("n_days") /
            when(col("den") =!= 0, col("den")), 6).as("dw_stat"))
        .orderBy("event_type")
    },

    // Calendar-gap audit (round 10): per event_type, how complete is the
    // daily series — span vs observed days, missing-day count, and the
    // longest silent stretch. The freshness pair: dq_freshness asks "how
    // stale is the newest row", this asks "were there holes on the way"
    // — the check run BEFORE trusting any daily-series key (forecast,
    // autocorr, Ljung-Box all assume a dense calendar). Exact integer
    // day arithmetic; one bounded (type × day) frame, one lag window
    // over it, one bounded rollup.
    Q("dq_calendar_gaps",
      """WITH daily AS (
        |  SELECT DISTINCT event_type,
        |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events
        |), g AS (
        |  SELECT event_type, day,
        |         lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day
        |  FROM daily
        |)
        |SELECT event_type,
        |       CAST(min(day) AS TIMESTAMP) AS first_day,
        |       CAST(max(day) AS TIMESTAMP) AS last_day,
        |       CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
        |         AS span_days,
        |       CAST(count(*) AS BIGINT) AS observed_days,
        |       CAST(date_diff('day', min(day), max(day)) + 1 - count(*)
        |         AS BIGINT) AS missing_days,
        |       CAST(coalesce(max(CASE WHEN prev_day IS NOT NULL
        |                     THEN date_diff('day', prev_day, day) - 1 END), 0)
        |         AS BIGINT) AS max_gap_days
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        val daily = t(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        val g = daily.select(col("event_type"), col("day"),
          lag(col("day"), 1).over(
            Window.partitionBy("event_type").orderBy("day")).as("prev_day"))
        g.groupBy("event_type")
          .agg(
            min(col("day")).as("first_day"),
            max(col("day")).as("last_day"),
            (datediff(max(col("day")), min(col("day"))) + 1).cast("long")
              .as("span_days"),
            count(lit(1)).as("observed_days"),
            (datediff(max(col("day")), min(col("day"))) + 1 - count(lit(1)))
              .cast("long").as("missing_days"),
            coalesce(max(when(col("prev_day").isNotNull,
              datediff(col("day"), col("prev_day")) - 1)), lit(0))
              .cast("long").as("max_gap_days"))
          .orderBy("event_type")
    },

    // Lorenz curve deciles (round 13, cont.): customers ranked by
    // lifetime spend, cut into 10 equal-population buckets, each with
    // its revenue share and cumulative share — the CURVE behind
    // agg_gini's one-number summary (the "bottom 50% hold x%" readout).
    // Decile cut is pure integer arithmetic ((i−1)·10 div n — both
    // engines truncate toward zero, pinned by etl_abc_class); ties
    // break on custkey so the rank is a total order. Exact BIGINT cents
    // end-to-end; two round-6 display divisions of exact integers. The
    // global rank window rides the CUSTOMER-dimension frame (the
    // etl_pareto/agg_gini fence: dimension-sized, not fact-sized); the
    // cumulative window is 10 rows.
    Q("agg_lorenz",
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM orders GROUP BY o_custkey
        |), r AS (
        |  SELECT cents,
        |         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
        |           AS i
        |  FROM spend
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS tc
        |  FROM spend
        |), g AS (
        |  SELECT CAST((i - 1) * 10 // n AS BIGINT) AS decile,
        |         CAST(count(*) AS BIGINT) AS n_customers,
        |         CAST(sum(cents) AS BIGINT) AS decile_cents,
        |         max(tc) AS tc
        |  FROM r CROSS JOIN tot GROUP BY 1
        |)
        |SELECT decile, n_customers, decile_cents,
        |       round(CAST(decile_cents AS DOUBLE) / tc, 6) AS share,
        |       round(CAST(sum(decile_cents) OVER (ORDER BY decile
        |                ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tc, 6)
        |         AS cum_share
        |FROM g ORDER BY decile""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val r = spend.withColumn("i",
        row_number().over(Window.orderBy("cents", "o_custkey")).cast("long"))
      val tot = spend.agg(count(lit(1)).as("n"), sum(col("cents")).as("tc"))
      val g = r.crossJoin(broadcast(tot))
        .withColumn("decile", expr("(i - 1) * 10 div n").cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("decile_cents"), max(col("tc")).as("tc"))
      val cum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("decile"), col("n_customers"), col("decile_cents"),
          round(col("decile_cents").cast("double") / col("tc"), 6).as("share"),
          round(sum(col("decile_cents")).over(cum).cast("double") / col("tc"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },

    // Grubbs' outlier statistic (round 13, cont.): per event_type, the
    // single most extreme value's standardized deviation G =
    // max|x−x̄|/s — the parametric single-outlier test beside
    // dq_mad_outliers' robust fences (MAD counts everything past a
    // robust fence; Grubbs prices exactly ONE suspect against a normal
    // null). The argmax needs NO float compare: the farthest point is
    // the max or the min, and (mx·n − Σ) vs (Σ − mn·n) decides between
    // them in exact BIGINT (ties → 'high', the >= pin). Moment sums
    // exact; G assembles once per group in one double expression
    // (n·q and s² ride DOUBLE — the agg_regression overflow doctrine),
    // FLOOR-scaled.
    Q("agg_grubbs",
      """WITH m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(c * c) AS BIGINT) AS q,
        |         CAST(max(c) AS BIGINT) AS mx, CAST(min(c) AS BIGINT) AS mn
        |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |        FROM events WHERE value IS NOT NULL)
        |  GROUP BY event_type
        |)
        |SELECT event_type, n,
        |       CASE WHEN mx * n - s >= s - mn * n THEN 'high'
        |            ELSE 'low' END AS side,
        |       round(CASE WHEN mx * n - s >= s - mn * n THEN mx
        |                  ELSE mn END / 100.0, 2) AS outlier_value,
        |       floor(CAST(CASE WHEN mx * n - s >= s - mn * n
        |                       THEN mx * n - s ELSE s - mn * n END AS DOUBLE)
        |             / n
        |             / sqrt((CAST(n AS DOUBLE) * q
        |                     - CAST(s AS DOUBLE) * s)
        |                    / (CAST(n AS DOUBLE) * (n - 1)))
        |             * 1000000) / 1000000 AS g_stat
        |FROM m WHERE n >= 3 ORDER BY event_type""".stripMargin) { (s, d) =>
      val m = t(s, d, "events")
        .where(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("q"),
          max(col("c")).as("mx"), min(col("c")).as("mn"))
      val isHigh = col("mx") * col("n") - col("s") >=
        col("s") - col("mn") * col("n")
      val devn = when(isHigh, col("mx") * col("n") - col("s"))
        .otherwise(col("s") - col("mn") * col("n"))
      m.where(col("n") >= 3)
        .select(col("event_type"), col("n"),
          when(isHigh, "high").otherwise("low").as("side"),
          round(when(isHigh, col("mx")).otherwise(col("mn")) / 100.0, 2)
            .as("outlier_value"),
          (floor(devn.cast("double") / col("n")
            / sqrt((col("n").cast("double") * col("q")
              - col("s").cast("double") * col("s"))
              / (col("n").cast("double") * (col("n") - 1)))
            * 1000000) / 1000000).as("g_stat"))
        .orderBy("event_type")
    },

    // Bowley quartile skewness (round 13, cont.): (Q1 + Q3 − 2·Q2)/
    // (Q3 − Q1) per event_type — the quantile-based asymmetry readout
    // that ignores tails entirely (agg_skew_kurt's moment skewness is
    // driven BY the tails; a robust pipeline reports both and alarms
    // when they disagree). Quantiles via the pinned interpolated pair
    // (Spark `percentile` ≡ DuckDB `quantile_cont` — the
    // agg_median_percentile precedent); the Bowley ratio assembles in
    // ONE identical expression, FLOOR-scaled, degenerate IQR → NULL.
    Q("agg_bowley_skew",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(quantile_cont(value, 0.25), 4) AS q1,
        |       round(quantile_cont(value, 0.5), 4) AS q2,
        |       round(quantile_cont(value, 0.75), 4) AS q3,
        |       floor((quantile_cont(value, 0.25) + quantile_cont(value, 0.75)
        |              - 2 * quantile_cont(value, 0.5))
        |             / nullif(quantile_cont(value, 0.75)
        |                      - quantile_cont(value, 0.25), 0)
        |             * 1000000) / 1000000 AS bowley_skew
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      def q(p: Double) = percentile(col("value"), lit(p))
      t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(q(0.25), 4).as("q1"),
          round(q(0.5), 4).as("q2"),
          round(q(0.75), 4).as("q3"),
          (floor((q(0.25) + q(0.75) - lit(2) * q(0.5))
            / nullif(q(0.75) - q(0.25), lit(0)) * 1000000) / 1000000)
            .as("bowley_skew"))
        .orderBy("event_type")
    },

    // Pythagorean means (round 13, cont.): arithmetic / geometric /
    // harmonic mean of value per event_type — the three-mean panel
    // (AM ≥ GM ≥ HM; rate-like series average correctly under HM,
    // growth factors under GM — reporting only AM silently overstates
    // both). Float doctrine: the AM is exact cents; the GM and HM ride
    // per-row quantized transforms (round(ln x·1e9), round(1e10/x) — the
    // reciprocal grid leaves 100× BIGINT-sum headroom over the 0.01
    // value floor at fact scale) so the
    // cross-row sums are exact BIGINT (ulcer doctrine), with one
    // exp/one division at display. Positive values only (fixture
    // invariant min 0.01; zero/negative would poison ln and 1/x).
    Q("agg_pythagorean_means",
      """WITH v AS (
        |  SELECT event_type,
        |         CAST(round(value * 100) AS BIGINT) AS c,
        |         CAST(round(ln(CAST(value AS DOUBLE)) * 1000000000)
        |              AS BIGINT) AS l9,
        |         CAST(round(10000000000 / CAST(value AS DOUBLE))
        |              AS BIGINT) AS r10
        |  FROM events WHERE value IS NOT NULL AND value > 0
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       floor(CAST(sum(c) AS DOUBLE) / count(*) / 100 * 10000)
        |         / 10000 AS am,
        |       floor(exp(CAST(sum(l9) AS DOUBLE) / count(*) / 1000000000)
        |             * 10000) / 10000 AS gm,
        |       floor(CAST(count(*) AS DOUBLE) * 10000000000 / sum(r10)
        |             * 10000) / 10000 AS hm
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      t(s, d, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"),
          round(log(col("value").cast("double")) * 1000000000).cast("long")
            .as("l9"),
          round(lit(10000000000L) / col("value").cast("double"))
            .cast("long").as("r10"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("l9")).as("sl"), sum(col("r10")).as("sr"))
        .select(col("event_type"), col("n"),
          (floor(col("sc").cast("double") / col("n") / 100 * 10000) / 10000)
            .as("am"),
          (floor(exp(col("sl").cast("double") / col("n") / 1000000000)
            * 10000) / 10000).as("gm"),
          (floor(col("n").cast("double") * 10000000000L / col("sr")
            * 10000) / 10000).as("hm"))
        .orderBy("event_type")
    },

    // Hill tail-index estimator (round 13, cont.; Hill 1975): over the
    // top k=100 order totals, α̂ = (k−1)/Σ ln(xᵢ/x_k) — the heavy-tail
    // exponent (α≈2-3 Pareto revenue, large α = thin/bounded tail) that
    // tells a capacity planner whether the p99.9 is a fluke or a law;
    // the value-domain cousin of llm_zipf_slope. The top-k cut is a
    // TakeOrdered on (cents DESC, orderkey) — bounded, total-ordered;
    // the ln-ratio sum rides per-row 1e-9-quantized integers over the
    // 99-row frame (ulcer doctrine); one division at display.
    Q("agg_hill_tail",
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderkey
        |  FROM orders
        |), top AS (
        |  SELECT cents FROM c ORDER BY cents DESC, o_orderkey LIMIT 100
        |), xk AS (
        |  SELECT min(cents) AS mk FROM top
        |), z AS (
        |  SELECT CAST(sum(CAST(round(ln(CAST(cents AS DOUBLE) / mk)
        |                             * 1000000000) AS BIGINT)) AS BIGINT)
        |           AS sl,
        |         CAST(count(*) AS BIGINT) AS k, max(mk) AS mk
        |  FROM top CROSS JOIN xk
        |)
        |SELECT k, round(mk / 100.0, 2) AS x_k,
        |       floor(CAST(k - 1 AS DOUBLE)
        |             / (CAST(sl AS DOUBLE) / 1000000000) * 1000000)
        |         / 1000000 AS hill_alpha
        |FROM z""".stripMargin) { (s, d) =>
      val c = t(s, d, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
      val top = c.orderBy(col("cents").desc, col("o_orderkey")).limit(100)
        .select("cents")
      val xk = top.agg(min(col("cents")).as("mk"))
      val z = top.crossJoin(broadcast(xk))
        .agg(
          sum(round(log(col("cents").cast("double") / col("mk"))
            * 1000000000).cast("long")).as("sl"),
          count(lit(1)).as("k"), max(col("mk")).as("mk"))
      z.select(col("k"), round(col("mk") / 100.0, 2).as("x_k"),
        (floor((col("k") - 1).cast("double")
          / (col("sl").cast("double") / 1000000000) * 1000000) / 1000000)
          .as("hill_alpha"))
    },

    // Peaks-over-threshold clustering (round 13, cont.): per event_type,
    // days whose event volume exceeds the series' interpolated p90, and
    // how those exceedances CLUSTER into consecutive-day runs — the
    // extremal-dependence readout (independent spikes vs multi-day
    // storms need different capacity and alerting policies; a mean
    // cluster length ≫1 is the storm signature). Threshold via the
    // pinned percentile pair; exceedance and clustering are exact
    // integers (gaps-and-islands: day_number − exceedance_rank is
    // constant within a run); bounded per-type report.
    Q("agg_pot_clusters",
      """WITH v AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), thr AS (
        |  SELECT event_type, quantile_cont(CAST(n AS DOUBLE), 0.9) AS thr
        |  FROM v GROUP BY event_type
        |), ex AS (
        |  SELECT v.event_type, day, n, thr,
        |         datediff('day', DATE '1990-01-01', CAST(day AS DATE))
        |           - row_number() OVER (PARTITION BY v.event_type
        |                                ORDER BY day) AS isl
        |  FROM v JOIN thr ON v.event_type = thr.event_type
        |  WHERE CAST(n AS DOUBLE) > thr
        |), cl AS (
        |  SELECT event_type, isl, CAST(count(*) AS BIGINT) AS len,
        |         max(thr) AS thr
        |  FROM ex GROUP BY event_type, isl
        |)
        |SELECT event_type, round(max(thr), 4) AS threshold,
        |       CAST(sum(len) AS BIGINT) AS n_exceed,
        |       CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(max(len) AS BIGINT) AS max_cluster_len,
        |       round(CAST(sum(len) AS DOUBLE) / count(*), 6)
        |         AS mean_cluster_len
        |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      val v = t(s, d, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val thr = v.groupBy("event_type")
        .agg(percentile(col("n").cast("double"), lit(0.9)).as("thr"))
      val we = Window.partitionBy("event_type").orderBy("day")
      val ex = v.join(thr, Seq("event_type"))
        .where(col("n").cast("double") > col("thr"))
        .withColumn("isl",
          datediff(col("day").cast("date"), lit("1990-01-01").cast("date"))
            - row_number().over(we))
      val cl = ex.groupBy("event_type", "isl")
        .agg(count(lit(1)).as("len"), max(col("thr")).as("thr"))
      cl.groupBy("event_type")
        .agg(round(max(col("thr")), 4).as("threshold"),
          sum(col("len")).as("n_exceed"),
          count(lit(1)).as("n_clusters"),
          max(col("len")).as("max_cluster_len"),
          round(sum(col("len")).cast("double") / count(lit(1)), 6)
            .as("mean_cluster_len"))
        .orderBy("event_type")
    },

    // Fixed-frequency periodogram (round 13, cont.): DFT power of the
    // daily event volume at the 7- and 14-day periods per event_type —
    // the frequency-domain seasonality detector next to
    // etl_seasonality_strength's decomposition view (a strong 7-day
    // line with a weak 14-day one is weekly rhythm; both strong is a
    // biweekly pay/batch cycle). Per-row cos/sin products quantize to
    // 1e-6 integers (both engines evaluate the same IEEE cos/sin on the
    // same integer day angles — pi() is the same constant) so the re/im
    // sums are exact BIGINT (ulcer doctrine); power composes once per
    // (type, period) row.
    Q("agg_periodogram",
      """WITH v AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1990-01-01',
        |                  CAST(date_trunc('day', ts) AS DATE)) AS dn,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT event_type, dn, n, unnest([7, 14]) AS period
        |  FROM v
        |), q AS (
        |  SELECT event_type, CAST(period AS BIGINT) AS period,
        |         CAST(sum(CAST(round(n * cos(2 * pi() * dn / period)
        |                             * 1000000) AS BIGINT)) AS BIGINT) AS re6,
        |         CAST(sum(CAST(round(n * sin(2 * pi() * dn / period)
        |                             * 1000000) AS BIGINT)) AS BIGINT) AS im6,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM p GROUP BY 1, 2
        |)
        |SELECT event_type, period, n_days,
        |       floor(CAST(re6 AS DOUBLE) / 1000000 * 10000) / 10000 AS re,
        |       floor(CAST(im6 AS DOUBLE) / 1000000 * 10000) / 10000 AS im,
        |       floor(((CAST(re6 AS DOUBLE) / 1000000)
        |              * (CAST(re6 AS DOUBLE) / 1000000)
        |              + (CAST(im6 AS DOUBLE) / 1000000)
        |                * (CAST(im6 AS DOUBLE) / 1000000)) * 100) / 100
        |         AS power
        |FROM q ORDER BY event_type, period""".stripMargin) { (s, d) =>
      val v = t(s, d, "events")
        .select(col("event_type"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("1990-01-01").cast("date")).as("dn"))
        .groupBy("event_type", "dn").agg(count(lit(1)).as("n"))
      val p = v.withColumn("period", explode(array(lit(7), lit(14))))
      val q = p.groupBy(col("event_type"), col("period").cast("long")
          .as("period"))
        .agg(
          sum(round(col("n") * cos(lit(2) * expr("pi()") * col("dn")
            / col("period")) * 1000000).cast("long")).as("re6"),
          sum(round(col("n") * sin(lit(2) * expr("pi()") * col("dn")
            / col("period")) * 1000000).cast("long")).as("im6"),
          count(lit(1)).as("n_days"))
      q.select(col("event_type"), col("period"), col("n_days"),
          (floor(col("re6").cast("double") / 1000000 * 10000) / 10000)
            .as("re"),
          (floor(col("im6").cast("double") / 1000000 * 10000) / 10000)
            .as("im"),
          (floor(((col("re6").cast("double") / 1000000)
            * (col("re6").cast("double") / 1000000)
            + (col("im6").cast("double") / 1000000)
              * (col("im6").cast("double") / 1000000)) * 100) / 100)
            .as("power"))
        .orderBy("event_type", "period")
    },

    // Index of dispersion (round 13, cont.): variance-to-mean ratio of
    // the daily event count per type — THE count-model diagnostic
    // (Poisson arrivals ⇒ ratio ≈ 1; ratio ≫ 1 = bursty/clumped
    // arrivals, ratio < 1 = regularized/throttled) that decides whether
    // dq_volume_anomaly's normal-σ bands are even the right model.
    // Exact BIGINT count moments (Σn, Σn² over ≤31 days); the ratio and
    // the sample variance assemble in one fixed expression each,
    // FLOOR-scaled.
    Q("agg_dispersion_index",
      """WITH v AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS d,
        |         CAST(sum(n) AS BIGINT) AS s,
        |         CAST(sum(n * n) AS BIGINT) AS q
        |  FROM v GROUP BY event_type
        |)
        |SELECT event_type, d AS n_days, s AS n_events,
        |       floor(CAST(s AS DOUBLE) / d * 10000) / 10000 AS mean_daily,
        |       floor((CAST(q AS DOUBLE) * d - CAST(s AS DOUBLE) * s)
        |             / (CAST(d AS DOUBLE) * (d - 1)) * 10000) / 10000
        |         AS var_daily,
        |       floor((CAST(q AS DOUBLE) * d - CAST(s AS DOUBLE) * s)
        |             / (CAST(d AS DOUBLE) * (d - 1)) * d / s * 1000000)
        |         / 1000000 AS dispersion
        |FROM m WHERE d > 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val m = v.groupBy("event_type")
        .agg(count(lit(1)).as("d"), sum(col("n")).as("s"),
          sum(col("n") * col("n")).as("q"))
      val varNum = col("q").cast("double") * col("d") -
        col("s").cast("double") * col("s")
      val denom = col("d").cast("double") * (col("d") - 1)
      m.where(col("d") > 1)
        .select(col("event_type"), col("d").as("n_days"),
          col("s").as("n_events"),
          (floor(col("s").cast("double") / col("d") * 10000) / 10000)
            .as("mean_daily"),
          (floor(varNum / denom * 10000) / 10000).as("var_daily"),
          (floor(varNum / denom * col("d") / col("s") * 1000000) / 1000000)
            .as("dispersion"))
        .orderBy("event_type")
    },

    // Q-Q decile table (round 13, cont.): the view-vs-purchase value
    // distributions compared decile by decile — the TABLE behind a Q-Q
    // plot, and the granular companion to dq_ks_test's single max-gap
    // statistic (KS says THE distributions differ; the Q-Q table says
    // WHERE — body vs tails). One pass with filtered quantile
    // aggregates (the pinned interpolated percentile pair), one fixed
    // ratio expression per decile row.
    Q("agg_qq_table", {
      val rows = (1 to 9).map { k =>
        val p = s"0.$k"
        s"""SELECT CAST($p AS DOUBLE) AS p,
           |       quantile_cont(CASE WHEN event_type = 'view'
           |                          THEN value END, $p) AS q_view,
           |       quantile_cont(CASE WHEN event_type = 'purchase'
           |                          THEN value END, $p) AS q_purchase
           |FROM events WHERE value IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT p, round(q_view, 4) AS q_view,
         |       round(q_purchase, 4) AS q_purchase,
         |       floor(q_purchase / q_view * 1000000) / 1000000 AS qq_ratio
         |FROM ($rows)
         |ORDER BY p""".stripMargin
    }) { (s, d) =>
      val ev = t(s, d, "events").where(col("value").isNotNull)
      val frames = (1 to 9).map { k =>
        val p = k / 10.0
        ev.agg(
          percentile(when(col("event_type") === "view", col("value")),
            lit(p)).as("qv"),
          percentile(when(col("event_type") === "purchase", col("value")),
            lit(p)).as("qp"))
          .select(lit(p).as("p"), col("qv"), col("qp"))
      }
      frames.reduce(_ unionByName _)
        .select(col("p"), round(col("qv"), 4).as("q_view"),
          round(col("qp"), 4).as("q_purchase"),
          (floor(col("qp") / col("qv") * 1000000) / 1000000).as("qq_ratio"))
        .orderBy("p")
    },

    // Exact duplicate-row audit (round 13, cont.): per table, rows that
    // are byte-identical across EVERY column — the at-least-once
    // ingestion tripwire (llm_exact_dedup covers documents by content
    // hash; this is the relational fact-table form: a replayed load
    // shows up here before any aggregate goes wrong by 2×). n_dup =
    // n_rows − n_distinct, both exact; one distinct per table (the
    // shuffle), bounded 3-row report.
    Q("dq_dup_rows",
      """SELECT tbl, n_rows, n_distinct,
        |       n_rows - n_distinct AS n_dup_rows,
        |       round(CAST(n_rows - n_distinct AS DOUBLE) / n_rows, 6)
        |         AS dup_rate
        |FROM (
        |  SELECT 'events' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST((SELECT count(*) FROM (SELECT DISTINCT * FROM events))
        |              AS BIGINT) AS n_distinct
        |  FROM events
        |  UNION ALL
        |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |         CAST((SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
        |              AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |         CAST((SELECT count(*) FROM (SELECT DISTINCT * FROM orders))
        |              AS BIGINT)
        |  FROM orders
        |)
        |ORDER BY tbl""".stripMargin) { (s, d) =>
      def audit(name: String, df: DataFrame): DataFrame = {
        val tot = df.agg(count(lit(1)).as("n_rows"))
        val dis = df.distinct().agg(count(lit(1)).as("n_distinct"))
        tot.crossJoin(dis).select(lit(name).as("tbl"),
          col("n_rows"), col("n_distinct"))
      }
      audit("events", t(s, d, "events"))
        .unionByName(audit("lineitem", t(s, d, "lineitem")))
        .unionByName(audit("orders", t(s, d, "orders")))
        .select(col("tbl"), col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dup_rows"),
          round((col("n_rows") - col("n_distinct")).cast("double")
            / col("n_rows"), 6).as("dup_rate"))
        .orderBy("tbl")
    },

    // Benford SECOND-digit audit (round 13, cont.): the distribution of
    // second leading digits of order totals vs Nigrini's second-digit
    // expectation Σₖ log₁₀(1+1/(10k+d)) — the forensic follow-up to
    // agg_benford (fabricators who learn to fake the first digit rarely
    // fake the second; the flatter expected curve makes rounding
    // artifacts like price points pop). Digit extraction is pure string
    // arithmetic on the exact integer part (the agg_benford doctrine —
    // no floor/log10 edge flips); the expected value is an in-row fold
    // over the fixed k=1..9 terms, identical both engines.
    Q("dq_benford_digit2",
      """WITH d2 AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |                          AS VARCHAR), 2, 1) AS BIGINT) AS digit
        |  FROM orders WHERE floor(o_totalprice) >= 10
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d2)
        |SELECT digit, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(count(*) AS DOUBLE) / max(tot.n), 6) AS pct,
        |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |               list_transform(range(1, 10), k ->
        |                 log10(1 + 1.0 / (10 * k + digit)))),
        |             (a, b) -> a + b), 6) AS expected,
        |       round(CAST(count(*) AS DOUBLE) / max(tot.n)
        |             - list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |                 list_transform(range(1, 10), k ->
        |                   log10(1 + 1.0 / (10 * k + digit)))),
        |               (a, b) -> a + b), 6) AS deviation
        |FROM d2 CROSS JOIN tot
        |GROUP BY digit ORDER BY digit""".stripMargin) { (s, d) =>
      val d2 = t(s, d, "orders")
        .where(floor(col("o_totalprice")) >= 10)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 2, 1).cast("long").as("digit"))
      val tot = d2.agg(count(lit(1)).as("n"))
      val expected = expr(
        """aggregate(transform(sequence(1, 9), k ->
          |  log10(1 + 1.0 / (10 * k + digit))),
          |  CAST(0 AS DOUBLE), (a, b) -> a + b)""".stripMargin)
      d2.crossJoin(broadcast(tot))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"),
          round(count(lit(1)).cast("double") / max(col("n")), 6).as("pct"),
          round(max(expected), 6).as("expected"),
          round(count(lit(1)).cast("double") / max(col("n"))
            - max(expected), 6).as("deviation"))
        .orderBy("digit")
    },

    // FK fanout profile (round 13, cont.): children-per-parent
    // distribution for the two fact edges (orders/customer,
    // lineitem/orders) — the join-planning companion to dq_orphans'
    // existence check: the max and p95 fanout are what decide whether a
    // key needs salting (operators/Skew.scala) and what AQE's skew
    // thresholds will see; a platform that reads this table before
    // writing the join avoids the one-hot-key straggler. Counts exact;
    // min/max exact integers; mean one display division; p95 via the
    // pinned interpolated percentile pair on exact counts.
    Q("dq_fk_fanout",
      """SELECT edge, n_parents, n_children, min_fanout, max_fanout,
        |       round(CAST(n_children AS DOUBLE) / n_parents, 4)
        |         AS mean_fanout,
        |       round(p95, 4) AS p95_fanout
        |FROM (
        |  SELECT 'orders_per_customer' AS edge,
        |         CAST(count(*) AS BIGINT) AS n_parents,
        |         CAST(sum(n) AS BIGINT) AS n_children,
        |         CAST(min(n) AS BIGINT) AS min_fanout,
        |         CAST(max(n) AS BIGINT) AS max_fanout,
        |         quantile_cont(CAST(n AS DOUBLE), 0.95) AS p95
        |  FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |        FROM orders GROUP BY o_custkey)
        |  UNION ALL
        |  SELECT 'lineitems_per_order',
        |         CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT),
        |         CAST(min(n) AS BIGINT), CAST(max(n) AS BIGINT),
        |         quantile_cont(CAST(n AS DOUBLE), 0.95)
        |  FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |        FROM lineitem GROUP BY l_orderkey)
        |)
        |ORDER BY edge""".stripMargin) { (s, d) =>
      def fanout(name: String, df: DataFrame, key: String): DataFrame =
        df.groupBy(col(key)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_parents"), sum(col("n")).as("n_children"),
            min(col("n")).as("min_fanout"), max(col("n")).as("max_fanout"),
            percentile(col("n").cast("double"), lit(0.95)).as("p95"))
          .select(lit(name).as("edge"), col("n_parents"), col("n_children"),
            col("min_fanout"), col("max_fanout"), col("p95"))
      fanout("orders_per_customer", t(s, d, "orders"), "o_custkey")
        .unionByName(
          fanout("lineitems_per_order", t(s, d, "lineitem"), "l_orderkey"))
        .select(col("edge"), col("n_parents"), col("n_children"),
          col("min_fanout"), col("max_fanout"),
          round(col("n_children").cast("double") / col("n_parents"), 4)
            .as("mean_fanout"),
          round(col("p95"), 4).as("p95_fanout"))
        .orderBy("edge")
    },

    // Empirical tail dependence (round 13, cont.): λ_U = P(X>q90_X |
    // Y>q90_Y) and λ_L for the lower tail, between the view and
    // purchase daily closes joined by day — the co-movement readout
    // correlation can't give (two series can be 0.3-correlated in the
    // body yet crash TOGETHER; λ is what portfolio/capacity risk
    // actually cares about). Thresholds via the pinned interpolated
    // percentile pair; all exceedance counts exact BIGINT; two display
    // divisions.
    Q("agg_tail_dependence",
      """WITH v AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(round(value * 100) AS BIGINT) AS c,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events WHERE value IS NOT NULL
        |), o AS (
        |  SELECT event_type, day,
        |         CAST(max(CASE WHEN rn_d = 1 THEN c END) AS BIGINT) AS cl
        |  FROM v GROUP BY event_type, day
        |), j AS (
        |  SELECT a.day, a.cl AS x, b.cl AS y
        |  FROM o a JOIN o b ON a.day = b.day
        |  WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |), q AS (
        |  SELECT quantile_cont(CAST(x AS DOUBLE), 0.9) AS qxu,
        |         quantile_cont(CAST(y AS DOUBLE), 0.9) AS qyu,
        |         quantile_cont(CAST(x AS DOUBLE), 0.1) AS qxl,
        |         quantile_cont(CAST(y AS DOUBLE), 0.1) AS qyl
        |  FROM j
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(CASE WHEN y > qyu THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_y_upper,
        |       round(CAST(sum(CASE WHEN x > qxu AND y > qyu
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / nullif(sum(CASE WHEN y > qyu THEN 1 ELSE 0 END), 0),
        |             6) AS lambda_upper,
        |       round(CAST(sum(CASE WHEN x < qxl AND y < qyl
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / nullif(sum(CASE WHEN y < qyl THEN 1 ELSE 0 END), 0),
        |             6) AS lambda_lower
        |FROM j CROSS JOIN q""".stripMargin) { (s, d) =>
      val v = t(s, d, "events")
        .where(col("value").isNotNull)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("c", round(col("value") * 100).cast("long"))
      val wd = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val o = v.withColumn("rn_d", row_number().over(wd))
        .groupBy("event_type", "day")
        .agg(max(when(col("rn_d") === 1, col("c"))).as("cl"))
      val j = o.as("a").join(o.as("b"), col("a.day") === col("b.day"))
        .where(col("a.event_type") === "view" &&
          col("b.event_type") === "purchase")
        .select(col("a.day").as("day"), col("a.cl").as("x"),
          col("b.cl").as("y"))
      val q = j.agg(
        percentile(col("x").cast("double"), lit(0.9)).as("qxu"),
        percentile(col("y").cast("double"), lit(0.9)).as("qyu"),
        percentile(col("x").cast("double"), lit(0.1)).as("qxl"),
        percentile(col("y").cast("double"), lit(0.1)).as("qyl"))
      val yu = sum(when(col("y") > col("qyu"), 1L).otherwise(0L))
      val yl = sum(when(col("y") < col("qyl"), 1L).otherwise(0L))
      j.crossJoin(broadcast(q))
        .agg(count(lit(1)).as("n_days"), yu.as("n_y_upper"),
          round(sum(when(col("x") > col("qxu") && col("y") > col("qyu"), 1L)
            .otherwise(0L)).cast("double") / nullif(yu, lit(0L)), 6)
            .as("lambda_upper"),
          round(sum(when(col("x") < col("qxl") && col("y") < col("qyl"), 1L)
            .otherwise(0L)).cast("double") / nullif(yl, lit(0L)), 6)
            .as("lambda_lower"))
    },

    // Odds ratio / relative risk (round 13, cont.): the 2×2 exposure
    // table "did the user click?" × "did they purchase?" — the
    // epidemiology readouts product analytics reinvents (RR answers
    // 'how much likelier', OR is what logistic models estimate; they
    // diverge exactly when the outcome is common — reading OR as RR
    // then overstates the effect). All four cells exact BIGINT from ONE
    // user-level aggregate; OR/RR are single float expressions of exact
    // integers, FLOOR-scaled, degenerate cells → NULL via nullif.
    Q("agg_odds_ratio",
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |           AS clicked,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS purchased
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), c AS (
        |  SELECT CAST(sum(CASE WHEN clicked = 1 AND purchased = 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN clicked = 1 AND purchased = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |         CAST(sum(CASE WHEN clicked = 0 AND purchased = 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN clicked = 0 AND purchased = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u
        |)
        |SELECT a AS n_click_buy, b AS n_click_nobuy,
        |       c AS n_noclick_buy, d AS n_noclick_nobuy,
        |       floor(CAST(a AS DOUBLE) * d / nullif(CAST(b AS DOUBLE) * c, 0)
        |             * 1000000) / 1000000 AS odds_ratio,
        |       floor((CAST(a AS DOUBLE) / nullif(a + b, 0))
        |             / nullif(CAST(c AS DOUBLE) / nullif(c + d, 0), 0)
        |             * 1000000) / 1000000 AS relative_risk
        |FROM c""".stripMargin) { (s, d) =>
      val u = t(s, d, "events")
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1).otherwise(0))
          .as("clicked"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchased"))
      val c = u.agg(
        sum(when(col("clicked") === 1 && col("purchased") === 1, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("clicked") === 1 && col("purchased") === 0, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("clicked") === 0 && col("purchased") === 1, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("clicked") === 0 && col("purchased") === 0, 1L)
          .otherwise(0L)).as("d"))
      c.select(col("a").as("n_click_buy"), col("b").as("n_click_nobuy"),
        col("c").as("n_noclick_buy"), col("d").as("n_noclick_nobuy"),
        (floor(col("a").cast("double") * col("d")
          / nullif(col("b").cast("double") * col("c"), lit(0.0)) * 1000000)
          / 1000000).as("odds_ratio"),
        (floor((col("a").cast("double") / nullif(col("a") + col("b"), lit(0L)))
          / nullif(col("c").cast("double") / nullif(col("c") + col("d"),
            lit(0L)), lit(0.0)) * 1000000) / 1000000).as("relative_risk"))
    },

    // Cardinality profile (round 13, cont.): distinct count + modal
    // value share for the low-cardinality columns of the fact tables —
    // the dead/near-constant column detector (a "status" column whose
    // top value holds 99.9% is dead weight in every groupBy and a
    // dictionary-encoding win in every scan; profiling it is the first
    // step of both). All counts exact; modal pick ties to the smallest
    // value (pinned); one groupBy per profiled column, bounded report.
    Q("dq_cardinality_profile",
      """SELECT tbl, col, n_rows, n_distinct, top_value, top_n,
        |       round(CAST(top_n AS DOUBLE) / n_rows, 6) AS top_share
        |FROM (
        |  SELECT 'lineitem' AS tbl, 'l_returnflag' AS col,
        |         CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         min(CASE WHEN rn = 1 THEN v END) AS top_value,
        |         CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_n
        |  FROM (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
        |        FROM (SELECT l_returnflag AS v, CAST(count(*) AS BIGINT) AS n
        |              FROM lineitem GROUP BY 1))
        |  UNION ALL
        |  SELECT 'lineitem', 'l_linestatus',
        |         CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |         min(CASE WHEN rn = 1 THEN v END),
        |         CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |  FROM (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
        |        FROM (SELECT l_linestatus AS v, CAST(count(*) AS BIGINT) AS n
        |              FROM lineitem GROUP BY 1))
        |  UNION ALL
        |  SELECT 'orders', 'o_orderstatus',
        |         CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |         min(CASE WHEN rn = 1 THEN v END),
        |         CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |  FROM (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
        |        FROM (SELECT o_orderstatus AS v, CAST(count(*) AS BIGINT) AS n
        |              FROM orders GROUP BY 1))
        |  UNION ALL
        |  SELECT 'orders', 'o_orderpriority',
        |         CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |         min(CASE WHEN rn = 1 THEN v END),
        |         CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |  FROM (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
        |        FROM (SELECT o_orderpriority AS v, CAST(count(*) AS BIGINT) AS n
        |              FROM orders GROUP BY 1))
        |  UNION ALL
        |  SELECT 'events', 'event_type',
        |         CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |         min(CASE WHEN rn = 1 THEN v END),
        |         CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |  FROM (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
        |        FROM (SELECT event_type AS v, CAST(count(*) AS BIGINT) AS n
        |              FROM events GROUP BY 1))
        |)
        |ORDER BY tbl, col""".stripMargin) { (s, d) =>
      def prof(tbl: String, df: DataFrame, c: String): DataFrame = {
        val counts = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("n").desc, col("v"))))
        counts.agg(sum(col("n")).as("n_rows"),
            count(lit(1)).as("n_distinct"),
            min(when(col("rn") === 1, col("v"))).as("top_value"),
            max(when(col("rn") === 1, col("n"))).as("top_n"))
          .select(lit(tbl).as("tbl"), lit(c).as("col"), col("n_rows"),
            col("n_distinct"), col("top_value"), col("top_n"))
      }
      prof("lineitem", t(s, d, "lineitem"), "l_returnflag")
        .unionByName(prof("lineitem", t(s, d, "lineitem"), "l_linestatus"))
        .unionByName(prof("orders", t(s, d, "orders"), "o_orderstatus"))
        .unionByName(prof("orders", t(s, d, "orders"), "o_orderpriority"))
        .unionByName(prof("events", t(s, d, "events"), "event_type"))
        .select(col("tbl"), col("col"), col("n_rows"), col("n_distinct"),
          col("top_value"), col("top_n"),
          round(col("top_n").cast("double") / col("n_rows"), 6)
            .as("top_share"))
        .orderBy("tbl", "col")
    },

    // Partial correlation (round 13, cont.): corr(quantity, price)
    // CONTROLLING for discount, per returnflag — the confounder check
    // agg_corr_matrix can't make (two variables can correlate only
    // because both ride a third; the partial r is what survives
    // conditioning, and dq_simpsons_check's group-reversal audit is its
    // categorical cousin). All three pairwise correlations assemble
    // from EXACT moment sums (BIGINT for the small grids, DECIMAL/
    // HUGEINT for the cent squares — the dq_embedding_norms overflow
    // lesson) in identical double expressions; the partial-r formula
    // composes once, FLOOR-scaled, degenerate variances NULL.
    Q("agg_partial_corr",
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |         CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |         CAST(round(l_discount * 100) AS BIGINT) AS z
        |  FROM lineitem
        |), m AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(z) AS BIGINT) AS sz,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * z) AS BIGINT) AS sxz,
        |         CAST(sum(y * z) AS BIGINT) AS syz,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |         CAST(sum(z * z) AS BIGINT) AS szz
        |  FROM v GROUP BY g
        |), r AS (
        |  SELECT g, n,
        |         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                * (CAST(n AS DOUBLE) * syy
        |                   - CAST(sy AS DOUBLE) * sy)) AS rxy,
        |         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
        |         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                * (CAST(n AS DOUBLE) * szz
        |                   - CAST(sz AS DOUBLE) * sz)) AS rxz,
        |         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
        |         / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
        |                * (CAST(n AS DOUBLE) * szz
        |                   - CAST(sz AS DOUBLE) * sz)) AS ryz
        |  FROM m
        |)
        |SELECT g AS l_returnflag, n,
        |       floor(rxy * 1000000) / 1000000 AS r_qty_price,
        |       floor(rxz * 1000000) / 1000000 AS r_qty_disc,
        |       floor(ryz * 1000000) / 1000000 AS r_price_disc,
        |       floor((rxy - rxz * ryz)
        |             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) * 1000000)
        |         / 1000000 AS partial_r_qty_price
        |FROM r ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val v = t(s, d, "lineitem").select(
        col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"),
        round(col("l_discount") * 100).cast("long").as("z"))
      val m = v.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
          .cast("double").as("syy"),
        sum(col("z") * col("z")).as("szz"))
      def corr2(sab: org.apache.spark.sql.Column, sa: org.apache.spark.sql.Column,
               sb: org.apache.spark.sql.Column, saa: org.apache.spark.sql.Column,
               sbb: org.apache.spark.sql.Column) =
        (col("n").cast("double") * sab - sa.cast("double") * sb) /
          sqrt((col("n").cast("double") * saa - sa.cast("double") * sa)
            * (col("n").cast("double") * sbb - sb.cast("double") * sb))
      val r = m.select(col("g"), col("n"),
        corr2(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
          .as("rxy"),
        corr2(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
          .as("rxz"),
        corr2(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
          .as("ryz"))
      r.select(col("g").as("l_returnflag"), col("n"),
          (floor(col("rxy") * 1000000) / 1000000).as("r_qty_price"),
          (floor(col("rxz") * 1000000) / 1000000).as("r_qty_disc"),
          (floor(col("ryz") * 1000000) / 1000000).as("r_price_disc"),
          (floor((col("rxy") - col("rxz") * col("ryz"))
            / sqrt((lit(1) - col("rxz") * col("rxz"))
              * (lit(1) - col("ryz") * col("ryz"))) * 1000000) / 1000000)
            .as("partial_r_qty_price"))
        .orderBy("l_returnflag")
    },

    // Business-rule violation panel (round 13, cont.): named policy
    // rules over the fact with per-rule violation counts — the
    // rules-engine readout (dq_orphans/dq_temporal_sanity check
    // STRUCTURE; this checks POLICY: a discount past the published cap
    // or a jumbo order isn't malformed data, it's a decision someone
    // should see). Each rule is one filter aggregate off a shared scan;
    // exact counts, one rate display per rule.
    Q("dq_rule_violations",
      """SELECT rule, n_checked, n_violations,
        |       round(CAST(n_violations AS DOUBLE) / n_checked, 6)
        |         AS violation_rate
        |FROM (
        |  SELECT 'discount_above_8pct' AS rule,
        |         CAST(count(*) AS BIGINT) AS n_checked,
        |         CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'tax_above_6pct', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_tax > 0.06 THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'qty_at_cap_50', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_quantity >= 50 THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'nonpositive_price', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM lineitem
        |)
        |ORDER BY rule""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
      def rule(name: String, pred: org.apache.spark.sql.Column): DataFrame =
        li.agg(count(lit(1)).as("n_checked"),
            sum(when(pred, 1L).otherwise(0L)).as("n_violations"))
          .select(lit(name).as("rule"), col("n_checked"),
            col("n_violations"))
      rule("discount_above_8pct", col("l_discount") > 0.08)
        .unionByName(rule("tax_above_6pct", col("l_tax") > 0.06))
        .unionByName(rule("qty_at_cap_50", col("l_quantity") >= 50))
        .unionByName(rule("nonpositive_price", col("l_extendedprice") <= 0))
        .select(col("rule"), col("n_checked"), col("n_violations"),
          round(col("n_violations").cast("double") / col("n_checked"), 6)
            .as("violation_rate"))
        .orderBy("rule")
    },

    // Markov-order check (round 13, cont.): is the per-user event
    // sequence actually first-order Markov — the assumption
    // etl_markov_steady's steady-state SELLS silently? Compare the
    // EMPIRICAL two-step transition matrix against the one-step
    // matrix SQUARED: under the Markov property P₂ = P₁², and the
    // per-cell |deviation| is the evidence of memory (a funnel with
    // state — signup→view→purchase — deviates exactly here). All
    // transition counts exact BIGINT over the bounded 5×5 domain; the
    // P₁² inner sum quantizes each of its ≤5 k-terms to 1e-12 integers
    // (exact sum — ulcer doctrine); per-cell probabilities and the
    // deviation compose identically, bounded 25-row report.
    Q("agg_markov_order_check",
      """WITH s AS (
        |  SELECT event_type AS t,
        |         lead(event_type, 1) OVER w AS t1,
        |         lead(event_type, 2) OVER w AS t2
        |  FROM events WHERE user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c1 AS (
        |  SELECT t AS i, t1 AS j, CAST(count(*) AS BIGINT) AS c
        |  FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2
        |), r1 AS (SELECT i, CAST(sum(c) AS BIGINT) AS r FROM c1 GROUP BY i
        |), c2 AS (
        |  SELECT t AS i, t2 AS j, CAST(count(*) AS BIGINT) AS c
        |  FROM s WHERE t2 IS NOT NULL GROUP BY 1, 2
        |), r2 AS (SELECT i, CAST(sum(c) AS BIGINT) AS r FROM c2 GROUP BY i
        |), pred AS (
        |  SELECT a.i, b.j,
        |         CAST(sum(CAST(round((CAST(a.c AS DOUBLE) / ra.r)
        |                * (CAST(b.c AS DOUBLE) / rb.r) * 1000000000000)
        |              AS BIGINT)) AS BIGINT) AS p12
        |  FROM c1 a JOIN c1 b ON a.j = b.i
        |  JOIN r1 ra ON ra.i = a.i JOIN r1 rb ON rb.i = b.i
        |  GROUP BY a.i, b.j
        |)
        |SELECT p.i AS from_type, p.j AS to_type,
        |       floor(CAST(p12 AS DOUBLE) / 1000000000000 * 1000000)
        |         / 1000000 AS p2_predicted,
        |       round(CAST(coalesce(c2.c, 0) AS DOUBLE) / r2.r, 6) AS p2_emp,
        |       floor(abs(CAST(coalesce(c2.c, 0) AS DOUBLE) / r2.r
        |                 - CAST(p12 AS DOUBLE) / 1000000000000) * 1000000)
        |         / 1000000 AS abs_diff
        |FROM pred p LEFT JOIN c2 ON c2.i = p.i AND c2.j = p.j
        |JOIN r2 ON r2.i = p.i
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sq = t(s, d, "events")
        .where(col("user_id").isNotNull)
        .select(col("event_type").as("t"),
          lead(col("event_type"), 1).over(w).as("t1"),
          lead(col("event_type"), 2).over(w).as("t2"))
      val c1 = sq.where(col("t1").isNotNull)
        .groupBy(col("t").as("i"), col("t1").as("j"))
        .agg(count(lit(1)).as("c"))
      val r1 = c1.groupBy("i").agg(sum(col("c")).as("r"))
      val c2 = sq.where(col("t2").isNotNull)
        .groupBy(col("t").as("i2"), col("t2").as("j2"))
        .agg(count(lit(1)).as("c2c"))
      val r2 = c2.groupBy(col("i2")).agg(sum(col("c2c")).as("r2r"))
      val pred = c1.as("a")
        .join(c1.as("b"), col("a.j") === col("b.i"))
        .join(r1.select(col("i").as("rai"), col("r").as("ra")),
          col("rai") === col("a.i"))
        .join(r1.select(col("i").as("rbi"), col("r").as("rb")),
          col("rbi") === col("b.i"))
        .groupBy(col("a.i").as("fi"), col("b.j").as("fj"))
        .agg(sum(round((col("a.c").cast("double") / col("ra"))
          * (col("b.c").cast("double") / col("rb")) * 1000000000000L)
          .cast("long")).as("p12"))
      pred
        .join(c2, col("fi") === col("i2") && col("fj") === col("j2"), "left")
        .join(r2.select(col("i2").as("ri"), col("r2r")),
          col("ri") === col("fi"))
        .select(col("fi").as("from_type"), col("fj").as("to_type"),
          (floor(col("p12").cast("double") / 1000000000000L * 1000000)
            / 1000000).as("p2_predicted"),
          round(coalesce(col("c2c"), lit(0L)).cast("double") / col("r2r"), 6)
            .as("p2_emp"),
          (floor(abs(coalesce(col("c2c"), lit(0L)).cast("double")
            / col("r2r") - col("p12").cast("double") / 1000000000000L)
            * 1000000) / 1000000).as("abs_diff"))
        .orderBy("from_type", "to_type")
    },

    // Theil inequality decomposition (round 13, cont.): the T index of
    // customer spend per nation, with each nation's WITHIN inequality
    // and its BETWEEN-nations contribution — the property Gini lacks:
    // Theil decomposes exactly (T = Σ s_g·T_g + T_between), so the
    // readout answers "is inequality inside markets or across them",
    // which sets whether pricing policy or market mix is the lever.
    // Per-customer terms (x·n_g/X_g)·ln(x·n_g/X_g) are per-row floats
    // on exact-integer ratios quantized to 1e-9 (ulcer doctrine) so
    // group sums are exact; the between term composes once per nation
    // row from exact sums.
    Q("agg_theil_index",
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |), j AS (
        |  SELECT c_nationkey AS nk, x
        |  FROM spend JOIN customer ON o_custkey = c_custkey
        |), g AS (
        |  SELECT nk, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(x) AS BIGINT) AS xg
        |  FROM j GROUP BY nk
        |), tot AS (
        |  SELECT CAST(sum(xg) AS BIGINT) AS xt,
        |         CAST(sum(ng) AS BIGINT) AS nt
        |  FROM g
        |), w AS (
        |  SELECT j.nk,
        |         CAST(sum(CAST(round(
        |           (CAST(x AS DOUBLE) * ng / xg)
        |           * ln(CAST(x AS DOUBLE) * ng / xg) * 1000000000)
        |           AS BIGINT)) AS BIGINT) AS tq
        |  FROM j JOIN g ON j.nk = g.nk GROUP BY j.nk
        |)
        |SELECT n_name, ng AS n_customers,
        |       round(CAST(xg AS DOUBLE) / xt, 6) AS spend_share,
        |       floor(CAST(tq AS DOUBLE) / ng / 1000000000 * 1000000)
        |         / 1000000 AS theil_within,
        |       floor((CAST(xg AS DOUBLE) / xt)
        |             * ln((CAST(xg AS DOUBLE) / ng)
        |                  / (CAST(xt AS DOUBLE) / nt)) * 1000000) / 1000000
        |         AS between_term
        |FROM g JOIN w USING (nk)
        |JOIN nation ON nk = n_nationkey CROSS JOIN tot
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      val j = spend.join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nk"), col("x"))
      val g = j.groupBy("nk")
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("xg"))
      val tot = g.agg(sum(col("xg")).as("xt"), sum(col("ng")).as("nt"))
      val term = round((col("x").cast("double") * col("ng") / col("xg"))
        * log(col("x").cast("double") * col("ng") / col("xg"))
        * 1000000000).cast("long")
      val w = j.join(broadcast(g), Seq("nk"))
        .groupBy("nk").agg(sum(term).as("tq"))
      g.join(w, Seq("nk"))
        .join(broadcast(t(s, d, "nation")),
          col("nk") === col("n_nationkey"))
        .crossJoin(broadcast(tot))
        .select(col("n_name"), col("ng").as("n_customers"),
          round(col("xg").cast("double") / col("xt"), 6).as("spend_share"),
          (floor(col("tq").cast("double") / col("ng") / 1000000000L
            * 1000000) / 1000000).as("theil_within"),
          (floor((col("xg").cast("double") / col("xt"))
            * log((col("xg").cast("double") / col("ng"))
              / (col("xt").cast("double") / col("nt"))) * 1000000)
            / 1000000).as("between_term"))
        .orderBy("n_name")
    },

    // Pareto crossing point (round 13, cont.): the exact smallest share
    // of customers (ranked by spend, descending) whose cumulative
    // revenue crosses 80% — the one number ("top x% give 80%") the
    // Lorenz/Gini/ABC family is always asked to compress to. The
    // crossing is an exact-integer compare (cum·5 ≥ total·4 — no float
    // threshold), found with ONE rank window over the customer
    // DIMENSION frame (the agg_gini fence) and a min over crossers.
    Q("agg_pareto_point",
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |), r AS (
        |  SELECT cents,
        |         CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
        |              AS BIGINT) AS i,
        |         CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM spend
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS tc
        |  FROM spend
        |)
        |SELECT n AS n_customers,
        |       CAST(min(CASE WHEN cum * 5 >= tc * 4 THEN i END) AS BIGINT)
        |         AS customers_for_80pct,
        |       round(CAST(min(CASE WHEN cum * 5 >= tc * 4 THEN i END)
        |                  AS DOUBLE) / n, 6) AS share_for_80pct
        |FROM r CROSS JOIN tot
        |GROUP BY n""".stripMargin) { (s, d) =>
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val wDesc = Window.orderBy(col("cents").desc, col("o_custkey"))
      val r = spend
        .withColumn("i", row_number().over(wDesc).cast("long"))
        .withColumn("cum", sum(col("cents")).over(
          wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = spend.agg(count(lit(1)).as("n"), sum(col("cents")).as("tc"))
      r.crossJoin(broadcast(tot))
        .groupBy("n")
        .agg(min(when(col("cum") * 5 >= col("tc") * 4, col("i")))
          .as("customers_for_80pct"))
        .select(col("n").as("n_customers"), col("customers_for_80pct"),
          round(col("customers_for_80pct").cast("double") / col("n"), 6)
            .as("share_for_80pct"))
    },

    // Bitmask engagement profile (round 13, cont.): each user's
    // WEEKLY event-type set packed into one integer via bit_or of fixed
    // per-type bits, rolled up to a mask → user-week distribution —
    // the feature-bitmap pattern (which COMBINATIONS of behaviors
    // co-occur; 2⁵ possible profiles beat 5 marginal rates for
    // segmentation, and the bitmask aggregate is the idiom bitmap
    // indexes/feature stores use). bit_or is exact integer in both
    // engines; the mask domain is bounded at 31.
    Q("agg_bitmask_profile",
      """WITH b AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk,
        |         bit_or(CASE event_type WHEN 'click' THEN 1
        |                WHEN 'view' THEN 2 WHEN 'purchase' THEN 4
        |                WHEN 'signup' THEN 8 ELSE 16 END) AS mask
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id, wk
        |)
        |SELECT CAST(mask AS BIGINT) AS mask,
        |       CAST(count(*) AS BIGINT) AS n_user_weeks,
        |       CAST(mask & 4 > 0 AS BOOLEAN) AS has_purchase
        |FROM b GROUP BY mask ORDER BY mask""".stripMargin) { (s, d) =>
      val bit = when(col("event_type") === "click", 1)
        .when(col("event_type") === "view", 2)
        .when(col("event_type") === "purchase", 4)
        .when(col("event_type") === "signup", 8).otherwise(16)
      t(s, d, "events")
        .where(col("user_id").isNotNull)
        .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .agg(bit_or(bit).as("mask"))
        .groupBy(col("mask").cast("long").as("mask"))
        .agg(count(lit(1)).as("n_user_weeks"))
        .withColumn("has_purchase", (col("mask").bitwiseAND(4) > 0))
        .orderBy("mask")
    },

    // Tukey IQR fences (round 13, cont.): per event_type, the classic
    // boxplot outlier rule — fences at Q1/Q3 ± 1.5·IQR with counts
    // beyond each — the quantile-based member completing the outlier
    // family (dq_mad_outliers is median-centered, agg_grubbs is
    // normal-parametric, Tukey is what every boxplot and most BI tools
    // actually draw; they disagree on skewed data, which is the
    // point of having all three). Fences via the pinned interpolated
    // percentile pair; the exceedance compares are exact cents against
    // identically-composed fence doubles; exact counts.
    Q("dq_iqr_outliers",
      """WITH q AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type
        |)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(q1, 4) AS q1, round(q3, 4) AS q3,
        |       round(q1 - 1.5 * (q3 - q1), 4) AS lo_fence,
        |       round(q3 + 1.5 * (q3 - q1), 4) AS hi_fence,
        |       CAST(sum(CASE WHEN value < q1 - 1.5 * (q3 - q1)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(sum(CASE WHEN value > q3 + 1.5 * (q3 - q1)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM events e JOIN q ON e.event_type = q.event_type
        |WHERE value IS NOT NULL
        |GROUP BY e.event_type, q1, q3 ORDER BY e.event_type""".stripMargin) {
      (s, d) =>
      val q = t(s, d, "events")
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
      val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
      val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
      t(s, d, "events")
        .where(col("value").isNotNull)
        .join(broadcast(q), Seq("event_type"))
        .groupBy("event_type", "q1", "q3")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < lo, 1L).otherwise(0L)).as("n_low"),
          sum(when(col("value") > hi, 1L).otherwise(0L)).as("n_high"))
        .select(col("event_type"), col("n"),
          round(col("q1"), 4).as("q1"), round(col("q3"), 4).as("q3"),
          round(lo, 4).as("lo_fence"), round(hi, 4).as("hi_fence"),
          col("n_low"), col("n_high"))
        .orderBy("event_type")
    },

    // Referential-integrity orphan audit (round 13, cont.): per FK edge
    // of the schema, how many child rows reference a missing parent —
    // the structural companion to dq_reconciliation's amount check (a
    // load that drops a parent partition passes every sum but leaks
    // orphans here first). Each edge is ONE anti-join of the child's
    // pre-reduced key set against the parent key set (map-side distinct
    // on the child key before the join — the shuffle carries keys, not
    // rows... the row count still needs the full child, so the plan is
    // one count-aggregate + one anti-join per edge, both
    // map-side-combinable); NULL FKs count as orphans (they reference
    // nothing). Bounded 5-row report.
    Q("dq_orphans",
      """SELECT fk, n_child, n_orphans,
        |       round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
        |FROM (
        |  SELECT 'lineitem->orders' AS fk,
        |         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_orderkey NOT IN
        |                     (SELECT o_orderkey FROM orders
        |                      WHERE o_orderkey IS NOT NULL)
        |                  OR l_orderkey IS NULL) AS BIGINT) AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem->part',
        |         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_partkey NOT IN
        |                     (SELECT p_partkey FROM part
        |                      WHERE p_partkey IS NOT NULL)
        |                  OR l_partkey IS NULL) AS BIGINT)
        |  UNION ALL
        |  SELECT 'orders->customer',
        |         CAST((SELECT count(*) FROM orders) AS BIGINT),
        |         CAST((SELECT count(*) FROM orders
        |               WHERE o_custkey NOT IN
        |                     (SELECT c_custkey FROM customer
        |                      WHERE c_custkey IS NOT NULL)
        |                  OR o_custkey IS NULL) AS BIGINT)
        |  UNION ALL
        |  SELECT 'customer->nation',
        |         CAST((SELECT count(*) FROM customer) AS BIGINT),
        |         CAST((SELECT count(*) FROM customer
        |               WHERE c_nationkey NOT IN
        |                     (SELECT n_nationkey FROM nation
        |                      WHERE n_nationkey IS NOT NULL)
        |                  OR c_nationkey IS NULL) AS BIGINT)
        |  UNION ALL
        |  SELECT 'supplier->nation',
        |         CAST((SELECT count(*) FROM supplier) AS BIGINT),
        |         CAST((SELECT count(*) FROM supplier
        |               WHERE s_nationkey NOT IN
        |                     (SELECT n_nationkey FROM nation
        |                      WHERE n_nationkey IS NOT NULL)
        |                  OR s_nationkey IS NULL) AS BIGINT)
        |)
        |ORDER BY fk""".stripMargin) { (s, d) =>
      edgeQ(s, d)
    },

    // Decimal-precision profile (round 13, cont.): per monetary column,
    // how many values are whole dollars / one-decimal / full two-decimal
    // cents — the truncated-feed detector (an upstream that silently
    // rounds to dollars passes null and range checks; its digit profile
    // collapses here first, the numeric cousin of dq_null_profile).
    // Everything is exact: cents = round(v·100) BIGINT, the digit class
    // is cents mod 10/100, counts exact, three display shares.
    Q("dq_decimal_profile",
      """SELECT col, n,
        |       n_whole, n_1dp, n_2dp,
        |       round(CAST(n_2dp AS DOUBLE) / n, 6) AS share_2dp
        |FROM (
        |  SELECT 'l_extendedprice' AS col, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_whole,
        |         CAST(sum(CASE WHEN c % 100 <> 0 AND c % 10 = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_1dp,
        |         CAST(sum(CASE WHEN c % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_2dp
        |  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |        FROM lineitem)
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 100 <> 0 AND c % 10 = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |        FROM orders)
        |  UNION ALL
        |  SELECT 'p_retailprice', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 100 <> 0 AND c % 10 = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN c % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS c
        |        FROM part)
        |)
        |ORDER BY col""".stripMargin) { (s, d) =>
      def prof(name: String, df: DataFrame, c: String): DataFrame =
        df.select(round(col(c) * 100).cast("long").as("c"))
          .agg(count(lit(1)).as("n"),
            sum(when(pmod(col("c"), lit(100L)) === 0, 1L).otherwise(0L))
              .as("n_whole"),
            sum(when(pmod(col("c"), lit(100L)) =!= 0 &&
              pmod(col("c"), lit(10L)) === 0, 1L).otherwise(0L)).as("n_1dp"),
            sum(when(pmod(col("c"), lit(10L)) =!= 0, 1L).otherwise(0L))
              .as("n_2dp"))
          .select(lit(name).as("col"), col("n"), col("n_whole"),
            col("n_1dp"), col("n_2dp"))
      prof("l_extendedprice", t(s, d, "lineitem"), "l_extendedprice")
        .unionByName(prof("o_totalprice", t(s, d, "orders"), "o_totalprice"))
        .unionByName(prof("p_retailprice", t(s, d, "part"), "p_retailprice"))
        .select(col("col"), col("n"), col("n_whole"), col("n_1dp"),
          col("n_2dp"),
          round(col("n_2dp").cast("double") / col("n"), 6).as("share_2dp"))
        .orderBy("col")
    }
  )

  /** The dq_orphans body, factored for readability. */
  private def edgeQ(s: SparkSession, d: String): DataFrame = {
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame = {
        val tot = child.agg(count(lit(1)).as("n_child"))
        val orph = child.select(col(ck))
          .join(parent.select(col(pk)).where(col(pk).isNotNull).distinct(),
            col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        tot.crossJoin(orph).select(lit(name).as("fk"),
          col("n_child"), col("n_orphans"))
      }
      val li = t(s, d, "lineitem")
      edge("lineitem->orders", li, "l_orderkey",
          t(s, d, "orders"), "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey",
          t(s, d, "part"), "p_partkey"))
        .unionByName(edge("orders->customer", t(s, d, "orders"), "o_custkey",
          t(s, d, "customer"), "c_custkey"))
        .unionByName(edge("customer->nation", t(s, d, "customer"),
          "c_nationkey", t(s, d, "nation"), "n_nationkey"))
        .unionByName(edge("supplier->nation", t(s, d, "supplier"),
          "s_nationkey", t(s, d, "nation"), "n_nationkey"))
        .select(col("fk"), col("n_child"), col("n_orphans"),
          round(col("n_orphans").cast("double") / col("n_child"), 6)
            .as("orphan_rate"))
        .orderBy("fk")
  }
}

package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AsOfJoinPlan

/** §2.A scans, §2.B projection/filter, §2.C joins, §2.F sort/limit,
  * §2.G set ops (SURVEY.md §2). All thin assemblies of the DataFrame API —
  * the point is the *plan* each produces:
  *  - scans keep projection+filter pushed into the vectorized parquet reader;
  *  - small dims are broadcast explicitly (`broadcast()`), facts shuffle on
  *    join keys and AQE picks SMJ/SHJ;
  *  - every as-of join runs the native one-pass merge
  *    ([[org.apache.spark.sql.graft.AsOfJoinPlan]]); its oracles spell the
  *    equi + range join and rank-1 window it replaces.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** One event type's rows as an as-of side, `(user_id, ts, event_id)`
    * renamed to `(key, ts, id)`. */
  private def eventSide(s: SparkSession, d: String, eventType: String,
      key: String, ts: String, id: String): DataFrame =
    t(s, d, "events").where(col("event_type") === eventType)
      .select(col("user_id").as(key), col("ts").as(ts), col("event_id").as(id))

  /** Each purchase with the user's latest view at or before it (within
    * `toleranceMicros` when given). */
  private def purchaseLastView(toleranceMicros: Option[Long])(
      s: SparkSession, d: String): DataFrame =
    AsOfJoinPlan
      .asof(eventSide(s, d, "purchase", "user_id", "p_ts", "p_id"),
        eventSide(s, d, "view", "v_user", "v_ts", "v_id"),
        "user_id", "v_user", "p_ts", "v_ts",
        rightTie = Seq("v_id"), toleranceMicros = toleranceMicros)
      .select("user_id", "p_id", "p_ts", "v_id", "v_ts")
      .orderBy("p_id")

  private val purchaseLastViewOracle =
    """WITH p AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
      |  WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id AS v_user, ts AS v_ts, event_id AS v_id FROM events
      |  WHERE event_type = 'view'
      |), j AS (
      |  SELECT p.user_id, p.p_id, p.p_ts, v.v_id, v.v_ts,
      |         row_number() OVER (PARTITION BY p.p_id
      |             ORDER BY v_ts DESC NULLS LAST, v_id DESC NULLS LAST) AS rn
      |  FROM p LEFT JOIN v ON v.v_user = p.user_id AND v.v_ts <= p.p_ts
      |)
      |SELECT user_id, p_id, p_ts, v_id, v_ts FROM j WHERE rn = 1
      |ORDER BY p_id""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---------------------------------------------------------------- §2.A
    Q("scan_parquet",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") {
      (s, d) => t(s, d, "region").orderBy("r_regionkey")
    },

    // Projection + predicate that must reach the scan (PushedFilters).
    Q("scan_parquet_pruned",
      """SELECT l_orderkey, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_shipdate""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .orderBy("l_orderkey", "l_shipdate")
    },

    // ---------------------------------------------------------------- §2.B
    Q("project_select",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2) AS DOUBLE) AS revenue,
        |       CAST(round(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)), 2) AS DOUBLE) AS charged
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charged""".stripMargin) { (s, d) =>
      // price/discount/tax carry <=2 decimal digits, so the product is exact
      // at 6 decimal digits: rounding in DECIMAL domain is deterministic and
      // engine-independent (binary-double round differs at half boundaries).
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(rev.cast("decimal(18,6)"), 2).cast("double").as("revenue"),
        round((rev * (lit(1) + col("l_tax"))).cast("decimal(18,6)"), 2).cast("double").as("charged"))
        .orderBy("l_orderkey", "l_linenumber", "revenue", "charged")
    },

    Q("filter_predicate",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O')
        |  AND o_totalprice BETWEEN 50000 AND 200000
        |  AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
        |  AND NOT (o_orderstatus = 'O' AND o_totalprice < 100000)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .where(
          col("o_orderstatus").isin("F", "O") &&
            col("o_totalprice").between(50000, 200000) &&
            (col("o_orderpriority").like("1%") || col("o_orderpriority").like("2%")) &&
            !(col("o_orderstatus") === "O" && col("o_totalprice") < 100000))
        .orderBy("o_orderkey")
    },

    // NULL three-valued logic incl. null-safe equality (<=>).
    Q("filter_null_3vl",
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_n,
        |       nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F' AS same_as_f,
        |       nullif(o_orderstatus, 'P') IS NULL AS is_null
        |FROM orders
        |WHERE nullif(o_orderstatus, 'P') IS NULL OR nullif(o_orderstatus, 'P') = 'F'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val st = nullif(col("o_orderstatus"), lit("P"))
      t(s, d, "orders")
        .select(
          col("o_orderkey"), st.as("status_n"),
          (st <=> "F").as("same_as_f"), st.isNull.as("is_null"))
        .where(st.isNull || st === "F")
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------- §2.C
    Q("join_inner_equi",
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Small dims broadcast explicitly — BroadcastHashJoin, no fact shuffle
    // for the join itself (only for the final aggregation).
    Q("join_broadcast",
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_bal"))
        .orderBy("r_name", "n_name")
    },

    Q("join_left_outer",
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey ASC NULLS FIRST""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // R9 reconciliation: early vs late order counts per customer.
    Q("join_full_outer",
      """WITH a AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_early FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey
        |), b AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_late FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY o_custkey
        |)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
        |       COALESCE(n_early, 0) AS n_early, COALESCE(n_late, 0) AS n_late
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      val a = o.where(col("o_orderdate") < cutoff)
        .groupBy(col("o_custkey").as("ck_a")).agg(count(lit(1)).as("n_early"))
      val b = o.where(col("o_orderdate") >= cutoff)
        .groupBy(col("o_custkey").as("ck_b")).agg(count(lit(1)).as("n_late"))
      a.join(b, col("ck_a") === col("ck_b"), "full_outer")
        .select(
          coalesce(col("ck_a"), col("ck_b")).as("custkey"),
          coalesce(col("n_early"), lit(0L)).as("n_early"),
          coalesce(col("n_late"), lit(0L)).as("n_late"))
        .orderBy("custkey")
    },

    Q("join_left_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(
          t(s, d, "orders").where(col("o_totalprice") > 300000),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    Q("join_left_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Equi key + range residual: lineitems shipped within 30 days of order.
    Q("join_range_theta",
      """SELECT l_orderkey, l_linenumber, o_orderdate, l_shipdate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate > o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |ORDER BY l_orderkey, l_linenumber, o_orderdate, l_shipdate""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(
          t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")
    },

    // Bounded cartesian product (basis for brute-force knn shapes).
    Q("join_cross_topk",
      """SELECT n_name, r_name FROM nation CROSS JOIN region
        |ORDER BY n_name, r_name""".stripMargin) { (s, d) =>
      t(s, d, "nation").select("n_name")
        .crossJoin(t(s, d, "region").select("r_name"))
        .orderBy("n_name", "r_name")
    },

    // Correlated scalar subquery (round 5): customers holding their
    // nation's top balance. Exercises Catalyst's DECORRELATION — the
    // per-row subquery is rewritten into one aggregate + one join
    // (RewriteCorrelatedScalarSubquery), so the declared plan runs two
    // scans and a join, never a subquery per outer row (PlanSpec pins
    // the aggregate-join shape). The reference delegates this rewrite to
    // PostgreSQL's planner; here it is Catalyst's, for free.
    Q(
      "join_correlated_scalar",
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables(s, d, "customer").createOrReplaceTempView("customer_corr_v")
      s.sql(
        """SELECT c_custkey, c_nationkey, c_acctbal FROM customer_corr_v c
          |WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM customer_corr_v c2
          |                   WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    // LATERAL correlated join (round 7, cont.): per nation, its top-2
    // customers by balance — the per-row-subquery SQL surface (Spark
    // 3.2+ LATERAL). Catalyst DECORRELATES the lateral into a ranked
    // window over ONE customer scan (DomainJoin → rewrite), so the plan
    // the user writes row-at-a-time executes set-at-a-time — pinned
    // semantics-twin of win_topk_per_group from the SQL side; nation
    // stays a bounded broadcast.
    Q(
      "join_lateral_topk",
      """SELECT n_name, c_custkey, c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        |) t
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin) { (s, d) =>
      Tables(s, d, "nation").createOrReplaceTempView("nation_lat_v")
      Tables(s, d, "customer").createOrReplaceTempView("customer_lat_v")
      s.sql(
        """SELECT n_name, c_custkey, c_acctbal
          |FROM nation_lat_v n, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer_lat_v c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
          |) t
          |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
    },

    // As-of: each purchase matched to the user's latest at-or-before view,
    // by the engine's own physical operator (AsOfJoinPlan — custom
    // LogicalPlan + Strategy + one-pass co-partitioned merge, §2.L
    // preference (c)). Where the composed form (the oracle's join +
    // rank-1 window) fans out every historical view per purchase before
    // the window prunes, the native plan reads each side ONCE in
    // sort-merge layout: one exchange + sort per side, then a linear
    // per-partition merge holding a single candidate row — the 100 TB
    // shape for "most recent observation at or before t".
    Q("join_asof", purchaseLastViewOracle)(purchaseLastView(None)),

    // Declared key kept under its name: the same plan as join_asof.
    Q("join_asof_native", purchaseLastViewOracle)(purchaseLastView(None)),

    // Tolerance-bounded as-of (round 7, cont.): most recent view within
    // ONE DAY before the purchase — stale matches (an attribution window
    // older than a day) drop to NULL instead of attaching. pandas
    // merge_asof(tolerance=...). The native merge needs NO plan change:
    // the remembered candidate is already the nearest at-or-before, so
    // the window is one comparison at emission — where the composed form
    // grows a second range predicate in the join.
    Q("join_asof_tolerance",
      """WITH p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
        |  WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id AS v_user, ts AS v_ts, event_id AS v_id FROM events
        |  WHERE event_type = 'view'
        |), j AS (
        |  SELECT p.user_id, p.p_id, p.p_ts, v.v_id, v.v_ts,
        |         row_number() OVER (PARTITION BY p.p_id
        |             ORDER BY v_ts DESC NULLS LAST, v_id DESC NULLS LAST) AS rn
        |  FROM p LEFT JOIN v ON v.v_user = p.user_id AND v.v_ts <= p.p_ts
        |                    AND v.v_ts >= p.p_ts - INTERVAL 1 DAY
        |)
        |SELECT user_id, p_id, p_ts, v_id, v_ts FROM j WHERE rn = 1
        |ORDER BY p_id""".stripMargin)(purchaseLastView(Some(86400000000L))),

    // FORWARD as-of (round 7, cont.): per signup, the user's FIRST
    // purchase at-or-after — the time-to-convert attach (the mirror
    // direction of join_asof_native's most-recent-before; pandas
    // merge_asof direction='forward'). Same native operator, forward
    // flag: the merge PEEKS instead of consuming (the matching right
    // row may serve later left rows too), thresholds still only grow.
    // Nearest-event as-of (round 8, cont. 4): for each signup, the
    // purchase closest in time in EITHER direction — the remaining as-of
    // flavor (backward = last-before, forward = first-after, tolerance =
    // banded backward; sensor/trade alignment wants NEAREST). Composed
    // as one backward + one forward pass through the native
    // AsOfJoinExec (each side keeps its own audited tie rule: backward
    // latest-ts/highest-id, forward earliest-ts/lowest-id) + a map-side
    // pick on exact microsecond gaps (integer compare; equal gaps prefer
    // the backward side — the trade-alignment convention). The oracle
    // replays the SAME two-sided compose, so the pick semantics are
    // hash-verified, not just plausible. Scale shape = 2× the as-of cost
    // (both passes shuffle on the user key; a cluster run co-partitions
    // both probes off one exchange).
    Q("join_asof_nearest",
      """WITH sg AS (
        |  SELECT user_id, ts AS s_ts, event_id AS s_id FROM events
        |  WHERE event_type = 'signup'
        |), p AS (
        |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id FROM events
        |  WHERE event_type = 'purchase'
        |), bwd AS (
        |  SELECT user_id, s_id, s_ts, p_id AS b_id, p_ts AS b_ts FROM (
        |    SELECT sg.user_id, sg.s_id, sg.s_ts, p.p_id, p.p_ts,
        |           row_number() OVER (PARTITION BY sg.s_id
        |               ORDER BY p_ts DESC NULLS LAST, p_id DESC NULLS LAST)
        |             AS rn
        |    FROM sg LEFT JOIN p ON p_user = sg.user_id AND p_ts <= s_ts)
        |  WHERE rn = 1
        |), fwd AS (
        |  SELECT s_id, p_id AS f_id, p_ts AS f_ts FROM (
        |    SELECT sg.s_id, p.p_id, p.p_ts,
        |           row_number() OVER (PARTITION BY sg.s_id
        |               ORDER BY p_ts ASC NULLS LAST, p_id ASC NULLS LAST)
        |             AS rn
        |    FROM sg LEFT JOIN p ON p_user = sg.user_id AND p_ts >= s_ts)
        |  WHERE rn = 1
        |), j AS (
        |  SELECT b.user_id, b.s_id, b.s_ts, b.b_id, b.b_ts, f.f_id, f.f_ts,
        |         epoch_us(b.s_ts) - epoch_us(b.b_ts) AS bgap,
        |         epoch_us(f.f_ts) - epoch_us(b.s_ts) AS fgap
        |  FROM bwd b JOIN fwd f USING (s_id)
        |)
        |SELECT user_id, s_id, s_ts,
        |       CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR bgap <= fgap)
        |            THEN b_id ELSE f_id END AS n_id,
        |       CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR bgap <= fgap)
        |            THEN b_ts ELSE f_ts END AS n_ts,
        |       CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |            WHEN b_id IS NOT NULL AND (f_id IS NULL OR bgap <= fgap)
        |            THEN 'b' ELSE 'f' END AS dir,
        |       CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR bgap <= fgap)
        |            THEN bgap ELSE fgap END AS gap_us
        |FROM j ORDER BY s_id""".stripMargin) { (s, d) =>
      val sg = eventSide(s, d, "signup", "user_id", "s_ts", "s_id")
        .persist() // probe side of BOTH native as-of passes
      val p = eventSide(s, d, "purchase", "p_user", "p_ts", "p_id").persist()
      val bwd = AsOfJoinPlan
        .asof(sg, p, "user_id", "p_user", "s_ts", "p_ts",
          rightTie = Seq("p_id"), forward = false)
        .select(col("user_id"), col("s_id"), col("s_ts"),
          col("p_id").as("b_id"), col("p_ts").as("b_ts"))
      val fwd = AsOfJoinPlan
        .asof(sg, p, "user_id", "p_user", "s_ts", "p_ts",
          rightTie = Seq("p_id"), forward = true)
        .select(col("s_id"), col("p_id").as("f_id"), col("p_ts").as("f_ts"))
      val bgap = expr("unix_micros(s_ts) - unix_micros(b_ts)")
      val fgap = expr("unix_micros(f_ts) - unix_micros(s_ts)")
      val takeB = col("b_id").isNotNull &&
        (col("f_id").isNull || bgap <= fgap)
      bwd.join(fwd, Seq("s_id"))
        .select(col("user_id"), col("s_id"), col("s_ts"),
          when(takeB, col("b_id")).otherwise(col("f_id")).as("n_id"),
          when(takeB, col("b_ts")).otherwise(col("f_ts")).as("n_ts"),
          when(col("b_id").isNull && col("f_id").isNull, lit(null))
            .when(takeB, lit("b")).otherwise(lit("f")).as("dir"),
          when(takeB, bgap).otherwise(fgap).as("gap_us"))
        .orderBy("s_id")
    },

    Q("join_asof_forward",
      """WITH sg AS (
        |  SELECT user_id, ts AS s_ts, event_id AS s_id FROM events
        |  WHERE event_type = 'signup'
        |), p AS (
        |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id FROM events
        |  WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT sg.user_id, sg.s_id, sg.s_ts, p.p_id, p.p_ts,
        |         row_number() OVER (PARTITION BY sg.s_id
        |             ORDER BY p_ts ASC NULLS LAST, p_id ASC NULLS LAST) AS rn
        |  FROM sg LEFT JOIN p ON p_user = sg.user_id AND p_ts >= s_ts
        |)
        |SELECT user_id, s_id, s_ts, p_id, p_ts FROM j WHERE rn = 1
        |ORDER BY s_id""".stripMargin) { (s, d) =>
      AsOfJoinPlan
        .asof(eventSide(s, d, "signup", "user_id", "s_ts", "s_id"),
          eventSide(s, d, "purchase", "p_user", "p_ts", "p_id"),
          "user_id", "p_user", "s_ts", "p_ts",
          rightTie = Seq("p_id"), forward = true)
        .select("user_id", "s_id", "s_ts", "p_id", "p_ts")
        .orderBy("s_id")
    },

    // Null-safe equi-join (round 5): <=> joins where NULL keys MATCH each
    // other — the dimension-attach shape a plain `=` join silently drops
    // NULL-keyed rows from. EqualNullSafe is still an EQUI predicate, so
    // this hash-partitions (all NULLs co-locate in one group, like any
    // other key value) — never a nested-loop. The NULL group is a
    // built-in skew hazard at scale (every NULL row lands in ONE
    // partition), which is why the dim side here is an aggregate of the
    // fact itself (bounded groups) and the fact side stays the probe;
    // a NULL-heavy fact⋈fact null-safe join would want the Skew.salted
    // path instead.
    Q("join_null_safe",
      """WITH o AS (
        |  SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_n
        |  FROM orders
        |), grp AS (
        |  SELECT status_n AS g_status, CAST(count(*) AS BIGINT) AS n_same
        |  FROM o GROUP BY status_n
        |)
        |SELECT o_orderkey, status_n, n_same
        |FROM o JOIN grp ON status_n IS NOT DISTINCT FROM g_status
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("P")).as("status_n"))
      val grp = o.groupBy(col("status_n").as("g_status"))
        .agg(count(lit(1)).as("n_same"))
      o.join(grp, col("status_n") <=> col("g_status"))
        .select("o_orderkey", "status_n", "n_same")
        .orderBy("o_orderkey")
    },

    // Salted join as a DECLARED key (round 5, cont.): the manual
    // hot-key defense (Skew.saltedJoin — probe side salted by a content
    // hash, build side exploded salt×) proven RESULT-TRANSPARENT
    // against the plain-join oracle — salting redistributes rows, it
    // must never change them. Spec-only until now (SkewSpec; the Zipf
    // skew numbers are in SCALING.md, "Zipfian key skew at 60M rows");
    // this key puts the actual
    // operator under the driver's hash compare. When AQE's skew-join
    // handles the shape, prefer it — saltedJoin is for the cases AQE
    // can't see (single mega-key joins, non-sort-merge plans).
    Q("join_salted",
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
        .select("l_suppkey", "l_quantity", "l_orderkey", "l_linenumber")
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, "l_suppkey",
          tieBreak = col("l_orderkey") * 8 + col("l_linenumber"), salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          // decimal-exact sum, DOUBLE at the edge (decimal-output columns
          // hash-mismatch in the driver compare — see etl_rfm note)
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"))
        .orderBy("s_nationkey")
    },

    // Bloom runtime-filtered dim join (round 9): the classic bloom-join /
    // runtime-filter move as a DECLARED key, RESULT-TRANSPARENT against
    // the plain-join oracle (a Bloom filter has no false negatives, and
    // the equi-join itself removes its false positives — the filter can
    // only change the PLAN, never the rows; llm_decontaminate_bloom's
    // contract on the relational fact-dim shape). The selective dim
    // predicate compresses to one bounded filter delivered through an
    // uncorrelated scalar subquery, the fact scan drops non-candidates
    // MAP-SIDE, and only the surviving sliver pays the shuffle. At
    // 100 TB this is the difference between shuffling the whole fact and
    // shuffling ~the matching 10% — the hand-rolled analog of Spark's own
    // runtime row-group filters, usable where AQE/DPP can't see the
    // opportunity (non-partition keys, pre-aggregated dims, sketch
    // reuse across queries via the persisted filter bytes).
    Q("join_bloom_runtime",
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |                  AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graft.BloomFunctions.{bloomBuild, bloomContains}
      val dim = t(s, d, "part").where(col("p_size") <= 5)
        .select("p_partkey", "p_brand")
      dim.select("p_partkey").createOrReplaceTempView("graft_bloom_dim")
      val fact = t(s, d, "lineitem").select("l_partkey", "l_extendedprice")
        .where(bloomContains(
          expr("(SELECT bloom_build(p_partkey) FROM graft_bloom_dim)"),
          col("l_partkey")))
      fact.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("revenue"))
        .orderBy("p_brand")
    },

    // ---------------------------------------------------------------- §2.F
    Q("sort_multi_nulls",
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
        |FROM customer
        |ORDER BY seg ASC NULLS FIRST, c_acctbal DESC, c_custkey""".stripMargin) {
      (s, d) =>
        t(s, d, "customer")
          .select(
            col("c_custkey"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
            col("c_acctbal"))
          .orderBy(col("seg").asc_nulls_first, col("c_acctbal").desc, col("c_custkey"))
    },

    Q("limit_k",
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 10") {
      (s, d) =>
        t(s, d, "orders").select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey").offset(10).limit(50)
    },

    // ORDER BY + LIMIT fuses to TakeOrderedAndProject — no global sort.
    Q("topk_global",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },

    // ---------------------------------------------------------------- §2.G
    Q("set_union_all",
      """SELECT * FROM (
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE ts < TIMESTAMP '2024-01-05'
        |  UNION ALL
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_type = 'error'
        |) ORDER BY event_id, user_id, event_type""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val a = ev.where(col("ts") < lit("2024-01-05").cast("timestamp"))
        .select("event_id", "user_id", "event_type")
      // by-name variant: right side deliberately built in another column
      // order; unionByName aligns.
      val b = ev.where(col("event_type") === "error")
        .select("event_type", "user_id", "event_id")
      a.unionByName(b).orderBy("event_id", "user_id", "event_type")
    },

    Q("set_union_distinct",
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |UNION
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      yr(1995).union(yr(1996)).distinct().orderBy("o_custkey")
    },

    Q("set_intersect",
      """(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |INTERSECT
        |(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      yr(1995).intersect(yr(1996)).orderBy("o_custkey")
    },

    // Multiset intersection (round 5) — INTERSECT ALL keeps min(m, n)
    // copies per value, the multiset twin of set_intersect the way
    // set_except twins a would-be EXCEPT (DISTINCT). Spark's intersectAll
    // plans the same partial-count + min trick both engines use — one
    // shuffle per side on the full row.
    Q("set_intersect_all",
      """(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |INTERSECT ALL
        |(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      yr(1995).intersectAll(yr(1996)).orderBy("o_custkey")
    },

    // Multiset difference — incremental-load "new rows" semantics (R9).
    Q("set_except",
      """(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |EXCEPT ALL
        |(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      yr(1995).exceptAll(yr(1996)).orderBy("o_custkey")
    },

    // Symmetric difference (round 13): customers active in exactly ONE
    // of two years — (A ∖ B) ∪ (B ∖ A) with a side tag, completing the
    // set family (union/intersect/except). DISTINCT set semantics (the
    // churn-or-new readout); each half is one anti-join of
    // deduplicated year frames, the union is append-only.
    Q("set_symmetric_diff",
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |), b AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |)
        |SELECT o_custkey, side FROM (
        |  SELECT o_custkey, 'only_1995' AS side FROM a
        |  WHERE o_custkey NOT IN (SELECT o_custkey FROM b)
        |  UNION ALL
        |  SELECT o_custkey, 'only_1996' AS side FROM b
        |  WHERE o_custkey NOT IN (SELECT o_custkey FROM a)
        |)
        |ORDER BY o_custkey, side""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey").distinct()
      val a = yr(1995)
      val b = yr(1996)
      a.join(b, Seq("o_custkey"), "left_anti")
        .withColumn("side", lit("only_1995"))
        .unionByName(b.join(a, Seq("o_custkey"), "left_anti")
          .withColumn("side", lit("only_1996")))
        .orderBy("o_custkey", "side")
    },

    // Set difference, DISTINCT semantics (round 13, cont.): customers
    // active in 1995 and NOT in 1996 — the churned-customer SET. The
    // last missing corner of the set family: set_except is EXCEPT ALL
    // (multiset, keeps max(m−n,0) copies), this is plain EXCEPT.
    // Spark's `except` plans a left-anti over distinct inputs — one
    // shuffle per side, map-side-combinable distincts.
    Q("set_except_distinct",
      """(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |EXCEPT
        |(SELECT o_custkey FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      def yr(y: Int) = o
        .where(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      yr(1995).except(yr(1996)).orderBy("o_custkey")
    }
  )
}

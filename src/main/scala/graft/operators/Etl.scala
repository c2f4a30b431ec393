package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionizePlan

/** §2.I ETL composites — the pipelines that make the engine
  * "dimagi-data-platform-shaped" (SURVEY.md §2.I; requirements R3–R9,
  * SURVEY.md §1.2). The reference computed these as PostgreSQL SQL + R
  * scripts; here each is a declarative Spark plan so Catalyst handles
  * pushdown/pruning and AQE handles skew at 100 TB (SURVEY.md §3.2).
  *
  * Scale notes:
  *  - Sessionization is a single hash-partition-by-user shuffle + in-partition
  *    sort; no self-join. At 1000 executors the only exchange is on user_id
  *    (AQE skew-split handles hot users).
  *  - Monthly usage reuses the sessionize output in the same plan; Spark
  *    schedules both aggregations off one shuffle of events.
  */
object Etl {

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")
  private def orders(s: SparkSession, d: String) = Tables(s, d, "orders")

  /** Per-user event ordering — unique tie-break on event_id (FIXTURES.md). */
  private val byUserTime = Window.partitionBy("user_id").orderBy("ts", "event_id")

  /** The visit gap (R3): strictly more than this many minutes since the
    * user's previous event starts a new visit. Every sessionizer call in
    * the engine passes it, and the DuckDB oracles hardcode the same 30.
    */
  val SessionGapMinutes = 30

  /** The clamped running ledger etl_clamped_ledger runs, as a
    * secondary-sort SCAN: repartition by user, sort (user, ts, event_id)
    * WITHIN partitions (the classic secondary sort — one exchange, one
    * partition-local sort, no per-key array ever materializes), then a
    * sequential mapPartitions scan with key-change detection. A Zipf hot
    * user whose history would blow an in-row collect_list buffer streams
    * through this scan in O(1) state (SCALING.md, "clamped-ledger scan vs
    * in-row fold": 60M events with a ~6.2M-row hot key; equality vs the
    * fold in EtlSpec).
    *
    * Input: (user_id LONG, ts_micros LONG, event_id LONG, delta LONG
    * cents). Output: (user_id, n_events, balance_cents, n_clamps),
    * unordered — callers sort.
    */
  def clampedLedgerScan(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(col("user_id").cast("long"), col("ts_micros").cast("long"),
        col("event_id").cast("long"), col("delta").cast("long"))
      .as[(Long, Long, Long, Long)]
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_micros", "event_id")
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long)] {
          private var cur = Option.empty[Long] // current user
          private var bal = 0L; private var clamps = 0L; private var n = 0L
          private var pending = Option.empty[(Long, Long, Long, Long)]
          private def roll(u: Long): Unit = {
            pending = Some((u, n, bal, clamps)); bal = 0L; clamps = 0L; n = 0L
          }
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (u, _, _, d) = it.next()
              if (cur.exists(_ != u)) roll(cur.get)
              cur = Some(u)
              val nb = bal + d
              bal = math.max(0L, nb)
              if (nb < 0) clamps += 1
              n += 1
            }
            if (pending.isEmpty && !it.hasNext && cur.nonEmpty) {
              roll(cur.get); cur = None
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): (Long, Long, Long, Long) = {
            advance(); val r = pending.get; pending = None; r
          }
        }
      }
      .toDF("user_id", "n_events", "balance_cents", "n_clamps")
  }

  /** Events annotated with a per-user session_id: a gap of more than
    * [[SessionGapMinutes]] (strict) starts a new session (R3 visit
    * construction). Runs the native one-pass [[SessionizePlan]] operator:
    * one exchange on user_id and one sort, then a constant-state stream.
    * The gap test is exact in microseconds, so Spark and the DuckDB
    * oracle's `ts > prev + INTERVAL 30 MINUTE` agree.
    */
  def sessionized(ev: DataFrame): DataFrame =
    SessionizePlan.sessionize(ev, Seq("user_id"), "ts", Seq("event_id"),
      SessionGapMinutes)

  /** Skew-safe twin of [[sessionized]] for Zipfian user ids — SAME result
    * (pinned by a LawsProps equality law), different plan. Plain
    * sessionize sorts each user's whole history in ONE task; a hot user
    * owning 10% of a 100 TB stream is a straggler AQE cannot split
    * (SCALING.md round-3 measurement). Here:
    *
    *  1. the native sessionizer runs per (user, coarse time bucket) — the
    *     hot user's sort parallelizes across buckets; the local session
    *     counter `__ls` treats each bucket's first event as a start
    *     (maybe falsely);
    *  2. per-(user, bucket) summaries (first/last ts, local start count) —
    *     rows = non-empty buckets per user, orders of magnitude smaller —
    *     get a per-user window: `__bridge` = this bucket's first event
    *     continues the previous bucket's last session (≤30-min gap across
    *     the boundary); `__base` = true session starts before this bucket;
    *  3. join summaries back on (user, bucket) — the exchange from step 1
    *     is reusable — and the global id is `__base + __ls - __bridge`
    *     (the only locally-miscounted start is the bucket's first event).
    *
    * Sessions spanning MANY buckets chain correctly: each bridged bucket
    * contributes `n_local - 1` starts, so the running base never counts a
    * continuation as a start. Bucket width is the parallelism dial: it
    * must be ≫ the session gap (a 30-min gap with 1-day buckets) so
    * bridges stay rare, and small enough to split the hot key.
    */
  def sessionizedScalable(ev: DataFrame, bucketMinutes: Int = 1440): DataFrame = {
    require(bucketMinutes > SessionGapMinutes,
      s"bucket ($bucketMinutes min) must exceed the $SessionGapMinutes-min session gap")
    // helper names collision-proofed against the input (Skew.scala pattern)
    val taken = ev.columns.toSet
    def fresh(base: String) = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i").find(!taken.contains(_)).get
    val bk = fresh("__bk"); val ls = fresh("__ls")
    val bridge = fresh("__bridge"); val baseC = fresh("__base")

    val bucketMicros = bucketMinutes * 60L * 1000000L
    val local = SessionizePlan.sessionize(
      ev.withColumn(bk, floor(unix_micros(col("ts")) / bucketMicros)),
      Seq("user_id", bk), "ts", Seq("event_id"), SessionGapMinutes,
      sessionCol = ls)
    val summary = local.groupBy(col("user_id"), col(bk))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        max(col(ls)).as("n_local"))
    val byUser = Window.partitionBy("user_id").orderBy(bk)
    val prevLast = lag(col("last_ts"), 1).over(byUser)
    val stitched = summary
      .withColumn(bridge,
        when(prevLast.isNotNull &&
          col("first_ts") <= prevLast +
            expr(s"INTERVAL $SessionGapMinutes MINUTES"), 1L)
          .otherwise(0L))
      .withColumn(baseC,
        coalesce(
          sum(col("n_local") - col(bridge))
            .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("user_id"), col(bk), col(bridge), col(baseC))
    local.join(stitched, Seq("user_id", bk))
      .withColumn("session_id", col(baseC) + col(ls) - col(bridge))
      .drop(bk, ls, bridge, baseC)
  }

  /** Case-aware visits (R3, full heuristic): a new session starts on a
    * >30-min gap OR an entity-key change. `entity` is extracted from
    * `props.$.k` (string, may be null); the change test is null-safe
    * (`<=>` / IS DISTINCT FROM) so null→null is continuity and null→x is a
    * split. Entity is constant within a session BY CONSTRUCTION.
    */
  def sessionizedEntity(ev: DataFrame): DataFrame =
    SessionizePlan.sessionize(
      ev.withColumn("entity", get_json_object(col("props"), "$.k")),
      Seq("user_id"), "ts", Seq("event_id"), SessionGapMinutes,
      entity = Some("entity"))

  /** One row per session of a sessionized frame: first and last event
    * time and event count. `extra` names columns constant within a
    * session (the entity) that the summary carries.
    */
  def sessionSummaries(sessions: DataFrame, extra: String*): DataFrame =
    sessions.groupBy(("user_id" +: "session_id" +: extra).map(col): _*)
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))

  private val sessionizeEntityOracle =
    """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         json_extract_string(props, '$.k') AS entity,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |                OR json_extract_string(props, '$.k') IS DISTINCT FROM
        |                   lag(json_extract_string(props, '$.k')) OVER w
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, entity, ts,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, entity,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_id, entity
        |ORDER BY user_id, session_id""".stripMargin

  private val sessionizeOracle =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g
      |)
      |SELECT user_id, session_id,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  private def plainSessions(s: SparkSession, d: String): DataFrame =
    sessionSummaries(sessionized(events(s, d))).orderBy("user_id", "session_id")

  private def entitySessions(s: SparkSession, d: String): DataFrame =
    sessionSummaries(sessionizedEntity(events(s, d)), "entity")
      .orderBy("user_id", "session_id")

  /** Monthly usage indicators per (user, month) — R4, the flagship. */
  def monthlyUsage(s: SparkSession, d: String): DataFrame =
    monthlyUsage(events(s, d)).orderBy("user_id", "month")

  /** DataFrame-parameterized body, so config-driven runs ([[graft.config
    * .Pipeline]]) can feed a date-windowed / predicate-filtered scan;
    * unordered — callers sort.
    */
  def monthlyUsage(ev: DataFrame): DataFrame = {
    val base = ev
      .groupBy(col("user_id"), date_trunc("month", col("ts")).as("month"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(date_trunc("day", col("ts"))).as("active_days"),
        countDistinct(col("event_type")).as("n_event_types"),
        round(sum(col("value")), 2).as("total_value"),
        round(percentile(col("value"), lit(0.5)), 4).as("median_value"))
    val sess = sessionized(ev)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"))
      .groupBy(col("user_id"), date_trunc("month", col("session_start")).as("month"))
      .agg(count(lit(1)).as("n_sessions"))
    base
      .join(sess, Seq("user_id", "month"), "left")
      .select(
        col("user_id"), col("month"), col("n_events"), col("active_days"),
        col("n_event_types"), col("total_value"), col("median_value"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"))
  }

  private val monthlyUsageOracle =
    """WITH base AS (
      |  SELECT user_id, CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
      |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
      |         round(sum(value), 2) AS total_value,
      |         round(quantile_cont(value, 0.5), 4) AS median_value
      |  FROM events GROUP BY 1, 2
      |), g AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sm AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g
      |), sess AS (
      |  SELECT user_id, CAST(date_trunc('month', min(ts)) AS TIMESTAMP) AS month
      |  FROM sm GROUP BY user_id, session_id
      |), sessm AS (
      |  SELECT user_id, month, CAST(count(*) AS BIGINT) AS n_sessions
      |  FROM sess GROUP BY 1, 2
      |)
      |SELECT b.user_id, b.month, b.n_events, b.active_days, b.n_event_types,
      |       b.total_value, b.median_value,
      |       COALESCE(s.n_sessions, 0) AS n_sessions
      |FROM base b LEFT JOIN sessm s ON b.user_id = s.user_id AND b.month = s.month
      |ORDER BY b.user_id, b.month""".stripMargin

  /** Shared by etl_rfm (report-twin window plan) and etl_rfm_fenced
    * (the KLL-fence scale plan) — one oracle, two plans. */
  private val rfmOracle =
    """WITH u AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
      |           AS monetary
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
      |)
      |SELECT user_id, last_day, n_events, monetary,
      |       CAST(ntile(4) OVER (ORDER BY last_day DESC, user_id) AS BIGINT) AS r,
      |       CAST(ntile(4) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS f,
      |       CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m
      |FROM u ORDER BY user_id""".stripMargin

  /** Shared by etl_pareto_revenue / etl_pareto_revenue_fenced. */
  private val paretoOracle =
    """WITH cust AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey
      |), dec AS (
      |  SELECT o_custkey, spend,
      |         ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      |  FROM cust
      |), agg AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
      |         sum(spend) AS rev
      |  FROM dec GROUP BY decile
      |)
      |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
      |       round(CAST(rev AS DOUBLE), 2) AS revenue,
      |       round(CAST(rev AS DOUBLE) /
      |             CAST(sum(rev) OVER () AS DOUBLE), 6) AS share,
      |       round(CAST(sum(rev) OVER (ORDER BY decile) AS DOUBLE) /
      |             CAST(sum(rev) OVER () AS DOUBLE), 6) AS cum_share
      |FROM agg ORDER BY decile""".stripMargin

  val qs: Seq[Q] = Seq(
    // R9: idempotent re-import — keep the latest version per key.
    Q(
      "etl_dedup_latest",
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders
        |) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    },

    // R9: upsert a batch into a base — replace matched keys, append new.
    // At scale this is the partition-overwrite pattern; expressed here as
    // anti-join + union so AQE can broadcast the batch side when small.
    Q(
      "etl_incremental_merge",
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderstatus IN ('F','P')
        |), batch AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |)
        |SELECT * FROM (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM batch t WHERE t.o_orderkey = b.o_orderkey)
        |  UNION ALL
        |  SELECT * FROM batch
        |) ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      val o = orders(s, d).select(cols.map(col): _*)
      val base = o.where(col("o_orderstatus").isin("F", "P"))
      val batch = o.where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      base
        .join(batch, Seq("o_orderkey"), "left_anti")
        .unionByName(batch)
        .orderBy("o_orderkey")
    },

    // R9 with hard deletes (round 5): apply a CDC changelog to reach
    // final state. etl_incremental_merge is upsert-only and
    // etl_dedup_latest keeps the latest version via a WINDOW — this key
    // adds the missing DELETE semantics (a tombstone as the last event
    // erases the key) and takes the AGGREGATE plan: max(struct(seq,
    // payload)) partial-folds each mapper's versions before the exchange.
    // Measured at Zipf 60M (SCALING.md) this runs at PARITY with the
    // rn=1 window — InferWindowGroupLimit rescues that pattern from
    // window skew too — so the aggregate is declared for what survives
    // the measurement: the identical fold rides streaming state
    // (stream_cdc_apply) and incremental maintenance (partials merge
    // across batches), and it generalizes to payload folds no group-limit
    // rewrite covers (sketch merges). The changelog here is lineitem
    // replayed as
    // versioned events (seq = l_linenumber — NOT unique per order in
    // this generator, as in any real at-least-once changelog), so the
    // winner rule is the full lexicographic tuple (seq, op, payload):
    // struct-max applies it natively and the oracle's window spells the
    // identical DESC order — deterministic under seq ties in both
    // engines. The tombstone flag derives via PortableHash so both
    // engines see the same ops.
    Q(
      "etl_cdc_apply",
      s"""WITH chg AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         |         CASE WHEN ${graft.functions.PortableHash.sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")} % 10 = 0
         |              THEN 'D' ELSE 'U' END AS op
         |  FROM lineitem
         |)
         |SELECT l_orderkey, l_quantity AS qty, l_extendedprice AS price, n_versions
         |FROM (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY l_orderkey
         |                            ORDER BY l_linenumber DESC, op DESC,
         |                                     l_quantity DESC, l_extendedprice DESC) AS rn,
         |         CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_versions
         |  FROM chg)
         |WHERE rn = 1 AND op <> 'D'
         |ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      val opHash = graft.functions.PortableHash.pHash(concat(
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")))
      Tables(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .withColumn("op",
          when(pmod(opHash, lit(10)) === 0, "D").otherwise("U"))
        .groupBy("l_orderkey")
        .agg(
          max(struct(col("l_linenumber"), col("op"), col("l_quantity"),
            col("l_extendedprice"))).as("last"),
          count(lit(1)).as("n_versions"))
        .where(col("last.op") =!= "D")
        .select(col("l_orderkey"),
          col("last.l_quantity").as("qty"),
          col("last.l_extendedprice").as("price"),
          col("n_versions"))
        .orderBy("l_orderkey")
    },

    // R3: visit construction — gap-based sessionization (SURVEY.md §2.I).
    Q("etl_sessionize", sessionizeOracle)(plainSessions),

    // R3 at Zipf scale: the skew-safe two-level plan, declared with the
    // SAME oracle as etl_sessionize — the driver hash-verifies that the
    // bucketed+stitched plan is bit-identical to the single-pass one.
    Q("etl_sessionize_scalable", sessionizeOracle) { (s, d) =>
      sessionSummaries(sessionizedScalable(events(s, d)))
        .orderBy("user_id", "session_id")
    },

    // Declared key kept under its name: the same plan as etl_sessionize.
    Q("etl_sessionize_native", sessionizeOracle)(plainSessions),

    // R3: CASE-AWARE visit construction — the reference's full visit
    // heuristic groups consecutive submissions by time proximity AND shared
    // cases, not time alone (SURVEY.md §1.2 R3). The entity key is the
    // `props.$.k` field (the testdata's case-id analog, same extraction as
    // fn_json); a new visit starts on a >30-min gap OR when the entity
    // under work changes (null-safe, so untagged events never silently glue
    // to a case). Same plan shape as etl_sessionize: ONE exchange on
    // user_id, the entity test rides the same one-pass stream — entity
    // awareness costs zero extra shuffles at 100 TB.
    Q("etl_sessionize_entity", sessionizeEntityOracle)(entitySessions),

    // Feature scaling (round 7, cont.): min-max normalization and
    // z-score standardization of the value column against PER-TYPE
    // statistics — the ML-preprocessing transform every feature pipeline
    // runs before training. Stats come from the FULL table (one
    // partial-agg pass; mean/std via exact decimal moment folds — the
    // ab_ttest discipline), broadcast back onto the scored slice; the
    // scaled values are single identical-order double expressions. At
    // 100 TB the stats frame is type-domain bounded and the transform is
    // map-side.
    Q("etl_feature_scale",
      """WITH st AS (
        |  SELECT event_type,
        |         min(value) AS mn, max(value) AS mx,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(value AS DECIMAL(7,2))
        |                  * CAST(value AS DECIMAL(7,2))) AS DOUBLE) AS s2
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type
        |)
        |SELECT event_id, e.event_type, value,
        |       round((value - mn) / (mx - mn), 6) AS scaled_minmax,
        |       round((value - s1 / n)
        |             / sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)), 6)
        |         AS z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE value IS NOT NULL AND event_id < 200
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val v7 = col("value").cast("decimal(7,2)")
      val st = events(s, d)
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          min(col("value")).as("mn"), max(col("value")).as("mx"),
          count(lit(1)).cast("double").as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("s1"),
          sum(v7 * v7).cast("double").as("s2"))
      val mean = col("s1") / col("n")
      events(s, d)
        .where(col("value").isNotNull && col("event_id") < 200)
        .join(broadcast(st), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("mn")) / (col("mx") - col("mn")), 6)
            .as("scaled_minmax"),
          round((col("value") - mean)
            / sqrt((col("s2") - col("n") * mean * mean) / (col("n") - 1)), 6)
            .as("z"))
        .orderBy("event_id")
    },

    // Peak session concurrency (round 7, cont.): per day, the maximum
    // number of simultaneously-open sessions — capacity planning's
    // first question, and the INTERVAL-STACKING idiom (explode each
    // session to a +1 start / −1 end endpoint, running-sum the deltas
    // over the time order, take the running max) that no
    // per-row/per-group aggregate family covers. Convention: +1 sorts
    // before −1 at the same instant (touching sessions count as
    // overlapping), total order pinned by (ts, delta DESC, user,
    // session). The running sum is a global window over the ENDPOINT
    // frame (2 rows per session — report-scale; the etl_rfm global-sort
    // discipline, with the two-level bucket trick as the 100 TB escape);
    // counts stay integers end to end.
    Q("etl_concurrency",
      """WITH sess AS (
        |  SELECT user_id, session_id,
        |         min(ts) AS s_start, max(ts) AS s_end
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |           CAST(sum(CASE WHEN prev_ts IS NULL
        |                          OR ts > prev_ts + INTERVAL 30 MINUTE
        |                         THEN 1 ELSE 0 END)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS session_id
        |    FROM (SELECT user_id, event_id, ts,
        |                 lag(ts) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_ts
        |          FROM events)
        |  ) GROUP BY user_id, session_id
        |), ep AS (
        |  SELECT user_id, session_id, s_start AS t, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, session_id, s_end AS t, -1 AS delta FROM sess
        |), run AS (
        |  SELECT t,
        |         CAST(sum(delta) OVER (ORDER BY t, delta DESC, user_id,
        |                               session_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS open_now
        |  FROM ep
        |)
        |SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
        |       max(open_now) AS peak_concurrent
        |FROM run GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val sess = sessionized(events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      val ep = sess.select(col("user_id"), col("session_id"),
          col("s_start").as("t"), lit(1).as("delta"))
        .unionByName(sess.select(col("user_id"), col("session_id"),
          col("s_end").as("t"), lit(-1).as("delta")))
        .withColumn("day", date_trunc("day", col("t")))
        // the endpoint frame feeds BOTH the carry aggregate and the main
        // join — without the persist the whole sessionize pipeline
        // evaluates twice (measured 2× on the bench). 2 rows per session:
        // orders of magnitude below the event fact at any scale.
        .persist()
      // Two-level prefix sum (round 8 — the endpoint frame is 2 rows per
      // SESSION, which scales with the data, so the old single global
      // running-sum window was the r7 weak class): (1) per-day delta
      // totals fold map-side to a BOUNDED day frame; (2) the carry-in
      // (sessions still open at each day's start) is a running sum over
      // that day frame only; (3) the within-day running sum windows
      // PARTITION BY day — every partition is one day's endpoints —
      // seeded with the broadcast carry. Identical totals to the global
      // window (prefix sums compose), same oracle.
      val wDays = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      val carry = ep.groupBy("day")
        .agg(sum(col("delta")).as("day_delta"))
        .withColumn("carry",
          coalesce(sum(col("day_delta")).over(wDays), lit(0)).cast("long"))
        .select("day", "carry")
      val wDay = Window.partitionBy("day")
        .orderBy(col("t"), col("delta").desc, col("user_id"),
          col("session_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ep.join(broadcast(carry), Seq("day"))
        .withColumn("open_now",
          (col("carry") + sum(col("delta")).over(wDay)).cast("long"))
        .groupBy(col("day"))
        .agg(max(col("open_now")).as("peak_concurrent"))
        .orderBy("day")
    },

    // Field-level survivorship (round 7, cont.): the MDM golden-record
    // rule — per user, each field survives from the LATEST row where it
    // is populated, independently per field (etl_dedup_latest keeps the
    // latest ROW wholesale; here a null in the newest row does NOT
    // clobber an older value). Each field is one max(struct(ts, id,
    // field)) selection gated on non-null — nulls never enter the max,
    // struct comparison is lexicographic on both engines, and (ts,
    // event_id) is a total order, so every survivor is a deterministic
    // SELECTION (no float folds). ONE hash aggregate over one scan: at
    // 100 TB field-level survivorship costs exactly what row-level
    // dedup costs.
    Q("etl_survivorship",
      """SELECT user_id,
        |       max(struct_pack(ts := ts, eid := event_id,
        |                       v := event_type)).v AS last_type,
        |       (max(struct_pack(ts := ts, eid := event_id, v := value))
        |          FILTER (WHERE value IS NOT NULL)).v AS last_value,
        |       (max(struct_pack(ts := ts, eid := event_id,
        |                        v := json_extract_string(props, '$.k')))
        |          FILTER (WHERE json_extract_string(props, '$.k')
        |                  IS NOT NULL)).v AS last_entity,
        |       min(ts) AS first_seen, max(ts) AS last_seen,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
        val ev = events(s, d)
          .withColumn("entity", get_json_object(col("props"), "$.k"))
        def survive(field: org.apache.spark.sql.Column) =
          max(when(field.isNotNull,
            struct(col("ts"), col("event_id"), field.as("v"))))
            .getField("v")
        ev.groupBy("user_id")
          .agg(
            survive(col("event_type")).as("last_type"),
            survive(col("value")).as("last_value"),
            survive(col("entity")).as("last_entity"),
            min(col("ts")).as("first_seen"),
            max(col("ts")).as("last_seen"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
    },

    // Seasonal decomposition (round 7, cont.): the classical
    // trend/seasonal/residual additive split of each type's daily count
    // series — trend = centered 7-day moving average (shrinking at the
    // edges), seasonal = per-weekday mean of the detrended series,
    // residual = the rest. The etl_forecast_snaive/weekday_profile
    // family's missing third piece: what remains AFTER trend and
    // seasonality is what monitoring should alert on. Determinism: the
    // trend is sum/count of exact BIGINTs over an identical window frame
    // (one division), weekday means fold the detrended doubles in
    // pinned day order (source_mix_kl idiom), outputs floor-truncated.
    // Everything past the one fact scan runs on the BOUNDED type×day
    // frame.
    Q("etl_seasonal_decompose",
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), tr AS (
        |  SELECT event_type, day, c,
        |         CAST(sum(c) OVER w AS DOUBLE) / count(c) OVER w AS trend,
        |         date_part('dow', day) AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), se AS (
        |  SELECT event_type, dow,
        |         list_reduce(list_prepend(0.0, list(c - trend ORDER BY day)),
        |                     (a, b) -> a + b) / count(*) AS seasonal
        |  FROM tr GROUP BY 1, 2
        |)
        |SELECT t.event_type, t.day, t.c,
        |       floor(t.trend * 1000000) / 1000000 AS trend,
        |       floor(s.seasonal * 1000000) / 1000000 AS seasonal,
        |       floor((t.c - t.trend - s.seasonal) * 1000000) / 1000000
        |         AS residual
        |FROM tr t JOIN se s ON t.event_type = s.event_type AND t.dow = s.dow
        |ORDER BY t.event_type, t.day""".stripMargin) { (s, d) =>
      val daily = events(s, d)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val tr = daily
        .withColumn("trend",
          sum(col("c")).over(w).cast("double") / count(col("c")).over(w))
        // Spark dayofweek is 1-based Sunday=1; DuckDB dow is 0-based
        .withColumn("dow", dayofweek(col("day")) - 1)
        .persist() // bounded frame feeds the weekday means AND the output
      val se = tr.groupBy("event_type", "dow")
        .agg((expr(
          """aggregate(sort_array(collect_list(struct(day, c - trend AS detr))),
            | 0d, (a, e) -> a + e.detr)""".stripMargin)
          / count(lit(1))).as("seasonal"))
      tr.join(broadcast(se), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("c"),
          (floor(col("trend") * 1000000) / 1000000).as("trend"),
          (floor(col("seasonal") * 1000000) / 1000000).as("seasonal"),
          (floor((col("c") - col("trend") - col("seasonal")) * 1000000)
            / 1000000).as("residual"))
        .orderBy("event_type", "day")
    },

    // Out-of-order lateness profile (round 7, cont.): per stream
    // (event_type), how late do events arrive relative to the ingest
    // order — lateness = running max event-time over all PRIOR ingest
    // positions minus this event's time, when positive. THE input for
    // choosing the streaming family's watermark horizon (§2.J
    // stream_watermark_late drops what exceeds it): p50/p95/max lateness
    // say what a horizon would lose. One window per stream partition
    // (ingest order is per-stream — partition-parallel, never a global
    // sort), lateness in exact integer microseconds, exact percentiles
    // over the per-type groups (agg_median discipline).
    Q("etl_late_arrivals",
      """WITH l AS (
        |  SELECT event_type,
        |         greatest(epoch_us(
        |             max(ts) OVER (PARTITION BY event_type ORDER BY event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |           - epoch_us(ts), 0) AS late_us
        |  FROM events
        |)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_late,
        |       round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1.0
        |             / count(*), 6) AS late_share,
        |       round(quantile_cont(late_us, 0.5) / 1000000.0, 6) AS p50_late_s,
        |       round(quantile_cont(late_us, 0.95) / 1000000.0, 6) AS p95_late_s,
        |       round(max(late_us) / 1000000.0, 6) AS max_late_s
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val l = events(s, d).select(col("event_type"),
        greatest(
          unix_micros(max(col("ts")).over(w)) - unix_micros(col("ts")),
          lit(0L)).as("late_us"))
      l.groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
          round(sum(when(col("late_us") > 0, 1L).otherwise(0L)) * 1.0
            / count(lit(1)), 6).as("late_share"),
          round(percentile(col("late_us"), lit(0.5)) / 1000000.0, 6)
            .as("p50_late_s"),
          round(percentile(col("late_us"), lit(0.95)) / 1000000.0, 6)
            .as("p95_late_s"),
          round(max(col("late_us")) / 1000000.0, 6).as("max_late_s"))
        .orderBy("event_type")
    },

    // Declared key kept under its name: the same plan as
    // etl_sessionize_entity.
    Q("etl_sessionize_entity_native", sessionizeEntityOracle)(entitySessions),

    // R4: the monthly usage table — flagship (also wired as SparkEntry.entry).
    Q("etl_monthly_usage", monthlyUsageOracle)(monthlyUsage),

    // R5: lifetime metrics per user.
    Q(
      "etl_user_lifetime",
      """SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
        |       CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS BIGINT) AS tenure_days,
        |       CAST(count(DISTINCT date_trunc('month', ts)) AS BIGINT) AS active_months,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .agg(
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          datediff(max(col("ts")), min(col("ts"))).cast("long").as("tenure_days"),
          countDistinct(date_trunc("month", col("ts"))).as("active_months"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // Rolling Dn retention (round 12): per first-seen day, the share of
    // new users active again EXACTLY on day+1 and day+7 — the daily
    // D1/D7 panel a growth dashboard tracks next to the weekly cohort
    // matrix (etl_retention_cohort). Exact integer counts; the two
    // "retained on day k" probes are semi-joins of the bounded cohort
    // frame against the distinct (user, day) activity frame — no
    // windows, no per-offset re-scan of the fact.
    Q("etl_retention_dn",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS d0 FROM act GROUP BY user_id
        |), d1 AS (
        |  SELECT c.user_id FROM c JOIN act
        |    ON act.user_id = c.user_id AND act.day = c.d0 + 1
        |), d7 AS (
        |  SELECT c.user_id FROM c JOIN act
        |    ON act.user_id = c.user_id AND act.day = c.d0 + 7
        |)
        |SELECT d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN c.user_id IN (SELECT user_id FROM d1)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS d1_retained,
        |       CAST(sum(CASE WHEN c.user_id IN (SELECT user_id FROM d7)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS d7_retained,
        |       floor(CAST(sum(CASE WHEN c.user_id IN (SELECT user_id FROM d1)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*) * 1000000) / 1000000 AS d1_rate,
        |       floor(CAST(sum(CASE WHEN c.user_id IN (SELECT user_id FROM d7)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*) * 1000000) / 1000000 AS d7_rate
        |FROM c GROUP BY d0 ORDER BY cohort_day""".stripMargin) { (s, d) =>
      val act = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val c = act.groupBy("user_id").agg(min(col("day")).as("d0"))
      def retained(k: Int) = c.join(act,
          act("user_id") === c("user_id") &&
            act("day") === date_add(c("d0"), k), "left_semi")
        .select(c("user_id").as("u"), lit(1L).as(s"r$k"))
      c.join(retained(1).withColumnRenamed("u", "user_id"),
          Seq("user_id"), "left")
        .join(retained(7).withColumnRenamed("u", "user_id"),
          Seq("user_id"), "left")
        .groupBy(col("d0").as("cohort_day"))
        .agg(count(lit(1)).as("n_new"),
          sum(coalesce(col("r1"), lit(0L))).as("d1_retained"),
          sum(coalesce(col("r7"), lit(0L))).as("d7_retained"))
        .select(col("cohort_day"), col("n_new"),
          col("d1_retained"), col("d7_retained"),
          (floor(col("d1_retained").cast("double") / col("n_new") * 1000000)
            / 1000000).as("d1_rate"),
          (floor(col("d7_retained").cast("double") / col("n_new") * 1000000)
            / 1000000).as("d7_rate"))
        .orderBy("cohort_day")
    },

    // R5: cohort retention — first-active week × week offset. The events
    // table spans one calendar month (FIXTURES.md), so weekly cohorts are
    // the meaningful granularity; both engines truncate weeks to Monday.
    Q(
      "etl_retention_cohort",
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events
        |), cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
        |)
        |SELECT c.cohort_week,
        |       CAST(date_diff('day', CAST(c.cohort_week AS DATE), CAST(a.week AS DATE)) // 7 AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM activity a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val activity = events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohort = activity.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      activity
        .join(cohort, Seq("user_id"))
        .groupBy(
          col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // Funnel analysis (round 5): view → purchase-after-view → converted
    // within 1 day — the ordered-step conversion report every event
    // pipeline runs. The declared plan does the WHOLE funnel in one scan
    // and ONE exchange: a user-partitioned window computes each user's
    // first view, the groupBy on the same key reuses that partitioning
    // (the sessionize move) to fold first-view/first-conversion per
    // user, a global 4-counter aggregate reduces to one row, and a
    // stack() melt reshapes it to (step, name, n_users). The oracle
    // spells the same semantics as the textbook 3-CTE join — same
    // counts, but the declared plan touches events once where the naive
    // form scans it three times and joins twice.
    Q(
      "etl_funnel",
      """WITH ev AS (
        |  SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
        |), v AS (
        |  SELECT user_id, min(ts) AS first_view FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS conv_ts
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        |  GROUP BY e.user_id
        |), conv AS (
        |  SELECT c.user_id FROM c JOIN v ON c.user_id = v.user_id
        |  WHERE c.conv_ts <= v.first_view + INTERVAL 1 DAY
        |)
        |SELECT 1 AS step, 'any_event' AS name,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev
        |UNION ALL SELECT 2, 'viewed', CAST(count(*) AS BIGINT) FROM v
        |UNION ALL SELECT 3, 'purchased_after_view', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT 4, 'converted_1d', CAST(count(*) AS BIGINT) FROM conv
        |ORDER BY step""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id")
      // NULL users are dropped EXPLICITLY on both sides: without this the
      // oracle's count(DISTINCT)/joins would silently exclude a NULL-user
      // group that the window+groupBy path keeps
      val perUser = events(s, d)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("first_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("fv"),
          min(when(col("event_type") === "purchase" &&
            col("ts") >= col("first_view"), col("ts"))).as("conv_ts"))
      perUser
        .agg(
          count(lit(1)).as("c1"),
          count(col("fv")).as("c2"),
          count(col("conv_ts")).as("c3"),
          count(when(col("conv_ts") <= col("fv") + expr("INTERVAL 1 DAYS"),
            lit(1))).as("c4"))
        .select(expr("stack(4, 1, 'any_event', c1, 2, 'viewed', c2," +
          " 3, 'purchased_after_view', c3, 4, 'converted_1d', c4)" +
          " AS (step, name, n_users)"))
        .orderBy("step")
    },

    // Last-touch marketing attribution (R8 cross-domain roll-up family):
    // each purchase's value is credited to the user's most recent prior
    // touch event (view/click); purchases with no prior touch are
    // 'organic'. The portable gaps-and-islands form (same idiom as
    // etl_resample_ffill): a running count of touch events marks the
    // island each purchase falls in, and the island's FIRST row is the
    // touch itself — no IGNORE NULLS, identical window semantics in both
    // engines ((ts, event_id) is unique per user, so RANGE and ROWS
    // frames agree). One scan, two windows sharing the user_id
    // partitioning, then a tiny channel-domain aggregate.
    Q(
      "etl_attribution",
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, event_type, value
        |  FROM events WHERE user_id IS NOT NULL
        |), g AS (
        |  SELECT *, count(CASE WHEN event_type IN ('view','click') THEN 1 END)
        |       OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM ev
        |), a AS (
        |  SELECT *, first_value(
        |         CASE WHEN event_type IN ('view','click') THEN event_type END)
        |       OVER (PARTITION BY user_id, grp ORDER BY ts, event_id) AS ch
        |  FROM g
        |)
        |SELECT coalesce(ch, 'organic') AS channel,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS revenue
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val isTouch = col("event_type").isin("view", "click")
      val byUt = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val g = events(s, d)
        .where(col("user_id").isNotNull)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("grp", count(when(isTouch, lit(1))).over(byUt))
      g.withColumn("ch",
          first(when(isTouch, col("event_type"))).over(
            Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("ch"), lit("organic")).as("channel"))
        .agg(
          count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("revenue"))
        .orderBy("channel")
    },

    // R7: batch-entry detection — events in rapid succession (< 2 min gap).
    Q(
      "etl_batch_entry_flag",
      """WITH g AS (
        |  SELECT user_id,
        |         CASE WHEN lag(ts) OVER w IS NOT NULL
        |                AND ts <= lag(ts) OVER w + INTERVAL 2 MINUTE
        |              THEN 1 ELSE 0 END AS rapid
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(rapid) AS BIGINT) AS n_rapid,
        |       round(sum(rapid) * 1.0 / count(*), 4) AS rapid_share
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val prev = lag(col("ts"), 1).over(byUserTime)
      events(s, d)
        .withColumn(
          "rapid",
          when(prev.isNotNull && col("ts") <= prev + expr("INTERVAL 2 MINUTES"), 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("rapid")).as("n_rapid"),
          round(sum(col("rapid")) * lit(1.0) / count(lit(1)), 4).as("rapid_share"))
        .orderBy("user_id")
    },

    // R6: regex-parse a source/version-like string into fields + classify.
    Q(
      "etl_device_parse",
      """SELECT doc_id,
        |       regexp_extract(source, '([a-z]+)([0-9]+)', 1) AS src_kind,
        |       CAST(regexp_extract(source, '([a-z]+)([0-9]+)', 2) AS BIGINT) AS src_num,
        |       CASE WHEN CAST(regexp_extract(source, '([a-z]+)([0-9]+)', 2) AS BIGINT) < 10
        |            THEN 'low' ELSE 'high' END AS src_class
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val num = regexp_extract(col("source"), "([a-z]+)([0-9]+)", 2).cast("long")
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("source"), "([a-z]+)([0-9]+)", 1).as("src_kind"),
          num.as("src_num"),
          when(num < 10, "low").otherwise("high").as("src_class"))
        .orderBy("doc_id")
    },

    // R2/R5: point-in-time snapshot — latest state per entity as of T.
    Q(
      "etl_snapshot_scd",
      """SELECT user_id, ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .where(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "ts", "event_type", "value")
        .orderBy("user_id")
    },

    // R2/R9: SCD Type-2 history build — turn the event stream into a
    // validity-interval dimension: per user, keep only the rows where the
    // tracked attribute (event_type) CHANGED, then close each version with
    // the next change's timestamp (valid_to = lead(ts); open-ended row is
    // current). This is the standard warehouse history table the reference
    // maintains by migration + upsert; here it is one declarative plan.
    // Scale: both windows share the (user_id | ts, event_id) spec and the
    // filter between them preserves sort order, so Catalyst plans ONE
    // exchange + ONE sort for the whole build — the same single-shuffle
    // posture as sessionize.
    Q(
      "etl_scd2",
      """SELECT user_id, version_id, state, valid_from, valid_to, is_current
        |FROM (
        |  SELECT user_id, event_id AS version_id, event_type AS state,
        |         ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS valid_to,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           IS NULL AS is_current
        |  FROM (
        |    SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS prev_state
        |    FROM events
        |  ) WHERE prev_state IS DISTINCT FROM event_type
        |) ORDER BY user_id, valid_from, version_id""".stripMargin) { (s, d) =>
      scd2(events(s, d)).orderBy("user_id", "valid_from", "version_id")
    },

    // Daily churn/retention ledger (round 5, continued) — the R4-style
    // engagement report: per calendar day, how many users were active,
    // how many were brand new, how many returned from yesterday, and how
    // many of yesterday's actives churned (didn't come back). One scan:
    // the user-partitioned lag marks each (user, day) as new/retained,
    // the daily groupBy folds the flags, and churn falls out in
    // AGGREGATE-land as yesterday's actives minus today's retained — no
    // second scan, no self-join. The final lag window is global but runs
    // over the BOUNDED daily report (30 rows here, ≤ a few thousand for
    // years of data), the same bounded-frame argument as agg_histogram's
    // CDF. The day-contiguity CASE guard keeps the ledger honest if a
    // calendar day ever has zero actives.
    churnQ,

    // Event-type transition matrix (round 5, continued) — first-order
    // Markov view of user journeys (view→purchase, error→error, …): per
    // ordered consecutive event pair within a user, the count and the
    // row-normalized transition probability. One scan + ONE exchange:
    // the lag shuffles on user_id, the (prev, next) groupBy reduces to
    // the 5×5 type matrix, and the normalizing window runs over that
    // BOUNDED matrix, not the data. NULL user_ids deliberately form one
    // lag partition on both engines (same 3VL posture as
    // etl_batch_entry_flag).
    Q(
      "etl_transition_matrix",
      """WITH t AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_type
        |  FROM events
        |)
        |SELECT prev_type, event_type AS next_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type), 4)
        |         AS p_next
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, next_type""".stripMargin) { (s, d) =>
      val p = events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUserTime))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      p.withColumn("p_next",
          round(col("n") * lit(1.0) /
            sum(col("n")).over(Window.partitionBy("prev_type")), 4))
        .orderBy("prev_type", "next_type")
    },

    // Markov steady-state (round 9, cont.): three exact power-iteration
    // rounds of the journey transition chain from a uniform start —
    // where does user attention CONVERGE? etl_transition_matrix shows
    // one step; this key iterates it, turning "view mostly goes to
    // click" into "the chain parks X% of long-run mass on view" — the
    // equilibrium readout funnel design actually wants. Fixed 3 rounds
    // (not a convergence loop) so both engines replay the identical
    // computation; EXACT arithmetic via the graph_pagerank_directed
    // idiom — mass rides BIGINT micro-units (1e12 total), each step is
    // Σ_src (v·n) DIV tot (integer flooring, order-free BIGINT sums,
    // zero float accumulation). SINK nodes (types appearing only as a
    // transition TARGET — an absorbing last event) get a self-loop
    // (round 10 — ADVICE r9: without it a sink dropped its whole held
    // mass each round, making conservation data-dependent rather than
    // structural), so the chain is row-stochastic on EVERY node and
    // flooring leak ≤ K·rounds micro-units holds for any event stream.
    //
    // Scale shape: ONE user-partitioned lag window over the fact
    // builds the transition counts; everything after is arithmetic on
    // the bounded K×K matrix (K = event types).
    Q("etl_markov_steady",
      """WITH t AS (
        |  SELECT event_type AS nxt,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS src
        |  FROM events
        |), e0 AS (
        |  SELECT src, nxt, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE src IS NOT NULL GROUP BY 1, 2
        |), nodes AS (
        |  SELECT src AS ty FROM e0 UNION SELECT nxt FROM e0
        |), e AS (
        |  SELECT src, nxt, n FROM e0
        |  UNION ALL
        |  SELECT ty, ty, CAST(1 AS BIGINT) FROM nodes
        |  WHERE ty NOT IN (SELECT src FROM e0)
        |), rt AS (
        |  SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM e GROUP BY src
        |), kk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k FROM nodes
        |), v0 AS (
        |  SELECT ty, CAST(1000000000000 // k AS BIGINT) AS v
        |  FROM nodes CROSS JOIN kk
        |), v1 AS (
        |  SELECT nd.ty,
        |         CAST(coalesce(sum((p.v * e.n) // rt.tot), 0) AS BIGINT) AS v
        |  FROM nodes nd
        |  LEFT JOIN e ON e.nxt = nd.ty
        |  LEFT JOIN v0 p ON p.ty = e.src
        |  LEFT JOIN rt ON rt.src = e.src
        |  GROUP BY nd.ty
        |), v2 AS (
        |  SELECT nd.ty,
        |         CAST(coalesce(sum((p.v * e.n) // rt.tot), 0) AS BIGINT) AS v
        |  FROM nodes nd
        |  LEFT JOIN e ON e.nxt = nd.ty
        |  LEFT JOIN v1 p ON p.ty = e.src
        |  LEFT JOIN rt ON rt.src = e.src
        |  GROUP BY nd.ty
        |), v3 AS (
        |  SELECT nd.ty,
        |         CAST(coalesce(sum((p.v * e.n) // rt.tot), 0) AS BIGINT) AS v
        |  FROM nodes nd
        |  LEFT JOIN e ON e.nxt = nd.ty
        |  LEFT JOIN v2 p ON p.ty = e.src
        |  LEFT JOIN rt ON rt.src = e.src
        |  GROUP BY nd.ty
        |)
        |SELECT ty AS event_type, v AS steady_micro,
        |       floor(CAST(v AS DOUBLE) / 1000000) / 1000000 AS steady_share
        |FROM v3 ORDER BY event_type""".stripMargin) { (s, d) =>
      val e0 = events(s, d)
        .withColumn("src", lag(col("event_type"), 1).over(byUserTime))
        .where(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
        .persist() // bounded K×K frame feeds nodes, sinks, and e
      val nodes = e0.select(col("src").as("ty"))
        .union(e0.select(col("nxt"))).distinct()
      // self-loop every SINK node (bounded K-row anti-join) — the chain
      // must be row-stochastic on every node or held mass evaporates
      val sinks = nodes
        .join(e0.select(col("src")).distinct(),
          col("ty") === col("src"), "left_anti")
        .select(col("ty").as("src"), col("ty").as("nxt"), lit(1L).as("n"))
      val e = e0.unionByName(sinks)
        .persist() // bounded K×K frame feeds rt + all three rounds
      val rt = e.groupBy(col("src").as("rsrc")).agg(sum("n").as("tot"))
      val kk = nodes.agg(count(lit(1)).as("k"))
      var v = nodes.crossJoin(broadcast(kk))
        .select(col("ty"), expr("CAST(1000000000000 DIV k AS BIGINT)").as("v"))
      for (_ <- 1 to 3) {
        val contrib = e
          .join(v.select(col("ty").as("sty"), col("v").as("sv")),
            col("src") === col("sty"))
          .join(rt, col("src") === col("rsrc"))
          .groupBy(col("nxt").as("cty"))
          .agg(sum(expr("(sv * n) DIV tot")).as("cv"))
        v = nodes.join(broadcast(contrib), col("ty") === col("cty"), "left")
          .select(col("ty"), coalesce(col("cv"), lit(0L)).cast("long").as("v"))
      }
      v.select(col("ty").as("event_type"), col("v").as("steady_micro"),
          (floor(col("v").cast("double") / 1000000) / 1000000)
            .as("steady_share"))
        .orderBy("event_type")
    },

    // RFM segmentation (round 5, cont.) — the classic user-value
    // quartiling (Recency / Frequency / Monetary) every growth team
    // runs: one groupBy folds each user's last-active day, event count,
    // and exact-decimal spend; three ntile(4) windows assign quartile
    // scores with user_id tie-breaks so bucket edges are deterministic
    // cross-engine. The ntile windows are GLOBAL single-task sorts over
    // the per-USER frame (not events) — fine for a report; at 100 TB the
    // scale escape is percentile fences off kll_sketch broadcast as a
    // bucket lookup (the dq_outliers pattern), trading exact quartile
    // edges for a one-pass mergeable plan.
    Q(
      "etl_rfm", rfmOracle) { (s, d) =>
      val u = events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(
          max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("n_events"),
          // exact decimal sum (order-independent), then DOUBLE out: bare
          // DECIMAL output columns hash differently in the driver compare
          // (the only three decimal-output keys were the only r5 hash
          // misses), so money stays decimal internally, double at the edge.
          // FIXTURE INVARIANT: casting each value BEFORE the sum is
          // sum-the-rounded, exact only while events.value carries ≤2
          // decimals (verified at sf0.001/0.01/0.1; see FIXTURES.md) — a
          // regenerated fixture with ≥3 decimals could disagree with the
          // oracle's round-the-sum at dyadic half-ties (e.g. x.125).
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("monetary"))
      u.select(col("user_id"), col("last_day"), col("n_events"), col("monetary"),
          ntile(4).over(Window.orderBy(col("last_day").desc, col("user_id")))
            .cast("long").as("r"),
          ntile(4).over(Window.orderBy(col("n_events").desc, col("user_id")))
            .cast("long").as("f"),
          ntile(4).over(Window.orderBy(col("monetary").desc, col("user_id")))
            .cast("long").as("m"))
        .orderBy("user_id")
    },

    // The SCALE plan for RFM (round 8): three EXACT quartile columns with
    // no global sort. The per-user frame is persisted once (it feeds nine
    // bounded fence/count/pick passes), then each quartile is a RankFence
    // ntile — KLL fences + exact interval counts locate the three
    // boundary users per ordering, and every user's quartile is a
    // map-side comparison against those three boundary tuples. At 10⁸
    // users the heaviest step is a 64-partition window over ≈3/64 of the
    // frame, vs. the report twin's single task sorting all users three
    // times. Same oracle as etl_rfm — byte-identical output.
    Q(
      "etl_rfm_fenced", rfmOracle) { (s, d) =>
      import RankFence.OrderCol
      val u = events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(
          max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("monetary"))
        .persist()
      // the batched form: all three sketches in one pass, all three
      // interval-count aggregates in one grouping-sets shuffle, all
      // three boundary picks in one unioned job — 3 passes over the
      // persisted user frame instead of 9 (law-equal to chaining
      // single-ordering ntileFenced; RankFenceSpec)
      val tiled = RankFence.ntileFencedMulti(u, Seq(
        RankFence.NtileSpec(
          Seq(OrderCol("last_day", asc = false), OrderCol("user_id")), 4, "r"),
        RankFence.NtileSpec(
          Seq(OrderCol("n_events", asc = false), OrderCol("user_id")), 4, "f"),
        RankFence.NtileSpec(
          Seq(OrderCol("monetary", asc = false), OrderCol("user_id")), 4, "m")))
      tiled.select(col("user_id"), col("last_day"), col("n_events"),
          col("monetary"), col("r").cast("long").as("r"),
          col("f").cast("long").as("f"), col("m").cast("long").as("m"))
        .orderBy("user_id")
    },

    // Revenue-concentration (Pareto) report (round 7, cont.): customers
    // deciled by lifetime spend, each decile's revenue share and the
    // cumulative curve — the "what fraction of customers carries 80% of
    // revenue" readout every R11 dashboard opens with. Plan: one orders
    // groupBy folds exact-DECIMAL spend per customer (order-independent;
    // o_totalprice is 2-decimal by fixture, see FIXTURES.md); ntile(10)
    // with custkey tie-break makes decile edges deterministic
    // cross-engine (the etl_rfm discipline — a global sort over the
    // per-CUSTOMER frame, report-scale; kll fences are the 100 TB
    // escape); shares and the cumulative sum run as windows over the
    // BOUNDED 10-row decile frame, decimal until the final double edge.
    // SLA attainment (round 13): the share of order lines shipped
    // within 30 days of order placement, per order month — the
    // thresholded SERVICE-LEVEL readout on top of etl_lead_time's
    // distribution stats (ops teams commit to "x% within N days", not
    // to a mean). One orders⋈lineitem join; day lags and counts exact
    // integers; one display division per month.
    Q("etl_sla_attainment",
      """WITH j AS (
        |  SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
        |           AS month,
        |         datediff('day', CAST(o.o_orderdate AS DATE),
        |                  CAST(l.l_shipdate AS DATE)) AS lag_days
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_within,
        |       round(CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS sla_rate
        |FROM j GROUP BY month ORDER BY month""".stripMargin) { (s, d) =>
      Tables(s, d, "orders").as("o")
        .join(Tables(s, d, "lineitem").as("l"),
          col("o.o_orderkey") === col("l.l_orderkey"))
        .select(date_trunc("month", col("o.o_orderdate")).as("month"),
          datediff(col("l.l_shipdate").cast("date"),
            col("o.o_orderdate").cast("date")).as("lag_days"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("lag_days") <= 30, 1L).otherwise(0L)).as("n_within"),
          round(sum(when(col("lag_days") <= 30, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("sla_rate"))
        .orderBy("month")
    },

    // Moving annual total (round 13): 12-month rolling revenue per
    // month — the MAT line every finance pack draws to read trend
    // through seasonality (etl_mom_yoy gives point-to-point deltas;
    // MAT integrates them). Exact BIGINT cent sums end-to-end, one
    // display division; complete 12-month windows only.
    Q("etl_mat_rolling",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1
        |), k AS (
        |  SELECT month, rev_cents,
        |         CAST(sum(rev_cents) OVER w12 AS BIGINT) AS mat_cents,
        |         CAST(count(*) OVER w12 AS BIGINT) AS n12
        |  FROM m
        |  WINDOW w12 AS (ORDER BY month
        |                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
        |)
        |SELECT month, rev_cents, mat_cents,
        |       round(CAST(mat_cents AS DOUBLE) / 1200, 2) AS mat_monthly_avg
        |FROM k WHERE n12 = 12 ORDER BY month""".stripMargin) { (s, d) =>
      val m = Tables(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      val w12 = Window.orderBy("month").rowsBetween(-11, Window.currentRow)
      m.select(col("month"), col("rev_cents"),
          sum(col("rev_cents")).over(w12).as("mat_cents"),
          count(lit(1)).over(w12).as("n12"))
        .where(col("n12") === 12)
        .select(col("month"), col("rev_cents"), col("mat_cents"),
          round(col("mat_cents").cast("double") / 1200, 2)
            .as("mat_monthly_avg"))
        .orderBy("month")
    },

    // ABC inventory classification (round 13): parts ranked by revenue
    // (extprice·(1−disc), per-row cent rounding so every sum is exact
    // BIGINT), classes by cumulative share — A ≤ 80%, B ≤ 95%, C the
    // tail — the stock-policy cut every inventory system ships next to
    // the pareto decile view. The global cumsum rides the part domain
    // (dimension-sized, not fact-sized); at 100 TB the same fence as
    // etl_pareto_revenue_fenced applies. Class thresholds compare a
    // double built from exact integers — identical division both
    // engines, no boundary coin-flips.
    Q("etl_abc_class",
      """WITH p AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
        |                             * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT l_partkey, rev,
        |         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey)
        |              AS BIGINT) AS cum,
        |         CAST(sum(rev) OVER () AS BIGINT) AS tot
        |  FROM p
        |), k AS (
        |  SELECT l_partkey, rev,
        |         CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.80 THEN 'A'
        |              WHEN CAST(cum AS DOUBLE) / tot <= 0.95 THEN 'B'
        |              ELSE 'C' END AS abc
        |  FROM c
        |)
        |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(rev) AS BIGINT) AS rev_cents,
        |       round(CAST(sum(rev) AS DOUBLE) /
        |             (SELECT CAST(sum(rev) AS DOUBLE) FROM p), 6) AS rev_share
        |FROM k GROUP BY abc ORDER BY abc""".stripMargin) { (s, d) =>
      val p = Tables(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("rev"))
      val wc = Window.orderBy(col("rev").desc, col("l_partkey"))
      val c = p.select(col("l_partkey"), col("rev"),
        sum(col("rev")).over(wc).as("cum"),
        sum(col("rev")).over(Window.partitionBy()).as("tot"))
      val k = c.select(col("l_partkey"), col("rev"),
        when(col("cum").cast("double") / col("tot") <= 0.80, "A")
          .when(col("cum").cast("double") / col("tot") <= 0.95, "B")
          .otherwise("C").as("abc"))
      val tot = p.agg(sum(col("rev")).cast("double").as("t"))
      k.groupBy("abc")
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"))
        .crossJoin(broadcast(tot))
        .select(col("abc"), col("n_parts"), col("rev_cents"),
          round(col("rev_cents").cast("double") / col("t"), 6)
            .as("rev_share"))
        .orderBy("abc")
    },

    Q(
      "etl_pareto_revenue", paretoOracle) { (s, d) =>
      val cust = Tables(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      val dec = cust.select(col("spend"),
          ntile(10).over(Window.orderBy(col("spend").desc, col("o_custkey")))
            .as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("rev"))
      dec.select(
          col("decile").cast("long").as("decile"),
          col("n_customers"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(col("rev").cast("double") /
            sum(col("rev")).over(Window.partitionBy()).cast("double"), 6)
            .as("share"),
          round(sum(col("rev")).over(Window.orderBy("decile")).cast("double") /
            sum(col("rev")).over(Window.partitionBy()).cast("double"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },

    // The SCALE plan for the Pareto curve (round 8): the per-customer
    // spend frame is deciled by RankFence (KLL fences + exact interval
    // counts + candidate-interval boundary pick + map-side decile
    // comparisons) instead of a single-task ntile sort; the share /
    // cumulative windows still run over the BOUNDED 10-row decile frame,
    // which is exactly where unpartitioned windows belong. Same oracle
    // as etl_pareto_revenue — byte-identical output.
    Q(
      "etl_pareto_revenue_fenced", paretoOracle) { (s, d) =>
      import RankFence.OrderCol
      val cust = Tables(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        .persist()
      val dec = RankFence.ntileFenced(cust,
          Seq(OrderCol("spend", asc = false), OrderCol("o_custkey")),
          tiles = 10, out = "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("rev"))
      dec.select(
          col("decile").cast("long").as("decile"),
          col("n_customers"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(col("rev").cast("double") /
            sum(col("rev")).over(Window.partitionBy()).cast("double"), 6)
            .as("share"),
          round(sum(col("rev")).over(Window.orderBy("decile")).cast("double") /
            sum(col("rev")).over(Window.partitionBy()).cast("double"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },

    // Lag-1 autocorrelation of the daily activity series (round 7,
    // cont.): per event_type, how strongly today's volume predicts
    // tomorrow's — the seasonality/trend smell test that decides whether
    // a forecasting pipeline needs differencing (the time-series
    // complement of win_rolling_stats' level view). Plan: the events
    // scan reduces to the BOUNDED (type × day) frame in one map-side-
    // combinable groupBy; the lag window and the corr fold both run over
    // that report-scale frame, so the fact table crosses the network
    // once. corr inputs are exact BIGINT counts cast identically, and
    // the result rounds at 6 (the agg_stats float discipline); corr and
    // count(prev_n) both skip the per-type first day's NULL lag on both
    // engines.
    Q(
      "etl_autocorr_daily",
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, day
        |), lagd AS (
        |  SELECT event_type, n,
        |         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily
        |)
        |SELECT event_type, CAST(count(prev_n) AS BIGINT) AS n_pairs,
        |       round(corr(CAST(n AS DOUBLE), CAST(prev_n AS DOUBLE)), 6)
        |         AS autocorr
        |FROM lagd GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        val daily = events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        daily.select(col("event_type"), col("n"),
            lag(col("n"), 1).over(
              Window.partitionBy("event_type").orderBy("day")).as("prev_n"))
          .groupBy("event_type")
          .agg(
            count(col("prev_n")).as("n_pairs"),
            round(corr(col("n").cast("double"), col("prev_n").cast("double")),
              6).as("autocorr"))
          .orderBy("event_type")
    },

    // Weekday seasonality profile (round 7, cont.): events per ISO
    // weekday normalized by how many of each weekday the observation
    // window actually contains (a raw per-dow count is biased when the
    // range doesn't hold whole weeks — the per-day denominator fixes
    // it). Index = (dow rate) / (overall rate); >1 means the weekday
    // runs hot. The level complement of etl_autocorr_daily's lag view.
    // Plan: one scan reduces to the BOUNDED (dow × day) frame, the
    // profile folds to 7 rows, and the normalizing totals are windows
    // over that 7-row frame. Index is a pure function of BIGINT counts
    // divided in identical order on both engines; Spark weekday()+1 ==
    // DuckDB isodow (Mon=1..Sun=7).
    Q(
      "etl_weekday_profile",
      """WITH d AS (
        |  SELECT isodow(ts) AS dow, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY dow, day
        |), p AS (
        |  SELECT dow, CAST(sum(n) AS BIGINT) AS n_events,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM d GROUP BY dow
        |)
        |SELECT CAST(dow AS BIGINT) AS dow, n_events, n_days,
        |       round((CAST(n_events AS DOUBLE) / n_days) /
        |             (CAST(sum(n_events) OVER () AS DOUBLE) /
        |              sum(n_days) OVER ()), 6) AS idx
        |FROM p ORDER BY dow""".stripMargin) { (s, d) =>
      val w = Window.partitionBy()
      events(s, d)
        .groupBy((expr("weekday(ts)") + lit(1)).as("dow"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("dow")
        .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
        .select(col("dow").cast("long").as("dow"),
          col("n_events"), col("n_days"),
          round((col("n_events").cast("double") / col("n_days")) /
            (sum(col("n_events")).over(w).cast("double") /
              sum(col("n_days")).over(w)), 6).as("idx"))
        .orderBy("dow")
    },

    // Journey pattern mining (round 7, cont.): MATCH_RECOGNIZE-style
    // sequence detection without the dialect — each user's ordered
    // event-type initials fold into one journey string, and a regex
    // counts non-overlapping 'v+p' runs (views culminating in a
    // purchase: the browse-then-buy motif). Reported as a histogram of
    // users by motif count — the sequence-behavior complement of
    // etl_funnel (which checks ORDER of first occurrences, not repeated
    // runs) and etl_transition_matrix (adjacent pairs only). Plan: ONE
    // events scan, one user_id exchange; the journey string is bounded
    // by per-user activity (the sessionize per-entity argument), the
    // regex is a codegen expression over that bounded string, and the
    // final histogram groups a 10-value domain. Both engines count with
    // greedy non-overlapping scanning ('v+p' has no backtracking
    // subtleties), ties in ts broken by event_id on both sides.
    Q(
      "etl_journey_pattern",
      """WITH j AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), ''
        |                    ORDER BY ts, event_id) AS s
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |)
        |SELECT CAST(len(regexp_extract_all(s, 'v+p')) AS BIGINT) AS n_conv,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM j GROUP BY n_conv ORDER BY n_conv""".stripMargin) { (s, d) =>
      events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(array_join(expr(
          """transform(
            |  array_sort(collect_list(struct(ts, event_id,
            |                                 substr(event_type, 1, 1) AS c))),
            |  x -> x.c)""".stripMargin), "").as("s"))
        .select(size(regexp_extract_all(col("s"), lit("v+p"), lit(0)))
          .cast("long").as("n_conv"))
        .groupBy("n_conv").agg(count(lit(1)).as("n_users"))
        .orderBy("n_conv")
    },

    // A/B experiment readout (round 5, cont.): deterministic hash-split
    // assignment (the llm_split_assign discipline — portable_hash, no
    // rand(), leak-proof under re-ingestion) + conversion rates + the
    // two-proportion z statistic, all in ONE events scan. Every input to
    // the z formula is an exact integer count, and both engines derive
    // rate/z through the SAME double expression on those integers —
    // bit-identical, so the readout needs only floor display scaling
    // (the win_rolling_stats argument). The per-user fold and the
    // 2-variant pivot are the funnel plan shape: groupBy user, tiny
    // aggregate, one row out. Conversion = purchased within the first
    // active day (every fixture user purchases EVENTUALLY — a has-ever
    // metric degenerates to p=1 and a 0/0 z statistic).
    Q(
      "etl_ab_test",
      s"""WITH u AS (
         |  SELECT ${graft.functions.PortableHash.sql("CAST(user_id AS VARCHAR)")} % 2
         |           AS variant,
         |         CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
         |                   <= min(ts) + INTERVAL 1 DAY
         |              THEN 1 ELSE 0 END AS conv
         |  FROM events WHERE user_id IS NOT NULL
         |  GROUP BY user_id
         |), v AS (
         |  SELECT variant, CAST(count(*) AS DOUBLE) AS n,
         |         CAST(CAST(sum(conv) AS BIGINT) AS DOUBLE) AS c
         |  FROM u GROUP BY variant
         |), w AS (
         |  SELECT a.n AS na, a.c AS ca, b.n AS nb, b.c AS cb,
         |         (a.c + b.c) / (a.n + b.n) AS p
         |  FROM v a JOIN v b ON a.variant = 0 AND b.variant = 1
         |)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
         |       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
         |       floor((ca / na) * 1000000) / 1000000 AS rate_a,
         |       floor((cb / nb) * 1000000) / 1000000 AS rate_b,
         |       floor(((cb / nb) - (ca / na))
         |             / sqrt(p * (1 - p) * (1 / na + 1 / nb)) * 10000) / 10000
         |         AS z
         |FROM w""".stripMargin) { (s, d) =>
      val u = events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(when(
          min(when(col("event_type") === "purchase", col("ts"))) <=
            min(col("ts")) + expr("INTERVAL 1 DAYS"), 1).otherwise(0)
          .as("conv"))
        .select(
          pmod(graft.functions.PortableHash
            .pHash(col("user_id").cast("string")), lit(2)).as("variant"),
          col("conv"))
      // both variants fold in ONE conditional aggregate (the funnel
      // move) — the oracle's textbook self-join pivot would scan events
      // twice; PlanSpec pins the single scan
      val w = u.agg(
          count(when(col("variant") === 0, 1)).cast("double").as("na"),
          sum(when(col("variant") === 0, col("conv")))
            .cast("long").cast("double").as("ca"),
          count(when(col("variant") === 1, 1)).cast("double").as("nb"),
          sum(when(col("variant") === 1, col("conv")))
            .cast("long").cast("double").as("cb"))
        .withColumn("p", (col("ca") + col("cb")) / (col("na") + col("nb")))
        // degenerate-input parity: if the hash split leaves a variant
        // empty, the oracle's pivot join yields ZERO rows — the global
        // aggregate must agree rather than emit a NaN/∞ readout
        .where(col("na") > 0 && col("nb") > 0)
      val z = ((col("cb") / col("nb")) - (col("ca") / col("na"))) /
        sqrt(col("p") * (lit(1) - col("p")) *
          (lit(1) / col("na") + lit(1) / col("nb")))
      w.select(
        col("na").cast("long").as("n_a"), col("ca").cast("long").as("conv_a"),
        col("nb").cast("long").as("n_b"), col("cb").cast("long").as("conv_b"),
        (floor((col("ca") / col("na")) * 1000000) / lit(1000000)).as("rate_a"),
        (floor((col("cb") / col("nb")) * 1000000) / lit(1000000)).as("rate_b"),
        (floor(z * 10000) / lit(10000)).as("z"))
    },

    // Welch t-test on a CONTINUOUS metric (round 7, cont.): the
    // etl_ab_test z statistic covers conversion PROPORTIONS; real
    // experiments also compare per-user revenue/engagement — unequal
    // variances, so Welch's t with Satterthwaite df, not pooled
    // Student's. Determinism discipline: per-user metric = exact
    // DECIMAL(18,4) sum of 2-dp values; the group moments (Σm, Σm²)
    // ALSO fold in decimal (the square stays exact at (38,8)) — only
    // after both exact folds do the values cross to DOUBLE, where mean /
    // variance / t / df are identical IEEE expressions on both engines.
    // One scan, one per-user aggregate, one 2-row variant fold.
    Q("etl_ab_ttest",
      s"""WITH m AS (
         |  SELECT ${graft.functions.PortableHash.sql("CAST(user_id AS VARCHAR)")} % 2
         |           AS variant,
         |         sum(CAST(value AS DECIMAL(18,4))) AS mv
         |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
         |  GROUP BY user_id
         |), v AS (
         |  SELECT variant, CAST(count(*) AS DOUBLE) AS n,
         |         CAST(sum(mv) AS DOUBLE) AS s1,
         |         CAST(sum(mv * mv) AS DOUBLE) AS s2
         |  FROM m GROUP BY variant
         |), w AS (
         |  SELECT a.n AS n0, a.s1 / a.n AS m0,
         |         (a.s2 - a.n * (a.s1 / a.n) * (a.s1 / a.n)) / (a.n - 1) AS v0,
         |         b.n AS n1, b.s1 / b.n AS m1,
         |         (b.s2 - b.n * (b.s1 / b.n) * (b.s1 / b.n)) / (b.n - 1) AS v1
         |  FROM v a JOIN v b ON a.variant = 0 AND b.variant = 1
         |)
         |SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
         |       floor(m0 * 10000) / 10000 AS mean_a,
         |       floor(m1 * 10000) / 10000 AS mean_b,
         |       floor((m1 - m0) / sqrt(v0 / n0 + v1 / n1) * 10000) / 10000
         |         AS t,
         |       floor((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)
         |             / ((v0 / n0) * (v0 / n0) / (n0 - 1)
         |                + (v1 / n1) * (v1 / n1) / (n1 - 1)) * 100) / 100
         |         AS df
         |FROM w WHERE n0 > 1 AND n1 > 1""".stripMargin) { (s, d) =>
      val m = events(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,4)")).as("mv"))
        .select(
          pmod(graft.functions.PortableHash
            .pHash(col("user_id").cast("string")), lit(2)).as("variant"),
          col("mv"))
      val w = m.agg(
          count(when(col("variant") === 0, 1)).cast("double").as("n0"),
          sum(when(col("variant") === 0, col("mv"))).cast("double").as("sa1"),
          sum(when(col("variant") === 0, col("mv") * col("mv")))
            .cast("double").as("sa2"),
          count(when(col("variant") === 1, 1)).cast("double").as("n1"),
          sum(when(col("variant") === 1, col("mv"))).cast("double").as("sb1"),
          sum(when(col("variant") === 1, col("mv") * col("mv")))
            .cast("double").as("sb2"))
        .withColumn("m0", col("sa1") / col("n0"))
        .withColumn("v0",
          (col("sa2") - col("n0") * (col("sa1") / col("n0"))
            * (col("sa1") / col("n0"))) / (col("n0") - 1))
        .withColumn("m1", col("sb1") / col("n1"))
        .withColumn("v1",
          (col("sb2") - col("n1") * (col("sb1") / col("n1"))
            * (col("sb1") / col("n1"))) / (col("n1") - 1))
        .where(col("n0") > 1 && col("n1") > 1)
      val se2 = col("v0") / col("n0") + col("v1") / col("n1")
      w.select(
        col("n0").cast("long").as("n_a"), col("n1").cast("long").as("n_b"),
        (floor(col("m0") * 10000) / lit(10000)).as("mean_a"),
        (floor(col("m1") * 10000) / lit(10000)).as("mean_b"),
        (floor((col("m1") - col("m0")) / sqrt(se2) * 10000) / lit(10000))
          .as("t"),
        (floor(se2 * se2
          / ((col("v0") / col("n0")) * (col("v0") / col("n0"))
            / (col("n0") - 1)
            + (col("v1") / col("n1")) * (col("v1") / col("n1"))
            / (col("n1") - 1)) * 100) / lit(100)).as("df"))
    },

    // Inter-purchase cadence per market segment (round 7, cont.): the
    // "how often do customers come back" distribution behind
    // replenishment forecasting and churn-risk scoring — consecutive
    // order gaps per customer (the lag window), profiled per segment.
    // Determinism: gaps are INTEGER day counts off midnight-normalized
    // order dates (datediff == DuckDB date_diff bit-for-bit), the p50 of
    // integers interpolates only at .0/.5 (exactly representable — the
    // round(·,1) display can't tie), and the mean divides an exact
    // integer sum — identical doubles, FLOOR-scaled. Plan: one orders
    // window (THE fact exchange, custkey-partitioned), the customer join
    // carries only (custkey, segment) and AQE sizes it (no linear-SF
    // hint), and the 5-row segment aggregate combines map-side.
    // Basket-size distribution (round 11): orders banded by line-item
    // count with order share and revenue share per band — the retail
    // merchandising readout (are we a single-item shop or a
    // full-basket shop, and which band carries the money?). Exact
    // integer discipline: per-order line counts and cent revenues are
    // BIGINT sums, band cuts are integer CASE comparisons, the two
    // shares are single divisions against broadcast 1-row totals.
    Q("etl_basket_size_dist",
      """WITH o AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_orderkey
        |), b AS (
        |  SELECT CASE WHEN n_lines <= 2 THEN '1-2'
        |              WHEN n_lines <= 4 THEN '3-4'
        |              WHEN n_lines <= 6 THEN '5-6'
        |              ELSE '7+' END AS basket_band, n_lines, rev
        |  FROM o
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(rev) AS BIGINT) AS t_rev
        |  FROM b
        |)
        |SELECT basket_band, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |       round(CAST(count(*) AS DOUBLE) / tot.n_orders, 6)
        |         AS order_share,
        |       round(CAST(sum(rev) AS DOUBLE) / tot.t_rev, 6)
        |         AS revenue_share
        |FROM b CROSS JOIN tot
        |GROUP BY basket_band, tot.n_orders, tot.t_rev
        |ORDER BY basket_band""".stripMargin) { (s, d) =>
      val o = Tables(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
      val b = o.select(
        when(col("n_lines") <= 2, "1-2").when(col("n_lines") <= 4, "3-4")
          .when(col("n_lines") <= 6, "5-6").otherwise("7+")
          .as("basket_band"),
        col("n_lines"), col("rev"))
      val tot = b.agg(count(lit(1)).as("n_orders"), sum(col("rev")).as("t_rev"))
      b.crossJoin(broadcast(tot))
        .groupBy("basket_band", "n_orders", "t_rev")
        .agg(count(lit(1)).as("n_o"), sum(col("n_lines")).as("n_lines"),
          sum(col("rev")).as("band_rev"))
        .select(col("basket_band"), col("n_o").as("n_orders"),
          col("n_lines"),
          round(col("n_o").cast("double") / col("n_orders"), 6)
            .as("order_share"),
          round(col("band_rev").cast("double") / col("t_rev"), 6)
            .as("revenue_share"))
        .orderBy("basket_band")
    },

    // Repeat-purchase rate (round 11): per month, the share of that
    // month's active customers who ordered 2+ times within it — the
    // loyalty headline next to etl_new_vs_returning (new/returning
    // slices WHO is active; this says how intensely they repeat).
    // Two bounded groupBys over one orders scan; the rate is one
    // division of two exact counts.
    Q("etl_repeat_purchase_rate",
      """WITH cm AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |         o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_repeat,
        |       round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS repeat_rate
        |FROM cm GROUP BY month ORDER BY month""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
          col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
        .select(col("month"), col("n_active"), col("n_repeat"),
          round(col("n_repeat").cast("double") / col("n_active"), 6)
            .as("repeat_rate"))
        .orderBy("month")
    },

    Q("etl_interpurchase",
      """WITH gaps AS (
        |  SELECT o_custkey,
        |         date_diff('day',
        |           lag(o_orderdate) OVER (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey),
        |           o_orderdate) AS gap_days
        |  FROM orders
        |), g AS (
        |  SELECT c_mktsegment, gap_days FROM gaps
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE gap_days IS NOT NULL
        |)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |       round(quantile_cont(gap_days, 0.5), 1) AS p50_gap,
        |       floor(CAST(sum(gap_days) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS avg_gap,
        |       CAST(max(gap_days) AS BIGINT) AS max_gap
        |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val gaps = orders(s, d)
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("gap_days",
          datediff(to_date(col("o_orderdate")),
            to_date(lag(col("o_orderdate"), 1).over(w))))
        .where(col("gap_days").isNotNull)
      gaps
        .join(Tables(s, d, "customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_gaps"),
          round(percentile(col("gap_days"), lit(0.5)), 1).as("p50_gap"),
          sum(col("gap_days")).cast("double").as("sum_gap"),
          max(col("gap_days")).cast("long").as("max_gap"))
        .select(col("c_mktsegment"), col("n_gaps"), col("p50_gap"),
          (floor(col("sum_gap") / col("n_gaps").cast("double") * 10000)
            / lit(10000)).as("avg_gap"),
          col("max_gap"))
        .orderBy("c_mktsegment")
    },

    // Day-cohort retention + LTV curve (round 7, cont.): users grouped
    // by FIRST-ACTIVE day; for each day offset, the fraction still
    // active and the cumulative revenue per cohort user — the
    // day-granular activation curve behind "does week-1 monetization
    // predict week-4 retention" (etl_retention_cohort is its monthly
    // cohort-grid sibling; this is the offset curve with money on it).
    // Determinism: offsets are integer day arithmetic; retention divides
    // two BIGINTs; the LTV numerator is an exact DECIMAL running sum —
    // both ratios derive through identical double ops, FLOOR-scaled.
    // Plan: ONE events scan; the user-partitioned min-window stamps each
    // row's cohort day (no firsts self-join), the (user, cohort, offset)
    // groupBy reduces to per-user-days, the grid groupBy to O(days²/2)
    // rows — everything after is report-scale; cohort sizes fall out of
    // the offset-0 diagonal (first-day activity is definitional).
    Q("etl_cohort_ltv",
      """WITH f AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL
        |), firsts AS (
        |  SELECT user_id, min(day) AS cohort_day FROM f GROUP BY user_id
        |), daily AS (
        |  SELECT f.user_id, cohort_day,
        |         date_diff('day', cohort_day, day) AS offset_days, sum(v) AS rev
        |  FROM f JOIN firsts USING (user_id) GROUP BY 1, 2, 3
        |), sizes AS (
        |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
        |  FROM firsts GROUP BY 1
        |), grid AS (
        |  SELECT cohort_day, offset_days, CAST(count(*) AS BIGINT) AS n_active,
        |         sum(rev) AS rev
        |  FROM daily GROUP BY 1, 2
        |), cum AS (
        |  SELECT cohort_day, offset_days, n_active,
        |         sum(rev) OVER (PARTITION BY cohort_day
        |             ORDER BY offset_days) AS cum_rev
        |  FROM grid
        |)
        |SELECT cohort_day, CAST(offset_days AS BIGINT) AS offset_days,
        |       n_active, n_users,
        |       floor(CAST(n_active AS DOUBLE) / CAST(n_users AS DOUBLE)
        |             * 1000000) / 1000000 AS retention,
        |       floor(CAST(cum_rev AS DOUBLE) / CAST(n_users AS DOUBLE)
        |             * 10000) / 10000 AS ltv_per_user
        |FROM cum JOIN sizes USING (cohort_day)
        |ORDER BY cohort_day, offset_days""".stripMargin) { (s, d) =>
      val wU = Window.partitionBy("user_id")
      val daily = events(s, d)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .withColumn("cohort_day", min(col("day")).over(wU))
        .groupBy(col("user_id"), col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("offset_days"))
        .agg(sum(col("v")).as("rev"))
      // grid feeds BOTH the cum window and the offset-0 sizes probe —
      // persisted so the fact-scale lineage is derived once (the
      // multiply-referenced-frame idiom; the frame itself is O(days²))
      val grid = daily.groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_active"), sum(col("rev")).as("rev"))
        .persist()
      val sizes = grid.where(col("offset_days") === 0)
        .select(col("cohort_day"), col("n_active").as("n_users"))
      val wC = Window.partitionBy("cohort_day").orderBy("offset_days")
      grid
        .withColumn("cum_rev", sum(col("rev")).over(wC))
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("offset_days").cast("long").as("offset_days"),
          col("n_active"), col("n_users"),
          (floor(col("n_active").cast("double") / col("n_users").cast("double")
            * 1000000) / lit(1000000)).as("retention"),
          (floor(col("cum_rev").cast("double") / col("n_users").cast("double")
            * 10000) / lit(10000)).as("ltv_per_user"))
        .orderBy("cohort_day", "offset_days")
    },

    // Monthly revenue waterfall (round 7, cont.): the gross → discount →
    // net → tax → charge decomposition a finance report walks — every
    // column an EXACT decimal sum cast to double once (no display
    // rounding: round(·,2) on a 4-or-6-dp value can land on a .xx5 tie
    // where the engines' double-rounding disagrees — SURVEY §7.4). Cast
    // scale follows the true digit count of each product: 2 dp for the
    // raw price, 4 dp for the double product, 6 dp for the triple
    // (a scale-4 cast of the triple product DID diverge on 68 rows at
    // sf0.1 — the verify-skill gotcha). Plan: one fact⋈fact shuffle
    // (lineitem⋈orders on the join key, AQE's choice), then a
    // map-side-combinable monthly groupBy carrying five decimals.
    Q("etl_revenue_waterfall",
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        |       CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |            AS DOUBLE) AS discount_amt,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |            AS DOUBLE) AS net,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * l_tax
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS tax_amt,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS charge
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
      val ep = col("l_extendedprice")
      li.join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(
          sum(ep.cast("decimal(18,2)")).cast("double").as("gross"),
          sum((ep * col("l_discount")).cast("decimal(18,4)"))
            .cast("double").as("discount_amt"),
          sum((ep * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("net"),
          sum((ep * (lit(1) - col("l_discount")) * col("l_tax"))
            .cast("decimal(18,6)")).cast("double").as("tax_amt"),
          sum((ep * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("charge"))
        .orderBy("month")
    },

    // Seasonal-naive forecast backtest (round 7, cont.): predict each
    // day's per-type volume with the SAME WEEKDAY LAST WEEK (lag-7) and
    // score MAE/WAPE — the baseline every real forecasting model must
    // beat, and the etl_weekday_profile seasonality claim turned into a
    // measured error number. Pure integer arithmetic until the two
    // final divisions (counts and absolute errors are exact BIGINTs),
    // FLOOR-scaled. Plan: the fact-sized work is the (type, day)
    // groupBy; the lag window and the 5-row score reduce run over the
    // O(types × days) frame — report-scale at any SF.
    // Price-volume decomposition (round 8, cont. 4 — Laspeyres): split
    // each event_type's revenue change between the two half-months into
    // a VOLUME effect ((Δvolume)·first-half price) and a PRICE effect
    // (the remainder) — the first question finance asks of any revenue
    // delta ("did we sell more, or at higher value?"), and the
    // dashboard twin of etl_revenue_waterfall's within-month identity.
    // Counts and cent-revenues are exact BIGINTs; the volume effect is
    // ONE floored rational ((v2−v1)·r1·10⁴ div v1 — products stay under
    // 2⁶³ to ~1e9 cents/period); the price effect is DEFINED as the
    // remainder, so volume_effect + price_effect == delta_rev holds
    // EXACTLY in both engines by construction.
    // Log-log price elasticity per brand (round 12): the pricing-
    // analytics composite — elasticity = d ln(qty)/d ln(price), the OLS
    // slope on log-transformed pairs, with fit quality (r²) so a flat
    // brand is not mistaken for an inelastic one. Float doctrine: each
    // log is quantized PER ROW to exact integer micro-ticks
    // (round(ln·1e6) — the cosine-sim 6-dp precedent), so every sum is
    // an exact DECIMAL(38,0) integer fold (order-independent at any
    // scale, no Long overflow) and the slope/r² doubles derive from
    // exact integers, FLOOR-scaled at display. One lineitem⋈part pass,
    // map-side partials, bounded brand frame.
    Q("etl_elasticity",
      """WITH j AS (
        |  SELECT p_brand,
        |         CAST(round(ln(CAST(l_extendedprice AS DOUBLE)) * 1000000)
        |              AS BIGINT) AS lx,
        |         CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1000000)
        |              AS BIGINT) AS ly
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity > 0 AND l_extendedprice > 0
        |), m AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(lx AS HUGEINT)) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(ly AS HUGEINT)) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(lx AS HUGEINT) * ly) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(ly AS HUGEINT) * ly) AS DOUBLE) AS syy
        |  FROM j GROUP BY p_brand
        |)
        |SELECT p_brand, n,
        |       floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |             / (CAST(n AS DOUBLE) * sxx - sx * sx)
        |             * 1000000) / 1000000 AS elasticity,
        |       floor(((CAST(n AS DOUBLE) * sxy - sx * sy)
        |              * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |                * (CAST(n AS DOUBLE) * syy - sy * sy))
        |             * 1000000) / 1000000 AS r2
        |FROM m ORDER BY p_brand""".stripMargin) { (s, d) =>
      val j = Tables(s, d, "lineitem")
        .where(col("l_quantity") > 0 && col("l_extendedprice") > 0)
        .select(col("l_partkey"),
          round(log(col("l_extendedprice").cast("double")) * 1000000)
            .cast("long").as("lx"),
          round(log(col("l_quantity").cast("double")) * 1000000)
            .cast("long").as("ly"))
        .join(Tables(s, d, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
      val dec = "decimal(38,0)"
      val m = j.groupBy("p_brand").agg(
        count(lit(1)).as("n"),
        sum(col("lx").cast(dec)).cast("double").as("sx"),
        sum(col("ly").cast(dec)).cast("double").as("sy"),
        sum((col("lx").cast(dec) * col("ly"))).cast("double").as("sxy"),
        sum((col("lx").cast(dec) * col("lx"))).cast("double").as("sxx"),
        sum((col("ly").cast(dec) * col("ly"))).cast("double").as("syy"))
      val dn = col("n").cast("double")
      val covNum = dn * col("sxy") - col("sx") * col("sy")
      val varXNum = dn * col("sxx") - col("sx") * col("sx")
      val varYNum = dn * col("syy") - col("sy") * col("sy")
      m.select(col("p_brand"), col("n"),
          (floor(covNum / varXNum * 1000000) / 1000000).as("elasticity"),
          (floor(covNum * covNum / (varXNum * varYNum) * 1000000)
            / 1000000).as("r2"))
        .orderBy("p_brand")
    },

    Q("etl_price_volume_decomp",
      """WITH h AS (
        |  SELECT event_type,
        |         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2 END
        |           AS half,
        |         CAST(count(*) AS BIGINT) AS v,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS r
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN half = 1 THEN v ELSE 0 END) AS BIGINT) AS v1,
        |         CAST(sum(CASE WHEN half = 2 THEN v ELSE 0 END) AS BIGINT) AS v2,
        |         CAST(sum(CASE WHEN half = 1 THEN r ELSE 0 END) AS BIGINT) AS r1,
        |         CAST(sum(CASE WHEN half = 2 THEN r ELSE 0 END) AS BIGINT) AS r2
        |  FROM h GROUP BY event_type
        |), e AS (
        |  SELECT event_type, v1, v2, r1, r2, r2 - r1 AS delta_rev,
        |         CAST(((v2 - v1) * r1 * 10000) // v1 AS BIGINT) AS ve4
        |  FROM w WHERE v1 > 0
        |)
        |SELECT event_type, v1, v2, r1, r2, delta_rev,
        |       CAST(ve4 AS DOUBLE) / 10000 AS volume_effect,
        |       CAST(delta_rev AS DOUBLE) - CAST(ve4 AS DOUBLE) / 10000
        |         AS price_effect
        |FROM e ORDER BY event_type""".stripMargin) { (s, d) =>
      val half = when(col("ts") < lit("2024-01-16").cast("timestamp"), 1)
        .otherwise(2)
      events(s, d)
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), half.as("half"))
        .agg(count(lit(1)).as("v"),
          sum(round(col("value") * 100).cast("long")).as("r"))
        .groupBy("event_type")
        .agg(
          sum(when(col("half") === 1, col("v")).otherwise(0L)).as("v1"),
          sum(when(col("half") === 2, col("v")).otherwise(0L)).as("v2"),
          sum(when(col("half") === 1, col("r")).otherwise(0L)).as("r1"),
          sum(when(col("half") === 2, col("r")).otherwise(0L)).as("r2"))
        .where(col("v1") > 0)
        .select(col("event_type"), col("v1"), col("v2"), col("r1"),
          col("r2"), (col("r2") - col("r1")).as("delta_rev"),
          expr("((v2 - v1) * r1 * 10000) div v1").as("ve4"))
        .select(col("event_type"), col("v1"), col("v2"), col("r1"),
          col("r2"), col("delta_rev"),
          (col("ve4").cast("double") / 10000).as("volume_effect"),
          (col("delta_rev").cast("double")
            - col("ve4").cast("double") / 10000).as("price_effect"))
        .orderBy("event_type")
    },

    // Clamped running ledger (round 8, cont. 4): per user, fold the
    // event stream in (ts, event_id) order as a balance that CREDITS
    // purchase value and DEBITS other activity, floored at zero — the
    // inventory/credit/quota shape whose clamp makes the scan
    // NON-ASSOCIATIVE: max(0, ·) does not distribute over +, so no
    // window running sum, no segment tree, no two-level prefix trick can
    // express it — it is the canonical sequential-scan-per-key operator.
    // Reports ending balance and how often the clamp fired (every clamp
    // is lost information a plain sum would silently carry negative).
    //
    // Determinism/plan: deltas in integer CENTS (round(value·100) —
    // value is a 2-decimal tick, so the product is integer up to one ulp
    // and round snaps it); the per-user fold runs as [[clampedLedgerScan]]
    // — ONE fact shuffle (the user repartition), a partition-local sort
    // and O(1) state per user, so no per-user array is ever built; top-20
    // via TakeOrderedAndProject. It beat the in-row collect_list fold at
    // report scale and streams a 6.2M-row hot key (SCALING.md,
    // "clamped-ledger scan vs in-row fold"); the fold stays as EtlSpec's
    // reference. The oracle folds the same ledger with list_reduce and an
    // ARRAY accumulator [balance, clamps] (the etl_forecast_holt finding).
    Q("etl_clamped_ledger",
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'purchase'
        |              THEN CAST(round(value * 100) AS BIGINT)
        |              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         list_reduce(list_prepend(
        |             [CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
        |             list([delta, CAST(0 AS BIGINT)] ORDER BY ts, event_id)),
        |           (a, x) -> [greatest(CAST(0 AS BIGINT), a[1] + x[1]),
        |                      a[2] + CASE WHEN a[1] + x[1] < 0
        |                                  THEN 1 ELSE 0 END]) AS fin
        |  FROM e GROUP BY user_id
        |)
        |SELECT user_id, n_events, fin[1] AS balance_cents,
        |       fin[2] AS n_clamps
        |FROM g ORDER BY balance_cents DESC, user_id LIMIT 20""".stripMargin) {
      (s, d) =>
        val delta = when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))
          .otherwise(-round(col("value") * 100).cast("long"))
        clampedLedgerScan(events(s, d)
            .where(col("user_id").isNotNull && col("value").isNotNull)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_micros"),
              col("event_id"), delta.as("delta")))
          .orderBy(col("balance_cents").desc, col("user_id"))
          .limit(20)
    },

    // Holt linear-trend forecast (round 8, cont. 4): double exponential
    // smoothing (α=0.3, β=0.1) of the per-type daily count series, fit on
    // all but the last 7 days, backtested on the held-out week — the
    // trend-aware complement of etl_forecast_snaive (snaive wins on pure
    // weekly seasonality, Holt wins on drifting volume; running both
    // gives the standard forecast-champion readout with comparable
    // MAE/WAPE columns).
    //
    // Determinism: the (level, trend) recursion folds the day-ordered
    // in-row series with an ARRAY accumulator [l, b] — array construction
    // is FUNCTIONAL in both engines (all elements read the same incoming
    // accumulator), unlike DuckDB struct_pack whose fields mutate
    // sequentially (the dq_ks_test finding — a struct accumulator here
    // would silently feed field 2 the round's NEW level). Every float op
    // is replayed in identical IEEE order; holdout errors fold in pinned
    // day order; displays floor-truncated. Plan: one fact scan → bounded
    // (type, day) groupBy → per-type in-row fold; no window, no second
    // fact shuffle.
    Q("etl_forecast_holt",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(day := day, n := n) ORDER BY day) AS series
        |  FROM d GROUP BY event_type
        |), f AS (
        |  SELECT event_type,
        |         CAST(len(series) - 7 AS BIGINT) AS n_train,
        |         series[1 : len(series) - 7] AS train,
        |         series[len(series) - 6 : len(series)] AS test
        |  FROM g
        |), fit AS (
        |  SELECT event_type, n_train, test,
        |         list_reduce(list_prepend(
        |             [CAST(train[1].n AS DOUBLE),
        |              CAST(train[2].n AS DOUBLE) - CAST(train[1].n AS DOUBLE)],
        |             list_transform(train[3 : len(train)],
        |                            e -> [CAST(e.n AS DOUBLE), CAST(0 AS DOUBLE)])),
        |           (a, x) -> [
        |             CAST(0.3 AS DOUBLE) * x[1]
        |               + CAST(0.7 AS DOUBLE) * (a[1] + a[2]),
        |             CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * x[1]
        |                 + CAST(0.7 AS DOUBLE) * (a[1] + a[2])) - a[1])
        |               + CAST(0.9 AS DOUBLE) * a[2]]) AS lb
        |  FROM f
        |), sc AS (
        |  SELECT event_type, n_train, lb[1] AS level, lb[2] AS trend,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(test, (e, i) ->
        |               abs(CAST(e.n AS DOUBLE)
        |                   - (lb[1] + CAST(i AS DOUBLE) * lb[2])))),
        |           (a, x) -> a + x) AS tae,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(test, e -> e.n)), (a, x) -> a + x) AS vol
        |  FROM fit
        |)
        |SELECT event_type, n_train, CAST(7 AS BIGINT) AS n_test,
        |       floor(level * 10000) / 10000 AS level,
        |       floor(trend * 10000) / 10000 AS trend,
        |       floor(tae * 10000) / 10000 AS total_abs_err,
        |       floor(tae / 7 * 10000) / 10000 AS mae,
        |       floor(tae / CAST(vol AS DOUBLE) * 1000000) / 1000000 AS wape
        |FROM sc ORDER BY event_type""".stripMargin) { (s, d) =>
      val f = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(day, n)))").as("series"))
        .select(col("event_type"),
          (size(col("series")) - 7).cast("long").as("n_train"),
          expr("slice(series, 1, size(series) - 7)").as("train"),
          expr("slice(series, size(series) - 6, 7)").as("test"))
      val fit = f.select(col("event_type"), col("n_train"), col("test"),
        expr(
          """aggregate(slice(train, 3, size(train) - 2),
            |  array(CAST(element_at(train, 1).n AS DOUBLE),
            |        CAST(element_at(train, 2).n AS DOUBLE)
            |          - CAST(element_at(train, 1).n AS DOUBLE)),
            |  (a, x) -> array(
            |    CAST(0.3 AS DOUBLE) * CAST(x.n AS DOUBLE)
            |      + CAST(0.7 AS DOUBLE) * (element_at(a, 1) + element_at(a, 2)),
            |    CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * CAST(x.n AS DOUBLE)
            |        + CAST(0.7 AS DOUBLE) * (element_at(a, 1) + element_at(a, 2)))
            |        - element_at(a, 1))
            |      + CAST(0.9 AS DOUBLE) * element_at(a, 2)))""".stripMargin)
          .as("lb"))
      fit.select(col("event_type"), col("n_train"),
          expr("element_at(lb, 1)").as("level"),
          expr("element_at(lb, 2)").as("trend"),
          expr(
            """aggregate(transform(test, (e, i) ->
              |    abs(CAST(e.n AS DOUBLE)
              |        - (element_at(lb, 1)
              |           + CAST(i + 1 AS DOUBLE) * element_at(lb, 2)))),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin).as("tae"),
          expr("aggregate(test, CAST(0 AS BIGINT), (a, x) -> a + x.n)")
            .as("vol"))
        .select(col("event_type"), col("n_train"),
          lit(7L).as("n_test"),
          (floor(col("level") * 10000) / 10000).as("level"),
          (floor(col("trend") * 10000) / 10000).as("trend"),
          (floor(col("tae") * 10000) / 10000).as("total_abs_err"),
          (floor(col("tae") / 7 * 10000) / 10000).as("mae"),
          (floor(col("tae") / col("vol").cast("double") * 1000000)
            / 1000000).as("wape"))
        .orderBy("event_type")
    },

    Q("etl_forecast_snaive",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT event_type, day, n,
        |         lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
        |  FROM d
        |)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_days_scored,
        |       CAST(sum(abs(n - pred)) AS BIGINT) AS total_abs_err,
        |       floor(CAST(sum(abs(n - pred)) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS mae,
        |       floor(CAST(sum(abs(n - pred)) AS DOUBLE)
        |             / CAST(sum(n) AS DOUBLE) * 1000000) / 1000000 AS wape
        |FROM p WHERE pred IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("day")
      events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pred", lag(col("n"), 7).over(w))
        .where(col("pred").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days_scored"),
          sum(abs(col("n") - col("pred"))).as("total_abs_err"),
          sum(col("n")).as("vol"))
        .select(col("event_type"), col("n_days_scored"), col("total_abs_err"),
          (floor(col("total_abs_err").cast("double")
            / col("n_days_scored").cast("double") * 10000) / lit(10000))
            .as("mae"),
          (floor(col("total_abs_err").cast("double")
            / col("vol").cast("double") * 1000000) / lit(1000000)).as("wape"))
        .orderBy("event_type")
    },

    // Single changepoint detection (round 8, cont. 6): where did the
    // per-type daily revenue level SHIFT? The CUSUM-style estimator:
    // cp = argmax_k |n*P_k - k*S| (P_k = prefix revenue through day k,
    // S = total) — the maximum deviation of the observed prefix path from
    // the constant-rate line, which for a single mean-shift is the
    // maximum-likelihood split (Page 1954 / Hinkley 1970). EXACT: daily
    // revenues fold to cents (BIGINT, the money invariant) and every D_k
    // is an exact BIGINT. The argmax ENCODES (|D_k|, k) into one BIGINT —
    // |D|*1024 + (1024 - k) — and takes a scalar array max, because
    // DuckDB's list_reduce MISCOMPUTES when the accumulator is itself a
    // LIST (values mix across rows — measured this session; the scalar
    // and fixed-width-array-of-DOUBLE folds used elsewhere are fine).
    // Larger |D| wins, ties prefer the EARLIEST day; the encoding is
    // exact while |D| < 2^53/1024 ~ 9e15 (n_days <= 31 < 1024 by the
    // day-grain contract; overflow dial: widen to DECIMAL). P_cp is then
    // recomputed by one safe scalar prefix fold; one double division per
    // display column. Plan: one fact scan, bounded (type, day) groupBy,
    // O(n_days^2) in-row fold on a <=31-element list — zero windows,
    // zero joins.
    Q("etl_changepoint",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |         list(struct_pack(day := day, c := c) ORDER BY day) AS l
        |  FROM d GROUP BY event_type
        |), m AS (
        |  SELECT event_type, l, CAST(len(l) AS BIGINT) AS n,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l, e -> e.c)), (a, x) -> a + x) AS s
        |  FROM g
        |), b AS (
        |  SELECT event_type, l, n, s,
        |         list_max(list_transform(range(1, n), k ->
        |             abs(n * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                   list_transform(l[1 : CAST(k AS INT)], e -> e.c)),
        |                 (a, x) -> a + x) - k * s) * 1024
        |             + (1024 - k))) AS best
        |  FROM m WHERE n >= 2
        |), r AS (
        |  SELECT event_type, l, n AS n_days, s,
        |         1024 - best % 1024 AS cp_k,
        |         best // 1024 AS d_abs
        |  FROM b
        |), p AS (
        |  SELECT event_type, n_days, cp_k,
        |         l[CAST(cp_k AS INT)].day AS cp_day, d_abs,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(l[1 : CAST(cp_k AS INT)], e -> e.c)),
        |           (a, x) -> a + x) AS p_cp, s
        |  FROM r
        |)
        |SELECT event_type, n_days, cp_k, cp_day, d_abs,
        |       floor(CAST(p_cp AS DOUBLE) / cp_k / 100 * 1000000)
        |         / 1000000 AS mean_before,
        |       floor(CAST(s - p_cp AS DOUBLE) / (n_days - cp_k) / 100
        |             * 1000000) / 1000000 AS mean_after
        |FROM p ORDER BY event_type""".stripMargin) { (s, d) =>
      val m = events(s, d)
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
        .groupBy("event_type")
        .agg(expr("sort_array(collect_list(struct(day, c)))").as("l"))
        .select(col("event_type"), col("l"),
          size(col("l")).cast("long").as("n"),
          expr(
            """aggregate(transform(l, e -> e.c), CAST(0 AS BIGINT),
              |  (a, x) -> a + x)""".stripMargin).as("s"))
        .where(col("n") >= 2)
      val b = m.select(col("event_type"), col("l"), col("n"), col("s"),
        expr(
          """array_max(transform(sequence(1, n - 1), k ->
            |  abs(n * aggregate(transform(slice(l, 1, CAST(k AS INT)),
            |          e -> e.c),
            |        CAST(0 AS BIGINT), (a, x) -> a + x) - k * s) * 1024
            |  + (1024 - k)))""".stripMargin).as("best"))
      b.select(col("event_type"), col("l"), col("n").as("n_days"), col("s"),
          (lit(1024) - col("best") % 1024).as("cp_k"),
          expr("best DIV 1024").as("d_abs"))
        .select(col("event_type"), col("n_days"), col("cp_k"),
          expr("element_at(l, CAST(cp_k AS INT)).day").as("cp_day"),
          col("d_abs"),
          expr(
            """aggregate(transform(slice(l, 1, CAST(cp_k AS INT)),
              |    e -> e.c),
              |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
            .as("p_cp"),
          col("s"))
        .select(col("event_type"), col("n_days"), col("cp_k"), col("cp_day"),
          col("d_abs"),
          (floor(col("p_cp").cast("double") / col("cp_k") / 100 * 1000000)
            / 1000000).as("mean_before"),
          (floor((col("s") - col("p_cp")).cast("double")
            / (col("n_days") - col("cp_k")) / 100 * 1000000) / 1000000)
            .as("mean_after"))
        .orderBy("event_type")
    },

    // Order-to-ship lead time SLA readout (round 8, cont. 6): the
    // operational latency profile of the fulfillment pipeline — exact
    // mean/p50/p90/p99/max days from order to line shipment, the
    // companion to dq_temporal_sanity's violation counts (sanity says
    // "nothing impossible"; this says how SLOW the possible is). Exact:
    // lead times are integer days; the co-keyed fact⋈fact join reduces
    // to a BOUNDED (lag, count) frame (~180 rows), and the quantiles
    // are quantile_disc rank arithmetic over the in-row day-ordered
    // list — smallest lag whose cumulative count reaches ceil(q·N);
    // mean = one exact-integer division. Zero windows.
    Q("etl_lead_time",
      """WITH j AS (
        |  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
        |           AS lag
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), c AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY lag
        |), g AS (
        |  SELECT list(struct_pack(lag := lag, n := n) ORDER BY lag) AS l,
        |         CAST(sum(n) AS BIGINT) AS total,
        |         CAST(sum(lag * n) AS BIGINT) AS s,
        |         CAST(max(lag) AS BIGINT) AS mx
        |  FROM c
        |), p AS (
        |  SELECT total, s, mx,
        |         list_filter(list_transform(range(1, len(l) + 1), i ->
        |           CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                  list_transform(l[1 : CAST(i AS INT)], e -> e.n)),
        |                  (a, x) -> a + x)
        |                >= CAST(ceil(0.5 * total) AS BIGINT)
        |                THEN l[CAST(i AS INT)].lag END),
        |           x -> x IS NOT NULL)[1] AS p50,
        |         list_filter(list_transform(range(1, len(l) + 1), i ->
        |           CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                  list_transform(l[1 : CAST(i AS INT)], e -> e.n)),
        |                  (a, x) -> a + x)
        |                >= CAST(ceil(0.9 * total) AS BIGINT)
        |                THEN l[CAST(i AS INT)].lag END),
        |           x -> x IS NOT NULL)[1] AS p90,
        |         list_filter(list_transform(range(1, len(l) + 1), i ->
        |           CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                  list_transform(l[1 : CAST(i AS INT)], e -> e.n)),
        |                  (a, x) -> a + x)
        |                >= CAST(ceil(0.99 * total) AS BIGINT)
        |                THEN l[CAST(i AS INT)].lag END),
        |           x -> x IS NOT NULL)[1] AS p99
        |  FROM g
        |)
        |SELECT total AS n_lines,
        |       floor(CAST(s AS DOUBLE) / total * 1000000) / 1000000
        |         AS mean_days,
        |       p50 AS p50_days, p90 AS p90_days, p99 AS p99_days,
        |       mx AS max_days
        |FROM p""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("long").as("lag"))
        .groupBy("lag").agg(count(lit(1)).as("n"))
      def pick(q: String) =
        s"""element_at(filter(transform(sequence(1, size(l)), i ->
           |  CASE WHEN aggregate(transform(slice(l, 1, CAST(i AS INT)),
           |         e -> e.n), CAST(0 AS BIGINT), (a, x) -> a + x)
           |       >= CAST(ceil($q * total) AS BIGINT)
           |       THEN element_at(l, CAST(i AS INT)).lag END),
           |  x -> x IS NOT NULL), 1)""".stripMargin
      c.agg(expr("sort_array(collect_list(struct(lag, n)))").as("l"),
          sum(col("n")).as("total"),
          sum(col("lag") * col("n")).as("s"),
          max(col("lag")).as("mx"))
        .select(col("total").as("n_lines"),
          (floor(col("s").cast("double") / col("total") * 1000000)
            / 1000000).as("mean_days"),
          expr(pick("0.5")).as("p50_days"),
          expr(pick("0.9")).as("p90_days"),
          expr(pick("0.99")).as("p99_days"),
          col("mx").as("max_days"))
    },

    // Discounted cohort LTV (round 8, cont. 6): monthly customer-cohort
    // lifetime value with a 1%-per-month discount — the NPV view a
    // finance/CAC decision reads (etl_cohort_ltv's raw cumulative
    // overstates late revenue; at 79 months the last dollar is worth
    // 0.99^78 ~ 0.46). Discount factor 0.99^age is computed by an
    // EXPLICIT in-row multiply chain (identical IEEE order both
    // engines), never pow() — cross-engine pow is not bit-contracted.
    // Revenue folds in DECIMAL cents per (cohort, age) first (exact,
    // order-independent); the discounted running sum rides the same
    // bounded (cohorts × ages ~ 79²) frame as the raw one. Plan: one
    // fact scan → customer-keyed first-month groupBy+join → bounded
    // grid → per-cohort window over ages.
    Q("etl_ltv_discounted",
      """WITH f AS (
        |  SELECT o_custkey,
        |         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), firsts AS (
        |  SELECT o_custkey, min(m) AS cohort FROM f GROUP BY o_custkey
        |), grid AS (
        |  SELECT cohort, CAST(date_diff('month', cohort, m) AS BIGINT)
        |           AS age,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM f JOIN firsts USING (o_custkey) GROUP BY 1, 2
        |), sizes AS (
        |  SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |  FROM firsts GROUP BY cohort
        |), disc AS (
        |  SELECT cohort, age, cents,
        |         CAST(cents AS DOUBLE) / 100
        |           * CASE WHEN age = 0 THEN CAST(1 AS DOUBLE)
        |                  ELSE list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |                    list_transform(range(1, age + 1),
        |                      z -> CAST(0.99 AS DOUBLE))), (a, x) -> a * x)
        |             END AS drev
        |  FROM grid
        |), cum AS (
        |  SELECT cohort, age,
        |         sum(cents) OVER (PARTITION BY cohort ORDER BY age)
        |           AS cum_cents,
        |         sum(drev) OVER (PARTITION BY cohort ORDER BY age)
        |           AS cum_drev
        |  FROM disc
        |)
        |SELECT cohort, age, n_users,
        |       floor(CAST(cum_cents AS DOUBLE) / 100 / n_users * 10000)
        |         / 10000 AS ltv_per_user,
        |       floor(cum_drev / n_users * 10000) / 10000
        |         AS ltv_discounted
        |FROM cum JOIN sizes USING (cohort)
        |ORDER BY cohort, age""".stripMargin) { (s, d) =>
      val f = orders(s, d)
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("m"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val firsts = f.groupBy("o_custkey").agg(min(col("m")).as("cohort"))
      val grid = f.join(firsts, Seq("o_custkey"))
        .groupBy(col("cohort"),
          expr("CAST(months_between(m, cohort) AS BIGINT)").as("age"))
        .agg(sum(col("cents")).as("cents"))
      val sizes = firsts.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"))
      val disc = grid.withColumn("drev",
        col("cents").cast("double") / 100 *
          expr(
            """CASE WHEN age = 0 THEN CAST(1 AS DOUBLE)
              |ELSE aggregate(transform(sequence(1, CAST(age AS INT)),
              |       z -> CAST(0.99 AS DOUBLE)),
              |     CAST(1 AS DOUBLE), (a, x) -> a * x) END""".stripMargin))
      val wC = Window.partitionBy("cohort").orderBy("age")
      disc
        .withColumn("cum_cents", sum(col("cents")).over(wC))
        .withColumn("cum_drev", sum(col("drev")).over(wC))
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("age"), col("n_users"),
          (floor(col("cum_cents").cast("double") / 100 / col("n_users")
            * 10000) / 10000).as("ltv_per_user"),
          (floor(col("cum_drev") / col("n_users") * 10000) / 10000)
            .as("ltv_discounted"))
        .orderBy("cohort", "age")
    },

    // Kaplan-Meier survival estimate (round 8, cont. 6): time to FIRST
    // PURCHASE per user, censoring-aware — the conversion-lag curve a
    // funnel readout cannot give (users who have not purchased by the
    // horizon are CENSORED, not failures; dropping or counting them
    // either way biases the curve — Kaplan & Meier 1958). t = days from
    // a user's first event to their first purchase (event) or to the
    // horizon (censored); S(t) = P(no purchase by day t) =
    // PRODUCT_{t'<=t} (1 - d_t'/n_t') with n_t' = users still
    // unconverted and under observation at t'. Exact: d/n are integers
    // from one user-keyed groupBy; the <=31-row (t, d, c) frame
    // collects in-row and every S(t) folds the SAME rational factors in
    // pinned t-order (O(31^3) worst case - report-frame bounded); one
    // floor at display. Plan: user groupBy -> bounded duration groupBy
    // -> in-row fold + explode - zero windows.
    Q("etl_survival_km",
      """WITH u AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS fe,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(ts AS DATE) END) AS fp
        |  FROM events GROUP BY user_id
        |), h AS (
        |  SELECT max(CAST(ts AS DATE)) AS horizon FROM events
        |), dur AS (
        |  SELECT CASE WHEN fp IS NOT NULL THEN CAST(fp - fe AS BIGINT)
        |              ELSE CAST(horizon - fe AS BIGINT) END AS t,
        |         CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u CROSS JOIN h
        |), g AS (
        |  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(count(*) - sum(ev) AS BIGINT) AS c
        |  FROM dur GROUP BY t
        |), l0 AS (
        |  SELECT list(struct_pack(t := t, d := d, c := c) ORDER BY t) AS l
        |  FROM g
        |), x AS (
        |  SELECT unnest(list_transform(range(1, len(l) + 1), i ->
        |    struct_pack(
        |      t := l[CAST(i AS INT)].t,
        |      n_at_risk := list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(l[CAST(i AS INT):], e -> e.d + e.c)),
        |        (a, x) -> a + x),
        |      d_events := l[CAST(i AS INT)].d,
        |      censored := l[CAST(i AS INT)].c,
        |      survival := list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |          list_transform(range(1, i + 1), j ->
        |            CAST(1 AS DOUBLE) - CAST(l[CAST(j AS INT)].d AS DOUBLE)
        |              / CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                  list_transform(l[CAST(j AS INT):],
        |                                 e -> e.d + e.c)),
        |                (a, x) -> a + x) AS DOUBLE))),
        |        (a, x) -> a * x)))) AS r
        |  FROM l0
        |)
        |SELECT r.t AS t, r.n_at_risk AS n_at_risk,
        |       r.d_events AS d_events, r.censored AS censored,
        |       floor(r.survival * 1000000) / 1000000 AS survival
        |FROM x ORDER BY t""".stripMargin) { (s, d) =>
      val u = events(s, d)
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("fe"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("fp"))
      val h = events(s, d).agg(max(to_date(col("ts"))).as("horizon"))
      val g = u.crossJoin(broadcast(h))
        .select(
          when(col("fp").isNotNull, datediff(col("fp"), col("fe")))
            .otherwise(datediff(col("horizon"), col("fe")))
            .cast("long").as("t"),
          when(col("fp").isNotNull, 1L).otherwise(0L).as("ev"))
        .groupBy("t")
        .agg(sum(col("ev")).as("d"),
          (count(lit(1)) - sum(col("ev"))).as("c"))
      g.agg(expr("sort_array(collect_list(struct(t, d, c)))").as("l"))
        .select(explode(expr(
          """transform(sequence(1, size(l)), i -> named_struct(
            |  't', element_at(l, i).t,
            |  'n_at_risk', aggregate(transform(
            |      slice(l, i, size(l) - i + 1), e -> e.d + e.c),
            |    CAST(0 AS BIGINT), (a, x) -> a + x),
            |  'd_events', element_at(l, i).d,
            |  'censored', element_at(l, i).c,
            |  'survival', aggregate(transform(sequence(1, i), j ->
            |      CAST(1 AS DOUBLE) - CAST(element_at(l, j).d AS DOUBLE)
            |        / CAST(aggregate(transform(
            |            slice(l, j, size(l) - j + 1), e -> e.d + e.c),
            |          CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)),
            |    CAST(1 AS DOUBLE), (a, x) -> a * x)))""".stripMargin))
          .as("r"))
        .select(col("r.t").as("t"), col("r.n_at_risk").as("n_at_risk"),
          col("r.d_events").as("d_events"), col("r.censored").as("censored"),
          (floor(col("r.survival") * 1000000) / 1000000).as("survival"))
        .orderBy("t")
    },

    // New-vs-returning daily split (round 8, cont. 6): per day, how many
    // active users are seen for the FIRST time vs returning — the
    // acquisition/retention mix beside etl_dau_mau's stickiness and
    // etl_retention_cohort's matrix. first_day = min(day) per user; a
    // day's user is "new" iff day = first_day. Plan: deduplicated
    // (user, day) frame → ONE user-keyed groupBy for first_day → one
    // user-keyed join back (both sides fact-reduced and co-keyed — at
    // cluster scale this is the canonical co-partitioned join, never a
    // broadcast of a linear frame) → bounded per-day counts. Integer
    // counts; one ratio division at display.
    Q("etl_new_vs_returning",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
        |)
        |SELECT day,
        |       CAST(count(*) FILTER (WHERE day = first_day) AS BIGINT)
        |         AS new_users,
        |       CAST(count(*) FILTER (WHERE day > first_day) AS BIGINT)
        |         AS returning_users,
        |       floor(CAST(count(*) FILTER (WHERE day = first_day)
        |                  AS DOUBLE) / count(*) * 1000000) / 1000000
        |         AS new_ratio
        |FROM ud JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val ud = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .persist() // feeds first-day agg AND the join probe
      val f = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
      ud.join(f, Seq("user_id"))
        .groupBy("day")
        .agg(count(when(col("day") === col("first_day"), 1))
          .as("new_users"),
          count(when(col("day") > col("first_day"), 1))
            .as("returning_users"),
          count(lit(1)).as("all_users"))
        .select(col("day"), col("new_users"), col("returning_users"),
          (floor(col("new_users").cast("double") / col("all_users")
            * 1000000) / 1000000).as("new_ratio"))
        .orderBy("day")
    },

    // Hourly gap-fill with linear interpolation (round 8, cont. 6): the
    // INTERPOLATION leg beside etl_resample_ffill's step-fill — resample
    // per-type revenue to an hourly grid and fill missing hours linearly
    // between the surrounding observations (the standard prep before
    // spectral/seasonal analysis on irregular telemetry; at low traffic
    // the grid has real holes — sf0.001 exercises them, denser SFs
    // degenerate to identity, which the oracle replays either way).
    // Exact: observed hours carry BIGINT cents; an interpolated hour is
    // prev + (next-prev)*pos/len with INTEGER pos/len hour offsets from
    // epoch seconds — one double assembly per hole in identical IEEE
    // order. Plan: bounded per-type hour spine (<=744 rows/type)
    // generated arithmetically, left join of the hourly rollup, two
    // IGNORE NULLS windows over the bounded spine — the fact is reduced
    // by the (type, hour) groupBy first.
    Q("etl_gap_fill_interp",
      """WITH o AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)
        |           AS hr,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type, min(hr) AS lo, max(hr) AS hi
        |  FROM o GROUP BY event_type
        |), spine AS (
        |  SELECT event_type, unnest(generate_series(lo, hi,
        |           INTERVAL 1 HOUR)) AS hr
        |  FROM b
        |), j AS (
        |  SELECT s.event_type, s.hr, o.cents,
        |         CAST(floor(epoch(s.hr)) AS BIGINT) // 3600 AS hix
        |  FROM spine s LEFT JOIN o
        |    ON s.event_type = o.event_type AND s.hr = o.hr
        |), w AS (
        |  SELECT event_type, hr, cents, hix,
        |         last_value(cents IGNORE NULLS) OVER
        |           (PARTITION BY event_type ORDER BY hr
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS pv,
        |         last_value(CASE WHEN cents IS NOT NULL THEN hix END
        |                    IGNORE NULLS) OVER
        |           (PARTITION BY event_type ORDER BY hr
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS ph,
        |         first_value(cents IGNORE NULLS) OVER
        |           (PARTITION BY event_type ORDER BY hr
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS nv,
        |         first_value(CASE WHEN cents IS NOT NULL THEN hix END
        |                     IGNORE NULLS) OVER
        |           (PARTITION BY event_type ORDER BY hr
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS nh
        |  FROM j
        |)
        |SELECT event_type, hr,
        |       CASE WHEN cents IS NOT NULL
        |            THEN floor(CAST(cents AS DOUBLE) / 100 * 1000000)
        |                 / 1000000
        |            ELSE floor((CAST(pv AS DOUBLE)
        |                        + CAST(nv - pv AS DOUBLE)
        |                          * (hix - ph) / (nh - ph))
        |                       / 100 * 1000000) / 1000000
        |       END AS value_filled,
        |       cents IS NULL AS is_interpolated
        |FROM w ORDER BY event_type, hr""".stripMargin) { (s, d) =>
      val o = events(s, d)
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .persist() // feeds the bounds AND the spine join
      val spine = o.groupBy("event_type")
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
      val j = spine.join(o, Seq("event_type", "hr"), "left")
        .withColumn("hix",
          expr("CAST(floor(unix_timestamp(hr)) AS BIGINT) DIV 3600"))
      val wPrev = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val w = j
        .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
        .withColumn("ph",
          last(when(col("cents").isNotNull, col("hix")), ignoreNulls = true)
            .over(wPrev))
        .withColumn("nv",
          first(col("cents"), ignoreNulls = true).over(wNext))
        .withColumn("nh",
          first(when(col("cents").isNotNull, col("hix")),
            ignoreNulls = true).over(wNext))
      w.select(col("event_type"), col("hr"),
          when(col("cents").isNotNull,
            floor(col("cents").cast("double") / 100 * 1000000) / 1000000)
            .otherwise(floor((col("pv").cast("double")
              + (col("nv") - col("pv")).cast("double")
                * (col("hix") - col("ph")) / (col("nh") - col("ph")))
              / 100 * 1000000) / 1000000)
            .as("value_filled"),
          col("cents").isNull.as("is_interpolated"))
        .orderBy("event_type", "hr")
    },

    // Holt-Winters additive forecast (round 8, cont. 6): triple
    // exponential smoothing (alpha=0.3, beta=0.1, gamma=0.2, period 7)
    // of the per-type daily count series — the SEASONAL member
    // completing the forecast-champion trio (snaive = pure weekly
    // pattern, holt = pure trend, HW = both), fit on all but the last
    // week, backtested on the held-out 7 days with the same comparable
    // MAE/WAPE columns.
    //
    // Determinism: the (t, level, trend, s1..s7) recursion folds the
    // day-ordered in-row series with a 10-slot ARRAY-of-DOUBLE
    // accumulator — arrays are FUNCTIONAL in both engines (the
    // dq_ks_test struct-mutation finding; and per the cont.-6 finding
    // DuckDB list_reduce is only safe with scalar or fixed-arity
    // all-DOUBLE array accumulators, which this is, like
    // etl_forecast_holt's 2-slot one). The seasonal slot updates via a
    // 7-element functional rebuild (IF(i = slot, s', old)); level'
    // is INLINED everywhere it appears (trend'/season') so both engines
    // replay the identical IEEE op sequence with no CSE assumptions.
    // Init: level = week-1 mean, trend = (week-2 mean - week-1 mean)/7,
    // season_i = y_i - level (the standard two-season init). Plan: one
    // fact scan -> bounded (type, day) groupBy -> in-row fold.
    Q("etl_forecast_hw",
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, list(n ORDER BY day) AS ys
        |  FROM d GROUP BY event_type
        |), f AS (
        |  SELECT event_type, CAST(len(ys) - 7 AS BIGINT) AS n_train,
        |         ys[1 : len(ys) - 7] AS train,
        |         ys[len(ys) - 6 : len(ys)] AS test
        |  FROM g WHERE len(ys) >= 22
        |), ini AS (
        |  SELECT event_type, n_train, train, test,
        |         CAST(train[1] + train[2] + train[3] + train[4] + train[5]
        |              + train[6] + train[7] AS DOUBLE) / 7 AS l0,
        |         (CAST(train[8] + train[9] + train[10] + train[11]
        |               + train[12] + train[13] + train[14] AS DOUBLE) / 7
        |          - CAST(train[1] + train[2] + train[3] + train[4]
        |                 + train[5] + train[6] + train[7] AS DOUBLE) / 7)
        |           / 7 AS b0
        |  FROM f
        |), fit AS (
        |  SELECT event_type, n_train, test,
        |         list_reduce(list_prepend(
        |             [CAST(7 AS DOUBLE), l0, b0,
        |              CAST(train[1] AS DOUBLE) - l0,
        |              CAST(train[2] AS DOUBLE) - l0,
        |              CAST(train[3] AS DOUBLE) - l0,
        |              CAST(train[4] AS DOUBLE) - l0,
        |              CAST(train[5] AS DOUBLE) - l0,
        |              CAST(train[6] AS DOUBLE) - l0,
        |              CAST(train[7] AS DOUBLE) - l0],
        |             list_transform(train[8 : len(train)],
        |                            y -> [CAST(y AS DOUBLE)])),
        |           (a, x) -> list_concat(
        |             [a[1] + CAST(1 AS DOUBLE),
        |              CAST(0.3 AS DOUBLE)
        |                * (x[1] - a[CAST(3 + CAST(a[1] + CAST(1 AS DOUBLE)
        |                     - 7 * floor((a[1] + CAST(1 AS DOUBLE) - 1) / 7)
        |                     AS INT) AS INT)])
        |                + CAST(0.7 AS DOUBLE) * (a[2] + a[3]),
        |              CAST(0.1 AS DOUBLE)
        |                * (CAST(0.3 AS DOUBLE)
        |                     * (x[1] - a[CAST(3 + CAST(a[1]
        |                          + CAST(1 AS DOUBLE)
        |                          - 7 * floor((a[1] + CAST(1 AS DOUBLE) - 1)
        |                                      / 7) AS INT) AS INT)])
        |                   + CAST(0.7 AS DOUBLE) * (a[2] + a[3]) - a[2])
        |                + CAST(0.9 AS DOUBLE) * a[3]],
        |             list_transform(range(1, 8), i ->
        |               CASE WHEN i = CAST(a[1] + CAST(1 AS DOUBLE)
        |                      - 7 * floor((a[1] + CAST(1 AS DOUBLE) - 1) / 7)
        |                      AS BIGINT)
        |                    THEN CAST(0.2 AS DOUBLE)
        |                           * (x[1] - (CAST(0.3 AS DOUBLE)
        |                               * (x[1] - a[CAST(3 + CAST(a[1]
        |                                    + CAST(1 AS DOUBLE)
        |                                    - 7 * floor((a[1]
        |                                        + CAST(1 AS DOUBLE) - 1) / 7)
        |                                    AS INT) AS INT)])
        |                               + CAST(0.7 AS DOUBLE)
        |                                 * (a[2] + a[3])))
        |                         + CAST(0.8 AS DOUBLE)
        |                           * a[CAST(3 + CAST(a[1]
        |                                + CAST(1 AS DOUBLE)
        |                                - 7 * floor((a[1]
        |                                    + CAST(1 AS DOUBLE) - 1) / 7)
        |                                AS INT) AS INT)]
        |                    ELSE a[CAST(3 + i AS INT)]
        |               END))) AS st
        |  FROM ini
        |), sc AS (
        |  SELECT event_type, n_train, st[2] AS level, st[3] AS trend,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(range(1, 8), h ->
        |               abs(CAST(test[CAST(h AS INT)] AS DOUBLE)
        |                   - (st[2] + CAST(h AS DOUBLE) * st[3]
        |                      + st[CAST(3 + CAST(n_train + h
        |                           - 7 * floor((n_train + h - 1) / 7)
        |                           AS INT) AS INT)])))),
        |           (a, x) -> a + x) AS tae,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), test),
        |           (a, x) -> a + x) AS vol
        |  FROM fit
        |)
        |SELECT event_type, n_train, CAST(7 AS BIGINT) AS n_test,
        |       floor(level * 10000) / 10000 AS level,
        |       floor(trend * 10000) / 10000 AS trend,
        |       floor(tae * 10000) / 10000 AS total_abs_err,
        |       floor(tae / 7 * 10000) / 10000 AS mae,
        |       floor(tae / CAST(vol AS DOUBLE) * 1000000) / 1000000 AS wape
        |FROM sc ORDER BY event_type""".stripMargin) { (s, d) =>
      val f = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, n))), "
          + "e -> e.n)").as("ys"))
        .where(size(col("ys")) >= 22)
        .select(col("event_type"),
          (size(col("ys")) - 7).cast("long").as("n_train"),
          expr("slice(ys, 1, size(ys) - 7)").as("train"),
          expr("slice(ys, size(ys) - 6, 7)").as("test"))
      val ini = f.select(col("event_type"), col("n_train"), col("train"),
        col("test"),
        expr(
          """CAST(element_at(train, 1) + element_at(train, 2)
            |  + element_at(train, 3) + element_at(train, 4)
            |  + element_at(train, 5) + element_at(train, 6)
            |  + element_at(train, 7) AS DOUBLE) / 7""".stripMargin).as("l0"),
        expr(
          """(CAST(element_at(train, 8) + element_at(train, 9)
            |   + element_at(train, 10) + element_at(train, 11)
            |   + element_at(train, 12) + element_at(train, 13)
            |   + element_at(train, 14) AS DOUBLE) / 7
            | - CAST(element_at(train, 1) + element_at(train, 2)
            |   + element_at(train, 3) + element_at(train, 4)
            |   + element_at(train, 5) + element_at(train, 6)
            |   + element_at(train, 7) AS DOUBLE) / 7) / 7""".stripMargin)
          .as("b0"))
      // the recursion step below inlines level' into trend'/season' so
      // the IEEE op order is explicit (no CSE assumptions), mirroring
      // the oracle text operator-for-operator
      val fit = ini.select(col("event_type"), col("n_train"), col("test"),
        expr(
          """aggregate(transform(slice(train, 8, size(train) - 7),
            |    y -> CAST(y AS DOUBLE)),
            |  concat(array(CAST(7 AS DOUBLE), l0, b0),
            |         transform(sequence(1, 7), i ->
            |           CAST(element_at(train, i) AS DOUBLE) - l0)),
            |  (a, x) -> concat(
            |    array(
            |      element_at(a, 1) + CAST(1 AS DOUBLE),
            |      CAST(0.3 AS DOUBLE)
            |        * (x - element_at(a, CAST(3 + CAST(element_at(a, 1)
            |             + CAST(1 AS DOUBLE)
            |             - 7 * floor((element_at(a, 1) + CAST(1 AS DOUBLE)
            |                          - 1) / 7) AS INT) AS INT)))
            |        + CAST(0.7 AS DOUBLE)
            |          * (element_at(a, 2) + element_at(a, 3)),
            |      CAST(0.1 AS DOUBLE)
            |        * (CAST(0.3 AS DOUBLE)
            |             * (x - element_at(a, CAST(3 + CAST(element_at(a, 1)
            |                  + CAST(1 AS DOUBLE)
            |                  - 7 * floor((element_at(a, 1)
            |                      + CAST(1 AS DOUBLE) - 1) / 7)
            |                  AS INT) AS INT)))
            |           + CAST(0.7 AS DOUBLE)
            |             * (element_at(a, 2) + element_at(a, 3))
            |           - element_at(a, 2))
            |        + CAST(0.9 AS DOUBLE) * element_at(a, 3)),
            |    transform(sequence(1, 7), i ->
            |      CASE WHEN i = CAST(element_at(a, 1) + CAST(1 AS DOUBLE)
            |             - 7 * floor((element_at(a, 1) + CAST(1 AS DOUBLE)
            |                          - 1) / 7) AS BIGINT)
            |           THEN CAST(0.2 AS DOUBLE)
            |                  * (x - (CAST(0.3 AS DOUBLE)
            |                      * (x - element_at(a, CAST(3
            |                           + CAST(element_at(a, 1)
            |                           + CAST(1 AS DOUBLE)
            |                           - 7 * floor((element_at(a, 1)
            |                               + CAST(1 AS DOUBLE) - 1) / 7)
            |                           AS INT) AS INT)))
            |                      + CAST(0.7 AS DOUBLE)
            |                        * (element_at(a, 2) + element_at(a, 3))))
            |                + CAST(0.8 AS DOUBLE)
            |                  * element_at(a, CAST(3
            |                      + CAST(element_at(a, 1)
            |                      + CAST(1 AS DOUBLE)
            |                      - 7 * floor((element_at(a, 1)
            |                          + CAST(1 AS DOUBLE) - 1) / 7)
            |                      AS INT) AS INT))
            |           ELSE element_at(a, CAST(3 + i AS INT))
            |      END)))""".stripMargin).as("st"))
      fit.select(col("event_type"), col("n_train"),
          expr("element_at(st, 2)").as("level"),
          expr("element_at(st, 3)").as("trend"),
          expr(
            """aggregate(transform(sequence(1, 7), h ->
              |    abs(CAST(element_at(test, CAST(h AS INT)) AS DOUBLE)
              |        - (element_at(st, 2)
              |           + CAST(h AS DOUBLE) * element_at(st, 3)
              |           + element_at(st, CAST(3 + CAST(n_train + h
              |                - 7 * floor((n_train + h - 1) / 7)
              |                AS INT) AS INT))))),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
            .as("tae"),
          expr("aggregate(test, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("vol"))
        .select(col("event_type"), col("n_train"), lit(7L).as("n_test"),
          (floor(col("level") * 10000) / 10000).as("level"),
          (floor(col("trend") * 10000) / 10000).as("trend"),
          (floor(col("tae") * 10000) / 10000).as("total_abs_err"),
          (floor(col("tae") / 7 * 10000) / 10000).as("mae"),
          (floor(col("tae") / col("vol").cast("double") * 1000000)
            / 1000000).as("wape"))
        .orderBy("event_type")
    },

    // Receivables-aging buckets (round 9): the finance-ops dunning view —
    // OPEN orders (status <> 'F') bucketed by age at the ledger's
    // reference date (max order date — derived from the data so re-runs
    // are deterministic), outstanding value per market segment × bucket.
    // Money through DECIMAL(18,2) (order-independent exactness), age in
    // whole days on DATE arithmetic (timestamp-midnight safe on both
    // engines). Plan: fact scan → broadcast customer-dim join + a
    // broadcast 1-row reference date → bounded (segment, bucket)
    // aggregate; the bucket CASE is map-side, no windows.
    Q("etl_ar_aging",
      """WITH ref AS (
        |  SELECT CAST(max(o_orderdate) AS DATE) AS ref_day FROM orders
        |), aged AS (
        |  SELECT c_mktsegment,
        |         CASE
        |           WHEN date_diff('day', CAST(o_orderdate AS DATE), ref_day) <= 30 THEN 'a_0_30'
        |           WHEN date_diff('day', CAST(o_orderdate AS DATE), ref_day) <= 90 THEN 'b_31_90'
        |           WHEN date_diff('day', CAST(o_orderdate AS DATE), ref_day) <= 365 THEN 'c_91_365'
        |           ELSE 'd_over_365' END AS bucket,
        |         o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |       CROSS JOIN ref
        |  WHERE o_orderstatus <> 'F'
        |)
        |SELECT c_mktsegment, bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |                  AS DOUBLE), 2) AS outstanding
        |FROM aged GROUP BY c_mktsegment, bucket
        |ORDER BY c_mktsegment, bucket""".stripMargin) { (s, d) =>
      val o = orders(s, d).where(col("o_orderstatus") =!= "F")
      val ref = orders(s, d)
        .agg(max(col("o_orderdate")).cast("date").as("ref_day"))
      val cust = Tables(s, d, "customer").select("c_custkey", "c_mktsegment")
      val age = datediff(col("ref_day"), col("o_orderdate").cast("date"))
      o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .crossJoin(broadcast(ref))
        .select(col("c_mktsegment"),
          when(age <= 30, "a_0_30")
            .when(age <= 90, "b_31_90")
            .when(age <= 365, "c_91_365")
            .otherwise("d_over_365").as("bucket"),
          col("o_totalprice"))
        .groupBy("c_mktsegment", "bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("outstanding"))
        .orderBy("c_mktsegment", "bucket")
    },

    // Seasonality/trend strength (round 9): Hyndman's Fₜ = max(0, 1 −
    // Var(R)/Var(T+R)) and Fₛ = max(0, 1 − Var(R)/Var(S+R)) over the
    // SAME classical decomposition chain as etl_seasonal_decompose
    // (7-day centered-MA trend, weekday-mean seasonal) — the one-number
    // verdict per stream that decides the forecast-champion bracket:
    // high Fₛ → the seasonal members (snaive/HW) are candidates, low →
    // plain Holt; high Fₜ → differencing/trend terms matter. The
    // decompose key shows the curves; this key makes the call. EXACT
    // cross-engine: every decomposition value is a fixed sequence of
    // IEEE ops (BIGINT window-sum / count division, pinned-order
    // weekday-mean folds), and the four variance moments fold in-row
    // over the day-sorted series with SCALAR double accumulators (two
    // separate Σx / Σx² folds — the DuckDB list_reduce LIST-accumulator
    // miscomputation recorded at etl_changepoint forbids a fused
    // 2-slot fold), so both engines execute identical op sequences.
    //
    // Scale shape: one map-side-combinable fact groupBy → the
    // calendar-bounded daily frame; everything after (window, weekday
    // means, in-row folds) is report-grain arithmetic.
    Q("etl_seasonality_strength",
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), tr AS (
        |  SELECT event_type, day, c,
        |         CAST(sum(c) OVER w AS DOUBLE) / count(c) OVER w AS trend,
        |         date_part('dow', day) AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), se AS (
        |  SELECT event_type, dow,
        |         list_reduce(list_prepend(0.0, list(c - trend ORDER BY day)),
        |                     (a, b) -> a + b) / count(*) AS seasonal
        |  FROM tr GROUP BY 1, 2
        |), z AS (
        |  SELECT t.event_type, t.day,
        |         t.c - t.trend - s.seasonal AS r,
        |         t.c - s.seasonal AS tpr,
        |         t.c - t.trend AS spr
        |  FROM tr t JOIN se s ON t.event_type = s.event_type
        |                     AND t.dow = s.dow
        |), l AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         list(r ORDER BY day) AS rs,
        |         list(tpr ORDER BY day) AS ts,
        |         list(spr ORDER BY day) AS ss
        |  FROM z GROUP BY event_type
        |), v AS (
        |  SELECT event_type, n_days,
        |    list_reduce(list_prepend(0.0, rs), (a, b) -> a + b) AS sr,
        |    list_reduce(list_prepend(0.0, list_transform(rs, x -> x * x)),
        |                (a, b) -> a + b) AS sr2,
        |    list_reduce(list_prepend(0.0, ts), (a, b) -> a + b) AS st,
        |    list_reduce(list_prepend(0.0, list_transform(ts, x -> x * x)),
        |                (a, b) -> a + b) AS st2,
        |    list_reduce(list_prepend(0.0, ss), (a, b) -> a + b) AS ssum,
        |    list_reduce(list_prepend(0.0, list_transform(ss, x -> x * x)),
        |                (a, b) -> a + b) AS ss2
        |  FROM l
        |)
        |SELECT event_type, n_days,
        |  floor(greatest(0.0, coalesce(1 - (sr2 - sr * sr / n_days)
        |                        / nullif(st2 - st * st / n_days, 0), 0.0))
        |        * 1000000)
        |    / 1000000 AS f_trend,
        |  floor(greatest(0.0, coalesce(1 - (sr2 - sr * sr / n_days)
        |                        / nullif(ss2 - ssum * ssum / n_days, 0), 0.0))
        |        * 1000000)
        |    / 1000000 AS f_seasonal
        |FROM v ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val tr = daily
        .withColumn("trend",
          sum(col("c")).over(w).cast("double") / count(col("c")).over(w))
        .withColumn("dow", dayofweek(col("day")) - 1)
        .persist() // bounded frame feeds the weekday means AND the folds
      val se = tr.groupBy("event_type", "dow")
        .agg((expr(
          """aggregate(sort_array(collect_list(struct(day, c - trend AS detr))),
            | 0d, (a, e) -> a + e.detr)""".stripMargin)
          / count(lit(1))).as("seasonal"))
      val l = tr.join(broadcast(se), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"),
          (col("c") - col("trend") - col("seasonal")).as("r"),
          (col("c") - col("seasonal")).as("tpr"),
          (col("c") - col("trend")).as("spr"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("transform(sort_array(collect_list(struct(day, r))), e -> e.r)")
            .as("rs"),
          expr("transform(sort_array(collect_list(struct(day, tpr))), e -> e.tpr)")
            .as("ts"),
          expr("transform(sort_array(collect_list(struct(day, spr))), e -> e.spr)")
            .as("ss"))
      l.select(col("event_type"), col("n_days"),
          expr("aggregate(rs, 0d, (a, b) -> a + b)").as("sr"),
          expr("aggregate(transform(rs, x -> x * x), 0d, (a, b) -> a + b)")
            .as("sr2"),
          expr("aggregate(ts, 0d, (a, b) -> a + b)").as("st"),
          expr("aggregate(transform(ts, x -> x * x), 0d, (a, b) -> a + b)")
            .as("st2"),
          expr("aggregate(ss, 0d, (a, b) -> a + b)").as("ssum"),
          expr("aggregate(transform(ss, x -> x * x), 0d, (a, b) -> a + b)")
            .as("ss2"))
        .select(col("event_type"), col("n_days"),
          // zero-variance guard (round 10 — ADVICE r9): a constant (or
          // single-day) per-type series makes Var(T+R)/Var(S+R) zero;
          // without the nullif the 0/0 NaN rode through greatest/floor.
          // NULL-out the denominator, coalesce the strength to 0 — a
          // flat series has nothing for trend/seasonality to explain.
          (floor(greatest(lit(0.0), coalesce(lit(1) -
            (col("sr2") - col("sr") * col("sr") / col("n_days")) /
              nullif(col("st2") - col("st") * col("st") / col("n_days"),
                lit(0)), lit(0.0)))
            * 1000000) / 1000000).as("f_trend"),
          (floor(greatest(lit(0.0), coalesce(lit(1) -
            (col("sr2") - col("sr") * col("sr") / col("n_days")) /
              nullif(col("ss2") - col("ssum") * col("ssum") / col("n_days"),
                lit(0)), lit(0.0)))
            * 1000000) / 1000000).as("f_seasonal"))
        .orderBy("event_type")
    },

    // Blocked entity resolution (round 9): the record-linkage plan
    // shape — block on (nation, 16-char name prefix), generate
    // candidate pairs ONLY within blocks, verify each candidate with an
    // edit-distance predicate (levenshtein ≤ 1), report per-nation
    // candidate/match counts and the match rate. The missing family
    // between etl_dedup_latest (exact-key dedup) and the llm_* near-dup
    // family (set-similarity on text): MDM-style fuzzy matching of
    // structured entities, where the blocking key — not LSH banding —
    // is what keeps the pair space sub-quadratic. The harness lexicon
    // is real for this corpus (sequential Customer#NNNNNNNNN names make
    // 1-edit neighbors genuinely common — 538 matches / 3013 candidates
    // at sf0.01); production name blocking drops in by swapping the
    // block expression (e.g. soundex/prefix+zip), the plan unchanged.
    //
    // Scale shape: the self-join is EQUI on (nation, block), so it
    // shuffles each side once on the block key and the quadratic
    // explosion is bounded per block (≤100 same-prefix names → ≤4,950
    // pairs) regardless of SF; levenshtein runs on candidates only,
    // never all pairs. At 100 TB this is the standard blocked-ER shape:
    // block cardinality grows with the data, block SIZE does not.
    Q("etl_entity_resolution",
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         substring(c_name, 1, 16) AS blk
        |  FROM customer
        |), p AS (
        |  SELECT a.c_nationkey AS nk,
        |         CAST(count(*) AS BIGINT) AS n_candidates,
        |         CAST(sum(CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
        |  FROM c a JOIN c b
        |    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
        |   AND a.c_custkey < b.c_custkey
        |  GROUP BY 1
        |)
        |SELECT n.n_name, p.n_candidates, p.n_matches,
        |       floor(CAST(p.n_matches AS DOUBLE) / p.n_candidates * 1000000)
        |         / 1000000 AS match_rate
        |FROM p JOIN nation n ON p.nk = n.n_nationkey
        |ORDER BY n.n_name""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          substring(col("c_name"), 1, 16).as("blk"))
      val b = c.select(col("c_custkey").as("ck2"), col("c_name").as("nm2"),
        col("c_nationkey").as("nk2"), col("blk").as("blk2"))
      val p = c.join(b,
          col("c_nationkey") === col("nk2") && col("blk") === col("blk2") &&
            col("c_custkey") < col("ck2"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(levenshtein(col("c_name"), col("nm2")) <= 1, 1L)
            .otherwise(0L)).as("n_matches"))
      p.join(broadcast(Tables(s, d, "nation")),
          col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_candidates"), col("n_matches"),
          (floor(col("n_matches").cast("double") / col("n_candidates")
            * 1000000) / 1000000).as("match_rate"))
        .orderBy("n_name")
    },

    // Month-over-month / year-over-year growth (round 10): the revenue
    // trend readout every monthly business review opens with — monthly
    // order revenue with its MoM growth and the CALENDAR-join YoY (the
    // year-ago month is matched by month arithmetic, not by "12 rows
    // back", so a gap month can never silently shift the comparison —
    // the etl_monthly_usage family's level view gains its growth view).
    // Plan: the fact reduces map-side to the bounded month frame
    // (DECIMAL sums — order-insensitive); the lag window and the
    // year-ago self-join run over ~80 rows. Each growth ratio is one
    // double division of exact DECIMAL sums, rounded at 6.
    Q("etl_mom_yoy",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS rev,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1
        |), lagd AS (
        |  SELECT month, rev, n_orders,
        |         lag(rev) OVER (ORDER BY month) AS prev_rev
        |  FROM m
        |)
        |SELECT l.month, round(l.rev, 2) AS revenue, l.n_orders,
        |       round(l.rev / nullif(l.prev_rev, 0) - 1, 6) AS mom_pct,
        |       round(l.rev / nullif(y.rev, 0) - 1, 6) AS yoy_pct
        |FROM lagd l LEFT JOIN m y
        |  ON y.month = l.month - INTERVAL 12 MONTH
        |ORDER BY l.month""".stripMargin) { (s, d) =>
      val m = orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("rev"), count(lit(1)).as("n_orders"))
      // ~80-row month frame: the unpartitioned lag window and the
      // year-ago self-join belong exactly here
      val lagd = m.select(col("month"), col("rev"), col("n_orders"),
        lag(col("rev"), 1).over(Window.orderBy("month")).as("prev_rev"))
      val y = m.select(col("month").as("y_month"), col("rev").as("y_rev"))
      lagd.join(broadcast(y),
          col("y_month") === col("month") - expr("INTERVAL 12 MONTH"), "left")
        .select(col("month"), round(col("rev"), 2).as("revenue"),
          col("n_orders"),
          round(col("rev") / when(col("prev_rev") =!= 0, col("prev_rev")) - 1,
            6).as("mom_pct"),
          round(col("rev") / when(col("y_rev") =!= 0, col("y_rev")) - 1,
            6).as("yoy_pct"))
        .orderBy("month")
    },

    // Resurrection tracking (round 10): per day, how many active users
    // came back from ≥14 days of silence — the third activity cohort
    // after new (etl_new_vs_returning) and churned (etl_churn_daily);
    // growth accounting is new + resurrected − churned, and a spike
    // here after an outage/winback campaign is the signal the other two
    // keys can't show. Plan: the fact reduces to the (user, day)
    // distinct map-side; ONE user-partitioned lag window computes each
    // user's previous active day; the per-day rollup is bounded. All
    // arithmetic is exact integer day-diffs.
    Q("etl_resurrection_daily",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events
        |), g AS (
        |  SELECT user_id, day,
        |         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
        |  FROM ud
        |)
        |SELECT day, CAST(count(*) AS BIGINT) AS active_users,
        |       CAST(sum(CASE WHEN prev_day IS NOT NULL AND
        |                          date_diff('day', prev_day, day) >= 14
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
        |       round(CAST(sum(CASE WHEN prev_day IS NOT NULL AND
        |                               date_diff('day', prev_day, day) >= 14
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS resurrection_rate
        |FROM g GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val ud = events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val g = ud.select(col("user_id"), col("day"),
        lag(col("day"), 1).over(
          Window.partitionBy("user_id").orderBy("day")).as("prev_day"))
      val res = sum(when(col("prev_day").isNotNull &&
        datediff(col("day"), col("prev_day")) >= 14, 1L).otherwise(0L))
      g.groupBy("day")
        .agg(count(lit(1)).as("active_users"), res.as("resurrected"),
          round(res.cast("double") / count(lit(1)), 6)
            .as("resurrection_rate"))
        .orderBy("day")
    },

    // Ordered-stage funnel (round 13, cont.): signup → view → click →
    // purchase, where stage k counts only an event strictly AFTER the
    // user's stage-(k−1) entry time — the product-analytics conversion
    // readout (a purchase before signup is a data artifact, not a
    // conversion; naive per-type counts can't see ordering). Plan: the
    // four stage times chain as min-CASE windows over ONE user_id hash
    // partitioning (no orderBy ⇒ no sort; Spark reuses the single
    // exchange across all four window passes), then a user-level
    // distinct and a 1-row rollup. Timestamps compare exactly (shared
    // µs grid via Tables); counts exact BIGINT; three round-6 display
    // divisions of exact integers (etl_resurrection_daily precedent).
    Q("etl_funnel_stages",
      """WITH u1 AS (
        |  SELECT user_id, ts, event_type,
        |         min(CASE WHEN event_type = 'signup' THEN ts END)
        |           OVER (PARTITION BY user_id) AS s1
        |  FROM events
        |), u2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' AND ts > s1 THEN ts END)
        |              OVER (PARTITION BY user_id) AS s2 FROM u1
        |), u3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > s2 THEN ts END)
        |              OVER (PARTITION BY user_id) AS s3 FROM u2
        |), u4 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s3 THEN ts END)
        |              OVER (PARTITION BY user_id) AS s4 FROM u3
        |), f AS (
        |  SELECT user_id, max(s1) AS s1, max(s2) AS s2,
        |         max(s3) AS s3, max(s4) AS s4
        |  FROM u4 GROUP BY user_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(count(s1) AS BIGINT) AS n_signup,
        |       CAST(count(s2) AS BIGINT) AS n_view,
        |       CAST(count(s3) AS BIGINT) AS n_click,
        |       CAST(count(s4) AS BIGINT) AS n_purchase,
        |       round(CAST(count(s2) AS DOUBLE) / greatest(count(s1), 1), 6)
        |         AS cv_view,
        |       round(CAST(count(s3) AS DOUBLE) / greatest(count(s2), 1), 6)
        |         AS cv_click,
        |       round(CAST(count(s4) AS DOUBLE) / greatest(count(s3), 1), 6)
        |         AS cv_purchase
        |FROM f""".stripMargin) { (s, d) =>
      val wu = Window.partitionBy("user_id")
      val u = events(s, d).select("user_id", "ts", "event_type")
        .withColumn("s1",
          min(when(col("event_type") === "signup", col("ts"))).over(wu))
        .withColumn("s2",
          min(when(col("event_type") === "view" && col("ts") > col("s1"),
            col("ts"))).over(wu))
        .withColumn("s3",
          min(when(col("event_type") === "click" && col("ts") > col("s2"),
            col("ts"))).over(wu))
        .withColumn("s4",
          min(when(col("event_type") === "purchase" && col("ts") > col("s3"),
            col("ts"))).over(wu))
      val f = u.groupBy("user_id").agg(
        max(col("s1")).as("s1"), max(col("s2")).as("s2"),
        max(col("s3")).as("s3"), max(col("s4")).as("s4"))
      f.agg(
        count(lit(1)).as("n_users"),
        count(col("s1")).as("n_signup"),
        count(col("s2")).as("n_view"),
        count(col("s3")).as("n_click"),
        count(col("s4")).as("n_purchase"),
        round(count(col("s2")).cast("double") /
          greatest(count(col("s1")), lit(1L)), 6).as("cv_view"),
        round(count(col("s3")).cast("double") /
          greatest(count(col("s2")), lit(1L)), 6).as("cv_click"),
        round(count(col("s4")).cast("double") /
          greatest(count(col("s3")), lit(1L)), 6).as("cv_purchase"))
    },

    // First/last-touch attribution (round 13, cont.): each purchase's
    // value credited to the user's FIRST-ever preceding non-purchase
    // event type (brand-awareness model) and to the MOST RECENT one
    // (closer model) — the two bookends every marketing-mix debate runs
    // between; a purchase with no prior touch is 'direct'. Plan: ONE
    // user-partitioned (ts, event_id)-ordered window pass computes both
    // touches via IGNORE-NULLS first/last over the strict-past frame
    // (no self-join, no per-purchase rescan); the rollup is bounded by
    // the event-type domain × 2 models. Cents exact BIGINT.
    Q("etl_attribution_models",
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents,
        |         first_value(CASE WHEN event_type <> 'purchase'
        |                          THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS first_touch,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS last_touch
        |  FROM events
        |), p AS (
        |  SELECT coalesce(first_touch, 'direct') AS first_touch,
        |         coalesce(last_touch, 'direct') AS last_touch, cents
        |  FROM e WHERE event_type = 'purchase'
        |)
        |SELECT model, channel, CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS attributed_cents
        |FROM (
        |  SELECT 'first_touch' AS model, first_touch AS channel, cents FROM p
        |  UNION ALL
        |  SELECT 'last_touch' AS model, last_touch AS channel, cents FROM p
        |)
        |GROUP BY model, channel ORDER BY model, channel""".stripMargin) { (s, d) =>
      val past = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val e = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(past))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(past))
      val p = e.where(col("event_type") === "purchase")
        .select(
          coalesce(col("first_touch"), lit("direct")).as("first_touch"),
          coalesce(col("last_touch"), lit("direct")).as("last_touch"),
          col("cents"))
      p.select(lit("first_touch").as("model"),
          col("first_touch").as("channel"), col("cents"))
        .unionAll(p.select(lit("last_touch").as("model"),
          col("last_touch").as("channel"), col("cents")))
        .groupBy("model", "channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("attributed_cents"))
        .orderBy("model", "channel")
    },

    // Pareto skyline (round 13, cont.): per brand, the parts no other
    // part strictly dominates on (cheaper price, larger size) — the
    // efficient frontier behind every "best value" readout, and the
    // SKYLINE operator of Börzsönyi/Kossmann/Stocker 2001. NO O(n²)
    // dominance self-join: sorted by price, a part is dominated iff a
    // strictly-cheaper part has size ≥ its own (one RANGE window max
    // that excludes the current price group) or an equal-priced part
    // has size strictly larger (one price-group max) — two window
    // passes over ONE brand-partitioned sort, exact integer cents and
    // sizes end-to-end.
    Q("etl_skyline",
      """WITH p AS (
        |  SELECT p_brand, p_partkey,
        |         CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
        |         CAST(p_size AS BIGINT) AS sz
        |  FROM part
        |), w AS (
        |  SELECT p_brand, p_partkey, cents, sz,
        |         max(sz) OVER (PARTITION BY p_brand ORDER BY cents
        |                       RANGE BETWEEN UNBOUNDED PRECEDING
        |                       AND 1 PRECEDING) AS m1,
        |         max(sz) OVER (PARTITION BY p_brand, cents) AS m2
        |  FROM p
        |)
        |SELECT p_brand, p_partkey,
        |       round(cents / 100.0, 2) AS price, sz AS size
        |FROM w
        |WHERE (m1 IS NULL OR m1 < sz) AND m2 = sz
        |ORDER BY p_brand, p_partkey""".stripMargin) { (s, d) =>
      val p = Tables(s, d, "part")
        .select(col("p_brand"), col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("cents"),
          col("p_size").cast("long").as("sz"))
      val w1 = Window.partitionBy("p_brand").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val w2 = Window.partitionBy("p_brand", "cents")
      p.withColumn("m1", max(col("sz")).over(w1))
        .withColumn("m2", max(col("sz")).over(w2))
        .where((col("m1").isNull || col("m1") < col("sz")) &&
          col("m2") === col("sz"))
        .select(col("p_brand"), col("p_partkey"),
          round(col("cents") / 100.0, 2).as("price"), col("sz").as("size"))
        .orderBy("p_brand", "p_partkey")
    },

    // Cohort retention matrix (round 13, cont.): the classic triangle —
    // users grouped by first-activity week, each cohort's active-user
    // count at week offsets 0..n with the retention rate — the
    // analytics-dashboard table behind etl_retention_dn's D1/D7 point
    // estimates and etl_cohort_ltv's revenue view. Week cohorts (both
    // engines truncate to ISO Monday); the offset is an exact integer
    // day-diff div 7 (week starts differ by multiples of 7 — no
    // rounding). Plan: one (user, week) distinct + one per-user min —
    // both map-side-combinable off the same exchange — then a bounded
    // ≤w² matrix aggregate.
    Q("etl_cohort_matrix",
      """WITH f AS (
        |  SELECT user_id,
        |         min(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        |  FROM events WHERE user_id IS NOT NULL
        |), c AS (
        |  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY cohort
        |), m AS (
        |  SELECT f.cohort,
        |         CAST(date_diff('day', CAST(f.cohort AS DATE),
        |                        CAST(a.wk AS DATE)) // 7 AS BIGINT)
        |           AS week_offset,
        |         CAST(count(*) AS BIGINT) AS active_users
        |  FROM f JOIN a ON f.user_id = a.user_id
        |  GROUP BY 1, 2
        |)
        |SELECT cohort, week_offset, active_users, cohort_size,
        |       round(CAST(active_users AS DOUBLE) / cohort_size, 6)
        |         AS retention
        |FROM m JOIN c USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin) { (s, d) =>
      val ev = events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val f = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      val a = ev.distinct()
      val c = f.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      val m = f.join(a, Seq("user_id"))
        .select(col("cohort"),
          expr("datediff(CAST(wk AS DATE), CAST(cohort AS DATE)) div 7")
            .cast("long").as("week_offset"))
        .groupBy("cohort", "week_offset")
        .agg(count(lit(1)).as("active_users"))
      m.join(broadcast(c), Seq("cohort"))
        .select(col("cohort"), col("week_offset"), col("active_users"),
          col("cohort_size"),
          round(col("active_users").cast("double") / col("cohort_size"), 6)
            .as("retention"))
        .orderBy("cohort", "week_offset")
    },

    // Forecast backtest — MASE (round 13, cont.; Hyndman & Koehler
    // 2006): the seasonal-naive forecast's mean absolute error scaled
    // by the one-step naive's, over the 1995 daily revenue series —
    // the scale-free accuracy number that lets etl_forecast_snaive be
    // JUDGED rather than just produced (MASE < 1 ⇔ the weekly lag
    // genuinely beats persistence). Both error series are exact BIGINT
    // cent sums over the same complete-lag row set; one division at
    // display. One orders scan, one day groupBy, one lag window.
    Q("etl_forecast_mase",
      """WITH dd AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS c
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1
        |), l AS (
        |  SELECT day, c,
        |         lag(c, 1) OVER (ORDER BY day) AS c1,
        |         lag(c, 7) OVER (ORDER BY day) AS c7
        |  FROM dd
        |), e AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(abs(c - c1)) AS BIGINT) AS e1,
        |         CAST(sum(abs(c - c7)) AS BIGINT) AS e7
        |  FROM l WHERE c1 IS NOT NULL AND c7 IS NOT NULL
        |)
        |SELECT n_days,
        |       round(CAST(e1 AS DOUBLE) / n_days / 100, 2) AS mae_naive,
        |       round(CAST(e7 AS DOUBLE) / n_days / 100, 2) AS mae_snaive,
        |       floor(CAST(e7 AS DOUBLE) / e1 * 1000000) / 1000000 AS mase
        |FROM e""".stripMargin) { (s, d) =>
      val dd = orders(s, d)
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      val w = Window.orderBy("day")
      val l = dd
        .withColumn("c1", lag(col("c"), 1).over(w))
        .withColumn("c7", lag(col("c"), 7).over(w))
        .where(col("c1").isNotNull && col("c7").isNotNull)
      l.agg(count(lit(1)).as("n_days"),
          sum(abs(col("c") - col("c1"))).as("e1"),
          sum(abs(col("c") - col("c7"))).as("e7"))
        .select(col("n_days"),
          round(col("e1").cast("double") / col("n_days") / 100, 2)
            .as("mae_naive"),
          round(col("e7").cast("double") / col("n_days") / 100, 2)
            .as("mae_snaive"),
          (floor(col("e7").cast("double") / col("e1") * 1000000) / 1000000)
            .as("mase"))
    },

    // Sample-ratio mismatch (round 13, cont.): χ² of the A/B variant
    // user counts against the designed 50/50 split — the experiment
    // hygiene gate that runs BEFORE etl_ab_test/etl_ab_ttest are read
    // at all (a biased assignment invalidates both, and SRM is how
    // assignment bugs actually present: p≈0 on this one degree of
    // freedom). Same pinned hash-split rule as the tests it guards;
    // counts exact BIGINT; χ² is one float expression; the 3.84 flag
    // threshold is the 95% χ²₁ critical value, compared against an
    // expression whose operands are exact.
    Q("etl_ab_srm",
      s"""WITH m AS (
         |  SELECT ${graft.functions.PortableHash.sql(
        "CAST(user_id AS VARCHAR)")} % 2 AS variant
         |  FROM events WHERE user_id IS NOT NULL
         |  GROUP BY user_id
         |), c AS (
         |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS na,
         |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS nb
         |  FROM m
         |)
         |SELECT na AS n_a, nb AS n_b,
         |       floor(CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb)
         |             * 1000000) / 1000000 AS chi2,
         |       CAST(na - nb AS BIGINT) * (na - nb) * 100
         |         > CAST(384 AS BIGINT) * (na + nb) AS srm_flag
         |FROM c""".stripMargin) { (s, d) =>
      val m = events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(max(pmod(graft.functions.PortableHash
          .pHash(col("user_id").cast("string")), lit(2))).as("variant"))
      val c = m.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("nb"))
      c.select(col("na").as("n_a"), col("nb").as("n_b"),
        (floor(((col("na") - col("nb")) * (col("na") - col("nb")))
          .cast("double") / (col("na") + col("nb")) * 1000000) / 1000000)
          .as("chi2"),
        ((col("na") - col("nb")) * (col("na") - col("nb")) * 100 >
          lit(384L) * (col("na") + col("nb"))).as("srm_flag"))
    },

    // Event study (round 13, cont.): the mean daily value path in a
    // ±3-day window around high-error days — the econometrics
    // alignment operator ("what happens to the metric around an
    // incident?"): averaging ACROSS anchors cancels noise that any
    // single incident's chart drowns in. Anchors = days whose error
    // count strictly exceeds the series' mean daily error count
    // (exact-integer compare: cnt·n_days > total); the ±3 alignment is
    // a bounded calendar band join on integer day offsets; all value
    // sums exact cents, one display division per offset row.
    Q("etl_event_study",
      """WITH ec AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type = 'error' GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS d
        |  FROM ec
        |), anchors AS (
        |  SELECT day FROM ec CROSS JOIN tot WHERE n * d > s
        |), dv AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS cents,
        |         CAST(count(value) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |)
        |SELECT CAST(date_diff('day', CAST(a.day AS DATE),
        |                      CAST(v.day AS DATE)) AS BIGINT) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_anchor_days,
        |       CAST(sum(v.cents) AS BIGINT) AS cents,
        |       CAST(sum(v.n) AS BIGINT) AS n_values,
        |       round(CAST(sum(v.cents) AS DOUBLE) / sum(v.n) / 100, 4)
        |         AS mean_value
        |FROM anchors a JOIN dv v
        |  ON CAST(v.day AS DATE) BETWEEN CAST(a.day AS DATE) - 3
        |                             AND CAST(a.day AS DATE) + 3
        |GROUP BY 1 ORDER BY day_offset""".stripMargin) { (s, d) =>
      val ec = events(s, d)
        .where(col("event_type") === "error")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = ec.agg(sum(col("n")).as("s"), count(lit(1)).as("d"))
      val anchors = ec.crossJoin(broadcast(tot))
        .where(col("n") * col("d") > col("s"))
        .select(col("day").as("aday"))
      val dv = events(s, d)
        .where(col("value").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"),
          count(col("value")).as("n"))
      anchors.join(dv,
          datediff(col("day").cast("date"), col("aday").cast("date"))
            .between(-3, 3))
        .groupBy(datediff(col("day").cast("date"), col("aday").cast("date"))
          .cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_anchor_days"),
          sum(col("cents")).as("cents"),
          sum(col("n")).as("n_values"),
          round(sum(col("cents")).cast("double") / sum(col("n")) / 100, 4)
            .as("mean_value"))
        .orderBy("day_offset")
    },

    // ISO day-of-week profile (round 13, cont.): order count and
    // revenue by ISO weekday (1=Mon..7=Sun) — the staffing/capacity
    // baseline every ops dashboard opens with, and the weekday-grid
    // companion to etl_seasonality_strength. Dialect pin: Spark
    // weekday() is 0=Mon and DuckDB isodow is 1=Mon — the +1 shift is
    // applied on the Spark side so both engines emit the ISO
    // convention. Exact cents, bounded 7-row report with share
    // displays.
    Q("etl_dow_profile",
      """WITH o AS (
        |  SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS c
        |  FROM o
        |)
        |SELECT CAST(dow AS BIGINT) AS iso_dow,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |       round(CAST(count(*) AS DOUBLE) / max(tot.n), 6)
        |         AS order_share,
        |       round(CAST(sum(cents) AS DOUBLE) / max(tot.c), 6)
        |         AS revenue_share
        |FROM o CROSS JOIN tot
        |GROUP BY dow ORDER BY iso_dow""".stripMargin) { (s, d) =>
      val o = orders(s, d).select(
        (weekday(col("o_orderdate").cast("date")) + 1).as("dow"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tot = o.agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      o.crossJoin(broadcast(tot))
        .groupBy(col("dow").cast("long").as("iso_dow"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("revenue_cents"),
          round(count(lit(1)).cast("double") / max(col("n")), 6)
            .as("order_share"),
          round(sum(col("cents")).cast("double") / max(col("c")), 6)
            .as("revenue_share"))
        .orderBy("iso_dow")
    },

    // XYZ variability classification (round 13, cont.): parts bucketed
    // by the coefficient of variation of their MONTHLY demand (X < 0.5
    // steady, Y < 1 fluctuating, Z ≥ 1 erratic) + per-class rollup —
    // the second axis of the ABC×XYZ inventory-policy grid
    // (etl_abc_class ranks by value; XYZ says how FORECASTABLE each
    // part is, and an A-Z part is the planner's nightmare quadrant).
    // CV per part assembles from exact BIGINT monthly-quantity moments
    // (Σq, Σq² over the bounded month domain) in one fixed expression;
    // class compare is against exact-integer-derived doubles; bounded
    // 3-row rollup.
    Q("etl_xyz_class",
      """WITH m AS (
        |  SELECT l_partkey,
        |         CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mo,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2
        |), p AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS d,
        |         CAST(sum(q) AS BIGINT) AS s,
        |         CAST(sum(q * q) AS BIGINT) AS qq
        |  FROM m GROUP BY l_partkey
        |), c AS (
        |  SELECT l_partkey, d, s,
        |         CASE WHEN d < 2 OR s = 0 THEN 'Z'
        |              WHEN sqrt((CAST(qq AS DOUBLE) * d
        |                         - CAST(s AS DOUBLE) * s)
        |                        / (CAST(d AS DOUBLE) * (d - 1)))
        |                   / (CAST(s AS DOUBLE) / d) < 0.5 THEN 'X'
        |              WHEN sqrt((CAST(qq AS DOUBLE) * d
        |                         - CAST(s AS DOUBLE) * s)
        |                        / (CAST(d AS DOUBLE) * (d - 1)))
        |                   / (CAST(s AS DOUBLE) / d) < 1.0 THEN 'Y'
        |              ELSE 'Z' END AS xyz
        |  FROM p
        |)
        |SELECT xyz, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(s) AS BIGINT) AS total_qty,
        |       CAST(sum(d) AS BIGINT) AS part_months
        |FROM c GROUP BY xyz ORDER BY xyz""".stripMargin) { (s, d) =>
      val m = Tables(s, d, "lineitem")
        .groupBy(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("mo"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val p = m.groupBy("l_partkey")
        .agg(count(lit(1)).as("d"), sum(col("q")).as("s"),
          sum(col("q") * col("q")).as("qq"))
      val cv = sqrt((col("qq").cast("double") * col("d")
        - col("s").cast("double") * col("s"))
        / (col("d").cast("double") * (col("d") - 1)))
        ./(col("s").cast("double") / col("d"))
      val c = p.select(col("l_partkey"), col("d"), col("s"),
        when(col("d") < 2 || col("s") === 0, "Z")
          .when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").as("xyz"))
      c.groupBy("xyz")
        .agg(count(lit(1)).as("n_parts"), sum(col("s")).as("total_qty"),
          sum(col("d")).as("part_months"))
        .orderBy("xyz")
    },

    // Month-end revenue lift (round 13, cont.): share of each month's
    // revenue landing in the last 3 calendar days vs the uniform
    // expectation 3/days_in_month — the billing-cycle/quota-push
    // detector (a lift ≫ 1 means month-end stuffing; finance recognizes
    // it before auditors do). Exact cents; day-of-month arithmetic on
    // both engines' last_day(); one display division pair per month.
    Q("etl_month_end_lift",
      """WITH o AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         CASE WHEN CAST(o_orderdate AS DATE)
        |                   > last_day(CAST(o_orderdate AS DATE)) - 3
        |              THEN 1 ELSE 0 END AS is_tail,
        |         CAST(day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
        |           AS dim
        |  FROM orders
        |)
        |SELECT mo, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS month_cents,
        |       CAST(sum(CASE WHEN is_tail = 1 THEN cents ELSE 0 END)
        |            AS BIGINT) AS tail_cents,
        |       round(CAST(sum(CASE WHEN is_tail = 1 THEN cents ELSE 0 END)
        |                  AS DOUBLE) / sum(cents), 6) AS tail_share,
        |       floor(CAST(sum(CASE WHEN is_tail = 1 THEN cents ELSE 0 END)
        |                  AS DOUBLE) / sum(cents)
        |             / (3.0 / max(dim)) * 1000000) / 1000000 AS lift
        |FROM o GROUP BY mo ORDER BY mo""".stripMargin) { (s, d) =>
      val o = orders(s, d).select(
        date_trunc("month", col("o_orderdate")).as("mo"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderdate").cast("date") >
          date_sub(last_day(col("o_orderdate").cast("date")), 3), 1)
          .otherwise(0).as("is_tail"),
        dayofmonth(last_day(col("o_orderdate").cast("date"))).cast("long")
          .as("dim"))
      val tail = sum(when(col("is_tail") === 1, col("cents")).otherwise(0L))
      o.groupBy("mo")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("month_cents"),
          tail.as("tail_cents"),
          round(tail.cast("double") / sum(col("cents")), 6).as("tail_share"),
          (floor(tail.cast("double") / sum(col("cents"))
            / (lit(3.0) / max(col("dim"))) * 1000000) / 1000000).as("lift"))
        .orderBy("mo")
    },

    // Open-order backlog curve (round 13, cont.): per day, orders
    // placed, orders fully shipped, and the running count still open —
    // the WIP/backlog operator, computed as a SWEEP LINE: each order
    // contributes a +1 event at its order day and a −1 the day after
    // its LAST line ships, and the backlog is one cumulative sum over
    // the bounded day domain — never a day×open-orders join (the naive
    // "count orders where od ≤ day < close" is quadratic in the
    // window). Orders with no lineitems are excluded (they never
    // close — pinned rule). Exact integer deltas; the cumulative
    // window rides the ~2.4k-row day dimension.
    Q("etl_open_orders_curve",
      """WITH c AS (
        |  SELECT o_orderkey,
        |         CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS od,
        |         CAST(date_trunc('day', max(l_shipdate)) AS TIMESTAMP) AS sd
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2
        |), ev AS (
        |  SELECT od AS day, CAST(1 AS BIGINT) AS opened,
        |         CAST(0 AS BIGINT) AS closed
        |  FROM c
        |  UNION ALL
        |  SELECT sd + INTERVAL 1 DAY, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM c
        |), daily AS (
        |  SELECT day, CAST(sum(opened) AS BIGINT) AS opened,
        |         CAST(sum(closed) AS BIGINT) AS closed
        |  FROM ev GROUP BY day
        |)
        |SELECT day, opened, closed,
        |       CAST(sum(opened - closed) OVER (ORDER BY day
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_backlog
        |FROM daily ORDER BY day""".stripMargin) { (s, d) =>
      // both ± event branches read c — checkpoint so the fact join runs
      // once, not once per union branch (2 scans -> 1 at any SF)
      val c = orders(s, d)
        .join(Tables(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"),
          date_trunc("day", col("o_orderdate")).as("od"))
        .agg(date_trunc("day", max(col("l_shipdate"))).as("sd"))
        .localCheckpoint()
      val ev = c.select(col("od").as("day"), lit(1L).as("opened"),
          lit(0L).as("closed"))
        .unionByName(c.select(
          (col("sd") + expr("INTERVAL 1 DAY")).as("day"),
          lit(0L).as("opened"), lit(1L).as("closed")))
      val daily = ev.groupBy("day")
        .agg(sum(col("opened")).as("opened"), sum(col("closed")).as("closed"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("day"), col("opened"), col("closed"),
          sum(col("opened") - col("closed")).over(cum).as("open_backlog"))
        .orderBy("day")
    },

    // Open-order age snapshot (round 13, cont.): the orders still open
    // AT a fixed snapshot date (1996-07-01), bucketed by age and order
    // priority — the aging WIP view an ops review reads next to
    // etl_open_orders_curve's time series (the curve says HOW MANY are
    // open; the snapshot says HOW LONG they've been stuck and at what
    // priority — a 180-day URGENT order is the escalation list). Open
    // at snap ⇔ ordered on/before AND last line ships on/after; exact
    // integer day ages and bucket cuts; bounded priority × 4-bucket
    // report.
    Q("etl_open_age_snapshot",
      """WITH c AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(o_orderdate AS DATE) AS od,
        |         CAST(max(l_shipdate) AS DATE) AS sd
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2, 3
        |), open_o AS (
        |  SELECT o_orderpriority,
        |         date_diff('day', od, DATE '1996-07-01') AS age
        |  FROM c WHERE od <= DATE '1996-07-01' AND sd >= DATE '1996-07-01'
        |)
        |SELECT o_orderpriority,
        |       CASE WHEN age <= 30 THEN '0-30'
        |            WHEN age <= 90 THEN '31-90'
        |            WHEN age <= 180 THEN '91-180'
        |            ELSE '180+' END AS age_bucket,
        |       CAST(count(*) AS BIGINT) AS n_open,
        |       CAST(max(age) AS BIGINT) AS max_age_days
        |FROM open_o
        |GROUP BY 1, 2 ORDER BY o_orderpriority, age_bucket""".stripMargin) {
      (s, d) =>
      val snap = lit("1996-07-01").cast("date")
      val c = orders(s, d)
        .join(Tables(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("date").as("od"))
        .agg(max(col("l_shipdate")).cast("date").as("sd"))
      val open = c.where(col("od") <= snap && col("sd") >= snap)
        .select(col("o_orderpriority"), datediff(snap, col("od")).as("age"))
      open.groupBy(col("o_orderpriority"),
          when(col("age") <= 30, "0-30")
            .when(col("age") <= 90, "31-90")
            .when(col("age") <= 180, "91-180")
            .otherwise("180+").as("age_bucket"))
        .agg(count(lit(1)).as("n_open"),
          max(col("age")).cast("long").as("max_age_days"))
        .orderBy("o_orderpriority", "age_bucket")
    },

    // Monthly return rate (round 13, cont.): share of line items and of
    // revenue flagged returned (l_returnflag = 'R') per ship month —
    // the retail quality trend (a rising return-rate line is the
    // earliest demand-side defect signal; revenue-weighting catches
    // returns concentrating in expensive items that a count rate
    // hides). Exact BIGINT counts and cents; two display divisions per
    // month.
    Q("etl_return_rate_monthly",
      """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mo,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_returned,
        |       round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS return_rate,
        |       round(CAST(sum(CASE WHEN l_returnflag = 'R'
        |                          THEN CAST(round(l_extendedprice * 100)
        |                                    AS BIGINT) ELSE 0 END) AS DOUBLE)
        |             / sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 6)
        |         AS return_revenue_share
        |FROM lineitem GROUP BY 1 ORDER BY mo""".stripMargin) { (s, d) =>
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val ret = sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
      Tables(s, d, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("mo"))
        .agg(count(lit(1)).as("n_lines"), ret.as("n_returned"),
          round(ret.cast("double") / count(lit(1)), 6).as("return_rate"),
          round(sum(when(col("l_returnflag") === "R", cents).otherwise(0L))
            .cast("double") / sum(cents), 6).as("return_revenue_share"))
        .orderBy("mo")
    },

    // Value-segment migration (round 13, cont.): customers banded by
    // monthly spend (low < $200k, mid < $400k, high) and the
    // CONSECUTIVE-month transition matrix between bands — the CRM
    // movement view (etl_cohort_ltv says what a cohort is worth;
    // migration says which way individual wallets are MOVING, and the
    // low→high vs high→low flow asymmetry is the leading revenue
    // signal). Band cuts are exact-integer cent compares; consecutive
    // months pin via the integer month index (fn_month_arith
    // spelling); one customer-partitioned lag window; bounded 3×3
    // matrix report.
    Q("etl_segment_migration",
      """WITH m AS (
        |  SELECT o_custkey,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |              AS BIGINT) AS mi,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2
        |), b AS (
        |  SELECT o_custkey, mi,
        |         CASE WHEN cents < 20000000 THEN 'low'
        |              WHEN cents < 40000000 THEN 'mid'
        |              ELSE 'high' END AS band
        |  FROM m
        |), tr AS (
        |  SELECT band,
        |         lag(band) OVER w AS prev_band,
        |         mi, lag(mi) OVER w AS prev_mi
        |  FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY mi)
        |)
        |SELECT prev_band AS from_band, band AS to_band,
        |       CAST(count(*) AS BIGINT) AS n_transitions
        |FROM tr WHERE prev_mi = mi - 1
        |GROUP BY 1, 2 ORDER BY from_band, to_band""".stripMargin) { (s, d) =>
      val m = orders(s, d)
        .groupBy(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mi"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val b = m.select(col("o_custkey"), col("mi"),
        when(col("cents") < 20000000L, "low")
          .when(col("cents") < 40000000L, "mid")
          .otherwise("high").as("band"))
      val w = Window.partitionBy("o_custkey").orderBy("mi")
      b.select(col("band"),
          lag(col("band"), 1).over(w).as("prev_band"),
          col("mi"), lag(col("mi"), 1).over(w).as("prev_mi"))
        .where(col("prev_mi") === col("mi") - 1)
        .groupBy(col("prev_band").as("from_band"), col("band").as("to_band"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy("from_band", "to_band")
    }
  ) :+ resampleQ

  /** Daily churn/retention ledger over raw events — ONE definition shared
    * by the declared key (etl_churn_daily) and the published pipeline
    * table (config.Pipeline `churn_daily`, incrementally maintained by
    * runIncrementalChurn). One scan: the user-partitioned lag marks each
    * (user, day) new/retained, the daily groupBy folds the flags, and
    * churn is derived in AGGREGATE-land (yesterday's actives minus
    * today's retained) via a lag over the BOUNDED daily report. The
    * day-contiguity CASE guard keeps the ledger honest when a calendar
    * day has no activity. Returns (day, n_active, n_new, n_retained,
    * n_churned), unordered — callers sort.
    */
  def churnDaily(ev: DataFrame): DataFrame = {
    val act = ev
      .where(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val prev = lag(col("day"), 1)
      .over(Window.partitionBy("user_id").orderBy("day"))
    val daily = act.withColumn("prev", prev)
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_active"),
        count(when(col("prev").isNull, 1)).as("n_new"),
        count(when(col("prev") === date_sub(col("day"), 1), 1))
          .as("n_retained"))
    val wd = Window.orderBy("day")
    daily.withColumn("n_churned",
      when(lag(col("day"), 1).over(wd) === date_sub(col("day"), 1),
        lag(col("n_active"), 1).over(wd) - col("n_retained")))
  }

  // Daily churn/retention ledger as a declared key — see [[churnDaily]].
  // lazy: referenced from qs above its definition point
  private[operators] lazy val churnQ: Q = Q(
    "etl_churn_daily",
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events WHERE user_id IS NOT NULL
      |), f AS (
      |  SELECT day, lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM act
      |), daily AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_active,
      |         CAST(count(CASE WHEN prev IS NULL THEN 1 END) AS BIGINT) AS n_new,
      |         CAST(count(CASE WHEN prev = day - 1 THEN 1 END) AS BIGINT) AS n_retained
      |  FROM f GROUP BY day
      |)
      |SELECT day, n_active, n_new, n_retained,
      |       CASE WHEN lag(day) OVER (ORDER BY day) = day - 1
      |            THEN lag(n_active) OVER (ORDER BY day) - n_retained
      |       END AS n_churned
      |FROM daily ORDER BY day""".stripMargin) { (s, d) =>
    churnDaily(events(s, d)).orderBy("day")
  }

  /** Gap-filled daily resample with forward fill (R4/R11: continuous
    * per-user indicator series from sparse events — "carry the last
    * reading forward"). The fill is the PORTABLE gaps-and-islands form
    * (count-of-observed marks the island, first_value inside it carries
    * the reading) rather than `last_value IGNORE NULLS`, so the DuckDB
    * twin states the identical semantics. Scale: the grid explodes from
    * per-user (min,max) bounds — one row per user-day, never a cross
    * join — and every window shares the user_id partitioning.
    */
  // lazy: referenced from qs above its definition point
  private[operators] lazy val resampleQ: Q = Q(
    "etl_resample_ffill",
    """WITH obs AS (
      |  SELECT user_id, day, value FROM (
      |    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |           value,
      |           row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      |  FROM (SELECT user_id,
      |          min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS mn,
      |          max(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS mx
      |        FROM events GROUP BY user_id)
      |), joined AS (
      |  SELECT g.user_id, g.day, o.value,
      |         count(o.value) OVER (PARTITION BY g.user_id ORDER BY g.day) AS grp
      |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
      |)
      |SELECT user_id, day,
      |       round(first_value(value) OVER (PARTITION BY user_id, grp
      |                                      ORDER BY day), 2) AS value_ffill,
      |       CAST(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS INT)
      |         AS is_observed
      |FROM joined ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val dayCol = date_trunc("day", col("ts"))
    val obs = ev
      .withColumn("day", dayCol)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1)
      .select("user_id", "day", "value")
    // grid bounds come from obs (already one row per user-day), not from
    // a second scan of the events table — obs's min/max day per user is
    // identical and halves the base-table I/O
    val grid = obs
      .groupBy("user_id")
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 DAY"))).as("day"))
    val byDay = Window.partitionBy("user_id").orderBy("day")
    val joined = grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("grp", count(col("value")).over(byDay))
    joined
      .withColumn("value_ffill",
        round(first(col("value")).over(
          Window.partitionBy("user_id", "grp").orderBy("day")), 2))
      .select(
        col("user_id"), col("day"), col("value_ffill"),
        col("value").isNotNull.cast("int").as("is_observed"))
      .orderBy("user_id", "day")
  }

  /** SCD Type-2 history build over any events-shaped frame (the declared
    * etl_scd2 plan, minus its output ordering) — factored out so
    * LawsProps can drive it with generated streams. */
  def scd2(ev: DataFrame): DataFrame =
    ev.withColumn("prev_state", lag(col("event_type"), 1).over(byUserTime))
      .where(!(col("prev_state") <=> col("event_type")))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUserTime))
      .select(
        col("user_id"),
        col("event_id").as("version_id"),
        col("event_type").as("state"),
        col("ts").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"))
}

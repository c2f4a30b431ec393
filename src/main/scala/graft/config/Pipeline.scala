package graft.config

import graft.operators.Etl
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{KllFunctions, KmvFunctions}

/** One config-driven ETL RUN — the reference platform's scheduled-pipeline
  * analog (R6–R9: fetch the configured window, rebuild the aggregate
  * tables, publish them to the warehouse/lake). `graft`'s run is:
  *
  *   RunConfig (table subset + date window + predicates, R12)
  *     → windowed `events` scan (filters pushed to parquet)
  *     → the standard aggregate DAG: sessions (R3) → monthly usage (R4)
  *       → user lifetime (R5)
  *     → manifested tables under `outDir/<table>/` (R2's warehouse-table
  *       analog; calendar tables keep one `__part=` state dir per month or
  *       day, so month-range readers prune at listing time)
  *
  * Re-runs REBUILD each table — the reference rebuilds its aggregate
  * tables per run, and idempotent rebuild beats incremental mutation for
  * a lake (PipelineSpec pins rerun-idempotence). Every table lands
  * through [[LakeCommit]]: state tables as a whole-table generation
  * ([[Sources.publishVersion]]), calendar tables one generation per
  * touched partition ([[Sources.publishPartitions]]). A reader sees each
  * table, or each partition, wholly old or wholly new, and a commit
  * never overwrites the files its input frame reads, so no maintainer
  * needs a materialization barrier. Calendar partitioning is append-only:
  * a rebuild replaces the partitions it produces and leaves absent ones
  * in place. At 100 TB each stage is the already-audited operator plan
  * (one user_id exchange feeds both the session and monthly
  * aggregates). Sessions use the skew-safe two-level plan: a
  * config-selected window over real traffic is exactly where Zipfian hot
  * users live.
  */
object Pipeline {

  final case class TableResult(table: String, rows: Long, path: String)

  /** The only value of the trailing `io` argument of [[run]], the
    * maintainers and [[reachOverlap]]. It selects nothing: every table
    * lands through [[LakeCommit]]. The argument is kept only so that call
    * sites that pass it, such as `run(spark, cfg, dir, ManifestedIO)`,
    * still compile. */
  case object ManifestedIO

  /** Publish `df` as the table at `path`: one generation per `partitionCol`
    * value, or one whole-table generation. The row count rides the write
    * pass through `observe`. */
  private[graft] def publish(
      df: DataFrame, partitionCol: Option[String], path: String): TableResult = {
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation(s"publish_${path.split('/').last}")
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    partitionCol match {
      case Some(c) => Sources.publishPartitions(spark, path, observed, c)
      case None => Sources.publishVersion(spark, path, observed)
    }
    TableResult(path.split('/').last, obs.get("rows").asInstanceOf[Long], path)
  }

  def run(spark: SparkSession, cfg: RunConfig, outDir: String,
      io: ManifestedIO.type = ManifestedIO): Seq[TableResult] = {
    require(cfg.tables.contains("events"),
      "Pipeline.run: the aggregate DAG is built from 'events'; select it in RunConfig")
    val ev = cfg.table(spark, "events")
      // one materialization feeds three aggregate builds
      .persist()
    try {
      val sessions = Etl.sessionSummaries(Etl.sessionizedScalable(ev))
      val monthly = Etl.monthlyUsage(ev)
      // lifetime state is pure mergeable aggregates: min/max/count are
      // monoids, and (round 5) the per-user VALUE MEDIAN rides a KLL
      // sketch — the published `value_kll` column is the state future
      // incremental runs merge, `p50_value` its decoded indicator. Before
      // KLL, any lifetime median needed a full event-history rescan.
      val lifetime = ev
        .groupBy(col("user_id"))
        .agg(
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_events"),
          KllFunctions.kllSketch(col("value")).as("value_kll"))
        .withColumn("p50_value",
          KllFunctions.kllQuantile(col("value_kll"), lit(0.5)))

      Seq(
        publish(sessions.withColumn("month", date_trunc("month", col("session_start"))),
          Some("month"), s"$outDir/sessions"),
        publish(monthly, Some("month"), s"$outDir/monthly_usage"),
        publish(lifetime, None, s"$outDir/user_lifetime"),
        // round-5 continuation: the daily churn/retention ledger joins
        // the lake (same one-definition rule — Etl.churnDaily is the
        // declared etl_churn_daily key)
        publish(Etl.churnDaily(ev), Some("day"), s"$outDir/churn_daily"),
        // round-7 continuation: per-type audience-reach KMV sketches —
        // the FIFTH incrementally-maintained table, and the first whose
        // state enables cross-row set algebra at read time (pairwise
        // audience overlap via reachOverlap) that no scalar aggregate
        // state could answer
        publish(typeReach(ev), None, s"$outDir/type_reach"))
    } finally ev.unpersist()
  }

  /** Per-type audience reach: a mergeable KMV sketch of distinct users
    * plus its decoded estimate. FastHash (production mode — nothing here
    * is oracle-compared; ApproxSpec/SketchLawsProps own the estimator). */
  private[graft] def typeReach(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(KmvFunctions.kmvSketch(
        graft.functions.FastHash.hash(col("user_id").cast("string")))
        .as("reach_kmv"))
      .withColumn("users_est",
        KmvFunctions.kmvEstimate(col("reach_kmv")))

  /** Incremental maintenance of `type_reach`: union the batch sketch into
    * the published one. KMV union is k-smallest-of-unions — associative,
    * commutative, idempotent-on-re-ingest only at the VALUE level (a
    * replayed batch adds no new hash values), and bit-equal to the
    * one-pass sketch (SketchLawsProps), so the incremental table is
    * EXACTLY the full rebuild, not an approximation of it. */
  def runIncrementalReach(
      spark: SparkSession, cfg: RunConfig, outDir: String,
      batchStart: String, io: ManifestedIO.type = ManifestedIO): TableResult = {
    val path = s"$outDir/type_reach"
    val prior = readTableCurrent(spark, outDir, "type_reach")
    val batch = typeReach(
      cfg.copy(startDate = None).table(spark, "events")
        .where(col("ts") >= lit(batchStart).cast("timestamp")))
      .select(col("event_type"), col("reach_kmv").as("b_kmv"))
    val merged = prior
      .join(batch, Seq("event_type"), "full_outer")
      .select(
        col("event_type"),
        when(col("reach_kmv").isNull, col("b_kmv"))
          .when(col("b_kmv").isNull, col("reach_kmv"))
          .otherwise(KmvFunctions.kmvUnionPair(col("reach_kmv"), col("b_kmv")))
          .as("reach_kmv"))
      .withColumn("users_est",
        KmvFunctions.kmvEstimate(col("reach_kmv")))
    publish(merged, None, path)
    TableResult("type_reach", readTableCurrent(spark, outDir, "type_reach").count(), path)
  }

  /** Read-time set algebra over the published sketches: pairwise audience
    * overlap estimates — the query the KMV state exists to answer without
    * rescanning history. */
  def reachOverlap(spark: SparkSession, outDir: String,
      io: ManifestedIO.type = ManifestedIO): DataFrame = {
    val t = readTableCurrent(spark, outDir, "type_reach")
    val a = t.select(col("event_type").as("t1"), col("reach_kmv").as("ka"),
      col("users_est").as("est1"))
    val b = t.select(col("event_type").as("t2"), col("reach_kmv").as("kb"),
      col("users_est").as("est2"))
    a.join(b, col("t1") < col("t2"))
      .select(col("t1"), col("t2"), col("est1"), col("est2"),
        KmvFunctions.kmvIntersectEst(col("ka"), col("kb")).as("overlap_est"))
      .orderBy("t1", "t2")
  }

  /** Incremental maintenance of the published `monthly_usage` table for an
    * append-only event stream (R9: per-run delta loads) — recompute ONLY
    * the months the new batch touches and commit ONLY those partitions
    * (untouched months keep their generation and files).
    *
    * Exactness under the session gap rule: a month's `n_sessions` counts
    * sessions STARTING in it, and whether the month's first per-user event
    * starts a session depends on at most the previous
    * [[Etl.SessionGapMinutes]] of history — so recomputing from a window
    * that starts that far before the earliest affected month is EXACTLY
    * the full rebuild for those months (an event older than the gap
    * cannot suppress a start; appends cannot change earlier months at
    * all). PipelineSpec pins equality with a full rebuild around a random
    * split and that untouched partitions keep their generation.
    *
    * The driver-side `collect` is the affected-MONTH list (bounded by the
    * calendar, not the data). At 100 TB this is the nightly delta-load
    * plan: one pushdown-filtered scan of [lookback, end), one shuffle per
    * aggregate, and a partition-scoped commit.
    */
  def runIncrementalMonthly(
      spark: SparkSession, cfg: RunConfig, outDir: String,
      batchStart: String, io: ManifestedIO.type = ManifestedIO): TableResult = {
    val path = s"$outDir/monthly_usage"
    // The cfg's startDate is STRIPPED for the recompute scan: a caller
    // passing startDate = batchStart (the natural delta-load config)
    // would otherwise clip the scan below the lookback and the affected
    // months would be rebuilt from batch-only events — silently wrong
    // counts. The batch boundary is `batchStart`; cfg.endDate still caps
    // the data end; exactness needs the scan to reach lookbackStart.
    val ev = cfg.copy(startDate = None).table(spark, "events")
    val affected = ev
      .where(col("ts") >= lit(batchStart).cast("timestamp"))
      .select(date_trunc("month", col("ts")).as("m")).distinct()
      .collect().map(_.getTimestamp(0))
    if (affected.isEmpty)
      return TableResult("monthly_usage", 0L, path)
    val lookbackStart = new java.sql.Timestamp(
      affected.map(_.getTime).min - Etl.SessionGapMinutes * 60L * 1000L)
    val recomputed = Etl.monthlyUsage(ev.where(col("ts") >= lit(lookbackStart)))
      .where(col("month").isin(affected.toSeq: _*))
    Sources.publishPartitions(spark, path, recomputed, "month")
    TableResult("monthly_usage",
      readTableCurrent(spark, outDir, "monthly_usage").count(), path)
  }

  /** Batch-local session summaries: sessionize the batch ALONE (skew-safe
    * plan) and reduce to one row per (user, local session id).
    */
  private[graft] def batchSessionSummaries(batchEvents: DataFrame): DataFrame =
    Etl.sessionizedScalable(batchEvents)
      .groupBy(col("user_id"), col("session_id").as("b_sid"))
      .agg(min(col("ts")).as("b_start"), max(col("ts")).as("b_end"),
        count(lit(1)).as("b_n"))

  /** The pure state merge (see [[runIncrementalSessions]] for the
    * exactness argument): bridge each user's FIRST batch session onto
    * their published tail under the strict gap rule, renumber the rest,
    * and return the CHANGED session rows (merged tails + new sessions).
    * Exposed for ScaleSmoke, which measures it against a full rebuild at
    * 60M-event scale on in-memory frames.
    */
  private[graft] def mergeSessions(
      prior: DataFrame, batchSessions: DataFrame): DataFrame = {
    val gap = expr(s"INTERVAL ${Etl.SessionGapMinutes} MINUTES")
    // each user's published tail: the only mergeable session
    val lastPrior = prior
      .groupBy("user_id").agg(max("session_id").as("last_sid"))
      .join(prior.select(col("user_id"), col("session_id").as("last_sid"),
        col("session_start").as("last_start"), col("session_end").as("last_end"),
        col("n_events").as("last_n")), Seq("user_id", "last_sid"))
    val perUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val bridged1 = col("b_sid") === 1 && col("user_bridge") === 1
    batchSessions
      .join(lastPrior, Seq("user_id"), "left")
      .withColumn("user_bridge",
        max(when(col("b_sid") === 1 && col("last_end").isNotNull &&
          col("b_start") <= col("last_end") + gap, 1L).otherwise(0L))
          .over(perUser))
      .select(
        col("user_id"),
        (coalesce(col("last_sid"), lit(0L)) + col("b_sid") - col("user_bridge"))
          .as("session_id"),
        when(bridged1, col("last_start")).otherwise(col("b_start"))
          .as("session_start"),
        col("b_end").as("session_end"),
        (when(bridged1, col("last_n")).otherwise(lit(0L)) + col("b_n"))
          .as("n_events"))
  }

  /** Incremental maintenance of the published `sessions` table — a true
    * STATE MERGE, not a recompute: no pre-batch event is ever rescanned.
    * Append-only exactness argument: batch events all have
    * ts ≥ batchStart > every published event, so the ONLY published
    * session new events can extend is each user's temporally-last one
    * (highest session_id). Sessionize the batch alone; the user's first
    * batch session continues that last session iff its first event is
    * within [[Etl.SessionGapMinutes]] of the published session_end (the
    * same strict-gap rule, so ids/rows equal the full rebuild exactly —
    * PipelineSpec pins equality around a boundary-crossing session);
    * later batch sessions can never bridge (their preceding gap was
    * already judged > gap within the batch). Global ids are
    * last_sid + batch_sid − bridge.
    *
    * Only partitions holding a changed row (a bridged session keeps its
    * OLD start month — that partition is rewritten; new sessions land in
    * their own months) are republished; the new partition content is
    * published-minus-replaced-plus-changed. At 100 TB the cost is one
    * batch scan + one pass over the published SESSIONS table (to find
    * each user's tail) — the raw event
    * history is never rescanned, and the sessions table is orders of
    * magnitude smaller than the event stream it summarizes. ScaleSmoke
    * measures the merge at 5× cheaper than the full rebuild on a 60M-event
    * history + 1M-event batch.
    */
  def runIncrementalSessions(
      spark: SparkSession, cfg: RunConfig, outDir: String,
      batchStart: String, io: ManifestedIO.type = ManifestedIO): TableResult = {
    val path = s"$outDir/sessions"
    val prior = readTableCurrent(spark, outDir, "sessions")
      .select("user_id", "session_id", "session_start", "session_end", "n_events")
    val batch = cfg.copy(startDate = None).table(spark, "events")
      .where(col("ts") >= lit(batchStart).cast("timestamp"))
    val batchSessions = batchSessionSummaries(batch)
    if (batchSessions.isEmpty)
      return TableResult("sessions", readTableCurrent(spark, outDir, "sessions").count(), path)
    val changed = mergeSessions(prior, batchSessions)
    val monthOf = date_trunc("month", col("session_start"))
    val affected = changed.select(monthOf.as("m")).distinct()
      .collect().map(_.getTimestamp(0)).toSeq
    // published rows of the affected months, minus the rows a merged
    // session replaces (same (user_id, session_id) key), plus the changes
    val content = prior
      .where(monthOf.isin(affected: _*))
      .join(changed.select("user_id", "session_id"),
        Seq("user_id", "session_id"), "left_anti")
      .unionByName(changed)
      .withColumn("month", monthOf)
    Sources.publishPartitions(spark, path, content, "month")
    TableResult("sessions", readTableCurrent(spark, outDir, "sessions").count(), path)
  }

  /** Incremental maintenance of the published `user_lifetime` table: pure
    * mergeable-state combine — min/max/count are commutative monoids, and
    * (round 5) the median indicator merges too: the batch's per-user KLL
    * sketch row-wise-merges into the published `value_kll` state
    * ([[org.apache.spark.sql.graft.KllMergePair]] inside the same
    * full-outer join — zero extra shuffle) and `p50_value` is re-decoded
    * from the merged sketch. No event history rescan for ANY lifetime
    * indicator, including the one that used to require exact recompute —
    * exactly the HLL-style partial-aggregate posture. The table is one
    * row per user (unpartitioned); the merged frame is published as its
    * next generation.
    */
  def runIncrementalLifetime(
      spark: SparkSession, cfg: RunConfig, outDir: String,
      batchStart: String, io: ManifestedIO.type = ManifestedIO): TableResult = {
    val path = s"$outDir/user_lifetime"
    val prior = readTableCurrent(spark, outDir, "user_lifetime")
    val batch = cfg.copy(startDate = None).table(spark, "events")
      .where(col("ts") >= lit(batchStart).cast("timestamp"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("b_first"), max(col("ts")).as("b_last"),
        count(lit(1)).as("b_n"),
        KllFunctions.kllSketch(col("value")).as("b_kll"))
    val merged = prior
      .join(batch, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        least(col("first_ts"), col("b_first")).as("first_ts"), // least/greatest skip nulls
        greatest(col("last_ts"), col("b_last")).as("last_ts"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("b_n"), lit(0L)))
          .as("n_events"),
        KllFunctions.kllMergePair(col("value_kll"), col("b_kll"))
          .as("value_kll"))
      .withColumn("p50_value",
        KllFunctions.kllQuantile(col("value_kll"), lit(0.5)))
    publish(merged, None, path)
    TableResult("user_lifetime",
      readTableCurrent(spark, outDir, "user_lifetime").count(), path)
  }

  /** Incremental maintenance of the published `churn_daily` ledger
    * (round-5 continuation — the FOURTH incrementally-maintained lake
    * table). Exactness argument, mirroring runIncrementalMonthly's
    * lookback: a ledger row for day d depends on (a) activity of days
    * d−1 and d — covered exactly by re-reading raw events from ONE day
    * before the first affected day — and (b) whether each active user is
    * brand new, which no bounded lookback can answer. (b) comes from
    * STATE instead: the published `user_lifetime` first_ts, folded with
    * the window's own first sighting via a null-skipping `least`, equals
    * the all-history first day. The fold is idempotent, so it is correct
    * whether runIncrementalLifetime has already absorbed this batch or
    * not — the two incremental runs can execute in either order.
    * Appends cannot change ledger rows before the batch day (activity is
    * append-monotone and day(batch) ≥ batch day), so only partitions
    * ≥ day(batchStart) are recomputed and republished; untouched day
    * partitions keep their generation and files (PipelineSpec pins
    * equality with the full rebuild and the untouched-partition law).
    */
  def runIncrementalChurn(
      spark: SparkSession, cfg: RunConfig, outDir: String,
      batchStart: String, io: ManifestedIO.type = ManifestedIO): TableResult = {
    val path = s"$outDir/churn_daily"
    val startDay = java.time.LocalDate.parse(batchStart.take(10))
    val lookback =
      java.sql.Timestamp.valueOf(startDay.minusDays(1).atStartOfDay())
    val ev = cfg.copy(startDate = None).table(spark, "events")
    // empty-batch early return (the runIncrementalMonthly posture): a
    // heartbeat batch with no events past batchStart must not pay the
    // lookback scan + state join + overwrite machinery
    if (ev.where(col("ts") >= lit(batchStart).cast("timestamp")).isEmpty)
      return TableResult("churn_daily", 0L, path)
    val win = ev
      .where(col("ts") >= lit(lookback))
      .where(col("user_id").isNotNull)
    val act = win
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    // all-history first day per window user: published lifetime state ∧
    // the window's own min (least skips the null side for new users)
    val priorFirst = readTableCurrent(spark, outDir, "user_lifetime")
      .select(col("user_id"), to_date(col("first_ts")).as("pf"))
    val first = act.groupBy("user_id").agg(min(col("day")).as("wf"))
      .join(priorFirst, Seq("user_id"), "left")
      .select(col("user_id"), least(col("wf"), col("pf")).as("first_day"))
    val prev = lag(col("day"), 1)
      .over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day"))
    // daily fold over the WHOLE window (the day-1 row feeds the churn
    // lag, then falls out of the published range below)
    val daily = act.join(first, Seq("user_id"))
      .withColumn("prev", prev)
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_active"),
        count(when(col("day") === col("first_day"), 1)).as("n_new"),
        count(when(col("prev") === date_sub(col("day"), 1), 1))
          .as("n_retained"))
    val wd = org.apache.spark.sql.expressions.Window.orderBy("day")
    val ledger = daily
      .withColumn("n_churned",
        when(lag(col("day"), 1).over(wd) === date_sub(col("day"), 1),
          lag(col("n_active"), 1).over(wd) - col("n_retained")))
      .where(col("day") >= lit(java.sql.Date.valueOf(startDay)))
    Sources.publishPartitions(spark, path, ledger, "day")
    TableResult("churn_daily", readTableCurrent(spark, outDir, "churn_daily").count(), path)
  }

  /** Current-version reader for the published tables. A table-level
    * manifest means the whole-table layout; otherwise the partition-level
    * one, where a `month` filter prunes at LISTING time (the unwanted
    * partitions never reach a scan); the residual `where` keeps the
    * row-level contract identical across layouts. */
  def readTableCurrent(spark: SparkSession, outDir: String, table: String,
      month: Option[String] = None): DataFrame = {
    val path = s"$outDir/$table"
    val base = LakeCommit.currentGen(path, Sources.ManifestTable) match {
      case Some(gen) => spark.read.parquet(gen)
      case None =>
        // partition dir values are the cast-to-string timestamp images
        Sources.readCurrentPartitions(spark, path,
          month.map(m => Seq(if (m.length == 10) s"$m 00:00:00" else m)))
    }
    month.fold(base)(m => base.where(col("month") === lit(m).cast("timestamp")))
  }
}

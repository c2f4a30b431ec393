package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** §2.J Structured Streaming jobs (SURVEY.md). The reference is pure batch;
  * these are the streaming twins of the batch operators, authored as
  * DataFrame→DataFrame transforms so the SAME code runs over
  * `spark.read` (batch, oracle-checked via the batch twins) and
  * `spark.readStream` (tested with MemoryStream in StreamingSpec).
  *
  * State design for 100 TB streams: every stateful op is bounded —
  * watermarks evict window/dedup state; the funnel state machine stores a
  * fixed-size record per user and expires via processing-time timeout.
  */
object Streaming {

  /** Per-1h-window event counts (twin of batch `win_tumbling_batch`). */
  def tumblingCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))

  /** 1h windows sliding every 15m. */
  def slidingCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Stream-static dimension enrichment (round 5): the join every
    * streaming ingest runs — events against a slowly-changing user/dim
    * table. The static side carries an explicit broadcast hint (a stream
    * side can never be build-side, and a dim small enough to enrich a
    * stream should never force a per-microbatch shuffle of the stream);
    * stateless, so no watermark is needed and every micro-batch pays
    * exactly one map-side probe.
    */
  def enrichWithDim(dim: DataFrame)(ev: DataFrame): DataFrame =
    ev.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows, 30-minute gap (streaming twin of etl_sessionize). */
  def sessionCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Watermarked tumbling agg: events later than 2h behind max(ts) drop. */
  def watermarkedCounts(ev: DataFrame): DataFrame =
    tumblingCounts(ev.withWatermark("ts", "2 hours"))

  /** Exactly-once-ish dedup by event_id within the watermark horizon. */
  def dedupWithinWatermark(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup (the ingest-time twin of llm_exact_dedup): a
    * stream of (doc_id, ts, text) keeps only the first arrival of each
    * normalized-content hash within the watermark horizon. State is one
    * full 128-bit md5 per distinct document seen inside the horizon —
    * O(distinct docs in window), never O(stream) — which is what lets a
    * pretraining ingest stream self-dedup at 100 TB without a batch join.
    * The key is the FULL md5 (matching the batch twin llm_exact_dedup),
    * not the 60-bit PortableHash: at billions of distinct docs a 60-bit
    * key reaches ~50% birthday-collision odds around 1.2B docs and every
    * collision silently drops a non-duplicate document; 128 bits keeps
    * that negligible at any realistic corpus size.
    */
  def contentDedupWithinWatermark(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    docs
      .withColumn("content_hash", md5(
        graft.functions.TextNorm.normText(col("text"))))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Stream-stream join (closes the last §2.J surface gap, round 5):
    * attribute each purchase to the same user's views in the preceding 30
    * minutes. BOTH sides carry watermarks and the join condition bounds
    * event time in BOTH directions, so Spark can derive a state-eviction
    * horizon for each side — per-side join state is O(events inside
    * range + watermark), never O(stream). That bounded-state shape is the
    * only stream-stream join that survives a 100 TB/day firehose.
    * `joinType="left_outer"` additionally emits unmatched views (with
    * NULL purchase columns) once the watermark passes their window — the
    * streaming twin of the batch attribution left join.
    *
    * Same code runs over static frames; StreamingSpec pins stream ==
    * batch for both join types.
    */
  def viewPurchaseJoin(
      views: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views.select(
        col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.select(
        col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
  }

  /** Streaming CDC materialization (round 5) — the streaming twin of the
    * batch `etl_cdc_apply` key: keep each key's winning version under the
    * SAME lexicographic (seq, op, payload) rule (real changelogs are
    * at-least-once; the total tuple order makes seq ties deterministic),
    * emitting a key's current winner whenever a micro-batch changes it
    * (Update mode). State is one fixed-size tuple per LIVE key plus
    * tombstoned keys inside a 1-hour redelivery horizon: a 'D' winner
    * arms a processing-time timeout and the key's state is evicted when
    * it fires (by then no late at-least-once redelivery can outrank the
    * tombstone), so key churn cannot accrete dead state — without the
    * eviction a 100 TB/day insert-then-delete workload would hold every
    * key ever created. Downstream treats op='D' as a retraction, exactly
    * as the batch fold's tombstone filter. StreamingSpec pins stream ==
    * the batch max(struct) fold on replayed changelogs.
    */
  case class CdcEvent(key: Long, seq: Long, op: String, value: Double)

  private implicit val cdcWinnerOrder: Ordering[CdcEvent] =
    Ordering.by((e: CdcEvent) => (e.seq, e.op, e.value))

  /** The per-group fold — factored out so the timeout/eviction branches
    * are directly unit-testable via `TestGroupState` (the live streaming
    * harness can't drive processing-time timers deterministically).
    */
  private[graft] def cdcFoldGroup(
      evict: Boolean)(
      key: Long, evs: Iterator[CdcEvent], st: GroupState[CdcEvent])
      : Iterator[CdcEvent] = {
    if (st.hasTimedOut) { // tombstone aged past the redelivery horizon
      st.remove(); Iterator.empty
    } else {
      val w = (evs ++ st.getOption.iterator).max
      val changed = !st.getOption.contains(w)
      if (changed) st.update(w)
      // Spark clears a group's timeout on every invocation, so a
      // tombstone winner re-arms it EVERY time (even on a redundant
      // redelivery that changes nothing) — live keys never expire,
      // dead keys always do
      if (evict && w.op == "D") st.setTimeoutDuration("1 hour")
      if (changed) Iterator.single(w) else Iterator.empty
    }
  }

  /** `evict = true` (the production default) arms processing-time
    * eviction of tombstoned keys. Note the engine behavior it buys into:
    * with processing-time timeouts Spark keeps scheduling micro-batches
    * to service timers, so a MemoryStream test harness never quiesces —
    * StreamingSpec therefore runs the parity replay with `evict = false`
    * and pins the eviction branches through `TestGroupState` instead.
    */
  def cdcApply(
      chg: Dataset[CdcEvent], evict: Boolean = true): Dataset[CdcEvent] = {
    import chg.sparkSession.implicits._
    val timeout =
      if (evict) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    chg.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), timeout)(cdcFoldGroup(evict))
  }

  /** Streaming twin of the etl_clamped_ledger declared key — the
    * NON-ASSOCIATIVE clamped running balance as a mapGroupsWithState
    * fold: state is ONE (balance, clamps, n) record per user however
    * long the history (the batch form, `Etl.clampedLedgerScan`, streams
    * each user's sorted run; the stream form is O(users) state at any
    * history length). Within a micro-batch events fold in
    * (tsMicros, event_id) order; cross-batch order is arrival order —
    * the standard at-least-once streaming contract (StreamingSpec feeds
    * time-ordered batches and pins stream == driver-side reference).
    */
  case class LedgerEvent(
      user_id: Long, tsMicros: Long, event_id: Long, deltaCents: Long)
  case class LedgerState(bal: Long, clamps: Long, n: Long)
  case class LedgerRow(
      user_id: Long, balance_cents: Long, n_clamps: Long, n_events: Long)

  def clampedLedger(ev: Dataset[LedgerEvent]): Dataset[LedgerRow] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[LedgerEvent],
            state: GroupState[LedgerState]) =>
          val s0 = state.getOption.getOrElse(LedgerState(0L, 0L, 0L))
          val s = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            .foldLeft(s0) { (a, e) =>
              val nb = a.bal + e.deltaCents
              LedgerState(math.max(0L, nb),
                a.clamps + (if (nb < 0) 1L else 0L), a.n + 1L)
            }
          state.update(s)
          LedgerRow(user, s.bal, s.clamps, s.n)
      }
  }

  /** Streaming twin of the batch etl_new_vs_returning split (round 8,
    * cont. 6): emit one (user, day, is_new) row the first time each
    * (user, day) is observed, with is_new = the user has never been seen
    * on an earlier day. State = TWO ints per user (first/last observed
    * epoch day) — O(users) whatever the history length, the same
    * unbounded-history dial as [[clampedLedger]]. Like the batch key's
    * min(day) definition this assumes day-ordered arrival per user
    * (StreamingSpec feeds time-ordered batches and pins stream ==
    * batch); a late earlier-day event after the user was already emitted
    * would need watermark-scoped reconciliation — the documented
    * streaming contract.
    */
  case class UserDayEvent(user_id: Long, epochDay: Int)
  case class NvrState(firstDay: Int, lastDay: Int)
  case class NvrRow(user_id: Long, epoch_day: Int, is_new: Boolean)

  def newVsReturning(ev: Dataset[UserDayEvent]): Dataset[NvrRow] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[UserDayEvent],
            state: GroupState[NvrState]) =>
          val days = events.map(_.epochDay).toSeq.distinct.sorted
          val s0 = state.getOption
            .getOrElse(NvrState(Int.MaxValue, Int.MinValue))
          var first = s0.firstDay
          val out = days.filter(_ > s0.lastDay).map { d =>
            if (d < first) first = d
            NvrRow(user, d, d == first)
          }
          if (days.nonEmpty)
            state.update(NvrState(first, math.max(s0.lastDay, days.max)))
          out.iterator
      }
  }

  /** Custom per-user state machine: signup→purchase funnel. Emits one row
    * per user on their first post-signup purchase (conversion), carrying
    * the lag between the two. State is one small record per user with a
    * 1h idle timeout, so state size is O(active users), not O(events).
    */
  case class FunnelEvent(user_id: Long, event_type: String, tsMicros: Long)
  case class FunnelState(signupTs: Long)
  case class Conversion(user_id: Long, signup_ts: Long, purchase_ts: Long, lag_s: Long)

  def funnel(ev: Dataset[FunnelEvent]): Dataset[Conversion] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (user: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer[Conversion]()
            events.toSeq.sortBy(e => (e.tsMicros, e.event_type)).foreach { e =>
              e.event_type match {
                case "signup" if !state.exists =>
                  state.update(FunnelState(e.tsMicros))
                  state.setTimeoutDuration("1 hour")
                case "purchase" if state.exists =>
                  val s = state.get
                  out += Conversion(
                    user, s.signupTs, e.tsMicros, (e.tsMicros - s.signupTs) / 1000000L)
                  state.remove()
                case _ =>
              }
            }
            out.iterator
          }
      }
  }

  /** Spark 4-native twin of [[funnel]] on the `transformWithState` API
    * (arbitrary-state v2): explicit named `ValueState` per user instead of
    * a whole-group state object. Requires the RocksDB state store provider
    * when run as a stream (see StreamingSpec). At scale, run with
    * `TimeMode.ProcessingTime` + a `TTLConfig` duration to bound state —
    * with `TimeMode.None` (as tested) state eviction is the caller's job.
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FunnelEvent, Conversion] {
    @transient private var signupTs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // TTL would bound state at scale (needs TimeMode.ProcessingTime);
      // kept NONE here so the MemoryStream test runs in TimeMode.None.
      signupTs = getHandle.getValueState[Long](
        "signupTs", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long, events: Iterator[FunnelEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Conversion] = {
      val out = scala.collection.mutable.ArrayBuffer[Conversion]()
      events.toSeq.sortBy(e => (e.tsMicros, e.event_type)).foreach { e =>
        e.event_type match {
          case "signup" if !signupTs.exists() =>
            signupTs.update(e.tsMicros)
          case "purchase" if signupTs.exists() =>
            val s = signupTs.get()
            out += Conversion(user, s, e.tsMicros, (e.tsMicros - s) / 1000000L)
            signupTs.clear()
          case _ =>
        }
      }
      out.iterator
    }
  }

  def funnelV2(ev: Dataset[FunnelEvent]): Dataset[Conversion] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Append stream → partitioned parquet with checkpoint (recovery-safe). */
  def sinkParquet(ev: DataFrame, outDir: String, checkpointDir: String) =
    ev.withColumn("event_date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date")
      .outputMode(OutputMode.Append())
}

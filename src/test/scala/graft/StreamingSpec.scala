package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** §2.J streaming tests: batch/stream parity over MemoryStream replays of
  * the same rows (SURVEY.md §5.2.4) — the batch twins are oracle-checked,
  * so parity transfers correctness to the streaming path.
  */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String)

class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import TestSpark.ts
  import spark.implicits._

  private val rows: Seq[Ev] = {
    val rnd = new scala.util.Random(5)
    val types = Vector("click", "view", "purchase", "signup")
    (0 until 300).map { i =>
      Ev(i.toLong,
        new java.sql.Timestamp(
          ts("2024-01-01 00:00:00").getTime + rnd.nextInt(6 * 3600) * 1000L),
        rnd.nextInt(4).toLong, types(rnd.nextInt(types.size)))
    }
  }

  private def runStream(
      xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      outputMode: String = "complete"): Seq[org.apache.spark.sql.Row] = {
    val input = MemoryStream[Ev](spark)
    val name = s"mem_out_${System.nanoTime()}"
    val q = xform(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    try {
      input.addData(rows.take(150))
      q.processAllAvailable()
      input.addData(rows.drop(150))
      q.processAllAvailable()
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling window: stream (complete mode) == batch") {
    val streamed = runStream(Streaming.tumblingCounts)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).sorted
    val batch = Streaming.tumblingCounts(rows.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("sliding window: stream == batch") {
    val streamed = runStream(Streaming.slidingCounts)
      .map(r => (r.getTimestamp(0), r.getLong(1))).sorted
    val batch = Streaming.slidingCounts(rows.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("hll sketch aggregates under streaming state: stream == batch, bit-exact") {
    // the TypedImperativeAggregate must survive state-store
    // serialize/merge across micro-batches: per-type distinct-user
    // sketches built incrementally over two batches must equal the batch
    // one-pass sketch estimates exactly (register-max merge is lossless)
    import org.apache.spark.sql.graft.HllFunctions.{hllEstimate, hllSketch}
    def perType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(hllEstimate(hllSketch($"user_id")).as("nd"))
    val streamed = runStream(perType)
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val batch = perType(rows.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("kmv sketch aggregates under streaming state: stream == batch, exact regime") {
    // k-smallest-of-union merging must survive state-store
    // serialize/merge across micro-batches; below k the sketch retains
    // everything, so the streamed estimate must equal BOTH the batch
    // estimate and the true distinct count exactly
    import org.apache.spark.sql.graft.KmvFunctions.{kmvEstimate, kmvSketch}
    def perType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(kmvEstimate(kmvSketch(
          graft.functions.PortableHash.pHash($"user_id".cast("string"))))
          .as("nd"))
    val streamed = runStream(perType)
      .map(r => (r.getString(0), r.getDouble(1))).sorted
    val batch = perType(rows.toDF())
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    assert(streamed.toSeq == batch.toSeq)
    val exact = rows.groupBy(_.event_type).map { case (t, es) =>
      (t, es.map(_.user_id).distinct.size.toDouble)
    }.toSeq.sorted
    assert(streamed.toSeq == exact)
  }

  test("cms sketch aggregates under streaming state: stream == batch, bit-exact") {
    // counters are linear (element-wise add), so like HLL the streamed
    // sketch built incrementally across micro-batches must equal the
    // batch one-pass sketch EXACTLY — any state-store corruption or
    // double-count would change a counter
    import org.apache.spark.sql.graft.CmsFunctions.{cmsQuery, cmsSketch}
    def perType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(cmsQuery(cmsSketch($"user_id"), org.apache.spark.sql.functions
          .lit(0L)).as("f0"))
    val streamed = runStream(perType)
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val batch = perType(rows.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(streamed.toSeq == batch.toSeq)
    // the probe tracks the exact per-type count of user 0 (CMS width 2048
    // ≫ 4 distinct users here, so no collisions: estimate == exact)
    val exact = rows.groupBy(_.event_type).map { case (t, es) =>
      (t, es.count(_.user_id == 0L).toLong)
    }.toSeq.sorted
    assert(streamed.toSeq == exact)
  }

  test("kll sketch aggregates under streaming state: per-type medians exact below capacity") {
    // the KLL TypedImperativeAggregate must survive state-store
    // serialize/merge across micro-batches. Group sizes here (~75 events
    // per type) sit below the k=200 compaction budget, so the sketch
    // retains every item and the streamed median must EQUAL the exact
    // lower-median of each group — any state-store corruption or lossy
    // merge would break the equality.
    import org.apache.spark.sql.graft.KllFunctions.{kllQuantile, kllSketch}
    def perType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(kllQuantile(kllSketch($"event_id"), org.apache.spark.sql
          .functions.lit(0.5)).as("med"))
    val streamed = runStream(perType)
      .map(r => (r.getString(0), r.getDouble(1))).sorted
    val exact = rows.groupBy(_.event_type).map { case (t, es) =>
      val sorted = es.map(_.event_id.toDouble).sorted
      (t, sorted(math.max(0, math.ceil(0.5 * sorted.size).toInt - 1)))
    }.toSeq.sorted
    assert(streamed.toSeq == exact)
  }

  test("stream-static dimension enrichment: stream == batch, no state, nulls kept") {
    // dim covers only users 0-2, so user 3's events prove the left join
    // keeps unmatched stream rows (segment NULL) instead of dropping them
    val dim = Seq((0L, "free"), (1L, "pro"), (2L, "pro"))
      .toDF("user_id", "segment")
    val streamed = runStream(Streaming.enrichWithDim(dim), outputMode = "complete")
      .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).sorted
    val batch = Streaming.enrichWithDim(dim)(rows.toDF())
      .collect().map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).sorted
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.exists(_._1.isEmpty), "uncovered user must surface as NULL segment")
  }

  test("stream-stream join: purchase-to-view attribution, stream == batch") {
    // batches are fed in timestamp order: a 1h-watermark join is ENTITLED
    // to drop rows arriving later than the horizon, so exact parity with
    // batch is the contract only for in-horizon arrivals (the watermark
    // test below pins the late-drop behavior itself)
    val views = rows.filter(_.event_type == "view").sortBy(_.ts.getTime)
    val purchases = rows.filter(_.event_type == "purchase").sortBy(_.ts.getTime)
    val vIn = MemoryStream[Ev](spark)
    val pIn = MemoryStream[Ev](spark)
    val name = s"mem_ssj_${System.nanoTime()}"
    val q = Streaming.viewPurchaseJoin(vIn.toDF(), pIn.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // split point chosen on time, not count, so batch 2 never carries a
      // row older than batch 1's max (which sets the watermark)
      val cut = ts("2024-01-01 03:00:00").getTime
      vIn.addData(views.filter(_.ts.getTime < cut))
      pIn.addData(purchases.filter(_.ts.getTime < cut))
      q.processAllAvailable()
      vIn.addData(views.filter(_.ts.getTime >= cut))
      pIn.addData(purchases.filter(_.ts.getTime >= cut))
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val batch = Streaming.viewPurchaseJoin(views.toDF(), purchases.toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched views emit nulls after watermark") {
    val views = rows.filter(_.event_type == "view")
    val purchases = rows.filter(_.event_type == "purchase")
    // sentinels far past the data push the watermark beyond every real
    // event so outer state is evicted and null-extended rows emit; the
    // second sentinel batch is what advances the watermark computed at
    // the end of the first one
    def sentinel(id: Long, offH: Int) = Ev(id,
      new java.sql.Timestamp(ts("2024-01-02 00:00:00").getTime + offH * 3600_000L),
      999L, "sentinel")
    val vIn = MemoryStream[Ev](spark)
    val pIn = MemoryStream[Ev](spark)
    val name = s"mem_ssjo_${System.nanoTime()}"
    val q = Streaming.viewPurchaseJoin(vIn.toDF(), pIn.toDF(), "left_outer")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      vIn.addData(views); pIn.addData(purchases)
      q.processAllAvailable()
      for (i <- 0 to 1) {
        vIn.addData(sentinel(100000L + i, 6 * i))
        pIn.addData(sentinel(200000L + i, 6 * i))
        q.processAllAvailable()
      }
      val streamed = spark.table(name)
        .where($"view_id" < 100000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
      val batch = Streaming.viewPurchaseJoin(views.toDF(), purchases.toDF(), "left_outer")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
      assert(streamed.toSeq == batch.toSeq)
      // the outer side really fired: some views have no purchase match
      assert(streamed.exists(_._3 == -1L))
    } finally q.stop()
  }

  test("mg sketch aggregates under streaming state: exact top item per type below capacity") {
    // the MG TypedImperativeAggregate must survive state-store
    // serialize/merge across micro-batches. 4 distinct users ≪ default
    // k=64 ⇒ the sketch stays in its exact regime, so the streamed top-1
    // (item AND count) must EQUAL the exact per-type mode — any lossy
    // state merge would first show up as a wrong count here.
    import org.apache.spark.sql.graft.MgFunctions.{mgSketch, mgTopk}
    import org.apache.spark.sql.functions.lit
    def perType(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(mgTopk(mgSketch($"user_id"), lit(1)).as("top"))
        .selectExpr("event_type", "top[0].item AS item", "top[0].est AS est")
    val streamed = runStream(perType)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val exact = rows.groupBy(_.event_type).map { case (t, es) =>
      val (u, c) = es.groupBy(_.user_id).view.mapValues(_.size.toLong)
        .toSeq.minBy { case (u, c) => (-c, u.toString) }
      (t, u.toString, c)
    }.toSeq.sorted
    assert(streamed.toSeq == exact)
  }

  test("session windows (30 min gap): stream == batch == etl_sessionize") {
    val streamed = runStream(Streaming.sessionCounts)
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).sorted
    val batch = Streaming.sessionCounts(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).sorted
    assert(streamed.toSeq == batch.toSeq)
    // parity with the oracle-checked batch sessionizer on session count
    val viaEtl = graft.operators.Etl.sessionized(rows.toDF())
      .select("user_id", "session_id").distinct().count()
    assert(streamed.size.toLong == viaEtl)
  }

  test("watermark drops events later than horizon behind max(ts)") {
    val input = MemoryStream[Ev](spark)
    val name = s"mem_wm_${System.nanoTime()}"
    val q = Streaming.watermarkedCounts(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Ev(1, ts("2024-01-01 00:10:00"), 1, "click"))
      q.processAllAvailable()
      input.addData(Ev(2, ts("2024-01-01 06:00:00"), 1, "click"))
      q.processAllAvailable() // advances watermark to 04:00 → 00:00 window final
      // this event is 4h late, far beyond the 2h watermark → dropped
      input.addData(Ev(3, ts("2024-01-01 00:20:00"), 1, "click"))
      q.processAllAvailable()
      input.addData(Ev(4, ts("2024-01-01 12:00:00"), 1, "click"))
      q.processAllAvailable()
      val finalized = spark.table(name)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
      assert(finalized("2024-01-01 00:00:00.0") == 1L) // late event NOT counted
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups replayed event ids") {
    val input = MemoryStream[Ev](spark)
    val name = s"mem_dd_${System.nanoTime()}"
    val q = Streaming.dedupWithinWatermark(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val e = Ev(42, ts("2024-01-01 01:00:00"), 1, "click")
      input.addData(e)
      q.processAllAvailable()
      input.addData(e) // exact replay within watermark
      input.addData(Ev(43, ts("2024-01-01 01:05:00"), 1, "view"))
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }

  test("streaming content dedup keeps first arrival per normalized text") {
    case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val name = s"mem_cd_${System.nanoTime()}"
    val q = Streaming.contentDedupWithinWatermark(
      input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 01:00:00"), "Hello, World!"))
      q.processAllAvailable()
      // same CONTENT after normalization (case/punct differ), new doc_id
      input.addData((2L, ts("2024-01-01 01:10:00"), "hello world"))
      // genuinely new content
      input.addData((3L, ts("2024-01-01 01:15:00"), "something else"))
      q.processAllAvailable()
      val kept = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L), s"expected first-arrival dedup, kept $kept")
    } finally q.stop()
  }

  test("streaming CDC materialization == batch max(struct) fold, tombstones included") {
    // a seeded at-least-once changelog: 400 events over 40 keys with
    // COLLIDING seqs (seq drawn from just 5 values) so the lexicographic
    // tie rule actually decides winners, plus ~10% tombstones
    val rnd = new scala.util.Random(11)
    val chg = (0 until 400).map { _ =>
      Streaming.CdcEvent(
        key = rnd.nextInt(40).toLong,
        seq = rnd.nextInt(5).toLong,
        op = if (rnd.nextInt(10) == 0) "D" else "U",
        value = rnd.nextInt(1000) / 10.0)
    }
    // batch truth: the exact etl_cdc_apply fold shape
    import org.apache.spark.sql.functions.{col, max, struct}
    val batch = chg.toDS().groupBy(col("key"))
      .agg(max(struct(col("seq"), col("op"), col("value"))).as("w"))
      .select(col("key"), col("w.seq"), col("w.op"), col("w.value"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap

    val input = MemoryStream[Streaming.CdcEvent](spark)
    val name = s"mem_cdc_${System.nanoTime()}"
    // evict=false: processing-time timers keep the engine scheduling
    // batches forever, so processAllAvailable would never return — the
    // eviction branches are pinned by the TestGroupState test below
    val q = Streaming.cdcApply(input.toDS(), evict = false)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      chg.grouped(135).foreach { batchEvs =>
        input.addData(batchEvs)
        q.processAllAvailable()
      }
      // the key's final winner = the lexicographic max of everything the
      // stream emitted for it (update mode re-emits only on change, so
      // the max emitted IS the last emitted)
      val streamed = spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(streamed == batch,
        "streaming winners must equal the batch fold, including D tombstones")
      assert(batch.values.exists(_._2 == "D"),
        "fixture must exercise tombstone winners")
    } finally q.stop()
  }

  test("streaming CDC eviction: tombstones arm the timeout, timed-out keys drop") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    def fresh(st: Optional[Streaming.CdcEvent], timedOut: Boolean) =
      TestGroupState.create[Streaming.CdcEvent](
        st, GroupStateTimeout.ProcessingTimeTimeout, 1000L,
        Optional.empty[Long](), timedOut)
    val fold = Streaming.cdcFoldGroup(evict = true) _

    // a tombstone winner arms the 1h timeout and is emitted
    val s1 = fresh(Optional.empty(), timedOut = false)
    val out1 = fold(7L, Iterator(Streaming.CdcEvent(7, 3, "D", 1.0)), s1).toSeq
    assert(out1.map(_.op) == Seq("D") && s1.getTimeoutTimestampMs.isPresent)

    // a live winner does NOT arm the timeout
    val s2 = fresh(Optional.empty(), timedOut = false)
    val out2 = fold(7L, Iterator(Streaming.CdcEvent(7, 3, "U", 1.0)), s2).toSeq
    assert(out2.map(_.op) == Seq("U") && !s2.getTimeoutTimestampMs.isPresent)

    // a redundant redelivery of the tombstone emits nothing but RE-arms
    // (Spark clears timers per invocation; without re-arming, the key
    // would leak forever)
    val d = Streaming.CdcEvent(7, 3, "D", 1.0)
    val s3 = fresh(Optional.of(d), timedOut = false)
    val out3 = fold(7L, Iterator(d), s3).toSeq
    assert(out3.isEmpty && s3.getTimeoutTimestampMs.isPresent)

    // when the timer fires, the dead key's state is removed silently
    val s4 = fresh(Optional.of(d), timedOut = true)
    val out4 = fold(7L, Iterator.empty, s4).toSeq
    assert(out4.isEmpty && s4.isRemoved)
  }

  test("clamped ledger under streaming state == sequential reference, " +
    "clamps included (r8)") {
    // seeded stream over 15 users with heavy debits so the clamp FIRES;
    // events arrive in ts order across batches (the contract the batch
    // twin's in-row fold assumes wholesale)
    val rnd = new scala.util.Random(7)
    val evs = (0 until 600).map { i =>
      Streaming.LedgerEvent(
        user_id = rnd.nextInt(15).toLong,
        tsMicros = i.toLong * 1000000L,
        event_id = i.toLong,
        deltaCents = (rnd.nextInt(300) - 180).toLong) // debit-leaning
    }
    // driver-side sequential reference — the semantics the declared
    // etl_clamped_ledger key scans
    val ref = evs.groupBy(_.user_id).map { case (u, es) =>
      val fin = es.sortBy(e => (e.tsMicros, e.event_id))
        .foldLeft((0L, 0L, 0L)) { case ((b, c, n), e) =>
          val nb = b + e.deltaCents
          (math.max(0L, nb), c + (if (nb < 0) 1L else 0L), n + 1L)
        }
      u -> fin
    }
    assert(ref.values.exists(_._2 > 0), "fixture must exercise the clamp")

    val input = MemoryStream[Streaming.LedgerEvent](spark)
    val name = s"mem_ledger_${System.nanoTime()}"
    val q = Streaming.clampedLedger(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      evs.grouped(170).foreach { b => input.addData(b); q.processAllAvailable() }
      // update mode re-emits per batch; the final state per user is the
      // row with the largest n_events (monotone within a user)
      val streamed = spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1)
        .map { case (u, vs) => u -> {
          val last = vs.map(_._2).maxBy(_._3)
          (last._1, last._2, last._3)
        } }
      assert(streamed == ref,
        "streaming ledger must equal the sequential reference fold")
    } finally q.stop()
  }

  test("new-vs-returning under streaming state == the batch min(day) " +
    "definition (r8 cont. 6)") {
    // seeded (user, day) stream arriving in day order — the contract the
    // batch etl_new_vs_returning key's min(day) definition assumes
    val rnd = new scala.util.Random(11)
    val evs = (0 until 800).map { i =>
      Streaming.UserDayEvent(
        user_id = rnd.nextInt(40).toLong,
        epochDay = 19000 + i / 40) // 20 days, day-ordered arrival
    }
    // batch reference: one row per (user, day), new iff day == min(day)
    val ref = evs.groupBy(_.user_id).flatMap { case (u, es) =>
      val days = es.map(_.epochDay).distinct.sorted
      days.map(d => (u, d, d == days.head))
    }.toSet

    val input = MemoryStream[Streaming.UserDayEvent](spark)
    val name = s"mem_nvr_${System.nanoTime()}"
    val q = Streaming.newVsReturning(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      evs.grouped(120).foreach { b => input.addData(b); q.processAllAvailable() }
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      assert(streamed == ref,
        "streamed first-seen split must equal the batch min(day) semantics")
      // each (user, day) is emitted exactly once across all batches
      assert(spark.table(name).count() == ref.size.toLong)
    } finally q.stop()
  }

  test("funnel state machine emits one conversion per signup→purchase") {
    val evs = Seq(
      Streaming.FunnelEvent(1, "signup", 1000000L),
      Streaming.FunnelEvent(1, "click", 2000000L),
      Streaming.FunnelEvent(1, "purchase", 5000000L), // converts, lag 4s
      Streaming.FunnelEvent(1, "purchase", 9000000L), // no active signup
      Streaming.FunnelEvent(2, "purchase", 1000000L), // purchase before signup
      Streaming.FunnelEvent(2, "signup", 2000000L)).toDS()
    val out = Streaming.funnel(evs).collect().sortBy(_.user_id)
    assert(out.length == 1)
    assert(out.head.user_id == 1L && out.head.lag_s == 4L)
  }

  test("transformWithState funnel (v2 API) matches flatMapGroupsWithState") {
    val d = tempDir("graft_tws")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streaming.FunnelEvent](spark)
      val name = s"mem_tws_${System.nanoTime()}"
      val q = Streaming.funnelV2(input.toDS())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$d/chk")
        .outputMode("append").start()
      try {
        input.addData(
          Streaming.FunnelEvent(1, "signup", 1000000L),
          Streaming.FunnelEvent(2, "purchase", 1000000L))
        q.processAllAvailable()
        input.addData(
          Streaming.FunnelEvent(1, "purchase", 5000000L),
          Streaming.FunnelEvent(2, "signup", 2000000L))
        q.processAllAvailable()
        val out = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(3))).sorted
        assert(out.toSeq == Seq((1L, 4L))) // same verdict as the v1 funnel
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming parquet sink writes partitioned output with checkpoint") {
    val d = tempDir("graft_sink")
    val input = MemoryStream[Ev](spark)
    val q = Streaming.sinkParquet(input.toDF(), s"$d/out", s"$d/chk").start()
    try {
      input.addData(rows.take(50))
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(s"$d/out")
    assert(written.count() == 50)
    assert(written.columns.contains("event_date"))
  }

  test("parquet sink recovers from checkpoint exactly-once after a kill") {
    // Kill-and-restart against the SAME checkpoint: the restarted query
    // must resume from the committed offset — rows written before the
    // kill are not re-written (no duplicates), rows queued while no query
    // was running are not lost. This is the recovery contract a 100 TB
    // ingest pipeline leans on when an executor/driver dies mid-stream.
    val d = tempDir("graft_recover")
    val input = MemoryStream[Ev](spark)
    def start() =
      Streaming.sinkParquet(input.toDF(), s"$d/out", s"$d/chk").start()

    val q1 = start()
    try {
      input.addData(rows.take(120))
      q1.processAllAvailable()
    } finally q1.stop()                       // simulated crash
    assert(spark.read.parquet(s"$d/out").count() == 120)

    input.addData(rows.slice(120, 300))       // arrives while query is down
    val q2 = start()                          // same checkpoint dir
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(s"$d/out")
    // exactly-once: 300 rows total, every event_id exactly once — a
    // reprocessed first batch would double event_ids 0..119
    assert(out.count() == 300)
    assert(out.select("event_id").distinct().count() == 300)
  }
}

package graft

import graft.config.{LakeCommit, Pipeline, RunConfig}
import graft.sources.Sources
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Events-layout row (ts as raw nanos) for the streaming-ingest test. */
case class PEv(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double)

/** End-to-end config-driven run: RunConfig window → aggregate DAG →
  * month-partitioned lake tables → pruned read-back.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def gen(dir: String) = LakeCommit.currentGen(dir, Sources.ManifestTable)

  /** The `__part=<prefix>…` state dirs of `table`, by name. */
  private def partDirs(out: String, table: String, prefix: String = "") =
    new java.io.File(s"$out/$table").listFiles().toSeq
      .filter(_.getName.startsWith(s"__part=$prefix")).sortBy(_.getName)

  /** Serving generation and its (file, mtime) set per partition dir. */
  private def partState(out: String, table: String, prefix: String) =
    partDirs(out, table, prefix).map { d =>
      val g = gen(d.getPath).get
      g -> new java.io.File(g).listFiles().map(f => f.getName -> f.lastModified()).toSet
    }

  test("config-driven run publishes partitioned aggregates, idempotently") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val cfg = RunConfig(sf, Seq("events"),
      startDate = Some("2024-01-01"), endDate = Some("2024-02-01"))
    val results = Pipeline.run(spark, cfg, out)
    assert(results.map(_.table).toSet ==
      Set("sessions", "monthly_usage", "user_lifetime", "churn_daily",
        "type_reach"))
    assert(results.forall(_.rows > 0))

    // published churn ledger must equal the declared operator over the
    // same window (one-definition rule: both are Etl.churnDaily)
    val churnDirect = operators.Etl.churnDaily(cfg.table(spark, "events"))
    val churnPub = Pipeline.readTableCurrent(spark, out, "churn_daily")
    assert(churnPub.count() == churnDirect.count())
    assert(churnPub.agg(sum("n_active"), sum("n_new")).head.toSeq ==
      churnDirect.agg(sum("n_active"), sum("n_new")).head.toSeq)

    // published sessions must equal the declared operator over the same
    // window (the pipeline uses the skew-safe plan; equality is the law)
    val direct = operators.Etl.sessionized(cfg.table(spark, "events"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
    val published = Pipeline.readTableCurrent(spark, out, "sessions")
    assert(published.count() == direct.count())
    assert(published.agg(sum("n_events")).head.getLong(0) ==
      direct.agg(sum("n_events")).head.getLong(0))

    // month partitioning is physical: one committed `__part=` state dir
    // per month, and no table-level manifest
    assert(partDirs(out, "monthly_usage").nonEmpty &&
      partDirs(out, "monthly_usage").forall(d => gen(d.getPath).isDefined))
    assert(gen(s"$out/monthly_usage").isEmpty)
    // a month filter prunes at listing time: only that month's files scan
    val pruned = Pipeline.readTableCurrent(spark, out, "monthly_usage",
      month = Some("2024-01-01"))
    assert(pruned.count() > 0)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__part=2024-01-01")))

    // rerun = rebuild: same rows, no append-duplication
    val again = Pipeline.run(spark, cfg, out)
    assert(again.map(r => r.table -> r.rows).toMap ==
      results.map(r => r.table -> r.rows).toMap)
  }

  test("incremental monthly/sessions/lifetime == full rebuild; untouched partitions untouched") {
    import spark.implicits._
    // synthetic 3-month events dir (ts stored as raw nanos, the events
    // layout Tables expects), with a planted 15-min-gap session CROSSING
    // the Feb→Mar boundary: a lookback-free recompute of March would
    // wrongly count a session start for user 42
    val d = Files.createTempDirectory("graft_inc").toString
    val rnd = new scala.util.Random(11)
    def ns(s: String) = TestSpark.ts(s).getTime * 1000000L
    val base = TestSpark.ts("2024-01-01 00:00:00").getTime
    var id = 0L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String, Double)]()
    for (u <- 0L until 10L; _ <- 0 until 150) {
      val t = base + (math.abs(rnd.nextLong()) % (89L * 86400 * 1000L))
      rows += ((id, t * 1000000L, u,
        Seq("click", "view", "purchase")(rnd.nextInt(3)),
        rnd.nextInt(1000) / 100.0))
      id += 1
    }
    rows += ((id, ns("2024-02-29 23:50:00"), 42L, "click", 1.0)); id += 1
    rows += ((id, ns("2024-03-01 00:05:00"), 42L, "click", 1.0)); id += 1
    rows.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$d/events.parquet")

    def tableRows(out: String, table: String) =
      Pipeline.readTableCurrent(spark, out, table)
        // month is derived; value_kll BYTES legitimately differ between a
        // one-pass build and an incremental merge (item order inside the
        // level-0 buffer) — the DECODED p50_value stays in the compared
        // rows, and at this spec's per-user cardinality (< the k=200
        // compaction budget) the sketch is exact, so the incremental
        // median must EQUAL the full-rebuild median, not just approximate
        .drop("month", "value_kll")
        .collect().map(_.toSeq).toSet
    def monthlyRows(out: String) = tableRows(out, "monthly_usage")

    val outFull = Files.createTempDirectory("graft_inc_full").toString
    Pipeline.run(spark, RunConfig(d, Seq("events")), outFull)

    val outInc = Files.createTempDirectory("graft_inc_inc").toString
    Pipeline.run(spark,
      RunConfig(d, Seq("events"), endDate = Some("2024-03-01")), outInc)
    def janState(table: String = "monthly_usage") =
      partState(outInc, table, "2024-01")
    val janBefore = janState()
    val janSessionsBefore = janState("sessions")
    assert(janBefore.nonEmpty && janSessionsBefore.nonEmpty)

    // the natural delta-load config: startDate == batchStart — the
    // implementation must strip it for the recompute scan, or March would
    // be rebuilt from batch-only events without the lookback
    val res = Pipeline.runIncrementalMonthly(
      spark, RunConfig(d, Seq("events"), startDate = Some("2024-03-01")),
      outInc, "2024-03-01")
    assert(res.rows > 0)
    // exact equality with the full rebuild — including user 42's March
    // row, whose n_sessions=0 needs the cross-boundary lookback
    assert(monthlyRows(outInc) == monthlyRows(outFull))
    val march = Pipeline.readTableCurrent(spark, outInc, "monthly_usage",
      month = Some("2024-03-01"))
    // listing-time pruning over a three-month table: only March's files
    assert(partDirs(outInc, "monthly_usage").size == 3)
    assert(march.inputFiles.nonEmpty &&
      march.inputFiles.forall(_.contains("__part=2024-03")),
      s"pruning leaked: ${march.inputFiles.mkString(", ")}")
    val u42mar = march
      .where(col("user_id") === 42L).select("n_events", "n_sessions")
      .collect().head
    assert(u42mar.getLong(0) == 1L && u42mar.getLong(1) == 0L,
      "boundary-crossing session must not count as a March start")
    // January partition keeps its serving generation and its files
    assert(janState() == janBefore)

    // sessions: state-merge incremental == full rebuild, including user
    // 42's boundary-crossing session (the batch's first March event must
    // EXTEND the published Feb session — same id, same start, n_events+1 —
    // not open a new one)
    val resS = Pipeline.runIncrementalSessions(
      spark, RunConfig(d, Seq("events"), startDate = Some("2024-03-01")),
      outInc, "2024-03-01")
    assert(resS.rows > 0)
    assert(tableRows(outInc, "sessions") == tableRows(outFull, "sessions"))
    assert(janState("sessions") == janSessionsBefore,
      "no January session changed, so its partition must keep its generation")

    // lifetime: monoid merge (min/max/count combine + KLL sketch merge
    // for the p50_value indicator) == full rebuild — including the
    // median, which before round 5 required an event-history rescan
    val resL = Pipeline.runIncrementalLifetime(
      spark, RunConfig(d, Seq("events"), startDate = Some("2024-03-01")),
      outInc, "2024-03-01")
    assert(resL.rows > 0)
    assert(tableRows(outInc, "user_lifetime") == tableRows(outFull, "user_lifetime"))
    // belt-and-braces: the merged-sketch median column is populated and
    // matches the exact per-user lower-median recomputed from raw events
    val medInc = Pipeline.readTableCurrent(spark, outInc, "user_lifetime")
      .select("user_id", "p50_value").as[(Long, Double)].collect().toMap
    val exactMed = spark.read.parquet(s"$d/events.parquet")
      .groupBy(col("user_id"))
      .agg(collect_list(col("value")).as("vs"))
      .as[(Long, Seq[Double])].collect().toMap
      .map { case (u, vs) =>
        val sorted = vs.sorted
        u -> sorted(math.max(0, math.ceil(0.5 * sorted.size).toInt - 1))
      }
    assert(medInc == exactMed, "incrementally merged sketch median must be exact here")

    // churn ledger (the FOURTH incrementally-maintained table): one-day
    // raw lookback + lifetime-state first-day fold == full rebuild.
    // Deliberately run AFTER runIncrementalLifetime absorbed the batch —
    // the least() first-day fold must be idempotent to the ordering.
    val febState = partState(outInc, "churn_daily", "2024-02")
    assert(febState.nonEmpty)
    val resC = Pipeline.runIncrementalChurn(
      spark, RunConfig(d, Seq("events"), startDate = Some("2024-03-01")),
      outInc, "2024-03-01")
    assert(resC.rows > 0)
    assert(tableRows(outInc, "churn_daily") == tableRows(outFull, "churn_daily"))
    // no February day can change under an append-only March batch, so
    // each February day keeps its serving generation and its files
    assert(partState(outInc, "churn_daily", "2024-02") == febState)

    // empty batch (heartbeat cycle past the data end): early return, no
    // rows claimed, ledger untouched
    val ledgerBefore = tableRows(outInc, "churn_daily")
    val resE = Pipeline.runIncrementalChurn(
      spark, RunConfig(d, Seq("events"), startDate = Some("2025-01-01")),
      outInc, "2025-01-01")
    assert(resE.rows == 0L)
    assert(tableRows(outInc, "churn_daily") == ledgerBefore)

    // type_reach (the FIFTH incrementally-maintained table): KMV union is
    // bit-equal to the one-pass sketch (SketchLawsProps), so incremental
    // must equal full rebuild INCLUDING the sketch bytes
    def reachRows(out: String) = Pipeline.readTableCurrent(spark, out, "type_reach")
      .select(col("event_type"), base64(col("reach_kmv")), col("users_est"))
      .collect().map(_.toSeq).toSet
    val resR = Pipeline.runIncrementalReach(
      spark, RunConfig(d, Seq("events"), startDate = Some("2024-03-01")),
      outInc, "2024-03-01")
    assert(resR.rows > 0)
    assert(reachRows(outInc) == reachRows(outFull),
      "incrementally merged reach sketches must be bit-equal to rebuild")
    // read-time set algebra: 10 users < k → exact regime, so the overlap
    // estimate must EQUAL the true cross-type distinct-user overlap
    val overlaps = Pipeline.reachOverlap(spark, outInc)
      .select("t1", "t2", "overlap_est")
      .as[(String, String, Double)].collect()
    assert(overlaps.nonEmpty)
    val evAll = spark.read.parquet(s"$d/events.parquet")
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect()
    val byType = evAll.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2).toSet
    }
    overlaps.foreach { case (t1, t2, est) =>
      val truth = byType(t1).intersect(byType(t2)).size.toDouble
      assert(est == truth, s"overlap $t1/$t2: est=$est truth=$truth")
    }
  }

  test("streaming ingest maintains the lake tables exactly (foreachBatch incremental)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // the R9 × §2.J capstone: a micro-batched event stream lands in the
    // lake through foreachBatch, and each batch triggers the SAME
    // incremental maintenance a nightly delta load uses — monthly
    // (gap-lookback recompute), sessions (state merge), lifetime (monoid
    // + KLL merge). After the stream drains, all three tables must equal
    // a from-scratch rebuild over everything ingested. Batches arrive in
    // time order (month per batch), matching the append-only contract
    // the incremental paths document.
    val rnd = new scala.util.Random(23)
    val base = TestSpark.ts("2024-01-01 00:00:00").getTime
    val monthStarts = Seq("2024-01-01", "2024-02-01", "2024-03-01")
    var id = 0L
    val byMonth = (0 until 3).map { m =>
      (0 until 5).flatMap { u =>
        (0 until 40).map { _ =>
          val t = TestSpark.ts(s"${monthStarts(m)} 00:00:00").getTime +
            (math.abs(rnd.nextLong()) % (27L * 86400 * 1000L))
          id += 1
          PEv(id, t * 1000000L, u.toLong,
            Seq("click", "view", "purchase")(rnd.nextInt(3)),
            rnd.nextInt(1000) / 100.0)
        }
      }
    }
    val d = Files.createTempDirectory("graft_stream_lake").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    // bootstrap: month 1 published by a normal batch run
    byMonth(0).toDF().coalesce(1).write.mode("append")
      .parquet(s"$d/events.parquet")
    Pipeline.run(spark,
      RunConfig(d, Seq("events"), endDate = Some(monthStarts(1))), out)

    // months 2..3 arrive as micro-batches
    val input = MemoryStream[PEv](spark)
    val q = input.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batch.write.mode("append").parquet(s"$d/events.parquet")
          val minTs = batch.agg(min(col("ts"))).head().getLong(0) / 1000000L
          val batchStart = new java.text.SimpleDateFormat("yyyy-MM-dd")
            .format(new java.util.Date(minTs))
          val cfg = RunConfig(d, Seq("events"), startDate = Some(batchStart))
          Pipeline.runIncrementalMonthly(spark, cfg, out, batchStart)
          Pipeline.runIncrementalSessions(spark, cfg, out, batchStart)
          Pipeline.runIncrementalLifetime(spark, cfg, out, batchStart)
          Pipeline.runIncrementalChurn(spark, cfg, out, batchStart)
          ()
        }
    }.start()
    try {
      input.addData(byMonth(1)); q.processAllAvailable()
      input.addData(byMonth(2)); q.processAllAvailable()
    } finally q.stop()

    // the streamed lake holds all three months and every ingested event:
    // the maintainers read the input directory afresh on the reused
    // session, so they see the files each batch appended
    val ingested = byMonth.map(_.size.toLong).sum
    val monthly = Pipeline.readTableCurrent(spark, out, "monthly_usage")
    assert(monthly.select("month").distinct().count() == 3)
    for (t <- Seq("monthly_usage", "user_lifetime"))
      assert(Pipeline.readTableCurrent(spark, out, t).agg(sum("n_events"))
        .head.getLong(0) == ingested, s"streamed $t lost events")

    // the streamed lake == a from-scratch rebuild over all three months,
    // built on a fresh session
    val outFull = Files.createTempDirectory("graft_stream_full").toString
    Pipeline.run(spark.newSession(), RunConfig(d, Seq("events")), outFull)
    def rowsOf(o: String, t: String) =
      Pipeline.readTableCurrent(spark, o, t).drop("month", "value_kll")
        .collect().map(_.toSeq).toSet
    for (t <- Seq("monthly_usage", "sessions", "user_lifetime", "churn_daily"))
      assert(rowsOf(out, t) == rowsOf(outFull, t),
        s"streamed $t diverged from the full rebuild")
  }

  test("pipeline without the events table fails loudly") {
    val out = Files.createTempDirectory("graft_pipeline2").toString
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, RunConfig(sf, Seq("orders")), out)
    }
  }

  test("manifested publish path == in-place write path; rebuilds are atomic " +
    "version swaps (r8)") {
    val cfg = RunConfig(sf, Seq("events"),
      startDate = Some("2024-01-01"), endDate = Some("2024-02-01"))
    val monthly = graft.operators.Etl.monthlyUsage(cfg.table(spark, "events"))
      .withColumn("month_str", col("month").cast("string"))
    val outA = Files.createTempDirectory("graft_pub_inplace").toString
    val outB = Files.createTempDirectory("graft_pub_manifest").toString
    // the same frame as a plain in-place parquet write and as a publish
    monthly.write.mode("overwrite").parquet(s"$outA/monthly")
    val r1 = Pipeline.publish(monthly, None, s"$outB/monthly")
    assert(r1.rows > 0)
    val plain = spark.read.parquet(s"$outA/monthly")
      .collect().map(_.toString).sorted
    val manifested = Pipeline.readTableCurrent(spark, outB, "monthly")
      .collect().map(_.toString).sorted
    assert(manifested.toSeq == plain.toSeq)
    assert(manifested.length == r1.rows)
    // a rebuild commits a new generation and the reader follows it
    val g1 = gen(s"$outB/monthly")
    val r2 = Pipeline.publish(monthly.limit(3), None, s"$outB/monthly")
    assert(r2.rows == 3)
    assert(Pipeline.readTableCurrent(spark, outB, "monthly").count() == 3)
    val g2 = gen(s"$outB/monthly")
    assert(g1.isDefined && g2.isDefined && g2 != g1)
  }

  test("incremental corpus build publishes through the manifested lake; " +
    "concurrent readers only ever see whole versions (r10)") {
    val d = sf
    val docsDf = Tables(spark, d, "documents")
    val bound = (docsDf.agg(max(col("doc_id"))).head.getLong(0) + 1L) * 4L / 5L
    val regDir =
      graft.config.SketchRegistry.ensureCorpusRegistry(spark, d, bound)
    val out = Files.createTempDirectory("graft_corpus_lake").toString
    // nightly shape: the corpus half's full build is the published base
    // table; each batch's incremental build publishes beside it and the
    // training consumer reads the UNION of the two current generations
    val corpusPacked = graft.operators.Llm
      .corpusBuild(docsDf.where(col("doc_id") < bound))
    val rc = Pipeline.publish(corpusPacked, None, s"$out/packed_corpus")
    val batchPacked = graft.operators.Llm
      .corpusBuildIncremental(spark, regDir,
        docsDf.where(col("doc_id") >= bound))
    val r1 = Pipeline.publish(batchPacked, None, s"$out/packed_batch")
    assert(rc.rows > 0 && r1.rows > 0)
    // concurrent reader through a re-publish: every read must land on a
    // WHOLE version's count — the commit is atomic, so a reader
    // can observe the old version or the new one, never a torn mix
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    @volatile var stop = false
    val reader = new Thread(() => while (!stop) {
      seen.add(
        Pipeline.readTableCurrent(spark, out, "packed_batch").count())
    })
    reader.start()
    try {
      val r2 = Pipeline.publish(batchPacked.limit(3), None, s"$out/packed_batch")
      assert(r2.rows == 3)
      Thread.sleep(300) // let the reader observe the new generation too
    } finally { stop = true; reader.join() }
    assert(!seen.isEmpty, "the concurrent reader must have read something")
    val counts = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSet
    assert(counts.subsetOf(Set(r1.rows, 3L)),
      s"reader saw a torn version: $counts not in {${r1.rows}, 3}")
    // the union read a training job runs: published corpus + current batch
    val unioned = Pipeline.readTableCurrent(spark, out, "packed_corpus")
      .unionByName(Pipeline.readTableCurrent(spark, out, "packed_batch"))
    assert(unioned.count() == rc.rows + 3)
    spark.catalog.clearCache() // registry pairs' batch-sketch pins
  }

  test("manifested lake (r9): per-partition atomic incremental maintenance == " +
    "full rebuild; untouched partitions keep their version; concurrent " +
    "reader survives publish and compaction") {
    // sf0.001 events span January 2024 only — split mid-month
    val pre = RunConfig(sf, Seq("events"), endDate = Some("2024-01-16"))
    val batch = RunConfig(sf, Seq("events"), startDate = Some("2024-01-16"))
    val outM = Files.createTempDirectory("graft_lake_manifest").toString
    Pipeline.run(spark, pre, outM)

    // layout law: calendar tables land as PARTITION-LEVEL manifests (one
    // state dir per month/day dir), state tables as whole-table manifests
    assert(partDirs(outM, "monthly_usage").nonEmpty && partDirs(outM, "churn_daily").nonEmpty)
    assert(partDirs(outM, "monthly_usage").forall(d => gen(d.getPath).isDefined))
    assert(gen(s"$outM/monthly_usage").isEmpty)
    assert(gen(s"$outM/user_lifetime").isDefined)
    assert(gen(s"$outM/type_reach").isDefined)

    val tables = Seq("sessions", "monthly_usage", "user_lifetime",
      "churn_daily", "type_reach")
    def rowsOf(out: String, t: String) = {
      val df = Pipeline.readTableCurrent(spark, out, t)
        .drop("month", "value_kll", "reach_kmv")
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toSeq).toSet
    }

    // capture an untouchable early-January churn DAY partition and the
    // (single, touched) month partition's generation BEFORE the batch
    val day5Before = partState(outM, "churn_daily", "2024-01-05")
    assert(day5Before.size == 1)
    val janDir = partDirs(outM, "monthly_usage", "2024-01").head
    val janGenBefore = gen(janDir.getPath).get

    // a reader that resolved the CURRENT monthly table before the batch
    // lands must keep reading the pre-batch content through the commit
    // (immutable generations + the superseded-generation retention window)
    val preBatchReader = Pipeline.readTableCurrent(spark, outM, "monthly_usage")
    val preBatchRows = preBatchReader.drop("month").collect().map(_.toSeq).toSet

    // the incremental batch == a full rebuild over all of January, built
    // on a fresh session
    assert(Pipeline.runIncrementalMonthly(spark, batch, outM, "2024-01-16").rows > 0)
    assert(Pipeline.runIncrementalSessions(spark, batch, outM, "2024-01-16").rows > 0)
    assert(Pipeline.runIncrementalLifetime(spark, batch, outM, "2024-01-16").rows > 0)
    assert(Pipeline.runIncrementalChurn(spark, batch, outM, "2024-01-16").rows > 0)
    assert(Pipeline.runIncrementalReach(spark, batch, outM, "2024-01-16").rows > 0)
    val outF = Files.createTempDirectory("graft_lake_full").toString
    Pipeline.run(spark.newSession(), RunConfig(sf, Seq("events")), outF)
    for (t <- tables)
      assert(rowsOf(outM, t) == rowsOf(outF, t), s"incremental diverged on $t")

    // the untouched early-January churn day kept its generation AND
    // files; the touched month partition committed a new generation
    assert(partState(outM, "churn_daily", "2024-01-05") == day5Before)
    assert(gen(janDir.getPath).exists(_ != janGenBefore))
    // the pre-batch reader still sees exactly the pre-batch table
    assert(preBatchReader.drop("month").collect().map(_.toSeq).toSet
      == preBatchRows)

    // listing-time pruning: a month filter must resolve ONLY that month's
    // partition dir — unwanted partitions never reach a scan
    val pruned = Pipeline.readTableCurrent(spark, outM, "monthly_usage",
      month = Some("2024-01-01"))
    assert(pruned.count() > 0)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__part=2024-01")),
      s"pruning leaked: ${pruned.inputFiles.take(3).mkString(", ")}")

    // concurrent reader through a COMPACTION (whole-table manifest): the
    // reader resolved generation k; compaction commits k+1 and the
    // retention window preserves k for in-flight readers
    val lifeReader = Pipeline.readTableCurrent(spark, outM, "user_lifetime")
    val lifeRows = lifeReader.drop("value_kll").collect().map(_.toSeq).toSet
    val (filesBefore, filesAfter) =
      Sources.compactManifested(spark, s"$outM/user_lifetime")
    assert(filesAfter <= filesBefore)
    assert(lifeReader.drop("value_kll").collect().map(_.toSeq).toSet == lifeRows,
      "in-flight reader lost its version during compaction")
    assert(Pipeline.readTableCurrent(spark, outM, "user_lifetime")
      .drop("value_kll").collect().map(_.toSeq).toSet == lifeRows,
      "post-compaction reader diverged")

    // concurrent reader through a PER-PARTITION compaction: each partition
    // dir is itself a manifested state dir, so the same protocol compacts
    // one month while readers of the whole table keep their resolution
    val tableReader = Pipeline.readTableCurrent(spark, outM, "monthly_usage")
    val tableRows = tableReader.drop("month").collect().map(_.toSeq).toSet
    Sources.compactManifested(spark, janDir.getPath)
    assert(tableReader.drop("month").collect().map(_.toSeq).toSet == tableRows,
      "in-flight reader lost a partition version during partition compaction")
    assert(Pipeline.readTableCurrent(spark, outM, "monthly_usage")
      .drop("month").collect().map(_.toSeq).toSet == tableRows,
      "post-compaction table content diverged")
  }
}

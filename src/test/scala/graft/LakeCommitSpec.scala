package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{AnalyticFrames, IvfIndex, LakeCache, LakeCommit, MaintLog, PqIndex}

/** Round 13: the commit-protocol hardening laws — the ADVICE r12 race
  * fixes (a live writer's in-flight stage survives a same-seq sweep; a
  * dangling manifest reads as no-committed-state; commit refuses a
  * missing stage), the writer lease (VERDICT r12 #3), the generation
  * layout stamp (VERDICT r12 #6), and the maintlog fold (VERDICT r12
  * #2: monotonic log_seq across a fold, bounded file count).
  */
class LakeCommitSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"

  // far above this kernel's pid_max (32768 here) — never a live pid
  private val DeadPid = 29999999L

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  private def mkGen(path: String): Unit = {
    new java.io.File(path).mkdirs()
    LakeCommit.createMarker(s"$path/content")
  }

  test("cleanup NEVER sweeps a live writer's unmanifested stage — even " +
    "at a sequence that already committed (ADVICE r12 #1: the " +
    "concurrent-first-build partial-generation race); dead same-host " +
    "writers are swept, cross-host writers only by age") {
    val dir = tempDir("graft_commit_race")
    val t = "tbl"
    try {
      // writer A stages and commits generation 1
      val gA = LakeCommit.stage(dir, t)
      mkGen(gA)
      assert(LakeCommit.commit(dir, t, gA))
      val pid = java.lang.ProcessHandle.current.pid
      // writer B (this very process — provably ALIVE) still in flight
      // at the SAME sequence: the r12 sweep deleted this dir mid-write,
      // B's later parquet writes recreated it partially, and B's commit
      // published a corrupt generation. It must now survive any sweep.
      val gB = s"$dir/$t.g1-${LakeCommit.hostTag}-$pid-77777"
      mkGen(gB)
      LakeCommit.cleanup(dir, t)
      assert(new java.io.File(gB).exists,
        "a live writer's in-flight stage must survive cleanup")
      // a DEAD same-host writer's stage is provably lost → swept
      val gC = s"$dir/$t.g1-${LakeCommit.hostTag}-$DeadPid-1"
      mkGen(gC)
      LakeCommit.cleanup(dir, t)
      assert(!new java.io.File(gC).exists,
        "a dead same-host writer's stage must be swept")
      // a CROSS-HOST stage (ADVICE r12 #2): its pid is meaningless in
      // this host's process table — never provably dead, only the
      // stale-age rule may reclaim it
      val gD = s"$dir/$t.g1-hotherhost1234-$DeadPid-1"
      mkGen(gD)
      LakeCommit.cleanup(dir, t)
      assert(new java.io.File(gD).exists,
        "a cross-host stage must never be judged dead by local pid")
      LakeCommit.cleanup(dir, t, staleMs = -1) // every age is stale
      assert(!new java.io.File(gD).exists,
        "the age rule must still reclaim abandoned cross-host stages")
      // the committed generation was never touched by any of this
      assert(LakeCommit.currentGen(dir, t).contains(gA))
    } finally rm(dir)
  }

  test("commit refuses a staged generation that is not on disk " +
    "(ADVICE r12 #3): a swept stage fails loudly instead of becoming " +
    "a committed pointer to nothing") {
    val dir = tempDir("graft_commit_missing")
    try {
      val stage = LakeCommit.stage(dir, "tbl")
      val ex = intercept[IllegalArgumentException](
        LakeCommit.commit(dir, "tbl", stage))
      assert(ex.getMessage.contains("does not exist"))
    } finally rm(dir)
  }

  test("LakeCache recovers from a DANGLING manifest (ADVICE r12 #3): " +
    "a committed generation whose dir was lost reads as no-committed-" +
    "state and rebuilds, instead of wedging every ensure") {
    val tag = s"r13recovery"
    def ensure(): String =
      LakeCache.ensure(s"$d/documents.parquet", tag, "graft_test_recovery") {
        stage =>
          new java.io.File(stage).mkdirs()
          LakeCommit.createMarker(s"$stage/built")
      }
    val dir1 = ensure()
    assert(LakeCommit.exists(s"$dir1/built"))
    // simulate the lost generation: dir gone, manifest still points
    LakeCommit.deleteRecursive(dir1)
    assert(!LakeCommit.exists(dir1))
    val dir2 = ensure()
    assert(LakeCommit.exists(s"$dir2/built"),
      "ensure must rebuild behind a dangling manifest, not wedge")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_test_recovery"))
  }

  test("lake-cached frames: once built, a second call plans with no job") {
    def frames(): Unit = {
      operators.Extras.custSuppPairs(spark, d)
      operators.Extras.coOrderEdges(spark, d, "1997-01-01", "1998-01-01")
      operators.Llm.minhashVerifiedLake(spark, d)
    }
    frames()
    val jobs = TestSpark.jobsDuring(frames())
    assert(jobs == 0, s"$jobs jobs ran while planning the built frames")
    spark.catalog.clearCache()
  }

  test("writer lease (VERDICT r12 #3): a second writer is refused " +
    "while the lease is live, a stale lease is taken over, and a " +
    "crashed verb never wedges the table") {
    val e = Tables(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = tempDir("graft_lease")
    try {
      IvfIndex.build(spark, e.where(col("vec_id") < 100), dir, 16, 64, 1)
      val batch = e.where(col("vec_id") >= 100 && col("vec_id") < 120)
      // plant a LIVE foreign lease: every mutating verb must refuse
      val lease = new java.io.File(s"$dir/_manifests/index.lease")
      java.nio.file.Files.write(lease.toPath,
        s"hforeignhost0000:$DeadPid".getBytes("UTF-8"))
      val ex = intercept[IllegalArgumentException](
        IvfIndex.ingest(spark, dir, batch))
      assert(ex.getMessage.contains("lease"), ex.getMessage)
      assert(IvfIndex.assignments(spark, dir).count() == 100,
        "the refused verb must not have written anything")
      // age the lease past the TTL — the crashed foreign writer's
      // lease expires and the next writer takes over: never wedged
      assert(lease.setLastModified(
        System.currentTimeMillis() - LakeCommit.LeaseTtlMs - 60000))
      IvfIndex.ingest(spark, dir, batch)
      assert(IvfIndex.assignments(spark, dir).count() == 120)
      // the verb released its lease on exit — a follow-up verb from
      // this writer reacquires without any takeover wait
      IvfIndex.ingest(spark, dir,
        e.where(col("vec_id") >= 120 && col("vec_id") < 130))
      assert(IvfIndex.assignments(spark, dir).count() == 130)
      // re-entrancy is per thread: while thread A sits inside the lease,
      // a second thread of this same process is refused like a foreign
      // writer
      val entered = new java.util.concurrent.CountDownLatch(1)
      val leave = new java.util.concurrent.CountDownLatch(1)
      val a = new Thread(() =>
        LakeCommit.withLease(dir, "t") {
          LakeCommit.withLease(dir, "index") {
            entered.countDown()
            leave.await()
          }
        })
      a.start()
      try {
        entered.await()
        assert(!LakeCommit.acquireLease(dir, "t"),
          "a second thread must not re-enter another thread's lease")
        val exThread = intercept[IllegalArgumentException](
          IvfIndex.ingest(spark, dir,
            e.where(col("vec_id") >= 130 && col("vec_id") < 140)))
        assert(exThread.getMessage.contains("lease"), exThread.getMessage)
      } finally { leave.countDown(); a.join() }
      assert(IvfIndex.assignments(spark, dir).count() == 130,
        "the refused thread must not have written anything")
      // once thread A has left, this thread takes the lease normally
      LakeCommit.withLease(dir, "t")(())
    } finally rm(dir)
  }

  test("lease renewal: a heartbeat keeps a long verb's lease alive " +
    "past the TTL, so only CRASHED writers are taken over") {
    val dir = tempDir("graft_lease_renew")
    try {
      new java.io.File(s"$dir/_manifests").mkdirs()
      assert(LakeCommit.acquireLease(dir, "t", ttlMs = 60000))
      val lease = new java.io.File(s"$dir/_manifests/t.lease")
      // age the lease to the brink, then heartbeat: the mtime moves
      // forward and a competing writer is still refused
      assert(lease.setLastModified(System.currentTimeMillis() - 59000))
      LakeCommit.renewLease(dir, "t")
      assert(System.currentTimeMillis() - lease.lastModified < 5000,
        "renew must push the heartbeat forward")
      assert(LakeCommit.leaseHolder(dir, "t", ttlMs = 60000)
        .exists(_._2), "the renewed lease is still ours and live")
      LakeCommit.releaseLease(dir, "t")
      assert(!lease.exists, "release must delete the lease file")
    } finally rm(dir)
  }

  test("generation layout stamp (VERDICT r12 #6): an upgraded reader " +
    "refuses an old-layout generation and an old reader refuses a new " +
    "one — migration is explicit, never a silent misread") {
    val e = Tables(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val ivfDir = tempDir("graft_layout")
    val pqDir = tempDir("graft_layout_pq")
    val frameDir = tempDir("graft_layout_frame")
    try {
      IvfIndex.build(spark, e.where(col("vec_id") < 100), ivfDir, 16, 64, 1)
      IvfIndex.maintain(spark, ivfDir,
        e.where(col("vec_id") >= 100 && col("vec_id") < 110))
      PqIndex.build(spark, e.where(col("vec_id") < 200), pqDir)
      AnalyticFrames.buildCoOrder(spark,
        Tables(spark, d, "orders").where(col("o_orderkey") % 10 === 0),
        Tables(spark, d, "lineitem"), frameDir)
      // every stamped writer: (what, dir, table, layout, a serving read)
      val writers = Seq[(String, String, String, Int, () => Long)](
        ("ivf index", ivfDir, "index", IvfIndex.Layout,
          () => IvfIndex.assignments(spark, ivfDir).count()),
        ("maintlog", ivfDir, "maintlog", IvfIndex.Layout,
          () => IvfIndex.maintlog(spark, ivfDir).count()),
        ("pq index", pqDir, "pq", PqIndex.Layout,
          () => PqIndex.codes(spark, pqDir).count()),
        ("analytic frame", frameDir, "frame", AnalyticFrames.Layout,
          () => AnalyticFrames.coOrderEdges(spark, frameDir).count()))
      for ((what, dir, table, layout, serve) <- writers) {
        val gen = LakeCommit.currentGen(dir, table).get
        assert(LakeCommit.layoutOf(gen).contains(layout), what)
        // old reader / new generation: a reader pinned to layout N-1
        // must refuse what this code wrote
        val exOld = intercept[IllegalArgumentException](
          LakeCommit.servingGen(dir, table, layout - 1, "old reader"))
        assert(exOld.getMessage.contains("layout"), what)
        // new reader / old generation: strip the stamp (what a pre-r13
        // build looks like) — the serving accessor must refuse it
        LakeCommit.deleteFile(s"$gen/_layout_$layout")
        val exNew = intercept[IllegalArgumentException](serve())
        assert(exNew.getMessage.contains("layout"),
          s"$what: ${exNew.getMessage}")
      }
    } finally Seq(ivfDir, pqDir, frameDir).foreach(rm)
  }

  test("maintlog fold (VERDICT r12 #2): log_seq is read from the rows " +
    "— monotonic ACROSS a fold — the fold bounds the file count, and " +
    "every decision still replays from its stored numbers") {
    val e = Tables(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dir = tempDir("graft_maintfold")
    try {
      IvfIndex.build(spark, e.where(col("vec_id") < 200), dir, 16, 64, 1)
      def batch(i: Int) = e.where(
        col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
      (0 until 3).foreach(i => IvfIndex.maintain(spark, dir, batch(i)))
      val logGen0 = LakeCommit.currentGen(dir, "maintlog").get
      val preFiles = LakeCommit.dataFiles(s"$logGen0/log").length
      assert(preFiles == 3, s"one decision file per maintain ($preFiles)")
      MaintLog.fold(spark, dir, IvfIndex.Layout, "index")
      LakeCommit.cleanup(dir, "maintlog", retireMs = 0)
      val logGen1 = LakeCommit.currentGen(dir, "maintlog").get
      assert(logGen1 != logGen0, "the fold must publish a new generation")
      assert(LakeCommit.dataFiles(s"$logGen1/log").length == 1,
        "the fold must collapse the decision files")
      // decisions continue AFTER the fold with uninterrupted log_seq
      (3 until 5).foreach(i => IvfIndex.maintain(spark, dir, batch(i)))
      val logs = IvfIndex.maintlog(spark, dir).orderBy("log_seq").collect()
      assert(logs.map(_.getLong(0)).toSeq == (1L to 5L),
        s"log_seq must stay monotonic across the fold " +
          s"(${logs.map(_.getLong(0)).toSeq})")
      // the replay law survives the fold: every row's decision
      // recomputes from its own stored integer moments
      logs.foreach { r =>
        val drifted = IvfIndex.driftT2Micro(
          r.getSeq[Long](3), r.getSeq[Long](4), r.getLong(5),
          r.getSeq[Long](6), r.getLong(7)) > r.getLong(9)
        assert(drifted == (r.getString(2) == "retrain"))
      }
    } finally rm(dir)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.AnalyticFrames

/** Round 12 (VERDICT r11 #6): the materialized analytic frames accept
  * ∝-batch appends instead of full rebuilds. The binding law for every
  * frame: build-on-part + ingest-the-rest ≡ derive-everything, files
  * append-only between publishes, and compaction folds segments without
  * changing what the frame serves.
  */
class AnalyticFramesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  private def frameFiles(dir: String, sub: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val g = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("frame.g"))
    assert(g.length == 1, s"expected one committed generation: ${g.toSeq}")
    walk(new java.io.File(g.head, sub))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  test("co-order frame: build + two ∝-batch ingests ≡ full derivation; " +
    "append-only segments; compact folds without changing the served set") {
    val orders = Tables(spark, d, "orders")
    val lines = Tables(spark, d, "lineitem")
    val dir = tempDir("graft_frame_coorder")
    try {
      val base = orders.where(col("o_orderkey") % 5 =!= 0)
      AnalyticFrames.buildCoOrder(spark, base, lines, dir)
      val before = frameFiles(dir, "edges")
      AnalyticFrames.ingestCoOrder(spark, dir,
        orders.where(col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 2 === 0), lines)
      AnalyticFrames.ingestCoOrder(spark, dir,
        orders.where(col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 2 =!= 0), lines)
      assert(before.subsetOf(frameFiles(dir, "edges")),
        "ingest must never rewrite stored segments")
      def served: Set[(Long, Long)] = AnalyticFrames.coOrderEdges(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = operators.Extras.coOrderEdgesFrom(orders, lines)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = served
      assert(got == full, "accumulated frame must equal the full derivation")
      AnalyticFrames.compactCoOrder(spark, dir)
      assert(served == full, "compaction must not change the served set")
      // round 13 (ADVICE r12 #4): the superseded generation outlives
      // the publish for the retention window; the aged sweep retires it
      assert(new java.io.File(dir).listFiles
        .count(f => f.isDirectory && f.getName.startsWith("frame.g")) == 2)
      graft.config.LakeCommit.cleanup(dir, "frame", retireMs = 0)
      assert(new java.io.File(dir).listFiles
        .count(f => f.isDirectory && f.getName.startsWith("frame.g")) == 1)
    } finally rm(dir)
  }

  test("cust-supp frame: additive partials merge-on-read to the full " +
    "aggregate; compact folds them") {
    val orders = Tables(spark, d, "orders")
    val lines = Tables(spark, d, "lineitem")
    val dir = tempDir("graft_frame_custsupp")
    try {
      AnalyticFrames.buildCustSupp(spark,
        orders.where(col("o_orderkey") % 3 === 0), lines, dir)
      AnalyticFrames.ingestCustSupp(spark, dir,
        orders.where(col("o_orderkey") % 3 === 1), lines)
      AnalyticFrames.ingestCustSupp(spark, dir,
        orders.where(col("o_orderkey") % 3 === 2), lines)
      def served: Map[(Long, Long), Long] =
        AnalyticFrames.custSuppPairs(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val full = operators.Extras.custSuppPairsFrom(orders, lines)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(served == full,
        "summed partials must equal the full aggregate")
      AnalyticFrames.compactCustSupp(spark, dir)
      assert(served == full)
    } finally rm(dir)
  }

  test("near-dup pair frame: registry-backed ∝-batch ingests accumulate " +
    "exactly the full recompute's verified pairs") {
    val docs = Tables(spark, d, "documents").select("doc_id", "text")
    val dir = tempDir("graft_frame_neardup")
    try {
      AnalyticFrames.buildNearDupPairs(spark,
        docs.where(col("doc_id") < 300), dir)
      AnalyticFrames.ingestNearDupPairs(spark, dir,
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400))
      AnalyticFrames.ingestNearDupPairs(spark, dir,
        docs.where(col("doc_id") >= 400))
      val served = AnalyticFrames.nearDupPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = operators.Llm.minhashVerified(docs)
        .where(col("est_jaccard") >= config.SketchRegistry.JaccardMin)
        .select("d1", "d2", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      assert(served == full,
        "accumulated pair frame must equal the full recompute")
      assert(served.nonEmpty)
      // round 13 (VERDICT r12 #2): the pair frame now has its compact
      // verb — fold the per-ingest segments, serve the same set, keep
      // ingesting afterwards (the folded registry still answers)
      def pairSegs(): Int = {
        graft.config.LakeCommit.cleanup(dir, "frame", retireMs = 0)
        frameFiles(dir, "pairs").size
      }
      val preFold = pairSegs()
      assert(preFold >= 3, s"build + 2 ingests must leave >=3 segments")
      AnalyticFrames.compactNearDupPairs(spark, dir)
      assert(pairSegs() < preFold,
        "compaction must fold the per-ingest pair segments")
      val afterFold = AnalyticFrames.nearDupPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(afterFold == full,
        "compaction must not change the served pair set")
    } finally rm(dir)
  }

  test("streaming ORDER batches drive the co-order frame through " +
    "foreachBatch, across a mid-stream compact: served set == the full " +
    "derivation (r13 — VERDICT r12 #5, the graph-frame half)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val orders = Tables(spark, d, "orders")
    val lines = Tables(spark, d, "lineitem")
    val dir = tempDir("graft_frame_stream_coorder")
    try {
      AnalyticFrames.buildCoOrder(spark,
        orders.where(col("o_orderkey") % 3 === 0), lines, dir)
      val rest = orders.where(col("o_orderkey") % 3 =!= 0)
        .select("o_orderkey").collect().map(_.getLong(0))
      val input = MemoryStream[Long]
      val q = input.toDF().toDF("o_orderkey")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // an epoch carries COMPLETE orders (the ingest contract):
          // batch = the arriving order keys; their rows come from the
          // lake's orders/lineitem tables keyed by them
          AnalyticFrames.ingestCoOrder(spark, dir,
            orders.join(batch, Seq("o_orderkey"), "left_semi"), lines)
        }
        .start()
      input.addData(rest.take(rest.length / 2).toSeq)
      q.processAllAvailable()
      AnalyticFrames.compactCoOrder(spark, dir)
      input.addData(rest.drop(rest.length / 2).toSeq)
      q.processAllAvailable()
      q.stop()
      val served = AnalyticFrames.coOrderEdges(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = operators.Extras.coOrderEdgesFrom(orders, lines)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == full,
        "streamed co-order ingest across a compact must equal the full " +
          "derivation")
    } finally rm(dir)
  }

  test("streaming doc batches drive the near-dup pair frame through " +
    "foreachBatch, across a MID-STREAM compact: final frame == the " +
    "batch-built frame (r13 — VERDICT r12 #5)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, d, "documents").select("doc_id", "text")
    val dir = tempDir("graft_frame_stream")
    try {
      AnalyticFrames.buildNearDupPairs(spark,
        docs.where(col("doc_id") < 300), dir)
      val rows = docs.where(col("doc_id") >= 300).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          AnalyticFrames.ingestNearDupPairs(spark, dir, batch)
        }
        .start()
      // epoch 1 → compact (the frame must keep accepting appends after
      // a generation swap) → epoch 2; processAllAvailable pins the
      // epoch boundaries, as in IvfSpec's policy loop
      input.addData(rows.take(100).toSeq)
      q.processAllAvailable()
      AnalyticFrames.compactNearDupPairs(spark, dir)
      input.addData(rows.drop(100).toSeq)
      q.processAllAvailable()
      q.stop()
      val served = AnalyticFrames.nearDupPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = operators.Llm.minhashVerified(docs)
        .where(col("est_jaccard") >= config.SketchRegistry.JaccardMin)
        .select("d1", "d2", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      assert(served == full,
        "streamed ingest across a compact must equal the full recompute")
    } finally rm(dir)
  }
}

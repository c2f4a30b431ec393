package graft

import graft.config.SketchRegistry
import graft.operators.Llm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted near-dup sketch registry (config.SketchRegistry): the
  * lake-state twin of llm_incremental_neardup. Pins
  *  (1) ingest pairs == the full minhashVerified recompute restricted to
  *      the batch (the declared key's exact semantics),
  *  (2) multi-batch sequential ingest == one full recompute over the
  *      same split point (state accumulated across ingests is exact),
  *  (3) append-only storage: ingest never rewrites an existing registry
  *      file (the untouched-partition law of the Pipeline tables).
  */
class RegistrySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = Tables(spark, sf, "documents")

  private def fullPairs(d2Min: Long): Set[(Long, Long, Double)] =
    Llm.minhashVerified(docs, Some(d2Min))
      .where(col("est_jaccard") >= SketchRegistry.JaccardMin)
      .select("d1", "d2", "est_jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  private def got(pairs: DataFrame): Set[(Long, Long, Double)] =
    pairs.select("dup_of", "new_id", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def files(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Set.empty
    else d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
  }

  test("ingest == full recompute for the batch; registry files append-only") {
    val dir = tempDir("graft_registry")
    SketchRegistry.build(spark, docs.where(col("doc_id") < 400), dir)
    spark.catalog.clearCache()
    val before = files(s"$dir/shingles") ++ files(s"$dir/bands")
    assert(before.nonEmpty)

    val pairs = SketchRegistry.ingest(
      spark, dir, docs.where(col("doc_id") >= 400))
    val expected = fullPairs(400L)
    assert(expected.nonEmpty, "fixture must contain cross-batch near-dups")
    assert(got(pairs) === expected)
    spark.catalog.clearCache()

    // append-only: every pre-ingest file is still present, untouched
    val after = files(s"$dir/shingles") ++ files(s"$dir/bands")
    assert(before.subsetOf(after), "ingest must not rewrite registry files")
    assert(after.size > before.size, "ingest must append the batch state")
  }

  test("two sequential ingests accumulate exact state") {
    val dir = tempDir("graft_registry2")
    SketchRegistry.build(spark, docs.where(col("doc_id") < 300), dir)
    val p1 = got(SketchRegistry.ingest(spark, dir,
      docs.where(col("doc_id") >= 300 && col("doc_id") < 400)))
    // batch 2 must see batch 1's docs as stored corpus state
    val p2 = got(SketchRegistry.ingest(spark, dir,
      docs.where(col("doc_id") >= 400)))
    spark.catalog.clearCache()
    assert(p1.forall(_._2 < 400) && p2.forall(_._2 >= 400))
    // pairs with d2 >= 300 from ONE full recompute == union of the two
    // incremental emissions (d2 ∈ [300,400) surfaces in ingest 1,
    // d2 >= 400 in ingest 2 — including d1 ∈ [300,400) vs stored state)
    assert((p1 ++ p2) === fullPairs(300L))
  }

  test("declared llm_incremental_neardup_registry == the recompute twin; " +
    "the fingerprinted corpus registry is built once and reused (r9)") {
    def run() = SparkEntry.queries("llm_incremental_neardup_registry")(
        spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaRegistry = run()
    spark.catalog.clearCache()
    val viaRecompute = SparkEntry.queries("llm_incremental_neardup")(
        spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    spark.catalog.clearCache()
    // same rows, same order — the two keys share one oracle
    assert(viaRegistry === viaRecompute)
    assert(viaRegistry.nonEmpty)
    // reuse: the second run resolves the same fingerprinted dir without
    // rebuilding (no file in it is newer than after the first run)
    val dir = SketchRegistry.ensureCorpusRegistry(spark, sf, 400L)
    // the dir's own mtime is the retention sweep's LRU clock (touched on
    // every ensure) — no-rebuild is pinned by the CONTENT files' mtimes
    def contentStamps(d: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).map(f => f.getPath -> f.lastModified).toMap
    }
    val stamps = contentStamps(dir)
    val again = run()
    spark.catalog.clearCache()
    assert(again === viaRegistry)
    assert(SketchRegistry.ensureCorpusRegistry(spark, sf, 400L) == dir)
    assert(contentStamps(dir) == stamps,
      "second run must reuse the built registry, not rebuild it")
  }

  test("LakeCache retention: superseded fingerprints swept to the keep " +
    "cap, the just-served dir always survives (r11)") {
    import graft.config.LakeCache
    val rootName = s"graft_lakecache_spec_${System.nanoTime()}"
    val root = new java.io.File(sys.props("java.io.tmpdir"), rootName)
    val srcF = new java.io.File(tempDir("graft_lc_src"), "src.txt")
    try {
      java.nio.file.Files.write(srcF.toPath, "state".getBytes)
      // K rebuilds beyond the cap: each tag is a new fingerprint (the
      // nightly-ingest churn shape — same source, evolving recipe)
      val dirs = (1 to LakeCache.KeepFingerprints + 5).map { i =>
        val d = LakeCache.ensure(srcF.getPath, s"tag=$i", rootName) { tmp =>
          new java.io.File(tmp).mkdirs()
          java.nio.file.Files.write(
            new java.io.File(tmp, "state.bin").toPath, s"v$i".getBytes)
        }
        // distinct LRU stamps even when the loop outruns mtime
        // granularity
        new java.io.File(d).setLastModified(1700000000000L + i * 60000L)
        d
      }
      val kept = root.listFiles
        .filter(f => f.isDirectory && f.getName != "_manifests")
        .map(_.getName).toSet
      assert(kept.size == LakeCache.KeepFingerprints,
        s"sweep must cap retained fingerprints (${kept.size})")
      // the newest dirs survive, the oldest were swept
      assert(kept.contains(new java.io.File(dirs.last).getName))
      assert(!kept.contains(new java.io.File(dirs.head).getName))
      // a re-ensure of a RETAINED fingerprint serves without rebuilding
      var rebuilt = false
      val served = LakeCache.ensure(srcF.getPath,
        s"tag=${dirs.length}", rootName)(_ => rebuilt = true)
      assert(served == dirs.last && !rebuilt)
      // a re-ensure of a SWEPT fingerprint transparently rebuilds
      val back = LakeCache.ensure(srcF.getPath, "tag=1", rootName) { tmp =>
        new java.io.File(tmp).mkdirs()
        java.nio.file.Files.write(
          new java.io.File(tmp, "state.bin").toPath, "v1".getBytes)
      }
      assert(new java.io.File(back, "state.bin").isFile)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      srcF.delete()
    }
  }

  test("LakeCache manifest-pointer commit (r12 — VERDICT r11 #1 + " +
    "advice #4): an uncommitted stage never serves; dead-writer stages " +
    "— including legacy .tmp. dirs — are swept; the manifest creation " +
    "is the ONLY publish point") {
    import graft.config.{LakeCache, LakeCommit}
    val rootName = s"graft_lakecommit_spec_${System.nanoTime()}"
    val root = new java.io.File(sys.props("java.io.tmpdir"), rootName)
    val srcF = new java.io.File(tempDir("graft_lc2_src"), "src.txt")
    try {
      java.nio.file.Files.write(srcF.toPath, "state".getBytes)
      // 1. a COMPLETE stage without a manifest resolves to nothing —
      //    the crashed-before-commit state can never serve
      val stage = LakeCommit.stage(root.toString, "orphantable")
      new java.io.File(stage).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(stage, "state.bin").toPath, "built".getBytes)
      assert(LakeCommit.currentGen(root.toString, "orphantable").isEmpty,
        "staged-but-uncommitted state must not resolve")
      // 2. commit IS the publish point: one file creation flips it
      assert(LakeCommit.commit(root.toString, "orphantable", stage))
      assert(LakeCommit.currentGen(root.toString, "orphantable")
        .contains(stage))
      // 3. dead-writer stages are swept by the retention pass — the new
      //    generation naming AND the legacy .tmp. naming the r11 sweep
      //    excluded forever (advice #4); live state survives
      val deadGen = new java.io.File(root, "deadfp.g1-999999999")
      deadGen.mkdirs()
      val deadTmp = new java.io.File(root, "deadfp2.tmp.999999999")
      deadTmp.mkdirs()
      val served = LakeCache.ensure(srcF.getPath, "tag=x", rootName) { tmp =>
        new java.io.File(tmp).mkdirs()
        java.nio.file.Files.write(
          new java.io.File(tmp, "state.bin").toPath, "vx".getBytes)
      }
      assert(!deadGen.exists, "dead-pid stage must be swept")
      assert(!deadTmp.exists, "legacy dead-pid .tmp. dir must be swept")
      assert(new java.io.File(served, "state.bin").isFile)
      assert(LakeCache.isManaged(served),
        "served caches must carry the immutability marker")
      // 4. an ALIVE writer's in-flight stage is never killed
      val aliveStage = new java.io.File(root,
        s"inflight.g1-${java.lang.ProcessHandle.current.pid}")
      aliveStage.mkdirs()
      LakeCache.ensure(srcF.getPath, "tag=x", rootName)(_ =>
        fail("retained fingerprint must serve without rebuilding"))
      assert(aliveStage.exists,
        "an in-flight stage with a live writer must survive the sweep")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      srcF.delete()
    }
  }
}

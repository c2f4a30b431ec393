package graft

import graft.sources.Sources
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("json ingest: explicit schema and inference agree on typed rows") {
    val d = Files.createTempDirectory("graft_src").toString
    val json = Seq(
      """{"id": 1, "name": "a", "score": 1.5}""",
      """{"id": 2, "name": "b", "score": 2.5}""")
    Files.write(java.nio.file.Paths.get(s"$d/in.json"),
      json.mkString("\n").getBytes)
    val typed = Sources.readJson(spark, s"$d/in.json", schema)
    assert(typed.schema == schema)
    assert(typed.count() == 2)
    val inferred = Sources.inferJson(spark, s"$d/in.json")
    assert(inferred.select("id", "name", "score").count() == 2)
  }

  test("csv ingest: header + typed casting") {
    val d = Files.createTempDirectory("graft_csv").toString
    Files.write(java.nio.file.Paths.get(s"$d/in.csv"),
      "id,name,score\n1,a,1.5\n2,b,2.5\n".getBytes)
    val df = Sources.readCsv(spark, s"$d/in.csv", schema)
    assert(df.schema == schema)
    assert(df.agg(sum("score")).as[Double].head() == 4.0)
  }

  test("text ingest: per-line and whole-file modes (r8)") {
    val d = Files.createTempDirectory("graft_txt").toString
    Files.write(java.nio.file.Paths.get(s"$d/a.txt"),
      "line one\nline two\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$d/b.txt"),
      "doc two body\n".getBytes)
    val lines = Sources.readText(spark, d)
    assert(lines.columns.toSeq == Seq("value"))
    assert(lines.count() == 3)
    val docs = Sources.readText(spark, d, whole = true)
    assert(docs.count() == 2) // one row per FILE
    val bodies = docs.collect().map(_.getString(0)).sorted
    assert(bodies.exists(_.contains("line one\nline two")),
      s"whole-file mode must keep newlines: ${bodies.toSeq}")
  }

  test("partitioned sink lays out by event_date and prunes on read") {
    val d = Files.createTempDirectory("graft_lake").toString
    val df = Seq(
      (1L, TestSpark.ts("2024-01-01 10:00:00")),
      (2L, TestSpark.ts("2024-01-02 10:00:00")))
      .toDF("id", "ts")
    Sources.sinkPartitioned(df, "ts", s"$d/lake")
    assert(new java.io.File(s"$d/lake/event_date=2024-01-01").isDirectory)
    val pruned = spark.read.parquet(s"$d/lake")
      .where(col("event_date") === "2024-01-02")
    assert(pruned.count() == 1)
    // partition pruning visible in the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"))
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val d = Files.createTempDirectory("graft_orc").toString
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    Sources.sinkOrc(li, s"$d/li_orc")
    val back = Sources.readOrc(spark, s"$d/li_orc")
    assert(back.count() == li.count())
    assert(back.agg(sum("l_quantity")).head().getDouble(0) ==
      li.agg(sum("l_quantity")).head().getDouble(0))
    // ORC scans carry pushdown + pruning like parquet
    val q = back.where(col("l_orderkey") === 1L).select("l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)"),
      s"ORC scan must carry the pushed filter:\n$plan")
    assert(q.count() > 0)
  }

  test("jdbc round-trip: sink to embedded Derby, partition-parallel read back") {
    // Derby ships in /opt/spark/jars — an in-JVM warehouse stand-in, so
    // the R1/R2 JDBC interop claim is exercised with real rows moving
    // over a real JDBC connection, no network.
    val d = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$d/db;create=true"
    val props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val df = (1L to 100L).map(i => (i, s"name_$i", i * 1.5))
      .toDF("id", "name", "score")
    Sources.writeJdbc(df, url, "events_wh", props)
    val back = Sources.readJdbc(spark, url, "events_wh", "id", 1L, 100L, 3, props)
    // the partition column split the read into range-bounded cursors
    assert(back.rdd.getNumPartitions == 3)
    assert(back.count() == 100)
    val r = back.where(col("id") === 42L).collect().head
    assert(r.getAs[String]("name") == "name_42" && r.getAs[Double]("score") == 63.0)
    assert(back.agg(sum("id")).as[Long].head() == 5050L)
    // documented contract is APPEND: a second write doubles the rows
    Sources.writeJdbc(df, url, "events_wh", props)
    assert(Sources.readJdbc(spark, url, "events_wh", "id", 1L, 100L, 2, props)
      .count() == 200)
  }

  test("schema evolution: added + renamed columns keep v1 data queryable") {
    val d = Files.createTempDirectory("graft_evo").toString
    // v1 snapshot: (id, amt) — the original schema
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt")
      .write.parquet(s"$d/lake/v=1")
    // v2 snapshot: amt RENAMED to total_amount, region ADDED
    Seq((3L, 30.0, "eu"), (4L, 40.0, "us"))
      .toDF("id", "total_amount", "region")
      .write.parquet(s"$d/lake/v=2")
    val df = Sources.readEvolved(spark, s"$d/lake",
      renames = Map("amt" -> "total_amount"),
      casts = Map("total_amount" -> "decimal(12,2)"))
    assert(df.count() == 4)
    assert(!df.columns.contains("amt"))
    val byId = df.select("id", "total_amount", "region")
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1).doubleValue(), Option(r.getString(2))))).toMap
    // v1 rows surface under the canonical name, with the added column null
    assert(byId(1L) == ((10.0, None)) && byId(2L) == ((20.0, None)))
    assert(byId(3L) == ((30.0, Some("eu"))) && byId(4L) == ((40.0, Some("us"))))
    // the whole lake is queryable with the v2 schema
    assert(df.where(col("region") === "us").count() == 1)
  }

  test("schema evolution: widened int->long type drift via readVersioned") {
    val d = Files.createTempDirectory("graft_evo2").toString
    Seq((1L, 7), (2L, 8)).toDF("id", "amount")          // amount: INT
      .write.parquet(s"$d/v1")
    Seq((3L, 9L)).toDF("id", "amount")                  // amount: BIGINT
      .write.parquet(s"$d/v2")
    // int32 vs int64 footers cannot schema-merge at scan time
    intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(s"$d/v1", s"$d/v2")
        .collect()
    }
    val df = Sources.readVersioned(spark, Seq(s"$d/v1", s"$d/v2"),
      (v, _) => v.withColumn("amount", col("amount").cast("long")))
    assert(df.schema("amount").dataType == LongType)
    assert(df.agg(sum("amount")).as[Long].head() == 24L)
  }

  test("binaryFile source feeds the multimodal column end-to-end") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{Media, MediaHeaderCodec, MediaRow}
    val d = Files.createTempDirectory("graft_bin").toString
    // real JDK-encoded objects on disk — the crawl-ingest shape
    val img = new java.awt.image.BufferedImage(
      9, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    assert(javax.imageio.ImageIO.write(img, "png", new java.io.File(s"$d/a.png")))
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val pcm = new Array[Byte](3200)
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 1600L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE,
      new java.io.File(s"$d/b.wav"))
    Files.writeString(java.nio.file.Paths.get(s"$d/notes.txt"), "not media")

    // glob prunes at listing time: the txt never costs a byte fetch
    val bin = Sources.readBinary(spark, d, "*.{png,wav}")
    assert(bin.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val rows = bin.select("path", "content")
      .as[(String, Array[Byte])].collect()
    assert(rows.length == 2)
    val mediaRows = rows.zipWithIndex.map { case ((p, c), i) =>
      val mime = if (p.endsWith(".png")) "image/png" else "audio/wav"
      MediaRow(i.toLong, Media(c, mime, Map("path" -> p)))
    }
    val feats = Multimodal
      .decodeFeatures(spark.createDataset(mediaRows.toSeq), MediaHeaderCodec)
      .collect().map(f => f.mime -> f.features).toMap
    // [w, h, depth, channels, ...] for the png; [rate, ch, bits, dur...] wav
    assert(feats("image/png").take(2).sameElements(Array(9f, 6f)))
    assert(feats("audio/wav").take(3).sameElements(Array(16000f, 1f, 16f)))
    assert(feats.values.forall(_(6) == 1f), "both containers must parse")
  }

  test("small-file compaction: fewer files, same rows, target-sized output") {
    val d = Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate streaming-ingest debris: 16 one-partition micro-batch writes
    spark.range(4000L).select(col("id"), (col("id") * 3).as("v"))
      .repartition(16)
      .write.parquet(d)
    val fsPath = new org.apache.hadoop.fs.Path(d)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(): Array[org.apache.hadoop.fs.FileStatus] = fs.listStatus(fsPath)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val before = parts()
    assert(before.length == 16)
    val total = before.map(_.getLen).sum
    // target = just over half the bytes → exactly 2 output files
    val (nBefore, nAfter) =
      Sources.compactSmallFiles(spark, d, targetBytes = total / 2 + 1)
    assert(nBefore == 16 && nAfter == 2)
    assert(parts().length == 2, "published dir must hold the compacted files")
    // contents survive byte-for-byte (same rows, same values)
    val got = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == (0L until 4000L).map(i => (i, i * 3)))
    // and the temp/retired dirs are gone — no debris for the next listing
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d + ".compacting")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d + ".compacted_old")))
  }

  test("jdbc upsert: staged MERGE keeps latest on conflicting keys, no dup rows " +
    "(r8 — the R9 idempotent-reimport contract at the warehouse boundary)") {
    val d = Files.createTempDirectory("graft_derby_upsert").toString
    val url = s"jdbc:derby:$d/db;create=true"
    val props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val b1 = (1L to 50L).map(i => (i, s"v1_$i", i * 1.0)).toDF("id", "name", "score")
    // first load creates the target from the staging shape
    Sources.upsertJdbc(b1, url, "wh_users", Seq("id"), "standard", props)
    val read1 = Sources.readJdbc(spark, url, "wh_users", "id", 1L, 100L, 2, props)
    assert(read1.count() == 50)
    // second batch: 20 conflicting keys (updated values) + 10 new keys
    val b2 = ((31L to 60L).map(i => (i, s"v2_$i", i * 2.0))).toDF("id", "name", "score")
    Sources.upsertJdbc(b2, url, "wh_users", Seq("id"), "standard", props)
    val read2 = Sources.readJdbc(spark, url, "wh_users", "id", 1L, 100L, 2, props)
    // no duplicates: 50 originals + 10 new
    assert(read2.count() == 60, s"got ${read2.count()}")
    assert(read2.select("id").distinct().count() == 60)
    // conflicting keys keep the LATEST batch's values
    val r42 = read2.where(col("id") === 42L).collect().head
    assert(r42.getAs[String]("name") == "v2_42" && r42.getAs[Double]("score") == 84.0)
    // untouched keys keep their original values
    val r10 = read2.where(col("id") === 10L).collect().head
    assert(r10.getAs[String]("name") == "v1_10")
    // re-importing the SAME batch is a no-op on counts (idempotent)
    Sources.upsertJdbc(b2, url, "wh_users", Seq("id"), "standard", props)
    assert(Sources.readJdbc(spark, url, "wh_users", "id", 1L, 100L, 2, props)
      .count() == 60)
    // the staging table was dropped after the merge
    intercept[Exception] {
      Sources.readJdbc(spark, url, "wh_users_staging", "id", 1L, 10L, 1, props)
        .count()
    }
  }

  test("jdbc upsert: the PostgreSQL merge text is the documented " +
    "ON CONFLICT form (pinned — no server in the harness)") {
    val sql = Sources.upsertSql("postgresql", "wh_users", "wh_users_staging",
      Seq("id", "name", "score"), Seq("id"))
    assert(sql ==
      """INSERT INTO wh_users ("id", "name", "score")
        |SELECT "id", "name", "score" FROM wh_users_staging
        |ON CONFLICT ("id") DO UPDATE SET "name" = EXCLUDED."name", "score" = EXCLUDED."score"""".stripMargin)
    // all-key tables degrade to DO NOTHING (no non-key columns to update)
    assert(Sources.upsertSql("postgresql", "t", "s", Seq("a", "b"), Seq("a", "b"))
      .endsWith("""ON CONFLICT ("a", "b") DO NOTHING"""))
    intercept[IllegalArgumentException] {
      Sources.upsertSql("mysql", "t", "s", Seq("a"), Seq("a"))
    }
  }

  test("manifested publish: each publish commits a generation; superseded ones retire") {
    import graft.config.LakeCommit
    import graft.sources.Sources
    val d = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val t = s"$d/tbl"
    import spark.implicits._
    def current = LakeCommit.currentGen(t, Sources.ManifestTable)
    def gens = new java.io.File(t).list()
      .filter(_.startsWith(s"${Sources.ManifestTable}.g")).toSet
    val g1 = Sources.publishVersion(spark, t, (1L to 10L).toDF("x"))
    assert(current.contains(g1))
    assert(Sources.readCurrent(spark, t).count() == 10)
    val g2 = Sources.publishVersion(spark, t, (1L to 20L).toDF("x"))
    assert(g2 != g1 && current.contains(g2))
    assert(Sources.readCurrent(spark, t).count() == 20)
    val g3 = Sources.publishVersion(spark, t, (1L to 30L).toDF("x"))
    assert(Sources.readCurrent(spark, t).count() == 30)
    // superseded generations stay for the retention window, so a reader
    // that resolved g1 or g2 before a commit keeps its files
    val name = (g: String) => new java.io.File(g).getName
    assert(gens == Set(g1, g2, g3).map(name), gens.mkString(","))
    // past the window (0 here) only the serving generation is left
    LakeCommit.cleanup(t, Sources.ManifestTable, retireMs = 0L)
    assert(gens == Set(name(g3)), gens.mkString(","))
    assert(current.contains(g3) && Sources.readCurrent(spark, t).count() == 30)
  }

  test("crashed stage: uncommitted generation stays invisible; next publish succeeds") {
    import graft.config.LakeCommit
    import graft.sources.Sources
    val d = java.nio.file.Files.createTempDirectory("graft_dangling").toString
    val t = s"$d/tbl"
    import spark.implicits._
    val g1 = Sources.publishVersion(spark, t, (1L to 10L).toDF("x"))
    // crashed publish: a complete stage written, never committed
    val crashed = LakeCommit.stage(t, Sources.ManifestTable)
    (1L to 99L).toDF("x").write.parquet(crashed)
    assert(LakeCommit.currentGen(t, Sources.ManifestTable).contains(g1))
    assert(Sources.readCurrent(spark, t).count() == 10)
    val g2 = Sources.publishVersion(spark, t, (1L to 30L).toDF("x"))
    assert(g2 != crashed &&
      LakeCommit.currentGen(t, Sources.ManifestTable).contains(g2))
    assert(Sources.readCurrent(spark, t).count() == 30)
    // the superseded generation keeps its retention window
    assert(new java.io.File(g1).isDirectory)
  }

  test("manifested writers take the table's writer lease: a live foreign " +
    "lease refuses a publish and leaves the serving generation as it was") {
    import graft.config.{LakeCommit, Pipeline}
    val d = java.nio.file.Files.createTempDirectory("graft_pub_lease").toString
    val whole = s"$d/whole"
    val parted = s"$d/parted"
    def gen(dir: String) = LakeCommit.currentGen(dir, Sources.ManifestTable)
    def partGens = new java.io.File(parted).listFiles().toSeq
      .filter(_.getName.startsWith("__part=")).sortBy(_.getName).map(f => gen(f.getPath))
    def frame(n: Long) = (1L to n).toDF("x").withColumn("p", $"x" % 2)
    Sources.publishVersion(spark, whole, frame(10))
    Sources.publishPartitions(spark, parted, frame(10), "p")
    val wholeBefore = gen(whole)
    val partsBefore = partGens
    assert(wholeBefore.isDefined && partsBefore.size == 2 && partsBefore.forall(_.isDefined))

    // plant a LIVE foreign lease under each table: both verbs must refuse
    val leases = Seq(whole, parted).map { t =>
      val m = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t, "_manifests"))
      java.nio.file.Files.write(m.resolve(s"${Sources.ManifestTable}.lease"),
        "hforeignhost0000:1".getBytes("UTF-8"))
    }
    val e1 = intercept[IllegalArgumentException](
      Sources.publishVersion(spark, whole, frame(20)))
    val e2 = intercept[IllegalArgumentException](
      Sources.publishPartitions(spark, parted, frame(20), "p"))
    assert(e1.getMessage.contains("lease") && e2.getMessage.contains("lease"))
    assert(gen(whole) == wholeBefore && partGens == partsBefore)
    assert(Sources.readCurrent(spark, whole).count() == 10)
    // a table level holding only the lease's `_manifests` dir still
    // resolves as the partition layout
    assert(gen(parted).isEmpty)
    assert(Pipeline.readTableCurrent(spark, d, "parted").count() == 10)

    // the foreign writer leaves: the next publish takes and releases the
    // lease, and the partition layout still resolves
    leases.foreach(java.nio.file.Files.delete)
    Sources.publishPartitions(spark, parted, frame(20), "p")
    assert(!new java.io.File(s"$parted/_manifests/${Sources.ManifestTable}.lease").exists)
    assert(gen(parted).isEmpty && partGens.forall(_.isDefined) && partGens != partsBefore)
    assert(Pipeline.readTableCurrent(spark, d, "parted").count() == 20)
  }

  test("crash window: a reader concurrent with publishes/compactions never " +
    "observes a partial table (r8 atomic-publish contract)") {
    import graft.sources.Sources
    val d = java.nio.file.Files.createTempDirectory("graft_crashwin").toString
    val t = s"$d/tbl"
    import spark.implicits._
    // invariant per version i: exactly 100·i rows, every row's tag == i
    def frame(i: Int) =
      (1 to 100 * i).map(_ => i).toDF("tag")
    Sources.publishVersion(spark, t, frame(1))
    @volatile var writerDone = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!writerDone) {
        try {
          val rows = Sources.readCurrent(spark, t)
            .groupBy("tag").count().collect()
          if (rows.length != 1)
            violations.add(s"mixed versions: ${rows.mkString(",")}")
          else {
            val (tag, n) = (rows(0).getInt(0), rows(0).getLong(1))
            if (n != 100L * tag)
              violations.add(s"partial version $tag: $n rows")
          }
        } catch {
          case e: Exception => violations.add(s"reader error: $e")
        }
      }
    })
    reader.start()
    for (i <- 2 to 8) {
      Sources.publishVersion(spark, t, frame(i))
      if (i % 3 == 0) Sources.compactManifested(spark, t)
    }
    // simulate a crash MID-publish: a staged generation with NO commit —
    // readers must keep seeing the last published version
    frame(99).write.parquet(
      graft.config.LakeCommit.stage(t, Sources.ManifestTable))
    val before = Sources.readCurrent(spark, t).groupBy("tag").count().collect()
    writerDone = true
    reader.join(60000)
    assert(violations.isEmpty,
      s"reader observed inconsistency: ${violations.toArray.mkString("; ")}")
    assert(before.length == 1 && before(0).getInt(0) == 8,
      s"dangling staged dir must stay invisible: ${before.mkString(",")}")
  }
}

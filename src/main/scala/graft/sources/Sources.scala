package graft.sources

import graft.config.LakeCommit
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** §2.A sources & sinks beyond the harness parquet tables (SURVEY.md).
  * These rows are declare=no (no file/DB fixture in the harness) but part
  * of the complete surface: a reference user ingests JSON/CSV exports and
  * reads/writes a PostgreSQL warehouse (R1/R2/R11).
  */
object Sources {

  /** Newline-delimited JSON ingest (HQ-export-API payload stand-in, R1).
    * With a schema the read is single-pass; `inferJson` double-reads (one
    * inference pass) — acceptable for small config-driven imports only.
    */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def inferJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** CSV ingest with header + typed casting (R export interop, R11). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Raw text ingest (round 8): one row per line (`value` STRING) —
    * the corpus-ingest entry for line-delimited raw dumps feeding
    * llm_text_normalize and friends; `whole = true` reads one row per
    * FILE (document-per-file layouts) — the text twin of the binaryFile
    * source. Splittable per-line mode scales with executors; whole-file
    * mode parallelizes across files (same posture as src_binary).
    */
  def readText(spark: SparkSession, path: String,
      whole: Boolean = false): DataFrame =
    spark.read.option("wholetext", whole.toString).text(path)

  /** Partition-parallel JDBC read (PostgreSQL warehouse interop, R1/R2).
    * `partitionColumn` splits the table into `numPartitions` range-bounded
    * queries so the read scales with executors instead of a single cursor.
    * Untestable in this harness (no DB); the option plumbing is the
    * documented Spark JDBC contract.
    */
  def readJdbc(
      spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Append to a warehouse table over JDBC (R2/R9). True upsert needs a
    * DB-side MERGE from a staging table — that path is [[upsertJdbc]];
    * Spark's own contract is append.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc").mode(SaveMode.Append)
      .option("url", url).option("dbtable", table)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }

  /** Warehouse UPSERT (round 8 — the R9 idempotent-reimport contract at
    * the JDBC boundary): stage the batch via Spark's parallel append
    * into a scratch table, run ONE server-side set-based merge into the
    * target, drop the scratch. Re-importing a batch therefore updates in
    * place instead of duplicating rows — the property the reference's
    * scheduled re-imports rely on.
    *
    * The merge statement is DIALECT-templated ([[upsertSql]]):
    *  - `"postgresql"` — `INSERT … ON CONFLICT (keys) DO UPDATE SET
    *    col = EXCLUDED.col` (the production warehouse; requires a unique
    *    index on the keys, created with the target on first load)
    *  - `"standard"` — SQL:2003 `MERGE INTO … WHEN MATCHED THEN UPDATE
    *    WHEN NOT MATCHED THEN INSERT` (Derby, DB2, SQL Server, Oracle;
    *    the harness exercises this end-to-end on embedded Derby)
    *
    * Contract: ONE row per key per batch (pre-aggregate upstream —
    * both dialects reject a batch that hits the same target row twice).
    * The staging write itself is executor-parallel; only the final merge
    * is a single set-based server statement, which is exactly where a
    * warehouse wants the work.
    */
  def upsertJdbc(
      df: DataFrame, url: String, table: String, keyCols: Seq[String],
      dialect: String = "postgresql",
      props: Map[String, String] = Map.empty): Unit = {
    require(keyCols.nonEmpty, "upsertJdbc: keyCols must be non-empty")
    val cols = df.columns.toSeq
    require(keyCols.forall(cols.contains),
      s"upsertJdbc: keys $keyCols not all in ${cols.mkString(",")}")
    val staging = s"${table}_staging"
    val w = df.write.format("jdbc").mode(SaveMode.Overwrite)
      .option("url", url).option("dbtable", staging)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
    withConnection(url, props) { conn =>
      val exists = {
        val md = conn.getMetaData
        // scope the probe to the connection's CURRENT schema (a
        // same-named table in another schema must not false-positive —
        // it would skip CREATE + PK setup and the merge would hit the
        // wrong table or fail), restrict to real TABLEs, and probe the
        // EXACT name alongside the per-dialect identifier folds
        // (Derby/Oracle upper, PostgreSQL lower) so quoted mixed-case
        // targets are found too
        val schema = try conn.getSchema catch { case _: Throwable => null }
        val types = Array("TABLE")
        def probe(name: String): Boolean = {
          val rs = md.getTables(null, schema, name, types)
          try rs.next() finally rs.close()
        }
        Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists(probe)
      }
      val st = conn.createStatement()
      try {
        if (!exists) {
          st.execute(
            s"CREATE TABLE $table AS SELECT * FROM $staging WITH NO DATA")
          if (dialect == "postgresql")
            // ON CONFLICT arbitration needs the unique index
            st.execute(s"ALTER TABLE $table ADD PRIMARY KEY " +
              keyCols.map(quoteId).mkString("(", ", ", ")"))
        }
        st.execute(upsertSql(dialect, table, staging, cols, keyCols))
        st.execute(s"DROP TABLE $staging")
      } finally st.close()
    }
  }

  /** `"` quoting — Spark's JDBC writer creates staging columns QUOTED
    * (case-preserved), so the merge text must reference them quoted too;
    * double-quote is the standard (and PostgreSQL/Derby) identifier
    * quote. */
  private def quoteId(c: String): String = "\"" + c + "\""

  /** The dialect-templated merge text — factored so specs can pin the
    * PostgreSQL statement without a server. */
  private[graft] def upsertSql(
      dialect: String, target: String, staging: String,
      cols: Seq[String], keyCols: Seq[String]): String = {
    val nonKeys = cols.filterNot(keyCols.contains)
    val colList = cols.map(quoteId).mkString(", ")
    dialect match {
      case "postgresql" =>
        val conflict =
          if (nonKeys.isEmpty) "DO NOTHING"
          else "DO UPDATE SET " +
            nonKeys.map(c => s"${quoteId(c)} = EXCLUDED.${quoteId(c)}")
              .mkString(", ")
        s"""INSERT INTO $target ($colList)
           |SELECT $colList FROM $staging
           |ON CONFLICT (${keyCols.map(quoteId).mkString(", ")}) $conflict"""
          .stripMargin
      case "standard" =>
        val on = keyCols.map(k => s"t.${quoteId(k)} = s.${quoteId(k)}")
          .mkString(" AND ")
        val matched =
          if (nonKeys.isEmpty) ""
          else "WHEN MATCHED THEN UPDATE SET " +
            nonKeys.map(c => s"t.${quoteId(c)} = s.${quoteId(c)}")
              .mkString(", ") + "\n"
        s"""MERGE INTO $target t USING $staging s ON ($on)
           |${matched}WHEN NOT MATCHED THEN INSERT ($colList)
           |VALUES (${cols.map(c => s"s.${quoteId(c)}").mkString(", ")})"""
          .stripMargin
      case other => throw new IllegalArgumentException(
        s"upsertJdbc: unknown dialect '$other' (postgresql | standard)")
    }
  }

  private def withConnection[T](
      url: String, props: Map[String, String])(f: java.sql.Connection => T): T = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, p)
    try f(conn) finally conn.close()
  }

  /** Date-partitioned lake layout (100 TB posture): partition pruning on
    * `event_date` is what turns full scans into day-range scans.
    */
  def sinkPartitioned(df: DataFrame, tsCol: String, outDir: String): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(outDir)

  /** Plain parquet sink (what Verify does for every declared query). */
  def sinkParquet(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(outDir)

  /** ORC read/write (round 4): the other columnar warehouse interchange
    * format Spark ships natively — same vectorized reader, predicate
    * pushdown, and column pruning posture as parquet (SourcesSpec pins
    * the round-trip and the pushed filter), so a reference user with an
    * ORC-based Hive warehouse can ingest without conversion.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def sinkOrc(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(outDir)

  /** Binary-object ingest (R1 × the multimodal north star): every media
    * object lands as one row — (path, modificationTime, length, content)
    * — off Spark's native binaryFile source, the crawl-ingest entry that
    * feeds the multimodal column (attach a mime from the path, wrap as
    * the Media struct, header-decode batch-wise; SourcesSpec runs that
    * loop end-to-end on JDK-encoded bytes). Listing and reads are
    * partition-parallel across files, and `pathGlobFilter` prunes at
    * LISTING time — non-matching objects cost a directory entry, never a
    * byte fetch.
    */
  def readBinary(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  // ------------------------------------------------------------------
  // R2 schema evolution — a migration-managed lake without a table format.
  // The reference's warehouse survives schema drift via SQL migrations;
  // the lake analog is versioned parquet snapshots whose schema changed
  // over time. Two read paths cover the drift taxonomy:
  //  - ADDED columns           → readEvolved (mergeSchema; old files NULL)
  //  - RENAMED columns         → readEvolved (coalesce into canonical name)
  //  - WIDENED / retyped cols  → readVersioned (parquet footers with e.g.
  //    int32 vs int64 CANNOT schema-merge at scan time; read each snapshot
  //    with its own schema, normalize, then unionByName)
  // ------------------------------------------------------------------

  /** Read a multi-snapshot lake dir with schema merging, then apply a
    * migration spec: `renames` maps old column name → canonical name
    * (values from files that used the old name are coalesced under the
    * canonical one — parquet has no aliasing, so rename IS coalesce);
    * `casts` maps column → target type, applied last so every version
    * lands on one canonical type. At 100 TB `mergeSchema` reads ALL file
    * footers — on a big lake pass a summary schema instead; the coalesce
    * layer itself is a zero-shuffle projection.
    */
  def readEvolved(
      spark: SparkSession, lakeDir: String,
      renames: Map[String, String] = Map.empty,
      casts: Map[String, String] = Map.empty): DataFrame = {
    val raw = spark.read.option("mergeSchema", "true").parquet(lakeDir)
    val renamed = renames.foldLeft(raw) { case (df, (oldName, canon)) =>
      val has = df.columns.map(_.toLowerCase).toSet
      if (has(oldName.toLowerCase) && has(canon.toLowerCase))
        df.withColumn(canon, coalesce(col(canon), col(oldName))).drop(oldName)
      else if (has(oldName.toLowerCase)) df.withColumnRenamed(oldName, canon)
      else df
    }
    casts.foldLeft(renamed) { case (df, (c, t)) =>
      if (df.columns.map(_.toLowerCase).contains(c.toLowerCase))
        df.withColumn(c, col(c).cast(t))
      else df
    }
  }

  /** Read snapshot dirs whose file-level types DIVERGED (mergeSchema would
    * fail on e.g. int32 vs int64 footers): each version is read with its
    * own schema, normalized by `migrate(df, versionIndex)` (casts/renames
    * per version), and the results are unioned by NAME with missing
    * columns null-filled — old data stays queryable under the newest
    * schema. Union of parquet scans = no shuffle; version index doubles as
    * provenance if `migrate` wants to stamp it.
    */
  def readVersioned(
      spark: SparkSession, versionDirs: Seq[String],
      migrate: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
    require(versionDirs.nonEmpty,
      "readVersioned: no snapshot dirs (an empty lake glob?)")
    versionDirs.zipWithIndex
      .map { case (dir, i) => migrate(spark.read.parquet(dir), i) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Small-file compaction (lake maintenance, round 7): rewrite a parquet
    * directory into ceil(totalBytes / targetBytes) files. Streaming
    * ingest (one file per micro-batch per partition) and incremental
    * merges accumulate thousands of KB-sized files; at 100 TB that turns
    * every downstream scan into a listing + footer-read + task-scheduling
    * storm (one task per file, seconds of overhead each) long before a
    * byte of data is read — periodic compaction to ~128 MB files is the
    * standing fix, and 128 MB ≈ one HDFS/object-store block ≈ one healthy
    * scan task.
    *
    * Shape: ONE wide rewrite — a round-robin repartition (no key, so no
    * skew risk) sized off the LISTED bytes, not a collect. The rewrite
    * lands in a sibling temp dir first and swaps in via two renames, so a
    * concurrent reader sees the old files or the new files, never a
    * half-written mix. The swap is directory-level best-effort (object
    * stores have no atomic rename — there, this utility is exactly the
    * compaction loop a table format (Iceberg/Delta) runs under a real
    * commit protocol; the Spark-side plan is identical).
    *
    * @return (files before, files after)
    */
  def compactSmallFiles(
      spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = hadoopFs(spark, path)
    val (nIn, nOut) = compactionPlan(spark, dir, targetBytes)
    val tmp = new Path(path.getParent, path.getName + ".compacting")
    fs.delete(tmp, true)
    spark.read.parquet(dir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(path.getParent, path.getName + ".compacted_old")
    fs.delete(old, true)
    require(fs.rename(path, old), s"compact: could not retire $path")
    require(fs.rename(tmp, path), s"compact: could not publish $tmp")
    fs.delete(old, true)
    (nIn, nOut)
  }

  private def hadoopFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (data files directly under `dir`, files a rewrite into
    * `targetBytes`-sized files produces). */
  private def compactionPlan(
      spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = hadoopFs(spark, p).listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val totalBytes = files.map(_.getLen).sum
    (files.length, math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt)
  }

  // ---- Manifested tables: every versioned table commits through
  // ---- [[graft.config.LakeCommit]] (stage a complete generation, commit
  // ---- by creating one manifest file, retire superseded generations
  // ---- past [[graft.config.LakeCommit.RetireSupersededMs]]); its doc is
  // ---- the protocol. A whole-table manifest keeps its state under
  // ---- `tableDir`; a partition-level table keeps one state dir per
  // ---- `__part=` dir.

  /** Logical table name of every manifested state dir. */
  private[graft] val ManifestTable = "data"

  /** Serving generation dir of the manifested state at `stateDir`;
    * `verb` names the caller in the error when nothing was published. */
  private def servingGen(stateDir: String, verb: String): String =
    LakeCommit.currentGen(stateDir, ManifestTable).getOrElse(
      throw new IllegalStateException(s"$verb: $stateDir has no published version"))

  /** Commit the complete generation `gen` staged under `stateDir`, then
    * retire what it supersedes. Returns `gen`. */
  private def commitGen(stateDir: String, gen: String): String = {
    require(LakeCommit.commit(stateDir, ManifestTable, gen),
      s"a racing writer committed $gen first")
    LakeCommit.cleanup(stateDir, ManifestTable,
      retireMs = LakeCommit.RetireSupersededMs)
    gen
  }

  /** Read the current version of a manifested table. */
  def readCurrent(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(servingGen(tableDir, "readCurrent"))

  /** Publish `df` as the table's next generation. A reader sees the
    * previous generation until the commit, never a partial one. Returns
    * the new generation dir. */
  def publishVersion(
      spark: SparkSession, tableDir: String, df: DataFrame): String = {
    val gen = LakeCommit.stage(tableDir, ManifestTable)
    df.write.mode(SaveMode.Overwrite).parquet(gen)
    commitGen(tableDir, gen)
  }

  // ---- Partition-level manifest (round 9 — VERDICT r8 #7, the
  // ---- incremental half of the atomic-lake story): incremental
  // ---- maintainers of PARTITIONED tables replace only the partitions a
  // ---- batch touches. Whole-table versioning would force rewriting the
  // ---- untouched partitions into every new version — a full table copy
  // ---- per nightly ingest, the opposite of incremental at 100 TB — so
  // ---- each PARTITION is its own small manifested table:
  // ----
  // ----   tableDir/
  // ----     __part=2024-01-01 00%3A00%3A00/   _manifests/ data.g1-…/ data.g2-…/
  // ----     __part=2024-02-01 00%3A00%3A00/   _manifests/ data.g1-…/
  // ----
  // ---- Writers stage ALL affected partitions in one Spark write pass,
  // ---- then move each partition into its own stage and commit it.
  // ---- Atomicity is PER PARTITION — exactly the granularity
  // ---- of the append-only calendar-partitioned semantics (each
  // ---- partition's content is independently complete; a reader
  // ---- mid-publish sees some partitions old and some new, the same
  // ---- consistency dynamic-partition-overwrite offers MINUS its
  // ---- torn-partition crash window). The real partition column stays
  // ---- IN the data files (`__part` is a throwaway string twin), so
  // ---- readers need no value re-attachment or type recovery, and
  // ---- pruning happens at LISTING time against the decoded dir names —
  // ---- before any Spark job runs.

  private val PartDirCol = "__part"

  /** Stage-once, commit-per-partition publish of `df`'s partitions (by
    * `partCol`) into the partition-level manifest at `tableDir`.
    * Partitions of the table NOT present in `df` keep their current
    * generation and their files — this is the incremental commit for
    * append-only partitioned tables. Returns partition-dir → new
    * generation dir. One Spark write stages everything; the per-partition
    * commits are driver-side renames + manifest creations (bounded by the
    * CALENDAR for month/day partitioning, the caller's contract). */
  def publishPartitions(
      spark: SparkSession, tableDir: String, df: DataFrame,
      partCol: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(tableDir)
    val fs = hadoopFs(spark, dir)
    val stage = new Path(dir, s"_stage_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      df.withColumn(PartDirCol, col(partCol).cast("string"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(PartDirCol).parquet(stage.toString)
      val staged = fs.listStatus(stage)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(PartDirCol + "="))
        .map(_.getPath.getName).sorted
      staged.map { p =>
        val pd = s"$tableDir/$p"
        val gen = LakeCommit.stage(pd, ManifestTable)
        fs.mkdirs(new Path(pd))
        require(fs.rename(new Path(stage, p), new Path(gen)),
          s"publishPartitions: could not stage $p as $gen")
        p -> commitGen(pd, gen)
      }.toMap
    } finally fs.delete(stage, true)
  }

  /** (decoded value, dir name) of every `__part=` dir under `tableDir`,
    * sorted by dir name. */
  private def partitionDirs(
      spark: SparkSession, tableDir: String): Seq[(String, String)] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(tableDir)
    val fs = hadoopFs(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(PartDirCol + "="))
      .map(_.getPath.getName).sorted
      .map(p => java.net.URLDecoder.decode(
        p.stripPrefix(PartDirCol + "="), "UTF-8") -> p)
  }

  /** Decoded partition values currently published at `tableDir` (the
    * `partCol.cast(string)` images — e.g. "2024-01-01 00:00:00"). */
  def listPartitions(spark: SparkSession, tableDir: String): Seq[String] =
    partitionDirs(spark, tableDir).collect {
      case (v, p) if LakeCommit.currentGen(s"$tableDir/$p", ManifestTable).isDefined => v
    }.sorted

  /** Read the current generation of every published partition (optionally
    * pruned to `partValues`, matched against the DECODED dir values —
    * listing-time pruning: unwanted partitions are never resolved, let
    * alone scanned). Each kept partition is resolved once. The result
    * carries the original partition column because the data files kept
    * it. */
  def readCurrentPartitions(
      spark: SparkSession, tableDir: String,
      partValues: Option[Seq[String]] = None): DataFrame = {
    val resolved = partitionDirs(spark, tableDir).flatMap { case (v, p) =>
      if (partValues.forall(_.contains(v)))
        LakeCommit.currentGen(s"$tableDir/$p", ManifestTable)
      else None
    }
    require(resolved.nonEmpty,
      s"readCurrentPartitions: no published partition under $tableDir" +
        partValues.fold("")(vs => s" matches ${vs.mkString(", ")}"))
    spark.read.parquet(resolved: _*)
  }

  /** Small-file compaction under the manifest protocol: rewrite the
    * CURRENT generation into a new right-sized one and commit it —
    * in-flight readers keep their immutable old dir; there is no crash
    * window at all (contrast [[compactSmallFiles]]'s raw-dir renames).
    * Works on a whole table or on one partition dir. Returns (files
    * before, files after). */
  def compactManifested(
      spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val cur = servingGen(tableDir, "compactManifested")
    val (nIn, nOut) = compactionPlan(spark, cur, targetBytes)
    publishVersion(spark, tableDir, spark.read.parquet(cur).repartition(nOut))
    (nIn, nOut)
  }
}

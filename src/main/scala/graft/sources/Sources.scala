package graft.sources

import graft.config.LakeCommit
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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

  private def hadoopFs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- Manifested tables. Each table is one [[graft.config.LakeCommit]]
  // ---- log under `tableDir` (its doc is the protocol): a publish stages
  // ---- one generation and commits it once, and a read resolves one
  // ---- manifest. Every generation holds a `_snapshot` file, written
  // ---- before the commit and never rewritten:
  // ----
  // ----   line 1   the writer's schema, so readers infer nothing
  // ----   line 2   the partition column, empty for a whole table
  // ----   line 3+  one line per serving dir, tab-separated:
  // ----              <dir> <rows> <file>:<bytes>:<mtime> [<file>:<bytes>:<mtime> ...]
  // ----            `<dir>` is `<gen>/__part=<value>` for a partition, or
  // ----            `<gen>` itself (one line) for a whole table
  // ----
  // ---- A partitioned publish writes the partitions its frame holds and
  // ---- points them at its generation; the rest keep the lines the previous
  // ---- snapshot held. `__part` is a string twin of the partition column,
  // ---- which stays in the data files, and readers prune on its decoded
  // ---- value before any scan. Row counts come from the write itself
  // ---- (`observe`), and the data files from listing the dirs the publish
  // ---- wrote, so a count is a sum over the snapshot and a reader lists
  // ---- nothing (Delta Lake's per-file log entries, VLDB 2020).

  /** Logical table name of every manifested table's log. */
  private[graft] val ManifestTable = "data"

  private val PartDirCol = "__part"

  /** One data file of a serving dir, as the writer's listing saw it. */
  private[graft] final case class DataFile(name: String, bytes: Long, mtime: Long)

  /** One serving dir (relative to the table dir), its rows and its files. */
  private[graft] final case class Part(dir: String, rows: Long, files: Seq[DataFile])

  /** A generation's `_snapshot`: `parts` maps each decoded partition value
    * to its serving dir; a whole table has the one part "". */
  private[graft] final case class Snapshot(
      schema: StructType, partCol: Option[String], parts: Map[String, Part]) {
    def rows: Long = parts.values.map(_.rows).sum
  }

  private def snapshotPath(gen: String) = new Path(gen, "_snapshot")

  private def writeSnapshot(spark: SparkSession, gen: String, s: Snapshot): Unit = {
    val lines = s.parts.values.toSeq.sortBy(_.dir).map(p =>
      (Seq(p.dir, p.rows.toString) ++ p.files.map(f => s"${f.name}:${f.bytes}:${f.mtime}"))
        .mkString("\t"))
    val p = snapshotPath(gen)
    val out = hadoopFs(spark, p).create(p, false)
    try out.write((Seq(s.schema.json, s.partCol.getOrElse("")) ++ lines)
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The snapshot of generation dir `gen`: None if it has none, or if its
    * snapshot records no row count and data files for some serving dir
    * (one an older layout wrote). */
  private def snapshotOf(spark: SparkSession, gen: String): Option[Snapshot] = {
    val p = snapshotPath(gen)
    val lines = try {
      val in = hadoopFs(spark, p).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.split("\n", -1)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => return None }
    val partCol = lines.lift(1).filter(_.nonEmpty)
    scala.util.Try(lines.drop(2).toSeq.map(_.split("\t").toSeq).map {
      case dir +: rows +: files =>
        val key = if (partCol.isEmpty) ""
          else ExternalCatalogUtils.unescapePathName(dir.drop(dir.indexOf('=') + 1))
        key -> Part(dir, rows.toLong, files.map(_.split(':') match {
          case Array(name, bytes, mtime) => DataFile(name, bytes.toLong, mtime.toLong)
        }))
    }).toOption.filter(_.nonEmpty).map(parts =>
      Snapshot(DataType.fromJson(lines(0)).asInstanceOf[StructType], partCol, parts.toMap))
  }

  /** The serving generation dir of `tableDir` and its snapshot, if one was
    * committed. A generation without a snapshot of row counts and files is
    * an older lake layout: it is refused, and the table must be rebuilt. */
  private def current(
      spark: SparkSession, tableDir: String, verb: String): Option[(String, Snapshot)] =
    LakeCommit.currentGen(tableDir, ManifestTable).map(g => g -> snapshotOf(spark, g)
      .getOrElse(throw new IllegalStateException(
        s"$verb: $tableDir serves $g without a _snapshot of row counts and files, " +
          "an older lake layout; rebuild the table")))

  /** The serving generation dir of `tableDir` and its snapshot; `verb`
    * names the caller in the error when there is none. */
  private[graft] def serving(
      spark: SparkSession, tableDir: String, verb: String): (String, Snapshot) =
    current(spark, tableDir, verb).getOrElse(throw new IllegalStateException(
      s"$verb: $tableDir has no published version"))

  /** Rows of the current version of a manifested table (0 before its first
    * publish): a sum over its snapshot, with no scan. */
  def rowCount(spark: SparkSession, tableDir: String): Long =
    current(spark, tableDir, "rowCount").fold(0L)(_._2.rows)

  /** Read the current version of a manifested table: one manifest resolve
    * and one snapshot read, scanned with the recorded schema over the
    * recorded files, so building the frame lists nothing and runs no Spark
    * job, whatever the number of partitions. A partitioned table is pruned
    * to `partValues` (decoded values such as "2024-01-01 00:00:00") before
    * any scan; a whole table ignores them. */
  def readCurrent(spark: SparkSession, tableDir: String,
      partValues: Option[Seq[String]] = None): DataFrame = {
    val snap = serving(spark, tableDir, "readCurrent")._2
    val parts = snap.parts.toSeq.sortBy(_._1).collect {
      case (v, p) if snap.partCol.isEmpty || partValues.forall(_.contains(v)) => p
    }
    require(parts.nonEmpty, s"readCurrent: no published partition of $tableDir" +
      partValues.fold("")(vs => s" matches ${vs.mkString(", ")}"))
    val root = hadoopFs(spark, new Path(tableDir)).makeQualified(new Path(tableDir))
    val listed = parts.map { p =>
      val dir = new Path(root, p.dir)
      dir -> p.files.map(f =>
        new FileStatus(f.bytes, false, 1, 0L, f.mtime, new Path(dir, f.name))).toArray
    }
    // the index takes every dir's files from this cache instead of listing
    val recorded = new FileStatusCache {
      private val byDir = listed.toMap
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byDir.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty,
      Some(snap.schema), recorded, Some(PartitionSpec(new StructType(), Nil)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      snap.schema.toNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The parquet files of staged generation `gen`, in it or in its
    * `__part=` dirs, by the name of the dir that holds them. A glob lists
    * plain statuses: a recursive `listFiles` builds located ones, which on
    * a local file system fork a process per file for its permissions. */
  private def writtenFiles(spark: SparkSession, gen: String): Map[String, Seq[DataFile]] = {
    val fs = hadoopFs(spark, new Path(gen))
    Seq(new Path(gen, "*.parquet"), new Path(gen, s"$PartDirCol=*/*.parquet"))
      .flatMap(g => Option(fs.globStatus(g)).toSeq.flatten)
      .groupMap(_.getPath.getParent.getName)(f =>
        DataFile(f.getPath.getName, f.getLen, f.getModificationTime))
      .map { case (d, files) => d -> files.sortBy(_.name) }
  }

  /** Write `snap` into the complete generation `gen` staged under
    * `tableDir`, commit it, then retire what it supersedes. Returns `gen`. */
  private def commitGen(
      spark: SparkSession, tableDir: String, gen: String, snap: Snapshot): String = {
    writeSnapshot(spark, gen, snap)
    require(LakeCommit.commit(tableDir, ManifestTable, gen),
      s"a racing writer committed $gen first")
    cleanup(spark, tableDir, LakeCommit.RetireSupersededMs)
    gen
  }

  /** [[LakeCommit.cleanup]] of a manifested table: a generation stays while
    * an unretired generation's snapshot serves a partition from it. */
  private[graft] def cleanup(
      spark: SparkSession, tableDir: String, retireMs: Long): Unit =
    LakeCommit.cleanup(tableDir, ManifestTable, retireMs = retireMs,
      keep = g => snapshotOf(spark, s"$tableDir/$g").toSeq
        .flatMap(_.parts.values.map(_.dir.takeWhile(_ != '/'))).toSet)

  /** Publish `df` as the table's next generation. A reader sees the
    * previous generation until the commit, never a partial one. The
    * writer holds the table's lease, so a second writer is refused.
    * Returns the new generation dir. */
  def publishVersion(
      spark: SparkSession, tableDir: String, df: DataFrame): String =
    LakeCommit.withLease(tableDir, ManifestTable) {
      val gen = LakeCommit.stage(tableDir, ManifestTable)
      val rows = Observation()
      df.observe(rows, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite).parquet(gen)
      val name = new Path(gen).getName
      commitGen(spark, tableDir, gen, Snapshot(df.schema, None, Map("" -> Part(
        name, rows.get("rows").asInstanceOf[Long], writtenFiles(spark, gen).values.flatten.toSeq))))
    }

  /** Rows per `__part` value: the aggregate a partitioned publish observes.
    * Its size is the number of partitions written, which the calendar
    * bounds, not the data. */
  private object PartRows extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], v: String): Map[String, Long] =
      m.updated(v, m.getOrElse(v, 0L) + 1L)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (v, n)) => m.updated(v, m.getOrElse(v, 0L) + n) }
    def finish(m: Map[String, Long]): Map[String, Long] = m
    private val counts: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def bufferEncoder: Encoder[Map[String, Long]] = counts
    def outputEncoder: Encoder[Map[String, Long]] = counts
  }

  /** Publish `df`'s partitions (by `partCol`) as the table's next
    * generation, in one Spark write and one commit. Partitions NOT in
    * `df` keep their serving dirs, files and counts: the incremental
    * commit for append-only partitioned tables. A reader sees every
    * partition old or every partition new. A frame with no rows commits
    * nothing. The writer holds the table's lease. Returns the new
    * generation dir, if one was committed. */
  def publishPartitions(
      spark: SparkSession, tableDir: String, df: DataFrame,
      partCol: String): Option[String] =
    LakeCommit.withLease(tableDir, ManifestTable) {
      val prior = current(spark, tableDir, "publishPartitions")
        .filter(_._2.partCol.contains(partCol)).fold(Map.empty[String, Part])(_._2.parts)
      val gen = LakeCommit.stage(tableDir, ManifestTable)
      val obs = Observation()
      // a null or empty value lands in the writer's default partition dir
      val dirValue = when(col(PartDirCol).isNull || col(PartDirCol) === "",
        lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)).otherwise(col(PartDirCol))
      df.withColumn(PartDirCol, col(partCol).cast("string"))
        .observe(obs, udaf(PartRows, Encoders.STRING)(dirValue).as("rows"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(PartDirCol).parquet(gen)
      val rows = obs.get("rows").asInstanceOf[scala.collection.Map[String, Long]]
      val written = writtenFiles(spark, gen).collect {
        case (d, files) if d.startsWith(PartDirCol + "=") =>
          val v = ExternalCatalogUtils.unescapePathName(d.stripPrefix(PartDirCol + "="))
          v -> Part(s"${new Path(gen).getName}/$d", rows.getOrElse(v,
            sys.error(s"publishPartitions: wrote $d but observed no rows for it")), files)
      }
      if (written.isEmpty) { LakeCommit.deleteRecursive(gen); None }
      else Some(commitGen(spark, tableDir, gen,
        Snapshot(df.schema, Some(partCol), prior ++ written)))
    }

  /** Small-file compaction (lake maintenance): rewrite the serving data of
    * `tableDir` into `targetBytes`-sized files and publish it as the next
    * generation, one commit like any publish. In-flight readers keep their
    * immutable old dirs, so there is no crash window. A partitioned table
    * republishes every serving partition as one file, written by as many
    * tasks as the plan sizes. Returns (files before, files after). */
  def compactManifested(
      spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): (Int, Int) =
    LakeCommit.withLease(tableDir, ManifestTable) {
      val snap = serving(spark, tableDir, "compactManifested")._2
      val cur = readCurrent(spark, tableDir)
      val files = snap.parts.values.flatMap(_.files).toSeq
      val nIn = files.size
      val nOut = math.max(1L,
        (files.map(_.bytes).sum + targetBytes - 1) / targetBytes).toInt
      snap.partCol match {
        case None =>
          publishVersion(spark, tableDir, cur.repartition(nOut))
          (nIn, nOut)
        case Some(c) =>
          publishPartitions(spark, tableDir, cur.repartition(nOut, col(c)), c)
          (nIn, snap.parts.size)
      }
    }
}

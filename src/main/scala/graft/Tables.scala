package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness testdata tables (schemas: FIXTURES.md).
  *
  * Design note (100 TB posture): every operator receives the table as a
  * lazily-planned DataFrame straight off the vectorized Parquet reader, so
  * Catalyst's column pruning / predicate pushdown reach the scan. Nothing is
  * cached or collected here; at cluster scale these reads become
  * partition-pruned object-store scans with no driver involvement.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plan `<sfDir>/<name>.parquet` afresh on every call (a new file
    * listing, so a file that lands in the directory is read by the next
    * call), decoding `events.ts` to microsecond timestamps. Planning
    * reads one footer on the driver and runs no job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped in two physical encodings across testdata
      // generations: parquet INT64 TIMESTAMP(NANOS) (no native Spark type —
      // read as raw nanos via the legacy conf and truncate to micros,
      // exactly DuckDB's TIMESTAMP_NS → TIMESTAMP cast) and plain
      // TIMESTAMP(MICROS). Dispatch on the type Spark actually loaded so the
      // engine keeps working when the driver regenerates the fixtures.
      // The legacy conf is deliberately NOT restored: Spark consults it
      // again at physical-plan build time, and it only affects
      // TIMESTAMP(NANOS) columns — of the harness tables, at most events.ts.
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The TimestampNTZ→timestamp cast below reinterprets wall-clock micros
      // in the SESSION zone; only UTC matches the DuckDB oracle's reading of
      // the same file. All entry points already run UTC — pin it here too so
      // a non-UTC caller can't silently shift events.ts.
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val df = scan(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => // nanos generation
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => // micros, not UTC-adjusted; session is UTC
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df // already TimestampType
      }
    } else scan(spark, s"$sfDir/$name.parquet")
  }

  /** Scan `path` (a parquet file, or a dir of files sharing one schema)
    * with the schema in its first data file's footer, read on the driver:
    * `spark.read.parquet` would infer it with one Spark job per call. */
  private[graft] def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .minBy(_.getPath.getName)
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}

/** One declared operator: the Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) the DuckDB oracle twin the driver hash-compares
  * against at sf0.01. Keeping both in one value is what keeps column names,
  * ordering, and rounding in sync (SURVEY.md §7.4 checklist).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Oracle-checked query. Since round 2 EVERY declared query has an
    * oracle (the driver treats oracle-less keys as failures, and
    * PortableHash made even the hash-seeded ops SQL-expressible), so this
    * is the only constructor.
    */
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}

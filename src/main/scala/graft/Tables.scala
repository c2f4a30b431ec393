package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Analyzed-DataFrame cache per (session, dir, table) — round 13,
    * guide §5/§7.3 (driver-side planning cost): every `spark.read
    * .parquet` call re-lists the path and re-reads the parquet footer
    * for schema inference, tens of ms of pure DRIVER work that the
    * 500-query bench paid ~8 tables × 3 passes per key. A DataFrame is
    * an immutable lazy plan, so reusing one is metadata reuse only —
    * every action still scans the parquet files; nothing about the DATA
    * is cached. Keyed on the session so test sessions and the bench
    * session never share plans; bounded by #sessions × #dirs × 10
    * tables. A cached plan keeps the file listing it was built with, so
    * it serves immutable inputs only (the harness tables); a directory
    * that grows between runs loads through [[graft.config.RunConfig]],
    * which calls [[load]]. */
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.computeIfAbsent((spark, sfDir, name),
      _ => load(spark, sfDir, name))

  /** Plan `<sfDir>/<name>.parquet` afresh (new file listing), decoding
    * `events.ts` to microsecond timestamps. */
  private[graft] def load(
      spark: SparkSession, sfDir: String, name: String): DataFrame = {
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
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => // nanos generation
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => // micros, not UTC-adjusted; session is UTC
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df // already TimestampType
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
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

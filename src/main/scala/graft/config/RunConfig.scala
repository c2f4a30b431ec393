package graft.config

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R12-style config-driven runs (SURVEY.md §1.2 R12: "JSON config of
  * domains, credentials, date ranges; per-run table selection").
  *
  * The reference selects which domains/tables/date windows a run touches
  * from a JSON run config; `graft`'s analog is this case class: a run is
  * (data dir, table subset, optional date window, optional per-table
  * predicates). Everything compiles to plain pushdown-friendly `where`
  * clauses over the lazily-planned scans — at 100 TB the date window and
  * predicates reach the parquet reader as PushedFilters / partition
  * pruning (asserted in RunConfigSpec), so a config that selects one month
  * of one table scans exactly that.
  *
  * Credentials are deliberately out of scope: source auth belongs to the
  * storage/JDBC layer (graft.sources.Sources), not the run config.
  *
  * @param sfDir     data directory holding `<table>.parquet`
  * @param tables    table subset this run materializes (must be known names)
  * @param startDate inclusive ISO date bound applied to each table's event-
  *                  date column (see [[RunConfig.dateColumns]]); tables
  *                  without a date column are passed through unfiltered
  * @param endDate   exclusive ISO date bound, same application
  * @param where     extra per-table SQL predicates (the "domain selection"
  *                  analog, e.g. "event_type IN ('signup','purchase')")
  */
final case class RunConfig(
    sfDir: String,
    tables: Seq[String],
    startDate: Option[String] = None,
    endDate: Option[String] = None,
    where: Map[String, String] = Map.empty) {

  require(tables.nonEmpty, "RunConfig.tables must select at least one table")
  private val unknown = tables.filterNot(Tables.names.contains)
  require(unknown.isEmpty, s"RunConfig: unknown tables $unknown")
  // a predicate keyed on an unselected table would be silently dead
  // (table() only consults where.get(name)) — enforced here so BOTH
  // construction paths (JSON and programmatic) are covered
  private val orphanWhere = where.keySet -- tables.toSet
  require(orphanWhere.isEmpty,
    s"RunConfig: 'where' predicates for unselected tables $orphanWhere")

  /** One configured table: scan → date window → per-table predicate. The
    * scan is planned afresh on every call, so a reused session sees files
    * appended to `sfDir` since its last run. */
  def table(spark: SparkSession, name: String): DataFrame = {
    require(tables.contains(name), s"table $name not selected by this run")
    val base = Tables(spark, sfDir, name)
    val dated = RunConfig.dateColumns.get(name) match {
      case Some(c) =>
        val lo = startDate.map(d => col(c) >= lit(d).cast("date"))
        val hi = endDate.map(d => col(c) < lit(d).cast("date"))
        (lo ++ hi).foldLeft(base)(_ where _)
      case None => base
    }
    where.get(name).fold(dated)(p => dated.where(expr(p)))
  }

  /** All selected tables, keyed by name. */
  def run(spark: SparkSession): Map[String, DataFrame] =
    tables.map(n => n -> table(spark, n)).toMap
}

object RunConfig {

  /** The event-date column the run's date window applies to, per table. */
  val dateColumns: Map[String, String] = Map(
    "events" -> "ts",
    "orders" -> "o_orderdate",
    "lineitem" -> "l_shipdate")

  private lazy val mapper = new ObjectMapper()

  /** Load a JSON run config, e.g.
    * `{"sfDir":"...","tables":["events"],"startDate":"2024-01-10"}`.
    */
  def fromJsonFile(path: String): RunConfig =
    fromJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Explicit field-by-field parse (Jackson tree model, no data-binding
    * magic) so a config typo fails the run loudly instead of silently
    * dropping a key or null-ing an Option.
    */
  def fromJson(json: String): RunConfig = {
    val n = mapper.readTree(json)
    val allowed = Set("sfDir", "tables", "startDate", "endDate", "where")
    val bad = n.fieldNames().asScala.filterNot(allowed).toSeq
    require(bad.isEmpty, s"RunConfig: unknown config keys $bad")
    require(n.hasNonNull("sfDir") && n.hasNonNull("tables"),
      "RunConfig: sfDir and tables are required")
    // An explicit JSON null must behave like an absent key — NullNode is
    // non-null to Option(), and .asText on it yields the literal string
    // "null", which would cast to a NULL date and silently filter out
    // every row.
    def optText(field: String): Option[String] =
      Option(n.get(field)).filterNot(_.isNull).map { v =>
        require(v.isTextual, s"RunConfig: $field must be a JSON string")
        v.asText
      }
    require(n.get("sfDir").isTextual, "RunConfig: sfDir must be a JSON string")
    require(n.get("tables").isArray &&
      n.get("tables").elements().asScala.forall(_.isTextual),
      "RunConfig: tables must be an array of strings")
    RunConfig(
      sfDir = n.get("sfDir").asText,
      tables = n.get("tables").elements().asScala.map(_.asText).toSeq,
      startDate = optText("startDate"),
      endDate = optText("endDate"),
      where = Option(n.get("where")).filterNot(_.isNull)
        .map(w => w.fieldNames().asScala.map { k =>
          val v = w.get(k)
          require(v != null && v.isTextual,
            s"RunConfig: where.$k must be a JSON string predicate")
          k -> v.asText
        }.toMap)
        .getOrElse(Map.empty))
  }
}

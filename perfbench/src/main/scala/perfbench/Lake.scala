package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.config.{Pipeline, RunConfig}
import graft.config.Pipeline.{ManifestedIO, TableResult}
import org.apache.spark.sql.{Row, SparkSession}

/** `lake_ingest`: the nightly pipeline, with writes beside reads.
  *
  * lake_gen.py has written `<workDir>/lake/src/m<k>/` (the files of month k)
  * and `expected.json` (what the published tables must hold after each
  * month). The cold pass is the one-shot pipeline: `Pipeline.run` over the
  * first months into an empty lake. Each warm pass is one
  * scheduled night: the next month's files land in the same input
  * directory, and a new session runs the five incremental maintainers,
  * `reachOverlap` and `readTableCurrent`.
  *
  * No check reads the input through the engine: a session that has read a
  * directory keeps its file listing (`graft.Tables` caches the plan), so a
  * reference taken that way would miss later appends.
  */
final class Lake(workDir: String, nights: Int, newSession: () => SparkSession)
    extends Workload {
  import Lake._

  def passes: Int = 1 + nights

  private val root = Paths.get(workDir, "lake")
  private val expected = new ObjectMapper().readTree(root.resolve("expected.json").toFile)
  /** Months the one-shot pipeline starts from; the nights add one each. */
  private val bootstrap = expected.get("bootstrap").asInt
  private val inDir = root.resolve("in").toString
  private val lakeDir = root.resolve("out").toString
  private val cfg = RunConfig(inDir, Seq("events"))
  private var session: SparkSession = _
  private var bootstrapSession: SparkSession = _
  private val seen = scala.collection.mutable.Set[Path]()
  private val written = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)

  private def monthStart(k: Int): String = expected.get("month_start").get(k - 1).asText

  private def land(k: Int): Unit = {
    val dst = Files.createDirectories(Paths.get(inDir, "events.parquet"))
    walk(root.resolve(s"src/m$k")).filter(isData).sortBy(_.toString).zipWithIndex.foreach {
      case (f, i) => Files.copy(f, dst.resolve(f"m$k%02d-$i.parquet"))
    }
  }

  /** Data files the pass wrote (versions retired since included) and the
    * bytes the lake serves after it: the files under each `_CURRENT` version. */
  override def passStats(p: Int): Map[String, Double] = {
    val current = walk(Paths.get(lakeDir)).filter(_.getFileName.toString == "_CURRENT")
    val liveBytes = current.flatMap { ptr =>
      walk(ptr.resolveSibling(new String(Files.readAllBytes(ptr), "UTF-8").trim)).filter(isData)
    }.map(Files.size).sum
    val stats = Map("lake.files_written" -> written(p).toDouble, "lake.live_bytes" -> liveBytes.toDouble)
    if (p < nights) stats
    else stats ++ Map(
      // The bootstrap session read the input before the nights landed;
      // graft.Tables keeps that listing, so it does not see later months.
      "input.events_landed" -> expected.get("after").get(s"${bootstrap + nights}").get("events").asDouble,
      "input.events_seen_by_bootstrap_session" ->
        graft.Tables(bootstrapSession, inDir, "events").count().toDouble)
  }

  def pass(p: Int): Seq[Op] = {
    def lake(name: String, before: () => Unit = () => ())(call: => AnyRef)(
        check: AnyRef => Option[String]): Op =
      Op(name, "lake.call", () => call, (o, _) => {
        val now = walk(Paths.get(lakeDir)).filter(isData)
        written(p) += now.count(f => !seen(f))
        seen ++= now
        check(o)
      }, before)

    if (p == 0) {
      val e = new Expected(expected.get("after").get(bootstrap.toString))
      Seq(lake("bootstrap", () => {
        (1 to bootstrap).foreach(land)
        session = newSession()
        bootstrapSession = session
      })(Pipeline.run(session, cfg, lakeDir, ManifestedIO)) { o =>
        val got = o.asInstanceOf[Seq[TableResult]].map(t => t.table -> t.rows).toMap
        val want = Map("sessions" -> e.long("sessions"), "monthly_usage" -> e.long("user_months"),
          "user_lifetime" -> e.users.size.toLong, "churn_daily" -> e.long("days"),
          "type_reach" -> e.reach.size.toLong)
        Option.when(got != want)(s"published rows $got, generated $want")
      })
    } else {
      val k = bootstrap + p
      val e = new Expected(expected.get("after").get(k.toString))
      val start = monthStart(k)
      def rows(table: String, want: Long)(r: AnyRef): Option[String] = {
        val n = r.asInstanceOf[TableResult].rows
        Option.when(n != want)(s"$table has $n rows after month $k, generated $want")
      }
      Seq(
        lake("monthly", () => { land(k); session = newSession() })(
          Pipeline.runIncrementalMonthly(session, cfg, lakeDir, start, ManifestedIO))(
          rows("monthly_usage", e.long("user_months"))),
        lake("sessions")(Pipeline.runIncrementalSessions(session, cfg, lakeDir, start, ManifestedIO))(
          rows("sessions", e.long("sessions"))),
        lake("lifetime")(Pipeline.runIncrementalLifetime(session, cfg, lakeDir, start, ManifestedIO))(
          rows("user_lifetime", e.users.size)),
        lake("churn")(Pipeline.runIncrementalChurn(session, cfg, lakeDir, start, ManifestedIO))(
          rows("churn_daily", e.long("days"))),
        lake("reach")(Pipeline.runIncrementalReach(session, cfg, lakeDir, start, ManifestedIO))(
          rows("type_reach", e.reach.size)),
        Op("reach_overlap", "operators.construct",
          () => Pipeline.reachOverlap(session, lakeDir, ManifestedIO),
          (_, r) => e.checkOverlap(r.asInstanceOf[Array[Row]])),
        Op("read_lifetime", "operators.construct",
          () => Pipeline.readTableCurrent(session, lakeDir, "user_lifetime"),
          (_, r) => e.checkLifetime(r.asInstanceOf[Array[Row]])),
        Op("read_month", "operators.construct",
          () => Pipeline.readTableCurrent(session, lakeDir, "monthly_usage", Some(start)),
          (_, r) => e.checkMonth(r.asInstanceOf[Array[Row]])))
    }
  }
}

object Lake {
  /** KMV keeps k = 256 hashes: exact below that, else within three standard
    * errors (1/sqrt(k-2) relative each). */
  val KmvK = 256

  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil else Files.walk(root).iterator().asScala.toList

  def isData(f: Path): Boolean =
    Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def kmvOk(est: Double, exact: Long): Boolean =
    if (exact < KmvK) est == exact
    else math.abs(est - exact) <= 3.0 * exact / math.sqrt(KmvK - 2.0)

  /** The generator's figures for the lake after one month has landed. */
  final class Expected(node: JsonNode) {
    def long(field: String): Long = node.get(field).asLong
    val users: Map[Long, JsonNode] =
      node.get("users").fields().asScala.map(e => e.getKey.toLong -> e.getValue).toMap
    val reach: Map[String, Long] =
      node.get("reach").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

    def checkOverlap(rows: Array[Row]): Option[String] = {
      val overlap = node.get("overlap")
      val pairs = rows.map(r => s"${r.getString(0)}|${r.getString(1)}").toSeq
      val want = overlap.fieldNames().asScala.toSeq.sorted
      if (pairs != want) Some(s"overlap pairs $pairs, generated $want")
      else rows.collectFirst {
        case r if !kmvOk(r.getAs[Double]("est1"), reach(r.getString(0))) ||
            !kmvOk(r.getAs[Double]("est2"), reach(r.getString(1))) ||
            !kmvOk(r.getAs[Double]("overlap_est"),
              overlap.get(s"${r.getString(0)}|${r.getString(1)}").asLong) =>
          s"reach estimates $r outside the KMV error"
      }
    }

    /** Exact n_events, first_ts and last_ts per user; the KLL-decoded
      * p50_value within the sketch's rank error (the generator's bounds). */
    def checkLifetime(rows: Array[Row]): Option[String] =
      if (rows.length != users.size) Some(s"user_lifetime has ${rows.length} users, generated ${users.size}")
      else rows.iterator.map { r =>
        val u = r.getAs[Long]("user_id")
        users.get(u).fold(Option(s"user $u was never generated")) { w =>
          val p50 = r.getAs[Double]("p50_value")
          val got = (r.getAs[Long]("n_events"), micros(r.getAs[java.sql.Timestamp]("first_ts")),
            micros(r.getAs[java.sql.Timestamp]("last_ts")))
          if (got != ((w.get(0).asLong, w.get(1).asLong, w.get(2).asLong)))
            Some(s"user $u (n_events, first_ts, last_ts) $got, generated $w")
          else Option.when(p50 < w.get(3).asDouble || p50 > w.get(4).asDouble)(
            s"user $u p50_value $p50 outside the KLL bounds ${w.get(3)}..${w.get(4)}")
        }
      }.collectFirst { case Some(err) => err }

    def checkMonth(rows: Array[Row]): Option[String] = {
      val n = rows.map(_.getAs[Long]("n_events")).sum
      Option.when(n != long("month_events") || rows.length != long("month_users"))(
        s"monthly_usage: $n events over ${rows.length} users, generated " +
          s"${long("month_events")} over ${long("month_users")}")
    }
  }
}

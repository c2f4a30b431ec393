package graft

import java.nio.file.Files
import graft.config.RunConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** R12 config-driven runs end-to-end: JSON → RunConfig → filtered tables,
  * with the date window reaching the parquet scan as pushed filters where
  * the column is raw (orders), and correct values everywhere.
  */
class RunConfigSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("JSON config round-trips, selects tables, applies window + predicate") {
    val json =
      s"""{"sfDir": "$sf",
         | "tables": ["events", "orders"],
         | "startDate": "2024-01-10",
         | "endDate": "2024-01-20",
         | "where": {"events": "event_type IN ('signup', 'purchase')"}}""".stripMargin
    val path = java.nio.file.Paths.get(tempDir("graft_cfg"), "cfg.json")
    Files.writeString(path, json)
    val cfg = RunConfig.fromJsonFile(path.toString)
    assert(cfg.tables == Seq("events", "orders"))

    val out = cfg.run(spark)
    assert(out.keySet == Set("events", "orders"))

    // events: window + domain predicate, vs a hand-written filter
    val expected = Tables(spark, sf, "events")
      .where(col("ts") >= lit("2024-01-10").cast("date") &&
        col("ts") < lit("2024-01-20").cast("date") &&
        col("event_type").isin("signup", "purchase"))
      .count()
    assert(expected > 0 && out("events").count() == expected)

    // orders: only the date window applies
    val expectedOrders = Tables(spark, sf, "orders")
      .where(col("o_orderdate") >= lit("2024-01-10").cast("date") &&
        col("o_orderdate") < lit("2024-01-20").cast("date"))
      .count()
    assert(out("orders").count() == expectedOrders)
  }

  test("building a configured table reads its schema from one footer: no Spark job") {
    import spark.implicits._
    // the two encodings of events.ts: the harness file's TIMESTAMP(NANOS)
    // and a Spark-written TIMESTAMP(MICROS), three files each
    val nanos = tempDir("graft_cfg_nanos")
    val micros = tempDir("graft_cfg_micros")
    Files.createDirectories(java.nio.file.Paths.get(nanos, "events.parquet"))
    for (i <- 0 until 3) Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
      java.nio.file.Paths.get(nanos, "events.parquet", s"part-$i.parquet"))
    Seq((1L, TestSpark.ts("2024-01-02 03:04:05.123456"), 7L, "click", 1.5),
        (2L, TestSpark.ts("2024-01-03 00:00:00"), 8L, "view", 2.5),
        (3L, TestSpark.ts("2024-01-04 00:00:00"), 9L, "view", 0.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(3).write.parquet(s"$micros/events.parquet")
    for (dir <- Seq(nanos, micros)) {
      val cfg = RunConfig(dir, Seq("events"))
      var events: org.apache.spark.sql.DataFrame = null
      val jobs = TestSpark.jobsDuring { events = cfg.table(spark, "events") }
      assert(jobs == 0, s"$jobs jobs ran while building events over $dir")
      val file = s"$dir/events.parquet"
      assert(Tables.scan(spark, file).schema == spark.read.parquet(file).schema)
      assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(events.count() == spark.read.parquet(file).count())
    }
  }

  test("Tables reads a file that lands in a table dir on the same session") {
    val dir = tempDir("graft_tables_grow")
    val region = Tables(spark, sf, "region")
    region.write.parquet(s"$dir/region.parquet")
    val before = Tables(spark, dir, "region").count()
    region.write.mode("append").parquet(s"$dir/region.parquet")
    assert(Tables(spark, dir, "region").count() == 2 * before)
  }

  test("date window pushes down to the parquet scan on raw date columns") {
    val cfg = RunConfig(sf, Seq("orders"),
      startDate = Some("2024-01-10"), endDate = Some("2024-01-20"))
    val plan = cfg.table(spark, "orders").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_orderdate") &&
      plan.contains("LessThan(o_orderdate"),
      s"date window not pushed to scan:\n$plan")
  }

  test("tables without a date column pass through unfiltered") {
    val cfg = RunConfig(sf, Seq("region"), startDate = Some("2024-01-10"))
    assert(cfg.table(spark, "region").count() ==
      Tables(spark, sf, "region").count())
  }

  test("config typos and unknown tables fail loudly") {
    intercept[IllegalArgumentException] {
      RunConfig.fromJson(s"""{"sfDir": "$sf", "tables": ["events"], "strtDate": "x"}""")
    }
    intercept[IllegalArgumentException] {
      RunConfig(sf, Seq("no_such_table"))
    }
    intercept[IllegalArgumentException] {
      RunConfig(sf, Seq("events")).table(spark, "orders") // not selected
    }
  }

  test("explicit JSON null date = absent (not the string \"null\")") {
    val cfg = RunConfig.fromJson(
      s"""{"sfDir": "$sf", "tables": ["orders"], "startDate": null}""")
    assert(cfg.startDate.isEmpty)
    // and the table is NOT silently empty
    assert(cfg.table(spark, "orders").count() ==
      Tables(spark, sf, "orders").count())
  }

  test("'where' predicates keyed on unselected tables are rejected") {
    intercept[IllegalArgumentException] {
      RunConfig.fromJson(
        s"""{"sfDir": "$sf", "tables": ["events"],
           | "where": {"event": "event_type = 'signup'"}}""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      RunConfig.fromJson(
        s"""{"sfDir": "$sf", "tables": ["events"], "startDate": 5}""")
    }
  }
}

package graft

import graft.operators.Etl
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases + invariants for visit construction (SURVEY.md §5.2.2/3). */
class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.ts
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    rows.toSeq.map { case (id, t, u) => (id, ts(t), u) }
      .toDF("event_id", "ts", "user_id")

  private def sessions(df: org.apache.spark.sql.DataFrame) =
    Etl.sessionized(df)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"))

  test("gap exactly == 30 min stays in one session; > 30 min splits") {
    val df = ev(
      (1, "2024-01-01 10:00:00", 1), // +30:00 exactly → same session
      (2, "2024-01-01 10:30:00", 1), // +30:00.000001 → new session
      (3, "2024-01-01 11:00:00.000001", 1))
    val s = sessions(df).collect()
    assert(s.length == 2)
    assert(s.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }

  test("sessions never span users; every event lands in exactly one session") {
    val df = ev(
      (1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 2),
      (3, "2024-01-01 12:00:00", 1), (4, "2024-01-01 10:10:00", 2))
    val total = sessions(df).agg(sum("n")).as[Long].head()
    assert(total == 4)
    assert(sessions(df).count() == 3) // user1: 2 sessions, user2: 1
  }

  test("single event per user is its own session") {
    val df = ev((1, "2024-01-01 00:00:00", 7))
    assert(sessions(df).count() == 1)
  }

  test("session count == users + strict gaps (randomized)") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-05 00:00:00").getTime
    val rows = (0 until 400).map { i =>
      val u = rnd.nextInt(5).toLong
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(86400) * 1000L), u)
    }
    val df = rows.toDF("event_id", "ts", "user_id")
    // expected: per user, sort, count gaps > 30min
    val expected = rows.groupBy(_._3).map { case (_, es) =>
      val sorted = es.map(_._2.getTime).sorted
      1 + sorted.sliding(2).count {
        case Seq(a, b) => b - a > 30 * 60 * 1000L
        case _         => false
      }
    }.sum
    assert(sessions(df).count() == expected)
  }

  test("sessionize is invariant under input row shuffling") {
    val rnd = new scala.util.Random(11)
    val base = ts("2024-02-01 00:00:00").getTime
    val rows = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(43200) * 1000L),
        rnd.nextInt(4).toLong)
    }
    val a = sessions(rows.toDF("event_id", "ts", "user_id"))
      .orderBy("user_id", "session_id").collect().toSeq
    val b = sessions(rnd.shuffle(rows).toDF("event_id", "ts", "user_id"))
      .orderBy("user_id", "session_id").collect().toSeq
    assert(a == b)
  }

  // ---- native one-pass operator (plans/SessionizePlan.scala) ----

  private def nativeAnnotated(df: org.apache.spark.sql.DataFrame) =
    org.apache.spark.sql.graft.SessionizePlan
      .sessionize(df, Seq("user_id"), "ts", Seq("event_id"), Etl.SessionGapMinutes)

  test("native operator ≡ window compose, row for row (randomized + nulls)") {
    val rnd = new scala.util.Random(23)
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = (0 until 300).map { i =>
      val u: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else rnd.nextInt(4).toLong
      val t: java.sql.Timestamp =
        if (rnd.nextInt(25) == 0) null
        else new java.sql.Timestamp(base + rnd.nextInt(86400) * 1000L)
      (i.toLong, t, u)
    }
    val df = rows.toDF("event_id", "ts", "user_id")
    val viaNative = nativeAnnotated(df)
      .select("event_id", "session_id")
      .as[(Long, Long)].collect().toMap
    val viaWindow = WindowSessionizer(df)
      .select("event_id", "session_id")
      .as[(Long, Long)].collect().toMap
    assert(viaNative.size == rows.size)
    assert(viaNative == viaWindow,
      s"diverging ids: ${viaNative.toSet.diff(viaWindow.toSet).take(5)}")
  }

  test("entity-aware native ≡ entity window compose (nulls + changes)") {
    val rnd = new scala.util.Random(31)
    val base = ts("2024-04-01 00:00:00").getTime
    val rows = (0 until 300).map { i =>
      val ent = rnd.nextInt(4) match {
        case 0 => """{"k":"a"}"""
        case 1 => """{"k":"b"}"""
        case 2 => """{"x":1}""" // no k → entity NULL
        case _ => """{"k":"c"}"""
      }
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(86400) * 1000L),
        rnd.nextInt(3).toLong, ent)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "props")
    val viaNative = Etl.sessionizedEntity(df)
      .select("event_id", "session_id")
      .as[(Long, Long)].collect().toMap
    val viaWindow = WindowSessionizer(
        df.withColumn("entity", get_json_object(col("props"), "$.k")),
        entity = Some("entity"))
      .select("event_id", "session_id")
      .as[(Long, Long)].collect().toMap
    assert(viaNative.size == rows.size)
    assert(viaNative == viaWindow,
      s"diverging: ${viaNative.toSet.diff(viaWindow.toSet).take(5)}")
  }

  test("native plan: SessionizeExec present, NO Window node, one exchange") {
    val df = ev(
      (1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 2),
      (3, "2024-01-01 12:00:00", 1))
    val plan = nativeAnnotated(df).queryExecution.executedPlan.toString
    // TreeNode.nodeName strips the Exec suffix: the node prints "Sessionize"
    assert(plan.contains("Sessionize"), plan)
    assert(!plan.contains("Window"), s"window leaked into the native plan:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"native sessionize must plan exactly one exchange:\n$plan")
    assert(plan.contains("Sort [user_id") && plan.contains("Exchange hashpartitioning(user_id"),
      s"EnsureRequirements must plan the declared layout:\n$plan")
  }

  test("native operator counts sessions in its SQL metric") {
    val df = ev(
      (1, "2024-01-01 10:00:00", 1), // user 1, session 1
      (2, "2024-01-01 12:00:00", 1), // user 1, session 2 (gap)
      (3, "2024-01-01 10:00:00", 2)) // user 2, session 1
    val annotated = nativeAnnotated(df)
    annotated.collect()
    // AQE wraps the plan in query stages — descend through them
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findExec(p: SparkPlan): Seq[org.apache.spark.sql.graft.SessionizeExec] =
      p match {
        case e: org.apache.spark.sql.graft.SessionizeExec => Seq(e)
        case a: AdaptiveSparkPlanExec => findExec(a.executedPlan)
        case q: QueryStageExec => findExec(q.plan)
        case other => other.children.flatMap(findExec)
      }
    val exec = findExec(annotated.queryExecution.executedPlan).head
    assert(exec.metrics("numSessions").value == 3)
    assert(exec.metrics("numOutputRows").value == 3)
  }

  test("native operator: downstream agg reuses the sessionize partitioning") {
    // groupBy (user_id, session_id) after the operator must NOT add a
    // second exchange: output partitioning (hash on user_id) satisfies
    // the agg's ClusteredDistribution on a superset key
    val df = ev(
      (1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 2),
      (3, "2024-01-01 12:00:00", 1))
    val agged = nativeAnnotated(df)
      .groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
    val plan = agged.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"agg after native sessionize should reuse its partitioning:\n$plan")
  }

  test("sessionized output self-joins: each side keeps its own session_id") {
    val sess = Etl.sessionSummaries(Etl.sessionized(ev(
      (1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:20:00", 1),
      (3, "2024-01-01 12:00:00", 1), (4, "2024-01-01 10:10:00", 2))))
    val pairs = sess.as("a")
      .join(sess.as("b"), col("a.user_id") < col("b.user_id") &&
        col("a.session_start") <= col("b.session_end") &&
        col("b.session_start") <= col("a.session_end"))
      .select(col("a.session_id"), col("b.session_id"))
      .as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 1L)), pairs)
  }

  test("native sessionize and as-of plan on a new session, registering once") {
    import org.apache.spark.sql.graft.{AsOfJoinPlan, AsOfJoinStrategy, SessionizeStrategy}
    val fresh = spark.newSession()
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import fresh.implicits._
    val events = Seq((1L, ts("2024-01-01 10:00:00"), 1L), (2L, ts("2024-01-01 12:00:00"), 1L))
      .toDF("event_id", "ts", "user_id")
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, 5L, "r")).toDF("rk", "rts", "tag")
    for (_ <- 1 to 2) {
      assert(Etl.sessionized(events).select("session_id").as[Long].collect().sorted
        .toSeq == Seq(1L, 2L))
      assert(AsOfJoinPlan.asof(left, right, "k", "rk", "ts", "rts")
        .select("tag").as[String].collect().toSeq == Seq("r"))
    }
    val registered = fresh.experimental.extraStrategies
    assert(registered.count(_ == SessionizeStrategy) == 1 &&
      registered.count(_ == AsOfJoinStrategy) == 1, registered)
  }
}

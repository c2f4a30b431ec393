package graft

import graft.operators.Etl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck laws (SURVEY.md §5.2.3) for the ETL composites. Generators
  * produce small random event logs; each law runs real Spark jobs, so the
  * suite keeps minSuccessful small.
  */
object LawsProps extends Properties("graft.laws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20260813L))

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = TestSpark.ts("2024-03-01 00:00:00").getTime

  private val eventsGen: Gen[List[(Long, java.sql.Timestamp, Long)]] = for {
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 4L)
      off <- Gen.choose(0L, 3L * 86400)
    } yield (u, off))
  } yield rows.zipWithIndex.map { case ((u, off), i) =>
    (i.toLong, new java.sql.Timestamp(base + off * 1000L), u)
  }

  private def sessionCount(rows: List[(Long, java.sql.Timestamp, Long)]): Long =
    Etl.sessionized(rows.toDF("event_id", "ts", "user_id"))
      .select("user_id", "session_id").distinct().count()

  property("sessionize: count == users + strict >30min gaps") =
    Prop.forAll(eventsGen) { rows =>
      val expected = rows.groupBy(_._3).map { case (_, es) =>
        val times = es.map(_._2.getTime).sorted
        1 + times.sliding(2).count {
          case Seq(a, b) => b - a > 30 * 60 * 1000L
          case _         => false
        }
      }.sum
      sessionCount(rows) == expected.toLong
    }

  property("sessionize: every event in exactly one session; shuffle-invariant") =
    Prop.forAll(eventsGen) { rows =>
      val df = Etl.sessionized(rows.toDF("event_id", "ts", "user_id"))
      val assigned = df.select("event_id", "user_id", "session_id")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val shuffled = Etl.sessionized(
        scala.util.Random.shuffle(rows).toDF("event_id", "ts", "user_id"))
        .select("event_id", "user_id", "session_id")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assigned.size == rows.size && assigned == shuffled
    }

  property("sessionizedScalable == sessionized for any bucket width") =
    Prop.forAll(eventsGen, Gen.oneOf(31, 97, 240, 1440)) { (rows, w) =>
      val df = rows.toDF("event_id", "ts", "user_id")
      def ids(d: org.apache.spark.sql.DataFrame) =
        d.select("event_id", "session_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids(Etl.sessionizedScalable(df, w)) == ids(Etl.sessionized(df))
    }

  property("native SessionizeExec == sessionized for any gap width") =
    Prop.forAll(eventsGen, Gen.oneOf(1, 30, 240, 3000)) { (rows, gapMin) =>
      val df = rows.toDF("event_id", "ts", "user_id")
      def ids(d: org.apache.spark.sql.DataFrame) =
        d.select("event_id", "session_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaNative = ids(org.apache.spark.sql.graft.SessionizePlan
        .sessionize(df, Seq("user_id"), "ts", Seq("event_id"), gapMin))
      viaNative == ids(WindowSessionizer(df, gapMin))
    }

  private val entityEventsGen: Gen[List[(Long, java.sql.Timestamp, Long, String)]] = for {
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 4L)
      off <- Gen.choose(0L, 3L * 86400)
      k <- Gen.option(Gen.choose(0, 3))
    } yield (u, off, k))
  } yield rows.zipWithIndex.map { case ((u, off, k), i) =>
    (i.toLong, new java.sql.Timestamp(base + off * 1000L), u,
      k.map(n => s"""{"k": $n}""").orNull)
  }

  property("sessionize_entity: partition; entity constant per session; refines time sessions") =
    Prop.forAll(entityEventsGen) { rows =>
      val df = Etl.sessionizedEntity(rows.toDF("event_id", "ts", "user_id", "props"))
        .select("event_id", "user_id", "session_id", "entity").collect()
      val partition = df.map(_.getLong(0)).distinct.length == rows.size
      val bySession = df.groupBy(r => (r.getLong(1), r.getLong(2)))
      // the entity under work never changes inside one visit
      val entConst = bySession.forall { case (_, rs) =>
        rs.map(r => Option(r.getString(3))).distinct.length == 1
      }
      // entity awareness only ever SPLITS time sessions (never merges
      // across a >30-min gap): each entity session maps into exactly one
      // plain time session — identical tie-break (ts, event_id) on both
      // sides makes this exact, not probabilistic
      val timeSess = Etl.sessionized(
        rows.map(t => (t._1, t._2, t._3)).toDF("event_id", "ts", "user_id"))
        .select("event_id", "session_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refines = bySession.forall { case (_, rs) =>
        rs.map(r => timeSess(r.getLong(0))).distinct.length == 1
      }
      partition && entConst && refines
    }

  private val typedEventsGen: Gen[List[(Long, java.sql.Timestamp, Long, String)]] =
    for {
      n <- Gen.choose(1, 100)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 3L)
        off <- Gen.choose(0L, 86400L)
        st <- Gen.oneOf("a", "b", "c")
      } yield (u, off, st))
    } yield rows.zipWithIndex.map { case ((u, off, st), i) =>
      (i.toLong, new java.sql.Timestamp(base + off * 1000L), u, st)
    }

  property("scd2: replaying any event log through the history table reproduces it") =
    Prop.forAll(typedEventsGen) { rows =>
      val scd = Etl.scd2(rows.toDF("event_id", "ts", "user_id", "event_type"))
        .collect()
      // reference build: per user, order by (ts, event_id), keep change
      // points, close each with the next change's ts
      val expected = rows.groupBy(_._3).toSeq.flatMap { case (u, es) =>
        val ordered = es.sortBy(e => (e._2.getTime, e._1))
        val changes = ordered.foldLeft(List.empty[(Long, java.sql.Timestamp, String)]) {
          case (acc, (id, ts, _, st)) =>
            if (acc.headOption.forall(_._3 != st)) (id, ts, st) :: acc else acc
        }.reverse
        changes.zipAll(changes.drop(1).map(c => Some(c._2)), null, None).collect {
          case ((id, ts, st), next) =>
            (u, id, st, ts, next.asInstanceOf[Option[java.sql.Timestamp]])
        }
      }.toSet
      val got = scd.map(r => (
        r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3),
        Option(r.getTimestamp(4)))).toSet
      got == expected
    }

  private val kvGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 1000L)))
  } yield rows

  property("dedup_latest: idempotent, one row per key, subset of input") =
    Prop.forAll(kvGen) { rows =>
      rows.isEmpty || {
        val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
          .toDF("k", "v", "tb")
        val w = Window.partitionBy("k").orderBy(col("v").desc, col("tb").desc)
        def dd(d: org.apache.spark.sql.DataFrame) =
          d.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
        val once = dd(df).collect().toSet
        dd(dd(df)).collect().toSet == once &&
          once.size == rows.map(_._1).distinct.size &&
          once.subsetOf(df.collect().toSet)
      }
    }

  property("incremental merge == rebuild: keys = base ∪ batch, batch wins") =
    Prop.forAll(Gen.zip(kvGen, kvGen)) { case (b1, b2) =>
      val base = b1.toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      val batch = b2.toDF("k", "v").groupBy("k").agg(max("v").as("v"))
      val merged = base.join(batch, Seq("k"), "left_anti").unionByName(batch)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = b1.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap ++
        b2.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      merged == expected
    }
}

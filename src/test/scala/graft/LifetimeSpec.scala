package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import graft.operators.Extras

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.PinnedCheckpoint
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Materialization lifetime: a pin that backs a lazily held frame stays
  * readable for as long as the caller holds that frame, however many
  * other pins are built meanwhile, in this thread or another one (see
  * [[PinnedCheckpoint]] for the rule).
  */
class LifetimeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("a pinned frame stays readable after six more pins") {
    val base = spark.range(0, 2000)
      .select((col("id") % 37).as("k"), col("id").as("v"))
    val first = PinnedCheckpoint.byKey(base, "k")
    (1 to 6).foreach(i =>
      PinnedCheckpoint.byKey(base.where(col("v") >= i), "k"))
    assert(first.count() == 2000L)
  }

  test("pageRank with sinks frees its pins and earlier rounds: only the " +
    "returned checkpoint stays, readable after another pageRank and hits build") {
    // a chain into a sink (3) plus a cycle with a sink off it (6)
    val edges = spark.createDataFrame(Seq((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 1L),
        (4L, 5L, 1L), (5L, 4L, 3L), (5L, 6L, 1L), (2L, 0L, 1L)))
      .toDF("src", "dst", "cnt")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ranks = Extras.pageRank(edges, 3, sinks = true)
    val kept = sc.getPersistentRDDs.keySet -- before
    assert(kept.size == 1, s"pageRank left ${kept.size} persisted RDDs: $kept")
    val expected = rows(Extras.pageRank(edges, 3, sinks = true))
    Extras.hits(edges)
    assert(rows(ranks) == expected)
    spark.catalog.clearCache()
  }

  test("two threads building pinned graph results: each lazily held " +
    "result survives the other thread's builds and matches the serial rows") {
    // symmetric edges (a ring plus chords), so every node has an out-edge
    val ab = spark.range(0, 400)
      .select(col("id").as("a"), ((col("id") * 7 + 1) % 400).as("b"))
    val edges = ab.union(ab.select(col("b"), col("a"))).distinct()
      .select(col("a").as("src"), col("b").as("dst"), lit(1L).as("cnt"))
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Extras.pageRank(edges, 3, sinks = false)),
      "hits" -> (() => Extras.hits(edges)._1))
    val serial = builders.map { case (k, b) => k -> rows(b()) }.toMap
    // each thread builds three times and reads nothing until both threads
    // are done building: nine pins (pageRank pins its edges, hits two
    // edge copies), all held lazily at once, built in lockstep so each
    // thread's builds interleave with the other's
    val builds = 3
    val barrier = new CyclicBarrier(builders.size)
    val pool = Executors.newFixedThreadPool(builders.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = builders.map { case (k, build) =>
        Future {
          val held = (1 to builds).map { _ =>
            val df = build()
            barrier.await(5, TimeUnit.MINUTES)
            df
          }
          k -> held.map(rows)
        }
      }
      Await.result(Future.sequence(runs), Duration(10, TimeUnit.MINUTES))
        .foreach { case (k, results) =>
          results.zipWithIndex.foreach { case (r, i) =>
            assert(r == serial(k), s"$k: build ${i + 1} diverged")
          }
        }
    } finally pool.shutdown()
    spark.catalog.clearCache()
  }
}

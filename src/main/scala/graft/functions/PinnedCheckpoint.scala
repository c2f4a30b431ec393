package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, NullsFirst,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, count, lit}

/** The ways an iterative engine loop materializes a frame.
  *
  *  - [[byKey]] holds a LOOP-INVARIANT frame: one the loop joins on the
  *    same key every round and never changes (an edge list, a node set).
  *    It crosses the network once, and every round reads it with no
  *    exchange on that key.
  *  - [[counted]] holds a round's STATE (labels, a shrinking edge set, a
  *    frontier): a plain `localCheckpoint` that flattens lineage, with the
  *    loop's convergence count observed in the same job, so counting the
  *    round costs no job of its own.
  *  - [[countedByKey]] holds a round's state that a join has already
  *    laid out by a pin's key (a PageRank rank vector): [[counted]], and
  *    the checkpoint declares that layout, so the next round joins it on
  *    the key with no exchange and no sort of its own.
  *
  * Shrinking state is never pinned: pinning the per-round frames of the
  * peel and label loops measured about 2× slower (round 14) — each round
  * would pay an exchange and a sort to lay out a frame read only once.
  *
  * Why `byKey` rebuilds the plan:
  * `df.repartition(n, col(k)).sortWithinPartitions(k).localCheckpoint()`
  * materializes exactly the layout the loop wants — but under AQE the
  * checkpoint's `LogicalRDD` records `UnknownPartitioning(0)`: at capture
  * time the physical plan is an un-finalized `AdaptiveSparkPlanExec`,
  * whose output partitioning is not yet known, so `Dataset.checkpoint`
  * cannot copy it. Every downstream join would then re-exchange the
  * already-partitioned blocks (plan evidence:
  * plans/r14/graph_pagerank_before.txt, `Scan ExistingRDD ...
  * UnknownPartitioning(0)` under `Exchange hashpartitioning(src, 32)`
  * once per iteration). `byKey` rebuilds the checkpointed `LogicalRDD`
  * with the partitioning and sort order the exchange it just executed
  * provably produced: `HashPartitioning(k, n)` rows placed by
  * `murmur3(k) pmod n` — precisely the contract `repartition(n, col(k))`
  * guarantees — and ascending-nulls-first order within each partition
  * from `sortWithinPartitions(k)`. Declaring a layout the blocks already
  * have is metadata repair, not a semantics change; origin statistics are
  * carried over so join-strategy choices are unaffected. `n` is the
  * session's `defaultParallelism`: an explicit count is a hard constraint
  * AQE will not coalesce, so a loop whose cost is its join OUTPUT (the
  * wedge self-joins) keeps every core busy however small the input bytes.
  * PlanSpec's "pinned keys" test checks that no plan re-exchanges a pin on
  * its own key.
  *
  * Lifetime — the one rule for every engine materialization, pins
  * included. A frame built and used inside one eager call is released by
  * that call (`persist … finally unpersist()`, or [[release]] for pins
  * and checkpoints). Checkpoint and pin blocks
  * that back a returned lazy frame last as long as that frame is
  * reachable: Spark's ContextCleaner frees them once the last reference
  * has been garbage-collected, as for any `localCheckpoint`.
  * SQL-cache persists that back a lazy result are freed by
  * `spark.catalog.clearCache()`. The engine keeps no registry of its
  * own: a local checkpoint cannot be recomputed, so freeing blocks that a
  * caller's lazy frame still reads would make that frame fail.
  */
object PinnedCheckpoint {
  def byKey(df: DataFrame, key: String): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    declare(df.repartition(parts, col(key)).sortWithinPartitions(key).localCheckpoint(),
      key, parts, sorted = true)
  }

  /** [[byKey]], with the aggregates `c` and `cs`, each named by its
    * alias, computed by the pin's own job. */
  def byKeyObserved(df: DataFrame, key: String, c: Column, cs: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    (byKey(df.observe(obs, c, cs: _*), key), obs.get)
  }

  /** The checkpoint `ck` with its `LogicalRDD` declaring `HashPartitioning(key,
    * parts)` and, when `sorted`, ascending order on `key`. */
  private def declare(ck: DataFrame, key: String, parts: Int, sorted: Boolean): DataFrame = {
    val ds = ck.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ds.queryExecution.logical match {
      case lr: LogicalRDD =>
        val attr = lr.output.find(_.name == key).getOrElse(
          throw new IllegalArgumentException(
            s"pinned checkpoint: no column '$key' in ${lr.output}"))
        val pinned = lr.copy(
          outputPartitioning = HashPartitioning(Seq(attr), parts),
          outputOrdering = if (sorted) Seq(SortOrder(attr, Ascending)) else Nil)(
          ds.sparkSession.asInstanceOf[SparkSession],
          Some(lr.stats), None)
        Dataset.ofRows(ds.sparkSession.asInstanceOf[SparkSession], pinned)
      case other =>
        // a future Spark that stops lowering checkpoints to LogicalRDD
        // just loses the pin, never correctness
        ck
    }
  }

  /** `df` checkpointed, with the aggregate `c` (a row count unless given)
    * computed by the checkpoint's own job. */
  def counted(df: DataFrame, c: Column = count(lit(1))): (DataFrame, Long) = {
    val obs = Observation()
    val out = df.observe(obs, c.as("c")).localCheckpoint()
    (out, obs.get("c").asInstanceOf[Long])
  }

  /** [[counted]] for a round state that a join has already laid out by
    * `key` (one that streamed a pin): the checkpoint declares the hash
    * layout, and the ascending order on `key` if any, that its own job's
    * final plan produced, so the next round joins it on `key` with no
    * exchange. A layout the job did not produce is not declared. */
  def countedByKey(df: DataFrame, key: String, c: Column): (DataFrame, Long) = {
    val obs = Observation()
    val observed = df.observe(obs, c.as("c"))
    val ck = observed.localCheckpoint()
    val done = observed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def onKey(e: Expression) = e match {
      case a: Attribute => a.name == key
      case _ => false
    }
    val out = done.outputPartitioning match {
      case HashPartitioning(Seq(k), parts) if onKey(k) =>
        declare(ck, key, parts, sorted = done.outputOrdering.headOption.exists(o =>
          onKey(o.child) && o.direction == Ascending && o.nullOrdering == NullsFirst))
      case _ => ck
    }
    (out, obs.get("c").asInstanceOf[Long])
  }

  /** Free the blocks of pins and checkpoints that nothing will read
    * again, as the ContextCleaner would once they were collected. Only
    * for frames local to one eager call, none of which backs what the
    * call returns: a local checkpoint cannot be recomputed. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.logical.foreach {
      case lr: LogicalRDD => lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ =>
    })
}

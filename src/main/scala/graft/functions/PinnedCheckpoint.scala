package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Checkpoint a frame hash-partitioned (and sorted) on a key, and make the
  * resulting plan DECLARE that layout.
  *
  * `df.repartition(n, col(k)).sortWithinPartitions(k).localCheckpoint()`
  * materializes exactly the layout an iterative consumer wants (each loop
  * round joins on `k`, so the big frame should cross the network once) —
  * but under AQE the checkpoint's `LogicalRDD` records
  * `UnknownPartitioning(0)`: at capture time the physical plan is an
  * un-finalized `AdaptiveSparkPlanExec`, whose output partitioning is not
  * yet known, so `Dataset.checkpoint` cannot copy it. Every downstream
  * join then re-exchanges the already-partitioned blocks (plan evidence:
  * plans/r14/graph_pagerank_before.txt, `Scan ExistingRDD ...
  * UnknownPartitioning(0)` under `Exchange hashpartitioning(src, 32)`
  * once per iteration).
  *
  * This helper rebuilds the checkpointed `LogicalRDD` with the
  * partitioning and sort order the exchange it just executed provably
  * produced: `HashPartitioning(k, n)` rows placed by
  * `murmur3(k) pmod n` — precisely the contract `repartition(n, col(k))`
  * guarantees — and ascending-nulls-first order within each partition
  * from `sortWithinPartitions(k)`. Declaring a layout the blocks already
  * have is metadata repair, not a semantics change; origin statistics are
  * carried over so join-strategy choices are unaffected.
  *
  * Lifetime — the one rule for every engine materialization, pins
  * included. A frame built and used inside one eager call is released by
  * that call (`persist … finally unpersist()`). Checkpoint and pin blocks
  * that back a returned lazy frame last as long as that frame is
  * reachable: Spark's ContextCleaner frees them once the last reference
  * has been garbage-collected, as for any `localCheckpoint`.
  * SQL-cache persists that back a lazy result are freed by
  * `spark.catalog.clearCache()`. The engine keeps no registry of its
  * own: a local checkpoint cannot be recomputed, so freeing blocks that a
  * caller's lazy frame still reads would make that frame fail.
  */
object PinnedCheckpoint {
  def byKey(df: DataFrame, parts: Int, key: String): DataFrame = {
    require(parts > 0, s"pinned checkpoint needs parts > 0, got $parts")
    val ck = df.repartition(parts, col(key))
      .sortWithinPartitions(key)
      .localCheckpoint()
      .asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ck.queryExecution.logical match {
      case lr: LogicalRDD =>
        val attr = lr.output.find(_.name == key).getOrElse(
          throw new IllegalArgumentException(
            s"pinned checkpoint: no column '$key' in ${lr.output}"))
        val pinned = lr.copy(
          outputPartitioning = HashPartitioning(Seq(attr), parts),
          outputOrdering = Seq(SortOrder(attr, Ascending)))(
          ck.sparkSession.asInstanceOf[SparkSession],
          Some(lr.stats), None)
        Dataset.ofRows(ck.sparkSession.asInstanceOf[SparkSession], pinned)
      case other =>
        // a future Spark that stops lowering checkpoints to LogicalRDD
        // just loses the pin, never correctness
        ck
    }
  }
}

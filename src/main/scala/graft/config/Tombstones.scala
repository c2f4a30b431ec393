package graft.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The delete markers of a mutable index ([[IvfIndex]], [[PqIndex]]):
  * deletes in an append-only index are MARKERS, not rewrites — an append
  * of the vec_ids to a `tombstones` table OUTSIDE the generation dirs,
  * so markers survive a generation swap. Serving anti-joins them;
  * [[LakeCommit.fold]] folds exactly the marker files it snapshotted, so
  * a delete racing a fold is never lost. Deleting an id twice, or an id
  * the index never held, is harmlessly idempotent (anti-join
  * semantics).
  */
private[graft] object Tombstones {

  /** The marker table of the index under `index`. */
  def dir(index: String): String = s"$index/tombstones"

  /** Append `vecIds` as markers, under the index's writer lease. */
  def delete(index: String, leaseTable: String, vecIds: DataFrame): Unit =
    LakeCommit.withLease(index, leaseTable) {
      requireMutable(index, "delete")
      vecIds.select(col("vec_id")).distinct().coalesce(1)
        .write.mode("append").parquet(dir(index))
    }

  /** The distinct vec_ids of the marker files `snap` — empty frame when
    * there are none. */
  def ids(spark: SparkSession, snap: Seq[String]): DataFrame =
    if (snap.isEmpty) spark.range(0).select(col("id").as("vec_id"))
    else spark.read.parquet(snap: _*).select("vec_id").distinct()

  /** Every tombstoned vec_id of the index under `index`. */
  def all(spark: SparkSession, index: String): DataFrame =
    ids(spark, LakeCommit.dataFiles(dir(index)))

  /** The compaction gate: the tombstoned fraction `deadN / totalN`
    * exceeds the stored τ (micro-units), in exact integer arithmetic so
    * the decision replays from the log. */
  def overTau(deadN: Long, totalN: Long, tauMicro: Long): Boolean =
    totalN > 0 && BigInt(deadN) * 1000000 > BigInt(tauMicro) * totalN

  /** LakeCache-managed dirs are derived caches — fingerprinted, rebuilt
    * on any source change, and LRU-evictable, so an in-place mutation
    * would be silently lost on the next eviction or fingerprint move.
    * The mutating verbs refuse them; deployments mutate dirs built
    * directly with `build`. */
  def requireMutable(index: String, verb: String): Unit =
    require(!LakeCache.isManaged(index),
      s"$verb: $index is a LakeCache-managed derived cache (evictable, " +
        "rebuilt-on-change) — mutating verbs require a deployment index dir")
}

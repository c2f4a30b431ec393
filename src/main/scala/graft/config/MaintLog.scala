package graft.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE maintenance-decision log implementation, shared by
  * [[IvfIndex]] and [[PqIndex]]: a manifest table named `maintlog` under
  * the index dir, published through [[LakeCommit.publish]]. Appends land
  * inside the current log generation; `log_seq` is read from the stored
  * ROWS (one bounded aggregate, monotonic across folds); the log folds
  * itself into a fresh single-file generation once [[FoldFiles]]
  * decision files accumulate. Single-writer under the caller's lease,
  * like the verbs that drive it.
  */
private[graft] object MaintLog {

  /** Fold the log once its generation accumulates this many decision
    * files — caps the LIST every reader pays, forever. */
  val FoldFiles = 16

  private val Table = "maintlog"

  /** The decision trail — one row per maintain call. */
  def read(spark: SparkSession, dir: String, layout: Int): DataFrame =
    spark.read.parquet(
      s"${LakeCommit.servingGen(dir, Table, layout, "maintlog")}/log")

  /** One-plus-stored-max — gapless across folds. */
  def nextSeq(spark: SparkSession, dir: String): Long =
    LakeCommit.currentGen(dir, Table) match {
      case None => 1L
      case Some(g) =>
        spark.read.parquet(s"$g/log")
          .agg(coalesce(max(col("log_seq")), lit(0L))).head().getLong(0) + 1
    }

  /** Append one decision row: the first decision publishes log
    * generation 1; later ones append a single coalesced file inside
    * the current generation and fold past [[FoldFiles]]. Runs under
    * the caller's writer lease (`leaseTable` = the index's own lease,
    * so log maintenance can never race the verb that produced it). */
  def append(
      spark: SparkSession, dir: String, row: DataFrame,
      layout: Int, leaseTable: String): Unit =
    LakeCommit.currentGen(dir, Table) match {
      case Some(g) =>
        row.coalesce(1).write.mode("append").parquet(s"$g/log")
        if (LakeCommit.dataFiles(s"$g/log").length > FoldFiles)
          fold(spark, dir, layout, leaseTable)
      case None =>
        LakeCommit.publish(dir, Table, layout)(stage =>
          row.coalesce(1).write.parquet(s"$stage/log"))
    }

  /** Fold the accumulated per-decision files into ONE file in a fresh
    * generation. `log_seq` lives in the rows, so ordering is untouched. */
  def fold(
      spark: SparkSession, dir: String, layout: Int,
      leaseTable: String): Unit =
    LakeCommit.currentGen(dir, Table).foreach { g =>
      LakeCommit.withLease(dir, leaseTable) {
        LakeCommit.publish(dir, Table, layout)(stage =>
          spark.read.parquet(s"$g/log")
            .coalesce(1).write.parquet(s"$stage/log"))
      }
    }
}

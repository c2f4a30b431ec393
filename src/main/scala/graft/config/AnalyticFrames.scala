package graft.config

import graft.operators.Extras
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained analytic frames (round 12 — VERDICT r11
  * #6): the materialized co-order graph, customer↔supplier pair frame,
  * and verified near-dup pair frame rebuilt in FULL whenever their
  * source fingerprint moved — under nightly append churn at 100 TB
  * that is a full recompute per night. This object extends the
  * SketchRegistry/IvfIndex ingest protocol to them: a DEPLOYMENT owns a
  * frame dir, appends each batch's ∝-batch delta, and serves with
  * cheap merge-on-read semantics; a compact verb folds accumulated
  * segments through the [[LakeCommit]] manifest swap. The DECLARED
  * keys keep their fingerprinted LakeCache twins (full recompute under
  * the DuckDB oracle), so a maintained frame that drifted from the
  * derivation would hash-mismatch the recompute the moment it served a
  * declared plan — the llm_corpus_build / _incremental pairing.
  *
  * Why each delta is ∝ batch, by frame:
  *   - co-order edges: every edge lives WITHIN one order, so a batch
  *     of complete new orders derives its edges from the batch alone
  *     (zero stored-frame reads). Segments may repeat an (a, b) edge
  *     seen in an earlier batch; the SET semantics are restored by one
  *     distinct at read (exactly the shuffle the pre-materialization
  *     plans paid), and compact folds it away.
  *   - customer↔supplier pairs: cnt is a count over joined lineitem
  *     rows, so batch partials merge ADDITIVELY — merge-on-read is one
  *     bounded groupBy-sum over (pairs + segment deltas).
  *   - verified near-dup pairs: the frame dir embeds a
  *     [[SketchRegistry]]; ingest emits exactly the batch-vs-corpus +
  *     batch-vs-batch verified pairs (∝ batch — the registry law) and
  *     appends them. Every stored pair involves at least one doc that
  *     was new when it landed, so segments are disjoint and serving is
  *     a plain read — no merge step at all; [[compactNearDupPairs]]
  *     (round 13 — VERDICT r12 #2) folds the accumulated segments so
  *     the file count a reader LISTs stays bounded.
  *
  * Every build and compact is one [[LakeCommit.publish]]; every ingest
  * appends under the same writer lease.
  *
  * Single-writer and batch-completeness (an order's lineitems, a doc's
  * text, never split across batches) are the caller's contract, as
  * with every ingest verb in this repo.
  */
object AnalyticFrames {

  /** Generation layout version: stamped on write, required on read —
    * see [[IvfIndex.Layout]]. 2 = the stamped era (edges / pairs /
    * registry+pairs table sets). */
  val Layout = 2

  private val Table = "frame"

  private def gen(dir: String): String =
    LakeCommit.servingGen(dir, Table, Layout, "analytic frame")

  // ---- co-order edge frame: set semantics, LSM segments ----

  def buildCoOrder(
      spark: SparkSession, orders: DataFrame, lineitem: DataFrame,
      dir: String): Unit =
    LakeCommit.publish(dir, Table, Layout) { stage =>
      Extras.coOrderEdgesFrom(orders, lineitem)
        .write.parquet(s"$stage/edges")
    }

  /** Append a batch's edges — derived from the NEW orders alone, so
    * the write is strictly ∝ batch (SCALING.md, "Round-12
    * measurements": 8.40 s build vs 1.09 s +10k ingest). */
  def ingestCoOrder(
      spark: SparkSession, dir: String, ordersBatch: DataFrame,
      lineitemBatch: DataFrame): Unit =
    LakeCommit.withLease(dir, Table) {
      Extras.coOrderEdgesFrom(ordersBatch, lineitemBatch)
        .write.mode("append").parquet(s"${gen(dir)}/edges")
    }

  /** Serve: distinct-at-read restores set semantics across segments. */
  def coOrderEdges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${gen(dir)}/edges").distinct()

  /** Fold accumulated segments into one distinct generation — the
    * manifest swap, crash-safe like every compact in this repo. */
  def compactCoOrder(spark: SparkSession, dir: String): Unit = {
    val folded = coOrderEdges(spark, dir)
    LakeCommit.publish(dir, Table, Layout)(stage =>
      folded.write.parquet(s"$stage/edges"))
  }

  // ---- customer↔supplier pair frame: additive partials ----

  def buildCustSupp(
      spark: SparkSession, orders: DataFrame, lineitem: DataFrame,
      dir: String): Unit =
    LakeCommit.publish(dir, Table, Layout) { stage =>
      Extras.custSuppPairsFrom(orders, lineitem)
        .write.parquet(s"$stage/pairs")
    }

  def ingestCustSupp(
      spark: SparkSession, dir: String, ordersBatch: DataFrame,
      lineitemBatch: DataFrame): Unit =
    LakeCommit.withLease(dir, Table) {
      Extras.custSuppPairsFrom(ordersBatch, lineitemBatch)
        .write.mode("append").parquet(s"${gen(dir)}/pairs")
    }

  /** Serve: one bounded groupBy-sum merges the additive partials. */
  def custSuppPairs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${gen(dir)}/pairs")
      .groupBy("c", "s").agg(sum(col("cnt")).as("cnt"))

  def compactCustSupp(spark: SparkSession, dir: String): Unit = {
    val folded = custSuppPairs(spark, dir)
    LakeCommit.publish(dir, Table, Layout)(stage =>
      folded.write.parquet(s"$stage/pairs"))
  }

  // ---- verified near-dup pair frame: registry-backed appends ----

  /** Build the sketch registry + the initial verified-pair frame in
    * one committed generation. */
  def buildNearDupPairs(
      spark: SparkSession, docs: DataFrame, dir: String): Unit =
    LakeCommit.publish(dir, Table, Layout) { stage =>
      SketchRegistry.build(spark, docs, s"$stage/registry")
      // one frame schema — (d1, d2, est_jaccard) at the registry's τ —
      // shared by the initial recompute and every ingest delta
      graft.operators.Llm.minhashVerified(docs)
        .where(col("est_jaccard") >= SketchRegistry.JaccardMin)
        .select("d1", "d2", "est_jaccard")
        .write.parquet(s"$stage/pairs")
      spark.catalog.clearCache() // the chain's persisted-sketch duty
    }

  /** Ingest a doc batch: the registry emits exactly the new verified
    * pairs (∝ batch — RegistrySpec's law) and both the sketch state
    * and the pair frame grow by appends inside the generation. */
  def ingestNearDupPairs(
      spark: SparkSession, dir: String, batch: DataFrame): Unit =
    LakeCommit.withLease(dir, Table) {
      val pairs = SketchRegistry.ingest(spark, s"${gen(dir)}/registry", batch)
      pairs.select(col("dup_of").as("d1"), col("new_id").as("d2"),
          col("est_jaccard"))
        .write.mode("append").parquet(s"${gen(dir)}/pairs")
      spark.catalog.clearCache()
    }

  /** Serve: segments are disjoint by construction (every appended pair
    * involves a then-new doc), so a plain read IS the pair set. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${gen(dir)}/pairs")

  /** Fold the verified-pair frame's accumulated ingest segments into
    * one compact generation (round 13 — VERDICT r12 #2: co-order and
    * cust-supp had compact verbs, pairs appended one parquet segment
    * per ingest FOREVER). The registry tables ride into the new
    * generation unchanged — one generation stays one consistent
    * (registry, pairs) snapshot, the same
    * whole-generation-rewrite-at-fold cost accounting as
    * [[IvfIndex.compact]]; on a bucketed cluster layout the registry
    * rewrite preserves the bucketing. Pairs keep their disjointness, so
    * serving stays a plain read. Crash-safe like every publish here:
    * before the commit the old generation serves untouched. */
  def compactNearDupPairs(spark: SparkSession, dir: String): Unit = {
    val g = gen(dir)
    LakeCommit.publish(dir, Table, Layout) { stage =>
      Seq("shingles", "bands", "sizes").foreach { t =>
        spark.read.parquet(s"$g/registry/$t")
          .write.parquet(s"$stage/registry/$t")
      }
      spark.read.parquet(s"$g/pairs")
        .coalesce(8).write.parquet(s"$stage/pairs")
    }
  }
}

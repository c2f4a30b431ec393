package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorFunctions.cosineSim
import org.scalatest.funsuite.AnyFunSuite

/** Validates the banded sign-LSH prefilter (llm_sim_join_lsh's candidate
  * stage) as the scale path for similarity joins: on a corpus with planted
  * near-dup clusters, the candidate set must contain EVERY brute-force pair
  * in the near-dup regime (recall 1.0) while staying far below the O(n²)
  * pair count the brute-force join would evaluate.
  *
  * Threshold-regime note (mirrored in SCALING.md): sign-LSH amplifies
  * selectivity around HIGH cosine similarity. At sim ≥ 0.8 the per-bit
  * agreement is ≥ 1 - acos(0.8)/π ≈ 0.80, so a 4-band × 4-bit scheme keeps
  * per-pair recall ≥ 1-(1-0.80⁴)⁴ ≈ 0.92 and near 1.0 at sim ≥ 0.95; at
  * moderate thresholds (τ ≈ 0.35) NO banding of 16 sign bits can separate
  * matches from non-matches (per-bit agreement 0.61 vs 0.5 baseline) — that
  * regime belongs to minhash banding on text shingles or brute force.
  */
class LshPrefilterSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 tight clusters of 10 vectors (within-cluster cosine ≥ ~0.95) + 20
  // isotropic noise vectors — same construction as NearDupSpec, plus noise
  // so candidate-set shrinkage is measurable.
  private lazy val dir: String = {
    val d = suiteTempDir("graft_lsh")
    val vecs = (0 until 30).map { i =>
      val c = i / 10
      val r = new scala.util.Random(c)
      val center = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
      val jitter = new scala.util.Random(1000 + i)
      (i.toLong, center.map(x => x + (jitter.nextDouble() * 0.05).toFloat), c)
    } ++ (30 until 50).map { i =>
      val r = new scala.util.Random(5000 + i)
      (i.toLong, Array.fill(64)((r.nextDouble() * 2 - 1).toFloat), 9)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def brutePairs(tau: Double): Set[(Long, Long)] = {
    val e = Tables(spark, dir, "embeddings")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .where(round(cosineSim(col("a_emb"), col("b_emb")), 6) >= tau)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
  }

  test("candidates ⊇ all brute-force near-dup pairs (recall = 1.0 at τ=0.8)") {
    val cand = operators.Llm.lshCandidatePairs(spark, dir, 4, 4)
      .as[(Long, Long)].collect().toSet
    val brute = brutePairs(0.8)
    assert(brute.nonEmpty, "fixture must contain near-dup pairs")
    val missed = brute -- cand
    assert(missed.isEmpty, s"LSH prefilter missed near-dup pairs: $missed")
  }

  test("candidate set is a small fraction of the O(n²) pair space") {
    val n = 50L
    val allPairs = n * (n - 1) / 2
    val cand = operators.Llm.lshCandidatePairs(spark, dir, 4, 4).count()
    assert(cand < allPairs / 2,
      s"prefilter kept $cand of $allPairs pairs — no pruning value")
  }

  test("prefilter + exact verify reproduces the brute-force join at τ=0.8") {
    val e = Tables(spark, dir, "embeddings")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val viaLsh = operators.Llm.lshCandidatePairs(spark, dir, 4, 4)
      .join(a, Seq("a_id")).join(b, Seq("b_id"))
      .where(round(cosineSim(col("a_emb"), col("b_emb")), 6) >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(viaLsh == brutePairs(0.8))
  }

  // ------------------------------------------------------------------
  // Moderate-τ regime (round 5): the 8-band × 2-bit union-of-bands
  // scheme behind llm_sim_join_threshold_lsh. Per-bit agreement at
  // sim=0.35 is p ≈ 0.61, so the theory recall at the boundary is
  // 1-(1-p²)^8 ≈ 0.98 — measured here on PLANTED pairs whose cosine is
  // controlled into [0.35, 0.65] by mixing a shared component with
  // orthogonal noise: v = α·u + β·w with α/√(α²+β²) = target sim.
  // ------------------------------------------------------------------

  private lazy val moderateDir: String = {
    val d = suiteTempDir("graft_lsh_mod")
    val pairs = (0 until 40).map { i =>
      val target = 0.35 + 0.3 * (i % 8) / 7.0 // sims spread over [0.35, 0.65]
      val ru = new scala.util.Random(9000 + i)
      val u = Array.fill(64)(ru.nextGaussian())
      val rw = new scala.util.Random(9500 + i)
      val w0 = Array.fill(64)(rw.nextGaussian())
      // orthogonalize w against u, then mix to the target cosine
      val un = math.sqrt(u.map(x => x * x).sum)
      val dot = u.zip(w0).map { case (x, y) => x * y }.sum
      val w = w0.zip(u).map { case (y, x) => y - dot / (un * un) * x }
      val wn = math.sqrt(w.map(x => x * x).sum)
      val beta = math.sqrt(1 - target * target)
      val v = u.zip(w).map { case (x, y) => target * x / un + beta * y / wn }
      (u.map(_.toFloat), v.map(_.toFloat))
    }
    val rows = pairs.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2L * i, u, 0), (2L * i + 1, v, 0))
    } ++ (80 until 160).map { i =>
      val r = new scala.util.Random(20000 + i)
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat), 9)
    }
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("8×2 union-of-bands recall ≥ 0.9 on planted moderate-sim pairs (τ=0.35)") {
    val e = Tables(spark, moderateDir, "embeddings")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .where(round(cosineSim(col("a_emb"), col("b_emb")), 6) >= 0.35)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // every planted pair's construction cosine is ≥ 0.35, so brute must
    // contain (2i, 2i+1) for all 40 plants (float rounding can graze the
    // boundary for the lowest target — tolerate up to 2 grazes)
    val planted = (0 until 40).map(i => (2L * i, 2L * i + 1)).toSet
    assert((planted -- brute).size <= 2, s"fixture lost planted pairs: ${planted -- brute}")
    val cand = operators.Llm.lshCandidatePairs(spark, moderateDir, 8, 2)
      .as[(Long, Long)].collect().toSet
    val inRegime = planted.intersect(brute)
    val recall = inRegime.count(cand.contains).toDouble / inRegime.size
    assert(recall >= 0.9,
      s"union-of-bands recall $recall below bound (missed ${inRegime -- cand})")
    // the full τ≥0.35 edge set (planted + incidental) must also be
    // well-recalled — this is what llm_sim_join_threshold_lsh returns
    val edgeRecall = brute.count(cand.contains).toDouble / brute.size
    assert(edgeRecall >= 0.9, s"edge recall $edgeRecall below bound")
  }

  test("8×2 banding still prunes the random-pair space") {
    // at sim≈0 the per-band hit is 0.25, so ~1-0.75^8 ≈ 90% of random
    // pairs still collide SOMEWHERE — the harness-scale dial favors
    // recall; r grows with log n at corpus scale (SCALING.md). The spec
    // pins that pruning is real even at the recall-heavy dial.
    val n = 160L
    val allPairs = n * (n - 1) / 2
    val cand = operators.Llm.lshCandidatePairs(spark, moderateDir, 8, 2).count()
    assert(cand < allPairs,
      s"union-of-bands candidate set $cand must stay below the $allPairs pair space")
    assert(cand.toDouble / allPairs < 0.95,
      s"expected ≥5% pruning at the recall-heavy dial, got $cand/$allPairs")
  }
}

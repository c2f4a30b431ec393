package graft

import graft.functions.ProductQuantizer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization properties on the real embedding fixture: 32×
  * compression with enough ADC fidelity to shortlist true neighbors —
  * the candidate-generation role PQ plays in a 100 TB vector store
  * (shortlist by 8-byte codes, rerank the shortlist from int8/float).
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs: Map[Long, Array[Float]] =
    Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("encode is a Spark-expression pass: codes in range, deterministic, 32x smaller") {
    val pq = ProductQuantizer.train(vecs.values.toArray.sortBy(_.head))
    val df = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), pq.encode(col("embedding")).as("codes"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)),
      "8 subspace codes, each in [0,16) — stored one byte per code, " +
        "8 B per 256 B vector (4-bit packing would halve that again)")
    // deterministic re-encode
    val again = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows == again)
    // the plan is a pure projection: no shuffle, no UDF
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must be map-side:\n$plan")
  }

  test("ADC shortlist of 50 recovers most exact dot-product top-10 neighbors") {
    val pq = ProductQuantizer.train(vecs.values.toArray.sortBy(_.head))
    val codes = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), pq.encode(col("embedding")).as("codes"))
      .cache()
    try {
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
        d
      }
      val qids = vecs.keys.toSeq.sorted.take(15)
      val recalls = qids.map { qid =>
        val q = vecs(qid)
        val exactTop = vecs.iterator.filter(_._1 != qid)
          .map { case (id, v) => id -> dot(q, v) }
          .toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
        // the Spark-side ADC shortlist: score 8-byte codes, keep top-50
        val shortlist = codes.where(col("vec_id") =!= qid)
          .select(col("vec_id"), pq.adcScore(col("codes"), q).as("s"))
          .orderBy(col("s").desc, col("vec_id")).limit(50)
          .collect().map(_.getLong(0)).toSet
        exactTop.intersect(shortlist).size / 10.0
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.6,
        s"ADC-50 shortlist recall of exact top-10 = $mean (want >= 0.6)")
    } finally codes.unpersist()
  }

  test("PqArgminCode: codegen == eval, first-min tie-break, codebook " +
    "holes honored, length-mismatched centroids skipped") {
    import org.apache.spark.sql.graft.VectorFunctions.pqArgminCode
    // codebook with a HOLE (code ids 0, 3, 7) and a tie: sub [1,1]
    // is equidistant from cents[0]=[0,0] and cents[1]=[2,2] (d=2 each)
    // → first-min picks position 0 → code 0. cents[2] has the wrong
    // arity and must be skipped, never crash.
    val df = Seq(
      (Seq(1L, 1L), Seq(Seq(0L, 0L), Seq(2L, 2L), Seq(9L)), Seq(0L, 3L, 7L)),
      (Seq(5L, 5L), Seq(Seq(0L, 0L), Seq(2L, 2L), Seq(9L)), Seq(0L, 3L, 7L)),
      (Seq(9L, 9L), Seq(Seq(9L)), Seq(7L))) // NO valid centroid → null
      .toDF("sub", "cents", "cs")
      .select(pqArgminCode(col("sub"), col("cents"), col("cs")).as("code"))
    // a codebook whose every centroid mismatches the sub-vector arity is
    // malformed — it must surface as null, never as a valid-looking code
    // (round-11 advice fix; was "first code kept")
    assert(df.collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ==
      Seq(Some(0L), Some(3L), None))
    // codegen and interpreted eval agree on the declared chain's shapes
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(64).select(col("vec_id"), col("embedding"))
    val sv = graft.operators.Llm.pqSubFrame(e)
    val cb = graft.operators.Llm.pqRecenter(graft.operators.Llm.pqAssign(
      sv, graft.operators.Llm.pqSeeds(sv)))
    val assigned = graft.operators.Llm.pqAssign(sv, cb)
      .select("vec_id", "j", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = graft.operators.Llm.pqAssign(sv, cb)
        .select("vec_id", "j", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(interpreted == assigned,
        "interpreted eval must equal codegen for PqArgminCode")
    }
  }

  test("stored PQ index serves results identical to live training, " +
    "idempotently (r10 — the IVF stored-index contract applied to PQ)") {
    val d = "/root/testdata/sf0.001"
    val dir = graft.config.PqIndex.ensure(spark, d)
    val stored = SparkEntry.queries("llm_pq_topk")(spark, d).collect().toSeq
    val live = SparkEntry.queries("llm_pq_topk_train")(spark, d)
      .collect().toSeq
    // the twin contract: stored codebook + codes answer EXACTLY what
    // live training answers (the driver additionally pins both to the
    // same replayed oracle CTE chain)
    assert(stored == live)
    assert(stored.nonEmpty)
    // ensure() is idempotent per fingerprint — the second call serves
    // the same dir without rebuilding (generation resolved via manifest)
    val gen = graft.config.LakeCommit.currentGen(dir, "pq").get
    val mt0 = new java.io.File(s"$gen/codebook").lastModified
    assert(graft.config.PqIndex.ensure(spark, d) == dir)
    assert(graft.config.LakeCommit.currentGen(dir, "pq").contains(gen))
    assert(new java.io.File(s"$gen/codebook").lastModified == mt0)
    // the stored code table really is the compressed representation:
    // one row per vector, PqM codes each, every code inside [0, PqK)
    val codes = graft.config.PqIndex.codes(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val nVecs = Tables(spark, d, "embeddings").count()
    assert(codes.length == nVecs)
    assert(codes.forall { case (_, cs) =>
      cs.length == graft.operators.Llm.PqM &&
        cs.forall(c => c >= 0 && c < graft.operators.Llm.PqK)
    })
    spark.catalog.clearCache()
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

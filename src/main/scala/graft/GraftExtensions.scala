package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.graft.{CosineSimilarity, JaroWinkler, VectorDot}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** SparkSessionExtensions hook (SURVEY.md §4.3): registers the native
  * vector expressions as SQL functions, so the engine's surface is also
  * reachable from pure SQL:
  *
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  *
  * Wire it with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (done in Verify/Bench/Smoke) or on any user-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def binary(
      name: String, build: (Expression, Expression) => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(build.getClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name expects 2 arguments")
        build(children(0), children(1))
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(binary("cosine_sim", CosineSimilarity))
    ext.injectFunction(binary("vector_dot", VectorDot))
    ext.injectFunction(binary("jaro_winkler", JaroWinkler))
    // Opt-in approximate-distinct mode (round 7): COUNT(DISTINCT x) →
    // HLL estimate under spark.graft.approx.countDistinct=true — the
    // 100 TB structural rewrite (no fact re-shuffle) documented on
    // org.apache.spark.sql.graft.ApproxDistinctRewrite.
    ext.injectOptimizerRule(org.apache.spark.sql.graft.ApproxDistinctRewrite)
    // Opt-in cartesian guard (round 7): analysis-time rejection of
    // unconditional cross joins under spark.graft.guard.noCartesian.
    ext.injectCheckRule(org.apache.spark.sql.graft.CartesianGuard)
    // portable_hash(expr): the engine-portable 60-bit content hash
    // (graft.functions.PortableHash) as a SQL function — composed from
    // built-in expressions so it stays codegen'd end to end.
    ext.injectFunction((
      FunctionIdentifier("portable_hash"),
      new ExpressionInfo(classOf[Conv].getName, "portable_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "portable_hash expects 1 argument")
        // cast through STRING first: a non-string argument (e.g. a BIGINT
        // doc_id) would otherwise md5 its 8-byte binary encoding, diverging
        // from both the Scala surface (always string-cast input) and the
        // DuckDB twin (md5 of the VARCHAR form)
        Cast(
          Conv(
            Substring(Md5(Cast(Cast(children.head, StringType), BinaryType)),
              Literal(1), Literal(15)),
            Literal(16), Literal(10)),
          LongType)
      }))
    // Exposed-sketch HLL family (round 4): persistable distinct-count
    // sketches from pure SQL — hll_sketch(x[, p]) → BINARY,
    // hll_merge(sketch) → BINARY, hll_estimate(sketch) → BIGINT.
    ext.injectFunction((
      FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.HllSketchAgg].getName,
        "hll_sketch"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "hll_sketch expects (expr[, precision])")
        val p = children.lift(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hll_sketch precision must be an INT literal, got $other")
        }.getOrElse(12)
        org.apache.spark.sql.graft.HllSketchAgg(children.head, p)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.HllMergeAgg].getName,
        "hll_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "hll_merge expects 1 argument")
        org.apache.spark.sql.graft.HllMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.HllEstimate].getName,
        "hll_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "hll_estimate expects 1 argument")
        org.apache.spark.sql.graft.HllEstimate(children.head)
      }))
    // KMV/theta family (round 7): the INTERSECTION-capable distinct
    // sketch — kmv_sketch(hash[, k[, bits]]) → BINARY over pre-hashed
    // longs, kmv_merge(sketch) → BINARY, kmv_estimate/kmv_theta(sketch)
    // → DOUBLE, kmv_union_pair(a, b) → BINARY,
    // kmv_intersect_est(a, b) → DOUBLE.
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvSketchAgg].getName,
        "kmv_sketch"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "kmv_sketch expects (hash[, k[, bits]])")
        def intLit(i: Int, what: String): Option[Int] = children.lift(i).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"kmv_sketch $what must be an INT literal, got $other")
        }
        org.apache.spark.sql.graft.KmvSketchAgg(
          children.head,
          intLit(1, "k").getOrElse(256),
          intLit(2, "bits").getOrElse(60))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvMergeAgg].getName,
        "kmv_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kmv_merge expects 1 argument")
        org.apache.spark.sql.graft.KmvMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvEstimate].getName,
        "kmv_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kmv_estimate expects 1 argument")
        org.apache.spark.sql.graft.KmvEstimate(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_theta"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvTheta].getName,
        "kmv_theta"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kmv_theta expects 1 argument")
        org.apache.spark.sql.graft.KmvTheta(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_union_pair"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvUnionPair].getName,
        "kmv_union_pair"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_union_pair expects 2 arguments")
        org.apache.spark.sql.graft.KmvUnionPair(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_intersect_est"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KmvIntersectEst].getName,
        "kmv_intersect_est"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_intersect_est expects 2 arguments")
        org.apache.spark.sql.graft.KmvIntersectEst(children.head, children(1))
      }))
    // Count-min family (round 4): cms_sketch(x[, w]) → BINARY,
    // cms_merge(sketch) → BINARY (exact), cms_query(sketch, x) → BIGINT
    // (overestimate-only point frequency).
    ext.injectFunction((
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CmsSketchAgg].getName,
        "cms_sketch"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "cms_sketch expects (expr[, width])")
        val w = children.lift(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"cms_sketch width must be an INT literal, got $other")
        }.getOrElse(2048)
        // string-cast: build and query must hash the same canonical
        // bytes whatever each side's type (see CmsFunctions.cmsSketch)
        org.apache.spark.sql.graft.CmsSketchAgg(
          Cast(children.head, StringType), w).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CmsMergeAgg].getName,
        "cms_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "cms_merge expects 1 argument")
        org.apache.spark.sql.graft.CmsMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_query"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CmsQuery].getName,
        "cms_query"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cms_query expects (sketch, value)")
        org.apache.spark.sql.graft.CmsQuery(children(0),
          Cast(children(1), StringType))
      }))
    // KLL quantile family (round 5): kll_sketch(x[, k]) → BINARY,
    // kll_merge(sketch) → BINARY (associative), kll_quantile(sketch, q)
    // → DOUBLE (NULL on an empty sketch). Completes the mergeable-state
    // aggregate trio: distinct (HLL), frequency (CMS), rank (KLL).
    ext.injectFunction((
      FunctionIdentifier("kll_sketch"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KllSketchAgg].getName,
        "kll_sketch"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "kll_sketch expects (expr[, k])")
        val k = children.lift(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"kll_sketch k must be an INT literal, got $other")
        }.getOrElse(org.apache.spark.sql.graft.Kll.DefaultK)
        // double-cast so every numeric input type sketches identically
        // (same contract as the Scala surface KllFunctions.kllSketch)
        org.apache.spark.sql.graft.KllSketchAgg(
          Cast(children.head, org.apache.spark.sql.types.DoubleType), k)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KllMergeAgg].getName,
        "kll_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "kll_merge expects 1 argument")
        org.apache.spark.sql.graft.KllMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_merge_pair"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KllMergePair].getName,
        "kll_merge_pair"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kll_merge_pair expects (sketch, sketch)")
        org.apache.spark.sql.graft.KllMergePair(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.KllQuantile].getName,
        "kll_quantile"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kll_quantile expects (sketch, q)")
        org.apache.spark.sql.graft.KllQuantile(children(0),
          Cast(children(1), org.apache.spark.sql.types.DoubleType))
      }))
    // Misra-Gries top-k family (round 5): mg_sketch(x[, k]) → BINARY,
    // mg_merge(sketch) → BINARY (mergeable-summaries combine),
    // mg_topk(sketch, m) → ARRAY<STRUCT<item, est>>. Completes the
    // mergeable quartet: distinct (HLL), frequency (CMS), rank (KLL),
    // top-k items (MG) — MG carries the heavy items themselves, so the
    // report needs no vocabulary second pass.
    ext.injectFunction((
      FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MgSketchAgg].getName,
        "mg_sketch"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 2,
          "mg_sketch expects (expr[, k])")
        val k = children.lift(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"mg_sketch k must be an INT literal, got $other")
        }.getOrElse(org.apache.spark.sql.graft.Mg.DefaultK)
        // string-cast so every key type sketches by its canonical form
        // (same contract as the Scala surface MgFunctions.mgSketch)
        org.apache.spark.sql.graft.MgSketchAgg(
          Cast(children.head, StringType), k).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("mg_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MgMergeAgg].getName,
        "mg_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "mg_merge expects 1 argument")
        org.apache.spark.sql.graft.MgMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MgTopk].getName,
        "mg_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "mg_topk expects (sketch, m)")
        org.apache.spark.sql.graft.MgTopk(children(0),
          Cast(children(1), org.apache.spark.sql.types.IntegerType))
      }))
    // Bloom membership family (round 5): bloom_build(x[, bits[, hashes]])
    // → BINARY, bloom_merge(filter) → BINARY (bitwise-OR union),
    // bloom_contains(filter, x) → BOOLEAN (no false negatives) — the
    // map-side join-pruning filter of the sketch family.
    ext.injectFunction((
      FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.BloomBuildAgg].getName,
        "bloom_build"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "bloom_build expects (expr[, numBits[, numHashes]])")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bloom_build $what must be an INT literal, got $other")
        }
        val bits = children.lift(1).map(intLit(_, "numBits"))
          .getOrElse(org.apache.spark.sql.graft.Bloom.DefaultBits)
        val hashes = children.lift(2).map(intLit(_, "numHashes"))
          .getOrElse(org.apache.spark.sql.graft.Bloom.DefaultHashes)
        // string-cast so build and probe hash the same canonical bytes
        // whatever each side's column type is (type-mismatched XxHash64
        // would be a SILENT false negative — see BloomFunctions)
        org.apache.spark.sql.graft.BloomBuildAgg(
          Cast(children.head, StringType), bits, hashes)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_merge"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.BloomMergeAgg].getName,
        "bloom_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bloom_merge expects 1 argument")
        org.apache.spark.sql.graft.BloomMergeAgg(children.head)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.BloomContains].getName,
        "bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bloom_contains expects (filter, value)")
        org.apache.spark.sql.graft.BloomContains(children(0),
          Cast(children(1), StringType))
      }))
  }
}

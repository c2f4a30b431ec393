package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.D agg_approx_distinct (declare=no): HLL++ sketches differ from
  * DuckDB's, so the check is the documented rsd error bound vs exact
  * (SURVEY.md §2.D) — the 100 TB path for distinct counts.
  */
class ApproxSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("approx_count_distinct stays within the configured rsd of exact") {
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    val approx = ev.agg(approx_count_distinct(col("user_id"), 0.02))
      .head().getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact
    assert(relErr < 0.06, s"exact=$exact approx=$approx relErr=$relErr")
  }

  test("hll sketches persist per batch, merge losslessly, estimate within rsd") {
    import org.apache.spark.sql.graft.HllFunctions.{hllEstimate, hllMerge, hllSketch}
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    // two disjoint batches with OVERLAPPING users, sketched separately and
    // persisted to a lake dir — the across-runs shape
    val d = tempDir("graft_hll")
    for (par <- 0 to 1)
      ev.where(col("event_id") % 2 === par)
        .agg(hllSketch(col("user_id")).as("sk"))
        .write.mode("overwrite").parquet(s"$d/batch$par")
    val merged = spark.read.parquet(s"$d/batch0")
      .unionByName(spark.read.parquet(s"$d/batch1"))
      .agg(hllEstimate(hllMerge(col("sk"))).as("n")).head().getLong(0)
    val whole = ev.agg(hllEstimate(hllSketch(col("user_id")))).head().getLong(0)
    // merge is register-wise max: merging batch sketches must be LOSSLESS,
    // i.e. identical to sketching everything in one pass — not just close
    assert(merged == whole, s"merge must be lossless: merged=$merged whole=$whole")
    // p=12 → rsd ≈ 1.6%; allow 3 sigma
    val relErr = math.abs(merged - exact).toDouble / exact
    assert(relErr < 0.05, s"exact=$exact merged=$merged relErr=$relErr")
  }

  test("hll per-group sketches track exact per-group counts") {
    import org.apache.spark.sql.graft.HllFunctions.{hllEstimate, hllSketch}
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val exact = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = ev.groupBy("event_type")
      .agg(hllEstimate(hllSketch(col("user_id"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    for ((k, e) <- exact)
      assert(math.abs(est(k) - e).toDouble / e < 0.05, s"$k: exact=$e est=${est(k)}")
  }

  test("cms sketches: overestimate-only point queries, exact merge across batches") {
    import org.apache.spark.sql.graft.CmsFunctions.{cmsMerge, cmsQuery, cmsSketch}
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val exact = ev.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    // two disjoint batches sketched separately, merged — counters are
    // linear, so the merge must equal the one-pass sketch EXACTLY
    val parts = (0 to 1).map(p =>
      ev.where(col("event_id") % 2 === p).agg(cmsSketch(col("user_id")).as("sk")))
    val merged = parts.reduce(_ unionByName _)
      .agg(cmsMerge(col("sk")).as("sk"))
    val whole = ev.agg(cmsSketch(col("user_id")).as("sk"))
    assert(merged.head().getAs[Array[Byte]](0)
      .sameElements(whole.head().getAs[Array[Byte]](0)),
      "merge of batch sketches must be exactly the one-pass sketch")
    // point queries: never under, bounded over (eps = e/w of total mass)
    val probe = exact.keys.take(50).toSeq
    val est = probe.map { u =>
      u -> whole.select(cmsQuery(col("sk"), lit(u))).head().getLong(0)
    }
    val bound = math.ceil(math.E / 2048 * n).toLong + 1
    for ((u, e) <- est)
      assert(e >= exact(u), s"CMS must never underestimate: user $u $e < ${exact(u)}")
    // the e/w·N bound holds per query with prob 1 - e^-depth (~98%), not
    // deterministically — assert the failure RATE, not every probe
    val exceed = est.count { case (u, e) => e > exact(u) + bound }
    assert(exceed <= probe.size / 10,
      s"$exceed of ${probe.size} probes exceeded the e/w bound")
  }

  test("cms empty sketch: merge over all-NULL group queries to 0, no crash") {
    // round-5 advice fix: cms_merge over a group whose sketch column is
    // all NULL keeps its zero-length init buffer; cms_query on that empty
    // sketch must be 0 (no observations), not an ArithmeticException from
    // a mod-by-zero width — mirroring Hll.estimate's empty-case guard.
    import org.apache.spark.sql.graft.Cms
    import org.apache.spark.sql.graft.CmsFunctions.{cmsMerge, cmsQuery}
    assert(Cms.query(Array.emptyLongArray, 42L) == 0L)
    import spark.implicits._
    val allNull = Seq(null: Array[Byte], null: Array[Byte]).toDF("sk")
    val est = allNull.agg(cmsMerge($"sk").as("m"))
      .select(cmsQuery($"m", lit(7L))).head().getLong(0)
    assert(est == 0L)
  }

  test("kll sketches persist per batch, merge within bound, quantiles track exact ranks") {
    import org.apache.spark.sql.graft.KllFunctions.{kllMerge, kllQuantile, kllSketch}
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val values = ev.select("value").na.drop().collect().map(_.getDouble(0)).sorted
    val n = values.length.toDouble
    // rank of a returned quantile, as an interval to absorb ties
    def rankErr(v: Double, q: Double): Double = {
      val lo = values.count(_ < v) / n
      val hi = values.count(_ <= v) / n
      if (q < lo) lo - q else if (q > hi) q - hi else 0.0
    }
    // one-pass sketch: k=200 → rank error ~1%; assert 2.5%
    val one = ev.agg(kllSketch(col("value")).as("sk"))
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = one.select(kllQuantile(col("sk"), lit(q))).head().getDouble(0)
      assert(rankErr(est, q) < 0.025, s"one-pass q=$q est=$est err=${rankErr(est, q)}")
    }
    // two disjoint batches sketched separately, persisted to a lake dir,
    // merged — the across-runs shape that lets monthly medians accumulate
    // without rescanning history
    val d = tempDir("graft_kll")
    for (par <- 0 to 1)
      ev.where(col("event_id") % 2 === par)
        .agg(kllSketch(col("value")).as("sk"))
        .write.mode("overwrite").parquet(s"$d/batch$par")
    val merged = spark.read.parquet(s"$d/batch0")
      .unionByName(spark.read.parquet(s"$d/batch1"))
      .agg(kllMerge(col("sk")).as("sk"))
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = merged.select(kllQuantile(col("sk"), lit(q))).head().getDouble(0)
      assert(rankErr(est, q) < 0.025, s"merged q=$q est=$est err=${rankErr(est, q)}")
    }
  }

  test("kll empty sketch: all-NULL input yields NULL quantile, no crash") {
    import org.apache.spark.sql.graft.KllFunctions.{kllMerge, kllQuantile, kllSketch}
    import spark.implicits._
    val allNull = Seq[(Int, Option[Double])]((1, None), (1, None))
      .toDF("g", "v")
    val viaSketch = allNull.groupBy("g").agg(kllSketch($"v").as("sk"))
      .select(kllQuantile($"sk", lit(0.5))).head()
    assert(viaSketch.isNullAt(0))
    val noSketches = Seq(null: Array[Byte]).toDF("sk")
      .agg(kllMerge($"sk").as("m"))
      .select(kllQuantile($"m", lit(0.5))).head()
    assert(noSketches.isNullAt(0))
  }

  test("mg sketches: planted heavy item survives persisted-batch merge within bound") {
    import org.apache.spark.sql.graft.MgFunctions.{mgMerge, mgSketch, mgTopk}
    import org.apache.spark.sql.graft.Mg
    import spark.implicits._
    // 10k rows: "heavy" holds 30% of the stream, the rest spreads over
    // 1000 cold items. k=16 → underestimate ≤ n/17 ≈ 5.9% of mass, so
    // the heavy item MUST survive any partitioning with est ≥ 24.1%.
    val rows = (0 until 10000).map { i =>
      (i.toLong, if (i % 10 < 3) "heavy" else s"cold${i % 1000}")
    }.toDF("id", "item")
    val d = tempDir("graft_mg")
    for (par <- 0 to 1)
      rows.where($"id" % 2 === par)
        .agg(mgSketch($"item", 16).as("sk"))
        .write.mode("overwrite").parquet(s"$d/batch$par")
    val merged = spark.read.parquet(s"$d/batch0")
      .unionByName(spark.read.parquet(s"$d/batch1"))
      .agg(mgMerge($"sk").as("sk"))
    val sk = merged.head().getAs[Array[Byte]](0)
    val buf = Mg.deserialize(sk)
    assert(buf.n == 10000L)
    assert(Mg.maxUnderestimate(buf) <= 10000L / 17)
    val top = merged.select(mgTopk($"sk", lit(3)).as("top"))
      .selectExpr("inline(top)").as[(String, Long)].collect()
    assert(top.head._1 == "heavy", s"top-1 was ${top.head}")
    assert(top.head._2 <= 3000L && top.head._2 >= 3000L - Mg.maxUnderestimate(buf))
    // exact regime: k above the distinct count ⇒ sketch == exact counts
    // and the merge is bit-identical to the one-pass sketch
    val wholeExact = rows.agg(mgSketch($"item", 2048).as("sk")).head().getAs[Array[Byte]](0)
    val parts = (0 to 1).map(p =>
      rows.where($"id" % 2 === p).agg(mgSketch($"item", 2048).as("sk")))
    val mergedExact = parts.reduce(_ unionByName _)
      .agg(mgMerge($"sk").as("sk")).head().getAs[Array[Byte]](0)
    assert(mergedExact.sameElements(wholeExact),
      "below capacity the MG merge must equal the one-pass sketch bit-exactly")
    assert(Mg.deserialize(wholeExact).counts("heavy") == 3000L)
  }

  test("bloom filters: persisted-batch OR-merge, no false negatives, bounded fp rate") {
    import org.apache.spark.sql.graft.BloomFunctions.{bloomBuild, bloomContains, bloomMerge}
    import spark.implicits._
    val members = (0 until 5000).map(i => s"key$i")
    val df = members.toDF("k")
    // two disjoint halves built separately, persisted, merged — the OR is
    // exact, so the merge must equal the one-pass filter bit-for-bit
    val d = tempDir("graft_bloom")
    for (par <- 0 to 1)
      df.where(pmod(xxhash64($"k"), lit(2)) === par)
        .agg(bloomBuild($"k").as("bf"))
        .write.mode("overwrite").parquet(s"$d/batch$par")
    val merged = spark.read.parquet(s"$d/batch0")
      .unionByName(spark.read.parquet(s"$d/batch1"))
      .agg(bloomMerge($"bf").as("bf"))
    val one = df.agg(bloomBuild($"k").as("bf"))
    assert(merged.head().getAs[Array[Byte]](0)
      .sameElements(one.head().getAs[Array[Byte]](0)),
      "bloom merge must equal the one-pass filter bit-exactly")
    // every member answers true through the Spark surface...
    val misses = df.crossJoin(merged)
      .where(!bloomContains($"bf", $"k")).count()
    assert(misses == 0L, "bloom false negatives are impossible by construction")
    // ...and fresh non-members answer true at ~fpp only (128 KB, 5k keys
    // → theory ~1e-9; even 1 hit in 20k probes would signal a bug)
    val fp = (0 until 20000).map(i => s"other$i").toDF("k")
      .crossJoin(merged).where(bloomContains($"bf", $"k")).count()
    assert(fp <= 2L, s"false-positive count $fp far above theory")
    // type canonicalization: build on INT, probe with BIGINT — the
    // string cast on both sides makes the hashes agree (a raw-type hash
    // would differ between INT and BIGINT and silently answer false)
    val intBuilt = (1 to 100).toDF("i").agg(bloomBuild($"i").as("bf"))
    assert(intBuilt.select(bloomContains($"bf", lit(50L))).head().getBoolean(0))
    // a PERSISTED empty filter merged alongside real ones is skipped in
    // any order — real-then-empty used to throw a shape mismatch
    val emptyBf = Array.emptyByteArray
    val realBf = one.head().getAs[Array[Byte]](0)
    for (ordered <- Seq(Seq(realBf, emptyBf), Seq(emptyBf, realBf))) {
      val m = ordered.toDF("bf").coalesce(1).agg(bloomMerge($"bf").as("m"))
        .head().getAs[Array[Byte]](0)
      assert(m.sameElements(realBf))
    }
  }

  test("mg empty sketch: merge over all-NULL group yields empty top-k, no crash") {
    import org.apache.spark.sql.graft.MgFunctions.{mgMerge, mgSketch, mgTopk}
    import org.apache.spark.sql.graft.Mg
    import spark.implicits._
    val allNull = Seq(null: Array[Byte], null: Array[Byte]).toDF("sk")
    val top = allNull.agg(mgMerge($"sk").as("m"))
      .select(mgTopk($"m", lit(5))).head().getSeq[Any](0)
    assert(top.isEmpty)
    // a PERSISTED empty summary (k=0) merged alongside real ones must be
    // skipped whatever order rows arrive in — the real-then-empty order
    // used to throw a k-mismatch from update()
    val empty = Mg.serialize(new Mg.Buf(0))
    val real = Seq("a", "a", "b").toDF("x")
      .agg(mgSketch($"x").as("sk")).head().getAs[Array[Byte]](0)
    for (ordered <- Seq(Seq(real, empty), Seq(empty, real))) {
      val merged = ordered.toDF("sk").coalesce(1).agg(mgMerge($"sk").as("m"))
        .head().getAs[Array[Byte]](0)
      assert(Mg.deserialize(merged).counts.toMap == Map("a" -> 2L, "b" -> 1L))
    }
  }

  test("llm_heavy_hitters: CMS candidate pruning is lossless vs the exact plan") {
    // the declared key prunes the vocabulary through a cms sketch before
    // exact verification; never-underestimate means no true heavy hitter
    // can be pruned, so the result must EQUAL the sketch-free exact plan
    val d = "/root/testdata/sf0.001"
    val viaCms = SparkEntry.queries("llm_heavy_hitters")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val tok = Tables(spark, d, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val n = tok.count()
    val exact = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 0.005 * n)
      .orderBy(col("cnt").desc, col("token"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaCms == exact)
    assert(exact.nonEmpty, "fixture must contain heavy hitters")
    // the MG twin prunes through the summary's own items instead of a
    // vocabulary probe; presence-above-n/(k+1) makes that superset
    // provable too, so it must EQUAL the same exact plan
    val viaMg = SparkEntry.queries("llm_heavy_hitters_mg")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaMg == exact)
  }

  test("approx_percentile brackets the exact percentile") {
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val exact = ev.agg(percentile(col("value"), lit(0.5))).head().getDouble(0)
    val approx = ev.agg(percentile_approx(col("value"), lit(0.5), lit(1000)))
      .head().getDouble(0)
    assert(math.abs(approx - exact) / math.abs(exact) < 0.05)
  }

  test("minhash estimator-quality audit: EXHAUSTIVE agreement sweep over " +
    "every band candidate (moved out of the declared plan, r9); the " +
    "sampled declared readout draws exactly from these pairs") {
    import graft.functions.PortableHash
    val d = "/root/testdata/sf0.001"
    val docsDf = Tables(spark, d, "documents")
    val (mhv, sk) = operators.Llm.minhashVerifiedWithSketch(docsDf)
    val kExpr = (0 until 16)
      .map(i => when(col(s"a.m_$i") === col(s"b.m_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agree = mhv
      .join(sk.as("a"), col("d1") === col("a.doc_id"))
      .join(sk.as("b"), col("d2") === col("b.doc_id"))
      .select(col("d1"), col("d2"), col("est_jaccard"),
        (kExpr / 16.0).as("est"))
      .collect()
    assert(agree.nonEmpty, "fixture must produce band candidates")
    // What the exhaustive sweep certifies on this corpus (and what the
    // declared key reports in sampled form): the 16-slot estimate is
    // heavily inflated on BAND CANDIDATES with low true J — candidacy
    // conditions on ≥ 2 agreeing slots, and short docs sharing common
    // vocabulary share global minimum shingles — while true near-dups
    // saturate. So assert the DISCRIMINATION properties, not a raw
    // error bound: near-dup pairs read ≥ 0.9, and their mean estimate
    // clears the background candidates' by a wide margin. (This is
    // exactly why the verify pass can never be dropped at τ ≈ 0.2 on a
    // corpus like this — the answer the est-quality key exists to give.)
    val (hi, lo) = agree.partition(_.getDouble(2) >= 0.8)
    assert(hi.nonEmpty && lo.nonEmpty, "fixture must span both regimes")
    def meanEst(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(3)).sum / rs.length
    assert(agree.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(meanEst(hi) >= 0.9, s"near-dup mean est ${meanEst(hi)}")
    assert(meanEst(hi) - meanEst(lo) >= 0.2,
      s"no discrimination: hi=${meanEst(hi)} lo=${meanEst(lo)}")
    // the pair-level 1-in-4 draw (retained PLUMBING — the r9 declared
    // readout; r10 moved the declared key to a document draw, below):
    // a strict subset of the exhaustive pair set, at the nominal rate
    val all = agree.map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache() // minhashVerified cache contract
    val sampled = operators.Llm
      .minhashVerifiedWithSketch(docsDf, pairSampleMod = Some(4))._1
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(sampled.subsetOf(all), "sample must draw from the candidate set")
    val rate = sampled.size.toDouble / all.size
    assert(rate > 0.10 && rate < 0.45, s"1-in-4 draw rate off: $rate")
    // and the draw replays: the same predicate applied to the exhaustive
    // set reproduces the sampled set exactly (what lets the oracle twin it)
    def md5Mod(sIn: String, m: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sIn.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m
    }
    val replay = all.filter { case (d1, d2) => md5Mod(s"pq:$d1:$d2", 4) == 0 }
    assert(replay == sampled)
    // the r10 DECLARED readout's 1-in-3 DOCUMENT draw: per-doc sketches
    // are corpus-independent, so the subset corpus's candidate pairs are
    // EXACTLY the exhaustive pairs with both ends sampled — the property
    // that makes the doc sample a faithful (and oracle-replayable)
    // estimator readout while pruning the sketch pass by the rate
    val docPred = graft.functions.PortableHash.pHash(
      concat(lit("eqd:"), col("doc_id").cast("string"))) % 3 === 0
    val keptSpark = docsDf.where(docPred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptJvm = docsDf.select("doc_id").collect().map(_.getLong(0))
      .filter(id => md5Mod(s"eqd:$id", 3) == 0).toSet
    assert(keptSpark == keptJvm, "doc draw must replay in the JVM mirror")
    val docSampled = operators.Llm
      .minhashVerifiedWithSketch(docsDf.where(docPred))._1
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(docSampled ==
      all.filter(p => keptJvm(p._1) && keptJvm(p._2)),
      "doc-sampled candidates must equal the exhaustive set's restriction")
  }

  test("theta overlap estimator audit: sketch set algebra vs the exact " +
    "u×u self-join (moved out of the declared plan, r8)") {
    // the estimator-quality readout that used to ride inside
    // agg_theta_overlap — the declared key is sketch-only now; the
    // exact-intersection self-join lives HERE, where audits belong
    import graft.functions.PortableHash
    for ((d, exactRegime) <- Seq(
        ("/root/testdata/sf0.01", true), // n < k=256 → estimates EXACT
        ("/root/testdata/sf0.1", false))) { // n=1500 ≥ k → 4·rsd bound
      val u = Tables(spark, d, "events")
        .select(col("event_type"),
          PortableHash.pHash(col("user_id").cast("string")).as("h"))
        .distinct()
        .persist()
      val exact = u.as("x")
        .join(u.as("y"), col("x.h") === col("y.h") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
        .agg(count(lit(1)).as("inter_exact"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val est = SparkEntry.queries("agg_theta_overlap")(spark, d)
        .select("t1", "t2", "n1", "inter_est")
        .collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getDouble(3))))
      u.unpersist()
      assert(est.nonEmpty)
      est.foreach { case (pair, (n1, interEst)) =>
        val interExact = exact.getOrElse(pair, 0L).toDouble
        if (exactRegime)
          assert(interEst == interExact, s"$pair: $interEst vs $interExact")
        else {
          // |est − exact| ≤ 4·rsd·|A∩B|-scale bound; rsd ≈ 1/√(k−2) at
          // k=256, with the n-scale floor the SketchLawsProps bound uses
          val tol = math.max(16.0, 4.0 * n1 / math.sqrt(254.0))
          assert(math.abs(interEst - interExact) <= tol,
            s"$pair: est $interEst vs exact $interExact (tol $tol)")
        }
      }
    }
  }

  test("llm_pq_topk: ADC candidate recall vs exact cosine top-5 " +
    "(VERDICT r9 #6 done-criterion)") {
    // The PQ chain compresses 64 floats → 8 one-byte codes (PQ8); the
    // declared key's top-64 ADC cut + exact re-rank must still recover
    // most of the TRUE top-5 (llm_knn_per_query is the exact twin over
    // the same 20 queries). Recall here is a quality floor for the
    // codebook + LUT arithmetic, not a determinism check — determinism
    // is the oracle's job.
    val d = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("llm_knn_per_query")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("llm_pq_topk")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 100 && pq.size == 100)
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.90, s"PQ recall@5 over 20 queries = $recall")
    // IVFADC stacks two approximations. The 2-cell probe's recall
    // ceiling is a property of the stored IVF index, not of this key
    // (llm_ann_ivf — exact rerank over the same probed cells — scores
    // 0.31 vs brute on this fixture's diffuse queries, and IvfSpec pins
    // the trained quantizer's quality on planted clusters). What THIS
    // key owns is the ADC shortlist: relative to its probe-equivalent
    // exact twin it must lose (almost) nothing.
    val ivfExact = SparkEntry.queries("llm_ann_ivf")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SparkEntry.queries("llm_ivfpq_topk")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallVsIvf = (ivfExact & ivfpq).size.toDouble / ivfExact.size
    assert(recallVsIvf >= 0.90,
      s"IVFADC recall@5 vs the exact-rerank IVF twin = $recallVsIvf")
  }

  test("llm_ann_ivf_recall reports exactly the overlap of its two " +
    "declared twins (r11 consistency law)") {
    // the recall readout must be arithmetic over the SAME frames the
    // dashboard's other keys serve: per-query recall == |top-5 of the
    // stored-IVF probe ∩ brute exact top-5| / 5, where both sides are
    // themselves declared keys (llm_ann_ivf, llm_knn_per_query)
    val d = "/root/testdata/sf0.01"
    val ivf = SparkEntry.queries("llm_ann_ivf")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("llm_knn_per_query")(spark, d)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reported = SparkEntry.queries("llm_ann_ivf_recall")(spark, d)
      .select("q_id", "n_hit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = exact.groupBy(_._1).map { case (q, s) =>
      q -> s.count(p => ivf.contains(p)).toLong
    }
    assert(reported == expected)
    assert(reported.size == 20)
  }

  test("llm_ann_ivf_filtered: label invariant holds; recall vs brute " +
    "FILTERED kNN reported and floored (r11)") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("llm_ann_ivf_filtered")(spark, d)
      .select("q_id", "q_label", "n_id", "n_label").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // the predicate is structural: no returned neighbor may carry the
    // query's label, and it must come from the stored inverted file
    assert(rows.forall { case (_, ql, _, nl) => ql != nl })
    // recall floor vs the brute filtered truth (the llm_hard_negatives
    // rule, top-5): the probe inherits the unfiltered probe's recall
    // ceiling on this diffuse fixture, so the floor is a regression
    // tripwire, not a quality claim — the honest number lives in the
    // recall dashboard keys
    val emb = Tables(spark, d, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = emb.filter(_._1 < 20).flatMap { case (q, ql, qv) =>
      emb.filter(c => c._1 != q && c._2 != ql)
        .map { case (n, _, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, s) => (-s, n) }.take(5)
        .map { case (n, _) => (q, n) }
    }.toSet
    val got = rows.map { case (q, _, n, _) => (q, n) }.toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.15, s"filtered probe recall collapsed: $recall")
  }

  test("llm_ann_ivf_nprobe: the tuning curve is non-decreasing and its " +
    "nprobe=2 point equals the recall key's mean (r11)") {
    val d = "/root/testdata/sf0.01"
    val curve = SparkEntry.queries("llm_ann_ivf_nprobe")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(curve.keySet == Set(1L, 2L, 4L))
    // candidate sets nest as the budget grows — a higher-sim candidate
    // surfacing at a larger budget is itself in the exact top-5, so
    // hits cannot drop (measured 0.22 / 0.31 / 0.56 at sf0.01)
    assert(curve(1L) <= curve(2L) && curve(2L) <= curve(4L),
      s"recall must not drop as nprobe grows: $curve")
    // the curve's nprobe=2 point IS the recall dashboard's mean
    val rec = SparkEntry.queries("llm_ann_ivf_recall")(spark, d)
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.avg("recall"), 6))
      .head().getDouble(0)
    assert(math.abs(curve(2L) - rec) < 1e-9,
      s"curve(2)=${curve(2L)} recall-key mean=$rec")
  }

  test("llm_pq_rerank_curve: non-decreasing in the budget, and the " +
    "64-budget point equals llm_pq_recall's mean (the served shortlist " +
    "IS the 64 cut) (r12)") {
    val d = "/root/testdata/sf0.01"
    val curve = SparkEntry.queries("llm_pq_rerank_curve")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(curve.keySet == Set(8L, 16L, 64L))
    assert(curve(8L) <= curve(16L) && curve(16L) <= curve(64L),
      s"recall must not drop as the rerank budget grows: $curve")
    val rec = SparkEntry.queries("llm_pq_recall")(spark, d)
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.avg("recall"), 6))
      .head().getDouble(0)
    assert(math.abs(curve(64L) - rec) < 1e-9,
      s"curve(64)=${curve(64L)} pq-recall mean=$rec")
    spark.catalog.clearCache()
  }

  test("llm_ann_ivf_autoprobe: the chosen nprobe is the MINIMAL curve " +
    "point meeting the recall floor (max fallback when unreachable), " +
    "and the serve equals the fixed-nprobe probe at that pick (r12)") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val curve = SparkEntry.queries("llm_ann_ivf_nprobe")(spark, d)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val floor = graft.operators.Llm.IvfRecallFloor
      val expected = curve.filter(_._2 >= floor).keys
        .minOption.getOrElse(curve.keys.max)
      val served = SparkEntry.queries("llm_ann_ivf_autoprobe")(spark, d)
        .collect()
      info(s"$d: curve=$curve floor=$floor picked=$expected " +
        s"(fallback=${!curve.values.exists(_ >= floor)})")
      assert(served.nonEmpty)
      assert(served.map(_.getLong(4)).toSet == Set(expected),
        s"every served row must carry the minimal-meeting pick $expected")
      // the auto-picked serve answers exactly what the fixed-nprobe
      // probe at that pick answers (columns minus the pick rider)
      val dir = graft.config.IvfIndex.ensure(spark, d)
      val e = Tables(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val fixed = operators.Llm.ivfTopk(
        graft.config.IvfIndex.assignments(spark, dir)
          .select(col("vec_id"), col("embedding"), col("cell")),
        graft.config.IvfIndex.centroids(spark, dir),
        queries, nprobe = expected.toInt, k = 5).collect()
      assert(served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq ==
        fixed.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq)
    }
    spark.catalog.clearCache()
  }
}

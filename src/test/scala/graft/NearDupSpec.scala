package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicate validation for the hash-seeded near-dup operators
  * (SURVEY.md §7.3.7): these have no DuckDB oracle, so correctness is
  * established by planting known near-duplicates and checking detection.
  * The Llm query fns read `<dir>/documents.parquet` / `embeddings.parquet`,
  * so the fixtures are written as tiny parquet tables in a temp dir.
  */
class NearDupSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = suiteTempDir("graft_neardup")
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    val rnd = new scala.util.Random(3)
    def doc(seed: Int, n: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)(words(r.nextInt(words.size))).mkString(" ")
    }
    val base = doc(100, 60)
    // doc 1 == doc 0 with one token changed (near-dup); docs 2..9 random
    val nearDup = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 30) "CHANGED" else w }.mkString(" ")
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, nearDup, "en", "src0", nearDup.length.toLong)) ++
      (2L to 9L).map { i =>
        val t = doc(i.toInt, 60)
        (i, t, "en", "src0", t.length.toLong)
      }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")

    // embeddings: 3 tight clusters of 10 + noise; vec 0 and 1 near-identical
    val vecs = (0 until 30).map { i =>
      val c = i / 10
      val r = new scala.util.Random(c)
      val center = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
      val jitter = new scala.util.Random(1000 + i)
      (i.toLong,
        center.map(x => x + (jitter.nextDouble() * 0.05).toFloat),
        c)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def queries = SparkEntry.queries

  test("minhash-LSH surfaces the planted near-dup pair first") {
    val rows = queries("llm_minhash_neardup")(spark, dir)
      .select("d1", "d2", "est_jaccard").collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert((top.getLong(0), top.getLong(1)) == (0L, 1L))
    assert(top.getDouble(2) > 0.8)
  }

  test("simhash: near-dups are close in Hamming distance, others far") {
    val sig = queries("llm_simhash")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(sig(0L), sig(1L))
    val unrelated = for (i <- 2L to 9L) yield ham(sig(0L), sig(i))
    assert(near <= 6)
    assert(near < unrelated.min)
  }

  test("simhash Hamming join is complete for distance ≤ 3 (pigeonhole)") {
    import spark.implicits._
    val got = queries("llm_simhash_neardup")(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val sig = queries("llm_simhash")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } yield (a, b)).toSet
    assert(got == brute, "segment join must reproduce brute-force Hamming≤3 exactly")
  }

  test("neardup_prune groups the planted pair and keeps the lower id") {
    val out = queries("llm_neardup_prune")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(0L) == ((0L, true)), "canonical doc must keep itself")
    assert(out(1L)._1 == 0L && !out(1L)._2, "near-dup must join group 0 and be pruned")
    assert(out(5L) == ((5L, true)), "unrelated doc must survive in its own group")
  }

  test("winnowing fingerprints overlap heavily for the planted pair") {
    val fp = queries("llm_fingerprint")(spark, dir)
      .select("doc_id", "fingerprint").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(',').filter(_.nonEmpty).map(_.toLong).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(fp(0L), fp(1L)) > 0.5)
    assert(jac(fp(0L), fp(5L)) < 0.3)
  }

  test("LSH ANN finds the planted nearest neighbor with top-1 agreement") {
    val ann = queries("llm_ann_lsh")(spark, dir)
      .where($"rn" === 1).select("q_id", "n_id").as[(Long, Long)].collect().toMap
    // vec 0's true nearest is in its own cluster; check vs brute force
    val brute = queries("llm_knn_per_query")(spark, dir)
      .where($"rn" === 1).select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val common = ann.keySet.intersect(brute.keySet)
    assert(common.nonEmpty)
    val agree = common.count(q => ann(q) == brute(q))
    assert(agree.toDouble / common.size >= 0.8)
  }

  test("IVF ANN finds the planted nearest neighbor with top-1 agreement") {
    val ivf = queries("llm_ann_ivf")(spark, dir)
      .where($"rn" === 1).select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val brute = queries("llm_knn_per_query")(spark, dir)
      .where($"rn" === 1).select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val common = ivf.keySet.intersect(brute.keySet)
    assert(common.nonEmpty)
    val agree = common.count(q => ivf(q) == brute(q))
    assert(agree.toDouble / common.size >= 0.8,
      s"IVF top-1 agreement ${agree.toDouble / common.size}")
  }

  test("dedup_groups recovers the three planted embedding clusters") {
    val groups = queries("llm_dedup_groups")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size == 30)
    // each tight cluster of 10 collapses to its min vec_id label
    for (c <- 0 until 3; i <- 0 until 10)
      assert(groups((c * 10 + i).toLong) == (c * 10).toLong,
        s"vec ${c * 10 + i} -> ${groups((c * 10 + i).toLong)}")
  }

  test("connected components reach fixpoint on chains deeper than any fixed round count") {
    // 0-1-2-3-4 chain (diameter 4: a fixed 3-round propagation SPLITS it),
    // a 2-clique {6,7}, and isolated node 5.
    val nodes = (0L to 7L).toDF("id")
    val e0 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val edges = e0.unionByName(e0.select($"b".as("a"), $"a".as("b"))).persist()
    val got = operators.Components.connectedComponents(nodes, "id", edges)
      .as[(Long, Long)].collect().toMap
    edges.unpersist()
    assert((0L to 4L).forall(got(_) == 0L), s"chain must collapse to one group: $got")
    assert(got(5L) == 5L && got(6L) == 6L && got(7L) == 6L)
  }

  // Sliding-window doc chain: doc_i = tokens [i*27, i*27+80) of a unique
  // token stream. Consecutive docs share 53 tokens (exact J ≈ 0.49 ≥ 0.2);
  // skip-one pairs share 26 (exact J ≈ 0.18 < 0.2, filtered by the verify
  // stage even when banding surfaces them) — so the verified near-dup graph
  // is exactly the 4-link chain with diameter 4. Token prefix and slide
  // were swept offline so ALL four links band-collide under the b=8×r=2
  // PortableHash banding (per-link detection is ~0.9, not 1; the fixture
  // guard test below fails loudly if the sketch family ever changes).
  private lazy val chainDir: String = {
    val d = suiteTempDir("graft_chain")
    val stream = (0 until 188).map(i => s"x$i")
    val docs = (0L to 4L).map { i =>
      val t = stream.slice(i.toInt * 27, i.toInt * 27 + 80).mkString(" ")
      (i, t, "en", "src0", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("planted 5-doc chain: minhash edges are exactly the consecutive links") {
    val pairs = queries("llm_minhash_neardup")(spark, chainDir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)),
      s"fixture guard: banding must surface all 4 chain links and nothing else: $pairs")
  }

  test("planted 5-doc chain collapses to ONE group end-to-end (diameter > 3)") {
    val out = queries("llm_neardup_prune")(spark, chainDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    for (i <- 0L to 4L)
      assert(out(i) == ((0L, i == 0L)),
        s"doc $i must be in group 0 with is_kept=${i == 0L}, got ${out(i)}")
  }

  test("dedup_groups_lsh matches brute-force components at τ=0.8 on planted clusters") {
    val lsh = queries("llm_dedup_groups_lsh")(spark, dir)
      .as[(Long, Long)].collect().toMap
    // brute-force edge set at τ=0.8 → true components (clusters are tight,
    // ≥0.95 within, so each collapses to its min id)
    assert(lsh.size == 30)
    for (c <- 0 until 3; i <- 0 until 10)
      assert(lsh((c * 10 + i).toLong) == (c * 10).toLong,
        s"vec ${c * 10 + i} -> ${lsh((c * 10 + i).toLong)}")
  }

  test("hash strategies agree: FastHash finds the same verified near-dups") {
    // est_jaccard comes from EXACT shingle sets, so any divergence between
    // strategies is candidate-recall, not value noise.
    def pairs(d: String, h: graft.functions.HashStrategy) =
      operators.Llm.minhashVerified(
        spark.read.parquet(s"$d/documents.parquet"), hashes = h)
        .where(col("est_jaccard") >= 0.2)
        .select("d1", "d2", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
    // High-similarity fixture (planted pair J>0.8): per-link miss odds
    // under b=8×r=2 are (1-J²)⁸ ≈ 1e-4, so BOTH strategies must verify
    // the identical pair set.
    assert(pairs(dir, graft.functions.FastHash) ==
      pairs(dir, graft.functions.PortableHash))
    // Mid-similarity chain (J≈0.49, per-link recall ≈0.88 for ANY hash
    // family; chainDir was swept so all 4 links collide under
    // PortableHash specifically): the fast strategy may miss links but
    // must never FABRICATE a pair (exact verify kills false candidates)
    // and every value it reports is the exact Jaccard.
    val fast = pairs(chainDir, graft.functions.FastHash)
    val truth = Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .map { case (a, b) => (a, b, 0.485714) }
    assert(fast.nonEmpty && fast.subsetOf(truth), s"got $fast")
    // 4 minhashVerified calls persisted 8 internal frames — release them
    spark.catalog.clearCache()
    // simhash: the near-dup stays within radius 3 and unrelated docs stay
    // far under the fast strategy too (signature VALUES differ by design)
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val sig = operators.Llm.simhashDf(docsDf, graft.functions.FastHash)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(1L)) <= 6)
    assert((2L to 9L).map(i => ham(sig(0L), sig(i))).min > ham(sig(0L), sig(1L)))
  }

  test("exact dedup groups identical normalized docs") {
    val d2 = tempDir("graft_exact")
    Seq(
      (0L, "Hello,   World!", "en", "s", 14L),
      (1L, "hello world", "en", "s", 11L),
      (2L, "other doc", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val groups = queries("llm_exact_dedup")(spark, d2).collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 0L) // keeps min doc_id
  }

  test("span dedup marks exactly the shared 8-gram windows of the planted pair") {
    // docs 0 and 1 differ only at token index 30 (0-based) of 60, so the
    // cross-document duplicated spans are every 8-token window that does
    // NOT cover it: 1-based starts 1..53 minus 24..31. Random docs 2..9
    // can't share an 8-gram with anything (15-word vocab, seeded) and
    // within-doc repeats must not count (the predicate is ≥2 DISTINCT docs).
    val marks = queries("llm_span_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = ((1L to 53L).toSet -- (24L to 31L).toSet)
    assert(marks.keySet == Set(0L, 1L), s"only the planted pair: $marks")
    assert(marks(0L) == want && marks(1L) == want)
  }

  test("split novelty matches a driver-side replay of hash split + trigram sets") {
    val sf = "/root/testdata/sf0.001"
    val rows = queries("llm_split_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay: portable hash bucket (md5 first 15 hex digits) and trigrams
    def bucket(docId: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (BigInt(hex.substring(0, 15), 16) % 100).toLong
    }
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(text: String): Seq[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < 3) Seq.empty
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    }
    val train = docs.filter(d => bucket(d._1) < 90).flatMap(d => grams(d._3)).toSet
    val test = docs.filter(d => bucket(d._1) >= 90)
    val byLang = test.groupBy(_._2)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val spans = byLang(lang).flatMap(d => grams(d._3))
      val novel = spans.count(g => !train.contains(g))
      assert(r.getAs[Long]("n_test_spans") == spans.length)
      assert(r.getAs[Long]("n_novel") == novel)
      assert(r.getAs[Double]("novelty") ==
        math.floor(novel.toDouble / spans.length * 1e6) / 1e6)
    }
  }

  test("minhash estimator quality: pair accounting and bucket bounds") {
    val sf = "/root/testdata/sf0.001"
    val rows = queries("llm_minhash_est_quality")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every banded candidate pair of the SAMPLED documents is scored
    // exactly once (round 10: the declared readout draws a
    // deterministic 1-in-3 DOCUMENT sample — replay the doc predicate
    // in the JVM, re-run the verified pipeline on exactly those docs,
    // and the scored pair count must match; the exhaustive sweep
    // itself is audited in ApproxSpec)
    val nPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    def docSampled(docId: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"eqd:$docId".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 3 == 0
    }
    val sampledIds = Tables(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).filter(docSampled).toSet
    import org.apache.spark.sql.functions.col
    val verified = operators.Llm.minhashVerified(
        Tables(spark, sf, "documents")
          .where(col("doc_id").isin(sampledIds.toSeq: _*)))
      .select("d1", "d2").collect()
    assert(verified.forall(r =>
      sampledIds(r.getLong(0)) && sampledIds(r.getLong(1))))
    assert(nPairs == verified.length,
      s"$nPairs scored vs ${verified.length} sampled-doc pairs")
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 4)
      val (me, mx, err) = (r.getAs[Double]("mean_est"),
        r.getAs[Double]("mean_exact"), r.getAs[Double]("mean_abs_err"))
      assert(me >= 0.0 && me <= 1.0 && mx >= 0.0 && mx <= 1.0)
      // mean exact sits inside its bucket's band (floor display ≤1µ low)
      assert(mx >= b * 0.2 - 1e-6 && (b == 4 || mx < (b + 1) * 0.2))
      assert(err >= 0.0 && err <= 1.0)
    }
    spark.catalog.clearCache() // minhashVerified cache contract
  }

  test("vocab coverage: monotone in k, bounded, totals consistent") {
    val rows = queries("llm_vocab_coverage")(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("k"))
    assert(rows.length == 3)
    val covs = rows.map(_.getAs[Double]("coverage"))
    assert(covs.zip(covs.tail).forall { case (a, b) => b >= a })
    rows.foreach { r =>
      assert(r.getAs[Long]("covered") <= r.getAs[Long]("total"))
      assert(r.getAs[Long]("vocab_used") <= r.getAs[Long]("k"))
      val c = r.getAs[Double]("coverage")
      assert(c >= 0.0 && c <= 1.0)
    }
    // all rows report the same corpus total
    assert(rows.map(_.getAs[Long]("total")).distinct.length == 1)
  }

  test("temperature sampling flattens the language mix (α=0.5 laws)") {
    val rows = queries("llm_sample_temperature")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("rate_permille"), r.getAs[Long]("picked")))
    assert(rows.length == 5)
    val byN = rows.sortBy(_._2)
    // rates are monotonically NON-INCREASING in corpus share: the biggest
    // language gets the smallest sampling rate (the whole point of α<1)
    assert(byN.zip(byN.tail).forall { case (small, big) => small._3 >= big._3 },
      s"rates not anti-monotone in size: ${byN.mkString(", ")}")
    rows.foreach { case (_, n, rate, picked) =>
      assert(rate >= 0 && rate <= 1000)
      assert(picked <= n)
    }
    // flattening: picked-count spread (max/min) must shrink vs raw spread
    val rawSpread = byN.last._2.toDouble / byN.head._2
    val pickedSpread = rows.map(_._4).max.toDouble / rows.map(_._4).min
    assert(pickedSpread < rawSpread,
      s"sampling did not flatten: raw $rawSpread picked $pickedSpread")
  }

  // ---- prefix-filtered (All-Pairs/PPJoin) exact similarity join ----

  /** Brute-force threshold Jaccard join over distinct 3-shingles, computed
    * driver-side — the ground truth the prefix-filtered plan must equal. */
  private def bruteJaccard(tau: Double): Set[(Long, Long, Long)] = {
    val docsRows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
    val sets = docsRows.map { r =>
      val toks = r.getAs[String]("text").split(" ")
      r.getAs[Long]("doc_id") -> toks.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= tau
    } yield (a, b, inter.toLong)).toSet
  }

  test("prefix-filtered join ≡ brute-force threshold join (planted pair found)") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val out = operators.Llm.prefixJaccardJoin(docsDf, 0.5)
      .select("d1", "d2", "inter").as[(Long, Long, Long)].collect().toSet
    val brute = bruteJaccard(0.5)
    assert(brute.nonEmpty, "fixture must contain a qualifying pair")
    assert(brute.exists { case (a, b, _) => a == 0L && b == 1L },
      "planted near-dup pair must qualify at τ=0.5")
    assert(out == brute, s"prefix join diverged: out=$out brute=$brute")
    spark.catalog.clearCache()
  }

  test("prefix filter prunes the candidate space below every-shared-shingle") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val frame = operators.Llm.ppjoinDocFrame(docsDf, 0.5).persist()
    val nCand = operators.Llm.ppjoinCandidates(frame, 0.5).count()
    // every-shared-shingle candidate count (what llm_ngram_jaccard joins on)
    val sh = docsDf.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(split(text,' ')) - 3), " +
        "i -> array_join(slice(split(text,' '), i + 1, 3), ' '))")).as("s"))
      .distinct()
    val nAll = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nCand <= nAll,
      s"prefix candidates ($nCand) exceed shared-shingle pairs ($nAll)")
    assert(nCand < nAll,
      s"prefix filter pruned nothing: $nCand vs $nAll")
    spark.catalog.clearCache()
  }

  private def simRows(d: org.apache.spark.sql.DataFrame) =
    d.select("d1", "d2", "inter").as[(Long, Long, Long)].collect().toSet

  test("adaptive sim join: BOTH branches produce identical rows (≡ brute)") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    // budget 0 forces the shared-shingle fallback; Long.MaxValue forces
    // the prefix verify — the branch choice must be result-invisible
    val viaFallback = simRows(operators.Llm.simJoinThresholdAuto(docsDf, 0.5, 0L))
    spark.catalog.clearCache()
    val viaPrefix = simRows(operators.Llm.simJoinThresholdAuto(
      docsDf, 0.5, Long.MaxValue))
    spark.catalog.clearCache()
    val brute = bruteJaccard(0.5)
    assert(viaFallback == brute, s"fallback diverged: $viaFallback vs $brute")
    assert(viaPrefix == brute, s"prefix branch diverged: $viaPrefix vs $brute")
  }

  test("sim-join result held lazily across a second sim-join call " +
    "still equals the brute-force rows") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val held = operators.Llm.prefixJaccardJoin(docsDf, 0.5)
    val second = simRows(operators.Llm.simJoinThresholdAuto(docsDf, 0.5, 0L))
    val brute = bruteJaccard(0.5)
    assert(simRows(held) == brute, "lazily held result diverged")
    assert(second == brute, "second call diverged")
    spark.catalog.clearCache()
  }

  test("sim-join cache lifecycle: clearCache() releases every frame " +
    "the calls cached") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    operators.Llm.prefixJaccardJoin(docsDf, 0.5).count()
    operators.Llm.simJoinThresholdAuto(docsDf, 0.5, Long.MaxValue).count()
    operators.Llm.prefixJaccardJoin(docsDf, 0.5).count()
    operators.Llm.sharedShingleThreshold(docsDf, 0.5).count()
    val cached = persisted -- before
    assert(cached.nonEmpty, "the calls must cache their working frames")
    spark.catalog.clearCache()
    val left = persisted intersect cached
    assert(left.isEmpty, s"clearCache() left sim-join RDDs $left")
  }

  test("prefix length law: p = n - ceil(τ·n) + 1, 1 ≤ p ≤ n") {
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val rows = operators.Llm.ppjoinDocFrame(docsDf, 0.7)
      .select("n", "p").as[(Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, p) =>
      assert(p == n - math.ceil(0.7 * n).toInt + 1)
      assert(p >= 1 && p <= n)
    }
  }
}

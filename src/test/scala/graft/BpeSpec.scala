package graft

import org.scalatest.funsuite.AnyFunSuite

/** llm_bpe_train vs a driver-side reference BPE trainer (Sennrich et al.
  * 2016, the classic merge loop over a word-frequency table), plus the
  * delimiter/double-replace edge cases the in-plan rewrite must survive:
  * runs of identical symbols ("aaa…") and alternating chains ("abab…"),
  * where greedy non-overlapping matching and blocked-match resolution
  * decide the result.
  */
class BpeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  /** Reference trainer: word-frequency map → `rounds` greedy merges. */
  private def referenceBpe(
      corpus: Seq[String], rounds: Int): Seq[(Long, String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.split("").toVector -> ws.size.toLong
      }
    (1 to rounds).flatMap { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts(syms(i) -> syms(i + 1)) =
          counts.getOrElse(syms(i) -> syms(i + 1), 0L) + f
      if (counts.isEmpty) Nil
      else {
        val ((a, b), cnt) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, s"$x $y") }
        // greedy left-to-right non-overlapping rewrite
        words = words.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> f
        }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        Seq((r.toLong, s"$a $b", a + b, cnt))
      }
    }
  }

  private def trainOn(corpus: Seq[String], rounds: Int) = {
    import spark.implicits._
    val d = tempDir("graft_bpe")
    corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = operators.Llm
      .bpeTrain(spark.read.parquet(s"$d/documents.parquet"), rounds)
      .as[(Long, String, String, Long)].collect().toSeq
    spark.catalog.clearCache()
    out
  }

  test("identical-symbol runs merge greedily left-to-right (aaa → (aa)a)") {
    // one word "aaaa" ×3, "aaa" ×2: pair (a,a) counts 3·3 + 2·2 = 13;
    // after the merge: aaaa → (aa)(aa), aaa → (aa)a
    val out = trainOn(Seq("aaaa aaaa aaaa aaa aaa"), 2)
    assert(out.head == ((1L, "a a", "aa", 13L)), out.head)
    // round 2 over the rewritten table: aaaa=(aa,aa) ×3 → (aa,aa)=3;
    // aaa=(aa,a) ×2 → (aa,a)=2 — tie-break hits count first
    assert(out(1) == ((2L, "aa aa", "aaaa", 3L)), out(1))
    assert(out == referenceBpe(Seq("aaaa aaaa aaaa aaa aaa"), 2))
  }

  test("alternating chains resolve every blocked match (abababab)") {
    val corpus = Seq("abababab abababab ab", "abab abababab")
    val out = trainOn(corpus, 3)
    assert(out == referenceBpe(corpus, 3), s"got $out")
    // (a,b) dominates round 1 and every occurrence merges: round 2's top
    // pair must be over 'ab' symbols only
    assert(out.head._2 == "a b")
    assert(out(1)._2 == "ab ab", out(1))
  }

  test("in-plan trainer ≡ reference on random corpora (8 rounds)") {
    val rnd = new scala.util.Random(41)
    val alphabet = "abcdeklmnorst"
    (0 until 3).foreach { trial =>
      val vocab = Seq.fill(30)(
        (0 until 2 + rnd.nextInt(6))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val corpus = (0 until 40).map(_ =>
        Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val out = trainOn(corpus, 8)
      val ref = referenceBpe(corpus, 8)
      assert(out == ref,
        s"trial $trial diverged:\n in-plan: $out\n reference: $ref")
    }
  }

  test("apply: compression laws on the harness corpus") {
    val rows = SparkEntry.queries("llm_bpe_apply")(
      spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val chars = r.getAs[Long]("char_tokens")
      val bpe = r.getAs[Long]("bpe_tokens")
      // every merge strictly shrinks a word's symbol count; no word grows
      assert(bpe <= chars, s"bpe tokens exceed char tokens: $r")
      assert(bpe > 0 && chars > 0)
      val c = r.getAs[Double]("compression")
      assert(c >= 1.0, s"compression below 1: $r")
    }
  }

  test("apply ≡ reference encoding (symbol counts per word)") {
    val corpus = Seq("abab abab cdcd", "abab cdcd cdcd ab cd")
    import spark.implicits._
    val d = tempDir("graft_bpe_apply")
    corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val fin = operators.Llm
      .bpeWords(spark.read.parquet(s"$d/documents.parquet"), 3)
      .as[(String, String)].collect().toMap
    spark.catalog.clearCache()
    // replay the reference merges and re-encode each word
    var reprs = corpus.flatMap(_.split(" ")).distinct
      .map(w => w -> w.split("").toVector).toMap
    referenceBpe(corpus, 3).foreach { case (_, pair, merged, _) =>
      val Array(a, b) = pair.split(" ")
      reprs = reprs.map { case (w, syms) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += merged; i += 2
          } else { out += syms(i); i += 1 }
        }
        w -> out.result()
      }
    }
    val expected = reprs.map { case (w, syms) =>
      w -> syms.mkString("|", "|", "|")
    }
    assert(fin == expected, s"final word table diverged:\n $fin\n $expected")
  }

  test("merges compose across rounds on the harness corpus (mer law)") {
    // sf0.001 corpus: a later round must consume an earlier round's
    // output symbol — the iterative dependency the CTE chain exists for
    val out = operators.Llm.bpeTrain(
      Tables(spark, "/root/testdata/sf0.001", "documents"), 8)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    spark.catalog.clearCache()
    val merged = out.map { case (_, p) => p.replace(" ", "") }.toSet
    val composes = out.exists { case (r, p) =>
      p.split(" ").exists(sym => sym.length > 1 && merged.contains(sym))
    }
    assert(composes, s"no round consumed a prior merge: ${out.mkString(", ")}")
  }
}

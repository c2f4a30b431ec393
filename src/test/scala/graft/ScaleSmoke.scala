package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale smoke (dev-only, test scope): synthesizes events/embeddings
  * ~100x the sf0.1 bench scale IN MEMORY (testdata itself is read-only and
  * fixed-size) and drives the core operator shapes, to check that the
  * plans that pass at 600k rows still behave at 10-60M rows on 32 threads:
  * no OOM, no single-task stragglers, near-linear wall time. A stage
  * `require`s a law or an equality, is the reference side of one, or
  * times a shape no other stage covers (the session merge, the layout
  * scans). The wall times are recorded in SCALING.md.
  *
  *   sbt "Test/runMain graft.ScaleSmoke <stage filter>..."
  *
  * Each argument is a substring of the stage names to run; no argument
  * runs every stage.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-layout stages saveAsTable into a scratch warehouse
      .config("spark.sql.warehouse.dir", "/tmp/graft_scale_warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // optional args = substring filters, so one section can be (re)run alone
    val only = args.toSeq
    // true when a filter is part of one of `names`, or names one of them
    // in full; a section whose set-up materializes data before its first
    // stage is guarded by its stage names or their common prefixes
    def wants(names: String*): Boolean = only.isEmpty ||
      names.exists(n => only.exists(a => n.contains(a) || a.contains(n)))
    def time(name: String)(f: => Long): Unit =
      if (wants(name)) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
      }

    // Scratch dirs for the index/registry probes, all deleted when the
    // run ends — a fresh createTempDirectory per probe stranded multi-GB
    // synthetic state across smoke runs (round-11 advice fix).
    val scratch = scala.collection.mutable.ListBuffer.empty[String]
    def scratchDir(name: String): String = {
      val d = java.nio.file.Files.createTempDirectory(name).toString
      scratch += d; d
    }

    // 60M events over 30k users, ~30 days
    val ev = spark.range(60000000L).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (xxhash64(col("id")) % 2592000000000L + 2592000000000L) % 2592000000000L).as("ts"),
      pmod(xxhash64(col("id"), lit(1)), lit(30000)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(xxhash64(col("id"), lit(2)), lit(3)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(col("id"), lit(3)), lit(10000)) / 100.0).as("value"))

    // RankFence at scale (round 8): exact decile assignment of a 60M-row
    // frame. The global-window form funnels all 60M rows through ONE
    // task's sort; the fenced form's only windows read candidate
    // intervals (≈ ranks/buckets of the input) partitioned per interval.
    // Equality is required on the 6M-row slice event_id ≡ 0 (mod 10) BOTH
    // ways (distribution-level: per-tile counts identical); the fenced
    // plan's 60M walls are in SCALING.md's round-8 sections.
    if (wants("ntile global-sort 6M", "ntile fenced 6M",
        "ntile 50%-tie global 6M", "ntile 50%-tie fenced 6M",
        "global ranks window 6M", "global ranks fenced 6M",
        "wmedian 50%-tie compose 6M", "wmedian 50%-tie fenced 6M")) {
      import operators.RankFence
      // persisted: the fenced plan reads its input 3× (sketch, counts,
      // pick) — on real (parquet) data those are cheap re-scans, but the
      // synthetic frame here pays 4 xxhash64 per row per regeneration,
      // which would bill generation cost 3× against the fence only
      val vals = ev.where(col("event_id") % 10 === 0)
        .select(col("value").as("v"), col("event_id").as("id"))
        .persist()
      vals.count() // materialize untimed — neither A nor B pays it
      // per-tile MEMBERSHIP fingerprint (count + xxhash64 sum of member
      // ids): tile sizes alone are equal by arithmetic — the fingerprint
      // catches any row assigned to a different tile
      def tileFingerprint(
          tiled: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long)] =
        tiled.groupBy("t")
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(id))").as("h")) // no ANSI sum overflow
          .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
      var viaWindow: Map[Int, (Long, Long)] = Map(1 -> ((-1L, 0L)))
      var viaFence: Map[Int, (Long, Long)] = Map(2 -> ((-2L, 0L)))
      time("ntile global-sort 6M") {
        viaWindow = tileFingerprint(vals
          .withColumn("t", ntile(10).over(Window.orderBy("v", "id"))))
        viaWindow.values.map(_._1).sum
      }
      time("ntile fenced 6M") {
        viaFence = tileFingerprint(RankFence.ntileFenced(vals,
          Seq(RankFence.OrderCol("v"), RankFence.OrderCol("id")), 10, "t",
          buckets = 64))
        viaFence.values.map(_._1).sum
      }
      if (viaWindow.keySet != Set(1) && viaFence.keySet != Set(2))
        require(viaWindow == viaFence,
          s"ntile disagreement: window=$viaWindow fenced=$viaFence")
      // giant-tie recursion (round 8, cont.): over the 60M frame every even
      // id shares one leading value (the "50%" in the stage names), so on
      // the slice, whose ids are all even, EVERY row does: each decile
      // boundary lands inside one 6M-row tie — 30× the 200k sort budget
      // the fenced call is given. The recursive selector must descend to
      // the id tie-break fence instead of sorting the tie in one task.
      // Equality vs the window form is pinned on the slice (where the
      // single-task sort is still runnable).
      val tied = vals.select(lit(500.0).as("v"), col("id")).persist()
      tied.count()
      var tiedWindow: Map[Int, (Long, Long)] = Map(1 -> ((-1L, 0L)))
      var tiedFence: Map[Int, (Long, Long)] = Map(2 -> ((-2L, 0L)))
      time("ntile 50%-tie global 6M") {
        tiedWindow = tileFingerprint(tied
          .withColumn("t", ntile(10).over(Window.orderBy("v", "id"))))
        tiedWindow.values.map(_._1).sum
      }
      time("ntile 50%-tie fenced 6M") {
        tiedFence = tileFingerprint(RankFence.ntileFenced(tied,
          Seq(RankFence.OrderCol("v"), RankFence.OrderCol("id")), 10, "t",
          buckets = 64, maxWindowRows = 200000L))
        tiedFence.values.map(_._1).sum
      }
      if (tiedWindow.keySet != Set(1) && tiedFence.keySet != Set(2))
        require(tiedWindow == tiedFence,
          s"tied ntile disagreement: window=$tiedWindow fenced=$tiedFence")
      // Exact global rank COLUMNS at scale (round 8, cont. 3):
      // rank()/dense_rank()/row_number() OVER (ORDER BY v) at 60M is ONE
      // task's sort; globalRanksFenced assigns all of them through
      // bounded interval windows (offsets + group-start folds). Equality
      // (full membership fingerprint) pinned on the slice.
      def rankFp(df: org.apache.spark.sql.DataFrame): Long = df
        .agg(expr("bit_xor(xxhash64(id, rn, rnk, drnk))")).head().getLong(0)
      var grWindow = -1L; var grFence = -2L
      time("global ranks window 6M") {
        val wFull = Window.orderBy(col("v").asc, col("id").asc)
        val wr = Window.orderBy(col("v").asc)
        grWindow = rankFp(vals.select(col("id"),
          row_number().over(wFull).cast("long").as("rn"),
          rank().over(wr).cast("long").as("rnk"),
          dense_rank().over(wr).cast("long").as("drnk")))
        6000000L
      }
      time("global ranks fenced 6M") {
        grFence = rankFp(RankFence.globalRanksFenced(vals,
          Seq(RankFence.OrderCol("v")), Seq(RankFence.OrderCol("id")),
          buckets = 64, maxWindowRows = 200000L))
        6000000L
      }
      if (grWindow != -1L && grFence != -2L)
        require(grWindow == grFence,
          s"global-rank disagreement: window=$grWindow fenced=$grFence")
      // Weighted-median giant-tie recursion (round 8, cont. 3): each of the
      // three groups is one ~2M-row tie on the slice (10× the 200k sort
      // budget) — the batched window plan would sort each inside one task;
      // weightedCrossingValue descends instead, terminating at the
      // pure-tie constant. Equality vs the two-window compose pinned on
      // the slice.
      val wm = tied.select(pmod(col("id"), lit(3)).cast("string").as("g"),
        col("v"), lit(1).cast("decimal(18,4)").as("w"), col("id"))
        .persist()
      wm.count()
      var wmWindow: Map[String, (Double, Double)] = Map("a" -> ((-1.0, 0.0)))
      var wmFence: Map[String, (Double, Double)] = Map("b" -> ((-2.0, 0.0)))
      time("wmedian 50%-tie compose 6M") {
        val wRun = Window.partitionBy("g").orderBy("v", "id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("g")
        wmWindow = wm
          .withColumn("cumw", sum(col("w")).over(wRun))
          .withColumn("totw", sum(col("w")).over(wAll))
          .where(col("cumw") * 2 >= col("totw"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("g").orderBy("cumw", "v")))
          .where(col("rn") === 1)
          .select(col("g"), col("v"), col("totw").cast("double"))
          .collect()
          .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
          .toMap
        wmWindow.size.toLong
      }
      time("wmedian 50%-tie fenced 6M") {
        wmFence = RankFence.weightedMedianFenced(wm, "g",
            Seq(RankFence.OrderCol("v"), RankFence.OrderCol("id")), "w",
            buckets = 64, maxWindowRows = 200000L)
          .select(col("g"), col("median"), col("total").cast("double"))
          .collect()
          .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
          .toMap
        wmFence.size.toLong
      }
      if (wmWindow.keySet != Set("a") && wmFence.keySet != Set("b"))
        require(wmWindow == wmFence,
          s"wmedian disagreement: compose=$wmWindow fenced=$wmFence")
      wm.unpersist()
      tied.unpersist()
      vals.unpersist()
    }

    // Native as-of join at depth (round 7, cont.): ~20M purchases ⋈
    // ~20M views over 30k users (≈667 views of history per user). The
    // composed form's intermediate is sum-over-purchases of
    // views-at-or-before ≈ 6.7B rows before the rank-1 window prunes;
    // the native AsOfJoinExec merge reads each side once. Driven on a
    // 10% user slice BOTH ways (the composed full run is the exact
    // blow-up being avoided) with a matched-row-count equality check.
    locally {
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
      var composedMatched = -1L; var nativeMatched = -2L
      time("asof composed 2M (fan-out)") {
        val ps = p.where(col("user_id") < 3000)
        val vs = v.where(col("v_user") < 3000)
        val w = Window.partitionBy("p_id")
          .orderBy(col("v_ts").desc_nulls_last, col("v_id").desc_nulls_last)
        val out = ps.join(vs,
            col("v_user") === col("user_id") && col("v_ts") <= col("p_ts"),
            "left")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
        composedMatched = out.where(col("v_id").isNotNull).count()
        composedMatched
      }
      time("asof native 2M") {
        val out = org.apache.spark.sql.graft.AsOfJoinPlan.asof(
          p.where(col("user_id") < 3000), v.where(col("v_user") < 3000),
          "user_id", "v_user", "p_ts", "v_ts", Seq("v_id"))
        nativeMatched = out.where(col("v_id").isNotNull).count()
        nativeMatched
      }
      // both stages ran (stage filters may skip one) → must agree
      if (composedMatched >= 0 && nativeMatched >= 0)
        require(composedMatched == nativeMatched,
          s"asof disagreement: composed=$composedMatched native=$nativeMatched")
    }

    // Prefix-filtered similarity join at 200k docs (round 7, cont.):
    // 40-word docs over a 50k-word vocabulary (real corpora have LARGE
    // vocabularies — exactly where rarest-first prefix tokens are
    // selective; the harness fixture's 31-word vocab is the worst case).
    // Every doc_id ≡ 0 (mod 1000) clones the previous doc's text, so
    // ~200 planted pairs at Jaccard 1.0 must ALL surface — the filter is
    // exact, recall below 1.0 is a correctness failure, not a tuning knob.
    time("prefix simjoin 200k docs") {
      val docsBig = spark.range(200000L).select(
        col("id").as("doc_id"),
        expr("""array_join(transform(sequence(1, 40), i ->
             | concat('w', conv(cast(pmod(xxhash64(id - cast(id % 1000 = 0 as int), i), 50000)
             |   as string), 10, 36))), ' ')""".stripMargin.replace("\n", ""))
          .as("text"))
      val out = operators.Llm.prefixJaccardJoin(docsBig, 0.5)
        .select(col("d1"), col("d2"))
      val planted = out.where(col("d2") === col("d1") + 1 &&
        pmod(col("d2"), lit(1000)) === 0).count()
      val total = out.count()
      require(planted == 199L,
        s"prefix join must find every planted clone pair: $planted/199")
      spark.catalog.clearCache()
      total
    }

    // KMV/theta overlap at 60M (round 7, cont.): one fact-table pass
    // builds a 2 KB sketch per event_type (FastHash — the production
    // hash; PortableHash is the oracle mode), then pairwise
    // intersect/union estimates on the bounded type frame. The exact
    // overlap rides along ONLY to score the estimator here (a second
    // distinct-pair pass the sketch path exists to avoid); estimates
    // must land within 5·rsd ≈ 32% at k=256.
    time("kmv theta overlap 60M") {
      import org.apache.spark.sql.graft.KmvFunctions._
      val hashed = ev.select(col("event_type"),
        graft.functions.FastHash.hash(col("user_id").cast("string")).as("h"))
      val sk = hashed.groupBy("event_type")
        .agg(kmvSketch(col("h"), 256, 60).as("sk"))
      val a = sk.select(col("event_type").as("t1"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("t2"), col("sk").as("skb"))
      val est = a.join(b, col("t1") < col("t2"))
        .select(col("t1"), col("t2"),
          kmvIntersectEst(col("ska"), col("skb")).as("est"))
        .collect()
      val u = hashed.distinct()
      val exact = u.as("x")
        .join(u.as("y"), col("x.h") === col("y.h") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      est.foreach { r =>
        val truth = exact((r.getString(0), r.getString(1)))
        val e = r.getDouble(2)
        require(math.abs(e - truth) <= 0.32 * truth,
          s"kmv overlap ${r.getString(0)}/${r.getString(1)}: est=$e truth=$truth")
      }
      est.length.toLong
    }

    // Round-5 mergeable families at scale. MG: one fixed-size summary
    // pass over a 24M-token stream whose head is three hot tokens (5%,
    // 3%, 2% of mass — each safely above the k=64 presence bound
    // n/(k+1) ≈ 1.5%, so Misra-Gries GUARANTEES they survive) and whose
    // tail is per-row-unique (~21.6M distinct keys) vs the exact groupBy
    // top-k, which must build and shuffle the whole distinct-key space.
    // The MG pass carries ≤k counters per partition whatever the
    // vocabulary; the measured gap GROWS with distinct keys. (With a
    // tiny 4k vocab the exact plan actually wins locally — its map-side
    // combine collapses the stream and codegen beats the typed per-row
    // update; fixed-size state is a SCALE property, not a local-CPU
    // one.)
    locally {
      import org.apache.spark.sql.graft.MgFunctions.{mgSketch, mgTopk}
      val bucket = pmod(xxhash64(col("id")), lit(100))
      val toks = spark.range(24000000L).select(
        when(bucket < 5, lit("hot0"))
          .when(bucket < 8, lit("hot1"))
          .when(bucket < 10, lit("hot2"))
          .otherwise(concat(lit("t"), col("id"))).as("token"))
      var mgTop: Seq[String] = Nil
      time("mg top-k one-pass 24M") {
        mgTop = toks.agg(mgTopk(mgSketch(col("token"), 64), lit(10)).as("top"))
          .selectExpr("inline(top)").collect().map(_.getString(0)).toSeq
        mgTop.size.toLong
      }
      var exactTop: Seq[String] = Nil
      time("mg exact top-k baseline 24M") {
        exactTop = toks.groupBy("token").count()
          .orderBy(col("count").desc, col("token")).limit(10)
          .collect().map(_.getString(0)).toSeq
        exactTop.size.toLong
      }
      // guarded so either section can still run alone via the name filter
      if (mgTop.nonEmpty && exactTop.nonEmpty)
        require(exactTop.take(3).forall(mgTop.contains),
          s"MG summary lost a guaranteed heavy token: exact=$exactTop mg=$mgTop")
    }

    // Bloom at scale: prune a 24M-row probe stream against a 100k-key
    // set — the fixed 128 KB filter probes map-side (inlined literal, no
    // join at all) vs the broadcast hash semi-join that must build and
    // ship the whole key set. Survivor counts must agree after exact
    // verification (no false negatives ⇒ bloom survivors ⊇ matches).
    locally {
      import org.apache.spark.sql.graft.BloomFunctions.{bloomBuild, bloomContains}
      val keys = spark.range(100000L).select(concat(lit("k"), col("id") * 7).as("k"))
      val probes = spark.range(24000000L).select(
        concat(lit("k"), pmod(xxhash64(col("id")), lit(1400000))).as("k"))
      var viaJoin = 0L
      time("membership semi-join 24M") {
        viaJoin = probes.join(broadcast(keys), Seq("k"), "left_semi").count()
        viaJoin
      }
      time("membership bloom prune 24M") {
        val bf = keys.agg(bloomBuild(col("k")).as("bf")).head().getAs[Array[Byte]](0)
        val survivors = probes.where(bloomContains(lit(bf), col("k")))
        // exact verify only over the pruned sliver
        val exactOfSurvivors = survivors
          .join(broadcast(keys), Seq("k"), "left_semi").count()
        // guarded: the semi-join section may be filtered out of this run
        if (viaJoin > 0)
          require(exactOfSurvivors == viaJoin,
            s"bloom-pruned exact count $exactOfSurvivors != semi-join $viaJoin")
        exactOfSurvivors
      }
    }

    // int8 embedding lake at 1M × 64-dim (round 5): the llm_embedding_
    // quantize claim measured as BYTES ON DISK — the serving win is I/O,
    // not local CPU (dequant costs arithmetic; the 100 TB effect is
    // reading ~4× less). Codes stored as BINARY (1 B/dim) + one float
    // scale.
    locally {
      val dir = "/tmp/graft_scale_emb"
      // FULL-ENTROPY floats (hash / Long.MaxValue): real embeddings have
      // ~no repeated values, so parquet cannot dictionary-encode them —
      // a first cut with 2001 distinct values per dim dictionary-packed
      // the float column to ~11 bits/value and faked the ratio down to
      // 1.3×; entropy, not width, is what the codec sees
      val vecs = spark.range(1000000L).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => xxhash64(col("id"), j).cast("double") / lit(9.223372036854776e18))
          .cast("array<float>").as("embedding"))
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(p))
      }
      time("emb lake write float32 1M") {
        vecs.write.mode("overwrite").parquet(s"$dir/f32")
        1000000L
      }
      time("emb lake write int8 1M") {
        val scale = round(array_max(transform(col("embedding"),
          x => abs(x.cast("double")))) / 127, 6)
        // codes as ARRAY<TINYINT> — parquet stores 1 B values (plus list
        // levels, which RLE away for fixed-length 64)
        vecs
          .withColumn("scale", scale)
          .select(
            col("vec_id"), col("scale"),
            transform(col("embedding"), x =>
              when(col("scale") === 0, lit(0))
                .otherwise(round(x.cast("double") / col("scale")))
                .cast("byte")).as("q8"))
          .write.mode("overwrite").parquet(s"$dir/int8")
        1000000L
      }
      // the audit lives in its own time() block so a section filter that
      // skips the writes also skips reading their output
      time("emb lake bytes audit") {
        val f32 = dirBytes(s"$dir/f32"); val i8 = dirBytes(s"$dir/int8")
        println(f"[scale] emb lake bytes: float32 ${f32 / 1048576}%d MiB, " +
          f"int8 ${i8 / 1048576}%d MiB (${f32.toDouble / i8}%.1fx)")
        require(i8 * 3 < f32, s"int8 lake must be ≥3x smaller ($i8 vs $f32)")
        2L
      }
    }

    // PageRank at 20M symmetrized edges over 1M nodes (round 5): the
    // REAL operators.Extras.pageRank (one definition with the declared
    // key). Each of the 3 rounds is one edges⋈ranks equi-join + one
    // groupBy dst over the edge list pinned on src — the
    // measurement here is that iteration cost stays flat (no lineage
    // blowup, no per-round rescans) and the integer mass actually
    // conserves at 2×10⁷ truncations per round.
    time("pagerank 20M edges x3 iters") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("src"),
        pmod(xxhash64(col("id"), lit(1)), lit(m)).as("dst"),
        (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).as("cnt"))
      val sym = e.unionAll(
        e.select(col("dst").as("src"), col("src").as("dst"), col("cnt")))
      val r = operators.Extras.pageRank(sym, 3, sinks = false)
      val row = r.agg(sum(col("rank")), count(lit(1))).head()
      val mass = row.getLong(0); val nodes = row.getLong(1)
      // nothing to clear: pageRank caches nothing, and its pins are
      // freed once `r` is unreachable
      // truncation bleeds ≤1 unit per edge per round (≤6e7 of 1e12 here);
      // anything below that means a round dropped contributions
      require(mass > 999900000000L && mass <= 1000000000000L,
        s"integer mass must conserve up to truncation ($mass)")
      nodes
    }

    // Directed + dangling PageRank and HITS at the same 10M-edge scale
    // (round 8, cont. 4): the dangling loop checkpoints each round's rank
    // vector, observing its sink mass in the same job; HITS runs 2
    // rounds × 2 half-rounds of join+groupBy+rescale. Both must stay in the same cost class as the
    // lean loop — a blow-up here means a rescale/checkpoint became a
    // second edge shuffle.
    time("pagerank directed+dangling 10M edges") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("src"),
        (pmod(xxhash64(col("id"), lit(1)), lit(m)) + m).as("dst"),
        (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).as("cnt"))
      val r = operators.Extras.pageRank(e, 3, sinks = true)
      val row = r.agg(sum(col("rank")), count(lit(1))).head()
      val mass = row.getLong(0); val nodes = row.getLong(1)
      require(mass > 999900000000L && mass <= 1000000000000L,
        s"dangling loop must conserve mass up to truncation ($mass)")
      nodes
    }
    time("hits 10M edges x2 rounds") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("src"),
        (pmod(xxhash64(col("id"), lit(1)), lit(m)) + m).as("dst"),
        (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).as("cnt"))
      val (hub, auth) = operators.Extras.hits(e, rounds = 2)
      val ht = hub.agg(sum(col("sc")), count(lit(1))).head()
      val at = auth.agg(sum(col("sc")), count(lit(1))).head()
      spark.catalog.clearCache()
      // the L1 rescale band: each side's total in [mass, 2*mass) up to
      // init truncation
      for (tot <- Seq(ht.getLong(0), at.getLong(0)))
        require(tot >= 999000000L && tot < 2000000000L,
          s"hits rescale band violated ($tot)")
      ht.getLong(1) + at.getLong(1)
    }

    // BFS at the same 20M-edge scale (round 5, continued): the REAL
    // operators.Extras.bfs. On a random ~20-regular graph of 1M nodes
    // the frontier grows ≈ ×20 per hop (1 → 20 → 400 → 8k → 160k —
    // hop 4 reaches ~200k) and hop 5 saturates the giant component —
    // the measurement is that each level stays ONE frontier-sized
    // shuffle against the once-partitioned edge cache (no lineage
    // blowup), and the hard require pins actual saturation, not a
    // degenerate ring.
    time("bfs 20M edges 5 hops") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(m)).as("b"))
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val seed = e.agg(min(col("a")).as("node"))
      val reached = operators.Extras.bfs(sym, seed, maxHops = 5)
        .count()
      spark.catalog.clearCache() // release the bfs edge/level persists
      // hop 5 saturates: ≥90% of the 1M-node giant component; a broken
      // anti-join or frontier join would flatline far below this
      require(reached > 900000L, s"5-hop ball too small ($reached)")
      reached
    }

    // k-core at the same 20M-edge scale (round 7): the REAL
    // Components.kCore. Node degree ≈ Poisson(20) on this graph (20M
    // symmetric edge rows / 1M nodes). k-core emergence is a PHASE
    // TRANSITION (Pittel-Spencer-Wormald 1996): a giant k-core exists
    // only when mean degree clears ≈ k + √(k·ln k) — k=15 (threshold
    // ≈ 21) was MEASURED to collapse this c=20 graph to 11 flukish
    // nodes, while k=10 (threshold ≈ 15) keeps ~99.5% of it. The stage
    // runs the super-threshold side: each round is ONE partition-local
    // degree count + two semi-joins against the qualifying-node frame
    // over the once-partitioned edge frame. The hard requires pin the
    // core LAW (every surviving degree ≥ k — a broken semi-join or
    // degree agg breaks this first) and the giant-core size band.
    time("kcore 20M edges k=10") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(m)).as("b"))
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val core = operators.Components.kCore(sym, k = 10, maxRounds = 8)
        .agg(count(lit(1)).as("n"), min(col("core_degree")).as("mind"))
        .head()
      val (n, mind) = (core.getLong(0), core.getLong(1))
      require(n > 900000L && n < 1000000L, s"k-core size off ($n)")
      require(mind >= 10L, s"k-core law violated (min core degree $mind)")
      n
    }

    // Synchronous LPA at the same 20M-edge scale (round 8, cont. 6): the
    // REAL operators.Extras.labelPropagation. Each of the 3 rounds is one
    // label-vector shuffle + one (node, label) count against the
    // once-partitioned edge frame — the measurement is that round cost
    // stays flat (the CC-loop posture) and the label vector stays exactly
    // node-sized. On a random ~20-regular graph LPA floods toward few
    // giant labels fast; the require pins the vector size (a broken
    // argmax pick would drop or duplicate nodes first).
    time("lpa 20M edges x3 rounds") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(m)).as("b"))
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val labels = operators.Extras.labelPropagation(sym, rounds = 3)
      val row = labels.agg(count(lit(1)), countDistinct(col("label"))).head()
      val (nodes, comms) = (row.getLong(0), row.getLong(1))
      spark.catalog.clearCache()
      require(nodes > 999000L && nodes <= m,
        s"label vector must stay node-sized ($nodes)")
      require(comms >= 1L && comms < nodes,
        s"LPA must coarsen the id partition ($comms)")
      nodes
    }

    // Multi-source hop-bounded BFS (round 8, cont. 6): the REAL
    // operators.Extras.multiSourceDistances — graph_harmonic's engine —
    // from 8 seeds over the same 20M-edge graph. Frontier ≈ ×20 per hop
    // per seed (8 → 160 → 3.2k → 64k rows); the measurement is that the
    // 8-wide run pays the SAME three join+anti-join rounds as one seed
    // (seed-count rides the rows, not the stage count).
    time("harmonic bfs 8x 20M edges 3h") {
      val m = 1000000L
      val e = spark.range(10000000L).select(
        pmod(xxhash64(col("id")), lit(m)).as("a"),
        pmod(xxhash64(col("id"), lit(1)), lit(m)).as("b"))
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val seeds = sym.select(col("a").as("node")).distinct()
        .orderBy(col("node")).limit(8)
      val d = operators.Extras.multiSourceDistances(sym, seeds, maxHops = 3)
        .count()
      spark.catalog.clearCache()
      // each 3-ball on a ~20-regular graph reaches ~8k nodes; 8 seeds
      // far below 8×5k means a frontier join went dark
      require(d > 40000L, s"3-hop balls too small ($d)")
      d
    }

    // DAU/MAU stickiness at 60M events (round 8, cont. 6): the declared
    // etl_dau_mau plan shape — deduplicated (user, day) frame (30k users
    // × 30 days = 900k rows) explodes arithmetically ×28 into report
    // days, one distinct + count. The measurement: the fan-out stage is
    // map-side (never an extra shuffle), and total cost is dominated by
    // the first user-day distinct of the 60M fact, not the ×28.
    time("dau/mau 60M events") {
      val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct().persist()
      val days = ud.select("day").distinct()
      val mau = ud.select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 27), interval 1 day)"))
            .as("day"))
        .join(broadcast(days), Seq("day"), "left_semi")
        .distinct()
        .groupBy("day").agg(countDistinct(col("user_id")).as("mau28"))
      val n = mau.count()
      ud.unpersist(blocking = false)
      require(n >= 29L && n <= 31L, s"expected ~30 report days ($n)")
      n
    }

    // Exact-scatter PCA at 1M 64-dim vectors (round 8, cont. 6): the
    // REAL operators.Llm.pcaTopFrame — 500x the bench embeddings table.
    // The only fact-sized stage is the 2080-products-per-vector explode
    // into a map-side-combinable groupBy (4096 rows per partition reach
    // the shuffle regardless of corpus size); the scatter + 3 power
    // rounds are one-row work. A planted dominant axis (component 1
    // carries +-100, others hash noise) must be recovered — at this
    // scale a partial-aggregation bug (overflow, dropped combiner)
    // would corrupt the moments first.
    time("pca scatter 1M x 64d") {
      val v = spark.range(1000000L).select(
        col("id").as("vec_id"),
        expr(
          """transform(sequence(1, 64), j -> CAST(CASE WHEN j = 1
            |  THEN IF(id % 2 = 0, 100.0, -100.0)
            |  ELSE CAST(pmod(xxhash64(id, j), 17) - 8 AS DOUBLE) / 100
            |END AS FLOAT))""".stripMargin).as("embedding"))
      val v3 = operators.Llm.pcaTopFrame(v)
        .select("v3").head().getSeq[Double](0)
      spark.catalog.clearCache()
      require(math.abs(v3.head) > 0.99,
        s"planted axis lost at scale: v3(0)=${v3.head}")
      1000000L
    }

    // The SAMPLED-scatter twin (round 9 — the declared 100 TB dial,
    // llm_embedding_pca_var_sampled): the identical chain fed by the
    // deterministic 1-in-4 vec_id hash draw. Wall time of the fact
    // stage must drop ~proportionally to the rate, and the planted
    // dominant axis must still be recovered from the sample — the
    // point of declaring the dial is that the cheap model is the SAME
    // model.
    time("pca sampled-scatter 1M->250k") {
      val v = spark.range(1000000L).select(
        col("id").as("vec_id"),
        expr(
          """transform(sequence(1, 64), j -> CAST(CASE WHEN j = 1
            |  THEN IF(id % 2 = 0, 100.0, -100.0)
            |  ELSE CAST(pmod(xxhash64(id, j), 17) - 8 AS DOUBLE) / 100
            |END AS FLOAT))""".stripMargin).as("embedding"))
        .where(operators.Llm.pcaSampleCol)
      val v3 = operators.Llm.pcaTopFrame(v)
        .select("v3").head().getSeq[Double](0)
      spark.catalog.clearCache()
      require(math.abs(v3.head) > 0.99,
        s"planted axis lost in the sample: v3(0)=${v3.head}")
      250000L
    }

    // Clamped ledger (round 8, cont. 4): an in-row fold collects each
    // user's events into ONE row's array buffer; clampedLedgerScan (what
    // etl_clamped_ledger runs) streams them through the secondary-sort
    // scan in O(1) state. Equality vs the fold is pinned on a uniform 6M
    // slice (where per-user arrays stay small).
    locally {
      var viaFold = Map.empty[Long, (Long, Long, Long)]
      var viaScan = Map(-1L -> ((0L, 0L, 0L)))
      time("ledger fold uniform 6M") {
        val slice = ev.select(col("user_id"),
          expr("unix_micros(ts)").as("ts_micros"), col("event_id"),
          (pmod(xxhash64(col("event_id"), lit(21)), lit(400)) - 200)
            .as("delta"))
          .where(col("event_id") % 10 === 0)
        viaFold = slice.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            expr("sort_array(collect_list(struct(ts_micros, event_id, delta)))")
              .as("l"))
          .select(col("user_id"), col("n"),
            expr("""aggregate(l, array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
              |(a, x) -> array(greatest(CAST(0 AS BIGINT),
              |  element_at(a, 1) + x.delta),
              |  element_at(a, 2) + CASE WHEN element_at(a, 1) + x.delta < 0
              |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END))"""
              .stripMargin).as("f"))
          .select(col("user_id"), col("n"), expr("f[0]"), expr("f[1]"))
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        viaFold.size.toLong
      }
      time("ledger scan uniform 6M") {
        val slice = ev.select(col("user_id"),
          expr("unix_micros(ts)").as("ts_micros"), col("event_id"),
          (pmod(xxhash64(col("event_id"), lit(21)), lit(400)) - 200)
            .as("delta"))
          .where(col("event_id") % 10 === 0)
        viaScan = operators.Etl.clampedLedgerScan(slice)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        viaScan.size.toLong
      }
      if (viaFold.nonEmpty && !viaScan.contains(-1L))
        require(viaFold == viaScan,
          s"ledger disagreement: fold=${viaFold.size} scan=${viaScan.size}")
    }

    // Link prediction at scale (round 5, continuation): the REAL
    // operators.Extras.commonNeighbors. NOTE the honest asymmetry vs
    // triangles: common-neighbor COUNTS enumerate Σ C(deg(v), 2) wedges
    // over FULL degrees — no orientation escape exists, because every
    // wedge contributes to its endpoint pair's count (triangles count
    // only CLOSED wedges, so orienting by rank quarters the volume). At
    // the triangle stage's 6M-edge density this measured 234 s of pure
    // wedge aggregation; the stage runs the 2M-edge graph (deg ≈ 20,
    // ~80M wedges) to pin the plan shape, and the 100 TB posture for
    // denser graphs is candidate restriction (per-source blocking or
    // minhash over adjacency sets) BEFORE exact wedge counting.
    time("common neighbors 2M edges") {
      val lp = spark.range(2000000L).select(
        (col("id") / 3).cast("long").as("ok"),
        pmod(xxhash64(col("id")), lit(200000)).as("p"))
        .distinct()
      val x = lp.select(col("ok"), col("p").as("pa"))
      val y = lp.select(col("ok").as("ok2"), col("p").as("pb"))
      val top = operators.Extras.commonNeighbors(
        x.join(y, col("ok") === col("ok2") && col("pa") < col("pb"))
          .select(col("pa").as("a"), col("pb").as("b"))
          .distinct(), 20).collect()
      spark.catalog.clearCache() // release the edge persist
      require(top.length == 20 && top.head.getLong(2) >= top.last.getLong(2),
        "top-k must be full and rank-ordered")
      top.length.toLong
    }

    // Power-law hub A/B (round 5): id-orientation's failure mode made
    // measurable. The hub sits MID-RANGE in the id order (id 100000 of
    // 200k, 20k random spokes + 3M background edges): under id
    // orientation its ~10k out-edges pair into ~5×10⁷ hub wedges (a
    // wedge = two out-edges of one vertex — a hub at the id extreme
    // would be accidentally safe); degree orientation makes the hub the
    // highest rank among its neighbors — zero out-edges, zero hub
    // wedges. Counts must agree — orientation is just a total order.
    if (wants("triangles hub BY-ID", "triangles hub BY-DEGREE")) {
      val hubId = 100000L
      val hub = spark.range(20000L)
        .select(lit(hubId).as("x"),
          pmod(xxhash64(col("id"), lit(7)), lit(200000)).as("y"))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
      val bg = spark.range(3000000L).select(
        pmod(xxhash64(col("id")), lit(200000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(200000)).as("y"))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
      val g = bg.unionAll(hub).distinct().persist()
      g.count()
      var byId = -1L; var byDeg = -1L
      time("triangles hub BY-ID") {
        val r = operators.Extras.triangles(g).head()
        byId = r.getLong(1); byId
      }
      time("triangles hub BY-DEGREE") {
        val r = operators.Extras.trianglesByDegree(g).head()
        byDeg = r.getLong(1); byDeg
      }
      g.unpersist()
      spark.catalog.clearCache()
      if (byId >= 0 && byDeg >= 0)
        require(byId == byDeg, s"orientations disagree: $byId vs $byDeg")
    }

    // Incremental sessions at scale: published state from 60M historical
    // events vs a 1M-event append batch. The state merge (the REAL
    // Pipeline.mergeSessions operator) must cost ~|batch|, not |history| —
    // the full-rebuild timing on 61M events is the alternative a nightly
    // delta load avoids. Batch events are all AFTER the historical max ts
    // (append-only contract).
    locally {
      val published = config.Pipeline
        .batchSessionSummaries(ev) // 60M events → per-user session summaries
        .select(col("user_id"), col("b_sid").as("session_id"),
          col("b_start").as("session_start"), col("b_end").as("session_end"),
          col("b_n").as("n_events"))
        .persist()
      time("sessions publish 60M (one-off)") { published.count() }
      val batchEv = spark.range(1000000L).select(
        (col("id") + 60000000L).as("event_id"),
        timestamp_micros(lit(1706745600000000L) +
          (xxhash64(col("id")) % 86400000000L + 86400000000L) % 86400000000L).as("ts"),
        pmod(xxhash64(col("id"), lit(1)), lit(30000)).as("user_id"),
        lit("click").as("event_type"), lit(1.0).as("value"))
      time("sessions incremental merge 1M batch") {
        config.Pipeline.mergeSessions(
          published, config.Pipeline.batchSessionSummaries(batchEv)).count()
      }
      time("sessions full rebuild 61M (the avoided cost)") {
        operators.Etl.sessionizedScalable(ev.unionByName(batchEv))
          .groupBy("user_id", "session_id").agg(count(lit(1)))
          .count()
      }
      published.unpersist()
    }

    // Bucketed fact⋈fact at scale (round 5): SCALING.md names bucketing
    // as the 100 TB answer for REPEATED lineitem⋈orders-shaped joins and
    // BucketingSpec proves shuffle-elimination at toy scale; this stage
    // MEASURES it. The analog tables (30M lineitem × 7.5M orders) are
    // written bucketed on the join key once, then the join runs with the
    // join-side Exchanges asserted ABSENT from the plan — against the
    // same join unbucketed. Broadcast is disabled in-section so both
    // plans are genuine shuffle-vs-bucket sort-merge comparisons.
    locally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = spark.range(7500000L).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id"), lit(4)), lit(30000)).as("o_custkey"))
      val lineitem = spark.range(30000000L).select(
        pmod(xxhash64(col("id"), lit(6)), lit(7500000)).as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(7)), lit(10000)) / 100.0).as("l_price"))
      time("fact-fact join 30Mx7.5M shuffled") {
        lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey").agg(round(sum(col("l_price")), 2)).count()
      }
      time("bucketed layout write (once)") {
        orders.write.mode("overwrite")
          .bucketBy(64, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("orders_bucketed")
        lineitem.write.mode("overwrite")
          .bucketBy(64, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("lineitem_bucketed")
        spark.table("orders_bucketed").count() +
          spark.table("lineitem_bucketed").count()
      }
      time("fact-fact join 30Mx7.5M bucketed") {
        val j = spark.table("lineitem_bucketed")
          .join(spark.table("orders_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
        val plan = j.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange hashpartitioning"),
          s"bucketed fact-fact join must plan zero Exchange:\n$plan")
        j.groupBy("o_custkey").agg(round(sum(col("l_price")), 2)).count()
      }
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }

    // Lake-layout A/B (round 5): single-column sort vs Z-order, measured
    // by what a 100 TB reader actually pays — the scan after parquet
    // row-group min/max skipping. 100M rows over (user_id, t_s); each
    // layout is a plain repartitionByRange + sortWithinPartitions write
    // (no custom committer). Expectation: the time-sorted layout skips
    // ~selectivity of row groups for time predicates but FULL-SCANS for
    // user predicates; the z-ordered layout (graft.functions.ZOrder —
    // codegen bit-interleave) skips on BOTH dimensions at ~√selectivity.
    locally {
      val layoutDir = "/tmp/graft_scale_layout"
      val layoutN = 100000000L
      val basePts = spark.range(layoutN).select(
        pmod(xxhash64(col("id")), lit(30000)).as("user_id"),
        pmod(xxhash64(col("id"), lit(1)), lit(2592000)).as("t_s"),
        (pmod(xxhash64(col("id"), lit(3)), lit(10000)) / 100.0).as("value"))
      var layoutsWritten = Set.empty[String]
      time("layout write time-sorted") {
        basePts.repartitionByRange(64, col("t_s"))
          .sortWithinPartitions("t_s")
          .write.mode("overwrite").parquet(s"$layoutDir/bytime")
        layoutsWritten += "bytime"
        layoutN
      }
      time("layout write z-order") {
        // both dimensions normalized onto the SAME 16-bit grid first —
        // with raw values (15-bit user vs 22-bit seconds) the interleave
        // degenerates: the wider dimension's high bits own the top z
        // bits and the "z" sort is just a time sort (this smoke's
        // pruning audit caught exactly that)
        basePts
          .withColumn("z", graft.functions.ZOrder.key(
            expr("(user_id * 65536) DIV 30000"),
            expr("(t_s * 65536) DIV 2592000")))
          .repartitionByRange(64, col("z"))
          .sortWithinPartitions("z")
          .drop("z")
          .write.mode("overwrite").parquet(s"$layoutDir/zorder")
        layoutsWritten += "zorder"
        layoutN
      }
      // this-session write flag, not on-disk existence: the eager
      // parquet read below is OUTSIDE any time() filter, so a
      // section-filtered run that skipped the writes must also skip the
      // read-backs (a "bfs"-only run crashed here), and a stale/partial
      // directory from an interrupted earlier run must not be trusted
      // either (review finding)
      for (l <- Seq("bytime", "zorder") if layoutsWritten(l)) {
        val t = spark.read.parquet(s"$layoutDir/$l")
        time(s"layout $l time-range scan 1/30") {
          t.where(col("t_s").between(864000, 950399))
            .agg(round(sum(col("value")), 2)).count()
        }
        time(s"layout $l user-range scan 1/30") {
          t.where(col("user_id").between(10000, 10999))
            .agg(round(sum(col("value")), 2)).count()
        }
        // wall time at 100M in-cache rows is decode-bound and flat; the
        // 100 TB signal is how many FILES each predicate must touch given
        // the layout's footer min/max stats (file granularity is what an
        // object-store reader prunes on first — bytes NOT fetched).
        time(s"layout $l min-max pruning audit") {
          val st = t.groupBy(input_file_name().as("f"))
            .agg(min("t_s").as("tlo"), max("t_s").as("thi"),
              min("user_id").as("ulo"), max("user_id").as("uhi"))
            .collect()
          val nf = st.length
          val timeHit = st.count(r =>
            r.getAs[Long]("tlo") <= 950399L && r.getAs[Long]("thi") >= 864000L)
          val userHit = st.count(r =>
            r.getAs[Long]("ulo") <= 10999L && r.getAs[Long]("uhi") >= 10000L)
          println(f"[scale] layout $l%-7s files=$nf time-pred touches $timeHit, user-pred touches $userHit")
          if (l == "bytime") {
            require(timeHit <= nf / 10,
              s"time-sorted layout must prune the time predicate hard ($timeHit/$nf)")
            require(userHit == nf,
              s"single-column sort cannot prune the other dimension ($userHit/$nf)")
          } else {
            require(timeHit <= nf / 2 && userHit <= nf / 2,
              s"z-order must prune BOTH dimensions ($timeHit+$userHit of $nf)")
          }
          nf.toLong
        }
      }
    }

    // 500k synthetic ~40-token docs (20M shingles) with 2% planted
    // near-dups (id%50==0 duplicates doc id-1 with one token changed), so
    // the verify stage of the registry probes has real work.
    val vocab = array((0 until 1000).map(i => lit(f"w$i%03d")): _*)
    val docsBig = spark.range(500000L).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => element_at(vocab,
          (pmod(xxhash64(
            when(col("id") % 50 === 0 && j =!= lit(0), col("id") - 1)
              .otherwise(col("id")), j), lit(1000)) + 1).cast("int"))))
        .as("text"))
    // Sketch-registry ingest at corpus scale (round 7): build the
    // persisted sketch state once for the 500k corpus, then ingest a
    // 5k batch (1% — the nightly-delta shape). The point being measured:
    // per-ingest COMPUTE is ∝ batch (only 5k docs are shingled/hashed/
    // sketched; stored state is read, never recomputed), vs the
    // full-recompute incremental path whose sketch pass alone is
    // SCALING.md's 500k-doc minhash stage. The batch reuses the corpus generator with
    // shifted ids, planting dups of stored docs (id%50==0 copies corpus
    // doc id-500000-1) so the verify stage has cross-batch work.
    if (wants("registry ingest 500k corpus + 5k batch")) {
      val regDir = scratchDir("graft_scale_registry")
      config.SketchRegistry.build(spark, docsBig, regDir)
      spark.catalog.clearCache()
      val batch = spark.range(500000L, 505000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => element_at(vocab,
            (pmod(xxhash64(
              when(col("id") % 50 === 0 && j =!= lit(0), col("id") - 500001L)
                .otherwise(col("id")), j), lit(1000)) + 1).cast("int"))))
          .as("text"))
      time("registry ingest 500k corpus + 5k batch") {
        val pairs = config.SketchRegistry.ingest(spark, regDir, batch)
        val n = pairs.count()
        require(n >= 90, s"planted cross-batch dups must verify ($n)")
        spark.catalog.clearCache()
        n
      }
    }

    // Flat-ingest-cost law (round 9 — the declared
    // llm_incremental_neardup_registry claim): DOUBLE the corpus to 1M
    // docs (40M shingles) and ingest the same-sized 5k batch through the
    // READ-ONLY declared path. Per-ingest wall must stay near the 500k
    // number (the only corpus-proportional work is reading stored
    // state), while the recompute a registry-less incremental run pays —
    // re-sketching the corpus — doubles with it. Both timed here so the
    // ratio is a recorded fact, not an asymptotic argument.
    if (wants("registry flat-ingest 1M", "registry-less incremental 1M",
        "registry incr corpus build 1M")) {
      val docs1M = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => element_at(vocab,
            (pmod(xxhash64(
              when(col("id") % 50 === 0 && j =!= lit(0), col("id") - 1)
                .otherwise(col("id")), j), lit(1000)) + 1).cast("int"))))
          .as("text"))
      val regDir1M = scratchDir("graft_scale_registry_1m")
      config.SketchRegistry.build(spark, docs1M, regDir1M)
      spark.catalog.clearCache()
      val batch1M = spark.range(1000000L, 1005000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => element_at(vocab,
            (pmod(xxhash64(
              when(col("id") % 50 === 0 && j =!= lit(0), col("id") - 1000001L)
                .otherwise(col("id")), j), lit(1000)) + 1).cast("int"))))
          .as("text"))
      time("registry flat-ingest 1M corpus + 5k batch") {
        val n = config.SketchRegistry.pairs(spark, regDir1M, batch1M).count()
        require(n >= 90, s"planted cross-batch dups must verify ($n)")
        spark.catalog.clearCache()
        n
      }
      time("registry-less incremental 1M (recompute twin)") {
        // what the registry saves: the llm_incremental_neardup shape at
        // the same corpus+batch — re-shingle/re-hash/re-sketch ALL 1M
        // corpus docs before the ∝-batch band join can even start. The
        // gap vs the registry ingest above is pure corpus recompute and
        // widens linearly with corpus size at fixed batch.
        // PortableHash, matching what the registry state was built with
        // — same per-shingle digest cost on both sides of the A/B
        val n = operators.Llm.minhashVerified(
            docs1M.unionByName(batch1M), Some(1000000L))
          .where(col("est_jaccard") >= 0.2).count()
        require(n >= 90, s"planted cross-batch dups must verify ($n)")
        spark.catalog.clearCache()
        n
      }
      // E2E incremental corpus build (round 10 — the declared
      // llm_corpus_build_incremental at ingest scale): registry near-dup
      // → quality → pack for ONLY the 5k batch against the 1M stored
      // corpus. Wall must sit near the registry-ingest number above
      // (the quality/pack stages are batch-grain arithmetic), while the
      // recompute llm_corpus_build at this corpus pays the 1M sketch
      // pass before packing — twice SCALING.md's 500k-doc corpus-build
      // cost. qualityMin=0: the synthetic vocab has no
      // English stopwords (same note as the E2E section).
      time("registry incr corpus build 1M+5k") {
        val batchSrc = batch1M.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(10))))
        val n = operators.Llm
          .corpusBuildIncremental(spark, regDir1M, batchSrc, qualityMin = 0.0)
          .count()
        require(n >= 4800 && n <= 5000,
          s"packed batch survivors must be ~5k minus planted dups ($n)")
        spark.catalog.clearCache()
        n
      }
    }

    // IVF index build-vs-serve separation (round 10 — VERDICT r9 #1):
    // the declared llm_ann_ivf now READS config.IvfIndex's persisted
    // state instead of training per query. The 100 TB law this probe
    // records: with cell count grown ~√n (here k 32 → 64 as the corpus
    // doubles 500k → 1M, holding per-cell population flat), SERVE cost
    // stays flat while BUILD cost (the k-means‖ + Lloyd training the
    // old declared plan paid on every execution) scales with the
    // corpus. The inverted file is partitioned by cell and carries the
    // vectors, so the probe is a dynamic-partition-pruned read that
    // never touches the base table.
    if (wants("ivf index build", "ivf index serve")) {
      def synthEmb(n: Long): org.apache.spark.sql.DataFrame =
        spark.range(n).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(16)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0).cast("float")).as("embedding"))
      for ((n, k) <- Seq((500000L, 32), (1000000L, 64))) {
        val dir = scratchDir(s"graft_scale_ivf_${n / 1000}k")
        val e = synthEmb(n).persist()
        time(f"ivf index build ${n / 1000}%dk k=$k") {
          config.IvfIndex.build(spark, e, dir, k, 4 * k, lloydRounds = 1)
          e.unpersist()
          n
        }
        time(f"ivf index serve ${n / 1000}%dk k=$k") {
          val cents = config.IvfIndex.centroids(spark, dir)
          val q = synthEmb(20L)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          val r = operators.Llm.ivfTopk(
            config.IvfIndex.assignments(spark, dir), cents, q,
            nprobe = 2, k = 5).count()
          require(r == 100, s"20 queries x top-5 expected, got $r")
          spark.catalog.clearCache()
          r
        }
      }
    }

    // PQ index build + full-scan ADC serve at 500k/1M 64-dim vectors
    // (round 10 — the llm_pq_topk machinery at 250/500× the bench
    // embeddings). Pins two claims: (a) the one-per-fingerprint BUILD
    // is a handful of map-side passes dominated by the native
    // PqArgminCode encode (n·m·k integer distance loops), (b) the
    // SERVE is the honest compressed linear scan — cost ∝ corpus
    // (doubling n should ~double serve wall), but over the 32×-smaller
    // code table with a broadcast LUT, never the raw vectors. The FLAT
    // serve path at 100 TB is IVFADC (llm_ivfpq_topk: same codes, cell-
    // restricted), whose candidate population is pinned by the ivf
    // probes above.
    if (wants("pq index build", "pq adc serve")) {
      def synthEmb64(n: Long): org.apache.spark.sql.DataFrame =
        spark.range(n).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(64)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0).cast("float")).as("embedding"))
      for (n <- Seq(500000L, 1000000L)) {
        val dir = scratchDir(s"graft_scale_pq_${n / 1000}k")
        time(f"pq index build ${n / 1000}%dk") {
          config.PqIndex.build(spark, synthEmb64(n), dir)
          n
        }
        time(f"pq adc serve ${n / 1000}%dk") {
          val codes = config.PqIndex.codes(spark, dir)
            .select(col("vec_id").as("n_id"),
              posexplode(col("codes")).as(Seq("j", "code")))
          val r = operators.Llm.pqTopkFrom(codes,
            config.PqIndex.codebook(spark, dir), synthEmb64(n)).count()
          require(r == 100, s"20 queries x top-5 expected, got $r")
          spark.catalog.clearCache()
          r
        }
      }
    }

    // ANN-index ingest law (round 11 — VERDICT r10 #1): per-ingest
    // compute ∝ batch while a rebuild pays the corpus — the
    // SketchRegistry flat-ingest law applied to the vector indexes.
    // Build a 1M-vector IVF index and a 1M-vector PQ index once (the
    // static-trained production state), then ingest a 10k batch (1%)
    // through IvfIndex.ingest / PqIndex.ingest: assign/encode ONLY the
    // batch against the stored centroids/codebook, append. The recorded
    // fact: ingest wall sits 1–2 orders below the build wall directly
    // above it, at ~1% of its input — appending a nightly delta never
    // re-pays training or the corpus encode.
    if (wants("ann index ingest")) {
      def emb16(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo, hi).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(16)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0).cast("float")).as("embedding"))
      def emb64(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo, hi).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(64)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0).cast("float")).as("embedding"))
      val ivfDir = scratchDir("graft_scale_ivf_ingest")
      val base = emb16(0L, 1000000L).persist()
      time("ann index ingest: ivf build 1M") {
        config.IvfIndex.build(spark, base, ivfDir, 64, 256, lloydRounds = 1)
        base.unpersist()
        1000000L
      }
      time("ann index ingest: ivf +10k") {
        // timed = the ingest itself (assign the batch against stored
        // centroids + append); the corpus-proportional verification
        // count below is the CHECK, not the ingest cost
        config.IvfIndex.ingest(spark, ivfDir, emb16(1000000L, 1010000L))
        spark.catalog.clearCache()
        10000L
      }
      val nIvf = config.IvfIndex.assignments(spark, ivfDir).count()
      require(nIvf == 1010000L,
        s"base+delta inverted file must hold all ($nIvf)")
      val pqDir = scratchDir("graft_scale_pq_ingest")
      time("ann index ingest: pq build 1M") {
        config.PqIndex.build(spark, emb64(0L, 1000000L), pqDir)
        1000000L
      }
      time("ann index ingest: pq +10k") {
        config.PqIndex.ingest(spark, pqDir, emb64(1000000L, 1010000L))
        spark.catalog.clearCache()
        10000L
      }
      val nPq = config.PqIndex.codes(spark, pqDir).count()
      require(nPq == 1010000L,
        s"base+delta code table must hold all ($nPq)")
    }

    // Drift-gate maintenance law (round 12 — VERDICT r11 #2: the verbs
    // existed, nothing triggered them). The policy loop's cost shape at
    // 1M: an in-distribution batch passes the T²-gate and pays ∝ batch
    // (the ingest wall above); a SHIFTED batch (+1.0 per component —
    // ~1.7σ of the uniform corpus, T²/dim ≈ 3·10⁴ vs the 25 gate)
    // crosses it and pays the corpus EXACTLY ONCE (the retrain wall ≈
    // the build wall); the NEXT in-distribution batch ingests ∝ batch
    // again because the retrained baseline admits the new mix. Every
    // decision is appended to maintlog with its exact integer inputs.
    if (wants("ivf maintain policy")) {
      def emb16m(lo: Long, hi: Long, shift: Double)
          : org.apache.spark.sql.DataFrame =
        spark.range(lo, hi).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(16)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0 + shift).cast("float")).as("embedding"))
      val dir = scratchDir("graft_scale_ivf_maintain")
      val base = emb16m(0L, 1000000L, 0.0).persist()
      time("ivf maintain policy: build 1M") {
        config.IvfIndex.build(spark, base, dir, 64, 256, lloydRounds = 1)
        base.unpersist()
        1000000L
      }
      time("ivf maintain policy: in-dist +10k ingests (cost ∝ batch)") {
        val a = config.IvfIndex.maintain(
          spark, dir, emb16m(1000000L, 1010000L, 0.0))
        require(a == "ingest", s"in-distribution batch must ingest ($a)")
        spark.catalog.clearCache()
        10000L
      }
      time("ivf maintain policy: shifted +10k retrains (corpus once)") {
        val a = config.IvfIndex.maintain(
          spark, dir, emb16m(1010000L, 1020000L, 1.0))
        require(a == "retrain", s"shifted batch must retrain ($a)")
        spark.catalog.clearCache()
        10000L
      }
      time("ivf maintain policy: next in-dist +10k ingests again") {
        val a = config.IvfIndex.maintain(
          spark, dir, emb16m(1020000L, 1030000L, 0.0))
        require(a == "ingest",
          s"post-retrain in-distribution batch must ingest ($a)")
        spark.catalog.clearCache()
        10000L
      }
      val nM = config.IvfIndex.assignments(spark, dir).count()
      require(nM == 1030000L, s"maintained index must hold all ($nM)")
      val acts = config.IvfIndex.maintlog(spark, dir)
        .orderBy("log_seq").select("action").collect().map(_.getString(0))
      require(acts.toSeq == Seq("ingest", "retrain", "ingest"),
        s"maintlog must record the decision sequence (${acts.toSeq})")
    }

    // Append-only state stays BOUNDED (round 13 — VERDICT r12 #2): the
    // maintlog used to append one file per decision FOREVER and derive
    // log_seq from an O(n) dir LIST; it now folds itself into a fresh
    // generation once MaintLog.FoldFiles accumulate, and log_seq rides
    // the rows — so across N decisions the file count any reader LISTs
    // is capped at fold+1 and the sequence stays gapless through every
    // fold. 20 decisions cross the 16-file fold threshold once; the
    // cap and the 1..20 sequence are the recorded law. (The near-dup
    // pair frame's segment fold is the same law for dedup state —
    // AnalyticFramesSpec pins served-set invariance across it.)
    if (wants("state bounded")) {
      def emb16b(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo, hi).select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(16)), j =>
            ((pmod(xxhash64(col("id"), j), lit(2000)).cast("double")
              / 1000.0) - 1.0).cast("float")).as("embedding"))
      val dir = scratchDir("graft_scale_state_bounded")
      time("state bounded: 20 maintains, maintlog files capped") {
        config.IvfIndex.build(spark, emb16b(0L, 2000L), dir,
          8, 32, lloydRounds = 1)
        var maxFiles = 0
        for (i <- 0 until 20) {
          val a = config.IvfIndex.maintain(spark, dir,
            emb16b(2000L + i * 50, 2050L + i * 50))
          require(a == "ingest", s"in-distribution batch $i must ingest ($a)")
          val g = config.LakeCommit.currentGen(dir, "maintlog").get
          maxFiles = math.max(maxFiles,
            config.LakeCommit.dataFiles(s"$g/log").length)
          spark.catalog.clearCache()
        }
        require(maxFiles <= config.MaintLog.FoldFiles + 1,
          s"maintlog LIST must stay capped by the fold ($maxFiles files)")
        val seqs = config.IvfIndex.maintlog(spark, dir)
          .orderBy("log_seq").select("log_seq").collect().map(_.getLong(0))
        require(seqs.toSeq == (1L to 20L),
          s"log_seq must stay gapless across the fold (${seqs.toSeq})")
        20L
      }
    }

    // Analytic-frame ingest law (round 12 — VERDICT r11 #6): the
    // materialized co-order and cust-supp frames accept a nightly
    // batch ∝ batch instead of invalidating their fingerprint and
    // re-deriving the corpus. 1M synthetic orders × 6 lines ≈ 15M
    // co-order edge rows; the +10k-order (1%) ingest derives its delta
    // from the batch alone (zero stored-frame reads) — the recorded
    // fact is the build wall vs the 1–2 orders smaller ingest wall.
    // (The verified-pairs frame's ∝-batch law is the registry ingest
    // probes above — AnalyticFrames.ingestNearDupPairs IS
    // SketchRegistry.ingest plus an append.)
    if (wants("frame ingest")) {
      def sOrders(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo, hi).select(col("id").as("o_orderkey"),
          pmod(xxhash64(col("id")), lit(50000)).as("o_custkey"))
      def sLines(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo * 6, hi * 6).select(
          (col("id") / 6).cast("long").as("l_orderkey"),
          pmod(xxhash64(col("id"), lit(1)), lit(20000)).as("l_partkey"),
          pmod(xxhash64(col("id"), lit(2)), lit(5000)).as("l_suppkey"))
      val coDir = scratchDir("graft_scale_frame_coorder")
      time("frame ingest: co-order build 1M orders") {
        config.AnalyticFrames.buildCoOrder(spark,
          sOrders(0L, 1000000L), sLines(0L, 1000000L), coDir)
        1000000L
      }
      time("frame ingest: co-order +10k orders (∝ batch)") {
        config.AnalyticFrames.ingestCoOrder(spark, coDir,
          sOrders(1000000L, 1010000L), sLines(1000000L, 1010000L))
        10000L
      }
      val nEdges = config.AnalyticFrames.coOrderEdges(spark, coDir).count()
      require(nEdges > 12000000L, s"edge set must cover the corpus ($nEdges)")
      val csDir = scratchDir("graft_scale_frame_custsupp")
      time("frame ingest: cust-supp build 1M orders") {
        config.AnalyticFrames.buildCustSupp(spark,
          sOrders(0L, 1000000L), sLines(0L, 1000000L), csDir)
        1000000L
      }
      time("frame ingest: cust-supp +10k orders (∝ batch)") {
        config.AnalyticFrames.ingestCustSupp(spark, csDir,
          sOrders(1000000L, 1010000L), sLines(1000000L, 1010000L))
        10000L
      }
      val nPairs = config.AnalyticFrames.custSuppPairs(spark, csDir).count()
      require(nPairs > 2000000L, s"pair frame must cover the corpus ($nPairs)")
    }

    // Anisotropy identity at 1M vectors (round 13, cont.): the declared
    // llm_embedding_anisotropy computes mean pairwise cosine via
    // Σ_{i≠j}uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖² — O(n·d), one map pass + a 64-row
    // aggregate, where the textbook readout is an O(n²) pair join. Two
    // gates: (a) EXACT integer equality of the identity against the
    // literal pair join on a 3k slice (4.5M pairs — the largest the
    // naive form affords even here; at 1M it would be 5·10¹¹ pairs). The
    // identity's 1M wall is in SCALING.md's round-13 section.
    locally {
      val embBig = spark.range(1000000L).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => (pmod(xxhash64(col("id"), i), lit(1000)) / 500.0 - 1.0).cast("float"))
          .as("embedding"))
      def quantize(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id"),
        expr("""transform(embedding, v ->
                 CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT))""")
          .as("xi"))
        .withColumn("n2", expr(
          """aggregate(transform(xi, v -> CAST(v AS DECIMAL(19,0))
            |                    * CAST(v AS DECIMAL(19,0))),
            |  CAST(0 AS DECIMAL(38,0)), (a, v) -> a + v)""".stripMargin))
        .where(col("n2") > 0)
        .select(col("vec_id"), expr(
          """transform(xi, v -> CAST(round(CAST(v AS DOUBLE)
            |  / sqrt(CAST(n2 AS DOUBLE)) * 1000000) AS BIGINT))"""
            .stripMargin).as("qi"))
      def identity(q: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
        val sums = q.select(posexplode(col("qi")))
          .groupBy("pos").agg(sum(col("col")).as("s"))
          .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"))
            .as("s2"))
        val dn = q.agg(
          sum(expr(
            """aggregate(transform(qi, v -> CAST(v AS DECIMAL(19,0))
              |                    * CAST(v AS DECIMAL(19,0))),
              |  CAST(0 AS DECIMAL(38,0)), (a, v) -> a + v)""".stripMargin))
            .as("dd"),
          count(lit(1)).as("n"))
        val r = sums.crossJoin(dn)
          .select((col("s2") - col("dd")).as("num"), col("n")).head()
        (r.getAs[Long]("n"), BigDecimal(r.getAs[java.math.BigDecimal]("num")))
      }
      var sliceNum = BigDecimal(-1)
      time("anisotropy pair-join 3k (naive)") {
        val q = quantize(embBig.where(col("vec_id") < 3000)).persist()
        val pairs = q.as("a").join(q.as("b"),
            col("a.vec_id") < col("b.vec_id"))
          .select(expr(
            """aggregate(zip_with(a.qi, b.qi, (x, y) ->
              |  CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))),
              |  CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"""
              .stripMargin).as("dot"))
          .agg(sum(col("dot")).as("s"), count(lit(1)).as("np")).head()
        sliceNum = BigDecimal(pairs.getAs[java.math.BigDecimal]("s")) * 2
        val (_, idNum) = identity(q)
        q.unpersist()
        require(idNum == sliceNum,
          s"anisotropy identity mismatch: identity=$idNum pairjoin=$sliceNum")
        pairs.getAs[Long]("np")
      }
    }

    // ---- round 9 probes ------------------------------------------------

    // Bloom runtime filter at fact scale: 60M fact rows, 3M-key domain,
    // a 0.1%-selective dim predicate, join forced SORT-MERGE (the regime
    // where the filter pays — a broadcastable dim needs no bloom). The
    // plain plan shuffles all 60M fact rows; the bloom plan drops
    // non-candidates map-side and shuffles ~the matching 60k (+ ~0.3%
    // fp). Row-count equality is required — the filter must be
    // result-transparent at this scale too.
    if (wants("bloom join plain SMJ 60M", "bloom join filtered 60M")) {
      import org.apache.spark.sql.graft.BloomFunctions.bloomContains
      val fact = spark.range(60000000L).select(
        pmod(xxhash64(col("id")), lit(3000000)).as("k"),
        (pmod(xxhash64(col("id"), lit(7)), lit(1000)) / 100.0).as("v"))
      val dim = spark.range(3000000L)
        .select(col("id").as("k"), pmod(xxhash64(col("id"), lit(9)), lit(1000)).as("attr"))
        .where(col("attr") === 0) // ~3k keys survive
        .persist()
      dim.count() // materialize untimed
      var plainN = -1L; var bloomN = -2L
      time("bloom join plain SMJ 60M") {
        plainN = fact.join(dim.hint("merge"), Seq("k")).count()
        plainN
      }
      time("bloom join filtered 60M") {
        dim.select("k").createOrReplaceTempView("graft_scale_bloom_dim")
        bloomN = fact.where(bloomContains(
            expr("(SELECT bloom_build(k) FROM graft_scale_bloom_dim)"),
            col("k")))
          .join(dim.hint("merge"), Seq("k")).count()
        bloomN
      }
      if (plainN >= 0 && bloomN >= 0)
        require(plainN == bloomN,
          s"bloom filter changed the join: plain=$plainN bloom=$bloomN")
      dim.unpersist()
    }

    // Blocked entity resolution at 2M entities (etl_entity_resolution's
    // shape): block on (nation, 16-char name prefix) → equi self-join →
    // levenshtein ≤ 1 verify on candidates only. The claim under test:
    // block SIZE stays bounded (≤100 same-prefix names, ≤4,950 pairs)
    // while block CARDINALITY carries the growth — so 400× the harness
    // entity count costs one (nation, prefix) shuffle, never O(n²)
    // pairs. Watch: candidate count ∝ entities (not entities²), no
    // straggler block.
    time("blocked ER 2M entities") {
      val c = spark.range(2000000L).select(
        col("id").as("ck"),
        format_string("Customer#%09d", col("id")).as("nm"),
        pmod(xxhash64(col("id"), lit(3)), lit(25)).as("nk"))
        .withColumn("blk", substring(col("nm"), 1, 16))
      val b = c.select(col("ck").as("ck2"), col("nm").as("nm2"),
        col("nk").as("nk2"), col("blk").as("blk2"))
      val stats = c.join(b,
          col("nk") === col("nk2") && col("blk") === col("blk2") &&
            col("ck") < col("ck2"))
        .agg(count(lit(1)).as("cand"),
          sum(when(levenshtein(col("nm"), col("nm2")) <= 1, 1L)
            .otherwise(0L)).as("m"))
        .select(col("cand"), col("m")).as[(Long, Long)].head()
      require(stats._1 < 20000000L,
        s"candidate pairs ${stats._1} should grow ~linearly, not n²")
      stats._1
    }

    scratch.foreach(d => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(d)))
    spark.stop()
  }
}

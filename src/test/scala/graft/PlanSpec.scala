package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (SURVEY.md §4, builder rule "explain the plan and
  * iterate until it's the plan you'd want"). These pin the scale-critical
  * plan properties so a refactor can't silently regress them:
  * pushdown reaching the parquet scan, broadcast joins staying broadcast,
  * top-k fusing, rank filters becoming group limits.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("scan_parquet_pruned pushes filter and prunes columns at the scan") {
    val p = plan("scan_parquet_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"))
    // sf0.001 parquet marks timestamps NTZ; either flavor proves pruning
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"))
  }

  test("join_broadcast uses BroadcastHashJoin for both dims (no fact shuffle)") {
    val p = plan("join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("topk_global fuses to TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("llm_cosine_topk: codegen dot product + TakeOrderedAndProject cap") {
    val p = plan("llm_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"))
    // cosine = vectordot / precomputed norms since the pair-join optimization
    assert(p.toLowerCase.contains("vectordot"))
  }

  test("win_topk_per_group gets a WindowGroupLimit pushdown") {
    assert(plan("win_topk_per_group").contains("WindowGroupLimit"))
  }

  test("agg_groupby is a two-phase HashAggregate over one exchange") {
    val p = plan("agg_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("etl_sessionize reuses one user_id exchange for window + aggregate") {
    val p = plan("etl_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, plan had $exchanges:\n$p")
  }

  test("etl_funnel: whole funnel = one events scan, one user_id exchange") {
    val p = plan("etl_funnel")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"the naive 3-scan/2-join funnel shape must not ship:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"window + groupBy must share one user_id exchange:\n$p")
  }

  test("etl_sessionize_entity: entity awareness adds no exchange") {
    val p = plan("etl_sessionize_entity")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, plan had $exchanges:\n$p")
  }

  test("etl_sessionize_scalable: events shuffle on (user_id, bucket) into Sessionize") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.graft.SessionizeExec
    val p = SparkEntry.queries("etl_sessionize_scalable")(spark, sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
    // the stitch reads the sessionized events twice, so the initial plan
    // holds two copies of the subtree (the exchange is reused at run time)
    val sess = p.collect { case s: SessionizeExec => s }
    assert(sess.nonEmpty, s"expected a Sessionize node:\n$p")
    // the point of the skew path: a hot user's events split across buckets
    def exchangeKeys(child: org.apache.spark.sql.execution.SparkPlan) = child match {
      case s: SortExec => s.child match {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references).map(_.name)
          case other => fail(s"events exchange is not hash-partitioned: $other")
        }
        case other => fail(s"Sessionize's sort is not fed by an exchange:\n$other")
      }
      case other => fail(s"Sessionize is not fed by a sort:\n$other")
    }
    assert(sess.forall(one => exchangeKeys(one.child).sorted == Seq("__bk", "user_id")),
      s"events must hash on (user_id, bucket), not user_id alone:\n$p")
    // the stitch window runs over per-(user, bucket) summaries only
    val windows = p.collect { case w: WindowExec => w }
    assert(windows.forall(!_.child.output.exists(_.name == "event_id")),
      s"a Window runs over event rows:\n$p")
  }

  test("join_asof plans the native AsOfJoin, no Window") {
    val p = plan("join_asof")
    assert(p.contains("AsOfJoin"), s"expected the native operator:\n$p")
    assert(!p.contains("Window"), s"join_asof must not plan a Window:\n$p")
  }

  test("tpch_q5: bounded dims broadcast, no cartesian, filters pushed") {
    val p = plan("tpch_q5")
    // nation/region carry explicit hints (fixed 25/5 rows at every SF);
    // customer/supplier are UNHINTED since round 5 — AQE may still
    // size-broadcast them at harness SFs, which is fine (runtime-checked).
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // region filter reaches the scan, not a post-join Filter
    assert(p.contains("EqualTo(r_name,ASIA)"))
  }

  test("tpch_*: no linear-SF dimension (customer/supplier) is hint-broadcast") {
    // Round-4 verdict finding: an explicit broadcast() hint overrides AQE's
    // size check, so a hinted customer/supplier driver-OOMs at warehouse
    // scale BY CONSTRUCTION. Only the fixed-size nation/region dims may
    // carry a BROADCAST hint; customer/supplier joins are left to AQE's
    // runtime size decision. This audits the optimized logical plan, where
    // EliminateResolvedHint has attached every surviving hint to its Join.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    for (
      q <- Seq("tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5",
        "tpch_q6", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10",
        "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15",
        "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20",
        "tpch_q21", "tpch_q22")
    ) {
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      opt.foreach {
        case j: LJoin =>
          for (
            (hint, side) <- Seq((j.hint.leftHint, j.left), (j.hint.rightHint, j.right))
            if hint.exists(_.strategy.contains(BROADCAST))
          ) {
            val paths = side.collect {
              case lr: LogicalRelation => lr.relation match {
                case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
                case _ => ""
              }
            }.mkString(";")
            assert(
              !paths.contains("customer.parquet") && !paths.contains("supplier.parquet"),
              s"$q hint-broadcasts a linear-SF dimension (scans: $paths)")
          }
        case _ =>
      }
    }
  }

  test("tpch_q3: segment + date filters pushed to the scans") {
    val p = plan("tpch_q3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("GreaterThan(l_shipdate,"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch_q7: implied nation IN-filter pushed to both role scans, no cartesian") {
    val p = plan("tpch_q7")
    // the symmetric OR pair predicate spans both roles, so Catalyst can't
    // derive this — the hand-derived per-role filter must reach the scans
    assert("In\\(n_name, \\[NATION_1,NATION_2\\]\\)".r.findAllIn(p).size >= 2,
      s"both nation role scans must carry the pushed IN(pair) filter:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the 2-row nation roles must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q18: HAVING set applied as a semi-join, no cartesian") {
    val p = plan("tpch_q18")
    assert(p.contains("LeftSemi"), s"orders must be semi-join filtered:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q1: no join, one scan, two-phase aggregate, date filter pushed") {
    val p = plan("tpch_q1")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
    assert(p.contains("LessThanOrEqual(l_shipdate"), s"date filter must push:\n$p")
    assert(!p.contains("Join"), s"Q1 must not plan any join:\n$p")
  }

  test("tpch_q4: EXISTS becomes a LeftSemi with the ship-lag residual") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS must decorrelate to semi-join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date window must push to the orders scan:\n$p")
  }

  test("tpch_q6: all three predicates reach the lineitem scan, no shuffle of rows") {
    val p = plan("tpch_q6")
    // PushedFilters renders truncated here, so pin the Filter node text
    assert("l_shipdate#\\d+ >= 1997-01-01".r.findFirstIn(p).isDefined,
      s"date range must reach the scan filter:\n$p")
    assert("l_discount#\\d+ >= 0.05".r.findFirstIn(p).isDefined,
      s"discount range must reach the scan filter:\n$p")
    assert("l_quantity#\\d+ < 24.0".r.findFirstIn(p).isDefined,
      s"quantity bound must reach the scan filter:\n$p")
    // global agg = partial per partition + 1-row final; the only exchange
    // carries one partial row per map task
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("tpch_q19: implied per-side envelopes pushed to both scans") {
    val p = plan("tpch_q19")
    // the OR spans both join inputs (Catalyst can't factor it) — the
    // hand-derived brand IN + quantity hull must reach the scans
    assert(p.contains("In(p_brand, [Brand#1,Brand#13,Brand#23])"),
      s"brand envelope must push to the part scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull must push to the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q22: scalar subquery + NOT EXISTS planned as anti-join, no collect") {
    val p = plan("tpch_q22")
    assert(p.contains("Subquery"), s"threshold must plan as a scalar subquery:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as anti-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_bm25_topk: query-term filter precedes the tf shuffle; top-k fuses") {
    val p = plan("llm_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), s"ranking must fuse to top-k:\n$p")
    // the isin(query terms) must run on the exploded token stream BEFORE
    // the (doc_id, token) aggregate's exchange — i.e. appear as a Filter,
    // not be absent (it can't reach the parquet scan: tokens post-explode)
    assert(p.contains("token#") && "token#\\d+ IN \\(hash,join,window\\)".r
      .findFirstIn(p).isDefined,
      s"query-term IN filter must prune the token stream map-side:\n$p")
  }

  // Tree-walk the operator plan: the plan STRING prints a cached
  // relation's child plan once per consumer, so string-counting
  // over-reports scans; in the TREE an InMemoryTableScan is a leaf and
  // the shared InMemoryRelation computes once however many read it.
  private def opTree(name: String): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("llm_semantic_dedup: one assignment pass (cached), argmax is a WindowGroupLimit") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = opTree("llm_semantic_dedup")
    assert(root.toString.contains("WindowGroupLimit"),
      s"rn=1 must push as group-limit:\n$root")
    // the n×K assignment feeds three consumers (both pair-join sides +
    // the anti-join keep side): all three must read the ONE cache, with
    // no direct parquet rescan anywhere in the operator tree
    val cacheReads = root.collect { case s: InMemoryTableScanExec => s }
    assert(cacheReads.size == 3,
      s"all three consumers must read the cached assignment:\n$root")
    val rescans = root.collect { case s: FileSourceScanExec => s }
    assert(rescans.isEmpty,
      s"no consumer may replan the assignment from the scan:\n$root")
  }

  test("graph_pagerank: iterations read the cached edge list, not a rescan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = opTree("graph_pagerank")
    // Round 14: the merged edge list is a PINNED CHECKPOINT (declared
    // hash(src) layout) — a materialized RDD cannot be rebuilt at all,
    // which is strictly stronger than the old >=6-cache-reads assertion.
    // Every iteration must read it as a Scan ExistingRDD, and
    // orders/lineitem are scanned only inside the one checkpoint build,
    // never in the main tree.
    val p = root.toString
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      s"each iteration must read the checkpointed edge list:\n$root")
    val rescans = root.collect { case s: FileSourceScanExec => s }
    assert(rescans.isEmpty,
      s"base tables must not be rescanned per iteration:\n$root")
    assert(!p.contains("CartesianProduct"))
  }

  /** Every physical plan a key runs: its eager build-time actions (the
    * loop checkpoints that read a pin) plus the returned frame. AQE plans
    * are taken as EnsureRequirements first laid them out. */
  private def plansOf(name: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def initial(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val seen = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += initial(qe.executedPlan) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      org.apache.spark.graft.TestBusHook.waitUntilEmpty(spark)
      seen.synchronized(seen.toSeq) :+ initial(df.queryExecution.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  test("pinned keys: no Exchange on a pin's key directly over that pin") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def hashKeys(p: Partitioning): Option[Seq[String]] = p match {
      case h: HashPartitioning => Some(h.expressions.flatMap(_.references.map(_.name)))
      case _ => None
    }
    // the declared hash keys of a pinned scan, seen through the narrow
    // operators that keep its layout
    def pinKeys(p: SparkPlan): Option[Seq[String]] = p match {
      case s: RDDScanExec => hashKeys(s.outputPartitioning)
      case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec |
          _: InputAdapter | _: ColumnarToRowExec => pinKeys(p.children.head)
      case _ => None
    }
    for (k <- Seq("graph_pagerank", "graph_pagerank_directed", "graph_katz",
        "graph_hits", "graph_common_neighbors", "graph_jaccard_neighbors",
        "graph_label_propagation", "graph_harmonic", "graph_bfs",
        "llm_dedup_groups")) {
      val plans = plansOf(k)
      spark.catalog.clearCache()
      assert(plans.exists(_.exists(pinKeys(_).isDefined)),
        s"$k: no plan reads a pinned scan")
      val reExchanged = plans.flatMap(_.collect {
        case x: ShuffleExchangeExec
            if hashKeys(x.outputPartitioning).exists(pinKeys(x.child).contains) => x
      })
      assert(reExchanged.isEmpty,
        s"$k re-exchanges a pin on its own key:\n${reExchanged.mkString("\n")}")
    }
  }

  test("graph_truss_peel: each round's edge count rides its checkpoint, " +
    "no count action") {
    val actions = TestSpark.actionsDuring(SparkEntry.queries("graph_truss_peel")(spark, sf))
    assert(actions.count(_ == "localCheckpoint") == 4, s"four checkpoints: $actions")
    assert(!actions.exists(Set("count", "isEmpty")),
      s"a count ran as its own action: $actions")
  }

  test("graph edge derivation: within-order pairs explode in-row, no self-join") {
    // round 7: the LIVE builder derives the i<j part pairs from ONE
    // collect_set-per-order aggregate + a nested-transform explode, so
    // its only join is orders⋈lineitem; the previous form self-joined
    // the (order, part) frame — two more wide shuffles for the same
    // output. Round 11: the declared keys now read the MATERIALIZED
    // frame, so the pin moves to the builder the lake build runs.
    val p = graft.operators.Extras
      .coOrderEdgesLive(spark, sf, "1997-01-01", "1998-01-01")
      .queryExecution.executedPlan.toString
    val joins =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p).size
    assert(joins == 1, s"expected only the orders⋈lineitem join, got $joins:\n$p")
    assert(p.contains("Generate explode"), s"in-row pair explode missing:\n$p")
  }

  test("graph keys serve the MATERIALIZED co-order frame: no base-table " +
    "rescan, no join in the degree-dist plan (r11)") {
    // the stored-lake read replaces the per-key orders⋈lineitem rebuild
    // (8+ keys × ~1.5 s of identical derivation); the serving plan must
    // be a bare parquet scan of the cached edge frame feeding the two
    // groupBys — zero joins, zero orders/lineitem scans
    val p = plan("graph_degree_dist")
    val joins =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct)"
        .r.findAllIn(p).size
    assert(joins == 0, s"stored-frame serve must not join:\n$p")
    assert(p.contains("graft_coorder_graph"),
      s"must scan the materialized co-order frame:\n$p")
    assert(!p.contains("orders.parquet") && !p.contains("lineitem.parquet"),
      s"must not rescan the base tables:\n$p")
  }

  test("filtered/deleted/nprobe/ingest ANN serving reads the stored " +
    "index; every base-table scan is bounded or pruned; no in-plan " +
    "training (r11)") {
    // the v3 inverted file carries vectors + label, so candidates come
    // from the index dirs; the base table may appear ONLY as (a) the
    // bounded query-row read (vec_id < 20 pushed to the scan — DPP
    // duplicates of that subtree inside dynamicpruningexpression are
    // fine), (b) the ingest batch read (vec_id >= 400 pushed), or
    // (c) the tombstone-set derivation, column-pruned to vec_id alone.
    // And NO key may train in-plan (a Lloyd chain would plan the
    // centroid UDAF over the corpus).
    // llm_ann_ivf_nprobe additionally holds the brute-force EXACT side
    // (its recall ground truth is a corpus-wide cosine by definition) —
    // that scan must still be column-pruned to (vec_id, embedding)
    val allowed = Seq(
      "LessThan(vec_id,20)",
      "GreaterThanOrEqual(vec_id,400)",
      "ReadSchema: struct<vec_id:bigint>")
    val exactSide = "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"
    for (key <- Seq("llm_ann_ivf_filtered", "llm_ann_ivf_nprobe",
      "llm_ann_ivf_deleted", "llm_ann_ivf_ingest")) {
      val p = plan(key)
      assert(p.contains("graft_ivf_index"),
        s"$key must scan the stored index:\n$p")
      val baseScanLines = p.linesIterator
        .filter(_.contains("embeddings.parquet")).toSeq
      assert(baseScanLines.nonEmpty, s"$key: query rows come from the base")
      val ok = allowed ++
        (if (key == "llm_ann_ivf_nprobe") Seq(exactSide) else Nil)
      baseScanLines.foreach { l =>
        assert(ok.exists(l.contains),
          s"$key holds an unbounded, unpruned base-table scan:\n$l")
      }
      assert(!p.toLowerCase.contains("centroidagg"),
        s"$key must not train in-plan:\n$p")
    }
  }

  test("lake-served dedup reports read the materialized pair frame, " +
    "never re-run the minhash chain; the live twin keeps it in-plan (r11)") {
    // report keys consume the stored verified-pairs frame — their
    // plans must scan graft_neardup_pairs and hold NO documents scan of
    // the text column (the chain's shingle explode starts there). The
    // CC-based consumers (prune, rate_by_source) checkpoint during
    // construction so their FINAL plan is lineage-cut — the lake read
    // is pinned through these lineage-keeping siblings, which share the
    // same minhashVerifiedLake entry. llm_source_overlap additionally
    // joins documents for the SOURCE column — the scan must be pruned
    // to (doc_id, source), never text.
    for (key <- Seq("llm_neardup_threshold_curve", "llm_containment",
      "llm_source_overlap")) {
      val p = plan(key)
      assert(p.contains("graft_neardup_pairs"),
        s"$key must serve the stored pair frame:\n$p")
      val textScan = p.linesIterator.exists(l =>
        l.contains("documents.parquet") && l.contains("text:string"))
      assert(!textScan,
        s"$key must not re-shingle the corpus (text column scanned):\n$p")
    }
    val live = plan("llm_minhash_neardup")
    assert(!live.contains("graft_neardup_pairs") &&
      live.contains("documents.parquet"),
      s"the live twin must keep the chain in-plan:\n$live")
  }

  test("maintained-frame keys serve the STORED segmented frames: no " +
    "base-table rescan, merge-on-read only (r13 — VERDICT r12 #1)") {
    // the maintained twins must read the AnalyticFrames generation
    // (build segment + the two ingest segments) and never re-derive
    // from orders⋈lineitem; the on-disk generation must actually BE
    // segmented (>= 3 parquet files: one per build/ingest), so the
    // serve exercises the distinct / groupBy-sum merge-on-read shape
    val pd = plan("graph_degree_dist_maintained")
    assert(pd.contains("graft_frames_maintained"),
      s"must scan the maintained frame:\n$pd")
    assert(!pd.contains("orders.parquet") && !pd.contains("lineitem.parquet"),
      s"must not rescan the base tables:\n$pd")
    val joins =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct)"
        .r.findAllIn(pd).size
    assert(joins == 0, s"stored-frame serve must not join:\n$pd")
    // pageRank reads the frame in its eager edge-pin job, so look at
    // every plan the key runs
    val pp = plansOf("graph_pagerank_maintained").mkString("\n")
    spark.catalog.clearCache()
    assert(pp.contains("graft_frames_maintained") &&
      !pp.contains("orders.parquet") && !pp.contains("lineitem.parquet"),
      s"pagerank twin must serve the maintained pair frame:\n$pp")
    // the frames on disk are multi-segment (the deployment lifecycle
    // left real ingest appends behind the serve)
    import graft.config.{LakeCache, LakeCommit}
    for ((tag, sub) <- Seq(("coorder:maintained:v1:1997", "edges"),
      ("custsupp:maintained:v1", "pairs"))) {
      val dir = LakeCache.ensure(
        Seq(s"$sf/orders.parquet", s"$sf/lineitem.parquet"),
        tag, "graft_frames_maintained")(_ => fail("must already be built"))
      val gen = LakeCommit.currentGen(dir, "frame").get
      assert(LakeCommit.dataFiles(s"$gen/$sub").size >= 3,
        s"$tag generation must hold the build + ingest segments")
    }
  }

  test("llm_ann_ivf_autoprobe serves the STORED pick: no curve fan-out, " +
    "no brute-force exact half, one bounded embeddings read (r13 — " +
    "VERDICT r12 #4)") {
    // r12 computed the recall curve inside every serve — the plan held
    // an unbounded corpus-wide exact-cosine scan plus the budget
    // fan-out. The pick now lives in the index generation; the serving
    // plan may read the base table ONLY for the 20 bounded query rows.
    val p = plan("llm_ann_ivf_autoprobe")
    assert(p.contains("graft_ivf_index"),
      s"must serve the stored index + autoprobe state:\n$p")
    val baseScanLines = p.linesIterator
      .filter(_.contains("embeddings.parquet")).toSeq
    assert(baseScanLines.nonEmpty, "query rows come from the base table")
    baseScanLines.foreach { l =>
      assert(l.contains("LessThan(vec_id,20)"),
        s"autoprobe serve holds an unbounded base scan (the r12 " +
          s"in-plan curve shape):\n$l")
    }
    assert(!p.toLowerCase.contains("centroidagg"),
      s"must not train in-plan:\n$p")
  }

  test("dq_profile: one scan profiles every column (stack melt, not per-column UNION)") {
    // the oracle's per-column UNION scans the table once per column; the
    // declared plan must hold ONE scan feeding one aggregate row that a
    // stack() melt reshapes — profiling N columns at the cost of one pass
    val p = plan("dq_profile")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 orders scan, plan had $scans:\n$p")
  }

  test("join_correlated_scalar decorrelates to one aggregate + one join") {
    // the correlated scalar subquery must be rewritten into a per-nation
    // max aggregate joined back — a per-outer-row subquery execution
    // would show a Subquery/ScalarSubquery node in the physical plan
    val p = plan("join_correlated_scalar")
    assert(p.contains("HashAggregate"), s"decorrelated aggregate missing:\n$p")
    // Spark renders a surviving scalar subquery as "scalar-subquery#<id>"
    // (hyphenated) inside a Subquery node — check the real spellings
    assert(!p.contains("scalar-subquery") && !p.contains("Subquery"),
      s"subquery survived decorrelation:\n$p")
  }

  test("join_inner_equi plans an equi hash/merge join, not nested loop") {
    val p = plan("join_inner_equi")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("whole-stage codegen covers the scalar expression surface") {
    // AQE only materializes codegen stages in the final executed plan.
    val df = SparkEntry.queries("fn_math")(spark, sf)
    df.collect()
    // "*(n)" prefixes mark whole-stage-codegen spans in the final AQE plan
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("minhash candidate generation is an equi-join on band keys, never all-pairs") {
    val p = plan("llm_minhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"minhash banding must never plan an all-pairs join:\n$p")
  }

  test("minhash pipeline: no broadcast on any sketch frame (AQE OOM hygiene)") {
    // Round-3 measured defect: at 500k docs AQE promoted the persisted
    // ~8M-row band frame to a driver-built broadcast relation and OOMed.
    // The SHUFFLE_HASH hints inside minhashVerified must hold under any
    // caller conf — so the whole plan (band self-join + both verify joins
    // + both size joins) may contain ZERO BroadcastHashJoin.
    for (q <- Seq("llm_minhash_neardup", "llm_incremental_neardup")) {
      val p = plan(q)
      assert(!p.contains("BroadcastHashJoin"),
        s"$q must never broadcast a sketch-side frame:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"$q band/verify joins should be shuffled hash joins:\n$p")
    }
  }

  test("llm_dedup_cluster_sizes_lsh: the curation report plans NO all-pairs " +
    "cosine stage (r10 — the brute chain is audit-only)") {
    val p = plan("llm_dedup_cluster_sizes_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the LSH dedup report must never plan an all-pairs join:\n$p")
  }

  test("llm_sim_join_lsh: candidates via equi-join, signature computed once (persisted)") {
    val p = plan("llm_sim_join_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("InMemoryTableScan"),
      s"banded signature should be read from the persisted plan on both join sides:\n$p")
  }

  test("llm_sim_join_threshold_lsh: moderate-τ path is banded equi-join, never all-pairs") {
    // the round-5 sub-quadratic twin of the brute-force τ=0.35 join must
    // keep the same plan hygiene as the high-τ scheme: candidates only
    // from the (band, band_key) equi-join over the persisted signature
    val p = plan("llm_sim_join_threshold_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"union-of-bands prefilter must never plan an all-pairs join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"banded signature should be read from the persisted plan on both join sides:\n$p")
  }

  test("llm_heavy_hitters: sketch and candidate sides broadcast, semi-join exact pass") {
    // pass 1 reduces the corpus to ONE sketch row (broadcast); pass 2
    // probes the distinct vocabulary against it (per-distinct-key sketch
    // decode — per-OCCURRENCE probing measured 20× slower, see the
    // operator comment); the bounded candidate set broadcasts into a
    // left-semi probe of the stream, so only candidate rows reach the
    // exact-count exchange
    val p = plan("llm_heavy_hitters")
    assert(p.contains("BroadcastExchange"),
      s"sketch row + candidate set must broadcast:\n$p")
    assert(p.contains("LeftSemi"),
      s"the exact pass must semi-join the candidate set:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("etl_scd2: change filter + close-out share one exchange and one sort") {
    // both windows use the (user_id | ts, event_id) spec and the filter
    // between them preserves order, so the whole history build must plan
    // exactly one hash exchange and one sort — a second sort would mean
    // Catalyst stopped seeing the shared ordering
    val p = plan("etl_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, plan had $exchanges:\n$p")
    // exactly one (user_id, ts, event_id) window sort feeds BOTH windows;
    // the other Sort in the plan is the declared output's total orderBy
    val windowSorts = "Sort \\[user_id#\\d+L ASC NULLS FIRST, ts#".r.findAllIn(p).size
    assert(windowSorts == 1, s"expected 1 shared window sort, had $windowSorts:\n$p")
  }

  test("llm_heavy_hitters_mg: candidates off the summary row, no vocabulary distinct") {
    // the MG plan's advantage over the CMS one: candidates explode out of
    // the ONE summary row, so there must be no distinct-vocabulary
    // aggregate before the candidate broadcast — only the exact-count
    // aggregate over semi-joined survivors remains
    val p = plan("llm_heavy_hitters_mg")
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("LeftSemi"))
    assert(p.contains("mg_sketch"))
    val aggs = "HashAggregate\\(keys=\\[token".r.findAllIn(p).size
    // CMS plan: distinct-vocabulary agg (2 phases) + exact count (2) = 4;
    // MG plan: exact count only = 2
    assert(aggs == 2, s"expected only the exact-count token aggregate:\n$p")
  }

  test("llm_decontaminate_bloom: fixed-size filter broadcast, shuffled exact verify") {
    // the point of the bloom plan: the benchmark set itself is NOT
    // broadcast as a hash relation — the 128 KB filter arrives through
    // an uncorrelated scalar subquery (computed once), the stream is
    // pruned map-side, and the exact verify semi-join is a SHUFFLE_HASH
    // join sized to the surviving sliver
    val p = plan("llm_decontaminate_bloom")
    assert(p.contains("bloom_contains"), s"map-side probe missing:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      s"exact verify must be a shuffled semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("llm_neardup_prune / llm_dedup_groups: iterative lineage is cut per round") {
    // After localCheckpoint the final plan must read the materialized
    // labels (ExistingRDD), not re-derive the propagation rounds from the
    // scan. (Components iterates to fixpoint; the round count is
    // data-determined but every round is checkpoint-cut.)
    for (q <- Seq("llm_neardup_prune", "llm_dedup_groups", "llm_dedup_groups_lsh")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD"), s"$q lineage not truncated:\n$p")
    }
  }

  test("llm_incremental_neardup: corpus sketch built once (band frame persisted)") {
    // the b-side batch filter makes the join subtrees non-identical, so
    // only an explicit persist stops the shingle→md5→16-min pipeline
    // running once per side: the 16-min sketch agg must live only inside
    // the cached relation, never in the executable (non-cached) plan tree.
    // (Tree collect does not descend into InMemoryTableScan's cached plan,
    // unlike toString — exactly the distinction we want to pin.)
    val qe = SparkEntry.queries("llm_incremental_neardup")(spark, sf).queryExecution
    val root = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val sketchAggs = root.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.aggregateExpressions.size >= 16 => h
    }
    assert(sketchAggs.isEmpty,
      s"minhash sketch agg re-derived outside the cache:\n$root")
    assert(root.toString.contains("InMemoryTableScan"),
      s"band frame should be read from cache on both join sides:\n$root")
  }

  test("llm_sample_mix: map-side hash-bucket predicate, no shuffle before the output sort") {
    val p = plan("llm_sample_mix")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling must not shuffle (only the deterministic output sort may range-partition):\n$p")
  }

  test("llm_pack_sequences: exactly one shard exchange for the packing window") {
    val p = plan("llm_pack_sequences")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 source-shard exchange, got $exchanges:\n$p")
  }

  test("llm_ann_ivf serves the stored index; the _train twin materializes " +
    "its Lloyd lineage (r10 split)") {
    // the SERVING key must not train in-plan: no checkpoint RDD, and the
    // probe side reads the stored parquet index (centroids broadcast)
    val p = plan("llm_ann_ivf")
    assert(!p.contains("ExistingRDD"),
      s"serving plan contains in-plan training lineage:\n$p")
    assert(p.contains("BroadcastExchange"))
    // the RECOMPUTE twin keeps training in-plan with the lineage
    // truncated once (localCheckpoint → ExistingRDD), centroids
    // broadcast into both the assignment and probe stages
    val t = plan("llm_ann_ivf_train")
    assert(t.contains("ExistingRDD"), s"Lloyd lineage not truncated:\n$t")
    assert("BroadcastExchange".r.findAllIn(t).size >= 2)
  }

  test("win_streak: the (user, day) distinct collapses events below the window") {
    // the window and streak aggregates must see one row per (user, day),
    // never raw events — the distinct aggregate sits in the window's
    // subtree (plan prints top-down, so it appears after the Window node)
    val p = plan("win_streak")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"no Window in plan:\n$p")
    assert(p.substring(winIdx).contains("HashAggregate"),
      s"window consumes raw events instead of the (user, day) distinct:\n$p")
  }

  test("etl_cdc_apply: aggregate plan (partial+final fold), never a window") {
    // the CDC winner fold must stay the partially-aggregable struct-max —
    // the shape that rides streaming state and incremental maintenance
    // (the rn=1 window measures at parity thanks to InferWindowGroupLimit,
    // but has neither property). struct-max plans as SortAggregate, not
    // HashAggregate — the partial_max before the exchange is the claim.
    val p = plan("etl_cdc_apply")
    assert(!p.contains("Window"), s"CDC apply planned a window:\n$p")
    assert(p.contains("partial_max"),
      s"no map-side partial fold before the key exchange:\n$p")
    val keyExchanges = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size
    assert(keyExchanges == 1, s"expected 1 key exchange, got $keyExchanges:\n$p")
  }

  test("graph_triangles: oriented equi-joins only, edge frame built once") {
    val p = plan("graph_triangles")
    // wedge build + closure probe are equi-joins; a cartesian here means
    // the orientation predicate fell out of the keys. (The single 1-row ×
    // 1-row scalar combine of the two counts IS a nested-loop join and is
    // the only one allowed.)
    assert(!p.contains("CartesianProduct"), s"all-pairs plan:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"non-equi join beyond the scalar combine:\n$p")
    // wedge left, wedge right, and the closure probe must all read the
    // persisted edge frame — never re-derive the distinct
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"edge frame rebuilt per reference:\n$p")
  }

  test("graph_common_neighbors: persisted adjacency, equi wedge join, fused top-k") {
    val p = plan("graph_common_neighbors")
    assert(!p.contains("CartesianProduct"), s"all-pairs plan:\n$p")
    // Round 14: the symmetrized adjacency is a pinned checkpoint — both
    // wedge self-join sides read the materialized, v-partitioned RDD
    // (a checkpoint cannot be rebuilt, strictly stronger than the old
    // cache-count assertion); the anti probe still reads the persisted
    // oriented edge frame
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"wedge sides must read the checkpointed adjacency:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1,
      s"anti probe must read the persisted edge frame:\n$p")
    // the top-20 must fuse — never a global sort of all candidate pairs
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("graph_bfs: per-level joins read caches, no per-level base rescans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = opTree("graph_bfs")
    // every level's frontier⋈edges and anti-join input is a persisted
    // frame (edge frame pre-partitioned once, visited/frontier per
    // level) — orders/lineitem are scanned only inside cache builds,
    // never in the main tree
    val rescans = root.collect { case s: FileSourceScanExec => s }
    assert(rescans.isEmpty,
      s"base tables rescanned outside the cached edge build:\n$root")
    assert(!root.toString.contains("CartesianProduct"))
  }

  test("dq_outliers: bounded fence frame broadcast, two passes by necessity") {
    val p = plan("dq_outliers")
    // the bounds join must broadcast the 5-row fence frame, not shuffle
    // the events fact
    assert(p.contains("BroadcastHashJoin"), s"fence join shuffled the fact:\n$p")
    // exact quantiles force a first full pass; the classify pass is the
    // second — more scans would mean the fence frame re-derived per use
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected exactly 2 events scans, got $scans:\n$p")
  }

  test("win_ratio_to_report: rank filter pushed, windows share the type partition") {
    val p = plan("win_ratio_to_report")
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed:\n$p")
    // one exchange for the (type, user) groupBy + one for the
    // event_type windows (share + rank ride the same partitioning)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
  }

  test("join_salted: build side exploded salt-x, still an equi join") {
    val p = plan("join_salted")
    // the salt factor must appear as the build-side explode, and the
    // join must stay equi on (key, salt) — a nested loop would mean the
    // salt column fell out of the join keys
    assert(p.contains("explode"), s"no salt explode on the build side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"salt key fell out:\n$p")
  }

  test("etl_ab_test: whole readout from one events scan") {
    val p = plan("etl_ab_test")
    // per-user fold → variant fold → 1-row pivot, all from one pass —
    // a second scan would mean assignment and conversion split apart
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$p")
  }

  test("dq_referential: each FK edge reads only its key columns") {
    val p = plan("dq_referential")
    // six pruned scans (3 edges x child+parent), single-column each —
    // an unpruned audit would drag whole fact rows through the joins
    assert("FileScan parquet".r.findAllIn(p).size == 6, s"scan count:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"child scan not pruned to the key:\n$p")
  }

  test("win_rolling_stats: one user exchange, all three moments in one frame") {
    val p = plan("win_rolling_stats")
    // Σc, Σc², n share the one (user_id | ts, event_id) sliding frame —
    // a second exchange would mean the moments split across specs
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
  }

  test("etl_rfm: one groupBy exchange; quartiling runs on the user frame") {
    val p = plan("etl_rfm")
    // the three global ntile sorts are singlePartition over USERS (the
    // documented report-scale tradeoff) — the events fact must cross the
    // network exactly once, for the per-user groupBy
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
  }

  test("etl_churn_daily / etl_transition_matrix: one events scan each") {
    // both ledgers fold flags in aggregate-land — a second scan would
    // mean the self-join formulation the oracle deliberately avoids too
    for (name <- Seq("etl_churn_daily", "etl_transition_matrix")) {
      val p = plan(name)
      val scans = "FileScan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name: expected 1 events scan, got $scans:\n$p")
    }
  }

  test("llm_chunk_sliding: narrow until the output sort (one range exchange)") {
    // chunking must stay embarrassingly parallel: scan → project →
    // generate, with the ONLY exchange being the deterministic output
    // sort. A hash exchange here would mean chunking started shuffling
    // O(tokens) rows — wrong at any scale.
    val p = plan("llm_chunk_sliding")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the output-sort exchange:\n$p")
  }

  test("llm_span_dedup: one gram aggregate, semi-join marks, no broadcast") {
    // the gram aggregate is THE shuffle; the marks come back via a
    // shuffled semi-join (the dup-gram frame scales with the corpus, so
    // AQE must never promote it to a driver-built broadcast — the
    // sketch-family hygiene), and nothing may go nested-loop.
    val p = plan("llm_span_dedup")
    assert(p.contains("LeftSemi"), s"marks must come from a semi-join:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"dup-gram side must stay a shuffled build:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span dedup must never plan a product join:\n$p")
  }

  test("graph_jaccard_neighbors: persisted adjacency, equi wedges, fused top-k") {
    val p = plan("graph_jaccard_neighbors")
    assert(!p.contains("CartesianProduct"), s"all-pairs plan:\n$p")
    // Round 14: sym (wedge sides ×2) and deg (da/db probes ×2) are
    // checkpointed — four materialized-RDD reads; the anti probe still
    // reads the persisted oriented edge frame
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4,
      s"adjacency/degree frames must read their checkpoints:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1,
      s"anti probe must read the persisted edge frame:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("graph_assortativity: one persisted adjacency, corr folds map-side") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct"), s"product join crept in:\n$p")
    // sym feeds the two degree probes + the corr join; e feeds n_edges
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"edge/adjacency frame rebuilt per reference:\n$p")
    // the corr aggregate must be two-phase (partial map-side, final)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"corr not partial:\n$p")
  }

  test("etl_basket_affinity: persisted order-part frame, fused top-k, no product") {
    val p = plan("etl_basket_affinity")
    assert(!p.contains("CartesianProduct"), s"all-pairs plan:\n$p")
    // op persisted once, read by n_orders / item supports / pair build
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"order-part frame rebuilt per reference:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-20:\n$p")
  }

  test("agg_mad_outliers: three passes by necessity, stat frames broadcast") {
    val p = plan("agg_mad_outliers")
    // exact MAD's necessity floor: median pass → MAD-of-deviations pass
    // → classify pass. The median frame is persisted, so the MAIN tree
    // scans events exactly twice (the two dev instantiations) and the
    // cached median build adds the third at runtime; raw string counting
    // would double-count the cache build (it re-prints per reference).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = opTree("agg_mad_outliers")
      .collect { case s: FileSourceScanExec => s }.size
    assert(scans == 2, s"expected 2 main-tree events scans, got $scans:\n$p")
    assert(p.contains("InMemoryTableScan"), s"median frame not cached:\n$p")
    // both O(types) stat frames must broadcast, never shuffle the fact
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"stat join shuffled the fact:\n$p")
  }

  test("etl_pareto_revenue / etl_autocorr_daily: one fact scan each") {
    val p1 = plan("etl_pareto_revenue")
    assert("FileScan parquet".r.findAllIn(p1).size == 1,
      s"orders scanned more than once:\n$p1")
    val p2 = plan("etl_autocorr_daily")
    assert("FileScan parquet".r.findAllIn(p2).size == 1,
      s"events scanned more than once:\n$p2")
    // the lag window and the corr groupBy share the event_type-rooted
    // reduction; everything after the daily groupBy is report-scale
    assert(!p2.contains("CartesianProduct"))
  }

  test("etl_journey_pattern: one events scan, one user exchange") {
    val p = plan("etl_journey_pattern")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"events scanned more than once:\n$p")
    // the journey fold is the only fact-scale exchange; the histogram
    // groups a bounded motif-count domain
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges:\n$p")
  }

  test("new analytics keys: fact scanned once, folds stay codegen, no cartesian") {
    // agg_gini: orders scanned once; nation is the only hinted broadcast;
    // the rank window + reduce run over the O(customers) frame
    val pg = plan("agg_gini")
    assert("FileScan parquet".r.findAllIn(pg).size == 3, // orders+customer+nation
      s"unexpected scan count:\n$pg")
    assert(!pg.contains("CartesianProduct"))
    // agg_regression: one lineitem⋈part join, two-phase aggregate (the
    // five decimal moments combine map-side), no second fact pass
    val pr = plan("agg_regression")
    assert("HashAggregate".r.findAllIn(pr).size >= 2,
      s"moment aggregate not two-phase:\n$pr")
    assert("FileScan parquet".r.findAllIn(pr).size == 2,
      s"fact scanned more than once:\n$pr")
    // agg_entropy: one customer scan; the fold is a projection over the
    // 25-row grouped frame (no extra exchange, no UDF)
    val pe = plan("agg_entropy")
    assert("FileScan parquet".r.findAllIn(pe).size == 2, // customer+nation
      s"unexpected scan count:\n$pe")
    assert(!pe.toLowerCase.contains("batchevalpython") &&
      !pe.contains("ScalaUDF"), s"fold left codegen:\n$pe")
    // win_ewma: one events scan; (user, day) groupBy then user groupBy —
    // two exchanges is the floor (day-keyed frame can't serve user agg)
    val pw = plan("win_ewma")
    assert("FileScan parquet".r.findAllIn(pw).size == 1,
      s"events scanned more than once:\n$pw")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pw).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$pw")
  }

  test("batch-2 keys: single fact scans, report-scale tails") {
    // llm_source_mix_kl: documents scanned once (the grouped frame is
    // persisted and re-read for the marginal/total — raw string counting
    // would re-count the embedded cache-build plan per reference, the
    // agg_mad_outliers lesson, so count main-tree scans via the op tree)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pk = plan("llm_source_mix_kl")
    val mainScans = opTree("llm_source_mix_kl")
      .collect { case s: FileSourceScanExec => s }.size
    assert(mainScans == 0, s"main tree must read the cache:\n$pk")
    assert(pk.contains("InMemoryTableScan"),
      s"grouped frame not reused:\n$pk")
    // dq_volume_anomaly: daily groupBy is the only fact-scale exchange;
    // the global day window runs over the O(days) frame by design
    val pv = plan("dq_volume_anomaly")
    assert("FileScan parquet".r.findAllIn(pv).size == 1,
      s"events scanned more than once:\n$pv")
    // etl_interpurchase: one orders window exchange + the segment join;
    // no cartesian anywhere
    val pi = plan("etl_interpurchase")
    assert(!pi.contains("CartesianProduct"))
    assert("FileScan parquet".r.findAllIn(pi).size == 2, // orders+customer
      s"unexpected scan count:\n$pi")
  }

  test("batch-3 keys: one events scan each, windows over grouped frames") {
    // win_rolling_median: the percentile window reads the (type, day)
    // grouped frame, never raw events
    val pm = plan("win_rolling_median")
    assert("FileScan parquet".r.findAllIn(pm).size == 1,
      s"events scanned more than once:\n$pm")
    // etl_cohort_ltv: one scan; cohort stamping via window (no firsts
    // self-join); grid persisted (feeds cum window + sizes probe), so
    // the main tree reads the cache — count scans via the op tree
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pl = plan("etl_cohort_ltv")
    val mainScans = opTree("etl_cohort_ltv")
      .collect { case s: FileSourceScanExec => s }.size
    assert(mainScans == 0, s"main tree must read the grid cache:\n$pl")
    assert(pl.contains("InMemoryTableScan"), s"grid not persisted:\n$pl")
    assert(!pl.contains("CartesianProduct"))
  }

  test("batch-4 keys: persisted gram frames, shuffled train join, two-phase money agg") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // llm_vocab_coverage: counts persisted (rank window + totals row) —
    // zero main-tree documents rescans
    val pv = plan("llm_vocab_coverage")
    assert(opTree("llm_vocab_coverage")
      .collect { case s: FileSourceScanExec => s }.isEmpty,
      s"main tree must read the counts cache:\n$pv")
    assert(pv.contains("InMemoryTableScan"), s"counts not persisted:\n$pv")
    // llm_split_novelty: the corpus-sized train gram set must never
    // broadcast — the probe is the hinted shuffled hash join
    val pn = plan("llm_split_novelty")
    assert(pn.contains("ShuffledHashJoin"),
      s"train-gram join must be shuffled:\n$pn")
    assert(pn.contains("InMemoryTableScan"), s"gram frame not persisted:\n$pn")
    // etl_revenue_waterfall: one scan per fact, map-side-combinable agg
    val pw = plan("etl_revenue_waterfall")
    assert("FileScan parquet".r.findAllIn(pw).size == 2,
      s"facts scanned more than once each:\n$pw")
    assert("HashAggregate".r.findAllIn(pw).size >= 2,
      s"monthly agg not two-phase:\n$pw")
  }

  test("runtime bloom filter: selective dim filter reaches the fact side") {
    // The 100 TB shuffle-join complement to broadcast pruning: when the
    // dim side of a SHUFFLE join carries a selective filter, Catalyst's
    // InjectRuntimeFilter plants a bloom-filter aggregate on the dim and
    // a might_contain probe on the fact side, so non-joining fact rows
    // die at/near the scan instead of crossing the exchange. The confs
    // only LOWER the engagement thresholds (they're sized for clusters:
    // 10 GiB application-side scans) — the rewrite itself is stock
    // Catalyst, available to every declared plan at warehouse scale.
    import org.apache.spark.sql.functions.col
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k =>
      k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val dim = spark.read.parquet(s"$sf/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val p = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$p")
      assert(p.contains("bloom_filter_agg"),
        s"expected the dim-side bloom-filter build aggregate:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("join_lateral_topk: Catalyst decorrelates the LATERAL into a window") {
    val p = plan("join_lateral_topk")
    // the per-row subquery must NOT execute row-at-a-time: no nested-loop
    // per-nation re-scan — one customer scan under a ranked window
    assert(p.contains("Window") || p.contains("WindowGroupLimit"),
      s"expected the decorrelated ranked-window plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("FileScan parquet".r.findAllIn(p).size <= 2,
      s"decorrelation must keep ONE scan per table:\n$p")
  }

  test("agg_theta_overlap: object-hash sketch agg, type-pair join stays bounded") {
    val p = plan("agg_theta_overlap")
    // TypedImperativeAggregate plans as a two-phase ObjectHashAggregate —
    // partial sketches merge map-side, 2 KB per (type × partition) shuffles
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("kmv_sketch"), p)
    // the t1 < t2 pair join runs over the BOUNDED type frame as a
    // broadcast nested loop — never a cartesian of unbounded relations
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_sim_join_prefix: equi candidate join, no cartesian, doc frame reused") {
    val p = plan("llm_sim_join_prefix")
    assert(!p.contains("CartesianProduct"),
      s"prefix join must never plan a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be an EQUI join on the prefix token:\n$p")
    // the persisted ppjoin doc frame feeds prefix + both verify sides
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("dq_reconciliation: lineitem pre-aggregated below the join, no cartesian") {
    val p = plan("dq_reconciliation")
    assert(!p.contains("CartesianProduct"), p)
    // per-order partial/final agg collapses lineitem BEFORE the join —
    // the join reads order-grain rows, never raw line items
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("llm_sample_temperature: bounded rate frame broadcast onto the fact scan") {
    val p = plan("llm_sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"the lang-rate frame must broadcast (bounded domain):\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  // ---- r8 guard: the exact-rank scale doctrine, enforced ----
  //
  // VERDICT r7's one remaining weak class: declared plans carrying a
  // WindowExec whose partition cardinality is O(1) (unpartitioned, or
  // partitioned only by a known handful-of-values column) while a
  // FACT-scale table feeds it. This guard walks EVERY declared key's
  // physical plan and fails on any such window unless the key is in the
  // audit table below — so a new global-sort window can only ship by
  // consciously documenting why its input is bounded (or by shipping a
  // fenced scale twin alongside, the RankFence doctrine).
  test("r8 guard: no undocumented O(1)-partition window over fact-backed input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference

    // Audit table: key → why its O(1)-partition window is acceptable.
    // Two legitimate classes:
    //   (twin)    deliberately-declared report twin; the *_fenced scale
    //             plan of the SAME oracle ships alongside (RankFence)
    //   (bounded) the window input is a domain-bounded report frame
    //             (days/months/types/deciles — cardinality independent
    //             of SF), even though a fact scan sits further below
    val audited: Map[String, String] = Map(
      "win_ntile" -> "(twin) deliberate 4-bucket report key; RankFence.ntileFenced is the scale path",
      "agg_hist_equidepth" -> "(twin) of agg_hist_equidepth_fenced",
      "etl_rfm" -> "(twin) of etl_rfm_fenced",
      "etl_pareto_revenue" -> "(twin) of etl_pareto_revenue_fenced",
      "win_percent_cume" -> "(twin) §2.E percent_rank/cume_dist surface demo; RankFence is the exact-rank scale path",
      "win_rank_dense" -> "(twin) §2.E rank/dense_rank surface demo; RankFence is the exact-rank scale path",
      "agg_histogram" -> "(bounded) CDF window runs over the BUCKET frame — cardinality = value range / width, SF-independent",
      "llm_embedding_sim_hist" -> "(bounded) share window runs over the ≤10-row cosine-bucket frame (r12; a second aggregate would re-pay the candidate chain)",
      "agg_mode" -> "(bounded) rank window runs over the (flag × distinct l_quantity) pair frame — quantity domain is 1..50",
      "dq_volume_anomaly" -> "(bounded) z window runs over the per-DAY volume frame — cardinality = days in span",
      "dq_null_profile" -> "(bounded) trailing-rate window runs over the per-DAY null-count frame — cardinality = days in span (r12, the volume_anomaly shape)",
      "etl_churn_daily" -> "(bounded) windows run over the per-DAY frame — cardinality = days in span",
      "etl_weekday_profile" -> "(bounded) window runs over the 7-row weekday frame",
      "etl_concurrency" -> "(bounded) only the CARRY window is day-global — it runs over the per-day delta frame; endpoint running sums partition by day (two-level prefix sum, r8)",
      "etl_mom_yoy" -> "(bounded) lag window + YoY calendar join run over the per-MONTH frame — cardinality = months in span, SF-independent",
      "etl_mat_rolling" -> "(bounded) 12-month rolling window runs over the per-MONTH frame — cardinality = months in span, SF-independent (r13)",
      "etl_abc_class" -> "(twin) cumulative-share cut over the part DIMENSION frame — same global-cumsum shape as etl_pareto_revenue, whose RankFence fenced twin is the declared scale path for this family (r13)",
      "llm_ngram_coverage" -> "(bounded) rank window runs over the VOCAB frame — the llm_vocab_coverage fence: vocabulary-sized, sublinear in SF (r13 cont.)",
      "llm_heaps_law" -> "(bounded) cumulative + first_value windows run over the 10-row DECILE frame; words collapsed to first-doc and docs to counts before any window (r13 cont.)",
      "llm_rrf_fusion" -> "(bounded) rank windows run over the two LIMIT-50 top-k frames — the scorer fan-in is TakeOrdered-bounded before any window (r13 cont.)",
      "etl_forecast_mase" -> "(bounded) lag window runs over the per-DAY revenue frame — cardinality = days in the 1995 backtest span, SF-independent (r13 cont.)",
      "dq_cardinality_profile" -> "(bounded) modal-rank window runs over each profiled column's DISTINCT-VALUE frame — cardinality = the column's domain (the key exists to report exactly that boundedness) (r13 cont.)"
    )
    val factNames = Seq("lineitem", "orders", "events", "documents",
      "embeddings", "customer", "supplier", "part")
    val lowCard = Set("l_returnflag", "l_linestatus")

    def windows(p: SparkPlan): Seq[WindowExec] =
      p.collect { case w: WindowExec => w } ++
        p.collect { case a: AdaptiveSparkPlanExec => a }
          .flatMap(a => windows(a.executedPlan))

    def factBelow(p: SparkPlan): Boolean =
      p.collect { case f: FileSourceScanExec => f }.exists(f =>
        factNames.exists(t =>
          f.relation.location.rootPaths.exists(_.toString.contains(t))))

    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val root = fn(spark, sf).queryExecution.executedPlan
        windows(root).flatMap { w =>
          val o1Partition = w.partitionSpec.isEmpty ||
            w.partitionSpec.forall {
              case a: AttributeReference => lowCard.contains(a.name)
              case _ => false
            }
          if (o1Partition && factBelow(w) && !audited.contains(name))
            Some(s"$name: ${w.partitionSpec.mkString("[", ",", "]")} " +
              s"over fact-backed input")
          else None
        }
    }
    assert(violations.isEmpty,
      s"undocumented O(1)-partition windows over fact-backed input:\n" +
        violations.mkString("\n"))
  }

  test("llm_sample_weighted: global weighted draw fuses to " +
    "TakeOrderedAndProject (per-partition heaps, no global sort)") {
    val p = plan("llm_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), s"must fuse to top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a range exchange means a global sort crept in:\n$p")
  }

  test("etl_clamped_ledger: one user exchange, top-20 fuses to " +
    "TakeOrderedAndProject") {
    val p = plan("etl_clamped_ledger")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"must fuse to top-k:\n$p")
  }

  test("etl_clamped_ledger: no per-user array buffer (no collect_list, " +
    "no higher-order aggregate)") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val root = opTree("etl_clamped_ledger")
    val buffers = root.flatMap(_.expressions).flatMap(
      _.collect { case e: CollectList => e; case e: ArrayAggregate => e })
    assert(buffers.isEmpty,
      s"a hot user's history must stream, not collect into one row:\n$root")
  }

  test("dq_ks_test / agg_mann_whitney / agg_spearman_daily / " +
    "agg_theil_sen: in-row folds plan ZERO window operators") {
    for (k <- Seq("dq_ks_test", "agg_mann_whitney", "agg_spearman_daily",
        "agg_theil_sen")) {
      val p = plan(k)
      assert(!p.contains("Window"), s"$k must not plan a Window:\n$p")
    }
  }

  test("agg_kruskal_wallis / agg_anova_f / agg_kendall_tau / " +
    "agg_jarque_bera: in-row folds / moment sums plan ZERO window " +
    "operators") {
    for (k <- Seq("agg_kruskal_wallis", "agg_anova_f", "agg_kendall_tau",
        "agg_jarque_bera")) {
      val p = plan(k)
      assert(!p.contains("Window"), s"$k must not plan a Window:\n$p")
    }
  }

  test("graph_hits / graph_pagerank_directed: no cartesian product") {
    val p = plan("graph_hits")
    assert(!p.contains("CartesianProduct"),
      s"graph_hits must not plan a CartesianProduct:\n$p")
    // the PageRank rounds carry n and the sink mass as observed literals:
    // none of their plans joins a scalar frame
    val rounds = plansOf("graph_pagerank_directed").map(_.toString)
    spark.catalog.clearCache()
    rounds.foreach(r => assert(!r.contains("CartesianProduct") &&
      !r.contains("NestedLoopJoin"), s"graph_pagerank_directed joins a scalar:\n$r"))
  }

  test("cont-6 stats/privacy keys: in-row folds plan ZERO window " +
    "operators and zero joins") {
    for (k <- Seq("dq_chi_square_gof", "agg_levene", "etl_changepoint",
        "agg_bootstrap_ci", "dq_dp_counts", "llm_tokenizer_fertility",
        "agg_cohens_d", "agg_regression_multi")) {
      val p = plan(k)
      assert(!p.contains("Window"), s"$k must not plan a Window:\n$p")
      assert(!p.contains("Join"), s"$k must not plan a Join:\n$p")
    }
  }

  test("graph_label_propagation: no cartesian, label vector joins are " +
    "hash-partitioned (no broadcast of the SF-linear label frame)") {
    val p = plan("graph_label_propagation")
    assert(!p.contains("CartesianProduct"),
      s"must not plan a CartesianProduct:\n$p")
  }

  test("llm_embedding_pca_var: no window, no cartesian — the only " +
    "fact-sized stage is the map-side-combinable moment groupBy") {
    val p = plan("llm_embedding_pca_var")
    assert(!p.contains("Window"), s"must not plan a Window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"must not plan a CartesianProduct:\n$p")
  }

  test("agg_hhi: top-10 customer pick fuses to TakeOrderedAndProject " +
    "(no global sort of the customer frame)") {
    val p = plan("agg_hhi")
    assert(p.contains("TakeOrderedAndProject"), s"must fuse to top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a range exchange means a global sort crept in:\n$p")
  }

  // ---- r9 guard: no declared key collects an SF-growing frame to the
  // ---- driver (VERDICT r8 #6 — the collect() complement of the r8
  // ---- O(1)-window guard)
  //
  // Mechanism: a QueryExecutionListener records every row-returning
  // driver action (collect/head/take/…) fired while each declared key's
  // frame is CONSTRUCTED — the fenced sketch/count passes, adaptive
  // probes, registry builds all run their driver jobs at build time —
  // along with the rows the action's root plan produced. The audit runs
  // the whole surface at sf0.001 AND sf0.01 and fails any key whose
  // largest driver-action result GROWS with SF (≥2× across the 10× SF
  // step AND >256 rows at the high SF — bounded grids like fence
  // intervals may fill in a few more slots; fact-proportional frames
  // jump ~10×), or whose any action exceeds an absolute 100k-row
  // tripwire. Empirical, so it catches what static inspection cannot:
  // a collect over a frame that LOOKS bounded but scales with the data.
  test("llm_embedding_anisotropy: the identity plans ZERO joins and ZERO" +
    " hash exchanges — one scan + one 65-column aggregate") {
    val p = plan("llm_embedding_anisotropy")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Join"), s"pairwise-mean identity grew a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "anisotropy should aggregate without any hash exchange")
  }

  test("etl_skyline: dominance via two windows — no self-join, one brand" +
    " exchange, one scan") {
    val p = plan("etl_skyline")
    assert("FileScan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Join"), s"skyline regressed to a dominance join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("join_band: the band predicate rides ONE equi join — never a" +
    " cartesian or nested-loop") {
    val p = plan("join_band")
    val equi = "SortMergeJoin".r.findAllIn(p).size +
      "BroadcastHashJoin".r.findAllIn(p).size
    assert(equi == 1, s"expected exactly one equi join, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("llm_winnowing: selection is window-local — no cartesian, no" +
    " nested-loop anywhere in the chain") {
    val p = plan("llm_winnowing")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("etl_open_orders_curve: sweep-line — the fact join materializes" +
    " once for both event branches") {
    val p = plan("etl_open_orders_curve")
    // both union branches read the checkpointed close-day frame; the
    // orders/lineitem scans appear once, not once per branch
    assert("FileScan parquet".r.findAllIn(p).isEmpty,
      "expected the checkpointed frame to feed both branches " +
        "(scans belong to the checkpoint, not this plan)")
    assert(!p.contains("CartesianProduct"))
  }

  test("r9 guard: no declared key collects an SF-growing frame to the driver") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.collection.mutable

    val rowActions = Set("collect", "collectAsList", "head", "take",
      "tail", "toLocalIterator")
    def outRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => outRows(a.executedPlan)
      // AQE query stages are LEAF wrappers — the real subtree (and its
      // metrics) hangs off .plan, not .children
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        outRows(q.plan)
      case w: WholeStageCodegenExec => outRows(w.child)
      case _ => p.metrics.get("numOutputRows").map(_.value).getOrElse(
        p.children.headOption.map(outRows).getOrElse(0L))
    }
    val events = mutable.ArrayBuffer[(String, String, Long)]()
    @volatile var current = ""
    val listener = new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (rowActions(funcName)) {
          val rows = outRows(qe.executedPlan)
          events.synchronized { events += ((current, funcName, rows)) }
        }
      override def onFailure(
          funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def sweep(dir: String): Map[String, Long] = {
        val maxRows = mutable.Map[String, Long]().withDefaultValue(0L)
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          current = name
          fn(spark, dir) // construction runs the build-time driver jobs
          org.apache.spark.graft.TestBusHook.waitUntilEmpty(spark)
          spark.catalog.clearCache()
        }
        events.synchronized {
          events.foreach { case (k, _, rows) =>
            maxRows(k) = math.max(maxRows(k), rows)
          }
          events.clear()
        }
        maxRows.toMap.withDefaultValue(0L)
      }
      val lo = sweep("/root/testdata/sf0.001")
      val hi = sweep("/root/testdata/sf0.01")
      // the audit must be LIVE: the fenced family provably collects its
      // bounded grids at build time — if the listener recorded nothing
      // for these keys, the guard is watching a dead wire, not passing
      for (k <- Seq("agg_hist_equidepth_fenced", "etl_rfm_fenced",
          "agg_weighted_median_fenced", "win_rank_global_fenced"))
        assert(hi(k) > 0L, s"listener recorded no driver action for $k " +
          "— the guard is not observing events")
      val growing = hi.toSeq.sortBy(_._1).flatMap { case (k, h) =>
        val l = lo(k)
        if (h > 100000L)
          Some(s"$k: driver action returned $h rows at sf0.01 (absolute cap)")
        else if (h > 256L && h >= 2L * math.max(l, 1L))
          Some(s"$k: driver-action rows grew $l -> $h across the SF step")
        else None
      }
      assert(growing.isEmpty,
        "declared keys collecting SF-growing frames to the driver:\n" +
          growing.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PinnedCheckpoint

/** Distributed connected components via min-label propagation iterated TO
  * FIXPOINT (SURVEY.md §2.K dedup-group stage; used by llm_dedup_groups /
  * llm_dedup_groups_lsh / llm_neardup_prune).
  *
  * Each round every node takes the min of its own label and its neighbors'
  * labels — one equi-join + one aggregation on ids per round. Convergence
  * is O(graph diameter) rounds; past [[DefaultMaxPropagationRounds]] the
  * loop auto-switches to [[connectedComponentsStar]] (O(log n) regardless
  * of diameter), so adversarially deep graphs are bounded too (round 4).
  * The loop stops when a round changes no label, so the round count is
  * DATA-DETERMINED — the DuckDB oracle can mirror the semantics with a
  * recursive reachability CTE and both engines land on the same fixpoint:
  * label = min id of the component (engine-independent, so the switch is
  * invisible to the oracles).
  *
  * Round-2 note: a fixed 3-round truncation was measured to SPLIT real
  * components on the harness testdata (the sf0.01 cosine≥0.35 graph needs
  * 9 rounds, sf0.1 needs 10) — fixpoint is correctness, not polish.
  *
  * Scale posture (100 TB): the edge frame is read ONCE and pinned on its
  * join column ([[PinnedCheckpoint.byKey]]), so no round re-derives or
  * re-exchanges it. Each round's labels are checkpointed with the
  * round's changed-label count ([[PinnedCheckpoint.counted]]), so
  * lineage stays flat (on a real cluster: checkpoint() to durable storage
  * for fault tolerance). Label state is one (id, lbl) row per node —
  * never O(edges²).
  */
object Components {

  /** Rounds of min-label propagation before [[connectedComponents]]
    * abandons the O(diameter) loop for the O(log n) star contraction.
    * Most near-dup graphs converge well inside it (sf0.01 and sf0.1 need
    * 9 and 10 rounds; the 500k-node chains of SCALING.md's "connected-
    * components engine choice" move labels for 9), but a declared
    * pipeline can reach it: `llm_dedup_groups` at sf0.001 has a
    * component of diameter 17, spends all 12 rounds and restarts on star
    * contraction. The cap exists for adversarial boilerplate chains
    * where O(diameter) means thousands of shuffle rounds and the job
    * would die long before converging. Labels are engine-independent
    * (both reach lbl = component-min; ComponentsSpec pins equality vs
    * union-find), so the switch can never change a declared answer.
    */
  val DefaultMaxPropagationRounds = 12

  /** @param nodes frame containing one row per node
    * @param idCol node-id column in `nodes` (labels start as the id)
    * @param edges SYMMETRIC edge frame with columns (a, b); read once
    * @param maxPropagationRounds diameter budget before auto-switching to
    *              [[connectedComponentsStar]] (see
    *              [[DefaultMaxPropagationRounds]])
    * @return (id, lbl) — lbl is the min node id of the component
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String, edges: DataFrame,
      maxPropagationRounds: Int = DefaultMaxPropagationRounds): DataFrame = {
    // Iterate ONLY over edge-touched nodes: a node with no edges is its
    // own component and needs no propagation — in a near-dup graph that
    // is the overwhelming majority of the corpus, so the per-round join
    // frames shrink from |corpus| to |dup-ish docs|. Symmetric edges mean
    // the `a` endpoints alone cover every touched node. Singletons rejoin
    // with lbl = id after convergence (one left join, outside the loop).
    val eByA = PinnedCheckpoint.byKey(edges, "a")
    val (seed, nSeed) = PinnedCheckpoint.counted(eByA
      .select(col("a").as("id"))
      .distinct()
      .withColumn("lbl", col("id")))
    var labels = seed
    val noEdges = nSeed == 0L
    var converged = noEdges
    var rounds = 0
    while (!converged && rounds < maxPropagationRounds) {
      // shuffle_hash hints: the edge frame at corpus scale is far past any
      // sane broadcast threshold, and AQE runtime stats must never promote
      // it (or a large label frame) to a driver-built broadcast relation —
      // same hygiene as the band joins in Llm.minhashVerified.
      // Neighbor minimum PUSHED from the a-endpoint (round 13, guide §2.3):
      // join the node-sized label vector onto the edge frame on `a` and
      // aggregate min(lbl) by b — the partial (map-side) aggregation
      // collapses the edge-sized join output to one row per distinct b
      // per partition BEFORE the exchange on b. The previous lookup-join
      // form (labels ⋈ edges ⋈ labels on e.b) re-shuffled the EDGE-sized
      // joined frame on b every round, on top of the edge exchange on a.
      val nmin = eByA.hint("shuffle_hash")
        .join(labels.hint("shuffle_hash"), col("a") === col("id"))
        .groupBy(col("b"))
        .agg(min(col("lbl")).as("nmin"))
      // Pointer jumping (round 13): after the neighbor-min step, take the
      // min with the LABEL OF THE LABEL (one more node-sized join against
      // last round's checkpointed vector). Labels are always node ids of
      // the same component, so the jump is sound; both steps only ever
      // LOWER a label, so "no change" still detects exactly the
      // neighbor-min fixpoint (if the neighbor step lowered anything, the
      // composed round changed that label too) — same labels, but
      // convergence in O(log diameter) rounds instead of O(diameter)
      // (pointer doubling: each round roughly squares the hop distance a
      // label has travelled). sf0.1 near-dup graph: 10 rounds → 5.
      val half = labels.as("v")
        .join(nmin.hint("shuffle_hash"), col("v.id") === col("b"), "left")
        .select(col("v.id").as("id"), col("v.lbl").as("old_lbl"),
          least(col("v.lbl"), coalesce(col("nmin"), col("v.lbl"))).as("lbl1"))
      // round 0's jump is the identity (every label still equals its own
      // id), so the join is skipped there — one less exchange on the
      // round every caller pays.
      val jumped = if (rounds == 0) half.select(
          col("id"), col("old_lbl"), col("lbl1").as("lbl"))
        else half
          .join(labels.select(col("id").as("p_id"), col("lbl").as("p_lbl"))
              .hint("shuffle_hash"),
            col("lbl1") === col("p_id"), "left")
          .select(col("id"), col("old_lbl"),
            least(col("lbl1"), coalesce(col("p_lbl"), col("lbl1"))).as("lbl"))
      val (stepped, changed) = PinnedCheckpoint.counted(
        jumped, count(when(col("lbl") < col("old_lbl"), 1)))
      // labels only ever decrease; an unchanged round is the fixpoint.
      converged = changed == 0L
      labels = stepped.select(col("id"), col("lbl"))
      rounds += 1
    }
    // Diameter exceeded the budget: this graph is propagation-hostile
    // (deep chains) — restart on the logarithmic engine instead of
    // shuffling for O(diameter) more rounds. Discarding the partial
    // labels is deliberate: star contraction works on the EDGE set, and
    // seeding it with partial labels would complicate the algorithm for
    // at most `maxPropagationRounds` saved hops. It runs on the
    // checkpointed edges, so the caller's frame is still read only once.
    if (!converged) return connectedComponentsStar(nodes, idCol, eByA)
    // With no edges the label frame is empty, but its planner stats are
    // the edge plan's estimates; broadcast it so the rejoin does not
    // shuffle the node frame.
    val lab = labels.select(col("id"), col("lbl"))
    nodes.select(col(idCol).as("id"))
      .join(if (noEdges) broadcast(lab) else lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    * O(log n) rounds REGARDLESS of graph diameter — the scale path for
    * adversarially deep graphs where [[connectedComponents]]'s
    * O(diameter) propagation would mean thousands of shuffles (a 10⁶-link
    * boilerplate chain at corpus scale). Per round:
    *
    *   large-star(u): every neighbor v > u re-attaches to
    *                  m(u) = min(N(u) ∪ u) — long tails fold in half;
    *   small-star(u): every neighbor v ≤ u re-attaches to m(u) —
    *                  local minima collapse into stars.
    *
    * Both steps preserve connectivity (each rewritten edge (u,v) is
    * replaced by a path through m(u)) and never create a cross-component
    * edge, so the fixpoint — where every edge is (v, component-min) — has
    * exactly the same labels as [[connectedComponents]]. Each step is one
    * groupBy(min) + one equi-join on the node id; the edge frame is
    * localCheckpoint-ed per round (flat lineage, same posture as the
    * propagation loop). Not used by declared queries (the oracle mirrors
    * the propagation semantics); ComponentsSpec pins label equality
    * against a driver-side union-find and the logarithmic round count on
    * a planted 200-node chain.
    */
  def connectedComponentsStar(
      nodes: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    starLabels(nodes, idCol, edges)._1

  private[graft] def starLabels(
      nodes: DataFrame, idCol: String, edges: DataFrame): (DataFrame, Int) = {
    // two-struct explode, not unionByName(e, e.swap): the union form
    // references its input twice, doubling each round's min-agg + join
    // work (the Extras.symmetrize double-evaluation finding)
    def sym(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .where(col("a") =!= col("b")).distinct()
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val m = e.groupBy("a")
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      val kept = e.join(m, "a")
        .where(if (large) col("b") > col("a") else col("b") <= col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      sym(kept.unionByName(m.select(col("a"), col("m").as("b"))))
    }
    val (e0, n0) = PinnedCheckpoint.counted(sym(edges.select(col("a"), col("b"))))
    var e = e0
    var eCount = n0
    var rounds = 0
    var converged = eCount == 0
    while (!converged) {
      // checkpoint the intermediate star too: the outer star references
      // its input three times (min-agg, kept join, union) — uncached, the
      // whole large-star pass would re-execute per reference
      val mid = star(e, large = true).localCheckpoint()
      val (next, nextCount) = PinnedCheckpoint.counted(star(mid, large = false))
      rounds += 1
      // fixpoint = identical edge set; frames are deduped, so equal
      // counts + one-sided except suffice for set equality
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
    }
    val minNbr = e.groupBy(col("a").as("id")).agg(min(col("b")).as("nbr_min"))
    val labels = nodes.select(col(idCol).as("id"))
      .join(minNbr, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nbr_min"), col("id"))).as("lbl"))
    (labels, rounds)
  }

  /** Distributed k-core by iterative peeling (round 7): repeatedly drop
    * every edge with an endpoint of degree < k until the edge set is
    * stable; the survivors are the k-core (maximal subgraph where every
    * node keeps ≥ k neighbors) — the standard dense-substructure filter
    * (community cores, spam/bot rings, "only well-connected docs" corpus
    * pruning).
    *
    * Removal is SIMULTANEOUS per round (degrees are computed on the
    * round's input, then both endpoints are filtered against that same
    * snapshot), which is exactly what the declared oracle's
    * window-function peel replays — and the fixpoint is the same k-core
    * either way, since peeling is confluent (the core is the unique
    * maximal fixpoint; removal order only affects intermediate states).
    *
    * Scale shape: the edge set shrinks every round, so it is state, not a
    * pin — each round is one degree count + two semi-joins against the
    * (small) qualifying-node frame, checkpointed with its edge count
    * ([[PinnedCheckpoint.counted]]): one job per round.
    * Rounds are data-bounded: each round strictly shrinks the edge set
    * until the fixpoint, and `maxRounds` caps adversarial peel chains
    * the way DefaultMaxPropagationRounds caps CC
    * (the declared graph converges in ≤ 4 rounds at every harness SF;
    * the oracle peels exactly `maxRounds` times, so a budget hit still
    * agrees with it — both report the round-`maxRounds` state).
    *
    * @param edges SYMMETRIC (a, b) edge frame
    * @return (node, core_degree) — one row per k-core node with its
    *         within-core degree
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 8): DataFrame = {
    var (cur, n) = PinnedCheckpoint.counted(edges.select(col("a"), col("b")))
    var converged = n == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val keep = cur.groupBy(col("a"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("a").as("node"))
      // keep is bounded by the current node set — but like the CC label
      // frames it scales with the data, so shuffle_hash keeps AQE from
      // ever promoting it to a driver-built broadcast at corpus scale.
      val (next, m) = PinnedCheckpoint.counted(cur
        .join(keep.hint("shuffle_hash"), col("a") === col("node"), "left_semi")
        .join(keep.select(col("node").as("node_b")).hint("shuffle_hash"),
          col("b") === col("node_b"), "left_semi"))
      // edges only ever leave the frame: unchanged count = fixpoint
      converged = m == n
      cur = next
      n = m
      rounds += 1
    }
    cur.groupBy(col("a").cast("long").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** DuckDB oracle twin: exact reachability min per node as a recursive
    * CTE. `edgesCte` must name a SYMMETRIC (a, b) edge CTE and `nodesSql`
    * must yield one `id` row per node. The UNION (set) semantics bound the
    * recursion at O(sum of component sizes²) rows — fine at oracle scale.
    * Requires the whole WITH clause to be declared RECURSIVE.
    */
  def reachMinCte(nodesSql: String, edgesCte: String): String =
    s"""reach(node, r) AS (
       |  SELECT id, id FROM ($nodesSql)
       |  UNION
       |  SELECT reach.node, e.b FROM reach JOIN $edgesCte e ON e.a = reach.r
       |)""".stripMargin
}

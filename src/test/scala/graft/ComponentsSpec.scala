package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components engines vs a driver-side union-find oracle, and
  * the round-count claim that separates them: min-label propagation is
  * O(diameter); large-star/small-star is O(log n) on the same chain.
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find — the test oracle. */
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def run(
      engine: (org.apache.spark.sql.DataFrame, String,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
      n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = spark.range(n).toDF("id")
    val e0 = edges.toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b"))).persist()
    val out = engine(nodes, "id", sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sym.unpersist()
    out
  }

  test("both engines match union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40L
      val edges = Seq.fill(25 + trial * 10)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(n, edges)
      assert(run(Components.connectedComponents(_, _, _), n, edges) == expected)
      assert(run(Components.connectedComponentsStar, n, edges) == expected)
    }
  }

  test("deep chain exceeds the propagation cap and auto-switches to star") {
    // diameter 99 >> DefaultMaxPropagationRounds: the O(diameter) loop
    // must abandon propagation and the star fallback must still produce
    // union-find-identical labels (one component rooted at 0).
    val n = 100L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val expected = unionFind(n, chain)
    assert(expected.values.toSet == Set(0L)) // sanity: one component
    assert(run(Components.connectedComponents(_, _, _), n, chain) == expected)
    // and an explicit tiny cap hits the same fallback on a shallow graph
    assert(run(Components.connectedComponents(_, _, _, maxPropagationRounds = 1),
      n, chain) == expected)
  }

  test("star contraction solves a 200-node chain in logarithmic rounds") {
    val n = 200L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val nodes = spark.range(n).toDF("id")
    val e0 = chain.toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b"))).persist()
    val (labels, rounds) = Components.starLabels(nodes, "id", sym)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sym.unpersist()
    assert(got == (0L until n).map(_ -> 0L).toMap,
      "diameter-199 chain must collapse to one component rooted at 0")
    // propagation would need 199 rounds here; star contraction is O(log n)
    assert(rounds <= 12, s"expected logarithmic rounds, got $rounds")
  }

  test("isolated nodes label themselves; empty edge set is a no-op") {
    val nodes = spark.range(5L).toDF("id")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Components.connectedComponentsStar(nodes, "id", empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 5L).map(i => i -> i).toMap)
  }

  test("kCore and an edgeless connectedComponents run no count or isEmpty " +
    "action: each round's count rides its checkpoint") {
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val sym = path.unionByName(path.select($"b".as("a"), $"a".as("b")))
    val nodes = spark.range(5L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    var labels: org.apache.spark.sql.DataFrame = null
    val actions = TestSpark.actionsDuring {
      Components.kCore(sym, k = 2, maxRounds = 3)
      labels = Components.connectedComponents(nodes, "id", noEdges)
    }
    assert(actions.contains("localCheckpoint"), s"no checkpoint ran: $actions")
    assert(!actions.exists(Set("count", "isEmpty")),
      s"a count ran as its own action: $actions")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 5L).map(i => i -> i).toMap)
  }

  test("degree-oriented triangle counting == id-oriented, incl. a hub graph") {
    // equality law on random graphs + a brute-force oracle: orientation
    // is just a total order on vertices, so counts must be invariant
    import graft.operators.Extras
    val rnd = new scala.util.Random(13)
    def count(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val e = edges.distinct.toDF("a", "b")
      val byId = Extras.triangles(e).head()
      val byDeg = Extras.trianglesByDegree(e).head()
      spark.catalog.clearCache() // both persist their edge frames
      (byId.getLong(0), byId.getLong(1), byDeg.getLong(0), byDeg.getLong(1))
    }
    def brute(edges: Seq[(Long, Long)]): Long = {
      val s = edges.distinct.toSet
      val vs = s.flatMap(e => Set(e._1, e._2)).toSeq.sorted
      (for {
        x <- vs; y <- vs if x < y && s((x, y))
        z <- vs if y < z && s((y, z)) && s((x, z))
      } yield 1).size.toLong
    }
    for (trial <- 0 until 3) {
      val edges = Seq.fill(60 + trial * 30) {
        val a = rnd.nextInt(20).toLong; val b = rnd.nextInt(20).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }
      val (e1, t1, e2, t2) = count(edges)
      assert(e1 == e2 && t1 == t2, s"orientations disagree on trial $trial")
      assert(t1 == brute(edges), s"count wrong vs brute force on trial $trial")
    }
    // hub graph: the hub sits MID-RANGE in id order (the position where
    // id orientation keeps ~half its degree as out-edges — the hazard
    // shape) + a ring among the spokes
    val spokes = (0L to 16L).filter(_ != 8L)
    val hubEdges = spokes.map(s => (math.min(8L, s), math.max(8L, s)))
    val ring = spokes.zip(spokes.tail :+ spokes.head)
      .map { case (s, t) => (math.min(s, t), math.max(s, t)) }
    val hub = hubEdges ++ ring
    val (e1, t1, e2, t2) = count(hub)
    assert(e1 == e2 && t1 == t2 && t1 == brute(hub))
    assert(t1 == 16L, "hub+ring: one triangle per ring edge")
  }

  /** Driver-side k-core oracle: simultaneous peel to fixpoint (or a round
    * budget) over a SYMMETRIC edge set — the same semantics the declared
    * oracle's recursive window-function peel replays.
    */
  private def peelOracle(
      edges: Set[(Long, Long)], k: Int,
      rounds: Int = Int.MaxValue): Set[(Long, Long)] = {
    var cur = edges
    var r = 0
    var changed = cur.nonEmpty
    while (changed && r < rounds) {
      val deg = cur.groupBy(_._1).map { case (u, es) => u -> es.size }
      val next = cur.filter { case (a, b) =>
        deg.getOrElse(a, 0) >= k && deg.getOrElse(b, 0) >= k }
      changed = next != cur
      cur = next
      r += 1
    }
    cur
  }

  private def runKCore(
      edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int = 8): Map[Long, Long] = {
    val e0 = edges.toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b")))
    Components.kCore(sym, k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore matches the simultaneous-peel oracle on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3; k <- Seq(2, 3)) {
      val edges = Seq.fill(50 + trial * 25) {
        val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      val sym = edges.toSet ++ edges.map { case (a, b) => (b, a) }
      val expected = peelOracle(sym, k)
        .groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
      assert(runKCore(edges, k) == expected,
        s"trial $trial k=$k disagrees with the driver peel")
    }
  }

  test("kCore keeps exactly a planted clique and sheds its tendrils") {
    // K6 (every node degree 5) with a pendant chain hanging off node 0:
    // the 3-core is the clique alone, every core degree 5.
    val clique = for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b)
    val chain = Seq((0L, 6L), (6L, 7L), (7L, 8L))
    val got = runKCore(clique ++ chain, k = 3)
    assert(got == (0L until 6L).map(_ -> 5L).toMap)
    // k above the clique degree empties the core entirely
    assert(runKCore(clique ++ chain, k = 6) == Map.empty)
  }

  test("kCore round budget reports the budget-round state, like the oracle") {
    // path graph under k=2: each peel removes only the two endpoint
    // edges, so the fixpoint (empty) needs ~n/2 rounds — a capped run
    // must equal the oracle peeled exactly maxRounds times, which is
    // what the declared oracle's iter-capped recursion reports too.
    val path = (0L until 11L).map(i => (i, i + 1))
    val sym = path.toSet ++ path.map { case (a, b) => (b, a) }
    for (cap <- Seq(1, 2, 3)) {
      val expected = peelOracle(sym, 2, rounds = cap)
        .groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
      assert(runKCore(path, 2, maxRounds = cap) == expected,
        s"cap=$cap state mismatch")
    }
    // and uncapped it reaches the empty fixpoint
    assert(runKCore(path, 2) == Map.empty)
  }

  test("pageRank conserves total mass on a directed graph WITH sinks (r8)") {
    import org.apache.spark.sql.functions.{col, lit, sum => fsum}
    // star-into-sink + chain: nodes 0..4 all point at 5 (a pure sink),
    // plus 6 -> 0 — the shape whose mass the pre-r8 operator leaked
    val edges = Seq((0L, 5L, 1L), (1L, 5L, 1L), (2L, 5L, 1L),
        (3L, 5L, 1L), (4L, 5L, 1L), (6L, 0L, 1L))
      .toDF("src", "dst", "cnt")
    val out = operators.Extras.pageRank(edges, iterations = 3, sinks = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node appears — including sink 5, which the old loop dropped
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L))
    // total mass 10^12 micro-units, conserved within div-truncation slack
    // (each round truncates at most one unit per edge + two per node)
    val total = out.values.sum
    assert(math.abs(total - 1000000000000L) <= 1000L,
      s"mass leaked: total=$total")
    // the sink holds the LARGEST rank (it receives five sources)
    assert(out(5L) == out.values.max, s"sink must accumulate rank: $out")
    spark.catalog.clearCache()
  }

  test("pageRank with sinks: a round costs at most four jobs") {
    // a directed graph with two sinks (5 and 7) and a cycle
    val edges = Seq((0L, 1L, 2L), (1L, 2L, 1L), (2L, 0L, 1L), (2L, 5L, 3L),
        (3L, 5L, 1L), (4L, 3L, 1L), (1L, 7L, 1L), (6L, 4L, 2L))
      .toDF("src", "dst", "cnt")
    // nothing cached by one call may serve the next
    def jobs(iterations: Int) = {
      spark.catalog.clearCache()
      TestSpark.jobsDuring(operators.Extras.pageRank(edges, iterations, sinks = true).collect())
    }
    val (two, three) = (jobs(2), jobs(3))
    assert(three - two <= 4, s"a round ran ${three - two} jobs ($two at 2 rounds, $three at 3)")
  }

  test("pageRank sink-free fast path unchanged: symmetrized graph takes " +
    "the lean loop and conserves mass too") {
    def ranks(edges: Seq[(Long, Long, Long)], sinks: Boolean) =
      operators.Extras.pageRank(
          (edges ++ edges.map { case (a, b, c) => (b, a, c) })
            .toDF("src", "dst", "cnt"), iterations = 3, sinks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // symmetrized triangle — no sinks, exercises the declared key's path
    val out = ranks(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)), sinks = false)
    // symmetric regular graph → uniform fixed point, exactly N^-1 each
    assert(out.values.toSet.size == 1, s"regular graph must be uniform: $out")
    assert(math.abs(out.values.sum - 1000000000000L) <= 10L)
    // a symmetric graph has no sinks, so the dangling loop moves no mass
    // and must return exactly the lean loop's ranks, here on an irregular
    // weighted graph (a triangle with a two-edge tail)
    val irregular = Seq((0L, 1L, 1L), (1L, 2L, 3L), (2L, 0L, 1L),
      (2L, 3L, 2L), (3L, 4L, 5L))
    val lean = ranks(irregular, sinks = false)
    assert(lean.values.toSet.size > 1, s"irregular graph, uniform ranks: $lean")
    assert(ranks(irregular, sinks = true) == lean)
    spark.catalog.clearCache()
  }

  test("hits: rescaled mass stays in [mass, 2*mass) and mutual " +
    "reinforcement ranks the two-sided star correctly (r8)") {
    // two hubs, three authorities: hub 0 points at ALL authorities
    // (weight 2 at the popular one), hub 2 points only at authority 1.
    // Authority 1 is in-degree-heaviest -> top authority; hub 0 buys
    // from the best authorities broadly -> top hub.
    val edges = Seq((0L, 1L, 2L), (0L, 3L, 1L), (0L, 5L, 1L),
        (2L, 1L, 1L))
      .toDF("src", "dst", "cnt")
    val (hub, auth) = operators.Extras.hits(edges, rounds = 2)
    val h = hub.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = auth.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keySet == Set(0L, 2L) && a.keySet == Set(1L, 3L, 5L))
    // the L1 rescale contract: each side's total lands in [mass, 2*mass)
    // (div-by-floor(quotient) overshoots by < one quotient unit, and the
    // greatest(1, _) guard never lets the total collapse below mass)
    for (tot <- Seq(h.values.sum, a.values.sum)) {
      assert(tot >= 1000000000L - 10L && tot < 2000000000L,
        s"rescaled total out of band: $tot")
    }
    assert(a(1L) == a.values.max, s"in-weight-heaviest must lead: $a")
    assert(h(0L) == h.values.max, s"broad hub must lead: $h")
    spark.catalog.clearCache()
  }

  test("hits: symmetric biclique is a uniform fixed point per side (r8)") {
    // K_{2,2} with unit weights: both hubs identical, both authorities
    // identical — any asymmetry is an arithmetic bug, not data
    val edges = (for (u <- Seq(0L, 2L); v <- Seq(1L, 3L))
      yield (u, v, 1L)).toDF("src", "dst", "cnt")
    val (hub, auth) = operators.Extras.hits(edges, rounds = 3)
    val h = hub.collect().map(r => r.getLong(1)).toSet
    val a = auth.collect().map(r => r.getLong(1)).toSet
    assert(h.size == 1 && a.size == 1,
      s"regular bipartite graph must be uniform per side: h=$h a=$a")
    spark.catalog.clearCache()
  }

  test("labelPropagation: disjoint triangles each flood to one label; " +
    "the label vector stays node-sized (r8 cont. 6)") {
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b")))
    val got = operators.Extras.labelPropagation(sym, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // on a triangle, round 1 maps each node to its min NEIGHBOR label,
    // round 2 floods the component minimum everywhere, round 3 is stable
    assert(Set(1L, 2L, 3L).map(got) == Set(1L),
      s"triangle A must flood to label 1: $got")
    assert(Set(10L, 11L, 12L).map(got) == Set(10L),
      s"triangle B must flood to label 10: $got")
    spark.catalog.clearCache()
  }

  test("labelPropagation: synchronous rounds replay EXACTLY (a 2-cycle " +
    "graph does not converge — the fixed budget is the semantics)") {
    // two nodes joined by one edge swap labels every synchronous round:
    // after an odd round count each holds the OTHER's id
    val e0 = Seq((1L, 2L)).toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b")))
    val odd = operators.Extras.labelPropagation(sym, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(odd == Map(1L -> 2L, 2L -> 1L), s"odd rounds must swap: $odd")
    val even = operators.Extras.labelPropagation(sym, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(even == Map(1L -> 1L, 2L -> 2L),
      s"even rounds must restore: $even")
    spark.catalog.clearCache()
  }

  test("multiSourceDistances: exact hop distances on a path, per seed " +
    "(r8 cont. 6)") {
    // path 1-2-3-4-5-6, seeds {1, 4}, 3 hops
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val sym = e0.unionByName(e0.select($"b".as("a"), $"a".as("b")))
    val seeds = Seq(1L, 4L).toDF("node")
    val got = operators.Extras.multiSourceDistances(sym, seeds, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val want = Map(
      (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 4L) -> 3,
      (4L, 3L) -> 1, (4L, 5L) -> 1, (4L, 2L) -> 2, (4L, 6L) -> 2,
      (4L, 1L) -> 3)
    assert(got == want, s"got $got")
    spark.catalog.clearCache()
  }
}

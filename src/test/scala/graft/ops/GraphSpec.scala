package graft.ops

import graft.SparkTestBase
import graft.core.SizeGates
import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame

class GraphSpec extends SparkTestBase {

  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int = 10,
      damping: Double = 0.85, bcastLimit: Long = 4L << 20,
      bufLimit: Long = 8L << 20): Map[Long, Double] =
    Dedup.withMaterialized {
      Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters, damping,
          broadcastNodeLimit = bcastLimit, edgeBufferLimit = bufLimit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }

  /** Driver-side reference: the same simple-graph power iteration. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      damping: Double): Map[Long, Double] = {
    val simple = edges.filter(e => e._1 != e._2).distinct
    val nodes  = (simple.map(_._1) ++ simple.map(_._2)).distinct.sorted
    val n      = nodes.size
    val outDeg = simple.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val byDst  = simple.groupBy(_._2)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      r = nodes.map { v =>
        val in = byDst.getOrElse(v, Nil).map(e => r(e._1) / outDeg(e._1)).sum
        v -> ((1.0 - damping) / n + damping * in)
      }.toMap
    }
    r
  }

  test("pageRank: uniform on a ring, every iteration a fixed point") {
    val k = 12L
    val ring = (0L until k).map(i => (i, (i + 1) % k))
    val r = ranksOf(ring)
    assert(r.size === k)
    r.values.foreach(v => assert(math.abs(v - 1.0 / k) < 1e-12))
  }

  test("pageRank: matches the driver-side power iteration on a mixed graph") {
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i + 1) % 40), (i, i % 7), (i, (i * 13 + 3) % 40)))
    val expect = reference(edges, 10, 0.85)
    // both the gated one-pass aggregate AND the iterative loop
    for (lim <- Seq(8L << 20, 0L)) {
      val got = ranksOf(edges, bufLimit = lim)
      assert(got.keySet === expect.keySet, s"bufLimit=$lim")
      got.foreach { case (v, r) =>
        assert(math.abs(r - expect(v)) < 1e-12, s"node $v bufLimit=$lim") }
      // rank is a probability vector when every node has an out-edge
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("pageRank: star hub outranks the plain spokes; spokes tie exactly") {
    // spokes 1..9 -> 0, hub returns mass to spoke 1 only. (After finitely
    // many iterations spoke 1 — sole receiver of the hub's whole mass —
    // can transiently outrank the hub itself, so the assertion is against
    // the PLAIN spokes, not a global max.)
    val edges = (1L to 9L).map(i => (i, 0L)) :+ ((0L, 1L))
    val r = ranksOf(edges)
    // spokes 2..9 have identical in-structure (none) => identical rank
    val spokeRanks = (2L to 9L).map(r).distinct
    assert(spokeRanks.size === 1)
    assert(r(0L) > spokeRanks.head)
    assert(r(1L) > spokeRanks.head) // spoke 1 also receives the hub's mass
  }

  test("pageRank: self-loops and duplicate edges are ignored") {
    val base = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val noisy = base ++ Seq((0L, 0L), (1L, 1L), (0L, 1L), (2L, 0L), (2L, 2L))
    assert(ranksOf(noisy) === ranksOf(base))
  }

  test("pageRank: dangling node leaks mass, no redistribution") {
    // 0 -> 1, 1 has no out-edges: 1's mass drains each iteration
    val edges = Seq((0L, 1L))
    val expect = reference(edges, 10, 0.85)
    val got = ranksOf(edges)
    got.foreach { case (v, r) => assert(math.abs(r - expect(v)) < 1e-12, s"node $v") }
    assert(got.values.sum < 1.0 - 1e-3)
  }

  test("pageRank: shuffled-join path (no broadcast) agrees with broadcast path") {
    val edges = (0L until 30L).flatMap(i => Seq((i, (i + 3) % 30), (i, i % 5)))
    val bc = ranksOf(edges, bufLimit = 0L)
    val sj = ranksOf(edges, bcastLimit = 0L, bufLimit = 0L)
    assert(bc.keySet === sj.keySet)
    bc.foreach { case (v, r) => assert(math.abs(r - sj(v)) < 1e-12, s"node $v") }
  }

  test("pageRank: a bucketed edge table read back ranks every node on the no-broadcast loop") {
    // written src-bucketed, read back as a table, and iterated with both
    // size gates forced to their at-scale side: co-partitioned joins
    // (broadcastNodeLimit = 0) and the per-iteration loop (edgeBufferLimit = 0)
    val n = 600L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i * 37 + 11) % n), (i, (i + 1) % n), (i, i % 97)))
    val expect = reference(edges, 3, 0.85)
    Layout.writeBucketedTable(edges.toDF("src", "dst"), "graph_spec_edges", "src", 8)
    try {
      val got = Dedup.withMaterialized {
        Graph.pageRank(spark.table("graph_spec_edges"), "src", "dst", iterations = 3,
            broadcastNodeLimit = 0L, edgeBufferLimit = 0L)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(got.size == n, s"ranked ${got.size} of $n nodes")
      got.foreach { case (v, r) => assert(math.abs(r - expect(v)) < 1e-12, s"node $v") }
      // every node has an out-edge, so rank mass is conserved
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    } finally spark.sql("DROP TABLE IF EXISTS graph_spec_edges")
  }

  /** Driver-side warm-started reference: prior ranks where recorded,
    * 1/n for new nodes, then `iters` steps.
    */
  private def warmReference(edges: Seq[(Long, Long)], prior: Map[Long, Double],
      iters: Int, damping: Double): Map[Long, Double] = {
    val simple = edges.filter(e => e._1 != e._2).distinct
    val nodes  = (simple.map(_._1) ++ simple.map(_._2)).distinct.sorted
    val n      = nodes.size
    val outDeg = simple.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val byDst  = simple.groupBy(_._2)
    var r = nodes.map(v => v -> prior.getOrElse(v, 1.0 / n)).toMap
    for (_ <- 1 to iters) {
      r = nodes.map { v =>
        val in = byDst.getOrElse(v, Nil).map(e => r(e._1) / outDeg(e._1)).sum
        v -> ((1.0 - damping) / n + damping * in)
      }.toMap
    }
    r
  }

  private def warmOf(edges: Seq[(Long, Long)], prior: Map[Long, Double],
      iters: Int, bufLimit: Long = 8L << 20): Map[Long, Double] =
    Dedup.withMaterialized {
      Graph.pageRankWarmStart(edges.toDF("src", "dst"), "src", "dst",
          prior.toSeq.toDF("node", "r"), iters, 0.85,
          edgeBufferLimit = bufLimit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }

  test("pageRankWarmStart: matches the driver replica on both paths, incl. new nodes") {
    // prior graph: a 20-ring + chords; the batch adds chords AND brings
    // two brand-new nodes (100, 101) — absent from the prior vector
    val priorEdges = (0L until 20L).flatMap(i => Seq((i, (i + 1) % 20), (i, i % 5)))
    val prior = reference(priorEdges, 10, 0.85)
    val all = priorEdges ++ Seq((3L, 100L), (100L, 101L), (101L, 3L),
      (7L, 11L), (11L, 7L))
    val expect = warmReference(all, prior, 3, 0.85)
    for (lim <- Seq(8L << 20, 0L)) { // one-pass kernel AND iterative loop
      val got = warmOf(all, prior, 3, bufLimit = lim)
      assert(got.keySet === expect.keySet, s"bufLimit=$lim")
      got.foreach { case (v, r) =>
        assert(math.abs(r - expect(v)) < 1e-12, s"node $v bufLimit=$lim") }
    }
  }

  test("pageRankWarmStart: residual shrinks with the budget toward the batch fixpoint") {
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i * 7 + 1) % 30)))
    val half = edges.take(40)
    val prior = reference(half, 10, 0.85)
    val cold = reference(edges, 120, 0.85) // effectively converged
    def dist(m: Map[Long, Double]) = m.map { case (v, r) => math.abs(r - cold(v)) }.max
    // power iteration contracts at rate d per step: a bigger warm budget
    // lands strictly closer to the full fixpoint, and 25 steps from a
    // half-graph prior is already within d^25 ≈ 2e-2 scaled by the
    // initial gap — the invariant pin for an approximate fold
    val d3 = dist(warmOf(edges, prior, 3))
    val d25 = dist(warmOf(edges, prior, 25))
    assert(d25 < d3 / 10, s"residual must shrink: 3 steps $d3, 25 steps $d25")
    assert(d25 < 1e-3, s"25 warm steps should be near the fixpoint, got $d25")
    // the prior does not cover the full node set, so r0 sums above 1;
    // the excess mass decays at rate d per step toward the fixpoint's 1
    val m3 = math.abs(warmOf(edges, prior, 3).values.sum - 1.0)
    val m25 = math.abs(warmOf(edges, prior, 25).values.sum - 1.0)
    assert(m25 < m3 && m25 < 0.02, s"mass must converge to 1: $m3 -> $m25")
  }

  test("personalizedPageRank: matches a driver-side seeded power iteration") {
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i + 1) % 40), (i, i % 7), (i, (i * 13 + 3) % 40)))
    val seedIds = Seq(0L, 17L)
    // driver reference with teleport concentrated on the seeds
    val simple = edges.filter(e => e._1 != e._2).distinct
    val nodes = (simple.map(_._1) ++ simple.map(_._2)).distinct.sorted
    val outDeg = simple.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val byDst = simple.groupBy(_._2)
    val w = nodes.map(v => v -> (if (seedIds.contains(v)) 1.0 / seedIds.size else 0.0)).toMap
    var r = w
    for (_ <- 1 to 10) {
      r = nodes.map { v =>
        val in = byDst.getOrElse(v, Nil).map(e => r(e._1) / outDeg(e._1)).sum
        v -> ((1.0 - 0.85) * w(v) + 0.85 * in)
      }.toMap
    }
    for (lim <- Seq(8L << 20, 0L)) {
      val got = Dedup.withMaterialized {
        Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
            seedIds.toDF("doc_id"), "doc_id", edgeBufferLimit = lim)
          .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      }
      assert(got.keySet === r.keySet, s"bufLimit=$lim")
      got.foreach { case (v, rv) =>
        assert(math.abs(rv - r(v)) < 1e-12, s"node $v bufLimit=$lim") }
      // seeds hold far more mass than the background
      assert(got(0L) > 10 * got.values.toSeq.sorted.apply(nodes.size / 2))
    }
  }

  test("personalizedPageRank: seeds outside the graph are ignored; none in -> error") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val withGhost = Dedup.withMaterialized {
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          Seq(0L, 99L).toDF("s"), "s")
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    val justSeed = Dedup.withMaterialized {
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          Seq(0L).toDF("s"), "s")
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    assert(withGhost === justSeed)
    // loop path: the driver-side require throws directly
    val e = intercept[IllegalArgumentException] {
      Dedup.withMaterialized {
        Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          Seq(99L).toDF("s"), "s", edgeBufferLimit = 0L).collect()
      }
    }
    assert(e.getMessage.contains("seed"))
    // gated one-pass path: the same descriptive error surfaces in the
    // task-failure cause chain
    val t = intercept[Throwable] {
      Dedup.withMaterialized {
        Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          Seq(99L).toDF("s"), "s").collect()
      }
    }
    val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("no seed is a node"), msgs)
  }

  private def compsOf(edges: Seq[(Long, Long)], maxRounds: Int = 64,
      bcastLimit: Long = 4L << 20, ufLimit: Long = 1L << 20): Map[Long, Long] =
    Dedup.withMaterialized {
      Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
          maxRounds, broadcastNodeLimit = bcastLimit,
          unionFindNodeLimit = ufLimit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** Driver-side union-find reference over the undirected view. */
  private def referenceComps(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long = { var x = v; while (parent(x) != x) x = parent(x); x }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(v => v -> find(v)).toMap
  }

  test("connectedComponents: matches driver union-find on a random graph") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val expect = referenceComps(edges)
    // both the gated one-pass aggregate AND the pointer-jump loop
    assert(compsOf(edges) === expect)
    assert(compsOf(edges, ufLimit = 0L) === expect)
  }

  test("connectedComponents: disjoint rings stay disjoint; a bridge merges") {
    val ringA = (0L until 5L).map(i => (i, (i + 1) % 5))
    val ringB = (10L until 15L).map(i => (i, 10L + (i + 1) % 5))
    val two = compsOf(ringA ++ ringB)
    assert(two.filter(_._1 < 5).values.toSet === Set(0L))
    assert(two.filter(_._1 >= 10).values.toSet === Set(10L))
    val one = compsOf(ringA ++ ringB :+ ((4L, 12L)))
    assert(one.values.toSet === Set(0L))
  }

  test("connectedComponents: direction is ignored (undirected semantics)") {
    // labels must flow AGAINST the arrows too: 5 -> 4 -> 3 -> 2 -> 1 -> 0
    val chain = (1L to 5L).map(i => (i, i - 1))
    assert(compsOf(chain).values.toSet === Set(0L))
  }

  test("connectedComponents: maxRounds bound fails loudly, not silently") {
    // force the loop path — the one-pass aggregate has no round bound
    val longChain = (0L until 40L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException](
      compsOf(longChain, maxRounds = 1, ufLimit = 0L))
    assert(e.getMessage.contains("fixpoint"))
    // and with room it converges
    assert(compsOf(longChain, ufLimit = 0L).values.toSet === Set(0L))
  }

  test("connectedComponents: shuffled-join path agrees with broadcast path") {
    val rnd = new scala.util.Random(23L)
    val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    assert(compsOf(edges, ufLimit = 0L) ===
      compsOf(edges, bcastLimit = 0L, ufLimit = 0L))
  }

  test("connectedComponents and Dedup.clusters match a driver union-find in both regimes") {
    // seeded random graphs with self-loops, duplicate edges and null
    // endpoints, through both faces of the one components engine. Each
    // face keeps its own contract: a node whose only edge is a self-loop is
    // absent from connectedComponents and its own cluster in clusters; a
    // pair with a null endpoint yields no row in either
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 20 + rnd.nextInt(40)
      def id(): Option[Long] =
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(nNodes).toLong)
      val drawn = Seq.fill(nNodes)((id(), id()))
      val loopOnly = (1000L until 1003L).map(v => (Option(v), Option(v)))
      val loops = drawn.collect { case (Some(a), _) => (Option(a), Option(a)) }.take(4)
      val pairs = drawn ++ drawn.take(6) ++ loops ++ loopOnly
      val complete = pairs.collect { case (Some(a), Some(b)) => (a, b) }
      val wantComps = referenceComps(complete.filter(e => e._1 != e._2))
      val wantClusters = referenceComps(complete)
      assert(loopOnly.forall(p => !wantComps.contains(p._1.get) &&
        wantClusters(p._1.get) == p._1.get))
      val df = pairs.toDF("src", "dst")
      for ((uf, bc) <- Seq((1L << 20, 65536L), (0L, 65536L), (0L, 0L))) {
        val clue = s"seed $seed, unionFindNodeLimit $uf, broadcastNodeLimit $bc"
        val comps = Dedup.withMaterialized {
          Graph.connectedComponents(df, "src", "dst", broadcastNodeLimit = bc,
              unionFindNodeLimit = uf)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(comps === wantComps, clue)
        val clusters = Dedup.withMaterialized {
          Dedup.clusters(df, "src", "dst", broadcastNodeLimit = bc, unionFindNodeLimit = uf)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(clusters === wantClusters, clue)
      }
    }
  }

  test("connectedComponents: the union-find regime builds its frame in one job") {
    // the checkpoint of the edge list, which observes the regime probe
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    Dedup.withMaterialized {
      val (cc, jobs) = jobsRun(Graph.connectedComponents(edges, "src", "dst"))
      assert(jobs == 1, "the checkpoint only")
      assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    }
  }

  test("connectedComponents: the loop regime's storage does not grow with its rounds") {
    // a 2-node path converges in one round and a 64-node path in five; each
    // superseded round's checkpoint is released, so both leave at most the
    // symmetrized edge table and the final labels stored (the count is taken
    // over RDDs created here, so cleanup of older ones cannot skew it)
    val sc = spark.sparkContext
    def stored(n: Long, maxRounds: Int = 64): Int = Dedup.withMaterialized {
      val before = sc.getPersistentRDDs.keySet
      val path = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
      val cc = Graph.connectedComponents(path, "src", "dst", maxRounds,
        unionFindNodeLimit = 0L)
      assert(cc.collect().map(_.getLong(1)).toSet === Set(0L))
      (sc.getPersistentRDDs.keySet -- before).size
    }
    assert(stored(2) <= 2)
    assert(stored(64) <= 2)
    val e = intercept[IllegalArgumentException](stored(64, maxRounds = 4))
    assert(e.getMessage.contains("fixpoint") && e.getMessage.contains("maxRounds"))
  }

  test("pageRank and hopDistance: the loop regimes' storage does not grow with their rounds") {
    // a 40-node graph forced into the loops (edgeBufferLimit = 0), in the
    // broadcast and the co-partitioned layout; a superseded round or
    // frontier is released once its successor is stored
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(13L)
    val edges = (Seq.tabulate(40)(i => (i.toLong, ((i + 1) % 40).toLong)) ++
      Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))).toDF("src", "dst")
    def stored(run: => DataFrame): Int = Dedup.withMaterialized {
      val before = sc.getPersistentRDDs.keySet
      assert(run.collect().nonEmpty)
      (sc.getPersistentRDDs.keySet -- before).size
    }
    for (bc <- Seq(SizeGates.BroadcastNodes, 0L)) {
      def pr(n: Int) = stored(Graph.pageRank(edges, "src", "dst", iterations = n,
        broadcastNodeLimit = bc, edgeBufferLimit = 0L))
      assert(pr(2) <= 3 && pr(10) == pr(2), s"pageRank, broadcastNodeLimit $bc")
      val prior = Seq.tabulate(40)(i => (i.toLong, 1.0 / 40)).toDF("node", "r")
      def warm(n: Int) = stored(Graph.pageRankWarmStart(edges, "src", "dst", prior,
        iterations = n, broadcastNodeLimit = bc, edgeBufferLimit = 0L))
      assert(warm(10) == warm(2), s"pageRankWarmStart, broadcastNodeLimit $bc")
      def ppr(n: Int) = stored(Graph.personalizedPageRank(edges, "src", "dst",
        Seq(0L, 7L).toDF("s"), "s", iterations = n, broadcastNodeLimit = bc,
        edgeBufferLimit = 0L))
      assert(ppr(10) == ppr(2), s"personalizedPageRank, broadcastNodeLimit $bc")
      def hops(n: Int) = stored(Graph.hopDistance(edges, "src", "dst",
        Seq(0L).toDF("s"), "s", maxHops = n, broadcastNodeLimit = bc,
        edgeBufferLimit = 0L))
      assert(hops(10) == hops(2), s"hopDistance, broadcastNodeLimit $bc")
    }
  }

  test("componentsIncrement: folding batches equals batch components on the union") {
    val rnd = new scala.util.Random(91L)
    val edges = Seq.fill(150)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      .filter(e => e._1 != e._2)
    // arbitrary split into 4 uneven batches (incl. an empty one)
    val batches = Seq(edges.take(10), edges.slice(10, 11), Seq.empty,
      edges.slice(11, 90), edges.drop(90))
    var prior = Dedup.withMaterialized {
      Graph.connectedComponents(batches.head.toDF("src", "dst"), "src", "dst")
        .collect()
    }.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("node", "comp")
    for (b <- batches.tail) {
      val bdf = if (b.isEmpty)
        Seq.empty[(Long, Long)].toDF("src", "dst")
      else b.toDF("src", "dst")
      prior = Dedup.withMaterialized {
        Graph.componentsIncrement(bdf, "src", "dst", prior).collect()
      }.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("node", "comp")
    }
    val folded = prior.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded === referenceComps(edges))
    // a merge of two KNOWN components surfaces as a remap: two disjoint
    // rings folded first, then one bridging edge arrives
    val ringA = (0L until 4L).map(i => (i, (i + 1) % 4))
    val ringB = (10L until 14L).map(i => (i, 10L + (i + 1) % 4))
    val p0 = Dedup.withMaterialized {
      Graph.connectedComponents((ringA ++ ringB).toDF("src", "dst"), "src", "dst")
        .collect()
    }.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("node", "comp")
    val merged = Dedup.withMaterialized {
      Graph.componentsIncrement(Seq((12L, 3L)).toDF("src", "dst"), "src", "dst", p0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(merged.values.toSet === Set(0L))
    assert(merged.keySet === (0L until 4L).toSet ++ (10L until 14L).toSet)
  }

  // ---------------------------------------------------------------- triangles

  private def trianglesOf(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Option[Double])] =
    Dedup.withMaterialized {
      Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
    }

  /** Driver-side brute-force triangle census over the undirected view. */
  private def referenceTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val es = und.toSet
    val tris = for {
      (u, v) <- und
      w <- nodes if w > v && es.contains((u, w)) && es.contains((v, w))
    } yield (u, v, w)
    val per = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    tris.foreach { case (a, b, c) => per(a) += 1; per(b) += 1; per(c) += 1 }
    nodes.map(v => v -> per(v)).toMap
  }

  test("triangles: K4 — every node in 3 triangles, clustering 1") {
    val k4 = for { a <- 0L until 4L; b <- 0L until 4L if a < b } yield (a, b)
    val got = trianglesOf(k4)
    assert(got.size === 4)
    got.values.foreach { case (deg, t, c) =>
      assert(deg === 3L); assert(t === 3L); assert(c === Some(1.0))
    }
  }

  test("triangles: matches brute force on a random graph incl. zero-triangle nodes") {
    val rnd = new scala.util.Random(11L)
    val edges = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val expect = referenceTriangles(edges)
    val got = trianglesOf(edges)
    assert(got.keySet === expect.keySet)
    got.foreach { case (v, (deg, t, c)) =>
      assert(t === expect(v), s"node $v")
      if (deg >= 2)
        assert(c === Some(BigDecimal(2.0 * t / (deg * (deg - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble), s"node $v")
      else assert(c === None, s"node $v")
    }
  }

  test("triangles: direction, duplicates and self-loops are ignored") {
    val base = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val noisy = base ++ Seq((1L, 0L), (0L, 2L), (0L, 0L), (2L, 0L))
    assert(trianglesOf(noisy) === trianglesOf(base))
    trianglesOf(base).values.foreach { case (deg, t, _) =>
      assert(deg === 2L); assert(t === 1L)
    }
  }

  test("triangles: a tree has none; degree-1 nodes get NULL clustering") {
    val star = (1L to 5L).map(i => (0L, i))
    val got = trianglesOf(star)
    assert(got.values.forall(_._2 == 0L))
    assert(got(0L)._3 === Some(0.0))
    (1L to 5L).foreach(i => assert(got(i)._3 === None))
  }

  // --------------------------------------------------------------- hopDistance

  private def hopsOf(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int,
      bcastLimit: Long = 4L << 20, bufLimit: Long = 8L << 20): Map[Long, Int] =
    Dedup.withMaterialized {
      Graph.hopDistance(edges.toDF("src", "dst"), "src", "dst",
          seeds.toDF("s"), "s", maxHops, broadcastNodeLimit = bcastLimit,
          edgeBufferLimit = bufLimit)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }

  test("hopDistance: one-pass aggregate agrees with the frontier loop") {
    val rnd = new scala.util.Random(57L)
    val edges = Seq.fill(140)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq(0L, 17L, 999L)
    for (h <- Seq(0, 2, 6)) {
      assert(hopsOf(edges, seeds, h) === hopsOf(edges, seeds, h, bufLimit = 0L),
        s"maxHops=$h")
    }
  }

  test("hopDistance: directed chain labels exactly the horizon") {
    val chain = (0L until 10L).map(i => (i, i + 1))
    val got = hopsOf(chain, Seq(0L), maxHops = 4)
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4))
  }

  test("hopDistance: min hop wins when two seeds reach the same node") {
    // 0 -> 1 -> 2 -> 3 and seed 2 directly: node 3 is hop 1 (via 2), not 3
    val chain = (0L until 4L).map(i => (i, i + 1))
    val got = hopsOf(chain, Seq(0L, 2L), maxHops = 6)
    assert(got(3L) === 1)
    assert(got(1L) === 1)
    assert(got(2L) === 0)
  }

  test("hopDistance: follows edges forward only; off-graph seeds ignored") {
    val chain = Seq((0L, 1L), (1L, 2L))
    // seed at the END reaches nothing upstream
    assert(hopsOf(chain, Seq(2L), maxHops = 5) === Map(2L -> 0))
    // an off-graph seed contributes nothing
    assert(hopsOf(chain, Seq(0L, 99L), maxHops = 5) ===
      hopsOf(chain, Seq(0L), maxHops = 5))
  }

  test("hopDistance: early frontier exhaustion stops the loop; maxHops 0 = seeds") {
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6))
    // horizon far beyond the diameter — every node labeled once, loop stops
    val got = hopsOf(ring, Seq(0L), maxHops = 50)
    assert(got === (0 until 6).map(i => i.toLong -> i).toMap)
    assert(hopsOf(ring, Seq(0L), maxHops = 0) === Map(0L -> 0))
  }

  test("hopDistance: shuffled-join path agrees with broadcast path") {
    val rnd = new scala.util.Random(31L)
    val edges = Seq.fill(100)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    assert(hopsOf(edges, Seq(0L, 7L), 4) === hopsOf(edges, Seq(0L, 7L), 4, bcastLimit = 0L))
  }

  // ------------------------------------------------------------ linkPredict

  private def predictOf(edges: Seq[(Long, Long)],
      maxCenterDegree: Long = 1L << 16): Map[(Long, Long), (Long, Double)] =
    Dedup.withMaterialized {
      Graph.linkPredict(edges.toDF("src", "dst"), "src", "dst", maxCenterDegree)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    }

  test("linkPredict: square — opposite corners share both neighbors") {
    // 0-1-2-3-0: (0,2) and (1,3) each share two degree-2 neighbors
    val got = predictOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    val aa2 = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map((0L, 2L) -> (2L, aa2), (1L, 3L) -> (2L, aa2)))
  }

  test("linkPredict: adjacent pairs are excluded; pendant pairs scored") {
    // triangle 0-1-2 plus pendant 3-0: (1,2) is an EDGE (no prediction);
    // (1,3) and (2,3) share the degree-3 hub 0
    val got = predictOf(Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)))
    val aa = BigDecimal(1.0 / math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map((1L, 3L) -> (1L, aa), (2L, 3L) -> (1L, aa)))
  }

  test("linkPredict: hub cap drops super-hub wedge centers") {
    val star = (1L to 5L).map(s => (0L, s))
    // all predictions go through the degree-5 hub...
    assert(predictOf(star).size === 10)
    // ...so capping centers at degree 3 leaves nothing
    assert(predictOf(star, maxCenterDegree = 3L) === Map.empty)
  }

  test("linkPredict: direction, duplicates and self-loops are normalized away") {
    val got = predictOf(Seq((2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L), (3L, 2L)))
    // undirected simple path 1-2-3: one prediction (1,3) through 2
    val aa = BigDecimal(1.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map((1L, 3L) -> (1L, aa)))
  }

  // ------------------------------------------------------------------ kCore

  /** Runs BOTH kCore paths — the gated one-pass KCoreAgg aggregate and
    * the peel loop (edgeBufferLimit = 0) — and asserts they agree before
    * returning: the size gate may never change the answer.
    */
  private def coreOf(edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int = 64): Map[Long, Long] =
    Dedup.withMaterialized {
      val viaAgg = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k,
          maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k,
          maxRounds, edgeBufferLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaAgg === viaLoop, "one-pass k-core differs from peel loop")
      viaAgg
    }

  test("kCore: pendant chain unravels round by round; the ring survives") {
    // ring 0-1-2-3-0 with a chain 3-10-11-12 hanging off node 3:
    // k=2 peels 12, then 11, then 10; ring nodes keep degree 2
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (3L, 10L), (10L, 11L), (11L, 12L))
    assert(coreOf(edges, k = 2) ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=1: nothing peels; degrees are the raw undirected degrees
    assert(coreOf(edges, k = 1) === Map(0L -> 2L, 1L -> 2L, 2L -> 2L,
      3L -> 3L, 10L -> 2L, 11L -> 2L, 12L -> 1L))
    // k=3: the whole graph dissolves
    assert(coreOf(edges, k = 3) === Map.empty)
  }

  test("kCore: synchronous peel — a 2-core inside a shell of triangles") {
    // K4 core {0,1,2,3}; each shell node connects to exactly two core
    // nodes, forming triangles — shell survives k=2 but peels at k=3
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val shell = Seq((10L, 0L), (10L, 1L), (11L, 2L), (11L, 3L))
    assert(coreOf(k4 ++ shell, k = 3).keySet === Set(0L, 1L, 2L, 3L))
    assert(coreOf(k4 ++ shell, k = 2).keySet ===
      Set(0L, 1L, 2L, 3L, 10L, 11L))
  }

  test("kCore: duplicate/reversed edges and self-loops don't inflate degrees") {
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 1L), (1L, 1L), (1L, 2L))
    // undirected simple path 0-1-2: k=2 dissolves it entirely
    assert(coreOf(edges, k = 2) === Map.empty)
    assert(coreOf(edges, k = 1) === Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
  }

  test("kCore: maxRounds fails loudly on a deep peel (loop path)") {
    // the one-pass aggregate has no round bound — force the loop
    val chain = (0L until 12L).map(i => (i, i + 1))
    val e = intercept[Exception] {
      Dedup.withMaterialized {
        Graph.kCore(chain.toDF("src", "dst"), "src", "dst", k = 2,
          maxRounds = 2, edgeBufferLimit = 0).collect()
      }
    }
    assert(e.getMessage.contains("maxRounds"))
  }

  test("kCore: one-pass aggregate matches the peel loop on random graphs") {
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 0 until 3; k <- Seq(2, 3)) {
      val n = 20 + rnd.nextInt(30)
      val edges = Seq.fill(40 + rnd.nextInt(80))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      coreOf(edges, k) // coreOf itself asserts agg === loop
    }
  }

  // ------------------------------------------------------------ randomWalks

  private def walksOf(edges: Seq[(Long, Long)], seeds: Seq[Long],
      steps: Int, bufLimit: Long = 8L << 20,
      seedLimit: Long = 1L << 20): Map[(Long, Int), Long] =
    Dedup.withMaterialized {
      Graph.randomWalks(edges.toDF("src", "dst"), "src", "dst",
          seeds.toDF("doc_id"), "doc_id", steps, edgeBufferLimit = bufLimit,
          seedLimit = seedLimit)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    }

  /** The engine-neutral hash ([[graft.pipeline.Sampling.hashScore]]'s
    * integer): first 8 hex chars of md5("u:t:d") as a long.
    */
  private def stepHash(u: Long, t: Int, d: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$u:$t:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16)
  }

  /** Driver-side replica of the walk rule. */
  private def refWalk(edges: Seq[(Long, Long)], seed: Long,
      steps: Int): Map[(Long, Int), Long] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct }
    var node = seed
    var out  = Map((seed, 0) -> seed)
    var t    = 1
    var live = true
    while (live && t <= steps) {
      adj.get(node) match {
        case Some(ns) =>
          node = ns.minBy(d => (stepHash(node, t - 1, d), d))
          out += ((seed, t) -> node)
          t += 1
        case None => live = false
      }
    }
    out
  }

  test("randomWalks: matches the driver-side md5-argmin replica, both paths") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(160)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val seeds = Seq(0L, 5L, 11L, 23L)
    val expect = seeds.map(refWalk(edges, _, 5)).reduce(_ ++ _)
    // the one-pass WalkAgg path AND the iterative frontier loop
    assert(walksOf(edges, seeds, 5) === expect)
    assert(walksOf(edges, seeds, 5, bufLimit = 0L) === expect)
  }

  test("randomWalks: a walk halts at a node with no out-neighbors") {
    val expect = Map((0L, 0) -> 0L, (0L, 1) -> 1L, (0L, 2) -> 2L,
      (2L, 0) -> 2L)
    // 0 → 1 → 2, then 2 has no out-edge; the seed-2 walk emits only step 0
    assert(walksOf(Seq((0L, 1L), (1L, 2L)), Seq(0L, 2L), steps = 4) === expect)
    assert(walksOf(Seq((0L, 1L), (1L, 2L)), Seq(0L, 2L), steps = 4,
      bufLimit = 0L) === expect)
  }

  test("randomWalks: a seed set over seedLimit routes to the loop path, same answer") {
    val rnd = new scala.util.Random(11L)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val seeds = Seq(1L, 4L, 9L, 16L)
    val expect = seeds.map(refWalk(edges, _, 4)).reduce(_ ++ _)
    // seeds (4) exceed seedLimit (2): the one-pass gate must NOT fire —
    // the seed array never rides to the driver — and the frontier loop
    // produces the identical corpus
    assert(walksOf(edges, seeds, 4, seedLimit = 2L) === expect)
  }

  test("randomWalks: deterministic across runs and independent per seed") {
    val edges = (0L until 20L).flatMap(i =>
      Seq((i, (i + 1) % 20), (i, (i * 7 + 3) % 20)))
    val twice = walksOf(edges, Seq(3L, 9L), 4)
    assert(twice === walksOf(edges, Seq(3L, 9L), 4))
    // adding a seed never changes another walk's trajectory
    val more = walksOf(edges, Seq(3L, 9L, 14L), 4)
    assert(twice.forall { case (k, v) => more(k) == v })
  }
}

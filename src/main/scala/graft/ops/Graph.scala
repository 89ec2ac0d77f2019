package graft.ops

import graft.core.SizeGates
import graft.functions.{HopDistanceAgg, KCoreAgg, PageRankAgg, PairComponents, WalkAgg}
import graft.pipeline.Dedup
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Link-graph analytics over an edge list: PageRank (plain, warm-started
  * and personalized), connected components (batch and incremental),
  * triangles, hop distance, link prediction, k-core and random walks.
  *
  * Every operator reads its edges through [[edgeList]]. The iterative ones
  * share two regimes: below an edge budget the whole fixpoint runs inside
  * ONE aggregation ([[onePass]]); past it, each round is one checkpointed
  * plan over a checkpointed edge table — the recursion a single-pass SQL
  * engine can only replay as N chained scans.
  */
object Graph {

  /** The edge prelude of every operator here: (src, dst) cast to long,
    * self-loops dropped (a null endpoint drops with them).
    */
  private def edgeList(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))

  /** The one-pass regime of a graph fixpoint: when `raw` holds at least one
    * and at most `edgeBufferLimit` edges (one count of the pre-dedup edges,
    * a conservative upper bound) and `fits` holds, `agg` runs over `raw` as
    * ONE aggregation, exploded to the fields of its result struct. None
    * sends the caller to its loop. A map-side partial holds only its task's
    * edge rows; only the final merged buffer sees the graph.
    */
  private def onePass(raw: DataFrame, edgeBufferLimit: Long, fits: => Boolean)(
      agg: => Column): Option[DataFrame] =
    if (edgeBufferLimit > 0 && { val c = raw.count(); c > 0 && c <= edgeBufferLimit } && fits)
      Some(raw.agg(agg.as("__a")).select(explode(col("__a")).as("__p")).select(col("__p.*")))
    else None

  /** Distinct seed ids, sorted: the seed set a one-pass aggregate carries. */
  private def seedArray(seeds: DataFrame, seedCol: String): Array[Long] =
    seeds.select(col(seedCol).cast("long")).distinct().collect().map(_.getLong(0)).sorted

  /** Standard damped PageRank over a directed edge list, `iterations`
    * synchronous Jacobi steps from the uniform vector:
    *
    *   r'(v) = (1 - d) / n  +  d * Σ_{(u,v) ∈ E} r(u) / outdeg(u)
    *
    * Semantics (each choice replayed verbatim by the relational oracle):
    *  - the graph is made SIMPLE first: self-loops dropped, duplicate
    *    edges collapsed;
    *  - the node set is the union of sources and destinations;
    *  - dangling mass is NOT redistributed (nodes without out-edges leak
    *    their mass, the plain power-iteration formulation) — with the
    *    planted graphs used by the query inventory every node has an
    *    out-edge, so the two formulations coincide there.
    *
    * Scale shape: below `edgeBufferLimit` raw edges all `iterations` steps
    * run inside ONE [[graft.functions.PageRankAgg]] aggregation. Past it,
    * the out-degree-annotated edge table is checkpointed ONCE —
    * PRE-PARTITIONED on `src` — and every iteration re-reads it from
    * executor memory; the rank vector (n rows, two columns) is the ONLY
    * thing that moves per iteration. While n stays under
    * `broadcastNodeLimit` the per-iteration joins get explicit broadcast
    * hints (nothing shuffles at all — right for small graphs where
    * per-stage shuffle latency dominates). Beyond the gate the joins run
    * co-partitioned: edges are laid out by `src` once, the node and rank
    * vectors are laid out by `node` (the contribution aggregate's output
    * partitioning), so ONE exchange per iteration — the map-side-combined
    * contribution aggregate — is all that moves. (Measured at 500k
    * nodes / 1.5M edges: the broadcast path rebuilds two 500k-row
    * broadcast relations per iteration and runs ~3× slower than the
    * co-partitioned layout.) Every round is checkpointed: fusing 5 rounds
    * of the linear chain into one multi-stage job at 500k nodes REGRESSED
    * 8.4 → 13.5 s, because AQE executes the chained shuffle stages
    * sequentially either way and re-plans the growing chain.
    * `localCheckpoint` preserves the partitioning, so the layout survives
    * across iterations. A round's checkpoint is released once the next is
    * stored, so the loop holds the edge table, the node table and one rank
    * vector however many rounds it runs.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      damping: Double = 0.85,
      broadcastNodeLimit: Long = SizeGates.BroadcastNodes,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer): DataFrame =
    ranks(edges, srcCol, dstCol, Uniform, iterations, damping, broadcastNodeLimit,
      edgeBufferLimit, "pageRank")

  /** WARM-STARTED PageRank — the incremental-maintenance face
    * ([[componentsIncrement]]'s contract generalized to the numeric
    * fixpoint): fold new edges into a persisted rank vector by running a
    * BOUNDED re-iteration budget (`iterations`, typically 2-5) seeded
    * from the prior ranks instead of re-converging from uniform. After a
    * small edge delta the prior is already near the new fixpoint, so a
    * few Jacobi steps recover it; the answer is deterministic from
    * (edges, prior, iterations) — an independent engine replays it
    * exactly — but it is an APPROXIMATION of the full fixpoint, so
    * cross-representation pins are invariants (teleport mass conserved,
    * residual shrinking), not hash equality against batch [[pageRank]].
    *
    * `prior` is a `(node, r)` frame; nodes absent from it start at 1/n
    * (fresh arrivals), prior nodes absent from the CURRENT node set drop
    * (their mass is gone with their edges — same rule both paths).
    * Per batch the work is `iterations` passes over the edge table —
    * iteration-bounded, not batch-bounded; that trade (vs 10+ cold
    * rounds) is the whole point of the warm start.
    *
    * Scale shape: identical machinery to [[pageRank]] — below the edge
    * budget (and [[SizeGates.TaskArrayRows]] rows of prior, which rides
    * the task binary as a reference object) the whole fold is ONE
    * [[graft.functions.PageRankAgg]] aggregation; beyond, the stamped
    * co-partitioned loop with the prior joined in as r₀.
    */
  def pageRankWarmStart(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      prior: DataFrame,
      iterations: Int = 3,
      damping: Double = 0.85,
      broadcastNodeLimit: Long = SizeGates.BroadcastNodes,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer): DataFrame =
    ranks(edges, srcCol, dstCol,
      Prior(prior.select(col("node").cast("long").as("node"), col("r").cast("double").as("r"))),
      iterations, damping, broadcastNodeLimit, edgeBufferLimit, "pageRankWarmStart")

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds`
    * (uniformly split across the seed nodes present in the graph)
    * instead of uniformly on all nodes —
    *
    *   r'(v) = (1 - d) · w(v)  +  d · Σ_{(u,v) ∈ E} r(u) / outdeg(u)
    *
    * with w the seed indicator / |seeds ∩ nodes| and r₀ = w. Ranks then
    * measure proximity to the seed set — the contamination-tracing /
    * related-content primitive. Same simple-graph normalization, scale
    * shape and iteration machinery as [[pageRank]]: the teleport vector
    * is one more (node, w) column riding the checkpointed node table, so
    * an iteration still moves nothing but the rank vector. The one-pass
    * aggregate carries the distinct seed set, so a seed frame larger than
    * the edge budget takes the loop. Seeds not present in the graph are
    * ignored (they could receive no mass).
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 10,
      damping: Double = 0.85,
      broadcastNodeLimit: Long = SizeGates.BroadcastNodes,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer): DataFrame =
    ranks(edges, srcCol, dstCol, Seeded(seeds, seedCol), iterations, damping,
      broadcastNodeLimit, edgeBufferLimit, "personalizedPageRank")

  /** Where a PageRank face starts and teleports to: uniformly, from a prior
    * `(node, r)` vector with a uniform teleport, or onto a seed set.
    */
  private sealed trait Start
  private case object Uniform extends Start
  private final case class Prior(vector: DataFrame) extends Start
  private final case class Seeded(seeds: DataFrame, seedCol: String) extends Start

  /** The PageRank of all three faces, which differ only in their [[Start]]:
    * the one-pass aggregate while the edges (and a prior or seed set,
    * which rides its task binary) fit, else the co-partitioned loop of
    * [[prStep]]s.
    */
  private def ranks(edges: DataFrame, srcCol: String, dstCol: String, start: Start,
      iterations: Int, damping: Double, broadcastNodeLimit: Long,
      edgeBufferLimit: Long, face: String): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0, 1): $damping")
    val raw = edgeList(edges, srcCol, dstCol)
    def fits = start match {
      case Uniform => true
      case Prior(pr) => pr.count() <= SizeGates.TaskArrayRows
      case Seeded(seeds, _) => seeds.count() <= edgeBufferLimit
    }
    def agg = start match {
      case Uniform => PageRankAgg.pageRankAgg(col("src"), col("dst"), iterations, damping, null)
      case Prior(pr) => PageRankAgg.pageRankAggWarm(col("src"), col("dst"), iterations, damping,
        pr.collect().map(r => r.getLong(0) -> r.getDouble(1)))
      case Seeded(seeds, seedCol) => PageRankAgg.pageRankAgg(col("src"), col("dst"),
        iterations, damping, seedArray(seeds, seedCol))
    }
    val onePassed = onePass(raw, edgeBufferLimit, fits)(agg)
    if (onePassed.nonEmpty) return onePassed.get
    val simple = raw.distinct()
    val deg = simple.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("__od"))
    // pre-partition the iteration-invariant tables ONCE and STAMP the
    // layout (materializeOnceKeyed): under AQE a bare checkpoint reports
    // UnknownPartitioning, so every round would re-exchange tables that
    // are already laid out — with the stamp, a non-broadcast iteration's
    // only planned exchanges are the contribution aggregate and the
    // rank-vector re-layout
    val P = edges.sparkSession.sessionState.conf.numShufflePartitions
    val ed = Dedup.materializeOnceKeyed(simple.join(deg, "src"), Seq("src"), P)
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct()
    // the step's base table: the node set, plus the teleport weight __w
    // when the teleport is seeded
    val base = Dedup.materializeOnceKeyed(start match {
      case Seeded(seeds, seedCol) =>
        val seedNodes = Dedup.materializeOnce(nodes.join(
          seeds.select(col(seedCol).cast("long").as("node")).distinct(),
          Seq("node"), "left_semi"))
        val k = seedNodes.count()
        require(k > 0, s"$face: no seed is a node of the graph")
        nodes.join(seedNodes.select(col("node"), lit(true).as("__is")), Seq("node"), "left")
          .select(col("node"),
            when(col("__is"), lit(1.0 / k)).otherwise(lit(0.0)).as("__w"))
      case _ => nodes
    }, Seq("node"), P)
    val n = base.count()
    require(n > 0, s"$face: empty graph")
    val (r0, teleport) = start match {
      case Uniform =>
        (base.select(col("node"), lit(1.0 / n).as("r")), lit((1.0 - damping) / n))
      case Prior(pr) =>
        (base.join(pr.withColumnRenamed("r", "__prior"), Seq("node"), "left")
          .select(col("node"), coalesce(col("__prior"), lit(1.0 / n)).as("r")),
          lit((1.0 - damping) / n))
      case Seeded(_, _) =>
        (base.select(col("node"), col("__w").as("r")), lit(1.0 - damping) * col("__w"))
    }
    val hint = n <= broadcastNodeLimit
    // every round is checkpointed (see [[pageRank]]); on the broadcast path
    // a broadcast of an unmaterialized chain would also recompute the whole
    // chain per round. Once a round is stored the one before it is released,
    // except r0, whose leaves are the node table and the caller's prior.
    (1 to iterations).foldLeft(r0) { (r, i) =>
      val next = prStep(ed, base, r, damping, teleport, hint)
      val stored =
        if (hint) Dedup.materializeOnceLoop(next)
        else Dedup.materializeOnceKeyed(next, Seq("node"), P)
      if (i > 1) Dedup.releaseCheckpoint(r)
      stored
    }
  }

  /** One PageRank Jacobi step as a PLAN (no materialization) — factored
    * out so PlanSpec can pin the iteration's physical shape: with `ed`
    * laid out by `src` and `base`/`ranks` by `node`, the ONLY exchange
    * in the step is the map-side-combined contribution aggregate.
    * `teleport` is the step's (1 - d) term over `base`'s columns.
    */
  private[graft] def prStep(ed: DataFrame, base: DataFrame, ranks: DataFrame,
      damping: Double, teleport: Column, hint: Boolean): DataFrame = {
    val rs = if (hint) broadcast(ranks) else ranks
    val contribs = ed.join(rs, ed("src") === rs("node"))
      .groupBy(ed("dst").as("node"))
      .agg(sum(col("r") / col("__od")).as("__c"))
    base.as("nd")
      .join(if (hint) broadcast(contribs.as("c")) else contribs.as("c"),
        col("nd.node") === col("c.node"), "left")
      .select(col("nd.node").as("node"),
        (teleport + lit(damping) * coalesce(col("__c"), lit(0.0))).as("r"))
  }

  /** INCREMENTAL connected components: fold a NEW batch of edges into a
    * PRIOR `(node, comp)` assignment (e.g. the persisted output of
    * [[connectedComponents]] — the artifact), returning the updated
    * assignment for the unioned graph — the same against-prior contract
    * as [[graft.pipeline.Dedup.nearDupsAgainstPrior]]: the prior is
    * fixed, today's arrivals fold in, and the full edge history is never
    * replayed.
    *
    * Exactness: a new edge's endpoints resolve to their prior component
    * labels (their own ids when unseen); components of THAT contracted
    * pair set tell every touched label its new root. Labels are min node
    * ids, [[graft.functions.PairComponents]] roots each contracted group
    * at its min member, and the min over a union of components is the min
    * over their labels — so the output is IDENTICAL to batch
    * [[connectedComponents]] over (prior edges ∪ batch), spec-pinned
    * across arbitrary batch splits (a merge of two known components
    * surfaces as those labels' rows remapping to one root).
    *
    * Scale shape: the contracted pair set is bounded by the BATCH (≤ one
    * row per new edge, each two labels), so its union-find is one bounded
    * aggregation; the prior pays ONE equijoin on `comp` against the tiny
    * remap table (broadcast in practice) — never a corpus shuffle, no
    * rounds. Two bounded endpoint-resolution joins on the prior are the
    * only other contact. Returns every prior node plus every node the
    * batch introduces.
    */
  def componentsIncrement(
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      prior: DataFrame): DataFrame = {
    val e = Dedup.materializeOnce(edgeList(newEdges, srcCol, dstCol))
    val pr = prior.select(col("node"), col("comp"))
    // endpoints -> prior labels (own id when the node is new)
    val resolved = e
      .join(pr.select(col("node").as("src"), col("comp").as("__cs")), Seq("src"), "left")
      .join(pr.select(col("node").as("dst"), col("comp").as("__cd")), Seq("dst"), "left")
      .select(coalesce(col("__cs"), col("src")).as("ca"),
        coalesce(col("__cd"), col("dst")).as("cb"))
      // an edge already internal to one component contracts nothing (a
      // NEW node can never hit this: its own id is not a prior label)
      .filter(col("ca") =!= col("cb"))
    // contraction: components of the touched-label graph, batch-bounded
    val remap = Dedup.materializeOnce(resolved
      .agg(PairComponents.pairComponents(col("ca"), col("cb")).as("__cs"))
      .select(explode(col("__cs")).as("__c"))
      .select(col("__c.id").as("__lbl"), col("__c.comp").as("__root"))
      .filter(col("__lbl") =!= col("__root")))
    val updatedPrior = pr
      .join(broadcast(remap.select(col("__lbl").as("comp"), col("__root"))),
        Seq("comp"), "left")
      .select(col("node"), coalesce(col("__root"), col("comp")).as("comp"))
    // nodes the batch introduces: absent from the prior, labeled by the
    // contraction (their own id appears there whenever they carry an edge)
    val newNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(pr.select(col("node")), Seq("node"), "left_anti")
      .join(broadcast(remap.select(col("__lbl").as("node"), col("__root"))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__root"), col("node")).as("comp"))
    updatedPrior.unionByName(newNodes)
  }

  /** Per-node triangle counts and local clustering coefficients of the
    * UNDIRECTED simple view of an edge list. Returns
    * (node, degree, n_triangles, clustering) with
    * `clustering = 2·T(v) / (deg(v)·(deg(v)−1))` (NULL for degree < 2).
    *
    * Algorithm: degree-ordered orientation (the node-iterator++ /
    * Latapy scheme). Every undirected edge is oriented from its
    * lower-(degree, id) endpoint to its higher one, so each triangle
    * {x, y, z} is enumerated EXACTLY once as a wedge (x→y, x→z) closed
    * by the oriented edge (y→z) — no post-dedup. The orientation bounds
    * every node's oriented out-degree by O(√m), so the wedge fan-out is
    * O(m^{3/2}) worst case instead of Σ deg² — a hub with a million
    * neighbors generates NO wedges at all because all its edges point
    * INTO it. The triangle SET is orientation-invariant, so an
    * id-ordered relational oracle enumerates the identical rows.
    *
    * Scale shape: one distinct + one degree aggregate + two self-joins
    * on the oriented table (shuffled on the wedge apex / closing edge
    * key); the closing join's build side is the oriented edge table
    * itself. Per-node counts come from exploding each triangle to its
    * three corners — 3·T rows, never corpus-squared.
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val directed = edgeList(edges, srcCol, dstCol)
    // canonical undirected simple edges (u < v)
    val und = Dedup.materializeOnce(
      directed.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val deg = Dedup.materializeOnce(
      und.select(col("u").as("node")).union(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree")))
    // orient each edge from the lower (degree, id) endpoint to the higher
    val du = deg.select(col("node").as("u"), col("degree").as("__du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("__dv"))
    val oriented = Dedup.materializeOnce(
      und.join(du, "u").join(dv, "v")
        .select(
          when(col("__du") < col("__dv") ||
            (col("__du") === col("__dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("a"),
          when(col("__du") < col("__dv") ||
            (col("__du") === col("__dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("b")))
    // wedges (a→b, a→c) with b before c in the orientation order, closed
    // by the oriented edge (b→c); orientation is a total order, so "b
    // before c" is exactly "the oriented edge b→c could exist"
    val e1 = oriented.select(col("a"), col("b"))
    val e2 = oriented.select(col("a"), col("b").as("c"))
    val tri = e1.join(e2, "a")
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      .select(col("a").as("x"), col("b").as("y"), col("c").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering"))
  }

  /** Bounded-horizon BFS: the minimum hop distance from a seed set,
    * following edges FORWARD, cut off at `maxHops` — the k-hop
    * neighborhood extraction primitive (GNN neighborhood sampling,
    * contamination blast-radius tracing). Returns (node, hop) for every
    * node reachable within `maxHops`; unreached nodes are absent.
    *
    * Scale shape: the same size-gated one-pass path as [[pageRank]]:
    * below the edge budget all maxHops frontier rounds run inside ONE
    * [[graft.functions.HopDistanceAgg]] aggregation (BFS touches each edge
    * once — strictly linear eval). Past it, classic frontier iteration —
    * hop h's NEW nodes are the out-neighbors of hop h−1's frontier minus
    * everything already labeled (one join + one left-anti join per round
    * against the size-gated broadcast label set); the edge table
    * checkpoints once and never moves. Exactly `maxHops` rounds,
    * data-independent — the horizon is the semantics, so a pathological
    * diameter cannot stall the job. The frontier (not the full label
    * table) drives each join, so a converged region stops costing
    * anything. The frontiers are released once the labels are stored.
    */
  def hopDistance(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      broadcastNodeLimit: Long = SizeGates.BroadcastNodes,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative: $maxHops")
    val raw = edgeList(edges, srcCol, dstCol)
    val onePassed = onePass(raw, edgeBufferLimit, seeds.count() <= edgeBufferLimit)(
      HopDistanceAgg.hopDistanceAgg(col("src"), col("dst"), seedArray(seeds, seedCol), maxHops))
    if (onePassed.nonEmpty) return onePassed.get
    val simple = raw.distinct()
    val ed = Dedup.materializeOnceKeyed(simple, Seq("src"),
      edges.sparkSession.sessionState.conf.numShufflePartitions)
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct()
    // seeds restricted to graph nodes: an off-graph seed labels nothing
    var frontier = Dedup.materializeOnce(
      nodes.join(seeds.select(col(seedCol).cast("long").as("node")).distinct(),
        Seq("node"), "left_semi"))
    var frontierSize = frontier.count()
    var labeled = frontierSize
    var labels = frontier.select(col("node"), lit(0).as("hop"))
    val frontiers = scala.collection.mutable.Buffer(frontier)
    var h = 0
    while (h < maxHops && frontierSize > 0) {
      h += 1
      // the label set only grows, so its count is maintained incrementally —
      // no extra action per round beyond the frontier count the loop needs
      val seen = if (labeled <= broadcastNodeLimit) broadcast(labels) else labels
      frontier = Dedup.materializeOnceLoop(
        ed.join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(seen.select(col("node")), Seq("node"), "left_anti"))
      frontiers += frontier
      frontierSize = frontier.count()
      if (frontierSize > 0) {
        labels = labels.union(frontier.select(col("node"), lit(h).as("hop")))
        labeled += frontierSize
      }
    }
    // the stored labels no longer read the frontiers they were unioned from
    val stored = Dedup.materializeOnce(labels)
    frontiers.foreach(Dedup.releaseCheckpoint)
    stored
  }

  /** Connected components of the UNDIRECTED view of an edge list: each
    * node's component is the smallest node id it can reach. Returns
    * (node, comp). Self-loops are dropped with the rest of
    * [[edgeList]]'s prelude, so a node whose only edge is a self-loop is
    * absent. The engine is [[minLabelComponents]], shared with
    * [[graft.pipeline.Dedup.clusters]]; `maxRounds` bounds its loop, which
    * fails with "no fixpoint" past it.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 64,
      broadcastNodeLimit: Long = SizeGates.BroadcastNodes,
      unionFindNodeLimit: Long = SizeGates.UnionFindNodes): DataFrame =
    minLabelComponents(edgeList(edges, srcCol, dstCol), maxRounds, "maxRounds",
      broadcastNodeLimit, unionFindNodeLimit)

  /** Min-label connected components of an undirected (src, dst) long pair
    * set without null endpoints: (node, comp) for every id in a pair, comp
    * the smallest id it reaches. Each caller filters its own input (the
    * self-loop and null rules are theirs); a self-pair registers its id.
    *
    * Regime: the pairs are checkpointed FIRST (a near-dup pair lineage —
    * shingle joins, banded LSH — is the expensive part, and the probe must
    * not re-run it), and a distinct-id estimate observed in the
    * checkpoint's own job (the union of one HLL sketch per endpoint column;
    * a resource decision needs no exactness) picks it. Up to
    * `unionFindNodeLimit` ids the whole problem is one
    * [[graft.functions.PairComponents]] union-find aggregate — ONE
    * map-side-combinable aggregation, zero driver-synchronized rounds, any
    * diameter. Its buffer is an (id → root) map over the ids a partial sees
    * (~16-32 bytes/id; at the 2²⁰ default a partial tops out around 32 MB
    * and the final merge holds one such map), so the gate is a memory
    * measurement, not a guess.
    *
    * Past it, min-label propagation to fixpoint, the Pregel formulation.
    * The symmetrized edge table checkpoints once, pre-partitioned on
    * `src`; round 0 seeds every node with `min(node, min(neighbor))` (a
    * plain aggregate — a whole propagation hop before any join is paid).
    * Each later round is then ONE fused plan — the neighbor-min aggregate,
    * the monotone merge with the current label, and TWO POINTER JUMPS
    * (`comp := comp(comp)`, the Shiloach–Vishkin shortcut) chained through
    * the PREVIOUS round's label vector — materialized with a single
    * checkpoint job; the convergence probe is a COUNT over the
    * already-checkpointed blocks, and the superseded round's checkpoint is
    * released, so storage holds the edges and one label table whatever
    * the round count. Jumping through the one-round-stale vector keeps the
    * round a single job and is still EXACT: labels are monotone-decreasing
    * node ids of the same component (`prev(c) ≤ c`, and every comp value
    * has a row), so a stale jump is just a weaker contraction — at
    * fixpoint the jump is the identity, and a min-label fixpoint over a
    * symmetrized edge set labels every component by its minimum node id.
    * Rounds needed = O(log diameter) (5 on a 64-node path); a pathological
    * graph past `maxRounds` fails loudly, naming `boundName`, rather than
    * silently returning a half-propagated labeling. The loop never
    * materializes more than (node, comp) rows anywhere — the web-scale
    * path.
    */
  private[graft] def minLabelComponents(pairs: DataFrame, maxRounds: Int,
      boundName: String, broadcastNodeLimit: Long,
      unionFindNodeLimit: Long): DataFrame = {
    val probe = Observation()
    val half = Dedup.materializeOnce(pairs.observe(probe, hll_sketch_estimate(hll_union(
      hll_sketch_agg(col("src")), hll_sketch_agg(col("dst")))).as("n")))
    if (probe.get("n").asInstanceOf[Long] <= unionFindNodeLimit) {
      return half
        .agg(PairComponents.pairComponents(col("src"), col("dst")).as("__cs"))
        .select(explode(col("__cs")).as("__c"))
        .select(col("__c.id").as("node"), col("__c.comp").as("comp"))
    }
    val P = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val und = Dedup.materializeOnceKeyed(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), Seq("src"), P)
    Dedup.releaseCheckpoint(half)
    // round-0 seed: comp = min(node, min(neighbor)). The symmetrized table
    // gives every node an incoming edge, so one aggregate covers the whole
    // node set — this IS the first propagation round, minus the label join
    // a generic round pays (comp == node makes the join a no-op).
    var labels = Dedup.materializeOnceKeyed(
      und.groupBy(col("dst").as("node"))
        .agg(min(col("src")).as("__m"))
        .select(col("node"), least(col("node"), col("__m")).as("comp")),
      Seq("node"), P)
    val hint = labels.count() <= broadcastNodeLimit
    def bc(df: DataFrame): DataFrame = if (hint) broadcast(df) else df
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      require(round <= maxRounds,
        s"no fixpoint after $maxRounds rounds of label propagation " +
          s"(graph diameter exceeds the bound; raise $boundName)")
      val ls = bc(labels)
      val cand = und.join(ls, und("src") === ls("node"))
        .groupBy(und("dst").as("node"))
        .agg(min(col("comp")).as("__c"))
      val stepped = labels.as("l")
        .join(bc(cand.as("c")), col("l.node") === col("c.node"), "left")
        .select(col("l.node").as("node"),
          least(col("l.comp"), coalesce(col("__c"), col("l.comp"))).as("__s"),
          col("l.comp").as("__old"))
      // two chained pointer jumps through the PREVIOUS label vector (every
      // comp value is a node id, so the inner joins are total; prev(c) ≤ c
      // keeps the chain monotone) — fused into the same plan as the step,
      // so the whole round materializes with one checkpoint job
      val j1 = labels.select(col("node").as("__j1n"), col("comp").as("__j1c"))
      val j2 = labels.select(col("node").as("__j2n"), col("comp").as("__j2c"))
      val chained = stepped
        .join(bc(j1), col("__s") === col("__j1n"))
        .join(bc(j2), col("__j1c") === col("__j2n"))
        .select(col("node"), col("__j2c").as("comp"),
          (col("__j2c") < col("__old")).as("__chg"))
      val next =
        if (hint) Dedup.materializeOnceLoop(chained)
        else Dedup.materializeOnceKeyed(chained, Seq("node"), P)
      changed = next.filter(col("__chg")).count()
      Dedup.releaseCheckpoint(labels)
      labels = next.select(col("node"), col("comp"))
    }
    labels
  }

  /** Link prediction over the UNDIRECTED simple view of an edge list:
    * for every non-adjacent pair (u, v) that shares at least one
    * neighbor, the common-neighbor count and the Adamic–Adar score
    *
    *   AA(u, v) = Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))
    *
    * — the classic "who should be linked" primitive (citation-graph
    * augmentation, related-document suggestion, crawl frontier
    * prioritization). Every wedge center w in the sum has deg(w) ≥ 2 by
    * construction (it is adjacent to both u and v), so ln(deg(w)) > 0.
    *
    * Scale shape: ONE wedge self-join of the degree-annotated adjacency
    * list, both sides reading the SAME table materialized hash-partitioned
    * on the CENTER node — no exchange at the join itself. Wedge fan-out is
    * Σ_w deg(w)², so a single million-neighbor hub would dominate the
    * whole job; `maxCenterDegree` drops super-hub centers BEFORE the
    * self-join (the standard practice for AA on web graphs: a hub this
    * common carries ~zero Adamic–Adar weight anyway, 1/ln(10⁶) ≈ 0.07,
    * while costing O(deg²)). The candidate→existing-edge anti-join runs
    * on the canonical (u < v) pair key. No window, no driver state.
    * (An in-row pair-expansion variant — collect_set + nested array
    * transforms, no self-join — measured 4× SLOWER at 3M wedges: the
    * per-center pair-array construction is allocation-bound and outside
    * codegen, while the codegen'd self-join streams. Measure, don't
    * assume fewer exchanges wins.)
    */
  def linkPredict(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxCenterDegree: Long = SizeGates.MaxCenterDegree,
      broadcastEdgeLimit: Long = SizeGates.BroadcastRows): DataFrame = {
    val directed = edgeList(edges, srcCol, dstCol)
    val und = Dedup.materializeOnce(
      directed.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // degree-annotated adjacency, hub centers capped before the self-join,
    // laid out by the CENTER node so the wedge self-join below reads both
    // sides from the same stamped partitioning — no exchange at the join.
    // (Stamping the join's own output partitioning instead of paying the
    // keyed repartition is NOT safe: AQE re-plans the join's partition
    // count, so the claim can be false — measured as a hard stamp failure.)
    val P = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adjD = Dedup.materializeOnceKeyed(
      adj.join(deg, "node")
        .filter(col("degree") <= maxCenterDegree)
        .select(col("node"), col("nbr"), col("degree")),
      Seq("node"), P)
    val wedges = adjD.as("x")
      .join(adjD.as("y"),
        col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("u"), col("y.nbr").as("v"),
        col("x.degree").as("__dc"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("__dc").cast("double"))).as("__aa"))
    // the existing-edge table is usually far smaller than the candidate
    // set — broadcast the anti-join side below the gate so the scored
    // aggregate's output streams through unexchanged
    val undA = if (und.count() <= broadcastEdgeLimit) broadcast(und) else und
    scored.join(undA, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("common_neighbors"),
        round(col("__aa"), 6).as("adamic_adar"))
  }

  /** k-core decomposition (synchronous peel): repeatedly remove EVERY
    * node whose degree in the surviving subgraph is below `k`, until
    * stable; emit the surviving nodes with their in-core degree. The
    * standard graph-curation pass — link farms, orphan chains and
    * weakly-attached spam peel away while the densely-connected core
    * survives (Seidman 1983; the "k-core" bot-filter of web-graph
    * pipelines).
    *
    * Scale shape: the adjacency list materializes ONCE, hash-partitioned
    * on `node`, and never moves again — each round recomputes degrees
    * from it behind two broadcast anti-joins against the CUMULATIVE dead
    * set (peeled nodes only ever accumulate, so excluding them from the
    * base table is exactly the surviving subgraph). Broadcast anti-joins
    * preserve the stamped partitioning, so the per-round degree aggregate
    * is exchange-free: the only data that moves per round is the dead set
    * itself (usually tiny after round 1; `broadcastDeadLimit` gates the
    * hint, and past it the joins degrade to shuffles without changing
    * semantics). Round count = peel depth of the graph, data-dependent:
    * `maxRounds` fails loudly rather than looping silently.
    *
    * SIZE-GATED one-pass path ([[onePass]], the [[pageRank]] shape): below
    * `edgeBufferLimit` raw edges the whole data-dependent peel cascade
    * runs inside ONE [[graft.functions.KCoreAgg]] aggregation (a
    * linear-time queue peel; the k-core is unique regardless of peel
    * order, so the output is identical to the loop's synchronous rounds,
    * spec-pinned). A map-side partial holds only its task's edge rows
    * (~16 B/edge).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 64,
      broadcastDeadLimit: Long = SizeGates.BroadcastRows,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val P = edges.sparkSession.sessionState.conf.numShufflePartitions
    val directedRaw = edgeList(edges, srcCol, dstCol)
    // Checkpoint BEFORE the gate probe (the Dedup.clusters convention): the
    // count() must not re-execute the caller's edge derivation — whichever
    // path runs afterwards consumes the materialized blocks, so the lineage
    // executes exactly once however expensive it is (measured on the 500k-
    // node derived-edge fixture, OPTIMIZATION_r16.md). Loop-pinned callers
    // (edgeBufferLimit = 0) skip probe and checkpoint alike: their single
    // consumer is the adjacency build, which materializes on its own.
    val directed =
      if (edgeBufferLimit > 0) Dedup.materializeOnce(directedRaw) else directedRaw
    val onePassed = onePass(directed, edgeBufferLimit, fits = true)(
      KCoreAgg.kCoreAgg(col("src"), col("dst"), k))
    if (onePassed.nonEmpty) return onePassed.get
    val und = directed.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj0 = Dedup.materializeOnceKeyed(
      und.select(col("u").as("node"), col("v").as("nbr"))
        .union(und.select(col("v").as("node"), col("u").as("nbr"))),
      Seq("node"), P)
    var deadAll: Option[DataFrame] = None
    var deadCount = 0L
    def surviving: DataFrame = deadAll match {
      case None => adj0
      case Some(d) =>
        val hinted = if (deadCount <= broadcastDeadLimit) broadcast(d) else d
        val d2 = hinted.select(col("__dead").as("__dead2"))
        adj0.join(hinted, adj0("node") === hinted("__dead"), "left_anti")
          .join(d2, adj0("nbr") === d2("__dead2"), "left_anti")
    }
    var round = 0
    var peeled = 1L
    while (peeled > 0) {
      round += 1
      require(round <= maxRounds,
        s"kCore: peel did not stabilize after $maxRounds rounds " +
          "(pathological peel depth; raise maxRounds)")
      val cur = surviving
      val deadNew = Dedup.materializeOnceLoop(
        cur.groupBy(col("node")).agg(count(lit(1)).as("__d"))
          .filter(col("__d") < k)
          .select(col("node").as("__dead")))
      peeled = deadNew.count()
      if (peeled > 0) {
        deadCount += peeled
        deadAll = Some(Dedup.materializeOnceLoop(
          deadAll.map(_.unionByName(deadNew)).getOrElse(deadNew)))
      }
    }
    surviving.groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Deterministic "random" walks from a seed set — the node2vec /
    * DeepWalk corpus generator, made reproducible: at step t the walk at
    * node u moves to the out-neighbor d minimizing the engine-neutral
    * hash of `"u:t:d"` ([[graft.pipeline.Sampling.hashScore]]'s md5
    * integer; ties by d). Hash-seeded rather than RNG-seeded so replays,
    * incremental re-runs, and the relational oracle all reproduce the
    * identical corpus — the same determinism contract as every sampler
    * in this library. A walk whose node has no out-neighbor halts (its
    * remaining steps emit nothing).
    *
    * Scale shape: the same size-gated one-pass path as [[pageRank]] /
    * [[hopDistance]] — below the edge budget, EVERY walk's whole
    * trajectory runs inside ONE [[graft.functions.WalkAgg]] aggregation
    * (hash work is frontier-proportional: |seeds|·steps·out-degree
    * digests, never |edges|·steps) instead of `steps` driver-synchronized
    * join rounds. The gate has TWO resources: the edge buffer inside the
    * aggregate, and the seed array, which rides to the driver AND into
    * the task binary — so it gets its own, much smaller cap (`seedLimit`)
    * instead of borrowing the edge budget. Beyond the gate: duplicate
    * edges cannot change an argmin, so the edge table skips the distinct —
    * and its corpus-wide exchange — and materializes once with a narrow
    * self-loop filter; each step is then one hash join of the edge table
    * against the broadcast frontier (the frontier never grows — it only
    * shrinks as walks die; past `broadcastFrontierLimit` the join degrades
    * to a frontier shuffle, never an edge shuffle) plus a map-side-combined
    * min(struct) argmin, so a hub's million candidate out-edges collapse
    * inside the scan. Every step's frontier materializes: later steps and
    * downstream consumers (skip-gram extraction self-joins the trajectory
    * table) read each step once instead of replaying the chain per
    * reference. Walks are mutually independent: 10⁹ seeds parallelize
    * embarrassingly.
    */
  def randomWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      steps: Int,
      broadcastFrontierLimit: Long = SizeGates.BroadcastRows,
      edgeBufferLimit: Long = SizeGates.EdgeBuffer,
      seedLimit: Long = SizeGates.TaskArrayRows): DataFrame = {
    require(steps >= 1, s"randomWalks: steps must be >= 1, got $steps")
    val ed0 = edgeList(edges, srcCol, dstCol)
    val onePassed = onePass(ed0, edgeBufferLimit, seedLimit > 0 && seeds.count() <= seedLimit)(
      WalkAgg.walkAgg(col("src"), col("dst"), seedArray(seeds, seedCol), steps))
    if (onePassed.nonEmpty) return onePassed.get
    val ed = Dedup.materializeOnce(ed0)
    var cur = Dedup.materializeOnceLoop(
      seeds.select(col(seedCol).cast("long").as("walk_id"),
        col(seedCol).cast("long").as("node")))
    val hint = cur.count() <= broadcastFrontierLimit
    var out = cur.select(col("walk_id"), lit(0).as("step"), col("node"))
    for (t <- 1 to steps) {
      val h = conv(substring(md5(concat_ws(":",
          col("node"), lit(t - 1), col("dst"))), 1, 8), 16, 10).cast("long")
      val c = if (hint) broadcast(cur) else cur
      cur = Dedup.materializeOnceLoop(
        ed.join(c, c("node") === ed("src"))
          .select(col("walk_id"), col("dst"), h.as("__h"))
          .groupBy(col("walk_id"))
          .agg(min(struct(col("__h"), col("dst"))).as("__pick"))
          .select(col("walk_id"), col("__pick.dst").as("node")))
      out = out.unionByName(
        cur.select(col("walk_id"), lit(t).as("step"), col("node")))
    }
    out
  }
}

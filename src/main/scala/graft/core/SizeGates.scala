package graft.core

/** The default of every operator size gate, declared once per meaning.
  *
  * A gate picks between two plans with the same result: a one-pass or
  * broadcast plan while its input stays under the bound, and the plan that
  * scales past it. Each operator names its bound as a default parameter
  * that references one of these constants; a caller passes 0 to force the
  * at-scale side.
  */
object SizeGates {

  /** Nodes under which an iterative graph loop (PageRank's rank vector,
    * the components labels, the BFS label set) broadcasts its per-round
    * vector. Past it the loop's joins run co-partitioned: at 500k nodes
    * two 500k-row broadcasts a round ran ~3× slower than the keyed layout.
    */
  val BroadcastNodes: Long = 65536

  /** Raw edges under which a graph fixpoint runs inside one aggregation
    * (PageRankAgg, HopDistanceAgg, KCoreAgg, WalkAgg). Only the merged
    * buffer sees the whole graph, at ~16 B an edge.
    */
  val EdgeBuffer: Long = 8L << 20

  /** Distinct ids under which components come from one union-find
    * aggregate (`PairComponents`): ~16-32 B an id in the merged buffer,
    * ≈32 MB at this bound.
    */
  val UnionFindNodes: Long = 1L << 20

  /** Rows a one-pass aggregate may carry from the driver in its task
    * binary: `randomWalks`' seed ids and `pageRankWarmStart`'s prior rank
    * vector (≈8-16 MB at this bound).
    */
  val TaskArrayRows: Long = 1L << 20

  /** Rows under which a one-shot narrow table (an edge list, a k-core
    * dead set, a walk frontier) is broadcast to a join.
    */
  val BroadcastRows: Long = 4L << 20

  /** Groups under which a k-anonymity release broadcasts its safe-group
    * table to the release semi-join.
    */
  val BroadcastGroups: Long = 1000000L

  /** Degree past which `linkPredict` drops a wedge center before its
    * self-join. Unlike the gates above this bound changes the result: a
    * center this common adds ≤ 1/ln(65536) ≈ 0.09 to a pair's score while
    * costing O(deg²) wedges.
    */
  val MaxCenterDegree: Long = 1L << 16
}

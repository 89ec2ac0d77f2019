package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[PairComponents]]: connected components inside one aggregate — chain
  * transitivity, disjoint components, the merge path (many partitions),
  * per-group isolation, null edges, and agreement with the iterative
  * label-propagation operator it replaces inside SemDeDup.
  */
class PairComponentsSpec extends SparkTestBase {

  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    edges.toDF("a", "b").repartition(parts)
      .agg(PairComponents.pairComponents($"a", $"b").as("c"))
      .select(explode($"c").as("e")).select("e.id", "e.comp")
      .as[(Long, Long)].collect().toMap

  test("chain transitivity: a-b, b-c, c-d collapse to min id") {
    assert(comps(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate min-id labels") {
    assert(comps(Seq((5L, 9L), (2L, 7L), (9L, 6L))) ===
      Map(5L -> 5L, 9L -> 5L, 6L -> 5L, 2L -> 2L, 7L -> 2L))
  }

  test("merge path: a bridge edge landing in another partition still joins") {
    // two chains plus the bridge, spread over 8 partitions so partial
    // union-find states must merge via (id -> root) replay
    val left   = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    val right  = (100L until 120L).sliding(2).map(s => (s(0), s(1))).toSeq
    val bridge = Seq((19L, 100L))
    val m = comps(left ++ right ++ bridge, parts = 8)
    assert(m.values.toSet === Set(0L), s"bridge not applied: ${m.values.toSet}")
    assert(m.keySet === ((0L until 20L) ++ (100L until 120L)).toSet)
  }

  test("self-edges register singletons; null endpoints are no edge") {
    val df = Seq(
      (Some(1L), Some(1L)),   // singleton via self-edge
      (Some(2L), None),       // half-null: dropped
      (None, Some(3L)),       // half-null: dropped
      (Some(4L), Some(5L))
    ).toDF("a", "b")
    val m = df.agg(PairComponents.pairComponents($"a", $"b").as("c"))
      .select(explode($"c").as("e")).select("e.id", "e.comp")
      .as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("groupBy isolation: same ids in different groups do not connect") {
    val df = Seq(
      ("g1", 1L, 2L), ("g1", 2L, 3L),
      ("g2", 3L, 4L) // id 3 reappears in g2 — must not bridge g1's chain
    ).toDF("g", "a", "b")
    val m = df.groupBy($"g")
      .agg(PairComponents.pairComponents($"a", $"b").as("c"))
      .select($"g", explode($"c").as("e")).select($"g", $"e.id", $"e.comp")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(m("g1") === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(m("g2") === Map(3L -> 3L, 4L -> 3L))
  }

  test("output is sorted by id (deterministic dump order)") {
    val ids = Seq((9L, 4L), (7L, 2L), (4L, 7L)).toDF("a", "b")
      .agg(PairComponents.pairComponents($"a", $"b").as("c"))
      .select(explode($"c").as("e")).select("e.id")
      .as[Long].collect().toSeq
    assert(ids === ids.sorted, s"unsorted: $ids")
  }

  test("Dedup.clusters drops null-endpoint pairs identically on both regimes") {
    // pre-r16 the regimes disagreed here: the aggregate skipped a null edge
    // while the loop seeded the non-null side with itself — same input,
    // different answer depending on the approximate node count
    val pairs = Seq(
      (Some(1L), Some(2L)), (Some(7L), None), (None, Some(9L)),
      (Some(2L), Some(3L))
    ).toDF("id_a", "id_b")
    val gated = graft.pipeline.Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    val loop = graft.pipeline.Dedup.clusters(pairs, unionFindNodeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(gated === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(loop === gated)
  }

  test("Dedup.clusters probes its regime in the checkpoint's own job") {
    // 5 distinct ids: the probe (an HLL estimate, exact at this size) is
    // observed while the pairs are checkpointed, so the aggregate regime
    // runs no job but the checkpoint's; one id fewer allowed takes the loop
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val (agg, aggJobs) = jobsRun(graft.pipeline.Dedup.clusters(pairs, unionFindNodeLimit = 5))
    assert(aggJobs == 1, "the checkpoint only")
    assert(agg.as[(Long, Long)].collect().toMap === want)
    val (loop, loopJobs) = jobsRun(graft.pipeline.Dedup.clusters(pairs, unionFindNodeLimit = 4))
    assert(loopJobs > 1, "the label propagation loop")
    assert(loop.as[(Long, Long)].collect().toMap === want)
  }

  test("agrees with Dedup.clusters label propagation on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(200)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val viaAgg = comps(edges, parts = 8)
    // unionFindNodeLimit = 0 forces the label-propagation loop — the
    // default gate would route Dedup.clusters through this very aggregate
    // and make the comparison self-referential
    val viaLp = graft.pipeline.Dedup.clusters(edges.toDF("id_a", "id_b"),
        unionFindNodeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaAgg === viaLp)
  }
}

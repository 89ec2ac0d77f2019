package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[EmbedStats.topPCs]] / [[EmbedStats.jacobiEig]] / [[EmbedStats
  * .whiten]]: the driver eigensolve against first principles — exact
  * reconstruction, orthonormality, agreement with the power-iteration
  * leading pair, planted-anisotropy recovery, and the unit-variance
  * whitening contract.
  */
class EmbedPcaSpec extends SparkTestBase {

  import spark.implicits._

  private def randSym(d: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val m = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val x = rnd.nextGaussian()
      m(i)(j) = x; m(j)(i) = x
    }
    m
  }

  test("jacobiEig: V is orthonormal and V diag(w) V^T reconstructs A") {
    val d = 12
    val a = randSym(d, 7L)
    val (vals, vecs) = EmbedStats.jacobiEig(a)
    // orthonormal columns
    for (p <- 0 until d; q <- p until d) {
      val dot = (0 until d).map(i => vecs(i)(p) * vecs(i)(q)).sum
      val want = if (p == q) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-10, s"V^T V[$p][$q] = $dot")
    }
    // reconstruction
    for (i <- 0 until d; j <- 0 until d) {
      val rij = (0 until d).map(k => vecs(i)(k) * vals(k) * vecs(j)(k)).sum
      assert(math.abs(rij - a(i)(j)) < 1e-9, s"recon[$i][$j]: $rij vs ${a(i)(j)}")
    }
  }

  test("topPCs: PC1 matches leadingPC (direction and eigenvalue)") {
    val rnd = new scala.util.Random(11L)
    // anisotropic cloud: dim 0 has 5x the spread of the rest
    val rows = Seq.fill(400)(Array.tabulate(6)(i =>
      (if (i == 0) 5.0 else 1.0) * rnd.nextGaussian() + i).map(_.toFloat))
    val df = rows.map(Tuple1(_)).toDF("v")
    val (e1, lam1, mu1) = EmbedStats.leadingPC(df, "v", dim = 6)
    val (vecs, vals, mu) = EmbedStats.topPCs(df, "v", dim = 6, k = 3)
    assert(math.abs(vals(0) - lam1) < 1e-8 * math.max(1.0, lam1),
      s"lambda1 ${vals(0)} vs power-iteration $lam1")
    val dot = vecs(0).zip(e1).map { case (x, y) => x * y }.sum
    assert(math.abs(math.abs(dot) - 1.0) < 1e-6, s"PC1 misaligned: |dot|=$dot")
    assert(mu.zip(mu1).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // descending spectrum, orthogonal components
    assert(vals(0) >= vals(1) && vals(1) >= vals(2))
    val d01 = vecs(0).zip(vecs(1)).map { case (x, y) => x * y }.sum
    assert(math.abs(d01) < 1e-9, s"PC0/PC1 not orthogonal: $d01")
  }

  test("whiten: population variance along each retained axis is 1") {
    val rnd = new scala.util.Random(23L)
    val rows = Seq.fill(500)(Array.tabulate(4)(i =>
      (if (i == 0) 4.0 else if (i == 1) 2.0 else 0.5) * rnd.nextGaussian())
      .map(_.toFloat))
    val df = rows.map(Tuple1(_)).toDF("v")
    val (vecs, vals, mu) = EmbedStats.topPCs(df, "v", dim = 4, k = 2)
    val z = EmbedStats.whiten(df, "v", vecs, vals, mu, roundTo = 9)
    val stats = z.agg(
      avg($"z0").as("m0"), avg($"z0" * $"z0").as("s0"),
      avg($"z1").as("m1"), avg($"z1" * $"z1").as("s1")).head()
    // var_pop(z_j) = E[z²] − E[z]² must be 1 by construction (rounding at
    // 1e-9 leaves ~1e-8 slack after the sums)
    val v0 = stats.getDouble(1) - stats.getDouble(0) * stats.getDouble(0)
    val v1 = stats.getDouble(3) - stats.getDouble(2) * stats.getDouble(2)
    assert(math.abs(v0 - 1.0) < 1e-6, s"var(z0)=$v0")
    assert(math.abs(v1 - 1.0) < 1e-6, s"var(z1)=$v1")
  }

  test("robustScale: hand quartiles, zero-IQR dim scales to NULL") {
    // dim0: 1..5 -> q1=2, med=3, q3=4, iqr=2; dim1 constant -> NULL
    val rows = (1 to 5).map(v => Array(v.toFloat, 7f))
    val df = rows.map(Tuple1(_)).toDF("v")
    val (med, iqr) = EmbedStats.robustScaleStats(df, "v", dim = 2)
    assert(med.toSeq === Seq(3.0, 7.0))
    assert(iqr.toSeq === Seq(2.0, 0.0))
    val z = EmbedStats.applyRobustScale(df, "v", med, iqr)
      .select(element_at($"robust", 1).as("z0"), element_at($"robust", 2).as("z1"))
      .orderBy("z0").collect()
    assert(z.map(_.getDouble(0)).toSeq === Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
    assert(z.forall(_.isNullAt(1)), "constant dim must scale to NULL")
  }

  test("topPCs: determinism — two runs export identical bits") {
    val rnd = new scala.util.Random(5L)
    val rows = Seq.fill(100)(Array.fill(5)(rnd.nextGaussian().toFloat))
    val df = rows.map(Tuple1(_)).toDF("v")
    val (v1, l1, _) = EmbedStats.topPCs(df, "v", dim = 5, k = 3)
    val (v2, l2, _) = EmbedStats.topPCs(df, "v", dim = 5, k = 3)
    assert(l1.toSeq == l2.toSeq)
    assert(v1.map(_.toSeq).toSeq == v2.map(_.toSeq).toSeq)
  }

  test("rankGrid + rankTransform: ascending grids, every row bucketed, no bucket over a quarter") {
    // 8 trained dims over 3000 vectors with ties (1000 distinct values):
    // the discrete grids ascend, every (row, dim) lands in a non-null
    // bucket, and bucket occupancy follows the quantile ladder
    val n = 3000L
    val dim = 8
    val vecs = spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(xxhash64($"id", i), lit(1000L)).cast("double") / 1000.0).as("embedding"))
    val grid = EmbedStats.rankGrid(vecs, "embedding")
    assert(grid.keySet == (0 until dim).toSet)
    grid.foreach { case (d, g) =>
      assert(g.length >= 2 && g.length <= 19, s"dim $d grid size ${g.length}")
      assert(g.zip(g.tail).forall { case (x, y) => x < y }, s"dim $d grid not ascending")
    }
    val cells = EmbedStats.rankTransform(vecs, "vec_id", "embedding", grid)
      .groupBy($"dim_idx", $"q_bucket")
      .agg(count(lit(1)).as("c"), avg($"qscore").as("qs"))
      .collect().map(r => (r.getInt(0), Option(r.get(1)), r.getLong(2), Option(r.get(3))))
    assert(!cells.exists(_._2.isEmpty), "NULL bucket on a trained dim")
    assert(cells.map(_._3).sum == n * dim, "bucket counts don't cover rows")
    for (d <- 0 until dim) {
      val cs = cells.filter(_._1 == d)
      assert(cs.length >= grid(d).length, s"dim $d: ${cs.length} buckets")
      assert(cs.map(_._3).max <= n / 4, s"dim $d: a bucket holds >25%")
      val meanQs = cs.map(c => c._4.get.asInstanceOf[Double] * c._3).sum / n
      assert(meanQs > 0.35 && meanQs < 0.65, s"dim $d mean qscore $meanQs")
    }
  }
}

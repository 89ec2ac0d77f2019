package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one k-means trainer of the vector indexes: spherical for IVF
  * centroids ([[Similarity.ivfCentroids]]), Euclidean for PQ codebooks
  * ([[PQ.pqCodebooks]]). Both train on the driver, on either a bounded
  * ordered sample of the corpus or a k-means‖ coreset drawn from all of it
  * ([[coreset]]).
  *
  * The trainer is weighted: k-means++ seeding picks with probability
  * ∝ w·dist, `iters` Lloyd rounds assign each point to its nearest
  * centroid (the lowest index on ties) and update each cell from its
  * weighted sum, and an empty cell is reseeded to the point with the
  * largest weighted misfit. Zero-weight points are dropped up front (no
  * corpus point elected them). A sample trains with every weight 1, and
  * `1.0·x == x`, so its centroids are the unweighted trainer's bit for bit.
  * Everything is seeded and order-stable, so training is reproducible.
  */
private[pipeline] object KMeans {

  /** The seed of every trainer: training is a pure function of the corpus. */
  val Seed = 42L

  /** How a point meets a centroid. */
  sealed abstract class Metric {

    /** The seeding distance and the reseed misfit. */
    def dist(p: Array[Double], c: Array[Double]): Double

    /** The index of `p`'s nearest centroid, the lowest on ties. */
    def nearest(p: Array[Double], cs: Array[Array[Double]]): Int

    /** A cell's centroid from its weighted sum and its total weight. */
    def update(sum: Array[Double], weight: Double): Array[Double]
  }

  /** Euclidean: d², the strict-`<` argmin, the weighted mean. */
  case object L2 extends Metric {
    def dist(p: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < p.length) { val d = p(i) - c(i); s += d * d; i += 1 }
      s
    }
    def nearest(p: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bd = dist(p, cs(0)); var c = 1
      while (c < cs.length) {
        val d = dist(p, cs(c))
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    def update(sum: Array[Double], weight: Double): Array[Double] = sum.map(_ / weight)
  }

  /** Spherical, on unit vectors: 1 − dot, the strict-`>` argmax of the
    * dot product, the normalized sum.
    */
  case object Cosine extends Metric {
    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def dist(p: Array[Double], c: Array[Double]): Double = 1.0 - dot(p, c)
    def nearest(p: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestSim = dot(p, cs(0)); var c = 1
      while (c < cs.length) {
        val s = dot(p, cs(c))
        if (s > bestSim) { bestSim = s; best = c }
        c += 1
      }
      best
    }
    def update(sum: Array[Double], weight: Double): Array[Double] = normalize(sum)
  }

  /** `v / |v|`; the zero vector stays zero. */
  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v.clone() else v.map(_ / n)
  }

  /** The trainers' shared preamble. Vectors are cast to `(__id long,
    * __v array<double>)`, and null, null-element and empty vectors are
    * excluded before sampling (they could not vote a centroid). With
    * `sampleSize` set, the first `max(n, minRows)` of them in `xxhash64(id)`
    * order (a top-K job, not a full sort) are collected: `Left(sample)`.
    * With `None` the prepared frame is returned for a [[coreset]]:
    * `Right(prepared)`.
    */
  def input(df: DataFrame, idCol: String, vecCol: String, sampleSize: Option[Int],
      minRows: Int, what: String): Either[Array[Array[Double]], DataFrame] = {
    val prepared = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull &&
        !exists(col("__v"), e => e.isNull) && size(col("__v")) > 0)
    sampleSize match {
      case None => Right(prepared)
      case Some(n) =>
        val sample = prepared
          .orderBy(xxhash64(col("__id")), col("__id"))
          .limit(math.max(n, minRows))
          .collect()
          .map(r => r.getSeq[Double](1).toArray)
        require(sample.nonEmpty, s"cannot train $what on an empty corpus")
        Left(sample)
    }
  }

  /** Weighted k-means of `pts` into at most `k` centroids (see the object
    * doc). `wts(i)` is the weight of `pts(i)`.
    */
  def train(pts: Array[Array[Double]], wts: Array[Long], k: Int, iters: Int,
      seed: Long, metric: Metric): Array[Array[Double]] = {
    val keep = pts.indices.filter(i => wts(i) > 0).toArray
    val p    = keep.map(pts(_))
    val w    = keep.map(wts(_).toDouble)
    require(p.nonEmpty, "no training point has a positive weight")
    val kk  = math.min(k, p.length)
    val rnd = new scala.util.Random(seed)
    val centroids = new Array[Array[Double]](kk)
    centroids(0) = p(rnd.nextInt(p.length)).clone()
    val bestD = p.map(metric.dist(_, centroids(0)))
    for (c <- 1 until kk) {
      val scores = Array.tabulate(p.length)(i => w(i) * bestD(i))
      val total  = scores.sum
      val pick =
        if (total <= 0) rnd.nextInt(p.length)
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < p.length - 1 && r > scores(i)) { r -= scores(i); i += 1 }
          i
        }
      centroids(c) = p(pick).clone()
      var i = 0
      while (i < p.length) {
        val d = metric.dist(p(i), centroids(c))
        if (d < bestD(i)) bestD(i) = d
        i += 1
      }
    }
    val assign = new Array[Int](p.length)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < p.length) { assign(i) = metric.nearest(p(i), centroids); i += 1 }
      val sums   = Array.fill(kk)(new Array[Double](p.head.length))
      val counts = new Array[Double](kk)
      i = 0
      while (i < p.length) {
        val c = assign(i); counts(c) += w(i)
        var j = 0
        while (j < p(i).length) { sums(c)(j) += w(i) * p(i)(j); j += 1 }
        i += 1
      }
      for (c <- 0 until kk) {
        if (counts(c) > 0) centroids(c) = metric.update(sums(c), counts(c))
        else {
          val worst = p.indices.maxBy(i => w(i) * metric.dist(p(i), centroids(assign(i))))
          centroids(c) = p(worst).clone()
        }
      }
    }
    centroids
  }

  /** k-means‖ distributed oversampling (Bahmani, Moseley, Vattani, Kumar &
    * Vassilvitskii, "Scalable K-Means++", VLDB 2012): a few rounds, each
    * sampling every point independently with probability
    * `min(1, ℓ·d²(x,C)/φ)` against the CURRENT candidate set, give an
    * O(ℓ·rounds)-point coreset whose weighted k-means solution matches
    * k-means++ quality — while the driver only ever sees the coreset, not
    * a fixed-size corpus sample. This is the 100 TB trainer: a 4096-row
    * sample under-fits 1024 cells on a diverse corpus; the coreset's
    * candidates are drawn from the FULL corpus, cost-weighted.
    *
    * Determinism: the per-point coin is `xxhash64(id, seed+round)` mapped
    * to [0,1) — no RNG state, so the same corpus + seed always selects the
    * same candidates; collects are ordered by id. Each round's distance
    * update is incremental (`d²' = min(d², d² to the NEW candidates)`, one
    * narrow [[graft.functions.NearestCentroid]] map over a re-materialized
    * frame), so a round costs O(ℓ·dim) per row, not O(|C|·dim).
    *
    * Returns (candidates, weights): weight = number of corpus points whose
    * nearest candidate it is (the one O(|C|·dim) pass, at the end).
    */
  def coreset(
      prepared: DataFrame,
      ell: Int,
      rounds: Int,
      seed: Long): (Array[Array[Double]], Array[Long]) = {
    require(ell > 0 && rounds > 0, s"bad coreset params: ell=$ell rounds=$rounds")
    import graft.functions.NearestCentroid.nearestCentroid
    val firstRows = prepared.orderBy(xxhash64(col("__id"), lit(seed)), col("__id"))
      .limit(1).select(col("__v")).collect()
    require(firstRows.nonEmpty, "cannot build a coreset from an empty corpus")
    val first = firstRows(0).getSeq[Double](0).toArray
    val cands = scala.collection.mutable.ArrayBuffer[Array[Double]](first)
    var state = Dedup.materializeOnce(prepared.withColumn("__d2",
      nearestCentroid(col("__v"), Array(first)).getField("d2")))
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val phiRow = state.agg(sum(col("__d2"))).head()
      val phi    = if (phiRow.isNullAt(0)) 0.0 else phiRow.getDouble(0)
      if (phi <= 0) exhausted = true // every point IS a candidate already
      else {
        // u in [0,1) from a per-(id, round) hash; select iff u < ℓ·d²/φ
        val u = (xxhash64(col("__id"), lit(seed + r)).bitwiseAND(lit(Long.MaxValue)))
          .cast("double") / 9.223372036854776e18
        val picked = state.filter(u * lit(phi) < col("__d2") * lit(ell.toDouble))
          .orderBy(col("__id")).select(col("__v")).collect()
          .map(_.getSeq[Double](0).toArray)
        if (picked.isEmpty) exhausted = true
        else {
          cands ++= picked
          state = Dedup.materializeOnce(state.withColumn("__d2",
            least(col("__d2"), nearestCentroid(col("__v"), picked).getField("d2"))))
        }
      }
      r += 1
    }
    val all = cands.toArray
    val wRows = state
      .select(nearestCentroid(col("__v"), all).getField("idx").as("__idx"))
      .groupBy(col("__idx")).agg(count(lit(1)).as("__w"))
      .collect()
    val weights = new Array[Long](all.length)
    wRows.foreach(r => weights(r.getInt(0)) = r.getLong(1))
    (all, weights)
  }
}

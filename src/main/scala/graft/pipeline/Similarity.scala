package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline is brute-force cosine top-k (exact); the scale paths are
  * random-hyperplane LSH bucketing and a centroid-partitioned IVF. All
  * vector math uses `zip_with`/`aggregate` builtins in double precision —
  * codegen'd, no UDF boxing.
  *
  * Scale shape: brute force is a broadcast nested loop (queries broadcast,
  * corpus streamed — linear in corpus size, embarrassingly parallel).
  * LSH/IVF turn that into a bucket-equijoin so the per-query cost is the
  * bucket size, not the corpus.
  */
object Similarity {

  /** Dot product of two array columns in double precision (sequential
    * left-to-right summation — deterministic). Native single-pass
    * expression; the builtin equivalent is
    * `aggregate(zip_with(a,b,(x,y)->x*y), 0d, +)`.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native single-pass expression
    * ([[graft.functions.CosineSim]]), bit-identical to
    * `dot(a,b)/(norm(a)*norm(b))` (same sequential double summation).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** The decimals every score and similarity here is rounded to before it
    * is ranked or compared, the rounding the relational oracles mirror: an
    * unrounded ranking would let another engine's float summation order
    * flip knife-edge ties.
    */
  private[pipeline] val ScoreDecimals = 6

  /** Each query's `k` best pairs: `scoreCol` is `score` rounded to
    * [[ScoreDecimals]], ranked by (score desc, neighbor id asc). `pairs`
    * holds `query_id` and `neighbor_id`; the result is (query_id,
    * neighbor_id, scoreCol, rank). The rank predicate is on the raw
    * `row_number`, so a WindowGroupLimit keeps the per-query top-k before
    * the exchange.
    */
  private[pipeline] def rankedTopK(pairs: DataFrame, scoreCol: String, score: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id").asc)
    pairs.withColumn(scoreCol, round(score, ScoreDecimals))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(scoreCol),
        col("rank").cast("long").as("rank"))
  }

  /** Exact brute-force top-k by cosine: for every row of `queries`, the `k`
    * nearest rows of `corpus` (excluding self-matches by id). Rank by
    * (rounded cosine desc, corpus id asc) so ordering is stable across
    * engines despite float summation differences.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    rankedTopK(c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id")),
      "cosine", cosine(col("__qv"), col("__cv")), k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedy k-step selection maximizing
    *
    *   score(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * (diversity term 0 for the empty selection; ties broken by id asc) —
    * the result-diversification pass run on a retrieval arm's top-k.
    *
    * Scale shape: MMR is inherently sequential — every pick changes every
    * remaining candidate's score — so the GREEDY WALK runs on the driver,
    * while everything that scales stays distributed: candidate generation
    * is whatever bounded top-k produced `candidates`, and the pairwise
    * similarity matrix is computed IN SPARK (one bounded self-join over
    * the ≤`maxCandidates` rows, broadcast both sides) and rounded to
    * [[ScoreDecimals]] BEFORE the walk, so an independent engine replaying the
    * same rounded inputs makes bit-identical picks (the raw greedy
    * arithmetic is then the same IEEE ops on the same doubles). The
    * candidate set is bounded BY CONTRACT; `maxCandidates` fails loudly
    * if a caller points this at a corpus.
    *
    * Returns (rank, id, rel, mmr) for the k selected candidates in pick
    * order, `mmr` rounded to [[ScoreDecimals]] (signed zero normalized).
    */
  def mmrRerank(
      candidates: DataFrame,
      idCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lambda: Double,
      maxCandidates: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0, 1]: $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val cv = Dedup.materializeOnce(candidates.select(
      col(idCol).cast("long").as("id"), col(relCol).cast("double").as("rel"),
      col(vecCol).as("__v")))
    val rels = cv.select(col("id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    require(rels.length <= maxCandidates,
      s"mmrRerank: ${rels.length} candidates exceed maxCandidates=$maxCandidates — " +
        "this is a re-ranker for a bounded retrieval arm, not a corpus pass")
    // non-finite scores poison the greedy argmax (every `>` comparison is
    // false, leaving no pick) — fail loudly like the maxCandidates guard
    rels.find(r => !java.lang.Double.isFinite(r._2)).foreach { case (id, rel) =>
      throw new IllegalArgumentException(
        s"mmrRerank: non-finite relevance $rel for candidate $id")
    }
    val relOf = rels.toMap
    val sims = cv.as("x")
      .join(broadcast(cv.as("y")), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(cosine(col("x.__v"), col("y.__v")), ScoreDecimals).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sims.find(s => !java.lang.Double.isFinite(s._2)).foreach { case ((a, b), s) =>
      throw new IllegalArgumentException(
        s"mmrRerank: non-finite cosine $s for pair ($a, $b) — " +
          "a zero-norm candidate vector has no cosine; filter such rows out")
    }
    val remaining = scala.collection.mutable.SortedSet[Long](relOf.keys.toSeq: _*)
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
    val steps = math.min(k, rels.length)
    for (step <- 1 to steps) {
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      remaining.foreach { c =>
        val ms = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => sims((c, s))).max
        val score = lambda * relOf(c) - (1.0 - lambda) * ms
        // strict > plus ascending-id iteration = (score desc, id asc)
        if (score > bestScore) { bestScore = score; bestId = c }
      }
      remaining -= bestId
      selected += bestId
      picks += ((step, bestId, relOf(bestId),
        graft.functions.Num.roundHalfUp(bestScore, ScoreDecimals)))
    }
    picks.toSeq.toDF("rank", "id", "rel", "mmr")
  }

  /** All corpus pairs with cosine >= threshold (embedding near-dup). Exact;
    * O(n²) — restrict the inputs or use [[lshPairs]] at scale.
    */
  def thresholdPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("__va"), col("__vb")), ScoreDecimals))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Deterministic random hyperplanes: `numPlanes` x `dim`, seeded. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Hyperplane count that keeps expected bucket occupancy near
    * `targetBucketSize` for a corpus of `n` vectors: candidate-pair work per
    * bucket is O(occupancy²), so bits must grow with log₂(n) — a fixed bit
    * width that is fine at 10⁵ vectors quietly goes quadratic at 10⁷.
    */
  def lshBitsFor(n: Long, targetBucketSize: Int = 32): Int = {
    require(targetBucketSize > 0)
    if (n <= 0) 4 // empty corpus: minimum width (no pairs exist anyway)
    else {
      val bits = math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2)).toInt
      math.min(30, math.max(4, bits))
    }
  }

  /** Sign-random-projection LSH bucket id for each vector: bit b set iff
    * dot(vec, plane_b) > 0. Vectors in the same bucket are near in angle.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed near-neighbor pairs: only pairs sharing a bucket under at
    * least one of `tables` independent plane sets are compared, then exact
    * cosine filters at `threshold`.
    */
  def lshPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bitsPerTable: Int = 12,
      tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    // (id, table, bucket) only — the vectors are re-attached from `df` for
    // verification below. Materialized once: the bucket computation is
    // tables × bits dot products per vector, and AQE would otherwise
    // descend it once per self-join side (Dedup.materializeOnce scaladoc).
    val bucketed = Dedup.materializeOnce(df.select(
      col(idCol),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("table"),
          lshBucket(col(vecCol), hyperplanes(dim, bitsPerTable, seed + t)).as("bucket"))
      }: _*)).as("tb"))
      .select(col(idCol), col("tb.table"), col("tb.bucket")))

    // Dedup candidate pairs on the narrow (id, id) key, then join the
    // vectors back for verification — running distinct() with the embedding
    // arrays as grouping keys would shuffle and compare full vectors.
    val a = bucketed.select(col(idCol).as("id_a"), col("table"), col("bucket"))
    val b = bucketed.select(col(idCol).as("id_b"), col("table"), col("bucket"))
    val cands = Dedup.materializeOnce(
      a.join(b, Seq("table", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct())
    // Vectors re-attached candidate-bounded: semi-join the corpus to the ids
    // that appear in some candidate pair, materialize once, feed both sides
    // — the full-width embedding column is read from parquet exactly once.
    val ids = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val vecs = Dedup.materializeOnce(
      df.select(col(idCol), col(vecCol)).join(ids, Seq(idCol), "left_semi"))
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("__va"), col("__vb")), ScoreDecimals))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Train `nCells` IVF centroids with spherical k-means ([[KMeans]]) on
    * L2-normalized vectors. Returned cell ids are 0..nCells-1.
    *
    * With `sampleSize` set, training runs on a bounded, deterministic
    * driver-side sample: the first `sampleSize` vectors in `xxhash64(id)`
    * order. With `None`, it runs on a k-means‖ coreset drawn from the full
    * corpus ([[KMeans.coreset]]): the corpus votes cost-weighted
    * candidates, the driver only ever holds ~`oversample`·`rounds` of them,
    * and the weighted trainer runs on that coreset — the trainer shape for
    * corpora whose diversity a fixed 4096-row sample under-fits.
    *
    * Empty cells are reseeded to the worst-fit point, so all `nCells` cells
    * stay live: balanced cells are what keep the per-cell probe join
    * sub-quadratic at corpus scale. Everything is seeded and the sample
    * order is data-determined, so centroids are reproducible across runs.
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, sampleSize: Option[Int] = Some(4096), iters: Int = 8,
      oversample: Int = 2048, rounds: Int = 5): Array[(Long, Array[Double])] = {
    require(nCells > 0, "nCells must be positive")
    val cents = KMeans.input(df, idCol, vecCol, sampleSize, nCells, "IVF centroids") match {
      case Left(sample) =>
        KMeans.train(sample.map(KMeans.normalize), Array.fill(sample.length)(1L), nCells,
          iters, KMeans.Seed, KMeans.Cosine)
      case Right(prepared) =>
        // the coreset is drawn on the normalized vectors: Euclidean d² on the
        // unit sphere is 2(1−cos), so the oversampling is exactly the
        // angular-distance version of the spherical objective
        val sq = aggregate(transform(col("__v"), x => x * x), lit(0.0), (a, b) => a + b)
        val normed = Dedup.materializeOnce(prepared.withColumn("__v",
          when(sq === 0.0, col("__v"))
            .otherwise(transform(col("__v"), x => x / sqrt(sq)))))
        val (cands, wts) = KMeans.coreset(normed, oversample, rounds, KMeans.Seed)
        KMeans.train(cands, wts, nCells, iters, KMeans.Seed, KMeans.Cosine)
    }
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  /** Persist trained IVF centroids as a small parquet artifact — (cell_id,
    * dim_idx, value) scalars, the export convention the relational oracles
    * reassemble with `list(... ORDER BY dim_idx)`. Same artifact boundary
    * as [[PQ.saveCodebooks]]: train once per corpus snapshot; assignment /
    * probe jobs load the KB-scale artifact instead of re-running k-means.
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[(Long, Array[Double])], path: String): Unit = {
    import spark.implicits._
    val rows = centroids.toSeq.flatMap { case (id, vec) =>
      vec.zipWithIndex.toSeq.map { case (x, d) => (id, d, x) }
    }
    rows.toDF("cell_id", "dim_idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load centroids persisted by [[saveCentroids]] (bounded collect: one
    * scalar row per centroid dimension).
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Long, Array[Double])] = {
    val rows = spark.read.parquet(path)
      .select(col("cell_id").cast("long"), col("dim_idx").cast("int"),
        col("value").cast("double"))
      .collect()
    require(rows.nonEmpty, s"empty IVF centroid artifact at $path")
    rows.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (id, rs) =>
      val vec = new Array[Double](rs.iterator.map(_.getInt(1)).max + 1)
      java.util.Arrays.fill(vec, Double.NaN)
      rs.foreach(r => vec(r.getInt(1)) = r.getDouble(2))
      require(vec.forall(!_.isNaN),
        s"IVF centroid artifact at $path has a sparse dim grid for cell $id")
      (id, vec)
    }
  }

  /** Nearest-centroid cell id as a single codegen'd column expression.
    * The similarity is rounded to 6 decimals before the argmax (ties then
    * break to the smallest cell id): an unrounded argmax would let a
    * different engine's float summation order flip near-tie assignments,
    * which is exactly what the cross-engine cell-assignment oracle
    * re-derives.
    */
  def ivfCellExpr(vecCol: String, centroids: Array[(Long, Array[Double])]): Column =
    // r8: one native argmax kernel with the centroid table as a codegen
    // reference object — the former array_max(array(struct(cosine(v, lit
    // cᵢ))…)) tree is linear in |cells| and passes the JVM 64 KB method
    // limit around ~1k cells (observed at the 200k-vector crossover),
    // dropping the scan to interpreted eval. Bit-identical pick order
    // (rounded sim desc, smallest id) — pinned by SimilaritySpec.
    graft.functions.NearestCell.nearestCell(col(vecCol), centroids)
      .getField("cell_id")

  /** Adds `cell_id`, the nearest of the trained `centroids` ([[ivfCellExpr]]).
    * Training is a separate, deterministic step ([[ivfCentroids]]): callers
    * deriving several frames from one index train once and thread the
    * centroids through.
    */
  def ivfAssign(
      df: DataFrame,
      vecCol: String,
      centroids: Array[(Long, Array[Double])]): DataFrame =
    df.withColumn("cell_id", ivfCellExpr(vecCol, centroids))

  /** Assignment plus the winning (rounded) centroid similarity itself —
    * one codegen scan emitting both `cell_id` and `centroid_sim`. The sim
    * is what SemDeDup-style keep policies rank on (drop the cluster
    * members MOST typical of the centroid, keep the least — Abbas et al.
    * 2023, arXiv:2303.09540 §3), so exporting it next to the assignment
    * saves consumers a second argmax pass over the centroid table.
    */
  def ivfAssignWithSim(
      df: DataFrame,
      vecCol: String,
      centroids: Array[(Long, Array[Double])]): DataFrame = {
    val best = graft.functions.NearestCell.nearestCell(col(vecCol), centroids)
    df.withColumn("__best", best)
      .withColumn("cell_id", col("__best").getField("cell_id"))
      .withColumn("centroid_sim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** Query's `nProbe` nearest cell ids (descending centroid similarity,
    * same rounded-sim + smallest-id tie rule as [[ivfCellExpr]] — probing
    * 1 cell is exactly the argmax assignment).
    */
  def ivfProbeCellsExpr(
      vecCol: String,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int): Column =
    // r8: native top-nProbe kernel ([[graft.functions.ProbeCells]]) — the
    // former slice(sort_array(array(struct…))) tree had the same linear-
    // in-|cells| 64 KB codegen hazard as the assignment argmax; pick order
    // (rounded sim desc, smallest id) is unchanged and spec-pinned
    graft.functions.ProbeCells.probeCells(col(vecCol), centroids, nProbe)

  /** IVF top-k against trained centroids: each query searches only the
    * corpus rows of its `nProbe` nearest cells.
    *
    * `nProbe` is the standard recall lever: the query searches its
    * `nProbe` nearest cells instead of only its own (corpus vectors stay
    * single-cell, so candidates stay disjoint across probes and the
    * shuffle grows linearly in nProbe, not quadratically). Probing every
    * cell IS brute force — the spec pins that equivalence exactly.
    */
  def ivfTopK(
      df: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    // Centroids trained/collected once; the corpus-wide assignment
    // expression runs in exactly one pass. Queries are assigned from their
    // OWN vectors (the query frame needn't be a corpus subset — external
    // query tables work, and a query id coinciding with a corpus id never
    // silently swaps in the corpus vector).
    val cellOf    = ivfCellExpr(vecCol, centroids)
    val qAssigned = queries.select(col(idCol), col(vecCol))
      .withColumn("cell_id",
        explode(ivfProbeCellsExpr(vecCol, centroids, nProbe)))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cell_id"))
    val c = df.withColumn("cell_id", cellOf)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("cell_id"))
    rankedTopK(c.join(broadcast(qAssigned), Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id")),
      "cosine", cosine(col("__qv"), col("__cv")), k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most cosine-similar corpus rows whose `labelCol` DIFFERS from
    * the query's — maximally confusable negatives, the pairs that
    * actually move an embedding model (easy random negatives carry ~zero
    * gradient). Same exact/brute arm shape as [[bruteForceTopK]]: the
    * bounded query set broadcasts, the corpus streams through one scan,
    * the per-query top-k ranks inside the query-partitioned window. For
    * web-scale corpora swap the candidate arm for [[ivfTopK]] and filter
    * labels post-hoc (over-fetch k' > k), exactly like the mutual-kNN
    * composition.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(labelCol).as("__cl"))
    rankedTopK(c.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id") && !(col("__ql") <=> col("__cl"))),
      "cosine", cosine(col("__qv"), col("__cv")), k)
  }

  /** Mutual k-NN graph: the undirected edge (a, b) exists iff b is in a's
    * cosine top-k AND a is in b's — the standard sparsification before
    * density-based clustering (mutual edges drop the hub/antihub
    * asymmetry that plain k-NN graphs suffer in high dimension). Emits
    * canonical (id_a < id_b) pairs with the rounded cosine.
    *
    * The top-k arm is pluggable: pass [[bruteForceTopK]] output for an
    * exact graph (as the oracle-checked query does, on a bounded sample)
    * or [[ivfTopK]]'s for the approximate scale path — mutuality is the
    * same self-join either way, on the (query, neighbor) pair key.
    */
  def mutualKnnGraph(topk: DataFrame): DataFrame = {
    val fwd = topk.select(col("query_id").as("a"), col("neighbor_id").as("b"),
      col("cosine"))
    val rev = topk.select(col("query_id").as("b"), col("neighbor_id").as("a"))
    fwd.join(rev, Seq("a", "b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cosine"))
  }
}

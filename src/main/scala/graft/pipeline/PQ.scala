package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the compression half
  * of the standard billion-scale ANN layout (IVF-PQ: Jégou, Douze &
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011; FAISS `IndexIVFPQ` and Spark-ecosystem ports are the public
  * analogs).
  *
  * The vector space is split into `nSubq` contiguous subspaces of
  * `dim / nSubq` dimensions; each subspace gets its own small Euclidean
  * k-means codebook (`nCentroids` entries), and a vector is stored as
  * `nSubq` small codes — 64 float dims become 8 bytes at the default
  * shape, a 32× compression that is what lets a 100 TB embedding corpus
  * sit in cluster memory for scanning. Search uses asymmetric distance
  * computation (ADC): the QUERY keeps its exact vector, and the
  * approximate inner product against a coded corpus row is
  * `Σ_s dot(query_sub_s, codebook_s[code_s])` — a table lookup per
  * subspace, never a decode.
  *
  * Scoring objective is the INNER PRODUCT (MIPS). For cosine search,
  * L2-normalize vectors before training/encoding — inner product on
  * normalized vectors IS cosine; the operator does not normalize
  * implicitly, so the caller's notion of "distance" stays explicit.
  *
  * Scale shape: training is the driver-side [[KMeans]] trainer that also
  * trains [[Similarity.ivfCentroids]], on a bounded ordered sample or a
  * k-means‖ coreset. Encoding is one narrow codegen'd map over the corpus
  * (no shuffle, no UDF). ADC top-k broadcasts the (small) query side and
  * linearly scans the coded corpus — compose with IVF cell pruning
  * ([[Similarity.ivfAssign]]) to scan only probed cells at scale; the two
  * index structures factor cleanly because corpus rows carry both a
  * `cell_id` and a code array.
  *
  * Determinism contract (what makes the relational oracles possible):
  * every argmin/ranking compares ROUNDED
  * ([[Similarity.ScoreDecimals]]-decimal) distances with the
  * smallest centroid/neighbor id breaking ties, exactly like the IVF
  * family — an unrounded argmin would let another engine's float
  * summation order flip knife-edge assignments.
  */
object PQ {

  /** codebooks(s)(c) = centroid `c` of subspace `s` (length `dim/nSubq`). */
  type Codebooks = Array[Array[Array[Double]]]

  /** Train per-subspace Euclidean k-means codebooks ([[KMeans]], subspace
    * `s` seeded `KMeans.Seed + s`). With `sampleSize` set, on a bounded,
    * deterministic driver-side sample (the first `sampleSize` vectors in
    * `xxhash64(id)` order, as [[Similarity.ivfCentroids]] samples). With
    * `None`, on a k-means‖ coreset per subspace ([[KMeans.coreset]]): the
    * full corpus votes cost-weighted candidates, the driver only ever holds
    * ~ℓ·rounds of them, and the weighted trainer runs on that coreset — the
    * trainer shape for corpora whose diversity a fixed 4096-row sample
    * under-fits.
    */
  def pqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nSubq: Int,
      nCentroids: Int = 16,
      sampleSize: Option[Int] = Some(4096),
      iters: Int = 8,
      oversample: Int = 2048,
      rounds: Int = 5): Codebooks = {
    require(nSubq > 0, s"nSubq must be positive: $nSubq")
    require(nCentroids > 1, s"nCentroids must be > 1: $nCentroids")
    def subDim(dim: Int): Int = {
      require(dim % nSubq == 0, s"dim $dim not divisible by nSubq $nSubq")
      dim / nSubq
    }
    KMeans.input(df, idCol, vecCol, sampleSize, nCentroids, "PQ codebooks") match {
      case Left(sample) =>
        val dsub = subDim(sample.head.length)
        Array.tabulate(nSubq) { s =>
          val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
          KMeans.train(pts, Array.fill(pts.length)(1L), nCentroids, iters, KMeans.Seed + s,
            KMeans.L2)
        }
      case Right(prepared) =>
        // the full-width frame is materialized once; every subspace's
        // coreset reads its slice of the cached rows
        val cached = Dedup.materializeOnce(prepared)
        val dsub = subDim(cached.select(size(col("__v"))).head().getInt(0))
        Array.tabulate(nSubq) { s =>
          val sub = cached.select(col("__id"), slice(col("__v"), s * dsub + 1, dsub).as("__v"))
          val (cands, wts) = KMeans.coreset(sub, oversample, rounds, KMeans.Seed + s)
          KMeans.train(cands, wts, nCentroids, iters, KMeans.Seed + s, KMeans.L2)
        }
    }
  }

  /** Persist trained codebooks as a small parquet artifact — (subq,
    * centroid_id, dim_idx, value) scalars, the same export convention the
    * relational oracles reassemble with `list(... ORDER BY dim_idx)`.
    *
    * This is the production artifact boundary (same contract as
    * [[Sketches.hllPartSketches]] and `Dedup.nearDupsAgainstPrior`): train
    * ONCE per corpus snapshot, then every encode/search job — including
    * incremental encodes of new batches — LOADS the ~8 KB artifact instead
    * of re-sampling and re-running k-means. At 100 TB the trainer's sample
    * collect is the only driver-side step; everything downstream is a
    * narrow codegen map, so the artifact is what makes encode restartable
    * and horizontally composable.
    */
  def saveCodebooks(spark: SparkSession, books: Codebooks, path: String): Unit = {
    import spark.implicits._
    val rows = books.zipWithIndex.toSeq.flatMap { case (book, s) =>
      book.zipWithIndex.toSeq.flatMap { case (cent, c) =>
        cent.zipWithIndex.toSeq.map { case (x, d) => (s, c, d, x) }
      }
    }
    rows.toDF("subq", "centroid_id", "dim_idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load codebooks persisted by [[saveCodebooks]]. The artifact is ~1k
    * scalar rows regardless of corpus size, so the collect is bounded.
    */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(path)
      .select(col("subq").cast("int"), col("centroid_id").cast("int"),
        col("dim_idx").cast("int"), col("value").cast("double"))
      .collect()
    require(rows.nonEmpty, s"empty PQ codebook artifact at $path")
    val nSubq = rows.iterator.map(_.getInt(0)).max + 1
    val nCent = rows.iterator.map(_.getInt(1)).max + 1
    val dsub  = rows.iterator.map(_.getInt(2)).max + 1
    val books = Array.fill(nSubq, nCent, dsub)(Double.NaN)
    rows.foreach { r =>
      books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
    }
    require(books.forall(_.forall(_.forall(!_.isNaN))),
      s"PQ codebook artifact at $path is not a dense (subq, centroid, dim) grid")
    books
  }

  /** Code array (one `0..nCentroids-1` code per subspace) for `vec`:
    * per subspace, the argmin of ROUNDED squared L2 distance, smallest
    * centroid id on ties. NULL input propagates NULL.
    *
    * Delegates to the native codegen kernel
    * ([[graft.functions.PQEncodeCodes]]): the declarative higher-order-
    * function formulation ([[pqEncodeExprDeclarative]], kept as the
    * oracle-shaped reference) evaluates its lambdas interpreted per array
    * element — ~0.65 ms/vector at the 8×16×8 shape, a non-starter for a
    * billion-vector corpus. `PQSpec` pins native ≡ declarative bit-exact.
    */
  def pqEncodeExpr(vec: Column, codebooks: Codebooks): Column =
    graft.functions.PQKernels.pqEncodeCodes(vec, codebooks)

  /** Reference formulation of [[pqEncodeExpr]] in pure `functions._`
    * combinators — the association and rounding the DuckDB oracles mirror,
    * and the spec baseline the native kernel is pinned against.
    */
  def pqEncodeExprDeclarative(vec: Column, codebooks: Codebooks): Column = {
    val codes = codebooks.zipWithIndex.map { case (book, s) =>
      val dsub = book.head.length
      val bookLit = array(book.map(c => array(c.map(lit): _*)): _*)
      val sub = slice(vec, s * dsub + 1, dsub)
      // same sequential (x−y)² fold + round(…, 6) the oracle mirrors
      val dists = transform(bookLit, c =>
        round(aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
      // argmin, smallest centroid id on ties: strict < keeps the first
      // (lowest-id) minimum while folding in index order
      val indexed = zip_with(dists, sequence(lit(0), lit(book.length - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))
      val best = aggregate(indexed,
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
        (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc))
      best.getField("i").cast("int")
    }
    // struct comparison would NOT propagate a null vector (a struct with a
    // null field is still a comparable struct), so guard explicitly
    when(vec.isNotNull, array(codes.toSeq: _*))
  }

  /** Adds `pq_codes` (array<int>, one code per subspace). */
  def pqEncode(df: DataFrame, vecCol: String, codebooks: Codebooks): DataFrame =
    df.withColumn("pq_codes", pqEncodeExpr(col(vecCol), codebooks))

  /** ADC approximate inner product of exact query vector `qv` against a
    * coded corpus row: `Σ_s dot(qv_sub_s, codebook_s[codes_s])`. Table
    * lookups into literal codebooks — pure codegen, no decode, no UDF.
    */
  def adcScoreExpr(qv: Column, codes: Column, codebooks: Codebooks): Column =
    // native codegen kernel; [[adcScoreExprDeclarative]] is the reference
    // formulation, spec-pinned bit-exact against this one
    graft.functions.PQKernels.pqAdcScore(qv, codes, codebooks)

  /** Reference formulation of [[adcScoreExpr]] in pure combinators. */
  def adcScoreExprDeclarative(qv: Column, codes: Column, codebooks: Codebooks): Column = {
    val terms = codebooks.zipWithIndex.map { case (book, s) =>
      val dsub = book.head.length
      // literal [centroid][dim] table for subspace s, indexed by the code
      val bookLit = array(book.map(c => array(c.map(lit): _*)): _*)
      val cent = element_at(bookLit, element_at(codes, s + 1) + 1)
      aggregate(
        zip_with(slice(qv, s * dsub + 1, dsub), cent, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    }
    terms.reduce(_ + _)
  }

  /** IVF-PQ top-k — the standard billion-scale ANN layout (FAISS
    * `IndexIVFPQ`): the corpus is assigned to IVF cells AND PQ-coded in
    * one narrow pass; each query probes its `nProbe` nearest cells
    * ([[Similarity.ivfProbeCellsExpr]], rounded-cosine + smallest-id tie
    * rule) and scores ONLY those cells' rows via ADC table lookups. Both
    * levers factor cleanly: nProbe bounds the fraction of the corpus
    * touched, PQ bounds the bytes per row touched — at 100 TB the scan
    * reads `nProbe/nCells` of an 8-bytes-per-vector index instead of the
    * full float corpus.
    *
    * The join is an equijoin on `cell_id` with the (small) exploded query
    * side broadcast — corpus rows never shuffle, and the per-query top-k
    * runs as a partial WindowGroupLimit before the single exchange.
    * Probing every cell with lossless codebooks IS exact brute-force
    * ranking — the spec pins that composition identity.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int,
      codebooks: Codebooks): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    val coded = corpus
      .withColumn("cell_id", Similarity.ivfCellExpr(vecCol, centroids))
      .select(col(idCol).as("neighbor_id"), col("cell_id"),
        pqEncodeExpr(col(vecCol), codebooks).as("pq_codes"))
    val q = queries.select(col(idCol), col(vecCol))
      .withColumn("cell_id",
        explode(Similarity.ivfProbeCellsExpr(vecCol, centroids, nProbe)))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cell_id"))
    Similarity.rankedTopK(coded.join(broadcast(q), Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id")),
      "score", adcScoreExpr(col("__qv"), col("pq_codes"), codebooks), k)
  }

  /** Train per-subspace codebooks on the RESIDUALS `x − centroid(cell(x))`
    * — the FAISS `IndexIVFPQ` layout (Jégou et al. TPAMI'11 §IV). Raw-vector
    * codebooks spend their resolution spanning the whole corpus spread;
    * residual codebooks quantize only the within-cell displacement, which
    * is what separates two nearby vectors once the IVF layer has already
    * localized them (planted near-twins are inseparable by raw-vector ADC
    * under code collision; `PQSpec` pins the cut in score error). Residuals are
    * derived declaratively (cell assignment expression + one `zip_with`);
    * training is [[pqCodebooks]] on the residual frame — sampled by
    * default, k-means‖ with `sampleSize = None`.
    */
  def residualCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Array[Double])],
      nSubq: Int,
      nCentroids: Int = 16,
      sampleSize: Option[Int] = Some(4096),
      iters: Int = 8): Codebooks = {
    val cell  = Similarity.ivfCellExpr(vecCol, centroids)
    val resid = zip_with(col(vecCol).cast("array<double>"),
      graft.functions.PQKernels.cellVector(cell, centroids.sortBy(_._1).map(_._2)),
      (a, b) => a - b)
    pqCodebooks(df.select(col(idCol), resid.as("__resid")), idCol, "__resid",
      nSubq, nCentroids, sampleSize, iters)
  }

  /** Adds `cell_id` and `pqr_codes` (residual code array — the native
    * [[graft.functions.PQResidualCodes]] kernel; one narrow codegen map,
    * no shuffle).
    */
  def residualEncode(df: DataFrame, vecCol: String,
      centroids: Array[(Long, Array[Double])], codebooks: Codebooks): DataFrame = {
    val cents = centroids.sortBy(_._1).map(_._2)
    df.withColumn("cell_id", Similarity.ivfCellExpr(vecCol, centroids))
      .withColumn("pqr_codes",
        graft.functions.PQKernels.pqResidualCodes(
          col(vecCol), col("cell_id"), cents, codebooks))
  }

  /** Residual IVF-PQ top-k: `IP(q, x) ≈ IP(q, centroid(cell)) +
    * IP(q, r̂)` where `r̂` is the PQ reconstruction of the residual — the
    * centroid term is computed ONCE per (query, probed cell) on the tiny
    * broadcast side, and the residual term is the same ADC table lookup
    * as [[ivfPqTopK]]. Same join/plan shape as [[ivfPqTopK]] (cell
    * equijoin, corpus never shuffles, WindowGroupLimit top-k) with
    * strictly better fine ranking: quantization error scales with the
    * within-cell spread, not the corpus spread.
    */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int,
      codebooks: Codebooks): DataFrame =
    ivfPqResidualTopKCoded(
      residualCodedFrame(corpus, idCol, vecCol, centroids, codebooks),
      queries, idCol, vecCol, k, centroids, nProbe, codebooks)

  /** The corpus in its PERSISTABLE coded form — `(idCol, cell_id,
    * pqr_codes)`, the IndexIVFPQ inverted-list payload. ENCODE ONCE per
    * corpus snapshot and persist ([[graft.pipeline.Artifacts.save]]);
    * every later search loads instead of re-encoding — a capacity
    * codebook encode is nSubq × nCentroids × subDim multiply-adds PER
    * ROW (16×256×4 = 16k at the production config; measured 27 s of a
    * 28 s search re-encoding a 200k corpus that scores in ~1 s against
    * the artifact).
    */
  def residualCodedFrame(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Array[Double])],
      codebooks: Codebooks): DataFrame = {
    val cents = centroids.sortBy(_._1).map(_._2)
    corpus
      .withColumn("cell_id", Similarity.ivfCellExpr(vecCol, centroids))
      .select(col(idCol).as("neighbor_id"), col("cell_id"),
        graft.functions.PQKernels.pqResidualCodes(
          col(vecCol), col("cell_id"), cents, codebooks).as("pqr_codes"))
  }

  /** [[ivfPqResidualTopK]] against a PRE-CODED corpus (the
    * [[residualCodedFrame]] artifact) — scoring touches only the probed
    * cells' coded rows plus the broadcast queries.
    */
  def ivfPqResidualTopKCoded(
      coded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int,
      codebooks: Codebooks): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    val q = queries.select(col(idCol), col(vecCol))
      .withColumn("cell_id",
        explode(Similarity.ivfProbeCellsExpr(vecCol, centroids, nProbe)))
      // the centroid row comes from a reference-object kernel, NOT a
      // nested array literal: the literal table is |cells|×dim plan nodes
      // that Catalyst re-folds per analysis pass — measured 3-4 s of pure
      // driver time per search at the 1.5k-cell crossover shape
      .withColumn("__cent_ip", graft.functions.VectorDot.vectorDot(
        col(vecCol).cast("array<double>"),
        graft.functions.PQKernels.cellVector(col("cell_id"),
          centroids.sortBy(_._1).map(_._2))))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("cell_id"), col("__cent_ip"))
    Similarity.rankedTopK(coded.join(broadcast(q), Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id")),
      "score", col("__cent_ip") + adcScoreExpr(col("__qv"), col("pqr_codes"), codebooks), k)
  }

  /** The PRODUCTION retrieval composition the recall evidence certifies
    * (RECALL.json: 16×256 residual + re-rank = 0.912 recall@10 vs 0.700
    * raw / 0.17 without re-rank on clustered data): residual IVF-PQ ADC
    * generates `nCandidates` coarse candidates per query, then the TRUE
    * inner product against the raw vectors re-ranks them to `k` — the
    * FAISS IndexIVFPQ + refine layout. ADC under quantization ties
    * cannot order same-cell members; the exact pass restores the true
    * order for every candidate generated.
    *
    * Scale shape: the ADC stage is [[ivfPqResidualTopKCoded]] over `coded`,
    * the persisted [[residualCodedFrame]] of `corpus` (queries broadcast,
    * coded corpus streams, probed-cell pruning, no per-search re-encode);
    * the re-rank
    * touches only queries × nCandidates rows — one broadcast-joined
    * projection + a bounded per-query window, never a corpus pass.
    * Output: (query_id, neighbor_id, score = exact IP rounded, rank).
    */
  def ivfPqResidualRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Long, Array[Double])],
      nProbe: Int,
      codebooks: Codebooks,
      coded: DataFrame,
      nCandidates: Int = 100): DataFrame = {
    require(nCandidates >= k,
      s"nCandidates=$nCandidates must cover k=$k")
    val cand = ivfPqResidualTopKCoded(coded, queries, idCol, vecCol,
      nCandidates, centroids, nProbe, codebooks)
    val rq = queries.select(col(idCol).as("query_id"), col(vecCol).as("__rq"))
    val rc = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__rc"))
    Similarity.rankedTopK(cand.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(rq), Seq("query_id"))
        .join(rc, Seq("neighbor_id")),
      "score", graft.functions.VectorDot.vectorDot(
        col("__rq").cast("array<double>"), col("__rc").cast("array<double>")), k)
  }

  /** ADC top-k: for every query row, the `k` coded corpus rows with the
    * highest approximate inner product (rounded; neighbor id breaks
    * ties), excluding self-matches by id. Queries broadcast; the coded
    * corpus streams — restrict `corpus` to probed IVF cells first at
    * scale ([[ivfPqTopK]] is exactly that composition).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Codebooks): DataFrame =
    pqTopKCoded(
      pqEncode(corpus, vecCol, codebooks)
        .select(col(idCol).as("neighbor_id"), col("pq_codes")),
      queries, idCol, vecCol, k, codebooks)

  /** [[pqTopK]] over an ALREADY-CODED corpus `(neighbor_id, pq_codes)` —
    * the artifact face: encoding is a train-time pass persisted next to
    * the codebooks (the [[residualCodedFrame]] convention), so a query
    * run never re-derives the corpus argmins.
    */
  def pqTopKCoded(
      coded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Codebooks): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    Similarity.rankedTopK(coded.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id")),
      "score", adcScoreExpr(col("__qv"), col("pq_codes"), codebooks), k)
  }
}

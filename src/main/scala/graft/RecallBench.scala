package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ANN quality evidence at crossover scale: recall@10 of the trained
  * IVF / IVF-PQ / residual-IVF-PQ paths against the exact brute-force
  * cosine top-10, at the SAME trained configuration the query surface
  * uses (`nCells = n/128`, 8×16 codebooks — [[Queries]]' loadOrTrain
  * parameters). The corpus is L2-normalized first so inner product ≡
  * cosine — the PQ family's documented contract.
  *
  * Usage: `runMain graft.RecallBench [dataDir]` against a
  * [[CrossoverGen]] dir (200k × 64-dim embeddings with planted
  * near-twins). Prints one JSON line per (method, nProbe) row; the round
  * record lands in RECALL.json.
  */
object RecallBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/crossover_sf10")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-recall-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fixture 1 — the CrossoverGen corpus: hash-UNIFORM vectors, the
    // structureless regime where cell pruning has nothing to exploit
    // (neighbors are near-orthogonal, cells arbitrary); recorded as the
    // honest degenerate bound
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    runFixture(spark, "uniform", raw)

    // fixture 2 — planted cluster structure (256 clusters at 64 dims):
    // vector = its cluster's deterministic center + small per-vector
    // noise — the geometry real embedding corpora have and the one IVF's
    // cell pruning exploits
    val nVecs = 200000L
    val cluster = pmod(col("id"), lit(256L))
    val planted = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(cluster, i), lit(2000L)).cast("double") - 1000.0)
            / 1000.0) +
          ((pmod(xxhash64(col("id"), i, lit(7L)), lit(1000L)).cast("double") - 500.0)
            / 1000.0)).as("embedding"))
    runFixture(spark, "planted_clusters", planted)
    spark.stop()
  }

  private def runFixture(spark: SparkSession, fixture: String,
      raw: org.apache.spark.sql.DataFrame): Unit = {
    // L2-normalize so inner product ≡ cosine (the PQ cosine contract)
    val sq = aggregate(transform(col("embedding"), x => x * x),
      lit(0.0), (a, b) => a + b)
    val corpus = graft.pipeline.Dedup.materializeOnce(
      raw.select(col("vec_id"),
        when(sq === 0.0, col("embedding"))
          .otherwise(transform(col("embedding"), x => x / sqrt(sq)))
          .as("embedding")))
    val n = corpus.count()
    val queries = graft.pipeline.Dedup.materializeOnce(
      corpus.filter(pmod(col("vec_id"), lit(2000L)) === 7L).limit(100))
    val k = 10

    val truth = graft.pipeline.Similarity.bruteForceTopK(
        queries, corpus, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"""{"stage":"recall_truth","fixture":"$fixture","vecs":$n,"queries":${truth.size / k},"k":$k}""")

    val nCells = math.max(16, (n / 128L).toInt)
    val cents = graft.pipeline.Similarity.ivfCentroids(
      corpus, "vec_id", "embedding", nCells)
    val books = graft.pipeline.PQ.pqCodebooks(
      corpus, "vec_id", "embedding", nSubq = 8, nCentroids = 16)
    val rbooks = graft.pipeline.PQ.residualCodebooks(
      corpus, "vec_id", "embedding", cents, nSubq = 8, nCentroids = 16)

    def measure(method: String, nProbe: Int)(
        run: () => org.apache.spark.sql.DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val hits = run()
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).count(truth.contains)
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = hits.toDouble / truth.size
      println(f"""{"stage":"ann_recall","fixture":"$fixture","method":"$method","nprobe":$nProbe,"recall":$recall%.3f,"sec":$sec%.2f,"vecs":$n,"cells":$nCells,"k":$k}""")
      recall
    }

    // ADC@100 candidates + exact cosine re-rank → top-10: the documented
    // production composition for fine ranking (plain ADC ties under code
    // collision, so its top-10 is arbitrary among same-cell members; the
    // re-rank recovers the true order for every generated candidate)
    def rerank(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val rq = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("__rq"))
      val rc = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__rc"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
        .orderBy(col("__ip").desc, col("neighbor_id").asc)
      cand.select(col("query_id"), col("neighbor_id"))
        .join(rq, Seq("query_id")).join(rc, Seq("neighbor_id"))
        .withColumn("__ip", graft.functions.VectorDot.vectorDot(col("__rq"), col("__rc")))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= k)
        .select(col("query_id"), col("neighbor_id"))
    }

    for (np <- Seq(2, 8)) {
      measure("ivf", np)(() => graft.pipeline.Similarity.ivfTopK(
        corpus, queries, "vec_id", "embedding", k, cents, np))
      measure("ivfpq", np)(() => graft.pipeline.PQ.ivfPqTopK(
        corpus, queries, "vec_id", "embedding", k, cents, np, books))
      measure("ivfpq_residual", np)(() => graft.pipeline.PQ.ivfPqResidualTopK(
        corpus, queries, "vec_id", "embedding", k, cents, np, rbooks))
      measure("ivfpq_rerank", np)(() => rerank(graft.pipeline.PQ.ivfPqTopK(
        corpus, queries, "vec_id", "embedding", 100, cents, np, books)))
      measure("ivfpq_residual_rerank", np)(() => rerank(
        graft.pipeline.PQ.ivfPqResidualTopK(
          corpus, queries, "vec_id", "embedding", 100, cents, np, rbooks)))
    }

    // capacity-sized codebooks (16 subq × 256 centroids = 16 bytes/vector,
    // the FAISS-typical budget): the 8×16 gate config quantizes coarser
    // than the within-cluster noise, so same-cell members tie under ADC
    // and no candidate set can order them — these rows evidence that the
    // OPERATOR delivers recall when the codebook is sized to the data,
    // i.e. the 8×16 rows above measure the config, not the machinery
    val books256 = graft.pipeline.PQ.pqCodebooks(
      corpus, "vec_id", "embedding", nSubq = 16, nCentroids = 256)
    val rbooks256 = graft.pipeline.PQ.residualCodebooks(
      corpus, "vec_id", "embedding", cents, nSubq = 16, nCentroids = 256)
    measure("ivfpq16x256_rerank", 8)(() => rerank(graft.pipeline.PQ.ivfPqTopK(
      corpus, queries, "vec_id", "embedding", 100, cents, 8, books256)))
    measure("ivfpq16x256_residual_rerank", 8)(() => rerank(
      graft.pipeline.PQ.ivfPqResidualTopK(
        corpus, queries, "vec_id", "embedding", 100, cents, 8, rbooks256)))
  }
}

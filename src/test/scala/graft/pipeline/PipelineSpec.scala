package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),           // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat today"),     // near dup of 0
    (3L, "completely different words about spark and scala code"),
    (4L, "der hund und die katze sind nicht mit der maus")
  ).toDF("doc_id", "text")

  test("htmlStrip: tags/script/style dropped, entities decode once, whitespace collapses") {
    val rows = Seq(
      (1L, "<html><body><h1>Hi</h1><p>a  b</p></body></html>"),
      (2L, "before<script type=\"x\">var a = '<p>not text</p>';</script>after"),
      (3L, "x<style>h1 { color: blue }</style>y"),
      (4L, "R&amp;D says 1 &lt; 2 &amp;&amp; 3 &gt; 2"),
      // &amp;lt; must yield the LITERAL string "&lt;" (amp decodes last,
      // no double decode), and &nbsp; becomes a collapsible space
      (5L, "a&amp;lt;b&nbsp;&nbsp;c"),
      (6L, "plain text stays put"),
      (7L, "<SCRIPT>shouty.case()</SCRIPT>ok<BR/>"),
      (8L, "<p\nclass='x'>multiline tag</p>"))
      .toDF("id", "t")
    val got = rows.select($"id",
        graft.pipeline.TextAnalysis.htmlStrip($"t").as("c"),
        graft.pipeline.TextAnalysis.htmlTagCount($"t").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("Hi a b", 8L)))
    assert(got(2L) === (("before after", 0L)))
    assert(got(3L) === (("x y", 0L)))
    assert(got(4L) === (("R&D says 1 < 2 && 3 > 2", 0L)))
    assert(got(5L) === (("a&lt;b c", 0L)))
    assert(got(6L) === (("plain text stays put", 0L)))
    // Java regex (?i) covers the uppercase script element too
    assert(got(7L) === (("ok", 1L)))
    assert(got(8L) === (("multiline tag", 2L)))
  }

  test("exact dedup keeps lowest id per duplicate group") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 2L, 3L, 4L))
  }

  test("ngram jaccard finds exact and near duplicates") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1.0
    val loose = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((0L, 2L)) || loose.contains((1L, 2L)))
  }

  test("shingle df cap defuses a planted hot shingle without losing true dups") {
    // 40 otherwise-unrelated docs all share one boilerplate phrase (think a
    // license header): its 2 shingles alone create a 40-doc clique = 780
    // co-occurring pairs funneled through ONE reducer at the shingle join.
    // Two true near-dups share all their shingles.
    val boiler = (10L until 50L).map { i =>
      (i, s"generated by pipeline v$i run ${i * 7} :: all rights reserved here")
    }
    val dups = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
    val corpus = (dups ++ boiler).toDF("doc_id", "text")

    // threshold 0 exposes the raw join fan-out: every co-occurring pair
    // survives. Uncapped, the boilerplate clique dominates.
    val uncapped = Dedup.jaccardPairs(corpus, "text", "doc_id", n = 3, threshold = 0.0)
      .count()
    assert(uncapped > 700L, s"expected boilerplate clique, got $uncapped pairs")

    // df cap 5 drops the hot shingles: the clique vanishes, the true pair
    // (which shares only df<=2 shingles) survives at full jaccard.
    val capped = Dedup.jaccardPairs(corpus, "text", "doc_id", n = 3,
      threshold = 0.0, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.length < 50, s"cap left ${capped.length} pairs")
    val truePair = capped.find(p => p._1 == 0L && p._2 == 1L)
    assert(truePair.exists(_._3 == 1.0), s"true dup lost: ${capped.toSeq}")
  }

  test("minhash LSH candidates contain all high-jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", n = 2,
      bands = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"LSH missed ${exact.diff(lsh)}")
  }

  test("simhash: identical docs share signature, different docs don't") {
    val sigs = Dedup.simhashDf(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(3L))
  }

  test("simhash banded near-dups find small-hamming pairs without all-pairs compare") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val corpus = Seq(
      (0L, base),
      (1L, base),                                      // identical → hamming 0
      (2L, base.replace("token7", "changed")),         // one token → small hamming
      (3L, (100 to 160).map(i => s"other$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(corpus, "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap.get((0L, 1L)).contains(0L), s"identical pair missing: ${pairs.toSeq}")
    assert(asMap.contains((0L, 2L)) || asMap.contains((1L, 2L)),
      s"near pair missing: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: ${pairs.toSeq}")
    // reported hamming equals the true popcount distance of the signatures
    val lng = Dedup.simhashLongDf(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(lng(a) ^ lng(b)) == h,
        s"hamming mismatch for ($a,$b)")
    }
  }

  test("hammingNearDups: planted one-bit flips pair exactly, in a batch and against a prior") {
    // every id % 100 == 99 flips one bit of id - 1's signature: nh / 100
    // pairs at hamming 1; xxhash64's fixed outputs put no other pair
    // within 2 bits
    val nh = 20000L
    val sigs = spark.range(nh).selectExpr("id",
      """CASE WHEN id % 100 = 99
        |  THEN xxhash64(id - 1) ^ shiftleft(CAST(1 AS BIGINT), CAST(id % 64 AS INT))
        |  ELSE xxhash64(id) END AS sig""".stripMargin)
    val pairs = Dedup.withMaterialized {
      Dedup.hammingNearDups(sigs, "id", "sig", maxHamming = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(pairs == (99L until nh by 100L).map(b => (b - 1, b, 1L)).toSet)
    // incremental face: even ids are the prior artifact, odd ids the new
    // batch; every planted pair is odd against even
    val incr = Dedup.hammingNearDupsAgainstPrior(
        sigs.filter("id % 2 = 1"), sigs.filter("id % 2 = 0"), "id", "sig", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == (99L until nh by 100L).map(b => (b, b - 1, 1L)).toSet)
  }

  test("withMaterialized releases every checkpoint the bracket created") {
    // compare persisted-RDD ID SETS, not counts: the ContextCleaner may
    // concurrently drop unreferenced RDDs from earlier tests
    def persistedIds() = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistedIds()
    val pairs = Dedup.withMaterialized {
      val collected = Dedup.minhashLshPairs(docs, "text", "doc_id", n = 2,
        bands = 8, rowsPerBand = 2, verifyThreshold = 0.8).collect()
      assert(persistedIds().diff(before).nonEmpty,
        "checkpoints should be live inside the bracket")
      collected
    }
    assert(pairs.nonEmpty)
    assert(persistedIds().diff(before).isEmpty,
      s"bracket leaked persisted RDDs: ${persistedIds().diff(before)}")
    // a second bracketed query leaves storage flat too (no cross-run growth)
    Dedup.withMaterialized {
      Similarity.lshPairs(
        docs.select($"doc_id".as("vec_id"),
          transform(sequence(lit(0), lit(7)),
            i => pmod(xxhash64($"doc_id", i), lit(100L)).cast("double") / 100.0)
            .as("embedding")),
        "vec_id", "embedding", dim = 8, threshold = 0.0).collect()
    }
    assert(persistedIds().diff(before).isEmpty)
  }

  test("language id picks the dominant stopword language") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(4L) == "de")
  }

  test("token count and quality signals") {
    val sig = docs.filter($"doc_id" === 0L)
      .select(TextAnalysis.qualitySignals($"text").map { case (n, c) => c.as(n) }: _*)
      .first()
    assert(sig.getAs[Long]("n_tokens") == 9L)
    assert(sig.getAs[Long]("n_chars") == 43L)
    assert(sig.getAs[Double]("stopword_ratio") > 0.2)
  }

  test("bpe pretoken count matches hand-computed GPT-2-ish arithmetic") {
    val cases = Seq(
      ("hello world", 2L),          // "hello", " world"
      ("hello  world", 3L),         // "hello", "<ws run>", "world"
      ("don't stop", 4L),           // "don", "'", "t", " stop"
      ("a1b2", 4L),                 // "a","1","b","2" (letter/digit splits)
      ("price: $4.99!", 7L),        // "price",":"," $","4",".","99","!"
      ("", 0L))
    val df = cases.map(_._1).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"id", TextAnalysis.bpeTokenCount($"text").as("n"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case ((t, want), i) =>
      assert(got(i.toLong) == want, s"'$t': got ${got(i.toLong)}, want $want")
    }
  }

  test("fingerprint is stable and equal for identical docs") {
    val fps = docs.select(col("doc_id"), TextAnalysis.minFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) != fps(3L))
    assert(fps(0L).matches("[0-9a-f]{32}"))
  }

  private def vecs = {
    val rnd = new scala.util.Random(11)
    (0 until 60).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
  }

  test("brute force topk is exact and self-excluding") {
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" < 3), vecs,
      "vec_id", "embedding", k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    // ranks are 1..5 per query, cosine non-increasing.
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
      val cosines = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines == cosines.sorted.reverse)
    }
  }

  test("LSH pairs are a subset of exact threshold pairs and find near-identical vectors") {
    // Plant a near-duplicate pair.
    val planted = vecs.union(
      vecs.filter($"vec_id" === 0L)
        .select(lit(999L).as("vec_id"), $"embedding"))
    val exact = Similarity.thresholdPairs(planted, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 999L)))
    val lsh = Similarity.lshPairs(planted, "vec_id", "embedding", dim = 8,
      threshold = 0.999, bitsPerTable = 6, tables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 999L))) // identical vectors always share buckets
    assert(lsh.subsetOf(exact))      // verification step guarantees precision
  }

  test("embedding near-dups pair documents through their vectors, LSH ⊆ exact") {
    val docs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // vec 59 replaced by a copy of vec 0 → planted near-dup pair (0, 59)
    val planted = vecs.filter($"vec_id" < 59).union(
      vecs.filter($"vec_id" === 0L).select(lit(59L).as("vec_id"), $"embedding"))
    val exact = Dedup.embeddingNearDups(docs, planted, "doc_id", "vec_id",
      "embedding", threshold = 0.999, dim = 8, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDups(docs, planted, "doc_id", "vec_id",
      "embedding", threshold = 0.999, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 59L)))
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 59L))) // identical vectors share all buckets
  }

  test("IVF top-k returns ranked neighbors from the query cell") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 5), "vec_id",
      "embedding", k = 3, Similarity.ivfCentroids(vecs, "vec_id", "embedding", 4)).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      // the query vector itself lives in its own cell → exact-match rank 1
      val r1 = rs.find(_.getAs[Long]("rank") == 1L).get
      assert(r1.getAs[Double]("cosine") >= rs.map(_.getAs[Double]("cosine")).max - 1e-9)
    }
  }

  test("IVF nProbe: probing every cell IS brute force; recall never drops with more probes") {
    val queries = vecs.filter($"vec_id" < 8)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet

    val exact = asSet(Similarity.bruteForceTopK(queries, vecs, "vec_id",
      "embedding", k = 3))
    val cents = Similarity.ivfCentroids(vecs, "vec_id", "embedding", nCells = 4)
    val all = asSet(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, cents, nProbe = 4))
    assert(all == exact, "nProbe = nCells must equal brute force exactly")

    // recall is monotone in nProbe (candidates only grow)
    val r1 = asSet(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, cents, nProbe = 1))
    val r2 = asSet(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, cents, nProbe = 2))
    assert((r1 & exact).size <= (r2 & exact).size)
  }

  test("trained IVF centroids: balanced cells and >=0.9 recall on clustered data") {
    // 4 well-separated clusters of 20 vectors: k-means must recover them, so
    // per-cell search sees each query's whole neighborhood.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 5))
    val clustered = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")

    val cents = Similarity.ivfCentroids(clustered, "vec_id", "embedding", nCells = 4)
    assert(cents.length == 4 && cents.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    // occupancy balance: no trained cell may hold more than 2x the mean
    val occ = Similarity.ivfAssign(clustered, "embedding", cents)
      .groupBy("cell_id").count().collect().map(_.getAs[Long]("count"))
    assert(occ.length == 4, s"empty cells: ${occ.toSeq}")
    assert(occ.max <= 2 * (occ.sum / occ.length), s"skewed cells: ${occ.toSeq}")

    // recall vs brute force over the same corpus
    val queries = clustered.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, clustered, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(clustered, queries, "vec_id", "embedding",
      k = 5, cents)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9")
  }

  test("k-means‖ distributed trainer: deterministic, recovers clusters, PQ parity") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 5))
    val clustered = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")

    // sampleSize = None → coreset path; same invariants as the sampled one
    val cents = Similarity.ivfCentroids(clustered, "vec_id", "embedding",
      nCells = 4, sampleSize = None, oversample = 16, rounds = 3)
    assert(cents.length == 4 && cents.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val occ = Similarity.ivfAssign(clustered, "embedding", cents)
      .groupBy("cell_id").count().collect().map(_.getAs[Long]("count"))
    assert(occ.length == 4 && occ.max <= 2 * (occ.sum / occ.length),
      s"cells not balanced: ${occ.toSeq}")

    // seeded determinism: same corpus + seed → identical centroids
    val again = Similarity.ivfCentroids(clustered, "vec_id", "embedding",
      nCells = 4, sampleSize = None, oversample = 16, rounds = 3)
    assert(cents.map(_._2.toSeq).toSeq == again.map(_._2.toSeq).toSeq)

    // recall vs brute force must match the sampled trainer's bar
    val queries = clustered.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, clustered, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(clustered, queries, "vec_id", "embedding",
      k = 5, centroids = cents, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"coreset-trained IVF recall $recall < 0.9")

    // distributed PQ codebooks: right shape, usable for lossless-style
    // encode + ADC ranking on the planted near-dup (vec 1 ≈ vec 0 + noise)
    val books = PQ.pqCodebooks(clustered, "vec_id", "embedding",
      nSubq = 2, nCentroids = 4, sampleSize = None, oversample = 16, rounds = 3)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    val top = PQ.pqTopK(clustered, clustered.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 3, books).collect()
    // all of cluster 0's members quantize together: rank-1 neighbor must be
    // a same-cluster vector (id ≡ 0 mod 4)
    assert(top.nonEmpty && top(0).getLong(1) % 4 == 0L, top.mkString(","))
  }

  test("k-means‖ on a uniform corpus fits at least as well as a thin sample") {
    // structureless vectors, 32 cells: a 512-row sample gives each cell 16
    // rows. The coreset trainer sees the whole corpus cost-weighted, so its
    // training objective (mean angular misfit) must be no worse, with no
    // dead or skewed cells. Recall at nProbe = 8 is a parity band only: on
    // structureless vectors it is not monotone in quantizer quality
    val uVecs = spark.range(4000).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (pmod(xxhash64($"id", i), lit(2000L)).cast("double") - 1000.0) / 1000.0)
        .as("embedding"))
    val normed = uVecs.select(transform($"embedding", x => x / sqrt(aggregate(
      $"embedding", lit(0.0), (a, b) => a + b * b))).as("nv"))
    val queries = uVecs.filter(pmod($"vec_id", lit(199L)) === 5L)
    val truth = Similarity.bruteForceTopK(queries, uVecs, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def fit(cents: Array[(Long, Array[Double])]): (Double, Double) = {
      val occ = Similarity.ivfAssign(uVecs, "embedding", cents)
        .groupBy("cell_id").count().collect().map(_.getLong(1))
      assert(occ.length == cents.length, s"dead cells: ${occ.length} of ${cents.length}")
      assert(occ.max <= 2 * (occ.sum / occ.length), s"skewed cells: ${occ.toSeq}")
      val units = cents.map { case (_, v) =>
        val nm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nm)
      }
      val obj = normed.select((graft.functions.NearestCentroid.nearestCentroid($"nv", units)
          .getField("d2") / 2.0).as("ad"))
        .agg(avg($"ad")).head.getDouble(0)
      val hits = Similarity.ivfTopK(uVecs, queries, "vec_id", "embedding", k = 5,
          centroids = cents, nProbe = 8)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .count(truth.contains)
      (obj, hits.toDouble / truth.size)
    }
    val (sObj, sRec) = fit(Similarity.ivfCentroids(uVecs, "vec_id", "embedding",
      nCells = 32, sampleSize = Some(512)))
    val (dObj, dRec) = fit(Similarity.ivfCentroids(uVecs, "vec_id", "embedding",
      nCells = 32, sampleSize = None, oversample = 128, rounds = 4))
    assert(dObj <= sObj + 1e-4, s"coreset objective $dObj vs sampled $sObj")
    assert(dRec >= 0.6 && dRec >= sRec - 0.12, s"coreset recall $dRec vs sampled $sRec")
  }

  test("PII scrub replaces emails and URLs, counts redactions") {
    val rows = Seq(
      (0L, "mail me at bob.smith+x@ex-ample.co.uk today"),
      (1L, "see https://a.b/c?d=1 and http://plain.org now"),
      (2L, "nothing here")).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.scrub($"text").as("t"),
        TextAnalysis.scrubCount($"text").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows(0) == ((0L, "mail me at <EMAIL> today", 1L)))
    assert(rows(1) == ((1L, "see <URL> and <URL> now", 2L)))
    assert(rows(2) == ((2L, "nothing here", 0L)))
  }

  test("urlHosts extracts lowercased hosts, strips www. and ports") {
    val rows = Seq(
      (0L, "go to HTTPS://WWW.Example.COM/path and http://sub.site.io:8080/x?q=1"),
      (1L, "bare http://a.b#frag plus https://www.w.org"),
      (2L, "no urls, just www.example.com text")).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.urlHosts($"text").as("h"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    assert(rows(0) == ((0L, Seq("example.com", "sub.site.io"))))
    assert(rows(1) == ((1L, Seq("a.b", "w.org"))))
    assert(rows(2) == ((2L, Seq())))
  }

  test("deterministic sampling is partition-invariant and rate-accurate") {
    val ids = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val s1 = Sampling.deterministicSample(ids, "doc_id", 0.3)
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(ids.repartition(13), "doc_id", 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // the decision is keyed on the row, not the layout
    assert(math.abs(s1.size / 4000.0 - 0.3) < 0.05)
    // nested fractions: a 0.1 sample is a subset of the 0.3 sample (same score)
    val s3 = Sampling.deterministicSample(ids, "doc_id", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
    val strat = Sampling.stratifiedSample(ids, "doc_id", "source",
      Map("a" -> 0.0), defaultFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(strat.forall(_._2 == "b") && strat.length == 2000)
  }

  test("token-budget packing: contiguous bins per stratum, bounded overflow") {
    val docs = Seq(
      ("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 100L), ("a", 4L, 500L),
      ("b", 5L, 512L), ("b", 6L, 1L))
      .toDF("source", "doc_id", "n_tokens")
    val out = Sampling.packByBudget(docs, "source", "n_tokens", budget = 512L,
      orderCols = Seq($"doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).sortBy(_._1)
    // a: starts 0,300,600,700 -> bins 0,0,1,1 with offsets 0,300,88,188
    // b: starts 0,512        -> bins 0,1   with offsets 0,0
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 300L), (3L, 1L, 88L),
      (4L, 1L, 188L), (5L, 0L, 0L), (6L, 1L, 0L)))
    // bins are contiguous per stratum and offsets stay below the budget
    assert(out.forall(_._3 < 512L))
  }

  test("multimodal blob plumbing: schema, features, metadata pruning") {
    val blobs = Multimodal.toBlobTable(docs, "doc_id", "text", "text")
    assert(blobs.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(blobs, "doc_id").collect()
    assert(feats.length == 5)
    val f0 = feats.find(_.getLong(0) == 0L).get.getSeq[Double](1)
    assert(f0.length == 16)
    assert(math.abs(f0.sum - 1.0) < 1e-9) // L1-normalized histogram
    val meta = Multimodal.metaSummary(blobs).collect()
    assert(meta.length == 1 && meta.head.getAs[Long]("n") == 5L)
  }

  test("real image decode: JDK ImageIO extracts dims and pixel histogram") {
    // a real 8x4 PNG: left half black, right half white — built in memory,
    // decoded distributed through the same mapPartitions path
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val blobs = Seq(
      (1L, png(8, 4)),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, png(2, 2))).toDF("doc_id", "payload")
    val rows = Multimodal.decodeImages(blobs, "doc_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1)
    assert(rows(0) == ((1L, Some(8), Some(4))))
    assert(rows(1) == ((2L, None, None))) // undecodable -> nulls, job survives
    assert(rows(2) == ((3L, Some(2), Some(2))))
    val feats = Multimodal.decodeImages(blobs, "doc_id")
      .filter($"doc_id" === 1L).collect().head.getSeq[Double](3)
    assert(math.abs(feats(0) - 0.5) < 1e-9)  // black half -> luma bin 0
    assert(math.abs(feats(15) - 0.5) < 1e-9) // white half -> luma bin 15
    assert(math.abs(feats.sum - 1.0) < 1e-9)
  }

  test("real image resize: aspect-preserving thumbnail, re-decodable output") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x336699)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val blobs = Multimodal.toBlobTable(
      Seq((1L, "x")).toDF("doc_id", "t"), "doc_id", "t", "image")
      .drop("payload").crossJoin(Seq(png(16, 8)).toDF("payload"))
      .select(col("doc_id"), col("payload"), col("meta"))
    val out = Multimodal.resizeImages(blobs, "doc_id", maxDim = 4).collect().head
    val meta = out.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Int]("width") == 4 && meta.getAs[Int]("height") == 2)
    // the thumbnail is itself a decodable PNG of the reported dims
    val redecoded = Multimodal.decodeImage(out.getAs[Array[Byte]]("payload"))
    assert(redecoded.map(d => (d._1, d._2)) == Some((4, 2)))
    // undecodable payloads pass through unchanged
    val raw = Seq((2L, "plain".getBytes("UTF-8"), "text"))
      .toDF("doc_id", "payload", "modality")
      .select(col("doc_id"), col("payload"),
        struct(col("modality"), lit("utf8").as("format"), lit(5L).as("n_bytes"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height")).as("meta"))
    val passthrough = Multimodal.resizeImages(raw, "doc_id", 4).collect().head
    assert(new String(passthrough.getAs[Array[Byte]]("payload"), "UTF-8") == "plain")
    assert(passthrough.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("format") == "utf8")
  }

  test("image decode rejects decompression-bomb headers without decoding") {
    // a real tiny PNG with its IHDR width/height patched to 100000x100000:
    // decoding it would allocate a ~40GB raster — the header-only dimension
    // probe must reject it as undecodable instead
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val bytes = out.toByteArray
    def putInt(at: Int, v: Int): Unit = {
      bytes(at) = ((v >> 24) & 0xff).toByte; bytes(at + 1) = ((v >> 16) & 0xff).toByte
      bytes(at + 2) = ((v >> 8) & 0xff).toByte; bytes(at + 3) = (v & 0xff).toByte
    }
    putInt(16, 100000) // IHDR width  (8B signature + 4B len + 4B 'IHDR')
    putInt(20, 100000) // IHDR height
    assert(Multimodal.decodeImage(bytes).isEmpty)
    assert(Multimodal.resizeImage(bytes, 4).isEmpty)
    // a legitimate image still decodes through the same header probe
    val ok = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", ok)
    assert(Multimodal.decodeImage(ok.toByteArray).map(d => (d._1, d._2)) == Some((2, 2)))
  }

  private def grayPng(w: Int, h: Int)(v: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = v(x, y); img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("dHash: gradient bits match hand arithmetic; brightness and scale invariant") {
    def v(x: Int, y: Int) = (x * 11 + y * 23) % 200
    // hand-computed signature from the same formula (gray PNG is lossless
    // and Rec.601 luma of gray (g,g,g) is exactly g)
    var expect = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (v(x, y) > v(x + 1, y)) expect |= 1L << (y * 8 + x)
    assert(Multimodal.dHash(grayPng(9, 8)(v)) === Some(expect))
    // global brightness shift: every gradient comparison unchanged
    assert(Multimodal.dHash(grayPng(9, 8)((x, y) => v(x, y) + 40)) === Some(expect))
    // resolution change: each grid cell blown up to a solid 10x10 block —
    // the bilinear downscale samples inside block interiors, recovering
    // the exact cell values, so the hash is scale-invariant here
    assert(Multimodal.dHash(grayPng(90, 80)((x, y) => v(x / 10, y / 10))) === Some(expect))
    // sensitivity: one pixel bump flips at most its two adjacent gradient
    // bits (near-dup), and actually flips at least one here
    val bumped = Multimodal.dHash(grayPng(9, 8)((x, y) =>
      v(x, y) + (if (x == 4 && y == 2) 48 else 0))).get
    val d = java.lang.Long.bitCount(bumped ^ expect)
    assert(d >= 1 && d <= 2, s"hamming $d")
    // undecodable payloads hash to None, never throw
    assert(Multimodal.dHash("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dHash(null).isEmpty)
  }

  test("imageNearDups: planted perceptual twins pair up through the banded join") {
    def v(g: Int)(x: Int, y: Int) = (g * 37 + x * 11 + y * 23) % 200
    val blobs = Seq(
      1L -> grayPng(9, 8)(v(0)),
      2L -> grayPng(9, 8)((x, y) => v(0)(x, y) + 30),         // brightness twin of 1
      3L -> grayPng(90, 80)((x, y) => v(0)(x / 10, y / 10)),  // scaled twin of 1
      4L -> grayPng(9, 8)((x, y) =>
        v(0)(x, y) + (if (x == 3 && y == 5) 48 else 0)),      // <=2-bit near-dup of 1
      5L -> grayPng(9, 8)(v(7)),                              // unrelated pattern
      6L -> "garbage".getBytes("UTF-8")                       // undecodable: drops out
    ).toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDups(blobs, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "brightness twin missed")
    assert(pairs.contains((1L, 3L)), "scaled twin missed")
    assert(pairs.contains((1L, 4L)), "near-dup missed")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated pattern paired")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L), "undecodable row paired")
  }

  test("imageCurationScan: one decode yields dhash + mean luma; junk rows all-null") {
    def v(x: Int, y: Int) = (x * 11 + y * 23) % 200
    val blobs = Seq(
      1L -> grayPng(9, 8)(v),
      2L -> "junk".getBytes("UTF-8")
    ).toDF("doc_id", "payload")
    val rows = Multimodal.imageCurationScan(blobs, "doc_id")
      .orderBy("doc_id").collect()
    // the single decode feeds the same kernel as the standalone dHash path
    assert(rows(0).getLong(1) === Multimodal.dHash(grayPng(9, 8)(v)).get)
    // mean luma is the exact pixel-formula mean (gray PNG is lossless and
    // Rec.601 luma of gray (g,g,g) is exactly g)
    val mean = (for (y <- 0 until 8; x <- 0 until 9) yield v(x, y)).sum.toDouble / 72
    assert(rows(0).getDouble(2) === mean)
    assert(rows(0).getInt(3) === 9 && rows(0).getInt(4) === 8)
    // undecodable payload: every extracted column null, the row itself
    // kept (report, don't fail — its disposition is downstream's call)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) &&
      rows(1).isNullAt(3) && rows(1).isNullAt(4))
  }

  test("audioCurationScan: one pass yields fingerprint + rms + duration; junk all-null") {
    val n = 300
    val samples = Array.tabulate(n)(i => (((i * 104729L) % 8000L) - 4000L).toShort)
    val wav = Multimodal.encodeWavPcm16(samples, 16000, channels = 1)
    val blobs = Seq(1L -> wav, 2L -> "static".getBytes("UTF-8"))
      .toDF("doc_id", "payload")
    val rows = Multimodal.audioCurationScan(blobs, "doc_id")
      .orderBy("doc_id").collect()
    // the scan's signature and signals equal the standalone paths' outputs
    assert(rows(0).getLong(1) === Multimodal.audioFingerprint(wav).get)
    val info = Multimodal.decodeWav(wav).get
    assert(rows(0).getDouble(2) === info.rms)
    assert(rows(0).getDouble(3) === info.durationSec)
    // and the rms is the closed-form integer arithmetic exactly
    val ss = samples.map(v => v.toLong * v).sum
    assert(info.rms === math.sqrt(ss.toDouble / n) / 32768)
    // non-WAV payload: all extracted columns null, row kept
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(3))
  }

  private def grayGif(nf: Int)(v: (Int, Int, Int) => Int): Array[Byte] = {
    val ramp = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val frames = (0 until nf).map { f =>
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until 8; x <- 0 until 9) {
        val g = v(f, x, y); img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    Multimodal.encodeGifAnimation(frames)
  }

  test("videoCurationScan: one walk yields per-frame hashes + exact luma sums; junk one null row") {
    def v(f: Int, x: Int, y: Int) = (f * 53 + x * 11 + y * 23) % 200
    val blobs = Seq(
      1L -> grayGif(3)(v),
      2L -> "static".getBytes("UTF-8")
    ).toDF("doc_id", "payload")
    val rows = Multimodal.videoCurationScan(blobs, "doc_id")
      .orderBy("doc_id", "frame_idx").collect()
    assert(rows.length === 4, "3 frames + 1 junk sentinel")
    for (f <- 0 until 3) {
      val r = rows(f)
      assert(r.getLong(1) === f.toLong)
      // frame hash equals the standalone per-frame path
      val expect = Multimodal.videoFrameHashes(grayGif(3)(v), 1)(f)._2
      assert(r.getLong(2) === expect)
      // exact integer luma sum (lossless indexed-gray GIF: luma IS v)
      val sum = (for (y <- 0 until 8; x <- 0 until 9) yield v(f, x, y)).sum.toLong
      assert(r.getLong(3) === sum && r.getLong(4) === 72L)
    }
    // undecodable payload: ONE all-null sentinel row keeps validity visible
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2) &&
      rows(3).isNullAt(3) && rows(3).isNullAt(4))
  }

  test("videoFrameHashes: GIF frames hash to the exact gradient arithmetic; MJPEG decodes") {
    def v(f: Int, x: Int, y: Int) = (f * 53 + x * 11 + y * 23) % 200
    val hashes = Multimodal.videoFrameHashes(grayGif(3)(v), everyN = 1)
    assert(hashes.map(_._1) === Seq(0, 1, 2))
    // hand-computed per-frame signatures: the indexed-gray GIF encode is
    // lossless, so decoded luma is the formula and the hash is derivable
    hashes.foreach { case (f, h) =>
      var expect = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (v(f, x, y) > v(f, x + 1, y)) expect |= 1L << (y * 8 + x)
      assert(h === expect, s"frame $f")
    }
    // frame sampling honors everyN
    assert(Multimodal.videoFrameHashes(grayGif(4)(v), everyN = 2)
      .map(_._1) === Seq(0, 2))
    // MJPEG/AVI dispatches through the RIFF walk (lossy: just shape+twin
    // checks; identical payloads must hash identically)
    val jpgFrames = (0 until 2).map { f =>
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      g2.setPaint(new java.awt.GradientPaint(0, 0, java.awt.Color.BLACK,
        32, 0, new java.awt.Color(200, 200, 200)))
      g2.fillRect(0, 0, 32, 24); g2.dispose()
      img
    }
    val avi = Multimodal.encodeMjpegAvi(jpgFrames, fps = 10)
    val ah = Multimodal.videoFrameHashes(avi, everyN = 1)
    assert(ah.size === 2)
    assert(Multimodal.videoFrameHashes(avi, everyN = 1) === ah) // deterministic
    // garbage: empty, never a throw
    assert(Multimodal.videoFrameHashes("not video".getBytes("UTF-8"), 1).isEmpty)
    assert(Multimodal.videoFrameHashes(null, 1).isEmpty)
  }

  test("videoNearDups: frame-aligned twins pair; trims and far frames do not") {
    def v(f: Int, x: Int, y: Int) = (f * 53 + x * 11 + y * 23) % 200
    val blobs = Seq(
      1L -> grayGif(3)(v),
      2L -> grayGif(3)((f, x, y) => v(f, x, y) + 30),  // brightness twin
      3L -> grayGif(3)((f, x, y) =>                    // one bumped pixel in frame 1
        v(f, x, y) + (if (f == 1 && x == 3 && y == 5) 48 else 0)),
      4L -> grayGif(2)(v),                             // TRIM of 1: frame count differs
      5L -> grayGif(3)((f, x, y) => (f * 31 + x * 17 + y * 29) % 200), // unrelated
      6L -> "garbage".getBytes("UTF-8")
    ).toDF("doc_id", "payload")
    val out = Multimodal.videoNearDups(blobs, "doc_id", everyN = 1, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(out.contains((1L, 2L)), "brightness twin missed")
    assert(out((1L, 2L))._1 === 3L) // n_frames
    assert(out((1L, 2L))._2 === 0L) // gradient-identical: max_hamming 0
    assert(out.contains((1L, 3L)), "single-pixel near-dup missed")
    assert(out((1L, 3L))._2 <= 2L)
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "trimmed video paired despite frame-count mismatch")
    assert(!out.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("audioFingerprint: exact energy-gradient bits, gain invariance, mute sensitivity") {
    def wav(n: Int)(v: Int => Int): Array[Byte] =
      Multimodal.encodeWavPcm16(Array.tabulate(n)(i => v(i).toShort), 16000)
    def base(i: Int) = (((i * 104729L) % 8000L) - 4000L).toInt
    val n = 400
    // hand-computed signature from the same integer arithmetic
    val energy = new Array[Long](65)
    (0 until n).foreach { i =>
      val v = base(i).toLong; energy((i * 65) / n) += v * v
    }
    var expect = 0L
    (0 until 64).foreach { w => if (energy(w) > energy(w + 1)) expect |= 1L << w }
    assert(Multimodal.audioFingerprint(wav(n)(base)) === Some(expect))
    // GAIN invariance: scaling every sample scales every window energy by
    // the same k^2, flipping no comparison — the loudness-change near-dup
    for (k <- Seq(2, 4))
      assert(Multimodal.audioFingerprint(wav(n)(i => k * base(i))) === Some(expect),
        s"gain x$k changed the fingerprint")
    // structural edit: muting one window flips at most its two bits
    val muted = Multimodal.audioFingerprint(wav(n)(i =>
      if ((i * 65) / n == 30) 0 else base(i))).get
    val d = java.lang.Long.bitCount(muted ^ expect)
    assert(d >= 1 && d <= 2, s"hamming $d")
    // too short / wrong format / garbage: None, never a throw
    assert(Multimodal.audioFingerprint(wav(64)(base)).isEmpty)
    assert(Multimodal.audioFingerprint("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.audioFingerprint(null).isEmpty)
    // distributed near-dup: twins pair through the banded join
    val blobs = Seq(
      1L -> wav(n)(base),
      2L -> wav(n)(i => 3 * base(i)),
      3L -> wav(n)(i => (((i * 7919L) % 8000L) - 4000L).toInt),
      4L -> "not audio".getBytes("UTF-8")).toDF("doc_id", "payload")
    val pairs = Multimodal.audioNearDups(blobs, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L),
      "gain twin missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jpegExif: round-trip both byte orders, EXIF-less JPEG, hostile headers") {
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val base = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", base)
    val plain = base.toByteArray
    // JPEG without EXIF: Some with empty fields (distinct from not-a-JPEG)
    assert(Multimodal.jpegExif(plain) === Some(Multimodal.ExifInfo(None, None, false)))
    // round-trip in BOTH byte orders; the spliced JPEG must stay decodable
    for (le <- Seq(true, false)) {
      val jpg = Multimodal.insertExif(plain, Some(6),
        Some("2024:05:07 14:23:49"), gps = true, littleEndian = le)
      assert(Multimodal.jpegExif(jpg) === Some(Multimodal.ExifInfo(
        Some(6), Some("2024:05:07 14:23:49"), true)), s"littleEndian=$le")
      assert(Multimodal.decodeImage(jpg).map(d => (d._1, d._2)) === Some((2, 2)),
        "EXIF splice broke the JPEG")
    }
    // partial EXIF: orientation only, no GPS
    assert(Multimodal.jpegExif(Multimodal.insertExif(plain, Some(3), None,
      gps = false)) === Some(Multimodal.ExifInfo(Some(3), None, false)))
    // non-JPEG: None, never a throw
    assert(Multimodal.jpegExif("not a jpeg".getBytes("UTF-8")) === None)
    assert(Multimodal.jpegExif(Array.empty[Byte]) === None)
    assert(Multimodal.jpegExif(null) === None)
    // hostile: truncation sweep + forged segment length / IFD offset
    val rich = Multimodal.insertExif(plain, Some(1),
      Some("2024:01:01 00:00:00"), gps = true)
    (1 until rich.length).foreach { cut =>
      Multimodal.jpegExif(java.util.Arrays.copyOf(rich, cut))
    }
    val forged = rich.clone()
    forged(4) = 0xFF.toByte; forged(5) = 0xFF.toByte // APP1 claims 64KB
    Multimodal.jpegExif(forged) // clamped, no throw
    val badIfd = rich.clone()
    // TIFF IFD0 offset claim -> far past the payload (offset field at
    // SOI(2)+FFE1(2)+len(2)+Exif\0\0(6)+order(2)+magic(2) = byte 16)
    badIfd(16) = 0x7F.toByte; badIfd(17) = 0xFF.toByte
    assert(Multimodal.jpegExif(badIfd).isDefined) // empty fields, no throw
    // orientation outside 1..8 is a forged value, dropped
    val badOri = Multimodal.insertExif(plain, Some(6), None, gps = false)
    // value field of the first IFD entry: TIFF base(12) + 8 hdr + 2 cnt + 8
    val oriOff = 12 + 8 + 2 + 8
    badOri(oriOff) = 0.toByte; badOri(oriOff + 1) = 99.toByte
    assert(Multimodal.jpegExif(badOri) ===
      Some(Multimodal.ExifInfo(None, None, false)))
  }

  test("real WAV decode: PCM16 round-trip recovers rate, frames, duration, RMS") {
    val rate = 16000
    val samples = Array.tabulate(800)(i => (((i * 104729L) % 20000L) - 10000L).toShort)
    val bytes = Multimodal.encodeWavPcm16(samples, rate, channels = 2)
    val w = Multimodal.decodeWav(bytes).get
    assert(w.sampleRate == rate && w.channels == 2 && w.bitsPerSample == 16)
    assert(w.nFrames == 400L)
    assert(w.durationSec == 400.0 / rate)
    val ss = samples.map(s => s.toLong * s).sum
    assert(w.rms == math.sqrt(ss.toDouble / samples.length) / 32768.0) // exact
  }

  test("WAV decode: 8-bit, float32, extra chunks, hostile sizes, bad magic") {
    import java.nio.{ByteBuffer, ByteOrder}
    def wav(fmtTag: Int, ch: Int, rate: Int, bits: Int, data: Array[Byte],
            listChunk: Boolean = false, claimData: Option[Int] = None): Array[Byte] = {
      val list = if (listChunk) 12 else 0
      val bb = ByteBuffer.allocate(44 + list + data.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + list + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(fmtTag.toShort).putShort(ch.toShort).putInt(rate)
        .putInt(rate * ch * bits / 8).putShort((ch * bits / 8).toShort).putShort(bits.toShort)
      if (listChunk) bb.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
      bb.put("data".getBytes("US-ASCII")).putInt(claimData.getOrElse(data.length)).put(data)
      bb.array()
    }
    // 8-bit unsigned PCM: values 128±d, RMS from exact integer sum of squares
    val u8 = Array[Byte](128.toByte, 228.toByte, 28.toByte, 128.toByte)
    val w8 = Multimodal.decodeWav(wav(1, 1, 8000, 8, u8)).get
    assert(w8.bitsPerSample == 8 && w8.nFrames == 4L)
    assert(w8.rms == math.sqrt((0L + 100 * 100 + 100 * 100 + 0) / 4.0) / 128.0)
    // 32-bit IEEE float (fmtTag 3), with a LIST chunk before data (skipped)
    val fdata = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putFloat(0.5f).putFloat(-0.5f).array()
    val wf = Multimodal.decodeWav(wav(3, 1, 48000, 32, fdata, listChunk = true)).get
    assert(wf.bitsPerSample == 32 && wf.nFrames == 2L && math.abs(wf.rms - 0.5) < 1e-12)
    // hostile: data chunk CLAIMS 2GB but carries 4 bytes -> truncated, no alloc
    val hostile = Multimodal.decodeWav(
      wav(1, 1, 8000, 16, Array[Byte](0, 1, 0, 1), claimData = Some(Int.MaxValue))).get
    assert(hostile.nFrames == 2L)
    // rejects: wrong magic, truncated, compressed format tag
    assert(Multimodal.decodeWav(("RIFFxxxxNOPE" + "x" * 32).getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeWav(Array.fill[Byte](20)(0)).isEmpty)
    assert(Multimodal.decodeWav(wav(85, 1, 8000, 16, Array[Byte](0, 0))).isEmpty)
  }

  test("distributed audio decode: real WAVs decode, garbage yields nulls") {
    val good = Multimodal.encodeWavPcm16(Array.tabulate(100)(i => (i * 100).toShort), 8000)
    val blobs = Seq((1L, good), (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val rows = Multimodal.decodeAudio(blobs, "doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(4)))).sortBy(_._1)
    assert(rows(0) == ((1L, Some(8000), Some(100L))))
    assert(rows(1) == ((2L, None, None)))
  }

  test("multimodal resize caps payloads and updates metadata") {
    val blobs   = Multimodal.toBlobTable(docs, "doc_id", "text", "text")
    val resized = Multimodal.resizePayloads(blobs, "doc_id", targetBytes = 8)
    val rows = resized.collect()
    assert(rows.forall(_.getAs[Array[Byte]]("payload").length <= 8))
    rows.foreach { r =>
      assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes") ==
        r.getAs[Array[Byte]]("payload").length.toLong)
    }
    // deterministic per doc: resizing twice gives identical bytes per id
    def byId(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    val again = Multimodal.resizePayloads(blobs, "doc_id", targetBytes = 8).collect()
    assert(byId(rows) == byId(again))
  }

  test("multimodal frame sampling emits every Nth fixed-size frame") {
    val blobs = Multimodal.toBlobTable(docs, "doc_id", "text", "text")
    val frames = Multimodal.frameSample(blobs, "doc_id", frameBytes = 4, everyN = 2)
      .collect()
    // doc 0: 43 bytes → 10 whole frames → sampled idx 0,2,4,6,8
    val d0 = frames.filter(_.getLong(0) == 0L).map(_.getLong(1)).sorted.toSeq
    assert(d0 == Seq(0L, 2L, 4L, 6L, 8L))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 4))
    // frame content is the actual payload slice
    val f2 = frames.find(r => r.getLong(0) == 0L && r.getLong(1) == 2L).get
    assert(new String(f2.getAs[Array[Byte]]("frame"), "UTF-8") ==
      "the quick brown fox jumps over the lazy dog".substring(8, 12))
  }

  test("real animated-GIF decode: multi-frame write -> sampled frames with exact luma") {
    def gray(v: Int, w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    // 6 solid-gray frames: palette encoding is lossless for a single color,
    // and integer Rec.601 luma of (v,v,v) is exactly v
    val vals = Seq(10, 30, 50, 70, 90, 110)
    val gif  = Multimodal.encodeGifAnimation(vals.map(gray(_, 8, 6)))

    val direct = Multimodal.gifFrames(gif, everyN = 2)
    assert(direct.map(f => (f._1, f._2, f._3, f._4)) ==
      Seq((0, 8, 6, 10.0), (2, 8, 6, 50.0), (4, 8, 6, 90.0)))

    // distributed path + garbage payload yields no rows, not a failure
    val blobs = Seq((1L, gif), (2L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val out = Multimodal.decodeGifFrames(blobs, "doc_id", everyN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    assert(out.toSet == Set((1L, 0L, 8, 6, 10.0), (1L, 2L, 8, 6, 50.0), (1L, 4L, 8, 6, 90.0)))
  }

  test("real MJPEG/AVI decode: container round-trip, sampling, luma within JPEG error") {
    def gray(v: Int, w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    val vals = Seq(20, 60, 100, 140, 180)
    val avi  = Multimodal.encodeMjpegAvi(vals.map(gray(_, 16, 12)), fps = 5)

    // every frame decodes with the right grid; solid-gray JPEG round-trips
    // within a small DC-quantization error (NOT exact — JPEG is lossy)
    val all = Multimodal.mjpegFrames(avi, everyN = 1)
    assert(all.map(f => (f._1, f._2, f._3)) == vals.indices.map(i => (i, 16, 12)))
    all.zip(vals).foreach { case ((_, _, _, luma), v) =>
      assert(math.abs(luma - v) <= 4.0, s"luma $luma vs planted $v")
    }

    // sampling takes frames 0, 2, 4
    assert(Multimodal.mjpegFrames(avi, everyN = 2).map(_._1) == Seq(0, 2, 4))

    // malformed payloads: not RIFF, truncated mid-chunk, empty — no rows,
    // no exception (sizes are claims, offsets clamp to reality)
    assert(Multimodal.mjpegFrames(Array[Byte](1, 2, 3), 1).isEmpty)
    assert(Multimodal.mjpegFrames(java.util.Arrays.copyOf(avi, avi.length / 2), 1)
      .map(_._1).forall(_ < vals.length)) // prefix may decode, never throws
    assert(Multimodal.mjpegFrames(Array.empty[Byte], 1).isEmpty)

    // distributed path, garbage row dropped
    val blobs = Seq((1L, avi), (2L, Array[Byte](82, 73, 70, 70))).toDF("doc_id", "payload")
    val out = Multimodal.decodeMjpegFrames(blobs, "doc_id", everyN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out.toSet == Set((1L, 0L, 16, 12), (1L, 2L, 16, 12), (1L, 4L, 16, 12)))
  }

  test("MP4/ISO-BMFF container parse: round-trip, hostile sizes, 64-bit boxes, non-MP4") {
    val mp4 = Multimodal.encodeMp4Container("isom", timescale = 2000,
      durationTicks = 2468 * 2,
      Seq(Multimodal.Mp4Track("vide", "avc1", 320, 240),
        Multimodal.Mp4Track("soun", "mp4a", 0, 0)))
    val m = Multimodal.mp4Meta(mp4).get
    assert(m.brand === "isom")
    assert(m.durationMs === 2468.0) // ticks·1000/timescale, IEEE-exact
    assert(m.nTracks === 2)
    assert(m.videoCodec === Some("avc1"))
    assert((m.width, m.height) === (Some(320), Some(240)))
    assert(m.audioCodec === Some("mp4a"))

    // video-only container: no audio fields
    val solo = Multimodal.mp4Meta(Multimodal.encodeMp4Container("mp42", 1000,
      500, Seq(Multimodal.Mp4Track("vide", "vp09", 640, 360)))).get
    assert((solo.brand, solo.nTracks, solo.videoCodec, solo.audioCodec) ===
      ("mp42", 1, Some("vp09"), None))

    // 64-bit largesize on the top-level moov: rewrite moov's header in
    // place (size=1 + largesize) and keep parsing correct
    val ftypLen = java.nio.ByteBuffer.wrap(mp4).getInt(0)
    val moovLen = java.nio.ByteBuffer.wrap(mp4).getInt(ftypLen)
    val wide = new java.io.ByteArrayOutputStream()
    wide.write(mp4, 0, ftypLen)
    val hdr = java.nio.ByteBuffer.allocate(16)
    hdr.putInt(1).put("moov".getBytes("US-ASCII")).putLong(moovLen + 8L)
    wide.write(hdr.array())
    wide.write(mp4, ftypLen + 8, moovLen - 8)
    wide.write(mp4, ftypLen + moovLen, mp4.length - ftypLen - moovLen)
    val mWide = Multimodal.mp4Meta(wide.toByteArray).get
    assert(mWide.durationMs === 2468.0 && mWide.videoCodec === Some("avc1"))

    // fragmented layout (DASH/web): mvhd duration is 0, the whole-movie
    // duration comes from mvex/mehd, and moof boxes count as fragments
    val frag = Multimodal.mp4Meta(Multimodal.encodeMp4Container("iso5", 1000,
      90000, Seq(Multimodal.Mp4Track("vide", "av01", 1280, 720)),
      fragments = 4)).get
    assert(frag.durationMs === 90000.0 && frag.nFragments === 4)
    assert((frag.videoCodec, frag.width, frag.height) ===
      (Some("av01"), Some(1280), Some(720)))
    assert(m.nFragments === 0) // progressive file: no moof boxes

    // hostile inputs: truncation at any point and forged giant sizes must
    // neither throw nor allocate; non-BMFF bytes give None
    (1 until mp4.length by 7).foreach { cut =>
      Multimodal.mp4Meta(java.util.Arrays.copyOf(mp4, cut)) // must not throw
    }
    val forged = mp4.clone()
    java.nio.ByteBuffer.wrap(forged).putInt(ftypLen, Int.MaxValue) // moov claims 2GB
    Multimodal.mp4Meta(forged) // clamped, no allocation, no throw
    assert(Multimodal.mp4Meta("RIFFxxxxWAVE".getBytes("US-ASCII")) === None)
    assert(Multimodal.mp4Meta(Array.empty[Byte]) === None)
    assert(Multimodal.mp4Meta(null) === None)

    // no codec-private box at all (the original fixtures): profile fields
    // stay None, everything else parses as before
    assert((m.videoProfile, m.videoLevel, m.videoBitDepth) === (None, None, None))

    // avcC decoder-config: baseline (no profile extension — 8-bit by
    // spec), high (extension present, 8-bit), high10 (extension, 10-bit)
    def avc(p: Int, l: Int, bd: Int) = Multimodal.mp4Meta(
      Multimodal.encodeMp4Container("isom", 1000, 1000,
        Seq(Multimodal.Mp4Track("vide", "avc1", 1280, 720, p, l, bd)))).get
    val base = avc(66, 30, 8)
    assert((base.videoProfile, base.videoLevel, base.videoBitDepth) ===
      (Some("baseline"), Some(30), Some(8)))
    val high = avc(100, 40, 8)
    assert((high.videoProfile, high.videoLevel, high.videoBitDepth) ===
      (Some("high"), Some(40), Some(8)))
    val high10 = avc(110, 51, 10)
    assert((high10.videoProfile, high10.videoLevel, high10.videoBitDepth) ===
      (Some("high10"), Some(51), Some(10)))

    // hvcC decoder-config: main and main10 at fixed offsets
    def hvc(p: Int, l: Int, bd: Int) = Multimodal.mp4Meta(
      Multimodal.encodeMp4Container("iso5", 1000, 1000,
        Seq(Multimodal.Mp4Track("vide", "hvc1", 1920, 1080, p, l, bd)))).get
    val hm = hvc(1, 93, 8)
    assert((hm.videoProfile, hm.videoLevel, hm.videoBitDepth) ===
      (Some("main"), Some(93), Some(8)))
    val hm10 = hvc(2, 120, 10)
    assert((hm10.videoProfile, hm10.videoLevel, hm10.videoBitDepth) ===
      (Some("main10"), Some(120), Some(10)))

    // truncation sweep over a container WITH codec-private boxes: the
    // bounds-checked avcC/hvcC walks must never throw
    val rich = Multimodal.encodeMp4Container("isom", 1000, 1000,
      Seq(Multimodal.Mp4Track("vide", "avc1", 1280, 720, 110, 51, 10)))
    (1 until rich.length).foreach { cut =>
      Multimodal.mp4Meta(java.util.Arrays.copyOf(rich, cut))
    }

    // distributed path: real container parses, garbage yields nulls
    val blobs = Seq((1L, mp4), (2L, Array[Byte](0, 0, 0, 8))).toDF("doc_id", "payload")
    val rows = Multimodal.videoContainerMeta(blobs, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) === "isom" && rows(0).getDouble(2) === 2468.0
      && rows(0).getInt(3) === 2 && rows(0).getString(4) === "avc1")
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(4))
  }

  test("mmrRerank: relevance-first pick, then diversity beats raw rank") {
    // candidate 1: highest rel. candidate 2: second rel but nearly identical
    // to 1 — a pure relevance ranker keeps it second; MMR must demote it
    // below the orthogonal candidate 3.
    val cands = Seq(
      (1L, 0.99, Array(1.0, 0.0, 0.0)),
      (2L, 0.98, Array(0.999, 0.01, 0.0)),
      (3L, 0.60, Array(0.0, 1.0, 0.0)),
      (4L, 0.55, Array(0.0, 0.0, 1.0))
    ).toDF("id", "rel", "v")
    val got = graft.pipeline.Dedup.withMaterialized {
      Similarity.mmrRerank(cands, "id", "rel", "v", k = 4, lambda = 0.5)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    }
    assert(got.map(_._2).toSeq === Seq(1L, 3L, 4L, 2L))
    // first pick's mmr = lambda * rel exactly (empty diversity term)
    assert(got.head._3 === 0.495)
    // ranks are 1..k in order
    assert(got.map(_._1).toSeq === Seq(1, 2, 3, 4))
  }

  test("mmrRerank: lambda = 1 reduces to pure relevance order; k caps; bound enforced") {
    val cands = Seq(
      (10L, 0.9, Array(1.0, 0.0)),
      (11L, 0.8, Array(1.0, 0.0)),
      (12L, 0.7, Array(0.0, 1.0))
    ).toDF("id", "rel", "v")
    val got = graft.pipeline.Dedup.withMaterialized {
      Similarity.mmrRerank(cands, "id", "rel", "v", k = 2, lambda = 1.0)
        .collect().map(_.getLong(1)).toSeq
    }
    assert(got === Seq(10L, 11L))
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.withMaterialized {
        Similarity.mmrRerank(cands, "id", "rel", "v", k = 2, lambda = 0.5,
          maxCandidates = 2).collect()
      }
    }
    assert(e.getMessage.contains("maxCandidates"))
  }

  test("mmrRerank: non-finite relevance and zero-norm vectors fail loudly") {
    // NaN relevance would make every argmax comparison false (no pick)
    val badRel = Seq(
      (1L, Double.NaN, Array(1.0, 0.0)),
      (2L, 0.5, Array(0.0, 1.0))
    ).toDF("id", "rel", "v")
    val e1 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.withMaterialized {
        Similarity.mmrRerank(badRel, "id", "rel", "v", k = 2, lambda = 0.5)
          .collect()
      }
    }
    assert(e1.getMessage.contains("non-finite relevance"))
    // a zero-norm vector makes cosine NaN — same poison, caught at the sims
    val badVec = Seq(
      (1L, 0.9, Array(0.0, 0.0)),
      (2L, 0.5, Array(0.0, 1.0))
    ).toDF("id", "rel", "v")
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.withMaterialized {
        Similarity.mmrRerank(badVec, "id", "rel", "v", k = 2, lambda = 0.5)
          .collect()
      }
    }
    assert(e2.getMessage.contains("non-finite cosine"))
  }

  test("mmrRerank: score ties break by id ascending") {
    // two identical candidates: same rel, same vector — tie at every step
    val cands = Seq(
      (7L, 0.5, Array(1.0, 0.0)),
      (3L, 0.5, Array(1.0, 0.0))
    ).toDF("id", "rel", "v")
    val got = graft.pipeline.Dedup.withMaterialized {
      Similarity.mmrRerank(cands, "id", "rel", "v", k = 2, lambda = 0.5)
        .collect().map(_.getLong(1)).toSeq
    }
    assert(got === Seq(3L, 7L))
  }

  test("hardNegatives: same-label rows never rank; otherwise ≡ bruteForceTopK") {
    val labeled = vecs.withColumn("label", pmod($"vec_id", lit(3L)))
    val qs = labeled.filter($"vec_id" < 4)
    val got = Similarity.hardNegatives(qs, labeled, "vec_id", "embedding",
      "label", k = 7).collect()
    val labelOf = labeled.collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("label"))).toMap
    // no self rows, no same-label rows, ranks 1..7 per query
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(q != n)
      assert(labelOf(q) != labelOf(n), s"same-label pair ($q, $n)")
    }
    got.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 7L))
    }
    // equals the brute-force top-k computed over the label-filtered corpus
    for (q <- 0L until 4L) {
      val only = Similarity.bruteForceTopK(
        labeled.filter($"vec_id" === q),
        labeled.filter(pmod($"vec_id", lit(3L)) =!= q % 3),
        "vec_id", "embedding", k = 7).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val mine = got.filter(_.getLong(0) == q)
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(mine === only, s"query $q")
    }
  }

  test("mutualKnnGraph: keeps only mutual top-k pairs, canonical a < b") {
    // hand-built top-k arm: 1↔2 mutual, 3↔4 mutual, 1→3 one-directional
    val topk = Seq(
      (1L, 2L, 0.9), (2L, 1L, 0.9),
      (1L, 3L, 0.8),
      (3L, 4L, 0.7), (4L, 3L, 0.7)
    ).toDF("query_id", "neighbor_id", "cosine")
    val got = Similarity.mutualKnnGraph(topk).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 0.9), (3L, 4L, 0.7)))
  }

  test("mutualKnnGraph over bruteForceTopK: symmetric, deduped, self-free") {
    val sample = vecs.filter($"vec_id" < 30)
    val graphDf = Similarity.mutualKnnGraph(
      Similarity.bruteForceTopK(sample, sample, "vec_id", "embedding", k = 6))
    val rows = graphDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // canonical orientation, one row per pair, no self-edges
    assert(rows.forall { case (a, b, _) => a < b })
    assert(rows.map(p => (p._1, p._2)).distinct.length === rows.length)
    // every emitted pair really is mutual in the top-6 arm
    val topk = Similarity.bruteForceTopK(sample, sample, "vec_id", "embedding", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (a, b, _) =>
      assert(topk.contains((a, b)) && topk.contains((b, a)))
    }
    // and no mutual pair is missing
    val expected = topk.filter { case (a, b) => a < b && topk.contains((b, a)) }
    assert(rows.map(p => (p._1, p._2)).toSet === expected)
  }
}

package graft

import graft.core.{ForwardFill, Fuser}
import graft.core.Fuser.{FuseOptions, TimestampCol}
import graft.ops.{AsOfJoin, RangeJoin, Resampler}
import graft.pipeline.Privacy
import graft.ops.Resampler.ResampleOptions
import graft.sources.FrameSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: drives the flagship paths (fuse → resample → ffill, as-of,
  * range join) over synthetic streams one to two orders of magnitude past the
  * bench SF, printing rows/sec per stage. The point is shape, not speed: a
  * single-task stage or a quadratic join shows up here as a cliff long before
  * it ooms a cluster. Row counts are asserted against closed-form
  * expectations so the run is also a correctness check at volume.
  *
  * Usage: `runMain graft.Stress [eventsPerSource]` (default 10M per source).
  */
object Stress {

  /** Times a full materialization through the noop sink — a bare `count()`
    * would let Catalyst eliminate the very operators under test (global
    * sorts, windows). The row count rides along as an observed metric, so
    * the pipeline executes exactly once. The time includes building `df`:
    * a sorted pass (resample, forward fill) runs its jobs while it is built.
    */
  private def timed(name: String, df: => DataFrame): Long = {
    // Inter-stage GC, same hygiene as Bench: collect the previous stage's
    // garbage (noop-written row batches, aggregation buffers) OUTSIDE this
    // stage's timed window. Measured without it: resample_1s ran 97 s
    // inside the full pass vs 25 s standalone — prior-stage heap state,
    // not resample cost.
    System.gc()
    val obs = org.apache.spark.sql.Observation()
    val t0  = System.nanoTime()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    val n = obs.get("n").asInstanceOf[Long]
    println(f"""{"stage":"$name","rows":$n,"sec":$s%.2f,"rows_per_sec":${(n / s).toLong}}""")
    n
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-stress").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0     = 1600000000000L
    val spanMs = 30L * 86400000L // 30 days
    // Deterministic pseudo-random event times: id * large-prime mod span.
    def stream(salt: Long, valCol: String): DataFrame =
      spark.range(n).select(
        (lit(t0) + pmod(col("id") * lit(2654435761L + salt), lit(spanMs))).as("ts"),
        col("id"),
        pmod(col("id") * lit(31L + salt), lit(100000L)).as("user_id"),
        (pmod(col("id") * lit(7L + salt), lit(1000L)) / lit(10.0)).as(valCol))

    val a = stream(0L, "price")
    val b = stream(17L, "quote")

    // 1. Fuse: union + range-partitioned global sort (2n rows through one
    // range exchange).
    val fused = Fuser.fuseFrames(
      Seq(FrameSource(a, "trades", "ts", secondarySortCol = Some("id")),
          FrameSource(b, "quotes", "ts", secondarySortCol = Some("id"))),
      FuseOptions(keepRowId = true)).df
    val fusedRows = timed("fuse_sort", fused)

    // 2. Resample the fused stream to a 1s grid (dense: ~2.6M boundaries,
    // nearly all non-empty at n >= 10M).
    val gridRows = timed("resample_1s", Resampler.resample(fused, "1s",
      opts = ResampleOptions(ffillKeys = Seq("price"), tieCols = Seq("exsym_lookup", "__rowid"))))
    // closed form from the actual event bounds (grid = b0..first boundary > t1)
    val Array(tMin, tMax) = fused
      .agg(min(col(TimestampCol)), max(col(TimestampCol))).head().toSeq.toArray.map(_.asInstanceOf[Long])
    val b0 = graft.time.Intervals.nextBoundary(tMin, "1s", initialize = true)
    val expectedGrid = Math.floorDiv(tMax - b0, 1000L) + 2L

    // 3. Partitioned forward fill over the fused stream (every column).
    lazy val filled = ForwardFill.partitioned(fused, Seq("price", "quote"), TimestampCol,
      Seq(col("exsym_lookup"), col("__rowid")))
    val filledRows = timed("ffill", filled)

    // 4. As-of join: n trades × n quotes on 100k keys (one shuffle each side,
    // per-key windows).
    val asof = AsOfJoin.asof(
      a.select(col("ts").as(TimestampCol), col("id"), col("user_id"), col("price")),
      b.select(col("ts").as(TimestampCol), col("user_id"), col("quote")),
      keyCols = Seq("user_id"), tsCol = TimestampCol, rightCols = Seq("quote"))
    timed("asof_join", asof)

    // 5. Range join with a 2s window (bounded fan-out equi-join).
    val rj = RangeJoin.timeRange(
      a.select(col("ts").as(TimestampCol), col("id"), col("user_id")),
      b.select(col("ts").as(TimestampCol), col("user_id"), col("quote")),
      keyCols = Seq("user_id"), tsCol = TimestampCol,
      lookbackMs = 1000L, lookaheadMs = 1000L, rightCols = Seq("quote"))
    timed("range_join_2s", rj)

    // ---- the reference's de-facto large workload, reproduced in shape: a
    // single ~30M-row 8-column trade source (the 600 MB Binance BTC-USDT
    // half-year CSV of tests/integration/test_core_single_nonoverlapping.py:84-116
    // and README.md:159) fused through the single-source path and resampled
    // to the reference handler's 1h grid with price forward-fill
    // (batch_interval='1h', ffill_keys=['price(p)']). Column types mirror
    // the reference's declared dtypes [int, bool, int, int, int, bool,
    // float, float]; row count and grid bounds are closed-form.
    val nRef = 3L * n
    val refSpanMs = 181L * 86400000L // ~the reference's half-year window
    val trades = spark.range(nRef).select(
      (lit(t0) + pmod(col("id") * lit(2654435761L), lit(refSpanMs))).as("ts"),
      (pmod(col("id"), lit(2)) === 0).as("is_buyer_maker"),
      col("id").as("trade_id"),
      (col("id") * 3L).as("first_id"),
      (col("id") * 3L + 2L).as("last_id"),
      (pmod(col("id"), lit(7)) === 0).as("is_best_match"),
      (lit(3500.0) + pmod(col("id") * lit(7919L), lit(400000L)) / lit(100.0)).as("price"),
      (pmod(col("id") * lit(104729L), lit(100000L)) / lit(1000.0)).as("qty"))
    val refFused = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades_btc_halfyear", "ts",
        secondarySortCol = Some("trade_id"))),
      FuseOptions(keepRowId = true)).df
    val refRows = timed("ref_single_fuse", refFused)
    lazy val refGrid = Resampler.resample(refFused, "1h",
      opts = ResampleOptions(ffillKeys = Seq("price"),
        tieCols = Seq("exsym_lookup", "__rowid")))
    val refGridRows = timed("ref_resample_1h", refGrid)
    val Array(rMin, rMax) = refFused
      .agg(min(col(TimestampCol)), max(col(TimestampCol)))
      .head().toSeq.toArray.map(_.asInstanceOf[Long])
    val rb0 = graft.time.Intervals.nextBoundary(rMin, "1h", initialize = true)
    val refExpected = Math.floorDiv(rMax - rb0, 3600000L) + 2L
    assert(refRows == nRef, s"single-source fuse $refRows vs $nRef")
    assert(refGridRows == refExpected, s"1h grid $refGridRows vs $refExpected")
    // at this density every 1h slot holds events, so the filled price may
    // be missing on at most the leading boundary
    val refNulls = refGrid.filter(col("price").isNull).count()
    assert(refNulls <= 1, s"unfilled price rows $refNulls")

    // Shape assertions: counts match closed forms.
    assert(fusedRows == 2 * n, "fuse must preserve rows")
    assert(gridRows == expectedGrid, s"grid $gridRows vs $expectedGrid")
    assert(filledRows == 2 * n, "ffill must preserve rows")

    // ---- text-dedup pipeline at volume: nd synthetic docs of 50 pseudo-
    // random words over a 5k vocab; every 100th doc duplicates its
    // predecessor, so exact-dup group count has a closed form.
    val nd = math.max(100000L, n / 20L)
    val docs = spark.range(nd).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"),
          pmod(xxhash64(col("id") - when(pmod(col("id"), lit(100)) === 99, lit(1L)).otherwise(lit(0L)), i),
            lit(5000L))))).as("text"))

    val dupGroups = timed("dedup_exact",
      graft.pipeline.Dedup.exactGroups(docs, "text", "doc_id"))
    val expectedGroups = nd - nd / 100 // each planted dup folds into its base

    val mh = timed("dedup_minhash_lsh",
      graft.pipeline.Dedup.minhashLshPairs(docs, "text", "doc_id",
        n = 3, bands = 8, rowsPerBand = 2, verifyThreshold = 0.8))
    val sh = timed("simhash_neardup",
      graft.pipeline.Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 3))

    assert(dupGroups == expectedGroups, s"groups $dupGroups vs $expectedGroups")
    // identical docs are jaccard-1.0 / hamming-0: both banded paths must
    // surface every planted pair
    assert(mh >= nd / 100, s"minhash pairs $mh < planted ${nd / 100}")
    assert(sh >= nd / 100, s"simhash pairs $sh < planted ${nd / 100}")

    // ---- pair -> cluster -> dedup decision at volume. The planted dups
    // are nd/100 isolated 2-cliques, so label propagation must converge in
    // one round and flag EXACTLY nd/100 non-representative members.
    // (clusters() runs its propagation jobs eagerly, so time it directly.)
    val tCl = System.nanoTime()
    val cl = graft.pipeline.Dedup.clusters(
      graft.pipeline.Dedup.minhashLshPairs(docs, "text", "doc_id",
        n = 3, bands = 8, rowsPerBand = 2, verifyThreshold = 0.8))
    val nonRep = cl.filter(col("id") =!= col("cluster_id")).count()
    val sCl = (System.nanoTime() - tCl) / 1e9
    println(f"""{"stage":"dedup_clusters","rows":${2 * nd / 100},"sec":$sCl%.2f,"rows_per_sec":${(2 * nd / 100 / sCl).toLong}}""")
    assert(nonRep == nd / 100, s"non-representatives $nonRep vs ${nd / 100}")

    // ---- chunk -> pack at volume: every synthetic doc has exactly 50
    // tokens; chunk 24 / stride 16 gives starts 0,16,32,48 -> exactly 4
    // chunks per doc (24,24,18,2 tokens). Both operators are narrow over
    // the doc stream except packing's per-stratum window, so rows/sec here
    // is the pure chunking throughput.
    val chunks = graft.pipeline.Chunking.chunk(docs, "text", "doc_id",
      chunkTokens = 24, strideTokens = 16)
    val chunkRows = timed("chunk", chunks)
    val packed = graft.pipeline.Sampling.packByBudget(
      chunks.select(col("doc_id"), col("chunk_idx"),
        pmod(col("doc_id"), lit(16)).as("stratum"), col("n_tokens")),
      "stratum", "n_tokens", budget = 512L,
      orderCols = Seq(col("doc_id"), col("chunk_idx")))
    val packedRows = timed("chunk_pack", packed)
    assert(chunkRows == 4L * nd, s"chunks $chunkRows vs ${4L * nd}")
    assert(packedRows == chunkRows, "packing must preserve chunk rows")

    // ---- decontamination at volume: the "eval set" is every 1000th doc
    // (offset 500 — never one of the planted duplicate pairs, and never
    // duplicated itself, since dups sit at id%100==99 copying id%100==98).
    // Docs are 50 pseudo-random words over a 5k vocab, so two DIFFERENT
    // docs cannot share 40 of 48 trigrams — the planted self-pairs are
    // exactly the expected overlap set, measured with the bench postings
    // broadcast against the full corpus explode.
    val bench = docs.filter(pmod(col("doc_id"), lit(1000)) === 500)
      .select(col("doc_id").as("bench_id"), col("text"))
    val contamRows = timed("contamination",
      graft.pipeline.Dedup.contaminationPairs(docs, bench, "text",
        "doc_id", "bench_id", n = 3, minShared = 40L))
    assert(contamRows == nd / 1000, s"contam pairs $contamRows vs ${nd / 1000}")

    // ---- incremental near-dup at volume: even-id docs are the "prior
    // corpus" (present only as their minhash signature artifact in the LSH
    // join), odd-id docs the new batch. The planted pairs (id%100==99
    // copying id-1) are always odd-vs-even, so every one of the nd/100
    // planted pairs must surface; random cross-side trigram overlap cannot
    // reach jaccard 0.8 (distinct 50-word docs share at most a few of 48
    // trigrams), so the count is exact, not a lower bound.
    val priorDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val priorSigs = graft.pipeline.Dedup.minhashSignatures(
      priorDocs, "text", "doc_id", n = 3, numHashes = 16)
    val incrPairs = timed("incr_near_dup",
      graft.pipeline.Dedup.nearDupsAgainstPrior(batchDocs, priorSigs, priorDocs,
        "text", "doc_id", n = 3, bands = 8, rowsPerBand = 2, verifyThreshold = 0.8))
    assert(incrPairs == nd / 100, s"incr near-dup pairs $incrPairs vs ${nd / 100}")

    // ---- duplicate-shingle fraction at volume: the two members of every
    // planted dup pair have ALL shingles at df>=2 (fraction exactly 1.0);
    // no other doc can reach 1.0 (that would need all 48 of its trigrams
    // independently collided). Linear profile — no pair join.
    val fracRows = timed("dup_shingle_fraction",
      graft.pipeline.Dedup.dupShingleFraction(docs, "text", "doc_id", n = 3))
    val fullDup = graft.pipeline.Dedup.dupShingleFraction(docs, "text", "doc_id", n = 3)
      .filter(col("dup_fraction") === 1.0).count()
    assert(fracRows == nd, s"profile rows $fracRows vs $nd")
    assert(fullDup == 2 * nd / 100, s"full-dup docs $fullDup vs ${2 * nd / 100}")

    // ---- Bloom blocklist probe at volume: the same eval set as a Bloom
    // artifact probed map-side against all nd docs. Every bench doc is its
    // own text's only occurrence (ids %1000==500 are never the planted
    // dups), so: zero false negatives means all nd/1000 members hit, and
    // hits beyond that are FPs bounded by fpp against nd non-members.
    val benchBloom = graft.pipeline.Sketches.bloomBuild(
      bench, "text", math.max(1L, nd / 1000), fpp = 0.001)
    val bloomHits = timed("bloom_probe",
      graft.pipeline.Sketches.bloomProbe(docs, "text", benchBloom)
        .filter(col("might_contain")))
    val bloomMisses = graft.pipeline.Sketches.bloomProbe(docs, "text", benchBloom)
      .filter(pmod(col("doc_id"), lit(1000)) === 500 && !col("might_contain"))
      .count()
    assert(bloomMisses == 0L, s"$bloomMisses false negatives — guarantee broken")
    assert(bloomHits <= nd / 1000 + (3 * 0.001 * nd).toLong + 10,
      s"bloom FPs above budget: $bloomHits hits for ${nd / 1000} members")

    // ---- tf-idf keywords at volume: 50-word docs over a 5k vocab always
    // carry >= 3 distinct terms, so top-3 extraction is exactly 3 rows/doc.
    val tfidfRows = timed("tfidf_top3",
      graft.pipeline.TextAnalysis.tfIdfTopK(docs, "text", "doc_id", k = 3))
    assert(tfidfRows == 3L * nd, s"tfidf rows $tfidfRows vs ${3L * nd}")

    // ---- BM25 retrieval at volume: every synthetic doc is exactly 50
    // tokens, so the corpus stats have closed forms (avgdl ≡ 50.0,
    // total ≡ 50·nd); the scan face and the index face must agree on the
    // top-50 after rounding (the only inter-face degree of freedom is
    // contribution sum order).
    val bmStats = graft.pipeline.Bm25.corpusStats(docs, "text", "doc_id")
    val bmRow = bmStats.collect()(0)
    assert(bmRow.getLong(0) == nd && bmRow.getLong(1) == 50L * nd &&
      bmRow.getDouble(2) == 50.0,
      s"bm25 stats ${bmRow.toSeq} vs ($nd, ${50L * nd}, 50.0)")
    val bmQuery = Seq("w0", "w123", "w2500", "w4999")
    val bmModel = graft.pipeline.Bm25.trainModel(docs, "text", "doc_id")
    val bmScanT0 = System.nanoTime()
    val bmScan = graft.pipeline.Bm25.topK(docs, "text", "doc_id",
        bmModel, bmStats, bmQuery, n = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sBmScan = (System.nanoTime() - bmScanT0) / 1e9
    println(f"""{"stage":"bm25_scan_top50","docs":$nd,"sec":$sBmScan%.2f,"rows_per_sec":${(nd / sBmScan).toLong}}""")
    val bmDir = java.nio.file.Files.createTempDirectory("stress_bm25").toString
    val bmIdxT0 = System.nanoTime()
    graft.pipeline.Bm25.saveIndex(
      graft.pipeline.Bm25.buildIndex(docs, "text", "doc_id"), bmStats, bmDir)
    val sBmIdx = (System.nanoTime() - bmIdxT0) / 1e9
    val (bmPost, bmSavedStats) = graft.pipeline.Bm25.loadIndex(spark, bmDir)
    val bmPostings = bmPost.count()
    println(f"""{"stage":"bm25_index_build","postings":$bmPostings,"sec":$sBmIdx%.2f,"rows_per_sec":${(bmPostings / sBmIdx).toLong}}""")
    // search the SAVED term-clustered index — the production shape: the
    // query-term IN filter prunes row groups at the scan
    val bmSrchT0 = System.nanoTime()
    val bmIdxTop = graft.pipeline.Bm25.searchIndex(bmPost, bmSavedStats,
        "doc_id", bmQuery, n = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sBmSrch = (System.nanoTime() - bmSrchT0) / 1e9
    println(f"""{"stage":"bm25_index_search","sec":$sBmSrch%.2f}""")
    assert(bmScan.length == 50 && bmIdxTop.length == 50,
      s"bm25 top-50 short: scan ${bmScan.length}, index ${bmIdxTop.length}")
    assert(bmScan.sortBy(_._1).sameElements(bmIdxTop.sortBy(_._1)),
      "bm25 scan face and index face disagree at volume")
    assert(bmScan.forall(_._2 == 50L), "a bm25 hit reports dl != 50")

    // ---- linear interpolation at volume: per-user 1h grid over stream a
    // (100k keys x ~720 boundaries). The expected row count is derived
    // arithmetically from each key's (min, max) bounds — grid points k with
    // ceil(t0/step) <= k <= (t1-1) div step, plus t1 itself when aligned —
    // so missing keys, duplicated grid points or a broken chunk explode all
    // break the equality.
    val evI = a.select(col("ts").as(TimestampCol), col("user_id"), col("id"), col("price"))
    val interpRows = timed("interp_1h",
      graft.ops.Interpolate.linearAtGrid(evI, "1h", Seq("user_id"),
        TimestampCol, "price", tieCols = Seq("id")))
    val stepH = 3600000L
    val expInterp = evI.groupBy(col("user_id"))
      .agg(min(col(TimestampCol)).as("t0"), max(col(TimestampCol)).as("t1"))
      .select(sum(
        greatest(lit(0L),
          expr(s"(t1 - 1) div $stepH") - expr(s"(t0 + ${stepH - 1}) div $stepH") + lit(1L)) +
        when(pmod(col("t1"), lit(stepH)) === 0L, 1L).otherwise(0L)).as("e"))
      .head().getLong(0)
    assert(interpRows == expInterp, s"interp rows $interpRows vs $expInterp")

    // ---- interval bars at volume: 1-minute OHLC per user (100k keys x
    // up to 43200 minute buckets). Expected bar count = distinct
    // (user, bucket) pairs, derived by an independent aggregation; any
    // duplicate or dropped bar breaks the equality.
    val evB = a.select(col("ts").as(TimestampCol), col("user_id"), col("id"),
      col("price"))
    val barRows = timed("ohlc_1m",
      graft.ops.Bars.ohlc(evB, "1m", Seq("user_id"), TimestampCol, "price",
        tieCols = Seq("id")))
    val expBars = evB.select(col("user_id"),
        (floor(col(TimestampCol) / 60000L) * 60000L).cast("long").as("b"))
      .distinct().count()
    assert(barRows == expBars, s"ohlc bars $barRows vs $expBars")

    // TWAP hourly: every user's events contribute (#events - 1) weighted
    // segments (the last has no successor), and user = id*31 mod 100k hits
    // all 100k keys at this n — so the output's total segment count has
    // the closed form n - 100000, independent of bucketing.
    val twapDf = graft.ops.Bars.twap(evB, "1h", Seq("user_id"), TimestampCol,
      "price", tieCols = Seq("id"))
    val tObs = org.apache.spark.sql.Observation()
    System.gc()
    val tT0 = System.nanoTime()
    twapDf.observe(tObs, count(lit(1)).as("rows"), sum(col("n_segments")).as("segs"))
      .write.format("noop").mode("overwrite").save()
    val tSec = (System.nanoTime() - tT0) / 1e9
    val twapRows = tObs.get("rows").asInstanceOf[Long]
    val twapSegs = tObs.get("segs").asInstanceOf[Long]
    println(f"""{"stage":"twap_1h","rows":$twapRows,"sec":$tSec%.2f,"rows_per_sec":${(twapRows / tSec).toLong}}""")
    assert(twapSegs == n - 100000L,
      s"twap segments $twapSegs vs ${n - 100000L}")

    // ---- z-order layout at volume: n events clustered on the Morton curve
    // of (user bucket, hour index) into 128 curve-contiguous files, then a
    // 2-D box read back — file skipping comes from parquet min/max stats
    // the curve keeps tight in BOTH dimensions; the count must match the
    // direct filter on the unclustered stream.
    val zDir = java.nio.file.Files.createTempDirectory("stress_zorder_").toFile
    try {
      val zIn = a.select(col("id"), col("ts"),
        (col("user_id") / lit(100L)).cast("long").as("ub"),
        floor((col("ts") - t0) / 3600000L).cast("long").as("hb"))
      val tZ = System.nanoTime()
      graft.ops.Layout.zorderWrite(zIn, "ub", "hb", zDir.toString, nFiles = 128)
      val sZ = (System.nanoTime() - tZ) / 1e9
      println(f"""{"stage":"zorder_write","rows":$n,"sec":$sZ%.2f,"rows_per_sec":${(n / sZ).toLong}}""")
      val boxRows = timed("zorder_box_read",
        spark.read.parquet(zDir.toString)
          .filter(col("ub").between(100L, 299L) && col("hb").between(200L, 299L)))
      val expBox = zIn.filter(col("ub").between(100L, 299L) &&
        col("hb").between(200L, 299L)).count()
      assert(boxRows == expBox, s"zorder box $boxRows vs $expBox")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(zDir)
    }

    // ---- time-partitioned layout at volume: stream a (n events, 30 days)
    // written as a day-bucketed tree, then a 1.5-day window read back
    // through partition pruning; counts must match the direct filter.
    val layoutDir = java.nio.file.Files.createTempDirectory("stress_layout_").toFile
    try {
      val tL = System.nanoTime()
      graft.ops.Layout.writeTimePartitioned(
        a.select(col("ts"), col("id")), "ts", "1d", layoutDir.toString)
      val sL = (System.nanoTime() - tL) / 1e9
      println(f"""{"stage":"layout_write","rows":$n,"sec":$sL%.2f,"rows_per_sec":${(n / sL).toLong}}""")
      val ws = t0 + 10L * 86400000L + 43200000L
      val we = ws + 129600000L // 1.5 days
      val winRows = timed("layout_window_read",
        graft.ops.Layout.readWindow(spark, layoutDir.toString, "ts", "1d", ws, we))
      val expectWin = a.filter(col("ts") >= ws && col("ts") < we).count()
      assert(winRows == expectWin, s"layout window $winRows vs $expectWin")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(layoutDir)
    }

    // ---- production-vocabulary BPE at volume: the driver-side pair-heap
    // trainer over the collected vocabulary (1k merges — the synthetic
    // 5k-type corpus may exhaust its pair space first, which is the
    // trainer's documented early stop), then the strict-rank-order kernel
    // encode over every document. Token count is sanity-bounded: merges
    // only ever SHRINK a word's symbol count, so tokens ≤ total chars.
    val tB = System.nanoTime()
    val bpeMerges1k = graft.pipeline.Bpe.trainMergesHeap(docs, "text", nMerges = 1000)
    val sBt = (System.nanoTime() - tB) / 1e9
    println(f"""{"stage":"bpe_train_heap","merges":${bpeMerges1k.length},"docs":$nd,"sec":$sBt%.2f}""")
    val tBe = System.nanoTime()
    val bpeEnc = graft.pipeline.Bpe.encodeKernel(docs, "doc_id", "text", bpeMerges1k)
      .agg(count(lit(1)), sum(col("n_bpe_tokens")), sum(col("n_words"))).head()
    val sBe = (System.nanoTime() - tBe) / 1e9
    assert(bpeEnc.getLong(0) == nd, s"bpe encode lost docs: ${bpeEnc.getLong(0)}")
    assert(bpeEnc.getLong(1) <= 50L * 6 * nd && bpeEnc.getLong(1) >= bpeEnc.getLong(2),
      s"bpe token count implausible: ${bpeEnc.getLong(1)} vs words ${bpeEnc.getLong(2)}")
    println(f"""{"stage":"bpe_encode_kernel","docs":$nd,"tokens":${bpeEnc.getLong(1)},"sec":$sBe%.2f,"docs_per_sec":${(nd / sBe).toLong}}""")

    // ---- pre-bucketed GRAPH layout round-trip at volume: a 3M-edge graph
    // written as a src-bucketed, bucket-sorted table, read back, and
    // iterated on by the NON-GATED PageRank loop (edgeBufferLimit = 0
    // forces the web-scale path; broadcastNodeLimit = 0 forces the
    // co-partitioned joins). Proves the layout survives write → read →
    // iterate and the loop converges to a full rank vector at volume.
    val gN = 1000000L
    val gEdges = spark.range(gN).select(
        col("id").as("src"), pmod(col("id") * 37 + 11, lit(gN)).as("dst"))
      .union(spark.range(gN).select(
        col("id").as("src"), pmod(col("id") + 1, lit(gN)).as("dst")))
      .union(spark.range(gN).select(
        col("id").as("src"), pmod(col("id"), lit(997L)).as("dst")))
    try {
      val tG = System.nanoTime()
      graft.ops.Layout.writeBucketedTable(gEdges, "stress_graph_edges", "src", 64)
      val sG = (System.nanoTime() - tG) / 1e9
      println(f"""{"stage":"graph_layout_write","rows":${3 * gN},"sec":$sG%.2f,"rows_per_sec":${(3 * gN / sG).toLong}}""")
      val back = spark.table("stress_graph_edges")
      val tI = System.nanoTime()
      val pr = graft.pipeline.Dedup.withMaterialized {
        graft.ops.Graph.pageRank(back, "src", "dst", iterations = 3,
            broadcastNodeLimit = 0L, edgeBufferLimit = 0L)
          .agg(count(lit(1)), sum(col("r"))).head()
      }
      val sI = (System.nanoTime() - tI) / 1e9
      val prNodes = pr.getLong(0)
      assert(prNodes == gN, s"graph roundtrip ranked $prNodes of $gN nodes")
      // every node has an out-edge, so rank mass is conserved
      assert(math.abs(pr.getDouble(1) - 1.0) < 1e-6,
        s"rank mass ${pr.getDouble(1)}")
      println(f"""{"stage":"graph_layout_roundtrip","nodes":$prNodes,"sec":$sI%.2f,"iters":3}""")
    } finally {
      spark.sql("DROP TABLE IF EXISTS stress_graph_edges")
    }

    // ---- graph-ML family at volume: walks / k-core / link prediction
    // over the same 1M-node, 3M-edge graph shapes.
    // Walks: every node has an out-edge, so every walk must run the full
    // horizon — a closed-form row count — and the hash-seeded rule must
    // reproduce bit-identically across two independent runs.
    {
      val wSeeds = spark.range(0, gN, 1009).select(col("id").as("doc_id"))
      def walkRun() = graft.pipeline.Dedup.withMaterialized {
        graft.ops.Graph.randomWalks(gEdges, "src", "dst", wSeeds, "doc_id",
            steps = 8)
          .agg(count(lit(1)), sum(expr("walk_id * 31 + step * 7 + node")))
          .head()
      }
      val tW = System.nanoTime()
      val w1 = walkRun()
      val sW = (System.nanoTime() - tW) / 1e9
      val nWalks = (gN + 1008) / 1009
      assert(w1.getLong(0) == 9 * nWalks,
        s"walks emitted ${w1.getLong(0)} rows, expected ${9 * nWalks}")
      val w2 = walkRun()
      assert(w1.getLong(0) == w2.getLong(0) && w1.getLong(1) == w2.getLong(1),
        "walk corpus not reproducible across runs")
      println(f"""{"stage":"graph_walks","walks":$nWalks,"steps":8,"edges":${3 * gN},"sec":$sW%.2f}""")
    }
    // k-core: a gN-node ring (everyone degree 2) with a 2-node hair chain
    // off every 100th node — the peel must remove EXACTLY the hairs, in a
    // genuine 2-round cascade, leaving every ring node at degree 2.
    {
      val ring = spark.range(gN).select(
        col("id").as("src"), pmod(col("id") + 1, lit(gN)).as("dst"))
      val hairAnchors = spark.range(gN).filter(pmod(col("id"), lit(100)) === 3)
      val kcEdges = ring
        .union(hairAnchors.select(col("id").as("src"), (col("id") + gN).as("dst")))
        .union(hairAnchors.select(
          (col("id") + gN).as("src"), (col("id") + 2 * gN).as("dst")))
      val tK = System.nanoTime()
      val core = graft.pipeline.Dedup.withMaterialized {
        graft.ops.Graph.kCore(kcEdges, "src", "dst", k = 2)
          .agg(count(lit(1)), min(col("degree")), max(col("degree")),
            max(col("node")))
          .head()
      }
      val sK = (System.nanoTime() - tK) / 1e9
      assert(core.getLong(0) == gN, s"k-core kept ${core.getLong(0)} of $gN")
      assert(core.getLong(1) == 2 && core.getLong(2) == 2,
        s"surviving degrees [${core.getLong(1)}, ${core.getLong(2)}] != 2")
      assert(core.getLong(3) == gN - 1, "a hair node survived the peel")
      println(f"""{"stage":"kcore_peel","nodes":$gN,"hairs":${2 * (gN / 100)},"sec":$sK%.2f}""")
    }
    // link prediction: the hub cap must hold the wedge fan-out — the
    // gEdges graph has ~1k-degree hubs (dst = id % 997) whose uncapped
    // wedges would number ~500M; capped at 64 the pass stays linear.
    // Invariant: no predicted pair may be an existing edge.
    {
      val tL = System.nanoTime()
      val lp = graft.pipeline.Dedup.withMaterialized {
        val preds = graft.ops.Graph.linkPredict(gEdges, "src", "dst",
          maxCenterDegree = 64)
        val sym = gEdges.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        val overlap = preds.join(sym, Seq("u", "v"), "left_semi").count()
        (preds.count(), overlap)
      }
      val sL = (System.nanoTime() - tL) / 1e9
      assert(lp._1 > 0, "link prediction emitted nothing")
      assert(lp._2 == 0, s"${lp._2} predicted pairs are existing edges")
      println(f"""{"stage":"link_predict_capped","pairs":${lp._1},"sec":$sL%.2f}""")
    }

    // ---- weighted sample + proportional mix at volume. The sample is
    // TakeOrdered(k): k rows reach the driver heap regardless of nd. The
    // mix is one keyed window + integer stride arithmetic; its 600-row
    // prefix must hold each source at its target share (s0 weighted 3 of
    // total 6 -> exactly half, the stride-scheduling guarantee).
    val wRows = timed("weighted_sample",
      graft.pipeline.Sampling.weightedSample(
        docs.select(col("doc_id"), (pmod(col("doc_id"), lit(10)) + 1).as("w")),
        "doc_id", "w", k = 1000))
    assert(wRows == 1000, s"weighted sample returned $wRows rows")

    val mixed = graft.pipeline.Sampling.mixByParts(
      docs.select(col("doc_id"),
        concat(lit("s"), pmod(col("doc_id"), lit(4))).as("src")),
      "doc_id", "src", parts = Map("s0" -> 3L), defaultPart = 1L)
    val mRows = timed("mix_sources", mixed)
    assert(mRows == nd, s"mix must keep all $nd rows, got $mRows")
    val head = mixed.orderBy(col("mix_key"), col("src"), col("doc_id"))
      .limit(600).groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(head("s0") - 300L) <= 3,
      s"mix prefix off target: $head")

    // ---- ordered funnel at volume: n events over 100k users, stage =
    // id mod 3 — every user sees ~n/300k of each stage spread across the
    // span, so (a) every user that entered completes all three stages
    // except (b) the PLANTED cohort (user_id % 997 == 0) whose s2 events
    // are rewritten to s1 and can therefore never complete.
    val planted = pmod(col("user_id"), lit(997L)) === 0L
    val fEv = a.select(col("user_id"), col("ts"),
      when(planted && pmod(col("id"), lit(3L)) === 2L, lit("s1"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(3L)))).as("typ"))
    val fOut = graft.ops.Funnel.funnelStages(fEv, "user_id", "ts", "typ",
      Seq("s0", "s1", "s2"))
    val t0f = System.nanoTime()
    val fRows = fOut.count()
    val sF = (System.nanoTime() - t0f) / 1e9
    println(f"""{"stage":"funnel","rows":$fRows,"sec":$sF%.2f,"events":$n}""")
    val entered = fEv.filter(col("typ") === "s0")
      .select(col("user_id")).distinct().count()
    assert(fRows == entered, s"funnel rows $fRows vs entered $entered")
    val plantedIncomplete = fOut
      .filter(pmod(col("user_id"), lit(997L)) === 0L && col("s2_ms").isNotNull)
      .count()
    assert(plantedIncomplete == 0L,
      s"$plantedIncomplete planted users completed an impossible funnel")
    val reached = fOut.groupBy(col("stages_reached")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // completions are monotone by construction; the planted cohort caps at 2
    assert(reached.getOrElse(3, 0L) > 0L && reached.getOrElse(2, 0L) > 0L, reached.toString)

    // ---- vocabulary drift at volume: the nd docs in 4 statistically
    // identical source groups plus a small planted group on a DISJOINT
    // vocabulary — its JS must dominate every natural group's by an order
    // of magnitude, and everything stays inside [0, ln 2].
    val driftDocs = docs
      .select(concat(lit("s"), pmod(col("doc_id"), lit(4L))).as("src"), col("text"))
      .unionByName(spark.range(1000).select(lit("drift").as("src"),
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => concat(lit("zz"), pmod(xxhash64(col("id"), i), lit(500L))))).as("text")))
    val t0d = System.nanoTime()
    val drift = graft.pipeline.Profiler.jsDrift(driftDocs, "text", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val sD = (System.nanoTime() - t0d) / 1e9
    println(f"""{"stage":"js_drift","docs":${nd + 1000},"sec":$sD%.2f,"drift":${drift("drift")}%.4f}""")
    val ln2 = math.log(2.0)
    assert(drift.values.forall(v => v >= 0 && v <= ln2 + 1e-9), drift.toString)
    val natural = (drift - "drift").values
    assert(drift("drift") > 10 * natural.max,
      s"planted drift ${drift("drift")} not dominant over $natural")

    // ---- vector similarity at volume: nv pseudo-random 64-dim embeddings,
    // every 100th a copy of its predecessor. Identical vectors share every
    // LSH bucket, so the sign-LSH path must surface all planted pairs.
    val nv = nd / 5
    val vecs = spark.range(nv).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id") - when(pmod(col("id"), lit(100)) === 99, lit(1L)).otherwise(lit(0L)), i),
          lit(2000L)).cast("double") - 1000.0) / 1000.0).as("embedding"))

    val lsh = timed("ann_lsh_pairs",
      graft.pipeline.Similarity.lshPairs(vecs, "vec_id", "embedding",
        dim = 64, threshold = 0.999,
        bitsPerTable = graft.pipeline.Similarity.lshBitsFor(nv), tables = 4))
    assert(lsh >= nv / 100, s"lsh pairs $lsh < planted ${nv / 100}")

    val ivf = timed("ann_ivf_topk",
      graft.pipeline.Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 50),
        "vec_id", "embedding", nCells = 64, k = 5))
    assert(ivf > 0, "ivf returned nothing")

    // ---- IVF multi-probe recall at volume: nvp >= 1M vectors, 32 dims,
    // with PLANTED cluster structure — vector = its cluster's center (256
    // deterministic centers) + small per-vector noise, the shape real
    // embedding corpora have and the one IVF's cell pruning exploits
    // (uniform structureless vectors measured ~0.8 recall at nProbe=8:
    // with no clusters, neighbors are near-orthogonal and cells are
    // arbitrary). Ground truth = brute-force cosine top-5 for 40 queries;
    // recall@5 of the IVF path must be MONOTONE in nProbe (probing more
    // cells only adds candidates) and reach >= 0.9 by nProbe=8 of 64
    // cells. Centroids are trained ONCE and shared across probes, so the
    // stage times pure probe cost.
    val nvp = math.max(1000000L, nd * 2L)
    val pCluster = pmod(col("id"), lit(256L))
    val pVecs = spark.range(nvp).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        i => ((pmod(xxhash64(pCluster, i), lit(2000L)).cast("double") - 1000.0)
            / 1000.0) +
          ((pmod(xxhash64(col("id"), i, lit(7L)), lit(1000L)).cast("double") - 500.0)
            / 1000.0)).as("embedding"))
    val pQueries = pVecs.filter(pmod(col("vec_id"), lit(25000L)) === 3L).limit(40)
    val truth = graft.pipeline.Similarity.bruteForceTopK(
      pQueries, pVecs, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = graft.pipeline.Similarity.ivfCentroids(pVecs, "vec_id", "embedding", 64)
    val recalls = Seq(1, 2, 8).map { nProbe =>
      val t0p = System.nanoTime()
      val hits = graft.pipeline.Similarity.ivfTopK(
        pVecs, pQueries, "vec_id", "embedding", 5, cents, nProbe)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).count(truth.contains)
      val sp = (System.nanoTime() - t0p) / 1e9
      val recall = hits.toDouble / truth.size
      println(f"""{"stage":"ivf_probe_recall","nprobe":$nProbe,"recall":$recall%.3f,"sec":$sp%.2f,"vecs":$nvp}""")
      recall
    }
    assert(recalls.sliding(2).forall(w => w(0) <= w(1) + 1e-9),
      s"recall not monotone in nProbe: $recalls")
    assert(recalls.last >= 0.9, s"recall@5 with nProbe=8 too low: ${recalls.last}")

    // ---- PQ at volume: native-kernel encode of the planted corpus, then
    // full-scan ADC top-k for the same 40 queries. What ADC can and cannot
    // deliver on cluster-structured data (measured, not assumed — the
    // round-6 snapshot's recall@5-vs-cosine-truth ≥ 0.6 assert had never
    // actually run and is unsatisfiable on this fixture):
    //  - COARSE structure survives quantization: every ADC pick must come
    //    from the query's own planted cluster (measured 1.000).
    //  - FINE within-cluster ranking does NOT: same-cluster members differ
    //    by noise below the quantization cell radius, so their ADC scores
    //    tie and the top-5 is arbitrary among them (recall@5 vs the cosine
    //    truth ≈ 0.03 no matter the codebook size — 256 centroids measure
    //    the same as 64). The production composition for fine ranking is
    //    candidate generation + exact re-rank, asserted below on planted
    //    near-duplicate twins; FAISS-style residual encoding is the other
    //    public option.
    val pqBooks = graft.pipeline.PQ.pqCodebooks(
      pVecs, "vec_id", "embedding", nSubq = 8, nCentroids = 64)
    val encRows = timed("pq_encode",
      graft.pipeline.PQ.pqEncode(pVecs, "embedding", pqBooks)
        .select(col("vec_id"), col("pq_codes")))
    assert(encRows == nvp, s"pq_encode dropped rows: $encRows != $nvp")
    val t0Adc = System.nanoTime()
    val adcPairs = graft.pipeline.PQ.pqTopK(
        pVecs, pQueries, "vec_id", "embedding", 5, pqBooks)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sAdc = (System.nanoTime() - t0Adc) / 1e9
    val sameCluster = adcPairs.count { case (q, n) => q % 256L == n % 256L }
    val clusterFrac = sameCluster.toDouble / adcPairs.length
    println(f"""{"stage":"pq_adc_topk","same_cluster_frac":$clusterFrac%.3f,"sec":$sAdc%.2f,"vecs":$nvp}""")
    assert(adcPairs.length == truth.size, s"ADC row count: ${adcPairs.length}")
    assert(clusterFrac >= 0.95, s"ADC lost cluster structure: $clusterFrac")

    // Candidate generation + exact re-rank on planted twins: ids >= nvp/2
    // are near-duplicates (±0.01/dim) of id − nvp/2 on an L2-NORMALIZED
    // corpus (the operator's documented cosine contract — IP ≡ cosine, so
    // each twin is its query's TRUE top-1). Plain ADC@5 cannot surface
    // them (score ties under code collision, measured 0.175); ADC@100
    // candidates + exact re-rank must put the twin at rank 1 whenever it
    // was generated, and generation itself must clear 0.7.
    val half  = nvp / 2
    val tBase = pVecs.filter(col("vec_id") < half)
    val twins = tBase.select((col("vec_id") + half).as("vec_id"),
      transform(col("embedding"), (e, i) =>
        e + (pmod(xxhash64(col("vec_id"), i, lit(11L)), lit(100L)).cast("double") - 50.0)
          / 5000.0).as("embedding"))
    val tsq = aggregate(transform(col("embedding"), x => x * x), lit(0.0), (a, b) => a + b)
    val ntCorpus = tBase.union(twins).select(col("vec_id"),
      when(tsq === 0.0, col("embedding"))
        .otherwise(transform(col("embedding"), x => x / sqrt(tsq))).as("embedding"))
    val ntQueries = ntCorpus.filter(col("vec_id") < half)
      .filter(pmod(col("vec_id"), lit(12500L)) === 3L).limit(40)
    val ntBooks = graft.pipeline.PQ.pqCodebooks(
      ntCorpus, "vec_id", "embedding", nSubq = 8, nCentroids = 64)
    val t0Rr = System.nanoTime()
    val cand = graft.pipeline.PQ.pqTopK(
      ntCorpus, ntQueries, "vec_id", "embedding", 100, ntBooks)
      .select(col("query_id"), col("neighbor_id"))
    val rq = ntQueries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__rq"))
    val rc = ntCorpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("__rc"))
    val rw = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    val rer = cand.join(rq, Seq("query_id")).join(rc, Seq("neighbor_id"))
      .withColumn("ip", graft.functions.VectorDot.vectorDot(col("__rq"), col("__rc")))
      .withColumn("rank", row_number().over(rw)).filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val candSet  = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qIds     = rer.map(_._1).distinct
    val genRate  = qIds.count(q => candSet.contains((q, q + half))).toDouble / qIds.length
    val rr1Rate  = qIds.count(q => rer.contains((q, q + half))).toDouble / qIds.length
    val sRr = (System.nanoTime() - t0Rr) / 1e9
    println(f"""{"stage":"pq_rerank_twins","candidate_rate":$genRate%.3f,"rerank_at1":$rr1Rate%.3f,"sec":$sRr%.2f,"vecs":$nvp}""")
    assert(genRate >= 0.7, s"ADC candidate generation too weak: $genRate")
    // exact re-rank recovers the twin for EVERY query whose twin was in
    // the candidate set (the twin is the true cosine top-1)
    assert(rr1Rate >= genRate - 1e-9,
      s"re-rank dropped generated twins: $rr1Rate vs $genRate")

    // ---- k-means‖ distributed trainer on a UNIFORM (unclustered) corpus:
    // the regime where a fixed 4096-row sample under-fits many cells
    // (256 cells → 16 samples/cell). The coreset trainer sees the WHOLE
    // corpus cost-weighted while the driver holds only ~ℓ·rounds
    // candidates, so its quantizer must fit AT LEAST as well — asserted on
    // the training OBJECTIVE (mean angular misfit over the corpus), the
    // metric the trainer actually optimizes. Recall@5 at nProbe=8 rides
    // along as a parity band, not a superiority claim: on structureless
    // vectors, small-probe recall is NOT monotone in quantizer quality
    // (measured here: distributed obj 0.3333 < sampled 0.3342 while
    // recall 0.79 vs 0.87 — boundary neighbors split differently), and
    // uniform corpora are exactly where plain sampling is adequate. The
    // distributed path's claim is bounded driver state at unbounded corpus
    // diversity, with no fit regression.
    val nvu = 300000L
    val uVecs = spark.range(nvu).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(col("id"), i), lit(2000L)).cast("double") - 1000.0)
          / 1000.0).as("embedding"))
    val uQueries = uVecs.filter(pmod(col("vec_id"), lit(9999L)) === 5L).limit(30)
    val uTruth = graft.pipeline.Similarity.bruteForceTopK(
      uQueries, uVecs, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivfEval(cents: Array[(Long, Array[Double])], label: String): (Double, Double) = {
      val t1 = System.nanoTime()
      val hits = graft.pipeline.Similarity.ivfTopK(
        uVecs, uQueries, "vec_id", "embedding", 5, cents, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).count(uTruth.contains)
      val occ = graft.pipeline.Similarity.ivfAssign(uVecs, "embedding", cents)
        .groupBy("cell_id").count().collect().map(_.getLong(1))
      assert(occ.length == cents.length, s"$label: dead cells (${occ.length})")
      assert(occ.max <= 2 * (occ.sum / occ.length), s"$label: skewed cells ${occ.max}")
      val cands = cents.map { case (_, v) =>
        val nm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nm)
      }
      val sq = aggregate(transform(col("embedding"), x => x * x), lit(0.0), (a, b) => a + b)
      val obj = uVecs.select(
          when(sq === 0.0, col("embedding"))
            .otherwise(transform(col("embedding"), x => x / sqrt(sq))).as("nv"))
        .select((graft.functions.NearestCentroid.nearestCentroid(col("nv"), cands)
          .getField("d2") / 2.0).as("ad"))
        .agg(avg(col("ad"))).head.getDouble(0)
      val recall = hits.toDouble / uTruth.size
      val sE = (System.nanoTime() - t1) / 1e9
      println(f"""{"stage":"kmeanspar_$label","recall":$recall%.3f,"objective":$obj%.5f,"sec":$sE%.2f,"vecs":$nvu}""")
      (recall, obj)
    }
    val sCents = graft.pipeline.Similarity.ivfCentroids(
      uVecs, "vec_id", "embedding", nCells = 256)
    val (sRec, sObj) = ivfEval(sCents, "sampled")
    val dCents = graft.pipeline.Similarity.ivfCentroids(
      uVecs, "vec_id", "embedding", nCells = 256,
      sampleSize = None, oversample = 1024, rounds = 4)
    val (dRec, dObj) = ivfEval(dCents, "distributed")
    assert(dObj <= sObj + 1e-4,
      s"distributed trainer fits worse than the 4096-sample one: $dObj vs $sObj")
    assert(dRec >= 0.6 && dRec >= sRec - 0.12,
      s"distributed recall out of parity band: $dRec vs sampled $sRec")

    // ---- SemDeDup at volume: 200k vectors (100k base + their planted
    // normalized twins from ntCorpus) through the full cell-pruned
    // semantic-dedup pass with 256 cells. Threshold 0.99 cleanly separates
    // twin pairs (cosine ≈ 0.9999 — ±0.01/dim noise) from same-cluster
    // non-twins (≈ 0.8 — independent ±0.5/dim noise), so the measured
    // claims are:
    //  - twins co-locate: ≥ 90% of twin pairs land in the SAME cell (they
    //    are near-identical, so the rounded argmax rarely splits them);
    //  - the keep rule fires on every co-located twin pair: ZERO pairs
    //    with both members kept (checked distributed — kept ⋈ kept);
    //  - nothing else is touched: drops stay within 10% of the co-located
    //    twin-pair count (same-cluster non-twins sit far below threshold).
    val sdHalf   = 100000L
    val sdCorpus = ntCorpus.filter(pmod(col("vec_id"), lit(half)) < sdHalf)
    val sdCents = graft.pipeline.Similarity.ivfCentroids(
      sdCorpus, "vec_id", "embedding", nCells = 256)
    val sdAssigned = graft.pipeline.Similarity.ivfAssign(
      sdCorpus, "embedding", sdCents)
    val coPairs = sdAssigned.filter(col("vec_id") < sdHalf)
      .select(col("vec_id").as("b"), col("cell_id").as("cb"))
      .join(sdAssigned.filter(col("vec_id") >= lit(half))
        .select((col("vec_id") - half).as("b"), col("cell_id").as("ct")),
        Seq("b"))
      .filter(col("cb") === col("ct")).select(col("b"))
    val coTwin = coPairs.count()
    assert(coTwin >= (0.9 * sdHalf).toLong,
      s"twin pairs split across cells: $coTwin of $sdHalf co-located")
    val t0Sd = System.nanoTime()
    val sdKept = graft.pipeline.SemDedup.keep(
      sdCorpus, "vec_id", "embedding", sdCents, threshold = 0.99)
    val sdKeptN = sdKept.count()
    val sSd = (System.nanoTime() - t0Sd) / 1e9
    // restrict to CO-LOCATED pairs: the (few) pairs the rounded argmax
    // split across cells are correctly invisible to cell-pruned semantics
    // and survive whole by design (measured: exactly the 68 split pairs
    // of 100k at n=2M, drops == co-located pairs to the row)
    val bothKept = sdKept.select(col("vec_id").as("b"))
      .filter(col("b") < sdHalf)
      .join(sdKept.select((col("vec_id") - half).as("b")), Seq("b"))
      .join(coPairs, Seq("b"))
      .count()
    val sdDrops = 2 * sdHalf - sdKeptN
    println(f"""{"stage":"semdedup_keep","vecs":${2 * sdHalf},"kept":$sdKeptN,"drops":$sdDrops,"cotwin":$coTwin,"sec":$sSd%.2f}""")
    assert(bothKept == 0L, s"$bothKept co-located twin pairs survived whole")
    assert(sdDrops >= coTwin && sdDrops <= (1.1 * coTwin).toLong,
      s"drops $sdDrops outside [${coTwin}, ${(1.1 * coTwin).toLong}]")

    // ---- one-pass covariance + leading PC at volume: the nvp (>= 1M)
    // 32-dim corpus reduced to one co-moment row per jobs. Invariants:
    //  - MERGE LINEARITY: full-corpus sums == elementwise sum of the two
    //    half-corpus runs (different partial-merge orders, so equality is
    //    to float tolerance, not bits) — the property that makes the
    //    buffer a valid distributed aggregate;
    //  - diagonal >= 0 and |corr(i,j)| <= 1 + eps for every pair;
    //  - the driver eigensolve stays consistent: unit norm and the
    //    leading-ness floor lambda >= max diagonal variance.
    val covDim = 32
    val covT0 = System.nanoTime()
    val covFull = graft.pipeline.EmbedStats
      .covarianceMatrix(pVecs, "embedding", covDim, roundTo = 9)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(3))).toMap
    val sCov = (System.nanoTime() - covT0) / 1e9
    println(f"""{"stage":"embed_cov","vecs":$nvp,"pairs":${covFull.size},"sec":$sCov%.2f,"vecs_per_sec":${(nvp / sCov).toLong}}""")
    assert(covFull.size == covDim * (covDim + 1) / 2, s"pair count ${covFull.size}")
    for (i <- 0 until covDim) assert(covFull((i, i)) >= 0, s"negative var at $i")
    for (((i, j), c) <- covFull if i != j) {
      val denom = math.sqrt(covFull((i, i)) * covFull((j, j)))
      assert(denom == 0 || math.abs(c / denom) <= 1 + 1e-9, s"|corr($i,$j)| > 1")
    }
    // merge linearity via the raw sums (pre-normalization, so tolerance is
    // relative to the sum magnitudes, not the tiny covariances)
    def covSumsOf(df: DataFrame): Map[(Int, Int), (Long, Double, Double)] =
      df.agg(graft.functions.VectorCovSums.vectorCovSums(col("embedding"), covDim).as("s"))
        .select(explode(col("s")).as("e")).select("e.*")
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(2), r.getDouble(3), r.getDouble(5)))).toMap
    val wholeS = covSumsOf(pVecs)
    val loS    = covSumsOf(pVecs.filter(col("vec_id") < nvp / 2))
    val hiS    = covSumsOf(pVecs.filter(col("vec_id") >= nvp / 2))
    for (k <- wholeS.keys) {
      val (nW, siW, sijW) = wholeS(k)
      val (nL, siL, sijL) = loS(k); val (nH, siH, sijH) = hiS(k)
      assert(nW == nL + nH, s"n mismatch at $k")
      assert(math.abs(siW - (siL + siH)) <= 1e-6 * (1 + math.abs(siW)), s"si at $k")
      assert(math.abs(sijW - (sijL + sijH)) <= 1e-6 * (1 + math.abs(sijW)), s"sij at $k")
    }
    val pcT0 = System.nanoTime()
    val (pcVec, pcLam, _) = graft.pipeline.EmbedStats.leadingPC(pVecs, "embedding", covDim)
    val sPc = (System.nanoTime() - pcT0) / 1e9
    println(f"""{"stage":"embed_pca","vecs":$nvp,"eigval":$pcLam%.6f,"sec":$sPc%.2f}""")
    assert(math.abs(pcVec.map(x => x * x).sum - 1) <= 1e-9, "PC not unit norm")
    val maxDiag = (0 until covDim).map(i => covFull((i, i))).max
    assert(pcLam >= maxDiag - 1e-6, s"eigval $pcLam below max diagonal $maxDiag")

    // ---- r8 top-k subspace + whitening at volume: same one co-moment
    // pass, full Jacobi eigensolve on the driver. Invariants:
    //  - PC1 agrees with the power-iteration pair (direction up to sign,
    //    eigenvalue to tolerance);
    //  - spectrum descending, pairwise orthogonality to 1e-9;
    //  - eigenvalue sum <= trace (+eps), each eigenpair's residual
    //    against the independently collected covariance <= 1e-6;
    //  - whitening DELIVERS its contract at volume: population variance
    //    of each whitened coordinate == 1 to float tolerance.
    val topT0 = System.nanoTime()
    val (tv, tl, tmu) = graft.pipeline.EmbedStats.topPCs(pVecs, "embedding", covDim, k = 4)
    val sTop = (System.nanoTime() - topT0) / 1e9
    println(f"""{"stage":"embed_pca_topk","vecs":$nvp,"l1":${tl(0)}%.6f,"l4":${tl(3)}%.6f,"sec":$sTop%.2f}""")
    assert(math.abs(tl(0) - pcLam) <= 1e-6 * (1 + pcLam), s"lambda1 ${tl(0)} vs $pcLam")
    val aligned = math.abs(tv(0).zip(pcVec).map { case (x, y) => x * y }.sum)
    assert(math.abs(aligned - 1) <= 1e-6, s"PC1 misaligned: $aligned")
    for (i <- 0 until 3) assert(tl(i) >= tl(i + 1) - 1e-12, s"spectrum not sorted at $i")
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val d = tv(i).zip(tv(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(d) <= 1e-9, s"PC$i/PC$j not orthogonal: $d")
    }
    val trace = (0 until covDim).map(i => covFull((i, i))).sum
    assert(tl.sum <= trace + 1e-6 * (1 + trace), s"eig sum ${tl.sum} above trace $trace")
    for (p <- 0 until 4; i <- 0 until covDim) {
      val cei = (0 until covDim).map(j => covFull((math.min(i, j), math.max(i, j))) * tv(p)(j)).sum
      assert(math.abs(cei - tl(p) * tv(p)(i)) <= 1e-5 * (1 + math.abs(tl(p))),
        s"residual at PC$p dim $i")
    }
    val wz = graft.pipeline.EmbedStats.whiten(pVecs, "embedding", tv, tl, tmu, roundTo = 9)
      .agg(avg(col("z0")).as("m0"), avg(col("z0") * col("z0")).as("s0"),
           avg(col("z3")).as("m3"), avg(col("z3") * col("z3")).as("s3")).head()
    val vz0 = wz.getDouble(1) - wz.getDouble(0) * wz.getDouble(0)
    val vz3 = wz.getDouble(3) - wz.getDouble(2) * wz.getDouble(2)
    assert(math.abs(vz0 - 1) <= 1e-4 && math.abs(vz3 - 1) <= 1e-4,
      s"whitened variance off unit: $vz0 / $vz3")
    println(f"""{"stage":"embed_whiten","vecs":$nvp,"var_z0":$vz0%.6f,"var_z3":$vz3%.6f}""")

    // ---- r10 rank-normalization at volume: two-phase exact rank
    // selection (RankSelect — approx-percentile bands + one bounded cell
    // aggregation, NO whole-dimension sort) + the RankBucket kernel
    // transform. Invariants:
    //  - all 32 dims trained; grids strictly ascending, 2..19 splits;
    //  - bucket occupancy IS the discrete-quantile definition: every
    //    (dim, bucket) exists (up to one boundary-tie empty), no bucket
    //    swallowed more than 25% of a dim, counts sum exactly to rows;
    //  - no NULL buckets on trained dims; mean qscore near center.
    val rgT0 = System.nanoTime()
    val rGrid = graft.pipeline.EmbedStats.rankGrid(pVecs, "embedding")
    val sRg = (System.nanoTime() - rgT0) / 1e9
    println(f"""{"stage":"rank_grid","vecs":$nvp,"dims":${rGrid.size},"sec":$sRg%.2f}""")
    assert(rGrid.size == covDim, s"trained dims ${rGrid.size} of $covDim")
    rGrid.foreach { case (d, g) =>
      assert(g.length >= 2 && g.length <= 19, s"dim $d grid size ${g.length}")
      assert(g.zip(g.tail).forall { case (x, y) => x < y }, s"dim $d grid not ascending")
    }
    val rtT0 = System.nanoTime()
    val rCells = graft.pipeline.EmbedStats
      .rankTransform(pVecs, "vec_id", "embedding", rGrid)
      .groupBy(col("dim_idx"), col("q_bucket"))
      .agg(count(lit(1)).as("c"), avg(col("qscore")).as("qs"))
      .collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val sRt = (System.nanoTime() - rtT0) / 1e9
    println(f"""{"stage":"rank_transform","rows":${nvp * covDim},"sec":$sRt%.2f}""")
    assert(!rCells.exists(_._2.isEmpty), "NULL bucket on a trained dim")
    assert(rCells.map(_._3).sum == nvp * covDim, "bucket counts don't cover rows")
    for (d <- 0 until covDim) {
      val cells = rCells.filter(_._1 == d)
      val gLen  = rGrid(d).length
      assert(cells.length >= gLen, s"dim $d: ${cells.length} buckets for $gLen splits")
      assert(cells.map(_._3).max <= nvp / 4, s"dim $d: a bucket holds >25%")
      val meanQs = cells.map(c => c._4.get * c._3).sum / nvp
      assert(meanQs > 0.35 && meanQs < 0.65, s"dim $d mean qscore $meanQs")
    }

    // ---- exact quantile grids at UNBOUNDED key cardinality: 100k keys ×
    // ~n/100k values through the table-backed two-phase trainer
    // (RankSelect.exactQuantileGridTable — nothing driver-side scales
    // with |keys|; the collected path would hold 100k sketch rows + cell
    // tables on the driver). Exactness is spot-checked against the
    // single-key sort definition on 20 sampled keys; the fallback counter
    // must not move (the sketch bands hold at this accuracy).
    val rkKeys = 100000L
    val rkRows = math.max(n / 2, rkKeys * 20)
    val rkIn = spark.range(rkRows).select(
      concat(lit("k"), pmod(col("id") * lit(2654435761L), lit(rkKeys))).as("k"),
      (pmod(xxhash64(col("id"), lit(3L)), lit(100000L)).cast("double") / 100.0).as("v"))
    val rkPs = Seq(0.25, 0.5, 0.75, 0.95)
    val rkFb0 = graft.pipeline.RankSelect.fallbacks
    val rkT0 = System.nanoTime()
    val rkGrids = graft.pipeline.RankSelect.exactQuantileGridTable(
      rkIn, "k", "v", rkPs, accuracy = 2000)
    val rkOut = rkGrids.persist()
    val rkN = rkOut.count()
    val sRk = (System.nanoTime() - rkT0) / 1e9
    println(f"""{"stage":"rank_select_100k_keys","keys":$rkN,"rows":$rkRows,"sec":$sRk%.2f,"rows_per_sec":${(rkRows / sRk).toLong}}""")
    assert(rkN == rkKeys, s"trained $rkN of $rkKeys keys")
    assert(graft.pipeline.RankSelect.fallbacks == rkFb0,
      "100k-key run paid the single-key sort fallback")
    val rkSampleKeys = (0 until 20).map(i => s"k${i * 4999}")
    val rkGot = rkOut.filter(col("k").isin(rkSampleKeys: _*))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    val rkExp = rkIn.filter(col("k").isin(rkSampleKeys: _*))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        val nn = sorted.length
        k -> rkPs.map(p => sorted(math.ceil(p * nn).toLong.max(1L).min(nn).toInt - 1))
          .distinct.sorted
      }
    rkExp.foreach { case (k, g) =>
      assert(rkGot(k) == g, s"key $k: ${rkGot(k)} vs $g") }
    rkOut.unpersist()

    // ---- 3-D z-order at volume: n events clustered on (user bucket, hour,
    // value band); a 3-D box read back must match the direct filter, and
    // every file's bounding box must stay tight in ALL THREE dimensions.
    val z3Dir = java.nio.file.Files.createTempDirectory("stress_zorder3_").toFile
    try {
      // quantize all three dims to COMPARABLE ranges (~1000 cells): a
      // dimension with far fewer significant bits than the others (e.g. a
      // 0..99 band next to 0..999 buckets) tops out below the curve bits
      // the file splits cut on, so it gains no locality — validated here
      // by the per-file extent assertion below
      val zIn3 = a.select(col("id"), col("ts"),
        (col("user_id") / lit(100L)).cast("long").as("ub"),
        floor((col("ts") - t0) / 3600000L).cast("long").as("hb"),
        floor(col("price") * 10).cast("long").as("vb"))
      val tZ3 = System.nanoTime()
      graft.ops.Layout.zorderWrite3(zIn3, "ub", "hb", "vb", z3Dir.toString, nFiles = 128)
      val sZ3 = (System.nanoTime() - tZ3) / 1e9
      println(f"""{"stage":"zorder3_write","rows":$n,"sec":$sZ3%.2f,"rows_per_sec":${(n / sZ3).toLong}}""")
      val box3 = timed("zorder3_box_read",
        spark.read.parquet(z3Dir.toString)
          .filter(col("ub").between(100L, 299L) && col("hb").between(200L, 299L) &&
            col("vb").between(100L, 399L)))
      val expBox3 = zIn3.filter(col("ub").between(100L, 299L) &&
        col("hb").between(200L, 299L) && col("vb").between(100L, 399L)).count()
      assert(box3 == expBox3, s"zorder3 box $box3 vs $expBox3")
      // per-file 3-D bounding boxes: MEAN extent must stay far below each
      // dimension's full range (the failure mode of a 1-D sort is two
      // dimensions at ~full extent in EVERY file). Individual files may
      // straddle a major curve jump and legitimately span a dimension —
      // the same tolerance the 2-D LayoutSpec test encodes — so the claim
      // is about averages, not maxima.
      val exts = spark.read.parquet(z3Dir.toString).inputFiles.map { f =>
        val r = spark.read.parquet(f)
          .agg(max("ub") - min("ub"), max("hb") - min("hb"), max("vb") - min("vb"))
          .head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val nf = exts.length
      val (avgU, avgH, avgV) =
        (exts.map(_._1).sum / nf, exts.map(_._2).sum / nf, exts.map(_._3).sum / nf)
      assert(avgU <= 500 && avgH <= 360 && avgV <= 500,
        s"mean file box too wide (u $avgU of 999, h $avgH of 719, v $avgV of 999)")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(z3Dir)
    }

    // ---- privacy: k-anonymity at volume, closed-form planted QI domain ----
    // Layout: qi = id % 1000 with ids 0-2 replanted into a rare group (-1),
    // seg = (id div 100000) % 5 and bal = (id % 100000)*7919 % 100000 / 10
    // are INDEPENDENT uniform digits (7919 coprime to 100000), so every
    // group size below is exact arithmetic, not a tolerance.
    if (n % 100000L == 0L && (n / 100000L) % 5L == 0L) {
      val pdf = spark.range(n).select(
        col("id"),
        when(col("id") < 3, lit(-1L))
          .otherwise(pmod(col("id"), lit(1000L))).as("qi"),
        pmod(expr("id div 100000"), lit(5L)).as("seg"),
        (pmod(pmod(col("id"), lit(100000L)) * lit(7919L), lit(100000L)) /
          lit(10.0)).as("bal"))
      val rep = Privacy.qiGroupReport(pdf, Seq("qi"), k = 5)
      timed("privacy_kanon", rep)
      val reps = rep.collect()
      assert(reps.length == 1001, s"qi groups ${reps.length}")
      val risky = reps.filter(_.getAs[Boolean]("at_risk"))
      assert(risky.length == 1 && risky.head.getAs[Long]("qi") == -1L &&
        risky.head.getAs[Long]("group_n") == 3L,
        s"planted rare group wrong: ${risky.mkString(",")}")
      assert(reps.map(_.getAs[Long]("group_n")).sum == n, "census loses rows")

      val widths = Seq(100L, 1000L, 10000L)
      val lad = Privacy.generalizationLadder(pdf, Seq("seg"), "bal", widths, k = 5)
      timed("privacy_ladder", lad)
      val lrows = lad.collect()
        .map(r => r.getAs[Long]("width") -> r).toMap
      widths.foreach { w =>
        val buckets = 10000L / w // bal spans [0, 10000), w divides 10000
        val groups  = 5L * buckets
        val r = lrows(w)
        assert(r.getAs[Long]("n_groups") == groups, s"n_groups at $w")
        assert(r.getAs[Long]("min_group") == n / groups, s"min_group at $w")
        assert(r.getAs[Long]("rows_at_risk") == 0L, s"rows_at_risk at $w")
        assert(r.getAs[Boolean]("chosen") == (w == widths.min), s"chosen at $w")
      }

      // incremental fold ≡ rebuild at volume (the streaming-face contract)
      val merged = Privacy.kAnonAgainstPrior(
          pdf.filter(pmod(col("id"), lit(2)) === 1), Seq("qi"), k = 5,
          prior = Privacy.qiCounts(
            pdf.filter(pmod(col("id"), lit(2)) === 0), Seq("qi")))
        .select(col("qi"), col("total_n"))
      val rebuilt = rep.select(col("qi"), col("group_n").as("total_n"))
      assert(merged.exceptAll(rebuilt).count() == 0 &&
        rebuilt.exceptAll(merged).count() == 0,
        "incremental k-anon fold diverges from rebuild")
      println(s"""{"stage":"privacy_family","rows":$n,"qi_groups":1001}""")
    }

    // ---- REAL image decode + perceptual hash at volume: 200k genuine
    // PNGs (encoded AND decoded by the JDK codec inside the executors —
    // the bounded-memory mapPartitions path, not synthetic signatures),
    // every id%100==99 a one-pixel bump of id-1's pattern. All payloads
    // must hash (the codec path never drops a valid PNG) and the banded
    // join must surface every planted twin: base↔variant differ in at
    // most the bump's two gradient bits.
    {
      val ni = 200000L
      import spark.implicits._
      val blobs = spark.range(ni).as[Long].mapPartitions(_.map { id =>
        val bump = id % 100 == 99
        // per-id UNIQUE avalanche-mixed pattern. A merely-linear
        // congruential pattern is NOT enough: the dHash bit is the SIGN of
        // the adjacent-pixel difference, and a sequence linear in the pixel
        // index has a near-constant step mod 200 — measured: 200k images
        // collapsed to 149 distinct signatures and the band join went
        // quadratic (3.8B candidate pairs). splitmix64-style finalization
        // per (id, pixel) gives ~199k distinct signatures and ~150k
        // candidates. The twin re-derives id-1's pixels and bumps ONE.
        val baseId = if (bump) id - 1 else id
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 9) {
            var z = baseId * 0x9E3779B97F4A7C15L + (y * 9 + x) * 0xC2B2AE3D27D4EB4FL
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^= z >>> 31
            val b = if (bump && x == 4 && y == 3) 48 else 0
            val v = math.floorMod(z, 200L).toInt + b
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        (id, out.toByteArray)
      }).toDF("id", "payload")
      // materializeOnce is an EAGER localCheckpoint — time it directly so
      // the stage metric covers the real work (PNG encode + codec decode +
      // hash), not a rescan of the checkpointed 16-byte rows.
      System.gc()
      val t0 = System.nanoTime()
      val hashes = graft.pipeline.Dedup.materializeOnce(
        graft.pipeline.Multimodal.imageHashes(blobs, "id"))
      val decSec = (System.nanoTime() - t0) / 1e9
      println(f"""{"stage":"image_dhash_decode","rows":$ni,"sec":$decSec%.2f,"rows_per_sec":${(ni / decSec).toLong}}""")
      assert(hashes.filter(col("dhash").isNull).count() == 0,
        "real PNGs failed to hash")
      val pairs = graft.pipeline.Dedup.hammingNearDups(hashes, "id", "dhash",
        maxHamming = 2)
      val chk = pairs.agg(count(lit(1)),
        sum((col("id_b") === col("id_a") + 1 &&
          pmod(col("id_b"), lit(100)) === 99).cast("long"))).head()
      assert(chk.getLong(0) == ni / 100 && chk.getLong(1) == ni / 100,
        s"image twin pairs ${chk.getLong(0)}/${chk.getLong(1)} vs ${ni / 100}")
    }

    // ---- REAL audio decode + perceptual fingerprint at volume: 200k
    // genuine PCM16 WAVs (encoded by encodeWavPcm16, fingerprinted by the
    // claims-clamped RIFF walk inside the executors), every id%100==99 a
    // one-window MUTE of id-1's signal (energy → 0 flips at most the two
    // adjacent gradient bits). Samples are avalanche-mixed per (id, i) —
    // the image stage's lesson; simulated: 199,340 distinct fingerprints,
    // ~210k band candidates, exactly ni/100 twin pairs, zero accidental
    // sub-3-bit collisions.
    {
      val na = 200000L
      import spark.implicits._
      val blobs = spark.range(na).as[Long].mapPartitions(_.map { id =>
        val bump = id % 100 == 99
        val baseId = if (bump) id - 1 else id
        val n = 460
        val samples = Array.tabulate(n) { i =>
          val w = (i.toLong * 65 / n).toInt
          if (bump && w == 32) 0.toShort
          else {
            var z = baseId * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^= z >>> 31
            (math.floorMod(z, 8000L) - 4000L).toShort
          }
        }
        (id, graft.pipeline.Multimodal.encodeWavPcm16(samples, 16000, channels = 1))
      }).toDF("id", "payload")
      System.gc()
      val t0 = System.nanoTime()
      val fps = graft.pipeline.Dedup.materializeOnce(
        graft.pipeline.Multimodal.audioFingerprints(blobs, "id"))
      val fpSec = (System.nanoTime() - t0) / 1e9
      println(f"""{"stage":"audio_fp_decode","rows":$na,"sec":$fpSec%.2f,"rows_per_sec":${(na / fpSec).toLong}}""")
      assert(fps.filter(col("afp").isNull).count() == 0,
        "real WAVs failed to fingerprint")
      val pairs = graft.pipeline.Dedup.hammingNearDups(fps, "id", "afp",
        maxHamming = 2)
      val chk = pairs.agg(count(lit(1)),
        sum((col("id_b") === col("id_a") + 1 &&
          pmod(col("id_b"), lit(100)) === 99).cast("long"))).head()
      assert(chk.getLong(0) == na / 100 && chk.getLong(1) == na / 100,
        s"audio twin pairs ${chk.getLong(0)}/${chk.getLong(1)} vs ${na / 100}")
    }

    // ---- banded-Hamming near-dup at volume (the shared generator under
    // SimHash text dedup and image/video dHash): 2M synthetic 64-bit
    // signatures, every id%100==99 a ONE-BIT flip of id-1 — so exactly
    // nh/100 planted pairs, each at hamming 1, and xxhash64's fixed
    // outputs make accidental sub-3-bit collisions a deterministic
    // (measured-zero) property of the fixture, not a probabilistic hope.
    // maxHamming=2 → 3 bands of 21 bits: candidate volume scales as
    // n²/2^width, so the band width (i.e. the Hamming budget) is the knob
    // that keeps the verify join linear-ish at corpus scale — the same
    // trade the banded MinHash makes with rowsPerBand.
    {
      val nh = 2000000L
      val sigs = spark.range(nh).selectExpr("id",
        """CASE WHEN id % 100 = 99
          |  THEN xxhash64(id - 1) ^ shiftleft(CAST(1 AS BIGINT), CAST(id % 64 AS INT))
          |  ELSE xxhash64(id) END AS sig""".stripMargin)
      val pairs = graft.pipeline.Dedup.hammingNearDups(sigs, "id", "sig",
        maxHamming = 2)
      timed("hamming_near_dup", pairs)
      val chk = pairs.agg(count(lit(1)),
        sum((col("id_b") === col("id_a") + 1 && col("hamming") === 1L)
          .cast("long"))).head()
      assert(chk.getLong(0) == nh / 100 && chk.getLong(1) == nh / 100,
        s"hamming pairs ${chk.getLong(0)}/${chk.getLong(1)} vs ${nh / 100}")
      // incremental face: even ids are the persisted signature artifact,
      // odd ids the arriving batch; every planted pair is odd-vs-even, so
      // the gate must surface all of them and nothing else
      val incr = graft.pipeline.Dedup.hammingNearDupsAgainstPrior(
        sigs.filter("id % 2 = 1"), sigs.filter("id % 2 = 0"),
        "id", "sig", maxHamming = 2)
      timed("hamming_incr", incr)
      val ichk = incr.agg(count(lit(1)),
        sum((col("id_new") === col("id_prior") + 1 && col("hamming") === 1L)
          .cast("long"))).head()
      assert(ichk.getLong(0) == nh / 100 && ichk.getLong(1) == nh / 100,
        s"hamming incr pairs ${ichk.getLong(0)}/${ichk.getLong(1)} vs ${nh / 100}")
    }

    println(s"""{"stage":"done","events":${2 * n},"docs":$nd,"vecs":$nv}""")
    spark.stop()
  }
}

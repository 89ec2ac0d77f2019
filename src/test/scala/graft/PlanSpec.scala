package graft

import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression guards: the scale properties claimed in README
  * (pushdown, single descents, broadcasts) asserted against the actual
  * physical plans so they can't silently regress.
  */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    assumeTestData(dir)
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(SimpleMode)
  }

  test("time-filter bounds reach the parquet scan (PushedFilters)") {
    // not just the dedicated filter query: ANY windowed query sourced from
    // eventsBetween must prune row groups at the scan
    for (q <- Seq("q_time_filter", "q_resample_window")) {
      val plan = planOf(q)
      assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,".r.findFirstIn(plan).isDefined,
        s"$q:\n$plan")
    }
  }

  test("saved positional index: query terms push down to the term-clustered scan") {
    // the production search face — both term equality filters must reach
    // the parquet scan of the persisted index (term-clustered layout →
    // row-group pruning), not evaluate post-scan over the whole postings
    val plan = planOf("q_proximity_indexed")
    for (term <- Seq("spark", "merge"))
      assert(s"PushedFilters: \\[[^\\]]*EqualTo\\(term,$term\\)".r.findFirstIn(plan).isDefined,
        s"term '$term' not pushed:\n$plan")
    // and the corpus itself is never scanned: only the index artifact
    assert(!plan.contains("documents.parquet"), s"corpus scan leaked:\n$plan")
  }

  test("banded Hamming joins never plan a cartesian or nested-loop product") {
    // the near-dup scale claim: candidates come from the band-bucket
    // equijoin, so no query in the Hamming family may degrade to an
    // all-pairs physical join (BroadcastNestedLoopJoin / CartesianProduct)
    for (q <- Seq("q_image_neardup", "q_image_dedup_incr", "q_video_neardup",
                  "q_audio_neardup", "q_simhash_neardup")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans an all-pairs join:\n$plan")
    }
  }

  test("modality curate faces: no cartesian; only the one-row threshold broadcast nests") {
    // the compositions keep the banded-Hamming pair stage (no all-pairs
    // join) — the single permitted BroadcastNestedLoopJoin is the scalar
    // quality-threshold crossJoin, whose build side is one aggregated row
    for (q <- Seq("q_image_curate", "q_audio_curate", "q_video_curate")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q all-pairs join:\n$plan")
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
        s"$q: more than the scalar threshold broadcast:\n$plan")
    }
  }

  test("resample main plan descends the source exactly once") {
    // the coverage-carry pre-job is a separate narrow (ts-only) descent,
    // executed at plan-build; the returned plan itself stays single-scan
    val plan = planOf("q_resample_1h")
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("resample windows are all partitioned (no single-task coverage window)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    for (q <- Seq("q_resample_1h", "q_resample_1d", "q_resample_keyed")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q has unpartitioned windows:\n${bad.mkString("\n")}")
    }
  }

  test("keyed resample descends the source at most twice (bounds + main)") {
    val plan = planOf("q_resample_keyed")
    assert("FileScan parquet".r.findAllIn(plan).length <= 2, plan)
    assert(plan.contains("BroadcastExchange"), plan) // bounds broadcast back
  }

  test("range join plans as an equi join, never a nested loop") {
    val plan = planOf("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("forward fill has no unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val df = SparkEntry.queries("q_ffill")(spark, dir)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned windows:\n${bad.mkString("\n")}")
  }

  test("asof join windows are key-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val df = SparkEntry.queries("q_asof_join")(spark, dir)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned windows:\n${bad.mkString("\n")}")
  }

  test("join enrichment broadcasts the dimension tables") {
    val plan = planOf("q_join_enrich")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("fused merge is one range exchange over the union") {
    val plan = planOf("q_fuse_merge")
    assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("banded dedup/LSH self-joins read a materialized table, not a re-descended lineage") {
    // The signature/shingle lineage is eagerly localCheckpoint'ed before the
    // self-join (AQE does not reuse the identical exchanges), so the final
    // plan must read "Scan ExistingRDD" and the expensive upstream must be
    // GONE from it: zero parquet scans in all four (signatures, candidate
    // pairs, and the candidate-bounded shingle/vector re-attach are each
    // materialized once; their scans happen inside the checkpoint jobs).
    for ((q, maxScans) <- Seq("q_dedup_jaccard" -> 0, "q_simhash_neardup" -> 0,
                              "q_dedup_minhash" -> 0, "q_ann_lsh" -> 0)) {
      val plan = planOf(q)
      assert(plan.contains("ExistingRDD"), s"$q: no checkpoint scan\n$plan")
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans <= maxScans, s"$q: $scans parquet scans (max $maxScans)\n$plan")
    }
  }

  test("ngram frequency top-k is TakeOrdered, never a full vocabulary sort") {
    val plan = planOf("q_ngram_freq")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("column pruning: minmax aggregate reads only its columns") {
    val plan = planOf("q_minmax_ts")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).get.group(1)
    assert(read.split(",").length == 2, read) // ts + event_type only
  }

  test("weighted sample is TakeOrdered, never a full corpus sort") {
    val plan = planOf("q_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("source mixing has no global window and no global sort before the final order") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    // the operator itself (without the query's presentation orderBy): the
    // rank window must be stratum-partitioned — the global order is carried
    // by mix_key, never computed
    val df = graft.pipeline.Sampling.mixByParts(
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "source"),
      "doc_id", "source", Map("src0" -> 3L), defaultPart = 1L)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned windows:\n${bad.mkString("\n")}")
  }

  test("chunking is narrow: no exchange of any kind") {
    assumeTestData(dir)
    val df = graft.pipeline.Chunking.chunk(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
      chunkTokens = 24, strideTokens = 16)
    val plan = df.queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Exchange"), plan)
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("top-k per key runs through WindowGroupLimit (partial top-k before the shuffle)") {
    val plan = planOf("q_topk_per_key")
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("domain quota runs through WindowGroupLimit (quota kept before the shuffle)") {
    val plan = planOf("q_domain_quota")
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("ohlc: the bar aggregation reuses the window's exchange (one data shuffle)") {
    val plan = planOf("q_ohlc")
    // exchanges: ONE hash shuffle on (event_type, bar_start) feeding both
    // the window and the groupBy, plus the final presentation range sort
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$plan")
  }

  test("outlier stats join is a broadcast, never a shuffle of the stream") {
    val plan = planOf("q_outliers")
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("gap report / twap / ewma / debounce windows are key-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    for (q <- Seq("q_gaps", "q_twap", "q_ewma", "q_debounce")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q has unpartitioned windows:\n${bad.mkString("\n")}")
    }
  }

  test("nearest as-of: both carries share one key shuffle") {
    val plan = planOf("q_asof_nearest")
    // the union trick + two frame carries must not introduce a second data
    // exchange: one hash shuffle on the key (clicks' groupBy reuses it),
    // everything else is sorts over it
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 2, s"expected <=2 hash exchanges (key + click collapse), got $n:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cube expands combinations map-side: a single aggregation exchange") {
    val plan = planOf("q_cube")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"expected 1 hash exchange for the cube agg, got $n:\n$plan")
  }

  test("pivot with explicit values is one aggregation: no distinct-values job, one exchange pair") {
    val plan = planOf("q_pivot_types")
    // one partial+final hash aggregate pair for the pivot counts; the only
    // exchanges are its hash shuffle and the final presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("contamination broadcasts the benchmark postings, never the corpus") {
    val plan = planOf("q_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the corpus side must stream: no shuffle exchange below the join on
    // the corpus shingle explode (the only hash exchanges allowed are the
    // pair-count aggregation above the join)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("repetition stats joins its two aggregate legs without a third descent") {
    val plan = planOf("q_repetition")
    assert("FileScan parquet".r.findAllIn(plan).length <= 2, plan)
  }

  test("bloom probe is a narrow map: no exchange, no join in the probe path") {
    assumeTestData(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bloom = graft.pipeline.Sketches.bloomBuild(
      docs.limit(50), "text", 50L, 0.01)
    val plan = graft.pipeline.Sketches.bloomProbe(docs, "text", bloom)
      .queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // probing stays inside whole-stage codegen (the `*(n)` stage marker on
    // the projection carrying the native expression; no UDF)
    assert("""\*\(\d+\) Project .*bloommightcontain""".r.findFirstIn(plan).isDefined, plan)
  }

  test("incremental dedup: probe-negative branch joins nothing; suspects anti-join") {
    val plan = planOf("q_dedup_incremental")
    // the Bloom probe reaches the plan (both branches carry it)...
    assert(plan.contains("bloommightcontain"), plan)
    // ...and exactly one anti-join settles the suspects; the clean branch
    // must contribute a join-free leg to the union
    assert("LeftAnti".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("Union"), plan)
  }

  test("quality gate broadcasts the 1-row threshold, never shuffles the corpus against it") {
    val plan = planOf("q_quality_filter")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("tf-idf broadcasts only the doc-count scalar; term join is keyed") {
    val plan = planOf("q_tfidf")
    // the n_docs scalar rides in via broadcast; tf and df are both keyed
    // by term so their join must not broadcast a full side
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-doc top-k must run as a partial group limit BEFORE the id
    // exchange (rank predicate on the raw row_number), so the shuffle
    // carries ~k rows per document instead of the full tf frame
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("PQ ADC search: queries broadcast, coded corpus streams, partial top-k") {
    val plan = planOf("q_ann_pq")
    // the query side rides in as a broadcast; the coded corpus must never
    // shuffle against it, and the per-query top-k runs as a partial group
    // limit before the exchange
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("duplicate-shingle profile: shingle window partitioned; no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_dup_ngram_frac")(spark, dir).queryExecution
    val unpart = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned windows:\n${unpart.mkString("\n")}")
    // linear profile: the df count must come from the window, never a
    // pair-producing join of the shingle table against itself
    assert(qe.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
      qe.explainString(SimpleMode))
  }

  test("incremental near-dup: candidate-bounded verify, no corpus cross join") {
    val plan = planOf("q_dedup_incr_near")
    // every join is keyed (band/bucket equijoin, id attach). The semi-join
    // that prunes each corpus to candidate ids runs inside the eager
    // checkpoint jobs, so the final plan only attaches the materialized
    // candidate-bounded tables (Scan ExistingRDD) — what must NOT appear
    // is any pair-exploding join shape.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("ExistingRDD"), plan)
  }

  test("split assignment is a narrow projection: no exchange, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val df = graft.pipeline.Sampling.assignSplit(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val plan = df.queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Exchange"), plan)
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      plan)
  }

  test("winsorize: two-phase clamp plan has NO sort, NO window, NO data exchange") {
    assumeTestData(dir)
    val ev = Queries.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    // r11: bounds come from the two-phase rank pass (jobs run at call
    // time); the RETURNED plan is scan → broadcast-join the 5-row bounds
    // table → clamp — the per-key whole-slice sort is gone entirely
    val plan = graft.ops.Anomalies.winsorize(ev, Seq("event_type"), "value")
      .queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("winsorizedStats: two-phase answer is a local frame; window fallback keeps one exchange") {
    assumeTestData(dir)
    val ev = Queries.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    // r11: the whole statistic is read off the two aggregation passes'
    // cell table — the result plan is a |keys|-row local scan, no
    // window, no sort, no exchange, no re-descent of the source
    val plan = graft.ops.Anomalies.winsorizedStats(ev, Seq("event_type"), "value")
      .queryExecution.explainString(SimpleMode)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("FileScan"), plan)
    // the windowed fallback (forced via maxTwoPhaseKeys = 0) keeps its
    // audited one-exchange shape: the sorted window introduces the key
    // partitioning and the final aggregation reuses it
    val fb = graft.ops.Anomalies.winsorizedStats(ev, Seq("event_type"), "value",
        pLo = 0.05, pHi = 0.95, maxTwoPhaseKeys = 0)
      .queryExecution.explainString(SimpleMode)
    assert("Exchange hashpartitioning".r.findAllIn(fb).length == 1, fb)
  }

  test("semdedup: cell equijoin only — no cartesian, no corpus broadcast; keep windows partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val pairs = planOf("q_semdedup_pairs")
    assert(!pairs.contains("CartesianProduct") &&
      !pairs.contains("BroadcastNestedLoopJoin"), pairs)
    val qe = SparkEntry.queries("q_semdedup_keep")(spark, dir).queryExecution
    val keep = qe.explainString(SimpleMode)
    assert(!keep.contains("CartesianProduct") &&
      !keep.contains("BroadcastNestedLoopJoin"), keep)
    val unpart = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned windows:\n${unpart.mkString("\n")}")
    // r8: components run INSIDE one union-find aggregate per cell (the
    // ObjectHashAggregate below) instead of driver-synced label
    // propagation, and every consumer of the assignment reads the ONE
    // materialized table — the raw embeddings parquet must not be
    // re-descended per branch (each descent is a full n×|cells| distance
    // pass at production cell counts)
    assert(keep.contains("ObjectHashAggregate"), keep)
    assert(!keep.contains("FileScan parquet"),
      s"assignment re-descends the parquet instead of the materialized table:\n$keep")
  }

  test("whiten: narrow map over one scan — no join, no window, no explode") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_embed_whiten")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    // the subspace artifact is a driver literal: scoring must be k dot
    // products per row with only the dump's range sort behind it
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    val bad = qe.optimizedPlan.collect {
      case j: Join => j
      case g: Generate => g
      case w: LWindow => w
    }
    assert(bad.isEmpty, s"non-narrow nodes in whiten plan:\n${bad.mkString("\n")}")
  }

  test("dsir: scoring plan is a pure per-row map over ONE corpus scan — no exchange at all") {
    // r11 artifact boundary: the log-ratio table is a trained driver
    // literal, so scoring is one FileScan → filter → kernel dot product —
    // NO join, NO data exchange, NO checkpoint, and the md5-per-token
    // kernel appears ONCE (the degenerate-doc filter is a cheap byte
    // trim, not a pushed copy of the kernel)
    val plan = planOf("q_dsir_weights")
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("BroadcastExchange"), plan) // only the output-sort range exchange
    assert(!plan.contains("Join"), plan)
    assert("dsir_bucket_counts".r.findAllIn(plan).length == 1, plan)
  }

  test("bigram LM: scores against the model artifact — one join, no window, no re-train") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_bigram_lm")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    // r10 artifact boundary: the scoring plan reads EXACTLY two parquet
    // sources — the documents and the persisted model — and nothing else;
    // a third scan or a reappearing checkpoint means training crept back
    // into the scoring path
    assert("FileScan parquet".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the model is under the broadcast threshold at gate scale, and the
    // load path measured its file size — the join must be broadcast-hash,
    // not an AQE shuffle detour
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // r7c: bigrams slice out of the words array — the corpus-wide
    // (doc, pos) sort + lead window must never come back
    val windows = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty, s"windows reappeared:\n${windows.mkString("\n")}")
  }

  test("temperature mix: per-stratum rates broadcast back, corpus never sort-merge joined") {
    val plan = planOf("q_mix_temperature")
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("shared spans: pair-gated equijoins only, windows key-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_dup_spans")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val unpart = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned windows:\n${unpart.mkString("\n")}")
  }

  test("embed cov: one scan, one typed aggregate, explode only above it") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_embed_cov")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("ObjectHashAggregate"), plan) // TypedImperativeAggregate path
    // the d(d+1)/2-row Generate must sit ABOVE the aggregate: nothing
    // row-count-shaped may be exploded before the reduction
    val genBelowAgg = qe.optimizedPlan.collect {
      case g: Generate if g.child.collectFirst { case a: Aggregate => a }.isEmpty => g
    }
    assert(genBelowAgg.isEmpty,
      s"explode below the aggregate:\n${genBelowAgg.mkString("\n")}")
  }

  test("bpe pairs: pair explode sits above the vocab aggregate (Zipf shrink first)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_bpe_pairs")(spark, dir).queryExecution
    // two Generates: the words explode feeds the vocab aggregate; the pair
    // explode must consume the AGGREGATED vocab, not the corpus
    val gens = qe.optimizedPlan.collect { case g: Generate => g }
    assert(gens.nonEmpty)
    val aboveAgg = gens.count(_.child.collectFirst { case a: Aggregate => a }.isDefined)
    assert(aboveAgg >= 1, s"no explode above an aggregate:\n${qe.optimizedPlan}")
  }

  test("xcorr lags: bucket self-join is an equi join, lags broadcast-exploded") {
    val plan = planOf("q_xcorr_lags")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("vwap is one windowless aggregation over one scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_vwap")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty, plan)
  }

  test("active users: day-set broadcast, interval window entity-partitioned only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    val qe = SparkEntry.queries("q_active_users")(spark, dir).queryExecution
    val plan = qe.explainString(SimpleMode)
    assert(plan.contains("BroadcastExchange"), plan) // observed-day set
    assert(plan.contains("ExistingRDD"), plan)       // one materialized distinct pass
    // r8 coverage-interval union: the lag/cumsum pass runs over the
    // Zipf-shrunk activity frame, partitioned by entity — never global,
    // and the explode emits merged intervals, not per-activity fan-out
    val unpart = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned window:\n${unpart.mkString("\n")}")
  }

  test("funnel and retention: entity-keyed joins only, no cartesian, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    for (q <- Seq("q_funnel", "q_retention")) {
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      val plan = qe.explainString(SimpleMode)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty, s"$q:\n$plan")
    }
  }

  test("drawdown and cusum windows are all key-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assumeTestData(dir)
    for (q <- Seq("q_drawdown", "q_cusum")) {
      val bad = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty, s"$q has unpartitioned windows:\n${bad.mkString("\n")}")
    }
  }

  test("graph layout: a src-bucketed edge table normalizes exchange-free; " +
      "an iteration pays only the contribution aggregate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0L until 2000L)
      .flatMap(i => Seq((i, (i + 1) % 2000), (i, i % 37)))
      .toDF("src", "dst")
    graft.ops.Layout.writeBucketedTable(edges, "graph_edges_bucketed", "src", 8)
    try {
      val back = spark.table("graph_edges_bucketed")
      // the simple-graph normalization (distinct over (src, dst) — hash(src)
      // satisfies the subset clustering — and the out-degree aggregate)
      // must plan with ZERO exchanges over the bucketed scan
      val norm = back.filter($"src" =!= $"dst").distinct()
        .groupBy($"src").agg(count(lit(1)).as("deg"))
      val normPlan = norm.queryExecution.executedPlan.toString
      assert(!normPlan.contains("Exchange "), normPlan)
      // a non-broadcast PageRank step over the laid-out tables: the ONLY
      // exchange is the map-side-combined contribution aggregate. The pin
      // targets the WEB-SCALE regime, so the two AQE behaviors that only
      // fire on toy row counts are disabled for the assertion: partition
      // coalescing (it rewrites the checkpointed layout's partition count,
      // breaking co-partitioning the real scale keeps) and stats-driven
      // broadcast (at scale the rank vector exceeds the threshold, which
      // is the whole point of the co-partitioned path).
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevCoalesce = spark.conf.get(coalesceKey, "true")
      val prevBcast = spark.conf.get(bcastKey)
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(bcastKey, "-1")
      try graft.pipeline.Dedup.withMaterialized {
        val P = spark.sessionState.conf.numShufflePartitions
        val simple = back.filter($"src" =!= $"dst").distinct()
        val deg = simple.groupBy($"src").agg(count(lit(1)).cast("double").as("__od"))
        val ed = graft.pipeline.Dedup.materializeOnceKeyed(
          simple.join(deg, "src"), Seq("src"), P)
        val nodes = graft.pipeline.Dedup.materializeOnceKeyed(
          ed.select($"src".as("node")).union(ed.select($"dst".as("node")))
            .distinct(), Seq("node"), P)
        val n = nodes.count()
        val ranks = nodes.select($"node", lit(1.0 / n).as("r"))
        val step = graft.ops.Graph.prStep(ed, nodes, ranks, 0.85, n, hint = false)
        val plan = step.queryExecution.executedPlan.toString
        val exch = "(?<!Reused)Exchange ".r.findAllIn(plan).length
        assert(exch <= 1, s"$exch exchanges in the iteration step:\n$plan")
      } finally {
        spark.conf.set(coalesceKey, prevCoalesce)
        spark.conf.set(bcastKey, prevBcast)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graph_edges_bucketed")
  }

  test("scan/exchange budgets: the audited chain plans can't silently grow") {
    // plan inspection promoted to a failing gate
    // (r9 verdict item 7): each chain's physical plan is pinned to its
    // audited resource ceiling — an extra FileScan means a descent
    // stopped sharing its source (a checkpoint or reuse regressed), an
    // extra Exchange means a stage stopped satisfying its child's
    // distribution (e.g. the subset-partitioning tricks regressed).
    // Ceilings, not equalities, so a plan IMPROVEMENT never fails.
    assumeTestData(dir)
    val budgets = Seq(
      // q -> (max FileScan parquet, max Exchange)
      ("q_resample_1h",    1, 3),
      ("q_resample_keyed", 2, 5),
      ("q_curate",         1, 7),
      ("q_dedup_keep",     1, 3),
      ("q_stickiness",     1, 7),
      ("q_bigram_lm",      2, 3),
      // r11 trained-artifact scoring plans: each must read exactly its
      // docs scan + artifact scan (dsir's artifact is a driver literal —
      // one scan total) and keep scoring free of training-time exchanges
      ("q_dsir_weights",   1, 1),
      ("q_unigram_score",  2, 3),
      ("q_tfidf",          2, 3),
      // r11 retrieval: kernel scoring reads docs ONLY (the query model is
      // a plan-time reference object — no artifact scan, no exchange;
      // top-k is TakeOrderedAndProject), and index search reads the
      // pruned postings twice (df pass + scoring pass) with the df
      // broadcast + one doc-keyed aggregation exchange
      ("q_bm25_topk",      1, 0),
      ("q_bm25_index",     2, 3),
      // r11c: quality scoring is ONE TokenStats kernel scan + a codegen
      // w·x projection (weights are plan-time literals — no artifact
      // scan, no explode, no aggregation; the one exchange is the output
      // sort), and cluster sampling is the assignment scan + the
      // WindowGroupLimit cell window + the output sort
      ("q_quality_reg_score", 1, 1),
      ("q_cluster_sample",    1, 2),
      // r12: BPE compression scores against the loaded merges artifact
      // (plan-time literals) — ONE docs scan, per-row token counts folded
      // inside the row; the exchanges are the per-source aggregate and
      // the output sort
      ("q_bpe_compression",   1, 2),
      // r12 graph-ML family: kcore/link_predict answer off materialized
      // loop tables (zero file scans in the returned plan); the walk
      // queries' scans are the planted-edge derivation feeding the
      // one-pass WalkAgg (q_walk_pairs materializes the walk corpus
      // first, so its self-join plan is checkpoint-fed); hard negatives
      // is the broadcast-arm scan pair + one window; knn_graph is the
      // bounded sample arm twice (top-k + mutuality self-join)
      // r15-opt: kCore below the edge gate is ONE KCoreAgg aggregation,
      // so the returned plan carries the full planted-edge derivation
      // (docs scan ×2 arms ×(ring + 2 hair unions) = 6 scans) instead of
      // hiding it in the loop's prior checkpoint jobs; exchanges are the
      // per-arm nRow broadcasts (×5) + the single-partition agg merge +
      // the output sort — all bounded, none corpus-shaped
      ("q_kcore",             6, 7),
      ("q_link_predict",      0, 3),
      ("q_random_walks",      6, 7),
      ("q_walk_pairs",        0, 3),
      ("q_hard_negatives",    2, 3),
      ("q_knn_graph",         4, 7),
      // r12d privacy/PII family: census and scrub are ONE kernel scan
      // (+ per-source aggregate / output sort); k-anonymity is one
      // map-side-combinable pass; the ladder's returned plan reads the
      // MATERIALIZED finest-width group table only (zero corpus scans —
      // without the checkpoint the 5-width union re-descended the scan
      // 10 times), its 21 exchanges all move the QI-domain-bounded
      // table; line dedup is the count-agg scan + probe scan with the
      // broadcast-hinted threshold join
      ("q_pii_risk",          1, 2),
      ("q_scrub",             1, 1),
      ("q_k_anonymity",       1, 2),
      ("q_k_anon_ladder",     0, 21),
      ("q_k_anon_incr",       2, 3),
      ("q_l_diversity",       1, 3),
      ("q_line_dedup",        2, 4),
      // incremental face: batch explode twice (count + probe) + the
      // prior-derivation scan, threshold join still broadcast
      ("q_line_dedup_incr",   3, 6),
      // r12d: the ADC reference pair reads the persisted coded corpus
      // (artifact scan + query-vector scan) — encoding is train-time;
      // pre-artifact, every run re-derived 100k argmins first
      ("q_ann_pq",            2, 3),
      ("q_pq_codes",          1, 1),
      // r12d: linearAtGrid pre-partitions by keys so the (keys, ts)
      // aggregate and the keys-window share ONE full-volume exchange;
      // the second exchange is the output sort
      ("q_interp_grid",       1, 2),
      // r13: the prefix-recall ladder runs in ONE corpus pass — the
      // PrefixCosines kernel emits all four dims per candidate, then one
      // (dim, query) rank window with WindowGroupLimit partial top-10;
      // scans = corpus + query arm, exchanges = query broadcast + window
      // + pair-agg + recall-agg + output sort, all post-top-10 volumes
      // (was FOUR bruteForceTopK arms, each its own crossJoin + window)
      ("q_embed_prefix_recall", 2, 5),
      // r13: the production residual-ANN search answers off the coded
      // artifact + raw-vector rerank: scans = coded artifact + query arm
      // + the two rerank vector fetches; exchanges = 3 broadcasts (probe
      // side, rerank queries, rerank candidates) + candidate window +
      // output sort. The centroid term is a CellVector reference-object
      // kernel — the nested-literal table it replaced cost 3-4 s of
      // driver re-folding per search at crossover scale
      ("q_ann_ivfpq_prod",     4, 5),
      // r13: the release transform scans the corpus twice (bounded
      // safe-group table + release pass) and NEVER shuffles it — the
      // group table broadcasts back; exchanges = group agg + broadcast +
      // output sort. generalizeChosen returns the same released plan
      // (the ladder's width choice is a bounded driver scalar at
      // construction time)
      ("q_generalize",          2, 3),
      ("q_generalize_chosen",   2, 3),
      // r13: markup strip is a pure projection — ONE scan, the only
      // exchange is the output sort
      ("q_html_strip",          1, 1),
      // r13: warm-started fold below the gate = prior one-pass agg (its
      // scans are the planted-edge derivation, like q_random_walks) +
      // one warm one-pass agg
      ("q_pagerank_incr",       6, 7),
      // r13: byte-level merges are a driver-literal artifact frame (zero
      // scans); encode is the docs scan ×2 (dict + re-attach) with the
      // word join + per-doc agg + output sort
      ("q_bpe_bytes_merges",    0, 1),
      ("q_bpe_bytes_encode",    2, 4))
    for ((q, maxScans, maxExch) <- budgets) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution
        .executedPlan.toString
      val scans = "FileScan parquet".r.findAllIn(plan).length
      val exch  = "(?<!Reused)Exchange ".r.findAllIn(plan).length
      assert(scans <= maxScans,
        s"$q: $scans scans > audited $maxScans\n$plan")
      assert(exch <= maxExch,
        s"$q: $exch exchanges > audited $maxExch\n$plan")
    }
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-key rank selection without a whole-key sort — the two-phase
  * quantile-grid trainer.
  *
  * The naive discrete-quantile trainer ranks every row with
  * `row_number() OVER (PARTITION BY key ORDER BY value)`: with few keys
  * (the event_type case — 5 values) every key's whole corpus slice
  * funnels through ONE task's sort, the low-cardinality-window
  * serialization this repo's NOTES record from the CUSUM fix. This
  * operator keeps the result bit-exact — the value at rank ⌈p·n⌉ is a
  * DATA value, deterministic regardless of tie order — while doing the
  * work in two bounded passes with no window at all:
  *
  *  1. **Band pass**: one `approx_percentile` aggregation per key (GK
  *     sketch, distributed combine) brackets each target rank
  *     `r_p = ⌈p·n⌉` with a value band `[lo_p, hi_p]` taken at fractions
  *     `p ∓ margin/accuracy`. The sketch guarantees rank error ≤
  *     n/accuracy, so with margin 3 the true rank-r_p value lies inside
  *     the band; overlapping bands merge into disjoint intervals.
  *  2. **Cell pass**: one aggregation groups rows by (key, segment,
  *     in-band value) — outside-interval segments collapse to a single
  *     count cell each, inside-interval segments keep one cell per
  *     DISTINCT value. Distinct in-band values are rank-bounded by the
  *     sketch accuracy (≈ 8·n/accuracy per band), so the collected cell
  *     table is O(|keys| · |ps| · n/accuracy) — bounded by the accuracy
  *     choice, independent of row count. A driver-side cumulative walk
  *     then reads the exact rank-r_p value straight off the counts.
  *
  * If a target rank lands in an outside segment (a sketch-guarantee
  * violation — never observed, but the guarantee is probabilistic-free
  * yet implementation-trusted), the affected key falls back to the exact
  * single-key sort path rather than returning a wrong value.
  *
  * Scale shape: both passes are map-side-combined aggregations keyed by
  * (key[, value]); nothing ever sorts more than one key's in-band slice,
  * and that only driver-side over the bounded cell table. The collected
  * artifacts are the per-key sketch row and the cell table. Bounded-key
  * contract like the literal-fold transform itself: with unbounded keys
  * the same two passes write their results as TABLES and the final walk
  * becomes a join — the documented lever.
  */
object RankSelect {

  /** Times the exact single-key sort fallback ran (test observability:
    * specs pin that ordinary data never pays the whole-key sort).
    */
  private[pipeline] val fallbackCount = new java.util.concurrent.atomic.AtomicLong

  /** Exact discrete quantile grid per key: for each key with ≥1 non-null
    * value, the deduped sorted array of the values at ranks
    * `⌈p·n_key⌉` for `p` in `ps`.
    *
    * `keyCol` must be string-typed (callers with numeric keys cast
    * first); `valueCol` double. `accuracy` trades cell-table size
    * (∝ n/accuracy) against sketch size (∝ accuracy).
    *
    * DETERMINISTIC-INPUT CONTRACT: the band pass and the cell pass are two
    * separate jobs over `df`. A source whose contents change between the
    * jobs (a table being appended to, a non-deterministic derivation) can
    * make pass-2 counts inconsistent with pass-1 plans — the walk then
    * reads a value at the wrong rank WITHOUT tripping the outside-segment
    * fallback. Hand this trainer an immutable snapshot (a parquet dir, a
    * cached frame); every in-repo caller reads fixed parquet. We do not
    * force a `.cache()` here because the trainer's whole point is that
    * neither pass needs the raw rows resident — caching a 100 TB input to
    * guard against a contract violation would invert the cost model.
    */
  def exactQuantileGrid(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      ps: Seq[Double],
      accuracy: Int = 2000): Map[String, Array[Double]] = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), s"bad ps: $ps")
    val margin = 3.0 / accuracy
    // fraction ladder: every p plus its band edges, deduped, sorted
    val frs = ps.flatMap(p => Seq(math.max(p - margin, 1e-9), p,
        math.min(p + margin, 1.0)))
      .distinct.sorted
    val v = col(valueCol).cast("double")
    val rows = df.filter(v.isNotNull)
      .select(col(keyCol).cast("string").as("__k"), v.as("__v"))

    // pass 1: per-key count + sketch values at the fraction ladder
    val stats = rows.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        percentile_approx(col("__v"),
          array(frs.map(lit): _*), lit(accuracy)).as("__apx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Double](2).toArray))

    if (stats.isEmpty) return Map.empty
    val frIdx = frs.zipWithIndex.toMap

    // driver: per key, target ranks and merged disjoint value intervals
    case class KeyPlan(n: Long, ranks: Array[Long], intervals: Array[(Double, Double)])
    val plans: Map[String, KeyPlan] = stats.map { case (k, n, apx) =>
      val ranks = ps.map(p => math.ceil(p * n).toLong.max(1L).min(n)).toArray
      val bands = ps.map { p =>
        (apx(frIdx(math.max(p - margin, 1e-9))), apx(frIdx(math.min(p + margin, 1.0))))
      }.sortBy(_._1)
      val merged = bands.foldLeft(List.empty[(Double, Double)]) {
        case ((lo0, hi0) :: tail, (lo, hi)) if lo <= hi0 =>
          (lo0, math.max(hi0, hi)) :: tail
        case (acc, b) => b :: acc
      }.reverse.toArray
      k -> KeyPlan(n, ranks, merged)
    }.toMap

    // pass 2: (key, segment, in-band value) cells. Segment ids alternate
    // outside/inside: seg 2i = values below interval i, seg 2i+1 = inside
    // interval i, last seg = above the final interval. The assignment is
    // ONE RankBucket kernel call — seg = upper-bound search over the
    // key's boundary ladder [lo₁, nextUp(hi₁), lo₂, nextUp(hi₂), …]
    // (v ≤ hi counts lo only → odd inside id; v > hi also counts
    // nextUp(hi) → even outside id). A per-key when-chain of interval
    // tests FAILS codegen compilation past ~60 keys (the 64 KB method
    // cliff — observed at 64 embedding dims) and runs interpreted; the
    // kernel's generated code is constant-size in the key count.
    val keyIdx = plans.keys.toSeq.sorted.zipWithIndex.toMap
    val boundaryFamily: Map[Int, Array[Double]] = plans.map { case (k, plan) =>
      keyIdx(k) -> plan.intervals.flatMap { case (lo, hi) =>
        Seq(lo, Math.nextUp(hi)) }.toArray
    }
    val segOf: Column = graft.functions.RankBucket.rankBucket(
        col("__v"), element_at(typedLit(keyIdx), col("__k")), boundaryFamily)
      .getField("q_bucket").cast("int")
    val inBand = (col("__seg") % 2) === 1
    val cells = rows
      .withColumn("__seg", segOf)
      .groupBy(col("__k"), col("__seg"),
        when(inBand, col("__v")).as("__bv"))
      .agg(count(lit(1)).as("__c"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getLong(3)))

    // driver: cumulative walk in (segment, value) order per key
    val byKey = cells.groupBy(_._1)
    plans.map { case (k, plan) =>
      val ordered = byKey.getOrElse(k, Array.empty)
        .sortBy { case (_, seg, bv, _) => (seg, bv) } // NaN (outside) sorts last,
                                                      // but outside segs hold 1 cell
      val targets = plan.ranks.distinct.sorted
      var cum = 0L
      var ti = 0
      val picked = Array.fill(targets.length)(Double.NaN)
      val inside = Array.fill(targets.length)(false)
      ordered.foreach { case (_, seg, bv, c) =>
        val lo = cum + 1; cum += c
        while (ti < targets.length && targets(ti) <= cum) {
          if (targets(ti) >= lo) { picked(ti) = bv; inside(ti) = seg % 2 == 1 }
          ti += 1
        }
      }
      val grid =
        if (inside.forall(identity) && ti == targets.length)
          picked.distinct.sorted
        else { // sketch band missed a target rank: exact per-key fallback
          fallbackCount.incrementAndGet()
          exactGridBySort(rows.filter(col("__k") === lit(k)), plan.ranks)
        }
      k -> grid
    }
  }

  /** Score rows against a TRAINED per-key quantile grid — the transform
    * half of the quantile pipeline, shared by the batch query face and
    * the streaming face ([[graft.streaming.StreamingQuantile]]): per row,
    * `q_bucket` = count of the key's grid splits ≤ value (upper-bound
    * binary search) and `qscore = round(q_bucket / (|grid|+1), roundTo)`.
    * PURE per-row narrow work through ONE [[graft.functions.RankBucket]]
    * kernel call (flat reference-object grids — immune to the literal
    * when-chain's 64 KB codegen cliff when the key family grows), so it
    * runs identically over a batch or a stream. Rows whose key has no
    * trained grid, or with null values, get null bucket/score.
    */
  def transformAgainstGrids(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      grids: Map[String, Array[Double]],
      roundTo: Int = 6): DataFrame = {
    require(grids.nonEmpty, "transformAgainstGrids requires a trained grid")
    val keyIdx = grids.keys.toSeq.sorted.zipWithIndex.toMap
    val family = grids.map { case (k, g) => keyIdx(k) -> g }
    val rb = graft.functions.RankBucket.rankBucket(
      col(valueCol).cast("double"),
      element_at(typedLit(keyIdx), col(keyCol).cast("string")),
      family)
    df.withColumn("__rb", rb)
      .withColumn("q_bucket", col("__rb.q_bucket"))
      .withColumn("qscore",
        round(col("__rb.q_bucket").cast("double") / col("__rb.denom"), roundTo))
      .drop("__rb")
  }

  /** Exact single-key fallback: the plain rank window, scoped to one key
    * (correct at any tie pathology; only used when a sketch band misses).
    */
  private def exactGridBySort(keyRows: DataFrame, ranks: Array[Long]): Array[Double] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__k")).orderBy(col("__v"))
    val rset = ranks.toSet
    keyRows.withColumn("__rn", row_number().over(w).cast("long"))
      .filter(col("__rn").isin(rset.toSeq: _*))
      .select(col("__v")).collect().map(_.getDouble(0))
      .distinct.sorted
  }

  /** The UNBOUNDED-KEYS lever (r11 — the table-backed twin of
    * [[exactQuantileGrid]]): the same two-phase exact rank selection, but
    * every driver-side step becomes a relational one, so nothing scales
    * with |keys| on the driver:
    *
    *  - the band pass keeps its per-key sketch row as a TABLE, and the
    *    target-rank / merged-interval plan is derived per key with
    *    higher-order array functions (`aggregate` folds the sorted bands
    *    into disjoint intervals — the same append-merge the driver runs);
    *  - the cell pass attaches each key's interval arrays by a key
    *    equi-join (AQE broadcasts the plan table when it is small;
    *    web-scale key counts fall back to a keyed shuffle that the cell
    *    aggregation then REUSES — `HashPartitioning(__k)` satisfies the
    *    `(__k, __seg, __bv)` clustering by the subset rule) and computes
    *    the segment id with two tiny array filters:
    *    `seg = #{lo ≤ v} + #{hi < v}` — over DISJOINT merged intervals
    *    this equals the boundary-ladder upper bound the literal kernel
    *    computes (odd = inside), with no `nextUp` needed;
    *  - the walk is a cumulative-sum window over the CELL table (bounded:
    *    O(|ps|·n/accuracy) cells per key — the window sorts cells, never
    *    rows) plus one ranks⋈cells range join.
    *
    * Returns `(<keyCol>, grid array<double>)` — one row per key, the grid
    * bit-identical to [[exactQuantileGrid]]'s on the same input. Keys
    * whose sketch band misses a target rank (never observed) fall back to
    * the exact single-key sort, like the collected path.
    */
  def exactQuantileGridTable(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      ps: Seq[Double],
      accuracy: Int = 2000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), s"bad ps: $ps")
    val spark = df.sparkSession
    val margin = 3.0 / accuracy
    val frs = ps.flatMap(p => Seq(math.max(p - margin, 1e-9), p,
        math.min(p + margin, 1.0)))
      .distinct.sorted
    val frIdx = frs.zipWithIndex.toMap
    val v = col(valueCol).cast("double")
    val rows = df.filter(v.isNotNull)
      .select(col(keyCol).cast("string").as("__k"), v.as("__v"))

    // band pass — kept as a TABLE; same ladder, same sketch
    val stats = rows.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        percentile_approx(col("__v"),
          array(frs.map(lit): _*), lit(accuracy)).as("__apx"))

    // per-key plan columns, all derived relationally. Ranks: the driver's
    // math.ceil(p * n) on the identical double product — Spark's ceil on
    // double returns LONG with the same value below 2^53.
    val ranksExpr = array_sort(array_distinct(array(ps.map(p =>
      least(greatest(ceil(lit(p) * col("__n").cast("double")), lit(1L)),
        col("__n"))): _*)))
    // bands at literal ladder indices, sorted by (lo, hi) — band MERGING
    // is order-independent within equal-lo groups, so lexicographic
    // sort_array and the driver's stable sortBy(lo) merge identically
    val bandsExpr = sort_array(array(ps.map { p =>
      struct(
        element_at(col("__apx"), frIdx(math.max(p - margin, 1e-9)) + 1).as("lo"),
        element_at(col("__apx"), frIdx(math.min(p + margin, 1.0)) + 1).as("hi"))
    }: _*))
    val planTable = Dedup.materializeOnce(stats
      .withColumn("__bands", bandsExpr)
      .withColumn("__ranks", ranksExpr)
      .withColumn("__merged", expr(
        """aggregate(
          |  __bands,
          |  cast(array() as array<struct<lo:double,hi:double>>),
          |  (acc, b) -> if(size(acc) > 0 and b.lo <= element_at(acc, -1).hi,
          |    concat(slice(acc, 1, size(acc) - 1),
          |      array(named_struct('lo', element_at(acc, -1).lo,
          |                         'hi', greatest(element_at(acc, -1).hi, b.hi)))),
          |    concat(acc, array(b)))
          |)""".stripMargin))
      .select(col("__k"), col("__n"), col("__ranks"),
        expr("transform(__merged, x -> x.lo)").as("__los"),
        expr("transform(__merged, x -> x.hi)").as("__his")))

    // measured broadcast decision (the Artifacts.sizedBroadcast
    // convention): the checkpointed plan table carries NO stats, so
    // without a hint the rows⋈plans join goes sort-merge and shuffles
    // the whole input (measured 21 s for 10M rows × 5 keys). The key
    // count is known post-checkpoint (a cheap count over the
    // materialized rows), so hint broadcast whenever the estimated plan
    // bytes fit comfortably; a web-scale key count takes the keyed
    // shuffle, which the cell aggregation then reuses.
    val nKeys = planTable.count()
    val estBytes = nKeys * (64L + 16L * (2L + 2L * ps.length))
    val planSide =
      if (estBytes <= 64L * 1024 * 1024) broadcast(planTable) else planTable

    // cell pass: seg = #{lo <= v} + #{hi < v} over the key's merged
    // disjoint intervals (odd = inside); one key equi-join + one
    // aggregation that reuses the join's partitioning
    val tagged = rows.join(planSide, "__k")
      .withColumn("__seg",
        (size(filter(col("__los"), l => l <= col("__v"))) +
         size(filter(col("__his"), h => h < col("__v")))))
    val cells = tagged
      .groupBy(col("__k"), col("__seg"),
        when(col("__seg") % 2 === 1, col("__v")).as("__bv"))
      .agg(count(lit(1)).as("__c"))

    // walk: cumulative counts over the bounded cell table, then each
    // target rank picks the cell whose [cum-c+1, cum] range covers it
    import org.apache.spark.sql.expressions.Window
    val wcum = Window.partitionBy(col("__k")).orderBy(col("__seg"), col("__bv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("__cum", sum(col("__c")).over(wcum))
    val targetsRaw = planTable.select(col("__k"),
      size(col("__ranks")).as("__want"), explode(col("__ranks")).as("__t"))
    // same measured hint: |keys|·|ps| rows vs the cell table
    val targets =
      if (estBytes * ps.length <= 64L * 1024 * 1024) broadcast(targetsRaw)
      else targetsRaw
    val picked = targets.alias("t").join(cum.alias("c"),
      col("t.__k") === col("c.__k") &&
        col("t.__t").between(col("c.__cum") - col("c.__c") + 1, col("c.__cum")))
      .select(col("t.__k").as("__k"), col("t.__want").as("__want"),
        col("c.__seg").as("__seg"), col("c.__bv").as("__bv"))
    // materialize the bounded (one row per key) verdict table ONCE: the
    // good/bad split below consumes it twice (the badKeys collect plus
    // the caller's read of `good`), and without this checkpoint each
    // consumer re-executes the whole 2×-scan band+cell DAG — measured as
    // a full second run of the 10M-row cell pass
    val perKey = Dedup.materializeOnce(picked.groupBy(col("__k"))
      .agg(max(col("__want")).as("__want"),
        count(lit(1)).as("__got"),
        min((col("__seg") % 2).cast("int")).as("__minpar"),
        sort_array(array_distinct(collect_list(col("__bv")))).as("grid")))

    val good = perKey.filter(col("__got") === col("__want") && col("__minpar") === 1)
      .select(col("__k").as(keyCol), col("grid"))

    // sketch-violation fallback (never observed; pinned by fallbackCount
    // in the specs): the affected keys — and only they — pay the exact
    // single-key sort
    val badKeys = perKey
      .filter(!(col("__got") === col("__want") && col("__minpar") === 1))
      .select(col("__k")).collect().map(_.getString(0))
    if (badKeys.isEmpty) good
    else {
      import spark.implicits._
      val ranksByKey = planTable
        .filter(col("__k").isin(badKeys.toSeq: _*))
        .select(col("__k"), col("__ranks")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      val patched = badKeys.toSeq.map { k =>
        fallbackCount.incrementAndGet()
        k -> exactGridBySort(rows.filter(col("__k") === lit(k)), ranksByKey(k))
      }
      good.unionByName(
        patched.toDF(keyCol, "grid").select(col(keyCol), col("grid")))
    }
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy-risk auditing for training corpora: k-anonymity group reports,
  * a one-pass generalization ladder, and incremental maintenance against a
  * persisted prior — the release-gate checks a pipeline runs before
  * shipping user-derived records into a training mix.
  *
  * Scale shape: everything here is hash-aggregation over the
  * quasi-identifier (QI) key space. The corpus is touched exactly once per
  * operator (one map-side-combinable groupBy); every later step works on
  * the GROUP table, which is bounded by the QI domain (|nations| ×
  * |segments| × buckets — thousands, not billions), so ladder rollups,
  * risk flags and prior merges are free at 100 TB.
  */
object Privacy {

  /** Every distinct QI combination with its population and at-risk flag
    * (`group_n < k`). One corpus pass, map-side partial aggregation; the
    * output is bounded by the QI domain, not the row count.
    */
  def qiGroupReport(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "qiGroupReport: need at least one QI column")
    require(k >= 2, s"qiGroupReport: k must be >= 2, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
      .withColumn("at_risk", col("group_n") < k)
  }

  /** Anonymity profile of (qiCols + numCol bucketed) for every width in a
    * NESTING ladder (each width must divide the next — floor-division
    * buckets then roll up exactly: floor(floor(v/w)/m) = floor(v/(w*m))).
    *
    * The corpus is aggregated ONCE at the finest width; every coarser
    * width is a rollup of that bounded group table. Output: one row per
    * width with group count, min group size, rows at risk, and `chosen`
    * marking the narrowest width whose minimum group size meets k (the
    * minimal generalization). No width passing leaves every `chosen`
    * false — the caller must widen the ladder or suppress.
    */
  def generalizationLadder(
      df: DataFrame,
      qiCols: Seq[String],
      numCol: String,
      widths: Seq[Long],
      k: Int): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0),
      s"generalizationLadder: widths must be positive, got $widths")
    require(k >= 2, s"generalizationLadder: k must be >= 2, got $k")
    val sorted = widths.sorted
    sorted.sliding(2).foreach {
      case Seq(a, b) => require(b % a == 0,
        s"generalizationLadder: widths must nest (each divides the next); " +
          s"$b is not a multiple of $a")
      case _ => ()
    }
    val w0 = sorted.head
    val qi = qiCols.map(col)
    // the ONE corpus pass: finest-width bucket counts, MATERIALIZED —
    // every ladder width unions a rollup of this table, and without the
    // checkpoint each union branch re-descends the corpus scan+aggregate
    // (measured: 10 FileScans / 31 exchanges in the 5-width query plan;
    // ReuseExchange does not fire across the differing rollup parents).
    // The group table is bounded by the QI domain, so the checkpoint is
    // small by construction.
    val base = Dedup.materializeOnce(df
      .groupBy(qi :+ floor(col(numCol) / lit(w0)).cast("long").as("__b0"): _*)
      .agg(count(lit(1)).as("__n")))
    val perWidth = sorted.map { w =>
      val m = w / w0
      base
        .groupBy(qi :+ floor(col("__b0") / lit(m)).as("__b"): _*)
        .agg(sum(col("__n")).as("group_n"))
        .agg(
          count(lit(1)).as("n_groups"),
          min(col("group_n")).as("min_group"),
          sum(when(col("group_n") < k, col("group_n")).otherwise(lit(0L)))
            .as("rows_at_risk"))
        .select(lit(w).as("width"), col("n_groups"), col("min_group"),
          col("rows_at_risk"))
    }.reduce(_ unionAll _)
    // bounded |widths|-row table from here on
    val flagged = perWidth.withColumn("meets_k", col("min_group") >= k)
    val best = flagged.where(col("meets_k"))
      .agg(min(col("width")).as("__w")).select(col("__w"))
    flagged
      .join(broadcast(best), flagged("width") === best("__w"), "left")
      .withColumn("chosen", col("__w").isNotNull)
      .drop("__w")
  }

  /** QI group counts as a persistable artifact (write with a plain
    * parquet save; the [[kAnonAgainstPrior]] input contract).
    */
  def qiCounts(df: DataFrame, qiCols: Seq[String]): DataFrame =
    df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("prior_n"))

  /** Incremental k-anonymity: merge a fresh batch into a persisted
    * [[qiCounts]] prior and classify every touched-or-known group's risk
    * transition. Counts only grow, so `still_safe` groups can never
    * regress; the interesting outputs are `new_at_risk` (a fresh QI
    * combination below k — the release blocker) and `became_safe`
    * (the batch pushed a known group over the threshold).
    *
    * One groupBy over the batch + one full outer join of two bounded
    * group tables — the corpus is never rescanned.
    */
  def kAnonAgainstPrior(
      batch: DataFrame,
      qiCols: Seq[String],
      k: Int,
      prior: DataFrame): DataFrame = {
    require(k >= 2, s"kAnonAgainstPrior: k must be >= 2, got $k")
    val b = batch.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("batch_n"))
    val joined = prior.join(b, qiCols, "full_outer")
      .withColumn("prior_n", coalesce(col("prior_n"), lit(0L)))
      .withColumn("batch_n", coalesce(col("batch_n"), lit(0L)))
      .withColumn("total_n", col("prior_n") + col("batch_n"))
    joined.withColumn("status",
      when(col("prior_n") === 0 && col("total_n") < k, lit("new_at_risk"))
        .when(col("prior_n") === 0, lit("new_safe"))
        .when(col("prior_n") < k && col("total_n") >= k, lit("became_safe"))
        .when(col("total_n") < k, lit("still_at_risk"))
        .otherwise(lit("still_safe")))
  }

  /** The release transform the ladder's audit implies: bucket `numCol` to
    * `width` (values become their range start, `floor(v/width)*width` —
    * the [[generalizationLadder]] floor-division grammar) and SUPPRESS
    * every row whose generalized QI group still has fewer than `k`
    * members — standard k-anonymization (generalize + suppress), i.e. the
    * gate a pipeline actually runs on user-derived records before they
    * enter a training mix, not just the audit that reports the width.
    *
    * Scale shape: one corpus pass builds the (QI, bucket) group table
    * (map-side combinable, bounded by the QI domain), which broadcasts
    * back as a semi-join — the corpus itself is scanned twice but NEVER
    * shuffled. The alternative single-scan formulation (a count window
    * over (QI, bucket)) would exchange the full corpus; two scans + a
    * bounded broadcast is the 100 TB shape.
    *
    * The broadcast is SIZE-GATED, not assumed: the group table's
    * cardinality is QI domain × bucket count, and the bucket count scales
    * with the numeric value RANGE over `width` (up to n/k groups in the
    * worst case), so "bounded by the QI domain" is a property of sane
    * widths, not a guarantee. The group table is checkpointed once
    * (AQE cannot see a post-HAVING aggregate's size, so the decision
    * needs a real count — the checkpoint makes that count free and lets
    * the semi-join read the same materialization), and the broadcast hint
    * is applied only under `broadcastGroupLimit` rows; above it the join
    * falls back to a shuffled semi-join, which can never OOM the driver.
    *
    * `outputOrder` requests a release totally ordered by that column (the
    * dump/report shape). In the broadcast regime the range exchange is
    * placed below the join — cheaper than `.orderBy` on the result because
    * the range sampler's boundary pass then re-executes only a scan, not
    * the join (see the in-body note). In the shuffle-fallback regime that
    * layout would be WRONG (the join's own hash exchange lands above the
    * range exchange and demotes the total order to per-partition), so the
    * order is applied above the join there and the sampler's extra pass is
    * accepted.
    */
  def generalize(
      df: DataFrame,
      qiCols: Seq[String],
      numCol: String,
      width: Long,
      k: Int,
      broadcastGroupLimit: Long = graft.core.SizeGates.BroadcastGroups,
      outputOrder: Option[String] = None): DataFrame = {
    require(width > 0, s"generalize: width must be positive, got $width")
    require(k >= 2, s"generalize: k must be >= 2, got $k")
    val qi = qiCols.map(col)
    val bucket = floor(col(numCol) / lit(width)).cast("long")
    val released = df.withColumn(numCol, bucket * lit(width))
    val safe = Dedup.materializeOnce(released
      .groupBy(qi :+ col(numCol): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= k)
      .drop("__n"))
    val broadcastable = safe.count() <= broadcastGroupLimit
    val safeHinted = if (broadcastable) broadcast(safe) else safe
    outputOrder match {
      case None =>
        released.join(safeHinted, qiCols :+ numCol, "left_semi")
          // the using-columns join fronts the keys; a release transform
          // must hand back the caller's schema order
          .select(df.columns.map(col): _*)
      case Some(key) if broadcastable =>
        // Totally-ordered release (the dump/report shape) with the range
        // exchange BELOW the join: `.orderBy(key)` on the join output
        // re-executes its whole child (scan + join) for the range
        // sampler's boundary pass — measured +0.8 s at 10M rows — while
        // range-routing the RELEASED frame first gives the sampler a bare
        // scan+project child. The suppress join must then be INNER (the
        // safe table is unique-keyed by construction, so inner ≡ semi and
        // drops null keys identically): a left-semi would be transposed
        // back under the repartition by PushDownLeftSemiAntiJoin,
        // resurrecting the expensive sampler child. The local sort sits
        // ABOVE the broadcast join (a narrow, order-preserving operator);
        // range partitioning + per-partition sort = total order. This
        // layout is ONLY valid when the join is broadcast: a shuffled
        // join would insert a hash exchange on the join keys above the
        // range exchange and reduce the "total" order to per-partition.
        released.repartitionByRange(col(key))
          .join(safeHinted, qiCols :+ numCol, "inner")
          .sortWithinPartitions(key)
          .select(df.columns.map(col): _*)
      case Some(key) =>
        // Shuffle-fallback regime (group table over the broadcast gate):
        // the join itself exchanges on the QI keys, so the range exchange
        // must sit ABOVE the join to survive. The sampler's boundary pass
        // re-executes the join child — the documented cost of a total
        // order at this scale; correctness of the ordering contract wins
        // over the one extra pass.
        released.join(safeHinted, qiCols :+ numCol, "left_semi")
          .repartitionByRange(col(key))
          .sortWithinPartitions(key)
          .select(df.columns.map(col): _*)
    }
  }

  /** [[generalize]] at the width the [[generalizationLadder]] chooses:
    * runs the ladder, picks the narrowest width whose minimum group size
    * meets `k` (a 1-row driver scalar — the bounded gate-probe
    * convention), and applies the release transform at that width. Fails
    * loudly when no ladder width meets k — releasing at the widest
    * failing width would silently ship at-risk rows.
    */
  def generalizeChosen(
      df: DataFrame,
      qiCols: Seq[String],
      numCol: String,
      widths: Seq[Long],
      k: Int,
      outputOrder: Option[String] = None): DataFrame = {
    val chosen = Dedup.withMaterialized {
      generalizationLadder(df, qiCols, numCol, widths, k)
        .filter(col("chosen")).select(col("width")).collect()
    }
    require(chosen.nonEmpty,
      s"generalizeChosen: no width in $widths meets k=$k — widen the " +
        "ladder or suppress the corpus")
    generalize(df, qiCols, numCol, chosen.head.getLong(0), k,
      outputOrder = outputOrder)
  }

  /** Distinct-sensitive-value diversity per QI group (l-diversity): a
    * group can be k-anonymous yet leak its sensitive attribute when every
    * member shares one value. Same one-pass bounded-output shape as
    * [[qiGroupReport]]; exact distinct per group is safe because the
    * sensitive DOMAIN is bounded even when the corpus is not.
    */
  def lDiversityReport(
      df: DataFrame,
      qiCols: Seq[String],
      sensitiveCol: String,
      l: Int): DataFrame = {
    require(l >= 2, s"lDiversityReport: l must be >= 2, got $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("below_l", col("n_sensitive") < l)
  }
}

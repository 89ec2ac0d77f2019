package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming k-anonymization release — [[graft.pipeline.Privacy.generalizeChosen]]
  * at the ingest door: each micro-batch folds its quasi-identifier group
  * counts (at the FINEST ladder width) into a persisted artifact, re-runs
  * the generalization-ladder audit over the updated group table (bounded by
  * QI domain × buckets — never the corpus), and releases THE BATCH's rows
  * generalized at the chosen width with below-k groups suppressed, judged
  * against the TOTAL counts seen so far. [[StreamingKAnon]] maintains the
  * live risk classification; this sink is the enforcement half — together
  * they give the privacy family the same batch/streaming symmetry as
  * components ([[StreamingComponents]]) and PageRank
  * ([[StreamingPageRank]]).
  *
  * Parity contract (the [[StreamingKAnon]] shape): the increment for batch
  * Bn equals `generalizeChosen(B1 ∪ … ∪ Bn)` restricted to Bn's rows — the
  * width choice and every suppress decision use exactly the counts a full
  * rebuild over everything-seen-so-far would use, because the fold IS that
  * count table. The at-ingest trade, documented like
  * [[StreamingLineDedup]]'s: a row released in batch N is never revisited
  * when a LATER batch changes the chosen width or pushes its group over k —
  * release decisions are made with the knowledge available at arrival.
  *
  * Replay safety rides [[FoldArtifact]]: the released increment lands in a
  * per-batch partition (`outputPath/__batch=<id>/`, overwrite mode) BEFORE
  * the counts commit, so a batch at or below the committed version was
  * fully processed and is skipped outright, and a redelivery that raced the
  * commit overwrites its own partial output instead of appending
  * duplicates. Read the output root with `spark.read.parquet(outputPath)`.
  *
  * Per batch the work is batch-bounded (one groupBy over the batch + the
  * release semi-join) plus ladder rollups over the bounded group table.
  */
object StreamingGeneralize {

  /** `foreachBatch` body: fold QI×finest-bucket counts into `countsPath`,
    * audit the ladder, release the batch at the chosen width under
    * `outputPath/__batch=<batchId>`. Fails loudly when no ladder width
    * meets k (releasing at the widest failing width would ship at-risk
    * rows) — same contract as the batch operator.
    */
  def sink(
      countsPath: String,
      outputPath: String,
      qiCols: Seq[String],
      numCol: String,
      widths: Seq[Long],
      k: Int,
      broadcastGroupLimit: Long = graft.core.SizeGates.BroadcastGroups)(
      batch: DataFrame, batchId: Long): Unit = {
    require(widths.nonEmpty && widths.forall(_ > 0),
      s"StreamingGeneralize: widths must be positive, got $widths")
    require(k >= 2, s"StreamingGeneralize: k must be >= 2, got $k")
    val sorted = widths.sorted
    sorted.sliding(2).foreach {
      case Seq(a, b) => require(b % a == 0,
        s"StreamingGeneralize: widths must nest (each divides the next); " +
          s"$b is not a multiple of $a")
      case _ => ()
    }
    val spark = batch.sparkSession
    if (FoldArtifact.isCommitted(spark, countsPath, batchId))
      return // replayed batch: output + fold both landed already
    // an empty batch has nothing to release and nothing to fold; with no
    // prior artifact the ladder audit's min over an empty merged table
    // would be null and kill the query (the StreamingPageRank guard)
    if (batch.isEmpty) return
    FoldArtifact.requireBatchPartitionRoot(spark, outputPath, "StreamingGeneralize")
    val w0 = sorted.head
    val qi = qiCols.map(col)
    graft.pipeline.Dedup.withMaterialized {
      // materialize the batch once: it feeds the count fold AND the
      // release pass, and a streaming source cannot be re-read
      val b = graft.pipeline.Dedup.materializeOnce(batch)
      val bCounts = b
        .groupBy(qi :+ floor(col(numCol) / lit(w0)).cast("long").as("__b0"): _*)
        .agg(count(lit(1)).as("__n"))
      val prior = FoldArtifact.read(spark, countsPath)
      // the merged table is the release's judge, the ladder's input AND the
      // next version's content — checkpoint it so the commit never reads
      // the prior version's directory while writing, and the three
      // consumers share one computation (it is bounded by QI × buckets)
      val merged = graft.pipeline.Dedup.materializeOnce(prior match {
        case Some(p) => p.unionByName(bCounts)
          .groupBy((qi :+ col("__b0")): _*).agg(sum(col("__n")).as("__n"))
        case None => bCounts
      })
      // ladder audit over the bounded group table: narrowest nesting width
      // whose minimum group size meets k (1-row driver scalar per width)
      val chosen = sorted.find { w =>
        val m = w / w0
        merged
          .groupBy(qi :+ floor(col("__b0") / lit(m)).as("__b"): _*)
          .agg(sum(col("__n")).as("group_n"))
          .agg(min(col("group_n")).as("mg"))
          .head().getLong(0) >= k
      }
      require(chosen.nonEmpty,
        s"StreamingGeneralize: no width in $widths meets k=$k over the " +
          "accumulated corpus — widen the ladder or suppress the stream")
      val w = chosen.get
      val m = w / w0
      // safe groups AT the chosen width from the TOTAL counts (floor
      // nesting: floor(v/w) = floor(__b0/m); range start = that × w — the
      // exact Privacy.generalize grammar, so increments match the batch
      // operator bit-for-bit)
      val safe = merged
        .groupBy(qi :+ (floor(col("__b0") / lit(m)).cast("long") * lit(w))
          .as(numCol): _*)
        .agg(sum(col("__n")).as("__tot"))
        .filter(col("__tot") >= k)
        .drop("__tot")
      val released = b.withColumn(numCol,
        floor(col(numCol) / lit(w)).cast("long") * lit(w))
      // same size-gated broadcast as Privacy.generalize (and the same
      // gate parameter, so the two faces cannot drift): the finest-width
      // count on the checkpoint is free and upper-bounds the safe table
      val safeHinted =
        if (merged.count() <= broadcastGroupLimit) broadcast(safe) else safe
      released.join(safeHinted, qiCols :+ numCol, "left_semi")
        .select(batch.columns.map(col): _*)
        .write.mode("overwrite")
        .parquet(s"$outputPath/__batch=$batchId")
      // counts commit LAST: a crash before this line replays the whole
      // batch (overwriting its own partial output); after it, the batch is
      // skipped as fully processed
      FoldArtifact.commit(merged, countsPath, batchId)
    }
  }

  /** Current accumulated QI×finest-bucket count table (empty with the
    * right schema before any batch arrived).
    */
  def currentCounts(
      spark: SparkSession,
      countsPath: String,
      qiCols: Seq[String]): DataFrame =
    FoldArtifact.read(spark, countsPath).getOrElse {
      val qiFields = qiCols.map(c => s"CAST(NULL AS STRING) AS $c")
      spark.range(0).selectExpr(
        qiFields :+ "id AS __b0" :+ "id AS __n": _*)
    }
}

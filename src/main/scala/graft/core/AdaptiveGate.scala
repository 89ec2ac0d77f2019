package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LeafNode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Input-size-derived execution gate for the final consuming action of a
  * query (guide §2: make partitioning scale-adaptive — derive from input
  * size — rather than a constant tuned for local mode or the cluster).
  *
  * AQE re-optimizes between stages using runtime statistics, at the cost of
  * one driver synchronization per exchange (each exchange becomes its own
  * query stage: submit, wait, re-optimize). Those runtime decisions only
  * beat the static plan when static estimates are unreliable or the data is
  * large enough for coalescing / skew handling / join re-planning to
  * matter. For a plan whose leaves are all stats-accurate file scans
  * totalling less than ONE advisory shuffle partition, the static plan is
  * already what AQE would produce — skew cannot exist, coalescing can only
  * merge near-empty tasks, and broadcast decisions are made statically from
  * the same accurate sizes — so this gate runs the action with adaptive
  * execution off and a shuffle width derived from the input size (one
  * partition, since the whole input fits one advisory partition) instead of
  * the session constant.
  *
  * Exclusions, both measured on the sf0.1 bench (r15 session probe + r16
  * interleaved A/B, OPTIMIZATION_r16.md):
  *
  *  - A [[LogicalRDD]] leaf (a materialized checkpoint) means the query
  *    already ran data-dependent stages and its downstream — banded
  *    self-joins over inverted indexes, pair aggregations — is exactly
  *    where runtime stats beat static estimates: the checkpointed dedup
  *    pair family regresses 1.3x under a static plan while every
  *    file-leaf class improves (0.5-0.9x). Checkpoint plans stay adaptive.
  *    A [[SortedScan]] result (`ForwardFill.partitioned`, the global
  *    `Resampler.resample`) is such a leaf too, so the final actions of
  *    `q_ffill`, `q_resample_1h`, `q_resample_1d` and `q_resample_window`
  *    are gate-exempt; their sort either ran while the frame was built, or,
  *    unsliced under the coalescing floor, was planned then with adaptive
  *    execution off and runs inside that action.
  *  - Each [[Generate]] multiplies the size estimate by 8 (explodes grow
  *    rows past the leaf estimate; conservative, so expansion near the
  *    threshold errs toward keeping AQE on).
  *
  * The threshold is SCALE-DERIVED, not tuned to a fixture: it follows
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (overridable via
  * `spark.graft.adaptive.smallPlanBytes`), so production-size inputs keep
  * AQE on unconditionally and the gate moves with the same knob that
  * governs AQE's own partition sizing.
  *
  * The gate, [[gated]], runs a query's final action with a static
  * one-partition plan ([[withGatedExecution]]). [[coalescesToOne]] narrows
  * it for [[SortedScan]], which sorts an input as one partition
  * (`repartition(1).sortWithinPartitions`, with no range sampling job and
  * no summary job) only where adaptive execution would have coalesced a
  * range sort of it into one partition anyway. Under Spark's default
  * `coalescePartitions.parallelismFirst` that is a shuffle under
  * `coalescePartitions.minPartitionSize` (1 MB), not one advisory
  * partition: a larger range sort keeps about one partition per core.
  *
  * `SPARK_GRAFT_ADAPTIVE_GATE=off` turns both off.
  */
object AdaptiveGate {

  private val ThresholdKey = "spark.graft.adaptive.smallPlanBytes"
  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Ops escape hatch (and the A/B lever for measuring the gate itself):
    * SPARK_GRAFT_ADAPTIVE_GATE=off makes the gate a no-op everywhere.
    */
  private val envOff: Boolean =
    sys.env.get("SPARK_GRAFT_ADAPTIVE_GATE").contains("off")

  private def parseBytes(v: String): Long =
    v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$ThresholdKey must be a whole number of bytes, got '$v'"))

  /** True iff the static single-partition plan is already optimal for
    * `df`'s final action (see object doc).
    */
  def staticPlanSufficient(df: DataFrame): Boolean =
    effectiveBytes(df).exists(_ < threshold(df.sparkSession))

  /** True iff adaptive execution is on and `df` fits one advisory
    * partition by [[staticPlanSufficient]].
    */
  def gated(df: DataFrame): Boolean = aqeOn(df.sparkSession) && staticPlanSufficient(df)

  /** True iff [[gated]] holds and `df`'s size estimate is also under
    * [[oneCoalescedPartitionBytes]], so adaptive execution would coalesce a
    * range sort of `df` into one partition. The estimate is the leaves'
    * stored size; a shuffle of them is larger (the benchmark's fuse: 0.53 MB
    * of files, 1.06 MB of shuffle), so an input just under the bound loses
    * at most a few partitions of about 1 MB each.
    */
  def coalescesToOne(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    aqeOn(spark) && effectiveBytes(df).exists(b =>
      b < threshold(spark) && b < oneCoalescedPartitionBytes(spark))
  }

  /** The shuffle size under which adaptive execution coalesces a shuffle
    * into one partition. With `coalescePartitions.parallelismFirst` on
    * (Spark's default) it aims for `coalescePartitions.minPartitionNum`
    * partitions (default: the default parallelism) of at least
    * `coalescePartitions.minPartitionSize` each, so with more than one
    * partition aimed for, only a shuffle under `minPartitionSize` ends in
    * one; otherwise a shuffle under the advisory size does. Zero when
    * coalescing is off.
    */
  private def oneCoalescedPartitionBytes(spark: SparkSession): Long = {
    val conf = spark.sessionState.conf
    val minNum =
      if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) 1
      else conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse(spark.sparkContext.defaultParallelism)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) 0L
    else if (minNum > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  private def aqeOn(spark: SparkSession): Boolean = spark.conf.get(AqeKey, "true") == "true"

  private def threshold(spark: SparkSession): BigInt = BigInt(
    spark.conf.getOption(ThresholdKey).map(parseBytes).getOrElse(
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))

  /** `df`'s leaf size estimate with the explode allowance; `None` when the
    * gate is off or `df` reads a checkpoint (see object doc).
    */
  private def effectiveBytes(df: DataFrame): Option[BigInt] = {
    if (envOff) return None
    // the analyzed plan is computed eagerly at Dataset construction, so
    // this walk adds no planning work to the timed action
    val plan = df.queryExecution.analyzed
    var ckpt = false
    var bytes = BigInt(0)
    plan.foreach {
      case _: LogicalRDD => ckpt = true
      case l: LeafNode => bytes += l.stats.sizeInBytes
      case _ =>
    }
    // 8x per NESTED generate (max depth along any root-leaf path, not the
    // total count — sibling explodes in union branches don't compound):
    // conservative growth allowance for explodes
    def genDepth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val below = if (p.children.isEmpty) 0 else p.children.map(genDepth).max
      p match {
        case _: Generate => 1 + below
        case _ => below
      }
    }
    Option.when(!ckpt)(bytes * BigInt(8).pow(genDepth(plan)))
  }

  /** Run `body` (the action consuming `df`) under the gate; the session
    * conf is restored afterwards. Intermediate actions `df`'s construction
    * already ran (checkpoint materializations, size probes) are untouched —
    * only the final consuming action sees the gate, which keeps the
    * join-heavy post-checkpoint plans (where AQE demonstrably earns its
    * sync cost) on the adaptive path.
    *
    * Not reentrant: when the gate fires it sets `spark.sql.adaptive.enabled`
    * and `spark.sql.shuffle.partitions` on the SHARED session and restores
    * them when `body` returns, so every other action on that session in
    * between runs under the gate's settings too. Concurrent actions on one
    * session must not use it; the mains call it from one thread only.
    */
  def withGatedExecution[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    val partKey = "spark.sql.shuffle.partitions"
    if (!gated(df)) body
    else {
      val prevParts = spark.conf.get(partKey)
      spark.conf.set(AqeKey, "false")
      // the whole input fits one advisory partition (gate precondition),
      // so the derived static width is one
      spark.conf.set(partKey, "1")
      try body finally {
        spark.conf.set(AqeKey, "true")
        spark.conf.set(partKey, prevParts)
      }
    }
  }
}

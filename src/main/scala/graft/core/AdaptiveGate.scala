package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LeafNode}
import org.apache.spark.sql.execution.LogicalRDD

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
  *  - Each [[Generate]] multiplies the size estimate by 8 (explodes grow
  *    rows past the leaf estimate; conservative, so expansion near the
  *    threshold errs toward keeping AQE on).
  *
  * The threshold is SCALE-DERIVED, not tuned to a fixture: it follows
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (overridable via
  * `spark.graft.adaptive.smallPlanBytes`), so production-size inputs keep
  * AQE on unconditionally and the gate moves with the same knob that
  * governs AQE's own partition sizing.
  */
object AdaptiveGate {

  private val ThresholdKey = "spark.graft.adaptive.smallPlanBytes"

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
  def staticPlanSufficient(df: DataFrame): Boolean = {
    if (envOff) return false
    val spark = df.sparkSession
    val threshold = BigInt(
      spark.conf.getOption(ThresholdKey).map(parseBytes).getOrElse(
        spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
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
    val effective = bytes * BigInt(8).pow(genDepth(plan))
    !ckpt && effective < threshold
  }

  /** Run `body` (the action consuming `df`) under the gate; the session
    * conf is restored afterwards. Intermediate actions `df`'s construction
    * already ran (checkpoint materializations, size probes) are untouched —
    * only the final consuming action sees the gate, which keeps the
    * join-heavy post-checkpoint plans (where AQE demonstrably earns its
    * sync cost) on the adaptive path.
    */
  def withGatedExecution[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val gate = spark.conf.get(aqeKey, "true") == "true" && staticPlanSufficient(df)
    if (!gate) body
    else {
      val prevParts = spark.conf.get(partKey)
      spark.conf.set(aqeKey, "false")
      // the whole input fits one advisory partition (gate precondition),
      // so the derived static width is one
      spark.conf.set(partKey, "1")
      try body finally {
        spark.conf.set(aqeKey, "true")
        spark.conf.set(partKey, prevParts)
      }
    }
  }
}

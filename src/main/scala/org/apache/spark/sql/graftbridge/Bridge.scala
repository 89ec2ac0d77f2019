package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); placing this one-file
  * shim inside the `org.apache.spark.sql` package tree is the standard
  * pattern extension libraries use to expose native expressions as Columns.
  */
object Bridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Strip the propagated origin statistics from a just-checkpointed frame,
    * keeping its RDD, output partitioning and ordering.
    *
    * `Dataset.localCheckpoint` builds a `LogicalRDD` that CARRIES the
    * originating plan's estimated `sizeInBytes`. In an iterative loop whose
    * round output self-joins (connected components' pointer jump, any
    * fixpoint with two consumers of the previous round), the estimate
    * SQUARES every round — a BigInt whose digit count doubles per round,
    * and by round ~25 the driver spends minutes inside
    * `SizeInBytesOnlyStatsPlanVisitor` multiplying million-digit numbers
    * (measured: a 500k-node components run pinned one core for 19 minutes
    * at 4% total CPU, all in `BigInteger.multiplyToomCook3`). Dropping
    * `originStats` resets the frame to `defaultSizeInBytes`, which is what
    * a fresh scan would report — loops stay O(1) at plan time. Joins
    * against such frames won't auto-broadcast (the conservative default),
    * which is fine for loop code that places explicit size-gated hints.
    */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(
          session,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(session, None, None))
      case _ => df
    }

  /** Rebuild a Dataset from its logical plan so a NEW QueryExecution is
    * created under the CURRENT session conf — how an action (write) sees a
    * conf change made after the frame was constructed. `graft.Dev plan`
    * and `AdaptiveGateSpec` use this to see the plan a gated action
    * actually runs; no query path calls it.
    */
  def reanalyze(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session, df.queryExecution.logical)
  }

  /** Stamp a just-checkpointed frame's `LogicalRDD` with the hash
    * partitioning its rows PHYSICALLY have.
    *
    * Under AQE, `Dataset.localCheckpoint` loses the plan's output
    * partitioning (the adaptive root reports `UnknownPartitioning` at
    * checkpoint time), so a loop that carefully laid its tables out with
    * `repartition(n, key)` pays a fresh ENSURE_REQUIREMENTS exchange on
    * EVERY round's join anyway — the layout exists on the cluster but the
    * planner can't see it. This restores the declaration. Callers must
    * guarantee the physical layout really is `hashpartitioning(keys, n)`:
    * produce the frame with an EXPLICIT-count `repartition(n, keys)`
    * immediately before the checkpoint (an explicit count is never
    * AQE-coalesced; a coalesced exchange's partitions are unions of hash
    * buckets and must NOT be stamped).
    */
  def stampHashPartitioning(
      df: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      numPartitions: Int): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        require(lr.rdd.getNumPartitions == numPartitions,
          s"stampHashPartitioning: rdd has ${lr.rdd.getNumPartitions} " +
            s"partitions, caller claims $numPartitions")
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"stampHashPartitioning: no output column named $k")))
        org.apache.spark.sql.classic.Dataset.ofRows(
          session,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd,
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
              attrs, numPartitions),
            lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None))
      case _ => df
    }
}

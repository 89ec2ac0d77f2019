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

  /** `cols` of `df.filter(cond)`, where the named `lets` are computed once
    * per row below `cols`, which may read them.
    */
  final case class Select(
      df: org.apache.spark.sql.DataFrame, cond: Option[Column], lets: Seq[Column], cols: Seq[Column])

  /** The union of `inputs`: one `Union` of one `Project` per input, whose
    * `cols` (named) line up by position. The plan is analyzed once, where
    * building it from `Dataset` calls analyzes every filter and select, and
    * folding `Dataset.union` the growing union once per input.
    */
  def unionOfSelects(inputs: Seq[Select]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Union}
    val session = inputs.head.df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plans = inputs.map { in =>
      val child = in.df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan
      val filtered = in.cond.fold(child)(c => Filter(session.expression(c), child))
      val withLets =
        if (in.lets.isEmpty) filtered
        else Project(child.output ++ in.lets.map(session.toRichColumn(_).named), filtered)
      Project(in.cols.map(session.toRichColumn(_).named), withLets)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      if (plans.length == 1) plans.head else Union(plans))
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

  /** Run `body`, which executes `df`'s plan outside a Dataset action (e.g.
    * jobs over `df.queryExecution.toRdd`), as one SQL execution of that
    * plan, as `Dataset.checkpoint` does: listeners and the UI then see its
    * jobs and planning phases.
    */
  def withSqlExecution[T](df: org.apache.spark.sql.DataFrame, name: String)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      df.queryExecution, Some(name))(body)

  /** `df.observe(name, metrics)` for a caller that repartitions the result.
    * The sorts at `df`'s top, under deterministic projections and filters,
    * are dropped first: the optimizer drops them under a repartition, but
    * not through an observation between the two (a fused input's range
    * sort would otherwise run, sampling job and all, before the
    * repartition).
    */
  def observeUnsorted(
      df: org.apache.spark.sql.DataFrame,
      name: String,
      metrics: Seq[Column]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort => strip(s.child)
      case p: Project if p.projectList.forall(_.deterministic) => p.copy(child = strip(p.child))
      case f: Filter if f.condition.deterministic => f.copy(child = strip(f.child))
      case other => other
    }
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session, strip(df.queryExecution.analyzed))
      .observe(name, metrics.head, metrics.tail: _*)
  }

  /** Wrap `rdd` as a frame that declares `sorted`'s global order. `sorted`
    * must be a `df.orderBy(...)`, or a
    * `df.repartition(1).sortWithinPartitions(...)` (one partition), and
    * `rdd` must hold its rows in order, with the same columns: partition
    * for partition (e.g. a per-partition map over
    * `sorted.queryExecution.toRdd`), or, for a one-partition sort, as k
    * ordered slices, partition i holding rows that all order after
    * partition i - 1's. The `LogicalRDD` leaf states a range partitioning
    * into `rdd`'s partitions and the sort's output ordering on fresh
    * attributes, as `Dataset.checkpoint` does, so a later `orderBy` on the
    * same keys plans no exchange and no sort, and `toLocalIterator` walks
    * the rows in order.
    * The columns named in `nullable` are declared nullable whatever
    * `sorted` says, for an `rdd` that writes nulls into them.
    */
  def sortedFrame(
      sorted: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      nullable: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeMap, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    val session = sorted.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = sorted.queryExecution
    val order = qe.analyzed match {
      case s: Sort if s.global => s.order
      case Sort(o, false, Repartition(1, true, _), _) => o
      case p => throw new IllegalArgumentException(
        s"sortedFrame: expected a global sort or a one-partition sort, got ${p.nodeName}")
    }
    val fresh = qe.analyzed.output.map { a =>
      if (nullable.contains(a.name)) a.newInstance().withNullability(true) else a.newInstance()
    }
    val rename = AttributeMap(qe.analyzed.output.zip(fresh))
    val ordering = order.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => rename.getOrElse(a, a)
    }.asInstanceOf[SortOrder])
    org.apache.spark.sql.classic.Dataset.ofRows(
      session,
      new org.apache.spark.sql.execution.LogicalRDD(
        fresh, rdd,
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning(
          ordering, rdd.getNumPartitions),
        ordering, isStreaming = false, stream = None)(
        session,
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
          qe.optimizedPlan.stats.sizeInBytes)),
        None))
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

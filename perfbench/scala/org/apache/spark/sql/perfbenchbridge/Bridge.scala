package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal hooks the benchmark's tracer needs. They live in a
  * `org.apache.spark.sql` subpackage because both members are package-private.
  */
object Bridge {

  /** Block until every posted listener event has been delivered, so counters
    * read after an operation include all of its jobs, stages and tasks.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution a finished SQL execution ran, when Spark attached it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}

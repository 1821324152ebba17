package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Accessors the benchmark's tracer needs from Spark internals; they live
  * in Spark's package for that reason only.
  */
object BenchBus {
  /** Waits until the listener bus has delivered every posted event, so a
    * span's counters are complete before they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an SQL execution-end event carries in-process. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the sql-private Column <-> catalyst Expression converters
  * (Spark 4 moved Column onto ColumnNode; `ExpressionUtils` is
  * private[sql]). This is the conventional shim third-party Catalyst
  * expressions use — graft code outside this file never touches Spark
  * internals directly.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The ANSI arithmetic-overflow error (ARITHMETIC_OVERFLOW error class),
    * as thrown by built-in ANSI Add/Multiply — so graft's overflow-checked
    * kernels fail with the same user-visible error the HOF form would.
    * (QueryExecutionErrors is private[sql]; generated code calls this via
    * the static forwarder.)
    */
  def overflowError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .arithmeticOverflowError("long overflow")

  /** Waits until the listener bus has delivered every posted event, so a
    * listener's counters are complete before they are read.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

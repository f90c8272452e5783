package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst Expressions.
  *
  * Spark 4 moved `Column` to a backend-agnostic representation; the
  * Expression conversions live in `org.apache.spark.sql.classic` with
  * package-private access, so custom native expressions (graft.functions.*)
  * reach them through this shim — the Spark-4 equivalent of the classic
  * `new Column(expr)` / `col.expr` extension pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Full ColumnNode → Expression conversion (UnresolvedFunction nodes
    * become analyzable catalyst UnresolvedFunctions). `expression` above
    * wraps the node opaquely, which is fine inside a DataFrame plan but
    * NOT for expressions returned from a FunctionRegistry builder — the
    * analyzer must be able to recurse into them. */
  def analyzableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Block until every event posted so far has reached every listener.
    * The listener bus is asynchronous: a job's start/end events can land
    * after the action that ran it returns, so a listener-side count read
    * right after the action may miss them. Throws a TimeoutException
    * if the bus is still busy after 10 s. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

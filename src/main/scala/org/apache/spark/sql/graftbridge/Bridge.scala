package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x hides the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`; this object lives inside the `org.apache.spark.sql`
  * package hierarchy solely to re-export those two conversions for the
  * graft custom expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an EXISTING session (the runtime
    * counterpart of SparkSessionExtensions.injectFunction, which only
    * applies at session build time). `sessionState` is private[sql],
    * hence this lives in the bridge.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cls.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Wait until the listener bus has delivered every queued event, so a
    * listener's counts are complete before they are read
    * (`listenerBus` is private to the spark package).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

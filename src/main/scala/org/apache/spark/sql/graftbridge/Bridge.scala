package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 removed the public `new Column(expr)` path). Standard pattern
  * for Spark extension libraries: one object inside the sql package tree.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a Catalyst expression builder,
    * making graft kernels usable inside `expr(...)` lambdas and spark.sql.
    * A name the session's registry already holds is left as it is:
    * replacing it would only log a "replaced a previously registered
    * function" WARN per call. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Apply a SparkSessionExtensions' injected functions to a live session
    * (spark.sql.extensions is a static conf — it only takes effect for the
    * first session of a JVM; this applies the same registrations to an
    * existing session, e.g. under test). */
  def applyFunctionExtensions(spark: org.apache.spark.sql.SparkSession,
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim for Spark-internal (`private[sql]`) bridges the library
  * needs: Column <-> Expression conversion (Spark 4 columns wrap
  * ColumnNodes, not Expressions) and FunctionRegistry access for SQL-name
  * registration. Lives under org.apache.spark.sql by design — the
  * standard extension-library technique.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Registers `name` only when the session's function registry lacks
    * it, so a repeat call (each embedding query registers on entry)
    * leaves the first registration in place instead of replacing it. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

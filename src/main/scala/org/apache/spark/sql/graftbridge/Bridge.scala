package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Interop shim: Spark 4 made the Expression↔Column bridge `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); this object lives inside
  * the `org.apache.spark.sql` package tree to re-expose the two conversions
  * the graft library needs for its native expressions, and the Dataset
  * factory its SQL-bodied queries need. No Spark internals are modified —
  * this is the same technique Spark-ecosystem libraries use to attach custom
  * Catalyst expressions to the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame of `sql` parsed by the session parser, after `bind`
    * rewrites the still-unresolved plan (`classic.Dataset.ofRows` is
    * `private[sql]`). The plan is analyzed here, so a name `bind` left
    * unresolved fails with an `AnalysisException` at build time. */
  def sqlFrame(spark: SparkSession, sql: String)(
      bind: LogicalPlan => LogicalPlan): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, bind(s.sessionState.sqlParser.parsePlan(sql)))
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** Spark 4 made `Column` connect-agnostic and hid the Column↔Expression
  * bridge behind `private[sql]` (`classic.ExpressionUtils`). Custom Catalyst
  * expressions still need it, so this one-file shim lives in the
  * `org.apache.spark.sql` namespace — the standard pattern used by Spark
  * extension libraries. No other internals are touched. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Session-aware Column→Expression conversion: fully converts a COMPOSED
    * Column AST (functions._ builders) into catalyst expressions, unlike
    * [[expression]] which wraps the node unevaluated. Needed when a composed
    * Column is embedded inside an analyzer context (e.g. macro-style SQL
    * function builders) rather than passed through the DataFrame API. */
  def sessionExpression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Integer floor division as a composable Column (`a DIV b`) — the
    * Column API has no `div`, and the two workarounds are traps at the
    * repo's integer-exactness bar: decimal `/` then CAST rounds HALF_UP
    * before truncating (diverges from DuckDB `//` past ~2e6 denominators),
    * and double `/` loses bits past 2^53. ANSI mode: throws on overflow /
    * division by zero, same as the rest of the session. */
  def idiv(a: Column, b: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b),
      org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI))

  /** `InternalRow` RDD → DataFrame without an external-Row detour — the
    * remote-table store uses it to land appended wire rows (already decoded
    * to catalyst form by `RemoteWire.decoder`) as parquet. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** SQL function builder for a Column-composed function: the builder
    * inlines the composed expression tree at analysis (macro-style — still
    * whole-stage-codegen'd, never a UDF), converted by the session that is
    * analysing the statement. */
  def columnFunction(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => sessionExpression(org.apache.spark.sql.SparkSession.active, f(exprs.map(column)))

  /** SQL function builder for a Scala UDF or Aggregator UDAF — what
    * `spark.udf.register` installs, without needing a session. */
  def udfFunction(name: String, f: UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: UserDefinedAggregator[_, _, _] => ScalaAggregator(a, _)
      case u: SparkUserDefinedFunction => children => {
        if (children.length != u.inputEncoders.size) throw new IllegalArgumentException(
          s"$name takes ${u.inputEncoders.size} argument(s), got ${children.length}")
        classic.UserDefinedFunctionUtils.toScalaUDF(u, children)
      }
    }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge into the `private[sql]` session function registry — the
  * post-session-construction counterpart of `SparkSessionExtensions
  * .injectFunction` for sessions that already exist (REPL, notebook, a
  * shared test session, the input of `graft.WindowEngine.run`). Kept to the
  * one registration call and its lookup; the build-time path stays
  * `graft.GraftExtensions` via `.withExtensions` / `spark.sql.extensions`. */
object GraftFunctionBridge {
  def register(
      spark: SparkSession,
      ident: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    registry(spark).registerFunction(ident, info, builder)

  def lookup(spark: SparkSession, ident: FunctionIdentifier): Option[ExpressionInfo] =
    registry(spark).lookupFunction(ident)

  private def registry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
}

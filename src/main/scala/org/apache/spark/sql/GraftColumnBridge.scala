package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, NumericType}

/** Bridge into the `private[sql]` Column ↔ Expression converters — the
  * supported pattern for libraries that define custom Catalyst expressions
  * without forking Spark. Kept to the two conversions and the one
  * `private[sql]` abstract input type a custom expression casts to. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `ImplicitCastInputTypes` input type of Spark's `percentile`: any
    * NumericType, strings implicitly cast. */
  val numericInput: Seq[AbstractDataType] = Seq(NumericType)
}

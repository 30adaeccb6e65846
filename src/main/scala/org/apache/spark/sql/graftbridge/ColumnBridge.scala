package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DoubleType, FloatType, TypeCollection}

/** Spark 4 made Column↔Expression conversion private[sql] (the Connect
  * refactor); custom Catalyst expressions still need it to expose a
  * Column API. This shim lives inside the sql package namespace solely
  * to re-export those two calls — the public-API equivalent of what
  * `new Column(expr)` was in Spark 3 — and the one private[sql]
  * `TypeCollection` the expressions' `inputTypes` need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** array<float> or array<double>: what the vector kernels accept. */
  val floatOrDoubleArray: AbstractDataType =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column <-> catalyst Expression converters
  * `private[sql]`; this bridge (compiled into the org.apache.spark.sql
  * namespace, the standard extension-library technique) re-exposes the
  * two conversions graft's native expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** What an ExpectsInputTypes expression declares per input: a type,
    * or a set of types it accepts (`AbstractDataType` is `private[sql]`).
    */
  type InputType = AbstractDataType

  /** An input type accepting any of `types`. */
  def anyOf(types: InputType*): InputType = TypeCollection(types: _*)

  /** Test seam: apply an extension's injected functions to a registry
    * (the same call the session builder makes; also `private[sql]`).
    */
  def registerFunctions(
      exts: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  ): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    exts.registerFunctions(reg)
}

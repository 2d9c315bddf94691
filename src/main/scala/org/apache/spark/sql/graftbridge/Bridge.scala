package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (the Column API became backend-agnostic in SPARK-44111's
  * sql-api split), so third-party Catalyst expressions need a shim inside
  * the org.apache.spark.sql package tree — the same pattern libraries like
  * frameless use. No Spark internals are modified; this only re-exports
  * two conversion functions and one input-type factory.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An `ExpectsInputTypes` entry that accepts any one of `types`.
    * `TypeCollection` and `AbstractDataType` are `private[sql]`, so the
    * `inputTypes` overrides in `graft.functions` leave their type inferred.
    */
  def anyOf(types: DataType*): AbstractDataType = TypeCollection(types: _*)
}

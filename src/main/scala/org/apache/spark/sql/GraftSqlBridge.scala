package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column ↔ Expression conversion — the
  * standard pattern for libraries that define custom Catalyst
  * expressions against Spark 4's ColumnNode API — and into other
  * package-private helpers the library needs.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `s` with every field, array element and map value nullable: the
    * schema Spark's file sources report for files written from `s`.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}

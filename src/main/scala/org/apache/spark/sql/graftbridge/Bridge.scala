package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 wraps Column over a ColumnNode (for Connect); the classic
  * converters live in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]` — this object, living under the `org.apache.spark.sql`
  * namespace, re-exports just the calls graft's custom Catalyst
  * expressions need. No Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `schema` with every field nullable, as `from_json` types its result. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}

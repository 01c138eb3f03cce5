package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge for native Catalyst expressions that carry
  * non-SQL-expressible state (a partition-offset array + release token, a
  * broadcast centroid matrix) and therefore can't be built through the
  * FunctionRegistry's `Seq[Expression] => Expression` path.
  *
  * Spark 4 made `ExpressionUtils` `private[sql]`, so library code needs
  * this one-file subpackage shim — the same pattern Spark-ecosystem
  * projects use for their own physical-plan glue. It also carries the
  * ingest's dimension lookups: a map literal whose type is known only at
  * run time (`typedLit` needs it at compile time) and `KnownNotNull`.
  * Everything else in this repo goes through the public Column/functions
  * API (plus `StructType.asNullable`, also hidden).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `s` with every field and nested element nullable — the schema a
    * parquet read reports for files written from `s` (`private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable
}

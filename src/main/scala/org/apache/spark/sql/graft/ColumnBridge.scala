package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
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
  * API (plus `StructType.asNullable` and `Dataset.ofRows`, also hidden).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `s` with every field and nested element nullable — the schema a
    * parquet read reports for files written from `s` (`private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable
  /** A frame over Catalyst rows already on the driver: a local relation
    * of `rows` under `schema`, built without converting each value from
    * its external form as `createDataFrame` does. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

package graft.ext

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{RowOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Ranking for the driver arms of [[Bm25Index.topK]] and
  * [[Ivf.searchIndex]], which must return the rows the distributed plans
  * return, in the same order. The arms score rows with the distributed
  * plans' own Column expressions in a `select` over a local relation,
  * which the optimizer evaluates on the driver (ConvertToLocalRelation)
  * without a job; this object sorts them with the sort orders Catalyst
  * resolves for the same `ORDER BY`, so arithmetic, NULL and NaN order
  * and key collation are Spark's.
  */
private[ext] object DriverRank {

  /** `rows` under `schema` as a local relation. */
  def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Catalyst rows `rows` under `schema` as a local relation. */
  def localCatalyst(spark: SparkSession, schema: StructType,
                    rows: Seq[InternalRow]): DataFrame =
    ColumnBridge.localFrame(spark, schema, rows)

  /** `rows` of `schema` in Catalyst's unsafe form, each converted once,
    * so relations built from them share their arrays. */
  def internal(schema: StructType, rows: Seq[Row]): Seq[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val unsafe = UnsafeProjection.create(schema)
    rows.map(r => unsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy())
  }

  /** The rows of `df` — a frame the optimizer folds into a local
    * relation — that `row_number() OVER (PARTITION BY part ORDER BY
    * order) <= n` keeps, in Catalyst form under `df.schema`: one run
    * per partition, runs in `part` order, each in `order`. */
  def topPerPartition(df: DataFrame, part: Seq[Column], order: Seq[Column],
                      n: Int): Seq[Seq[InternalRow]] = {
    val (sortOrder, lr) = df.orderBy(part ++ order: _*).queryExecution.optimizedPlan match {
      case Sort(o, true, lr: LocalRelation, _) => (o, lr)
      // Catalyst drops the sort of an empty or one-row relation
      case lr: LocalRelation if lr.data.length <= 1 => (Nil, lr)
      case p => throw new IllegalArgumentException(s"not a driver-resident frame:\n$p")
    }
    val rows = lr.data.toArray.sorted(RowOrdering.create(sortOrder, lr.output))
    val samePart = RowOrdering.create(sortOrder.take(part.length), lr.output)
    val runs = Seq.newBuilder[Seq[InternalRow]]
    var i = 0
    while (i < rows.length) {
      var j = i + 1
      while (j < rows.length && samePart.compare(rows(i), rows(j)) == 0) j += 1
      runs += rows.slice(i, math.min(j, i + math.max(n, 0))).toSeq
      i = j
    }
    runs.result()
  }
}

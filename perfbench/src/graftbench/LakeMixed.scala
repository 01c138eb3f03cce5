package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{BucketedUpsert, Routing}
import graft.sources.GraftSql

/** The annotation-lake half of `lake_index`: a bucketed table keyed by
  * `anno_id`, with a secondary index on `image_id` and bucket zone maps
  * on `score`. Reads (key IN, secondary equality, score range) alternate
  * between the library's routed read and SQL over the registered DSv2
  * view; an upsert is followed by its index refresh. Every read is
  * checked against an in-memory key -> row model. */
final class LakeMixed(ctx: Ctx) {
  import LakeMixed._
  import ctx.{spark, tr}

  private val rnd = new Random(ctx.seed)
  private val root = ctx.path("lake/annos")
  private val model = mutable.HashMap[Long, Rec]()
  private val recent = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L
  private var tag = 1L
  private var sqlTurn = false

  private def put(r: Rec): Unit = model(r.id) = r

  private def fresh(id: Long, ver: Long): Rec =
    Rec(id, rnd.nextInt(Images).toLong, Categories(rnd.nextInt(Categories.size)),
      rnd.nextDouble(), ver, rnd.alphanumeric.take(24 + rnd.nextInt(40)).mkString)

  private def frame(rs: Seq[Rec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs.map(_.row): _*), Schema)

  /** Upserted keys are read back more often: half the keys come from
    * the last `Recent` upserted, half uniformly from the table. */
  private def pickKey(): Long =
    if (recent.nonEmpty && rnd.nextBoolean()) recent(recent.size - 1 - rnd.nextInt(recent.size))
    else rnd.nextLong(nextKey)

  def generate(): Unit = {
    (0 until Rows).foreach { _ => put(fresh(nextKey, 1L)); nextKey += 1 }
  }

  def build(): Unit = {
    BucketedUpsert.applyBatch(frame(model.values.toSeq), root, "anno_id", "ver", Buckets, tag)
    Routing.indexSecondary(spark, root, "anno_id", "image_id")
    Routing.indexBucketStats(spark, root, "anno_id", Seq("score"))
    GraftSql.registerView(spark, root, View)
  }

  def upsert(): Unit = {
    tag += 1
    val updates = Seq.fill(BatchUpdates)(pickKey()).distinct
    val inserts = Seq.fill(BatchInserts) { nextKey += 1; nextKey - 1 }
    val batch = (updates ++ inserts).map(fresh(_, tag))
    val df = frame(batch)
    ctx.timed("write.upsert")(tr.op("upsert") {
      tr.call("lake.applyBatch")(
        BucketedUpsert.applyBatch(df, root, "anno_id", "ver", Buckets, tag))
      tr.note("lake.applyBatch.written_mb", Disk.mb(s"$root/data/v$tag"))
      tr.note("lake.applyBatch.files_rewritten", Disk.count(s"$root/data/v$tag", ".parquet"))
      tr.call("lake.indexSecondary")(Routing.indexSecondary(spark, root, "anno_id", "image_id"))
      tr.call("lake.indexBucketStats")(
        Routing.indexBucketStats(spark, root, "anno_id", Seq("score")))
    })
    batch.foreach(put)
    recent ++= batch.map(_.id)
    if (recent.size > Recent) recent.remove(0, recent.size - Recent)
  }

  /** Read kinds: key IN (three keys and one absent), secondary equality,
    * score range. */
  def read(kind: Int): Unit = {
    val (pred, sql, expect): (org.apache.spark.sql.Column, String, Rec => Boolean) =
      kind match {
        case 0 =>
          val ks = (Seq.fill(3)(pickKey()) :+ (nextKey + 1000)).distinct
          (col("anno_id").isin(ks: _*), s"anno_id IN (${ks.mkString(", ")})",
            r => ks.contains(r.id))
        case 1 =>
          val img = model(pickKey()).image
          (col("image_id") === img, s"image_id = $img", r => r.image == img)
        case _ =>
          val lo = rnd.nextDouble() * (1 - RangeWidth)
          val hi = lo + RangeWidth
          (col("score") >= lo && col("score") < hi, s"score >= ${lo}D AND score < ${hi}D",
            r => r.score >= lo && r.score < hi)
      }
    sqlTurn = !sqlTurn
    val name = if (sqlTurn) "sources.sql" else "lake.readWhere"
    val rows = ctx.timed("read.lookup")(tr.op("read") {
      tr.call(name) {
        if (sqlTurn) spark.sql(s"SELECT $Cols FROM $View WHERE $sql").collect()
        else Routing.readWhere(spark, root, pred).select(Cols.split(", ").map(col): _*).collect()
      }
    })
    if (!sqlTurn) {
      tr.note("lake.readWhere.rows", rows.length)
      tr.extra("probe.routeBucketed")(
        tr.note("lake.readWhere.files_opened", Routing.routeBucketed(spark, root, pred).files.size))
    }
    val want = model.values.filter(expect).map(_.row).toSet
    ctx.check(s"lake_mixed.read_equals_model")(rows.toSet == want && rows.length == want.size)
  }


  def finish(): Unit = {
    val all = BucketedUpsert.read(spark, root).select(Cols.split(", ").map(col): _*).collect()
    ctx.check("lake_mixed.final_table_equals_model")(
      all.length == model.size && all.toSet == model.values.map(_.row).toSet)
  }

  /** Bytes under the table root over the live rows written once as one
    * plain Parquet file. */
  def spaceAmp(): Double = {
    val plain = ctx.path("plain")
    frame(model.values.toSeq).coalesce(1).write.mode("overwrite").parquet(plain)
    Disk.mb(root) / Disk.mb(plain)
  }

  def traceCounts(table: Map[String, Double],
                           notes: Map[String, Double]): Map[String, Double] = Map(
    "lake.applyBatch.written_mb" ->
      Stats.perCall(notes, table, "lake.applyBatch.written_mb", "lake.applyBatch"),
    "lake.applyBatch.files_rewritten" ->
      Stats.perCall(notes, table, "lake.applyBatch.files_rewritten", "lake.applyBatch"),
    "lake.readWhere.files_opened" ->
      Stats.perCall(notes, table, "lake.readWhere.files_opened", "lake.readWhere"),
    "lake.readWhere.rows_read_per_row" ->
      notes.getOrElse("lake.readWhere.records_read", 0.0) /
        math.max(1.0, notes.getOrElse("lake.readWhere.rows", 0.0)))
}

object LakeMixed {
  val Rows = 15000
  val Buckets = 64
  val Images = Rows / 8
  val BatchUpdates = 12
  val BatchInserts = 4
  val Recent = 256
  val RangeWidth = 0.0005
  val View = "bench_annos"
  val Cols = "anno_id, image_id, category, score, ver, payload"
  val Categories = Seq("car", "person", "bicycle", "truck", "sign", "dog", "cat", "bus")

  val Schema: StructType = StructType(Seq(
    StructField("anno_id", LongType, nullable = false),
    StructField("image_id", LongType, nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("ver", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  final case class Rec(id: Long, image: Long, category: String, score: Double,
                       ver: Long, payload: String) {
    def row: Row = Row(id, image, category, score, ver, payload)
  }
}

package graft

import graft.ingest.CvatTables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion tabularization: rect→polygon conversion, degenerate guards,
  * geometry application, filename normalization, gt_attr JSON — the
  * distributed re-expression of the reference's per-row loop
  * (CvatApi.py:327-425).
  */
class CvatTablesSpec extends SparkSpec {
  import spark.implicits._

  private def shapesFixture = Seq(
    // polygon with iid + text attrs
    (1L, 0, 11, "polygon", Seq(0.0, 0.0, 10.0, 0.0, 10.0, 8.0, 0.0, 8.0),
      Seq((5, "42"), (6, "note")), -1L),
    // rectangle → becomes 10-coord polygon
    (2L, 1, 12, "rectangle", Seq(1.0, 2.0, 5.0, 6.0), Seq.empty[(Int, String)], -1L),
    // too few points → dropped
    (3L, 0, 11, "polygon", Seq(1.0, 2.0), Seq.empty[(Int, String)], -1L),
    // collinear (degenerate min-rect) → dropped
    (4L, 1, 11, "polygon", Seq(0.0, 0.0, 5.0, 0.0, 10.0, 0.0), Seq.empty[(Int, String)], -1L)
  ).toDF("anno_uid", "frame", "label_id", "shape_type", "points", "attributes", "track_id")
    .withColumn("attributes",
      expr("transform(attributes, a -> named_struct('spec_id', a._1, 'value', a._2))"))

  private def labels = Seq((11, "dog"), (12, "cat")).toDF("label_id", "category")
  private def images = Seq((0, "t3_scene_a.jpg.jpeg"), (1, "plain.png"))
    .toDF("frame", "image_name")
  private def attrTypes = Seq((5, "Item ID"), (6, "Text")).toDF("spec_id", "attr_name")

  test("anno table: guards, geometry, names, gt_attr") {
    val out = CvatTables.buildAnnoTable(spark, shapesFixture, labels, images, attrTypes,
      projectId = 7, taskId = 1, jobId = 100)
    val rows = out.orderBy("image_name").collect()
    assert(rows.length == 2) // two guards dropped two shapes

    val byCat = rows.map(r => r.getAs[String]("category") -> r).toMap
    val dog = byCat("dog")
    assert(dog.getAs[String]("image_name") == "t3_scene_a") // ext + embedded .jpg removed
    assert(dog.getAs[String]("gt_attr") == """[{"iid": "42"}, {"text": "note"}]""")
    assert(dog.getAs[scala.collection.Seq[Float]]("coco") == Seq(0f, 0f, 10f, 8f))
    assert(dog.getAs[scala.collection.Seq[Float]]("rcoco").length == 5)

    val cat = byCat("cat")
    assert(cat.getAs[String]("image_name") == "plain")
    assert(cat.getAs[scala.collection.Seq[Float]]("segmentation").length == 10) // closed rect polygon
    assert(cat.getAs[String]("gt_attr") == "[]")
    assert(cat.getAs[Long]("project_id") == 7L)
  }

  test("anno table: dropPrefix removes the task prefix") {
    val out = CvatTables.buildAnnoTable(spark, shapesFixture, labels, images, attrTypes,
      7, 1, 100, dropPrefix = true)
    val names = out.select("image_name").collect().map(_.getString(0)).toSet
    assert(names.contains("scene_a")) // "t3_" prefix dropped
    assert(names.contains("plain"))   // single-segment name untouched
  }

  private val square = Seq(0.0, 0.0, 10.0, 0.0, 10.0, 8.0, 0.0, 8.0)
  private val attrType = ArrayType(StructType(Seq(
    StructField("spec_id", IntegerType), StructField("value", StringType))))

  /** Shapes over one valid square: (anno_uid, frame, label_id, attributes);
    * track_id repeats anno_uid, which the output does not carry. */
  private def shapesOf(rows: (java.lang.Long, Int, Int, Seq[Row])*) = {
    val schema = StructType(Seq(StructField("anno_uid", LongType),
      StructField("frame", IntegerType), StructField("label_id", IntegerType),
      StructField("shape_type", StringType), StructField("points", ArrayType(DoubleType)),
      StructField("attributes", attrType), StructField("track_id", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (uid, f, l, as) =>
      Row(uid, f, l, "polygon", square, as, uid) }: _*), schema)
  }
  private def attr(specId: java.lang.Integer, value: String) = Row(specId, value)

  test("gt_attr bytes: escaping, NULLs, unknown and repeated spec ids, empty arrays") {
    val types = Seq[(java.lang.Integer, String)]((5, "Item ID"), (6, "Text"), (7, "UUID"),
      (8, "Color"), (null, "Text")).toDF("spec_id", "attr_name")
    val shapes = shapesOf(
      (1L, 0, 11, Seq(attr(6, "q\"b\\n\nt\t."))),
      (2L, 0, 11, Seq(attr(5, null), attr(7, "u-1"))),
      (3L, 0, 11, Seq(attr(null, "x"), attr(6, "t"))),
      (4L, 0, 11, Seq(attr(99, "x"), attr(8, "red"), attr(5, "42"))),
      (5L, 0, 11, Seq(attr(6, "b"), attr(5, "9"), attr(6, null), attr(6, "a"))),
      (6L, 0, 11, null),
      (7L, 0, 11, Seq.empty),
      (null, 0, 11, Seq(attr(6, "dropped"))))
    val gtAttrs = CvatTables.buildAnnoTable(spark, shapes, labels, images, types, 7, 1, 100)
      .select("track_id", "gt_attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gtAttrs == Map(
      1L -> """[{"text": "q\"b\\n\nt\t."}]""",
      2L -> """[{"uuid": "u-1"}]""",
      3L -> """[{"text": "t"}]""",
      4L -> """[{"iid": "42"}]""",
      5L -> """[{"iid": "9"}, {"text": "a"}, {"text": "b"}]""",
      6L -> "[]",
      7L -> "[]"))
  }

  /** Every node of `p`'s physical plan, looking inside AQE. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case n => Seq(n)
  }

  test("anno table is one narrow projection: one job, no exchange, no join") {
    val out = CvatTables.buildAnnoTable(spark, shapesFixture, labels, images, attrTypes,
      7, 1, 100)
    val (_, jobs) = jobsDuring(out.write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"a noop write of buildAnnoTable submitted $jobs jobs")
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]), out.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), out.queryExecution.executedPlan)
  }

  test("dimension lookups keep the inner joins' rows and nullability") {
    val labels2 = Seq[(Int, String)]((11, "dog"), (13, null)).toDF("label_id", "category")
    val images2 = Seq[(Int, String)]((0, "a.jpg"), (2, null)).toDF("frame", "image_name")
    val shapes = shapesOf(
      (1L, 0, 11, Seq.empty), // both keys present
      (2L, 0, 12, Seq.empty), // label_id missing from labels → dropped
      (3L, 9, 11, Seq.empty), // frame missing from images → dropped
      (4L, 0, 13, Seq.empty), // NULL category → kept
      (5L, 2, 11, Seq.empty)) // NULL image_name → kept
    val rows = CvatTables.buildAnnoTable(spark, shapes, labels2, images2, attrTypes, 7, 1, 100)
      .select("track_id", "category", "image_name").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(rows == Map(
      1L -> (Some("dog"), Some("a")),
      4L -> (None, Some("a")),
      5L -> (Some("dog"), None)))

    def required(df: DataFrame) = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*),
      StructType(df.schema.map(_.copy(nullable = false))))
    val strict = CvatTables.buildAnnoTable(spark, shapesFixture, required(labels),
      required(images), attrTypes, 7, 1, 100)
    assert(!strict.schema("category").nullable && !strict.schema("image_name").nullable)
    assert(strict.select("category").collect().map(_.getString(0)).toSet == Set("dog", "cat"))
    val loose = CvatTables.buildAnnoTable(spark, shapesFixture, labels, images, attrTypes,
      7, 1, 100)
    assert(loose.schema("category").nullable && loose.schema("image_name").nullable)
  }

  test("a key repeated in any dimension fails, naming its column") {
    def fails(ls: DataFrame, is: DataFrame, ts: DataFrame, column: String): Unit = {
      val e = intercept[IllegalArgumentException](CvatTables.buildAnnoTable(
        spark, shapesFixture, ls, is, ts, 7, 1, 100).collect())
      assert(e.getMessage.contains(column), e.getMessage)
    }
    fails(Seq((11, "dog"), (12, "cat"), (11, "wolf")).toDF("label_id", "category"),
      images, attrTypes, "label_id")
    fails(labels, Seq((0, "a.jpg"), (1, "b.png"), (0, "c.jpg")).toDF("frame", "image_name"),
      attrTypes, "frame")
    fails(labels, images,
      Seq((5, "Item ID"), (6, "Text"), (6, "UUID")).toDF("spec_id", "attr_name"), "spec_id")
  }

  test("image table: tags joined per frame, missing tags → empty array") {
    val images2 = Seq((0, "a.png", Array[Byte](1, 2)), (1, "b.png", Array[Byte](3)))
      .toDF("frame", "image_name", "image_bytes")
    val tags = Seq((0, "badimage"), (0, "night")).toDF("frame", "tag")
    val out = CvatTables.buildImageTable(spark, images2, tags, 7, 1, 100,
      normalizeExif = false)
    val rows = out.orderBy("image_name").collect()
    assert(rows(0).getAs[String]("image_name") == "a")
    assert(rows(0).getAs[scala.collection.Seq[String]]("tags").toSet == Set("badimage", "night"))
    assert(rows(1).getAs[scala.collection.Seq[String]]("tags").isEmpty)
    assert(rows(0).getAs[Array[Byte]]("image_bytes").toSeq == Seq[Byte](1, 2))
  }
}

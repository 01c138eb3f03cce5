package graft.ingest

import graft.functions.GeomFunctions
import org.apache.spark.sql.catalyst.expressions.{KnownNotNull, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Tabularization of CVAT ingestion — the Spark-native re-expression of
  * create_anno_feather (CvatApi.py:327-425) and create_image_feather
  * (:250-315): what the reference does in a Python row loop becomes a
  * distributed column program (rect→polygon, degenerate guard, geometry
  * kernels, name normalization, gt_attr JSON assembly).
  *
  * Deviation (documented): the reference's "Item ID" attribute branch
  * emits a stray quote (CvatApi.py:397 `'{"iid":"' + ' "' + value…`
  * produces `{"iid":" "42"}`, malformed JSON); we emit the valid form
  * `{"iid": "42"}` matching the uuid/text branches — fix-by-spec, as
  * with the broken exporter CLI (SURVEY §2.1 S12).
  */
object CvatTables {

  /** Input columns: anno_uid (unique per shape), frame, label_id,
    * shape_type, points, attributes
    * (array<struct<spec_id:int,value:string>>), track_id.
    * `labels`: (label_id, category); `images`: (frame, image_name);
    * `attrTypes`: (spec_id, attr_name) — all dimension-sized: each is
    * collected once on the driver into a map literal (no job when it is
    * a LocalRelation) and looked up per shape, as the reference's dicts
    * are. A shape whose label_id or frame is missing from its dimension
    * is dropped; a key repeated within a dimension fails. The result is
    * one narrow projection over `shapes`: no join, aggregate or exchange.
    */
  def buildAnnoTable(spark: SparkSession, shapes: DataFrame, labels: DataFrame,
                     images: DataFrame, attrTypes: DataFrame,
                     projectId: Long, taskId: Long, jobId: Long,
                     dropPrefix: Boolean = false): DataFrame = {
    val categoryOf = new Dim(labels, "label_id", "category")
    val imageOf = new Dim(images, "frame", "image_name")
    // spec_id → the attribute's object prefix (ref :388-406); other
    // attr_names map to NULL, so their objects are NULL and are skipped
    val objPrefixOf = new Dim(attrTypes.select(col("spec_id"),
      when(col("attr_name") === "Item ID", lit("""{"iid": """"))
        .when(col("attr_name") === "UUID", lit("""{"uuid": """"))
        .when(col("attr_name") === "Text", lit("""{"text": """"))
        .as("prefix")), "spec_id", "prefix")

    val poly = shapes
      .filter(col("anno_uid").isNotNull)
      .filter(categoryOf.contains(col("label_id")) && imageOf.contains(col("frame")))
      .withColumn("polygon",
        when(col("shape_type") === "rectangle", GeomFunctions.rectToPolygon(col("points")))
          .otherwise(col("points")))
      .filter(size(col("polygon")) >= 5) // too-few-points guard (ref :360-362)
      // one calipers run for both box forms; the struct keeps the
      // kernel in its own projection (CollapseProject cost guard)
      .withColumn("rc", GeomFunctions.rbbCoco(col("polygon")))
      .filter(col("rc").isNotNull) // degenerate-polygon guard (ref :363-369)
      .withColumn("rcoco", col("rc.rcoco"))
      .withColumn("coco", col("rc.coco"))
      .drop("rc")

    val named = poly
      .withColumn("category", categoryOf(col("label_id")))
      .withColumn("stem", regexp_replace(imageOf(col("frame")), "\\.[^.]*$", ""))
      .withColumn("stem",
        // length = size(...), NOT Int.MaxValue: Slice's interpreted
        // eval computes start + length, which overflows Int.MaxValue to
        // a negative and returns an EMPTY array — the codegen path
        // clamps, so the same row emptied or survived depending on
        // which evaluator ran (confirmed on the shipped Spark 4.1.2)
        if (dropPrefix)
          when(size(split(col("stem"), "_")) >= 2,
            array_join(slice(split(col("stem"), "_"), lit(2),
              size(split(col("stem"), "_"))), "_"))
            .otherwise(col("stem"))
        else col("stem"))
      // JPEG_PAT removal (ref :24, :374-383): embedded .jpg/.jpeg dropped
      .withColumn("image_name_norm",
        regexp_replace(col("stem"), "\\.[Jj][Pp][Ee]?[Gg](\\.[Jj][Pp][Ee]?[Gg])?", ""))

    // gt_attr: JSON array of typed attribute objects (ref :388-406),
    // built per row: each attribute becomes (spec_id, object), sorted
    // by that pair, and the objects are joined with ", " (NULL objects
    // skipped); a NULL or empty `attributes` gives "[]". Values are
    // JSON-escaped (backslash, quote, newline, tab) — this class exists
    // to emit VALID JSON where the reference's iid branch was malformed,
    // and a user-typed quote in a Text attribute would otherwise break
    // the document the same way.
    def escVal(v: Column) = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      v, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"), "\t", "\\\\t")
    val attrObjs = transform(col("attributes"), a => struct(a("spec_id").as("k"),
      concat(objPrefixOf(a("spec_id")), escVal(a("value")), lit(""""}"""))
        .as("v")))
    val gtAttr = concat(lit("["),
      coalesce(array_join(sort_array(attrObjs).getField("v"), ", "), lit("")), lit("]"))

    named.select(
      lit(projectId).as("project_id"), lit(taskId).as("task_id"),
      lit(jobId).as("job_id"), col("track_id"),
      col("image_name_norm").as("image_name"), col("category"),
      col("polygon").cast("array<float>").as("segmentation"),
      col("rcoco").cast("array<float>").as("rcoco"),
      col("coco").cast("array<float>").as("coco"),
      gtAttr.as("gt_attr"),
      current_timestamp().as("ts"))
  }

  /** One dimension as a driver-side lookup: `dim`'s `key` → `value`
    * pairs, collected once into a map literal. NULL keys are left out,
    * as an equi-join never matches them; a repeated key fails, naming
    * the column, rather than duplicating the rows that match it. */
  private final class Dim(dim: DataFrame, key: String, value: String) {
    private val kv = dim.select(key, value)
    private val valueField = kv.schema(1)
    private val map = {
      val pairs = kv.collect().toSeq.filterNot(_.isNullAt(0)).map(r => r.get(0) -> r.get(1))
      val keys = pairs.map(_._1)
      keys.diff(keys.distinct).headOption.foreach { k =>
        throw new IllegalArgumentException(
          s"buildAnnoTable: $key $k appears more than once in its dimension")
      }
      ColumnBridge.column(Literal.create(pairs.toMap,
        MapType(kv.schema(0).dataType, valueField.dataType, valueField.nullable)))
    }

    def contains(k: Column): Column = map_contains_key(map, k)

    /** The value at `k`, as nullable as the dimension's column: callers
      * look up only keys that [[contains]] admitted. */
    def apply(k: Column): Column =
      if (valueField.nullable) element_at(map, k)
      else ColumnBridge.column(KnownNotNull(ColumnBridge.expression(element_at(map, k))))
  }

  /** create_image_feather core (ref :250-315): image bytes column +
    * per-image tag lists; EXIF normalization optionally applied
    * distributedly (F-B1).
    */
  def buildImageTable(spark: SparkSession, images: DataFrame, tags: DataFrame,
                      projectId: Long, taskId: Long, jobId: Long,
                      normalizeExif: Boolean = true): DataFrame = {
    val exif = udf((b: Array[Byte]) =>
      graft.functions.ImageOps.normalizeOrientation(b).getOrElse(b))
    val withTags = images
      .join(tags.groupBy("frame").agg(collect_list(col("tag")).as("tags")),
        Seq("frame"), "left")
      .withColumn("tags", coalesce(col("tags"), array().cast("array<string>")))
    withTags.select(
      lit(projectId).as("project_id"), lit(taskId).as("task_id"),
      lit(jobId).as("job_id"),
      // last-extension strip ONLY — deliberately NOT the anno table's
      // extra JPEG_PAT/prefix normalization: the reference's image path
      // (CvatApi.py:296) applies only splitext while its anno path
      // (:372-383) normalizes further, and the port keeps that
      // asymmetry faithfully (double-extension names diverge between
      // the two tables THERE too)
      regexp_replace(col("image_name"), "\\.[^.]*$", "").as("image_name"),
      (if (normalizeExif) exif(col("image_bytes")) else col("image_bytes")).as("image_bytes"),
      col("tags"), current_timestamp().as("ts"))
  }
}

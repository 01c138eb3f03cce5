package graft.export

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** YOLO exporter — Spark-native re-expression of
  * create_yolo_from_feather.py:25-70 (S11, J6, F-S4, F-G8).
  *
  * The reference builds a per-image dict of annotation lines and writes
  * one txt per image; here the grouping is a distributed
  * join → groupBy → collect_list, and the file fan-out happens in
  * foreachPartition on the executors — no driver materialization, so the
  * shape survives 100 TB (one task writes only its partition's images).
  *
  * Note: the reference CLI calls write_yolo_dataset without its required
  * cat_map argument (create_yolo_from_feather.py:86, a bug); the spec we
  * implement is the function signature (:25), per SURVEY §2.1 S12.
  */
object Yolo {

  /** Per-image annotation text (ref :41-68): only images with
    * annotations (P8), each annotation formatted as
    * "{category_id} {box...}" (F-S4), grouped per image (J6). Line order
    * within an image follows `annoKeyCol` (the reference uses frame
    * iteration order — nondeterministic; documented deviation).
    */
  def yoloLines(annos: DataFrame, images: DataFrame, catMap: DataFrame,
                annoKeyCol: String, segmentation: Boolean = false): DataFrame = {
    // the inner join already keeps only annotated images (P8), so no
    // separate semi-join against the annotated names is needed
    val boxed = annos
      .join(images.select("image_name", "width", "height"), Seq("image_name"))
      .join(broadcast(catMap), Seq("category"))
      .withColumn("box",
        if (segmentation)
          graft.functions.GeomFunctions.yoloSegmentation(
            col("width").cast("double"), col("height").cast("double"), col("segmentation"))
        else
          graft.functions.GeomFunctions.yoloBbox(
            col("width").cast("double"), col("height").cast("double"), col("segmentation")))
      .withColumn("line",
        concat_ws(" ", col("category_id"), concat_ws(" ", col("box"))))
    boxed
      .groupBy("image_name")
      .agg(concat_ws("\n",
        array_sort(collect_list(struct(col(annoKeyCol).as("k"), col("line"))))
          .getField("line")).as("body"),
        count(lit(1)).as("n_annos"))
  }

  /** File-per-image sink (ref :57-68): executors write
    * `{image_name}.txt` under outputDir.
    */
  def writeYoloDataset(annos: DataFrame, images: DataFrame, catMap: DataFrame,
                       annoKeyCol: String, outputDir: String,
                       segmentation: Boolean = false): Unit = {
    val sink = FileSink.forPath(annos.sparkSession, outputDir)
    sink.prepare()
    yoloLines(annos, images, catMap, annoKeyCol, segmentation)
      .select("image_name", "body")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach(r => sink.writeString(r.getString(0) + ".txt", r.getString(1) + "\n"))
      }
  }
}

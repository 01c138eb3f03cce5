package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.datasets.Samplers
import graft.export.{Coco, Yolo}
import graft.ingest.CvatTables
import graft.lake.Lake
import graft.operators.TrackOps
import graft.schemas.Schemas

/** The paper's own pipeline, one CVAT-shaped project per operation:
  * ingest (track interpolation, tabularization, partitioned append into
  * a fresh lake root) then export (declared read, train/val/test split
  * with `badimage` skipped, one COCO file per split and a YOLO tree). */
final class DatasetBuild(ctx: Ctx) extends Workload {
  import DatasetBuild._
  import ctx.{spark, tr}

  private var iter = 0

  private def write(path: String, lines: Iterator[String]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** One job of a project: the CVAT export files plus what the
    * generator knows the pipeline must keep of them. */
  private final case class Job(shapesPath: String, keyframesPath: String,
                               trackLabels: Seq[(Long, Int)],
                               images: Seq[(Int, String, Boolean)],
                               annosPerFrame: Array[Int])

  /** Generate project `p`: static polygons and rectangles, a few
    * degenerate polygons, tracked keyframes (rigid squares, so every
    * interpolated shape stays a valid polygon), attributes, tags. */
  private def genProject(p: Int, scale: Int = 1): Seq[Job] = {
    val Frames = DatasetBuild.Frames / scale
    val Tracks = DatasetBuild.Tracks / scale
    val rnd = new Random(ctx.seed * 1000003L + p)
    (0 until Jobs).map { j =>
      val dir = ctx.path(s"in/p$p/j$j")
      val perFrame = Array.fill(Frames)(0)
      val bad = rnd.shuffle((0 until Frames).toList).take(Frames / BadEvery).toSet
      val images = (0 until Frames).map(f => (f, s"p${p}_j${j}_f$f.jpg", bad(f)))
      var uid = 0L
      def attrs(): String = {
        val a = mutable.ArrayBuffer[String]()
        if (rnd.nextInt(2) == 0) a += s"""{"spec_id": 5, "value": "${rnd.nextInt(100000)}"}"""
        if (rnd.nextInt(5) == 0)
          a += s"""{"spec_id": 6, "value": ${Json.str(Words(rnd.nextInt(Words.size)) +
            (if (rnd.nextInt(4) == 0) " \"x\"" else ""))}}"""
        a.mkString("[", ", ", "]")
      }
      def shape(f: Int, kind: String, pts: Seq[Int]): String = {
        uid += 1
        s"""{"anno_uid": $uid, "frame": $f, "label_id": ${1 + rnd.nextInt(Labels.size)}, """ +
          s""""shape_type": "$kind", "points": ${pts.mkString("[", ", ", "]")}, """ +
          s""""attributes": ${attrs()}, "track_id": -1}"""
      }
      val shapes = (0 until Frames).iterator.flatMap { f =>
        val polys = (0 until Polygons).map { _ =>
          val (x, y) = (rnd.nextInt(1700) + 20, rnd.nextInt(900) + 20)
          val (w, h) = (rnd.nextInt(150) + 8, rnd.nextInt(120) + 8)
          shape(f, "polygon", Seq(x, y, x + w, y + rnd.nextInt(5), x + w, y + h, x + rnd.nextInt(5), y + h))
        }
        val rects = (0 until Rects).map { _ =>
          val (x, y) = (rnd.nextInt(1700) + 20, rnd.nextInt(900) + 20)
          shape(f, "rectangle", Seq(x, y, x + rnd.nextInt(150) + 4, y + rnd.nextInt(120) + 4))
        }
        perFrame(f) += Polygons + Rects
        val degenerate =
          if (f % DegenEvery != 0) Nil
          else if (f % (2 * DegenEvery) == 0) Seq(shape(f, "polygon", Seq(10, 10, 60, 10, 110, 10)))
          else Seq(shape(f, "polygon", Seq(10, 10)))
        polys ++ rects ++ degenerate
      }.toList
      write(s"$dir/shapes.jsonl", shapes.iterator)
      val span = Gaps.sum + EndOffset
      val tracks = (0 until Tracks).map { t =>
        val tid = (p.toLong * Jobs + j) * 10000L + t
        val f0 = rnd.nextInt(Frames - span)
        val side = rnd.nextInt(100) + 10
        val frames = rnd.shuffle(Gaps).scanLeft(f0)(_ + _)
        var (x, y) = (rnd.nextInt(1500) + 100, rnd.nextInt(700) + 100)
        val kfs = frames.zipWithIndex.map { case (f, i) =>
          x += rnd.nextInt(41) - 20; y += rnd.nextInt(41) - 20
          val a = if (i == 0) s"""[{"_1": 5, "_2": "${rnd.nextInt(100000)}"}]""" else "[]"
          s"""{"track_id": $tid, "frame": $f, "points": """ +
            s"""[$x, $y, ${x + side}, $y, ${x + side}, ${y + side}, $x, ${y + side}], """ +
            s""""outside": false, "attributes": $a}"""
        }
        (f0 until f0 + span).foreach(f => perFrame(f) += 1)
        (tid, 1 + rnd.nextInt(Labels.size), kfs)
      }
      write(s"$dir/keyframes.jsonl", tracks.iterator.flatMap(_._3))
      Job(s"$dir/shapes.jsonl", s"$dir/keyframes.jsonl",
        tracks.map(t => (t._1, t._2)), images, perFrame)
    }
  }

  private val labelsDf = {
    import spark.implicits._
    Labels.zipWithIndex.map { case (l, i) => (i + 1, l) }.toDF("label_id", "category")
  }
  private val attrTypesDf = {
    import spark.implicits._
    Seq((5, "Item ID"), (6, "Text")).toDF("spec_id", "attr_name")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Ingest: interpolate each job's tracks, tabularize its shapes, and
    * append the project to the lake partitioned by (project_id, job_id). */
  private def ingest(p: Int, jobs: Seq[Job], root: String): Unit = {
    import spark.implicits._
    val tables = jobs.zipWithIndex.map { case (job, j) =>
      val keyframes = spark.read.schema(KeyframeSchema).json(job.keyframesPath)
        .as(Encoders.product[TrackOps.TrackRow])
      val interp = tr.call("operators.interpolateTracks")(
        TrackOps.interpolateTracks(spark, keyframes, EndOffset))
      tr.extra("operators.interpolateTracks.eval")(noop(interp.toDF()))
      val tracked = interp.toDF()
        .join(broadcast(job.trackLabels.toDF("track_id", "label_id")), "track_id")
        .select((lit(TrackUidBase) + col("track_id") * 1000 + col("frame")).as("anno_uid"),
          col("frame"), col("label_id"), lit("polygon").as("shape_type"), col("points"),
          expr("transform(attributes, a -> named_struct('spec_id', a._1, 'value', a._2))")
            .as("attributes"),
          col("track_id"))
      val shapes = spark.read.schema(ShapeSchema).json(job.shapesPath).unionByName(tracked)
      val frames = job.images.map(i => (i._1, i._2)).toDF("frame", "image_name")
      val t = tr.call("ingest.buildAnnoTable")(CvatTables.buildAnnoTable(spark, shapes,
        labelsDf, frames, attrTypesDf, projectId = p, taskId = 1, jobId = j))
      tr.extra("ingest.buildAnnoTable.eval")(noop(t))
      t
    }
    tr.call("lake.appendPartitioned")(new Lake(spark).appendPartitioned(
      tables.reduce(_ unionByName _), root, Seq("project_id", "job_id")))
    tr.note("lake.appendPartitioned.written_mb", Disk.mb(root))
  }

  /** Export: read the project back, split it, write COCO per split and
    * one YOLO tree over every kept annotation. */
  private def export(p: Int, jobs: Seq[Job], root: String, out: String): Unit = {
    import spark.implicits._
    new File(out).mkdirs()
    val all = jobs.flatMap(_.images).map { case (_, n, bad) => (stem(n), bad) }
    val tagged = all.map { case (n, bad) => (n, if (bad) Seq("badimage") else Seq("night")) }
      .toDF("image_name", "tags")
    val dims = all.map(i => (i._1, Width, Height)).toDF("image_name", "width", "height")
    val annos = tr.call("lake.readDeclared")(new Lake(spark).readDeclared(root, Schemas.anno))
      .filter(col("project_id") === p)
      .withColumn("anno_key", xxhash64(col("image_name"), col("track_id"), col("segmentation")))
    val split = tr.call("datasets.imageSampler")(
      Samplers.imageSampler(annos, tagged, Seq("badimage"), 409, 410))
    tr.extra("datasets.imageSampler.eval")(
      Seq(split.train, split.valSet, split.test).foreach(noop))
    Seq("train" -> split.train, "val" -> split.valSet, "test" -> split.test).foreach {
      case (name, df) =>
        val images = dims.join(df.select("image_name").distinct(), Seq("image_name"), "left_semi")
        val file = s"$out/coco_$name.json"
        tr.call("export.writeCocoDataset")(Coco.writeCocoDataset(df, images, "anno_key",
          file, train = name == "train", odtk = false))
        tr.note("export.writeCocoDataset.written_mb", new File(file).length / 1e6)
    }
    val kept = split.train.unionByName(split.valSet).unionByName(split.test)
    tr.call("export.writeYoloDataset")(Yolo.writeYoloDataset(kept, dims,
      Coco.categoryDim(kept), "anno_key", s"$out/yolo"))
    tr.note("export.writeYoloDataset.written_mb", Disk.mb(s"$out/yolo"))
  }

  /** COCO parses; the splits hold every expected annotation on disjoint
    * images; YOLO has one file per kept image and one line per annotation. */
  private def verify(jobs: Seq[Job], out: String): Unit = {
    val keptImages = jobs.flatMap(j => j.images.filterNot(_._3).map(i => stem(i._2))).toSet
    val expected = jobs.map(j => j.images.filterNot(_._3).map(i => j.annosPerFrame(i._1)).sum).sum
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val docs = Seq("train", "val", "test").map(s => mapper.readTree(new File(s"$out/coco_$s.json")))
    val names = docs.map(d => d.get("images").elements().asScala.map(_.get("file_name").asText()).toSet)
    ctx.check("dataset_build.coco_annotation_total")(
      docs.map(_.get("annotations").size).sum == expected)
    ctx.check("dataset_build.coco_images_disjoint")(
      names.map(_.size).sum == names.reduce(_ ++ _).size &&
        names.reduce(_ ++ _) == keptImages.map(_ + ".jpeg"))
    ctx.check("dataset_build.coco_image_refs")(docs.forall { d =>
      val ids = d.get("images").elements().asScala.map(_.get("id").asInt).toSet
      d.get("annotations").elements().asScala.forall(a => ids(a.get("image_id").asInt))
    })
    val txt = Option(new File(s"$out/yolo").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".txt"))
    ctx.check("dataset_build.yolo_files")(txt.map(_.getName.stripSuffix(".txt")).toSet == keptImages)
    ctx.check("dataset_build.yolo_lines")(txt.map(f =>
      Files.readAllLines(f.toPath).asScala.count(_.nonEmpty)).sum == expected)
  }

  private var pending: Option[Seq[Job]] = None

  /** The first project's input files; later ones are generated by the
    * operation that ingests them, before its timer starts. */
  def generate(): Unit = pending = Some(genProject(1))
  def build(): Unit = ()

  /** A quarter-size project runs the same code paths at less cost. */
  override def warmup: Seq[() => Unit] = Seq(() => project(genProject(0, scale = 4), 0))

  def op(): Unit = {
    iter += 1
    project(pending.filter(_ => iter == 1).getOrElse(genProject(iter)), iter)
  }

  private def project(jobs: Seq[Job], p: Int): Unit = {
    val root = ctx.path(s"lake/p$p")
    val out = ctx.path(s"out/p$p")
    tr.op("dataset_build") {
      ctx.timed("write.ingest")(ingest(p, jobs, root))
      ctx.timed("read.export")(export(p, jobs, root, out))
    }
    // the exporters leave frames pinned for the caller to release
    graft.operators.SeqIds.releaseAll()
    verify(jobs, out)
    Seq(root, out, ctx.path(s"in/p$p")).foreach(Disk.delete)
  }

  def finish(): Unit = ()

  override def traceCounts(table: Map[String, Double],
                           notes: Map[String, Double]): Map[String, Double] =
    Seq("lake.appendPartitioned", "export.writeCocoDataset", "export.writeYoloDataset")
      .map(f => s"$f.written_mb" -> Stats.perCall(notes, table, s"$f.written_mb", f)).toMap
}

object DatasetBuild {
  val Jobs = 2
  val Frames = 600
  val Polygons = 4
  val Rects = 2
  val DegenEvery = 25
  val Tracks = 60
  val Gaps = List(6, 8, 10)
  val EndOffset = 3
  val BadEvery = 20
  val Width = 1920
  val Height = 1080
  val TrackUidBase = 1000000000L
  val Labels = Seq("car", "person", "bicycle", "truck", "sign", "dog")
  val Words = Seq("left", "right", "occluded", "blurred", "parked", "moving", "small", "far")

  val ShapeSchema: StructType = StructType(Seq(
    StructField("anno_uid", LongType), StructField("frame", IntegerType),
    StructField("label_id", IntegerType), StructField("shape_type", StringType),
    StructField("points", ArrayType(DoubleType)),
    StructField("attributes", ArrayType(StructType(Seq(
      StructField("spec_id", IntegerType), StructField("value", StringType))))),
    StructField("track_id", LongType)))

  val KeyframeSchema: StructType = StructType(Seq(
    StructField("track_id", LongType, nullable = false),
    StructField("frame", IntegerType, nullable = false),
    StructField("points", ArrayType(DoubleType, containsNull = false)),
    StructField("outside", BooleanType, nullable = false),
    StructField("attributes", ArrayType(StructType(Seq(
      StructField("_1", IntegerType, nullable = false), StructField("_2", StringType)))))))

  /** The anno table's image name: extension dropped. */
  def stem(n: String): String = n.stripSuffix(".jpg")
}

package graft

import graft.export.{Coco, Yolo}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end exporter smoke tests: small fixture frames → real files,
  * parsed back and checked for the reference's structural contract
  * (COCO: 5 top-level keys, categories from 1, images from 0; YOLO: one
  * txt per image, one line per annotation).
  */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def annoFixture = Seq(
    ("img_b", "dog", 1L, Seq(0.0, 0.0, 10.0, 0.0, 10.0, 6.0, 0.0, 6.0), Seq(0.0, 0.0, 10.0, 6.0, 0.0)),
    ("img_a", "cat", 2L, Seq(5.0, 5.0, 25.0, 5.0, 25.0, 15.0, 5.0, 15.0), Seq(5.0, 5.0, 20.0, 10.0, 0.0)),
    ("img_a", "dog", 3L, Seq(1.0, 1.0, 9.0, 1.0, 9.0, 9.0, 1.0, 9.0), Seq(1.0, 1.0, 8.0, 8.0, 0.0))
  ).toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
    // odtk eval exports carry the rotated-box polygon (ref :26)
    .withColumn("rbox", col("segmentation"))

  private def imageFixture = Seq(
    ("img_a", 640L, 480L), ("img_b", 320L, 240L)
  ).toDF("image_name", "width", "height")

  test("COCO document: structure, dense ids, odtk bbox") {
    val out = Files.createTempDirectory("coco").resolve("out.json").toString
    Coco.writeCocoDataset(annoFixture, imageFixture, "anno_key", out)
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(out)))
    assert(Seq("info", "licenses", "images", "annotations", "categories")
      .forall(root.has), root.fieldNames().toString)
    val cats = root.get("categories")
    assert(cats.size() == 2)
    assert(cats.get(0).get("name").asText() == "cat" && cats.get(0).get("id").asInt() == 1)
    assert(cats.get(1).get("name").asText() == "dog" && cats.get(1).get("id").asInt() == 2)
    val imgs = root.get("images")
    assert(imgs.get(0).get("file_name").asText() == "img_a.jpeg" && imgs.get(0).get("id").asInt() == 0)
    assert(imgs.get(1).get("id").asInt() == 1)
    val annos = root.get("annotations")
    assert(annos.size() == 3)
    // anno 0 = anno_key 1 (img_b, dog): bbox = rcoco, area = 10*6
    val a0 = annos.get(0)
    assert(a0.get("image_id").asInt() == 1 && a0.get("category_id").asInt() == 2)
    assert(a0.get("bbox").get(2).asDouble() == 10.0 && a0.get("area").asDouble() == 60.0)
    // eval export (train=false) carries segmentation
    assert(a0.has("segmentation") && a0.get("segmentation").get(0).size() == 8)
  }

  test("a NULL category neither takes an id nor crashes the categories section") {
    import org.apache.spark.sql.functions.lit
    val withNull = annoFixture.unionByName(
      annoFixture.limit(1).withColumn("category", lit(null).cast("string"))
        .withColumn("anno_key", lit(99L)))
    val doc = Coco.cocoDocument(withNull, imageFixture, "anno_key")
    graft.operators.SeqIds.releaseAll()
    // the null-category anno is dropped (as annotationRecords already
    // did); the categories section must hold exactly cat=1, dog=2 —
    // a null in the dim would shift them and NPE the streamed write
    assert(doc.contains(""""id": 1, "name": "cat""""), doc.takeRight(400))
    assert(doc.contains(""""id": 2, "name": "dog""""), doc.takeRight(400))
    assert(!doc.contains("null, \"id\""), "null category leaked into the dim")
    val clean = Coco.cocoDocument(annoFixture, imageFixture, "anno_key")
    graft.operators.SeqIds.releaseAll()
    assert(doc == clean, "document must equal the null-free fixture's")
  }

  test("cocoDocument is byte-identical across both image-dim tiers") {
    // The scale tier must be invisible in the output: the same fixture
    // exported with the driver localDims path and with the distributed
    // image-id path (threshold forced to 0) must produce the same COCO
    // document byte for byte.
    val small = Coco.cocoDocument(annoFixture, imageFixture, "anno_key")
    graft.operators.SeqIds.releaseAll()
    spark.conf.set(Coco.ImageBroadcastMaxRowsKey, "0")
    try {
      val big = Coco.cocoDocument(annoFixture, imageFixture, "anno_key")
      assert(!Coco.lastImageDimWasLocal, "threshold 0 must force the distributed tier")
      assert(big == small, "document diverges across image-dim tiers")
    } finally {
      spark.conf.unset(Coco.ImageBroadcastMaxRowsKey)
      graft.operators.SeqIds.releaseAll()
    }
  }

  test("annos on unknown or NULL images take no id in either tier (gapless)") {
    // in anno_key order, known-image annos interleave with annos on an
    // image absent from `images` and annos with a NULL image_name: the
    // broadcast tier skips those on the driver, the distributed tier's
    // inner join drops them, and neither may leave a gap in the ids
    val seg = Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0)
    val box = Seq(0.0, 0.0, 2.0, 2.0, 0.0)
    val names = Seq("img_ghost", "img_a", null, "img_b", "img_ghost", "img_a", null)
    val annos = names.zipWithIndex.map { case (n, i) => (n, "cat", i.toLong, seg, box) }
      .toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
      .withColumn("rbox", col("segmentation"))
    val small = Coco.cocoDocument(annos, imageFixture, "anno_key")
    assert(Coco.lastImageDimWasLocal, "default threshold must take the broadcast tier")
    graft.operators.SeqIds.releaseAll()
    spark.conf.set(Coco.ImageBroadcastMaxRowsKey, "0")
    try {
      val big = Coco.cocoDocument(annos, imageFixture, "anno_key")
      assert(!Coco.lastImageDimWasLocal, "threshold 0 must force the distributed tier")
      assert(big == small, s"document diverges across image-dim tiers:\n$small\n$big")
    } finally {
      spark.conf.unset(Coco.ImageBroadcastMaxRowsKey)
      graft.operators.SeqIds.releaseAll()
    }
    val recs = new ObjectMapper().readTree(small).get("annotations")
    val got = (0 until recs.size()).map { i =>
      (recs.get(i).get("id").asInt(), recs.get(i).get("image_id").asInt())
    }
    // anno_keys 1, 3, 5 on img_a (id 0), img_b (id 1), img_a
    assert(got == Seq((0, 0), (1, 1), (2, 0)), s"ids not gapless from 0: $got")
  }

  test("collected images section is byte-identical to the distributed one") {
    // The broadcast tier writes the images section from the rows its dim
    // collect brought to the driver; the distributed tier numbers them
    // with SeqIds. Both must agree on the name order (U+FFFD sorts
    // before U+10400 in UTF-8 bytes but after it in UTF-16 code units;
    // NULL sorts first) and on how each height/width type prints.
    val seg = Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0)
    val box = Seq(0.0, 0.0, 2.0, 2.0, 0.0)
    val names = Seq("img_a", "\uFFFD", new String(Character.toChars(0x10400)), null)
    val annos = names.zipWithIndex.map { case (n, i) => (n, "cat", i.toLong, seg, box) }
      .toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
      .withColumn("rbox", col("segmentation"))
    val asInt = names.zipWithIndex.map { case (n, i) => (n, 640 + i, 480) }
      .toDF("image_name", "width", "height")
    val asDouble = names.zipWithIndex.map { case (n, i) => (n, 640.0 + i, 480.0) }
      .toDF("image_name", "width", "height")
    for ((images, height, width) <- Seq((asInt, "480", "643"), (asDouble, "480.0", "643.0"))) {
      val small = Coco.cocoDocument(annos, images, "anno_key")
      assert(Coco.lastImageDimWasLocal, "default threshold must take the broadcast tier")
      graft.operators.SeqIds.releaseAll()
      spark.conf.set(Coco.ImageBroadcastMaxRowsKey, "0")
      try {
        val big = Coco.cocoDocument(annos, images, "anno_key")
        assert(!Coco.lastImageDimWasLocal, "threshold 0 must force the distributed tier")
        assert(big == small, s"images section diverges across tiers:\n$small\n$big")
      } finally {
        spark.conf.unset(Coco.ImageBroadcastMaxRowsKey)
        graft.operators.SeqIds.releaseAll()
      }
      assert(small.contains(s""""file_name": "null.jpeg", "height": $height, "width": $width, "id": 0}"""),
        small.take(600))
      assert(small.indexOf("\uFFFD.jpeg") < small.indexOf(names(2) + ".jpeg"),
        "U+FFFD must sort before U+10400 (UTF-8 byte order)")
    }
  }

  test("writeCocoTo streams per-row — never materializes the annotation array") {
    // A spying Writer records every write() chunk: the streamed path
    // must emit at least one chunk per annotation and per image (no
    // single pre-joined mkString blob), and no chunk may approach the
    // document size. Together with byte-identity vs cocoDocument this
    // pins the O(1)-in-corpus driver-memory contract of the write path.
    val sw = new java.io.StringWriter()
    var chunks = 0
    var maxChunk = 0
    val spy = new java.io.Writer() {
      override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
        chunks += 1; maxChunk = math.max(maxChunk, len); sw.write(cbuf, off, len)
      }
      override def flush(): Unit = sw.flush()
      override def close(): Unit = sw.close()
    }
    Coco.writeCocoTo(spy, annoFixture, imageFixture, "anno_key")
    graft.operators.SeqIds.releaseAll()
    val doc = sw.toString
    assert(doc == Coco.cocoDocument(annoFixture, imageFixture, "anno_key"),
      "streamed write must be byte-identical to cocoDocument")
    graft.operators.SeqIds.releaseAll()
    // 3 annos + 2 images + 2 cats + separators + envelope ⇒ well above 7
    assert(chunks >= 7, s"only $chunks write() calls — not streaming per element")
    assert(maxChunk < doc.length / 2,
      s"a single $maxChunk-char chunk in a ${doc.length}-char document — " +
        "the write path materialized a whole section")
  }

  test("annotationRecords ids agree with imageDim/categoryDim (single source of truth)") {
    // the distributed tier builds the images array from imageDim (SeqIds
    // path), the broadcast tier assigns annotation image_id/category_id
    // from the localized driver dims; this pins that the two assignments
    // never desync
    val recs = Coco.annotationRecords(annoFixture, imageFixture, "anno_key")
      .select("image_name", "image_id", "category", "category_id").distinct().collect()
    val imgIds = Coco.imageDim(imageFixture).select("image_name", "image_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val catIds = Coco.categoryDim(annoFixture).select("category", "category_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    recs.foreach { r =>
      assert(imgIds(r.getString(0)) == r.getInt(1),
        s"image id desync for ${r.getString(0)}")
      assert(catIds(r.getString(2)) == r.getInt(3),
        s"category id desync for ${r.getString(2)}")
    }
  }

  test("category only on unknown-image annos cannot desync category ids") {
    // "aardvark" sorts before every fixture category but appears only on
    // an image absent from the image dim: the document's categories array
    // (built from ALL annos) includes it, so annotation category_ids must
    // be assigned against that same unfiltered dim or every id shifts.
    val ghost = Seq(("img_ghost", "aardvark", 9L,
      Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0), Seq(0.0, 0.0, 4.0, 4.0, 0.0)))
      .toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
      .withColumn("rbox", col("segmentation"))
    val annos = annoFixture.unionByName(ghost)
    val out = Files.createTempDirectory("cocoGhost").resolve("out.json").toString
    Coco.writeCocoDataset(annos, imageFixture, "anno_key", out)
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(out)))
    val catById = (0 until root.get("categories").size()).map { i =>
      val c = root.get("categories").get(i)
      c.get("id").asInt() -> c.get("name").asText()
    }.toMap
    assert(catById == Map(1 -> "aardvark", 2 -> "cat", 3 -> "dog"))
    // no annotation references the ghost category or a stale shifted id
    val recs = root.get("annotations")
    assert(recs.size() == 3)
    // anno_key 1 is (img_b, dog): must resolve to "dog" through the array
    assert(catById(recs.get(0).get("category_id").asInt()) == "dog")
    assert(catById(recs.get(1).get("category_id").asInt()) == "cat")
  }

  test("null-category annos are skipped without consuming an id (gapless)") {
    val nullCat = Seq(("img_a", null: String, 0L,
      Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), Seq(0.0, 0.0, 2.0, 2.0, 0.0)))
      .toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
      .withColumn("rbox", col("segmentation"))
    // anno_key 0 sorts FIRST: if it consumed an id the sequence would
    // start at 1 and have a gap
    val recs = Coco.annotationRecords(
      annoFixture.unionByName(nullCat), imageFixture, "anno_key")
      .select("id").collect().map(_.getInt(0)).sorted
    assert(recs.toSeq == Seq(0, 1, 2), "id sequence must be gapless from 0")
  }

  test("supplementary-plane category names agree across both dim paths") {
    // U+FFFD (�, 3 UTF-8 bytes) vs U+10400 (surrogate pair, 4 UTF-8
    // bytes): UTF-16 code-unit order puts the surrogate (0xD801) first,
    // UTF8String binary order puts � first. The driver-side localDims
    // must agree with the SeqIds/Spark ordering.
    val annos = Seq(
      ("img_a", "�", 1L, Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), Seq(0.0, 0.0, 2.0, 2.0, 0.0)),
      ("img_a", new String(Character.toChars(0x10400)), 2L,
        Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), Seq(0.0, 0.0, 2.0, 2.0, 0.0))
    ).toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
      .withColumn("rbox", col("segmentation"))
    val seqIdsPath = Coco.categoryDim(annos).select("category", "category_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val localPath = Coco.annotationRecords(annos, imageFixture, "anno_key")
      .select("category", "category_id").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(localPath == seqIdsPath,
      s"dim paths must agree on non-BMP ordering: $localPath vs $seqIdsPath")
  }

  test("COCO train=true omits segmentation; d2 variant uses aa bbox") {
    val dir = Files.createTempDirectory("coco2")
    val trainOut = dir.resolve("train.json").toString
    Coco.writeCocoDataset(annoFixture, imageFixture, "anno_key", trainOut, train = true)
    val troot = new ObjectMapper().readTree(Files.readString(Paths.get(trainOut)))
    assert(!troot.get("annotations").get(0).has("segmentation"))

    val d2Out = dir.resolve("d2.json").toString
    Coco.writeCocoDataset(annoFixture, imageFixture, "anno_key", d2Out, train = true, odtk = false)
    val droot = new ObjectMapper().readTree(Files.readString(Paths.get(d2Out)))
    val a0 = droot.get("annotations").get(0)
    assert(a0.get("bbox").size() == 4) // aa bbox from segmentation
    assert(a0.has("segmentation"))     // d2 always carries seg (ref :42)

    // train=true must not resolve rbox at all: a frame WITHOUT an rbox
    // column (how the reference exports training sets) still exports
    val noRbox = annoFixture.drop("rbox")
    val nrOut = dir.resolve("train_norbox.json").toString
    Coco.writeCocoDataset(noRbox, imageFixture, "anno_key", nrOut, train = true)
    val nroot = new ObjectMapper().readTree(Files.readString(Paths.get(nrOut)))
    assert(!nroot.get("annotations").get(0).has("segmentation"))
  }

  test("YOLO dataset: one txt per annotated image, normalized lines") {
    val dir = Files.createTempDirectory("yolo").toString
    val catMap = Coco.categoryDim(annoFixture)
    Yolo.writeYoloDataset(annoFixture, imageFixture, catMap, "anno_key", dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("img_a.txt", "img_b.txt"))
    val aLines = Files.readString(Paths.get(dir, "img_a.txt")).trim.split("\n")
    assert(aLines.length == 2)
    // first line: anno_key 2 (cat=1): cx=(5+25)/2/640, w=20/640
    val f = aLines(0).split(" ")
    assert(f(0) == "1")
    assert(math.abs(f(1).toDouble - 15.0 / 640) < 1e-12)
    assert(math.abs(f(3).toDouble - 20.0 / 640) < 1e-12)
    val bLines = Files.readString(Paths.get(dir, "img_b.txt")).trim.split("\n")
    assert(bLines.length == 1 && bLines(0).startsWith("2 "))
  }

  test("YOLO segmentation mode emits normalized flat coords") {
    val dir = Files.createTempDirectory("yoloseg").toString
    val catMap = Coco.categoryDim(annoFixture)
    Yolo.writeYoloDataset(annoFixture, imageFixture, catMap, "anno_key", dir,
      segmentation = true)
    val bLine = Files.readString(Paths.get(dir, "img_b.txt")).trim.split("\n").head
    val parts = bLine.split(" ")
    assert(parts.length == 1 + 8) // cat + 8 normalized coords
    assert(math.abs(parts(3).toDouble - 10.0 / 320) < 1e-12)
  }
}

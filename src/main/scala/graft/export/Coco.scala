package graft.export

import graft.operators.SeqIds
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** COCO exporter — Spark-native re-expression of
  * create_coco_from_feather.py:46-116 (S10, F-J2, A5, O3, J4/J5).
  *
  * Annotation records are distributed. The bounded dims (the category
  * vocabulary, and image ids below `graft.coco.imageBroadcastMaxRows`)
  * are numbered on the driver from one collect; above that threshold
  * image ids are distributed too. The single document is written from
  * the driver (inherent to "one JSON file" output, ref :115-116).
  *
  * Deviations (documented): the reference assigns image/annotation ids in
  * pandas iteration order, which is nondeterministic across reruns; we
  * assign by explicit sort keys (image_name; caller-provided anno key) so
  * ids are stable across engines and cluster sizes.
  */
object Coco {

  /** Category dimension: lexicographically sorted distinct categories,
    * dense ids from 1 ("background is 0", ref :59-70). Category
    * cardinality is bounded (a label vocabulary), so the dim-sized id
    * path applies.
    */
  def categoryDim(annos: DataFrame): DataFrame =
    // NULL categories never enter the dim: annotationRecords drops
    // null-category annos, so a null here would occupy id 1 (shifting
    // every real category); localDims applies the same rule to the
    // vocabulary the categories section streams
    SeqIds.withSeqIdDim(
        annos.select("category").filter(col("category").isNotNull).distinct(),
        Seq(col("category")), "category_id", startAt = 1L)
      .withColumn("category_id", col("category_id").cast("int"))

  /** Image dimension: ids from 0 by image_name order (ref :73-85). */
  def imageDim(images: DataFrame): DataFrame =
    SeqIds.withSeqId(images, Seq(col("image_name")), "image_id")
      .withColumn("image_id", col("image_id").cast("int"))

  /** What [[localDims]]'s one action gathered. `images` holds the
    * collected image rows (`image_name` then the requested columns) in
    * image-id order, or None when the cap was hit; `categories` holds the
    * vocabulary in category-id order (id = index + 1). `imgDim`/`catDim`
    * are the same assignments as LocalRelations for the record joins.
    */
  private final case class Dims(images: Option[Seq[Row]], categories: Seq[String],
                                imgDim: Option[DataFrame], catDim: DataFrame)

  /** ONE action serves the tier decision AND both exporter dims: the
    * image side (`image_name` plus `imageCols`) is collected
    * LIMIT-capped at `maxImages`+1 rows and unioned (tagged, the
    * category side padded with typed nulls) with the distinct category
    * vocabulary. If the cap was not hit, the image rows are complete
    * and both dims come back as driver LocalRelations (broadcast tier);
    * if it was, only the bounded category dim is built — the caller
    * switches to the distributed image-id path. Either way the driver
    * holds at most maxImages+1 image rows, and no separate probe job
    * runs. Values are sorted with UTF-8 byte ordering (nulls FIRST —
    * exactly Spark's ASC NULLS FIRST over UTF8String, so these ids agree
    * with the SeqIds-based categoryDim/imageDim; Scala's `String.<`
    * compares UTF-16 code units and would desync on U+E000..U+FFFF vs
    * supplementary-plane names), zipped with their index, and returned
    * as LocalRelations.
    */
  private def localDims(images: DataFrame, annos: DataFrame, maxImages: Long,
                        imageCols: Seq[String]): Dims = {
    val spark = annos.sparkSession
    import spark.implicits._
    val cap = math.min(maxImages + 1, Int.MaxValue.toLong).toInt
    val pad = imageCols.map(c => lit(null).cast(images.schema(c).dataType).as(c))
    // the kind tag goes last, so an image row reads (image_name, imageCols...)
    val (imgRows, catRows) =
      images.select((col("image_name") +: imageCols.map(col)) :+ lit(0).as("kind"): _*)
        .limit(cap)
        .union(annos.select((col("category") +: pad) :+ lit(1).as("kind"): _*)
          .filter(col("category").isNotNull).distinct()) // same rule as categoryDim
        .collect().partition(_.getInt(imageCols.length + 1) == 0)
    def name(r: Row) = if (r.isNullAt(0)) null else r.getString(0)
    def dim(names: Seq[String], nameCol: String, idCol: String, startAt: Int) =
      names.zipWithIndex.map { case (n, i) => (n, i + startAt) }.toDF(nameCol, idCol)
    val imgSorted =
      if (imgRows.length <= maxImages) Some(imgRows.sortBy(name)(utf8NullsFirst).toSeq)
      else None
    val categories = catRows.map(name).sorted(utf8NullsFirst).toSeq
    Dims(imgSorted, categories,
      imgSorted.map(rs => dim(rs.map(name), "image_name", "image_id", 0)),
      dim(categories, "category", "category_id", 1))
  }

  /** Session conf key: image-count threshold above which
    * [[annotationRecords]] stops collecting/broadcasting the image
    * dimension (localDims) and switches to distributed id assignment +
    * shuffle join. The default (1M names) is comfortably inside the
    * broadcast envelope (~50 MB of names); an annotated-image corpus at
    * 100 TB scale crosses it and must never reach the driver.
    */
  val ImageBroadcastMaxRowsKey = "graft.coco.imageBroadcastMaxRows"
  private val ImageBroadcastMaxRowsDefault = 1L << 20

  /** Test observability hook: which image-dim tier the last
    * [[annotationRecords]] call ON THIS THREAD took (true = driver
    * localDims, false = distributed). Thread-local so concurrent
    * exports in one JVM don't race each other's reads; read by
    * PlanSpec/ExportSpec on the calling thread only.
    */
  private[graft] val lastImageDimWasLocalTL: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => true)
  private[graft] def lastImageDimWasLocal: Boolean = lastImageDimWasLocalTL.get()

  private val utf8NullsFirst = Ordering.fromLessThan[String] { (a, b) =>
    if (a == null) b != null
    else if (b == null) false
    else {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0; var r = 0
      while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (r != 0) r < 0 else x.length < y.length
    }
  }

  /** Annotation records (ref :97-106 + make_anno_odtk/make_anno_d2
    * :14-44): join image ids (J4) and category ids (J5, both broadcast —
    * true dimensions), assign sequential anno ids (O3) by `annoKeyCol`.
    *
    * odtk=true uses the rotated box (`rcoco`) as bbox; otherwise the
    * axis-aligned bbox recomputed from the segmentation (make_anno_d2).
    * `area` is rcoco w*h in both variants (ref :21,40).
    *
    * Input contract: `images` is one row per image_name (a dimension,
    * as imageDim requires — duplicate rows would be assigned distinct
    * image ids). The tier probe counts ROWS against
    * [[ImageBroadcastMaxRowsKey]], so a frame violating the contract
    * can also flip an in-threshold corpus to the distributed tier;
    * output ids are identical either way, but the probe count equals
    * the name count only under the contract.
    */
  def annotationRecords(annos: DataFrame, images: DataFrame,
                        annoKeyCol: String, odtk: Boolean = true): DataFrame =
    records(annos, images, annoKeyCol, odtk, Nil)._1

  /** [[annotationRecords]] plus the [[Dims]] its one dim collect
    * gathered, with `imageCols` collected beside each image name so a
    * caller can emit the images section without another action.
    */
  private def records(annos: DataFrame, images: DataFrame, annoKeyCol: String,
                      odtk: Boolean, imageCols: Seq[String]): (DataFrame, Dims) = {
    // Two image-dim tiers, switched on a bounded row probe against
    // ImageBroadcastMaxRowsKey. Below the threshold the dims are
    // assigned on the driver (localDims): identical ids to
    // imageDim/categoryDim (CocoSpec's id-consistency test pins that),
    // identical memory bound to the broadcast the join pays anyway —
    // but the dim plan is NOT re-executed for every downstream action
    // (broadcast sides rebuild per action; a LocalRelation is free).
    // Above it — an annotated-image corpus at 100 TB is not
    // dimension-bounded — image ids are assigned with the distributed
    // two-pass SeqIds operator and attached via shuffle join; only the
    // bounded category vocabulary is ever collected. The fact-sized
    // anno-id assignment stays on the distributed SeqIds path in both
    // tiers.
    //
    // Ids are assigned BEFORE the dim joins: the frame SeqIds persists
    // is then the bare anno width (no dim columns), and the
    // (order-preserving) broadcast joins attach ids afterwards.
    // A left-semi filter against the image dim (and a NOT NULL category
    // filter) first keeps the id semantics identical to assigning after
    // the inner joins: annos without a known image or without a category
    // never consume an id, so the exported id sequence stays gapless.
    //
    // The anno input is pinned ONCE up front: the localDims collect,
    // the SeqIds persisted pass, and — via
    // Catalyst's cache substitution, which rewrites any sameResult
    // subplan to the InMemoryRelation — a caller-side `images` frame
    // derived from the same anno plan all read this single cached
    // execution. Without the pin each of those is a full re-execution
    // of the (possibly expensive) upstream anno projection — at 100 TB,
    // 3-4 full fact-table scans where one suffices. Released with the
    // id caches by SeqIds.releaseAll() after the consumer's action.
    val a = SeqIds.pin(annos)
    // One LIMIT-capped collect (localDims) serves the tier decision and
    // both dims — no separate probe job. The category dim MUST come
    // from the same unfiltered distinct set cocoDocument's categories
    // array uses (categoryDim over all annos): deriving it from the
    // image-filtered annos would shift the dense ids whenever a
    // category occurs only on unknown-image annos, and every
    // annotation's category_id would silently point at the wrong entry
    // of the document's categories array. The distributed tier keeps
    // identical id semantics: only the bounded category vocabulary is
    // collected, and imageDim's SeqIds sort is the same UTF8String
    // ordering localDims replicates driver-side.
    val maxLocal = annos.sparkSession.conf
      .get(ImageBroadcastMaxRowsKey, ImageBroadcastMaxRowsDefault.toString).toLong
    val dims = localDims(images, a, maxLocal, imageCols)
    lastImageDimWasLocalTL.set(dims.imgDim.isDefined)
    val imgDim = dims.imgDim.getOrElse(imageDim(images.select("image_name")))
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (dims.imgDim.isDefined) broadcast(df) else df
    val known = a
      .join(maybeBroadcast(imgDim.select("image_name")), Seq("image_name"), "left_semi")
      .filter(col("category").isNotNull)
    // category breaks annoKey ties so ids are total-ordered even when
    // the caller's key collides across categories
    val withIds = SeqIds.withSeqId(known, Seq(col(annoKeyCol), col("category")), "id")
    // In the distributed tier the image join is a shuffle join, so the
    // returned row order is no longer the id order the broadcast tier
    // preserves — callers needing id order sort explicitly
    // (cocoDocument does).
    val joined = withIds
      .withColumn("id", col("id").cast("int"))
      .join(maybeBroadcast(imgDim), Seq("image_name"))
      .join(broadcast(dims.catDim), Seq("category"))
    val bbox =
      if (odtk) col("rcoco")
      else graft.functions.GeomFunctions.segmentation2bbox(col("segmentation"))
    val frame = joined
      .withColumn("iscrowd", lit(0))
      .withColumn("bbox", bbox)
      .withColumn("area", col("rcoco")(2) * col("rcoco")(3))
    (frame, dims)
  }

  /** Whole-document assembly (ref :46-116) STREAMED to `out`: the
    * single-document output is inherently driver-written (one JSON
    * file), but nothing forces the driver to hold the document — or
    * any corpus-sized array — in memory. Rows are formatted and written
    * as they arrive — no per-section array, no whole-document string.
    *
    * Section sources, per image-dim tier (see [[annotationRecords]]):
    *  - broadcast tier: the images and categories sections stream the
    *    rows the records' one dim collect already brought to the driver
    *    (at most `graft.coco.imageBroadcastMaxRows` image names, each
    *    with its height and width — the bound the broadcast join pays
    *    anyway), so neither section submits a job;
    *  - distributed tier: the images section is fetched from the
    *    SeqIds-numbered image frame in ≤8 contiguous partition groups
    *    (`groupedRows`, one group held at a time, O(images/8) driver
    *    memory); categories still stream from the collected vocabulary;
    *  - both tiers: the annotations section is fetched the same way from
    *    the id-ordered records frame, O(annotations/8) driver memory.
    *
    * Info/license text is neutral placeholder, not the reference's
    * URLs.
    */
  def writeCocoTo(out: java.io.Writer, annos: DataFrame, images: DataFrame,
                  annoKeyCol: String, train: Boolean = false,
                  odtk: Boolean = true): Unit = {
    // One pinned execution of the anno plan serves every action below:
    // the records' dim collect and id pass, and in the distributed tier
    // imageDim (an `images` derived from the same anno plan hits the
    // cache via substitution; the records' internal pin of the
    // already-persisted frame is a no-op). Unpersisted before returning
    // — the streamed write completes in this method, so unlike
    // annotationRecords no cache may outlive the call.
    annos.persist()
    // scoped registry cleanup: the withSeqId/pin frames minted INSIDE
    // this call are fully consumed by the streamed write, so they are
    // released on exit — a notebook caller looping exports must not
    // accumulate pinned frames for the session lifetime (frames pinned
    // BEFORE the call are untouched)
    val regMark = SeqIds.mark()
    try {
    val (recsBase, dims) = records(annos, images, annoKeyCol, odtk, Seq("height", "width"))
    val info = """{"description": "Dataset", "version": "1.0", "year": 2022}"""
    val licenses = """[{"id": 1, "name": "placeholder"}]"""
    out.write(s"""{"info": $info, "licenses": $licenses, "images": [""")
    // streamSection writes ", "-separated elements per row — the exact
    // bytes the pre-streaming mkString produced (CocoFidelitySpec and
    // the cross-tier byte-identity test pin this).
    def streamSection[A](it: Iterator[A])(fmt: A => String): Unit = {
      var first = true
      it.foreach { a =>
        if (!first) out.write(", ")
        out.write(fmt(a)); first = false
      }
    }
    // Section streaming order comes FREE from the id-assignment pass:
    // SeqIds.withSeqId leaves its output range-partitioned by the sort
    // key with partition index = range order and ids ascending across
    // partitions by construction, and the broadcast dim joins preserve
    // both. groupedRows fetches it with zero exchange: one job per
    // CONTIGUOUS partition-index group (≤8 — ExportExecCountSpec pins
    // the bound independent of spark.sql.shuffle.partitions), one group
    // held at a time.
    //
    // Both tiers yield (row, image_id) in image-id order, each row
    // reading (image_name, height, width, …); a collected row's id is
    // its index.
    val imageRows = dims.images match {
      case Some(rows) => rows.iterator.zipWithIndex
      case None =>
        groupedRows(imageDim(images)
          .select("image_name", "height", "width", "image_id"), 8).map(r => (r, r.getInt(3)))
    }
    streamSection(imageRows) { case (r, id) =>
      s"""{"license": 1, "file_name": ${jstr(r.getString(0) + ".jpeg")}, "height": ${r.get(1)}, "width": ${r.get(2)}, "id": $id}"""
    }
    out.write("""], "annotations": [""")
    // d2 always carries the raw polygon (ref :42); odtk eval exports
    // carry the ROTATED-box polygon `rbox` (ref :26), train omits it.
    // The train branch must not reference rbox at all (a Column-level
    // when() would still analyze it): the reference exports training sets
    // from frames that carry no rbox column.
    val segCol =
      if (!odtk) to_json(array(col("segmentation")))
      else if (train) lit(null).cast("string")
      else to_json(array(col("rbox")))
    val recs = recsBase
      .withColumn("seg_json", segCol)
      .select(col("image_id"), col("id"), col("category_id"),
              to_json(col("bbox")).as("bbox_json"), col("area"), col("seg_json"))
    // Broadcast tier: the dim joins preserved the SeqIds id order, so
    // the section streams with zero exchange. Distributed tier only
    // (image dim attached via shuffle join, order destroyed):
    // re-establish id order explicitly — the one case that genuinely
    // needs the exchange.
    val ordered =
      if (dims.imgDim.isDefined) recs
      else recs.repartitionByRange(8, col("id")).sortWithinPartitions("id")
    streamSection(groupedRows(ordered, 8)) { r =>
      val seg = Option(r.getString(5)).map(s => s""", "segmentation": $s""").getOrElse("")
      s"""{"iscrowd": 0, "image_id": ${r.getInt(0)}, "bbox": ${r.getString(3)}, "category_id": ${r.getInt(2)}, "area": ${r.get(4)}, "id": ${r.getInt(1)}$seg}"""
    }
    out.write("""], "categories": [""")
    streamSection(dims.categories.iterator.zipWithIndex) { case (c, i) =>
      s"""{"supercategory": ${jstr(c)}, "id": ${i + 1}, "name": ${jstr(c)}}"""
    }
    out.write("]}")
    } finally {
      annos.unpersist(blocking = false)
      SeqIds.releaseSince(regMark)
    }
  }

  /** The document as one in-memory String — for tests and small
    * exports. Necessarily O(document) on the driver; corpus-scale
    * callers use [[writeCocoDataset]], which streams to the file.
    */
  def cocoDocument(annos: DataFrame, images: DataFrame, annoKeyCol: String,
                   train: Boolean = false, odtk: Boolean = true): String = {
    val sw = new java.io.StringWriter()
    writeCocoTo(sw, annos, images, annoKeyCol, train, odtk)
    sw.toString
  }

  /** Streamed to `outputJson` — a plain path via java.nio, or a
    * scheme-qualified URI (`hdfs://`, `s3a://`, …) through the Hadoop
    * FileSystem API, matching the [[FileSink]] contract of the other
    * exporters. The document write is driver-side either way (single
    * file), so only the driver needs reachability.
    *
    * The stream goes to `outputJson + ".tmp"` and is renamed into
    * place only after a successful close: a mid-stream Spark/driver
    * failure neither destroys an existing good export nor leaves a
    * truncated, unparseable file that looks complete — the temp file
    * is deleted on failure and the prior artifact (if any) survives.
    */
  def writeCocoDataset(annos: DataFrame, images: DataFrame, annoKeyCol: String,
                       outputJson: String, train: Boolean = false, odtk: Boolean = true): Unit = {
    val tmpJson = outputJson + ".tmp"
    if (FileSink.hasScheme(outputJson)) {
      val dst = new org.apache.hadoop.fs.Path(outputJson)
      val tmp = new org.apache.hadoop.fs.Path(tmpJson)
      // private no-crc handle — never mutate the shared FileSystem cache
      val fs = FileSink.noCrcFileSystem(
        dst, annos.sparkSession.sparkContext.hadoopConfiguration)
      var ok = false
      try {
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
        try writeCocoTo(w, annos, images, annoKeyCol, train, odtk)
        finally w.close()
        ok = true
      } finally {
        if (ok) {
          // overwrite rename via FileContext (atomic where the FS
          // supports it) — no delete-then-rename window, so a rename
          // failure leaves the PRIOR artifact intact instead of
          // destroying it first
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri, annos.sparkSession.sparkContext.hadoopConfiguration)
          fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } else
          // best-effort cleanup must not mask the original exception
          try fs.delete(tmp, false)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    } else {
      val dst = java.nio.file.Paths.get(outputJson)
      val tmp = java.nio.file.Paths.get(tmpJson)
      var ok = false
      try {
        val w = java.nio.file.Files.newBufferedWriter(tmp)
        try writeCocoTo(w, annos, images, annoKeyCol, train, odtk)
        finally w.close()
        ok = true
      } finally {
        if (ok)
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Rows of `df` in partition-index order (= row order for frames whose
    * partitioning already encodes the global order, e.g. SeqIds output),
    * fetched in at most `groups` jobs: partitions are split into
    * contiguous index ranges and each range is collected with ONE
    * runJob. Exactly toLocalIterator's sequence and laziness-per-group,
    * but the job count is bounded by `groups` instead of the partition
    * count — without the extra exchange a bounded repartition would pay.
    * Driver holds one group (≈ data/groups) at a time.
    */
  private def groupedRows(df: DataFrame, groups: Int): Iterator[org.apache.spark.sql.Row] = {
    val rdd = df.rdd
    val n = rdd.getNumPartitions
    if (n == 0) Iterator.empty
    else {
      val sc = df.sparkSession.sparkContext
      val per = math.max(1, math.ceil(n.toDouble / groups).toInt)
      (0 until n by per).iterator.flatMap { start =>
        val range = start until math.min(start + per, n)
        sc.runJob(rdd, (it: Iterator[org.apache.spark.sql.Row]) => it.toArray, range)
          .iterator.flatMap(_.iterator)
      }
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

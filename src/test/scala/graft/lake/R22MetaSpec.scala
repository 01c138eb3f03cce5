package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** r22 optimization internals: content-stamped memo keys, the
  * localization row bound, the shared touched-bucket probe, and the
  * staged (write-now, publish-later) upsert split must all be exactly
  * equivalent to the paths they replaced.
  */
class R22MetaSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("localize memo misses an in-place same-length same-mtime rewrite") {
    import spark.implicits._
    val d1 = tmp("stamp1") + "/d"; val d2 = tmp("stamp2") + "/d"
    // same schema, same row count, same fixed-width values → the part
    // files come out byte-length-identical with different content
    Seq(111, 222, 333).toDF("x").coalesce(1).write.parquet(d1)
    Seq(444, 555, 666).toDF("x").coalesce(1).write.parquet(d2)
    assert(FileStats.localizedParquet(spark, d1)
      .collect().map(_.getInt(0)).toSet == Set(111, 222, 333))
    val fs = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partOf(d: String) = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).head
    val p1 = partOf(d1); val p2 = partOf(d2)
    assert(p1.getLen == p2.getLen,
      "fixture assumption: equal-width payloads produce equal-length files")
    val oldMtime = p1.getModificationTime
    // in-place rewrite: same name, same length, FORCED same mtime —
    // the exact window (name, len, mtime) keys could not see
    val bytes = new Array[Byte](p2.getLen.toInt)
    val in = fs.open(p2.getPath); try in.readFully(bytes) finally in.close()
    val out = fs.create(p1.getPath, true)
    try out.write(bytes) finally out.close()
    fs.setTimes(p1.getPath, oldMtime, -1)
    assert(partOf(d1).getModificationTime == oldMtime, "mtime must be pinned")
    spark.catalog.refreshByPath(d1) // drop Spark's own file-status cache
    assert(FileStats.localizedParquet(spark, d1)
      .collect().map(_.getInt(0)).toSet == Set(444, 555, 666),
      "the content stamp must make the memo miss")
  }

  test("localizedParquet refuses row-heavy dirs even under the byte bound") {
    // 2M constant longs RLE-compress to well under 8 MB, but localizing
    // them would plant millions of Rows on the driver (ADVICE r21)
    val dir = tmp("rowbound") + "/d"
    spark.range(0, 2L << 20).select(lit(7L).as("x"))
      .coalesce(1).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getLen).sum
    assert(bytes < (8L << 20), s"fixture must sit under the byte bound: $bytes")
    val df = FileStats.localizedParquet(spark, dir)
    assert(!df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "a dir over the row bound must keep the distributed read")
    assert(df.count() == (2L << 20))
  }

  test("touchedBuckets equals the per-table probes in one job") {
    import spark.implicits._
    val a = Seq("x", "y", "z", "x").toDF("k")
    val b = Seq(1L, 2L, 3L).toDF("id")
    val Seq(ta, tb) = BucketedUpsert.touchedBuckets(
      Seq((a, "k", 16), (b, "id", 8)))
    val expA = a.select(BucketedUpsert.bucketOf(col("k"), 16).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val expB = b.select(BucketedUpsert.bucketOf(col("id"), 8).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(ta == expA && tb == expB)
  }

  test("staged applyBatch/deleteKeys publish nothing until the thunk runs") {
    import spark.implicits._
    val root = tmp("staged") + "/t"
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "v", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", 4, tag = 1)
    // stage an upsert: the table must still read as v1 until publish
    val b2 = Seq((2L, "B", 2L)).toDF("k", "v", "ver")
    val publish = BucketedUpsert.applyBatchStaged(
      b2, root, "k", "ver", 4, 2, 2, None)
    assert(Snapshot.currentTag(spark, root).contains(1L),
      "staging must not move the pointer")
    assert(BucketedUpsert.read(spark, root).filter(col("k") === 2)
      .select("v").head().getString(0) == "b")
    publish()
    assert(Snapshot.currentTag(spark, root).contains(2L))
    assert(BucketedUpsert.read(spark, root).filter(col("k") === 2)
      .select("v").head().getString(0) == "B")
    // staged delete: rows counted at stage time, visible at publish
    val (removed, pubDel) = BucketedUpsert.deleteKeysStaged(spark, root,
      "k", Seq(1L, 3L).toDF("k"), 3, 2, None)
    assert(removed == 2L)
    assert(BucketedUpsert.read(spark, root).count() == 3,
      "staged delete must not be visible before publish")
    pubDel()
    assert(BucketedUpsert.read(spark, root).count() == 1)
  }

  test("deltaOf treats a duplicate path with conflicting meta as changed, both paths") {
    val base = tmp("dupdelta")
    val listing = Seq(FileStats.FileMeta(
      s"file:$base/dup.parquet", s"$base/dup.parquet", 10, 100))
    val schema = StructType(Seq(StructField("path", StringType),
      StructField("f_len", LongType), StructField("f_mtime", LongType)))
    val rows = Seq(
      Row(s"$base/dup.parquet", 10L, 100L), // matches the listing
      Row(s"$base/dup.parquet", 99L, 100L)) // conflicts
    val localDf = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val (rescanL, droppedL) = FileStats.deltaOf(spark, localDf, listing)
    val (rescanD, droppedD) =
      FileStats.deltaOf(spark, localDf.repartition(2), listing)
    assert(rescanL == rescanD && droppedL == droppedD,
      "local and distributed classification must agree on malformed input")
    assert(rescanL == Seq(s"file:$base/dup.parquet") &&
      droppedL == Set(s"$base/dup.parquet"),
      "conflicting duplicate meta must classify as changed (rescan+drop)")
  }

  // Named for the deleted footer predicate FileStats.uniformFooterSchema:
  // footers that differ only in Spark field metadata are never uniform,
  // and the read now settles them by planning from the recorded schema.
  test("uniformFooterSchema is false when Spark logical metadata diverges") {
    import spark.implicits._
    // physically identical files whose Spark field metadata diverges
    val dir = tmp("logical") + "/d"
    Seq((1L, 1, 1L), (2L, 2, 1L)).toDF("k", "x", "ver")
      .coalesce(1).write.parquet(dir)
    val noted = new MetadataBuilder().putString("note", "differs").build()
    Seq((3L, 3, 1L), (4L, 4, 1L)).toDF("k", "x", "ver")
      .select(col("k"), col("x").as("x", noted), col("ver"))
      .coalesce(1).write.mode("append").parquet(dir)
    // a table whose recorded schema gives x metadata of its own
    val root = tmp("recorded") + "/t"
    val recorded = new MetadataBuilder().putString("note", "recorded").build()
    BucketedUpsert.applyBatch(Seq((9L, 9, 1L)).toDF("k", "x", "ver")
      .select(col("k"), col("x").as("x", recorded), col("ver")),
      root, "k", "ver", nBuckets = 2, tag = 1)
    val got = BucketedUpsert.readPaths(spark, root, Seq(dir))
    assert(got.schema("x").metadata == recorded,
      s"the read must plan from the recorded schema: ${got.schema("x")}")
    assert(got.select("x").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  // NOTE (ADVICE r21, offsets-dir freshness): withAdaptiveStateConf now
  // treats an offsets dir holding only crash-left tmp/hidden files as
  // FRESH (derive the count) rather than existing (inherit the session
  // count). The scenario is untestable end-to-end on Spark 4.1: the
  // runtime itself fail-fasts ANY non-empty offsets dir at batch 0
  // (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY) — verified here by an
  // attempted spec — so the filter is defense in depth only.
}

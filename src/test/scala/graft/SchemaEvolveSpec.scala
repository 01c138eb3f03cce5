package graft

import graft.lake.{BucketedUpsert, IncrAgg, Routing, SecondaryIndex, Snapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution beyond add-column: metadata-only type WIDENING
  * (old narrow files upcast at scan; no rewrite), sticky DROP (a later
  * batch cannot resurrect hidden values), fail-fast on lossy casts,
  * the MV / secondary-index interaction contracts, and tables written
  * before schemas were recorded (no `root/schema` sidecar).
  */
class SchemaEvolveSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("evolve-spec").toString + "/t"

  /** Make `root` look written before schemas were recorded. */
  private def dropSchemaRecord(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/schema")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true),
      s"no schema record under $root")
  }

  test("widening is metadata-only: old int files upcast, new long batch lands wide") {
    val root = tmp()
    val b1 = (1 to 1000).map(k => (k.toLong, k * 10, 1L)).toDF("k", "v", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 8, tag = 1)
    val v1Files = new java.io.File(s"$root/data/v1").lastModified()
    BucketedUpsert.widenColumn(spark, root, "v", LongType, tag = 2)
    // beyond-int values through the widened column
    val b2 = (1L to 100L).map(k => (k, 5000000000L + k, 2L)).toDF("k", "v", "ver")
    BucketedUpsert.applyBatch(b2, root, "k", "ver", nBuckets = 8, tag = 3)
    val got = BucketedUpsert.read(spark, root)
    assert(got.schema("v").dataType == LongType,
      s"declared widening must reach the read schema: ${got.schema}")
    val rows = got.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(1L) == 5000000001L && rows(999L) == 9990L && rows.size == 1000)
    // the untouched generation was NOT rewritten
    assert(new java.io.File(s"$root/data/v1").lastModified() == v1Files,
      "widening must move no data")
    // both widths coexist inside one resolve (mixed-width touched set)
    val b3 = Seq((999L, 6000000000L, 3L)).toDF("k", "v", "ver")
    BucketedUpsert.applyBatch(b3, root, "k", "ver", nBuckets = 8, tag = 4)
    assert(BucketedUpsert.read(spark, root).filter(col("k") === 999L)
      .head().getLong(1) == 6000000000L)
  }

  test("float widens to double; narrowing and cross-family casts fail fast") {
    val root = tmp()
    val b1 = (1 to 50).map(k => (k.toLong, k.toFloat / 2, 1L)).toDF("k", "f", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.widenColumn(spark, root, "f", DoubleType, tag = 2)
    val vals = BucketedUpsert.read(spark, root).select("k", "f").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(vals(3L) == 1.5d, s"float file must upcast to double: ${vals(3L)}")
    intercept[IllegalArgumentException](
      BucketedUpsert.widenColumn(spark, root, "f", FloatType, tag = 3))
    intercept[IllegalArgumentException](
      BucketedUpsert.widenColumn(spark, root, "k", StringType, tag = 3))
    intercept[IllegalArgumentException](
      BucketedUpsert.widenColumn(spark, root, "absent", LongType, tag = 3))
  }

  test("drop is STICKY: reads hide the column and a later batch cannot resurrect it") {
    val root = tmp()
    val b1 = (1 to 200).map(k => (k.toLong, s"secret-$k", k, 1L))
      .toDF("k", "pii", "v", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.dropColumn(spark, root, "pii", tag = 2)
    assert(!BucketedUpsert.read(spark, root).columns.contains("pii"),
      "dropped column must vanish from reads")
    // a producer still emitting the column must NOT re-introduce it:
    // untouched buckets still hold old values, which would resurrect
    val b2 = Seq((7L, "leaked", 99, 2L)).toDF("k", "pii", "v", "ver")
    BucketedUpsert.applyBatch(b2, root, "k", "ver", nBuckets = 4, tag = 3)
    val cols = BucketedUpsert.read(spark, root).columns.toSet
    assert(!cols.contains("pii"), s"sticky drop violated: $cols")
    assert(BucketedUpsert.read(spark, root).filter(col("k") === 7L)
      .select("v").head().getInt(0) == 99)
    // a genuinely NEW column still auto-adds through the declared schema
    val b3 = Seq((8L, 100, "new", 3L)).toDF("k", "v", "extra", "ver")
    BucketedUpsert.applyBatch(b3, root, "k", "ver", nBuckets = 4, tag = 4)
    assert(BucketedUpsert.read(spark, root).columns.contains("extra"))
  }

  test("sticky drop survives a comma-containing column name (JSON round-trip)") {
    val root = tmp()
    // the old comma-joined dropped-set encoding split this name into
    // bogus entries, losing it — a later batch carrying the column
    // would silently resurrect it (ADVICE r16)
    val b1 = (1 to 50).map(k => (k.toLong, s"x-$k", 1L)).toDF("k", "a,b", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.dropColumn(spark, root, "a,b", tag = 2)
    assert(!BucketedUpsert.read(spark, root).columns.contains("a,b"))
    val b2 = Seq((7L, "resurrected", 2L)).toDF("k", "a,b", "ver")
    BucketedUpsert.applyBatch(b2, root, "k", "ver", nBuckets = 4, tag = 3)
    val cols = BucketedUpsert.read(spark, root).columns.toSet
    assert(!cols.contains("a,b"),
      s"comma-named sticky drop violated (dropped-set round-trip lost the name): $cols")
  }

  test("secondary index survives widening (string form stable); drop of the indexed column fails loudly") {
    val root = tmp(); val ix = root + "-ix"
    val b1 = (1 to 500).map(k => (k.toLong, k * 3, s"name-$k", 1L))
      .toDF("k", "num", "s", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 8, tag = 1)
    SecondaryIndex.refresh(spark, root, ix, "k", "num")
    // widen the INDEXED column: the index hashes cast-to-string values,
    // and "15" is "15" at any integer width — lookups stay exact
    BucketedUpsert.widenColumn(spark, root, "num", LongType, tag = 2)
    val got = SecondaryIndex.lookup(spark, root, ix, "num", Seq("15", "999"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 333L), s"widened-column lookup broke: $got")
    // refresh after widening keeps working (new batch beyond int range)
    BucketedUpsert.applyBatch(
      Seq((9999L, 6000000000L, "big", 2L)).toDF("k", "num", "s", "ver"),
      root, "k", "ver", nBuckets = 8, tag = 3)
    SecondaryIndex.refresh(spark, root, ix, "k", "num")
    assert(SecondaryIndex.lookup(spark, root, ix, "num", Seq("6000000000"))
      .select("k").head().getLong(0) == 9999L)
    // dropping the indexed column orphans the index: lookup and
    // refresh fail LOUDLY (the column no longer resolves), never
    // silently wrong
    BucketedUpsert.dropColumn(spark, root, "num", tag = 4)
    intercept[Exception](
      SecondaryIndex.lookup(spark, root, ix, "num", Seq("15")).collect())
    // with fresh churn to index, a refresh on the dropped column must
    // fail at analysis (no silent no-op once there IS work to do)
    BucketedUpsert.applyBatch(
      Seq((42L, "renamed", 3L)).toDF("k", "s", "ver"),
      root, "k", "ver", nBuckets = 8, tag = 5)
    intercept[Exception](
      SecondaryIndex.refresh(spark, root, ix, "k", "num"))
  }

  test("the bucket-key route is type-protected: mis-typed writes and key evolution fail fast") {
    val root = tmp()
    BucketedUpsert.applyBatch(
      (1 to 100).map(k => (k, k, 1L)).toDF("k", "v", "ver"), // INT key
      root, "k", "ver", nBuckets = 4, tag = 1)
    // a LONG-keyed batch would hash the same logical keys to different
    // buckets (murmur3 is type-sensitive) — silent lost-update corruption
    val ex = intercept[IllegalArgumentException](
      BucketedUpsert.applyBatch(
        Seq((5L, 99, 2L)).toDF("k", "v", "ver"), root, "k", "ver", 4, tag = 2))
    assert(ex.getMessage.contains("type-sensitive"), ex.getMessage)
    intercept[IllegalArgumentException](
      BucketedUpsert.appendFragment(
        Seq((5L, 99, 2L)).toDF("k", "v", "ver"), root, "k", 4, tag = 2))
    // a LONG-typed delete set would compute wrong buckets and MISS rows
    intercept[IllegalArgumentException](
      BucketedUpsert.deleteKeys(spark, root, "k", Seq(5L).toDF("k"), tag = 2))
    // and schema evolution refuses the recorded bucket key outright
    val exW = intercept[IllegalArgumentException](
      BucketedUpsert.widenColumn(spark, root, "k", LongType, tag = 2))
    assert(exW.getMessage.contains("bucket key"), exW.getMessage)
    intercept[IllegalArgumentException](
      BucketedUpsert.dropColumn(spark, root, "k", tag = 2))
    // correctly-typed traffic still flows
    BucketedUpsert.applyBatch(
      Seq((5, 99, 2L)).toDF("k", "v", "ver"), root, "k", "ver", 4, tag = 3)
    assert(BucketedUpsert.read(spark, root)
      .filter(col("k") === 5).head().getInt(1) == 99)
  }

  test("a cross-family batch type under a declared schema fails fast instead of corrupting") {
    val root = tmp()
    BucketedUpsert.applyBatch(
      (1 to 50).map(k => (k.toLong, k, 1L)).toDF("k", "v", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.widenColumn(spark, root, "v", LongType, tag = 2)
    // a STRING v: the union would coerce and write bytes the declared
    // long schema can never read back
    val ex = intercept[IllegalArgumentException](
      BucketedUpsert.applyBatch(
        Seq((7L, "oops", 2L)).toDF("k", "v", "ver"), root, "k", "ver", 4,
        tag = 3))
    assert(ex.getMessage.contains("cast the batch"), ex.getMessage)
  }

  test("the co-bucketed join and fragment resolve honor an evolved schema") {
    val l = tmp(); val r = tmp()
    BucketedUpsert.applyBatch(
      (1L to 300L).map(k => (k, k.toInt, 1L)).toDF("k", "v", "ver"),
      l, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.widenColumn(spark, l, "v", LongType, tag = 2)
    BucketedUpsert.applyBatch(
      Seq((7L, 9000000000L, 2L)).toDF("k", "v", "ver"),
      l, "k", "ver", nBuckets = 4, tag = 3)
    BucketedUpsert.applyBatch(
      (1L to 300L).map(k => (k, s"r-$k", 1L)).toDF("k", "s", "ver"),
      r, "k", "ver", nBuckets = 4, tag = 1)
    // join across one evolved side: the declared (long) schema reaches
    // the bucketed scan; mixed-width files coexist under it
    val joined = BucketedUpsert.bucketedJoin(spark, l, r, "k")
      .select("k", "v", "s")
    assert(joined.schema("v").dataType == LongType)
    val m = joined.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(m.size == 300 && m(7L) == 9000000000L && m(8L) == 8L)
    assert(graft.plans.PlanInspect.shufflesOf(joined).isEmpty ||
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "evolved-schema join must stay exchange-free (modulo broadcast)")
    // fragment resolve under an evolved schema
    val f = tmp()
    BucketedUpsert.appendFragment(
      (1L to 100L).map(k => (k, k.toInt, 1L)).toDF("k", "v", "ver"),
      f, "k", nBuckets = 2, tag = 1)
    BucketedUpsert.widenColumn(spark, f, "v", LongType, tag = 2)
    BucketedUpsert.appendFragment(
      Seq((5L, 8000000000L, 2L)).toDF("k", "v", "ver"), f, "k", 2, tag = 3)
    val res = BucketedUpsert.readResolved(spark, f, "k", "ver")
    assert(res.schema("v").dataType == LongType)
    assert(res.filter(col("k") === 5L).head().getLong(1) == 8000000000L)
  }

  test("incremental MV stays exact across a widening") {
    val root = tmp(); val mv = root + "-mv"
    val b1 = (1 to 400).map(k => (k.toLong, k % 5, k, 1L))
      .toDF("k", "g", "amt", "ver")
    BucketedUpsert.applyBatch(b1, root, "k", "ver", nBuckets = 8, tag = 1)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("amt"))
    BucketedUpsert.widenColumn(spark, root, "amt", LongType, tag = 2)
    val b2 = Seq((1000L, 2, 100000L, 2L)).toDF("k", "g", "amt", "ver")
    BucketedUpsert.applyBatch(b2, root, "k", "ver", nBuckets = 8, tag = 3)
    val n = IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("amt"))
    assert(n >= 1 && n <= 8, s"refresh must stay bucket-granular: $n")
    val got = IncrAgg.read(spark, mv, Seq("g"), Seq("amt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val want = BucketedUpsert.read(spark, root)
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("amt").cast("decimal(12,2)")).cast("double").as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"MV diverged across widening:\n$got\n$want")
  }

  test("a never-evolved table refuses a cross-family batch, leaving tag and rows as they were") {
    val root = tmp()
    BucketedUpsert.applyBatch(
      (1 to 50).map(k => (k.toLong, k, 1L)).toDF("k", "v", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 1)
    val before = BucketedUpsert.read(spark, root).collect().toSet
    val ex = intercept[IllegalArgumentException](
      BucketedUpsert.applyBatch(
        Seq((7L, "oops", 2L)).toDF("k", "v", "ver"), root, "k", "ver", 4,
        tag = 2))
    assert(ex.getMessage.contains("cast the batch"), ex.getMessage)
    assert(Snapshot.currentTag(spark, root).contains(1L))
    assert(BucketedUpsert.read(spark, root).collect().toSet == before)
  }

  test("a never-evolved table widens int to long from a value batch") {
    val root = tmp()
    BucketedUpsert.applyBatch(
      (1 to 50).map(k => (k.toLong, k, 1L)).toDF("k", "v", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 1)
    BucketedUpsert.applyBatch(
      Seq((7L, 5000000000L, 2L)).toDF("k", "v", "ver"), root, "k", "ver", 4,
      tag = 2)
    assert(BucketedUpsert.tableSchema(spark, root)("v").dataType == LongType)
    val got = BucketedUpsert.read(spark, root)
    assert(got.schema("v").dataType == LongType, s"${got.schema}")
    val m = got.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m.size == 50 && m(7L) == 5000000000L && m(8L) == 8L)
  }

  test("a table without a schema record reads every column and records one at its next write") {
    val root = tmp()
    BucketedUpsert.applyBatch(
      (1 to 40).map(k => (k.toLong, k, s"x-$k", 1L)).toDF("k", "v", "extra", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 1)
    dropSchemaRecord(root)
    val cols = Seq("k", "v", "extra", "ver")
    assert(BucketedUpsert.read(spark, root).columns.toSeq == cols)
    assert(Routing.readWhere(spark, root, col("k") === 5L)
      .select("extra").head().getString(0) == "x-5")
    // the next batch lacks `extra`: the recorded schema must keep it
    BucketedUpsert.applyBatch(Seq((5L, 50, 2L)).toDF("k", "v", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 2)
    assert(Snapshot.currentTag(spark, s"$root/schema").contains(2L))
    assert(BucketedUpsert.tableSchema(spark, root).fieldNames.toSeq == cols)
    val extra = BucketedUpsert.read(spark, root).select("k", "extra").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(extra.size == 40 && extra(5L).isEmpty && extra(6L).contains("x-6"))
  }

  test("a fully emptied table without a schema record still gives lookup a typed empty frame") {
    val root = tmp(); val ix = root + "-ix"
    BucketedUpsert.applyBatch(
      (1L to 50L).map(k => (k, s"name-$k", 1L)).toDF("k", "s", "ver"),
      root, "k", "ver", nBuckets = 4, tag = 1)
    SecondaryIndex.refresh(spark, root, ix, "k", "s")
    dropSchemaRecord(root)
    BucketedUpsert.deleteKeys(spark, root, "k", (1L to 50L).toDF("k"), tag = 2)
    val got = SecondaryIndex.lookup(spark, root, ix, "s", Seq("name-7"))
    assert(got.columns.toSeq == Seq("k", "s", "ver"), got.columns.toSeq)
    assert(got.select("k", "s").count() == 0)
  }
}

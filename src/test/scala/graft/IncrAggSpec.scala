package graft

import graft.lake.{BucketedUpsert, IncrAgg, Snapshot}
import org.apache.spark.sql.functions._

/** Incremental-MV maintenance: the refresh must (a) recompute ONLY the
  * buckets the batch rewrote — that is the entire point of the
  * bucket-partial representation — and (b) equal the from-scratch
  * aggregate of the table after every batch.
  */
class IncrAggSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("incragg-spec").toString

  private def fullAgg(root: String): Map[String, (Long, Double)] =
    BucketedUpsert.read(spark, root)
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(12,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private def mvAgg(mv: String): Map[String, (Long, Double)] =
    IncrAgg.read(spark, mv, Seq("g"), Seq("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("refresh recomputes only touched buckets and matches full recompute") {
    val base = tmp()
    val root = s"$base/t"; val mv = s"$base/mv"
    import spark.implicits._
    val nBuckets = 8
    val batch1 = (1L to 200L).map(k => (k, s"g${k % 3}", k.toDouble, 1L))
      .toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(batch1, root, "k", "ver", nBuckets, tag = 1)
    val n1 = IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    assert(n1 > 0 && n1 <= nBuckets, s"first refresh builds all partials: $n1")
    assert(mvAgg(mv) == fullAgg(root))

    // one-key batch → exactly one bucket rewritten → exactly one recomputed
    val batch2 = Seq((7L, "g_moved", 1000.0, 2L)).toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(batch2, root, "k", "ver", nBuckets, tag = 2)
    val n2 = IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    assert(n2 == 1, s"a one-key batch must recompute exactly 1 bucket, got $n2")
    val got = mvAgg(mv)
    assert(got == fullAgg(root))
    assert(got.contains("g_moved") && got("g_moved") == (1L, 1000.0),
      "the moved key's new group must appear")

    // a refresh with nothing new is a no-op
    assert(IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v")) == 0)
    assert(Snapshot.currentTag(spark, mv).contains(2L))
  }

  test("a fully-emptied bucket's partials are dropped, not carried forever") {
    val base = tmp()
    val root = s"$base/t"; val mv = s"$base/mv"
    import spark.implicits._
    val batch1 = (1L to 200L).map(k => (k, s"g${k % 3}", k.toDouble, 1L))
      .toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(batch1, root, "k", "ver", nBuckets = 8, tag = 1)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    // delete EVERY key of one bucket: the bucket drops out of the
    // manifest entirely, so it is in nobody's change feed — the MV
    // must still drop its partials or it reports deleted data forever
    val bucketOfKey = BucketedUpsert.read(spark, root)
      .select(col("k"), BucketedUpsert.bucketOf(col("k"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val doomed = bucketOfKey.collect { case (k, b) if b == 3 => k }.toSeq
    assert(doomed.nonEmpty, "fixture must populate bucket 3")
    BucketedUpsert.deleteKeys(spark, root, "k", doomed.toDF("k"), tag = 2)
    val n = IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    assert(n >= 1, "the vanished bucket must count as changed")
    assert(mvAgg(mv) == fullAgg(root),
      "MV must not carry the emptied bucket's stale partials")

    // empty the table COMPLETELY: the MV must follow to zero groups
    val rest = BucketedUpsert.read(spark, root).select("k")
    BucketedUpsert.deleteKeys(spark, root, "k", rest, tag = 3)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    assert(IncrAgg.read(spark, mv, Seq("g"), Seq("v")).count() == 0,
      "a fully-emptied table must empty the MV")
  }

  test("untouched buckets' partial rows are carried over, not recomputed") {
    val base = tmp()
    val root = s"$base/t"; val mv = s"$base/mv"
    import spark.implicits._
    val batch1 = (1L to 100L).map(k => (k, "g", k.toDouble, 1L)).toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(batch1, root, "k", "ver", nBuckets = 8, tag = 1)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    val before = Snapshot.read(spark, root = mv)
      .orderBy("graft_bucket").collect().toSeq

    val batch2 = Seq((3L, "g", 999.0, 2L)).toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(batch2, root, "k", "ver", nBuckets = 8, tag = 2)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    val after = Snapshot.read(spark, root = mv)
      .orderBy("graft_bucket").collect().toSeq

    val changedBucket = Seq(3L).toDF("k")
      .select(BucketedUpsert.bucketOf(col("k"), 8)).head.getInt(0)
    val beforeOther = before.filterNot(_.getInt(0) == changedBucket)
    val afterOther = after.filterNot(_.getInt(0) == changedBucket)
    assert(beforeOther == afterOther,
      "partials of untouched buckets must be byte-identical carries")
    assert(before.find(_.getInt(0) == changedBucket) !=
           after.find(_.getInt(0) == changedBucket),
      "the touched bucket's partial must have changed")
  }

  test("refresh fails fast when the MV is ahead of the table") {
    val base = tmp()
    val root = s"$base/t"; val mv = s"$base/mv"
    import spark.implicits._
    val b = Seq((1L, "g", 1.0, 1L)).toDF("k", "g", "v", "ver")
    BucketedUpsert.applyBatch(b, root, "k", "ver", nBuckets = 2, tag = 5)
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    // simulate the ops mistake: table root wiped and restarted at tag 1
    val root2 = s"$base/t2"
    BucketedUpsert.applyBatch(b, root2, "k", "ver", nBuckets = 2, tag = 1)
    val e = intercept[IllegalArgumentException](
      IncrAgg.refresh(spark, root2, mv, "k", Seq("g"), Seq("v")))
    assert(e.getMessage.contains("ahead"))
  }

  test("refresh over a fragmented bucket aggregates the RESOLVED bucket, not the new fragment") {
    val base = tmp()
    val root = s"$base/t"; val mv = s"$base/mv"
    import spark.implicits._
    // one bucket; fragment 1 holds keys A(v=10) and B(v=5); fragment 2
    // UPDATES A to 20. The feed-fed refresh aggregated fragment 2 alone
    // (B lost, sum=20); raw-union partials would double-count A (35).
    // Exact is the resolved bucket: A=20 + B=5.
    BucketedUpsert.appendFragment(
      Seq((1L, "g", 10.0, 1L), (2L, "g", 5.0, 1L)).toDF("k", "g", "v", "ver"),
      root, "k", nBuckets = 1, tag = 1, versionCol = "ver")
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    BucketedUpsert.appendFragment(
      Seq((1L, "g", 20.0, 2L)).toDF("k", "g", "v", "ver"),
      root, "k", nBuckets = 1, tag = 2, versionCol = "ver")
    IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v"))
    val got = IncrAgg.read(spark, mv, Seq("g"), Seq("v")).head()
    assert(got.getLong(1) == 2L && got.getDouble(2) == 25.0,
      s"fragmented refresh must equal the resolved aggregate: $got")
  }

  test("refresh over a fragmented table with NO recorded version column fails fast") {
    val root = s"${tmp()}/t"; val mv = s"${tmp()}/mv"
    import spark.implicits._
    val b = Seq((1L, "g", 10.0)).toDF("k", "g", "v")
    BucketedUpsert.appendFragment(b, root, "k", nBuckets = 1, tag = 1) // no versionCol
    BucketedUpsert.appendFragment(b, root, "k", nBuckets = 1, tag = 2)
    val ex = intercept[IllegalStateException](
      IncrAgg.refresh(spark, root, mv, "k", Seq("g"), Seq("v")))
    assert(ex.getMessage.contains("no version column"), ex.getMessage)
  }
}

package graft

import graft.lake.{BucketedUpsert, Snapshot}
import org.apache.spark.sql.functions._

/** LSM-style fragment ingest on the bucketed table: appendFragment is
  * O(batch), readResolved merges versions exchange-free over the
  * bucketed scan, mergeFragments consolidates without perturbing the
  * change feed or time travel, and the rewrite paths stay correct on
  * fragmented manifests.
  */
class FragmentSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("frag-spec").toString

  test("readResolved over fragments equals applyBatch's resolved state") {
    val base = tmp()
    val frag = s"$base/frag"; val upsert = s"$base/upsert"
    val b1 = (1L to 800L).map(k => (k, s"v1-$k", 1L)).toDF("k", "s", "ver")
    val b2 = (400L to 1000L).map(k => (k, s"v2-$k", 2L)).toDF("k", "s", "ver")
    // out-of-order: a LATE batch with an older version must lose
    val b3 = (600L to 700L).map(k => (k, s"stale-$k", 1L)).toDF("k", "s", "ver")
    for ((b, t) <- Seq(b1, b2, b3).zipWithIndex) {
      BucketedUpsert.appendFragment(b, frag, "k", nBuckets = 8, tag = t + 1)
      BucketedUpsert.applyBatch(b, upsert, "k", "ver", nBuckets = 8, tag = t + 1)
    }
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "s", "ver").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = state(BucketedUpsert.readResolved(spark, frag, "k", "ver"))
    val want = state(BucketedUpsert.read(spark, upsert))
    assert(got == want, s"fragment resolve diverged: ${got.size} vs ${want.size}")
    // the raw fragment table really is fragmented (multi-entry buckets)
    assert(BucketedUpsert.read(spark, frag).count() > got.size,
      "raw read must show superseded fragment rows")
  }

  test("the resolve window runs with ZERO exchange over the bucketed scan") {
    val base = tmp()
    BucketedUpsert.appendFragment(
      (1L to 500L).map(k => (k, k, 1L)).toDF("k", "v", "ver"),
      base, "k", nBuckets = 4, tag = 1)
    BucketedUpsert.appendFragment(
      (250L to 750L).map(k => (k, k * 2, 2L)).toDF("k", "v", "ver"),
      base, "k", nBuckets = 4, tag = 2)
    val resolved = BucketedUpsert.readResolved(spark, base, "k", "ver")
    val sh = graft.plans.PlanInspect.shufflesOf(resolved)
    assert(sh.isEmpty,
      s"merge-on-read must not shuffle, found ${sh.map(_.nodeName)}")
  }

  test("fragment ties on version resolve to the LATER fragment") {
    val base = tmp()
    BucketedUpsert.appendFragment(
      Seq((1L, "first", 5L)).toDF("k", "s", "ver"), base, "k", 2, tag = 1)
    BucketedUpsert.appendFragment(
      Seq((1L, "second", 5L)).toDF("k", "s", "ver"), base, "k", 2, tag = 2)
    val got = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .select("s").head.getString(0)
    assert(got == "second", s"equal versions must break to the later fragment: $got")
  }

  test("changesSince over fragments returns EXACTLY the appended rows") {
    val base = tmp()
    BucketedUpsert.appendFragment(
      (1L to 400L).map(k => (k, 1L)).toDF("k", "ver"), base, "k", 8, tag = 1)
    BucketedUpsert.appendFragment(
      (1000L to 1010L).map(k => (k, 2L)).toDF("k", "ver"), base, "k", 8, tag = 2)
    val feed = BucketedUpsert.changesSince(spark, base, sinceTag = 1)
      .select("k").collect().map(_.getLong(0)).toSet
    // the applyBatch feed returns whole rewritten BUCKETS; the fragment
    // feed is finer — only the new fragment's rows appear
    assert(feed == (1000L to 1010L).toSet,
      s"fragment change feed must be batch-exact, got ${feed.size} rows")
  }

  test("mergeFragments consolidates without changing data, the feed, or retained history") {
    val base = tmp()
    for (t <- 1 to 6)
      BucketedUpsert.appendFragment(
        (1L to 300L).map(k => (k * t, s"b$t-${k * t}", t.toLong))
          .toDF("k", "s", "ver"),
        base, "k", nBuckets = 4, tag = t.toLong, keep = 3)
    val before = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val entriesBefore = Snapshot.read(spark, base).count()
    assert(entriesBefore > 4, s"expected a fragmented manifest: $entriesBefore")

    val nCompacted = BucketedUpsert.mergeFragments(spark, base, "k", "ver",
      tag = 100, keep = 3)
    assert(nCompacted == 4, s"all 4 buckets were fragmented: $nCompacted")
    // one entry per bucket now
    assert(Snapshot.read(spark, base).count() == 4)
    val after = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == before, "compaction must not change resolved data")
    // change feed: compaction moved bytes, not data — nothing to report
    assert(BucketedUpsert.changesSince(spark, base, sinceTag = 6).count() == 0,
      "a compaction must be INVISIBLE to the change feed")
    // ...while data changes BEFORE the horizon still report through the
    // compacted entries (data_tag carries the max merged tag)
    assert(BucketedUpsert.changesSince(spark, base, sinceTag = 5).count() > 0)
    // retained history: the pre-compaction manifest still resolves and
    // its data files still exist (GC keeps what retained manifests pin)
    val prevTag = Snapshot.publishedTags(spark, base).sorted.takeRight(2).head
    assert(prevTag < 100)
    val oldPaths = Snapshot.readAt(spark, base, prevTag)
      .select("path").collect().map(_.getString(0))
    assert(oldPaths.nonEmpty && oldPaths.forall(p =>
      new java.io.File(p.replaceFirst("^file:/+", "/")).exists() ||
        new java.io.File(p).exists()),
      "time travel must still reach pre-compaction data")
    // a later append continues the table normally
    BucketedUpsert.appendFragment(
      Seq((9999L, "late", 9L)).toDF("k", "s", "ver"), base, "k", 4, tag = 101,
      keep = 3)
    assert(BucketedUpsert.readResolved(spark, base, "k", "ver")
      .filter(col("k") === 9999L).count() == 1)
  }

  test("deleteKeys on a fragmented table folds fragments and keeps one entry per bucket") {
    val base = tmp()
    BucketedUpsert.appendFragment(
      (1L to 200L).map(k => (k, 1L)).toDF("k", "ver"), base, "k", 4, tag = 1)
    BucketedUpsert.appendFragment(
      (1L to 200L).map(k => (k, 2L)).toDF("k", "ver"), base, "k", 4, tag = 2)
    val removed = BucketedUpsert.deleteKeys(spark, base, "k",
      Seq(7L).toDF("k"), tag = 3)
    // the key had a row in BOTH fragments of its bucket — raw delete
    assert(removed == 2, s"both fragment rows of k=7 must go: $removed")
    // the touched bucket must collapse to ONE manifest entry
    val mf = Snapshot.read(spark, base)
      .groupBy("bucket").count().collect().map(r => (r.getInt(0), r.getLong(1)))
    val touchedBucket = mf.filter(_._2 > 1)
    // every bucket with >1 entries must be an UNtouched one
    val deletedBucket = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .filter(col("k") === 7L)
    assert(deletedBucket.count() == 0)
    assert(!touchedBucket.exists(_._2 > 2), s"manifest malformed: ${mf.toSeq}")
  }

  test("joining two RESOLVED fragment tables stays exchange-free and version-exact") {
    val base = tmp()
    val l = s"$base/left"; val r = s"$base/right"
    BucketedUpsert.appendFragment(
      (1L to 500L).map(k => (k, s"old-$k", 1L)).toDF("k", "lv", "ver"),
      l, "k", nBuckets = 4, tag = 1)
    BucketedUpsert.appendFragment(
      Seq((7L, "new-7", 2L)).toDF("k", "lv", "ver"), l, "k", 4, tag = 2)
    BucketedUpsert.appendFragment(
      (1L to 500L).map(k => (k, k * 2, 1L)).toDF("k", "rv", "ver"),
      r, "k", nBuckets = 4, tag = 1)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketedUpsert.bucketedJoinResolved(spark, l, r, "k",
        "ver", "ver").select("k", "lv", "rv")
      val rows = joined.collect().map(x => (x.getLong(0), x.getString(1))).toMap
      // superseded fragment rows must NOT join (would duplicate keys)
      assert(rows.size == 500 && rows(7L) == "new-7", s"resolve-join wrong: ${rows.size}")
      assert(joined.count() == 500, "one row per key after resolve")
      // the resolve window preserves the bucketed partitioning: the
      // whole resolve-then-join pipeline adds no exchange
      val sh = graft.plans.PlanInspect.shufflesOf(joined)
      assert(sh.isEmpty, s"resolved join must stay exchange-free: ${sh.map(_.nodeName)}")
      // MISMATCHED counts degrade to ONE exchange (smaller side only),
      // same as bucketedJoin — the resolve windows stay exchange-free
      val r2 = s"$base/right2"
      BucketedUpsert.appendFragment(
        (1L to 500L).map(k => (k, k * 3, 1L)).toDF("k", "rv", "ver"),
        r2, "k", nBuckets = 8, tag = 1)
      val j2 = BucketedUpsert.bucketedJoinResolved(spark, l, r2, "k",
        "ver", "ver").select("k", "lv", "rv")
      val rows2 = j2.collect().map(x => (x.getLong(0), x.getLong(2))).toMap
      assert(rows2.size == 500 && rows2(9L) == 27L)
      val sh2 = graft.plans.PlanInspect.shuffles(
        j2.queryExecution.executedPlan)
      assert(sh2.size == 1,
        s"mismatched resolved join must carry exactly one exchange: ${sh2.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mergeFragmentsIfNeeded fires only at the threshold and no-ops without a tag") {
    val base = tmp()
    for (t <- 1 to 3)
      BucketedUpsert.appendFragment(
        (1L to 100L).map(k => (k, t.toLong)).toDF("k", "ver"),
        base, "k", nBuckets = 2, tag = t.toLong)
    // 3 fragments per bucket < threshold 4: no-op, tag NOT consumed
    assert(BucketedUpsert.mergeFragmentsIfNeeded(spark, base, "k", "ver",
      tag = 50, maxFragments = 4) == 0)
    assert(Snapshot.currentTag(spark, base).contains(3L),
      "a below-threshold poll must not consume the tag")
    BucketedUpsert.appendFragment(
      (1L to 100L).map(k => (k, 4L)).toDF("k", "ver"), base, "k", 2, tag = 4)
    // now 4 fragments: the same poll fires and compacts both buckets
    assert(BucketedUpsert.mergeFragmentsIfNeeded(spark, base, "k", "ver",
      tag = 50, maxFragments = 4) == 2)
    assert(Snapshot.read(spark, base).count() == 2)
    val got = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .select("k", "ver").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 100 && got.forall(_._2 == 4L))
  }

  test("tiered compaction merges the delta tier, leaves the dominant base verbatim, and promotes") {
    val base = tmp()
    // dominant base (20k rows) + four small deltas (200 rows each):
    // the tier run must cover exactly the deltas
    BucketedUpsert.appendFragment(
      (1L to 20000L).map(k => (k, s"base-$k", 1L)).toDF("k", "s", "ver"),
      base, "k", nBuckets = 4, tag = 1, keep = 3)
    for (t <- 2 to 5)
      BucketedUpsert.appendFragment(
        (1L to 200L).map(k => (k * t, s"d$t-${k * t}", t.toLong))
          .toDF("k", "s", "ver"),
        base, "k", nBuckets = 4, tag = t.toLong, keep = 3)
    val before = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val basePathsBefore = Snapshot.read(spark, base)
      .filter(col("data_tag") === 1L)
      .select("path").collect().map(_.getString(0)).toSet
    val n = BucketedUpsert.mergeFragmentsTiered(spark, base, "k", "ver",
      tag = 50, keep = 3)
    assert(n == 4, s"all 4 buckets had a delta tier: $n")
    val mf = Snapshot.read(spark, base)
    // per bucket: the untouched base + ONE merged delta fragment
    assert(mf.count() == 8, s"expected base+merged per bucket: ${mf.count()}")
    val basePathsAfter = mf.filter(col("data_tag") === 1L)
      .select("path").collect().map(_.getString(0)).toSet
    assert(basePathsAfter == basePathsBefore,
      "the dominant base fragments must be referenced VERBATIM, not rewritten")
    val after = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == before, "tiered compaction must not change resolved data")
    // invisible to the change feed, like every compaction
    assert(BucketedUpsert.changesSince(spark, base, sinceTag = 5).count() == 0)
    // PROMOTION: once deltas grow comparable to the base, the run
    // covers everything and the merge is full (single entry per bucket)
    for (t <- 51L to 54L)
      BucketedUpsert.appendFragment(
        (1L to 8000L).map(k => (k + 100000L * t, s"g$t", t))
          .toDF("k", "s", "ver"),
        base, "k", nBuckets = 4, tag = t, keep = 3)
    BucketedUpsert.mergeFragmentsTiered(spark, base, "k", "ver",
      tag = 60, keep = 3)
    assert(Snapshot.read(spark, base).count() == 4,
      "comparable sizes must promote to a full merge")
  }

  test("tiered merge keeps version-tie resolution exact across the merge boundary") {
    val base = tmp()
    // base holds (42, ver=5, old); a NEWER delta holds (42, ver=5, new2):
    // the tie broke to the delta before the merge, and must still break
    // to the MERGED fragment after (its tag is the run's max — every
    // unmerged fragment is strictly older, so relabeling cannot flip
    // any comparison; the run is a tag-contiguous suffix by design)
    BucketedUpsert.appendFragment(
      ((1L to 5000L).map(k => (k + 100L, s"fill-$k", 1L)) :+
        ((42L, "old", 5L))).toDF("k", "s", "ver"),
      base, "k", nBuckets = 2, tag = 1)
    BucketedUpsert.appendFragment(
      Seq((42L, "new2", 5L)).toDF("k", "s", "ver"), base, "k", 2, tag = 2)
    BucketedUpsert.appendFragment(
      Seq((43L, "x", 1L)).toDF("k", "s", "ver"), base, "k", 2, tag = 3)
    BucketedUpsert.mergeFragmentsTiered(spark, base, "k", "ver", tag = 50)
    val got = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .filter(col("k") === 42L).select("s").head.getString(0)
    assert(got == "new2",
      s"version tie must still break to the newer (merged) fragment: $got")
  }

  test("the progress floor forces over-bound buckets under even when the tier rule stalls") {
    val base = tmp()
    // sizes newest-backward in EVERY bucket: tiny(4) behind huge(1-3)
    // — the tier rule stalls at a run of one; with boundFragments the
    // run is forced to a suffix long enough to shrink below the bound
    for (t <- 1L to 3L)
      BucketedUpsert.appendFragment(
        (1L to 30000L).map(k => (k, t)).toDF("k", "ver"),
        base, "k", 2, tag = t)
    BucketedUpsert.appendFragment(
      (1L to 8L).map(k => (k, 4L)).toDF("k", "ver"), base, "k", 2, tag = 4)
    // without the bound: the huge fragment blocks the run → no merge
    assert(BucketedUpsert.mergeFragmentsTiered(spark, base, "k", "ver",
      tag = 50) == 0, "the stalled tier shape must not merge unbounded")
    // threshold-gated poll at maxFragments=4 must still make progress
    val merged = BucketedUpsert.mergeFragmentsIfNeeded(spark, base, "k", "ver",
      tag = 50, maxFragments = 4)
    assert(merged >= 1, s"over-bound buckets must compact: $merged")
    val worst = BucketedUpsert.fragmentCounts(spark, base)
      .values.maxOption.getOrElse(0)
    assert(worst < 4, s"the bound must hold after the forced merge: $worst")
    val got = BucketedUpsert.readResolved(spark, base, "k", "ver")
      .filter(col("k") === 1L).select("ver").head.getLong(0)
    assert(got == 4L, "resolution must survive the forced partial merge")
  }

  test("purgeTombstones refuses a fragmented table (would resurrect superseded versions)") {
    val base = tmp()
    // v1: key 7 live; v2 fragment: key 7 tombstoned. The raw files hold
    // BOTH rows — purging the tombstone row alone would leave v1's live
    // row as the resolve winner, resurrecting the deleted key.
    BucketedUpsert.appendFragment(
      Seq((7L, 1L, false), (8L, 1L, false)).toDF("k", "ver", "del"),
      base, "k", 4, tag = 1, versionCol = "ver")
    BucketedUpsert.appendFragment(
      Seq((7L, 2L, true)).toDF("k", "ver", "del"),
      base, "k", 4, tag = 2, versionCol = "ver")
    val ex = intercept[IllegalArgumentException](
      BucketedUpsert.purgeTombstones(spark, base, "k", "ver",
        col("del"), horizon = 5L, tag = 3))
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // post-merge the table is fragment-free: the purge is exact
    BucketedUpsert.mergeFragments(spark, base, "k", "ver", tag = 3)
    val dropped = BucketedUpsert.purgeTombstones(spark, base, "k", "ver",
      col("del"), horizon = 5L, tag = 4)
    assert(dropped == 1L)
    assert(BucketedUpsert.read(spark, base).select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(8L),
      "after merge+purge only the live key remains — no resurrection")
    // and readLive on a FRAGMENTED table resolves before filtering
    // (the raw filter would leak the superseded live row of k=7)
    val base2 = tmp()
    BucketedUpsert.appendFragment(
      Seq((7L, 1L, false)).toDF("k", "ver", "del"),
      base2, "k", 4, tag = 1, versionCol = "ver")
    BucketedUpsert.appendFragment(
      Seq((7L, 2L, true)).toDF("k", "ver", "del"),
      base2, "k", 4, tag = 2, versionCol = "ver")
    assert(BucketedUpsert.readLive(spark, base2, col("del")).count() == 0,
      "readLive leaked a superseded live row past its key's tombstone")
  }

  test("readLive on a fragmented table with NO recorded version column fails fast") {
    val base = tmp()
    val b = Seq((7L, 1L, false)).toDF("k", "ver", "del")
    BucketedUpsert.appendFragment(b, base, "k", 4, tag = 1) // no versionCol
    BucketedUpsert.appendFragment(b, base, "k", 4, tag = 2)
    val ex = intercept[IllegalStateException](
      BucketedUpsert.readLive(spark, base, col("del")).count())
    assert(ex.getMessage.contains("no version column"), ex.getMessage)
  }

  test("appendFragment guards the ledger: empty first batch creates nothing, reused tags fail") {
    val base = tmp()
    BucketedUpsert.appendFragment(
      spark.emptyDataFrame.select(lit(1L).as("k"), lit(1L).as("ver")).limit(0),
      base, "k", 4, tag = 1)
    assert(Snapshot.currentTag(spark, base).isEmpty,
      "an empty FIRST batch must not create the table")
    assert(!new java.io.File(s"$base/data/v1").exists(),
      "an empty FIRST batch must not leave its write dir behind")
    BucketedUpsert.appendFragment(
      Seq((1L, 1L)).toDF("k", "ver"), base, "k", 4, tag = 1)
    intercept[IllegalArgumentException](
      BucketedUpsert.appendFragment(
        Seq((2L, 1L)).toDF("k", "ver"), base, "k", 4, tag = 1))
    intercept[IllegalArgumentException](
      BucketedUpsert.appendFragment(
        Seq((2L, 1L)).toDF("k", "ver"), base, "k", 8, tag = 2))
  }
}

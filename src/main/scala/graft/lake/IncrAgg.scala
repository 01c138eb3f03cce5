package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental materialized aggregate over a [[BucketedUpsert]] table —
  * the downstream consumer the bucket-level change feed exists for.
  *
  * The MV is stored as BUCKET-LEVEL PARTIALS: one row per
  * (bucket, group) holding a count and exact DECIMAL sums, published
  * through the same [[Snapshot]] pointer protocol at the base table's
  * tag. That representation is what makes maintenance bucket-granular:
  * an upsert batch rewrites k of n buckets, [[refresh]] recomputes the
  * partials of exactly those k buckets from [[BucketedUpsert.changesSince]]
  * (a rewritten bucket returns all its current rows — precisely a full
  * recompute of that bucket's partials) and carries every other
  * bucket's partial row over untouched. No diff-vs-old-values logic is
  * needed, because the bucket is the unit of both rewrite and
  * recompute.
  *
  * At 100 TB with daily batches touching k of n buckets, refresh cost
  * is O(k/n · table + batch) — the same ratio the bucketed write
  * already pays — while a naive MV rebuild rescans the full table.
  * [[read]] final-combines the partials, an (n_buckets × groups)-sized
  * aggregation: metadata-scale next to the table. Sums accumulate in
  * DECIMAL at both stages, so the result is exact and independent of
  * combine order (double summation would drift between partial
  * groupings).
  */
object IncrAgg {

  private def cntCol = "graft_cnt"
  private def sumName(c: String) = s"graft_sum_$c"

  /** Bring the MV at `mvRoot` up to the base table's published tag,
    * recomputing only buckets rewritten since the MV's own tag.
    * Returns the number of buckets recomputed (0 when already fresh).
    * `groupCols` are the aggregate's grouping columns; `sumCols` are
    * summed exactly as DECIMAL(12,2) — the money-sum convention the
    * query surface uses everywhere.
    */
  def refresh(spark: SparkSession, tableRoot: String, mvRoot: String,
              key: String, groupCols: Seq[String], sumCols: Seq[String],
              keep: Int = 2): Int = {
    require(groupCols.nonEmpty, "at least one grouping column")
    maintain(spark, tableRoot, mvRoot, keep) { (changed, nBuckets) =>
      val aggs = count(lit(1)).as(cntCol) +:
        sumCols.map(c => sum(col(c).cast(DecimalType(12, 2))).as(sumName(c)))
      changed
        .withColumn("graft_bucket",
          BucketedUpsert.bucketOf(col(key), nBuckets))
        .groupBy("graft_bucket", groupCols: _*)
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Shared bucket-granular maintenance skeleton: figure out which
    * buckets the base table changed since the MV's tag, recompute THEIR
    * partial rows via `partialsOf` over the buckets' FULL CURRENT
    * CONTENT (every fragment, resolved to current rows where the table
    * is fragmented), carry every other bucket's partial row over
    * untouched, and publish at the table's tag. `partialsOf` must emit
    * a `graft_bucket` column — it is the carry-over key. Returns the
    * number of buckets recomputed.
    *
    * NOT the change feed: `changesSince` returns only entries newer
    * than the MV's tag, which on a FRAGMENTED bucket is the new
    * fragment alone — replacing the bucket's partials with that would
    * silently lose every older fragment's values (Bloom false
    * negatives, under-counted aggregates) and, for numeric partials,
    * double-count rows a fragment superseded. Recomputing from the
    * whole bucket is identical in cost and content on applyBatch
    * tables (a rewritten bucket IS its one changed entry) and exact on
    * fragmented ones. */
  private[lake] def maintain(spark: SparkSession, tableRoot: String,
                             mvRoot: String, keep: Int)(
      partialsOf: (DataFrame, Int) => DataFrame): Int = {
    val tableTag = Snapshot.currentTag(spark, tableRoot).getOrElse(
      throw new IllegalStateException(s"no published table under $tableRoot"))
    val mvTag = Snapshot.currentTag(spark, mvRoot)
    mvTag.foreach(mt => require(mt <= tableTag,
      s"MV at $mvRoot is tagged $mt, ahead of the table's $tableTag — " +
        "the MV must be maintained against one table root"))
    if (mvTag.contains(tableTag)) return 0

    val entries = BucketedUpsert.manifestEntries(spark, tableRoot)
    if (entries.isEmpty) {
      // an EMPTY published manifest: either a zero-row first batch (no
      // MV yet — nothing to build, no schema to build it from; the
      // first non-empty batch's refresh catches up from the feed), or
      // the table was emptied COMPLETELY (every bucket vanished — the
      // MV must follow, or it would report the deleted data forever)
      mvTag match {
        case None => return 0
        case Some(_) =>
          val mvBuckets = FileStats.localDistinct(
            Snapshot.readLocalized(spark, mvRoot)
              .select("graft_bucket")).count().toInt
          Snapshot.publish(Snapshot.read(spark, mvRoot).limit(0),
            mvRoot, tableTag, keep)
          return mvBuckets
      }
    }
    val nBuckets = entries.head.nBuckets
    val since = mvTag.getOrElse(Long.MinValue)
    val currentBuckets = entries.map(_.bucket).toSet
    // a bucket the MV knows that is ABSENT from the current manifest
    // was fully emptied (rewriteBuckets drops empty buckets) — it is in
    // nobody's change feed, so it must be EXPLICITLY dropped from the
    // carried partials or its stale rows would survive forever
    val vanished = mvTag match {
      case None => Set.empty[Int]
      case Some(_) => FileStats.localDistinct(
          Snapshot.readLocalized(spark, mvRoot).select("graft_bucket"))
        .collect().map(_.getInt(0)).toSet -- currentBuckets
    }
    val changedBuckets = entries
      .filter(_.dataTag > since)
      .map(_.bucket).toSet ++ vanished

    val changedEntries = entries.filter(e => changedBuckets(e.bucket))
    val feed0 =
      if (changedEntries.isEmpty) BucketedUpsert.emptyTable(spark, tableRoot)
      else BucketedUpsert.readPaths(spark, tableRoot, changedEntries.map(_.path))
    // a fragmented changed bucket holds superseded rows physically —
    // partials must see the RESOLVED bucket (restricted resolution is
    // exact: a key's fragments all live in its own bucket)
    val feed = BucketedUpsert.mergeOnRead(tableRoot, entries, changedEntries)
      .fold(feed0)(_(feed0))
    val changedPartials = partialsOf(feed, nBuckets)

    val mv = mvTag match {
      case None => changedPartials
      case Some(_) =>
        Snapshot.readLocalized(spark, mvRoot)
          .filter(!col("graft_bucket").isin(changedBuckets.toSeq: _*))
          .unionByName(changedPartials)
    }
    // partials are (buckets × groups)-sized — metadata-scale; land small
    Snapshot.publish(mv.coalesce(1), mvRoot, tableTag, keep)
    changedBuckets.size
  }

  /** The aggregate the MV materializes: final-combine of the bucket
    * partials — `n` plus one exact `sum_<c>` (DOUBLE out) per sum
    * column. */
  def read(spark: SparkSession, mvRoot: String,
           groupCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    val aggs = sum(col(cntCol)).as("n") +:
      sumCols.map(c => sum(col(sumName(c))).cast(DoubleType).as(s"sum_$c"))
    Snapshot.readLocalized(spark, mvRoot)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}

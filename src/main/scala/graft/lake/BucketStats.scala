package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** BUCKET-granular zone maps over a [[BucketedUpsert]] table's VALUE
  * columns (VERDICT r17 #4) — the range-predicate counterpart of the
  * [[SecondaryIndex]] equality Bloom: one row per bucket holding
  * count/min/max of the indexed columns over the bucket's RESOLVED
  * current rows, maintained bucket-granularly through the same
  * [[IncrAgg.maintain]] skeleton (an upsert batch rewrites k buckets;
  * refresh recomputes exactly those k partial rows) and published via
  * [[Snapshot]] at the table's tag, so staleness is tag-parity-checked
  * exactly like the secondary index.
  *
  * The unit is the BUCKET, not the file, for two reasons:
  *  - resolution safety: on a fragmented table, file-level pruning
  *    could drop a fragment holding a key's LATEST (non-matching)
  *    version while keeping an older in-range one — the resolve would
  *    then resurrect the superseded row. A bucket is skippable iff no
  *    CURRENT row in it can match (resolved-row bounds say exactly
  *    that), and a surviving bucket is read WHOLE, so resolution stays
  *    exact by construction.
  *  - stats over RESOLVED rows are tighter than raw-file bounds (a
  *    superseded extreme value does not hold its bucket hostage).
  *
  * Candor about selectivity: the table hashes on its KEY, so a value
  * column prunes only where its values CORRELATE with buckets (or the
  * predicate is near-empty). The index is metadata-scale (n_buckets ×
  * columns), so carrying it is cheap even when a query's column does
  * not prune; [[Routing.readWhere]] falls back to the resolved full
  * scan transparently.
  */
object BucketStats {

  private def minName(c: String) = s"min_$c"
  private def maxName(c: String) = s"max_$c"

  /** Bring the bucket-stats index at `ixRoot` up to the table's
    * published tag, recomputing only rewritten buckets' rows over
    * their resolved current content. Returns buckets recomputed. */
  def refresh(spark: SparkSession, tableRoot: String, ixRoot: String,
              key: String, cols: Seq[String], keep: Int = 2): Int = {
    require(cols.nonEmpty, "at least one column to index")
    // the indexed column set is fixed at creation (a refresh carrying
    // different columns would union mismatched schemas silently)
    Snapshot.currentTag(spark, ixRoot).foreach { _ =>
      val stored = Snapshot.readLocalized(spark, ixRoot).columns
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).sorted.toSeq
      require(stored == cols.sorted,
        s"bucket-stats index at $ixRoot covers ${stored.mkString(",")} — " +
          s"refresh got ${cols.sorted.mkString(",")}; columns are fixed at " +
          "index creation")
    }
    IncrAgg.maintain(spark, tableRoot, ixRoot, keep) { (changed, nBuckets) =>
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(min(col(c)).as(minName(c)),
          max(col(c)).as(maxName(c))))
      changed
        .withColumn("graft_bucket",
          BucketedUpsert.bucketOf(col(key), nBuckets))
        .groupBy("graft_bucket")
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The indexed columns the manifest at `ixRoot` carries. */
  private[lake] def indexedCols(spark: SparkSession,
                                ixRoot: String): Seq[String] =
    Snapshot.readLocalized(spark, ixRoot).columns
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq

  /** The buckets whose resolved [min,max] intersects EVERY bound — a
    * bucket skippable on ANY dimension is skipped. Bounds may be
    * half-open ([[FileStats.prunedFilesOpt]] semantics); NULL bucket
    * bounds (all-NULL column in the bucket) never intersect. */
  def prunedBuckets(spark: SparkSession, ixRoot: String,
                    bounds: Seq[(String, Option[Column], Option[Column])])
      : Seq[Int] =
    Snapshot.readLocalized(spark, ixRoot)
      .filter(FileStats.boundsIntersect(bounds)) // one builder, two pruners
      .select("graft_bucket").collect().map(_.getInt(0)).toSeq

  /** METADATA-ONLY count/min/max over the indexed columns of the
    * BUCKETED table — exact, because the partials are exact over each
    * bucket's resolved rows (superseded fragment rows never count).
    * Same manifest-read economics as [[FileStats.aggFromStats]]. The
    * caller gates freshness (tag parity) — [[Routing.aggStats]] does. */
  def aggFromStats(spark: SparkSession, ixRoot: String,
                   cols: Seq[String]): DataFrame = {
    val aggs = coalesce(sum(col("n_rows")), lit(0L)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(minName(c))).as(minName(c)),
        max(col(maxName(c))).as(maxName(c))))
    Snapshot.readLocalized(spark, ixRoot).agg(aggs.head, aggs.tail: _*)
  }
}

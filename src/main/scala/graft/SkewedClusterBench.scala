package graft

import graft.lake.BucketedUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SKEWED-bucket leg of the DSv2 clustered-scan story (VERDICT r20
  * #4 / r21 #8): the clustered scan plans ONE partition per admitted
  * bucket, so a bucket holding a disproportionate share of the rows is
  * a single straggler task — the one known 100 TB skew hole of the
  * zero-exchange claim. This bench synthesizes co-bucketed join sides
  * whose KEY SPACE is adversarially clustered (a chosen share of all
  * rows carries keys that hash into bucket 0 — an upsert table cannot
  * hold a hot KEY, every key is unique; the hot unit is the BUCKET),
  * then measures the same checksum join three ways:
  *
  *   clustered  v2 bucketing on — zero exchange, hot bucket = 1 task
  *   partial    clustered + pushPartValues + partiallyClustered-
  *              Distribution — Spark's SPJ skew knob; with one input
  *              partition per bucket (and one certified-sorted file
  *              per bucket) there is NOTHING to split, so this is
  *              expected to equal `clustered`; the bench PROVES it
  *   shuffled   v2 bucketing off — both sides exchanged; AQE's skew-
  *              join machinery sees ordinary shuffle partitions and
  *              can split the hot one at runtime
  *
  * Alongside wall seconds it reports each variant's max single-task
  * duration (the straggler itself) and shuffle bytes. The crossover
  * hotPct where `shuffled` beats `clustered` is the threshold at which
  * the claim stops paying — recorded in SCALE.md with the mitigation
  * (bucket-count sizing at write, or fragment layout whose per-file
  * splits a future per-file HasPartitionKey plan could regroup).
  *
  * Usage: graft.SkewedClusterBench [nRows] [nBuckets] [hotPcts]
  * (defaults 16000000, 64, "0,10,30,50") — one JSON line per hotPct.
  */
object SkewedClusterBench {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(16000000L)
    val nBuckets = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    // the cold side spreads over buckets 1..n-1 (n - 1 is a divisor)
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val hotPcts = args.drop(2).headOption.getOrElse("0,10,30,50")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the clustered-vs-shuffled comparison only exists where the dim
      // cannot broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // max single-task duration inside each timed region — the straggler
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = e.taskInfo.duration
          var cur = maxTaskMs.get()
          while (d > cur && !maxTaskMs.compareAndSet(cur, d))
            cur = maxTaskMs.get()
        }
      })

    def run(mk: => DataFrame): (Double, Long, Long, Long) = {
      val out = mk
      maxTaskMs.set(0)
      val t0 = System.nanoTime()
      val n = out.collect().head.getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously — settle before reading
      Thread.sleep(500)
      (sec, maxTaskMs.get(), graft.plans.PlanInspect.shuffleBytesWritten(out), n)
    }
    def withConfs[T](kv: (String, String)*)(body: => T): T = {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val bucketingOn = "spark.sql.sources.v2.bucketing.enabled" -> "true"
    // EXPLICITLY off — Spark 4 enables v2 bucketing by default, so an
    // unset session silently runs the clustered plan (a first cut of
    // this bench measured three SPJ runs and called one "shuffled")
    val bucketingOff = "spark.sql.sources.v2.bucketing.enabled" -> "false"
    val partialOn = Seq(
      bucketingOn,
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true")

    hotPcts.foreach { hotPct =>
      val work = java.nio.file.Files
        .createTempDirectory(s"skewclu-h$hotPct").toString
      // Deterministic key synthesis: candidate ranges filtered by the
      // table's own bucket function. nBuckets-fold oversampling makes
      // the filtered count land near the target (reported exactly).
      val hotTarget = nRows * hotPct / 100
      val coldTarget = nRows - hotTarget
      val hot =
        if (hotTarget == 0) spark.range(0).select(col("id").as("k"))
        else spark.range(0, hotTarget * nBuckets)
          .select(col("id").as("k"))
          .filter(BucketedUpsert.bucketOf(col("k"), nBuckets) === 0)
      val cold = spark
        .range(1L << 40, (1L << 40) + coldTarget * nBuckets / (nBuckets - 1))
        .select(col("id").as("k"))
        .filter(BucketedUpsert.bucketOf(col("k"), nBuckets) =!= 0)
      val keys = hot.union(cold)
      def side(tag: String) = keys.select(col("k"), lit(1L).as("ver"),
        concat(lit(tag), col("k"), lit("x" * 90)).as(s"payload_$tag"))
      BucketedUpsert.applyBatch(side("l"), s"$work/db/l", "k", "ver",
        nBuckets, 1)
      BucketedUpsert.applyBatch(side("r"), s"$work/db/r", "k", "ver",
        nBuckets, 1)
      val cat = graft.sources.GraftSql.registerCatalog(spark, work)
      def join() = spark.sql(
        s"""SELECT count(*) AS n, sum(hash(l.k, l.payload_l, r.payload_r)) AS hs
            FROM $cat.db.l l JOIN $cat.db.r r ON l.k = r.k""")

      val nKeys = keys.count()
      val hotRows = hot.count()
      // warm codecs/JIT once per fixture
      withConfs(bucketingOn)(run(spark.sql(
        s"SELECT count(*) AS n FROM (SELECT k FROM $cat.db.l LIMIT 1000)")))

      // two reps per variant, min wall kept — the first execution of a
      // plan shape pays codegen/readahead the steady state does not
      def best(confs: (String, String)*): (Double, Long, Long) = {
        val reps = Seq.fill(2) {
          val (sec, maxMs, sh, n) = withConfs(confs: _*)(run(join()))
          require(n == nKeys, s"cardinality drift: $n vs $nKeys")
          (sec, maxMs, sh)
        }
        reps.minBy(_._1)
      }
      val (cluSec, cluMax, cluSh) = best(bucketingOn)
      val (parSec, parMax, parSh) = best(partialOn: _*)
      val (shfSec, shfMax, shfSh) = best(bucketingOff)
      // the 100 TB regime emulated: at production sizes the hot reduce
      // partition exceeds AQE's ABSOLUTE skew threshold (256 MB) and
      // gets split at runtime; at this toy scale it sits under it and
      // AQE declines (same absolute-trigger blind spot SkewBench
      // documents) — lower the trigger so the split actually happens
      val (splSec, splMax, splSh) = best(bucketingOff,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")

      println(
        f"""{"metric":"skewed_cluster","rows":$nKeys,"n_buckets":$nBuckets,"hot_pct":$hotPct,"hot_rows":$hotRows,"clustered_sec":$cluSec%.2f,"clustered_max_task_ms":$cluMax,"clustered_shuffle_mb":${cluSh / 1e6}%.1f,"partial_sec":$parSec%.2f,"partial_max_task_ms":$parMax,"partial_shuffle_mb":${parSh / 1e6}%.1f,"shuffled_sec":$shfSec%.2f,"shuffled_max_task_ms":$shfMax,"shuffled_shuffle_mb":${shfSh / 1e6}%.1f,"shuffled_split_sec":$splSec%.2f,"shuffled_split_max_task_ms":$splMax,"shuffled_split_shuffle_mb":${splSh / 1e6}%.1f}""")
    }
    spark.stop()
  }
}

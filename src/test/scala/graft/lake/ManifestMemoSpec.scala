package graft.lake

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Bucketed-upsert manifests are read through the localize memo: a
  * freshly published one is served from the seed that
  * [[Snapshot.publishRows]] plants (reading it back submits no Spark job,
  * and planning a read of the table submits none beyond what its data
  * files alone need), and a legacy one parses with the later columns'
  * defaults.
  */
class ManifestMemoSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs submitted while it ran. The
    * listener bus delivers events in order, so once a fence job run
    * after `body` has been seen, every job `body` submitted has been. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val fence = s"job-count-fence-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription(fence)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(fence), "the fence job never reached the listener")
      (out, seen.toArray.takeWhile(_ != fence).length)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("applyBatch's published manifest costs zero jobs to read and plan") {
    import spark.implicits._
    val root = tmp("manifest-jobs") + "/t"
    BucketedUpsert.applyBatch(Seq((1L, "a", 1L), (2L, "b", 1L))
      .toDF("k", "v", "ver"), root, "k", "ver", 4, tag = 1)
    BucketedUpsert.applyBatch(Seq((2L, "B", 2L), (3L, "c", 2L))
      .toDF("k", "v", "ver"), root, "k", "ver", 4, tag = 2)
    val (entries, entryJobs) =
      jobsDuring(BucketedUpsert.manifestEntries(spark, root))
    assert(entries.map(_.dataTag).max == 2L)
    assert(entryJobs == 0, s"manifestEntries submitted $entryJobs jobs")
    // planning a read of the data files alone (Spark's own footer
    // schema inference may submit a job) is the floor: resolving the
    // manifest must add nothing to it
    def planned(df: => org.apache.spark.sql.DataFrame) =
      jobsDuring { val d = df; d.queryExecution.executedPlan; d }
    val (_, dataJobs) = planned(
      BucketedUpsert.readPaths(spark, root, entries.map(_.path)))
    val (df, planJobs) = planned(BucketedUpsert.read(spark, root))
    assert(planJobs == dataJobs, s"planning the read submitted $planJobs " +
      s"jobs; its data files alone need $dataJobs")
    assert(df.as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 2L)))
  }

  test("a legacy manifest without the later columns parses with their defaults") {
    import spark.implicits._
    val root = tmp("manifest-legacy") + "/t"
    val path = s"$root/data/v3/graft_bucket=0"
    Snapshot.publish(Seq((0, path, 4)).toDF("bucket", "path", "n_buckets"),
      root, tag = 3)
    assert(BucketedUpsert.manifestEntries(spark, root) ==
      Seq(BucketedUpsert.Entry(0, path, 4, dataTag = 3L, keyCol = "",
        sorted = false)))
  }
}

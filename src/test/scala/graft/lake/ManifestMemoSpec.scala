package graft.lake

import graft.SparkSpec

/** Bucketed-upsert manifests are read through the localize memo: a
  * freshly published one is served from the seed that
  * [[Snapshot.publishRows]] plants (reading it back submits no Spark job,
  * and neither does planning a read of the table), and a legacy one
  * parses with the later columns' defaults.
  */
class ManifestMemoSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

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
    // the read plans from the recorded schema (a memo hit), so neither
    // the manifest nor the schema costs a job, and Spark infers none:
    // a 4-bucket read lists its 4 leaf dirs on the driver
    val (df, planJobs) = jobsDuring {
      val d = BucketedUpsert.read(spark, root); d.queryExecution.executedPlan; d }
    assert(planJobs == 0, s"planning the read submitted $planJobs jobs")
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

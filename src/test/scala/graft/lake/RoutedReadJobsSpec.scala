package graft.lake

import graft.SparkSpec
import graft.sources.{GraftSource, GraftSql}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark jobs per routed read on the `lake_index` benchmark's table
  * shape: 15,000 rows in 64 buckets keyed by `anno_id`, a secondary
  * index on `image_id` and bucket zone maps on `score`. Every read
  * plans from the table's recorded schema, so the table's own metadata
  * submits no job. Each read runs once to warm the localize memo
  * before it is counted, as the benchmark warms up.
  */
class RoutedReadJobsSpec extends SparkSpec {

  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("routed-jobs").toString + "/annos"
    val rows = spark.range(0, 15000).select(
      col("id").as("anno_id"),
      (col("id") % 1875).as("image_id"),
      concat(lit("cat-"), (col("id") % 8).cast("string")).as("category"),
      (pmod(hash(col("id")), lit(1000000)) / 1e6).as("score"),
      lit(1L).as("ver"),
      sha1(col("id").cast("string")).as("payload"))
    BucketedUpsert.applyBatch(rows, r, "anno_id", "ver", nBuckets = 64, tag = 1)
    Routing.indexSecondary(spark, r, "anno_id", "image_id")
    Routing.indexBucketStats(spark, r, "anno_id", Seq("score"))
    GraftSql.registerView(spark, r, "routed_jobs_annos")
    r
  }

  /** Jobs of `read`'s second run, with its rows. */
  private def steadyJobs[T](read: => T): (T, Int) = { read; jobsDuring(read) }

  test("a key-IN readWhere submits only its scan") {
    val (rows, jobs) = steadyJobs(Routing.readWhere(spark, root,
      col("anno_id").isin(7L, 4242L, 14999L, 20000L)).collect())
    assert(rows.map(_.getAs[Long]("anno_id")).toSet == Set(7L, 4242L, 14999L))
    assert(jobs == 1, s"key-IN readWhere submitted $jobs jobs")
  }

  test("a secondary-index readWhere submits only its scan") {
    val (rows, jobs) = steadyJobs(Routing.readWhere(spark, root,
      col("image_id") === 42L).collect())
    assert(rows.length == 8 && rows.forall(_.getAs[Long]("image_id") == 42L))
    assert(jobs == 1, s"secondary-index readWhere submitted $jobs jobs")
  }

  test("a zone-map readWhere submits its scan and one listing") {
    val pred = col("score") >= 0.5 && col("score") < 0.5005
    val (rows, jobs) = steadyJobs(Routing.readWhere(spark, root, pred).collect())
    val want = BucketedUpsert.read(spark, root).filter(pred).count()
    assert(want > 0 && rows.length == want)
    // the bucket-stats index is read through the localize memo (no job);
    // besides the scan: every bucket spans the random scores' range, so
    // all 64 dirs are admitted and Spark lists them with a
    // parallel-listing job (more than 32 paths)
    assert(jobs == 2, s"zone-map readWhere submitted $jobs jobs")
  }

  test("SQL over the registered view submits only its scan") {
    val (rows, jobs) = steadyJobs(spark.sql(
      "SELECT anno_id FROM routed_jobs_annos WHERE anno_id IN (7, 4242, 20000)")
      .collect())
    assert(rows.map(_.getLong(0)).toSet == Set(7L, 4242L))
    assert(jobs == 1, s"SQL over the view submitted $jobs jobs")
  }

  test("GraftSource.inferSchema submits no job") {
    val opts = new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("path", root))
    val (schema, jobs) = steadyJobs(new GraftSource().inferSchema(opts))
    assert(schema.fieldNames.toSeq ==
      Seq("anno_id", "image_id", "category", "score", "ver", "payload"))
    assert(jobs == 0, s"inferSchema submitted $jobs jobs")
  }
}

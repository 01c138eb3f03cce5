package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.concurrent.Future
import scala.concurrent.duration._

/** The driver's one pool ([[Overlap]]): overlapped index builds and
  * refreshes equal their serial forms, `all` settles every sibling
  * before it rethrows, and tasks that fan out on the pool they run on
  * complete even when the pool is saturated.
  */
class OverlapSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeTree(root: String): Unit =
    spark.range(0, 4000).select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(4).write.parquet(s"$root/data")

  private def manifestRows(root: String, blooms: Seq[String]): Seq[Seq[String]] =
    (s"$root/ix/stats" +: blooms.map(c => s"$root/ix/bloom/$c")).map(d =>
      FileStats.manifestDf(spark, d).collect().map(_.toString).sorted.toSeq)

  test("buildIndexes equals indexStats followed by indexBloom") {
    val root = tmp("ovl-build")
    writeTree(root)
    Routing.indexStats(spark, root, Seq("k", "v"))
    Seq("k", "v").foreach(c => Routing.indexBloom(spark, root, c))
    val serial = manifestRows(root, Seq("k", "v"))
    Routing.buildIndexes(spark, root, Seq("k", "v"), Seq("k", "v"))
    val overlapped = manifestRows(root, Seq("k", "v"))
    assert(serial.forall(_.nonEmpty))
    assert(overlapped == serial)
  }

  test("refreshIndexes sums the per-manifest serial refreshes") {
    val (a, b) = (tmp("ovl-refresh-a"), tmp("ovl-refresh-b"))
    Seq(a, b).foreach { root =>
      writeTree(root)
      Routing.indexStats(spark, root, Seq("v"))
      Seq("k", "v").foreach(c => Routing.indexBloom(spark, root, c))
      // churn: one original file vanishes, one new file lands
      val victim = new java.io.File(s"$root/data").listFiles()
        .filter(_.getName.startsWith("part-")).minBy(_.getName)
      assert(victim.delete())
      spark.range(5000, 5100).select(col("id").as("k"), (col("id") % 97).as("v"))
        .coalesce(1).write.mode("append").parquet(s"$root/data")
    }
    val overlapped = Routing.refreshIndexes(spark, a)
    spark.catalog.refreshByPath(s"$b/data")
    val serial = FileStats.refreshStats(spark, s"$b/data", s"$b/ix/stats") +:
      Seq("k", "v").map(c =>
        BloomIndex.refreshBloom(spark, s"$b/data", s"$b/ix/bloom/$c", c))
    assert(overlapped == ((serial.map(_._1).sum, serial.map(_._2).sum)))
    assert(overlapped._1 > 0 && overlapped._2 > 0, s"no churn seen: $overlapped")
  }

  test("all rethrows the first failure only after every sibling settles") {
    import Overlap.ec
    val settled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slow = Future { Thread.sleep(500); settled.set(true); 1 }
    val first = Future[Int](throw new IllegalStateException("first"))
    val second = Future[Int](throw new IllegalArgumentException("second"))
    val e = intercept[IllegalStateException](
      Overlap.all(Seq(slow, first, second)))
    assert(e.getMessage == "first")
    assert(settled.get, "a sibling was still running when the failure surfaced")
    intercept[java.util.concurrent.TimeoutException](
      Overlap.all(Seq(Future(Thread.sleep(2000))), 100.millis))
  }

  test("32 tasks fanning out footer reads on the saturated pool all complete") {
    import Overlap.ec
    val dir = tmp("ovl-saturate") + "/d"
    spark.range(0, 800).repartition(8).write.parquet(dir)
    // each task holds its pool thread before fanning out, so the inner
    // footer reads find all 16 threads busy; a queueing pool would park
    // them behind the outer tasks that wait on them
    val outer = (1 to 32).map(_ => Future {
      Thread.sleep(50)
      FileStats.footerRowCount(spark, Seq(dir))
    })
    assert(Overlap.all(outer, 2.minutes) == Seq.fill(32)(800L))
  }
}

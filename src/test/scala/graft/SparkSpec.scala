package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; tests must not mutate session state.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Scheme-normalized path (the form `input_file_name` joins use). */
  def normPath(s: String): String =
    graft.lake.FileStats.normPath(s)

  /** The files the executed plan's DSv2 batch scans actually read
    * (AQE-transparent) — the physical files-opened oracle shared by
    * the routing/DSv2 suites (one copy: a Spark plan-shape change must
    * not silently empty one suite's assertion while the other keeps
    * working). */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.collect { case b: BatchScanExec => b }
    }
    scans(df.queryExecution.executedPlan).map(_.scan).flatMap {
      case f: FileScan => f.fileIndex.inputFiles.toSeq
      case g: graft.sources.GraftBucketedScan => g.inputFiles
      case g: graft.sources.GraftDvScan => g.inputFiles
      case _ => Seq.empty
    }.map(normPath).toSet
  }

  /** `body`'s result and the Spark jobs submitted while it ran. The
    * listener bus delivers events in order, so once a fence job run
    * after `body` has been seen, every job `body` submitted has been. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

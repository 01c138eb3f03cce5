package graft

import graft.export.Coco
import graft.operators.SeqIds
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

/** Pins the export path's single-execution contract: annotationRecords
  * must execute its anno input plan exactly once per export, no matter
  * how many internal actions (dim collects, SeqIds count pass) it
  * issues. A nondeterministic spy UDF on the anno source counts per-row
  * evaluations in an accumulator; the multi-execution anti-pattern this
  * guards against (each dim collect re-running the full upstream anno
  * projection — at 100 TB, repeated fact-table scans) multiplies the
  * count by 3-4×, so `== nRows` fails loudly if a future correctness
  * fix silently re-introduces an uncached collect.
  */
class ExportExecCountSpec extends SparkSpec {
  import spark.implicits._

  private def spiedFrames(accName: String) = {
    val acc = spark.sparkContext.longAccumulator(accName)
    val spy = udf { s: String => acc.add(1); s }.asNondeterministic()
    val base = (0 until 120).map { i =>
      val x0 = (i % 7).toDouble; val y0 = (i % 5).toDouble
      (s"img_${i % 11}", s"cat_${i % 3}", i.toLong,
        Seq(x0, y0, x0 + 4, y0, x0, y0 + 3),
        Seq(x0, y0, 4.0, 3.0, 0.0))
    }.toDF("image_name", "category", "anno_key", "segmentation", "rcoco")
    val annos = base.withColumn("image_name", spy(col("image_name")))
    // images derived from the SAME anno frame, as Synth.images derives
    // from Synth.annos — exercises the cache-substitution path too
    val images = annos.select("image_name").distinct()
      .withColumn("width", lit(640L)).withColumn("height", lit(480L))
    (acc, annos, images)
  }

  // listener bus is async — require the count stable across THREE
  // consecutive polls so a single >250 ms bus stall (GC, loaded CI
  // box) can't end the wait early and under-count
  private def awaitStable(count: => Int): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      if (count == last) stable += 1 else { stable = 0; last = count }
      Thread.sleep(250)
    }
  }

  test("annotationRecords executes the anno source exactly once") {
    val (acc, annos, images) = spiedFrames("annoExecARecs")
    val out = Coco.annotationRecords(annos, images, "anno_key").collect()
    SeqIds.releaseAll()
    assert(out.length == 120)
    assert(acc.value == 120L,
      s"anno source evaluated ${acc.value} row-executions for 120 rows — " +
        "the export path is re-executing its input plan")
  }

  test("cocoDocument executes the anno source exactly once") {
    val (acc, annos, images) = spiedFrames("annoExecDoc")
    val doc = Coco.cocoDocument(annos, images, "anno_key", train = true)
    SeqIds.releaseAll()
    assert(doc.contains("\"annotations\""))
    assert(acc.value == 120L,
      s"anno source evaluated ${acc.value} row-executions for 120 rows")
  }

  test("broadcast tier: images and categories sections submit no job") {
    // The writer tags the driver thread with the section being written
    // (a Spark local property, captured synchronously at job submission),
    // so every job is attributed to the section that submitted it. In the
    // broadcast tier both dim sections stream rows the records' one dim
    // collect already holds; only the annotations section fetches.
    val sc = spark.sparkContext
    val key = "graft.test.cocoSection"
    val perSection = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
    val total = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(js.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(s => perSection.computeIfAbsent(s, _ => new AtomicInteger).incrementAndGet())
        total.incrementAndGet()
      }
    }
    val sections = Seq("images", "annotations", "categories")
    val tagging = new java.io.Writer() {
      override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
        val chunk = new String(cbuf, off, len)
        sections.find(s => chunk.contains(s""""$s": [""")).foreach(sc.setLocalProperty(key, _))
        if (chunk.endsWith("]}")) sc.setLocalProperty(key, "end")
      }
      override def flush(): Unit = ()
      override def close(): Unit = ()
    }
    sc.addSparkListener(listener)
    try {
      val (_, annos, images) = spiedFrames("annoExecSections")
      sc.setLocalProperty(key, "records")
      Coco.writeCocoTo(tagging, annos, images, "anno_key", train = true)
      assert(Coco.lastImageDimWasLocal)
      SeqIds.releaseAll()
      awaitStable(total.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    def jobs(s: String) = Option(perSection.get(s)).map(_.get).getOrElse(0)
    assert(jobs("images") == 0 && jobs("categories") == 0,
      s"dim sections submitted jobs after the records' collect: $perSection")
    assert(jobs("records") > 0 && jobs("annotations") > 0, perSection.toString)
  }

  test("broadcast tier: writeCocoTo pins no id frame and its annotation query joins nothing") {
    // The annotation ids come from the stream position and the image and
    // category ids from driver lookups, so the broadcast tier registers no
    // SeqIds frame at any point of the write (the mark is read on every
    // write() chunk, not only after the scoped release) and the
    // annotation query carries no join.
    val (_, annos, images) = spiedFrames("annoExecMark")
    val before = SeqIds.mark()
    val marks = scala.collection.mutable.Set.empty[(Int, Int, Int)]
    val spy = new java.io.Writer() {
      override def write(cbuf: Array[Char], off: Int, len: Int): Unit = marks += SeqIds.mark()
      override def flush(): Unit = ()
      override def close(): Unit = ()
    }
    Coco.writeCocoTo(spy, annos, images, "anno_key", train = true)
    assert(Coco.lastImageDimWasLocal)
    assert(marks == Set(before) && SeqIds.mark() == before,
      s"the broadcast-tier write registered SeqIds frames: $before -> $marks")
    val plan = Coco.annotationSection(annos, None, "anno_key", train = true, odtk = true)
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      s"broadcast-tier annotation query holds a join:\n$plan")
  }

  test("cocoDocument job count is bounded independent of shuffle partitions") {
    // The streamed sections fetch contiguous partition-index GROUPS
    // (Coco.groupedRows, ≤8 jobs per section, zero exchange), so the job
    // count must not scale with spark.sql.shuffle.partitions — at the
    // production default (hundreds of partitions) an orderBy-shaped or
    // per-partition-fetch section would pay hundreds of jobs per export.
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, annos, images) = spiedFrames("annoExecJobs")
      val doc = Coco.cocoDocument(annos, images, "anno_key", train = true)
      SeqIds.releaseAll()
      assert(doc.contains("\"annotations\""))
      awaitStable(jobs.get)
      // measured 8 at 64 partitions: the dim collect, the
      // annotation sort's range sampling and shuffle, and its grouped
      // fetches (the images and categories sections stream the collected
      // dims, and no SeqIds pass runs); a section fetched one job per
      // partition would pay 64 alone
      assert(jobs.get <= 8,
        s"cocoDocument ran ${jobs.get} jobs at 64 shuffle partitions — " +
          "a streamed section is fetching one job per shuffle partition")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }
}

package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from the monotonic clock, so spans compare with
  * the millisecond wall-clock stamps Spark puts on its job events. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One call into the engine, as seen from the client. `excluded` marks
  * work only the traced run does (evaluating a lazy result into the
  * `noop` sink, a routing probe); it is left out of the overhead. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startUs: Long, var endUs: Long = -1L,
                      excluded: Boolean = false, var failed: Boolean = false)

/** What the listener saw of one Spark job. */
final class JobRec(val startMs: Long) {
  @volatile var endMs: Long = -1L
  var inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
}

/** In-memory span recorder plus the Spark listeners that the per-layer
  * table is built from. Spans are recorded at each call into a layer's
  * public function. A Spark job belongs to the innermost span that was
  * open when the job started, by time: there is one client, so only one
  * call is open at a time, and thread-local job groups would mislabel
  * the jobs the engine's shared pools submit. */
final class Tracer {
  @volatile private var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var opSeq = 0
  private val notes = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // (first phase start ms, last phase end ms, analysis+optimization+planning s)
  private val plans = new ConcurrentLinkedQueue[(Long, Long, Double)]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Long]]()
  @volatile private var inflight = 0
  @volatile private var inflightMax = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobRec(e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      inflight += 1
      inflightMax = math.max(inflightMax, inflight)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      inflight -= 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { r =>
        r.synchronized {
          r.inputBytes += m.inputMetrics.bytesRead
          r.recordsRead += m.inputMetrics.recordsRead
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max,
          ph.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(spark: SparkSession): Unit = {
    on = false
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def open(name: String, op: Int, excluded: Boolean): Span = {
    val s = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
      Clock.us(), excluded = excluded)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span, failed: Boolean): Unit = {
    s.endUs = Clock.us()
    s.failed = failed
    stack = stack.tail
  }

  private def within[T](s: Span)(body: => T): T = {
    val r = try body catch { case t: Throwable => close(s, failed = true); throw t }
    close(s, failed = false)
    r
  }

  /** One operation of the workload: the root span its calls hang off. */
  def op[T](kind: String)(body: => T): T =
    if (!on) body
    else { opSeq += 1; within(open(s"op.$kind", opSeq, excluded = false))(body) }

  /** A call into a layer, named `<module>.<function>`. */
  def call[T](name: String)(body: => T): T =
    if (!on) body else within(open(name, opSeq, excluded = false))(body)

  /** Work only the traced run does; left out of the overhead figure. */
  def extra[T](name: String)(body: => T): T =
    if (!on) body else within(open(name, opSeq, excluded = true))(body)

  /** Add `v` to a named counter (traced run only). */
  def note(key: String, v: => Double): Unit = if (on) notes(key) += v

  /** Time of each recorded op minus the traced-only work inside it. */
  def opTimesMs: Seq[Double] = {
    val extraUs = spans.filter(_.excluded).groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(s => s.endUs - s.startUs).sum }
    spans.filter(s => s.name.startsWith("op.") && s.endUs > 0)
      .map(s => (s.endUs - s.startUs - extraUs.getOrElse(s.op, 0L)) / 1000.0).toSeq
  }

  /** Innermost span open at `ms` (Spark stamps jobs to the millisecond):
    * of the spans overlapping that millisecond, drop those enclosing
    * another one, then take the one overlapping it most. */
  private def ownerAt(ms: Long, sorted: IndexedSeq[Span]): Option[Span] = {
    val lo = ms * 1000L
    val hi = lo + 1000L
    val cands = sorted.iterator.takeWhile(_.startUs < hi).filter(_.endUs >= lo).toSeq
    val enclosing = cands.flatMap(s =>
      Iterator.iterate(s.parent)(p => spans(p).parent).takeWhile(_ >= 0)).toSet
    cands.filterNot(s => enclosing(s.id))
      .maxByOption(s => (math.min(s.endUs, hi) - math.max(s.startUs, lo), s.startUs))
  }

  /** Per-call means for every traced function, keyed
    * `<module>.<function>.<measure>`, plus engine-wide counts. */
  def table(functions: Seq[String]): Map[String, Double] = {
    val sorted = spans.filter(_.endUs > 0).sortBy(_.startUs).toIndexedSeq
    val byJob = jobs.asScala.toSeq.filter(_._2.endMs >= 0)
      .flatMap { case (_, j) => ownerAt(j.startMs, sorted).map(_ -> j) }
      .groupBy(_._1.id).map { case (id, xs) => id -> xs.map(_._2) }
    // a query planned inside another's planning (the engine runs lookups
    // while building a scan) is already inside the outer one's phases
    val planBySpan = plans.asScala.toSeq
      .flatMap(p => ownerAt(p._1, sorted).map(_.id -> p))
      .groupBy(_._1).map { case (id, xs) =>
        val qs = xs.map(_._2)
        id -> qs.filterNot(q => qs.exists(o => (o ne q) && o._1 <= q._1 && q._2 <= o._2 &&
          (o._1, o._2) != (q._1, q._2))).map(_._3).sum
      }
    def jobUnionS(s: Span): Double = {
      val iv = byJob.getOrElse(s.id, Nil)
        .map(j => (math.max(j.startMs * 1000L, s.startUs), math.min(j.endMs * 1000L, s.endUs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L
      var cur = (-1L, -1L)
      iv.foreach { case (a, b) =>
        if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      if (cur._2 > cur._1) total += cur._2 - cur._1
      total / 1e6
    }
    val out = mutable.LinkedHashMap[String, Double]()
    functions.foreach { f =>
      val ss = sorted.filter(s => s.name == f)
      val n = ss.size.toDouble
      def mean(x: Double) = if (n == 0) 0.0 else x / n
      val busy = ss.map(s => (s.endUs - s.startUs) / 1e6).sum
      val job = ss.map(jobUnionS).sum
      out(s"$f.calls") = n
      out(s"$f.busy_s") = mean(busy)
      out(s"$f.job_s") = mean(job)
      out(s"$f.driver_s") = mean(busy - job)
      out(s"$f.jobs") = mean(ss.map(s => byJob.getOrElse(s.id, Nil).size).sum.toDouble)
      out(s"$f.plan_s") = mean(ss.map(s => planBySpan.getOrElse(s.id, 0.0)).sum)
      val ev = sorted.filter(_.name == s"$f.eval")
      if (ev.nonEmpty || Tracer.lazyCalls.contains(f))
        out(s"$f.eval_s") = mean(ev.map(s => (s.endUs - s.startUs) / 1e6).sum)
    }
    // records the readWhere scans read, for the rows-read-per-row ratio
    val readWhere = sorted.filter(_.name == "lake.readWhere").map(_.id).toSet
    notes("lake.readWhere.records_read") = byJob.collect {
      case (id, js) if readWhere(id) => js.map(_.recordsRead).sum.toDouble }.sum
    val ops = math.max(1, sorted.count(_.name.startsWith("op.")))
    val all = byJob.values.flatten.toSeq
    out("engine.jobs_per_op") = all.size.toDouble / ops
    out("engine.jobs_inflight_max") = inflightMax.toDouble
    out("engine.input_mb_per_op") = all.map(_.inputBytes).sum / 1e6 / ops
    out("engine.shuffle_mb_per_op") = all.map(_.shuffleBytes).sum / 1e6 / ops
    out("engine.spill_mb_per_op") = all.map(_.spillBytes).sum / 1e6 / ops
    out("trace.failed_calls") = sorted.count(s => s.failed && !s.name.startsWith("op.")).toDouble
    val prog = progress.asScala.toSeq
    Seq("addBatch", "queryPlanning", "walCommit", "triggerExecution").foreach { k =>
      out(s"streaming.${k}_ms") = Stats.median(prog.flatMap(_.get(k)).map(_.toDouble))
    }
    out.toMap
  }

  def noted: Map[String, Double] = notes.toMap
}

object Tracer {
  /** Calls that return an unevaluated frame: traced runs also time
    * evaluating their result alone (`<name>.eval`). */
  val lazyCalls = Set("operators.interpolateTracks", "ingest.buildAnnoTable",
    "datasets.imageSampler")

  /** Counts the workloads note beside the per-call table; a workload
    * that never makes the call reports 0. */
  val counts: Seq[String] = Seq(
    "lake.appendPartitioned.written_mb", "export.writeCocoDataset.written_mb",
    "export.writeYoloDataset.written_mb", "lake.applyBatch.written_mb",
    "lake.applyBatch.files_rewritten", "lake.readWhere.files_opened",
    "lake.readWhere.rows_read_per_row", "lake.space_amp")

  /** Every traced function, by workload order. */
  val functions: Seq[String] = Seq(
    "operators.interpolateTracks", "ingest.buildAnnoTable", "lake.appendPartitioned",
    "lake.readDeclared", "datasets.imageSampler", "export.writeCocoDataset",
    "export.writeYoloDataset",
    "lake.applyBatch", "lake.indexSecondary", "lake.indexBucketStats",
    "lake.readWhere", "sources.sql",
    "ext.Bm25Index.streamingIngest", "ext.Ivf.streamingIngest",
    "ext.Bm25Index.topK", "ext.Ivf.searchIndex")
}

package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  /** Median (0 for an empty sample). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** A noted total divided by the calls of function `f`. */
  def perCall(notes: Map[String, Double], table: Map[String, Double],
              key: String, f: String): Double =
    notes.getOrElse(key, 0.0) / math.max(1.0, table.getOrElse(s"$f.calls", 0.0))
}

/** What one workload run hands back to the runner. */
trait Workload {
  /** Write the seeded inputs the engine will see. */
  def generate(): Unit
  /** Initial lake/index state the operations run against. */
  def build(): Unit
  /** One closed-loop operation; records its own timings while `measuring`. */
  def op(): Unit
  /** Checks on the final state, after the loop. */
  def finish(): Unit
  /** Untimed operations after set-up that run every code path once, so
    * JIT compilation and Spark code generation are not measured. */
  def warmup: Seq[() => Unit] = Seq(() => op())
  /** Traced-run counts beyond the per-call table, from the counters
    * the workload noted. */
  def traceCounts(table: Map[String, Double],
                  notes: Map[String, Double]): Map[String, Double] = Map.empty
  /** Operations in which every operation kind occurs once: the fewest
    * each third of a traced run makes. */
  def cycle: Int = 1
  /** The fewest operations a measured run makes, however short. */
  def minOps: Int = cycle
}

/** Shared by a workload and the runner: the session, the tracer, the
  * work directory, and the output checks. A failed check is recorded
  * by name and marks the current operation failed. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val tr: Tracer) {
  val failures = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
  /** True while the timed loop runs: only then are timings recorded. */
  var measuring = false
  /** Measured timings (ms) by kind: `write.*` or `read.*`. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Time `body` as one sample of `kind`, kept only while measuring. */
  def timed[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (measuring) samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
    r
  }

  /** Geometric mean over the kinds under `prefix` of each kind's median:
    * every kind weighs the same, however many samples it has. */
  def summary(prefix: String): Double = {
    val ms = samples.collect { case (k, v) if k.startsWith(prefix) => Stats.median(v.toSeq) }
    if (ms.isEmpty) 0.0 else math.exp(ms.map(math.log).sum / ms.size)
  }
  var attempted = 0
  var failed = 0
  private var opFailed = false

  def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case _: Exception => false }
    if (!pass) { failures(name) += 1; opFailed = true }
  }

  /** Run one operation, counting it and whether any check failed. */
  def counted(body: => Unit): Unit = {
    opFailed = false
    attempted += 1
    try body catch {
      case e: Exception =>
        System.err.println(s"graftbench: operation failed: $e")
        failures(s"exception.${e.getClass.getSimpleName}") += 1
        opFailed = true
    }
    if (opFailed) failed += 1
  }

  def path(name: String): String = new File(dir, name).getAbsolutePath
}

object Main {
  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", cores: Int = 1)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def make(name: String, ctx: Ctx): Workload = name match {
    case "dataset_build" => new DatasetBuild(ctx)
    case "lake_index" => new LakeIndex(ctx)
    case _ => throw new IllegalArgumentException(s"unknown workload $name")
  }

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Driver old-gen bytes in use right after a full collection. The
    * second collection runs after Spark's cleaner has dropped what the
    * first one freed (broadcasts, shuffles, cached blocks). */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / 1e6
  }

  /** Run operations for `seconds`, and at least `minOps` of them,
    * sampling the live heap after every cycle of operation kinds. */
  private def loop(w: Workload, ctx: Ctx, seconds: Double, minOps: Int,
                   heap: mutable.ArrayBuffer[Double]): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val times = mutable.ArrayBuffer[Double]()
    ctx.measuring = true
    while (System.nanoTime() < end || times.size < minOps) {
      val a = System.nanoTime()
      ctx.counted(w.op())
      times += (System.nanoTime() - a) / 1e6
      if (times.size % w.cycle == 0) heap += liveHeapMb()
    }
    ctx.measuring = false
    if (times.size % w.cycle != 0) heap += liveHeapMb()
    times.toSeq
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args.toList)); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val tr = new Tracer
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      phases(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    new File(o.work).mkdirs()
    val spark = phase("session")(session(o.work, o.cores))
    val ctx = new Ctx(spark, o.work, o.seed, tr)
    val w = make(o.workload, ctx)
    phase("generate")(w.generate())
    phase("build")(w.build())
    phase("warmup")(w.warmup.foreach(f => ctx.counted(f())))
    val heap = mutable.ArrayBuffer[Double](liveHeapMb())
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      loop(w, ctx, o.seconds, w.minOps, heap)
      ctx.counted(w.finish())
      metrics("setup_s") = (phases.values.sum, "s")
      metrics("write_ms") = (ctx.summary("write."), "ms")
      metrics("read_ms") = (ctx.summary("read."), "ms")
      metrics("heap_live_peak_mb") = (heap.max, "MB")
    } else {
      // untraced, traced, untraced: each a third of the time and at least
      // one cycle of operation kinds. The per-layer table comes from the
      // traced third; its mean operation time over that of the untraced
      // thirds around it (which cancels a steady drift) is the overhead.
      val third = o.seconds / 3
      val before = loop(w, ctx, third, w.cycle, heap)
      tr.start(ctx.spark)
      loop(w, ctx, third, w.cycle, heap)
      tr.stop(ctx.spark)
      val plain = before ++ loop(w, ctx, third, w.cycle, heap)
      ctx.counted(w.finish())
      val calls = tr.table(Tracer.functions)
      val table = calls ++ Tracer.counts.map(_ -> 0.0) ++ w.traceCounts(calls, tr.noted)
      phases.foreach { case (p, v) => metrics(s"setup.${p}_s") = (v, "s") }
      val traced = tr.opTimesMs.sum / math.max(1, tr.opTimesMs.size)
      val base = plain.sum / math.max(1, plain.size)
      metrics("trace.overhead_pct") = (if (base > 0) (traced / base - 1) * 100 else 0.0, "%")
      table.toSeq.sortBy(_._1).foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
    }
    val detail = ctx.failures.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    System.err.println("graftbench: setup " +
      phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ") +
      s" heap_mb=${heap.map(num).mkString(",")} failed_checks=$detail " +
      ctx.samples.map { case (k, v) => f"$k=${Stats.median(v.toSeq)}%.0fms(n=${v.size})" }.mkString(" "))
    spark.stop()
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": $ms}""")
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_mb") || k.endsWith("_mb_per_op")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("_per_row") || k.endsWith("space_amp")) "ratio"
    else "count"
}

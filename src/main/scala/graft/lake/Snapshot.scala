package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pointer-published table snapshots — the minimal commit protocol a
  * repeatedly-rewritten plain-parquet table needs. A delete+rename
  * swap leaves a window where a reader resolves NO table (and a reader
  * that listed files mid-rename can see a torn state on stores without
  * atomic dir rename). Here every rewrite lands as a NEW immutable
  * snapshot directory `v<tag>/` and readers resolve through a
  * single-file pointer `_current` — a one-file create+rename, which is
  * the atomic primitive on posix/HDFS (and the same
  * pointer-indirection idea a table format's commit log scales up).
  *
  * Concurrency contract: ONE writer (streaming sinks are
  * single-writer per checkpoint); any number of readers. A reader that
  * resolved a snapshot keeps a valid path until GC — `keep` snapshots
  * are retained (default 2) so in-flight readers of the previous
  * snapshot survive a publish; size the retention to reader runtime at
  * scale.
  */
object Snapshot {

  private val Pointer = "_current"

  /** Published-tag history entries carried in the pointer file (first
    * line = current). Bounds the pointer at a few hundred bytes; older
    * history is useless anyway once GC has deleted the dirs. */
  private val HistoryCap = 64

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** The currently-published snapshot directory, or None before the
    * first publish. */
  def resolve(spark: SparkSession, root: String): Option[String] =
    currentName(spark, root).map(name => s"$root/$name")

  /** The published snapshot's tag, or None before the first publish —
    * the idempotence hook for replayed streaming batches (a batch
    * whose id is <= the published tag has already been applied). */
  def currentTag(spark: SparkSession, root: String): Option[Long] =
    currentName(spark, root).flatMap(_.drop(1).toLongOption)

  private def currentName(spark: SparkSession, root: String): Option[String] =
    pointerLines(spark, root).headOption

  /** All nonblank pointer-file lines, newest-published first. */
  private def pointerLines(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val ptr = new Path(s"$root/$Pointer")
    if (!f.exists(ptr)) Seq.empty
    else {
      val in = f.open(ptr)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
  }

  /** Tags a time-travel read can target, ascending: every tag that was
    * genuinely PUBLISHED (recorded in the pointer's history — a crashed
    * publish's orphan dir was never the table's state and is never
    * listed) whose snapshot directory GC still retains. Directory
    * listing alone cannot make this distinction; the pointer history —
    * rewritten in the same atomic pointer swap every publish already
    * does — is what records which dirs were ever current.
    */
  def publishedTags(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    pointerLines(spark, root)
      .flatMap(_.drop(1).toLongOption)
      .filter(tag => f.exists(new Path(s"$root/v$tag")))
      .sorted
  }

  /** The snapshot directory holding the table AS OF `asOf`: the newest
    * published tag <= asOf whose dir is still retained. None when the
    * table's state at that tag has aged past retention (raise `keep`)
    * or predates the table. */
  def resolveAt(spark: SparkSession, root: String, asOf: Long): Option[String] =
    publishedTags(spark, root).filter(_ <= asOf)
      .maxOption.map(tag => s"$root/v$tag")

  /** Time-travel read: the table as of `asOf` (throws when unreachable —
    * see [[resolveAt]]). The reproducibility hook: a training run records
    * the tag it read, and any later job can re-read that exact state
    * while it stays inside retention. */
  def readAt(spark: SparkSession, root: String, asOf: Long): DataFrame =
    spark.read.parquet(resolveAt(spark, root, asOf).getOrElse(throw
      new IllegalStateException(
        s"no retained snapshot at or below tag $asOf under $root — " +
          "the state either predates the table or aged past retention " +
          "(publish with a larger `keep` to widen the travel window)")))

  /** Read the published snapshot (throws if none is published). */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(resolve(spark, root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root")))

  /** [[read]] through the driver-localized tiny-parquet cache (r21) —
    * for METADATA-SCALE snapshot payloads only (index manifests, MV
    * bucket partials: bounded by design, probed repeatedly per
    * lifecycle). Data-sized snapshots must keep [[read]]; past the
    * localize byte bound this degrades to exactly that. */
  private[graft] def readLocalized(spark: SparkSession, root: String): DataFrame =
    FileStats.localizedParquet(spark, resolve(spark, root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root")))

  /** Publish `df` as snapshot `v<tag>`: write the new directory, swap
    * the pointer via an ATOMIC rename-with-overwrite (FileContext —
    * plain FileSystem.rename cannot replace, and delete-then-rename
    * would reopen the no-table window this module exists to close),
    * then GC all but the newest `keep` snapshots.
    *
    * Tags must be strictly increasing per root (a streaming batchId
    * is) — ENFORCED, because a tag at or below the published one
    * would be ordered after it by the GC's newest-by-tag sort and
    * immediately collected, leaving the pointer dangling. An ops
    * mistake (e.g. wiping a checkpoint so batch ids restart at 0
    * against a surviving table) fails fast here instead of corrupting
    * the table.
    */
  def publish(df: DataFrame, root: String, tag: Long, keep: Int = 2): Unit =
    publishWith(df.sparkSession, root, tag, keep) { dir =>
      // driver-resident metadata frames (a LocalRelation of plain
      // primitives) write WITHOUT a Spark job (r21 — see
      // [[LocalParquet]]); data-sized or complex frames keep the
      // ordinary distributed write
      val localRows = df.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
            if LocalParquet.supported(df.schema) &&
              lr.data.length <= 10000 =>
          Some(df.collect().toSeq) // LocalTableScan executeCollect: no job
        case _ => None
      }
      localRows match {
        case Some(rows) =>
          LocalParquet.overwrite(df.sparkSession, dir, df.schema, rows)
        case None => df.write.mode("overwrite").parquet(dir)
      }
    }

  /** [[publish]] for rows already on the driver — writes the snapshot
    * file with [[LocalParquet]] (no Spark job) under the same pointer
    * protocol, and seeds the localize memo with those rows before the
    * pointer flips, so the first read of the new snapshot pays no job.
    * The schema must satisfy [[LocalParquet.supported]]. */
  private[lake] def publishRows(spark: SparkSession,
                                schema: org.apache.spark.sql.types.StructType,
                                rows: Seq[org.apache.spark.sql.Row],
                                root: String, tag: Long, keep: Int): Unit =
    publishWith(spark, root, tag, keep) { dir =>
      LocalParquet.overwrite(spark, dir, schema, rows)
      FileStats.seedLocalized(spark, dir, schema, rows)
    }

  private def publishWith(spark: SparkSession, root: String, tag: Long,
                          keep: Int)(write: String => Unit): Unit = {
    require(keep >= 1, s"keep must be >= 1: $keep")
    val prevLines = pointerLines(spark, root)
    val prevTag = prevLines.headOption.flatMap(_.drop(1).toLongOption)
    prevTag.foreach(cur => require(tag > cur,
      s"snapshot tag $tag is not above the published v$cur under $root — " +
        "restarting tags against an existing table corrupts it; " +
        "clear the table root or resume from the matching checkpoint"))
    val f = fs(spark, root)
    val snapName = s"v$tag"
    write(s"$root/$snapName")
    // single-file atomic pointer swap: write-temp, rename-over. The file
    // carries the published-tag HISTORY (current first) so time travel
    // can tell once-published dirs from crashed-publish orphans.
    val tmp = new Path(s"$root/$Pointer.tmp")
    val out = f.create(tmp, true)
    try out.write((snapName +: prevLines).distinct.take(HistoryCap)
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(root).toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, new Path(s"$root/$Pointer"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // GC: retain the newest `keep` PUBLISHED snapshot dirs — resolved
    // from the pointer HISTORY, so orphans can never eat retention
    // slots. A crash between the v<tag> directory write and the pointer
    // swap leaves an unpublished dir; tag-sorted retention would let
    // such a dir consume `keep` and evict a genuinely-published
    // snapshot whose path in-flight readers still hold (with keep >= 3
    // even a SUB-tag orphan did — the old prevTag-only shield protected
    // just one). History-based protection also collects orphans
    // immediately instead of one publish later; dirs tagged ABOVE the
    // just-published tag stay untouched (under the single-writer
    // contract they are dead future-publish orphans, left for a replay
    // to overwrite). HistoryCap (64) bounds protectable retention.
    val protect = (snapName +: prevLines).distinct.take(keep).toSet
    f.listStatus(new Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption.map(_ -> s.getPath))
      .filter { case (t, p) => t <= tag && !protect.contains(s"v$t") }
      .foreach { case (_, p) => f.delete(p, true) }
  }
}

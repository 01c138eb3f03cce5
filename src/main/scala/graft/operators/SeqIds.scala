package graft.operators

import graft.plans.{SeqIdAdjustF, SeqIdReleaseToken}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.{Column, DataFrame}

/** Scale-safe global sequential-id assignment (SURVEY §2.6 O3 / §2.4 A5;
  * ref create_coco_from_feather.py:59-85,97-106).
  *
  * `row_number()` over an unpartitioned window moves the entire input to a
  * single partition (Spark warns "No Partition Defined for Window
  * operation") — a scale-killer when the input is fact-sized. This is the
  * two-pass equivalent: range-partition by the sort key, sort within
  * partitions, then
  *
  *   pass 1: collect per-partition row counts (≤ numPartitions rows);
  *   pass 2: id = cumulative_offset(partition) + local_index.
  *
  * The local index comes from `monotonically_increasing_id()`, whose value
  * is `partitionId << 33 | rowIndexInPartition` — so the id is one codegen
  * projection (`mono_id + adjustment(partition)`), with the per-partition
  * adjustment folding together the cumulative offset and the `pid << 33`
  * base. The whole operator stays inside Tungsten: no RDD conversion, no
  * encoder round-trip, no single-partition stage.
  *
  * The sorted input is persisted before the counts pass, for two reasons:
  * `repartitionByRange` SAMPLES its range bounds per execution, so two
  * independent jobs could see different partition boundaries and produce
  * wrong offsets — and the persist means the (possibly expensive)
  * upstream plan executes exactly ONCE for both passes. The cache spills
  * to disk under pressure; its cost is comparable to the range shuffle
  * it already pays, the standard trade for global-ordinal assignment
  * (the sort → per-partition counts → offset+local-index scheme needs
  * both passes to agree on partitioning, and a pinned cache is what
  * makes them agree). The cache must outlive downstream consumption of
  * the returned frame, so it is not unpersisted here; every pinned
  * frame is tracked in a registry and released by [[releaseAll]], which
  * Bench and Verify call after each gate query's action completes.
  * Released frames must not be re-executed (see [[releaseAll]]).
  *
  * `sortCols` must define a total order (break ties explicitly), otherwise
  * ids within a tie group are partition-order-dependent — the same caveat
  * as `row_number`.
  */
object SeqIds {

  /** Frames pinned by [[withSeqId]] since the last [[releaseAll]].
    * The cache must outlive downstream consumption of the returned
    * frame, so withSeqId cannot unpersist it itself — the consumer
    * (Bench/Verify per gate query; a user session at whatever
    * granularity fits) calls releaseAll() after its action. Without
    * the release, repeated withSeqId calls accumulate pinned
    * InMemoryRelations for the session lifetime.
    */
  private val caches = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Release tokens of frames minted by [[withSeqId]] since the last
    * [[releaseAll]]. Each token rides its frame's codegen reference
    * array, which Spark re-serializes at every job submission — so
    * invalidating it turns post-release re-execution (the silent-id-
    * corruption case documented on [[releaseAll]]) into a driver-side
    * IllegalStateException at submission time.
    */
  private val tokens = scala.collection.mutable.ArrayBuffer[SeqIdReleaseToken]()

  /** Release hooks for non-DataFrame resources pinned to the same
    * per-query lifecycle — e.g. BigStar's final localCheckpoint RDD,
    * which backs its returned labels frame and so cannot be freed by
    * the operator itself. Each hook runs once at the next
    * [[releaseAll]] and is dropped. */
  private val hooks = scala.collection.mutable.ArrayBuffer[() => Unit]()

  /** Run `hook` at the next [[releaseAll]] (once). The resource it
    * frees follows the same contract as withSeqId's caches: any frame
    * reading it must complete its actions before releaseAll. */
  def onRelease(hook: () => Unit): Unit = caches.synchronized { hooks += hook }

  /** Unpersist every frame pinned by withSeqId since the last release.
    *
    * Release INVALIDATES every frame previously returned by
    * [[withSeqId]]: the per-partition adjustment map was collected from
    * the cached partitioning; after unpersist, `repartitionByRange`
    * resamples its range bounds, so a recomputation's partition
    * ids/counts no longer match the stale adjustment map. This is not a
    * silent hazard — each frame carries a [[SeqIdReleaseToken]] in its
    * codegen reference array, invalidated here, so a post-release
    * execution fails at job submission with an IllegalStateException
    * (see the token's writeObject) instead of mis-numbering. Call
    * releaseAll once every outstanding frame's action has completed,
    * and construct frames afresh afterwards (Bench/Verify call it
    * between gate queries).
    */
  def releaseAll(): Unit = caches.synchronized {
    caches.foreach(_.unpersist(blocking = false))
    caches.clear()
    tokens.foreach(_.invalidate())
    tokens.clear()
    hooks.foreach(h => try h() catch { case scala.util.control.NonFatal(_) => () })
    hooks.clear()
  }

  /** Registry watermark for SCOPED release — see [[releaseSince]]. */
  def mark(): (Int, Int, Int) =
    caches.synchronized { (caches.length, tokens.length, hooks.length) }

  /** Release only what was registered after `m` — the per-call cleanup
    * for TERMINAL library entry points (e.g. the streamed COCO write)
    * whose internal withSeqId frames are fully consumed by their own
    * action before returning: without it, a library/notebook caller
    * that never calls [[releaseAll]] accumulates pinned frames without
    * bound. Same invalidate-on-release contract as releaseAll for the
    * released slice; entries at or below the mark are untouched.
    * Assumes no CONCURRENT registrations between mark() and here (the
    * registry is session-global; interleaved independent writers should
    * use releaseAll discipline instead). */
  def releaseSince(m: (Int, Int, Int)): Unit = caches.synchronized {
    val (cm, tm, hm) = m
    caches.drop(cm).foreach(_.unpersist(blocking = false))
    caches.remove(cm, caches.length - cm)
    tokens.drop(tm).foreach(_.invalidate())
    tokens.remove(tm, tokens.length - tm)
    val hs = hooks.drop(hm).toList
    hooks.remove(hm, hooks.length - hm)
    hs.foreach(h => try h() catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Pin an arbitrary frame in the same registry: persisted now,
    * unpersisted at the next [[releaseAll]]. Unlike withSeqId's internal
    * caches, a pinned frame is safe to re-execute after release — it
    * simply recomputes. Used by operators whose plan would otherwise
    * execute an expensive upstream subplan several times per action
    * (e.g. `Coco.annotationRecords`' dim collect and id pass share one
    * cached anno execution; Catalyst's cache substitution also rewrites
    * any sameResult subplan of OTHER frames to this InMemoryRelation,
    * so derived inputs built on the same plan hit it too).
    */
  def pin(df: DataFrame): DataFrame = {
    df.persist()
    caches.synchronized { caches += df }
    df
  }

  /** Adds `idName: bigint` = startAt + global ordinal of the row under
    * `sortCols` ascending. Output rows are globally sorted by `sortCols`.
    */
  def withSeqId(df: DataFrame, sortCols: Seq[Column], idName: String,
                startAt: Long = 0L): DataFrame = {
    // the internal bookkeeping columns must not clobber (and later
    // drop) real user columns of the same name — the Salt.graft_salt rule
    for (c <- Seq("_g_pid", "_g_mid"))
      require(!df.columns.contains(c),
        s"input must not already carry a '$c' column")
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_g_pid", spark_partition_id())
      .withColumn("_g_mid", monotonically_increasing_id())
      .persist()
    caches.synchronized { caches += sorted }
    val counts = sorted.groupBy("_g_pid").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty) sorted.withColumn(idName, lit(startAt)).drop("_g_pid", "_g_mid")
    else {
      // Dense long[] indexed by pid, Long.MinValue marking partitions
      // that were empty at count time (a legitimate execution never
      // routes a row there — SeqIdAdjustF throws on drift). The array
      // travels in the codegen reference array, not a plan Literal, and
      // the token alongside it makes post-release re-execution fail at
      // job submission (see releaseAll).
      val adjust = Array.fill(counts.map(_._1).max + 1)(Long.MinValue)
      var acc = startAt
      counts.foreach { case (pid, n) =>
        adjust(pid) = acc - (pid.toLong << 33)
        acc += n
      }
      val token = new SeqIdReleaseToken
      caches.synchronized { tokens += token }
      val adjCol = ColumnBridge.column(
        SeqIdAdjustF(ColumnBridge.expression(col("_g_pid")), adjust, token))
      sorted.withColumn(idName, col("_g_mid") + adjCol).drop("_g_pid", "_g_mid")
    }
  }

  /** Dimension-sized variant: for inputs with BOUNDED cardinality (a
    * category dim, k seed centroids — not facts), a single range
    * partition is the cheaper correct plan: with numPartitions=1 the
    * range exchange skips bounds sampling and `monotonically_increasing_id`
    * (partition 0) IS the ordinal — one job, zero extra passes, no cache,
    * output globally sorted. Callers with fact-sized or unbounded inputs
    * must use [[withSeqId]].
    */
  def withSeqIdDim(df: DataFrame, sortCols: Seq[Column], idName: String,
                   startAt: Long = 0L): DataFrame =
    df.repartitionByRange(1, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(idName, monotonically_increasing_id() + startAt)
}

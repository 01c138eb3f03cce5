package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Row-level delete over a plain-parquet tree, priced by the data it
  * TOUCHES instead of the table it lives in — the GDPR / retention /
  * takedown shape every production lake needs.
  *
  * A naive delete rewrites the whole table (`read.filter(!p).write`):
  * at 100 TB that is a full-table scan plus a full-table write to drop
  * what is usually a sliver of rows. This operator uses the [[FileStats]]
  * zone-map manifest to split the tree into files whose min/max range on
  * the predicate column CANNOT contain a matching row (kept — referenced
  * verbatim, never opened, never copied) and files that might (rewritten
  * with the deletion predicate applied). On the clustered layouts the
  * lake already writes ([[ZOrder]], sorted compaction) the touched set is
  * a small minority, so delete cost ∝ matching-range bytes, not table
  * bytes.
  *
  * A delete's output is a new immutable VERSION that is itself a valid
  * delete input: `files/` holds the rewritten survivors, `manifest/`
  * (file-count-sized) lists every data path of the version, and `stats/`
  * is the MAINTAINED zone-map manifest — kept files carry their old
  * stats rows verbatim, rewritten files get fresh rows from one scan of
  * `files/`. Stats maintenance therefore costs O(touched files), never a
  * full-table rebuild, and deletes chain: `deleteRange(v2/stats) → v3`.
  * The manifest is written LAST, so a crash mid-delete leaves no
  * readable half-version; production wraps the version dir in the
  * [[Snapshot]] pointer protocol for multi-version atomicity, exactly as
  * [[BucketedUpsert]] does with its bucket manifest.
  *
  * Correctness guards:
  *  - Zone pruning is necessary-not-sufficient, so rewritten files apply
  *    the EXACT predicate — a kept file skipped by a too-wide range and
  *    a rewritten file agree with the full-scan delete by construction.
  *  - NULLs in the predicate column never match a range delete
  *    (SQL three-valued logic would silently drop them through
  *    `NOT(col BETWEEN lo AND hi)`); the survivor filter keeps them
  *    explicitly.
  *  - A stale stats manifest (layout changed since `writeStats`) fails
  *    loudly: the delete opens the manifest's paths, and a missing file
  *    is an error, never a silent no-op.
  */
object DeleteWhere {

  /** What a delete touched: `filesTotal` files in the old version,
    * `filesRewritten` of them intersected the range and were rewritten;
    * the rest are referenced by the new manifest unread. */
  final case class DeleteStats(filesTotal: Long, filesRewritten: Long,
                               rowsDeleted: Long)

  private def manifestDir(outDir: String) = s"$outDir/manifest"
  private def filesDir(outDir: String) = s"$outDir/files"

  /** The maintained zone-map manifest of the version at `outDir` — pass
    * this to the next [[deleteRange]] to chain deletes. */
  def statsDirOf(outDir: String): String = s"$outDir/stats"

  /** The deletion-vector sidecar of the version at `outDir`: rows
    * `(path, row_idx)` naming file positions a sparse delete has hidden
    * without rewriting the file. Discovered as the `dv` sibling of
    * whatever stats manifest a delete chains from. */
  def dvDirOf(outDir: String): String = s"$outDir/dv"

  private def dvDirFromStats(statsDir: String): String =
    new org.apache.hadoop.fs.Path(statsDir).getParent.toString + "/dv"

  /** Scheme-less absolute path: `input_file_name()` and
    * `_metadata.file_path` render the same file with different scheme
    * spellings (`file:/x` vs `file:///x`); every DV path is stored and
    * compared through this normal form so the mask can never miss its
    * file over a string mismatch. BOTH forms delegate to the ONE
    * pattern in [[FileStats.SchemeRe]] — the DSv2 DV reader matches
    * mask keys by the same normalizer, and a drifted copy here would
    * silently resurrect deleted rows (review r20 pass 2). */
  private def normPathCol(c: Column): Column =
    regexp_replace(c, FileStats.SchemeRe, "/")
  private def normPath(s: String): String = FileStats.normPath(s)

  /** Single-file overwrite of a tiny metadata frame, driver-side when
    * every part is a localized LocalRelation with a [[LocalParquet]]-
    * supported schema (zero Spark jobs — r21), else the ordinary
    * coalesce(1) write of the parts' union. Parts are aligned to the
    * FIRST part's columns by name. */
  private def writeTinyParts(spark: SparkSession, parts: Seq[DataFrame],
                             dir: String): Unit = {
    require(parts.nonEmpty, "writeTinyParts needs at least one part")
    val cols = parts.head.columns
    val aligned = parts.map(p => p.select(cols.map(col): _*))
    val schema = aligned.head.schema
    val rowSets =
      if (LocalParquet.supported(schema)) aligned.map(FileStats.localRows(_, 100000))
      else Seq(None)
    if (rowSets.forall(_.isDefined))
      LocalParquet.overwrite(spark, dir, schema,
        rowSets.flatMap(_.get.toSeq))
    else
      aligned.reduce(_.unionByName(_)).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  private def dvReadIfExists(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // driver-localized when sidecar-sized (r21): the DV is probed
    // several times per read (regime count, mask filter, dvCount) and
    // each was a job over a coalesce(1) file; past the localize bound
    // the ordinary distributed read serves, same as ever
    if (fs.exists(p)) Some(FileStats.localizedParquet(spark, dir)) else None
  }

  /** Rows above which the DV mask is NOT broadcast (VERDICT r16 #3):
    * the anti-mask join is broadcast while the sidecar is takedown-
    * sized (the designed regime — zero shuffle over the table), but an
    * unbounded broadcast of a DV that has grown to table scale would
    * OOM the driver and every executor. Beyond the bound the mask
    * joins as a SHUFFLE anti-join: slower (the table shuffles on
    * (path, row_idx)) but memory-safe at any DV size. A DV near this
    * bound is the signal to run [[compactVersion]], which folds the
    * vectors physically and returns reads to the fast regime.
    * Override per session with `graft.dv.maxBroadcastRows`. */
  private[lake] def maxBroadcastDvRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.dv.maxBroadcastRows")
      .map(_.toLong).getOrElse(4L * 1000 * 1000)

  /** `base` with the sidecar `dv` applied as the (file, row_index)
    * anti-mask — broadcast in the normal regime, shuffle anti-join
    * beyond [[maxBroadcastDvRows]] (see there for the policy). */
  private def applyDvMask(spark: SparkSession, base: DataFrame,
                          dv: DataFrame): DataFrame = {
    val mask0 = dv.select(col("path").as("_gf_dv_path"),
      col("row_idx").as("_gf_dv_idx"))
    // sidecar-sized count (parquet footers only) — cheap next to the
    // masked scan, and it keeps the regime decision at the data, not
    // at a stale estimate
    val mask =
      if (FileStats.localCount(dv) <= maxBroadcastDvRows(spark)) broadcast(mask0)
      else mask0
    base.select(col("*"),
        normPathCol(col("_metadata.file_path")).as("_gf_path"),
        col("_metadata.row_index").as("_gf_idx"))
      .join(mask,
        col("_gf_path") === col("_gf_dv_path") &&
          col("_gf_idx") === col("_gf_dv_idx"), "left_anti")
      .drop("_gf_path", "_gf_idx")
  }

  /** Delete every row with `column` in [lo, hi] from the version
    * described by the stats manifest at `statsDir` (built by
    * [[FileStats.writeStats]] over the initial tree, or maintained by a
    * previous delete), publishing the result as a new version at
    * `outDir`. Only files whose zone-map range intersects [lo, hi] are
    * read or written — including their replacement stats rows. */
  def deleteRange(spark: SparkSession, statsDir: String, column: String,
                  lo: Column, hi: Column, outDir: String): DeleteStats = {
    val oldStats = FileStats.manifestDf(spark, statsDir)
    require(oldStats.columns.contains(s"min_$column"),
      s"stats manifest at $statsDir does not index column '$column'")
    // every column the old manifest indexes (min_x/max_x pairs) is
    // re-derived for rewritten files so the new manifest prunes on the
    // same columns the old one did
    val indexed = oldStats.columns.collect { case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSeq
    val touched = FileStats.prunedFiles(spark, statsDir, column, lo, hi).toSet
    // file-count-sized (metadata scale), same bound as the stats build
    val all = oldStats.select("path").collect().map(_.getString(0)).toSeq
    require(touched.subsetOf(all.toSet),
      "stats manifest disagrees with itself: pruned paths missing from it")
    val kept = all.filterNot(touched)
    // a chained-from version may carry deletion vectors: entries for
    // files rewritten here are FOLDED (the rewrite applies the mask and
    // the file forgets its vector); kept files carry theirs forward
    val priorDv = dvReadIfExists(spark, dvDirFromStats(statsDir))
    val touchedNorm = touched.map(normPath)
    val dvOnTouched = priorDv.map(dv => FileStats.localCount(dv.filter(
      col("path").isInCollection(touchedNorm)))).getOrElse(0L)

    var rowsDeleted = 0L
    if (touched.nonEmpty) {
      val hitBase = spark.read.parquet(touched.toSeq: _*)
      val hit = priorDv match {
        case None => hitBase
        case Some(dv) => applyDvMask(spark, hitBase, dv)
      }
      val c = col(column)
      // survivors: NULL keys can never match a range delete — keep them
      val survivors = hit.filter(c.isNull || c < lo || c > hi)
      // re-range-cluster the survivors on the indexed columns before
      // writing: a plain write inherits the scan's file-merged
      // partitioning, whose per-file ranges go wide and erode the NEXT
      // delete's pruning. The shuffle moves touched-file data only.
      // (Full multi-dimensional re-clustering is compaction's job.)
      survivors.repartitionByRange(touched.size, indexed.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(filesDir(outDir))
      // touched-row count comes from the stats manifest (already built),
      // not a second scan of the touched files; already-DV-hidden rows
      // were never live, so they don't count as deleted here
      val before = oldStats.filter(col("path").isInCollection(touched))
        .agg(coalesce(sum("n_rows"), lit(0L))).head.getLong(0) - dvOnTouched
      // fresh stats for the rewritten files — this scan doubles as the
      // post-delete row count, so stats maintenance adds no extra pass
      FileStats.writeStats(spark, filesDir(outDir),
        s"${statsDirOf(outDir)}-new", indexed)
      val after = FileStats.manifestDf(spark, s"${statsDirOf(outDir)}-new")
        .agg(coalesce(sum("n_rows"), lit(0L))).head.getLong(0)
      rowsDeleted = before - after
    }
    // kept files' deletion vectors survive into the new version
    priorDv.foreach { dv =>
      val carried = dv.filter(!col("path").isInCollection(touchedNorm))
      if (carried.take(1).nonEmpty)
        writeTinyParts(spark, Seq(carried), dvDirOf(outDir))
    }
    // maintained stats: kept files' rows verbatim + rewritten files' new
    // rows (column-aligned by name; the fresh build emits the same set)
    val keptStats = oldStats.filter(!col("path").isInCollection(touched))
    writeTinyParts(spark,
      if (touched.isEmpty) Seq(keptStats)
      else Seq(keptStats,
        FileStats.manifestDf(spark, s"${statsDirOf(outDir)}-new")),
      statsDirOf(outDir))
    if (touched.nonEmpty) { // drop the fresh-stats staging dir
      val p = new org.apache.hadoop.fs.Path(s"${statsDirOf(outDir)}-new")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    val newPaths = kept ++ (if (touched.nonEmpty) Seq(filesDir(outDir)) else Nil)
    // manifest last: the version becomes readable only once it is
    // complete; path-list-sized, written driver-side (r21)
    LocalParquet.overwrite(spark, manifestDir(outDir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType))),
      newPaths.map(org.apache.spark.sql.Row(_)))
    DeleteStats(all.size.toLong, touched.size.toLong, rowsDeleted)
  }

  /** SPARSE delete: hide every row with `column` in [lo, hi] behind a
    * per-file DELETION VECTOR instead of rewriting the files — the
    * takedown shape where a handful of rows live in files that zone
    * maps cannot shrink below "most of them" (or where rewrite cost
    * must be deferred to off-peak compaction). The new version
    * references every old file VERBATIM; what it adds is a sidecar of
    * `(path, row_idx)` positions (delete-set-sized) that [[read]]
    * applies as a scan-side anti-mask through the parquet
    * `_metadata.row_index` column. Write cost is therefore
    * O(matching rows), not O(matching files) — the entire point.
    *
    * Chained deletes compose: the new sidecar is the prior version's
    * DV (discovered next to `statsDir`) UNION the new matches, and a
    * later [[deleteRange]] FOLDS a file's DV into it when it rewrites
    * the file anyway. Zone-map stats are carried verbatim — a DV only
    * hides rows, so min/max stay conservative bounds and the next
    * delete prunes on them unchanged (`n_rows` becomes an upper
    * bound; exact post-mask counts come from [[read]]).
    *
    * Same crash protocol as [[deleteRange]]: dv and stats land first,
    * the manifest LAST, so no half-version is ever readable.
    *
    * REGIME BOUND: reads apply the sidecar as a broadcast anti-mask
    * only while it stays under [[maxBroadcastDvRows]]; past that they
    * degrade to a memory-safe shuffle anti-join. Accumulating vectors
    * toward the bound is the operational signal to [[compactVersion]]
    * (fold physically, restore the broadcast regime) — deleteVectors
    * itself never blocks on it, so a takedown always lands.
    */
  def deleteVectors(spark: SparkSession, statsDir: String, column: String,
                    lo: Column, hi: Column, outDir: String): DeleteStats = {
    val oldStats = FileStats.manifestDf(spark, statsDir)
    require(oldStats.columns.contains(s"min_$column"),
      s"stats manifest at $statsDir does not index column '$column'")
    val touched = FileStats.prunedFiles(spark, statsDir, column, lo, hi)
    val all = oldStats.select("path").collect().map(_.getString(0)).toSeq
    require(touched.toSet.subsetOf(all.toSet),
      "stats manifest disagrees with itself: pruned paths missing from it")
    val priorDv = dvReadIfExists(spark, dvDirFromStats(statsDir))
    val priorCount = priorDv.map(_ =>
      FileStats.footerRowCount(spark, Seq(dvDirFromStats(statsDir)))).getOrElse(0L)

    val newMatches =
      if (touched.isEmpty) None
      else {
        val c = col(column)
        Some(spark.read.parquet(touched: _*)
          .select(normPathCol(col("_metadata.file_path")).as("path"),
            col("_metadata.row_index").as("row_idx"), c.as("_gf_c"))
          .filter(col("_gf_c").isNotNull && col("_gf_c") >= lo &&
            col("_gf_c") <= hi)
          .select("path", "row_idx"))
      }
    val combined = (priorDv, newMatches) match {
      case (Some(p), Some(n)) => Some(p.unionByName(n).distinct())
      case (Some(p), None) => Some(p)
      case (None, Some(n)) => Some(n.distinct())
      case (None, None) => None
    }
    var rowsDeleted = 0L
    combined.foreach { dv =>
      // delete-set-sized; one file keeps the sidecar broadcastable
      dv.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dvDirOf(outDir))
      // written-sidecar row count from parquet footers (r21): the dir
      // is complete and unmasked, so a count() job re-reading it buys
      // nothing a driver-side footer read doesn't
      rowsDeleted =
        FileStats.footerRowCount(spark, Seq(dvDirOf(outDir))) - priorCount
    }
    // stats verbatim: all files survive physically, bounds stay valid
    writeTinyParts(spark, Seq(oldStats), statsDirOf(outDir))
    // path-list-sized manifest, written driver-side (r21)
    LocalParquet.overwrite(spark, manifestDir(outDir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType))),
      all.map(org.apache.spark.sql.Row(_)))
    DeleteStats(all.size.toLong, 0L, rowsDeleted)
  }

  /** COMPACT a delete version: fold every deletion vector into the
    * base files (the masked rows disappear PHYSICALLY) and merge the
    * surviving rows into ~`targetBytes` files, re-range-clustered on
    * the indexed columns so the zone maps stay sharp. Publishes a
    * fresh version at `outDir` — maintained stats, NO sidecar —
    * that chains like any other ([[deleteRange]]/[[deleteVectors]]
    * consume its stats). This is where the DV regime's deferred
    * rewrite cost is actually paid: off-peak, once, for all
    * accumulated vectors, instead of per takedown. Returns
    * (filesBefore, filesAfter, dvEntriesFolded).
    */
  def compactVersion(spark: SparkSession, versionDir: String,
                     outDir: String,
                     targetBytes: Long = 128L << 20): (Long, Long, Long) = {
    val statsDir = statsDirOf(versionDir)
    val oldStats = FileStats.manifestDf(spark, statsDir)
    val indexed = oldStats.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSeq
    val dvFolded = dvReadIfExists(spark, dvDirOf(versionDir))
      .map(_.count()).getOrElse(0L)
    val filesBefore = oldStats.count()
    val masked = read(spark, versionDir) // DV-applied view
    // size the output from the version's physical bytes (manifest-
    // listed paths only — a driver metadata pass)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = FileStats.localizedParquet(spark, manifestDir(versionDir))
      .select("path").collect().map(_.getString(0)).map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).getContentSummary(hp).getLength
      }.sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    masked.repartitionByRange(nOut, indexed.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(filesDir(outDir))
    FileStats.writeStats(spark, filesDir(outDir), statsDirOf(outDir), indexed)
    import spark.implicits._
    Seq(filesDir(outDir)).toDF("path").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(manifestDir(outDir))
    val filesAfter = FileStats.manifestDf(spark, statsDirOf(outDir)).count()
    (filesBefore, filesAfter, dvFolded)
  }

  /** Per-VERSION Bloom file index on `column` (VERDICT r17 #4): built
    * over the version's manifest paths, landed at
    * `versionDir/bloom/<column>`, and consulted by
    * [[Routing.readWhere]]'s delete-version arm for equality/IN
    * conjuncts — the pruning axis the maintained zone maps cannot
    * serve (an unsorted id column spans every file's [min,max]).
    * The version is IMMUTABLE, so the index needs no freshness gate
    * and no refresh; it lives exactly as long as the version. A
    * chained delete's NEW version does not inherit it (rewritten
    * files change membership) — rebuild against the new version when
    * its read traffic warrants one. DV masks compose transparently:
    * the Bloom admits files, the mask still hides rows. */
  def indexBloom(spark: SparkSession, versionDir: String, column: String,
                 mLog2: Int = 16, k: Int = 3): Unit = {
    val paths = FileStats.localizedParquet(spark, manifestDir(versionDir))
      .select("path").collect().map(_.getString(0)).toSeq
    require(paths.nonEmpty, s"empty delete manifest at $versionDir")
    BloomIndex.writeBloomFiles(spark, paths,
      s"$versionDir/bloom/$column", column, mLog2, k)
  }

  /** Rows the version's deletion-vector sidecar hides (0 without one) —
    * the exact correction [[Routing.aggStats]] applies to the
    * maintained manifest's n_rows. */
  private[graft] def dvCount(spark: SparkSession, versionDir: String): Long =
    dvReadIfExists(spark, dvDirOf(versionDir)).map(_ =>
      FileStats.footerRowCount(spark, Seq(dvDirOf(versionDir)))).getOrElse(0L)

  /** The deletion-vector mask restricted to `files`, as
    * (scheme-normalized path → ASCENDING row indexes) — what the DSv2
    * scan ships to its per-file readers (the same sidecar [[read]]
    * anti-joins; DV paths are stored normalized at write). Empty map
    * without a sidecar. The caller enforces the broadcast-regime bound
    * ([[maxBroadcastDvRows]]) before collecting. */
  private[graft] def dvMaskFor(spark: SparkSession, versionDir: String,
                               files: Seq[String]): Map[String, Array[Long]] =
    dvReadIfExists(spark, dvDirOf(versionDir)) match {
      case None => Map.empty
      case Some(dv) =>
        val admit = files.map(normPath)
        dv.filter(col("path").isInCollection(admit))
          .select("path", "row_idx").collect()
          .groupBy(_.getString(0))
          .map { case (p, rows) =>
            p -> rows.map(_.getLong(1)).distinct.sorted
          }
    }

  /** The broadcast-regime bound, visible to the DSv2 scan's guard. */
  private[graft] def dvBroadcastBound(spark: SparkSession): Long =
    maxBroadcastDvRows(spark)

  /** The version's manifest path list (file-count-sized) — what the
    * DSv2 table face lends its schema from without running the DV
    * sidecar's regime-decision count. */
  private[graft] def manifestPaths(spark: SparkSession,
                                   outDir: String): Seq[String] =
    FileStats.localizedParquet(spark, manifestDir(outDir))
      .select("path").collect().map(_.getString(0)).toSeq

  /** Read the post-delete version: the manifest's paths (kept original
    * files + any rewritten dir), opened as one frame, with the
    * version's deletion vectors — if any — applied as a scan-side
    * anti-mask on (file, row_index). The sidecar is delete-set-sized
    * and broadcast, so the mask adds no shuffle over the table — up to
    * [[maxBroadcastDvRows]]; beyond it the mask degrades to a
    * memory-safe shuffle anti-join (run [[compactVersion]] to fold the
    * vectors and restore the broadcast regime). */
  def read(spark: SparkSession, outDir: String): DataFrame = {
    val paths = FileStats.localizedParquet(spark, manifestDir(outDir))
      .select("path").collect().map(_.getString(0)).toSeq
    require(paths.nonEmpty, s"empty delete manifest at $outDir")
    readFiles(spark, outDir, paths)
  }

  /** [[read]] restricted to `paths` — a subset of the version's
    * manifest, e.g. zone-pruned by [[Routing.readWhere]]. Identical DV
    * semantics: mask rows naming unopened files simply never match the
    * anti-join. */
  private[lake] def readFiles(spark: SparkSession, outDir: String,
                              paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, s"no paths to read under $outDir")
    val base = spark.read.parquet(paths: _*)
    dvReadIfExists(spark, dvDirOf(outDir)) match {
      case None => base
      case Some(dv) => applyDvMask(spark, base, dv)
    }
  }

  /** `true` when `dir` is a published delete VERSION (manifest + stats
    * present) — how [[Routing]] (and the DSv2 shape guard) recognizes
    * the shape. */
  private[graft] def isVersionDir(spark: SparkSession, dir: String): Boolean = {
    def ex(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    ex(manifestDir(dir)) && ex(statsDirOf(dir))
  }
}

package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Zone maps for a plain-parquet tree: a per-FILE min/max stats
  * manifest and a reader that skips every file whose range cannot
  * contain the predicate. This is the query-side payoff of the
  * clustered layouts the lake already writes ([[ZOrder]] makes every
  * file's range narrow on BOTH curve dimensions; a plain sort makes the
  * leading column narrow) — without it, a range query still opens every
  * file and only the row-group footer check saves work, which at 100 TB
  * is millions of object-store GETs for files that were never
  * candidates. With it, file listing cost drops to one manifest read
  * (file-count-sized, metadata-scale) and the scan reads only
  * intersecting files.
  *
  * The stats build is ONE distributed scan of the columns being
  * indexed, grouped by `input_file_name` — partial aggregation makes
  * the shuffle file-count-sized. Rebuild after layout changes
  * (compaction, z-order rewrite); the manifest names files, so a stale
  * manifest fails loudly on read rather than silently dropping rows.
  *
  * Pruning is necessary-not-sufficient: a surviving file may still hold
  * no matching row, so [[prunedRead]] RE-APPLIES the predicate — file
  * skipping is an optimization, never a semantic filter.
  */
object FileStats {

  private def minName(c: String) = s"min_$c"
  private def maxName(c: String) = s"max_$c"

  import Overlap.ec // metadata fan-out; each call site bounds its wait

  // Tree fingerprints: a deterministic digest (file count, total
  // bytes, max mtime) of the data tree a manifest was built over,
  // recorded as a `_tree_fp` sidecar beside every stats/Bloom manifest
  // so [[Routing]] can fail FAST on staleness — without it, files
  // landed after the build are silently excluded from routed reads AND
  // the manifest-derived full-scan fallback. Read-time cost is one
  // recursive listing: metadata-scale, already paid by un-indexed scans.

  /** One data file as the tree walk sees it: original (scheme-carrying)
    * path for I/O, scheme-normalized path for joins/sets (the form
    * `input_file_name` comparisons use), plus the (len, mtime) pair
    * that detects in-place content changes. */
  private[graft] final case class FileMeta(path: String, norm: String,
                                          len: Long, mtime: Long)

  /** THE scheme-prefix pattern — every path normalization in the lake
    * (string or Column) must go through this one constant: the DV mask
    * is KEYED by normalized paths and read back by normalized paths,
    * so two drifting regex copies would silently resurrect deleted
    * rows (review r20 pass 2 found exactly such copies). */
  private[graft] val SchemeRe = "^[a-z][a-zA-Z0-9+.-]*:/+"

  private[graft] def normPath(s: String): String =
    s.replaceFirst(SchemeRe, "/")

  /** Recursive listing of the data files under `dataDir` (hidden
    * `_`/`.`-prefixed files AND directories excluded — the set a
    * parquet scan reads; the old serial walk descended into hidden
    * dirs like `_spark_metadata`, which a scan never reads).
    *
    * PARALLEL (VERDICT r18 #6): directories at each depth list
    * concurrently on a bounded pool — the fingerprint is
    * order-independent ([[fpOf]]) and every consumer treats the
    * listing as a set, so concurrency is free, and at millions of
    * files the serial per-dir RPC walk was the fingerprint's real
    * cost. Bounded wait per level: a hung FileSystem RPC fails the
    * walk loudly instead of stalling the driver. */
  private[graft] def walkTree(spark: SparkSession,
                             dataDir: String): Seq[FileMeta] = {
    val hp = new org.apache.hadoop.fs.Path(dataDir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return Seq.empty
    // the bound below fails loudly on a hung listStatus (review r19)
    val out = scala.collection.mutable.ArrayBuffer[FileMeta]()
    var dirs: Seq[org.apache.hadoop.fs.Path] = Seq(hp)
    while (dirs.nonEmpty) {
      val listed =
        try Overlap.all(
          dirs.map(d => scala.concurrent.Future(fs.listStatus(d).toSeq)),
          scala.concurrent.duration.Duration(10, "min")).flatten
        catch {
          case e: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              s"tree listing stalled >10 min across ${dirs.size} dirs " +
                s"under $dataDir — a FileSystem listStatus is hung", e)
        }
      val (sub, files) = listed.partition(_.isDirectory)
      files.foreach { f =>
        if (!hidden(f.getPath))
          out += FileMeta(f.getPath.toString, normPath(f.getPath.toString),
            f.getLen, f.getModificationTime)
      }
      dirs = sub.map(_.getPath).filterNot(hidden)
    }
    out.toSeq
  }

  private def hidden(p: org.apache.hadoop.fs.Path): Boolean =
    p.getName.startsWith("_") || p.getName.startsWith(".")

  /** The live (non-hidden) files directly under dir `p` — the set a
    * parquet scan of it reads. */
  private def liveFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.filter(s => s.isFile && !hidden(s.getPath))

  /** ORDER-INDEPENDENT per-file digest (ADVICE r17): the old aggregate
    * (count, total bytes, max mtime) missed a same-size in-place
    * overwrite whose mtime did not advance past the tree max, and any
    * rename preserving count/bytes/mtime — stale bounds then silently
    * excluded files from routed reads, the exact hazard the gate
    * exists to prevent. Here every file's (normalized path, len,
    * mtime) hashes individually into 64 bits; SUM and XOR of the
    * per-file hashes commute, so listing order cannot matter, and any
    * single-file change moves both accumulators with overwhelming
    * probability. */
  private[lake] def fpOf(files: Seq[FileMeta]): String = {
    var sum = 0L; var xor = 0L
    files.foreach { m =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(
        s"${m.norm}|${m.len}|${m.mtime}")
      val h2 = scala.util.hashing.MurmurHash3.stringHash(
        s"${m.mtime}|${m.len}|${m.norm}", 0x9747b28c)
      val h64 = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      sum += h64; xor ^= h64
    }
    // v3 (ADVICE r19): the r19 walk stopped descending into hidden
    // directories, so fingerprints recorded by the old walk no longer
    // match on trees containing them. Bumping the prefix lets the
    // STALE message name the FORMAT change (one expected rebuild on
    // upgrade) instead of implying data churn — see requireFresh.
    f"v3:${files.size}:$sum%016x:$xor%016x"
  }

  def treeFingerprint(spark: SparkSession, dataDir: String): String =
    fpOf(walkTree(spark, dataDir))

  private def fpPath(manifestDir: String) =
    new org.apache.hadoop.fs.Path(manifestDir, "_tree_fp")

  // ---- ATOMIC manifest publish (ADVICE r17): a refresh must never
  // delete the live manifest before its replacement is readable (the
  // old delete-then-rename left a crash window with NO manifest —
  // routing silently degrading to full scan — and a torn-listing
  // window for concurrent readers). Refreshed manifests land as a NEW
  // immutable `m<N>/` version INSIDE the manifest dir and readers
  // resolve through the `_mp` pointer file, flipped by the same
  // single-file rename-with-overwrite primitive [[Snapshot.publish]]
  // uses. The tree fingerprint lives INSIDE each version dir, so data
  // and freshness stamp flip together. Manifests built by
  // [[writeStats]]/[[BloomIndex.writeBloom]] stay flat (no pointer);
  // the resolver falls back to the dir itself, which also covers
  // [[DeleteWhere]]'s version-immutable maintained manifests.

  private val MPtr = "_mp"

  /** One reader for the tiny control files beside manifests (pointer,
    * fingerprint, pending-append marker, the BM25 index's posting-key
    * format marker) — three hand-rolled
    * open/read/close blocks had already grown (review r18).
    *
    * BOUNDED RETRY on transient mid-flip states (r20 publish soak): on
    * stores where the single-file replace is not truly atomic —
    * Hadoop's local ChecksumFileSystem renames the data file and its
    * `.crc` sidecar as TWO renames, and its overwrite is
    * check-then-act — a reader can catch the pointer mid-swap
    * (ChecksumException, FileNotFound, EOF). The state is transient by
    * construction (some publisher's complete flip lands within the
    * window), so a few short retries restore the atomic-read contract;
    * on HDFS-like stores the retry never triggers. Persistent failure
    * still surfaces loudly. */
  private[graft] def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path): Option[String] = {
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(p)) return None
        val in = fs.open(p)
        try return Some(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      } catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException |
                  _: java.io.EOFException) =>
          attempt += 1
          if (attempt >= 8) throw e
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  /** The directory holding the manifest's CURRENT parquet data: the
    * `_mp`-named version subdir when published through
    * [[publishManifest]], else the manifest dir itself (flat build).
    * Public — external consumers of a manifest must resolve through
    * this, never read the dir raw.
    *
    * A MISSING pointer beside EXISTING `m<N>` version dirs is never a
    * flat build — on stores whose overwrite-rename is delete-then-
    * rename (the local ChecksumFileSystem) it is the transient
    * mid-flip window (r20 publish soak: an entrant resolving inside it
    * minted m0 against a live m<N> table), so retry briefly; if the
    * pointer stays missing the store crashed mid-flip and falling back
    * to the raw dir would read MIXED versions — fail loudly naming the
    * rebuild instead. */
  def resolveManifest(spark: SparkSession,
                      manifestDir: String): String = {
    val ptr = new org.apache.hadoop.fs.Path(manifestDir, MPtr)
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      readSidecar(fs, ptr) match {
        case Some(n) => return s"$manifestDir/${n.trim}"
        case None =>
          val dirPath = new org.apache.hadoop.fs.Path(manifestDir)
          val hasVersions = fs.exists(dirPath) &&
            fs.listStatus(dirPath).exists(
              _.getPath.getName.matches("m\\d+(_[0-9a-f]+)?"))
          if (!hasVersions) return manifestDir // flat/legacy build
          attempt += 1
          if (attempt >= 8) throw new IllegalStateException(
            s"manifest at $manifestDir holds m<N> versions but no " +
              "pointer — a publisher crashed mid-flip on a store whose " +
              "pointer replace is not atomic; rebuild the index " +
              "(Routing.indexStats / indexBloom)")
          Thread.sleep(5L * attempt)
      }
    }
    manifestDir // unreachable
  }

  /** `true` when the manifest at `manifestDir` has a COMPLETED
    * pointer publish — the completeness gate for indexes whose
    * versions carry no freshness fingerprint ([[DeleteWhere]]'s
    * per-version Bloom). A dir that exists WITHOUT a pointer is an
    * interrupted build (or a pre-pointer flat layout) and must never
    * be consulted — a torn Bloom silently false-negates (ADVICE r18,
    * medium) — and consumers must refuse it LOUDLY, naming the
    * rebuild, rather than silently skipping the pruning the operator
    * believes exists (review r19; Routing's delete-version arm is the
    * reference consumer). */
  private[lake] def isPublished(spark: SparkSession,
                                manifestDir: String): Boolean = {
    val ptr = new org.apache.hadoop.fs.Path(manifestDir, MPtr)
    ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ptr)
  }

  /** The manifest's current parquet data as a frame — EVERY manifest
    * read goes through this, so a pointer flip is invisible to
    * consumers. Small manifests come back DRIVER-LOCALIZED
    * ([[localizedParquet]]): a LocalRelation whose filter/collect
    * consumers fold driver-side with zero Spark jobs. */
  private[lake] def manifestDf(spark: SparkSession,
                               manifestDir: String): DataFrame =
    localizedParquet(spark, resolveManifest(spark, manifestDir))

  // ---- driver-localized tiny-parquet reads (r21 optimization).
  // The lake's metadata surfaces — stats/bloom manifests, DV sidecars,
  // delete-version manifests — are read MANY times per lifecycle
  // (prune, probe, guard, count), and each spark.read.parquet +
  // collect() pays a full job: ~50-100 ms of planning + scheduling for
  // a few-KB file. guide §5: the driver should do almost no data work —
  // but metadata is not data, and these dirs are bounded by design
  // (file-count- or delete-set-sized, coalesce(1) on write). Reads at
  // or under LocalizeMaxBytes come back as a memoized LocalRelation:
  // Catalyst's ConvertToLocalRelation then folds Project/Filter over
  // it during optimization, so the common `.filter(...).collect()`
  // never launches a job. Bigger dirs (a million-file bloom manifest
  // at 100 TB) fall through to the ordinary distributed read — the
  // scale story of every consumer is unchanged, this only removes the
  // fixed per-job cost where the data was driver-sized anyway.
  // Safety: the memo key is the dir's LISTING (name, len, mtime of
  // every live parquet file), so any rewrite — even of a flat
  // non-pointer dir — misses the memo and re-reads.
  // The same two bounds ([[localizableRows]]) also gate the driver arm
  // of the index searches (`Bm25Index.topK`, `Ivf.searchIndex`): a
  // search whose tables fit them, and whose ranking work estimated
  // from their row counts is small, collects its inputs in one scan
  // and ranks them on the driver.

  private[graft] val LocalizeMaxBytes = 8L << 20
  /** Row bound on localization (ADVICE r21, medium): compressed bytes
    * alone under-measure dictionary/delta-packed sidecars — a DV
    * sidecar can pack far more than the broadcast-regime row cap under
    * 8 MB, and localizing it would plan the 'memory-safe' non-broadcast
    * mask over a driver-resident LocalRelation shipped whole into
    * tasks. Footer record counts are a driver-side metadata read; past
    * the bound the ordinary distributed read keeps every consumer's
    * scale story. */
  private[graft] val LocalizeMaxRows = 1L << 20
  /** Total-row budget across the memo (ADVICE r21): entry count alone
    * let 4096 near-bound arrays accumulate. */
  private val LocalMemoRowBudget = 16L << 20
  private val localMemoRows = new java.util.concurrent.atomic.AtomicLong(0L)
  private val localMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType,
             Array[org.apache.spark.sql.Row])]()
  private val localTooBig =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cheap per-file content fingerprint folded into the staleness memo
    * keys (VERDICT r21 #3): (name, len, mtime) alone misses an in-place
    * same-length rewrite landing within the filesystem's mtime
    * granularity (the crash-replay republish path makes this reachable).
    * First + last 64 bytes, hashed — for parquet the tail covers the
    * footer's end (column stats, offsets, metadata length), which any
    * real content change perturbs. Cost: one open + two short reads per
    * live file per lookup, on dirs that are tiny metadata surfaces by
    * construction. An unreadable file yields a unique stamp so the memo
    * can never serve it stale. */
  private[lake] def contentStamp(fs: org.apache.hadoop.fs.FileSystem,
                                 st: org.apache.hadoop.fs.FileStatus): String =
    try {
      val n = st.getLen
      val head = new Array[Byte](math.min(64L, n).toInt)
      val tail = new Array[Byte](math.min(64L, n).toInt)
      val in = fs.open(st.getPath)
      try {
        in.readFully(0L, head)
        in.readFully(math.max(0L, n - tail.length), tail)
      } finally in.close()
      val h1 = scala.util.hashing.MurmurHash3.bytesHash(head, 0x51f4e2a1)
      val h2 = scala.util.hashing.MurmurHash3.bytesHash(tail, 0x9747b28c)
      f"$h1%08x$h2%08x"
    } catch {
      case _: java.io.IOException => s"io-miss-${System.nanoTime()}"
    }

  /** Memo key of `dir` — the dir plus its live-file listing (name,
    * len, mtime, content stamp) — with the listed files; None when the
    * dir is missing or holds no live file. */
  private def localKey(spark: SparkSession, dir: String)
      : Option[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      try liveFiles(fs, p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (listed.isEmpty) None
    else Some((dir + "|" + listed.map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}:" +
          contentStamp(fs, s))
      .sorted.mkString(","), listed))
  }

  /** The rows of the parquet dirs `dirs` together when they fit the
    * localize bounds — the test [[localizedRows]] applies to one dir,
    * made from one listing of each dir and its footers (opened only
    * when the bytes fit; counts memoized, [[footerRowMemo]]), with no
    * Spark job — else None. `maxBytes` is the byte bound:
    * [[LocalizeMaxBytes]], or lower in tests (0 fails every non-empty
    * dir). */
  private[graft] def localizableRows(spark: SparkSession, dirs: Seq[String],
                                     maxBytes: Long): Option[Long] = {
    val files = listDirs(spark, dirs)
    if (files.map(_.getLen).sum > maxBytes) None
    else Some(memoFooterRows(spark, files)).filter(_ <= LocalizeMaxRows)
  }

  private def remember(key: String,
                       schema: org.apache.spark.sql.types.StructType,
                       rows: Array[org.apache.spark.sql.Row]): Unit = {
    if (localMemo.size > 4096 ||
        localMemoRows.get() + rows.length > LocalMemoRowBudget) {
      localMemo.clear(); localTooBig.clear(); localMemoRows.set(0L)
    }
    localMemo.put(key, (schema, rows))
    localMemoRows.addAndGet(rows.length.toLong)
  }

  /** The rows of the small parquet dir `dir` with their schema, from
    * the memo or read once and memoized; None when the dir is missing,
    * empty, or past the localize bounds (callers then read it the
    * distributed way). */
  private[lake] def localizedRows(spark: SparkSession, dir: String)
      : Option[(org.apache.spark.sql.types.StructType,
                Array[org.apache.spark.sql.Row])] = {
    val (key, listed) = localKey(spark, dir).getOrElse(return None)
    if (localTooBig.contains(key)) return None
    val hit = localMemo.get(key)
    if (hit != null) return Some(hit)
    if (listed.map(_.getLen).sum > LocalizeMaxBytes ||
        footerRows(spark, listed) > LocalizeMaxRows) {
      localTooBig.add(key)
      return None
    }
    val df = spark.read.parquet(dir)
    val rows = df.collect()
    remember(key, df.schema, rows)
    Some((df.schema, rows))
  }

  /** Seed the memo with `rows` just written to `dir`, which must be
    * immutable from here on, so its first read pays no job. */
  private[lake] def seedLocalized(spark: SparkSession, dir: String,
                                  schema: org.apache.spark.sql.types.StructType,
                                  rows: Seq[org.apache.spark.sql.Row]): Unit =
    localKey(spark, dir).foreach { case (key, _) =>
      remember(key, schema, rows.toArray) }

  private[lake] def localizedParquet(spark: SparkSession,
                                     dir: String): DataFrame =
    localizedRows(spark, dir) match {
      case Some((schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      // too big, or missing/empty: keep the reader's shape and error
      case None => spark.read.parquet(dir)
    }

  /** The rows of `df` when it is driver-resident — a LocalRelation, or
    * one under a repartition such as a caller's `coalesce(1)` — of at
    * most `maxRows` rows, read without a Spark job; None for any other
    * plan or a larger relation, whose rows are then never converted. */
  private[graft] def localRows(df: DataFrame, maxRows: Long)
      : Option[Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.data.length <= maxRows =>
        Some(df.collect()) // LocalTableScan: no job
      case Repartition(_, _, lr: LocalRelation) if lr.data.length <= maxRows =>
        // collecting through the repartition would run a job
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(lr.schema)
        Some(lr.data.map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]).toArray)
      case _ => None
    }
  }

  /** `df.distinct()` with a driver-side fast path (r21): when `df` is
    * already a localized LocalRelation, dedupe the rows in Scala and
    * return a new LocalRelation — `.distinct()` over a LocalRelation
    * plans an Aggregate, which costs a (small) Spark job AND blocks
    * [[deltaOf]]'s pure-driver classification. Distributed frames
    * keep the ordinary distinct. */
  private[lake] def localDistinct(df: DataFrame): DataFrame =
    localRows(df, Long.MaxValue).fold(df.distinct())(rows =>
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows.distinct: _*), df.schema))

  /** `df.count()` with a driver-side fast path for localized
    * LocalRelations (a count() plans an Aggregate — a Spark job even
    * over driver-resident rows). */
  private[lake] def localCount(df: DataFrame): Long =
    localRows(df, Long.MaxValue).fold(df.count())(_.length.toLong)

  /** Exact row count of complete parquet dirs (or files) from their
    * FOOTERS — a driver-side metadata read replacing a `df.count()`
    * job wherever every row of every file counts (no filter/mask). */
  private[lake] def footerRowCount(spark: SparkSession,
                                   dirs: Seq[String]): Long =
    footerRows(spark, listDirs(spark, dirs))

  /** The live files of `dirs` (a path naming a file is itself); a
    * missing path contributes nothing. */
  private def listDirs(spark: SparkSession, dirs: Seq[String])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty[org.apache.hadoop.fs.FileStatus]
      else {
        val st = fs.getFileStatus(p)
        if (st.isFile) Seq(st)
        else liveFiles(fs, p)
      }
    }
  }

  /** Σ footer record counts of `files`. */
  private def footerRows(spark: SparkSession,
                         files: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    footerCounts(spark, files).sum

  /** Footer record counts by file (path, length, mtime), for choosing
    * an arm by size: a stale count can only pick the other arm of a
    * search, never change its answer. Cleared whole past 64k files. */
  private val footerRowMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** [[footerRows]] through [[footerRowMemo]]: only files not seen
    * before are opened. */
  private def memoFooterRows(spark: SparkSession,
                             files: Seq[org.apache.hadoop.fs.FileStatus]): Long = {
    def key(st: org.apache.hadoop.fs.FileStatus) =
      s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    val known = files.flatMap(st =>
      Option(footerRowMemo.get(key(st))).map(key(st) -> _.longValue)).toMap
    val miss = files.filterNot(st => known.contains(key(st)))
    if (footerRowMemo.size + miss.length > (1 << 16)) footerRowMemo.clear()
    val fresh = miss.map(key).zip(footerCounts(spark, miss)).toMap
    fresh.foreach { case (k, n) => footerRowMemo.put(k, n) }
    (known ++ fresh).values.sum
  }

  /** The footer record count of each of `files`. */
  private def footerCounts(spark: SparkSession,
                           files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // footer opens in parallel on the shared pool: one footer per file
    // is metadata-priced but not free serially — a 16-bucket rewrite
    // counts 32 dirs' footers per delete batch
    Overlap.all(
      files.map { st =>
        scala.concurrent.Future {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }
      }, scala.concurrent.duration.Duration(10, "min"))
  }

  /** Publish the next manifest version: `write` lands parquet into a
    * PRIVATE staging dir, `fp` is stamped inside it, the stage renames
    * to the immutable `m<N>` dir, then the pointer flips atomically.
    * The PREVIOUS version is retained (an in-flight reader that
    * resolved it keeps a valid path, Snapshot-style); anything older —
    * including flat legacy parquet, crashed stages, and the root-level
    * fingerprint of the pre-pointer layout — is collected. A crash
    * before the flip leaves the old version live and the tree
    * fingerprint stale → loud, the fail-safe direction.
    *
    * CONCURRENCY (VERDICT r18 #3) — every publish mints a UNIQUE
    * version name `m<N>_<uuid>` (monotonic numeric prefix for
    * ordering, random suffix so two publishers can never collide on a
    * directory), and the single-file pointer flip IS the commit: two
    * racing refreshes both land self-consistent versions and the
    * last flip wins — a serialized pair, never a clobbered live
    * manifest (no publish path ever writes into an existing version
    * dir). CRASH-SAFE at every step (the first review pass of this
    * round found that a claim-by-rename protocol wedged permanently
    * when a crash landed between claim and flip): a crash before the
    * flip leaves only an orphan dir and the old version live with a
    * stale fingerprint → loud at read, and the NEXT publish simply
    * succeeds under its own unique name; orphans sweep one cycle
    * later (see GC rule below).
    *
    * GC rule (review r19, pass 2 — the ≤-rule could sweep a
    * lapped-by-one publisher's committed-but-unflipped version):
    * sweep version dirs AND stages whose numeric prefix is STRICTLY
    * BELOW the version resolved at entry, keeping that version and
    * the one just published. A concurrent publisher's in-flight
    * artifacts always carry `entryNum + 1`, so a sweeper at the same
    * entry (`curNum`) or one flip ahead (`curNum + 1`) never touches
    * them; only a publisher that stalls across TWO full maintenance
    * cycles can be lapped — and that degradation is LOUD (its flip
    * leaves the pointer naming a swept dir; reads fail; the next
    * publish heals) never silent. Crash orphans become sweepable once
    * the pointer's number passes them. The previous live version
    * always survives one cycle for in-flight readers
    * (Snapshot-style retention).
    *
    * Defense in depth: the stage is verified to still hold its data
    * files right before the version rename — if a (contract-
    * violating) concurrent GC swept the stage after `write` and the
    * fingerprint stamp silently recreated the dir, the publish fails
    * loudly instead of flipping an empty version live. */
  private[graft] def publishManifest(spark: SparkSession, manifestDir: String,
                                    fp: String)(write: String => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(manifestDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val cur = resolveManifest(spark, manifestDir)
    val curName = if (cur == manifestDir) None
      else Some(new org.apache.hadoop.fs.Path(cur).getName)
    // a pointer resolving to a non-version name is CORRUPTION (ADVICE
    // r18): the old `toLongOption.getOrElse(0)` fallback minted m0 and
    // the GC pass then swept every other version — including the live
    // one. Demand a rebuild instead.
    curName.foreach(n => require(n.matches("m\\d+(_[0-9a-f]+)?"),
      s"manifest pointer at $manifestDir/$MPtr resolves to '$n', not an " +
        "m<N> version — the pointer is corrupted; rebuild the index " +
        "(Routing.indexStats / indexBloom)"))
    // numeric prefix of a version (m<N>_…) or stage (.stage_m<N>_…)
    // name; unparseable names sort below everything (always sweepable)
    def numOf(n: String): Long = {
      val digits = n.stripPrefix(".stage_").stripPrefix("m")
        .takeWhile(_.isDigit)
      if (digits.isEmpty) Long.MinValue else digits.toLong
    }
    val curNum = curName.map(numOf).getOrElse(-1L)
    val nextName = "m" + (curNum + 1) + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val stageName = ".stage_" + nextName
    val stage = s"$manifestDir/$stageName"
    write(stage)
    writeTreeFp(spark, stage, fp)
    // the stage must still hold MORE than the fingerprint sidecar: a
    // swept-then-recreated stage would otherwise commit an empty
    // version whose matching fingerprint makes it look healthy
    // an actual part file, not a marker: a stage stripped of its data
    // but retaining a _SUCCESS would otherwise still flip an empty
    // version live (ADVICE r19 — underscore entries never count)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
    require(staged.exists { s =>
        val n = s.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      },
      s"stage at $stage holds no data files — a concurrent maintenance " +
        "pass likely swept it mid-publish (two refreshes of one index " +
        "must not run concurrently); re-run this refresh")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
    // unique name: this rename cannot collide with another publisher
    fc.rename(new org.apache.hadoop.fs.Path(stage),
      new org.apache.hadoop.fs.Path(manifestDir, nextName))
    // the COMMIT: one atomic pointer-file replace, via a tmp that is
    // UNIQUE per publish (review r19 pass 2: a shared tmp path let one
    // racer rename the other's truncated-empty tmp into the pointer)
    // and carries the version's m<N> prefix, so the GC below can apply
    // the same strict-< retention to tmps as to versions (ADVICE r19:
    // an unconditional tmp sweep could delete a concurrent publisher's
    // not-yet-renamed pointer tmp, failing its commit after its
    // version dir already landed)
    val tmp = new org.apache.hadoop.fs.Path(manifestDir,
      MPtr + ".tmp_" + nextName)
    // BOUNDED RETRY on the flip itself (r20 publish soak): on stores
    // whose rename-with-overwrite is check-then-act (the local
    // ChecksumFileSystem) a concurrent racer's flip can land between
    // the delete and the rename → FileAlreadyExists. Re-flipping is
    // safe: the racer's pointer is a COMPLETE version, and whichever
    // order the two flips settle in is a valid serialization (the
    // last-flip-wins contract). HDFS-like stores flip atomically and
    // never retry.
    def writeTmp(): Unit = {
      val out = fs.create(tmp, true)
      try out.write(nextName.getBytes("UTF-8")) finally out.close()
    }
    writeTmp()
    var flipAttempt = 0
    var flipped = false
    while (!flipped) {
      try {
        fc.rename(tmp, new org.apache.hadoop.fs.Path(manifestDir, MPtr),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        flipped = true
      } catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.io.FileNotFoundException) =>
          // FileAlreadyExists: the racer's flip landed inside this
          // store's non-atomic delete+rename. FileNotFound: a heavily
          // lapped racer's GC swept our tmp (r20 soak) — recreate it;
          // the publisher knows exactly what it wanted to write, so
          // the flip is always recoverable.
          flipAttempt += 1
          if (flipAttempt >= 8) throw e
          Thread.sleep(5L * flipAttempt)
          if (!fs.exists(tmp)) {
            // ADVICE r20: the same strict-< sweep that took the tmp can
            // have taken the not-yet-pointed VERSION DIR too (publisher
            // lapped twice). Re-flipping then installs a pointer naming
            // a deleted version — a "successful" publish whose output is
            // gone. Verify the version survived before recreating.
            if (!fs.exists(new org.apache.hadoop.fs.Path(manifestDir, nextName)))
              throw new java.io.IOException(
                s"publish lost the race twice: version $nextName was " +
                  "GC-swept before its pointer flip; re-run the refresh", e)
            writeTmp()
          }
      }
    }
    // GC (rule in the doc above). Flat legacy parquet from the
    // pre-pointer layout survives the FIRST flip (it is the in-flight
    // readers' "previous version") and sweeps on the next.
    // a pointer tmp carrying an m<N> prefix follows the SAME strict-<
    // retention as versions/stages (a concurrent publisher's in-flight
    // tmp is at entryNum+1, never swept on the normal schedule) PLUS a
    // grace age: the r20 soak showed two quick laps can outrun a slow
    // publisher's entry number, and unlike a swept VERSION (loud at
    // read) a swept tmp used to fail the racer's commit — the owner now
    // also recreates a vanished tmp (flip retry above), so the grace is
    // defense in depth, and crash debris still sweeps after a minute.
    // A legacy/unparseable tmp name sorts below everything.
    def tmpNum(n: String): Long =
      if (n.matches(java.util.regex.Pattern.quote(MPtr) +
          "\\.tmp_m\\d+_[0-9a-f]+"))
        numOf(n.stripPrefix(MPtr + ".tmp_"))
      else Long.MinValue
    val tmpGraceMs = 60000L
    val now = System.currentTimeMillis()
    fs.listStatus(dir).foreach { st =>
      val nm = st.getPath.getName
      val isVersion = nm.matches("m\\d+(_[0-9a-f]+)?")
      val isStage = nm.startsWith(".stage_")
      val isTmp = nm.startsWith(MPtr + ".tmp")
      val tmpStale = isTmp && tmpNum(nm) < curNum &&
        now - st.getModificationTime > tmpGraceMs
      val stale =
        if (curName.isDefined)
          ((isVersion || isStage) && nm != nextName &&
            !curName.contains(nm) && numOf(nm) < curNum) ||
            tmpStale ||
            (!isVersion && !isStage && !isTmp && nm != MPtr)
        else (isStage && numOf(nm) < 0L) || tmpStale
      if (stale) fs.delete(st.getPath, true)
    }
  }

  /** Record `fp` beside the manifest at `manifestDir`. The fingerprint
    * must come from the SAME listing the build consumed — stamping a
    * listing taken AFTER the build would record files the build never
    * saw, and requireFresh would then pass on a manifest that is
    * missing them (the inverted-race hole a review found). With the
    * build's own listing, a file landing mid-build makes the read-time
    * fingerprint differ → loud, the fail-safe direction. The `_`
    * prefix keeps parquet readers of the manifest blind to the
    * sidecar. */
  private[lake] def writeTreeFp(spark: SparkSession, manifestDir: String,
                                fp: String): Unit = {
    val p = fpPath(manifestDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(fp.getBytes("UTF-8"))
    finally out.close()
  }

  /** (norm-path → len/mtime) frame of a listing, joined onto manifest
    * rows at build time so a later [[refreshStats]] can detect
    * IN-PLACE content changes (same path, different bytes) — without
    * it a path-set-only delta would "heal" the fingerprint while
    * keeping stale bounds. Columns are `_gf_`-prefixed so the frame
    * joins cleanly against manifests that already carry
    * `f_len`/`f_mtime`. */
  private[lake] def metaDf(spark: SparkSession,
                           listing: Seq[FileMeta]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    listing.map(m => (m.norm, m.path, m.len, m.mtime))
      .toDF("_gf_norm", "_gf_orig", "_gf_len", "_gf_mtime")
  }

  /** Rows collected driver-side by the LAST delta classification
    * ([[deltaOf]]) in this JVM — spec instrumentation only
    * (FileStatsSpec pins the O(changed files) contract: a refresh must
    * never localize the full manifest). */
  @volatile private[graft] var lastDeltaCollected: Long = -1L

  /** DISTRIBUTED delta classification (VERDICT r18 #2): join the
    * listing frame against the manifest's per-file (path, len, mtime)
    * frame and collect ONLY the delta — (paths to rescan, norms to
    * drop) — so driver memory is O(changed files), not O(all files).
    * The previous implementation collected every manifest row into a
    * driver Map: hundreds of MB at millions of files, for a
    * classification the cluster can do as a full-outer join.
    *
    * Classification per norm-joined pair:
    *  - listed, no manifest row            → ADDED   (rescan)
    *  - manifest row, not listed           → VANISHED (drop)
    *  - both, (len, mtime) meta mismatch
    *    or meta NULL/absent or `suspect`   → CHANGED (drop + rescan)
    *  - both, meta matches                 → kept (never collected)
    *
    * `oldFiles` must be one row per file: (path[, f_len, f_mtime]).
    * `suspect` norms (crash-heal markers) always rescan. Manifests
    * predating the meta columns classify every kept file as changed —
    * the documented one-time full-rebuild cost, after which the
    * refreshed manifest carries meta. */
  private[lake] def deltaOf(spark: SparkSession,
                            oldFiles: DataFrame, listing: Seq[FileMeta],
                            suspect: Set[String] = Set.empty)
      : (Seq[String], Set[String]) = {
    val hasMeta = oldFiles.columns.contains("f_len")
    // DRIVER-SIDE fast path (r21): when the old manifest is already a
    // localized LocalRelation ([[localizedParquet]]) the full-outer
    // classification join is two driver-resident sets — pure Scala set
    // algebra, zero Spark jobs. Million-file manifests exceed the
    // localize bound and keep the distributed join below, so the
    // "only the delta reaches the driver" scale contract is unchanged.
    val localPlan = oldFiles.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (localPlan) {
      val rows = oldFiles.collect() // LocalTableScan: no job
      val pi = oldFiles.columns.indexOf("path")
      val li = oldFiles.columns.indexOf("f_len")
      val ti = oldFiles.columns.indexOf("f_mtime")
      // duplicate-path rows dedupe DETERMINISTICALLY (ADVICE r21): a
      // malformed manifest carrying one norm twice with CONFLICTING
      // (len, mtime) classifies as changed (meta None → rescan+drop),
      // matching the distributed join below, which emits such a norm
      // into the delta; a plain .toMap let the last row win and could
      // call it kept
      val oldMeta: Map[String, Option[(Long, Long)]] = rows.map { r =>
        val norm = normPath(r.getString(pi))
        val m = if (hasMeta && !r.isNullAt(li) && !r.isNullAt(ti))
          Some((r.getLong(li), r.getLong(ti))) else None
        norm -> m
      }.groupBy(_._1).map { case (n, ms) =>
        val metas = ms.map(_._2).distinct
        n -> (if (metas.size == 1) metas.head else None)
      }
      val listByNorm = listing.map(m => m.norm -> m).toMap
      def keptPair(norm: String, m: FileMeta): Boolean =
        oldMeta.get(norm).exists(_.exists { case (l, t) =>
          l == m.len && t == m.mtime }) && !suspect(norm)
      val rescan = listing.filter(m => !keptPair(m.norm, m))
        .map(_.path).sorted
      val dropped = oldMeta.keySet.filter(n =>
        !listByNorm.get(n).exists(m => keptPair(n, m)))
      lastDeltaCollected =
        (rescan.map(normPath).toSet ++ dropped).size.toLong
      return (rescan, dropped)
    }
    val oldN = oldFiles
      .withColumn("_norm",
        regexp_replace(col("path"), SchemeRe, "/"))
    val j = oldN.join(metaDf(spark, listing),
      col("_norm") === col("_gf_norm"), "full")
    // meta certifies a kept file; NULL meta (either side) never does
    val metaOk =
      if (!hasMeta) lit(false)
      else coalesce(col("f_len") === col("_gf_len") &&
        col("f_mtime") === col("_gf_mtime"), lit(false))
    val kept = col("_norm").isNotNull && col("_gf_norm").isNotNull &&
      metaOk && (if (suspect.isEmpty) lit(true)
                 else !col("_gf_norm").isInCollection(suspect.toSeq))
    // ONE distributed pass; the collect is delta-sized by construction
    val delta = j.filter(!coalesce(kept, lit(false)))
      .select(col("_gf_orig"), col("_gf_norm"), col("_norm"))
      .distinct().collect()
    lastDeltaCollected = delta.length.toLong
    val rescan = delta.filter(!_.isNullAt(1)).map(_.getString(0)).toSeq.sorted
    val dropped = delta.filter(!_.isNullAt(2)).map(_.getString(2)).toSet
    (rescan, dropped)
  }

  /** Join the per-file (len, mtime) meta onto `stats` — FULL OUTER
    * against the listing, so a listed file that contributed NO stats
    * row (zero-row file) still gets a META-ONLY MARKER row (ADVICE
    * r17: without one, every later refresh classifies such files as
    * 'added' and rescans them forever, defeating the O(changed files)
    * contract). Marker rows carry `n_rows = 0` and NULL bounds — NULL
    * bounds never satisfy a prune predicate, so bounded reads skip the
    * file, correctly. */
  private def withFileMeta(stats: DataFrame,
                           listing: Seq[FileMeta]): DataFrame = {
    val spark = stats.sparkSession
    // no broadcast hint: full outer cannot build either side, and both
    // inputs are file-count-sized (manifest scale) — the shuffle is
    // metadata-priced at any table size
    stats.join(
        metaDf(spark, listing),
        regexp_replace(col("path"), SchemeRe, "/") ===
          col("_gf_norm"), "full")
      .withColumn("path", coalesce(col("path"), col("_gf_orig")))
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
      .withColumn("f_len", col("_gf_len"))
      .withColumn("f_mtime", col("_gf_mtime"))
      .drop("_gf_norm", "_gf_orig", "_gf_len", "_gf_mtime")
  }

  /** The fingerprint recorded at build time, if any. */
  private[graft] def recordedTreeFp(spark: SparkSession,
                                   manifestDir: String): Option[String] = {
    val p = fpPath(manifestDir)
    readSidecar(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Fail-fast freshness gate (ADVICE r16, medium): the manifest at
    * `manifestDir` must carry a fingerprint matching the CURRENT state
    * of `dataDir`. Mirrors [[SecondaryIndex]]'s table-vs-index tag
    * parity — a stale index yields a LOUD failure naming the fix, not
    * silently missing rows. Manifests predating the fingerprint (no
    * sidecar) also fail: their freshness is unknowable. */
  def requireFresh(spark: SparkSession, dataDir: String,
                   manifestDir: String,
                   currentFp: Option[String] = None): Unit = {
    val rec = recordedTreeFp(spark,
      resolveManifest(spark, manifestDir)).getOrElse(
      throw new IllegalStateException(
        s"manifest at $manifestDir carries no tree fingerprint — " +
          s"rebuild it (Routing.indexStats / indexBloom) over $dataDir"))
    // callers checking several manifests of ONE tree pass the
    // fingerprint once — the recursive listing is metadata-scale but
    // not free at millions of files
    val cur = currentFp.getOrElse(treeFingerprint(spark, dataDir))
    if (rec != cur) {
      // a PREFIX mismatch is a format upgrade, not data churn: name it,
      // so the one-time rebuild the v2→v3 walk change forces does not
      // read as files having moved (ADVICE r19)
      val hint =
        if (rec.takeWhile(_ != ':') != cur.takeWhile(_ != ':'))
          " [fingerprint FORMAT changed " +
            s"(${rec.takeWhile(_ != ':')} → ${cur.takeWhile(_ != ':')}): " +
            "manifests built before the hidden-dir-aware tree walk need " +
            "one rebuild on upgrade — this is expected, not data churn]"
        else ""
      throw new IllegalStateException(
        s"manifest at $manifestDir is STALE: built over tree state $rec, " +
          s"data tree at $dataDir is now $cur — rebuild the index before " +
          "routing reads through it (a stale manifest would silently " +
          s"exclude files added after the build)$hint")
    }
  }

  /** Scan the parquet tree at `dataDir` once and write a stats manifest
    * `(path, n_rows, min_<c>, max_<c>…)` for `cols` to `statsDir`. Min
    * and max keep each column's native type, so pruning compares in the
    * column's own ordering (no string/number coercion surprises).
    */
  def writeStats(spark: SparkSession, dataDir: String, statsDir: String,
                 cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "at least one column to index")
    // listing taken BEFORE the scan: the recorded fingerprint must
    // describe what the build could have seen (see writeTreeFp)
    val listing = walkTree(spark, dataDir)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(minName(c)), max(col(c)).as(maxName(c))))
    // pointer-published from DAY ONE (review r18): a flat first build
    // would make the first refresh a flat→pointer transition with a
    // mixed-depth window (a reader that resolved the flat dir pre-flip
    // and lists post-flip sees parquet at two depths); and a REBUILD
    // over a live manifest lands as the next version instead of
    // mode("overwrite")'s delete-then-write of the live dir.
    publishManifest(spark, statsDir, fpOf(listing)) { dest =>
      withFileMeta(
          spark.read.parquet(dataDir)
            .groupBy(input_file_name().as("path"))
            .agg(aggs.head, aggs.tail: _*),
          listing)
        .coalesce(1) // manifest is file-count-sized
        .write.mode("overwrite").parquet(dest)
    }
  }

  /** INCREMENTAL stats refresh — the companion of the freshness
    * fail-fast: a stale manifest is LOUD ([[requireFresh]]), and
    * re-freshing it costs the DELTA, not the table. Files added since
    * the build are scanned (only them); rows for vanished files drop;
    * everything else carries verbatim. At 100 TB a full
    * [[writeStats]] re-scan per ingest cycle would negate the index's
    * economics — this is O(changed files), driven by the same listing
    * the fingerprint already takes. The indexed column set is the
    * MANIFEST's own (a refresh can never silently change what the
    * index covers). Returns (filesScanned, filesDropped).
    */
  def refreshStats(spark: SparkSession, dataDir: String,
                   statsDir: String): (Long, Long) = {
    val old = manifestDf(spark, statsDir)
    val cols = old.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSeq
    require(cols.nonEmpty, s"manifest at $statsDir indexes no columns")
    val listing = walkTree(spark, dataDir)
    // the recorded per-file (len, mtime) detects IN-PLACE content
    // changes: same path, different bytes -> the file rescans like an
    // add (a path-set-only delta would "heal" the fingerprint while
    // keeping stale bounds). The classification is a distributed join
    // ([[deltaOf]]): only the delta ever reaches the driver.
    val (added, droppedNorm) = deltaOf(spark, old.select(Seq(col("path")) ++
      (if (old.columns.contains("f_len"))
         Seq(col("f_len"), col("f_mtime")) else Nil): _*), listing)
    if (added.isEmpty && droppedNorm.isEmpty) {
      // nothing changed: restamp (covers pure mtime-of-dir drift) and go
      writeTreeFp(spark, resolveManifest(spark, statsDir), fpOf(listing))
      return (0L, 0L)
    }
    val kept = old.filter(!udfFreeNormIsIn(col("path"), droppedNorm))
      .drop("f_len", "f_mtime")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(minName(c)),
        max(col(c)).as(maxName(c))))
    val merged0 =
      if (added.isEmpty) kept
      else kept.unionByName(
        spark.read.parquet(added: _*)
          .groupBy(input_file_name().as("path"))
          .agg(aggs.head, aggs.tail: _*))
    val merged = withFileMeta(merged0, listing)
    // the manifest cannot be read and overwritten in one plan (and a
    // driver-side collect would not survive million-file manifests):
    // the merged manifest lands as the NEXT immutable version and the
    // pointer flips atomically — the live manifest is never deleted
    // before its replacement is readable (ADVICE r17)
    publishManifest(spark, statsDir, fpOf(listing)) { dest =>
      merged.coalesce(1).write.mode("overwrite").parquet(dest)
    }
    (added.size.toLong, droppedNorm.size.toLong)
  }

  /** scheme-normalized membership test as a Column (no UDF). */
  private def udfFreeNormIsIn(c: Column, normSet: Set[String]): Column =
    if (normSet.isEmpty) lit(false)
    else regexp_replace(c, SchemeRe, "/")
      .isInCollection(normSet.toSeq)

  /** The manifest paths whose [min,max] on `column` intersects
    * [lo, hi] — the files a range query must read. Null bounds (an
    * all-null file) never intersect. */
  def prunedFiles(spark: SparkSession, statsDir: String, column: String,
                  lo: Column, hi: Column): Seq[String] =
    manifestDf(spark, statsDir)
      .filter(col(maxName(column)) >= lo && col(minName(column)) <= hi)
      .select("path").collect().map(_.getString(0)).toSeq

  /** Range read through the manifest: open only files that can contain
    * `column` in [lo, hi], then re-apply the exact predicate. Falls
    * back to an empty frame with the table schema when nothing
    * intersects. */
  def prunedRead(spark: SparkSession, dataDir: String, statsDir: String,
                 column: String, lo: Column, hi: Column): DataFrame =
    prunedReadAnd(spark, dataDir, statsDir, Seq((column, lo, hi)))

  /** CONJUNCTIVE pruning: the manifest paths whose range intersects
    * EVERY (column, lo, hi) bound — a file skippable on ANY dimension
    * is skipped. This is where a z-ordered layout pays in full: each
    * z-block is narrow on BOTH curve dimensions, so a 2D predicate
    * multiplies the two dimensions' skip rates instead of taking the
    * weaker one. */
  def prunedFilesAnd(spark: SparkSession, statsDir: String,
                     bounds: Seq[(String, Column, Column)]): Seq[String] =
    prunedFilesOpt(spark, statsDir,
      bounds.map { case (c, lo, hi) => (c, Some(lo), Some(hi)) })

  /** [[prunedFilesAnd]] generalized to HALF-OPEN ranges (VERDICT r17
    * #1): a bound may carry only one end — `c >= lo` prunes files with
    * `max_c < lo`, `c <= hi` prunes `min_c > hi`. This is the
    * retention-scan shape (`ts >= cutoff`) that a closed-range-only
    * pruner full-scans; on a time-clustered 100 TB tree the one-sided
    * prune is the difference between opening last week's files and
    * opening all of history. Each bound needs at least one end. */
  def prunedFilesOpt(spark: SparkSession, statsDir: String,
                     bounds: Seq[(String, Option[Column], Option[Column])])
      : Seq[String] =
    manifestDf(spark, statsDir).filter(boundsIntersect(bounds))
      .select("path").collect().map(_.getString(0)).toSeq

  /** The zone-map intersection predicate over `min_<c>`/`max_<c>`
    * columns for (possibly half-open) `bounds` — ONE builder shared by
    * file-level ([[prunedFilesOpt]]) and bucket-level
    * ([[BucketStats.prunedBuckets]]) pruning, so the two pruners'
    * bound semantics can never diverge. NULL manifest bounds (all-NULL
    * column) never satisfy it. */
  private[lake] def boundsIntersect(
      bounds: Seq[(String, Option[Column], Option[Column])]): Column = {
    require(bounds.nonEmpty, "at least one pruning bound")
    bounds.map { case (c, lo, hi) =>
      require(lo.isDefined || hi.isDefined, s"bound on $c has no ends")
      (lo.map(col(maxName(c)) >= _).toSeq ++
        hi.map(col(minName(c)) <= _).toSeq).reduce(_ && _)
    }.reduce(_ && _)
  }

  /** METADATA-ONLY aggregate: global count / min / max answered purely
    * from the stats manifest, zero data files opened. Exact because
    * the per-file stats are exact: count(*) = Σ n_rows, global min =
    * min of file minima (NULL-only files carry NULL bounds and drop
    * out of min/max, matching SQL aggregate semantics). The 100 TB
    * payoff: "how many rows / what's the key range of this table" is
    * a manifest read — the question every planner, pipeline monitor,
    * and sanity check asks first, answered without touching the data.
    * The manifest must be current (rebuild after writes), same staleness
    * contract as pruning.
    */
  def aggFromStats(spark: SparkSession, statsDir: String,
                   cols: Seq[String]): DataFrame = {
    // count over an empty manifest is 0, as count(*) would be — never
    // NULL; min/max legitimately stay NULL there
    val aggs = coalesce(sum(col("n_rows")), lit(0L)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(minName(c))).as(minName(c)),
        max(col(maxName(c))).as(maxName(c))))
    manifestDf(spark, statsDir).agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-bound range read: open only files surviving every bound,
    * then re-apply the exact conjunctive predicate. */
  def prunedReadAnd(spark: SparkSession, dataDir: String, statsDir: String,
                    bounds: Seq[(String, Column, Column)]): DataFrame = {
    val files = prunedFilesAnd(spark, statsDir, bounds)
    val base =
      if (files.isEmpty) spark.read.parquet(dataDir).limit(0)
      else spark.read.parquet(files: _*)
    val pred = bounds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    base.filter(pred)
  }
}

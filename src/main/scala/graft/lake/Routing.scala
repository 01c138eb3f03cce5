package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** UNIFIED index-aware scan routing (VERDICT r15 #5): one
  * `readWhere(root, predicate)` that consults whichever index
  * manifests exist for the table and opens only the files they admit,
  * instead of three caller-chosen APIs ([[FileStats.prunedFiles]],
  * [[BloomIndex.prunedReadIn]], [[SecondaryIndex.lookup]]).
  *
  * Layout convention — index builders land their manifests in fixed
  * spots beside the data, so the router discovers them by existence:
  * {{{
  *   root/data            the parquet tree        (plain tables)
  *   root                 a BucketedUpsert root   (bucketed tables —
  *                        detected by its Snapshot pointer)
  *   root/ix/stats        zone-map manifest (FileStats)
  *   root/ix/bloom/<col>  Bloom file index on <col>
  *   root/ix/six/<col>    secondary index on <col> (bucketed only)
  * }}}
  *
  * Routing per conjunct of the predicate:
  *  - equality / IN on a secondary-indexed column → bucket-pruned
  *    lookup (bucketed tables);
  *  - equality / IN on a Bloom-indexed column → file survivors;
  *  - equality and CLOSED ranges (`between`, `>= && <=`) on zone-
  *    mapped columns → min/max pruning;
  *  - everything else (open ranges, functions, ORs) routes nothing
  *    and is applied post-scan.
  * File sets from independent conjuncts INTERSECT (each is a superset
  * of the true matches, so the intersection still is). Correctness is
  * structural: pruning only ever drops files that CANNOT match, and
  * the FULL original predicate is re-applied to whatever is read —
  * the router is invisible in results, only in files opened
  * (RoutingSpec asserts both; the gate hash-checks transparency).
  *
  * At 100 TB the difference is the point-lookup story: a needle query
  * over a petabyte tree opens the handful of files all indexes admit,
  * and adding an index never requires touching query code — the same
  * `readWhere` call just starts pruning harder.
  */
object Routing {

  private def dataDir(root: String) = s"$root/data"
  private def statsDir(root: String) = s"$root/ix/stats"
  private def bloomDir(root: String, c: String) = s"$root/ix/bloom/$c"
  private def sixDir(root: String, c: String) = s"$root/ix/six/$c"
  private def bstatsDir(root: String) = s"$root/ix/bstats"

  private def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** `true` when `root` is a BucketedUpsert table (Snapshot pointer
    * present) rather than a plain `root/data` tree. One definition —
    * the DSv2 source shares it (review r19). */
  private[graft] def isBucketed(spark: SparkSession, root: String): Boolean =
    Snapshot.resolve(spark, root).nonEmpty

  // ---- index builders: thin wrappers that land manifests in the
  // conventional spots, so building an index IS registering it.

  /** Build/refresh the zone-map manifest over the plain tree. */
  def indexStats(spark: SparkSession, root: String, cols: Seq[String]): Unit =
    FileStats.writeStats(spark, dataDir(root), statsDir(root), cols)

  /** Build the Bloom file index on `column` over the plain tree. */
  def indexBloom(spark: SparkSession, root: String, column: String,
                 mLog2: Int = 16, k: Int = 3): Unit =
    BloomIndex.writeBloom(spark, dataDir(root), bloomDir(root, column),
      column, mLog2, k)

  /** Build the zone-map index AND Bloom indexes with their independent
    * build jobs OVERLAPPED (r22, guide §2.6) — result-equivalent to
    * `indexStats` followed by `indexBloom` per column (each build lands
    * in its own manifest dir through its own atomic publish; they share
    * nothing but the immutable data tree), but the driver submits them
    * concurrently so each build's tasks back-fill the others' tails and
    * the fixed per-action planning cost overlaps instead of summing.
    *
    * On failure the first error is rethrown only after every sibling
    * build has settled, and the siblings that succeeded HAVE published
    * their manifests: the call is not all-or-nothing. Each manifest
    * publish is atomic on its own (a failed arm leaves its previous
    * manifest live, or none), and a retry rebuilds every arm, so it
    * converges. [[refreshIndexes]] behaves the same way. */
  def buildIndexes(spark: SparkSession, root: String, statsCols: Seq[String],
                   bloomCols: Seq[String], mLog2: Int = 16,
                   k: Int = 3): Unit = {
    import Overlap.ec
    Overlap.all(
      scala.concurrent.Future(indexStats(spark, root, statsCols)) +:
        bloomCols.map(c => scala.concurrent.Future(
          indexBloom(spark, root, c, mLog2, k))))
    ()
  }

  /** DELTA refresh of every index manifest the table carries — the
    * ingest-cycle companion of the freshness fail-fast: after files
    * land (or vanish), one call re-validates routing at O(changed
    * files) instead of a full rebuild. Returns (filesScanned,
    * filesDropped) summed over the refreshed manifests. A failed arm
    * leaves the others' refreshed manifests published (see
    * [[buildIndexes]]); a retry converges. */
  def refreshIndexes(spark: SparkSession, root: String): (Long, Long) = {
    // the caller is telling us the tree changed: drop Spark's cached
    // file statuses for it, or the delta scan (and every later read)
    // can fail on stale lengths of in-place-replaced files
    spark.catalog.refreshByPath(dataDir(root))
    val bloomRoot = new Path(s"$root/ix/bloom")
    val fs = bloomRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bloomCols =
      if (!fs.exists(bloomRoot)) Seq.empty[String]
      else fs.listStatus(bloomRoot).filter(_.isDirectory)
        .map(_.getPath.getName).toSeq
    // the per-manifest refreshes are independent (each lands in its own
    // manifest dir through its own atomic publish) — OVERLAP them (r22,
    // guide §2.6) instead of paying each one's planning+tail serially
    import Overlap.ec
    val stats =
      if (exists(spark, statsDir(root)))
        Seq(scala.concurrent.Future(
          FileStats.refreshStats(spark, dataDir(root), statsDir(root))))
      else Seq.empty
    val blooms = bloomCols.map(c => scala.concurrent.Future(
      BloomIndex.refreshBloom(spark, dataDir(root), bloomDir(root, c), c)))
    val results = Overlap.all(stats ++ blooms)
    (results.map(_._1).sum, results.map(_._2).sum)
  }

  /** Build/refresh the secondary index on `column` of the bucketed
    * table at `root` (keyed by `key`). */
  def indexSecondary(spark: SparkSession, root: String, key: String,
                     column: String): Int =
    SecondaryIndex.refresh(spark, root, sixDir(root, column), key, column)

  /** Build/refresh the bucket-granular zone maps over `cols` of the
    * bucketed table at `root` ([[BucketStats]]) — the range-predicate
    * counterpart of [[indexSecondary]]. Returns buckets recomputed. */
  def indexBucketStats(spark: SparkSession, root: String, key: String,
                       cols: Seq[String]): Int =
    BucketStats.refresh(spark, root, bstatsDir(root), key, cols)

  /** Tag parity, as SecondaryIndex.lookup: a stale bucket-stats zone
    * map could admit too few buckets → silently missing rows. One
    * check for both consumers ([[readWhere]], [[aggStats]]). */
  private def requireBucketStatsFresh(spark: SparkSession, root: String,
                                      use: String): Unit = {
    val tTag = Snapshot.currentTag(spark, root)
    val iTag = Snapshot.currentTag(spark, bstatsDir(root))
    def show(t: Option[Long]) = t.map("v" + _).getOrElse("unbuilt")
    require(iTag == tTag,
      s"bucket-stats index at ${bstatsDir(root)} is at ${show(iTag)} but " +
        s"the table is at ${show(tTag)} — refresh " +
        s"(Routing.indexBucketStats) before $use")
  }

  // ---- predicate introspection: conjuncts a manifest can act on.

  private[lake] sealed trait Conjunct
  private[lake] case class EqIn(column: String,
                                values: Seq[expressions.Literal]) extends Conjunct
  private[lake] case class Bound(column: String,
                                 lo: Option[expressions.Literal],
                                 hi: Option[expressions.Literal]) extends Conjunct
  private[lake] case object Opaque extends Conjunct

  private def attrName(e: expressions.Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: expressions.AttributeReference => Some(a.name)
    case _ => None
  }
  /** A usable literal: a plain one, or any foldable expression (the
    * analyzer wraps int literals compared to long columns in casts —
    * fold them down so the bound carries the COLUMN's type). */
  private def litValue(e: expressions.Expression): Option[expressions.Literal] =
    e match {
      case l: expressions.Literal if l.value != null => Some(l)
      case f if f.foldable && f.deterministic =>
        val v = f.eval(null)
        if (v == null) None else Some(expressions.Literal(v, f.dataType))
      case _ => None
    }

  /** The predicate ANALYZED against the table's schema (a lazy filter
    * plan — no data read), so attributes resolve and literal types
    * match the columns they bound. */
  private def analyzedCondition(table: DataFrame,
                                pred: Column): Option[expressions.Expression] =
    table.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }

  private def splitAnd(e: expressions.Expression): Seq[expressions.Expression] =
    e match {
      case expressions.And(l, r) => splitAnd(l) ++ splitAnd(r)
      case other => Seq(other)
    }

  /** TOP-LEVEL disjuncts (VERDICT r17 #2): `a OR b` routes as the
    * UNION of the per-disjunct file sets — each set over-approximates
    * its disjunct's matches, so the union over-approximates the OR. */
  private def splitOr(e: expressions.Expression): Seq[expressions.Expression] =
    e match {
      case expressions.Or(l, r) => splitOr(l) ++ splitOr(r)
      case other => Seq(other)
    }

  /** Split the predicate on AND and classify each conjunct. */
  private[lake] def conjunctsOf(table: DataFrame, pred: Column): Seq[Conjunct] = {
    val cond = analyzedCondition(table, pred)
    if (cond.isEmpty) return Seq(Opaque)
    splitAnd(cond.get).map(classify)
  }

  private def classify(e: expressions.Expression): Conjunct = e match {
    // same-column OR-of-equalities IS an IN list (`k = 5 OR k = 9` ≡
    // `k IN (5, 9)`) — normalized here so the shape routes everywhere
    // EqIn routes: the bucketed key probe, the secondary index, Bloom,
    // and the zone-map envelope. The analyzer does not rewrite it and
    // conjunctsOf sees the ANALYZED plan, so without this the most
    // natural point-lookup spelling full-scanned bucketed tables.
    case expressions.Or(l, r) =>
      (classify(l), classify(r)) match {
        case (EqIn(c1, v1), EqIn(c2, v2)) if c1 == c2 => EqIn(c1, v1 ++ v2)
        case _ => Opaque
      }
      case expressions.EqualTo(a, v) if attrName(a).isDefined && litValue(v).isDefined =>
        EqIn(attrName(a).get, Seq(litValue(v).get))
      case expressions.EqualTo(v, a) if attrName(a).isDefined && litValue(v).isDefined =>
        EqIn(attrName(a).get, Seq(litValue(v).get))
      case expressions.In(a, vs) if attrName(a).isDefined &&
          vs.nonEmpty && vs.forall(litValue(_).isDefined) =>
        EqIn(attrName(a).get, vs.map(litValue(_).get))
      case expressions.GreaterThanOrEqual(a, v)
          if attrName(a).isDefined && litValue(v).isDefined =>
        Bound(attrName(a).get, Some(litValue(v).get), None)
      case expressions.LessThanOrEqual(a, v)
          if attrName(a).isDefined && litValue(v).isDefined =>
        Bound(attrName(a).get, None, Some(litValue(v).get))
      case expressions.GreaterThan(a, v)
          if attrName(a).isDefined && litValue(v).isDefined =>
        // min/max pruning is range-inclusive-safe for strict bounds too
        Bound(attrName(a).get, Some(litValue(v).get), None)
      case expressions.LessThan(a, v)
          if attrName(a).isDefined && litValue(v).isDefined =>
        Bound(attrName(a).get, None, Some(litValue(v).get))
      case _ => Opaque
  }

  /** Types whose `Literal.value.toString` provably equals the engine's
    * `cast(col AS string)` rendering — the form the Bloom and
    * secondary indexes hashed at build time. Date/timestamp/decimal
    * literals carry INTERNAL representations (days/micros since epoch)
    * whose toString differs from the cast rendering; routing them
    * through a string-hashed index would silently FALSE-NEGATE, so
    * such conjuncts stay post-filter-only. */
  private def stringStable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType => true
      case _ => false
    }
  }

  /** Zone-map bounds per column, merged across conjuncts: every eq (as
    * a [v,v] range), every range — CLOSED or HALF-OPEN (`ts >= X`, the
    * retention-scan shape, prunes on its one end alone: files with
    * `max_ts < X` cannot match — VERDICT r17 #1), and every IN list by
    * its [min,max] ENVELOPE — a valid over-approximation (files outside
    * it cannot hold any listed value); the exact membership re-applies
    * post-scan. Shared by the plain-tree route and the delete-version
    * merge-on-read route. */
  private def mergedBounds(cs: Seq[Conjunct])
      : Seq[(String, Option[Column], Option[Column])] = {
    val colBridge = org.apache.spark.sql.graft.ColumnBridge.column _
    val merged = scala.collection.mutable.LinkedHashMap[String,
      (Option[expressions.Literal], Option[expressions.Literal])]()
    // conjuncts INTERSECT, so per column the merged range is the
    // TIGHTEST: max of lower bounds, min of upper bounds (review r18 —
    // keeping the last-seen bound was valid over-approximation but
    // `ts >= 100 AND ts >= 10` then pruned with 10, opening most of a
    // time-clustered tree instead of the tail). Mixed literal types on
    // one column cannot survive analysis, so the ordering is total.
    def pick(a: Option[expressions.Literal], b: Option[expressions.Literal],
             takeMax: Boolean): Option[expressions.Literal] = (a, b) match {
      case (Some(x), Some(y)) if x.dataType == y.dataType =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(x.dataType).asInstanceOf[Ordering[Any]]
        Some(if (ord.compare(x.value, y.value) >= 0 == takeMax) x else y)
      case (Some(x), Some(y)) =>
        // unreachable post-analysis (mixed literal types on one column
        // cannot survive the analyzer); if a classifier change ever
        // makes it reachable, fail LOUD rather than silently picking
        // one bound (VERDICT r18 #7)
        throw new IllegalStateException(
          s"zone-map bound type drift: ${x.dataType} vs ${y.dataType} " +
            "literals bound one column — classifier bug, refusing to " +
            "pick a side")
      case _ => a.orElse(b)
    }
    def tighten(c: String, lo: Option[expressions.Literal],
                hi: Option[expressions.Literal]): Unit = {
      val (l0, h0) = merged.getOrElse(c, (None, None))
      merged(c) = (pick(lo, l0, takeMax = true), pick(hi, h0, takeMax = false))
    }
    cs.foreach {
      case EqIn(c, Seq(v)) => tighten(c, Some(v), Some(v))
      case EqIn(c, vs) if vs.map(_.dataType).distinct.size == 1 =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(vs.head.dataType)
          .asInstanceOf[Ordering[Any]]
        val sortedVals = vs.sortBy(_.value)(ord)
        tighten(c, Some(sortedVals.head), Some(sortedVals.last))
      case Bound(c, lo, hi) => tighten(c, lo, hi)
      case _ => ()
    }
    merged.collect {
      case (c, (lo, hi)) if lo.isDefined || hi.isDefined =>
        (c, lo.map(colBridge), hi.map(colBridge))
    }.toSeq
  }

  /** METADATA-ONLY count/min/max over the indexed columns, behind the
    * same freshness gate as routed reads — for EVERY table shape
    * (VERDICT r17 #4), zero data files opened:
    *  - plain tree: [[FileStats.aggFromStats]] behind the tree
    *    fingerprint — exact;
    *  - bucketed table: [[BucketStats.aggFromStats]] behind tag parity
    *    — exact over RESOLVED rows (superseded fragments never count);
    *  - delete version: the maintained manifest's n_rows minus the DV
    *    mask — the COUNT is exact; min/max are EXACT while no sidecar
    *    exists (deleteRange maintains per-file stats over live rows)
    *    and CONSERVATIVE BOUNDS once a DV may have masked the extremum
    *    — [[canServeAggStats]] draws exactly that line for pushdown,
    *    and conservative bounds remain what zone pruning needs.
    * The 100 TB payoff: "how many rows / what key range" — the
    * question every planner and monitor asks first — stays a manifest
    * read, and a stale answer is impossible rather than merely
    * discouraged. */
  def aggStats(spark: SparkSession, root: String,
               cols: Seq[String]): DataFrame = {
    if (isBucketed(spark, root)) {
      require(exists(spark, bstatsDir(root)),
        s"no bucket-stats index under $root — build with indexBucketStats")
      requireBucketStatsFresh(spark, root, "aggregating from it")
      BucketStats.aggFromStats(spark, bstatsDir(root), cols)
    } else if (DeleteWhere.isVersionDir(spark, root)) {
      import org.apache.spark.sql.functions.{col, lit}
      FileStats.aggFromStats(spark, DeleteWhere.statsDirOf(root), cols)
        .withColumn("n_rows",
          col("n_rows") - lit(DeleteWhere.dvCount(spark, root)))
    } else {
      require(exists(spark, statsDir(root)),
        s"no stats manifest under $root — build one with indexStats")
      FileStats.requireFresh(spark, dataDir(root), statsDir(root))
      FileStats.aggFromStats(spark, statsDir(root), cols)
    }
  }

  /** `true` when [[aggStats]] can answer the aggregate over `cols` for
    * the table at `root` metadata-only RIGHT NOW — the DSv2
    * aggregate-pushdown eligibility probe, per shape (VERDICT r19 #2):
    *  - PLAIN tree: stats manifest present, covering every column,
    *    built over the current tree — count AND min/max;
    *  - BUCKETED table: bucket-stats index present at tag parity,
    *    covering every column — count AND min/max (exact over RESOLVED
    *    rows by construction);
    *  - DELETE VERSION: count always; min/max ONLY while the version
    *    carries NO deletion-vector sidecar (deleteRange output — its
    *    maintained per-file stats describe live rows exactly). One
    *    masked row makes the bounds CONSERVATIVE (the extremum may be
    *    hidden) and min/max stay with the scan, which is always exact.
    * Never throws: a `false` simply leaves the aggregate to the
    * (always-correct) normal scan — unlike routed READS, where a stale
    * manifest must be loud because the pruned scan would be WRONG, a
    * skipped aggregate pushdown costs only speed. */
  def canServeAggStats(spark: SparkSession, root: String,
                       cols: Seq[String],
                       needMinMax: Boolean = true): Boolean =
    try {
      if (isBucketed(spark, root)) {
        exists(spark, bstatsDir(root)) && {
          requireBucketStatsFresh(spark, root, "aggregating from it")
          val ix = BucketStats.indexedCols(spark, bstatsDir(root)).toSet
          cols.forall(ix.contains)
        }
      } else if (DeleteWhere.isVersionDir(spark, root)) {
        // the version's maintained manifest is transactionally true (no
        // freshness gate applies — manifest-is-truth, see aggStats).
        // min/max serve ONLY while no DV mask hides rows (deleteRange
        // versions): with zero masked rows the maintained bounds
        // describe live rows exactly; one masked row makes them
        // conservative and min/max stay with the scan.
        // the probe's dvCount job repeats inside aggStats at push time
        // (reviewed r20 pass 3, accepted): both are parquet-footer
        // statistics over the one coalesced sidecar file — metadata-
        // priced — and threading the probed value into the public
        // aggStats API would couple its signature to the DSv2 probe
        (!needMinMax || DeleteWhere.dvCount(spark, root) == 0L) && {
          cols.isEmpty || {
            val mcols = FileStats
              .manifestDf(spark, DeleteWhere.statsDirOf(root)).columns.toSet
            cols.forall(c => mcols.contains(s"min_$c"))
          }
        }
      } else {
        exists(spark, statsDir(root)) && {
          val mcols = FileStats.manifestDf(spark, statsDir(root)).columns.toSet
          cols.forall(c => mcols.contains(s"min_$c"))
        } && {
          FileStats.requireFresh(spark, dataDir(root), statsDir(root)); true
        }
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** What the router decided: the files (or buckets) it will open and
    * the manifests that pruned them — the spec's files-opened oracle.
    *
    * `files` duality (ADVICE r20): on the full-scan fallback
    * (`via == Seq("full-scan")`) the single entry is the TREE ROOT
    * directory, not a file — at million-file trees a driver-side path
    * list the scan doesn't need is pure cost. Consumers that count or
    * path-intersect `files` must branch on [[isFullScan]]. */
  final case class Route(files: Seq[String], via: Seq[String]) {
    /** True when `files` holds the tree-root DIRECTORY (see class doc). */
    def isFullScan: Boolean = via == Seq("full-scan")
  }

  /** The routing decision for a PLAIN tree, without reading data. */
  def route(spark: SparkSession, root: String, pred: Column): Route = {
    require(!isBucketed(spark, root),
      s"$root is a bucketed table — readWhere routes it via its secondary index")
    require(!DeleteWhere.isVersionDir(spark, root),
      s"$root is a delete version — readWhere routes it through its " +
        "maintained stats manifest and deletion vectors")
    val cond = analyzedCondition(spark.read.parquet(dataDir(root)), pred)
    val haveStats = exists(spark, statsDir(root))
    // Freshness gate (ADVICE r16): a manifest consulted below — or used
    // as the full-scan fallback's file list — must have been built over
    // the CURRENT data tree; otherwise fail loudly here instead of
    // silently dropping files added after the build. Mirrors
    // SecondaryIndex.lookup's tag-parity check. ONE listing serves
    // every manifest of this tree (stats + each Bloom).
    lazy val curFp = FileStats.treeFingerprint(spark, dataDir(root))
    if (haveStats)
      FileStats.requireFresh(spark, dataDir(root), statsDir(root), Some(curFp))
    lazy val statsCols: Seq[String] =
      if (!haveStats) Seq.empty
      else FileStats.manifestDf(spark, statsDir(root)).columns.toSeq
    // each consulted Bloom manifest is freshness-checked ONCE per
    // route() call, not once per disjunct (review r18: an OR fan
    // re-read the same _tree_fp per disjunct)
    val freshBloom = scala.collection.mutable.Set.empty[String]

    /** Route ONE disjunct's conjuncts through every applicable
      * manifest; None when nothing routed (the disjunct is opaque to
      * all indexes). */
    def routeConjuncts(cs: Seq[Conjunct]): Option[(Set[String], Seq[String])] = {
      var via = Seq.empty[String]
      var files: Option[Set[String]] = None
      def intersect(s: Seq[String], tag: String): Unit = {
        files = Some(files.map(_.intersect(s.toSet)).getOrElse(s.toSet))
        via = via :+ tag
      }
      val bounds = mergedBounds(cs).filter { case (c, _, _) =>
        statsCols.contains(s"min_$c")
      }
      if (bounds.nonEmpty)
        intersect(FileStats.prunedFilesOpt(spark, statsDir(root), bounds),
          s"stats[${bounds.map(_._1).mkString(",")}]")
      // Bloom: every eq/IN conjunct whose column has a filter (each
      // consulted manifest passes the same freshness gate as stats)
      cs.foreach {
        case EqIn(c, vs) if exists(spark, bloomDir(root, c)) &&
            vs.forall(v => stringStable(v.dataType)) =>
          if (freshBloom.add(c))
            FileStats.requireFresh(spark, dataDir(root), bloomDir(root, c),
              Some(curFp))
          intersect(BloomIndex.survivors(spark, bloomDir(root, c),
            vs.map(_.value.toString)), s"bloom[$c]")
        case _ => ()
      }
      files.map((_, via))
    }

    // OR routing (VERDICT r17 #2): when EVERY top-level disjunct routes
    // through some index, the OR's file set is their UNION — each
    // disjunct's set over-approximates its own matches, so the union
    // over-approximates the OR (the full predicate still re-applies).
    // One unroutable disjunct poisons the union (its matches could live
    // anywhere) → full scan.
    val routed: Option[(Set[String], Seq[String])] = cond.flatMap { e =>
      splitOr(e) match {
        case Seq(one) => routeConjuncts(splitAnd(one).map(classify))
        case ds =>
          val per = ds.map(d => routeConjuncts(splitAnd(d).map(classify)))
          if (per.exists(_.isEmpty)) None
          else Some((per.flatMap(_.get._1).toSet,
            Seq(s"or[${per.map(_.get._2.mkString("&")).mkString(" | ")}]")))
      }
    }
    routed match {
      case Some((f, via)) => Route(f.toSeq.sorted, via)
      case None =>
        // nothing routable: scan the TREE ROOT, never a collected
        // manifest path list (VERDICT r19 #7 — at million-file trees a
        // driver-side path list the scan doesn't need is pure cost; the
        // DSv2 no-predicate arm already reads this way). The freshness
        // gate above still applies when stats exist: a stale index on a
        // routed-read API stays LOUD even when this call happens to
        // full-scan, so staleness surfaces at the first read, not the
        // first lucky predicate.
        Route(Seq(dataDir(root)), Seq("full-scan"))
    }
  }

  /** One route CHOICE for bucketed tables, shared by [[readWhere]]
    * (resolving DataFrame consumer) and [[routeBucketed]] (file-level
    * DSv2 consumer) so the two can never drift on preference order or
    * eligibility (review r19). Preference: bucket-key probe (the key
    * is its own index) > secondary index > bucket-stats zone maps >
    * all buckets. The freshness/parity gates live HERE, so every
    * consumer inherits them. */
  private[lake] sealed trait BucketedRoute
  private[lake] final case class KeyProbe(key: String,
      values: Seq[expressions.Literal]) extends BucketedRoute
  private[lake] final case class SixProbe(column: String,
      values: Seq[String]) extends BucketedRoute
  private[lake] final case class StatsBuckets(
      hit: Seq[BucketedUpsert.Entry], cols: Seq[String]) extends BucketedRoute
  private[lake] case object AllBuckets extends BucketedRoute

  private def chooseBucketedRoute(spark: SparkSession, root: String,
                                  entries: Seq[BucketedUpsert.Entry],
                                  cs: Seq[Conjunct]): BucketedRoute = {
    val keyCol = entries.headOption.map(_.keyCol).filter(_.nonEmpty)
    val keyEq: Option[BucketedRoute] = cs.collectFirst {
      case EqIn(c, vs) if keyCol.contains(c) => KeyProbe(c, vs)
    }
    lazy val six: Option[BucketedRoute] = cs.collectFirst {
      case EqIn(c, vs) if exists(spark, sixDir(root, c)) &&
          vs.forall(v => stringStable(v.dataType)) =>
        // same tag-parity gate as SecondaryIndex.lookup: a stale index
        // could admit too few buckets → silently missing rows
        val tTag = Snapshot.currentTag(spark, root)
        val iTag = Snapshot.currentTag(spark, sixDir(root, c))
        def show(t: Option[Long]) = t.map("v" + _).getOrElse("unbuilt")
        require(iTag == tTag,
          s"secondary index at ${sixDir(root, c)} is at ${show(iTag)} but " +
            s"the table is at ${show(tTag)} — refresh (Routing." +
            "indexSecondary) before routing through it")
        SixProbe(c, vs.map(_.value.toString))
    }
    keyEq.orElse(six).getOrElse {
      // RANGE (or eq-envelope) on a bucket-stats-indexed VALUE column
      // (VERDICT r17 #4) — consulted only when neither sharper route
      // hit. Bucket-granular by design: a surviving bucket is read
      // WHOLE, so fragment resolution stays exact.
      val bBounds: Seq[(String, Option[Column], Option[Column])] =
        if (entries.isEmpty || !exists(spark, bstatsDir(root))) Seq.empty
        else {
          val ixCols = BucketStats.indexedCols(spark, bstatsDir(root))
          mergedBounds(cs).filter { case (c, _, _) => ixCols.contains(c) }
        }
      if (bBounds.isEmpty) AllBuckets
      else {
        requireBucketStatsFresh(spark, root, "routing through it")
        val admitted = BucketStats
          .prunedBuckets(spark, bstatsDir(root), bBounds).toSet
        StatsBuckets(entries.filter(e => admitted(e.bucket)),
          bBounds.map(_._1))
      }
    }
  }

  /** FILE-LEVEL routing decision for a NON-FRAGMENTED bucketed table
    * — the DSv2 scan's bucketed arm ([[graft.sources.GraftSource]]):
    * a scan-only consumer needs a path list, and on an unfragmented
    * table (every key one version) opening admitted bucket dirs and
    * re-applying the predicate IS the read, no resolution window
    * needed. Route preference mirrors [[readWhere]]: bucket-key probe
    * (the key is its own index), then the secondary index, then the
    * bucket-stats zone maps, else every bucket. Same freshness gates
    * as the library paths — a stale index is loud, never silently
    * smaller.
    *
    * A FRAGMENTED table refuses loudly: file-level admission is still
    * exact (every fragment of a key lives in the key's bucket) but a
    * scan cannot run the version-resolution window, so a raw read
    * would resurrect superseded rows — [[readWhere]] serves that
    * shape. */
  def routeBucketed(spark: SparkSession, root: String, pred: Column): Route =
    routeBucketedWithLayout(spark, root, pred)._1

  /** Bucket-level shape of the table at `root` — (bucket id, dir) per
    * manifest entry plus the table-wide (nBuckets, keyCol) — at the
    * CURRENT version, or a RETAINED historical tag (time travel). What
    * the DSv2 face needs to claim `bucket(n, key)` partitioning and to
    * key each input partition. None when no published version exists
    * (or the tag aged past retention). Fragmented shapes refuse with
    * the same message as [[routeBucketed]] — the claim would lie. */
  private[graft] final case class BucketedLayout(buckets: Seq[(Int, String)],
                                                 nBuckets: Int, keyCol: String,
                                                 sorted: Boolean)

  private[graft] def bucketedLayout(spark: SparkSession, root: String,
                                    asOf: Option[Long] = None)
      : Option[BucketedLayout] = {
    val entries = asOf match {
      case None => BucketedUpsert.manifestEntries(spark, root)
      case Some(t) => BucketedUpsert.manifestEntriesAt(spark, root, t)
    }
    if (entries.isEmpty) None else Some(layoutOf(spark, root, entries))
  }

  private def layoutOf(spark: SparkSession, root: String,
                       entries: Seq[BucketedUpsert.Entry]): BucketedLayout = {
    require(!entries.groupBy(_.bucket).exists(_._2.size > 1),
      s"bucketed table at $root is FRAGMENTED — a scan-only route cannot " +
        "resolve fragment versions (a raw read would resurrect superseded " +
        "rows); read it via Routing.readWhere, or compact first " +
        "(BucketedUpsert.mergeFragmentsIfNeeded)")
    BucketedLayout(entries.map(e => (e.bucket, e.path)).sortBy(_._1),
      entries.head.nBuckets, entries.head.keyCol,
      // per-FILE key-sortedness, certified by every writer — the DSv2
      // ordering claim additionally requires one file per bucket
      // (concatenated sorted files are not sorted), checked at scan
      // build where the file lists exist
      entries.forall(_.sorted))
  }

  /** [[routeBucketed]] plus the table's [[BucketedLayout]] from the
    * SAME manifest fetch — the DSv2 scan needs both (admitted files AND
    * the partitioning claim) and must not pay two driver jobs. */
  private[graft] def routeBucketedWithLayout(spark: SparkSession, root: String,
                                             pred: Column)
      : (Route, BucketedLayout) = {
    val entries = BucketedUpsert.manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    val layout = layoutOf(spark, root, entries)
    val cs = conjunctsOf(BucketedUpsert.read(spark, root), pred)
    val route = chooseBucketedRoute(spark, root, entries, cs) match {
      case KeyProbe(key, vs) =>
        val hit = BucketedUpsert.keyProbeEntries(spark, root, key,
          vs.map(l => org.apache.spark.sql.graft.ColumnBridge.column(l)),
          entries)
        Route(hit.map(_.path).sorted, Seq(s"bucket-key[$key]"))
      case SixProbe(c, vals) =>
        val admitted = SecondaryIndex
          .lookupBuckets(spark, sixDir(root, c), vals).toSet
        Route(entries.filter(e => admitted(e.bucket)).map(_.path).sorted,
          Seq(s"six[$c]"))
      case StatsBuckets(hit, cols) =>
        Route(hit.map(_.path).sorted, Seq(s"bstats[${cols.mkString(",")}]"))
      case AllBuckets =>
        Route(entries.map(_.path).sorted, Seq("full-scan"))
    }
    (route, layout)
  }

  /** FILE-LEVEL routing for a [[DeleteWhere]] VERSION dir, shared by
    * [[readWhere]]'s delete-version arm and the DSv2 scan: zone-prune
    * through the version's MAINTAINED stats manifest, then intersect
    * eq/IN survivors through the per-version Bloom when one is
    * published. The version is immutable, so no freshness gate applies
    * (manifest-is-truth); a Bloom dir WITHOUT a completed publish
    * pointer fails LOUD naming the rebuild (ADVICE r18 / review r19 —
    * a torn Bloom silently false-negates, and silently skipping the
    * pruning the operator believes exists is as bad). The conjunct
    * analysis uses a single file's footer — constructing the full
    * DV-masked frame just for analysis would run its sidecar count job
    * first. Returns (admitted files, a schema-lending path, via). */
  private[graft] def routeDeleteVersion(spark: SparkSession, root: String,
                                        pred: Column)
      : (Seq[String], String, Seq[String]) = {
    val statsDir = DeleteWhere.statsDirOf(root)
    val stats = FileStats.manifestDf(spark, statsDir)
    val all = stats.select("path").collect().map(_.getString(0)).toSeq
    require(all.nonEmpty, s"empty stats manifest under $root")
    val cs = conjunctsOf(spark.read.parquet(all.head), pred)
    val statsCols = stats.columns
    val bounds = mergedBounds(cs).filter { case (c, _, _) =>
      statsCols.contains(s"min_$c") }
    var via = Seq.empty[String]
    var files =
      if (bounds.isEmpty) all
      else {
        via = via :+ s"dv-stats[${bounds.map(_._1).mkString(",")}]"
        FileStats.prunedFilesOpt(spark, statsDir, bounds)
      }
    // per-version Bloom (VERDICT r17 #4): eq/IN conjuncts intersect
    // their survivors with the zone-pruned set; paths intersect on the
    // scheme-normalized form (the two manifests may render the same
    // file with different scheme spellings).
    cs.foreach {
      case EqIn(c, vs) if exists(spark, s"$root/bloom/$c") &&
          vs.forall(v => stringStable(v.dataType)) =>
        require(FileStats.isPublished(spark, s"$root/bloom/$c"),
          s"per-version Bloom at $root/bloom/$c exists but carries no " +
            "completed publish pointer (interrupted build, or a flat " +
            "pre-pointer layout) — rebuild it (DeleteWhere.indexBloom) " +
            "before routed reads consult it")
        val admit = BloomIndex.survivors(spark, s"$root/bloom/$c",
          vs.map(_.value.toString)).map(FileStats.normPath).toSet
        files = files.filter(f => admit.contains(FileStats.normPath(f)))
        via = via :+ s"dv-bloom[$c]"
      case _ => ()
    }
    (files, all.head, if (via.isEmpty) Seq("dv-full") else via)
  }

  /** Read the table at `root` with `pred`, opening only what the
    * discovered indexes admit; the FULL predicate is re-applied, so
    * the result equals the plain filtered scan on any index state.
    *
    * MERGE-ON-READ is transparent (VERDICT r16 #4) — one read API for
    * every table shape, fast path routed:
    *  - a FRAGMENTED bucketed table resolves current-rows-per-key
    *    through the version column its writers recorded in the
    *    manifest (fail-fast if fragments exist but none was recorded —
    *    a raw read would return superseded rows);
    *  - a [[DeleteWhere]] VERSION dir prunes through the version's
    *    MAINTAINED stats manifest and applies its deletion vectors
    *    (manifest-is-truth: the delete maintains stats+manifest
    *    transactionally over immutable files, so no tree fingerprint
    *    applies — a vanished file fails loudly at scan);
    *  - plain trees route exactly as before.
    */
  def readWhere(spark: SparkSession, root: String, pred: Column): DataFrame = {
    if (isBucketed(spark, root)) {
      // bucketed table, best route first:
      //  1. eq/IN on the BUCKET KEY — the key IS the route: hash the
      //     probe values and open only their buckets. O(1) buckets per
      //     value, no index required at any table size.
      //  2. eq/IN on a secondary-indexed column — bucket-pruned lookup.
      //  3. otherwise the full resolved table.
      // The full predicate re-applies in every case; fragment
      // resolution applies BEFORE it (filtering first could drop a
      // key's latest version and resurrect a superseded row).
      // ONE manifest fetch answers fragmentation, the key column, and
      // the version column (each manifestEntries call is a driver job)
      val entries = BucketedUpsert.manifestEntries(spark, root)
      val cs = conjunctsOf(BucketedUpsert.read(spark, root), pred)
      val resolve: DataFrame => DataFrame =
        BucketedUpsert.mergeOnRead(root, entries, entries).getOrElse(identity)
      // route CHOICE is shared with routeBucketed (chooseBucketedRoute
      // — review r19: a duplicated selector could drift, breaking the
      // DSv2-equals-library pin); only the CONSUMPTION differs — this
      // arm materializes resolving DataFrames, the DSv2 arm path lists
      val base = chooseBucketedRoute(spark, root, entries, cs) match {
        case KeyProbe(key, vs) =>
          resolve(BucketedUpsert.readKeyBucketsEntries(spark, root, entries,
            key, vs.map(l => org.apache.spark.sql.graft.ColumnBridge.column(l))))
        case SixProbe(c, vs) =>
          // entries + parity already paid by chooseBucketedRoute
          SecondaryIndex.lookupEntries(spark, root, entries,
            sixDir(root, c), c, vs, resolve)
        case StatsBuckets(hit, _) =>
          if (hit.isEmpty) BucketedUpsert.read(spark, root).limit(0)
          else resolve(BucketedUpsert.readPaths(spark, root, hit.map(_.path)))
        case AllBuckets => resolve(BucketedUpsert.read(spark, root))
      }
      base.filter(pred)
    } else if (DeleteWhere.isVersionDir(spark, root)) {
      // delete version: zone-prune through the version's maintained
      // stats, open only survivors (routeDeleteVersion — shared with
      // the DSv2 scan so SQL and the library can never disagree on the
      // admitted set), apply the DV mask, re-filter.
      val (files, firstPath, _) = routeDeleteVersion(spark, root, pred)
      val base =
        if (files.isEmpty) spark.read.parquet(firstPath).limit(0)
        else DeleteWhere.readFiles(spark, root, files)
      base.filter(pred)
    } else {
      val r = route(spark, root, pred)
      val base =
        if (r.files.isEmpty)
          spark.read.parquet(dataDir(root)).limit(0)
        else spark.read.parquet(r.files: _*)
      base.filter(pred)
    }
  }
}

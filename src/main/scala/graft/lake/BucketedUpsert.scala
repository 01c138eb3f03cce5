package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bucketed upsert base: cuts [[graft.streaming.EventStreams.streamingUpsert]]'s
  * per-batch FULL-TABLE rewrite down to the touched buckets.
  *
  * Layout: data files are immutable per-(bucket, tag) directories
  * `root/data/v<tag>/graft_bucket=<i>/`; what makes them a TABLE is a
  * tiny manifest `(bucket, path, n_buckets)` published through the
  * existing [[Snapshot]] pointer protocol. A batch rewrites only the
  * buckets its keys hash into — each a (bucket + batch-slice)-sized
  * job — and publishes a new manifest whose untouched entries still
  * point at the PREVIOUS tags' directories. Readers resolve the
  * manifest and read exactly the referenced leaf dirs, so they get the
  * same table-level atomicity, crash-replay idempotence (tag ledger),
  * and in-flight-reader retention the plain Snapshot table has — the
  * pointer swap is unchanged; only what a snapshot's bytes are changes
  * (a manifest instead of the full data). This is the plain-parquet
  * version of the touched-file rewrite a table format's commit log
  * buys, built from the two lake pieces the repo already has
  * (Snapshot + hash bucketing).
  *
  * At 100 TB with daily batches touching k of n buckets, the per-batch
  * write cost drops from O(table) to O(k/n · table + batch); the
  * resolve window shuffles only the touched slice. `nBuckets` is fixed
  * per table (recorded in the manifest, enforced on every batch) —
  * size it so one bucket ≈ a comfortable task (e.g. 100 TB / 65k
  * buckets ≈ 1.5 GB).
  */
object BucketedUpsert {

  /** Deterministic bucket route: pmod(murmur3(key), n) — the same hash
    * family Spark's own bucketing uses; stable across runs and cluster
    * sizes. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(hash(key), lit(nBuckets))

  /** Tag monotonicity, validated BEFORE any data write: Snapshot.publish
    * would catch a reused tag too, but only after mode("overwrite") has
    * already destroyed data/v<tag> — which the CURRENT manifest may
    * reference. Fail here, while the table is still intact. */
  private def requireTagAbove(spark: SparkSession, root: String, tag: Long,
                              what: String): Unit =
    Snapshot.currentTag(spark, root).foreach(cur => require(tag > cur,
      s"$what tag $tag is not above the published v$cur under $root — " +
        "a reused tag would overwrite the live version directory"))

  /** `dataTag`: the tag of the last DATA change to this entry's rows —
    * distinct from the tag encoded in its physical path, because
    * COMPACTION relocates bytes without changing data, and the change
    * feed must not report a relocation as churn. Manifests written
    * before this column existed fall back to the path's tag. */
  private[lake] case class Entry(bucket: Int, path: String, nBuckets: Int,
                                 dataTag: Long, keyCol: String,
                                 sorted: Boolean, verCol: String = "",
                                 keyType: String = "")

  private[lake] def manifestEntries(spark: SparkSession, root: String): Seq[Entry] =
    Snapshot.resolve(spark, root) match {
      case None => Seq.empty
      case Some(dir) => parseManifest(spark, dir)
    }

  /** Manifest entries of a RETAINED historical version (time travel). */
  private[lake] def manifestEntriesAt(spark: SparkSession, root: String,
                                      asOf: Long): Seq[Entry] =
    Snapshot.resolveAt(spark, root, asOf) match {
      case None => Seq.empty
      case Some(dir) => parseManifest(spark, dir)
    }

  /** Manifest rows come through the localize memo
    * ([[FileStats.localizedRows]]): a published `v<tag>` dir is
    * immutable, and [[Snapshot.publishRows]] seeds the memo with the
    * rows it writes, so steady-state manifest access is a memo hit with
    * zero Spark jobs. Legacy manifests lack the later columns. */
  private def parseManifest(spark: SparkSession, dir: String): Seq[Entry] = {
    val (schema, rows) = FileStats.localizedRows(spark, dir).getOrElse {
      val df = spark.read.parquet(dir); (df.schema, df.collect()) }
    val at = schema.fieldNames.zipWithIndex.toMap.withDefaultValue(-1)
    rows.map { r =>
      def opt[A](c: String, absent: => A): A =
        if (at(c) < 0) absent else r.getAs[A](at(c))
      val path = r.getString(at("path"))
      Entry(r.getInt(at("bucket")), path, r.getInt(at("n_buckets")),
        opt("data_tag", entryTag(path)), opt("key_col", ""),
        opt("sorted_by_key", false), opt("version_col", ""),
        opt("key_dtype", ""))
    }.toSeq
  }

  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_buckets",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("data_tag",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("key_col",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("sorted_by_key",
      org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("version_col",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("key_dtype",
      org.apache.spark.sql.types.StringType, nullable = false)))

  private def publishEntries(spark: SparkSession, entries: Seq[Entry],
                             root: String, tag: Long, keep: Int): Unit = {
    // rows are already on the driver — publish without a Spark job (r21);
    // publishRows also seeds the memo, so the next read pays no job
    Snapshot.publishRows(spark, manifestSchema,
      entries.map(e => org.apache.spark.sql.Row(
        e.bucket, e.path, e.nBuckets, e.dataTag, e.keyCol,
        e.sorted, e.verCol, e.keyType)),
      root, tag, keep)
  }

  /** The bucket-route contract: the route is pmod(murmur3(key), n),
    * and murmur3 of the SAME logical value DIFFERS by type (hash(5:
    * int) != hash(5L)). A batch, delete set, or widening that changes
    * the key's TYPE would silently re-route keys to different buckets
    * — lost upsert matches, missed deletes, co-location lies. Every
    * write path therefore pins the key's dtype against the standing
    * table, and schema evolution refuses the recorded key column. */
  private def requireKeyTypeStable(spark: SparkSession, root: String,
                                   key: String,
                                   incoming: org.apache.spark.sql.types.DataType): Unit =
    requireKeyTypeStableEntries(spark, manifestEntries(spark, root), root,
      key, incoming)

  /** [[requireKeyTypeStable]] over an ALREADY-FETCHED manifest (r21:
    * write paths fetch entries once and share them). The stored key
    * dtype comes from the manifest's own `key_dtype` record when
    * present (r21 — one JSON parse, no footer read); legacy manifests
    * fall back to the parquet footer. */
  private def requireKeyTypeStableEntries(spark: SparkSession,
                                          entries: Seq[Entry], root: String,
                                          key: String,
                                          incoming: org.apache.spark.sql.types.DataType): Unit =
    entries.headOption.foreach { e =>
      val stored = storedKeyType(spark, e, key)
      stored.foreach(st => require(st == incoming,
        s"bucket key '$key' arrives as ${incoming.simpleString} but the " +
          s"table at $root hashed it as ${st.simpleString} — a type change " +
          "re-routes keys to different buckets (murmur3 is type-sensitive); " +
          "cast the batch to the table's key type"))
    }

  /** The dtype the table's key was hashed under: the manifest record
    * when present, else the head entry's parquet footer (legacy). */
  private def storedKeyType(spark: SparkSession, e: Entry,
                            key: String): Option[org.apache.spark.sql.types.DataType] =
    if (e.keyType.nonEmpty)
      Some(org.apache.spark.sql.types.DataType.fromJson(e.keyType))
    else spark.read.parquet(e.path).schema
      .fields.find(_.name == key).map(_.dataType)

  /** Whether `column` is the table's RECORDED bucket key (tables
    * written before key recording answer false — no route claim). */
  private[lake] def isBucketKey(spark: SparkSession, root: String,
                                column: String): Boolean =
    manifestEntries(spark, root).headOption
      .exists(e => e.keyCol.nonEmpty && e.keyCol == column)

  /** PRIMARY-KEY point lookup: open ONLY the buckets the probe values
    * hash into — the key is its own index, O(1) buckets per value at
    * any table size, no auxiliary structure. Probes must carry the
    * table's key TYPE (verified — a mis-typed probe hashes to the
    * wrong bucket and would silently return nothing); the caller
    * re-applies its exact predicate over the returned buckets.
    */
  def readKeyBuckets(spark: SparkSession, root: String, key: String,
                     probes: Seq[Column]): DataFrame = {
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    readKeyBucketsEntries(spark, root, entries, key, probes)
  }

  /** [[readKeyBuckets]] over an ALREADY-FETCHED manifest — callers
    * that have the entries ([[Routing.readWhere]]) must not pay a
    * second manifest driver job for the probe (review r19). */
  private[lake] def readKeyBucketsEntries(spark: SparkSession, root: String,
                                          entries: Seq[Entry], key: String,
                                          probes: Seq[Column]): DataFrame = {
    val hit = keyProbeEntries(spark, root, key, probes, entries)
    if (hit.isEmpty) emptyTable(spark, root)
    // the probed slice as a BUCKETED relation (one RDD partition per
    // bucket id, absent buckets empty — the partitioning claim holds on
    // any bucket subset), so downstream key-clustered work — the
    // fragment resolve window, a groupBy on the key, a join — runs with
    // ZERO exchange over the slice instead of shuffling it
    else bucketedReadEntries(spark, root, hit, key)
  }

  /** The manifest entries whose buckets the probe values hash into —
    * the file-level core of [[readKeyBuckets]], shared with
    * [[Routing.routeBucketed]] so the DSv2 scan and the library read
    * can never disagree on the probed set. Probes must carry the
    * table's key TYPE (verified — murmur3 is type-sensitive).
    * `entries` is the caller's already-fetched manifest. */
  private[lake] def keyProbeEntries(spark: SparkSession, root: String,
                                    key: String, probes: Seq[Column],
                                    entries: Seq[Entry]): Seq[Entry] = {
    require(probes.nonEmpty, "at least one probe value")
    require(entries.nonEmpty, s"no published bucketed table under $root")
    val n = entries.head.nBuckets
    // probe buckets over a one-row LocalRelation (r21): deterministic
    // probe expressions constant-fold during optimization, so head()
    // is a driver-side read with NO job (spark.range(1) planned a
    // WholeStageCodegen job per probe read)
    val one = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("one",
          org.apache.spark.sql.types.IntegerType))))
    val sel = one.select(probes.zipWithIndex.map {
      case (c, i) => bucketOf(c, n).as(s"b$i")
    }: _*)
    val probeTypes = one.select(probes: _*).schema.map(_.dataType)
    val stored = storedKeyType(spark, entries.head, key)
    stored.foreach(st => probeTypes.foreach(pt => require(pt == st,
      s"probe value arrives as ${pt.simpleString} but the table hashed " +
        s"'$key' as ${st.simpleString} — a mis-typed probe routes to the " +
        "wrong bucket (murmur3 is type-sensitive); cast the probe")))
    val row = sel.head()
    val buckets = probes.indices.map(row.getInt).toSet
    entries.filter(e => buckets(e.bucket))
  }

  /** The table's fixed bucket count (throws before the first publish) —
    * what an appender created elsewhere must pass to applyBatch. */
  def bucketCount(spark: SparkSession, root: String): Int = {
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    entries.head.nBuckets
  }

  /** [[bucketCount]] that answers None instead of throwing — for
    * appenders that must survive a table with no manifest OR a
    * published-but-empty one (every bucket deleted): the bucket count
    * lives only in manifest entries, so a fully-emptied table forgets
    * it and the appender must re-supply a count. */
  def bucketCountOption(spark: SparkSession, root: String): Option[Int] =
    manifestEntries(spark, root).headOption.map(_.nBuckets)

  // ---- the recorded logical schema. Every table records its schema
  // in a one-row Snapshot sidecar at root/schema at its first non-empty
  // write, and every read plans from it: no read infers a schema from
  // footers, so planning one costs no Spark job. Parquet scans natively
  // UPCAST a stored narrow type into a wider requested one (int32→long,
  // float→double, int→double), so widening a column is METADATA-ONLY:
  // publish the new logical schema, rewrite nothing — old files upcast
  // at scan, new batches land wide, and the two widths coexist forever.
  // Dropping a column is likewise one schema publish: the scan simply
  // stops requesting it (column pruning means its bytes are never read
  // again). A table written before schemas were recorded has no sidecar
  // until its next write; its schema is inferred ([[inferredSchema]]).

  private def schemaRoot(root: String) = s"$root/schema"

  /** The table's logical schema — what every read of it plans from:
    * the recorded one, else [[inferredSchema]] (empty for a table that
    * never held a row). */
  def tableSchema(spark: SparkSession,
                  root: String): org.apache.spark.sql.types.StructType =
    recordedState(spark, root).map(_._1).getOrElse(inferredSchema(spark, root))

  /** A zero-row frame of [[tableSchema]] — a LocalRelation, so
    * building, analyzing or collecting it submits no Spark job. */
  private[lake] def emptyTable(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      tableSchema(spark, root))

  /** The schema of a table that records none (written before schemas
    * were recorded), inferred from the merged footers of its newest
    * retained version at or below `asOf` that has entries — a fully
    * emptied table's older versions still pin their files against GC.
    * Empty when no such version exists. Also the schema of a
    * time-travel read, which the recorded schema may postdate. */
  private[graft] def inferredSchema(spark: SparkSession, root: String,
                                    asOf: Long = Long.MaxValue)
      : org.apache.spark.sql.types.StructType =
    Snapshot.publishedTags(spark, root).filter(_ <= asOf).reverseIterator
      .map(t => manifestEntriesAt(spark, root, t)).find(_.nonEmpty)
      .fold(new org.apache.spark.sql.types.StructType())(es =>
        spark.read.option("mergeSchema", "true").parquet(es.map(_.path): _*).schema)

  /** (schema, sticky-dropped column names) as recorded, read through the
    * localize memo ([[publishSchema]] seeds it, so a steady-state read
    * costs no job). Drops are STICKY: a later batch still carrying a
    * dropped column must NOT re-introduce it — untouched files still
    * hold the old values, which would resurrect. (Re-adding a
    * once-dropped name is an explicit new evolution, deliberately
    * unsupported here.) */
  private def recordedState(spark: SparkSession, root: String)
      : Option[(org.apache.spark.sql.types.StructType, Set[String])] =
    Snapshot.resolve(spark, schemaRoot(root)).map { dir =>
      val r = FileStats.localizedParquet(spark, dir)
        .select("schema_json", "dropped_json").head()
      (org.apache.spark.sql.types.DataType.fromJson(r.getString(0))
        .asInstanceOf[org.apache.spark.sql.types.StructType],
        decodeDropped(r.getString(1)))
    }

  // The dropped set round-trips as a JSON ARRAY (ADVICE r16): the old
  // comma-joined form split a column name containing a comma into
  // bogus entries, losing the real dropped name — a later batch
  // carrying it would silently RESURRECT the dropped column. Legacy
  // comma-joined sidecars (pre-JSON) still decode.
  private def encodeDropped(dropped: Set[String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(dropped.toSeq.sorted))
  }
  private def decodeDropped(s: String): Set[String] =
    if (s.startsWith("["))
      org.json4s.jackson.JsonMethods.parse(s) match {
        case org.json4s.JArray(xs) =>
          xs.collect { case org.json4s.JString(v) => v }.toSet
        case other => throw new IllegalStateException(
          s"corrupt dropped_json sidecar value: $s ($other)")
      }
    else s.split(",").filter(_.nonEmpty).toSet

  private val sidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("schema_json",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("dropped_json",
      org.apache.spark.sql.types.StringType, nullable = false)))

  private def publishSchema(spark: SparkSession, root: String,
                            schema: org.apache.spark.sql.types.StructType,
                            dropped: Set[String], tag: Long,
                            keep: Int): Unit =
    Snapshot.publishRows(spark, sidecarSchema,
      Seq(org.apache.spark.sql.Row(schema.json, encodeDropped(dropped))),
      schemaRoot(root), tag, keep)

  /** Fold a batch's schema into the table's — the recorded one, else
    * the inferred one (empty for a new table): adds append, wider types
    * widen. Validates NOW (a cross-family conflict must fail while the
    * table is untouched) and returns the recorder, which publishes the
    * result under `tag` only when it differs from the record or no
    * record exists. Writers run the recorder after the data write and
    * skip it when nothing was written to a new table, so an empty first
    * batch records nothing and a crash-replay at the same tag finds its
    * schema already recorded. */
  private def absorbBatchSchema(spark: SparkSession, root: String,
                                batch: org.apache.spark.sql.types.StructType,
                                tag: Long, keep: Int): () => Unit = {
    val recorded = recordedState(spark, root)
    val (cur, dropped) = recorded.getOrElse(
      (inferredSchema(spark, root), Set.empty[String]))
    // files read back nullable whatever the batch declared
    val merged = mergeDeclared(cur,
      org.apache.spark.sql.graft.ColumnBridge.asNullable(batch), dropped)
    if (recorded.exists(_._1 == merged)) () => ()
    else () => publishSchema(spark, root, merged, dropped, tag, keep)
  }

  /** Widenings the parquet scan performs losslessly in place. */
  private val Widenings: Set[(org.apache.spark.sql.types.DataType,
                              org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set[(DataType, DataType)](
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType), (IntegerType, DoubleType),
      (FloatType, DoubleType))
  }

  /** Schema evolution may never touch the column the bucket route
    * hashes ([[requireKeyTypeStable]]'s rationale); the key is
    * recorded in the manifest by every writer. */
  private def requireNotBucketKey(spark: SparkSession, root: String,
                                  column: String, what: String): Unit =
    manifestEntries(spark, root).headOption
      .map(_.keyCol).filter(_.nonEmpty).foreach(k => require(k != column,
        s"cannot $what '$column': it is the table's bucket key — its " +
          "murmur3 route is type- and presence-sensitive; rebucket into a " +
          "new table instead"))

  /** Fold a batch's schema into the table's: new fields append, a
    * wider batch type widens the table's field, a narrower batch type
    * keeps the table's width (the scan upcasts those rows). A
    * CROSS-FAMILY conflict (table int, batch string) fail-fasts: the
    * union would coerce and write bytes the table's schema can no
    * longer read. */
  private def mergeDeclared(declared: org.apache.spark.sql.types.StructType,
                            batch: org.apache.spark.sql.types.StructType,
                            dropped: Set[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val updated = declared.fields.map { f =>
      batch.fields.find(_.name == f.name) match {
        case Some(b) if Widenings((f.dataType, b.dataType)) =>
          f.copy(dataType = b.dataType)
        case Some(b) =>
          require(b.dataType == f.dataType ||
              Widenings((b.dataType, f.dataType)),
            s"batch column '${f.name}' is ${b.dataType.simpleString} but " +
              s"the table's schema says ${f.dataType.simpleString} — " +
              "neither a widening nor upcastable; cast the batch")
          f
        case None => f
      }
    }
    val added = batch.fields.filterNot(b =>
      declared.fieldNames.contains(b.name) || dropped(b.name))
    StructType(updated ++ added)
  }

  /** TYPE-WIDEN `column` to `newType` — one metadata publish, zero
    * data movement. Fail-fasts on anything but a lossless widening
    * (a narrowing or cross-family cast would silently corrupt). */
  def widenColumn(spark: SparkSession, root: String, column: String,
                  newType: org.apache.spark.sql.types.DataType, tag: Long,
                  keep: Int = 2): Unit = {
    val cur = tableSchema(spark, root)
    val field = cur.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$column' in the table at $root"))
    require(Widenings((field.dataType, newType)),
      s"cannot widen $column from ${field.dataType.simpleString} to " +
        s"${newType.simpleString} — only lossless widenings are allowed")
    requireNotBucketKey(spark, root, column, "widen")
    val dropped = recordedState(spark, root).fold(Set.empty[String])(_._2)
    publishSchema(spark, root,
      org.apache.spark.sql.types.StructType(cur.fields.map(f =>
        if (f.name == column) f.copy(dataType = newType) else f)),
      dropped, tag, keep)
  }

  /** DROP `column` — one metadata publish; the scan stops requesting
    * it, so its bytes are never read again (physical reclaim happens
    * whenever a bucket is rewritten for any other reason). The bucket
    * KEY and the version column must survive; the caller owns that
    * contract (this layer does not record which they are). */
  def dropColumn(spark: SparkSession, root: String, column: String,
                 tag: Long, keep: Int = 2): Unit = {
    val cur = tableSchema(spark, root)
    require(cur.fieldNames.contains(column),
      s"no column '$column' in the table at $root")
    require(cur.fields.length > 1, "cannot drop the last column")
    requireNotBucketKey(spark, root, column, "drop")
    val dropped = recordedState(spark, root).fold(Set.empty[String])(_._2)
    publishSchema(spark, root,
      org.apache.spark.sql.types.StructType(
        cur.fields.filterNot(_.name == column)),
      dropped + column, tag, keep)
  }

  /** Read `paths` under the table's schema ([[tableSchema]]): files
    * upcast narrow columns, supply NULL for later-added ones, and prune
    * dropped ones. */
  private[lake] def readPaths(spark: SparkSession, root: String,
                              paths: Seq[String]): DataFrame =
    spark.read.schema(tableSchema(spark, root)).parquet(paths: _*)

  /** The data dirs of the table's current manifest entries. */
  private[graft] def dataDirs(spark: SparkSession, root: String): Seq[String] =
    manifestEntries(spark, root).map(_.path)

  /** The current table contents (throws before the first publish). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    // leaf dirs read directly: no partition inference, plain row files
    readPaths(spark, root, entries.map(_.path))
  }

  /** Bucket-level change feed: the rows of every bucket REWRITTEN after
    * `sinceTag`, per the current manifest — the incremental-read hook a
    * downstream consumer (index refresh, export, replication) uses to
    * avoid rescanning the table. Exact at the file level (untouched
    * buckets are never read, so the cost is the churn, not the table);
    * at the row level it over-approximates by bucket granularity — a
    * rewritten bucket returns ALL its rows, and callers wanting exact
    * row deltas filter on their version column, which upsert rows carry
    * by construction. Returns an empty frame (table schema) when
    * nothing changed.
    */
  /** The tag a manifest entry's data dir was written under
    * (`data/v<tag>/graft_bucket=<i>`). */
  private[lake] def entryTag(path: String): Long =
    new Path(path).getParent.getName.drop(1).toLong

  def changesSince(spark: SparkSession, root: String, sinceTag: Long): DataFrame = {
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    // data_tag, not the path's tag: compaction relocates bytes under a
    // new version dir without changing data, and must NOT appear here
    val changed = entries.filter(e => e.dataTag > sinceTag)
    if (changed.isEmpty) emptyTable(spark, root)
    else readPaths(spark, root, changed.map(_.path))
  }

  /** Fold one update batch into the table: SEQUENCE-BY resolve (highest
    * `versionCol` per `key` wins) over ONLY the touched buckets, then an
    * atomic manifest publish under `tag`. Tags follow the Snapshot
    * ledger contract (strictly increasing; streaming drivers pass the
    * batch id). Data-version directories no retained manifest references
    * are GC'd after the publish.
    *
    * SCHEMA EVOLUTION: a batch may ADD columns or WIDEN one — its
    * schema is folded into the recorded one ([[tableSchema]]) and a
    * cross-family type fail-fasts before any write. Touched buckets
    * resolve via unionByName (legacy rows take NULL in the new column),
    * untouched buckets keep their old-schema files verbatim, and every
    * read plans from the recorded schema (the scan upcasts narrow files
    * and supplies NULL for columns they lack), so history is never
    * rewritten. The upsert itself stays WHOLE-ROW: a
    * batch that OMITS an existing column replaces matched rows with
    * NULL there (not a patch) — carry a column in the feed if its value
    * must survive updates.
    */
  def applyBatch(batch: DataFrame, root: String, key: String,
                 versionCol: String, nBuckets: Int, tag: Long,
                 keep: Int = 2): Unit =
    applyBatchStaged(batch, root, key, versionCol, nBuckets, tag, keep, None)()

  /** The touched-bucket sets (`bucketOf(key, n)` distinct) of one or
    * SEVERAL (frame, key, nBuckets) writes in ONE Spark job (r22, guide
    * §1.2). It is the only touched-bucket probe: every single-table
    * write calls it with one frame, and a multi-table writer — the BM25
    * index's postings+docstats pair — probes all its tables at once
    * instead of paying one distinct-collect job per table per batch for
    * probes whose real work (a batch-sized distinct) is trivial next to
    * the fixed per-job cost. Each branch of the union'd aggregate is
    * the one-frame probe, so the result is identical per table. */
  private[graft] def touchedBuckets(
      frames: Seq[(DataFrame, String, Int)]): Seq[Set[Int]] = {
    require(frames.nonEmpty, "at least one frame to probe")
    val union = frames.zipWithIndex.map { case ((df, key, n), i) =>
      df.select(lit(i).as("t"), bucketOf(col(key), n).as("b"))
    }.reduce(_ unionAll _)
    val rows = union.distinct().collect()
    val byTable = rows.groupBy(_.getInt(0))
    frames.indices.map(i =>
      byTable.getOrElse(i, Array.empty).map(_.getInt(1)).toSet)
  }

  /** [[applyBatch]] SPLIT at the publish (r22, guide §2.6): runs
    * everything up to and including the data write and returns a thunk
    * that performs the manifest publish + GC. A multi-table writer (the
    * BM25 index) overlaps two tables' independent write jobs and still
    * publishes in its documented crash-order (docstats last — its
    * streaming ledger anchor). Until the thunk runs, the write is an
    * unreferenced `data/v<tag>` dir — exactly a crashed batch's state,
    * which the existing replay contract already heals/overwrites.
    *
    * `precomputedTouched` lets such a writer probe all its tables in
    * one job: it must be this table's [[touchedBuckets]] result (None =
    * probe here, through the same function). A superset would rewrite
    * buckets the batch never touches; a subset would leave such a
    * bucket's old entry beside the unresolved new one. */
  private[graft] def applyBatchStaged(batch: DataFrame, root: String,
                                      key: String, versionCol: String,
                                      nBuckets: Int, tag: Long, keep: Int,
                                      precomputedTouched: Option[Set[Int]]): () => Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = batch.sparkSession
    requireTagAbove(spark, root, tag, "batch")
    // ONE manifest fetch for the whole batch apply (r21: the tag
    // guard, key-type pin, and prev-entry merge previously each paid
    // their own manifest job)
    val prev = manifestEntries(spark, root)
    val keyDt = batch.schema(key).dataType
    requireKeyTypeStableEntries(spark, prev, root, key, keyDt)
    // validate the batch's schema BEFORE any data write; it is recorded
    // after the write, and a schema recorded without its manifest yet
    // is harmless (extra columns read as NULL until the manifest follows)
    val recordSchema = absorbBatchSchema(spark, root, batch.schema, tag, keep)
    prev.headOption.foreach(e => require(e.nBuckets == nBuckets,
      s"table at $root was bucketed with n=${e.nBuckets}, got $nBuckets — " +
        "the bucket count is fixed at table creation"))
    val dataDir = s"$root/data/v$tag"
    // touched buckets: a batch-sized distinct, bucket-count-bounded
    // result — or the caller's shared-probe set (same expression). The
    // FIRST batch (r21) skips the probe: with no standing buckets to
    // merge it is a full extra pass over the batch that buys nothing.
    val touched =
      if (prev.isEmpty) Set.empty[Int]
      else precomputedTouched.getOrElse(
        touchedBuckets(Seq((batch, key, nBuckets))).head)
    // ONE exchange for resolve + route (r21, guide §2.4): the explicit
    // hash repartition on the KEY into exactly nBuckets partitions IS
    // the bucket route (HashPartitioning's partition-id expression
    // pmod(murmur3(key), n) is bucketOf by construction), and it
    // simultaneously satisfies the resolve window's
    // ClusteredDistribution(key) — so the per-key row_number adds NO
    // second exchange, and the write's dynamic graft_bucket=<i>/ dirs
    // land one-bucket-per-task exactly as the old route-by-bucket
    // shuffle did. Before: exchange(key) for the window +
    // exchange(graft_bucket) for the route — the touched slice crossed
    // the wire twice per batch. Every batch key survives the resolve,
    // so the buckets written are exactly the touched ones.
    val written =
      if (prev.nonEmpty && touched.isEmpty) Seq.empty
      else {
        val base = prev.filter(e => touched(e.bucket)) match {
          case Seq() => batch.limit(0)
          case es => readPaths(spark, root, es.map(_.path))
        }
        writeBuckets(base
          .unionByName(batch, allowMissingColumns = true)
          .repartition(nBuckets, col(key))
          .withColumn("graft_rn", row_number().over(
            Window.partitionBy(key).orderBy(desc(versionCol))))
          .filter(col("graft_rn") === 1).drop("graft_rn"),
          dataDir, key, nBuckets)
      }
    // an empty FIRST batch creates nothing ([[writeBuckets]] swept its
    // dir): publishing a zero-entry manifest would make the table
    // "exist" with no schema and no bucket count, wedging every
    // consumer that resolves it (the streaming index ingests died
    // exactly this way on a zero-row leading file)
    if (prev.isEmpty && written.isEmpty) return () => ()
    recordSchema()
    val entries = prev.filterNot(e => touched(e.bucket)) ++
      written.map(bucketEntry(dataDir, _, nBuckets, tag, key, versionCol,
        keyDt.json))
    () => { publishEntries(spark, entries, root, tag, keep)
            gcData(spark, root) }
  }

  /** LSM-style fragment append — the WRITE-CHEAP half of the upsert
    * trade: land ONLY the batch's rows as new per-bucket fragment dirs
    * and keep every previous fragment in the manifest, deferring
    * version resolution to [[readResolved]] (merge-on-read) and
    * physical consolidation to [[mergeFragments]]. Per-batch write
    * cost drops from O(touched buckets + batch) ([[applyBatch]]'s
    * read-resolve-rewrite) to **O(batch)** — at 100 TB with frequent
    * small batches this is the difference between an ingest that
    * rewrites 1.5 GB buckets per thousand-row batch and one that
    * writes the thousand rows.
    *
    * The manifest may then hold SEVERAL entries per bucket (fragments,
    * each with its own data_tag); readers union them — the bucketed
    * scan groups same-bucket fragments into one partition, so the
    * resolve window runs exchange-free. Same ledger contract as
    * applyBatch (strictly-increasing tags; empty FIRST batch creates
    * nothing, empty later batch re-publishes to advance the tag).
    */
  def appendFragment(batch: DataFrame, root: String, key: String,
                     nBuckets: Int, tag: Long, keep: Int = 2,
                     versionCol: String = ""): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = batch.sparkSession
    requireTagAbove(spark, root, tag, "fragment")
    // ONE manifest fetch shared by the guards and the entry merge (r21)
    val prev = manifestEntries(spark, root)
    val keyDt = batch.schema(key).dataType
    requireKeyTypeStableEntries(spark, prev, root, key, keyDt)
    val recordSchema = absorbBatchSchema(spark, root, batch.schema, tag, keep)
    prev.headOption.foreach(e => require(e.nBuckets == nBuckets,
      s"table at $root was bucketed with n=${e.nBuckets}, got $nBuckets — " +
        "the bucket count is fixed at table creation"))
    val dataDir = s"$root/data/v$tag"
    // hash-on-key into exactly nBuckets partitions IS the bucket route
    // (see applyBatch) — same one exchange as the old route-by-bucket-
    // id, but aligned so each task holds exactly its own bucket (no
    // two-buckets-in-one-task hash collisions)
    val written = writeBuckets(batch.repartition(nBuckets, col(key)),
      dataDir, key, nBuckets)
    // empty FIRST batch creates nothing (same wedge guard as applyBatch)
    if (written.isEmpty && prev.isEmpty) return
    recordSchema()
    // the recorded version column: an explicit one wins; otherwise
    // inherit the table's standing record so one annotated writer is
    // enough for transparent merge-on-read everywhere (search ALL
    // entries — the head may predate version recording)
    val vc = if (versionCol.nonEmpty) versionCol
             else prev.map(_.verCol).find(_.nonEmpty).getOrElse("")
    val entries = prev ++
      written.map(bucketEntry(dataDir, _, nBuckets, tag, key, vc, keyDt.json))
    publishEntries(spark, entries, root, tag, keep)
    gcData(spark, root)
  }

  /** The CURRENT row per key over a (possibly fragmented) table:
    * highest `versionCol` wins, later fragments break version ties.
    * Runs over [[bucketedRead]], so the per-key window needs NO
    * exchange — the scan already delivers HashPartitioning(key, n) and
    * the resolve is an in-partition sort, fragment count never changes
    * the shuffle story. On a fragment-free table this equals [[read]].
    */
  def readResolved(spark: SparkSession, root: String, key: String,
                   versionCol: String): DataFrame =
    resolveScan(bucketedRead(spark, root, key), key, versionCol)

  /** The resolve window over any direct SCAN of table fragment paths
    * (input_file_name must name the fragment files — apply BEFORE any
    * join/filter that could drop the latest version of a key). Shared
    * by [[readResolved]] and [[Routing]]'s merge-on-read routes, which
    * scan bucket SUBSETS: still exact, because every fragment of a key
    * lives in the key's own bucket. */
  private[lake] def resolveScan(df: DataFrame, key: String,
                                versionCol: String): DataFrame =
    df.withColumn("graft_frag_tag",
        regexp_extract(normFilePath, "/v(\\d+)/graft_bucket=", 1).cast("long"))
      .withColumn("graft_rn", row_number().over(
        Window.partitionBy(col(key))
          .orderBy(desc(versionCol), desc("graft_frag_tag"))))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn", "graft_frag_tag")

  /** [[resolveScan]] bound to a table's recorded key and version
    * columns. */
  private[lake] case class MergeOnRead(key: String, versionCol: String)
      extends (DataFrame => DataFrame) {
    def apply(df: DataFrame): DataFrame = resolveScan(df, key, versionCol)
  }

  /** The merge-on-read choice every transparent reader makes: None when
    * no bucket of `checked` holds more than one fragment (raw rows ARE
    * the current rows), else the resolve through the key and version
    * columns recorded anywhere in the table's `entries` — fail-fast if
    * fragments exist but no version was recorded, because a raw read
    * would return superseded rows. */
  private[lake] def mergeOnRead(root: String, entries: Seq[Entry],
                                checked: Seq[Entry]): Option[MergeOnRead] =
    if (!hasFragments(checked)) None
    else {
      val vc = entries.map(_.verCol).find(_.nonEmpty).getOrElse(
        throw new IllegalStateException(
          s"table at $root is fragmented but its manifest records no " +
            "version column — a raw read would return superseded rows; " +
            "write batches with versionCol set, or mergeFragments first"))
      val key = entries.map(_.keyCol).find(_.nonEmpty).getOrElse(
        throw new IllegalStateException(
          s"table at $root records no key column"))
      Some(MergeOnRead(key, vc))
    }

  /** The version column the table's writers recorded, if any — lets
    * readers resolve merge-on-read WITHOUT being re-told the table's
    * semantics at every call site ([[Routing.readWhere]]'s contract). */
  def versionColOf(spark: SparkSession, root: String): Option[String] =
    manifestEntries(spark, root).map(_.verCol).find(_.nonEmpty)

  /** The bucket-key column name the table's writers recorded. */
  private[lake] def keyColOf(spark: SparkSession, root: String): String =
    manifestEntries(spark, root).headOption.map(_.keyCol)
      .filter(_.nonEmpty).getOrElse(throw new IllegalStateException(
        s"table at $root records no key column — rewritten by a pre-key-" +
          "recording writer; any upsert re-records it"))

  /** `true` when some bucket holds more than one fragment — the only
    * state in which superseded rows can exist (applyBatch rewrites
    * whole buckets resolving; a single fragment per bucket holds each
    * of its keys at most once). */
  private[graft] def isFragmented(spark: SparkSession, root: String): Boolean =
    hasFragments(manifestEntries(spark, root))

  /** [[isFragmented]] over an already-fetched manifest. */
  private def hasFragments(entries: Seq[Entry]): Boolean =
    entries.groupBy(_.bucket).exists(_._2.size > 1)

  /** Fragments per bucket in the current manifest — the merge-on-read
    * cost driver a maintenance policy bounds (the soak asserts the
    * bound holds at every batch). */
  def fragmentCounts(spark: SparkSession, root: String): Map[Int, Int] =
    manifestEntries(spark, root).groupBy(_.bucket)
      .map { case (b, es) => b -> es.size }

  private def normFilePath: Column =
    regexp_replace(input_file_name(), FileStats.SchemeRe, "/")

  /** Bucket-granular COMPACTION of a fragmented table: every bucket
    * with more than one fragment is resolved (highest version per key,
    * exactly [[readResolved]]'s rule) and rewritten as a single entry;
    * single-fragment buckets are referenced verbatim. The new entries
    * carry the MAX data_tag of the fragments they merged, so the
    * change feed ([[changesSince]]) reports NOTHING for a compaction —
    * bytes moved, data didn't — and time travel still resolves the
    * pre-compaction manifests Snapshot retains. Ledger contract as
    * every other writer (strictly-increasing tag; on stream-owned
    * tables run from the stream's pause window). Returns the number of
    * buckets compacted.
    */
  def mergeFragments(spark: SparkSession, root: String, key: String,
                     versionCol: String, tag: Long, keep: Int = 2): Int = {
    requireTagAbove(spark, root, tag, "compaction")
    compactRuns(spark, root, manifestEntries(spark, root), key, versionCol,
      tag, keep)(identity)
  }

  /** The one compaction: `pickRuns` maps each fragmented bucket to the
    * fragments it merges (a bucket it drops, or maps to fewer than two,
    * is left as is); the runs are resolved and rewritten as one entry
    * per bucket carrying the run's max data_tag, and every other entry
    * is referenced verbatim. Resolution runs over the BUCKETED relation
    * of the run fragments: the scan delivers HashPartitioning(key, n),
    * so the per-key window ([[resolveScan]], with the TRUE per-row
    * fragment tags) is an in-partition sort and the write lands each
    * task's rows in its own bucket dir — ZERO exchange. */
  private def compactRuns(spark: SparkSession, root: String, prev: Seq[Entry],
                          key: String, versionCol: String, tag: Long,
                          keep: Int)(
      pickRuns: Map[Int, Seq[Entry]] => Map[Int, Seq[Entry]]): Int = {
    require(prev.nonEmpty, s"no published bucketed table under $root")
    val n = prev.head.nBuckets
    val runs = pickRuns(prev.groupBy(_.bucket).filter(_._2.size > 1))
      .filter(_._2.size >= 2)
    if (runs.isEmpty) return 0
    val dataDir = s"$root/data/v$tag"
    val runEntries = runs.values.flatten.toSeq
    writeBuckets(resolveScan(bucketedReadEntries(spark, root, runEntries, key),
      key, versionCol), dataDir, key, n)
    val kt = prev.map(_.keyType).find(_.nonEmpty).getOrElse("")
    val merged = runs.map { case (b, frags) =>
      bucketEntry(dataDir, b, n, frags.map(_.dataTag).max, key, versionCol, kt)
    }.toSeq
    val mergedPaths = runEntries.map(_.path).toSet
    val entries = prev.filterNot(e => mergedPaths.contains(e.path)) ++ merged
    publishEntries(spark, entries, root, tag, keep)
    gcData(spark, root)
    runs.size
  }

  /** [[bucketedJoin]] over RESOLVED views — the join for tables in the
    * fragment regime, where the raw manifest still holds superseded
    * rows: each side resolves first (highest version per key), and
    * because the resolve window PRESERVES the scan's
    * HashPartitioning(key, n), the whole resolve-then-join pipeline
    * still runs with ZERO Exchange on either side (mismatched bucket
    * counts: [[bucketedJoin]]'s one-sided rebucket is the only
    * exchange anywhere in resolve-resolve-join). */
  def bucketedJoinResolved(spark: SparkSession, leftRoot: String,
                           rightRoot: String, key: String,
                           leftVersionCol: String, rightVersionCol: String,
                           joinType: String = "inner"): DataFrame = {
    val nL = bucketCount(spark, leftRoot)
    val nR = bucketCount(spark, rightRoot)
    coBucketedJoin(readResolved(spark, leftRoot, key, leftVersionCol), nL,
      readResolved(spark, rightRoot, key, rightVersionCol), nR, key, joinType)
  }

  /** SIZE-TIERED compaction (VERDICT r17 #3): per fragmented bucket,
    * merge only the newest CONTIGUOUS run of fragments whose sizes tier
    * together, leaving a dominant base fragment untouched — the LSM
    * economics a whole-bucket merge ([[mergeFragments]]) cannot offer.
    * The run extends from the newest fragment backward,
    * absorbing an older fragment only while its bytes stay within
    * `tierRatio` × the run's accumulated bytes: many small deltas
    * merge for O(deltas) write cost; the base joins (a FULL merge)
    * only once the deltas have grown comparable — exactly the
    * size-tiered promotion rule. At 100 TB this is the difference
    * between a compaction cycle that rewrites the table every firing
    * and one that rewrites the churn.
    *
    * CORRECTNESS of partial merges: a run is always a TAG-CONTIGUOUS
    * SUFFIX of its bucket's fragments, and the merged fragment carries
    * the run's max tag. Version-tie resolution orders by fragment tag;
    * for any row surviving the run-internal resolve (done with the
    * TRUE per-row fragment tags), every non-merged fragment of the
    * bucket is strictly OLDER than the whole run — so comparisons
    * against it are unchanged by the tag relabeling. A mid-list merge
    * would break this (a relabeled old row could outrank a newer
    * unmerged fragment on a version tie); the suffix shape is load-
    * bearing, pinned in FragmentSpec.
    *
    * `boundFragments`: buckets at or over this count FORCE their run
    * to at least (count − boundFragments + 2) fragments even where the
    * tier rule would stall (e.g. a huge just-landed batch behind a tiny
    * one) — the fragment-count bound that keeps merge-on-read latency
    * flat must always make progress. Returns buckets compacted.
    */
  def mergeFragmentsTiered(spark: SparkSession, root: String, key: String,
                           versionCol: String, tag: Long,
                           tierRatio: Double = DefaultTierRatio,
                           boundFragments: Int = Int.MaxValue,
                           keep: Int = 2): Int = {
    require(tierRatio > 0, s"tierRatio must be positive: $tierRatio")
    requireTagAbove(spark, root, tag, "compaction")
    compactRuns(spark, root, manifestEntries(spark, root), key, versionCol,
      tag, keep)(tierRuns(spark, root, tierRatio, boundFragments))
  }

  private val DefaultTierRatio = 2.0

  /** [[mergeFragmentsTiered]]'s run rule: per fragmented bucket, the
    * size-tiered suffix of its fragments (sorted by data_tag). */
  private def tierRuns(spark: SparkSession, root: String, tierRatio: Double,
                       boundFragments: Int)(
      fragmented: Map[Int, Seq[Entry]]): Map[Int, Seq[Entry]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // fragment sizes in ONE parallel metadata pass (review r18: a
    // serial getContentSummary per fragment stalled the driver for
    // minutes on thousand-bucket tables — and fragment dirs are flat,
    // so a single listStatus per dir is enough)
    def bytesOf(p: String): Long = {
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      fs.listStatus(hp).iterator.map(s =>
        if (s.isFile) s.getLen
        else fs.getContentSummary(s.getPath).getLength).sum
    }
    val fragmentedEntries = fragmented.values.flatten.toSeq
    val sizeByPath: Map[String, Long] = {
      import Overlap.ec // the shared pool (VERDICT r21 #9)
      // bounded wait (ADVICE r18): one hung FileSystem RPC must fail
      // the compaction LOUDLY, not stall the driver forever. The bound
      // is generous — listStatus of flat dirs is milliseconds each —
      // and the failure names the listing so an operator can find the
      // stuck store path.
      try Overlap.all(fragmentedEntries.map(e =>
        scala.concurrent.Future(e.path -> bytesOf(e.path))),
        scala.concurrent.duration.Duration(10, "min")).toMap
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"fragment-size listing stalled >10 min over " +
              s"${fragmentedEntries.size} fragment dirs under $root — a " +
              "FileSystem listStatus is hung; compaction aborted (no " +
              "state was modified)", e)
      }
    }
    fragmented.map { case (b, es) =>
      val sorted = es.sortBy(_.dataTag)
      val sizes = sorted.map(e => sizeByPath(e.path))
      var start = sorted.size - 1
      var acc = sizes(start)
      while (start > 0 && sizes(start - 1) <= (acc max 1L) * tierRatio) {
        start -= 1; acc += sizes(start)
      }
      // progress floor for over-bound buckets: shrink below the bound
      // regardless of the tier rule (suffix shape preserved)
      if (sorted.size >= boundFragments)
        start = start min (boundFragments - 2) min (sorted.size - 2)
      b -> sorted.drop(start)
    }
  }

  /** Threshold-gated auto-compaction — the policy a maintenance job
    * polls: fires only when some bucket has accumulated at least
    * `maxFragments` fragments (merge-on-read cost grows with fragment
    * count; below the threshold compaction would burn a rewrite for
    * nothing), and then merges SIZE-TIERED ([[mergeFragmentsTiered]]):
    * small fragments first, the base only when the bucket's sizes have
    * stopped skewing — with a progress floor that always brings
    * over-threshold buckets back under. Returns buckets compacted, 0
    * when below threshold — and a no-op consumes NO tag, so the caller
    * can poll with the same reserved tag until it fires. Same ownership
    * contract as every maintenance verb (batch-owned tables, or a
    * stream's pause window).
    */
  def mergeFragmentsIfNeeded(spark: SparkSession, root: String, key: String,
                             versionCol: String, tag: Long,
                             maxFragments: Int = 8, keep: Int = 2): Int = {
    require(maxFragments >= 2, s"maxFragments must be >= 2: $maxFragments")
    // ONE manifest fetch serves the threshold check and the compaction
    val prev = manifestEntries(spark, root)
    val worst = prev.groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0)
    if (worst < maxFragments) 0
    else {
      requireTagAbove(spark, root, tag, "compaction")
      compactRuns(spark, root, prev, key, versionCol, tag, keep)(
        tierRuns(spark, root, DefaultTierRatio, maxFragments))
    }
  }

  /** CDC live view: the table minus tombstone rows. A CDC feed's
    * DELETE is ingested as a NORMAL row (op column + version) through
    * [[applyBatch]] — the tombstone must be STORED, not applied-and-
    * dropped, because it is what makes deletion safe under the same
    * out-of-order arrivals SEQUENCE BY already guards: a late OLDER
    * update for a deleted key loses the version resolve to the stored
    * tombstone instead of silently resurrecting the key (the classic
    * CDC bug; Kafka compaction retains tombstones for exactly this
    * reason). Readers see the live table through this filter; rows
    * where `tombstone` is NULL (pre-CDC legacy rows) are kept.
    */
  def readLive(spark: SparkSession, root: String, tombstone: Column): DataFrame = {
    // FRAGMENT-aware: on a fragmented table the raw rows still hold
    // older versions of tombstoned keys — filtering raw would leak a
    // superseded "live" row past its key's tombstone. Resolve first
    // through the writer-recorded version column (same transparent
    // merge-on-read contract as Routing.readWhere). ONE manifest fetch
    // serves fragmentation/key/version discovery and the read itself
    // (each manifestEntries call is a driver-side job).
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    val base = mergeOnRead(root, entries, entries) match {
      case None => readPaths(spark, root, entries.map(_.path))
      case Some(resolve) =>
        resolve(bucketedReadEntries(spark, root, entries, resolve.key))
    }
    base.filter(!coalesce(tombstone, lit(false)))
  }

  /** Tombstone retention GC: physically drop tombstone rows whose
    * `versionCol` is at or below `horizon`, rewriting ONLY the buckets
    * that hold one. The horizon is the caller's out-of-order bound
    * (e.g. the stream's watermark floor): a tombstone older than it
    * can no longer be out-raced by a late update, so storing it buys
    * nothing. Purging EARLIER than the true bound re-opens the
    * resurrection window — the horizon contract is the caller's.
    * The candidate scan is column-pruned (key, version + the tombstone
    * inputs) over the current table; the rewrite cost is touched
    * buckets only. Returns the number of tombstones dropped.
    * Ownership contract as [[deleteKeys]]: on a stream-owned table,
    * run the purge from the stream's own pause window with a tag the
    * ledger will not collide with (i.e. retire or coordinate with the
    * checkpoint), never concurrently out of band.
    */
  def purgeTombstones(spark: SparkSession, root: String, key: String,
                      versionCol: String, tombstone: Column, horizon: Long,
                      tag: Long, keep: Int = 2): Long = {
    val prev = manifestEntries(spark, root)
    require(prev.nonEmpty, s"no published bucketed table under $root")
    // FRAGMENT-REGIME GUARD: the purge filter drops tombstone ROWS from
    // the raw files; on a fragmented table a purged key's SUPERSEDED
    // versions still exist physically in older fragments, so dropping
    // the tombstone (the resolve winner) would silently RESURRECT the
    // previous version — the exact failure a tombstone exists to
    // prevent. A single fragment per bucket holds each key at most
    // once (raw == resolved), so post-merge purging is exact.
    require(!hasFragments(prev),
      s"purgeTombstones on the FRAGMENTED table at $root would resurrect " +
        "superseded versions (older fragments still hold them) — run " +
        "mergeFragments first (streamingIngestMaintained does this " +
        "automatically)")
    val n = prev.head.nBuckets
    // NULL-safe on BOTH sides: a NULL version cannot prove the horizon
    // passed, and three-valued logic would otherwise let filter(!e)
    // silently DROP such a tombstone (NULL && x → NULL → row filtered)
    // — purging exactly what the horizon could not certify
    val expirable = coalesce(tombstone, lit(false)) &&
      coalesce(col(versionCol) <= horizon, lit(false))
    // bucket-count-bounded result; the scan reads only the columns the
    // predicate needs
    val touched =
      touchedBuckets(Seq((read(spark, root).filter(expirable), key, n))).head
    val (removed, publish) = rewriteBuckets(spark, root, prev, touched,
      _.filter(!expirable), key, n, tag, keep)
    publish()
    removed
  }

  /** Key-set delete — the GDPR/account-closure shape on a bucketed
    * table: remove every row whose `key` appears in `keys` (a 1-column
    * frame), rewriting ONLY the buckets those keys hash into and
    * publishing the result as a new manifest under `tag`. Untouched
    * buckets keep their previous-tag directories verbatim, so delete
    * cost is O(touched buckets + key set), never O(table) — the
    * complement of [[DeleteWhere]]'s range delete on zone-mapped trees.
    *
    * The key set is typically tiny (an account list) and the plan
    * broadcast-anti-joins it into the touched buckets' scan; a huge
    * delete set degrades gracefully to a shuffled anti join of the
    * touched slice only. Returns the number of rows deleted.
    *
    * Semantics note (documented contract, same as every upsert table
    * without tombstones): a delete removes the key's CURRENT row; a
    * LATER batch carrying that key re-inserts it, whatever its version
    * value — upstream must stop producing a deleted key, or carry the
    * deletion as a tombstone row in its own feed.
    *
    * OWNERSHIP contract: on a table whose tags are a STREAMING sink's
    * batch-id ledger (streamingUpsertBucketed, the index ingests), an
    * out-of-band delete advances the published tag past the stream's
    * next batch id — the ledger then either skips that batch silently
    * (tag == next id) or fail-fasts the stream forever (tag above it).
    * Route deletes through the stream instead (CDC tombstones /
    * delete-first batches), or retire the pipeline (new checkpoint +
    * table root) before out-of-band maintenance. Batch-owned tables
    * (the caller assigns every tag) are unaffected.
    */
  def deleteKeys(spark: SparkSession, root: String, key: String,
                 keys: DataFrame, tag: Long, keep: Int = 2): Long = {
    val (removed, publish) =
      deleteKeysStaged(spark, root, key, keys, tag, keep, None)
    publish()
    removed
  }

  /** [[deleteKeys]] split at the publish — same staging and
    * shared-probe contract as [[applyBatchStaged]] (r22, guide §2.6;
    * here a subset would silently MISS deletes): the touched-bucket
    * rewrite (and its footer row accounting) runs now; the returned
    * thunk publishes the manifest + GCs. */
  private[graft] def deleteKeysStaged(spark: SparkSession, root: String,
                                      key: String, keys: DataFrame,
                                      tag: Long, keep: Int,
                                      precomputedTouched: Option[Set[Int]])
      : (Long, () => Unit) = {
    require(keys.columns.length == 1,
      s"keys must be a single-column frame, got ${keys.columns.mkString(",")}")
    val prev = manifestEntries(spark, root)
    require(prev.nonEmpty, s"no published bucketed table under $root")
    val n = prev.head.nBuckets
    val keyDf = keys.withColumnRenamed(keys.columns.head, key)
    requireKeyTypeStableEntries(spark, prev, root, key,
      keyDf.schema(key).dataType)
    // delete-set-sized distinct, bucket-count-bounded result — or the
    // caller's shared-probe set (same expression)
    val touched = precomputedTouched.getOrElse(
      touchedBuckets(Seq((keyDf, key, n))).head)
    rewriteBuckets(spark, root, prev, touched,
      _.join(keyDf, Seq(key), "left_anti"), key, n, tag, keep)
  }

  /** Shared touched-bucket rewrite: read the touched buckets, keep
    * `survivorsOf`'s rows and land them as a new version dir now; the
    * returned thunk publishes a manifest where untouched entries carry
    * their old paths verbatim, then GCs ([[applyBatchStaged]]'s staging
    * contract). A fully-emptied bucket writes no leaf dir and simply
    * DROPS OUT of the manifest (absent bucket = empty) — it is never
    * referenced as a missing path. Also returns the number of rows
    * removed; counts are touched-slice-sized, the table is never
    * scanned here.
    */
  private def rewriteBuckets(spark: SparkSession, root: String,
                             prev: Seq[Entry], touched: Set[Int],
                             survivorsOf: DataFrame => DataFrame,
                             key: String, n: Int, tag: Long,
                             keep: Int): (Long, () => Unit) = {
    requireTagAbove(spark, root, tag, "rewrite")
    val prevTouched = prev.filter(e => touched(e.bucket))
    val (removed, touchedEntries) =
      if (prevTouched.isEmpty) (0L, Seq.empty[Entry])
      else {
        val base = readPaths(spark, root, prevTouched.map(_.path))
        val dataDir = s"$root/data/v$tag"
        val present = writeBuckets(
          survivorsOf(base).repartition(bucketOf(col(key), n)), dataDir, key, n)
        // row counts from parquet FOOTERS, not Spark count() jobs
        // (r21): `removed` is before-minus-after over complete parquet
        // dirs, and every footer already records its exact row count —
        // two driver-side metadata reads replace two full scan jobs
        // per delete batch
        val after =
          if (present.isEmpty) 0L
          else FileStats.footerRowCount(spark,
            present.map(b => s"$dataDir/graft_bucket=$b"))
        val before = FileStats.footerRowCount(spark, prevTouched.map(_.path))
        // the rewrite has no version-column param of its own — carry
        // the table's standing record forward
        val vc = prev.map(_.verCol).find(_.nonEmpty).getOrElse("")
        val kt = prev.map(_.keyType).find(_.nonEmpty).getOrElse("")
        // one entry per bucket written, even for a FRAGMENTED bucket
        // (several prev entries)
        (before - after, present.map(bucketEntry(dataDir, _, n, tag, key, vc, kt)))
      }
    val entries = prev.filterNot(e => touched(e.bucket)) ++ touchedEntries
    (removed, () => { publishEntries(spark, entries, root, tag, keep)
                      gcData(spark, root) })
  }

  /** The one bucket write tail: add `graft_bucket`, key-sort within
    * each bucket file, overwrite `dataDir` partitioned by bucket and
    * stamp the files ([[stampBucketFiles]]). Returns the bucket ids
    * written, ascending; a write that produced no bucket dir leaves no
    * `dataDir` behind. `df` must already be distributed the way the
    * caller wants (the exchange, if any, is the caller's). Key-sorted
    * files let the manifest certify `sorted`, so the bucketed scan
    * also claims the sort order and co-bucketed joins elide their
    * SortExec too. */
  private def writeBuckets(df: DataFrame, dataDir: String, key: String,
                           n: Int): Seq[Int] = {
    df.withColumn("graft_bucket", bucketOf(col(key), n))
      .sortWithinPartitions(col("graft_bucket"), col(key))
      .write.mode("overwrite").partitionBy("graft_bucket").parquet(dataDir)
    stampBucketFiles(df.sparkSession, dataDir)
  }

  /** The manifest entry for bucket `b` of a [[writeBuckets]] output. */
  private def bucketEntry(dataDir: String, b: Int, n: Int, dataTag: Long,
                          key: String, verCol: String, keyType: String): Entry =
    Entry(b, s"$dataDir/graft_bucket=$b", n, dataTag, key, sorted = true,
      verCol = verCol, keyType = keyType)

  /** Bucket-file-name regex Spark's scan uses (`BucketingUtils`): the
    * digits after the LAST underscore are the bucket id. */
  private val StampedName = """.*_(\d+)(?:\..*)?$""".r

  /** Stamp every data file under `dataDir/graft_bucket=<i>/` with
    * Spark's bucket-file suffix `_%05d` so the table can later be
    * presented as a NATIVE Spark bucketed relation ([[bucketedRead]]):
    * `FileSourceScanExec` derives the bucket id from the file NAME, one
    * RDD partition per bucket, `outputPartitioning =
    * HashPartitioning(key, n)` — whose partition-id expression
    * `pmod(murmur3(key), n)` is EXACTLY [[bucketOf]], so the claim is
    * true by write construction. One rename per written file: a
    * metadata op on HDFS/local FS; on an object store one copy per
    * file, amortized by bucket-sized files (a committer that names
    * files directly would remove even that). Returns the bucket ids
    * whose dirs the write created, ascending; when there are none,
    * `dataDir` is deleted.
    */
  private def stampBucketFiles(spark: SparkSession, dataDir: String): Seq[Int] = {
    val dd = new Path(dataDir)
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dd)) return Seq.empty
    val written = fs.listStatus(dd)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("graft_bucket="))
      .map { d =>
        val b = d.getPath.getName.stripPrefix("graft_bucket=").toInt
        fs.listStatus(d.getPath).filter(_.isFile).foreach { f0 =>
          val name = f0.getPath.getName
          val already = name match {
            case StampedName(_) => true
            case _ => false
          }
          if (!name.startsWith("_") && !name.startsWith(".") && !already) {
            val stamped = name.indexOf('.') match {
              case -1 => name + f"_$b%05d"
              case i => name.substring(0, i) + f"_$b%05d" + name.substring(i)
            }
            // a silently failed rename would leave an unstamped file in
            // a published version, surfacing only later as a
            // bucketedRead fail-fast for EVERY reader — fail the write
            // here so the publish never lands (ADVICE r16)
            val dst = new Path(d.getPath, stamped)
            if (!fs.rename(f0.getPath, dst))
              throw new java.io.IOException(
                s"bucket-file stamp rename failed: ${f0.getPath} -> $dst — " +
                  "aborting the write before its manifest publishes")
          }
        }
        b
      }.toSeq.sorted
    if (written.isEmpty) fs.delete(dd, true)
    written
  }

  /** The table as a NATIVE Spark bucketed relation: a
    * `HadoopFsRelation` over the manifest's leaf dirs carrying
    * `BucketSpec(n, key)`, so the scan reports
    * `HashPartitioning(key, n)` and one RDD partition per bucket.
    * Catalyst then ELIDES the exchange wherever that distribution is
    * required — equi-joins and aggregations on `key` run shuffle-free
    * on the fact side(s). This is Spark's own bucketed-table machinery
    * fed by the manifest instead of a catalog entry; the partitioning
    * claim is sound because [[bucketOf]] (the write route) IS
    * `HashPartitioning.partitionIdExpression` for the same key and n.
    *
    * Fail-fasts on a table whose files predate bucket stamping (their
    * names carry no bucket id — rewrite or compact first): a silently
    * mis-bucketed scan would DROP matches, the one failure a join may
    * never have.
    *
    * SORT claim: every writer lands bucket files KEY-SORTED and the
    * manifest certifies it, so when all entries are sorted the scan
    * also declares `sortColumns = key` — under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (Spark's
    * opt-in, because honoring file order forbids file splitting) a
    * co-bucketed SMJ then needs neither Exchange NOR Sort. One legacy
    * unsorted entry anywhere drops the claim (a false order would
    * silently lose join matches).
    */
  def bucketedRead(spark: SparkSession, root: String, key: String): DataFrame = {
    val entries = manifestEntries(spark, root)
    require(entries.nonEmpty, s"no published bucketed table under $root")
    bucketedReadEntries(spark, root, entries, key)
  }

  private def bucketedReadEntries(spark: SparkSession, root: String,
                                  entries: Seq[Entry], key: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.types.StructType
    val n = entries.head.nBuckets
    val schema = tableSchema(spark, root)
    require(schema.fieldNames.contains(key),
      s"bucket key '$key' is not a column of the table: " +
        schema.fieldNames.mkString(","))
    val index = new InMemoryFileIndex(spark,
      entries.map(e => new Path(e.path)), Map.empty, Some(schema))
    // every file must carry a stamp AGREEING with its manifest bucket
    // dir — a name Spark cannot parse aborts the scan at runtime, and a
    // wrong one would silently co-locate the wrong rows
    index.inputFiles.foreach { f =>
      val p = new Path(f)
      val dirBucket = p.getParent.getName.stripPrefix("graft_bucket=").toInt
      p.getName match {
        case StampedName(id) => require(id.toInt == dirBucket,
          s"file $f is stamped bucket ${id.toInt} but lives in bucket " +
            s"$dirBucket — the table layout is corrupt")
        case _ => throw new IllegalArgumentException(
          s"file $f carries no bucket stamp — the table predates bucket " +
            "stamping; rewrite it (any upsert/compaction of its buckets " +
            "stamps them) before bucketedRead")
      }
    }
    // sort claim: only when EVERY entry was written key-sorted (a
    // single legacy unsorted file would make SMJ read wrong order and
    // silently drop matches). Spark itself additionally drops the
    // ordering claim for buckets holding >1 file (fragments), so the
    // flag only has to certify per-FILE sortedness.
    val sortCols = if (entries.forall(_.sorted)) Seq(key) else Nil
    val rel = HadoopFsRelation(index, new StructType(), schema,
      Some(BucketSpec(n, Seq(key), sortCols)), new ParquetFileFormat,
      Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** Co-bucketed SHUFFLE-FREE equi-join of two bucketed tables sharing
    * (key hash function, bucket count): read bucket i of each side as
    * RDD partition i ([[bucketedRead]]) and join within — ZERO
    * `Exchange` on either side (the sort-merge sorts stay, exchange-
    * free). At 100 TB × 2 this removes the entire 2-sided fact shuffle
    * — the single largest cost of the naive join — leaving IO + sort.
    * MISMATCHED bucket counts degrade gracefully instead of
    * fail-fasting (VERDICT r16 #2): the side with FEWER buckets (bucket
    * counts are sized to the data at table creation, so fewer buckets ≈
    * smaller table) is shuffled ONCE into the larger side's bucketing —
    * `repartition(nBig, key)` is the same murmur3 `HashPartitioning`
    * the bucketed scan reports, so EnsureRequirements sees both sides
    * co-partitioned and inserts NO further exchange. Exactly ONE side
    * carries an Exchange (the smaller one), the larger fact side stays
    * zero-shuffle — vs the caller-level fallback that shuffled BOTH.
    * (RebucketJoinSpec pins the one-exchange plan and which side moved;
    * the `j16_rebucket_join` gate hash-checks results.)
    */
  def bucketedJoin(spark: SparkSession, leftRoot: String, rightRoot: String,
                   key: String, joinType: String = "inner"): DataFrame = {
    val nL = bucketCount(spark, leftRoot)
    val nR = bucketCount(spark, rightRoot)
    coBucketedJoin(bucketedRead(spark, leftRoot, key), nL,
      bucketedRead(spark, rightRoot, key), nR, key, joinType)
  }

  /** Join two key-bucketed sides with `nL`/`nR` buckets: the side with
    * fewer buckets (if any) is repartitioned once into the other's
    * bucketing; equal counts join as they are. */
  private def coBucketedJoin(l: DataFrame, nL: Int, r: DataFrame, nR: Int,
                             key: String, joinType: String): DataFrame = {
    val n = nL max nR
    def fit(df: DataFrame, k: Int) = if (k < n) df.repartition(n, col(key)) else df
    fit(l, nL).join(fit(r, nR), Seq(key), joinType)
  }

  /** Delete `data/v*` version dirs referenced by NO retained manifest.
    * Runs after publish, so the retained manifest set (Snapshot keeps
    * `keep`) is exactly what in-flight readers can still resolve; a
    * version dir whose every bucket has been superseded in all of them
    * is unreachable. Granularity is the version dir: a partially-
    * superseded version survives until its last referenced bucket
    * rotates out, which bounds garbage at O(keep · table) like the
    * plain-Snapshot retention does.
    */
  private def gcData(spark: SparkSession, root: String): Unit = {
    val f = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val dataRoot = new Path(s"$root/data")
    if (!f.exists(dataRoot)) return
    // every path referenced by any retained snapshot's manifest
    val snapDirs = f.listStatus(new Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .filter(s => s.getPath.getName.drop(1).toLongOption.nonEmpty)
      .map(_.getPath.toString)
    if (snapDirs.isEmpty) return
    // per-dir reads, unreadable dirs skipped: a crashed publish can leave
    // a partial manifest dir (never pointer-visible to readers); its
    // references are only the data its own replay will rewrite, so
    // skipping it is safe where failing the whole batch would not be.
    // parseManifest (r21): the retained dirs are the ones just
    // published/memoized, so the per-publish GC sweep stops paying one
    // collect job per retained manifest.
    val referenced = snapDirs.flatMap { dir =>
      try parseManifest(spark, dir).map(_.path)
      catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
    }.toSet
    val refVersionDirs = referenced.map(p => new Path(p).getParent.toString)
    f.listStatus(dataRoot)
      .filter(_.isDirectory)
      .filterNot(d => refVersionDirs.exists(r =>
        new Path(r).getName == d.getPath.getName))
      .foreach(d => f.delete(d.getPath, true))
  }
}

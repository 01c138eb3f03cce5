package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SECONDARY INDEX on a [[BucketedUpsert]] table: per-BUCKET Bloom
  * filters over a non-key column, maintained incrementally through the
  * same bucket-granular skeleton as [[IncrAgg]]/[[IncrNdv]].
  *
  * The table's own layout already answers key lookups for free (the
  * key hashes to its bucket), but a lookup by any OTHER attribute —
  * find the doc by URL in a table keyed by doc_id, the customer by
  * name in a table keyed by id — must scan all n buckets. The index
  * stores `(bucket, word, bits)` Bloom rows per bucket
  * ([[BloomIndex]]'s math, bucket-keyed instead of file-keyed), so an
  * equality probe opens only the buckets whose filters admit a value:
  * O(1) buckets for a selective attribute instead of O(n).
  *
  * Maintenance is the point: an upsert batch rewrites k buckets, and
  * [[refresh]] recomputes exactly those buckets' filter rows from the
  * change feed — a full recompute of a REWRITTEN bucket's filter is
  * exact deletion support, which plain Bloom filters famously lack
  * (a renamed attribute stops matching its bucket after one refresh;
  * the spec pins that). Index states publish via [[Snapshot]] at the
  * base table's tag, and [[lookup]] FAIL-FASTS on a stale index — a
  * Bloom that has not seen the latest batch could false-negate, and
  * this index is only allowed false POSITIVES (removed by the
  * re-applied exact predicate).
  */
object SecondaryIndex {

  /** Bring the index at `ixRoot` up to the table's published tag,
    * recomputing only rewritten buckets. Returns buckets recomputed. */
  def refresh(spark: SparkSession, tableRoot: String, ixRoot: String,
              key: String, column: String, mLog2: Int = 16, k: Int = 3,
              keep: Int = 2): Int = {
    // params are a property of the STORED index: carried-over bucket
    // rows keep their build-time (m_log2, k), so a refresh with
    // different params would mix incompatible filters and the probe
    // would silently false-negate — the one failure this index forbids
    Snapshot.currentTag(spark, ixRoot).foreach { _ =>
      val stored = Snapshot.readLocalized(spark, ixRoot)
        .select("m_log2", "k").limit(1).collect()
      stored.headOption.foreach(r => require(
        r.getInt(0) == mLog2 && r.getInt(1) == k,
        s"index at $ixRoot was built with m_log2=${r.getInt(0)}, k=${r.getInt(1)} " +
          s"— refresh got ($mLog2, $k); params are fixed at index creation"))
    }
    IncrAgg.maintain(spark, tableRoot, ixRoot, keep) { (changed, nBuckets) =>
      changed.filter(col(column).isNotNull)
        .select(BucketedUpsert.bucketOf(col(key), nBuckets).as("graft_bucket"),
          explode(BloomIndex.posArray(col(column).cast("string"), mLog2, k))
            .as("pos"))
        // no distinct: bit_or is idempotent, and the groupBy's partial
        // aggregation collapses duplicates map-side — a pre-distinct
        // would only add a second full shuffle of the exploded pairs
        .groupBy(col("graft_bucket"), (col("pos") / 64).cast("int").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
          .as("bits"))
        .withColumn("m_log2", lit(mLog2)).withColumn("k", lit(k))
    }
  }

  /** The buckets that may contain ANY of `values`. */
  def lookupBuckets(spark: SparkSession, ixRoot: String,
                    values: Seq[String]): Seq[Int] = {
    require(values.nonEmpty, "at least one probe value")
    val ix = Snapshot.readLocalized(spark, ixRoot)
    // defense in depth behind refresh's param guard: mixed params in
    // one manifest could false-negate, so verify uniformity (the
    // distinct is manifest-sized — metadata)
    val meta = FileStats.localDistinct(ix.select("m_log2", "k")).collect()
    if (meta.isEmpty) return Seq.empty
    require(meta.length == 1,
      s"index at $ixRoot mixes filter params ${meta.mkString(",")} — rebuild it")
    val (mLog2, k) = (meta.head.getInt(0), meta.head.getInt(1))
    val words = ix
      .filter(col("w").isin(BloomIndex.wantedWords(values, mLog2, k): _*))
      .select("graft_bucket", "w", "bits").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // the bit test itself is BloomIndex's — one probe core, two indexes
    BloomIndex.admittedEntities(words, values, mLog2, k)
  }

  /** Equality/IN lookup by the indexed column: open only admitted
    * buckets, re-apply the exact predicate. Fail-fasts if the index
    * has not been refreshed to the table's current tag.
    *
    * `resolve` (default: none) is applied between the bucket scan and
    * the value filter — [[Routing]] passes the fragment merge-on-read
    * window here. The ORDER is load-bearing: filtering first could
    * drop a key's latest (non-matching) version and resurrect a
    * superseded row that matches the probe. Admission stays exact on
    * fragmented tables because the index is refreshed at the table's
    * tag and every fragment of a key lives in the key's own bucket. */
  def lookup(spark: SparkSession, tableRoot: String, ixRoot: String,
             column: String, values: Seq[String],
             resolve: DataFrame => DataFrame = identity): DataFrame = {
    val allEntries = BucketedUpsert.manifestEntries(spark, tableRoot)
    // empty table first: it can hold no value for ANY index state, so
    // the parity gate must not fire on an unbuilt index over nothing
    if (allEntries.isEmpty) return BucketedUpsert.emptyTable(spark, tableRoot)
    val tableTag = Snapshot.currentTag(spark, tableRoot)
    val ixTag = Snapshot.currentTag(spark, ixRoot)
    def show(t: Option[Long]) = t.map("v" + _).getOrElse("unbuilt")
    require(ixTag == tableTag,
      s"secondary index at $ixRoot is at ${show(ixTag)} but the table is " +
        s"at ${show(tableTag)} — refresh before lookup (a stale Bloom " +
        "could false-negate)")
    lookupEntries(spark, tableRoot, allEntries, ixRoot, column, values,
      resolve)
  }

  /** [[lookup]] over an ALREADY-FETCHED manifest with the tag-parity
    * gate already passed — [[Routing.readWhere]]'s path (its
    * chooseBucketedRoute ran both) must not pay a second manifest
    * driver job and a third pointer read per query (review r19). */
  private[lake] def lookupEntries(spark: SparkSession, tableRoot: String,
                                  allEntries: Seq[BucketedUpsert.Entry],
                                  ixRoot: String, column: String,
                                  values: Seq[String],
                                  resolve: DataFrame => DataFrame): DataFrame = {
    // an empty table (zero-row first batch, or emptied completely) can
    // hold no value — correct for any index state. The result still
    // carries the table's schema (the recorded one outlives every row),
    // so callers selecting the indexed columns get an empty typed frame,
    // not an AnalysisException. Only a table that never held a row is
    // schema-less.
    if (allEntries.isEmpty) return BucketedUpsert.emptyTable(spark, tableRoot)
    val admitted = lookupBuckets(spark, ixRoot, values).toSet
    val entries = allEntries.filter(e => admitted(e.bucket))
    val base =
      if (entries.isEmpty) BucketedUpsert.emptyTable(spark, tableRoot)
      // through the table's schema: a lookup on a DROPPED column must
      // fail loudly, not resurrect hidden values from the raw files
      else BucketedUpsert.readPaths(spark, tableRoot, entries.map(_.path))
    resolve(base).filter(col(column).cast("string").isin(values: _*))
  }
}

package graft.ext

import graft.lake.{BucketedUpsert, FileStats, Snapshot}
import graft.operators.SeqIds
import graft.plans.GraftFunctions
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF (inverted-file) approximate nearest-neighbor search — the real
  * quantizer behind the scale path that `ann_ivf_bucketed` demonstrates
  * with the `label` stand-in cell.
  *
  * Coarse cells come from k deterministic seed centroids (the k lowest
  * vec_ids), optionally refined with Lloyd iterations. Every stage is
  * scale-safe: centroids are driver/broadcast-sized (k ≪ corpus),
  * assignment is a zero-shuffle per-row argmax, and the search joins each
  * query only against its nProbe cells.
  */
object Ivf {

  /** k seed centroids: (cell, centroid vector) — k rows, dim-sized id path. */
  def seedCentroids(embeddings: DataFrame, k: Int): DataFrame =
    SeqIds.withSeqIdDim(embeddings.orderBy("vec_id").limit(k), Seq(col("vec_id")), "cell")
      .withColumn("cell", col("cell").cast("int"))
      .select(col("cell"), col("embedding").as("centroid"))

  /** Deterministic uniform-SAMPLE quantizer, for [[retrainIndex]]: k
    * seeds drawn by md5 order of vec_id. Unlike the first-k-ids build
    * rule (which always seeds from the oldest vectors), a uniform
    * sample follows the CURRENT corpus distribution — a drifted mass
    * holding 75% of the vectors gets ~75% of the seeds, which is what
    * lets a retrain actually rebalance hot cells. Still fully
    * deterministic and oracle-replicable
    * (`ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT k`), and plans as a
    * TakeOrderedAndProject top-k — never a full sort of the corpus.
    * Cells are numbered by vec_id order of the sampled seeds. */
  def sampleCentroids(embeddings: DataFrame, k: Int): DataFrame =
    SeqIds.withSeqIdDim(
      embeddings.orderBy(graft.functions.Portable.md5Key(col("vec_id"))).limit(k),
      Seq(col("vec_id")), "cell")
      .withColumn("cell", col("cell").cast("int"))
      .select(col("cell"), col("embedding").as("centroid"))

  /** Bytes of centroid floats above which [[assign]] ships the matrix
    * as a broadcast variable instead of a foldable Literal. A Literal
    * is re-serialized into every task binary at every job submission;
    * a broadcast ships once per executor. 128 KB keeps small quantizers
    * on the simpler literal plan (trivially cacheable, oracle-visible)
    * while k·dim beyond a few thousand cells rides the broadcast.
    */
  val CentroidLiteralMaxBytes: Long = 128L * 1024

  /** Assign each vector to its nearest centroid by cosine (ties by
    * lowest cell id). Adds a `cell` column.
    *
    * Broadcast lifecycle: above [[CentroidLiteralMaxBytes]] the
    * returned frame carries a Spark broadcast whose executor copies
    * live until ContextCleaner reclaims the frame — fine for a
    * one-shot assignment, but iterative callers would accumulate one
    * multi-MB broadcast per call. [[lloyd]] manages this itself via
    * [[assignWithHandle]], destroying each iteration's broadcast as
    * soon as the next iteration has consumed its output.
    *
    * Centroids are broadcast-sized by construction, so they are pulled
    * to the driver once and packed into ONE matrix consumed by the
    * native `graft_nearest_cell` argmax expression — no crossJoin, no
    * window, no exchange anywhere in the plan, and the plan/codegen
    * size is O(1) in k (the former one-literal-column-per-centroid form
    * compiled O(k) expression trees and cliffed at a few hundred
    * cells). Below [[CentroidLiteralMaxBytes]] the matrix travels as a
    * foldable Literal; above it, as a Spark broadcast variable
    * (NearestCellBcastF) so the per-job task binary stays O(1) in k
    * too. The score arithmetic (dot/(norm·norm), double accumulation,
    * NaN-greatest, tie to lowest cell) is bit-identical across both
    * tiers and to the former greatest()-over-structs form, so the
    * DuckDB oracle replication is unchanged.
    */
  def assign(spark: SparkSession, embeddings: DataFrame,
             centroids: DataFrame): DataFrame =
    assignWithHandle(spark, embeddings, centroids)._1

  /** [[assign]] plus the broadcast handle (None on the literal tier)
    * so iterating callers can destroy each round's broadcast once its
    * consumer has executed.
    */
  private[graft] def assignWithHandle(spark: SparkSession, embeddings: DataFrame,
      centroids: DataFrame): (DataFrame, Option[Broadcast[graft.plans.NearestCellModel]]) = {
    GraftFunctions.register(spark)
    val cents: Seq[(Int, Seq[Float])] = centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toIndexedSeq)).toSeq.sortBy(_._1)
    require(cents.nonEmpty, "assign requires at least one centroid")
    val floatBytes = cents.iterator.map(_._2.length.toLong * 4).sum
    if (floatBytes <= CentroidLiteralMaxBytes)
      (embeddings.withColumn("cell",
        call_function("graft_nearest_cell", col("embedding"),
          typedlit(cents.map(_._2)), typedlit(cents.map(_._1)))), None)
    else {
      val model = new graft.plans.NearestCellModel(
        cents.map(_._2.toArray).toArray, cents.map(_._1).toArray)
      val bc = spark.sparkContext.broadcast(model)
      (embeddings.withColumn("cell",
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.NearestCellBcastF(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")), bc))),
        Some(bc))
    }
  }

  /** Lloyd refinement: recompute each cell's centroid as the element-wise
    * mean of its members, reassign, repeat. Each iteration is one
    * zero-shuffle assignment pass plus one aggregation
    * (posexplode → partial-agg mean per (cell, dim) → rebuild), both
    * linear in the corpus; centroids stay driver-sized throughout.
    * Cells that lose all members drop out (standard Lloyd behavior).
    *
    * The corpus is pinned ONCE for the whole call: every iteration's
    * assignment+mean pass (each iteration's centroid collect is an
    * action) reads the cache instead of re-executing the upstream
    * scan — at 100 TB, `iters` full fact scans where one suffices
    * (IvfExecCountSpec pins single-execution). The returned frame is
    * a LOCAL k-row relation (k is broadcast-bounded by construction),
    * which decouples it from the pinned corpus and the last
    * iteration's broadcast, so both are released before returning —
    * nothing leaks past the call.
    */
  def lloyd(spark: SparkSession, embeddings: DataFrame, init: DataFrame,
            iters: Int): DataFrame = {
    if (iters <= 0) return init
    // pin only if the caller hasn't — unpersisting a caller-owned cache
    // on return would silently drop it for the caller's later actions
    val ownPin = embeddings.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPin) embeddings.persist()
    // an empty corpus has a well-defined answer — the seeds, unchanged
    // (iteration 1's mean over nothing would yield an empty centroid
    // set and iteration 2's assign would throw from deep in the loop)
    if (embeddings.isEmpty) {
      if (ownPin) embeddings.unpersist(blocking = false)
      return spark.createDataFrame(
        java.util.Arrays.asList(init.collect(): _*), init.schema)
    }
    try {
      var cents = init
      var prevBc: Option[Broadcast[graft.plans.NearestCellModel]] = None
      for (_ <- 0 until iters) {
        val (assigned, bc) = assignWithHandle(spark, embeddings, cents)
        // assignWithHandle just collected `cents` — the only plan that
        // could still reference the previous iteration's broadcast —
        // so that broadcast is now dead and must not wait for GC
        prevBc.foreach(_.destroy())
        prevBc = bc
        cents = assigned
          // a row whose embedding carries a NULL element assigns to
          // cell NULL (documented in assign); it must not form a bogus
          // null-cell centroid group — the next iteration's centroid
          // collect would NPE on the null key
          .filter(col("cell").isNotNull)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos").agg(avg(col("v")).as("m"))
          .groupBy("cell")
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .getField("m").cast("array<float>").as("centroid"))
      }
      val local = spark.createDataFrame(
        java.util.Arrays.asList(cents.collect(): _*), cents.schema)
      prevBc.foreach(_.destroy())
      local
    } finally if (ownPin) embeddings.unpersist(blocking = false)
  }

  /** Int8 residual codes for every corpus vector — the storage side of
    * the IVF-PQ-lite path ([[searchPq]]). res = embedding − centroid(cell)
    * element-wise in double (float→double widening is exact, one double
    * subtraction per element), then the same symmetric int8 quantization
    * as `v_quantize_int8` applied to the RESIDUAL: per-vector scale
    * max|res|/127, codes floor(res/scale + 0.5) clamped to ±127.
    *
    * Quantizing residuals instead of raw vectors is what makes int8
    * usable for search: the coarse term dot(q, centroid) is recovered
    * EXACTLY at query time (centroids are full precision), so only the
    * within-cell residual — much smaller in magnitude — pays quantization
    * error. The returned frame is slim (vec_id, cell, rscale, rq8): at
    * 100 TB this is the ~4× smaller hot copy that search scans, while
    * the float32 originals are touched only for the shortlist re-rank.
    * Plan: broadcast centroid join + scan-side map — no shuffle.
    */
  def residualCodes(corpusWithCells: DataFrame, centroids: DataFrame): DataFrame =
    corpusWithCells.join(broadcast(centroids), Seq("cell"))
      .withColumn("res", expr(
        "zip_with(embedding, centroid, (x, c) -> cast(x as double) - cast(c as double))"))
      .withColumn("rmx", expr("array_max(transform(res, x -> abs(x)))"))
      .select(col("vec_id"), col("cell"),
        (col("rmx") / 127.0).as("rscale"),
        // the vector's EXACT norm, stored with the codes: the shortlist
        // must rank by approximate COSINE (approx-dot / vnorm) — a raw
        // dot shortlist lets high-norm vectors crowd the true cosine
        // top-k out before the exact re-rank ever sees it
        expr("""sqrt(aggregate(zip_with(embedding, embedding,
                (x, y) -> cast(x as double) * cast(y as double)),
                cast(0.0 as double), (a, v) -> a + v))""").as("vnorm"),
        expr("""CASE WHEN rmx = 0.0d THEN transform(res, x -> 0)
                ELSE transform(res, x -> cast(greatest(-127.0d, least(127.0d,
                  floor(x / (rmx / 127.0d) + 0.5d))) as int)) END""").as("rq8"))

  /** IVF-PQ-lite search: probe nProbe cells, score candidates with int8
    * dot products over [[residualCodes]], exactly re-rank a bounded
    * shortlist — the standard two-stage ANN shape for 100 TB.
    *
    * Scoring: dot(q, x) = dot(q, c) + dot(q, res_x) is approximated as
    * qc_dot + qscale·rscale·intdot(qq8, rq8), where the query is itself
    * int8-quantized once (qq8/qscale) and qc_dot = dot(q, centroid) is
    * computed ONCE per (query, probed cell) — 2 probes per query — not
    * per candidate. intdot sums 64 products each ≤ 127², an integer
    * below 2^53, so the double accumulation is EXACT in any order and
    * the DuckDB oracle matches bitwise; the shortlist is therefore
    * deterministic (ties by vec_id), and the exact re-rank on top makes
    * the final top-k hash-stable.
    *
    * Plan shape vs [[search]]: same zero-shuffle probe (queries ×
    * centroids broadcast) and same single window shuffle per qid — but
    * the rows entering that shuffle are slim (qid, vec_id, approx)
    * instead of carrying two float vectors. The shortlist
    * (queries × shortlistK rows) then fetches true embeddings via
    * broadcast joins against the corpus scan — map-side, no new
    * fact-sized shuffle — and the re-rank window runs over
    * dimension-sized data.
    */
  def searchPq(spark: SparkSession, coded: DataFrame, corpus: DataFrame,
               queries: DataFrame, centroids: DataFrame,
               topK: Int, nProbe: Int, shortlistK: Int): DataFrame = {
    GraftFunctions.register(spark)
    val q = queries
      .withColumn("qmx", expr("array_max(transform(qemb, x -> abs(cast(x as double))))"))
      .withColumn("qscale", col("qmx") / 127.0)
      .withColumn("qq8", expr("""CASE WHEN qmx = 0.0d THEN transform(qemb, x -> 0)
          ELSE transform(qemb, x -> cast(greatest(-127.0d, least(127.0d,
            floor(cast(x as double) / (qmx / 127.0d) + 0.5d))) as int)) END"""))
      .select("qid", "qemb", "qscale", "qq8")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cscore", expr("graft_dot(qemb, centroid)")
        / (expr("graft_norm(qemb)") * expr("graft_norm(centroid)")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cscore").desc, col("cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qscale"), col("qq8"), col("cell"),
        expr("graft_dot(qemb, centroid)").as("qc_dot"))
    val shortlist = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("intdot", expr(
        "aggregate(zip_with(qq8, rq8, (x, y) -> cast(x as double) * y), 0.0d, (a, v) -> a + v)"))
      // approximate COSINE, not raw dot: dividing by the stored exact
      // vnorm aligns the shortlist metric with the coarse probe and the
      // final re-rank (both cosine) — without it high-norm vectors
      // systematically displace better-cosine candidates
      .withColumn("approx", when(col("vnorm") === 0.0, lit(0.0)).otherwise(
        (col("qc_dot") + col("qscale") * col("rscale") * col("intdot"))
          / col("vnorm")))
      .withColumn("arank", row_number().over(
        Window.partitionBy("qid").orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("arank") <= shortlistK)
      .select("qid", "vec_id")
    corpus.select("vec_id", "embedding").join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries.select("qid", "qemb")), Seq("qid"))
      .withColumn("cos", expr("graft_dot(qemb, embedding)")
        / (expr("graft_norm(qemb)") * expr("graft_norm(embedding)")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Top-k cosine neighbors per query, searching only each query's
    * nProbe nearest cells.
    *
    * CONTRACT (also [[searchPq]]/[[searchIndex]]): queries are assumed
    * drawn from the corpus id space, and a candidate whose vec_id
    * equals the query's qid is excluded as the trivial self-match. For
    * an EXTERNAL query set, give the queries ids outside the corpus
    * range — an accidental collision would silently drop a legitimate
    * neighbor.
    */
  def search(spark: SparkSession, corpusWithCells: DataFrame, queries: DataFrame,
             centroids: DataFrame, topK: Int, nProbe: Int): DataFrame = {
    GraftFunctions.register(spark)
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("score", cosine("qemb", "centroid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(probeOrder: _*)))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qemb"), col("cell"))
    // probes is query-batch-sized × nProbe — ALWAYS the small side, but
    // Catalyst's estimate for crossJoin+window output can exceed the
    // auto-broadcast threshold and silently plan a sort-merge join that
    // shuffles the whole corpus on cell; the hint pins the designed
    // map-side probe (searchPq already carried it)
    corpusWithCells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine("qemb", "embedding"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(hitOrder: _*)))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** The cosine of two `array<float>` columns (graft functions
    * registered). */
  private def cosine(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)") / (expr(s"graft_norm($a)") * expr(s"graft_norm($b)"))

  /** A query's probe order over the cells, and its hit order. */
  private val probeOrder = Seq(col("score").desc, col("cell"))
  private val hitOrder = Seq(col("cos").desc, col("vec_id"))

  // ------------------------------------------------------------------
  // Persisted index: build once, search many, append incrementally.
  //
  // Composes the lake pieces the repo already has: centroids publish
  // as a Snapshot table (k rows, atomic swap), the assigned corpus
  // lands as a BucketedUpsert table keyed by vec_id — so re-ingesting
  // a key REPLACES its vector (upsert semantics), and an append batch
  // assigns ONLY its own vectors against the FIXED stored centroids
  // then rewrites only the buckets it touches. That is the production
  // daily-ingest shape at 100 TB: index build is one corpus pass, a
  // day's append costs O(batch + touched buckets), search reads the
  // stored assignment instead of recomputing it per query batch. While
  // the corpus table fits the localize bounds and a query batch would
  // score few corpus rows, a search runs on the driver: the probes come
  // from the localized centroids and one scan job reads only the probed
  // cells' rows (see searchIndex).
  //
  // A re-train (new centroids) is a NEW index root by design:
  // centroids define what a cell id means, so mixing quantizer
  // generations inside one corpus table would silently corrupt probe
  // results. The centroid snapshot's tag advances with every append
  // batch purely as a freshness marker (same generation, re-published
  // unchanged — the tag ledger then also guards replayed batches).
  // ------------------------------------------------------------------

  private def centRoot(root: String) = s"$root/centroids"
  private def corpusRoot(root: String) = s"$root/corpus"
  private def genPtr(root: String) = s"$root/genptr"
  private def cellStatsRoot(corpusPath: String) = s"$corpusPath-cellstats"

  /** The index's LIVE (centroids, corpus) roots: through the
    * generation pointer once a [[retrainIndex]] has published one,
    * else the original layout. The pointer is a one-row Snapshot
    * table, so the swap inherits Snapshot's atomic pointer protocol —
    * a reader mid-flight keeps resolving the old generation's tables
    * (retained by their own snapshots) until it re-resolves. */
  private[graft] def livePaths(spark: SparkSession, root: String): (String, String) =
    Snapshot.resolve(spark, genPtr(root)) match {
      case None => (centRoot(root), corpusRoot(root))
      case Some(_) =>
        val r = Snapshot.readLocalized(spark, genPtr(root)).select("cent", "corp").head()
        (r.getString(0), r.getString(1))
    }

  /** Build and persist the index from scratch: seed k centroids from
    * `embeddings`, assign every vector, land both tables. */
  def buildIndex(spark: SparkSession, root: String, embeddings: DataFrame,
                 k: Int, nBuckets: Int = 16, tag: Long = 1L): Unit = {
    val centroids = seedCentroids(embeddings, k)
    Snapshot.publish(centroids.coalesce(1), centRoot(root), tag)
    val assigned = assign(spark, embeddings, Snapshot.readLocalized(spark, centRoot(root)))
    BucketedUpsert.applyBatch(
      assigned.withColumn("graft_ver", lit(tag)),
      corpusRoot(root), "vec_id", "graft_ver", nBuckets, tag)
  }

  /** Fold an append batch into the index: assign the batch against the
    * stored centroids (no re-train), upsert by vec_id. Only the
    * buckets the batch hashes into are rewritten. `nBucketsIfEmpty`
    * applies only when the corpus was emptied of every vector by
    * takedowns (a fully-emptied bucketed table forgets its bucket
    * count) — same fallback contract as [[Bm25Index.append]]. */
  def appendToIndex(spark: SparkSession, root: String, batch: DataFrame,
                    tag: Long, nBucketsIfEmpty: Int = 16): Unit =
    appendToIndexHooked(spark, root, batch, tag, () => (), nBucketsIfEmpty)

  /** [[appendToIndex]] with a test seam fired before the generation
    * re-check (see [[retrainIndexHooked]]). */
  private[graft] def appendToIndexHooked(spark: SparkSession, root: String,
                                         batch: DataFrame, tag: Long,
                                         beforeCheck: () => Unit,
                                         nBucketsIfEmpty: Int = 16): Unit = {
    val (cent, corp) = livePaths(spark, root)
    val centroids = Snapshot.readLocalized(spark, cent)
    val assigned = assign(spark, batch, centroids)
    BucketedUpsert.applyBatch(
      assigned.withColumn("graft_ver", lit(tag)),
      corp, "vec_id", "graft_ver",
      BucketedUpsert.bucketCountOption(spark, corp).getOrElse(nBucketsIfEmpty),
      tag)
    Snapshot.publish(centroids.coalesce(1), cent, tag)
    beforeCheck()
    // fail-fast on a retrain that swapped generations mid-append: this
    // batch landed in a corpus that is no longer live and would be
    // silently absent from every future search
    val (_, corpAfter) = livePaths(spark, root)
    if (corpAfter != corp) {
      // recovery must use a FRESH tag: the new generation's ledger
      // starts at the retrain tag (> this batch's tag), so replaying
      // under the same tag would be rejected by requireTagAbove
      val newGenTag = Snapshot.currentTag(spark, corpAfter)
      throw new IllegalStateException(
        s"concurrent retrain detected: appended batch (tag $tag) landed in " +
          s"retired generation $corp while $corpAfter went live — re-apply " +
          s"the batch to the new generation under a fresh tag above its " +
          s"current one (${newGenTag.getOrElse("unknown")})")
    }
  }

  /** STREAMING index maintenance: fold a checkpointed stream of
    * (vec_id, embedding, label) batches into the persisted index. The
    * first batch BUILDS (seeds the quantizer from itself — the same
    * base-slice-seeds rule the batch lifecycle uses); every later
    * batch append-assigns against the stored centroids and rewrites
    * only its touched buckets. Batch ids and snapshot tags share the
    * ledger of [[graft.streaming.EventStreams]]'s upsert sinks, so a
    * crash-replayed batch is skipped idempotently and a rewound
    * checkpoint fails fast — the embedding pipeline gets exactly-once
    * index state for free. This is the production shape for continuous
    * embedding ingest: the quantizer trains once, the corpus grows in
    * touched-bucket increments, and a search between any two batches
    * reads a complete published state.
    */
  def streamingIngest(spark: SparkSession, updates: DataFrame, root: String,
                      checkpointDir: String, k: Int, nBuckets: Int): Unit = {
    // each micro-batch executes in a CLONED session state; the native
    // argmax must be registered on the batch's own session (the
    // pre-start registration seeds the clone, the per-batch one guards
    // restarts that clone from a fresh state)
    GraftFunctions.register(spark)
    // The ledger anchors on the LIVE corpus (resolved per batch), not
    // the fixed original layout: after a retrainIndex swaps the
    // generation pointer, tags advance in the NEW generation's corpus
    // while the retired one is frozen — a ledger reading the retired
    // table would let a crash-replay re-apply its batch (requireTagAbove
    // then wedges the stream forever) and would never see a rewind.
    graft.streaming.EventStreams.runStreamShell(updates, checkpointDir) {
      (batch, batchId) =>
        val bs = batch.sparkSession
        GraftFunctions.register(bs)
        val (liveCent, liveCorp) = livePaths(bs, root)
        val published = Snapshot.currentTag(bs, liveCorp)
        published.filter(_ > batchId).foreach(cur =>
          throw new IllegalStateException(
            s"batch $batchId arrived below the published snapshot v$cur of " +
              s"$liveCorp — the checkpoint was rewound/replaced, or a " +
              "retrain ran mid-stream with a tag above the stream's batch " +
              "ids (coordinate retrains with the checkpoint, or retire the " +
              "pipeline first)"))
        if (!published.contains(batchId)) {
          if (Snapshot.resolve(bs, liveCorp).isEmpty && batch.isEmpty) {
            // a zero-row leading file: seeding the quantizer from nothing
            // would publish an EMPTY centroid table and wedge every later
            // batch (assign requires centroids; the tag guard would forbid
            // re-seeding). Skip entirely — the first NON-empty batch
            // builds; a replay of this batch re-skips identically.
            ()
          } else if (Snapshot.resolve(bs, liveCorp).isEmpty) {
            // replay-safe build (not buildIndex verbatim): a crash between
            // the centroid publish and the corpus publish re-delivers the
            // batch, and Snapshot.publish forbids same-tag re-publish — so
            // the centroid step is guarded and the replay lands only the
            // missing corpus half, assigned against the STORED quantizer.
            if (!Snapshot.currentTag(bs, liveCent).exists(_ >= batchId))
              Snapshot.publish(seedCentroids(batch, k).coalesce(1),
                liveCent, batchId)
            val assigned = assign(bs, batch, Snapshot.readLocalized(bs, liveCent))
            BucketedUpsert.applyBatch(
              assigned.withColumn("graft_ver", lit(batchId)),
              liveCorp, "vec_id", "graft_ver", nBuckets, batchId)
          } else
            // append publishes corpus FIRST, so a crash before the centroid
            // freshness re-publish leaves only a stale centroid tag (same
            // generation, content unchanged) — healed by the next batch
            appendToIndex(bs, root, batch, tag = batchId,
              nBucketsIfEmpty = nBuckets)
        }
    }
  }

  /** Remove vectors from the index by id (takedown / re-embed): a
    * touched-bucket key delete on the corpus table; the stored
    * quantizer is untouched (standard IVF — cells only thin, they
    * never move). Cost is O(touched buckets + id set), never
    * O(corpus). Returns the number of vectors removed. Ownership
    * contract as [[graft.lake.BucketedUpsert.deleteKeys]]: not for
    * indexes a live [[streamingIngest]] owns — the delete tag would
    * collide with the stream's batch-id ledger. */
  def deleteFromIndex(spark: SparkSession, root: String, vecIds: DataFrame,
                      tag: Long): Long =
    BucketedUpsert.deleteKeys(spark, livePaths(spark, root)._2, "vec_id",
      vecIds, tag)

  /** Search the persisted index as of its current published state:
    * [[search]] over the live corpus and centroids, columns
    * (qid, rank, vec_id, cos).
    *
    * When the centroids are localized, the corpus table fits the
    * localize bounds ([[graft.lake.FileStats.localizableRows]]), the
    * query plan bounds its row count (a local relation or a limit) and
    * the (query, corpus row) pairs to score, estimated from the average
    * cell, stay under [[DriverMaxPairs]], the search is EAGER: it
    * collects the queries (no job for a local relation), picks each
    * query's probes on the driver from the localized centroids, runs
    * one scan job here for the corpus rows in the probed cells, ranks
    * them on the driver and returns a local relation ordered by
    * (qid, rank). Otherwise it returns the distributed plan, which
    * runs at the caller's action. */
  def searchIndex(spark: SparkSession, root: String, queries: DataFrame,
                  topK: Int, nProbe: Int): DataFrame =
    searchIndexBounded(spark, root, queries, topK, nProbe, FileStats.LocalizeMaxBytes)

  /** [[searchIndex]] with the driver arm's byte bound; 0 forces the
    * distributed plan. */
  private[graft] def searchIndexBounded(spark: SparkSession, root: String,
                                        queries: DataFrame, topK: Int, nProbe: Int,
                                        localMaxBytes: Long): DataFrame = {
    val (cent, corp) = livePaths(spark, root)
    val corpus = BucketedUpsert.read(spark, corp)
    val centroids = Snapshot.readLocalized(spark, cent)
    searchOnDriver(spark, corp, corpus, queries, centroids, topK, nProbe, localMaxBytes)
      .getOrElse(search(spark, corpus, queries, centroids, topK, nProbe))
  }

  /** The most (query, corpus row) pairs [[searchIndex]]'s driver arm
    * scores, by its estimate. Timed on 4 vCPU with 32-dim vectors in 16
    * cells, the driver arm took 0.5 of the distributed plan's time at
    * 1,250 pairs, 0.9 at 30,000–40,000, and 1.3 at 60,000–80,000. */
  private val DriverMaxPairs = 1L << 15

  /** The driver arm of [[searchIndex]], or None when its inputs do not
    * fit it: [[search]]'s probe and hit windows over driver-side rows,
    * scored with the same [[cosine]] and ranked in the same order by
    * [[DriverRank]]. */
  private def searchOnDriver(spark: SparkSession, corp: String, corpus: DataFrame,
                             queries: DataFrame, centroids: DataFrame, topK: Int,
                             nProbe: Int, localMaxBytes: Long): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val cents = FileStats.localRows(centroids.select("cell", "centroid"),
      FileStats.LocalizeMaxRows).filter(_.nonEmpty).getOrElse(return None)
    // the (query, corpus row) pairs the driver scores, by the average
    // cell: each query probes min(nProbe, cells) cells
    val pairs = for {
      nq <- queries.queryExecution.optimizedPlan.maxRows
      rows <- FileStats.localizableRows(spark, BucketedUpsert.dataDirs(spark, corp),
        localMaxBytes)
    } yield nq * math.min(math.max(nProbe, 0), cents.length) *
      math.ceil(rows.toDouble / cents.length)
    if (!pairs.exists(_ <= DriverMaxPairs)) return None
    GraftFunctions.register(spark)
    // every vector is converted to Catalyst's form once; the probe and
    // hit relations pair those rows without copying them
    val (q, c) = (queries.select("qid", "qemb"), centroids.select("cell", "centroid"))
    val (qs, cs) = (DriverRank.internal(q.schema, q.collect().toSeq),
      DriverRank.internal(c.schema, cents.toSeq))
    val probes = DriverRank.topPerPartition(
      DriverRank.localCatalyst(spark, StructType(q.schema ++ c.schema),
          for (a <- qs; b <- cs) yield new JoinedRow(a, b))
        .withColumn("score", cosine("qemb", "centroid")),
      Seq(col("qid")), probeOrder, nProbe).flatten
    // each probe as (its query's (qid, qemb), the probed cell)
    val probeOf = probes.map(p => (InternalRow(p.get(0, q.schema(0).dataType), p.getArray(1)),
      p.getInt(2)))
    val e = corpus.filter(col("cell").isin(probeOf.map(_._2).distinct: _*))
      .select("vec_id", "cell", "embedding")
    val inCell = DriverRank.internal(e.schema, e.collect().toSeq).groupBy(_.getInt(1))
    val hits = DriverRank.localCatalyst(spark, StructType(q.schema ++ e.schema), for {
        (qr, cell) <- probeOf; r <- inCell.getOrElse(cell, Nil)
      } yield new JoinedRow(qr, r))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine("qemb", "embedding").as("cos"))
    val schema = StructType(Seq(hits.schema("qid"),
      StructField("rank", IntegerType, nullable = false), hits.schema("vec_id"),
      hits.schema("cos")))
    val rows = DriverRank.topPerPartition(hits, Seq(col("qid")), hitOrder, topK)
      .flatMap(_.zipWithIndex.map { case (r, i) =>
        InternalRow(r.get(0, schema(0).dataType), i + 1, r.get(1, schema(2).dataType),
          r.get(2, schema(3).dataType))
      })
    Some(DriverRank.localCatalyst(spark, schema, rows))
  }

  // ------------------------------------------------------------------
  // Quantizer drift + atomic re-train (VERDICT r15 #4). Appends only
  // THIN or FATTEN cells (standard IVF: centroids never move), so a
  // corpus whose distribution shifts concentrates into few cells and
  // probe cost degrades toward brute force. The cell-population MV
  // below is the detector; retrainIndex is the repair — a NEW
  // quantizer generation published atomically behind the generation
  // pointer, old index readable until the swap.
  // ------------------------------------------------------------------

  /** Maintain the per-cell population MV incrementally: an [[IncrAgg]]
    * over the live corpus grouped by cell — each refresh recomputes
    * only the buckets the batches since the last refresh touched,
    * never the corpus. Call after build/append/delete; cost is
    * O(churn). Returns the number of buckets recomputed. */
  def refreshCellStats(spark: SparkSession, root: String): Int = {
    val (_, corp) = livePaths(spark, root)
    graft.lake.IncrAgg.refresh(spark, corp, cellStatsRoot(corp),
      "vec_id", Seq("cell"), Nil)
  }

  /** Drift summary from the maintained stats: `ratio` is max-cell
    * population over the ideal (n/k) — 1.0 is perfectly balanced,
    * and probe cost for a query routed to the hot cell scales with it.
    * `emptyCells` counts dead centroids (capacity the quantizer has
    * lost). */
  final case class Drift(k: Int, nVectors: Long, maxCell: Long,
                         emptyCells: Int, ratio: Double)

  def drift(spark: SparkSession, root: String): Drift = {
    val (cent, corp) = livePaths(spark, root)
    val k = Snapshot.readLocalized(spark, cent).count().toInt
    val stats = graft.lake.IncrAgg.read(spark, cellStatsRoot(corp),
      Seq("cell"), Nil)
      .select(col("cell"), col("n")).collect()
    val n = stats.map(_.getLong(1)).sum
    val maxCell = if (stats.isEmpty) 0L else stats.map(_.getLong(1)).max
    val ideal = if (k == 0) 1.0 else n.toDouble / k
    Drift(k, n, maxCell, k - stats.length,
      if (n == 0) 1.0 else maxCell / ideal)
  }

  /** `true` when the hottest cell exceeds `threshold`× the balanced
    * size — the re-train trigger a maintenance job polls. */
  def needsRetrain(spark: SparkSession, root: String,
                   threshold: Double = 4.0): Boolean =
    drift(spark, root).ratio >= threshold

  /** ATOMIC re-train: seed a fresh k-cell quantizer from the CURRENT
    * corpus (same deterministic rule as [[buildIndex]] — the oracle
    * replicates it), re-assign every vector, land both tables as a new
    * GENERATION under `root/g<tag>/`, and only then swap the
    * generation pointer — one Snapshot pointer publish, so readers see
    * the old index until the instant the new one is complete, and a
    * crash anywhere before the swap leaves the old generation live and
    * the half-built one unreferenced (re-run the retrain; tags guard
    * replays).
    *
    * Concurrency: the corpus tag captured at the start must still be
    * live at swap time — an append that lands mid-retrain would be
    * missing from the re-assigned corpus, so the retrain FAILS instead
    * of publishing a generation that silently lost a batch (the
    * closing race window is the caller's maintenance-window contract,
    * same as every other out-of-band lake verb). [[appendToIndex]]
    * checks the mirror direction. Not for stream-owned indexes while
    * the stream runs ([[streamingIngest]]'s ledger owns those tags).
    */
  def retrainIndex(spark: SparkSession, root: String, k: Int,
                   tag: Long): Unit =
    retrainIndexHooked(spark, root, k, tag, () => ())

  /** [[retrainIndex]] with a test seam fired between the rebuild and
    * the liveness re-check — the only way to pin the concurrent-append
    * fail-fast deterministically. */
  private[graft] def retrainIndexHooked(spark: SparkSession, root: String,
                                        k: Int, tag: Long,
                                        beforeSwap: () => Unit): Unit = {
    val (_, corp0) = livePaths(spark, root)
    val srcTag = Snapshot.currentTag(spark, corp0).getOrElse(
      throw new IllegalStateException(s"no corpus published under $corp0"))
    val corpus = BucketedUpsert.read(spark, corp0)
    val nBuckets = BucketedUpsert.bucketCount(spark, corp0)
    val gDir = s"$root/g$tag"
    val raw = corpus.drop("cell", "graft_ver")
    // sampled, not first-k: the whole point of a drift-triggered
    // retrain is that seeds follow the corpus's CURRENT distribution
    Snapshot.publish(sampleCentroids(raw, k).coalesce(1), s"$gDir/centroids", tag)
    val assigned = assign(spark, raw, Snapshot.readLocalized(spark, s"$gDir/centroids"))
    BucketedUpsert.applyBatch(
      assigned.withColumn("graft_ver", lit(tag)),
      s"$gDir/corpus", "vec_id", "graft_ver", nBuckets, tag)
    beforeSwap()
    if (!Snapshot.currentTag(spark, corp0).contains(srcTag))
      throw new IllegalStateException(
        s"concurrent append detected: corpus at $corp0 moved past " +
          s"v$srcTag during the retrain — the new generation would lose " +
          "that batch; re-run the retrain")
    import spark.implicits._
    Snapshot.publish(
      Seq((s"$gDir/centroids", s"$gDir/corpus")).toDF("cent", "corp")
        .coalesce(1),
      genPtr(root), tag)
  }
}

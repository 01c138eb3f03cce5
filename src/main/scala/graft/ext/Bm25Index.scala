package graft.ext

import graft.lake.BucketedUpsert
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted inverted index for BM25 retrieval — the index-maintenance
  * half of the `t_bm25_topk` ranking query. Without an index, every
  * query batch re-tokenizes the corpus; at 100 TB that is the whole
  * table per query. With it, ingest pays tokenization ONCE per
  * document batch and a query touches only its own terms' postings.
  *
  * Layout (two [[BucketedUpsert]] tables under one root):
  *  - `postings`: one row per (tok, doc_id) with tf and the doc length
  *    denormalized in — keyed by `pk = tok || '#' || doc_id`. The dl
  *    denormalization is deliberate: scoring needs (tf, dl) per
  *    posting, and carrying dl here removes a doc-stats join from
  *    every query at the cost of 8 bytes per posting.
  *  - `docstats`: one row per doc_id with dl — the corpus-stats side
  *    (N, avgdl) aggregates over this N-row, 2-column table, three
  *    orders smaller than re-reading text.
  *
  * Contract: the corpus is APPEND-ONLY by doc_id (the crawl-ingest
  * shape). Appending a NEW doc_id is exact; re-ingesting an existing
  * doc_id would upsert matching (tok, doc) rows but leave postings for
  * tokens the new text dropped — callers mutating docs must delete
  * first. Tags follow the Snapshot ledger (strictly increasing).
  *
  * Scale: ingest is one tokenize pass over the batch + touched-bucket
  * rewrites; query-side term filters push into the postings scan
  * (tok IN (...) on a column the parquet reader sees), df is
  * |query-vocabulary|-sized, corpus stats are a 1-row broadcast, and
  * the final top-k is TakeOrderedAndProject — exactly the proven
  * t_bm25_topk plan, minus the corpus re-tokenization.
  */
object Bm25Index {

  private def postingsRoot(root: String) = s"$root/postings"
  private def docstatsRoot(root: String) = s"$root/docstats"

  /** One table's half of an index write under one tag: the table
    * root, the key the write buckets by, the frame whose keys it
    * touches, and the staged write ([[BucketedUpsert.applyBatchStaged]]
    * or [[BucketedUpsert.deleteKeysStaged]]) given the shared probe's
    * touched-bucket set, or None to probe on its own. */
  private final case class Side[+T](root: String, key: String, keys: DataFrame,
                                    stage: Option[Set[Int]] => (T, () => Unit))

  /** The one way the index writes its two tables. A side is None when
    * it already landed under this tag (a crash replay) and is not run.
    * With both sides present and both tables standing, ONE
    * touched-bucket probe job serves both (r22, guide §1.2: first
    * batches derive entries from the written dirs and probe nothing,
    * so the shared probe fires exactly when both tables would each have
    * paid their own distinct-collect job).
    *
    * The postings side stages AND publishes on the shared driver pool
    * ([[graft.lake.Overlap]]) while the doc-stats side stages on the
    * caller thread (when the pool is saturated the postings side runs
    * inline first, which only loses the overlap); the doc-stats publish
    * thunk runs only after the postings side has FULLY landed. Publish
    * order is the module's crash contract: doc-stats is the table
    * published LAST (the streaming ledger's anchor), so a crash can
    * never leave doc-stats published with postings missing. A postings
    * failure therefore forbids the doc-stats publish; the staged data
    * dir it abandons is exactly a crashed batch's state, healed by the
    * existing replay contract. Returns the doc-stats side's result. */
  private def overlapTables[T](spark: SparkSession, postings: Option[Side[Any]],
                               docstats: Option[Side[T]]): Option[T] = {
    val shared = (for {
      p <- postings; d <- docstats
      np <- BucketedUpsert.bucketCountOption(spark, p.root)
      nd <- BucketedUpsert.bucketCountOption(spark, d.root)
    } yield BucketedUpsert.touchedBuckets(Seq((p.keys, p.key, np), (d.keys, d.key, nd))))
      .fold(Seq[Option[Set[Int]]](None, None))(_.map(Some(_)))
    val pFut = postings.map(p => scala.concurrent.Future {
      val (_, publish) = p.stage(shared(0))
      publish()
    }(graft.lake.Overlap.ec))
    val staged = scala.util.Try(docstats.map(_.stage(shared(1))))
    graft.lake.Overlap.all(pFut.toSeq) // rethrow the postings failure FIRST
    staged.get.map { case (out, publish) => publish(); out }
  }

  /** On-disk posting-key format tag (ADVICE r17, medium): "lp1" =
    * length-prefixed `len(tok):tok#doc_id`. The r17 key change from
    * plain `tok#doc_id` was silent on disk — against an index persisted
    * before it, ingest would write new-format pks BESIDE old-format
    * rows (duplicate (tok,doc) postings double-count tf) and deleteDocs
    * would derive only new-format pks, so old postings SURVIVE
    * takedowns. The marker makes the encoding explicit; any
    * write/delete against an index that lacks it (or carries a
    * different tag) fails fast demanding a rebuild. */
  private val PkFormat = "lp1"

  private def fmtPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_pk_format")

  private def stampFormat(spark: SparkSession, root: String): Unit = {
    val p = fmtPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(PkFormat.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Fail fast before any write/delete against an index whose posting
    * keys were minted under a different (or unknown) encoding. Reads
    * are exempt: they consume (tok, doc_id, tf) columns directly and
    * never reconstruct pks. */
  private def requireFormat(spark: SparkSession, root: String): Unit =
    if (graft.lake.Snapshot.resolve(spark, postingsRoot(root)).nonEmpty) {
      val p = fmtPath(root)
      val rec = graft.lake.FileStats.readSidecar(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).map(_.trim)
      require(rec.contains(PkFormat),
        s"BM25 index at $root carries posting-key format " +
          s"${rec.getOrElse("<none — predates the format marker>")}, " +
          s"this build writes $PkFormat — mixing encodings would " +
          "double-count tf on duplicate (tok,doc) postings and let " +
          "deleted docs' old-format postings survive takedowns; " +
          "rebuild the index before writing or deleting against it")
    }

  private def tokenize(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      // at-least-once upstreams can land the SAME (doc_id, text) twice
      // in one batch; without this distinct the duplicate would DOUBLE
      // every tf in postingsOf (docstats survives via key dedup, so the
      // corruption is silent). Same doc_id with DIFFERENT text in one
      // batch remains a contract violation (append-only by doc_id —
      // delete first), as across batches.
      .select(col("doc_id"), col("text")).distinct()
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

  private def postingsOf(docs: DataFrame): DataFrame =
    postingsFrom(tokenize(docs))

  private def postingsFrom(tokens: DataFrame): DataFrame =
    tokens
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy("tok", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      // LENGTH-PREFIXED key: plain tok||'#'||doc_id is ambiguous when a
      // token contains '#' and ids are strings — (tok="x", id="a#b")
      // and (tok="x#a", id="b") would collide on one pk, the per-key
      // resolve would silently drop one posting's tf, and deleteDocs
      // would remove the surviving impostor. The token-length prefix
      // makes the encoding a prefix code: unambiguous for ANY token
      // and id rendering.
      .withColumn("pk", concat(length(col("tok")), lit(":"),
        col("tok"), lit("#"), col("doc_id")))

  /** Build the index from scratch over `docs` (doc_id, text). */
  def build(spark: SparkSession, root: String, docs: DataFrame,
            nBuckets: Int = 16, tag: Long = 1L): Unit =
    ingest(spark, root, docs, nBuckets, tag)

  /** Fold an append batch of NEW documents into the index: tokenize
    * only the batch, rewrite only touched buckets. `nBucketsIfEmpty`
    * applies only when the index was emptied of every document (a
    * fully-emptied bucketed table forgets its bucket count). */
  def append(spark: SparkSession, root: String, docs: DataFrame,
             tag: Long, nBucketsIfEmpty: Int = 16): Unit = {
    // no pointer at all = never built → fail fast (append implies an
    // index); a RESOLVABLE but zero-entry manifest = emptied by
    // takedowns → the bucket count was forgotten with the last bucket,
    // fall back to nBucketsIfEmpty
    require(graft.lake.Snapshot.resolve(spark, postingsRoot(root)).nonEmpty,
      s"no BM25 index under $root — build before append")
    ingest(spark, root, docs,
      BucketedUpsert.bucketCountOption(spark, postingsRoot(root))
        .getOrElse(nBucketsIfEmpty), tag)
  }

  /** An upsert side: `batch` lands with the tag as its version. */
  private def upsert(tableRoot: String, key: String, batch: DataFrame,
                     nBuckets: Int, tag: Long): Side[Unit] =
    Side(tableRoot, key, batch, touched => ((), BucketedUpsert.applyBatchStaged(
      batch.withColumn("graft_ver", lit(tag)), tableRoot, key, "graft_ver",
      nBuckets, tag, 2, touched)))

  /** True when `tableRoot` has not yet published `tag` (or later). */
  private def behind(spark: SparkSession, tableRoot: String, tag: Long) =
    !graft.lake.Snapshot.currentTag(spark, tableRoot).exists(_ >= tag)

  private def ingest(spark: SparkSession, root: String, docs: DataFrame,
                     nBuckets: Int, tag: Long): Unit = {
    requireFormat(spark, root)
    stampFormat(spark, root)
    // tokenize ONCE per batch (the module contract): postings and
    // docstats each execute their plan — and applyBatch's touched-
    // bucket collect executes the input again — so without the pin the
    // scan+distinct+split pipeline ran ~4× per batch. Scoped release:
    // the streaming sink runs this body per micro-batch with no
    // releaseAll between batches.
    val m = graft.operators.SeqIds.mark()
    try {
      val tokens = graft.operators.SeqIds.pin(tokenize(docs))
      // the postings AGGREGATE is pinned too (r21): applyBatch executes
      // its batch twice (touched-bucket distinct + the resolve write),
      // and without this pin the explode+groupBy ran once per pass.
      // Both sides always run: a reused tag throws (requireTagAbove).
      overlapTables(spark,
        Some(upsert(postingsRoot(root), "pk",
          graft.operators.SeqIds.pin(postingsFrom(tokens)), nBuckets, tag)),
        Some(upsert(docstatsRoot(root), "doc_id",
          tokens.select(col("doc_id"), col("dl")), nBuckets, tag)))
    } finally graft.operators.SeqIds.releaseSince(m)
  }

  /** STREAMING index maintenance: fold a checkpointed stream of
    * (doc_id, text) batches into the inverted index — the crawl-ingest
    * pipeline as a running process. First batch builds, later batches
    * append (tokenize ONLY the batch, rewrite only touched buckets).
    *
    * The index is TWO tables published in sequence, so exactly-once
    * needs two layers: the batch-id ledger is anchored on DOC-STATS —
    * the table published LAST — so a crash anywhere inside an apply
    * re-delivers the batch; and each table carries its own tag guard,
    * so the replay re-publishes only what the crash left missing
    * (Snapshot.publish forbids same-tag re-publish, which would
    * otherwise make the replay of a half-applied batch throw on the
    * already-landed postings). A rewound checkpoint still fails fast
    * via the ledger. Append-only by doc_id, as the batch API: a
    * mutating upstream deletes first. */
  def streamingIngest(spark: SparkSession, updates: DataFrame, root: String,
                      checkpointDir: String, nBuckets: Int): Unit =
    graft.streaming.EventStreams.runLedgeredUpsert(
      spark, updates, docstatsRoot(root), checkpointDir) { (batch, batchId) =>
      val bs = batch.sparkSession
      // Option form: a resolvable-but-empty manifest (zero-row first
      // batch, or an index emptied by takedowns) must fall back to the
      // configured count instead of throwing forever
      requireFormat(bs, root)
      stampFormat(bs, root)
      val n = BucketedUpsert.bucketCountOption(bs, postingsRoot(root))
        .getOrElse(nBuckets)
      // tokenize once per micro-batch, scoped release (same rationale
      // as the batch ingest — no releaseAll runs between batches)
      val m = graft.operators.SeqIds.mark()
      try {
        val tokens = graft.operators.SeqIds.pin(tokenize(batch))
        // pinned: applyBatch executes its batch twice (see ingest)
        overlapTables(bs,
          Option.when(behind(bs, postingsRoot(root), batchId))(
            upsert(postingsRoot(root), "pk",
              graft.operators.SeqIds.pin(postingsFrom(tokens)), n, batchId)),
          Option.when(behind(bs, docstatsRoot(root), batchId))(
            upsert(docstatsRoot(root), "doc_id",
              tokens.select(col("doc_id"), col("dl")), n, batchId)))
      } finally graft.operators.SeqIds.releaseSince(m)
    }

  /** Remove documents from the index (takedown / mutate-as-
    * delete-then-append): `docs` must carry the SAME (doc_id, text)
    * that was ingested — the index is keyed by (tok, doc), so the
    * stored tokenizer re-derives exactly the posting keys to remove
    * (this is why the append-only contract tells mutators to delete
    * first: the OLD text still names its own postings). Cost is one
    * tokenize pass over the batch plus touched-bucket rewrites of both
    * tables; corpus stats need no bookkeeping — N, avgdl, and df all
    * derive from the surviving rows at query time, so they shrink with
    * the deletion automatically. Returns the number of documents
    * removed in THIS call.
    *
    * Two tables, one tag, replay-safe: each table carries its own tag
    * guard, so a crash between the two deleteKeys (postings gone,
    * doc-stats still counting the docs — silently inflated N/avgdl)
    * is healed by re-running deleteDocs WITH THE SAME TAG, which
    * lands only the missing half instead of throwing on the landed
    * one. Ownership contract as [[BucketedUpsert.deleteKeys]]: do not
    * delete out of band on a [[streamingIngest]]-owned index — route
    * takedowns as delete-first batches through the stream's pause
    * window, or retire the pipeline first. */
  def deleteDocs(spark: SparkSession, root: String, docs: DataFrame,
                 tag: Long): Long = {
    requireFormat(spark, root)
    // the >= skip exists ONLY for same-tag crash replays; a tag
    // strictly below BOTH tables' published state is a mis-assigned
    // (rewound/forgotten) tag — silently returning 0 would let the
    // caller believe a takedown landed that never ran
    val landedMax = Seq(postingsRoot(root), docstatsRoot(root))
      .flatMap(r => graft.lake.Snapshot.currentTag(spark, r))
      .reduceOption(_ max _)
    landedMax.foreach(m => require(tag >= m,
      s"deleteDocs tag $tag is below the index's published v$m — a replay " +
        "carries the original tag; a new takedown needs a fresh one"))
    def delete(tableRoot: String, key: String, keys: DataFrame) =
      Side(tableRoot, key, keys,
        BucketedUpsert.deleteKeysStaged(spark, tableRoot, key, keys, tag, 2, _))
    val m = graft.operators.SeqIds.mark()
    try {
      // The derived pk set is pinned (r21): deleteKeys executes its
      // keys twice (touched-bucket distinct + the anti-join rewrite),
      // and the tokenize+explode+groupBy re-ran once per pass.
      // Posting-row count is not a document count: the returned figure
      // is doc-stats rows, 0 when that half already landed (the docs
      // were counted removed by the call that landed it).
      overlapTables(spark,
        Option.when(behind(spark, postingsRoot(root), tag))(
          delete(postingsRoot(root), "pk",
            graft.operators.SeqIds.pin(postingsOf(docs).select("pk")))),
        Option.when(behind(spark, docstatsRoot(root), tag))(
          delete(docstatsRoot(root), "doc_id",
            docs.filter(col("text").isNotNull).select("doc_id"))))
        .getOrElse(0L)
    } finally graft.operators.SeqIds.releaseSince(m)
  }

  /** BM25 top-k (k1=1.2, b=0.75) for `terms`, entirely from the stored
    * index — same scoring and 1e-6 pre-rank rounding as t_bm25_topk,
    * so results are identical to scoring the corpus directly. */
  def topK(spark: SparkSession, root: String, terms: Seq[String],
           k: Int): DataFrame = {
    val tf = graft.operators.SeqIds.pin(
      BucketedUpsert.read(spark, postingsRoot(root))
        .filter(col("tok").isin(terms: _*))
        .select("tok", "doc_id", "dl", "tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    val stats = BucketedUpsert.read(spark, docstatsRoot(root))
      .agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          col("tf") * lit(1.2 + 1.0) /
          (col("tf") + lit(1.2) * (lit(1.0 - 0.75) + lit(0.75) * col("dl") / col("avgdl")))), 6)
        .as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(k)
  }
}

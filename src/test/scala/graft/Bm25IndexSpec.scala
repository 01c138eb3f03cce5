package graft

import graft.ext.Bm25Index
import graft.lake.BucketedUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

/** Persisted BM25 index: what the oracle gate cannot see — the
  * query-side term filter must reach the postings parquet scan (the
  * whole point of materializing postings), the index tables must carry
  * exactly one row per (tok, doc) / per doc, and misuse fails fast.
  */
class Bm25IndexSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("bm25-spec").toString + "/idx"

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select("doc_id", "text")

  private def pushedFilters(df: DataFrame): String = {
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    unwrap(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
      case b: BatchScanExec if b.scan.isInstanceOf[ParquetScan] =>
        b.scan.asInstanceOf[ParquetScan].pushedFilters.mkString(",")
    }.mkString(";")
  }

  test("build + append equals corpus-direct scoring; term filter pushes into the postings scan") {
    val root = tmp()
    Bm25Index.build(spark, root, docs.filter(col("doc_id") % 3 =!= 0),
      nBuckets = 8, tag = 1)
    Bm25Index.append(spark, root, docs.filter(col("doc_id") % 3 === 0), tag = 2)

    val terms = Seq("the", "data")
    // topK collects on the driver (its driver arm) or pins the filtered
    // postings frame (its distributed arm), so neither plan shows the
    // parquet scan — assert pushdown on the filtered read both start from
    val filteredRead = BucketedUpsert.read(spark, s"$root/postings")
      .filter(col("tok").isin(terms: _*))
      .select("tok", "doc_id", "dl", "tf")
    assert(pushedFilters(filteredRead).contains("tok"),
      s"the term filter must reach the postings scan: ${pushedFilters(filteredRead)}")
    val got = Bm25Index.topK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

    // corpus-direct reference: the t_bm25_topk shape over the same docs
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = base.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    val want = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          col("tf") * lit(1.2 + 1.0) /
          (col("tf") + lit(1.2) * (lit(1.0 - 0.75) + lit(0.75) * col("dl") / col("avgdl")))), 6)
        .as("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want))
    assert(got.nonEmpty)
    graft.operators.SeqIds.releaseAll()
  }

  test("index tables carry one row per (tok, doc) and per doc") {
    val root = tmp()
    val slice = docs.filter(col("doc_id") < 100)
    Bm25Index.build(spark, root, slice, nBuckets = 4, tag = 1)
    val nDocs = slice.filter(col("text").isNotNull).count()
    assert(BucketedUpsert.read(spark, s"$root/docstats").count() == nDocs)
    val postings = BucketedUpsert.read(spark, s"$root/postings")
    val nPairs = slice.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .count()
    assert(postings.count() == nPairs,
      "postings must hold exactly one row per (tok, doc) pair")
    // tf sums back to total token count
    val totToks = slice.filter(col("text").isNotNull)
      .select(size(split(col("text"), " ")).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(postings.agg(sum(col("tf").cast("long"))).head.getLong(0) == totToks)
  }

  test("deleteDocs removes exactly the docs' postings and equals a never-ingested rebuild") {
    val root = tmp()
    Bm25Index.build(spark, root, docs, nBuckets = 8, tag = 1)
    val doomed = docs.filter(col("doc_id") % 7 === 3)
    val nDoomed = doomed.filter(col("text").isNotNull).count()
    val removed = Bm25Index.deleteDocs(spark, root, doomed, tag = 2)
    assert(removed == nDoomed)

    // the post-delete index answers exactly like an index that never
    // saw the docs — postings, stats, and scores all shrink together
    val clean = tmp()
    Bm25Index.build(spark, clean, docs.filter(col("doc_id") % 7 =!= 3),
      nBuckets = 8, tag = 1)
    val a = Bm25Index.topK(spark, root, Seq("dup", "spark", "merge"), 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Bm25Index.topK(spark, clean, Seq("dup", "spark", "merge"), 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, "delete must equal the never-ingested rebuild")
    assert(a.forall(_._1 % 7 != 3))

    // no orphan postings: every surviving posting's doc survives
    val p = graft.lake.BucketedUpsert.read(spark, s"$root/postings")
    assert(p.filter(col("doc_id") % 7 === 3).count() == 0,
      "deleted docs must leave no postings behind")
  }

  test("deleteDocs retried with the same tag after a half-applied crash heals the index") {
    val root = tmp()
    Bm25Index.build(spark, root, docs, nBuckets = 8, tag = 1)
    val doomed = docs.filter(col("doc_id") % 11 === 4)
    // simulate the crash window: the postings half landed at tag 2,
    // the doc-stats half did not (replicate the pk derivation inline)
    val pks = doomed.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      // the index's length-prefixed pk encoding (prefix code — see
      // Bm25Index.postingsFrom)
      .select(concat(length(col("tok")), lit(":"), col("tok"),
        lit("#"), col("doc_id")).as("pk")).distinct()
    graft.lake.BucketedUpsert.deleteKeys(spark, s"$root/postings", "pk", pks, tag = 2)
    // the retry with the SAME tag must land only the missing doc-stats
    // half — not throw on the already-landed postings
    val removed = Bm25Index.deleteDocs(spark, root, doomed, tag = 2)
    assert(removed == doomed.filter(col("text").isNotNull).count())
    val clean = tmp()
    Bm25Index.build(spark, clean, docs.filter(col("doc_id") % 11 =!= 4),
      nBuckets = 8, tag = 1)
    def score(r: String) = Bm25Index.topK(spark, r, Seq("dup", "spark", "merge"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(score(root) == score(clean),
      "the healed index must equal a never-ingested rebuild")
  }

  test("intra-batch duplicate (doc_id, text) rows do not double tf") {
    val root = tmp(); val clean = tmp()
    // at-least-once upstream: the same rows land twice in ONE batch
    Bm25Index.build(spark, root, docs.union(docs), nBuckets = 8, tag = 1)
    Bm25Index.build(spark, clean, docs, nBuckets = 8, tag = 1)
    def score(r: String) = Bm25Index.topK(spark, r, Seq("dup", "spark"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(score(root) == score(clean),
      "duplicated ingest rows must not change tf or scores")
  }

  test("deleteDocs below the published state fails fast instead of silently no-oping") {
    val root = tmp()
    Bm25Index.build(spark, root, docs, nBuckets = 8, tag = 5)
    intercept[IllegalArgumentException](
      Bm25Index.deleteDocs(spark, root, docs.limit(3), tag = 1))
  }

  test("a zero-row leading file does not wedge the streaming ingest") {
    val base = java.nio.file.Files.createTempDirectory("bm25st0-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    graft.queries.writeOrderedBatches(src, Seq(docs.limit(0),
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    val updates = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Bm25Index.streamingIngest(spark, updates, root, ckp, nBuckets = 8)
    val clean = tmp()
    Bm25Index.build(spark, clean, docs, nBuckets = 8, tag = 1)
    def score(r: String) = Bm25Index.topK(spark, r, Seq("dup", "spark"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(score(root) == score(clean),
      "the empty leading batch must be skipped, then ingest normally")
  }

  test("streamingIngest equals the batch lifecycle and restarts are no-ops") {
    val base = java.nio.file.Files.createTempDirectory("bm25st-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    val sliceA = docs.filter(col("doc_id") % 2 === 0)
    val sliceB = docs.filter(col("doc_id") % 2 =!= 0)
    graft.queries.writeOrderedBatches(src, Seq(sliceA, sliceB))
    def updates = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Bm25Index.streamingIngest(spark, updates, root, ckp, nBuckets = 8)

    val batchRoot = s"$base/batch-idx"
    Bm25Index.build(spark, batchRoot, sliceA, nBuckets = 8, tag = 1)
    Bm25Index.append(spark, batchRoot, sliceB, tag = 2)
    def score(r: String) = Bm25Index.topK(spark, r, Seq("dup", "spark", "merge"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(score(root) == score(batchRoot),
      "streaming ingest must converge to the batch lifecycle's index")

    // restart on the same checkpoint: ledger skips, nothing moves
    val tagBefore = graft.lake.Snapshot.currentTag(spark, s"$root/docstats")
    Bm25Index.streamingIngest(spark, updates, root, ckp, nBuckets = 8)
    assert(graft.lake.Snapshot.currentTag(spark, s"$root/docstats") == tagBefore)
    assert(score(root) == score(batchRoot))
  }

  test("append before build fails fast") {
    intercept[IllegalArgumentException](
      Bm25Index.append(spark, tmp(), docs.limit(3), tag = 1))
  }

  test("string ids and '#'-bearing tokens cannot collide postings keys (prefix code)") {
    import spark.implicits._
    val root = tmp(); 
    // under the old tok||'#'||id encoding these two postings collided
    // on ONE pk ("x#a#b") and the per-key resolve silently dropped one
    val tricky = Seq(("a#b", "x"), ("b", "x#a")).toDF("doc_id", "text")
    Bm25Index.build(spark, root, tricky, nBuckets = 4, tag = 1)
    val p = graft.lake.BucketedUpsert.read(spark, s"$root/postings")
    assert(p.select("pk").distinct().count() == 2,
      "distinct (tok, doc) postings must keep distinct keys")
    assert(p.select("doc_id").distinct().count() == 2)
  }

  test("writes and deletes against a pre-marker index fail fast demanding a rebuild") {
    import spark.implicits._
    val root = tmp()
    Bm25Index.build(spark, root, docs.limit(20), nBuckets = 4, tag = 1)
    // ingest stamps the format marker; deleting it simulates an index
    // persisted before the length-prefixed key change (or any unknown
    // encoding) — every write/delete must refuse, naming the rebuild
    val fmt = new org.apache.hadoop.fs.Path(s"$root/_pk_format")
    val fs = fmt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(fmt), "ingest must stamp the posting-key format")
    assert(fs.delete(fmt, false))
    val exA = intercept[IllegalArgumentException](
      Bm25Index.append(spark, root, docs.limit(3), tag = 2))
    assert(exA.getMessage.contains("rebuild"), exA.getMessage)
    val exD = intercept[IllegalArgumentException](
      Bm25Index.deleteDocs(spark, root, docs.limit(3), tag = 2))
    assert(exD.getMessage.contains("rebuild"), exD.getMessage)
    // a mismatched tag (future/unknown encoding) refuses identically
    val out = fs.create(fmt, true)
    out.write("lp9".getBytes("UTF-8")); out.close()
    val exF = intercept[IllegalArgumentException](
      Bm25Index.append(spark, root, docs.limit(3), tag = 2))
    assert(exF.getMessage.contains("lp9"), exF.getMessage)
    // reads stay exempt: they never reconstruct pks
    assert(Bm25Index.topK(spark, root, Seq("the"), 5).count() <= 5)
  }

  test("a failed postings side forbids the doc-stats publish (crash order)") {
    val root = tmp()
    Bm25Index.build(spark, root, docs.filter(col("doc_id") % 3 =!= 0),
      nBuckets = 8, tag = 1)
    def score = Bm25Index.topK(spark, root, Seq("dup", "spark", "merge"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val before = score
    // put postings AHEAD of doc-stats: re-publish a few of its own rows
    // verbatim at tag 3, which leaves every score as it was
    val postings = BucketedUpsert.read(spark, s"$root/postings")
    BucketedUpsert.applyBatch(postings.filter(col("doc_id") < 5),
      s"$root/postings", "pk", "graft_ver", 8, tag = 3)
    assert(score == before)
    // tag 2 is stale for postings only: its side must throw, and the
    // doc-stats side (staged meanwhile) must never publish
    intercept[IllegalArgumentException](Bm25Index.append(spark, root,
      docs.filter(col("doc_id") % 3 === 0), tag = 2))
    assert(graft.lake.Snapshot.currentTag(spark, s"$root/docstats").contains(1L))
    assert(score == before, "a failed append must not move any score")
  }

  test("streamingIngest replaying a half-applied batch lands only doc-stats") {
    val base = java.nio.file.Files.createTempDirectory("bm25half-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    val sliceA = docs.filter(col("doc_id") % 2 === 0)
    val sliceB = docs.filter(col("doc_id") % 2 =!= 0)
    def updates = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.queries.writeOrderedBatches(src, Seq(sliceA))
    Bm25Index.streamingIngest(spark, updates, root, ckp, nBuckets = 8)
    // simulate the crash window of batch 1: its postings half landed
    // under the batch id, its doc-stats half did not (replicate the
    // index's tokenize + length-prefixed pk derivation inline)
    val half = sliceB.filter(col("text").isNotNull).distinct()
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("pk", concat(length(col("tok")), lit(":"), col("tok"),
        lit("#"), col("doc_id")))
      .withColumn("graft_ver", lit(1L))
    BucketedUpsert.applyBatch(half, s"$root/postings", "pk", "graft_ver", 8, tag = 1)
    val nPostings = BucketedUpsert.read(spark, s"$root/postings").count()
    graft.queries.writeOrderedBatches(src, Seq(sliceB))
    Bm25Index.streamingIngest(spark, updates, root, ckp, nBuckets = 8)
    assert(graft.lake.Snapshot.currentTag(spark, s"$root/docstats").contains(1L))
    assert(graft.lake.Snapshot.currentTag(spark, s"$root/postings").contains(1L),
      "the landed postings half must not be re-applied")
    assert(BucketedUpsert.read(spark, s"$root/postings").count() == nPostings)

    val batchRoot = s"$base/batch-idx"
    Bm25Index.build(spark, batchRoot, sliceA, nBuckets = 8, tag = 1)
    Bm25Index.append(spark, batchRoot, sliceB, tag = 2)
    def score(r: String) = Bm25Index.topK(spark, r, Seq("dup", "spark", "merge"), 25)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(score(root) == score(batchRoot),
      "the healed stream must equal the batch lifecycle's index")
  }

  // ---- the driver arm of topK against the distributed plan (bound 0)

  /** topK's driver arm, checked to be a local relation. */
  private def driverTopK(root: String, terms: Seq[String], k: Int) = {
    val df = Bm25Index.topK(spark, root, terms, k)
    assert(df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "an index inside the localize bounds must take the driver arm")
    df
  }

  /** Both arms return the same rows, in the same order, under the same
    * schema; the rows. */
  private def sameArms(root: String, terms: Seq[String], k: Int) = {
    val m = graft.operators.SeqIds.mark()
    try {
      val dist = Bm25Index.topKBounded(spark, root, terms, k, localMaxBytes = 0L)
      val local = driverTopK(root, terms, k)
      assert(local.schema == dist.schema)
      val (a, b) = (local.collect().toSeq, dist.collect().toSeq)
      assert(a == b, s"driver arm $a != distributed $b")
      a
    } finally graft.operators.SeqIds.releaseSince(m)
  }

  test("topK's driver arm equals the distributed plan: terms, k and deletes") {
    val root = tmp()
    Bm25Index.build(spark, root, docs.filter(col("doc_id") % 3 =!= 0),
      nBuckets = 8, tag = 1)
    Bm25Index.append(spark, root, docs.filter(col("doc_id") % 3 === 0), tag = 2)
    val terms = Seq("dup", "spark", "merge", "the", "zzz-absent-term")
    val all = sameArms(root, terms, 10000)
    assert(all.nonEmpty && all.length < 10000, "k above the hit count")
    assert(sameArms(root, terms, 5) == all.take(5))
    assert(sameArms(root, terms, 0).isEmpty)
    assert(sameArms(root, Nil, 10).isEmpty)
    assert(sameArms(root, Seq("zzz-absent-term"), 10).isEmpty)
    Bm25Index.deleteDocs(spark, root, docs.filter(col("doc_id") % 7 === 3), tag = 3)
    val after = sameArms(root, terms, 10000)
    assert(after.nonEmpty && after.forall(_.getLong(0) % 7 != 3))
  }

  test("topK's driver arm breaks score ties by doc_id and fails a negative k as Spark does") {
    import spark.implicits._
    val root = tmp()
    // docs 9, 4 and 2 share one text, so they tie; 7 scores apart
    Bm25Index.build(spark, root, Seq((9L, "a b"), (4L, "a b"), (7L, "a c c"),
      (2L, "a b"), (5L, "c d")).toDF("doc_id", "text"), nBuckets = 2, tag = 1)
    val rows = sameArms(root, Seq("a", "b"), 10)
    assert(rows.map(_.getLong(0)) == Seq(2L, 4L, 9L, 7L))
    assert(rows.take(3).map(_.getDouble(1)).distinct.length == 1)
    def failure(df: => org.apache.spark.sql.DataFrame) = {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.collect())
      (e.getClass, e.getCondition)
    }
    val m = graft.operators.SeqIds.mark()
    try assert(failure(Bm25Index.topK(spark, root, Seq("a"), -1)) ==
      failure(Bm25Index.topKBounded(spark, root, Seq("a"), -1, localMaxBytes = 0L)))
    finally graft.operators.SeqIds.releaseSince(m)
  }

  test("topK's arms agree on the t_bm25_indexed fixture's own query") {
    val root = graft.queries.Fixtures.bm25(spark, sf())
    assert(sameArms(root, Seq("dup", "spark", "merge"), 25).nonEmpty)
  }
}

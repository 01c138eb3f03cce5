package graft

import graft.ext.Ivf
import graft.lake.{BucketedUpsert, Snapshot}
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle: build → append → search-from-disk
  * must equal the in-memory assignment of the full corpus against the
  * base-seeded centroids; appends assign against the STORED quantizer
  * (never re-train); re-ingesting a key replaces its vector.
  */
class IvfIndexSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ivfidx-spec").toString + "/idx"

  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")

  test("build + append + disk search equals the in-memory composition") {
    val root = tmp()
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val extra = emb.filter(col("vec_id") % 4 === 0)
    Ivf.buildIndex(spark, root, base, k = 4, nBuckets = 8, tag = 1)
    Ivf.appendToIndex(spark, root, extra, tag = 2)

    val q = emb.filter(col("vec_id") % 25 === 0).limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val fromDisk = Ivf.searchIndex(spark, root, q, topK = 3, nProbe = 2)
      .select("qid", "rank", "vec_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).sorted

    val cents = Ivf.seedCentroids(base, 4)
    val inMem = Ivf.search(spark, Ivf.assign(spark, emb, cents), q, cents,
        topK = 3, nProbe = 2)
      .select("qid", "rank", "vec_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(fromDisk.sameElements(inMem))
    assert(fromDisk.nonEmpty)
    // the corpus table holds every vector exactly once
    assert(BucketedUpsert.read(spark, s"$root/corpus").count() == emb.count())
  }

  test("re-ingesting a key replaces its vector (upsert, not append-only)") {
    val root = tmp()
    Ivf.buildIndex(spark, root, emb.limit(50), k = 2, nBuckets = 4, tag = 1)
    val before = BucketedUpsert.read(spark, s"$root/corpus").count()
    // re-ingest one existing key with a new embedding (first vector's id)
    val vid = emb.orderBy("vec_id").select("vec_id").head.getLong(0)
    val replacement = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"),
        expr("transform(embedding, x -> float(0.5))").as("embedding"),
        col("label"))
    Ivf.appendToIndex(spark, root, replacement, tag = 2)
    val corpus = BucketedUpsert.read(spark, s"$root/corpus")
    assert(corpus.count() == before, "replacement must not grow the table")
    val got = corpus.filter(col("vec_id") === vid)
      .select(expr("embedding[0]")).head.getFloat(0)
    assert(got == 0.5f, "the re-ingested key must carry the NEW vector")
  }

  test("deleteFromIndex removes the ids, keeps the quantizer, and search never returns them") {
    val root = tmp()
    Ivf.buildIndex(spark, root, emb, k = 4, nBuckets = 8, tag = 1)
    val centBefore = Snapshot.read(spark, s"$root/centroids")
      .collect().map(_.toString).sorted
    val before = BucketedUpsert.read(spark, s"$root/corpus").count()

    val doomed = emb.filter(col("vec_id") % 9 === 2).select("vec_id")
    val nDoomed = doomed.count()
    val removed = Ivf.deleteFromIndex(spark, root, doomed, tag = 2)
    assert(removed == nDoomed)
    val corpus = BucketedUpsert.read(spark, s"$root/corpus")
    assert(corpus.count() == before - nDoomed)
    assert(corpus.filter(col("vec_id") % 9 === 2).count() == 0)

    // quantizer untouched: cells thin, they never move
    val centAfter = Snapshot.read(spark, s"$root/centroids")
      .collect().map(_.toString).sorted
    assert(centBefore.sameElements(centAfter))

    val q = emb.filter(col("vec_id") % 25 === 0).limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val hits = Ivf.searchIndex(spark, root, q, topK = 3, nProbe = 2)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.forall(_ % 9 != 2), "search must never surface a deleted vector")
  }

  test("a zero-row leading file does not wedge the streaming ingest") {
    val base = java.nio.file.Files.createTempDirectory("ivfst0-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    val sliceA = emb.filter(col("vec_id") % 2 === 0)
    val sliceB = emb.filter(col("vec_id") % 2 =!= 0)
    // the empty leading batch must be SKIPPED (seeding a quantizer from
    // nothing would publish empty centroids and wedge every later batch)
    graft.queries.writeOrderedBatches(src, Seq(emb.limit(0), sliceA, sliceB))
    val updates = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Ivf.streamingIngest(spark, updates, root, ckp, k = 4, nBuckets = 8)
    val batchRoot = s"$base/batch-idx"
    Ivf.buildIndex(spark, batchRoot, sliceA, k = 4, nBuckets = 8, tag = 1)
    Ivf.appendToIndex(spark, batchRoot, sliceB, tag = 2)
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def top(r: String) = Ivf.searchIndex(spark, r, q, topK = 3, nProbe = 2)
      .select("qid", "rank", "vec_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
    assert(top(root) == top(batchRoot),
      "post-skip ingest must equal the batch lifecycle")
  }

  test("streamingIngest equals the batch lifecycle and restarts are no-ops") {
    val base = java.nio.file.Files.createTempDirectory("ivfst-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    val sliceA = emb.filter(col("vec_id") % 2 === 0)
    val sliceB = emb.filter(col("vec_id") % 2 =!= 0)
    graft.queries.writeOrderedBatches(src, Seq(sliceA, sliceB))
    def updates = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Ivf.streamingIngest(spark, updates, root, ckp, k = 4, nBuckets = 8)

    // equality with the batch lifecycle on the same slices
    val batchRoot = s"$base/batch-idx"
    Ivf.buildIndex(spark, batchRoot, sliceA, k = 4, nBuckets = 8, tag = 1)
    Ivf.appendToIndex(spark, batchRoot, sliceB, tag = 2)
    def corpusOf(r: String) = BucketedUpsert.read(spark, s"$r/corpus")
      .select("vec_id", "cell").collect()
      .map(x => (x.getLong(0), x.getInt(1))).sorted.toSeq
    assert(corpusOf(root) == corpusOf(batchRoot),
      "streaming ingest must converge to the batch lifecycle's index")

    // restart on the same checkpoint: nothing new → published state
    // unchanged (the ledger skips; no rebuild, no tag movement)
    val tagBefore = Snapshot.currentTag(spark, s"$root/corpus")
    Ivf.streamingIngest(spark, updates, root, ckp, k = 4, nBuckets = 8)
    assert(Snapshot.currentTag(spark, s"$root/corpus") == tagBefore)
    assert(corpusOf(root) == corpusOf(batchRoot))
  }

  test("append before build fails fast; centroid tag tracks appends") {
    val root = tmp()
    intercept[IllegalStateException](
      Ivf.appendToIndex(spark, root, emb.limit(5), tag = 1))
    Ivf.buildIndex(spark, root, emb.limit(100), k = 2, nBuckets = 4, tag = 1)
    Ivf.appendToIndex(spark, root, emb.limit(120).except(emb.limit(100)), tag = 2)
    assert(Snapshot.currentTag(spark, s"$root/centroids").contains(2L))
    assert(Snapshot.currentTag(spark, s"$root/corpus").contains(2L))
  }

  test("an index emptied by takedowns accepts the next append (bucket-count fallback)") {
    val root = tmp()
    Ivf.buildIndex(spark, root, emb.limit(50), k = 4, nBuckets = 8, tag = 1)
    // takedown-all: the zero-entry manifest forgets its bucket count
    Ivf.deleteFromIndex(spark, root,
      emb.limit(50).select("vec_id"), tag = 2)
    // fully emptied: the manifest resolves but has zero entries (read
    // itself refuses an empty table — the tag proves the publish)
    assert(Snapshot.currentTag(spark, s"$root/corpus").contains(2L))
    assert(BucketedUpsert.bucketCountOption(spark, s"$root/corpus").isEmpty,
      "an emptied table must have forgotten its bucket count")
    // the next append must NOT throw 'no published bucketed table' —
    // same emptied-table fallback contract as Bm25Index.append
    Ivf.appendToIndex(spark, root,
      emb.filter(col("vec_id") % 4 === 1).limit(30), tag = 3,
      nBucketsIfEmpty = 8)
    assert(BucketedUpsert.read(spark, s"$root/corpus").count() == 30)
  }

  test("a retrain mid-stream fails the resumed stream fast (ledger reads the LIVE generation)") {
    val base = java.nio.file.Files.createTempDirectory("ivfretrain-spec").toString
    val src = s"$base/src"; val root = s"$base/idx"; val ckp = s"$base/ckp"
    val b1 = emb.filter(col("vec_id") % 3 === 0)
      .select("vec_id", "embedding", "label")
    graft.queries.writeOrderedBatches(src, Seq(b1))
    def stream() = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Ivf.streamingIngest(spark, stream(), root, ckp, k = 4, nBuckets = 8)
    // out-of-band retrain with a tag far above the stream's batch ids:
    // the NEW generation's ledger starts there
    Ivf.retrainIndex(spark, root, k = 4, tag = 100)
    // resume with a new file: the ledger must consult the LIVE corpus
    // (published v100+) and fail fast — reading the retired original
    // corpus (frozen at the old tag) would silently re-apply and wedge
    b1.limit(5).coalesce(1).write.mode("append").parquet(src)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Ivf.streamingIngest(spark, stream(), root, ckp, k = 4, nBuckets = 8))
    def says(t: Throwable, w: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(w)) ||
        says(t.getCause, w))
    assert(says(ex, "retrain"), s"must name the retrain hazard: ${ex.getMessage}")
  }

  // ---- the driver arm of searchIndex against the distributed plan (bound 0)

  /** Both arms of `searchIndex` for `q`: the same rows in the same
    * order under the same schema, or the same failure; the rows. */
  private def sameArms(root: String, q: org.apache.spark.sql.DataFrame,
                       topK: Int = 3, nProbe: Int = 2): Seq[org.apache.spark.sql.Row] = {
    def run(bound: Long) = scala.util.Try {
      val df = Ivf.searchIndexBounded(spark, root, q, topK, nProbe, bound)
      (df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        df.schema, df.collect().toSeq)
    }
    (run(graft.lake.FileStats.LocalizeMaxBytes), run(0L)) match {
      case (scala.util.Success((local, ls, a)), scala.util.Success((dist, ds, b))) =>
        assert(local && !dist, "only the bounded call may take the driver arm")
        assert(ls == ds)
        assert(a == b, s"driver arm $a != distributed $b")
        a
      case (scala.util.Failure(x: org.apache.spark.SparkThrowable),
            scala.util.Failure(y: org.apache.spark.SparkThrowable)) =>
        assert(x.getClass == y.getClass && x.getCondition == y.getCondition,
          s"driver arm failed with $x, distributed with $y")
        Nil
      case (a, b) => fail(s"driver arm $a, distributed $b")
    }
  }

  private def vecQueries(qs: (Long, Seq[java.lang.Float])*) = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.Arrays.asList(
      qs.map { case (id, v) => org.apache.spark.sql.Row(id, v) }: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qemb", ArrayType(FloatType)))))
  }

  /** The embedding of `vecId`, with elements changed by `edit`. */
  private def vecOf(vecId: Long, edit: Seq[java.lang.Float] => Seq[java.lang.Float] = identity) =
    edit(emb.filter(col("vec_id") === vecId).head().getSeq[Float](1)
      .map(x => java.lang.Float.valueOf(x)))

  private lazy val built = {
    val root = tmp()
    Ivf.buildIndex(spark, root, emb.filter(col("vec_id") % 4 =!= 0), k = 4,
      nBuckets = 8, tag = 1)
    Ivf.appendToIndex(spark, root, emb.filter(col("vec_id") % 4 === 0), tag = 2)
    root
  }

  test("searchIndex's driver arm equals the distributed plan: self-match, topK, probes") {
    val q = emb.filter(col("vec_id") % 25 === 0).limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val rows = sameArms(built, q)
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) != r.getLong(2)),
      "a query's own vector is never its neighbor")
    val wide = sameArms(built, q, topK = 100000, nProbe = 100)
    assert(wide.length < 8 * 100000, "topK above the candidate count")
    assert(sameArms(built, q, topK = 0).isEmpty)
    assert(sameArms(built, q, topK = -1).isEmpty)
    assert(sameArms(built, q, nProbe = 0).isEmpty)
  }

  test("searchIndex's driver arm orders NaN and NULL scores and zero queries as Spark does") {
    val ids = emb.select("vec_id").orderBy("vec_id").limit(3).collect().map(_.getLong(0))
    val nanQ = vecOf(ids(0), v => java.lang.Float.valueOf(Float.NaN) +: v.tail)
    val nullQ = vecOf(ids(1), v => null +: v.tail)
    val rows = sameArms(built, vecQueries((-1L, nanQ), (-2L, nullQ), (-3L, vecOf(ids(2)))))
    assert(rows.exists(r => r.getLong(0) == -1L && r.getDouble(3).isNaN))
    assert(rows.exists(r => r.getLong(0) == -2L && r.isNullAt(3)))
    // a zero query divides by a zero norm: the DIVIDE_BY_ZERO error in
    // both arms under ANSI mode, NULL scores in both without it
    val zero = vecQueries((-4L, vecOf(ids(0), _.map(_ => java.lang.Float.valueOf(0f)))))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    assert(ansi != "true" || sameArms(built, zero).isEmpty)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(sameArms(built, zero).forall(_.isNullAt(3)))
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("searchIndex's driver arm ranks a duplicated qid as one window") {
    val ids = emb.select("vec_id").orderBy("vec_id").limit(2).collect().map(_.getLong(0))
    val rows = sameArms(built, vecQueries((-7L, vecOf(ids(0))), (-7L, vecOf(ids(0))),
      (-8L, vecOf(ids(0))), (-8L, vecOf(ids(1)))), topK = 6)
    assert(rows.count(_.getLong(0) == -7L) == 6)
  }

  test("searchIndex's arms agree after deletes and through a retrain's generation pointer") {
    val root = tmp()
    Ivf.buildIndex(spark, root, emb, k = 4, nBuckets = 8, tag = 1)
    Ivf.deleteFromIndex(spark, root, emb.filter(col("vec_id") % 9 === 2).select("vec_id"),
      tag = 2)
    val q = emb.filter(col("vec_id") % 25 === 0).limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    assert(sameArms(root, q).forall(_.getLong(2) % 9 != 2))
    Ivf.retrainIndex(spark, root, k = 6, tag = 3)
    assert(Ivf.livePaths(spark, root)._2.contains("/g3/"))
    assert(sameArms(root, q).nonEmpty)
  }

  test("searchIndex keeps the distributed plan for a query batch of unbounded size") {
    val all = emb.select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val df = Ivf.searchIndex(spark, built, all, topK = 3, nProbe = 2)
    assert(!df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "a query frame with no row bound gives no pair estimate")
    assert(sameArms(built, all.limit(8)).nonEmpty)
  }

  test("searchIndex's arms agree on the ann_ivf_persist fixture's own queries") {
    val d = sf()
    val q = graft.Tables.t(spark, d, "embeddings")
      .filter(col("vec_id") % 50 === 0).orderBy("vec_id")
      .limit(graft.queries.SimQueries.MaxQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    assert(sameArms(graft.queries.Fixtures.ivf(spark, d), q).nonEmpty)
  }
}

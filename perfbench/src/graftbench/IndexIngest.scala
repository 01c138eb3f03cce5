package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Bm25Index, Ivf}
import graft.lake.BucketedUpsert
import graft.operators.SeqIds

/** The index half of `lake_index`: each batch lands one batch of documents
  * and one of embeddings as files, folds each into its persisted index
  * with one AvailableNow restart of the streaming ingest, then searches.
  * Every batch plants one document with a token no other document has
  * and one vector, and the searches for them must rank them first. */
final class IndexIngest(ctx: Ctx) {
  import IndexIngest._
  import ctx.{spark, tr}

  private val rnd = new Random(ctx.seed)
  private val docsSrc = ctx.path("src/docs")
  private val vecsSrc = ctx.path("src/vecs")
  private val staging = ctx.path("staging")
  private val bm25 = ctx.path("idx/bm25")
  private val ivf = ctx.path("idx/ivf")
  private var batch = 0
  private var docs = 0L
  private var vecs = 0L

  // a Zipf-like vocabulary: word i drawn with weight 1/(i+1)
  private val vocab = {
    val r = new Random(ctx.seed ^ 0x5eedL)
    (0 until Vocab).map(_ => (0 until 3 + r.nextInt(5)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
      .distinct
  }
  private val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
  private def word(): String = {
    val u = rnd.nextDouble() * cdf.last
    vocab(java.util.Arrays.binarySearch(cdf, u) match { case i if i < 0 => -i - 1; case i => i })
  }
  private val centers = Seq.fill(Clusters)(Seq.fill(Dim)(rnd.nextGaussian()))

  private def vector(): Seq[Float] = {
    val c = centers(rnd.nextInt(Clusters))
    c.map(x => (x + Noise * rnd.nextGaussian()).toFloat)
  }

  private def land(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = new File(staging, name)
    tmp.getParentFile.mkdirs()
    Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    new File(dir).mkdirs()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def docLine(id: Long, text: String) = s"""{"doc_id": $id, "text": ${Json.str(text)}}"""
  private def vecLine(id: Long, v: Seq[Float]) =
    s"""{"vec_id": $id, "embedding": ${v.mkString("[", ", ", "]")}, "label": ${id % 7}}"""

  private def text(): String = Seq.fill(DocMin + rnd.nextInt(DocMax - DocMin))(word()).mkString(" ")

  /** Land batch `b`: `n` documents and vectors, plus the planted pair. */
  private def landBatch(n: Int): (Long, String, Long, Seq[Float]) = {
    val b = batch
    val plantedToken = s"zq${b}x"
    val ds = (0 until n).map(_ => { docs += 1; docLine(docs, text()) })
    docs += 1
    val plantedDoc = docs
    val vs = (0 until n).map(_ => { vecs += 1; vecLine(vecs, vector()) })
    vecs += 1
    val plantedVec = vecs
    val pv = vector()
    land(docsSrc, f"b$b%06d.json",
      ds :+ docLine(plantedDoc, s"$plantedToken ${text()} $plantedToken $plantedToken"))
    land(vecsSrc, f"b$b%06d.json", vs :+ vecLine(plantedVec, pv))
    batch += 1
    (plantedDoc, plantedToken, plantedVec, pv)
  }

  private def ingest(): Unit = {
    tr.call("ext.Bm25Index.streamingIngest")(Bm25Index.streamingIngest(spark,
      spark.readStream.schema(DocSchema).json(docsSrc), bm25, ctx.path("ckp/bm25"), Buckets))
    tr.call("ext.Ivf.streamingIngest")(Ivf.streamingIngest(spark,
      spark.readStream.schema(VecSchema).json(vecsSrc), ivf, ctx.path("ckp/ivf"),
      k = Cells, nBuckets = Buckets))
  }

  private def timedSearch[T](name: String)(body: => T): T =
    ctx.timed("read.search")(tr.call(name)(body))

  /** BM25 top-k, collected; the pinned frames it leaves are released. */
  private def topK(terms: Seq[String], k: Int): Seq[Long] = timedSearch("ext.Bm25Index.topK") {
    val m = SeqIds.mark()
    try Bm25Index.topK(spark, bm25, terms, k).collect().map(_.getAs[Long]("doc_id")).toSeq
    finally SeqIds.releaseSince(m)
  }

  private def nearest(qid: Long, q: Seq[Float]): Seq[Long] = {
    import spark.implicits._
    val qs = Seq((qid, q)).toDF("qid", "qemb")
    timedSearch("ext.Ivf.searchIndex")(Ivf.searchIndex(spark, ivf, qs, topK = 3, nProbe = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq)
  }

  def generate(): Unit = {
    land(docsSrc, "b000000.json", (0 until SeedDocs).map(_ => { docs += 1; docLine(docs, text()) }))
    land(vecsSrc, "b000000.json", (0 until SeedVecs).map(_ => { vecs += 1; vecLine(vecs, vector()) }))
    batch = 1
  }

  def build(): Unit = ingest()

  /** Land a batch, fold it into both indexes (its freshness), then
    * search for what it planted. */
  def batchOp(): Unit = {
    val (pd, token, pvId, pv) = landBatch(BatchSize)
    val (hitDoc, hitVec) = tr.op("batch") {
      ctx.timed("write.batch")(ingest())
      val hitDoc = topK(Seq(token), 5)
      val q = pv.map(x => (x + 1e-4 * rnd.nextGaussian()).toFloat)
      (hitDoc, nearest(-batch.toLong, q))
    }
    ctx.check("index_ingest.planted_doc_first")(hitDoc.headOption.contains(pd))
    ctx.check("index_ingest.planted_vector_first")(hitVec.headOption.contains(pvId))
  }

  def finish(): Unit = {
    ctx.check("index_ingest.final_doc_count")(
      BucketedUpsert.read(spark, s"$bm25/docstats").count() == docs)
    ctx.check("index_ingest.final_vector_count")(
      BucketedUpsert.read(spark, s"$ivf/corpus").count() == vecs)
  }

}

object IndexIngest {
  val Vocab = 3000
  val SeedDocs = 500
  val SeedVecs = 500
  val BatchSize = 25
  val DocMin = 20
  val DocMax = 60
  val Dim = 32
  val Clusters = 16
  val Cells = 16
  val Noise = 0.35
  val Buckets = 16

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", LongType)))
}

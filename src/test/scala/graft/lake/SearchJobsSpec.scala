package graft.lake

import graft.SparkSpec
import graft.ext.{Bm25Index, Ivf}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark jobs per index search on the `lake_index` benchmark's index
  * shape: 500 seed documents (20–59 words of a Zipf-weighted 3,000-word
  * vocabulary) and 500 seed vectors (32 dims around 16 centers), both
  * indexes in 16 buckets, 16 IVF cells, then one 26-row append, as each
  * benchmark batch lands before it searches. Both indexes fit the
  * localize bounds, so each search collects its inputs in one scan and
  * ranks them on the driver.
  */
class SearchJobsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(1)
  private val vocab = (0 until 3000).map(_ =>
    (0 until 3 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).distinct
  private val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
    vocab(if (i < 0) -i - 1 else i)
  }
  private def text(): String = Seq.fill(20 + rnd.nextInt(40))(word()).mkString(" ")
  private val centers = Seq.fill(16)(Seq.fill(32)(rnd.nextGaussian()))
  private def vector(): Seq[Float] =
    centers(rnd.nextInt(16)).map(x => (x + 0.35 * rnd.nextGaussian()).toFloat)

  private def docs(ids: Range, planted: Option[String] = None) = {
    import spark.implicits._
    (ids.map(i => (i.toLong, text())) ++
      planted.map(t => (ids.last + 1L, s"$t ${text()} $t $t"))).toDF("doc_id", "text")
  }
  private def vecs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, vector(), i.toLong % 7)).toDF("vec_id", "embedding", "label")
  }

  private lazy val (bm25, ivf) = {
    val base = java.nio.file.Files.createTempDirectory("search-jobs").toString
    Bm25Index.build(spark, s"$base/bm25", docs(1 to 500), nBuckets = 16, tag = 1)
    Ivf.buildIndex(spark, s"$base/ivf", vecs(1 to 500), k = 16, nBuckets = 16, tag = 1)
    // one warm search each, as the benchmark's warm-up runs
    Bm25Index.topK(spark, s"$base/bm25", Seq(vocab(0)), 5).collect()
    Ivf.searchIndex(spark, s"$base/ivf", query(1L), topK = 3, nProbe = 2).collect()
    Bm25Index.append(spark, s"$base/bm25", docs(501 to 525, Some("zq1x")), tag = 2)
    Ivf.appendToIndex(spark, s"$base/ivf", vecs(501 to 526), tag = 2)
    (s"$base/bm25", s"$base/ivf")
  }

  private def query(vecId: Long) = {
    val schema = StructType(Seq(StructField("qid", LongType, nullable = false),
      StructField("qemb", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(Row(-vecId, vector())), schema)
  }

  test("after an append, Bm25Index.topK submits only its scan") {
    val root = bm25
    val (rows, jobs) = jobsDuring(Bm25Index.topK(spark, root, Seq("zq1x"), 5).collect())
    assert(rows.headOption.map(_.getLong(0)).contains(526L))
    assert(jobs <= 1, s"topK submitted $jobs jobs")
  }

  test("after an append, Ivf.searchIndex submits only its scan") {
    val (root, q) = (ivf, query(2L))
    val (rows, jobs) = jobsDuring(
      Ivf.searchIndex(spark, root, q, topK = 3, nProbe = 2).collect())
    assert(rows.length == 3)
    assert(jobs <= 1, s"searchIndex submitted $jobs jobs")
  }

  test("the centroids appendToIndex re-publishes read back with no job") {
    val cent = s"$ivf/centroids"
    val (rows, jobs) = jobsDuring(Snapshot.readLocalized(spark, cent).collect())
    assert(jobs == 0, s"reading the re-published centroids submitted $jobs jobs")
    val cold = spark.read.parquet(Snapshot.resolve(spark, cent).get)
    assert(Snapshot.readLocalized(spark, cent).schema == cold.schema)
    assert(rows.map(_.toString).sorted.toSeq == cold.collect().map(_.toString).sorted.toSeq)
  }
}

package graft.datasets

import graft.functions.Portable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Train/val/test split orchestration — the reference's signature
  * operation (image_sampler, TrainDatasets.py:235-287; iid_sampler
  * :423-427), re-expressed with content-keyed md5 bucketing instead of
  * unseeded Python RNG (documented deviation: reproducible by design).
  *
  * Scale shape: the split label is a pure function of the image name,
  * so it is computed on the anno side; routing is one broadcast
  * semi-join against the tag-filtered image names — no shuffle, and
  * never the reference's O(images × annos) loop.
  */
object Samplers {

  final case class Split(train: DataFrame, valSet: DataFrame, test: DataFrame)

  /** Tag-skip filter (P5, ref filter_skip_tags :204-211): the names of
    * the images that carry none of `skipTags`, duplicates kept.
    */
  private def keptImageNames(images: DataFrame, skipTags: Seq[String]): DataFrame = {
    val filtered =
      if (skipTags.isEmpty) images
      // coalesce: arrays_overlap returns NULL (not false) when the tags
      // array holds a null ELEMENT and nothing matches — uncoalesced,
      // three-valued logic silently dropped such images from every
      // split (and diverged from DuckDB's list_has_any, which ignores
      // null elements)
      else images.filter(!coalesce(arrays_overlap(col("tags"),
        array(skipTags.map(lit): _*)), lit(false)))
    filtered.select("image_name")
  }

  /** Tag-skip filter + distinct image names (A1, ref :191-202). */
  def uniqueImageNames(images: DataFrame, skipTags: Seq[String]): DataFrame =
    keptImageNames(images, skipTags).distinct()

  /** Annotations labeled with their image's split in ONE pass: the md5
    * label depends only on `image_name`, so it is computed per anno row,
    * and membership is a broadcast left-semi join against the kept
    * image names. Annos on images failing the tag skip, on unknown
    * images or with a NULL name are dropped, mirroring the reference's
    * routing loop; a semi-join never duplicates a row, so duplicate
    * image rows need no `distinct()` (and no shuffle). Output columns:
    * `image_name`, the other anno columns in order, then `split`.
    */
  def labeledAnnos(annos: DataFrame, images: DataFrame, skipTags: Seq[String],
                   valBuckets: Int, testBuckets: Int): DataFrame =
    annos.join(broadcast(keptImageNames(images, skipTags)), Seq("image_name"), "left_semi")
      .select(col("image_name") +: annos.columns.filter(_ != "image_name").map(col): _*)
      .withColumn("split",
        Portable.md5SplitLabel(col("image_name"), valBuckets, valBuckets + testBuckets))

  /** image_sampler (ref :235-287): annotations routed to val/test/train
    * by their image's split. `valBuckets`/`testBuckets` are out of 4096
    * (e.g. 409 ≈ 10%). The three frames are filters over one labeled
    * pass, not three separate scans.
    */
  def imageSampler(annos: DataFrame, images: DataFrame, skipTags: Seq[String],
                   valBuckets: Int, testBuckets: Int): Split = {
    val labeled = labeledAnnos(annos, images, skipTags, valBuckets, testBuckets)
    def part(label: String) =
      labeled.filter(col("split") === label).drop("split")
    Split(part("train"), part("val"), part("test"))
  }

  /** iid_sampler / db_query_sampler (ref :423-433): deterministic
    * fraction of distinct item ids.
    */
  def iidSampler(df: DataFrame, idCol: String, buckets4096: Int): DataFrame =
    df.select(idCol).distinct()
      .filter(Portable.md5Sample(col(idCol), buckets4096))

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: keep the
    * k rows with the largest u^(1/w) — equivalently the largest
    * ln(u)/w — where u is a per-row uniform. Here u is minted from the
    * 48-bit md5(key) prefix instead of RNG state, so the draw is
    * reproducible across reruns, engines, and cluster sizes (same policy
    * as the md5 split samplers above).
    *
    * Scale shape: one scan-side map plus a distributed top-k
    * (TakeOrderedAndProject: per-partition heaps of k, then a k-sized
    * merge at the driver) — no shuffle, no global sort. At 100 TB the
    * only movement is k rows per partition.
    *
    * Float note: ln() is correct to 1 ulp in each engine but not
    * guaranteed bit-identical between them; with md5-uniform scores the
    * closest adjacent score pair at realistic n is ~1e-9 relative apart,
    * far above ulp scale, so selection and rank are engine-stable.
    * Output keeps `es_score` as a column for downstream tie-breaks but
    * oracle-checked queries should project it away (raw-double hash).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val u48 = conv(substring(Portable.md5Key(col(keyCol)), 1, 12), 16, 10).cast("long")
    val u = (u48.cast("double") + lit(0.5)) / lit(281474976710656.0) // 2^48
    // E-S is defined for positive weights only: w=0 gives -Inf (never
    // picked — fine), but a NEGATIVE w flips ln(u)/w positive and would
    // rank the row AHEAD of every valid one. Treat w<=0 as p=0.
    df.filter(col(weightCol).cast("double") > 0)
      .withColumn("es_score", log(u) / col(weightCol).cast("double"))
      .orderBy(desc("es_score"), col(keyCol))
      .limit(k)
  }

  /** Deterministic MIXTURE sampling — the training-data "data recipe"
    * step: given per-source integer weights and a token budget (a
    * fraction `budgetNum/budgetDen` of the corpus' total `sizeCol`),
    * select a per-source deterministic subset whose expected size hits
    * the source's share of the budget. A source's keep-rate is
    * `budget · w_s/ΣW · (T/tot_s)` capped at 1 — undersized sources are
    * taken whole (the cap), oversized ones thinned.
    *
    * Selection is the md5-prefix Bernoulli of [[Portable.md5Sample]]
    * with a PER-SOURCE bucket threshold, so the draw is scan-side
    * (broadcast join against a source-count-sized rate table, no
    * shuffle of the corpus), reproducible across engines and cluster
    * sizes, and — because membership depends only on the key hash —
    * MONOTONE in the budget: raising the budget only adds documents,
    * never swaps them (the property that makes ablation runs nested).
    *
    * Cross-engine exactness: thresholds are computed in pure integer
    * arithmetic (floor division over Long; weights are integers, sizes
    * are summed as Long), so the oracle reproduces the same buckets
    * digit-for-digit — no float rate ever exists to round differently.
    * The per-source totals pass is one partial aggregate collected at
    * source-count (dimension) scale.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, keyCol: String,
                    sizeCol: String, weights: Map[String, Long],
                    budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction out of range: $budgetNum/$budgetDen")
    require(weights.nonEmpty && weights.values.forall(_ >= 0) && weights.values.sum > 0,
      "weights must be non-negative with a positive sum")
    val wSum = weights.values.sum
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(col(sizeCol)).cast("long").as("tot"))
      .collect().map(r => r.getString(0) ->
        // an all-NULL sizeCol source sums to NULL — treat as mass 0
        // (the tot <= 0 branch below already handles it)
        (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap // dimension-sized
    val grand = totals.values.sum
    val buckets = totals.map { case (src, tot) =>
      val w = weights.getOrElse(src, 0L)
      // BigInt: at 100 TB token masses the numerator (4096·num·w·grand)
      // and denominator (den·wSum·tot) both overflow Long, and a
      // wrapped-negative bucket would render as a 16-char %03x string
      // that KEEPS the whole source. The math is driver-side and
      // dimension-sized — exactness costs nothing.
      val b = if (tot <= 0 || w == 0) 0L
              else (BigInt(4096) * budgetNum * w * grand /
                (BigInt(budgetDen) * wSum * tot)).min(BigInt(4096)).toLong
      src -> b
    }
    val spark = df.sparkSession
    import spark.implicits._
    // NULL-SAFE join: a NULL source appears in `totals` (groupBy keeps
    // the null group) and so in `rates`, but a plain equi-join would
    // never match it (NULL != NULL) and its rows would silently vanish.
    // <=> routes them through the same explicit rate row as any other
    // source — weight 0 (dropped as bucket 0) unless the caller's map
    // carries a null key with a weight.
    val rates = buckets.toSeq.toDF("mix_src", "mix_bucket")
    df.join(broadcast(rates), col(sourceCol) <=> col("mix_src"))
      .filter(col("mix_bucket") >= 4096 ||
        substring(Portable.md5Key(col(keyCol)), 1, 3) <
          format_string("%03x", col("mix_bucket")))
      .drop("mix_src", "mix_bucket")
  }
}

package graft

import graft.datasets.Samplers
import org.apache.spark.sql.functions._

/** Split invariants (SURVEY §5 property 4): partitions are disjoint,
  * exhaustive over non-skipped images, deterministic across calls, and
  * near the requested fractions.
  */
class SamplersSpec extends SparkSpec {
  import spark.implicits._

  private def annos = (1 to 2000).map(i => (s"img_${i % 400}", i.toLong))
    .toDF("image_name", "anno_key")
  private def images = (0 until 400).map(i =>
    (s"img_$i", if (i % 10 == 0) Seq("badimage") else Seq.empty[String]))
    .toDF("image_name", "tags")

  test("train/val/test are disjoint, exhaustive, and deterministic") {
    val s = Samplers.imageSampler(annos, images, Seq("badimage"), 409, 410)
    val (tr, va, te) = (s.train.count(), s.valSet.count(), s.test.count())
    val kept = annos.join(images.filter(!array_contains(col("tags"), "badimage")),
      Seq("image_name"), "left_semi").count()
    assert(tr + va + te == kept, s"$tr + $va + $te != $kept")
    // disjoint by image
    val trImgs = s.train.select("image_name").distinct()
    val vaImgs = s.valSet.select("image_name").distinct()
    assert(trImgs.join(vaImgs, Seq("image_name"), "left_semi").count() == 0)
    // deterministic: second call produces identical membership
    val s2 = Samplers.imageSampler(annos, images, Seq("badimage"), 409, 410)
    assert(s2.valSet.select("anno_key").except(s.valSet.select("anno_key")).count() == 0)
    // fractions within loose tolerance (10%/10% requested over 360 images)
    assert(va.toDouble / kept > 0.03 && va.toDouble / kept < 0.25)
  }

  test("labeledAnnos equals the inner-join labeler, without a shuffle and with fewer jobs") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val images = (Seq(
      ("img_1", Seq("night")), ("img_1", Seq("night")), // duplicate rows for one image
      ("img_2", null.asInstanceOf[Seq[String]]),        // NULL tags column
      ("img_3", Seq("ok", null)),                       // null tag element
      ("img_4", Seq("badimage"))) ++
      (5 until 40).map(i => (s"img_$i", Seq.empty[String])))
      .toDF("image_name", "tags")
    // image_name is not the first anno column, so the column order is pinned
    val annos = ((0 until 200).map(i => (i.toLong, s"img_${i % 42}", s"cat_${i % 3}")) ++
      Seq((900L, "img_unknown", "cat_0"), (901L, null.asInstanceOf[String], "cat_1")))
      .toDF("anno_key", "image_name", "category")
    // the labeler as an inner join against distinct labeled names
    def reference(skipTags: Seq[String]): DataFrame =
      annos.join(broadcast(Samplers.uniqueImageNames(images, skipTags)
        .withColumn("split", graft.functions.Portable.md5SplitLabel(col("image_name"), 409, 819))),
        Seq("image_name"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (skip <- Seq(Seq("badimage"), Nil)) {
      val got = Samplers.labeledAnnos(annos, images, skip, 409, 410)
      val ref = reference(skip)
      assert(got.schema == ref.schema, s"${got.schema} vs ${ref.schema}")
      assert(rows(got) == rows(ref), s"skip=$skip")
    }
    def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val valSet = Samplers.imageSampler(annos, images, Seq("badimage"), 409, 410).valSet
    assert(shuffles(valSet.queryExecution.executedPlan).isEmpty,
      valSet.queryExecution.executedPlan.toString)
    val refVal = reference(Seq("badimage")).filter(col("split") === "val").drop("split")
    val (_, jobs) = jobsDuring(noop(valSet))
    val (_, refJobs) = jobsDuring(noop(refVal))
    assert(jobs < refJobs, s"$jobs jobs for one split's eval, $refJobs with the inner join")
  }

  test("weightedSample draws k, deterministically, skewed to heavy weights, via top-k not global sort") {
    val df = (1 to 2000).map(i => (i.toLong, if (i <= 200) 100.0 else 1.0))
      .toDF("id", "w")
    val k = 100
    val picked = Samplers.weightedSample(df, "id", "w", k)
    val ids = picked.select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.length == k)
    assert(ids.distinct.length == k) // without replacement
    // deterministic across calls
    val ids2 = Samplers.weightedSample(df, "id", "w", k)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids2)
    // heavy ids are 10% of rows but carry ~91% of total weight; with
    // E-S they must dominate the draw (uniform sampling would give ~10).
    val heavy = ids.count(_ <= 200)
    assert(heavy > 50, s"expected heavy-weight dominance, got $heavy/$k heavy")
    // matches a driver-side brute-force of the same formula
    val brute = df.collect().map { r =>
      val id = r.getLong(0); val w = r.getDouble(1)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 281474976710656.0
      (id, math.log(u) / w)
    }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq
    assert(ids.sorted == brute.sorted)
    // scale shape: distributed top-k, no global sort exchange
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("weightedSample treats non-positive weights as probability zero") {
    // a negative weight flips ln(u)/w positive — naive E-S would rank it
    // ahead of EVERY valid row; zero divides to -Inf (never picked)
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, -1.0), (4L, 0.0))
      .toDF("id", "w")
    val ids = Samplers.weightedSample(df, "id", "w", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"non-positive-weight rows must never be drawn: $ids")
  }

  test("mixtureSample hits per-source budget shares, caps undersized sources, nests by budget") {
    // three sources: 'big' (8000 units), 'mid' (4000), 'tiny' (60).
    // weights big=1, mid=1, tiny=2 → tiny's share of a half-total budget
    // far exceeds its size, so it must be taken WHOLE (rate cap).
    val rows = (1 to 800).map(i => (i.toLong, "big", 10L)) ++
      (1 to 400).map(i => (1000L + i, "mid", 10L)) ++
      (1 to 6).map(i => (2000L + i, "tiny", 10L))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val w = Map("big" -> 1L, "mid" -> 1L, "tiny" -> 2L)

    val half = Samplers.mixtureSample(df, "source", "doc_id", "n_chars", w, 1L, 2L)
      .select("doc_id", "source").collect()
    val bySrc = half.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // tiny: budget share = 1/2·(2/4)·12660 = 3165 units >> 60 → all 6 kept
    assert(bySrc("tiny") == 6, s"undersized source must be taken whole: $bySrc")
    // big and mid share rate = 1/2·(1/4)·12660/size: big ≈ 1583/8000 ≈ 20%,
    // mid ≈ 1583/4000 ≈ 40% — md5 buckets give binomial noise, allow wide
    assert(bySrc("big") > 100 && bySrc("big") < 230, s"big share off: $bySrc")
    assert(bySrc("mid") > 100 && bySrc("mid") < 220, s"mid share off: $bySrc")

    // monotone nesting: the half-budget draw is a SUBSET of the
    // full-budget draw (hash-threshold selection, no reshuffling)
    val fullB = Samplers.mixtureSample(df, "source", "doc_id", "n_chars", w, 9L, 10L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val halfIds = half.map(_.getLong(0)).toSet
    assert(halfIds.subsetOf(fullB),
      "raising the budget must only add documents, never swap them")

    // determinism
    val again = Samplers.mixtureSample(df, "source", "doc_id", "n_chars", w, 1L, 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == halfIds)

    // a source with no weight entry is excluded entirely
    val noW = Samplers.mixtureSample(df, "source", "doc_id", "n_chars",
      Map("big" -> 1L), 1L, 2L).select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(noW == Set("big"))

    // a zero budget selects nothing (and must not divide by zero in
    // the overflow guard)
    assert(Samplers.mixtureSample(df, "source", "doc_id", "n_chars",
      w, 0L, 1L).count() == 0)
  }

  test("mixtureSample thresholds survive Long-overflow-scale parameters (BigInt math)") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (s"src${i % 2}", i, 10L))
      .toDF("source", "doc_id", "n_chars")
    // denominator budgetDen·wSum·tot ~ 1e9 · 1e15 · 500 >> Long.MaxValue:
    // wrapped-Long math produced a negative bucket whose %03x rendering
    // KEPT the whole source; exact math gives bucket 0 → nothing drawn
    val weights = Map("src0" -> 1000000000000000L, "src1" -> 1L)
    val n = Samplers.mixtureSample(df, "source", "doc_id", "n_chars",
      weights, 1L, 1000000000L).count()
    assert(n == 0, s"overflow-scale thresholds must select nothing, got $n")
  }

  test("mixtureSample routes NULL-source rows through an explicit rate row") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, "a", 10L)) ++
      (1 to 50).map(i => (1000L + i, null.asInstanceOf[String], 10L)))
      .toDF("doc_id", "source", "n_chars")
    // no null weight: NULL-source rows are excluded as weight-0 (same
    // semantics as any unweighted source), NOT silently join-dropped —
    // and the weighted source is unaffected by their presence
    val noNull = Samplers.mixtureSample(df, "source", "doc_id", "n_chars",
      Map("a" -> 1L), 9L, 10L)
    val srcs = noNull.select("source").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(srcs == Set(Some("a")), s"null source must behave as weight-0: $srcs")
    // a caller CAN weight the null source explicitly (null map key):
    // the null-safe join matches it like any other rate row
    val withNull = Samplers.mixtureSample(df, "source", "doc_id", "n_chars",
      Map("a" -> 1L, (null: String) -> 1L), 9L, 10L)
    val nullKept = withNull.filter(col("source").isNull).count()
    assert(nullKept > 0, "a weighted null source must contribute rows")
  }

  test("a null tag ELEMENT cannot drop an image from the splits") {
    import spark.implicits._
    val images = Seq(
      ("img_keep", Seq("ok", null)),      // null element, no skip tag
      ("img_skip", Seq("badimage", "x")), // carries the skip tag
      ("img_null", null.asInstanceOf[Seq[String]]) // null tags column
    ).toDF("image_name", "tags")
    val got = Samplers.uniqueImageNames(images, Seq("badimage"))
      .collect().map(_.getString(0)).toSet
    // three-valued arrays_overlap used to silently drop img_keep
    assert(got == Set("img_keep", "img_null"), s"tag-skip wrong: $got")
  }

  test("iidSampler keeps a deterministic ~25% of distinct ids") {
    val df = (1 to 1000).map(i => i.toLong % 200).toDF("item_id")
    val a = Samplers.iidSampler(df, "item_id", 1024).collect().map(_.getLong(0)).toSet
    val b = Samplers.iidSampler(df, "item_id", 1024).collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.size > 20 && a.size < 90) // 200 ids * 25% ± tolerance
  }
}

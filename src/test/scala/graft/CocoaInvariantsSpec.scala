package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ports the reference's unit-test invariants
  * (cocoa/nearest_consented_customers_test.py, pipeline_test.py) onto the
  * Spark engine.
  */
class CocoaInvariantsSpec extends SparkSpec {
  import spark.implicits._

  // Mirrors cocoa/testing_constants.py:20-39 — numeric features a,b,
  // categorical product_level ∈ {1_1, 2_2}, manhattan metric. Consent rows
  // tiled ×10, noconsent ×5.
  private def consentRaw: DataFrame = Seq.tabulate(30) { i =>
    val base = i % 3
    (i.toLong, 1.0 + base, 10.0 + base, 3.0 * (base + 1), Seq("1_1", "2_2", "1_1")(base))
  }.toDF("id", "a", "b", "conv", "product_level")

  private def noconsentRaw: DataFrame = Seq.tabulate(15) { i =>
    val base = i % 3
    (100L + i, 1.0 + base, 10.0 + base, 6.0 + 3.0 * base, Seq("1_1", "2_2", "2_2")(base))
  }.toDF("id", "a", "b", "conv", "product_level")

  private val spec = CohortSpec(
    idCol = "id", valueCol = "conv", tokenCol = "features",
    numCols = Seq("a", "b"), cohortCols = Nil, metric = Manhattan)

  private def encode(df: DataFrame): DataFrame =
    df.withColumn("features", Preprocess.tokenFeatures(Seq("product_level")))

  private def runK(k: Double): AdjustmentResult =
    CocoaPipeline.run(encode(consentRaw), encode(noconsentRaw), spec, MatchStrategy.K(k))

  // --- pipeline_test.py:101-146 — the only numeric e2e oracle in the repo.
  test("e2e oracle: k=1 single neighbor receives the full 20.0") {
    val consent = Seq(("1", 10.0, "dress")).toDF("gclid", "conversion_value", "conversion_item")
    val noconsent = Seq(("10", 20.0, "dress")).toDF("gclid", "conversion_value", "conversion_item")
    val sp = CohortSpec("gclid", "conversion_value", "features", Nil, Nil)
    val res = CocoaPipeline.run(
      consent.withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item"))),
      noconsent.withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item"))),
      sp, MatchStrategy.K(1))
    val row = res.adjusted.select("gclid", "adjusted_conversion", "naive_adjusted_conversion").head()
    assert(row.getString(0) == "1")
    assert(row.getDouble(1) == 20.0)
    assert(row.getDouble(2) == 10.0 + 20.0 / 1)
  }

  test("e2e oracle: k=2 equidistant neighbors receive 10.0 each") {
    val consent = Seq(("1", 10.0, "dress"), ("2", 10.0, "dress"))
      .toDF("gclid", "conversion_value", "conversion_item")
    val noconsent = Seq(("10", 20.0, "dress")).toDF("gclid", "conversion_value", "conversion_item")
    val sp = CohortSpec("gclid", "conversion_value", "features", Nil, Nil)
    val res = CocoaPipeline.run(
      consent.withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item"))),
      noconsent.withColumn("features", Preprocess.tokenFeatures(Seq("conversion_item"))),
      sp, MatchStrategy.K(2))
    val rows = res.adjusted.select("adjusted_conversion").as[Double].collect()
    assert(rows.toSeq == Seq(10.0, 10.0))
  }

  // --- :116-126 — softmax shares of one noconsent row sum to its value.
  test("conservation: softmax weights sum to 1, shares sum to nc value") {
    val pairs = NeighborJoin.pairs(encode(consentRaw), encode(noconsentRaw), spec)
    val shares = Adjust.softmaxShares(NeighborJoin.topK(pairs, spec, 5.0), spec)
    val perNc = shares.groupBy("nc_idx", "nc_value")
      .agg(sum("weight").as("w"), sum("weighted_value").as("wv")).collect()
    perNc.foreach { r =>
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(3) - r.getDouble(1)) < 1e-9)
    }
  }

  // --- :107-114 — Σ adjustments ≤ Σ noconsent values; equal when all match.
  test("conservation: total adjustments equal total matched noconsent value") {
    val res = runK(3)
    val total = res.adjusted.agg(sum("adjusted_conversion")).head().getDouble(0)
    val ncTotal = noconsentRaw.agg(sum("conv")).head().getDouble(0)
    assert(total <= ncTotal + 1e-9)
    assert(math.abs(total - ncTotal) < 1e-9) // k-mode: everyone matches
  }

  // --- :186-193 — output cardinality == consent cardinality.
  test("cardinality: adjusted frame has exactly one row per consent row") {
    assert(runK(3).adjusted.count() == 30)
    val resRadius = CocoaPipeline.run(
      encode(consentRaw), encode(noconsentRaw), spec, MatchStrategy.Radius(0.5))
    assert(resRadius.adjusted.count() == 30)
  }

  // --- :79-86 — adjusted (value + added) strictly greater than original
  test("adjusted conversions exceed originals for matched consent rows") {
    val res = runK(3)
    val bad = res.adjusted
      .filter(col("n_added_conversions") > 0 && col("adjusted_conversion") <= 0)
    assert(bad.count() == 0)
  }

  // --- :53-60 — k matches returned neighbor count (k ∈ {1,2,3}).
  test("top-k returns exactly k neighbors per noconsent row") {
    val pairs = NeighborJoin.pairs(encode(consentRaw), encode(noconsentRaw), spec)
    for (k <- Seq(1, 2, 3)) {
      val counts = NeighborJoin.topK(pairs, spec, k.toDouble)
        .groupBy("nc_idx").count().select("count").as[Long].collect()
      assert(counts.forall(_ == k), s"k=$k")
    }
  }

  // --- :145-147 — proportional k = int(frac * |consent|).
  test("proportional k resolves to int(frac * consent size)") {
    val pairs = NeighborJoin.pairs(encode(consentRaw), encode(noconsentRaw), spec)
    val counts = NeighborJoin.topK(pairs, spec, 0.1, Some(encode(consentRaw)))
      .groupBy("nc_idx").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 3)) // int(0.1 * 30)
  }

  // --- radius mode keeps unmatched rows out of shares but in the summary.
  test("radius: unmatched noconsent rows surface in summary percentages") {
    // radius 0.5 only matches identical-feature rows (dist 0).
    val res = CocoaPipeline.run(
      encode(consentRaw), encode(noconsentRaw), spec, MatchStrategy.Radius(0.5))
    val s = res.summary.head()
    val pctRows = s.getAs[Double]("percentage_matched_conversions")
    // noconsent base=2 rows ({a=3,b=12,2_2}) have no consent twin at dist 0;
    // bases 0 (1_1: consent base0 a=1,b=10 vs nc base0 a=1,b=10 dist 0) and
    // base1 match → 10 of 15 rows.
    assert(math.abs(pctRows - (10.0 / 15.0 * 100)) < 1e-9)
  }

  // --- percentile two-pass: radius == exact quantile of nearest distances.
  test("percentile strategy radius equals pandas-style linear quantile") {
    val pairs = NeighborJoin.pairs(encode(consentRaw), encode(noconsentRaw), spec)
    val nearest = Summary.nearestDistances(NeighborJoin.topK(pairs, spec, 1.0), spec)
    val r = Summary.minRadiusByPercentile(nearest, 0.5)
    val ds = nearest.select("distance_to_nearest_neighbor").as[Double].collect().sorted
    // numpy linear interpolation on sorted data
    val pos = 0.5 * (ds.length - 1)
    val expected = ds(pos.toInt) + (pos - pos.toInt) * (ds(math.min(pos.toInt + 1, ds.length - 1)) - ds(pos.toInt))
    assert(math.abs(r - expected) < 1e-12)
  }

  // --- :88-93 — negative distances raise before weighting.
  test("negative distances are rejected by the softmax weighting") {
    val pairs = Seq((1L, 10.0, 2L, 5.0, -1.0), (1L, 10.0, 3L, 6.0, 2.0))
      .toDF("nc_idx", "nc_value", "c_idx", "c_value", "dist")
    val sp = spec.copy(cohortCols = Nil)
    val ex = intercept[Exception](Adjust.softmaxShares(pairs, sp).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("negative")),
      s"unexpected error: ${messages(ex)}")
  }

  // --- percentile radius is cohort-scoped (reference = one run per date).
  test("percentile strategy derives the radius per cohort, not pooled") {
    // g1 nearest distances {1, 2}; g2 nearest distances {10, 20}. A pooled
    // p50 radius (6.0) would match both g1 rows and neither g2 row; the
    // per-cohort radii (1.5 and 15.0) match exactly one row in EACH cohort.
    val c = Seq(("g1", 1L, 5.0, 0.0), ("g2", 2L, 5.0, 100.0))
      .toDF("grp", "id", "conv", "x")
    val nc = Seq(("g1", 11L, 7.0, 1.0), ("g1", 12L, 9.0, 2.0),
                 ("g2", 13L, 7.0, 110.0), ("g2", 14L, 9.0, 120.0))
      .toDF("grp", "id", "conv", "x")
    val sp = CohortSpec(idCol = "id", valueCol = "conv", tokenCol = "features",
      numCols = Seq("x"), cohortCols = Seq("grp"), metric = Manhattan)
    val enc = (df: DataFrame) => df.withColumn("features",
      array().cast("array<string>"))
    val res = CocoaPipeline.run(enc(c), enc(nc), sp, MatchStrategy.Percentile(0.5))
    val matched = res.adjusted.filter(col("n_added_conversions") > 0)
      .select("grp", "adjusted_conversion").as[(String, Double)].collect().toMap
    assert(matched == Map("g1" -> 7.0, "g2" -> 7.0))
  }

  // --- :146-168 — percentile coverage ≥ target, now PER COHORT.
  test("percentile strategy matches at least p of each cohort's rows") {
    val c = Seq.tabulate(6)(i =>
        (s"g${i % 2}", i.toLong, 5.0, if (i % 2 == 0) i * 1.0 else i * 50.0))
      .toDF("grp", "id", "conv", "x")
    val nc = Seq.tabulate(20)(i =>
        (s"g${i % 2}", 100L + i, 7.0, if (i % 2 == 0) i * 3.0 else i * 130.0))
      .toDF("grp", "id", "conv", "x")
    val sp = CohortSpec(idCol = "id", valueCol = "conv", tokenCol = "features",
      numCols = Seq("x"), cohortCols = Seq("grp"), metric = Manhattan)
    val enc = (df: DataFrame) =>
      df.withColumn("features", array().cast("array<string>"))
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val res = CocoaPipeline.run(enc(c), enc(nc), sp, MatchStrategy.Percentile(p))
      res.summary.select("grp", "percentage_matched_conversions")
        .as[(String, Double)].collect().foreach { case (g, pct) =>
          assert(pct / 100.0 >= p - 1e-9, s"cohort $g at p=$p matched only $pct%")
        }
    }
  }

  // --- k validation at the matcher surface (reference test :62-69).
  test("matcher rejects k > consent size and proportional k resolving to 0") {
    val matcher = new NearestCustomerMatcher(encode(consentRaw), spec)
    assertThrows[IllegalArgumentException](
      matcher.adjustmentsAndSummary(encode(noconsentRaw), MatchStrategy.K(31)))
    assertThrows[IllegalArgumentException](
      matcher.adjustmentsAndSummary(encode(noconsentRaw), MatchStrategy.K(0.01)))
  }

  // --- aggregator top-k (hash agg, no sort) must equal the window top-k.
  test("TopKAgg.topK matches window topK exactly") {
    val pairs = NeighborJoin.pairs(encode(consentRaw), encode(noconsentRaw), spec)
      .repartition(7)
    for (k <- Seq(1, 3)) {
      val win = NeighborJoin.topK(pairs, spec, k.toDouble)
        .select("nc_idx", "nc_value", "c_idx", "c_value", "dist", "rank")
        .collect().map(_.toSeq).toSet
      val agg = TopKAgg.topK(pairs, spec, k)
        .select("nc_idx", "nc_value", "c_idx", "c_value", "dist", "rank")
        .collect().map(_.toSeq).toSet
      assert(agg == win, s"k=$k")
    }
  }

  // --- band-pruned radius join must equal the dense theta join exactly.
  test("withinRadiusBucketed matches withinRadius on the dense pairs relation") {
    val c = encode(consentRaw)
    val nc = encode(noconsentRaw)
    for (r <- Seq(0.5, 1.0, 2.5, 10.0)) {
      val dense = NeighborJoin.withinRadius(NeighborJoin.pairs(c, nc, spec), r)
        .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
      val banded = NeighborJoin.withinRadiusBucketed(c, nc, spec, r)
        .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
      assert(banded == dense, s"radius=$r")
    }
  }

  // --- LSH-pruned radius join must also equal the dense theta join: the
  // banding threshold is derived from the radius so recall is guaranteed
  // (1e-9 miss bound) and the exact verify admits no false positives.
  // r=10 exceeds 2·|tokens| → vacuous bound → dense fallback path.
  test("withinRadiusLsh matches withinRadius on the dense pairs relation") {
    val c = encode(consentRaw)
    val nc = encode(noconsentRaw)
    for (r <- Seq(0.5, 1.0, 2.5, 10.0)) {
      val dense = NeighborJoin.withinRadius(NeighborJoin.pairs(c, nc, spec), r)
        .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
      val lsh = NeighborJoin.withinRadiusLsh(c, nc, spec, r)
        .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
      assert(lsh == dense, s"radius=$r")
      assert(dense.nonEmpty, s"radius=$r matched nothing — test is vacuous")
    }
  }

  // --- strategy validation (reference :502-511 + documented truthiness fix)
  test("zero/invalid strategy parameters are rejected at construction") {
    assertThrows[IllegalArgumentException](MatchStrategy.K(0))
    assertThrows[IllegalArgumentException](MatchStrategy.Radius(0))
    assertThrows[IllegalArgumentException](MatchStrategy.Percentile(0))
    assertThrows[IllegalArgumentException](MatchStrategy.Percentile(1.5))
    // fractional k >= 1 is a count typo, not the proportional form —
    // sklearn raises TypeError on a float n_neighbors
    assertThrows[IllegalArgumentException](MatchStrategy.K(2.5))
    MatchStrategy.K(0.5) // proportional form stays legal
  }

  // --- null/NaN features would rank FIRST (null dist, ASC NULLS FIRST)
  // and silently swallow conversion value — the matcher must refuse them
  // like sklearn refuses NaN input.
  test("matcher rejects null/NaN feature values in either cohort") {
    val c = encode(consentRaw)
    val ncBad = encode(noconsentRaw)
      .withColumn("a", when(col("id") === 100, lit(Double.NaN))
        .otherwise(col("a")))
    assertThrows[IllegalArgumentException](
      new NearestCustomerMatcher(c, spec)
        .adjustmentsAndSummary(ncBad, MatchStrategy.K(1)))
    val cBad = c.withColumn("a",
      when(col("id") === 0, lit(null).cast("double")).otherwise(col("a")))
    assertThrows[IllegalArgumentException](new NearestCustomerMatcher(cBad, spec))
  }

  // --- unmatched consent rows: null average_distance (pandas NaN parity)
  test("unmatched consent rows keep zero accumulators and null average_distance") {
    val res = CocoaPipeline.run(
      encode(consentRaw), encode(noconsentRaw), spec, MatchStrategy.Radius(0.5))
    val unmatched = res.adjusted.filter(col("n_added_conversions") === 0)
    assert(unmatched.count() > 0)
    assert(unmatched.filter(col("average_distance").isNotNull).count() == 0)
    assert(unmatched.filter(col("adjusted_conversion") =!= 0.0).count() == 0)
  }
}

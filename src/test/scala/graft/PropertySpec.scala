package graft

import org.apache.spark.ActionPlans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck conservation properties over generated cohorts
  * (SURVEY §5 test plan): the invariants must hold for ANY cohort shape,
  * not just the ported fixtures.
  */
/** Top-level: Spark cannot synthesize encoders for class-nested case
  * classes. */
case class CRow(id: Long, a: Double, conv: Double, cat: String)

class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val spec = CohortSpec(
    idCol = "id", valueCol = "conv", tokenCol = "features",
    numCols = Seq("a"), cohortCols = Nil, metric = Manhattan)

  private val cohortGen: Gen[(List[CRow], List[CRow])] = for {
    nC <- Gen.choose(2, 12)
    nNc <- Gen.choose(1, 8)
    mk = (offset: Int) => (i: Int) =>
      for {
        a <- Gen.choose(0.0, 10.0)
        v <- Gen.choose(0.1, 100.0)
        cat <- Gen.oneOf("x", "y", "z")
      } yield CRow((offset + i).toLong, a, v, cat)
    c <- Gen.sequence[List[CRow], CRow]((0 until nC).map(mk(0)))
    nc <- Gen.sequence[List[CRow], CRow]((0 until nNc).map(mk(1000)))
  } yield (c, nc)

  private def encode(rows: List[CRow]): DataFrame =
    rows.toDF().withColumn("features", Preprocess.tokenFeatures(Seq("cat")))

  // scalatestplus isn't on the (offline) classpath - sample generators
  // directly with fixed seeds for deterministic property checks. Asserts
  // the generator actually produced values so a failing Gen can't make a
  // property pass vacuously.
  private def sampled[T](g: Gen[T], n: Int, seedBase: Long): Seq[T] = {
    val out = (1 to n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seedBase + i)))
    assert(out.nonEmpty, "generator produced no samples")
    out
  }

  private def samples(n: Int): Seq[(List[CRow], List[CRow])] =
    sampled(cohortGen, n, 0L)

  /** `CocoaPipeline.run`'s tail (softmax shares, scatter-add, summary) fed
    * with an explicitly chosen selected-pairs relation. */
  private def tail(consent: DataFrame, noconsent: DataFrame, sel: DataFrame,
                   sp: CohortSpec): AdjustmentResult =
    AdjustmentResult(
      Adjust.distribute(consent, Adjust.softmaxShares(sel, sp), sp),
      Summary.matchedSummary(noconsent, Summary.nearestDistances(sel, sp), sp))

  /** The two results hold the same rows: rows are matched on their
    * non-double cells, doubles compared to a relative 1e-9 (two plans sum
    * the same doubles in a different order). */
  private def assertSameResult(a: AdjustmentResult, b: AdjustmentResult,
                               clue: => String): Unit =
    Seq((a.adjusted, b.adjusted), (a.summary, b.summary)).foreach { case (x, y) =>
      val cols = x.columns.toSeq.sorted.map(col(_))
      def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toSeq)
        .sortBy(_.filterNot(_.isInstanceOf[Double]).mkString("|"))
      val (rx, ry) = (rows(x), rows(y))
      assert(rx.length == ry.length, clue)
      rx.zip(ry).foreach { case (u, v) =>
        u.zip(v).foreach {
          case (d: Double, e: Double) =>
            assert(math.abs(d - e) <= 1e-9 * math.max(1.0, math.abs(d)), s"$clue: $u vs $v")
          case (p, q) => assert(p == q, s"$clue: $u vs $v")
        }
      }
    }

  test("property: conservation + cardinality hold for arbitrary cohorts (K strategy)") {
    samples(8).foreach { case (c, nc) =>
      val k = math.min(3, c.size)
      val res = CocoaPipeline.run(encode(c), encode(nc), spec, MatchStrategy.K(k))
      val adjusted = res.adjusted.cache()
      // cardinality: one output row per consent row
      assert(adjusted.count() == c.size)
      // conservation: all noconsent value is redistributed, none created
      val total = adjusted.agg(sum("adjusted_conversion")).head().getDouble(0)
      val ncTotal = nc.map(_.conv).sum
      assert(math.abs(total - ncTotal) < 1e-6 * math.max(1.0, ncTotal))
      // non-negativity
      assert(adjusted.filter(col("adjusted_conversion") < -1e-12).count() == 0)
      adjusted.unpersist()
    }
  }

  test("property: radius matching never drops consent rows and bounds totals") {
    samples(5).foreach { case (c, nc) =>
      val res = CocoaPipeline.run(encode(c), encode(nc), spec, MatchStrategy.Radius(2.0))
      val adjusted = res.adjusted.cache()
      assert(adjusted.count() == c.size)
      val total = adjusted.agg(sum("adjusted_conversion")).head().getDouble(0)
      assert(total <= nc.map(_.conv).sum + 1e-6)
      adjusted.unpersist()
    }
  }

  test("property: LSH radius join equals dense radius join on arbitrary cohorts") {
    // exercises both regimes: r=1.5 < 2·|tokens|=2 prunes via banding,
    // r=3.0 ≥ 2 takes the dense fallback
    samples(5).foreach { case (c, nc) =>
      for (r <- Seq(1.5, 3.0)) {
        val dense = NeighborJoin
          .withinRadius(NeighborJoin.pairs(encode(c), encode(nc), spec), r)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        val lsh = NeighborJoin.withinRadiusLsh(encode(c), encode(nc), spec, r)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        assert(lsh == dense, s"radius=$r c=$c nc=$nc")
      }
    }
  }

  test("property: banded top-k equals dense top-k on arbitrary cohorts") {
    // k spans under- and over-provisioned neighborhoods (k=3 can exceed
    // |consent| for small samples — both paths must then return all rows);
    // both metrics exercise both radius-bound shapes.
    // Chebyshev rides the banded path (bound max(D,1)); Cosine rides its
    // OWN pruned path (the quadratic x-interval impl) through the same API.
    samples(5).foreach { case (c, nc) =>
      for (m <- Seq(Manhattan, Euclidean, Chebyshev, Cosine, Minkowski(3.0));
           k <- Seq(1, 3)) {
        val sp = spec.copy(metric = m)
        val dense = NeighborJoin.topK(NeighborJoin.pairs(encode(c), encode(nc), sp), sp, k.toDouble)
          .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
        val banded = NeighborJoin.topKBanded(encode(c), encode(nc), sp, k)
          .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
        assert(banded == dense, s"metric=$m k=$k c=$c nc=$nc")
      }
      // the matcher's percentile radius rides the same planned k=1 pass
      for (m <- Seq(Manhattan, Cosine)) {
        val sp = spec.copy(metric = m)
        val dense = Summary.minRadiusByPercentile(Summary.nearestDistances(
          NeighborJoin.topK(NeighborJoin.pairs(encode(c), encode(nc), sp), sp, 1.0), sp), 0.5)
        val matched = new NearestCustomerMatcher(encode(c), sp)
          .minRadiusByPercentile(encode(nc), 0.5)
        assert(matched == dense, s"matcher metric=$m c=$c nc=$nc")
      }
    }
  }

  test("chebyshev/cosine radius joins: pruned paths equal or fall back to dense") {
    samples(3).foreach { case (c, nc) =>
      // chebyshev r < 1: LSH token bound 0 (identical sets) + bucket prune
      // both apply; r >= 1: LSH declines the prune (dense fallback) but the
      // numeric bucket prune still holds — all must equal the dense filter.
      for (m <- Seq(Chebyshev, Cosine); r <- Seq(0.9, 2.5)) {
        val sp = spec.copy(metric = m)
        val dense = NeighborJoin
          .withinRadius(NeighborJoin.pairs(encode(c), encode(nc), sp), r)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        val bucketed = NeighborJoin.withinRadiusBucketed(encode(c), encode(nc), sp, r)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        val lsh = NeighborJoin.withinRadiusLsh(encode(c), encode(nc), sp, r)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        assert(bucketed == dense, s"bucketed metric=$m r=$r c=$c nc=$nc")
        assert(lsh == dense, s"lsh metric=$m r=$r c=$c nc=$nc")
      }
    }
  }

  test("metric arithmetic: known-value distances") {
    // a = tokens {x}, x=3.0 ; b = tokens {y}, x=7.0 → symmetric diff 2
    val a = encode(List(CRow(1, 3.0, 1.0, "x")))
    val b = encode(List(CRow(2, 7.0, 1.0, "y"))).withColumnRenamed("a", "b_a")
      .withColumnRenamed("features", "b_features")
    val row = a.crossJoin(b).select(
      Manhattan.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("man"),
      Euclidean.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("euc"),
      Chebyshev.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("che"),
      Cosine.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("cos")).head()
    assert(math.abs(row.getDouble(0) - (2.0 + 4.0)) < 1e-12)            // 2 + |3-7|
    assert(math.abs(row.getDouble(1) - math.sqrt(2.0 + 16.0)) < 1e-12)  // √(2 + 16)
    assert(math.abs(row.getDouble(2) - 4.0) < 1e-12)                    // max(1, 4)
    // cos: dot = 0 (disjoint tokens) + 21; norms √(1+9), √(1+49)
    val expCos = 1.0 - 21.0 / (math.sqrt(10.0) * math.sqrt(50.0))
    assert(math.abs(row.getDouble(3) - expCos) < 1e-12)

    // the round-6 additions, against scipy-by-hand on the dense vector
    // [dummy x, dummy y, num]: a = [1,0,3], b = [0,1,7]
    val row2 = a.crossJoin(b).select(
      Hamming(3).dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("ham"),
      BrayCurtis.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("bray"),
      Canberra.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("canb"),
      SqEuclidean.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("sqe"),
      Jaccard.dist(col("features"), col("b_features"),
        Seq((col("a"), col("b_a")))).as("jac")).head()
    assert(math.abs(row2.getDouble(0) - 1.0) < 1e-12)   // 3 of 3 coords differ
    assert(math.abs(row2.getDouble(1) - 0.5) < 1e-12)   // 6 / 12
    assert(math.abs(row2.getDouble(2) - 2.4) < 1e-12)   // 1 + 1 + 4/10
    assert(math.abs(row2.getDouble(3) - 18.0) < 1e-12)  // 2 + 16
    assert(math.abs(row2.getDouble(4) - 1.0) < 1e-12)   // 3 disagreements / 3 support
    // HammingAuto is a placeholder: computing with it is a usage error
    intercept[IllegalStateException] {
      HammingAuto.dist(col("features"), col("b_features"), Nil)
    }
  }

  test("property: hamming subset top-k equals dense top-k (incl. wildcard tier)") {
    // fixed arity 3 (one token per categorical column) — the structural
    // fact the subset prune relies on
    def enc(rows: Seq[(Long, Double, Double, String, String, String)]) =
      rows.toDF("id", "conv", "a", "c1", "c2", "c3")
        .withColumn("features", array(
          concat(lit("c1="), col("c1")), concat(lit("c2="), col("c2")),
          concat(lit("c3="), col("c3"))))
    val rowGen = (offset: Int) => for {
      a <- Gen.choose(0.0, 10.0)
      v <- Gen.choose(0.1, 100.0)
      c1 <- Gen.oneOf("p", "q", "r")
      c2 <- Gen.oneOf("s", "t")
      c3 <- Gen.oneOf("u", "v", "w")
    } yield (a, v, c1, c2, c3)
    val g = for {
      nC <- Gen.choose(2, 10)
      nNc <- Gen.choose(1, 6)
      c <- Gen.sequence[List[(Double, Double, String, String, String)],
        (Double, Double, String, String, String)]((0 until nC).map(_ => rowGen(0)))
      nc <- Gen.sequence[List[(Double, Double, String, String, String)],
        (Double, Double, String, String, String)]((0 until nNc).map(_ => rowGen(1)))
    } yield (c, nc)
    // width = full domain (3+2+3) + 1 numeric; any fixed constant works for
    // the equivalence (ranking is width-invariant)
    val hspec = CohortSpec(idCol = "id", valueCol = "conv",
      numCols = Seq("a"), cohortCols = Nil, metric = Hamming(9))
    sampled(g, 6, 31L).foreach { case (c0, nc0) =>
      val c = enc(c0.zipWithIndex.map { case ((a, v, x, y, z), i) =>
        (i.toLong, v, a, x, y, z) })
      val nc = enc(nc0.zipWithIndex.map { case ((a, v, x, y, z), i) =>
        ((1000 + i).toLong, v, a, x, y, z) })
      val k = math.min(3, c0.size)
      val dense = NeighborJoin.topK(NeighborJoin.pairs(c, nc, hspec), hspec, k.toDouble)
        .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
      val pruned = NeighborJoin.topKBanded(c, nc, hspec, k)
        .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
      assert(pruned == dense, s"c=$c0 nc=$nc0")
      // proportional twin
      val frac = 0.6
      val dp = NeighborJoin.topK(NeighborJoin.pairs(c, nc, hspec), hspec, frac, Some(c))
        .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
      val pp = NeighborJoin.topKBanded(c, nc, hspec, frac)
        .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
      assert(pp == dp, s"proportional c=$c0 nc=$nc0")
      // no numeric feature: the pipeline's K and Percentile routes equal the
      // dense references fed through the same tail
      val h0 = hspec.copy(numCols = Nil)
      val pairs0 = NeighborJoin.pairs(c, nc, h0)
      val kk = math.min(3, c0.size)
      assertSameResult(CocoaPipeline.run(c, nc, h0, MatchStrategy.K(kk)),
        tail(c, nc, NeighborJoin.topK(pairs0, h0, kk.toDouble), h0),
        s"pipeline K($kk) c=$c0 nc=$nc0")
      val radii = Summary.minRadiusByPercentilePerCohort(
        Summary.nearestDistances(NeighborJoin.topK(pairs0, h0, 1.0), h0), 0.5, h0)
      assertSameResult(CocoaPipeline.run(c, nc, h0, MatchStrategy.Percentile(0.5)),
        tail(c, nc, NeighborJoin.withinRadiusPerCohort(pairs0, radii, Nil), h0),
        s"pipeline Percentile(0.5) c=$c0 nc=$nc0")
    }
    // wildcard tier: a probe sharing NO 2-token subset with any consent row
    // must still get its exact k from the dense tier
    val cW = enc(Seq((0L, 10.0, 1.0, "p", "s", "u"), (1L, 20.0, 2.0, "p", "s", "v"),
      (2L, 30.0, 3.0, "q", "t", "w")))
    val ncW = enc(Seq((1000L, 5.0, 1.5, "r", "t", "u"), (1001L, 5.0, 9.9, "p", "s", "u")))
    val dW = NeighborJoin.topK(NeighborJoin.pairs(cW, ncW, hspec), hspec, 2.0)
      .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
    val pW = NeighborJoin.topKBanded(cW, ncW, hspec, 2)
      .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
    assert(pW == dW)
  }

  test("property: scalable two-pass quantile equals exact percentile") {
    // arbitrary per-cohort distance samples: heavy ties (quantized values),
    // singleton and two-row cohorts, and a large-ish cohort — across edge
    // and interior percentiles
    val distGen: Gen[List[(String, Double)]] = for {
      nCoh <- Gen.choose(1, 4)
      rows <- Gen.sequence[List[List[(String, Double)]], List[(String, Double)]](
        (0 until nCoh).map { g =>
          for {
            n <- Gen.oneOf(1, 2, 3, 7, 40, 311)
            vs <- Gen.listOfN(n, Gen.oneOf(
              Gen.choose(0.0, 50.0),
              Gen.choose(0, 9).map(_ * 0.5))) // quantized → ties
          } yield vs.map(v => (s"g$g", v))
        })
    } yield rows.flatten
    val qspec = CohortSpec(idCol = "id", valueCol = "v",
      numCols = Nil, cohortCols = Seq("coh"), metric = Manhattan)
    sampled(distGen, 6, 77L).foreach { rows =>
      val df = rows.toDF("coh", "distance_to_nearest_neighbor")
      for (p <- Seq(0.01, 0.5, 0.9, 0.95, 1.0)) {
        val exact = Summary.minRadiusByPercentilePerCohort(df, p, qspec)
          .as[(String, Double)].collect().toMap
        // accuracy 100 on tiny data exercises the sketch-exact regime;
        // 10000 the production default
        for (acc <- Seq(100, 10000)) {
          val scal = Summary
            .minRadiusByPercentilePerCohortScalable(df, p, qspec, acc)
            .as[(String, Double)].collect().toMap
          assert(scal.keySet == exact.keySet, s"p=$p acc=$acc")
          exact.foreach { case (k, v) =>
            assert(math.abs(scal(k) - v) <= 1e-12 * math.max(1.0, math.abs(v)),
              s"p=$p acc=$acc cohort=$k exact=$v scalable=${scal(k)}")
          }
        }
      }
    }
    // n ≫ 4·accuracy at accuracy=100: the true bracket regime (below-count
    // + bracket-only window), with ties; one near-all-distinct cohort too
    val big = ((1 to 2500).map(i => ("t", (i % 41) * 0.75)) ++
      (1 to 3000).map(i => ("u", i * 1.0 + 0.5 / i))).toDF(
      "coh", "distance_to_nearest_neighbor")
    for (p <- Seq(0.01, 0.5, 0.9, 0.95, 1.0)) {
      val exact = Summary.minRadiusByPercentilePerCohort(big, p, qspec)
        .as[(String, Double)].collect().toMap
      val scal = Summary
        .minRadiusByPercentilePerCohortScalable(big, p, qspec, 100)
        .as[(String, Double)].collect().toMap
      assert(scal.keySet == exact.keySet, s"big p=$p")
      exact.foreach { case (k, v) =>
        assert(math.abs(scal(k) - v) <= 1e-12 * math.max(1.0, math.abs(v)),
          s"big p=$p cohort=$k exact=$v scalable=${scal(k)}")
      }
    }
    // global scope (no cohort columns): drop-in for minRadiusByPercentile
    val g = (1 to 500).map(i => ("all", (i % 37) * 1.25)).toDF(
      "coh", "distance_to_nearest_neighbor")
    val gspec = CohortSpec(idCol = "id", valueCol = "v",
      numCols = Nil, cohortCols = Nil, metric = Manhattan)
    val ex = Summary.minRadiusByPercentile(g, 0.9)
    val sc = Summary.minRadiusByPercentilePerCohortScalable(g, 0.9, gspec)
      .as[Double].head()
    assert(math.abs(sc - ex) <= 1e-12)
  }

  test("property: per-cohort bucketed radius join equals dense per-cohort filter") {
    // radii spanning zero (exact-dup distances), sub-token and wide
    // regimes; cosine exercises the interval prune (r=0: s≈1 prunable;
    // r≥1: every probe wild → dense tier)
    samples(5).foreach { case (c, nc) =>
      for (r <- Seq(0.0, 1.5, 4.0); m <- Seq(Manhattan, Cosine)) {
        val sp = spec.copy(metric = m)
        val radii = spark.range(1).select(lit(r).as("__radius"))
        val dense = NeighborJoin.withinRadiusPerCohort(
            NeighborJoin.pairs(encode(c), encode(nc), sp), radii, Nil)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        val banded = NeighborJoin.withinRadiusBucketedPerCohort(
            encode(c), encode(nc), radii, sp)
          .select("nc_idx", "c_idx", "dist").collect().map(_.toSeq).toSet
        assert(banded == dense, s"metric=$m radius=$r c=$c nc=$nc")
      }
    }
  }

  test("banded top-k rejects null numeric features with a clear error") {
    val c = encode(List(CRow(1, 1.0, 5.0, "x"), CRow(2, 2.0, 5.0, "y")))
    val ncNull = List((100L, null.asInstanceOf[java.lang.Double], 7.0, "x"))
      .toDF("id", "a", "conv", "cat")
      .withColumn("a", col("a").cast("double"))
      .withColumn("features", Preprocess.tokenFeatures(Seq("cat")))
    val e = intercept[Exception] {
      NeighborJoin.topKBanded(c, ncNull, spec, 1).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("null/NaN numeric feature") ||
        Option(e.getCause).exists(_.getMessage.contains("null/NaN numeric feature"))))
  }

  test("banded top-k equals dense top-k on a SKEWED cohort (far-x probes)") {
    // one probe per cohort sits ~1e6 x-units away from everything else: its
    // adaptive radius is enormous and must ride the dense-fallback tier
    // while the bulk keeps tight buckets — results must stay identical.
    samples(3).foreach { case (c, nc) =>
      val outliers = List(CRow(9000, 1.0e6, 11.0, "x"), CRow(9001, -5.0e5, 13.0, "y"))
      val ncSkew = nc ++ outliers
      for (m <- Seq(Manhattan, Euclidean, Cosine); k <- Seq(1, 3)) {
        val sp = spec.copy(metric = m)
        val dense = NeighborJoin.topK(NeighborJoin.pairs(encode(c), encode(ncSkew), sp), sp, k.toDouble)
          .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
        val banded = NeighborJoin.topKBanded(encode(c), encode(ncSkew), sp, k)
          .select("nc_idx", "c_idx", "rank", "dist").collect().map(_.toSeq).toSet
        assert(banded == dense, s"metric=$m k=$k c=$c ncSkew=$ncSkew")
      }
    }
  }

  test("property: banded proportional k equals dense proportional k per cohort") {
    // cohorts of DIFFERENT consent sizes so the per-cohort resolved k
    // actually differs — the regression this gate pins is the old
    // run-at-kMax-then-filter plan (whose ranks were still correct) being
    // replaced by per-cohort radii (whose ranks must STILL be correct).
    val sp = spec.copy(cohortCols = Seq("g"))
    samples(3).foreach { case (c, nc) =>
      // g=0 keeps every row, g=1 keeps roughly a third — unequal cohorts
      val withG = (rows: List[CRow], big: Boolean) => encode(rows)
        .withColumn("g", when(lit(big) || pmod(col("id"), lit(3)) === 0, "g0")
          .otherwise("g1"))
      val cDf = withG(c, false)
      val ncDf = withG(nc, false)
      for (frac <- Seq(0.3, 0.7); m <- Seq(Manhattan, Cosine)) {
        val spm = sp.copy(metric = m)
        val dense = NeighborJoin.topK(
            NeighborJoin.pairs(cDf, ncDf, spm), spm, frac, Some(cDf))
          .select("g", "nc_idx", "c_idx", "rank", "dist")
          .collect().map(_.toSeq).toSet
        val banded = NeighborJoin.topKBanded(cDf, ncDf, spm, frac)
          .select("g", "nc_idx", "c_idx", "rank", "dist")
          .collect().map(_.toSeq).toSet
        assert(banded == dense, s"metric=$m frac=$frac c=$c nc=$nc")
        // the pipeline's proportional K takes the banded route
        assertSameResult(CocoaPipeline.run(cDf, ncDf, spm, MatchStrategy.K(frac)),
          tail(cDf, ncDf, NeighborJoin.topK(
            NeighborJoin.pairs(cDf, ncDf, spm), spm, frac, Some(cDf)), spm),
          s"pipeline metric=$m frac=$frac c=$c nc=$nc")
      }
    }
  }

  test("banded proportional k returns empty when every cohort resolves to 0") {
    val (c, nc) = samples(1).head
    // frac small enough that floor(frac * |consent|) == 0 for the sample
    val frac = 0.5 / (c.size + 1)
    val dense = NeighborJoin.topK(
      NeighborJoin.pairs(encode(c), encode(nc), spec), spec, frac, Some(encode(c)))
    val banded = NeighborJoin.topKBanded(encode(c), encode(nc), spec, frac)
    assert(dense.count() == 0 && banded.count() == 0)
  }

  test("banded top-k plan is fully equi-joined under cohort scope") {
    val sp = spec.copy(cohortCols = Seq("g"))
    val withG = (rows: List[CRow]) => encode(rows)
      .withColumn("g", pmod(col("id"), lit(2)).cast("string"))
    val (c, nc) = samples(1).head
    val plan = NeighborJoin.topKBanded(withG(c), withG(nc), sp, 3)
      .queryExecution.executedPlan.toString
    // every join must be hash-keyed: the dense |NC|x|C| expansion this
    // operator exists to avoid would surface as a cartesian/BNL stage
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    // same pin for the cosine variant (its own pruned impl)
    val cosPlan = NeighborJoin
      .topKBanded(withG(c), withG(nc), sp.copy(metric = Cosine), 3)
      .queryExecution.executedPlan.toString
    assert(!cosPlan.contains("CartesianProduct"), cosPlan.take(2000))
    assert(!cosPlan.contains("BroadcastNestedLoop"), cosPlan.take(2000))
  }

  test("pipeline kNN routes: one numeric feature never joins all |NC|x|C| pairs") {
    // rows out of the largest join that any Dataset action of the run
    // executed, read from each action's plan by a listener (the pipeline
    // checkpoints its selected pairs, so the kNN join runs in that action,
    // not in the final plans), looking through cached relations
    object Joins extends AdaptiveSparkPlanHelper {
      def largest(plan: SparkPlan): Long = (0L +: collectWithSubqueries(plan) {
        case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case m: InMemoryTableScanExec => largest(m.relation.cachedPlan)
      }).max
    }
    val (nC, nNc) = (60, 40)
    val row = (id: Int) => CRow(id.toLong, (id * 7919 % 1000).toDouble, 1.0 + id % 7,
      Seq("x", "y", "z")(id % 3))
    val c = encode((0 until nC).map(row).toList).withColumn("b", col("a") * 0.5)
    val nc = encode((1000 until 1000 + nNc).map(row).toList).withColumn("b", col("a") * 0.5)
    def largestJoin(sp: CohortSpec, strategy: MatchStrategy): Long = {
      spark.catalog.clearCache()
      val (_, plans) = ActionPlans.during(spark) {
        val res = CocoaPipeline.run(c, nc, sp, strategy)
        res.adjusted.collect()
        res.summary.collect()
        res.release()
      }
      plans.map { case (_, plan) => Joins.largest(plan) }.max
    }
    for (strategy <- Seq(MatchStrategy.K(3), MatchStrategy.Percentile(0.5))) {
      val rows = largestJoin(spec, strategy)
      assert(rows > 0 && rows < nC * nNc, s"$strategy joined $rows rows")
    }
    assert(largestJoin(spec.copy(numCols = Seq("a", "b")), MatchStrategy.K(3)) >= nC * nNc)
  }

  test("property: packing invariants hold for arbitrary corpora") {
    val docGen = for {
      n <- Gen.choose(1, 40)
      lang <- Gen.oneOf("en", "de", "fr")
      toks <- Gen.listOfN(n, Gen.choose(1, 50).map("w" + _))
    } yield (lang, toks.mkString(" "))
    val corpusGen = for {
      n <- Gen.choose(1, 60)
      docs <- Gen.listOfN(n, docGen)
      budget <- Gen.choose(5L, 60L)
    } yield (docs, budget)
    sampled(corpusGen, 6, 100L)
      .foreach { case (docsList, budget) =>
        val df = docsList.zipWithIndex
          .map { case ((lang, text), i) => (i.toLong, lang, text) }
          .toDF("doc_id", "lang", "text")
        // both the degenerate single-chain form and the sharded scale form
        for (shards <- Seq(1, 3)) {
          val out = graft.ops.Packing.packDocuments(df, budget, "lang", shards).collect()
          // total: every doc packed exactly once, token counts preserved
          assert(out.map(_.doc_id).sorted.toSeq == (0L until docsList.size).toSeq)
          // shards stay in range
          assert(out.forall(p => p.shard >= 0 && p.shard < shards))
          // per (group, shard, pack): total <= budget unless single oversized doc
          out.groupBy(p => (p.lang, p.shard, p.pack_id)).foreach { case ((l, sh, pid), ps) =>
            val tot = ps.map(_.tokens).sum
            assert(tot <= budget || ps.length == 1,
              s"budget=$budget pack ($l,$sh,$pid) tot=$tot n=${ps.length}")
          }
          // pack ids are contiguous 1..K per (group, shard)
          out.groupBy(p => (p.lang, p.shard)).foreach { case (key, ps) =>
            val ids = ps.map(_.pack_id).distinct.sorted.toSeq
            assert(ids == (1L to ids.size).toSeq, s"chain $key ids $ids")
          }
          // greedy: a doc opens a new pack ONLY if it did not fit the previous
          out.groupBy(p => (p.lang, p.shard)).foreach { case (_, ps) =>
            val ordered = ps.sortBy(_.doc_id)
            ordered.sliding(2).foreach {
              case Array(a, b) if b.pack_id == a.pack_id + 1 =>
                val packTot = ordered
                  .filter(p => p.pack_id == a.pack_id).map(_.tokens).sum
                assert(packTot + b.tokens > budget,
                  s"pack ${a.pack_id} closed early: $packTot + ${b.tokens} <= $budget")
              case _ => ()
            }
          }
        }
      }
  }

  test("packing assignments are identical under arbitrary input repartitionings") {
    val docs = (0L until 120L).map(i =>
      (i, if (i % 3 == 0) "en" else "de",
        (1 to (i % 17 + 1).toInt).map("w" + _).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      graft.ops.Packing.packDocuments(df, 32, "lang", 4)
        .collect().map(p => Seq[Any](p.doc_id, p.lang, p.shard, p.tokens, p.pack_id))
        .toSet
    val base = run(docs)
    assert(base == run(docs.repartition(7)))
    assert(base == run(docs.repartition(1)))
    assert(base == run(docs.orderBy(col("text"))))
  }

  test("property: funnel equals a reference fold on arbitrary event logs") {
    val names = Vector("view", "click", "purchase")
    val evGen: Gen[List[(Long, Long, Int)]] = Gen.listOfN(60, for {
      u <- Gen.choose(1L, 5L)
      sec <- Gen.choose(0L, 86400L * 5)
      step <- Gen.choose(0, 2)
    } yield (u, sec, step))
    for (events <- sampled(evGen, 8, 77L)) {
      val base = 1700000000L // whole seconds → second-grain truncation is a no-op
      val df = events.zipWithIndex.map { case ((u, sec, st), i) =>
        (i.toLong, new java.sql.Timestamp((base + sec) * 1000), u, names(st), 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.ops.EventOps.funnel(df, names)
        .as[(Long, Option[String], Option[String], Option[String], Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val want = events.groupBy(_._1).map { case (u, es) =>
        val byStep = (0 to 2).map(s => es.filter(_._3 == s).map(_._2 + base))
        var prev = Long.MinValue
        val ts = (0 to 2).map { s =>
          val c = if (prev == Long.MaxValue) Nil else byStep(s).filter(_ > prev)
          if (c.nonEmpty) { prev = c.min; Some(c.min) }
          else { prev = Long.MaxValue; None }
        }
        val fmt = (o: Option[Long]) => o.map(t =>
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
            .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(t)))
        u -> ((fmt(ts(0)), fmt(ts(1)), fmt(ts(2)), ts.count(_.isDefined).toLong))
      }
      assert(got == want, s"events=${events.take(10)}…")
    }
  }

  test("property: rollingActiveUsers equals the brute trailing-window scan") {
    val evGen: Gen[List[(Long, Int)]] = Gen.listOfN(50, for {
      u <- Gen.choose(1L, 6L)
      day <- Gen.choose(0, 20)
    } yield (u, day))
    for (events <- sampled(evGen, 8, 99L)) {
      val base = java.time.LocalDate.of(2024, 3, 1)
      val df = events.zipWithIndex.map { case ((u, d), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(base.plusDays(d).atTime(12, 0)),
          u, "view", 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.ops.EventOps.rollingActiveUsers(df)
        .as[(String, Long, Long)].collect().toSet
      val pairs = events.distinct
      val want = pairs.map(_._2).distinct.map { d =>
        (base.plusDays(d).toString,
          pairs.filter(_._2 == d).map(_._1).distinct.size.toLong,
          pairs.filter(p => p._2 <= d && p._2 >= d - 6).map(_._1).distinct.size.toLong)
      }.toSet
      assert(got == want)
    }
  }

  test("property: retentionMatrix equals the brute per-user reference") {
    val evGen: Gen[List[(Long, Int)]] = Gen.listOfN(50, for {
      u <- Gen.choose(1L, 6L)
      day <- Gen.choose(0, 20)
    } yield (u, day))
    for (events <- sampled(evGen, 8, 131L)) {
      val base = java.time.LocalDate.of(2024, 3, 1)
      val df = events.map { case (u, d) =>
        (u, java.sql.Timestamp.valueOf(base.plusDays(d).atTime(9, 0)))
      }.toDF("user_id", "ts")
      val got = graft.ops.EventOps.retentionMatrix(df, 14)
        .as[(String, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val byUser = events.distinct.groupBy(_._1).view.mapValues(_.map(_._2))
      val cells = byUser.toSeq.flatMap { case (_, ds) =>
        val d0 = ds.min
        ds.map(d => (base.plusDays(d0).toString, (d - d0).toLong))
      }.filter(_._2 <= 14)
      val want0 = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = want0.map { case ((cd, off), n) =>
        val denom = want0((cd, 0L)).toDouble
        (cd, off) -> ((n, BigDecimal(n / denom + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      assert(got == want, s"events=${events.take(10)}…")
    }
  }

  test("property: eventTransitions equals a reference fold; rows sum to 1") {
    val names = Vector("A", "B", "C")
    val evGen: Gen[List[(Long, Long, Int)]] = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 5L)
      sec <- Gen.choose(0L, 86400L)
      t <- Gen.choose(0, 2)
    } yield (u, sec, t))
    for (events <- sampled(evGen, 8, 151L)) {
      val base = 1700000000L
      val df = events.zipWithIndex.map { case ((u, sec, t), i) =>
        (i.toLong, new java.sql.Timestamp((base + sec) * 1000), u, names(t))
      }.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.ops.EventOps.eventTransitions(df)
        .as[(String, String, Long, Double)].collect()
      // reference: per user, sort by (sec, event_id), zip with tail
      val want = events.zipWithIndex
        .map { case ((u, sec, t), i) => (u, sec, i.toLong, names(t)) }
        .groupBy(_._1).values.flatMap { es =>
          val o = es.sortBy(e => (e._2, e._3)).map(_._4)
          o.zip(o.tail)
        }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got.map(r => (r._1, r._2) -> r._3).toMap == want)
      // probabilities are the count shares, and each from-row sums to 1
      got.groupBy(_._1).foreach { case (_, rows) =>
        assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-2) // 4-dp rounding slack
      }
    }
  }

  test("property: histogram partitions every group and brackets every value") {
    val vGen: Gen[List[(Int, Double)]] = Gen.listOfN(60, for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(-50.0, 50.0)
    } yield (g, v))
    for (data <- sampled(vGen, 8, 171L)) {
      val df = data.map { case (g, v) => (s"g$g", v) }.toDF("g", "v")
      val got = Summary.histogram(df, "v", Seq("g"), 10)
        .as[(String, Long, Double, Double, Long)].collect()
      val byG = data.groupBy(t => s"g${t._1}")
      // bin counts per group sum to the group size (no row lost or doubled)
      got.groupBy(_._1).foreach { case (g, rows) =>
        assert(rows.map(_._5).sum == byG(g).size.toLong)
        assert(rows.map(_._2).distinct.size == rows.size) // one row per bin
      }
      // every bin index agrees with the reference arithmetic
      for ((g, rows) <- got.groupBy(_._1)) {
        val vs = byG(g).map(_._2)
        val (mn, mx) = (vs.min, vs.max)
        val w = (mx - mn) / 10.0
        val want = vs.map(v =>
            if (mx == mn) 0L else math.min(math.floor((v - mn) / w).toLong, 9L))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(rows.map(r => r._2 -> r._5).toMap == want)
      }
    }
  }

  test("temperature sample and pivot plan broadcast joins and single aggs") {
    val d = (0L until 60L).map(i => (i, if (i % 3 == 0) "en" else "de", s"w$i"))
      .toDF("doc_id", "lang", "text")
    val sPlan = graft.ops.Sampling.temperatureSample(d, "lang", "doc_id", 0.5, "p")
      .queryExecution.executedPlan.toString
    // the corpus side must reach the rates via broadcast, never a shuffle join
    assert(sPlan.contains("BroadcastHashJoin"), sPlan.take(2000))
    assert(!sPlan.contains("SortMergeJoin"), sPlan.take(2000))
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val e = Seq((ts("2024-05-01 10:00:00"), "click"),
      (ts("2024-05-02 10:00:00"), "view")).toDF("ts", "event_type")
    val pPlan = graft.ops.EventOps.pivotDailyCounts(e)
      .queryExecution.executedPlan.toString
    // explicit pivot values ⇒ exactly one partial/final agg pair over one
    // exchange — no per-type scans, no second discovery aggregation
    assert("HashAggregate".r.findAllIn(pPlan).size == 2, pPlan.take(2000))
  }

  test("inverted-index text ops never plan a cartesian stage") {
    val docs = (0L until 40L).map(i =>
      (i, "src", "en", (1 to (i % 9 + 2).toInt).map("w" + _).mkString(" ")))
      .toDF("doc_id", "source", "lang", "text")
    for (df <- Seq(
        graft.ops.TextAnalysis.sparseCosinePairs(docs, 0.1, 30),
        graft.ops.TextAnalysis.bm25TopDocs(docs, 2, 5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    }
  }

  test("property: bpePairCounts equals the local reference on random corpora") {
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val docGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, docGen))
    sampled(corpusGen, 6, 77L).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.bpePairCounts(df, 1000)
        .as[(String, Long, Long)].collect().toSeq
      // local reference: word counts, then per-position char pairs
      val ref = docs.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .flatMap(w => w.sliding(2).filter(_.length == 2))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (p, n) => (-n, p) }
        .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1L) }
      assert(got == ref, s"corpus=$docs")
    }
  }

  test("property: interEventGaps equals the local lag reference") {
    val evGen = for {
      u <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 500L)
      t <- Gen.oneOf("a", "b")
    } yield (u, sec, t)
    val batchGen = Gen.choose(5, 40).flatMap(n => Gen.listOfN(n, evGen))
    sampled(batchGen, 6, 99L).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, t), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + sec * 1000), u, t)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.ops.EventOps.interEventGaps(df)
        .select("event_type", "n_gaps", "max_gap_us")
        .as[(String, Long, Long)].collect()
        .map { case (t, n, m) => t -> (n, m) }.toMap
      val ref = rows.groupBy(_._3).values.toSeq
        .flatMap { us =>
          us.sortBy(r => (r._2.getTime, r._1)).sliding(2).collect {
            case Seq(a, b) => (b._4, (b._2.getTime - a._2.getTime) * 1000L)
          }
        }
        .groupBy(_._1).view
        .mapValues(gs => (gs.size.toLong, gs.map(_._2).max)).toMap
      assert(got == ref, s"events=$rows")
    }
  }

  test("property: adaptiveSessionize learns exactly the local median threshold") {
    val evGen = for {
      u <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 2000L)
      ms <- Gen.choose(0L, 999L)
    } yield (u, sec * 1000 + ms)
    val batchGen = Gen.choose(4, 30).flatMap(n => Gen.listOfN(n, evGen))
    sampled(batchGen, 6, 4242L).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, millis), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + millis), u, "e", 1.0)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      // local reference for the LEARNED threshold: per-user raw-µs gaps,
      // interpolated exact median, floor(3 · median / 1e6) seconds
      val gaps = rows.groupBy(_._3).values.toSeq.flatMap { us =>
        us.sortBy(r => (r._2.getTime, r._1)).sliding(2).collect {
          case Seq(a, b) => (b._2.getTime - a._2.getTime) * 1000L
        }
      }.sorted
      val got = graft.ops.EventOps.adaptiveSessionize(df)
        .collect().map(_.toSeq).toSet
      val want =
        if (gaps.isEmpty)
          graft.ops.EventOps.sessionize(df)
            .withColumn("gap_s", lit(null).cast("long"))
            .collect().map(_.toSeq).toSet
        else {
          val pos = 0.5 * (gaps.size - 1)
          val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
          val med = gaps(lo) + (gaps(hi) - gaps(lo)) * (pos - lo)
          val gapS = math.floor(3.0 * med / 1e6).toLong
          graft.ops.EventOps.sessionize(df, gapS)
            .withColumn("gap_s", lit(gapS))
            .collect().map(_.toSeq).toSet
        }
      assert(got == want, s"events=$rows gaps=$gaps")
    }
    // no-gap edge: every user has one event → null threshold, one session
    // per user (the engine must not NPE on the driver scalar)
    val solo = Seq((1L, new java.sql.Timestamp(1700000000000L), 7L, "e", 1.0),
      (2L, new java.sql.Timestamp(1700000900000L), 8L, "e", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.EventOps.adaptiveSessionize(solo).collect()
    assert(out.length == 2 && out.forall(_.isNullAt(out.head.fieldIndex("gap_s"))))
  }

  test("property: temporalSplit is exhaustive, leakage-free and nested") {
    val evGen = for {
      sec <- Gen.choose(0L, 5000L)
    } yield sec
    val batchGen = Gen.choose(3, 40).flatMap(n => Gen.listOfN(n, evGen))
    sampled(batchGen, 6, 515L).foreach { secs =>
      val rows = secs.zipWithIndex.map { case (sec, i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + sec * 1000))
      }
      val df = rows.toDF("event_id", "ts")
      val names = Seq("train", "val", "test")
      val got = graft.ops.Sampling.temporalSplit(df, "ts", names, Seq(0.8, 0.9))
        .select("event_id", "ts", "split")
        .as[(Long, java.sql.Timestamp, String)].collect().toSeq
      // exhaustive: every input row labeled, labels drawn from names
      assert(got.size == rows.size)
      assert(got.map(_._3).toSet.subsetOf(names.toSet))
      // leakage-free: consecutive splits are strictly ordered in event
      // time (same-ts rows always share a label — label is a pure
      // function of ts)
      val byName = got.groupBy(_._3).view.mapValues(_.map(_._2.getTime)).toMap
      names.sliding(2).foreach { case Seq(a, b) =>
        for (ta <- byName.get(a).map(_.max); tb <- byName.get(b).map(_.min))
          assert(ta < tb, s"$a max $ta !< $b min $tb secs=$secs")
      }
      val sameTs = got.groupBy(_._2.getTime).values
      sameTs.foreach(g => assert(g.map(_._3).distinct.size == 1))
      // nested: an earlier boundary's train set is a subset of a later's
      val trainLo = graft.ops.Sampling
        .temporalSplit(df, "ts", Seq("train", "rest"), Seq(0.5))
        .filter(col("split") === "train").select("event_id")
        .as[Long].collect().toSet
      val trainHi = got.filter(_._3 == "train").map(_._1).toSet
      assert(trainLo.subsetOf(trainHi), s"secs=$secs")
    }
    // a null timestamp must raise, not land silently in the last split
    val withNull = Seq((1L, new java.sql.Timestamp(1700000000000L)),
      (2L, null.asInstanceOf[java.sql.Timestamp])).toDF("event_id", "ts")
    val ex = intercept[Exception] {
      graft.ops.Sampling.temporalSplit(withNull, "ts",
        Seq("train", "test"), Seq(0.8)).collect()
    }
    assert(ex.getMessage != null)
  }

  test("property: stratifiedFixedK rebalance is exact-k, nested and stable") {
    val rowGen = for {
      id <- Gen.choose(0L, 500L)
      lab <- Gen.oneOf("a", "b", "c")
    } yield (id, lab)
    val batchGen = Gen.choose(4, 40).flatMap(n =>
      Gen.listOfN(n, rowGen).map(_.distinctBy(_._1)))
    sampled(batchGen, 6, 616L).foreach { rows =>
      val df = rows.toDF("vec_id", "label")
      val classes = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val kMin = classes.values.min
      val got = graft.ops.Sampling.stratifiedFixedK(df, "label", "vec_id", kMin, "lb7")
        .as[(Long, String)].collect().toSeq
      // exact-k: every class contributes exactly min-class-count rows
      assert(got.groupBy(_._2).view.mapValues(_.size.toLong).toMap ==
        classes.view.mapValues(_ => kMin).toMap, s"rows=$rows")
      assert(got.toSet.subsetOf(rows.toSet))
      // local reference: the kMin smallest (hashUnit, id) per class —
      // hash evaluated through the engine's own expression
      val hashed = df.withColumn("__u",
        graft.ops.Sampling.hashUnit(col("vec_id"), "lb7"))
        .as[(Long, String, Double)].collect()
      val want = hashed.groupBy(_._2).values.flatMap(
        _.sortBy(r => (r._3, r._1)).take(kMin.toInt).map(r => (r._1, r._2))).toSet
      assert(got.toSet == want, s"rows=$rows")
      // nested along k and stable under repartitioning
      val gotK1 = graft.ops.Sampling
        .stratifiedFixedK(df, "label", "vec_id", kMin + 1, "lb7")
        .as[(Long, String)].collect().toSet
      assert(got.toSet.subsetOf(gotK1))
      val reshuffled = graft.ops.Sampling
        .stratifiedFixedK(df.repartition(7), "label", "vec_id", kMin, "lb7")
        .as[(Long, String)].collect().toSet
      assert(reshuffled == got.toSet)
    }
  }

  test("property: tokenBudgetSelect equals the local ranked prefix-sum reference") {
    val docGen = for {
      n <- Gen.choose(1, 40)
      ts <- Gen.listOfN(n, Gen.frequency(
        (5, Gen.oneOf("the", "and", "of")), (3, Gen.choose(1, 30).map("t" + _))))
    } yield ts.mkString(" ")
    val corpusGen = Gen.choose(2, 15).flatMap(n => Gen.listOfN(n, docGen))
    sampled(corpusGen, 6, 909L).foreach { corpus =>
      val rows = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      for (budget <- Seq(20L, 100L)) {
        val got = graft.ops.Sampling.tokenBudgetSelect(df, budget)
          .as[(Long, Double, Long, Long)].collect().toSet
        // local reference: engine-evaluated quality (rounding parity),
        // local rank + prefix sum + cut
        val scored = df.select(col("doc_id"),
            graft.Num.rnd(graft.ops.TextAnalysis.qualityScore(col("text")), 4),
            size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long"))
          .as[(Long, Double, Long)].collect().filter(_._3 > 0)
        var cum = 0L
        val want = scored.sortBy(r => (-r._2, r._1)).flatMap { case (id, q, n) =>
          cum += n
          if (cum <= budget) Some((id, q, n, cum)) else None
        }.toSet
        // the reference keeps scanning after the first overflow — but so
        // does the operator (the filter is on the inclusive prefix sum,
        // which is monotone, so both cut at the same prefix)
        assert(got == want, s"budget=$budget corpus=$rows")
      }
    }
  }

  test("property: containmentPairsPrefix == containmentPairs on random corpora") {
    // Generated shingle sets with heavy vocabulary overlap (shared prefix
    // runs ⇒ real shingle collisions), thresholds swept INCLUDING points
    // where t·|Sa| lands on an integer — the IEEE boundary the q118
    // pigeonhole fix guards (VERDICT r8 item 8).
    val docGen = for {
      n <- Gen.choose(3, 24)
      ts <- Gen.listOfN(n, Gen.frequency(
        (6, Gen.choose(1, 8).map("w" + _)), (2, Gen.choose(1, 40).map("r" + _))))
    } yield ts.mkString(" ")
    val corpusGen = Gen.choose(4, 18).flatMap(n => Gen.listOfN(n, docGen))
    sampled(corpusGen, 5, 4242L).foreach { corpus =>
      val rows = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      // 0.5 and 0.25 hit integer t·na for the even/4-divisible set sizes
      // the generator produces; 0.9/1.0 exercise the sparse regime where
      // the prefix is shortest (and t·na integer points like na=10, 20)
      for (t <- Seq(0.25, 0.5, 0.9, 1.0)) {
        val full = graft.ops.Dedup.containmentPairs(df, t)
          .as[(Long, Long, Double)].collect().toSet
        val pref = graft.ops.Dedup.containmentPairsPrefix(df, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(pref == full, s"t=$t corpus=$rows")
      }
    }
  }

  test("property: importanceWeights equals the local Laplace-LLR reference") {
    val tokGen = Gen.frequency(
      (4, Gen.oneOf("aa", "bb", "cc")), (2, Gen.oneOf("xx", "yy")),
      (1, Gen.choose(1, 15).map("t" + _)))
    val docGen = for {
      n <- Gen.choose(1, 10)
      ts <- Gen.listOfN(n, tokGen)
      src <- Gen.oneOf("s0", "s1", "s2")
    } yield (ts, src)
    val corpusGen = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, docGen))
    sampled(corpusGen, 6, 2718L).foreach { corpus =>
      val rows = corpus.zipWithIndex.map { case ((ts, src), i) =>
        (i.toLong, ts.mkString(" "), src)
      }
      val df = rows.toDF("doc_id", "text", "source")
      val got = graft.ops.TextAnalysis
        .importanceWeights(df, col("source") === "s0")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // local reference
      val all = rows.flatMap { case (id, t, src) =>
        t.split("\\s+").filter(_.nonEmpty).map(tok => (id, tok, src == "s0")) }
      val cc = all.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
      val ct = all.groupBy(_._2).view
        .mapValues(_.count(_._3).toDouble).toMap
      val (tc, tt, v) = (all.size.toDouble,
        all.count(_._3).toDouble, cc.size.toDouble)
      def llr(t: String) = math.log((ct(t) + 1) / (tt + v)) -
        math.log((cc(t) + 1) / (tc + v))
      rows.foreach { case (id, t, _) =>
        val ts = t.split("\\s+").filter(_.nonEmpty)
        assert(got(id)._1 == ts.length.toLong, s"doc $id corpus=$rows")
        assert(math.abs(got(id)._2 - ts.map(llr).sum / ts.length) < 1e-9,
          s"doc $id corpus=$rows")
      }
    }
  }

  test("property: heavyHitters equals brute-force share filter on random corpora") {
    // Zipf-flavored generator: low ids much more likely, so some tokens
    // genuinely cross the share threshold
    val tokGen = Gen.frequency(
      (8, Gen.const("t0")), (4, Gen.const("t1")), (2, Gen.const("t2")),
      (1, Gen.choose(3, 40).map("t" + _)))
    val docGen = Gen.choose(3, 12).flatMap(n =>
      Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, docGen))
    sampled(corpusGen, 6, 1234L).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (share <- Seq(0.05, 0.15)) {
        val got = graft.ops.TextAnalysis.heavyHitters(df, share)
          .select("token", "n").as[(String, Long)].collect().toSet
        val all = docs.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        val thresh = math.floor(share * all.size).toLong
        val ref = all.groupBy(identity).view.mapValues(_.size.toLong)
          .filter(_._2 > thresh).toSet
        assert(got == ref, s"share=$share corpus=$docs")
      }
    }
  }

  test("property: semanticDedup equals local union-find + quality argmax") {
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 4
      val vecs = Seq.tabulate(n) { i =>
        // a few shared directions force non-trivial clusters
        val base = Array.fill(4)(0.0f); base(i % 3) = 1.0f
        (i.toLong, base.map(v => v + rng.nextGaussian().toFloat * 0.05f))
      }
      val emb = vecs.toDF("vec_id", "embedding")
      val docs = Seq.tabulate(n) { i =>
        (i.toLong, (1 to (i % 7 + 1)).map("w" + _).mkString(" "))
      }.toDF("doc_id", "text")
      val got = graft.ops.Similarity.semanticDedup(docs, emb, 0.9)
        .select("doc_id", "cluster_id", "keep")
        .as[(Long, Long, Long)].collect().toSet
      // local reference: brute cosine pairs -> union-find -> quality argmax
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
             math.sqrt(b.map(x => x.toDouble * x).sum))
      }
      val parent = scala.collection.mutable.Map((0 until n).map(i => i -> i): _*)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for (i <- 0 until n; j <- i + 1 until n
           if cos(vecs(i)._2, vecs(j)._2) >= 0.9) {
        val (a, b) = (find(i), find(j)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val quality = docs.select($"doc_id",
          graft.Num.rnd(graft.ops.TextAnalysis.qualityScore($"text"), 4))
        .as[(Long, Double)].collect().toMap
      val byCluster = (0 until n).groupBy(find)
      val ref = byCluster.flatMap { case (root, members) =>
        val best = members.minBy(m => (-quality(m.toLong), m))
        members.map(m => (m.toLong, members.min.toLong,
          if (m == best) 1L else 0L))
      }.toSet
      assert(got == ref, s"trial $trial")
    }
  }
}

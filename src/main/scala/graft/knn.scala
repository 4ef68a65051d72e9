package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shape of a prepared cohort fed to the neighbor join: both sides must
  * share it (the reference hard-checks identical feature columns,
  * cocoa/nearest_consented_customers.py:266-284).
  *
  * @param idCol      unique row id within (cohortCols) scope
  * @param valueCol   conversion value
  * @param tokenCol   ArrayType(StringType) one-hot token set
  * @param numCols    numeric passthrough feature columns
  * @param cohortCols match scope (per-date in the reference pipeline)
  */
final case class CohortSpec(
    idCol: String,
    valueCol: String,
    tokenCol: String = "features",
    numCols: Seq[String] = Nil,
    cohortCols: Seq[String] = Nil,
    metric: DistanceMetric = Manhattan)

/** The kNN / radius similarity join (reference:
  * cocoa/nearest_consented_customers.py:145-264 — sklearn brute-force over
  * a CSR matrix, single machine). Spark-native design in two layers.
  *
  * Dense references — the brute |NC|×|C| relation and its refinements;
  * every pruned path is pinned against them and falls back to them:
  *  - [[pairs]] — the candidate-pairs relation `(cohort…, nc_idx,
  *    nc_value, c_idx, c_value, dist)`. Within-cohort matching is an
  *    equi-join on the cohort keys (never a global cross join); with no
  *    cohort keys the consent side is broadcast. Distance is a codegen'd
  *    column expression — no UDF.
  *  - [[topK]] — exact k smallest per noconsent row via window row_number,
  *    ties broken by c_idx (sklearn ties are index-ordered; SURVEY §7.4.1);
  *    fixed or proportional k.
  *  - [[withinRadius]] / [[withinRadiusPerCohort]] — the theta variant
  *    (dist <= r) with a constant or a per-cohort broadcast radius.
  *
  * Planned joins — they take the two cohorts, and this object is the ONLY
  * place that checks the metric's capabilities and the feature count to
  * pick the pruned path or the dense fallback:
  *  - [[topKBanded]] — exact top-k, fixed or proportional k
  *    ([[MatchStrategy.K]]'s convention). One numeric feature under a
  *    band-bounded metric: 1-D k-NN rank window → adaptive radius →
  *    two-tier bucket band join; cosine: the quadratic x-interval prune;
  *    hamming with ≤ 1 numeric: the drop-one-token subset join; anything
  *    else: `topK(pairs)`.
  *  - [[withinRadiusBucketed]] / [[withinRadiusBucketedPerCohort]] —
  *    constant or per-cohort radius through the 3-bucket band join on the
  *    first numeric feature (cosine: the interval prune); dense otherwise.
  *  - [[withinRadiusLsh]] — MinHash-banded token prune.
  *
  * Each pruned path is equivalence- or oracle-pinned against its dense twin
  * (PropertySpec, CocoaInvariantsSpec; q58, q39, q61, q70 share the dense
  * oracles).
  */
object NeighborJoin {

  /** Build the candidate pairs relation.
    *
    * Physical strategy:
    *  - `broadcastConsent` — broadcast-hash join; the probe (noconsent)
    *    side is explicitly repartitioned on its unique row id first, because
    *    a small parquet input arrives as ONE partition and would serialize
    *    the whole |NC|×|C| expansion onto one core.
    *  - otherwise a shuffle equi-join on the cohort keys (a cross join when
    *    there are none).
    */
  def pairs(consent: DataFrame, noconsent: DataFrame, spec: CohortSpec,
            broadcastConsent: Boolean = false): DataFrame = {
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    val joined =
      if (broadcastConsent) {
        // Explicit partition count: with a bare repartition(col), AQE sees
        // only the (tiny) pre-join size and coalesces back to one partition,
        // serializing the whole pair expansion onto one core.
        val n = nc0.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
        joinCoh(nc0.repartition(n, col("nc_idx")), c0, spec.cohortCols)
      } else if (spec.cohortCols.nonEmpty) nc0.join(c0, spec.cohortCols)
      else nc0.crossJoin(c0)
    joined.withColumn("dist", distCol(spec)).drop(featureCols(spec): _*)
  }

  private def prefixed(df: DataFrame, spec: CohortSpec, p: String): DataFrame = {
    val cols =
      spec.cohortCols.map(col(_)) ++ Seq(
        col(spec.idCol).as(p + "idx"),
        col(spec.valueCol).cast("double").as(p + "value"),
        col(spec.tokenCol).as(p + "features")) ++
        spec.numCols.map(n => col(n).cast("double").as(p + n))
    df.select(cols: _*)
  }

  /** Exact distance between the prefixed nc_/c_ feature columns. */
  private def distCol(spec: CohortSpec): Column =
    spec.metric.dist(col("nc_features"), col("c_features"),
      spec.numCols.map(n => (col(s"nc_$n"), col(s"c_$n"))))

  /** The prefixed feature columns a pair relation drops once it has `dist`. */
  private def featureCols(spec: CohortSpec): Seq[String] =
    Seq("nc_features", "c_features") ++ spec.numCols.flatMap(n => Seq(s"nc_$n", s"c_$n"))

  /** The pairs-relation schema `(cohort…, nc_idx, nc_value, c_idx, c_value,
    * dist)`. */
  private def pairCols(coh: Seq[String]): Seq[Column] =
    coh.map(col(_)) ++ Seq(col("nc_idx"), col("nc_value"), col("c_idx"),
      col("c_value"), col("dist"))

  /** Broadcast-join a dimension-sized per-cohort frame (a cross join when
    * the spec has no cohort scope — both frames are then global). */
  private def joinCoh(df: DataFrame, small: DataFrame, coh: Seq[String]): DataFrame =
    if (coh.nonEmpty) df.join(broadcast(small), coh)
    else df.crossJoin(broadcast(small))

  /** Resolve the reference's proportional-k: `k < 1` means
    * `int(k * |consent|)` (cocoa/nearest_consented_customers.py:145-147).
    * Cohort-scoped when cohort keys are present. Returns a per-cohort k
    * DataFrame (`cohort…, __k`) or a constant. */
  private def resolveK(consent: DataFrame, spec: CohortSpec,
                       k: Double): Either[Int, DataFrame] =
    if (k >= 1) Left(k.toInt)
    else Right(
      consent.groupBy(spec.cohortCols.map(col(_)): _*)
        .agg(floor(lit(k) * count(lit(1))).cast("int").as("__k")))

  /** Per-probe k as the `__kk` column: a fixed k stays a folded literal; a
    * proportional k joins its per-cohort resolution (dimension-sized →
    * broadcast). A cohort resolving to k = 0 keeps no row. */
  private def withK(df: DataFrame, consent: DataFrame, spec: CohortSpec,
                    k: Double): DataFrame = resolveK(consent, spec, k) match {
    case Left(kk) => df.withColumn("__kk", lit(kk.toLong))
    case Right(perCohort) => joinCoh(df, perCohort.select(spec.cohortCols.map(col(_)) :+
      col("__k").cast("long").as("__kk"): _*), spec.cohortCols)
  }

  /** Per-probe ranking order: (dist, c_idx). */
  private def nearestFirst(coh: Seq[String]) =
    Window.partitionBy((coh :+ "nc_idx").map(col(_)): _*)
      .orderBy(col("dist").asc, col("c_idx").asc)

  /** The exact (dist, c_idx) rank over each probe's candidate superset, cut
    * at its `__kk` — the last step of every pruned top-k. Each probe is
    * ranked over ONE sound superset of its true top-k, so the rows equal
    * [[topK]] on the dense relation. */
  private def rankWithinK(cand: DataFrame, coh: Seq[String]): DataFrame =
    cand.withColumn("rank", row_number().over(nearestFirst(coh)))
      .filter(col("rank") <= col("__kk"))
      .select(pairCols(coh) :+ col("rank"): _*)

  /** Exact top-k per noconsent row: window row_number over (dist, c_idx).
    * A fixed k keeps the literal rank filter, which Spark turns into a
    * per-partition WindowGroupLimit below the sort. */
  def topK(pairs: DataFrame, spec: CohortSpec, k: Double,
           consentForProportional: Option[DataFrame] = None): DataFrame = {
    val ranked = pairs.withColumn("rank", row_number().over(nearestFirst(spec.cohortCols)))
    if (k >= 1) ranked.filter(col("rank") <= k.toInt)
    else withK(ranked, consentForProportional.getOrElse(
        throw new IllegalArgumentException("proportional k requires the consent cohort")),
        spec, k)
      .filter(col("rank") <= col("__kk")).drop("__kk")
  }

  /** Radius (theta) refinement; unmatched rows recovered by the caller with
    * an anti-join (reference keeps them for the summary,
    * cocoa/nearest_consented_customers.py:176-182,362-364). */
  def withinRadius(pairs: DataFrame, radius: Double): DataFrame =
    pairs.filter(col("dist") <= radius)

  /** Cohort-scoped radius refinement: `radii` is (cohort…, __radius) — one
    * row per cohort, so it broadcasts; the filter happens map-side on the
    * pairs relation with no extra shuffle. */
  def withinRadiusPerCohort(pairs: DataFrame, radii: DataFrame,
                            cohortCols: Seq[String]): DataFrame =
    joinCoh(pairs, radii, cohortCols)
      .filter(col("dist") <= col("__radius")).drop("__radius")

  /** Exact radius join via numeric band pruning. Both supported metrics
    * bound the distance below by the first numeric feature's gap
    * (manhattan: dist = tokenΔ + Σ|Δxᵢ| ≥ |Δx₁|; euclidean:
    * dist = √(tokenΔ + ΣΔxᵢ²) ≥ |Δx₁|), so |Δx₁| ≤ r is a NECESSARY
    * condition for dist ≤ r: bucket both sides by floor(x₁/r) and join each
    * noconsent bucket against consent buckets {b−1, b, b+1} (a band join),
    * then apply the exact dist ≤ r filter. Output is identical to
    * `withinRadius(pairs(c, nc, spec), r)` — pinned by the equivalence test
    * in CocoaInvariantsSpec — but the candidate relation shrinks from the
    * per-cohort cross product to the rows within ±1 bucket of each probe:
    * near-linear when r is small against the feature's spread, and a plain
    * shuffle equi-join on (cohort…, bucket) — no broadcast requirement, the
    * shape that survives a 100× cohort. Falls back to the dense pairs
    * relation when the spec has no numeric feature.
    *
    * Cosine: no |Δx| bound exists, but for r < 1 (sim threshold s = 1 − r
    * > 0) the quadratic cosine bound yields a per-probe admissible
    * x-interval — the same machinery as the cosine top-k, with the
    * constant radius as the threshold. r ≥ 1 admits sim ≤ 0 pairs, which
    * the bound cannot prune — dense fallback. */
  def withinRadiusBucketed(consent: DataFrame, noconsent: DataFrame,
                           spec: CohortSpec, radius: Double): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    if (spec.numCols.size == 1 && spec.metric == Cosine && radius < 1.0)
      cosineWithinRadius(consent, noconsent, spec, _.withColumn("__dk", lit(radius)))
    else if (spec.numCols.isEmpty || !spec.metric.boundsNumericGap)
      withinRadius(pairs(consent, noconsent, spec), radius)
    else radiusBandJoin(prefixed(consent, spec, "c_"), prefixed(noconsent, spec, "nc_"),
      spec, lit(radius), lit(radius))
  }

  /** Per-cohort-radius join WITHOUT the dense pairs relation — the
    * band-pruned twin of [[withinRadiusPerCohort]] (same output, pinned by
    * PropertySpec), with the bucket width set per cohort from its own
    * radius. Same necessary-condition argument as [[withinRadiusBucketed]]:
    * dist ≥ |Δx₁| under both metrics, so |Δx₁| ≤ r prunes soundly. Falls
    * back to the dense relation when the spec has no numeric feature.
    *
    * Cosine: per-cohort radii ride the shared interval prune — the radius
    * is just a per-row distance threshold (__dk). Cohorts whose radius
    * admits sim ≤ 0 (r ≥ 1) make their probes wild and take the wildcard
    * (dense per-cohort) tier automatically — no special-casing. */
  def withinRadiusBucketedPerCohort(consent: DataFrame, noconsent: DataFrame,
                                    radii: DataFrame, spec: CohortSpec,
                                    broadcastConsent: Boolean = false): DataFrame = {
    val coh = spec.cohortCols
    if (spec.numCols.size == 1 && spec.metric == Cosine)
      cosineWithinRadius(consent, noconsent, spec, joinCoh(_,
        radii.select(coh.map(col(_)) :+ col("__radius").as("__dk"): _*), coh))
    else if (spec.numCols.isEmpty || !spec.metric.boundsNumericGap)
      withinRadiusPerCohort(
        pairs(consent, noconsent, spec, broadcastConsent), radii, coh)
    else {
      // zero/negative radii (quantile of exact-duplicate distances) still
      // need a positive bucket width for the floor(x/w) keys
      val widths = radii.withColumn("__w", greatest(col("__radius"), lit(1e-6)))
      radiusBandJoin(joinCoh(prefixed(consent, spec, "c_"), widths, coh),
        joinCoh(prefixed(noconsent, spec, "nc_"), widths, coh),
        spec, col("__w"), col("__radius"))
    }
  }

  /** The 3-bucket band join behind both bucketed radius joins: consent rows
    * keyed by floor(x₁/width), each probe exploded over its bucket ±1, one
    * equi-join on (cohort…, bucket), then the exact dist ≤ radius filter.
    * `width` and `radius` are literals, or the `__w` / `__radius` columns a
    * per-cohort caller joined onto both sides (the consent copies are
    * dropped before the join). Sound whenever width ≥ radius. */
  private def radiusBandJoin(c0: DataFrame, nc0: DataFrame, spec: CohortSpec,
                             width: Column, radius: Column): DataFrame = {
    val x = spec.numCols.head
    val cB = c0.withColumn("__bucket", floor(col(s"c_$x") / width).cast("long"))
      .drop("__w", "__radius")
    val ncB = nc0.withColumn("__bucket", explode(array(Seq(-1L, 0L, 1L).map(d =>
      floor(col(s"nc_$x") / width).cast("long") + lit(d)): _*)))
    ncB.join(cB, spec.cohortCols :+ "__bucket")
      .withColumn("dist", distCol(spec))
      .filter(col("dist") <= radius)
      .drop(Seq("__bucket", "__w", "__radius") ++ featureCols(spec): _*)
  }

  /** Radius join with MinHash-LSH candidate pruning — the near-linear scale
    * path the dense pairs relation can't offer. A pair at dist ≤ r has
    * token-part distance ≤ B (manhattan: B = r, since dist = tokenΔ + Σ|Δx|
    * ≥ tokenΔ; euclidean: B = r², since dist² = tokenΔ + ΣΔx²), i.e.
    * |a∩b| ≥ (|a|+|b|−B)/2, i.e. Jaccard ≥ (|a|+|b|−B)/(|a|+|b|+B) —
    * increasing in |a|+|b|, so every qualifying pair has
    * J ≥ t = (2·sₘᵢₙ−B)/(2·sₘᵢₙ+B) with sₘᵢₙ the smallest token set in
    * either cohort (two scalar aggs). Banding from [[graft.ops.Dedup
    * .bandingFor]](t) then admits every such pair w.p. ≥ 1−1e-9; the exact
    * `dist ≤ r` verification admits no false positives, so the output
    * equals [[withinRadius]] on the dense relation (equivalence pinned by
    * CocoaInvariantsSpec). Candidates come from an equi-join on
    * (cohort…, band, bandKey) — shuffle O((|C|+|NC|)·bands), never the
    * per-cohort cross product. The token bound B comes from
    * [[DistanceMetric.tokenBound]] (manhattan r, euclidean r², chebyshev 0
    * for r < 1); falls back to the dense pairs relation when the metric has
    * no bound (cosine, chebyshev r ≥ 1) or the bound is vacuous
    * (r ≥ 2·sₘᵢₙ ⇒ t ≤ 0: the radius spans whole token sets and nothing
    * can be pruned). */
  def withinRadiusLsh(consent: DataFrame, noconsent: DataFrame,
                      spec: CohortSpec, radius: Double): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    val tokenBound = spec.metric.tokenBound(radius) match {
      case Some(b) => b
      case None => // metric admits no token bound at this radius — dense
        return withinRadius(pairs(consent, noconsent, spec), radius)
    }
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    val minSize = (df: DataFrame, c: String) =>
      Option(df.agg(min(size(col(c)))).head().get(0)).map(_.asInstanceOf[Int])
    val smin = for {
      a <- minSize(c0, "c_features"); b <- minSize(nc0, "nc_features")
    } yield math.min(a, b)
    val t = smin.map(s => (2.0 * s - tokenBound) / (2.0 * s + tokenBound))
    // dense fallback when nothing can be pruned soundly: empty side, bound
    // vacuous (r spans whole token sets), or no banding within the hash
    // budget reaches the 1e-9 miss bound at this threshold (shallow S-curve
    // — silently using a weaker banding would break the equals-dense
    // contract).
    val banding = t.filter(_ > 0).flatMap(graft.ops.Dedup.bandingWithin(_))
    if (banding.isEmpty)
      return withinRadius(pairs(consent, noconsent, spec), radius)
    val (bands, rows) = banding.get
    val seeds = graft.ops.Dedup.Seeds.take(bands * rows)
    val P = graft.ops.TextAnalysis.P
    // Band DISTINCT TOKEN SIGNATURES, not rows: category token universes
    // are low-cardinality, so whole clusters of rows share one token set —
    // banding rows would re-collide every identical-set pair in all b bands
    // (measured 35 s at sf0.1 from the band×cluster² duplication alone).
    // |sigs| ≤ min(|rows|, Π|category domains|); with per-row-unique sets
    // this degrades gracefully to row-level banding.
    val sigs = c0.select(col("c_features").as("features"))
      .union(nc0.select(col("nc_features").as("features")))
      .distinct()
      .withColumn("__tsig", xxhash64(col("features")))
    // token set → [0,P) hash set (the MinHash family's domain; a mod-P
    // collision merges two category tokens — vanishing for category-sized
    // universes, and it can only shift J, never break the exact verify)
    val hashed = transform(col("features"), tk => pmod(xxhash64(tk), lit(P)))
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.MinHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(hashed),
        seeds.map(_._1), seeds.map(_._2)))
    val bandKey = (b: Int) =>
      xxhash64((0 until rows).map(r => col("__sig")(b * rows + r)): _*)
    val buckets = sigs
      .withColumn("__sig", sig)
      .select(col("features"), col("__tsig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select(col("features"), col("__tsig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Directed signature pairs (nc side × c side, self-pairs included:
    // identical sigs agree in every band), exact-verified on the token
    // bound. No broadcast hint: with category-sized token universes this
    // relation is tiny and auto-broadcasts; with per-row-unique sets it is
    // output-sized and must stay a shuffle join — a forced broadcast would
    // OOM exactly at the scale this path exists for.
    val sigPairs = buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .select(col("x.__tsig").as("__tsig_nc"), col("y.__tsig").as("__tsig_c"),
        col("x.features").as("fa"), col("y.features").as("fb"))
      .filter(size(col("fa")) + size(col("fb"))
        - lit(2) * TokenOps.intersectionSize(col("fa"), col("fb")) <= tokenBound)
      .select("__tsig_nc", "__tsig_c")
      .distinct()
    nc0.withColumn("__tsig_nc", xxhash64(col("nc_features")))
      .join(sigPairs, "__tsig_nc")
      .join(c0.withColumn("__tsig_c", xxhash64(col("c_features"))),
        spec.cohortCols :+ "__tsig_c")
      .withColumn("dist", distCol(spec))
      .filter(col("dist") <= radius)
      .drop(Seq("__tsig_nc", "__tsig_c") ++ featureCols(spec): _*)
  }

  /** Exact top-k WITHOUT the dense pairs relation where the metric and the
    * feature shape allow it, `topK(pairs)` otherwise — the one kNN
    * dispatch. `k` follows [[MatchStrategy.K]]: k ≥ 1 is a fixed k,
    * 0 < k < 1 is proportional (`int(k·|cohort consent|)` per cohort, each
    * cohort's adaptive radius derived from its OWN resolved k; a cohort
    * resolving to 0 emits nothing, matching the dense `rank <= 0` filter).
    *
    * Routes, each equal to `topK(pairs(c, nc, spec), spec, k, Some(c))`:
    *  - one numeric feature, cosine → [[topKCosineBandedImpl]];
    *  - hamming with ≤ 1 numeric feature → [[topKHammingImpl]];
    *  - one numeric feature, a metric with a band bound (manhattan,
    *    euclidean, chebyshev, minkowski) → [[topKBandedImpl]];
    *  - otherwise the dense relation (`broadcastConsent` is forwarded
    *    there). The 1-D bound needs exactly one numeric feature: with extra
    *    numeric columns dist ≥ |Δx₁| still holds but the step-2 bound of
    *    [[topKBandedImpl]] does not.
    *
    * Global cohort scope (`cohortCols == Nil`) is also scale-safe: a bare
    * window there would funnel all |C|+|NC| rows through ONE sort task, so
    * the rank / position passes switch to the range-partitioned
    * zipWithIndex shape ([[Preprocess.runningSum]] — per-partition offsets
    * from a tiny sums job, no single-task stage). Same rows, pinned by the
    * PropertySpec equivalences, which all run with `cohortCols = Nil`.
    *
    * A NULL/NaN numeric feature is invalid input (sklearn raises; the
    * matcher rejects it on the validated route) — unvalidated callers get a
    * clear per-row error on the banded routes instead of dense's silent
    * nulls-first ranking or a cryptic element_at failure. */
  def topKBanded(consent: DataFrame, noconsent: DataFrame,
                 spec: CohortSpec, k: Double,
                 broadcastConsent: Boolean = false): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val oneNumeric = spec.numCols.size == 1
    (spec.metric, spec.metric.bandBound) match {
      case (Cosine, _) if oneNumeric => topKCosineBandedImpl(consent, noconsent, spec, k)
      case (Hamming(_), _) if spec.numCols.size <= 1 =>
        topKHammingImpl(consent, noconsent, spec, k)
      case (_, Some(bound)) if oneNumeric =>
        topKBandedImpl(consent, noconsent, spec, k, bound)
      case _ =>
        topK(pairs(consent, noconsent, spec, broadcastConsent), spec, k, Some(consent))
    }
  }

  /** Shared probe-prep of the banded top-k family (manhattan/euclidean/
    * chebyshev AND the cosine variant): guarded prefixed projections, the
    * cohort-scoped consent x-rank relation, per-cohort consent stats
    * (count, min/max token-set size — dimension-sized, broadcast), and each
    * probe's insertion position in the consent x-order.
    *
    * The prefixed projections feed 3-4 consumers (rank window, pos union,
    * probe/candidate sides) and ARE persisted (MEMORY_AND_DISK). Earlier
    * rounds left them unpersisted (recompute-per-consumer measured cheaper
    * for the PAIRS relation), but the banded prep re-ran the source
    * scan+broadcast-join as 6 sequential single-task stages (~0.4 s each at
    * sf0.1, the single-parquet-file partition) — re-measured r7: persisting
    * cut q16 5.7 → 2.6 s and q58 3.8 → 2.8 s steady-state. The cached
    * relation is the NARROW projection (id, value, features, x, cohort) —
    * column-pruned well below the source table — and spills to disk at
    * scale; callers free it via clearCache/ContextCleaner like every other
    * internal persist in this engine.
    *
    * With NO cohort scope a bare window would funnel all rows through one
    * task, so the global forms switch to the range-partitioned
    * running-sum shape ([[Preprocess.runningSum]] — per-partition offsets
    * from a tiny sums job, no single-task stage). */
  private final case class BandPrep(c0: DataFrame, nc0: DataFrame,
                                    cRanked: DataFrame, cStats: DataFrame,
                                    pos: DataFrame)

  private def bandPrep(consent: DataFrame, noconsent: DataFrame,
                       spec: CohortSpec): BandPrep = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    // A codegen'd per-row branch rejects null/NaN x up front: the window /
    // bucket arithmetic below would otherwise drop such rows silently.
    val guardX = (p: String, df: DataFrame) => df.withColumn(s"$p$x",
      when(col(s"$p$x").isNull || isnan(col(s"$p$x")),
        raise_error(lit(s"topKBanded: null/NaN numeric feature '$x' — " +
          "clean the cohort or use the validated matcher route")))
        .otherwise(col(s"$p$x")))
    // The persist sits UNDER the guard: the cached relation is the plain
    // prefixed projection, so the percentile pipeline's pass-2 radius join
    // (which builds the identical unguarded projection) hits this cache by
    // plan equality instead of re-deriving cohort prep from source. The
    // guard itself is a per-row branch over the cached scan — free.
    val c0 = guardX("c_", prefixed(consent, spec, "c_")
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nc0 = guardX("nc_", prefixed(noconsent, spec, "nc_")
      .persist(StorageLevel.MEMORY_AND_DISK))

    // consent rows ranked (1-based) by x within each cohort
    val cRanked =
      if (coh.nonEmpty) {
        val wRank = Window.partitionBy(coh.map(col(_)): _*)
          .orderBy(col(s"c_$x").asc, col("c_idx").asc)
        c0.withColumn("__rn", row_number().over(wRank).cast("long"))
      } else
        Preprocess.runningSum(c0, Nil, Seq(s"c_$x", "c_idx"), _ => 1L, "__rn")
    val cStats = c0.groupBy(coh.map(col(_)): _*)
      .agg(count(lit(1)).as("__cnt"), max(size(col("c_features"))).as("__cmaxtok"),
        min(size(col("c_features"))).as("__cmintok"))

    // pos = #{consent with x < probe.x}: running consent-count over the
    // unioned x-order; at equal x probes sort FIRST (__isc asc) so same-x
    // consent is excluded — either tie side works, the ±k rank window walks
    // monotonically in |Δx| from the insertion point regardless.
    val cu = c0.select(coh.map(col(_)) ++ Seq(
      col(s"c_$x").as("__x"), col("c_idx").as("__uid"), lit(1).as("__isc")): _*)
    val nu = nc0.select(coh.map(col(_)) ++ Seq(
      col(s"nc_$x").as("__x"), col("nc_idx").as("__uid"), lit(0).as("__isc")): _*)
    val counted =
      if (coh.nonEmpty) {
        val wPos = Window.partitionBy(coh.map(col(_)): _*)
          .orderBy(col("__x").asc, col("__isc").asc, col("__uid").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cu.union(nu).withColumn("__pos", sum("__isc").over(wPos))
      } else
        Preprocess.withRunningFlagCount(cu.union(nu),
          Seq("__x", "__isc", "__uid"), "__isc", "__pos")
    val pos = counted
      .filter(col("__isc") === 0)
      .select(coh.map(col(_)) :+ col("__uid").as("nc_idx") :+ col("__pos"): _*)
    BandPrep(c0, nc0, cRanked, cStats, pos)
  }

  /** The conditional two-tier band join shared by [[topKBandedImpl]] and
    * [[cosineBandCandidates]]. Probe rows carry the nc_* projection and the
    * half-width `__r` of their admissible x-interval `[lo, hi]` (columns of
    * the probe row); a null `__r` marks a wild probe — no usable interval.
    * `cSide` is a c0-shaped relation.
    *
    * Two-tier band width (skew hardening): a single probe in a sparse x
    * region has a huge interval; with one cohort-wide bucket width W = max
    * `__r` that ONE probe used to widen every bucket, inflating every other
    * probe's candidate set. Instead W ≈ the p99 of the cohort's half-widths
    * (approx_percentile: mergeable partial agg, any cohort size). Bulk
    * probes (r ≤ W) emit the ≤ 3 buckets their interval covers; the ≤ ~1%
    * wild or wider probes emit ONE wildcard key, and each consent row rides
    * under its real bucket plus — ONLY in cohorts that actually have such a
    * probe — a wildcard replica. So one equi-join serves both tiers, and the
    * common no-skew cohort pays zero for the wildcard machinery. No second
    * join branch, no union: the probe-prep lineage is planned once (a
    * two-branch union measured ~+0.6 s/query at sf0.1 from the duplicated
    * subtree). The wildcard lives in its OWN key space — the join key is
    * (tier, bucket), tier 1 = wildcard — so no bucket value can ever collide
    * with it. Each probe rides exactly one tier, so the per-probe rank over
    * the joined superset is exact. Measured on a skewed cohort (one planted
    * far-x probe per cohort, sf0.1): see DESIGN.md §10.
    *
    * The probes feed both the widths aggregate and the banded probe side, so
    * callers pass them persisted. Returns the raw join; each caller applies
    * its own exact admissibility filter. */
  private def tieredBandJoin(probes: DataFrame, cSide: DataFrame, spec: CohortSpec,
                             lo: Column, hi: Column): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    // a wild probe (null __r) counts as infinitely wide: its cohort's
    // consent rows get the wildcard replica
    val widths = probes.groupBy(coh.map(col(_)): _*)
      .agg(greatest(percentile_approx(col("__r"), lit(0.99), lit(1000)),
        lit(1e-6)).as("__w"),
        max(coalesce(col("__r"), lit(Double.PositiveInfinity))).as("__rmax"))
    val tb = (t: Int, b: Column) => struct(lit(t).as("tier"), b.as("bucket"))
    val bucket = (v: Column) => floor(v / col("__w")).cast("long")
    val split = (df: DataFrame) => df
      .withColumn("__tier", col("__tb.tier"))
      .withColumn("__bucket", col("__tb.bucket"))
      .drop("__tb", "__rmax")
    val ncB = split(joinCoh(probes, widths, coh)
      .withColumn("__tb", explode(
        when(col("__r") <= col("__w"), transform(
          sequence(bucket(lo), bucket(hi)), b => tb(0, b)))
        .otherwise(array(tb(1, lit(0L)))))))
    val cB = split(joinCoh(cSide, widths, coh)
      .withColumn("__tb", explode(
        when(col("__rmax") > col("__w"),
          array(tb(0, bucket(col(s"c_$x"))), tb(1, lit(0L))))
        .otherwise(array(tb(0, bucket(col(s"c_$x"))))))))
      .drop("__w")
    ncB.join(cB, coh ++ Seq("__tier", "__bucket"))
  }

  /** Banded exact top-k for metrics with a band bound, one numeric feature
    * — the plan that survives a 100× cohort (measured: the dense |NC|×|C|
    * expansion is ~quadratic, 105 s at a 10× sf0.1 replica where this path
    * holds near-linear).
    *
    * Exactness argument, per noconsent row i (x = the single numeric
    * feature; both metrics bound dist ≥ |Δx|):
    *
    *  1. The k consent rows nearest to i by |Δx| ALONE sit within ranks
    *     [pos−k+1, pos+k] of the cohort's x-sorted consent order, where pos =
    *     #{consent with x < nc.x} (|Δx| grows monotonically walking away from
    *     the insertion point, ties included). c_x is monotone in rank, so
    *     every row in that window has |Δx| ≤ D := max(gap at the window's
    *     clamped endpoint ranks) — an upper bound on the exact 1-D k-NN
    *     distance, derived from just the two endpoint rows.
    *  2. Each of those k rows has full dist ≤ bound(D): manhattan
    *     D + B, euclidean √(D² + B), with B = |nc tokens| + max |c tokens|
    *     ≥ any token-part distance. So the TRUE k-th best dist ≤ bound(D).
    *  3. Any consent row in the true top-k therefore has
    *     |Δx| ≤ dist ≤ bound(D) — the adaptive per-row radius r_i. The
    *     two-tier band join ([[tieredBandJoin]], interval [x − r_i, x + r_i])
    *     admits every row with |Δx| ≤ r_i, i.e. a SUPERSET of the true
    *     top-k; the exact (dist, c_idx) window rank on that superset selects
    *     identical rows to [[topK]] on the dense relation (equivalence
    *     pinned by PropertySpec; q58 shares q09's oracle).
    *
    * Plan shape: two rank windows over (|C|+|NC|) rows, two |NC|-row
    * equi-joins against the rank relation, and the two-tier bucket band
    * join — every shuffle is keyed and near-linear; nothing materializes
    * |NC|×|C|. */
  private def topKBandedImpl(consent: DataFrame, noconsent: DataFrame,
                             spec: CohortSpec, k: Double,
                             bound: (Column, Column) => Column): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    val prep = bandPrep(consent, noconsent, spec)

    // the ±k rank window per probe, reduced to its TWO ENDPOINTS: the k
    // consent rows nearest to the probe by |Δx| sit within ranks
    // [pos−k+1, pos+k] (step 1), every row in that rank window has
    // |Δx| ≤ max(gap at the clamped window ends) because c_x is monotone in
    // rank, so that endpoint max is an upper bound on the exact 1-D k-NN
    // distance D — and step 2 only needs an UPPER bound. Deriving it costs
    // two |NC|-row equi-joins against the rank relation instead of the
    // 2k-rank explode + per-probe sort of rounds 1–3 (which shuffled
    // O(k·|NC|) rows — measured 60 s for q39 at the 10× replica where k
    // resolves to ~190; the endpoint form drops the whole stage). The bound
    // is ≤ ~2× the exact D in the uniform-density worst case, so the band
    // admits a ~2× candidate superset — the exact rank window still makes
    // the result identical.
    // Cohorts resolving to k = 0 (proportional k on a tiny cohort) emit no
    // candidates at all — matching the dense path's `rank <= 0` filter.
    val joinKeys = coh :+ "nc_idx"
    val probes = withK(prep.nc0.select(coh.map(col(_)) ++
      Seq(col("nc_idx"), col(s"nc_$x")): _*).join(prep.pos, joinKeys), consent, spec, k)
      .filter(col("__kk") >= 1)
    val cxByRank = (rn: String, cx: String) => prep.cRanked.select(
      coh.map(col(_)) ++ Seq(col("__rn").as(rn), col(s"c_$x").as(cx)): _*)
    val dxK = joinCoh(probes, prep.cStats, coh)
      .withColumn("__lo", greatest(col("__pos") - (col("__kk") - lit(1L)), lit(1L)))
      .withColumn("__hi", least(col("__pos") + col("__kk"), col("__cnt")))
      .join(cxByRank("__lo", "__cxlo"), coh :+ "__lo")
      .join(cxByRank("__hi", "__cxhi"), coh :+ "__hi")
      .select(coh.map(col(_)) ++ Seq(col("nc_idx"), col("__kk"),
        greatest(abs(col(s"nc_$x") - col("__cxlo")),
          abs(col(s"nc_$x") - col("__cxhi"))).as("__d")): _*)

    // adaptive radius r_i = bound(D), the interval [x − r_i, x + r_i]; no
    // probe is wild — the bound always exists. PERSISTED: ncD feeds the
    // widths aggregate AND the banded probe side, and its lineage holds the
    // dxK endpoint derivation (two joins against the rank relation).
    // O(|NC|) narrow rows; an r5 note measured this pin as neutral at
    // sf0.1 — at the 10× replica the duplicated subtree is no longer free.
    val ncD = joinCoh(prep.nc0.join(dxK, joinKeys), prep.cStats, coh)
      .withColumn("__b0", size(col("nc_features")) + col("__cmaxtok"))
      .withColumn("__r", bound(col("__d"), col("__b0")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    rankWithinK(tieredBandJoin(ncD, prep.cRanked.drop("__rn"), spec,
        col(s"nc_$x") - col("__r"), col(s"nc_$x") + col("__r"))
      .filter(abs(col(s"nc_$x") - col(s"c_$x")) <= col("__r"))
      .withColumn("dist", distCol(spec)), coh)
  }

  /** Exact COSINE top-k without the dense pairs relation. Cosine is
    * scale-invariant in the numeric feature, so the |Δx| ≤ r bound behind
    * [[topKBandedImpl]] does not exist — but a different 1-D prune does.
    * Per probe a (token count A, numeric x_a, norm n_a = √(A + x_a²)),
    * against consent b (token count |b|, numeric x_b):
    *
    *  1. dot(a,b) = |a∩b| + x_a·x_b ≤ A + x_a·x_b, and
    *     n_b = √(|b| + x_b²) ≥ √(m + x_b²) with m = the cohort's min
    *     consent token-set size. If A + x_a·x_b < 0 then dot < 0 and
    *     sim < 0. So sim ≥ s > 0 requires
    *     (A + x_a·x_b)² ≥ s²·n_a²·(m + x_b²) — call it g(x_b) ≥ 0.
    *  2. g is a quadratic with leading coefficient a₂ = x_a² − c²
    *     (c² = s²·n_a²). When a₂ < 0 it opens downward, so {g ≥ 0} is the
    *     INTERVAL between its roots — computable in closed form
    *     (discriminant D = c²(A² + m·a₂)). When a₂ ≥ 0 or D < 0 the set is
    *     not a usable interval → that probe rides the wildcard tier.
    *  3. The threshold s per probe: phase 1 scores the probe's ±k x-rank
    *     neighbors EXACTLY (the same rank/pos machinery; ≤ 2k candidates,
    *     shuffle O(k·|NC|)) and takes d_k = the k-th smallest cosine
    *     distance — an upper bound on the true k-th best. s = 1 − d_k.
    *     Every true top-k row has dist ≤ d_k, i.e. sim ≥ s, i.e. its x_b
    *     lies in the interval — so the banded candidates are a SUPERSET of
    *     the true top-k, and the exact (dist, c_idx) window rank over them
    *     returns rows identical to [[topK]] on the dense relation
    *     (PropertySpec pins the equivalence, arbitrary + skewed cohorts;
    *     q61 shares the dense oracle).
    *
    * The interval is padded by a relative ε against root-finding roundoff
    * (padding only widens the superset). Probes with fewer than k phase-1
    * candidates, s ≤ 0 (weak bound), or an unusable interval fall back to
    * the wildcard tier of [[tieredBandJoin]], so one skewed probe never
    * widens its cohort's buckets. Everything shuffles
    * O(k·|NC| + (|C|+|NC|)·buckets) — nothing materializes |NC|×|C|. */
  private def topKCosineBandedImpl(consent: DataFrame, noconsent: DataFrame,
                                   spec: CohortSpec, k: Double): DataFrame = {
    val coh = spec.cohortCols
    val x = spec.numCols.head
    val prep = bandPrep(consent, noconsent, spec)
    val joinKeys = coh :+ "nc_idx"

    // phase 1: a ±max(k, 16) rank window per probe, scored EXACTLY (unlike
    // the metric-bound impl, the token part matters here, so the window
    // cannot be reduced to its endpoints). Widening past ±k is pure
    // threshold-tightening: d_k = k-th best of MORE exactly-scored
    // candidates can only drop, and the phase-2 interval derived from it
    // only narrows — the superset argument is unchanged. The floor of 16
    // buys a much tighter s when x correlates weakly with the metric (the
    // token part dominates cosine; the ±k x-neighbors alone often share no
    // tokens, putting d_k near the metric's ceiling and degrading phase 2
    // toward the dense candidate volume) at O(16·|NC|) extra phase-1 rows.
    // k = 0 cohorts (proportional on a tiny cohort) emit nothing like
    // dense's rank <= 0.
    val probes = withK(joinCoh(prep.nc0.join(prep.pos, joinKeys), prep.cStats, coh),
      consent, spec, k)
      .filter(col("__kk") >= 1)
    val cand1 = probes
      .withColumn("__kw", greatest(col("__kk"), lit(16L)))
      .withColumn("__lo", greatest(col("__pos") - (col("__kw") - lit(1L)), lit(1L)))
      .withColumn("__hi", least(col("__pos") + col("__kw"), col("__cnt")))
      .filter(col("__hi") >= col("__lo"))
      .withColumn("__rn", explode(sequence(col("__lo"), col("__hi"))))
      .join(prep.cRanked.select(coh.map(col(_)) ++ Seq(
        col("__rn"), col("c_idx").as("__c1idx"),
        col("c_features").as("__c1f"), col(s"c_$x").as("__c1x")): _*),
        coh :+ "__rn")
      .withColumn("__pd", spec.metric.dist(col("nc_features"), col("__c1f"),
        Seq((col(s"nc_$x"), col("__c1x")))))
    // d_k = k-th smallest phase-1 distance (null when the probe has fewer
    // than k candidates → wildcard). ≤ 2k values per probe: collect+sort is
    // a bounded per-group buffer, not a data-sized one.
    val dk = cand1.groupBy(joinKeys.map(col(_)): _*)
      .agg(sort_array(collect_list(col("__pd"))).as("__pds"),
        first(col("__kk")).as("__k1"))
      .select(joinKeys.map(col(_)) :+
        when(size(col("__pds")) >= col("__k1"),
          element_at(col("__pds"), col("__k1").cast("int"))).as("__dk"): _*)

    // phase 2: the shared cosine band join. The d_k cut inside it is rank-
    // safe: every true top-k row has dist ≤ d_k and ≥ k candidate rows
    // survive it, so removing dist > d_k rows changes neither the top-k
    // rows nor their rank numbers.
    rankWithinK(cosineBandCandidates(probes.join(dk, joinKeys),
      prep.cRanked.drop("__rn"), spec), coh)
  }

  /** The cosine radius joins: the radius is just the per-probe threshold
    * `__dk` that `withDk` attaches (a literal, or a per-cohort broadcast
    * column) before the shared interval prune. */
  private def cosineWithinRadius(consent: DataFrame, noconsent: DataFrame,
                                 spec: CohortSpec,
                                 withDk: DataFrame => DataFrame): DataFrame = {
    val prep = bandPrep(consent, noconsent, spec)
    cosineBandCandidates(withDk(joinCoh(prep.nc0, prep.cStats, spec.cohortCols)),
      prep.c0, spec).select(pairCols(spec.cohortCols): _*)
  }

  /** Shared phase-2 of the cosine prunes ([[topKCosineBandedImpl]] and the
    * cosine radius joins): probe rows arrive carrying the nc_* projection,
    * `__cmintok` (cohort min consent token size) and `__dk` — the per-probe
    * distance threshold (the phase-1 k-th best for top-k, the radius for
    * the radius joins; null = no bound). Attaches the admissible x-interval
    * from the quadratic cosine bound (ε-padded: padding only widens the
    * superset), runs the two-tier band join against `cSide` (a c0-shaped
    * relation), and returns candidates with the exact `dist` column,
    * filtered to the interval and to dist ≤ __dk (when non-null). */
  private def cosineBandCandidates(probes: DataFrame, cSide: DataFrame,
                                   spec: CohortSpec): DataFrame = {
    val x = spec.numCols.head
    val A = size(col("nc_features")).cast("double")
    val xa = col(s"nc_$x")
    val s = lit(1.0) - col("__dk") - lit(1e-9) // ε-loosened: superset-safe
    val c2 = s * s * (A + xa * xa)
    val a2 = xa * xa - c2
    val m = col("__cmintok").cast("double")
    val disc = c2 * (A * A + m * a2)
    // a wild probe has null roots, hence a null __r. PERSISTED: probesD
    // feeds both the widths aggregate and the banded probe side, and its
    // lineage carries the whole phase-1 d_k subtree (the ±max(k,16) explode
    // + per-probe sort-agg). Without the pin each consumer re-evaluates that
    // subtree — measured at the 10× replica as THREE ObjectHashAggregate
    // passes over the 1.6M-row phase-1 relation (~140 s of task time).
    val probesD = probes
      .withColumn("__wild",
        col("__dk").isNull || s <= 0 || a2 >= 0 || disc < 0)
      .withColumn("__r1", when(!col("__wild"), (-(A * xa) + sqrt(disc)) / a2))
      .withColumn("__r2", when(!col("__wild"), (-(A * xa) - sqrt(disc)) / a2))
      .withColumn("__pad",
        lit(1e-9) * (lit(1.0) + abs(col("__r1")) + abs(col("__r2"))))
      .withColumn("__ilo", least(col("__r1"), col("__r2")) - col("__pad"))
      .withColumn("__ihi", greatest(col("__r1"), col("__r2")) + col("__pad"))
      .withColumn("__r", (col("__ihi") - col("__ilo")) / lit(2.0))
      .drop("__r1", "__r2", "__pad", "__lo", "__hi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    tieredBandJoin(probesD, cSide, spec, col("__ilo"), col("__ihi"))
      .filter(col("__wild") ||
        (col(s"c_$x") >= col("__ilo") && col(s"c_$x") <= col("__ihi")))
      .withColumn("dist", distCol(spec))
      .filter(col("__dk").isNull || col("dist") <= col("__dk"))
  }

  /** Exact HAMMING top-k without the dense pairs relation. Hamming has no
    * |Δx| inequality (an unequal numeric contributes 1/W whatever the gap),
    * but the engine's token encoding has a structural prune: token sets
    * carry EXACTLY one token per categorical column (fixed arity m,
    * data-verified below), so distances are quantized — a pair sharing
    * ≥ m−1 tokens has dist·W ≤ 2 + |numCols| ≤ 3, and a pair sharing
    * ≤ m−2 has dist·W ≥ 4. Every subset-candidate therefore STRICTLY beats
    * every non-candidate (no tie can straddle the boundary, which is also
    * why |numCols| ≤ 1 is required — a second numeric closes the gap to a
    * tie and [[topKBanded]] routes dense).
    *
    * Plan: each side emits its m "drop-token-i" subset signatures
    * (explode ×m); one equi-join on (cohort, i, hash(subset)) yields every
    * pair with ≥ m−1 shared tokens (a pair sharing all m matches every
    * subset key — deduped map-side by keeping its __i = 0 copy only).
    * Probes with ≥ k candidates rank within their candidate set; the rest
    * ride a per-cohort dense wildcard tier, so one
    * sparse-signature probe never degrades its cohort. Shuffle
    * O(m·(|C|+|NC|) + candidates), never |NC|×|C|; candidate volume is
    * Σ_subsetKey |nc_key|·|c_key| — quadratically smaller as category
    * cardinality grows.
    *
    * Equals [[topK]] on the dense relation (PropertySpec pins arbitrary +
    * skewed cohorts; q70 keeps the dense-derived hash oracle). */
  private def topKHammingImpl(consent: DataFrame, noconsent: DataFrame,
                              spec: CohortSpec, k: Double): DataFrame = {
    val coh = spec.cohortCols
    val c0 = prefixed(consent, spec, "c_")
    val nc0 = prefixed(noconsent, spec, "nc_")
    // fixed token arity is the load-bearing fact — data-verify it (one tiny
    // agg job); variable arity or m < 2 → the subset argument is vacuous
    // → dense
    val ar = c0.select(size(col("c_features")).as("__s"))
      .union(nc0.select(size(col("nc_features")).as("__s")))
      .agg(min(col("__s")), max(col("__s"))).head()
    if (ar.isNullAt(0) || ar.getInt(0) != ar.getInt(1) || ar.getInt(0) < 2)
      return topK(pairs(consent, noconsent, spec), spec, k, Some(consent))
    val m = ar.getInt(0)
    // subset signature i = the token array with position i removed, used
    // DIRECTLY as the join key (array equality is exact — a hash key could
    // collide and duplicate a true pair at a second index, corrupting
    // ranks); __i in the key keeps subset positions from cross-matching
    def withKeys(df: DataFrame, p: String): DataFrame =
      df.withColumn("__i", explode(array((0 until m).map(lit(_)): _*)))
        .withColumn("__key",
          concat(slice(col(s"${p}features"), lit(1), col("__i")),
            slice(col(s"${p}features"), col("__i") + 2, lit(m) - col("__i") - 1)))
    val cand = withKeys(nc0, "nc_").join(withKeys(c0, "c_"), coh ++ Seq("__i", "__key"))
      // dedup map-side, no shuffle: the only multi-key matches are pairs
      // sharing ALL m tokens (they match every subset key) — keep their
      // __i = 0 copy only; a pair sharing exactly m−1 matches one key
      .filter(col("__i") === 0 ||
        TokenOps.intersectionSize(col("nc_features"), col("c_features")) < m)
      .withColumn("dist", distCol(spec))
      .select(pairCols(coh): _*)
    val joinKeys = coh :+ "nc_idx"
    val cnt = cand.groupBy(joinKeys.map(col(_)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val probes = withK(nc0.join(cnt, joinKeys, "left"), consent, spec, k)
      .withColumn("__wild", coalesce(col("__cnt"), lit(0L)) < col("__kk"))
    // wildcard tier: the (typically few) probes whose subset candidates
    // cannot fill k take the per-cohort dense relation — probe-exclusive
    // tiers, so each probe is ranked over exactly one sound superset
    val wildNc = probes.filter(col("__wild"))
      .select(joinKeys.map(col(_)) ++
        Seq(col("nc_value"), col("nc_features"), col("__kk")) ++
        spec.numCols.map(n => col(s"nc_$n")): _*)
    val wildPairs =
      (if (coh.nonEmpty) wildNc.join(c0, coh) else wildNc.crossJoin(c0))
        .withColumn("dist", distCol(spec))
        .select(pairCols(coh) :+ col("__kk"): _*)
    val bulk = cand
      .join(probes.filter(!col("__wild"))
        .select((joinKeys :+ "__kk").map(col(_)): _*), joinKeys)
    rankWithinK(bulk.unionByName(wildPairs), coh)
  }

}

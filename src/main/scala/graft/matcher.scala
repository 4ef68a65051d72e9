package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's public library surface, Spark-native: construct a matcher
  * over the consenting cohort, then ask for adjusted conversions for a
  * non-consenting cohort under one strategy
  * (reference: cocoa/nearest_consented_customers.py:46-83 `__init__`,
  * :330-373 `calculate_adjusted_conversions`,
  * :470-524 `get_adjustments_and_summary_calculations`).
  *
  * Both cohorts must already share the encoded feature space
  * ([[CocoaPipeline.prepare]]). The matcher is the one place the job's data
  * contract is checked, in one aggregate pass per cohort side (one Spark
  * action): `spec.idCol` unique within each cohort of `spec.cohortCols`, no
  * null/NaN feature, and — consent only, like the reference (:79-82) —
  * strictly-positive non-null conversions. The consent pass runs at
  * construction and keeps the per-cohort row counts that bound `k`; the
  * noconsent pass runs on each call, next to the reference's identical
  * feature columns check (:266-284).
  *
  * @param consent cleaned, encoded consenting cohort
  * @param spec    column roles + metric + cohort scope
  */
final class NearestCustomerMatcher(consent: DataFrame, spec: CohortSpec,
                                   broadcastConsent: Boolean = true) {
  require(consent.columns.contains(spec.idCol) &&
    consent.columns.contains(spec.valueCol) &&
    consent.columns.contains(spec.tokenCol),
    s"consent cohort must carry ${spec.idCol}/${spec.valueCol}/${spec.tokenCol}")

  /** One `groupBy(cohort…, id)` → `groupBy(cohort…)` pass over one side,
    * after the reference's identical-columns check (trivial on the consent
    * side); fails on the first cohort that breaks the contract and returns
    * every cohort's row count.
    *
    *  - A repeating id would merge softmax groups (breaking Σ shares ==
    *    value) and fan out the re-attach join (breaking |output| ==
    *    |consent|); the message shows one repeating id.
    *  - Null/NaN feature values would make every pair distance null, and
    *    null distances sort FIRST under Spark's ASC ordering — they would
    *    silently fill the top-k and route conversion value into
    *    null-weighted shares. sklearn raises on NaN input (the reference
    *    inherits that); so do we. A null token array yields a null distance
    *    too.
    *  - consent side only: the conversion column must not contain
    *    NaNs/nulls or values <= 0 (the reference raises at construction,
    *    :79-82).
    */
  private def checkCohorts(df: DataFrame, consentSide: Boolean): Seq[Long] = {
    require(consent.columns.sorted.sameElements(df.columns.sorted),
      "Consented and non-consented data must have same columns.")
    val name = if (consentSide) "consent" else "noconsent"
    val coh = spec.cohortCols.map(col(_))
    val v = col(spec.valueCol)
    val badFeature = (spec.numCols.map(c => col(c).isNull || isnan(col(c))) :+
      col(spec.tokenCol).isNull).reduce(_ || _)
    val perCohort = df
      .groupBy(coh :+ col(spec.idCol): _*)
      .agg(count(lit(1)).as("__n"), max(badFeature).as("__f"),
        max(v.isNull || v <= 0 || isnan(v)).as("__v"))
      .groupBy(coh: _*)
      .agg(sum(col("__n")).as("__n"),
        max(when(col("__n") > 1,
          coalesce(col(spec.idCol).cast("string"), lit("null")))).as("__dup"),
        max(col("__f")).as("__f"), max(col("__v")).as("__v"))
      .where(col("__n").isNotNull) // no cohort keys and no rows: one all-null row
      .collect()
    perCohort.map { r =>
      val where = spec.cohortCols.map(c => s"$c=${r.getAs[Any](c)}")
        .mkString(" (", ", ", ")")
      val dup = r.getAs[String]("__dup")
      require(dup == null,
        s"ids in ${spec.idCol} are not unique within the $name cohort$where: " +
          s"$dup repeats — rows would merge/duplicate in the adjustment")
      require(!r.getAs[Boolean]("__f"),
        s"$name cohort$where contains null/NaN feature values — distances " +
          "would be null and silently outrank real neighbors")
      require(!consentSide || !r.getAs[Boolean]("__v"),
        "The conversion values must be larger than zero.")
      r.getAs[Long]("__n")
    }.toSeq
  }

  private val consentCounts = checkCohorts(consent, consentSide = true)

  /** sklearn raises when `n_neighbors > n_samples_fit` (pinned by reference
    * test cocoa/nearest_consented_customers_test.py:62-69); and a
    * proportional k resolving to `floor(k·|C|) == 0` would silently match
    * nothing (ADVICE r01). Both become errors here, checked against the
    * SMALLEST consent cohort so every cohort can satisfy k. */
  private def validateK(k: Double): Unit = {
    val minCohort = if (consentCounts.isEmpty) 0L else consentCounts.min
    require(minCohort > 0, "consent cohort is empty — nothing to fit")
    if (k >= 1)
      require(k.toInt <= minCohort,
        s"Expected n_neighbors <= n_samples_fit, but n_neighbors = ${k.toInt}, " +
          s"n_samples_fit = $minCohort (smallest consent cohort)")
    else
      require((k * minCohort).toInt >= 1,
        s"proportional k=$k resolves to 0 neighbors for the smallest consent " +
          s"cohort ($minCohort rows)")
  }

  /** `metric=hamming` arrives width-unresolved ([[HammingAuto]]): sklearn's
    * hamming divides by the dummy-matrix column count, which only exists
    * once both cohorts are known. The engine encodes one shared feature
    * space (RunPipeline builds catCols over the union), so the width is the
    * UNION vocabulary + the numeric passthroughs — one distinct-count job,
    * driver-sized by the same contract as the radius scalars. */
  private def resolveSpec(noconsent: DataFrame): CohortSpec = spec.metric match {
    case HammingAuto =>
      val vocab = consent.select(explode(col(spec.tokenCol)).as("__t"))
        .union(noconsent.select(explode(col(spec.tokenCol)).as("__t")))
        .distinct().count()
      spec.copy(metric = Hamming(vocab + spec.numCols.size))
    case _ => spec
  }

  /** Adjusted consent frame + summary under exactly one strategy — the
    * Spark twin of get_adjustments_and_summary_calculations. */
  def adjustmentsAndSummary(noconsent: DataFrame,
                            strategy: MatchStrategy): AdjustmentResult = {
    checkCohorts(noconsent, consentSide = false)
    strategy match {
      case MatchStrategy.K(k) => validateK(k)
      case _                  => ()
    }
    CocoaPipeline.run(consent, noconsent, resolveSpec(noconsent), strategy,
      broadcastConsent)
  }

  /** Adjusted consent frame only (calculate_adjusted_conversions). */
  def calculateAdjustedConversions(noconsent: DataFrame,
                                   strategy: MatchStrategy): DataFrame =
    adjustmentsAndSummary(noconsent, strategy).adjusted

  /** Radius for the percentile strategy from a k=1 pass
    * (min_radius_by_percentile, reference :140-143). One scalar, so the
    * noconsent side must hold at most one cohort: the pipeline takes the
    * quantile per cohort (the reference derives it per date), and a value
    * pooled over several cohorts is a radius the job never uses. */
  def minRadiusByPercentile(noconsent: DataFrame, percentile: Double): Double = {
    // same hazard as adjustmentsAndSummary: a null/NaN feature makes the
    // k=1 distances null, which sort FIRST and silently corrupt the radius
    val cohorts = checkCohorts(noconsent, consentSide = false).size
    require(cohorts <= 1,
      s"minRadiusByPercentile returns one radius, but the noconsent side has " +
        s"$cohorts cohorts of ${spec.cohortCols.mkString(", ")}; use " +
        "Summary.minRadiusByPercentilePerCohort for the per-cohort radii")
    val rspec = resolveSpec(noconsent)
    // the same k=1 pass as the pipeline's percentile strategy
    Summary.minRadiusByPercentile(Summary.nearestDistances(
      NeighborJoin.topKBanded(consent, noconsent, rspec, 1, broadcastConsent), rspec),
      percentile)
  }
}

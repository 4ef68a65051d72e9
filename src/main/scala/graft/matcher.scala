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
  * ([[CocoaPipeline.prepare]]); the constructor enforces the reference's
  * hard checks — identical feature columns (:266-284) and strictly-positive
  * non-null conversions (:79-82).
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
  // The conversion column must not contain NaNs/nulls or values <= 0
  // (reference raises ValueError at construction, :79-82).
  require(consent.filter(col(spec.valueCol).isNull ||
      col(spec.valueCol) <= 0 || isnan(col(spec.valueCol))).limit(1).count() == 0,
    "The conversion values must be larger than zero.")

  private def checkColumns(noconsent: DataFrame): Unit =
    require(consent.columns.sorted.sameElements(noconsent.columns.sorted),
      "Consented and non-consented data must have same columns.")

  /** Null/NaN feature values would make every pair distance null, and null
    * distances sort FIRST under Spark's ASC ordering — they would silently
    * fill the top-k and route conversion value into null-weighted shares.
    * sklearn raises on NaN input (the reference inherits that); so do we.
    * Token nulls are covered too: a null token array yields null distance.
    */
  private def checkFeatures(df: DataFrame, name: String): Unit = {
    val nullable = spec.numCols.map(c => col(c).isNull || isnan(col(c))) :+
      col(spec.tokenCol).isNull
    require(df.filter(nullable.reduce(_ || _)).limit(1).count() == 0,
      s"$name cohort contains null/NaN feature values — distances would be " +
        "null and silently outrank real neighbors")
  }
  checkFeatures(consent, "consent")

  /** sklearn raises when `n_neighbors > n_samples_fit` (pinned by reference
    * test cocoa/nearest_consented_customers_test.py:62-69); and a
    * proportional k resolving to `floor(k·|C|) == 0` would silently match
    * nothing (ADVICE r01). Both become construction-time errors here,
    * checked against the SMALLEST cohort so every cohort can satisfy k. */
  private def validateK(k: Double): Unit = {
    // an empty consent cohort yields a NULL min (zero groups) — surface it
    // as the same validation error, not an NPE
    val minCohort = Option(consent
      .groupBy(spec.cohortCols.map(col(_)): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(min(col("__n"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
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
    checkColumns(noconsent)
    checkFeatures(noconsent, "noconsent")
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
    * (min_radius_by_percentile, reference :140-143). */
  def minRadiusByPercentile(noconsent: DataFrame, percentile: Double): Double = {
    checkColumns(noconsent)
    // same hazard as adjustmentsAndSummary: a null/NaN feature makes the
    // k=1 distances null, which sort FIRST and silently corrupt the radius
    checkFeatures(noconsent, "noconsent")
    val rspec = resolveSpec(noconsent)
    // the same k=1 pass as the pipeline's percentile strategy
    Summary.minRadiusByPercentile(Summary.nearestDistances(
      NeighborJoin.topKBanded(consent, noconsent, rspec, 1, broadcastConsent), rspec),
      percentile)
  }
}

package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Results of one adjustment run: the adjusted consent cohort (one row per
  * consent row — cardinality preserved, reference test
  * cocoa/nearest_consented_customers_test.py:186-193), the per-cohort
  * summary frame, and the checkpointed relations both frames read
  * (`pins`). The caller frees those with [[release]] after its last action
  * on `adjusted` or `summary`; an unreleased pin is freed when its frames
  * are garbage-collected. */
final case class AdjustmentResult(adjusted: DataFrame, summary: DataFrame,
                                  pins: Seq[RDD[_]] = Nil) {
  def release(): Unit = pins.foreach(Bridge.release)
}

/** The relations one run checkpoints, and their one lifetime: [[apply]]
  * materializes a frame ([[Bridge.checkpointed]]) and holds its blocks
  * until [[release]]. */
private[graft] final class Pins {
  private var held = List.empty[RDD[_]]
  def apply(df: DataFrame): DataFrame = {
    val (out, rdd) = Bridge.checkpointed(df)
    held ::= rdd
    out
  }
  def adopt(rdds: Seq[RDD[_]]): Unit = held = rdds.toList ++ held
  def handles: Seq[RDD[_]] = held
  def release(): Unit = {
    held.foreach(Bridge.release)
    held = Nil
  }
}

/** End-to-end orchestration — the Spark translation of
  * `pipeline.py:200-239` (per-date DoFn) + the strategy wrapper
  * `get_adjustments_and_summary_calculations`
  * (cocoa/nearest_consented_customers.py:470-524).
  *
  * Dates are processed together, scoped by `spec.cohortCols`, instead of
  * the reference's one-date-per-worker loop — this is what lets 1000
  * executors chew 100 TB: parallelism comes from shuffle partitioning
  * within AND across dates, not a driver-side date loop. The run is planned
  * in short pieces: [[run]] materializes the selected pairs (and, for the
  * percentile strategy, the per-cohort radii of pass 1) once, eagerly, so
  * every later action starts from a checkpoint leaf instead of re-planning
  * the similarity join's lineage (measured on a warm five-date run: about
  * half its wall time passed with no Spark job running; plans/cocoa_run/).
  */
object CocoaPipeline {

  /** Clean both cohorts, union with the consent flag (shared feature space),
    * and split back — faithful to preprocess.concatenate_and_process_data
    * (cocoa/preprocess.py:108-148). Returns (noconsent, consent). */
  def prepare(noconsentRaw: DataFrame, consentRaw: DataFrame, cfg: JobConfig,
              catCols: Seq[String], tokenCol: String = "features"): (DataFrame, DataFrame) = {
    val ncClean = cfg.cleanFn(Preprocess.clean(noconsentRaw, cfg.conversionCol))
    val cClean = cfg.cleanFn(Preprocess.clean(consentRaw, cfg.conversionCol))
    val unioned = cfg.featureFn(
        Preprocess.unionWithConsentFlag(ncClean, cClean).drop(cfg.dropCols: _*))
      .withColumn(tokenCol, Preprocess.tokenFeatures(catCols))
      .drop(catCols: _*)
    Preprocess.splitByConsent(unioned)
  }

  /** One adjustment run under any [[MatchStrategy]]. `consent`/`noconsent`
    * must already carry `spec.tokenCol` (+ numeric features). Each strategy
    * maps to one planned [[NeighborJoin]] call, which alone picks the
    * pruned or dense route for the metric and feature shape. Runs the
    * similarity join now (see [[AdjustmentResult.pins]]); a failure frees
    * what the run had materialized. */
  def run(consent: DataFrame, noconsent: DataFrame, spec: CohortSpec,
          strategy: MatchStrategy,
          broadcastConsent: Boolean = false): AdjustmentResult = {
    val pins = new Pins
    try {
      val selected = strategy match {
        case MatchStrategy.K(k) =>
          NeighborJoin.topKBanded(consent, noconsent, spec, k, broadcastConsent)
        case MatchStrategy.Radius(r) =>
          NeighborJoin.withinRadiusBucketed(consent, noconsent, spec, r)
        case MatchStrategy.Percentile(p) =>
          // Two-pass plan (reference :518-523): pass 1 = k=1 nearest
          // distances; radius = exact quantile PER COHORT (the reference
          // computes it per date because one pipeline run covers one date —
          // pooling across cohorts would deviate; ADVICE r01); pass 2 =
          // radius join with the dimension-sized radii frame broadcast.
          // The radii are materialized: pass 1 runs once, in that action,
          // and pass 2's two radii consumers read a one-row-per-cohort leaf.
          // Pass 2's radius join builds the same prefixed cohort projection
          // that pass 1's banded prep pinned (bandPrep c0/nc0), and hits
          // that cache by plan equality.
          val radii = pins(Summary.minRadiusByPercentilePerCohort(
            Summary.nearestDistances(
              NeighborJoin.topKBanded(consent, noconsent, spec, 1, broadcastConsent), spec),
            p, spec))
          NeighborJoin.withinRadiusBucketedPerCohort(consent, noconsent, radii, spec,
            broadcastConsent)
      }
      // The selected-pairs relation (O(k·|NC|) rows) fans out to four
      // consumers (scatter-add, weights, naive numerator, summary);
      // materialize it so the similarity join runs once, like the
      // reference's once-fitted matcher.
      val sel = pins(selected)
      val shares = Adjust.softmaxShares(sel, spec)
      val adjusted = Adjust.distribute(consent, shares, spec)
      val summary = Summary.matchedSummary(noconsent, Summary.nearestDistances(sel, spec), spec)
      AdjustmentResult(adjusted, summary, pins.handles)
    } catch { case e: Throwable => pins.release(); throw e }
  }
}

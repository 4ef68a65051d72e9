package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distance metric over the engine's feature encoding: one token-set column
  * (the one-hot categorical block, see [[Preprocess.tokenFeatures]]) plus
  * zero or more numeric passthrough columns.
  *
  * Manhattan over one-hot dummies equals the symmetric set difference of the
  * active-token sets, `size(a) + size(b) - 2*|a ∩ b|`; numeric features
  * contribute `Σ|aᵢ−bᵢ|`. This reproduces the reference's default
  * `metric="manhattan"` over `pd.get_dummies` output without ever
  * materializing the wide dummy matrix
  * (reference: cocoa/nearest_consented_customers.py:49,67; README.md:36-38).
  */
sealed trait DistanceMetric {
  /** Distance between two rows given their token arrays and numeric pairs. */
  def dist(aTokens: Column, bTokens: Column, numPairs: Seq[(Column, Column)]): Column
  def name: String

  /** Scale-path capability hooks. Each pruned join in [[NeighborJoin]]
    * relies on a metric-specific inequality; a metric that cannot supply it
    * returns None/false and the operator FALLS BACK to the dense pairs
    * relation — defined, documented behavior instead of a wrong prune
    * (cosine is scale-invariant in the numeric feature, so no |Δx| bound
    * exists for it at all). */

  /** True iff dist(a,b) ≥ |Δxᵢ| for every numeric feature — the necessary
    * condition behind the numeric bucket prunes
    * ([[NeighborJoin.withinRadiusBucketed]] and the per-cohort twin). */
  private[graft] def boundsNumericGap: Boolean

  /** Banded-top-k adaptive radius: given an upper bound D on the single
    * numeric feature's 1-D k-NN distance and the token-part bound B,
    * returns r with (true top-k row ⇒ |Δx| ≤ dist ≤ r). None = no bound —
    * [[NeighborJoin.topKBanded]] falls back to the dense path. */
  private[graft] def bandBound: Option[(Column, Column) => Column]

  /** Token-part bound for LSH radius pruning: dist ≤ r implies the token
    * sets' symmetric difference ≤ tokenBound(r). None = no usable bound at
    * this radius — [[NeighborJoin.withinRadiusLsh]] falls back dense. */
  private[graft] def tokenBound(radius: Double): Option[Double]
}

object DistanceMetric {
  /** Parse a metric string from the CLI / config surface, mirroring the
    * sklearn spellings the reference forwards verbatim
    * (cocoa/nearest_consented_customers.py:58-66, pipeline.py:121-140):
    * manhattan/cityblock/l1, euclidean/l2, chebyshev, cosine, and
    * minkowski:p (p ≥ 1; bare "minkowski" = sklearn's default p = 2). */
  def parse(s: String): DistanceMetric = s.trim.toLowerCase match {
    case "manhattan" | "cityblock" | "l1" => Manhattan
    case "euclidean" | "l2" => Euclidean
    case "chebyshev" => Chebyshev
    case "cosine" => Cosine
    case "hamming" => HammingAuto
    case "braycurtis" => BrayCurtis
    case "canberra" => Canberra
    case "sqeuclidean" => SqEuclidean
    case "jaccard" => Jaccard
    case "minkowski" => Minkowski(2.0)
    case m if m.startsWith("minkowski:") =>
      val raw = m.stripPrefix("minkowski:")
      val p = try raw.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"minkowski p must be a finite number >= 1, got '$raw' — " +
            "supported: manhattan|cityblock|l1, euclidean|l2, chebyshev, " +
            "cosine, minkowski[:p]")
      }
      Minkowski(p)
    case other => throw new IllegalArgumentException(
      s"unknown metric '$other' — supported: manhattan|cityblock|l1, " +
        "euclidean|l2, chebyshev, cosine, hamming, braycurtis, canberra, " +
        "sqeuclidean, jaccard, minkowski[:p]")
  }
}

/** |a ∩ b| for token arrays via the codegen'd custom expression
  * [[graft.expr.TokenIntersectionSize]]. The built-in routes
  * (`array_intersect`, `filter`+`array_contains`) are interpreted
  * HigherOrderFunction evals — measured 100×+ slower in the pairs loop. */
private object TokenOps {
  def intersectionSize(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expr.TokenIntersectionSize(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))
}

case object Manhattan extends DistanceMetric {
  val name = "manhattan"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val oneHot =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    num.foldLeft(oneHot) { case (acc, (x, y)) => acc + abs(x - y) }
  }
  private[graft] val boundsNumericGap = true
  // dist = tokenΔ + Σ|Δx| ≤ B + D for the ±k window rows
  private[graft] val bandBound = Some((d: Column, b0: Column) => d + b0)
  // dist ≤ r ⇒ tokenΔ ≤ r
  private[graft] def tokenBound(radius: Double): Option[Double] = Some(radius)
}

/** Euclidean: for 0/1 dummies |x−y|² == |x−y| so the one-hot block is the
  * same symmetric-difference count, square-rooted with the numeric terms.
  * (Reference accepts any sklearn metric string but only tests manhattan —
  * TODO at cocoa/nearest_consented_customers.py:66.)
  */
case object Euclidean extends DistanceMetric {
  val name = "euclidean"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val oneHot =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    sqrt(num.foldLeft(oneHot) { case (acc, (x, y)) => acc + pow(x - y, lit(2)) })
  }
  private[graft] val boundsNumericGap = true
  // dist² = tokenΔ + ΣΔx² ≤ B + D² for the ±k window rows
  private[graft] val bandBound =
    Some((d: Column, b0: Column) => sqrt(d * d + b0))
  // dist ≤ r ⇒ tokenΔ ≤ r²
  private[graft] def tokenBound(radius: Double): Option[Double] = Some(radius * radius)
}

/** Chebyshev (L∞): over 0/1 dummies the one-hot block contributes 1 iff the
  * token sets differ at all, so dist = max(tokenΔ>0 ? 1 : 0, |Δx₁|, …).
  * Reference passes "chebyshev" straight to sklearn
  * (cocoa/nearest_consented_customers.py:58-66). Scale paths: dist ≥ |Δxᵢ|
  * holds (bucket prunes apply); the banded-top-k radius is max(D, 1) since
  * the token part never exceeds 1; the LSH token bound is 0 for r < 1
  * (identical token sets required) and vacuous past that. */
/** Minkowski-p over the dummy vector: for 0/1 dummies |a−b|ᵖ == |a−b|, so
  * the one-hot block again contributes the symmetric-difference count and
  * dist = (tokenΔ + Σ|Δxᵢ|ᵖ)^(1/p). p = 1 is manhattan, p = 2 euclidean,
  * p → ∞ chebyshev; sklearn takes "minkowski" with a p kwarg and the
  * reference forwards any metric string verbatim
  * (cocoa/nearest_consented_customers.py:58-66). Scale paths mirror
  * euclidean's: dist ≥ |Δxᵢ| (each term nonnegative), banded radius
  * (Dᵖ + B)^(1/p), LSH token bound rᵖ. */
final case class Minkowski(p: Double) extends DistanceMetric {
  // p = Infinity would pass p >= 1 but degenerate dist = pow(sum, 0) ≡ 1.0
  // for every pair — reject it (the caller who wants p → ∞ wants Chebyshev)
  require(p >= 1 && !p.isInfinite, s"minkowski needs finite p >= 1, got $p")
  val name = s"minkowski:$p"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val oneHot =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    pow(num.foldLeft(oneHot) { case (acc, (x, y)) => acc + pow(abs(x - y), lit(p)) },
      lit(1.0 / p))
  }
  private[graft] val boundsNumericGap = true
  // distᵖ = tokenΔ + Σ|Δx|ᵖ ≤ B + Dᵖ for the ±k window rows
  private[graft] val bandBound =
    Some((d: Column, b0: Column) => pow(pow(d, lit(p)) + b0, lit(1.0 / p)))
  // dist ≤ r ⇒ tokenΔ ≤ rᵖ
  private[graft] def tokenBound(radius: Double): Option[Double] =
    Some(math.pow(radius, p))
}

case object Chebyshev extends DistanceMetric {
  val name = "chebyshev"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val tokenInd =
      when(size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b) > 0,
        lit(1.0)).otherwise(lit(0.0))
    num.foldLeft(tokenInd) { case (acc, (x, y)) => greatest(acc, abs(x - y)) }
  }
  private[graft] val boundsNumericGap = true
  // dist ≤ max(D, token part ≤ 1) for the ±k window rows
  private[graft] val bandBound =
    Some((d: Column, b0: Column) => greatest(d, lit(1.0)))
  // dist ≤ r < 1 forces identical token sets (tokenΔ = 0); r ≥ 1 gives no
  // token constraint at all — fall back dense rather than prune wrongly
  private[graft] def tokenBound(radius: Double): Option[Double] =
    if (radius < 1.0) Some(0.0) else None
}

/** Cosine distance over the full dummy vector (one-hot block + numeric
  * features): 1 − (|a∩b| + Σxᵢyᵢ) / (‖a‖·‖b‖) with
  * ‖a‖ = √(|a| + Σxᵢ²) — exactly sklearn's "cosine" over the CSR matrix
  * the reference builds (cocoa/nearest_consented_customers.py:58-66).
  * A zero-norm row (no tokens, all-zero numerics) is defined as distance 1
  * to everything. Cosine is SCALE-INVARIANT in the numeric features, so no
  * |Δx| inequality exists and every bound hook below reports no-bound.
  * That does NOT mean cosine runs dense: [[graft.NeighborJoin.topKBanded]]
  * (fixed AND proportional k) and [[graft.NeighborJoin
  * .withinRadiusBucketed]] (r < 1) route cosine through its own pruned
  * path — a per-probe admissible x-interval from the quadratic cosine
  * bound (see `cosineBandCandidates`), exact by superset + refinement.
  * Only the LSH token prune and the r ≥ 1 radius join fall back dense. */
case object Cosine extends DistanceMetric {
  val name = "cosine"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val dot = num.foldLeft(TokenOps.intersectionSize(a, b).cast("double")) {
      case (acc, (x, y)) => acc + x * y
    }
    val na = sqrt(num.foldLeft(size(a).cast("double")) {
      case (acc, (x, _)) => acc + x * x
    })
    val nb = sqrt(num.foldLeft(size(b).cast("double")) {
      case (acc, (_, y)) => acc + y * y
    })
    when(na * nb === 0.0, lit(1.0)).otherwise(lit(1.0) - dot / (na * nb))
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = None
}

/** Hamming distance over the dummy vector: the fraction of the W =
  * |vocab| + |numCols| encoded columns where the rows differ — sklearn's
  * "hamming" over the get_dummies matrix (each differing dummy column and
  * each exactly-unequal numeric counts 1). W is data-dependent (the union
  * frame's dummy width), so the CLI/parse surface yields [[HammingAuto]]
  * and [[NearestCustomerMatcher]] resolves the width from the union
  * vocabulary — the engine encodes ONE shared feature space (see
  * RunPipeline), so the width is global, not per-cohort. Library callers
  * with a known width construct `Hamming(w)` directly.
  *
  * Scale paths: no |Δx| inequality exists (an unequal numeric contributes
  * 1/W regardless of gap) — top-k falls back dense by contract; the LSH
  * radius prune holds (dist ≤ r ⇒ tokenΔ ≤ r·W). */
final case class Hamming(width: Long) extends DistanceMetric {
  require(width >= 1, s"hamming width must be >= 1, got $width")
  val name = s"hamming:$width"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val oneHot =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    num.foldLeft(oneHot) { case (acc, (x, y)) =>
      acc + when(x =!= y, lit(1.0)).otherwise(lit(0.0))
    } / lit(width.toDouble)
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] =
    Some(radius * width)
}

/** Placeholder for `metric=hamming` before the dummy width is known; any
  * attempt to compute a distance with it is a usage error. The matcher
  * substitutes [[Hamming]] with the resolved union-vocabulary width. */
case object HammingAuto extends DistanceMetric {
  val name = "hamming"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column =
    throw new IllegalStateException(
      "hamming width unresolved — run through NearestCustomerMatcher (which " +
        "resolves the union dummy width) or construct Hamming(width) directly")
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = None
}

/** Bray–Curtis: Σ|uᵢ−vᵢ| / Σ|uᵢ+vᵢ|. Dummies contribute the symmetric
  * difference to the numerator and size(a)+size(b) to the denominator;
  * numerics |Δx| and |x+y| (abs matters — acctbal can be negative). Two
  * all-zero rows are defined as distance 0 (scipy returns NaN; a NaN
  * would sort over real neighbors — see [[NearestCustomerMatcher]]'s
  * feature check). The denominator is pair-dependent, so no prune
  * inequality exists — dense fallback. */
case object BrayCurtis extends DistanceMetric {
  val name = "braycurtis"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val symDiff =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    val numer = num.foldLeft(symDiff) { case (acc, (x, y)) => acc + abs(x - y) }
    val denom = num.foldLeft((size(a) + size(b)).cast("double")) {
      case (acc, (x, y)) => acc + abs(x + y)
    }
    when(denom === 0.0, lit(0.0)).otherwise(numer / denom)
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = None
}

/** Canberra: Σ |uᵢ−vᵢ|/(|uᵢ|+|vᵢ|), 0/0 ≡ 0. Each differing dummy
  * contributes exactly 1 (1/(1+0)), so the token part IS the symmetric
  * difference — dist ≤ r bounds tokenΔ ≤ r and the LSH radius prune
  * applies. The numeric terms are gap-normalized (|Δx|/(|x|+|y|) bounds
  * nothing about |Δx|), so the banded top-k falls back dense. */
case object Canberra extends DistanceMetric {
  val name = "canberra"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val symDiff =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    num.foldLeft(symDiff) { case (acc, (x, y)) =>
      acc + when(abs(x) + abs(y) === 0.0, lit(0.0))
        .otherwise(abs(x - y) / (abs(x) + abs(y)))
    }
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = Some(radius)
}

/** Squared euclidean (sklearn "sqeuclidean"): euclidean² — same top-k
  * ranking, different reported distances. |Δx| ≤ dist fails below 1, so
  * the metric-gap hooks decline and the operators fall back dense rather
  * than prune wrongly. */
case object SqEuclidean extends DistanceMetric {
  val name = "sqeuclidean"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val oneHot =
      (size(a) + size(b) - lit(2) * TokenOps.intersectionSize(a, b)).cast("double")
    num.foldLeft(oneHot) { case (acc, (x, y)) => acc + pow(x - y, lit(2)) }
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = None
}

/** Jaccard over the dummy vector with scipy's boolean reading (nonzero =
  * true): disagreeing coordinates / coordinates supported by either row.
  * Token part: symDiff / |a ∪ b|-ish, folded with the numeric columns
  * (x ≠ y is a disagreement — two unequal nonzeros disagree; x = y = 0 is
  * unsupported and counts nowhere). Two all-zero rows ≡ distance 0 (scipy
  * NaN — same rationale as Bray–Curtis). Pair-dependent
  * denominator → dense fallback everywhere. */
case object Jaccard extends DistanceMetric {
  val name = "jaccard"
  def dist(a: Column, b: Column, num: Seq[(Column, Column)]): Column = {
    val inter = TokenOps.intersectionSize(a, b).cast("double")
    val symDiff = (size(a) + size(b)).cast("double") - lit(2) * inter
    val numer = num.foldLeft(symDiff) { case (acc, (x, y)) =>
      acc + when(x =!= y, lit(1.0)).otherwise(lit(0.0))
    }
    val denom = num.foldLeft((size(a) + size(b)).cast("double") - inter) {
      case (acc, (x, y)) =>
        acc + when(x =!= lit(0.0) || y =!= lit(0.0), lit(1.0)).otherwise(lit(0.0))
    }
    when(denom === 0.0, lit(0.0)).otherwise(numer / denom)
  }
  private[graft] val boundsNumericGap = false
  private[graft] val bandBound: Option[(Column, Column) => Column] = None
  private[graft] def tokenBound(radius: Double): Option[Double] = None
}

/** Exactly-one-of neighbor-selection strategy
  * (reference: cocoa/nearest_consented_customers.py:470-524; README.md:36-48).
  * The reference dispatches on truthiness (`:513`) so `k=0`/`radius=0.0`
  * silently fall through — we make zero/invalid values construction errors
  * instead (documented intentional fix, SURVEY.md §7.4.7).
  */
sealed trait MatchStrategy
object MatchStrategy {
  /** Fixed neighbor count; `k < 1` is interpreted as a proportion of the
    * consent cohort: `int(k * |consent|)`
    * (reference: cocoa/nearest_consented_customers.py:145-147,208-211). */
  final case class K(k: Double) extends MatchStrategy {
    require(k > 0, s"number_nearest_neighbors must be > 0, got $k")
    // k >= 1 means a count and must be integral (sklearn raises TypeError
    // on a float n_neighbors); only k < 1 is the proportional form
    require(k < 1 || k == math.floor(k),
      s"number_nearest_neighbors >= 1 must be an integer, got $k")
  }
  /** All neighbors with dist <= r
    * (reference: cocoa/nearest_consented_customers.py:153-182). */
  final case class Radius(r: Double) extends MatchStrategy {
    require(r > 0, s"radius must be > 0, got $r")
  }
  /** Two-pass: radius := percentile p of nearest-neighbor distances from a
    * k=1 pass, then Radius(radius)
    * (reference: cocoa/nearest_consented_customers.py:518-523,140-143). */
  final case class Percentile(p: Double) extends MatchStrategy {
    require(p > 0 && p <= 1, s"percentile must be in (0, 1], got $p")
  }
}

/** Column-role configuration, mirroring the reference's CLI/config surface
  * (reference: pipeline.py:44-140, README.md:109-130). Schema stays dynamic:
  * roles are resolved at runtime against the input schema.
  *
  * @param idCols        identity columns excluded from the feature space
  * @param conversionCol strictly-positive conversion value column
  * @param dateCol       day-grain processing-date column
  * @param dropCols      columns removed before feature encoding
  * @param cohortCols    grouping columns scoping the match (per-date cohort
  *                      in the reference; empty = one global cohort)
  * @param cleanFn       extra cleaning hook applied after the built-in
  *                      null/non-positive filter — the reference's
  *                      "_clean_data should be extended based on custom
  *                      requirements" (cocoa/preprocess.py:30-49)
  * @param featureFn     feature-engineering hook applied to the unioned
  *                      frame before encoding — the reference's
  *                      `_additional_feature_engineering`
  *                      (cocoa/preprocess.py:52-78)
  */
final case class JobConfig(
    idCols: Seq[String],
    conversionCol: String,
    dateCol: String = "",
    dropCols: Seq[String] = Nil,
    cohortCols: Seq[String] = Nil,
    metric: DistanceMetric = Manhattan,
    cleanFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity,
    featureFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity)

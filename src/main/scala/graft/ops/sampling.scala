package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data curation.
  *
  * Everything here is CONTENT-ADDRESSED: membership is decided by a
  * polynomial hash of (seed, row key), not by an RNG. That is the property a
  * 100 TB pipeline actually needs — the sample is reproducible across runs,
  * engines and task retries, stable under repartitioning, and a row's
  * fate never changes when the corpus around it grows (unlike
  * `Dataset.sample`, whose per-partition RNG reshuffles membership whenever
  * partitioning changes). The hash is [[TextAnalysis.polyHash]], so every
  * operator has an exact DuckDB twin for the oracle gate.
  *
  * All operators are pure narrow filters/projections — no shuffle, no
  * driver-side state; Catalyst pushes surviving predicates to the scan.
  */
object Sampling {
  private val P = TextAnalysis.P
  // The raw polynomial hash is a fine FINGERPRINT but not uniform in [0, P)
  // for short keys (a fixed seed prefix pins the high-order coefficients:
  // measured mean 0.74, range [0.05, 0.81] over "seed:1".."seed:400").
  // A multiplicative finalizer mod P — the SplitMix64 constants reduced
  // mod P — is a bijection on [0, P) that scatters those clustered values
  // uniformly (measured P(u<r) = r ± 0.01 for integer-key patterns).
  // Products stay < (P-1)·MixA ≈ 3e17, inside BIGINT for both engines.
  private[ops] val MixA = 6364136223846793005L % P
  private[ops] val MixB = 1442695040888963407L % P

  /** Deterministic uniform in [0, 1): finalized polyHash(seed ":" key) / P.
    * `concat` (not concat_ws) so a null key yields null — caller-visible,
    * never silently hashed as the empty string. */
  def hashUnit(key: Column, seed: String): Column =
    ((TextAnalysis.polyHash(concat(lit(seed + ":"), key.cast("string")))
      * MixA + MixB) % P) / lit(P.toDouble)

  /** [[hashUnit]] that REJECTS null keys at execution time. A null key
    * hashes to null, and under three-valued logic that row would silently
    * vanish from every sample — or, worse, fall through every `when`
    * branch of a split into the last bucket. Sampling keys are row
    * identity; a null one is a data bug the engine must surface. */
  private def checkedUnit(key: Column, seed: String): Column =
    when(key.isNull,
      raise_error(lit("sampling key must not be null")).cast("double"))
      .otherwise(hashUnit(key, seed))

  /** DuckDB twin of [[hashUnit]] (oracle parity). */
  def hashUnitSql(keyExpr: String, seed: String): String = {
    val quoted = seed.replace("'", "''") // total even for quoted seeds
    s"((${TextSql.polyHash(s"'$quoted:' || CAST($keyExpr AS VARCHAR)")}" +
      s" * $MixA + $MixB) % $P) / $P.0"
  }

  /** Keep each row independently with probability `rate`, decided by the
    * row's key hash. */
  def bernoulli(df: DataFrame, keyCol: String, rate: Double,
                seed: String): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(checkedUnit(col(keyCol), seed) < rate)
  }

  /** Per-stratum Bernoulli sampling: each stratum (e.g. language, source)
    * keeps its own rate — the standard rebalancing move when one stratum
    * dominates the corpus. Rates ride in as a broadcast-joined tiny
    * relation, so the plan is scan → broadcast hash join → filter: no
    * shuffle of the corpus, and the rates table scales to millions of
    * strata without a literal CASE chain in the plan. */
  def stratifiedBernoulli(df: DataFrame, strataCol: String, keyCol: String,
                          rates: Map[String, Double], defaultRate: Double,
                          seed: String): DataFrame = {
    (rates.values ++ Seq(defaultRate)).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(strataCol, "__rate")
    df.join(broadcast(ratesDf), Seq(strataCol), "left")
      .filter(checkedUnit(col(keyCol), seed) <
        coalesce(col("__rate"), lit(defaultRate)))
      .select(df.columns.map(col): _*) // drop __rate, restore column order
  }

  /** Per-row weighted Bernoulli sampling: each row keeps with ITS OWN
    * probability `weight` (any Column expression, clamped to [0,1]) — the
    * curriculum/quality-weighted selection step of corpus curation, where
    * keep-probability follows a per-document score instead of a stratum
    * constant. Same content-addressed hash as [[bernoulli]], so membership
    * is reproducible across runs/engines/retries and monotone in the
    * weight: raising a row's weight can only ever ADD it to the sample
    * (its hash draw is fixed), which makes curriculum sweeps nested — a
    * property RNG sampling cannot give. Pure narrow filter, no shuffle. */
  def weightedBernoulli(df: DataFrame, keyCol: String, weight: Column,
                        seed: String): DataFrame =
    df.filter(checkedUnit(col(keyCol), seed) <
      least(lit(1.0), greatest(lit(0.0), weight)))

  /** Deterministic fixed-size per-stratum sample: EXACTLY min(k, |stratum|)
    * rows per stratum, chosen as the k smallest key hashes — the
    * "give me 10k docs per language" rebalancing step when a rate
    * ([[stratifiedBernoulli]]) can't guarantee the count. Content-addressed
    * like every sampler here, with the same nesting property along k:
    * growing k only ADDS rows (hash order is fixed per stratum), so
    * budget sweeps are nested samples. One shuffle on the stratum key;
    * `WindowGroupLimit` prunes each map partition to k rows before the
    * exchange, so the shuffle carries O(k·|strata|·|maps|), not the corpus. */
  def stratifiedFixedK(df: DataFrame, strataCol: String, keyCol: String,
                       k: Long, seed: String): DataFrame = {
    // Long, not Int: callers feed LEARNED per-class counts (q109) — a
    // count() is a BIGINT and must not silently truncate on the way in.
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("__u").asc, col(keyCol).asc)
    df.withColumn("__u", checkedUnit(col(keyCol), seed))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(df.columns.map(col): _*)
  }

  /** Deterministic GLOBAL fixed-size sample: exactly min(k, |df|) rows —
    * the k smallest key hashes corpus-wide (the single-stratum form of
    * [[stratifiedFixedK]], same nesting-along-k property). Planned as
    * orderBy+limit = TakeOrderedAndProject: per-partition bounded heaps
    * and a k-row driver merge — no global sort, no one-task window — so
    * "give me exactly 100k docs" costs one scan at any corpus size. */
  def fixedK(df: DataFrame, keyCol: String, k: Long, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k <= Int.MaxValue, s"limit(k) is Int-bounded, got $k")
    df.withColumn("__u", checkedUnit(col(keyCol), seed))
      .orderBy(col("__u").asc, col(keyCol).asc)
      .limit(k.toInt)
      .select(df.columns.map(col): _*)
  }

  /** Token-budget corpus selection — "the best `budgetTokens` worth of
    * documents": rank the corpus by quality (4-dp rounded
    * [[TextAnalysis.qualityScore]], doc_id tie-break — fully
    * deterministic), take documents in rank order while the INCLUSIVE
    * running token total stays ≤ the budget. The data-budget step of
    * curation, where the training run is sized in tokens, not documents.
    * Output: (doc_id, quality, n_tokens, cum_tokens), token-less docs
    * excluded.
    *
    * Scale shape: the global running sum is
    * [[graft.Preprocess.withRunningSum]], a call of the engine's one
    * running-sum primitive (`Preprocess.runningSum`) — range-partition on
    * the rank key, per-partition sums, broadcast offsets, streaming pass —
    * never `sum().over(Window.orderBy(…))`'s one-task global window. The budget
    * cut is a narrow filter on the summed column. Exact integer
    * arithmetic end-to-end (rounded quality + BIGINT token counts), so
    * the oracle's window form matches row-for-row. */
  def tokenBudgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    val scored = docs.select(col("doc_id"),
        graft.Num.rnd(TextAnalysis.qualityScore(col("text")), 4).as("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      // range-partition keys must sort ASC: negate the rounded quality
      .withColumn("__negq", -col("quality"))
    graft.Preprocess
      .withRunningSum(scored, Seq("__negq", "doc_id"), "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budgetTokens)
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
  }

  /** TEMPORAL train/val/test split — the leakage-safe holdout for event
    * data, where [[splitAssign]]'s content-addressed split would let the
    * model peek at the future: boundaries are the LEARNED time quantiles
    * at `fractions` (global exact percentile over epoch micros — ONE
    * 1-row aggregate, broadcast back), every row at or before the first
    * boundary is `names.head`, and so on. Boundaries are FLOORED to whole
    * micros before any comparison (the [[graft.ops.EventOps.adaptiveSessionize]]
    * exact-threshold discipline — a raw interpolated double at epoch-micros
    * magnitude has 0.25 µs ulps, enough for the two engines' different
    * interpolation orders to flip a boundary row), and the oracle floors
    * identically. A null timestamp raises — the module's null-key
    * invariant; silently falling through every `when` into the LAST split
    * would contaminate the test set (checkedUnit's documented failure
    * mode). Monotone by construction: train strictly precedes val precedes
    * test in event time. */
  def temporalSplit(df: DataFrame, tsCol: String, names: Seq[String],
                    fractions: Seq[Double],
                    splitCol: String = "split"): DataFrame = {
    require(names.size == fractions.size + 1,
      s"need one more name than fraction, got ${names.size} names / ${fractions.size} fractions")
    require(fractions.sliding(2).forall(w => w.size < 2 || w(0) < w(1)) &&
      fractions.forall(f => f > 0 && f < 1),
      s"fractions must be strictly increasing in (0,1): $fractions")
    val b = df.agg(expr(
      s"transform(percentile(unix_micros($tsCol), array(${fractions.mkString(", ")})), " +
        "x -> CAST(floor(x) AS BIGINT))")
      .as("__bs"))
    val us = when(col(tsCol).isNull,
        raise_error(lit(s"temporalSplit: null timestamp '$tsCol' — a null " +
          "would silently land in the last split; clean the input")))
      .otherwise(unix_micros(col(tsCol)))
    val label = names.init.zipWithIndex.foldRight(lit(names.last)) {
      case ((nm, i), acc) =>
        when(us <= element_at(col("__bs"), i + 1), lit(nm)).otherwise(acc)
    }
    df.crossJoin(broadcast(b)).withColumn(splitCol, label).drop("__bs")
  }

  /** Deterministic train/valid/test assignment: the key hash lands in one
    * of the cumulative-weight buckets. Cumulative bounds are rounded to
    * 12 dp so the thresholds are the exact decimal literals a SQL twin
    * writes (0.8 + 0.1 in IEEE is 0.9000000000000001, not 0.9). */
  def splitAssign(df: DataFrame, keyCol: String,
                  weights: Seq[(String, Double)], seed: String,
                  splitCol: String = "split"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (name, w) =>
      require(w >= 0.0 && w <= 1.0, s"split weight must be in [0,1]: $name -> $w") }
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${weights.map(_._2).sum}")
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => BigDecimal(c).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val h = checkedUnit(col(keyCol), seed)
    val assign = weights.init.zip(cum.init).foldRight(lit(weights.last._1)) {
      case (((name, _), bound), els) => when(h < bound, lit(name)).otherwise(els)
    }
    df.withColumn(splitCol, assign)
  }

  /** Temperature (α) mixture resampling — the multilingual-training domain
    * rebalance: downsample each stratum so the KEPT corpus's stratum
    * shares follow n_s^α instead of n_s (α=1 keeps the natural mix, α=0
    * flattens toward uniform). Downsample-only: the smallest stratum keeps
    * rate 1 and stratum s keeps rate (n_min/n_s)^(1−α), so kept_s ∝ n_s^α
    * with no row ever duplicated. Plan: one partial-agg count pass over
    * the corpus, rate arithmetic on the strata-sized relation, broadcast
    * join back, content-addressed filter — the corpus is scanned twice but
    * never shuffled. Rates are rounded to 6 dp ([[graft.Num.rnd]]'s
    * half-up with the 1e-9 nudge) so the threshold is the same decimal in
    * Spark and the SQL twin — `pow` may differ by an ulp between engines,
    * and an unrounded threshold would let that ulp flip a row's fate. */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
                        alpha: Double, seed: String,
                        rateCol: String = "rate"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col(strataCol),
        graft.Num.rnd(pow(col("__nmin").cast("double") / col("__n"),
          1.0 - alpha), 6).as(rateCol))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(checkedUnit(col(keyCol), seed) < col(rateCol))
  }

  /** Deterministic global training-shuffle order: every row gets a dense
    * position 0..n−1 in finalized-hash order — the "shuffle the dataset
    * once, identically, on every engine and every rerun" step before
    * sequence packing. Composes [[hashUnit]] (the order key) with
    * [[graft.Preprocess.withRowIdsDistributed]] (`Preprocess.runningSum`'s
    * range-partitioned sort + per-partition offsets), so there is NO
    * single-task global window: the plan is the same one a 100 TB global
    * sort uses, and the hash order key is uniform so the range partitions
    * are balanced by construction. */
  def shuffleOrder(df: DataFrame, keyCol: String, seed: String,
                   outCol: String = "shuffle_pos"): DataFrame =
    graft.Preprocess.withRowIdsDistributed(
        df.withColumn("__u", checkedUnit(col(keyCol), seed)),
        Seq("__u", keyCol), outCol)
      .drop("__u")

  /** Deterministic weighted interleave — the data-MIXING twin of
    * [[temperatureSample]]: instead of dropping rows to hit a mixture, it
    * ORDERS the full corpus so strata appear at their weight ratios
    * throughout (every training prefix sees the target mix, the
    * curriculum property sampling can't give). Stride scheduling: stratum
    * rank r (per-stratum hash order) gets sort key (r+1)/w_s, so a
    * stratum with twice the weight lands twice as often in any key
    * interval; the global order is (key, stratum, row) — fully
    * deterministic, ties exact because both engines compute the same
    * binary64 division. Both ranks come from the one distributed running
    * sum, `Preprocess.runningSum` (through
    * [[graft.Preprocess.withGroupRowIdsDistributed]] +
    * withRowIdsDistributed): NO per-stratum single-task window, no global
    * single-task window — the two range-partitioned sorts are the
    * operator's irreducible cost at any scale. */
  def interleaveByStrata(df: DataFrame, strataCol: String, keyCol: String,
                         weights: Map[String, Double], defaultWeight: Double,
                         seed: String,
                         outCol: String = "interleave_pos"): DataFrame = {
    (weights.values ++ Seq(defaultWeight)).foreach(w =>
      require(w > 0.0, s"interleave weights must be > 0, got $w"))
    val wcol = weights.foldLeft(lit(defaultWeight)) {
      case (els, (k, v)) => when(col(strataCol) === lit(k), lit(v)).otherwise(els)
    }
    val ranked = graft.Preprocess.withGroupRowIdsDistributed(
      df.withColumn("__u", checkedUnit(col(keyCol), seed)),
      Seq(strataCol), Seq("__u", keyCol), "__r")
    graft.Preprocess.withRowIdsDistributed(
        ranked.withColumn("__pk", (col("__r") + 1).cast("double") / wcol),
        Seq("__pk", strataCol, keyCol), outCol)
      .drop("__u", "__r", "__pk")
  }
}

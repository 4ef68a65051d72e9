package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Cohort cleaning + feature encoding.
  *
  * Mirrors `cocoa/preprocess.py`: drop null / non-positive conversions,
  * union the cohorts with a consent flag so both sides share one feature
  * space, one-hot ("dummy") encode categoricals, split back by flag.
  *
  * Two encodings are provided:
  *  - [[tokenFeatures]] — each row's active categories as an
  *    `ArrayType(StringType)` token set. Preferred: the manhattan distance
  *    over one-hot dummies is a set-difference size (see [[Manhattan]]), so
  *    the wide data-dependent dummy schema never has to exist. O(#cats) per
  *    row instead of O(#distinct values) columns — this is what survives a
  *    100 TB scale-up.
  *  - [[dummyEncode]] — faithful `pd.get_dummies` wide expansion
  *    (data-dependent schema via a distinct pass), kept for API parity and
  *    oracle checks (reference: cocoa/preprocess.py:99-104).
  */
object Preprocess {

  /** Drop rows with null or non-positive conversion values
    * (reference: cocoa/preprocess.py:30-49 `_clean_data`). */
  def clean(df: DataFrame, conversionCol: String): DataFrame =
    df.na.drop(Seq(conversionCol)).filter(col(conversionCol) > 0)

  /** Vertical union with a 0/1 consent flag, noconsent first
    * (reference: cocoa/preprocess.py:108-148). Spark's unionByName replaces
    * the pandas positional concat; the `len(concat)==len(a)+len(b)` sanity
    * check (preprocess.py:136-139) holds trivially and is pinned in tests. */
  def unionWithConsentFlag(noconsent: DataFrame, consent: DataFrame): DataFrame =
    noconsent
      .withColumn("consent", lit(0))
      .unionByName(consent.withColumn("consent", lit(1)))

  /** Split a unioned frame back into (noconsent, consent)
    * (reference: cocoa/preprocess.py:145-147). */
  def splitByConsent(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("consent") === 0).drop("consent"),
     df.filter(col("consent") === 1).drop("consent"))

  /** Encode categorical columns as one token array: value v of column c
    * becomes token "c=v"; null categories contribute no token (pandas
    * get_dummies drops NaN). Equivalent information to the dummy block,
    * O(|catCols|) per row. */
  def tokenFeatures(catCols: Seq[String], outCol: String = "features"): Column =
    array_compact(array(catCols.map { c =>
      when(col(c).isNotNull, concat(lit(c + "="), col(c).cast("string")))
    }: _*)).as(outCol)

  /** Faithful `pd.get_dummies`: distinct pass over each categorical column,
    * then an indicator column per (col, value), alphabetically ordered like
    * pandas, named `col_value` with non-alphanumerics sanitized to '_'.
    * Data-dependent schema — use only where parity demands the wide form
    * (reference: cocoa/preprocess.py:99-104). */
  def dummyEncode(df: DataFrame, catCols: Seq[String]): DataFrame = {
    val indicator = catCols.flatMap { c =>
      val values = df.select(col(c).cast("string")).na.drop()
        .distinct().collect().map(_.getString(0)).sorted
      values.map { v =>
        when(col(c).cast("string") === v, 1).otherwise(0).as(sanitize(s"${c}_$v"))
      }
    }
    val keep = df.columns.filterNot(catCols.contains).map(col(_))
    df.select(keep ++ indicator: _*)
  }

  def sanitize(name: String): String = name.replaceAll("[^A-Za-z0-9_]", "_")

  /** Deterministic dense row ids — the Spark replacement for the pandas
    * positional index that the reference uses as the neighbor join key
    * (reference: cocoa/preprocess.py:134-135,
    * cocoa/nearest_consented_customers.py:317-319). `row_number` over an
    * explicit ordering, NOT monotonically_increasing_id, so reruns are
    * stable. Note: a global Window without partition keys funnels through a
    * single task — fine for oracle-sized data; at scale prefer carrying a
    * natural unique key (as the TPC-H adapter does with o_orderkey). */
  def withRowIds(df: DataFrame, orderCols: Seq[String], outCol: String = "idx"): DataFrame =
    df.withColumn(outCol,
      row_number().over(Window.orderBy(orderCols.map(col(_)): _*)).cast("long") - 1)

  /** Scale path for [[withRowIds]]: the same deterministic dense ids with
    * NO single-task stage — [[runningSum]] of 1 per row, exclusive. Output
    * equals [[withRowIds]] row-for-row when the ordering keys are unique —
    * pinned by PreprocessSpec. */
  def withRowIdsDistributed(df: DataFrame, orderCols: Seq[String],
                            outCol: String = "idx"): DataFrame =
    runningSum(df, Nil, orderCols, _ => 1L, outCol, exclusive = true)

  /** Distributed PER-GROUP dense row ids — the scale twin of
    * `row_number().over(Window.partitionBy(groupCols…).orderBy(orderCols…))
    * − 1`, which ships EVERY row of a group through one task (a 100 TB
    * stratum = one sort on one core): [[runningSum]] of 1 per row,
    * exclusive, restarting per group. Bounded-cardinality strata only (see
    * [[runningSum]]'s contract); its caller
    * [[graft.ops.Sampling.interleaveByStrata]] is exactly that. Requires
    * (group ++ order) to form a total order. Equivalence to the window
    * form is pinned by PreprocessSpec. */
  def withGroupRowIdsDistributed(df: DataFrame, groupCols: Seq[String],
                                 orderCols: Seq[String],
                                 outCol: String = "idx"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (use withRowIdsDistributed)")
    runningSum(df, groupCols, orderCols, _ => 1L, outCol, exclusive = true)
  }

  /** Distributed INCLUSIVE running SUM of the integral `valueCol` in the
    * total order of `orderCols` — the scale twin of
    * `sum(value).over(Window.orderBy(orderCols…).rowsBetween(
    * unboundedPreceding, currentRow))` without the one-task global window
    * ([[runningSum]]). A null value fails the job. Used by the token-budget
    * corpus selection. */
  def withRunningSum(df: DataFrame, orderCols: Seq[String],
                     valueCol: String, outCol: String): DataFrame =
    runningSum(df, Nil, orderCols, longAt(df, valueCol), outCol)

  /** Distributed INCLUSIVE running count of rows with `flagCol` != 0 in the
    * total order of `orderCols` — the scale twin of `sum(flag).over(
    * Window.orderBy(orderCols…).rowsBetween(unboundedPreceding,
    * currentRow))` ([[runningSum]] of 0/1). A null flag fails the job.
    * Used by the banded neighbor join's global-cohort path; equivalence to
    * the window form is pinned by PreprocessSpec. */
  def withRunningFlagCount(df: DataFrame, orderCols: Seq[String],
                           flagCol: String, outCol: String): DataFrame = {
    val flag = longAt(df, flagCol)
    runningSum(df, Nil, orderCols, r => if (flag(r) != 0L) 1L else 0L, outCol)
  }

  /** A row's integral `c` as a long; a null throws (never counts as 0). */
  private def longAt(df: DataFrame, c: String): Row => Long = {
    val i = df.schema.fieldIndex(c)
    r => r.getAs[Number](i).longValue()
  }

  /** The one distributed running sum behind the four ops above: `outCol` =
    * Σ `inc` over the rows up to this one in the total order of
    * (groupCols ++ orderCols), restarting per group (`Nil` groups = one
    * group); `exclusive` leaves the row's own `inc` out (0-based ids).
    * The zipWithIndex shape, with NO single-task stage: `repartitionByRange`
    * on (group ++ order) — a group may span partitions, but each partition
    * holds a contiguous sorted slice of it — then one tiny job collects
    * per-(partition, group) sums, the driver turns them into per-group
    * cumulative offsets across partitions, and a streaming per-partition
    * pass adds offset + local running sum. CONTRACT: the collected state
    * is O(|partitions| × |distinct groups|) driver rows and ships in every
    * task closure — for BOUNDED-CARDINALITY strata (languages, sources,
    * shards), not for data-sized keys like user ids. */
  private[graft] def runningSum(df: DataFrame, groupCols: Seq[String],
                                orderCols: Seq[String], inc: Row => Long,
                                outCol: String,
                                exclusive: Boolean = false): DataFrame = {
    // Explicit partition count: an advisory repartitionByRange is fair game
    // for AQE coalescing (small bytes ⇒ one partition ⇒ the single-task
    // stage this op exists to avoid); an explicit count is binding.
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val keyCols = (groupCols ++ orderCols).map(col(_))
    // RangePartitioner's bound sampling is a FULL pass over the input, so
    // an uncached lineage would run twice (sample, then shuffle): pin the
    // input across both and free it once the sums job has materialized the
    // sorted RDD. A caller's own pin is left alone: unpersisting it here
    // would silently drop the caller's cache entry (uncache matches by plan).
    val callerPinned = df.storageLevel != StorageLevel.NONE
    val inp = if (callerPinned) df else df.persist(StorageLevel.MEMORY_AND_DISK)
    val sorted = inp.repartitionByRange(n, keyCols: _*).sortWithinPartitions(keyCols: _*)
    // Persisted (at RDD level) so the sums job and the output pass see the
    // SAME partitions. RDD caching (unlike Dataset.persist, which the cache
    // manager pins until an explicit unpersist) is ContextCleaner-managed:
    // the block is freed once the returned plan is garbage-collected.
    val rdd = sorted.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val gIdx = groupCols.map(sorted.schema.fieldIndex)
    val sums = try rdd.mapPartitionsWithIndex { case (pid, it) =>
      // a partition sees each group as one contiguous run, so this is
      // O(groups-in-partition) entries however large the slice
      val m = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
      it.foreach { r =>
        val g = gIdx.map(r.get)
        m.update(g, m.getOrElse(g, 0L) + inc(r))
      }
      m.iterator.map { case (g, s) => (pid, g, s) }
    }.collect() finally if (!callerPinned) inp.unpersist(blocking = false)
    val offsets: Map[(Int, Seq[Any]), Long] = sums.groupBy(_._2)
      .flatMap { case (g, ps) =>
        val inOrder = ps.sortBy(_._1)
        inOrder.map(_._1).zip(inOrder.map(_._3).scanLeft(0L)(_ + _))
          .map { case (pid, off) => (pid, g) -> off }
      }
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var g: Seq[Any] = null
      var acc = 0L
      it.map { r =>
        val k = gIdx.map(r.get)
        if (k != g) { g = k; acc = offsets.getOrElse((pid, k), 0L) }
        val d = inc(r)
        acc += d
        Row.fromSeq(r.toSeq :+ (if (exclusive) acc - d else acc))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Split a `sep`-joined hierarchy string into `levels` level columns
    * (`furniture/living/sofa` style — reference: cocoa/preprocess.py:52-78
    * `_additional_feature_engineering` guidance + notebook cell 13's
    * `str.split('_')`). Missing levels yield null. */
  def splitHierarchy(df: DataFrame, column: String, sep: String, levels: Int): DataFrame = {
    val parts = split(col(column), java.util.regex.Pattern.quote(sep))
    (0 until levels).foldLeft(df) { (d, i) =>
      // get() (not element_at) — null on missing level rather than an ANSI
      // out-of-bounds error (spark.sql.ansi.enabled defaults on in Spark 4).
      d.withColumn(s"${column}_l$i", get(parts, lit(i)))
    }
  }
}

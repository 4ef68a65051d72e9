package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.storage.StorageLevel

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 made these conversions `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so the library exposes
  * them from inside the sql package — the standard pattern for extension
  * libraries shipping native expressions.
  */
object Bridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether the session's cache manager holds no cached relations — the
    * assertion behind the index-handle lifecycle contract
    * ([[graft.ops.AnnIndex.unpersist]]). The manager is `private[sql]`, so
    * the check is exposed from inside the package like the conversions. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Eagerly materialize a DataFrame into an RDD-backed copy whose storage
    * the CALLER controls. `Dataset.localCheckpoint` persists its internal
    * RDD where neither `Dataset.unpersist` nor `Catalog.clearCache` can
    * reach it (the cache manager never registered it), so iterative
    * algorithms leak one full relation per round. This variant persists the
    * internal-row RDD directly and hands it back: `rdd.unpersist()` frees
    * the blocks deterministically, and any still-referenced tail is
    * ContextCleaner-managed (freed on GC) rather than pinned.
    * Rows are copied because `toRdd` reuses mutable UnsafeRows.
    *
    * Its job is an RDD action, not a Dataset action: no
    * `QueryExecutionListener` sees the plan it executed, so a plan probe
    * (a test's largest-join check, a benchmark's join probe) misses every
    * operator that runs here. Use [[checkpointed]] where that matters. */
  def materialized(df: DataFrame,
                   level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(level)
    rdd.count() // materialize now: downstream reads hit blocks, not lineage
    (ds.sparkSession.internalCreateDataFrame(rdd, ds.schema), rdd)
  }

  /** Eagerly materialize `df` through `Dataset.localCheckpoint` and hand
    * back the checkpointed RDD, so its owner frees the blocks with
    * [[release]] once the last reader has run (the cache manager never
    * sees this RDD, so `Catalog.clearCache` cannot; an unreferenced one is
    * ContextCleaner-managed). Unlike [[materialized]] the job runs as
    * a Dataset SQL action, so `QueryExecutionListener`s see its executed
    * plan, and the result keeps the plan's output partitioning and size
    * estimate. Readers plan from the checkpoint leaf instead of re-planning
    * the lineage behind it. */
  def checkpointed(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val out = df.localCheckpoint(eager = true)
    val rdd = out.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(throw new IllegalStateException("localCheckpoint returned no LogicalRDD"))
    (out, rdd)
  }

  /** Frees a [[checkpointed]] RDD's blocks. `RDD.unpersist` would also do
    * that, but it warns on every call that a local checkpoint cannot be
    * recomputed once freed, which is the point here: the owner frees it
    * after its last reader. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The MEASURED storage footprint of a persisted-and-materialized RDD
    * (memory + disk bytes across its blocks), 0 when unknown. */
  def storageBytes(rdd: RDD[_]): Long =
    rdd.context.getRDDStorageInfo.filter(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).sum

  /** [[materialized]] + stats repair: the flat `LogicalRDD` boundary
    * deliberately truncates lineage, but it also ERASES size statistics —
    * Catalyst assigns it `spark.sql.defaultSizeInBytes` (Long.MaxValue),
    * so every subsequent join against a materialized stage boundary is
    * planned sort-merge/shuffled even when the relation is a few KB, and
    * AQE can only repair the strategy AFTER building both shuffle
    * exchanges. Since the blocks are already materialized, the TRUE size
    * is known: when it is positive and at most the session's
    * autoBroadcastJoinThreshold, attach a broadcast hint so the planner
    * makes the same decision it would have made with honest stats — no
    * exchange on either side. Scale-adaptive by construction: the hint is
    * conditioned on MEASURED bytes, so a corpus-sized boundary at
    * production scale is never broadcast (and with the threshold set
    * non-positive the hint is never attached). Join strategy only — the
    * result rows are identical either way. */
  def materializedAuto(df: DataFrame,
                       level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : DataFrame = {
    val (out, rdd) = materialized(df, level)
    // Threshold from the DataFrame's OWN session, not SQLConf.get: the
    // thread-local active session is not inherited by scala global-EC
    // Future threads (q153 submits materializations from futures), where
    // SQLConf.get silently falls back to the default conf — ignoring a
    // session that raised the threshold, or one that disabled broadcasting
    // with -1 (ADVICE r14 medium). This is deterministic per session
    // regardless of the calling thread.
    val threshold = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    val bytes = storageBytes(rdd)
    // Log the measured-bytes decision (ADVICE r14: make threshold-edge
    // plan flips diagnosable — the "no silent caps" discipline).
    if (threshold > 0 && bytes > 0 && bytes <= threshold) {
      logInfo(s"materializedAuto: ${bytes} B <= threshold ${threshold} B " +
        "- broadcast hint attached")
      out.hint("broadcast")
    } else out
  }
}

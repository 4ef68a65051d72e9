package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plan of every Dataset action that succeeded while a body
  * ran, with the action's name (`collect`, `save`, `localCheckpoint`, …).
  * Plans are read from `QueryExecutionListener` callbacks, so a job that
  * runs outside a Dataset action (an RDD `count()`) leaves no plan here.
  * The callbacks arrive on the listener bus, whose drain is
  * `private[spark]`: hence this package. */
object ActionPlans {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

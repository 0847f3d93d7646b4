package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Test helper: the executed physical plan of every action `body` runs,
  * `localCheckpoint`s and eager collects included — the final
  * DataFrame's plan only shows a checkpoint as a scan of its RDD. Lives
  * in an `org.apache.spark` subpackage to drain the SparkContext's
  * listener bus, which is `private[spark]`. */
object ActionPlans {
  def of(spark: SparkSession)(body: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      body
      spark.sparkContext.listenerBus.waitUntilEmpty()
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }
}

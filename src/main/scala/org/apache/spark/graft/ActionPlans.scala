package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The query execution of every action a block runs — the frames a
  * statement executes internally (stats collects, data and change-file
  * writes), which the frame it returns never shows. Listener events arrive
  * on Spark's asynchronous bus, so the block's events are drained before
  * the capture is read; `listenerBus` is package-private to Spark. */
object ActionPlans {
  def capture[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

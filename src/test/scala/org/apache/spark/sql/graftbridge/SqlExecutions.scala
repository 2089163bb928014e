package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Test probe for a call's job shape: the SQL executions it ran, seen
  * through a `QueryExecutionListener`. Listener events arrive on
  * Spark's listener bus, so the bus is drained (a `private[spark]`
  * call, hence this package) before and after the call. */
object SqlExecutions {

  /** Runs `body` and returns its result with one entry per SQL
    * execution it ran: the output paths that execution wrote (empty
    * for a read-only action). */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Seq[String]]) = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        seen.add(qe.logical.collect {
          case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
        })
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

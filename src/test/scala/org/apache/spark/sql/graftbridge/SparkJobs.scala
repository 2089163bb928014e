package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test probe for a call's Spark job count, seen through a
  * `SparkListener`. Listener events arrive on Spark's listener bus, so
  * the bus is drained (a `private[spark]` call, hence this package)
  * before and after the call, as [[SqlExecutions]] does. */
object SparkJobs {

  /** Runs `body` and returns its result with the number of Spark jobs
    * it started. */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

// Hosted under org.apache.spark.sql to reach the private[spark] listener
// bus — test-only: specs that assert "this code path launches N Spark
// jobs" must drain the async listener bus before reading their counters,
// or a just-started job's event may not have been delivered yet.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

object ListenerHook {

  /** Block until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The number of Spark jobs `body` launches. */
  def countJobs(spark: SparkSession)(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; drain(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}

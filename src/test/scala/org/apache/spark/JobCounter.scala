package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A block's result and the number of Spark jobs it launched. It lives in this package for
  * `listenerBus.waitUntilEmpty()`, which is `private[spark]`: the count is
  * read only after every job-start event has reached the listener. Jobs are
  * matched by a job group set on the calling thread, which Spark carries
  * over to the threads it starts for the query (broadcasts, subqueries),
  * so work left running by another suite is not counted. */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit =
        if (Option(start.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    val result =
      try body
      finally {
        sc.clearJobGroup()
        sc.listenerBus.waitUntilEmpty()
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }
}

package org.apache.spark

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launched. It lives in this package for
  * `listenerBus.waitUntilEmpty()`, which is `private[spark]`: the jobs are
  * read only after every job-start event has reached the listener. Jobs are
  * matched by a job group set on the calling thread, which Spark carries
  * over to the threads it starts for the query (broadcasts, subqueries),
  * so work left running by another suite is not counted. */
object JobCounter {

  /** A job the block launched: its id and the local properties it ran with. */
  final case class Job(id: Int, properties: Properties)

  /** A block's result and its jobs, in start order. */
  def jobs[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    val started = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit =
        if (Option(start.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.synchronized(started += Job(start.jobId, start.properties))
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
    (result, started.synchronized(started.toSeq))
  }

  /** A block's result and the number of jobs it launched. */
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (result, launched) = jobs(sc)(body)
    (result, launched.size)
  }

  /** The jobs among `launched` that have not ended, once every event posted
    * so far has reached the status store. */
  def running(sc: SparkContext, launched: Seq[Job]): Seq[Int] = {
    sc.listenerBus.waitUntilEmpty()
    launched.map(_.id).filter(id =>
      sc.statusTracker.getJobInfo(id).forall(_.status == JobExecutionStatus.RUNNING))
  }
}

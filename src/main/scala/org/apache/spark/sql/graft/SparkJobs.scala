package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one Spark job counter, behind the specs' job-count pins and the
  * zero-job bar of [[graft.FleetBench]]. The listener bus is
  * asynchronous: a listener attached now still receives events queued
  * before it, and may receive the body's events long after the body
  * returns. [[count]] therefore drains the bus before attaching its
  * listener and again before reading it. The drain is package-private in
  * Spark (hence this package) and throws a `TimeoutException` when the
  * bus does not empty within its built-in timeout.
  */
object SparkJobs {

  /** Counts the job-start events delivered to it. */
  class JobCounter extends SparkListener {
    private val started = new AtomicInteger(0)
    def jobs: Int = started.get
    override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
  }

  /** Run `body` and return (its result, the Spark jobs it started). */
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val counter = new JobCounter
    sc.addSparkListener(counter)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, counter.jobs)
    } finally sc.removeSparkListener(counter)
  }
}

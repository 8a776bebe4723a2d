package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The job counter behind [[SparkSpec.countJobs]] under a stalled
  * listener bus. A [[Stall]] blocks the shared listener queue on the
  * start event of a marked job until released, so every later event
  * waits in the queue: a job started before the count is not the body's,
  * and a job the body ran is the body's however late its event arrives.
  */
class SparkJobsSpec extends SparkSpec {

  private val Mark = "graft.test.stallBus"

  /** Blocks the queue it is on while delivering a marked job's start. */
  private class Stall extends SparkListener {
    val blocked = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Mark) != null)) {
        blocked.countDown()
        release.await(10, TimeUnit.SECONDS); ()
      }
  }

  private def job(): Unit = { spark.sparkContext.parallelize(Seq(1), 1).count(); () }

  private def markedJob(): Unit = {
    spark.sparkContext.setLocalProperty(Mark, "1")
    try job() finally spark.sparkContext.setLocalProperty(Mark, null)
  }

  private def releaseAfter(stall: Stall, ms: Long): Unit = {
    val t = new Thread(() => { Thread.sleep(ms); stall.release.countDown() })
    t.setDaemon(true)
    t.start()
  }

  private def withStall[T](body: Stall => T): T = {
    val stall = new Stall
    spark.sparkContext.addSparkListener(stall)
    try body(stall)
    finally { stall.release.countDown(); spark.sparkContext.removeSparkListener(stall) }
  }

  test("a job whose start event is still queued when the count begins is not counted") {
    withStall { stall =>
      markedJob()
      assert(stall.blocked.await(10, TimeUnit.SECONDS))
      job() // its start event waits in the queue behind the stall
      releaseAfter(stall, 150)
      assert(countJobs(())._2 == 0)
    }
  }

  test("a job run inside the body is counted while the bus stalls past the body") {
    withStall { stall =>
      val (_, jobs) = countJobs { markedJob(); releaseAfter(stall, 500) }
      assert(jobs == 1)
    }
  }
}

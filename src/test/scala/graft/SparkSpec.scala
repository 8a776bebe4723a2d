package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SparkJobs
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session construction dominates test wall-time otherwise).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Diagnostic topology override (VERDICT r18 item 1): SPARK_GRAFT_MASTER=
    // local-cluster[n,cores,memMB] runs the shared suite session with REAL
    // executor JVMs — ClusterGate supplies their classpath/JDK17-opens/heap,
    // and SPARK_GRAFT_CENSUS_DIR additionally activates the executor-side
    // census channel (CensusChannel). Meant for targeted runs (e.g. the
    // opt-in all-probe codegen census under real executors); the default
    // suite topology is unchanged.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = (if (master.startsWith("local-cluster")) ClusterGate.configure(builder)
             else builder).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf001 = "/root/testdata/sf0.001"

  /** scalacheck runner (no scalatestplus bridge in the offline cache). */
  def checkProp(p: org.scalacheck.Prop, minTests: Int = 30): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  /** Run `body` and return (result, Spark jobs started by it) — the
    * regression gate for "no read-back job" contracts (VERDICT r14: the
    * Observation discipline in the store compactors). Counted by
    * [[org.apache.spark.sql.graft.SparkJobs.count]].
    */
  def countJobs[T](body: => T): (T, Int) = SparkJobs.count(spark)(body)
}

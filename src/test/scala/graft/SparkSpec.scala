package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in one
  * forked JVM under `Test / fork := true`). */
object SparkSpec {
  lazy val spark: SparkSession = graft.core.Session.local(4)
  val SF = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.SF

  /** Spark jobs `body` runs, counted by job id between two marker jobs
    * (ids are assigned in submission order across the whole application,
    * so broadcast and AQE stage jobs that run under their own job group
    * count too); each marker is found through `setJobGroup` +
    * `statusTracker.getJobIdsForGroup`. */
  protected def jobsOf(body: => Unit): Int = {
    val before = markerJob()
    body
    markerJob() - before - 1
  }

  private def markerJob(): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-marker-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job-count marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    var ids = sc.statusTracker.getJobIdsForGroup(group)
    while (ids.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(10)
      ids = sc.statusTracker.getJobIdsForGroup(group)
    }
    assert(ids.length == 1, s"marker job of $group not seen")
    ids.head
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.QueryProfile

/** An event no listener acts on: a few thousand of them queue up ahead
  * of whatever is posted next. */
private case object Filler extends SparkListenerEvent

/** Pins the two listener-bus drains in `QueryProfile.of`. Real work
  * rarely leaves events queued long enough to show a lost drain, so
  * these specs post a backlog straight onto the shared bus (`post` is
  * `private[spark]`, hence the package) ahead of one job. */
class QueryProfileDrainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Posts a backlog, then the start and end of job `id`. */
  private def queuedJob(id: Int): Unit = {
    val bus = spark.sparkContext.listenerBus
    (1 to 5000).foreach(_ => bus.post(Filler))
    val t = System.currentTimeMillis()
    bus.post(SparkListenerJobStart(id, t, Seq.empty, new java.util.Properties))
    bus.post(SparkListenerJobEnd(id, t, JobSucceeded))
  }

  test("a job still queued on the bus when `of` starts is not counted") {
    queuedJob(-1)
    val (_, p) = QueryProfile.of(spark)(())
    assert(p.jobs == 0, p)
  }

  test("a job queued on the bus before the body returns is counted") {
    val (_, p) = QueryProfile.of(spark)(queuedJob(-2))
    assert(p.jobs == 1, p)
  }
}

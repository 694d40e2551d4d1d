package graft.obs

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Gates for a job that is already running when a profile starts. Tasks
  * of a local session run in this JVM, so they see the same latches. */
private object PreStarted {
  val running = new CountDownLatch(2)
  val release = new CountDownLatch(1)
}

/** The counts a profile reports are exact: pinned on work whose shape is
  * known, with the listener bus drained instead of waited on. */
class QueryProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("with AQE off a two-stage aggregate over two files reports one " +
    "execution, one job, two stages, 2 + 4 tasks and reads each row once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qp_").toString
    spark.range(0, 1000).repartition(2).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir) // schema inference runs its job here
    val (rows, p) = SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
      QueryProfile.of(spark) {
        df.groupBy((col("id") % 10).as("k")).count().collect()
      }
    }
    assert(rows.length == 10)
    assert(p.sqlExecs == 1 && p.jobs == 1, p)
    assert(p.executions.map(e => (e.jobs, e.exchanges, e.broadcasts)) ==
      Vector((1, 1, 0)), p.executions)
    assert(p.stages == 2 && p.tasks == 2 + 4, p) // two file splits, 4 partitions
    assert(p.recordsRead == 1000L && p.scanRecords == 1000L, p)
    assert(p.shuffleWriteBytes > 0L && p.shuffleReadBytes == p.shuffleWriteBytes, p)
    assert(p.jobWallMs == p.executions.head.jobWallMs && p.jobUnionMs <= p.jobWallMs, p)
  }

  test("work started before `of` is not counted, even when it ends inside") {
    val before = spark.sparkContext.parallelize(1 to 2, 2).map { x =>
      PreStarted.running.countDown()
      PreStarted.release.await()
      x
    }.countAsync()
    PreStarted.running.await() // both tasks run, so its job has started
    val (n, p) = QueryProfile.of(spark) {
      PreStarted.release.countDown()
      assert(before.get() == 2L)
      spark.sparkContext.parallelize(1 to 3, 3).count()
    }
    assert(n == 3L)
    assert(p.jobs == 1 && p.stages == 1 && p.tasks == 3 && p.sqlExecs == 0, p)
  }

  test("a two-batch MemoryStream query reports 2 batches with addBatch time") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Int]
    val (_, p) = QueryProfile.of(spark) {
      val q = input.toDF().writeStream.format("memory")
        .queryName("qp_" + java.util.UUID.randomUUID().toString.replace("-", ""))
        .start()
      try {
        input.addData(1, 2, 3)
        q.processAllAvailable()
        input.addData(4, 5)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(p.batches == 2, p)
    assert(p.durationMs.contains("addBatch"), p.durationMs)
  }

  test("a stream started in a child session reports its 3 batches") {
    val (_, p) = QueryProfile.of(spark) {
      graft.LocalSpark.withChildSession(spark) { child =>
        implicit val sc = child.sqlContext
        val input = MemoryStream[Int]
        val q = input.toDF().writeStream.format("noop").start()
        try (1 to 3).foreach { i => input.addData(i); q.processAllAvailable() }
        finally q.stop()
      }
    }
    assert(p.batches == 3, p)
  }

  test("a body that floods the bus with 2000 tasks is counted to its " +
    "last task") {
    val (n, p) = QueryProfile.of(spark) {
      spark.range(0L, 20000L, 1L, 2000).count()
    }
    assert(n == 20000L)
    assert(p.tasks == 2000 + 1 && p.stages == 2, p)
  }
}

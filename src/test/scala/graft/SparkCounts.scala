package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of Spark work did, counted by a SparkListener: task
  * input records (file-scan rows) and SQL executions started. */
object SparkCounts {

  final case class Counts(recordsRead: Long, sqlExecs: Long)

  /** Run `body` and count its work; waits for the async listener bus to
    * drain before reading. */
  def apply(spark: SparkSession)(body: => Unit): Counts = {
    val recs = new AtomicLong(0)
    val execs = new AtomicLong(0)
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.time >= t0 =>
          execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      def now = Counts(recs.get(), execs.get())
      var last = Counts(-1L, -1L)
      var waited = 0
      while (now != last && waited < 5000) {
        last = now; Thread.sleep(100); waited += 100
      }
      now
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def recordsRead(spark: SparkSession)(body: => Unit): Long =
    apply(spark)(body).recordsRead
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of Spark work did, counted by a SparkListener: task
  * input records (file-scan rows, plus one per cached or checkpointed
  * block record read), the records read by stages that scan files only,
  * and the SQL executions started, each by its call site. */
object SparkCounts {

  final case class Counts(recordsRead: Long, scanRecords: Long,
                          execSites: Vector[String]) {
    def sqlExecs: Long = execSites.size.toLong
  }

  /** Run `body` and count its work; waits for the async listener bus to
    * drain before reading. */
  def apply(spark: SparkSession)(body: => Unit): Counts = {
    val recs = new AtomicLong(0)
    val scanRecs = new AtomicLong(0)
    val scanStages = ConcurrentHashMap.newKeySet[Int]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(s.stageInfo.stageId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          val n = t.taskMetrics.inputMetrics.recordsRead
          recs.addAndGet(n)
          if (scanStages.contains(t.stageId)) scanRecs.addAndGet(n)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.time >= t0 =>
          sites.add(s.details); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      def now = Counts(recs.get(), scanRecs.get(),
        sites.toArray(Array.empty[String]).toVector)
      var last = Counts(-1L, -1L, Vector.empty)
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

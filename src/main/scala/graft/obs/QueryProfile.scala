package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What a block of Spark work did, read off the listener bus: its SQL
  * executions, jobs, stages and tasks, the wall its jobs cover against
  * the driver gap between them, task time and bytes, and the progress
  * of the streaming micro-batches it ran. Only work the block started
  * counts: stages and tasks of its own jobs, batches of the streaming
  * queries it started, in its session or in any other. The one place
  * in the engine that listens to Spark.
  *
  * @param wallMs          wall time of the block
  * @param executions      SQL executions started by the block, by id
  * @param jobs            jobs started, inside a SQL execution or not
  * @param jobWallMs       summed wall of those jobs
  * @param jobUnionMs      wall covered by at least one running job
  * @param stages          stages of those jobs completed
  * @param stageWallMs     summed submission-to-completion wall of stages
  * @param tasks           tasks of those stages ended
  * @param recordsRead     task input records: file-scan rows, plus one
  *                        per cached or checkpointed block record read
  * @param scanRecords     input records of stages that scan files only
  * @param batches         streaming micro-batches that reported progress
  * @param durationMs      their progress durations (addBatch, walCommit,
  *                        …), summed over batches
  * @param stateMs         per state operator: update, removal and commit
  *                        times summed, `numRowsTotal` its largest value
  */
final case class QueryProfile(
    wallMs: Double,
    executions: Vector[QueryProfile.Execution],
    jobs: Int, jobWallMs: Long, jobUnionMs: Long,
    stages: Int, stageWallMs: Long, tasks: Int,
    executorRunMs: Long, gcMs: Long, deserializeMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    recordsRead: Long, scanRecords: Long,
    batches: Int, durationMs: Map[String, Long], stateMs: Map[String, Long]) {
  def sqlExecs: Int = executions.size
  def driverGapMs: Double = (wallMs - jobUnionMs).max(0.0)
}

object QueryProfile {

  /** One SQL execution: its call site (`site` is the first line of the
    * description, `details` the call stack), the exchanges and broadcast
    * exchanges of its physical plan, and the jobs it ran. */
  final case class Execution(id: Long, site: String, details: String,
                             exchanges: Int, broadcasts: Int,
                             jobs: Int, jobWallMs: Long)

  /** Runs `body` and profiles it. The listener bus is drained before the
    * listener attaches, so earlier work is not counted, and again after
    * `body`, so every event of its work has arrived. */
  def of[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    Bridge.drainListenerBus(spark)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val a = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      Bridge.drainListenerBus(spark)
      (a, rec.profile(wallMs))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private final class Recorder extends SparkListener {
    private val execs = mutable.Map.empty[Long, Execution]
    private val jobStart = mutable.Map.empty[Int, (Option[Long], Long)]
    private val jobSpans = mutable.ArrayBuffer.empty[(Option[Long], Long, Long)]
    private var nJobs, nStages, nTasks, nBatches = 0
    private val ownStages, scanStages = mutable.Set.empty[Int]
    private val ownRuns = mutable.Set.empty[java.util.UUID]
    private var stageWall, execRun, gc, deser, shufR, shufW = 0L
    private var recs, scanRecs = 0L
    private val durations = mutable.Map.empty[String, Long]
    private val state = mutable.Map.empty[String, Long]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val plan = s.physicalPlanDescription
        execs(s.executionId) = Execution(s.executionId,
          s.description.linesIterator.nextOption().getOrElse(""), s.details,
          "(?<!Reused)Exchange ".r.findAllIn(plan).size,
          "BroadcastExchange".r.findAllIn(plan).size, jobs = 0, jobWallMs = 0L)
      }
      // every session's streaming events reach the shared bus too, so
      // queries started in a child session count as well
      case s: StreamingQueryListener.QueryStartedEvent => synchronized {
        ownRuns += s.runId; ()
      }
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        progress(p.progress)
      }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val eid = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      jobStart(e.jobId) = (eid, e.time)
      ownStages ++= e.stageIds
      nJobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (eid, t0) =>
        jobSpans += ((eid, t0, e.time))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val si = e.stageInfo
        if (si.rddInfos.exists(_.name == "FileScanRDD")) scanStages += si.stageId
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        if (ownStages(si.stageId)) {
          for (s <- si.submissionTime; c <- si.completionTime) stageWall += c - s
          nStages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (ownStages(e.stageId)) {
        nTasks += 1
        Option(e.taskMetrics).foreach { tm =>
          execRun += tm.executorRunTime
          gc += tm.jvmGCTime
          deser += tm.executorDeserializeTime
          shufR += tm.shuffleReadMetrics.totalBytesRead
          shufW += tm.shuffleWriteMetrics.bytesWritten
          val n = tm.inputMetrics.recordsRead
          recs += n
          if (scanStages(e.stageId)) scanRecs += n
        }
      }
    }

    private def progress(p: StreamingQueryProgress): Unit =
      if (ownRuns(p.runId)) {
        nBatches += 1
        p.durationMs.forEach((k, v) => add(durations, k, v))
        p.stateOperators.foreach { so =>
          val op = so.operatorName
          add(state, s"$op.allUpdatesTimeMs", so.allUpdatesTimeMs)
          add(state, s"$op.commitTimeMs", so.commitTimeMs)
          add(state, s"$op.allRemovalsTimeMs", so.allRemovalsTimeMs)
          state(s"$op.numRowsTotal") =
            state.getOrElse(s"$op.numRowsTotal", 0L).max(so.numRowsTotal)
        }
      }

    private def add(m: mutable.Map[String, Long], k: String, v: Long): Unit =
      m(k) = m.getOrElse(k, 0L) + v

    /** Wall covered by the union of the job intervals. */
    private def unionMs: Long = {
      var total, curS, curE = 0L
      jobSpans.map(j => (j._2, j._3)).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = curE.max(e)
      }
      total + curE - curS
    }

    def profile(wallMs: Double): QueryProfile = synchronized {
      val byExec = jobSpans.groupBy(_._1)
      val executions = execs.values.map { x =>
        val spans = byExec.getOrElse(Some(x.id), Nil)
        x.copy(jobs = spans.size, jobWallMs = spans.map(s => s._3 - s._2).sum)
      }.toVector.sortBy(_.id)
      QueryProfile(wallMs, executions, nJobs,
        jobSpans.map(s => s._3 - s._2).sum, unionMs, nStages, stageWall,
        nTasks, execRun, gc, deser, shufR, shufW, recs, scanRecs,
        nBatches, durations.toMap, state.toMap)
    }
  }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `op` is the benchmark op it belongs to (-1 for
  * set-up); `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** Bench-side spans around each call into a layer's public functions.
  * Kept in memory and written out when the run ends. A disabled tracer
  * only runs the body, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized {
          spans += Span(id, name, stack.headOption.getOrElse(-1), op, t0, t1)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total seconds, self seconds and count per span name: self time is
    * a span's duration minus the part of it that its child spans cover. */
  def selfTimes: Map[String, (Double, Double, Int)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.endNs - s.startNs).sum
      val covered = group.map { s =>
        Intervals.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)))
      }.sum
      name -> (total / 1e9, (total - covered) / 1e9, group.size)
    }
  }

  /** Seconds per span name per op. */
  def byOp: Map[String, Map[String, Double]] =
    all.groupBy(_.name).map { case (name, group) =>
      name -> group.groupBy(_.op).map { case (op, ss) =>
        op.toString -> ss.map(s => s.endNs - s.startNs).sum / 1e9
      }
    }
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per (op, module) execution counters. */
final class Counters {
  var sqlExecs = 0L
  var jobs = 0L
  var jobWallMs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L

  def asMap: Map[String, Any] = Map(
    "sql_execs" -> sqlExecs, "jobs" -> jobs, "job_wall_s" -> jobWallMs / 1e3,
    "tasks" -> tasks, "task_cpu_s" -> taskCpuNs / 1e9,
    "sched_wait_s" -> schedWaitMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_mb" -> shuffleBytes / 1e6, "spill_mb" -> spillBytes / 1e6,
    "input_mb" -> inputBytes / 1e6, "records_read" -> recordsRead,
    "bytes_written_mb" -> bytesWritten / 1e6)
}

/** Attributes every SQL execution, job and task to one of the engine's
  * modules, by the engine source file in its call site, and to the op
  * whose wall interval contains it. A call site inside the benchmark is
  * the benchmark's own action on a query's result, so it counts as
  * `queries`; any frame inside Spark MLlib or `graft.ml` counts as `ml`.
  *
  * `opAt(epochMs)` gives the op running at that instant, or -1. */
final class LayerListener(moduleOfFile: Map[String, String],
                          opAt: Long => Int) extends SparkListener {
  private val byKey = mutable.Map.empty[(Int, String), Counters]
  private val jobInfo = mutable.Map.empty[Int, (Int, String, Long)]
  private val stageInfo = mutable.Map.empty[Int, (Int, String)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  /** Job intervals (epoch ms) per op, for driver gap and overlap. */
  val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  private val FrameFile = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
  /** Index plumbing every family shares: a job started there belongs to
    * the family that called it. */
  private val Shared = Set("LinearHashIndex.scala", "IndexManifest.scala",
    "Exec.scala")

  def moduleOf(short: String, long: String): String =
    if (long == null) "queries"
    else if (long.contains("org.apache.spark.ml.") || long.contains("graft.ml."))
      "ml"
    else {
      val files = FrameFile.findAllMatchIn(long).map(_.group(1))
        .filter(moduleOfFile.contains).toSeq
      files.find(f => !Shared(f)).orElse(files.headOption)
        .map(moduleOfFile).getOrElse("queries")
    }

  private def counters(op: Int, module: String): Counters =
    byKey.getOrElseUpdate((op, module), new Counters)

  /** Module of each SQL execution: a job inside one belongs to it. */
  private val execModule = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, (Long, String)]
  /** The slowest SQL executions: (wall ms, module, call site). */
  val slowest = mutable.ArrayBuffer.empty[(Long, String, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val module = exec.flatMap(execModule.get).getOrElse(
      moduleOf(p.map(_.getProperty("callSite.short")).orNull,
        p.map(_.getProperty("callSite.long")).orNull))
    val op = opAt(e.time)
    jobInfo(e.jobId) = (op, module, e.time)
    e.stageIds.foreach(s => stageInfo(s) = (op, module))
    counters(op, module).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (op, module, t0) =>
      counters(op, module).jobWallMs += e.time - t0
      jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
        ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitted(e.stageInfo.stageId) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageSubmitted.remove(e.stageInfo.stageId) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, module) = stageInfo.getOrElse(e.stageId, (-1, "queries"))
    val c = counters(op, module)
    c.tasks += 1
    stageSubmitted.get(e.stageId).foreach(t =>
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val m = moduleOf(s.description, s.details)
      execModule(s.executionId) = m
      execStart(s.executionId) = (s.time, s.details)
      counters(opAt(s.time), m).sqlExecs += 1
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(s.executionId).foreach { case (t0, site) =>
        slowest += ((s.time - t0, execModule.getOrElse(s.executionId, "?"),
          site.linesIterator.take(6).mkString(" < ")))
        if (slowest.size > 200) {
          val keep = slowest.sortBy(-_._1).take(20)
          slowest.clear(); slowest ++= keep
        }
      }
    }
    case _ => ()
  }

  def snapshot: Map[(Int, String), Counters] = synchronized(byKey.toMap)
}

/** Micro-batch progress as the streaming engine reports it. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[(Long, String, Map[String, Long])]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    progress += ((p.batchId, p.timestamp,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def all: Seq[(Long, String, Map[String, Long])] = synchronized(progress.toList)
}

/** The local file system, counting manifest opens per op (traced runs
  * only: the engine reads its manifest through the Hadoop file system). */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.startsWith("manifest-")) CountingFs.manifestRead()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  @volatile var opAt: Long => Int = _ => -1
  val manifestReads =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.util.concurrent.atomic.AtomicLong]()
  def manifestRead(): Unit =
    manifestReads.computeIfAbsent(opAt(System.currentTimeMillis()),
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
}

object Census {
  /** (files, bytes) under a directory tree; (0, 0) when it is absent. */
  def dir(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else if (root.isFile) (1L, root.length())
    else Option(root.listFiles()).getOrElse(Array.empty[File])
      .map(dir).foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }

  /** JVM heap in use after a forced full GC, in MB. Spark's context
    * cleaner frees broadcast and checkpoint blocks only after a GC has
    * released their handles, so collect, let it run, and collect again. */
  def heapLiveMb(): Double = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
}

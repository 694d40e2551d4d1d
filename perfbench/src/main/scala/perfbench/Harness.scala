package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, generates the inputs,
  * starts it once per run, and checks and summarises what it writes.
  *
  *   perfbench.Harness --list <pool.json>
  *   perfbench.Harness --workload <name> --inputs <dir> --fixture <dir>
  *     --out <dir> --seconds <n> --trace <0|1> --cpus <n> --src <dir>
  *     [--plant 1]
  *
  * Every workload is a closed loop with one client: the next op starts
  * only after the previous one has completed. `--plant 1` corrupts the
  * first op's result before it is checked, so the benchmark's own tests
  * can show that a wrong result is counted as failed (`trend_analytics`
  * results are checked, and so corrupted, in run.py). */
object Harness {

  final case class Args(workload: String, inputs: String, fixture: String,
                        out: String, seconds: Int, trace: Boolean, cpus: Int,
                        src: String, plant: Boolean)

  final case class Op(id: Int, name: String, kind: String, startMs: Long,
                      endMs: Long, latencyS: Double, ok: Boolean,
                      error: Option[String]) {
    def asMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs,
      "latency_s" -> latencyS, "ok" -> ok, "error" -> error)
  }

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    kv.get("list") match {
      case Some(path) =>
        Files.writeString(Paths.get(path), toJson(Map(
          "pool" -> Trend.pool.map(n => n -> Map(
            "oracle" -> graft.SparkEntry.oracleSql.get(n))).toMap)))
      case None =>
        val a = Args(kv("workload"), kv("inputs"), kv("fixture"), kv("out"),
          kv("seconds").toInt, kv("trace") == "1", kv("cpus").toInt,
          kv("src"), kv.get("plant").contains("1"))
        val ctx = new Ctx(a)
        val result = a.workload match {
          case "trend_analytics" => Trend.run(ctx)
          case "curation_ingest" => Curation.ingest(ctx)
          case "rag_retrieval" => Curation.retrieval(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        // listener events arrive asynchronously: let them drain
        if (a.trace) Thread.sleep(2000)
        Files.writeString(Paths.get(a.out, "result.json"),
          toJson(ctx.common ++ result))
        ctx.writeSpans()
        ctx.stop()
    }
  }
}

/** State shared by the workloads of one run: the session, the op
  * registry the listeners attribute work by, and the tracer. */
final class Ctx(val a: Harness.Args) {
  import Harness.Op

  val tracer = new Tracer(a.trace)
  private var session: SparkSession = _
  private val intervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val ops = mutable.ArrayBuffer.empty[Op]
  var layers: Option[LayerListener] = None
  var streams: Option[StreamListener] = None

  def spark: SparkSession = session

  /** A fresh session, stopping the previous one. */
  def newSession(): SparkSession = {
    if (session != null) session.stop()
    val b = SparkSession.builder()
    if (a.trace) {
      CountingFs.opAt = opAt
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    }
    session = b
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.out, "spark-local").getPath)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  /** Wall seconds of each of `SetupReps` runs of `rep` (its argument is
    * the repetition index); every repetition starts a fresh session. */
  def setupReps(rep: Int => Unit): Seq[Double] =
    (0 until Harness.SetupReps).map { r =>
      val t0 = System.nanoTime()
      newSession()
      tracer.span("setup", -1)(rep(r))
      (System.nanoTime() - t0) / 1e9
    }

  /** Attach the tracing listeners (traced runs only), after set-up. */
  def attachListeners(): Unit = if (a.trace) {
    val l = new LayerListener(moduleOfFile, opAt)
    spark.sparkContext.addSparkListener(l)
    layers = Some(l)
    val s = new StreamListener
    spark.streams.addListener(s)
    streams = Some(s)
  }

  /** Source file name → engine module (`graft/<module>/X.scala`). */
  lazy val moduleOfFile: Map[String, String] = {
    val root = Paths.get(a.src, "graft")
    val it = Files.walk(root).iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val p = it.next()
      val name = p.getFileName.toString
      if (name.endsWith(".scala")) {
        val rel = root.relativize(p)
        b += name -> (if (rel.getNameCount > 1) rel.getName(0).toString
                      else "graft")
      }
    }
    b.result()
  }

  def opStarted(id: Int, startMs: Long): Unit = synchronized {
    intervals += ((id, startMs, Long.MaxValue))
  }

  def opEnded(id: Int, endMs: Long): Unit = synchronized {
    val i = intervals.lastIndexWhere(_._1 == id)
    if (i >= 0) intervals(i) = intervals(i).copy(_3 = endMs)
  }

  def opAt(ms: Long): Int = synchronized {
    intervals.reverseIterator.find { case (_, s, e) => s <= ms && ms <= e }
      .map(_._1).getOrElse(-1)
  }

  /** Run one op of the closed loop, timing it and catching its failure. */
  def op(id: Int, name: String, kind: String)(body: => Unit): Op = {
    val startMs = System.currentTimeMillis()
    opStarted(id, startMs)
    val t0 = System.nanoTime()
    val err =
      try { tracer.span("op", id)(body); None }
      catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    val lat = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    opEnded(id, endMs)
    val o = Op(id, name, kind, startMs, endMs, lat, err.isEmpty, err)
    synchronized(ops += o)
    o
  }

  /** Run `body` (one round: an op, or one pass of ops) in a closed loop
    * for about `a.seconds`; returns the timed wall. The run times whole
    * rounds: the next one starts only if, at the pace of the last, it
    * would end less than half a round past the deadline. */
  def closedLoop(body: Int => Unit): Double = {
    Census.resetHeapPeak()
    gcAtStart = Census.gcSeconds()
    val t0 = System.nanoTime()
    val budget = a.seconds * 1e9
    var i = 0
    var now = t0
    var last = 0L
    while (i == 0 || (now - t0) + last / 2 < budget) {
      val r0 = now
      body(i); i += 1
      now = System.nanoTime()
      last = now - r0
    }
    (now - t0) / 1e9
  }

  var gcAtStart = 0.0

  /** End-of-timed-phase census: the heap after a forced full GC, then
    * the temp and index bytes still live once the context cleaner has
    * dropped what that GC released. */
  def endCensus(liveDirs: Seq[File]): Map[String, Any] = {
    val heapPeak = Census.heapPeakMb()
    val gc = Census.gcSeconds() - gcAtStart
    val heap = Census.heapLiveMb()
    val tmp = liveDirs.map(Census.dir).map(_._2).sum
    Map("tmp_live_mb" -> tmp / 1e6, "heap_live_mb" -> heap,
      "heap_peak_mb" -> heapPeak, "jvm_gc_s" -> gc)
  }

  /** The program's temp directories: the JVM temp dir the engine creates
    * its scratch directories in, and Spark's local dir. */
  def tempDirs: Seq[File] = Seq(
    new File(System.getProperty("java.io.tmpdir")),
    new File(a.out, "spark-local"))

  def common: Map[String, Any] = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k == "spark.master" ||
        k.startsWith("spark.sql.adaptive") || k == "spark.local.dir" ||
        k == "spark.sql.session.timeZone"
    }
    Map("workload" -> a.workload, "cpus" -> a.cpus, "spark_conf" -> conf,
      "ops" -> ops.sortBy(_.id).map(_.asMap),
      "trace" -> (if (a.trace) traceJson else Map.empty))
  }

  private def traceJson: Map[String, Any] = Map(
    "counters" -> layers.map(_.snapshot.toSeq.map { case ((op, m), c) =>
      c.asMap ++ Map("op" -> op, "module" -> m)
    }).getOrElse(Nil),
    "slowest_execs" -> layers.map(l => l.synchronized(l.slowest.toList)
      .sortBy(-_._1).take(20).map { case (ms, m, site) =>
        Map("ms" -> ms, "module" -> m, "site" -> site)
      }).getOrElse(Nil),
    "job_intervals" -> layers.map(_.jobIntervals.toSeq.map { case (op, iv) =>
      Map("op" -> op, "intervals" -> iv.toSeq)
    }).getOrElse(Nil),
    "spans" -> tracer.selfTimes.map { case (n, (t, s, c)) =>
      n -> Map("total_s" -> t, "self_s" -> s, "count" -> c)
    },
    "span_by_op" -> tracer.byOp,
    "manifest_reads" -> CountingFs.manifestReads.asScala.toSeq.map {
      case (op, n) => Map("op" -> op.intValue, "n" -> n.get)
    },
    "progress" -> streams.map(_.all.map { case (b, ts, d) =>
      Map("batch" -> b, "timestamp" -> ts, "durations_ms" -> d)
    }).getOrElse(Nil))

  def writeSpans(): Unit = if (a.trace) {
    val lines = tracer.all.map(s => Harness.toJson(Map("id" -> s.id,
      "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.writeString(Paths.get(a.out, "spans.jsonl"),
      lines.mkString("", "\n", "\n"))
  }

  def stop(): Unit = if (session != null) session.stop()
}

package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Per-query repeats: single-run timings at this scale swing up to 3×
    // between rounds with no code change (JVM/JIT/GC noise), which can
    // mask a real regression of the same size — report the median of 3,
    // after ONE discarded warm-up rep per query (first-rep JIT/shuffle
    // warm-up otherwise inflates sub-second medians).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = LocalSpark.session(cpus)
    // Ambient-load sentinels: BENCH_r06's main pass carried 2.5× load
    // inflation on two queries that only the isolated section exposed.
    // Recording the OS 1-min load average at start/end makes a loaded
    // run self-diagnosing from the artifact alone (loadavg >> cpus ⇒
    // treat main-pass medians with suspicion, trust isolated re-runs).
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg()
    // Untimed warmup: one tiny end-to-end job absorbs JVM/codegen startup
    // so the first timed query isn't charged for it.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    var failed = List.empty[String]
    // Local-dev iteration only (the driver never sets it): restrict the
    // run to a comma-separated subset of query names.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // The noop sink forces FULL materialization of every projected column
    // and keeps the final sort — `count()` would let Catalyst prune both,
    // under-billing projection-heavy queries.
    def run1(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             recordFailure: Boolean): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          if (recordFailure) failed ::= s"$name:${e.getClass.getSimpleName}"
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // Adaptive rep budget (VERDICT r14 #1 — the driver's bench outgrew
    // its window, rc=124): the 3-rep median exists to de-noise SUB-SECOND
    // timings, where JIT/GC jitter is the same order as the measurement.
    // For the multi-second index-lifecycle queries the jitter is
    // proportionally small and each extra rep re-runs a whole multi-batch
    // lifecycle — ~20 s apiece, 8 such queries, ~55% of the round-14 wall
    // for 2.6% of the board. A query whose WARM-UP run exceeds this
    // threshold measures ONE rep instead of `reps`; per-rep work (and so
    // per-query comparability with earlier rounds' artifacts) is
    // unchanged — only the rep count adapts.
    val slowRepThresholdSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_THRESHOLD", "5.0").toDouble

    // Median of the measured runs after one discarded warm-up run (one
    // run, not `reps`, when the warm-up ran longer than
    // `slowRepThresholdSec` — see above). A failing query is not
    // retried; it reports its elapsed-to-failure time (never 0.0) so a
    // broken query can't make the total LOOK faster — `failed` carries
    // the authoritative signal.
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                recordFailure: Boolean): Double = {
      val warm = run1(name, fn, recordFailure)
      if (!warm._2) return warm._1
      val nReps = if (warm._1 > slowRepThresholdSec) 1 else reps
      val okTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failTime = -1.0
      var rep = 0
      while (rep < nReps && failTime < 0) {
        val (t, ok) = run1(name, fn, recordFailure)
        if (ok) okTimes += t else failTime = t
        rep += 1
      }
      // median over SUCCESSFUL reps only — a mid-run failure must not
      // become the reported median when clean measurements exist;
      // elapsed-to-failure is the headline only when nothing succeeded
      if (okTimes.nonEmpty) okTimes.toSeq.sorted.apply(okTimes.size / 2)
      else failTime
    }

    // Deterministic execution order (Map iteration order is not).
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = names.map { case (name, fn) =>
      name -> measure(name, fn, recordFailure = true)
    }

    // Slowest-10 isolated re-runs: the main pass's medians can still carry
    // ambient load (GC from the previous query, page-cache pressure);
    // re-measuring the slowest queries alone at the end separates "this
    // query is slow" from "this query ran at a bad moment" — the r5
    // q109 4.19→5.81 ambiguity, made adjudicable in the artifact itself
    // (widened from 5 to 10 after r6's load inflation reached rank 6+).
    // ONE run each (VERDICT r14 #1): these queries just completed their
    // main-pass reps, so they are fully warm — a quiet single re-measure
    // answers the load-adjudication question, and the old warmup+reps
    // protocol here re-ran the 10 slowest lifecycle queries 4 more times
    // (~600 s of the wall that timed out the driver's window).
    val okResults = results.filterNot { case (n, _) => failed.exists(_.startsWith(n + ":")) }
    val isolated = okResults.sortBy(-_._2).take(10).map { case (name, _) =>
      name -> run1(name, SparkEntry.queries(name), recordFailure = false)._1
    }
    val loadEnd = loadAvg()

    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")

    val qs = jmap(results)
    val total = results.map(_._2).sum
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val slowest = jmap(results.sortBy(-_._2).take(5))
    val isoJson = jmap(isolated)
    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"isolated_slowest":$isoJson,"failed":$failedJson,"reps":$reps,"warmup_reps":1,"loadavg_start":${jnum(loadStart)},"loadavg_end":${jnum(loadEnd)},"cpus":$cpus,"sf":"$sfDir"}"""
    println(full)
    // Self-contained artifact: the driver's tail capture has truncated the
    // full stdout line before (BENCH_r05.json parsed:null) — persist the
    // complete result map where a regression stays adjudicable without a
    // re-run. Default is the UNTRACKED BENCH_LAST_RUN.json (gitignored):
    // three rounds in a row an ambient-loaded driver re-run landed on top
    // of the committed clean BENCH.json in the working tree (VERDICT r9–
    // r11 process finding). The deliberate clean run opts into the
    // committed artifact via SPARK_GRAFT_BENCH_OUT=BENCH.json. Relative
    // paths resolve against the working directory.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_LAST_RUN.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // Compact trailer: repeat the headline LAST so a tail-truncated
    // stdout capture still carries it. Locale.ROOT everywhere: a default
    // de_DE locale would emit comma decimals and corrupt the JSON.
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","slowest":$slowest,"isolated_slowest":$isoJson,"n_failed":${failed.size},"n_queries":${results.size},"reps":$reps,"loadavg_start":${jnum(loadStart)},"loadavg_end":${jnum(loadEnd)},"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}

package graft.tools

import java.util.Locale

import graft.{LocalSpark, SparkEntry}
import graft.obs.QueryProfile

/** Profiles named queries (default q237 and q104). Each query runs one
  * uncounted warmup and then `SPARK_GRAFT_PROFILE_REPS` (default 3)
  * profiled reps, each a noop write of its result. Per rep it prints:
  *   - one row per SQL execution: its jobs, summed job wall, the
  *     exchanges and broadcast exchanges of its physical plan, and its
  *     call site, so which action pays how many query stages is readable
  *     directly (jobs outside any execution get the `none` row);
  *   - a footer totalling executions, jobs and job wall per call site,
  *     most expensive first, then the executions that ran jobs and the
  *     number that ran none;
  *   - one JSON line: wall split into the job union and the driver gap
  *     between jobs, stage wall against task executorRunTime, GC,
  *     deserialize time, shuffle bytes, and the streaming progress and
  *     state-operator times summed over micro-batches.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_CPUS=4 \
  *   sbt -batch "runMain graft.tools.Profile q237_join_then_agg"
  * }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val names: Seq[String] =
      if (args.nonEmpty) args.toIndexedSeq
      else Seq("q237_join_then_agg", "q104_stream_stream_left_outer")
    val spark = LocalSpark.session(cpus)

    def jnum(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warmup
      (1 to reps).foreach { rep =>
        val (_, p) = QueryProfile.of(spark)(run())
        println(f"==== $name rep=$rep wall=${p.wallMs / 1e3}%.2fs ====")
        val rows = p.executions.map(e => (e.id.toString, e.jobs, e.jobWallMs,
          e.exchanges, e.broadcasts, e.site))
        val otherJobs = p.jobs - p.executions.map(_.jobs).sum
        val other = if (otherJobs == 0) Nil else Seq(("none", otherJobs,
          p.jobWallMs - p.executions.map(_.jobWallMs).sum, -1, -1, "?"))
        val all = rows ++ other
        all.foreach { case (id, n, ms, ex, bx, site) =>
          println(f"exec $id%-5s $n%3d jobs $ms%6d ms  exch=$ex%-3d bcast=$bx%-3d $site")
        }
        all.groupBy(_._6).toSeq.map { case (site, es) =>
          (site, es.size, es.map(_._2).sum, es.map(_._3).sum)
        }.sortBy(-_._4).foreach { case (site, ne, n, ms) =>
          println(f"site $ne%3d execs $n%4d jobs $ms%6d ms  $site")
        }
        val idle = rows.count(_._2 == 0)
        println(s"TOTAL ${p.jobs} jobs over ${all.size - idle} " +
          s"executions${if (idle > 0) s" (+$idle without jobs)" else ""}")
        def d(k: String): Long = p.durationMs.getOrElse(k, 0L)
        val state = p.stateMs.toSeq.sorted
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
        println(s"""{"query":"$name","rep":$rep,"wall_s":${jnum(p.wallMs / 1e3)},"job_union_s":${jnum(p.jobUnionMs / 1e3)},"driver_gap_s":${jnum(p.driverGapMs / 1e3)},"n_jobs":${p.jobs},"n_stages":${p.stages},"n_tasks":${p.tasks},"stage_wall_s":${jnum(p.stageWallMs / 1e3)},"executor_run_core_s":${jnum(p.executorRunMs / 1e3)},"gc_s":${jnum(p.gcMs / 1e3)},"deser_s":${jnum(p.deserializeMs / 1e3)},"shuffle_read_mb":${jnum(p.shuffleReadBytes / 1e6)},"shuffle_write_mb":${jnum(p.shuffleWriteBytes / 1e6)},"n_batches":${p.batches},"addBatch_ms":${d("addBatch")},"getBatch_ms":${d("getBatch")},"queryPlanning_ms":${d("queryPlanning")},"walCommit_ms":${d("walCommit")},"commitOffsets_ms":${d("commitOffsets")},"latestOffset_ms":${d("latestOffset")},"state":{$state}}""")
      }
    }
    spark.stop()
  }
}

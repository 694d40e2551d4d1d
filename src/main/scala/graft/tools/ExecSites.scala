package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Per-SQL-EXECUTION job census (OPTIMIZATION r15): grouping jobs by
  * result-stage call site collapses every AQE query-stage job into one
  * `withThreadLocalCaptured` row, so this groups by the SQL execution
  * (one per ACTION), attributing each execution's job count, summed job
  * wall, and the static Exchange/BroadcastExchange census of its
  * physical plan — "which action pays how many query stages" is
  * readable directly. A footer totals executions, jobs and job wall per
  * call site, most expensive first. Runs each named query once after
  * one warmup. */
object ExecSites {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names: Seq[String] =
      if (args.nonEmpty) args.toIndexedSeq else Seq("q244_condensation_layers")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final class ExecProbe extends SparkListener {
      val jobs = mutable.Map.empty[String, (Int, Long)]
      val start = mutable.Map.empty[Int, (String, Long)]
      val descs = mutable.Map.empty[Long, (String, Int, Int)]
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val eid = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none")
        start(e.jobId) = (eid, e.time); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        start.remove(e.jobId).foreach { case (eid, t0) =>
          val (n, ms) = jobs.getOrElse(eid, (0, 0L))
          jobs(eid) = (n + 1, ms + (e.time - t0))
        }
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          synchronized {
            val ex = "(?<!Reused)Exchange ".r
              .findAllIn(s.physicalPlanDescription).size
            val bx = "BroadcastExchange".r
              .findAllIn(s.physicalPlanDescription).size
            descs(s.executionId) = (s.description.linesIterator.next(), ex, bx)
            ()
          }
        case _ => ()
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      val probe = new ExecProbe
      spark.sparkContext.addSparkListener(probe)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(probe)
      println(f"==== $name wall=$wall%.2fs ====")
      val execs = probe.jobs.toSeq
        .sortBy(t => t._1.toLongOption.getOrElse(-1L)).map {
          case (eid, (n, ms)) =>
            val (site, ex, bx) = eid.toLongOption.flatMap(probe.descs.get)
              .getOrElse(("?", -1, -1))
            println(
              f"exec $eid%-5s $n%3d jobs $ms%6d ms  exch=$ex%-3d bcast=$bx%-3d $site")
            (site, n, ms)
        }
      execs.groupBy(_._1).toSeq.map { case (site, es) =>
        (site, es.size, es.map(_._2).sum, es.map(_._3).sum)
      }.sortBy(-_._4).foreach { case (site, ne, n, ms) =>
        println(f"site $ne%3d execs $n%4d jobs $ms%6d ms  $site")
      }
      println(s"TOTAL ${probe.jobs.valuesIterator.map(_._1).sum} jobs over " +
        s"${probe.jobs.size} executions")
    }
    spark.stop()
  }
}

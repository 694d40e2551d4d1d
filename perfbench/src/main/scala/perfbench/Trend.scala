package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.queries._

/** `trend_analytics`: each op builds one named query through
  * [[SparkEntry.queries]] and materialises it to the noop sink, in passes
  * over the generator's seed-shuffled order of the query slice. */
object Trend {

  /** The packs of the paper's analytic surface plus the star schema; the
    * slice the generator orders is drawn from their queries. */
  val Packs: Seq[QueryPack] = Seq(CoreQueries, RelationalQueries,
    StockQueries, TimeSeriesQueries, FinanceQueries, SketchQueries, MlQueries)

  def pool: Seq[String] = Packs.flatMap(_.queries.keys).distinct.sorted

  val WarmupQuery = "q01_daily_movement"

  def run(ctx: Ctx): Map[String, Any] = {
    val a = ctx.a
    val order = Files.readAllLines(Paths.get(a.inputs, "order.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val queries = SparkEntry.queries
    def build(name: String, id: Int) =
      ctx.tracer.span("queries.build", id)(queries(name)(ctx.spark, a.fixture))
    val setup = ctx.setupReps(_ =>
      build(WarmupQuery, -1).write.format("noop").mode("overwrite").save())

    def noop(name: String, id: Int): Unit = {
      val df = build(name, id)
      ctx.tracer.span("queries.materialize", id)(
        df.write.format("noop").mode("overwrite").save())
    }

    // Warm-up pass, part of set-up: each query runs once to the noop sink,
    // the plan the timed ops run.
    val t0 = System.nanoTime()
    order.foreach(noop(_, -1))
    val warmS = (System.nanoTime() - t0) / 1e9

    // Outside set-up, and before the timed phase so that it warms the
    // loop further: each query writes its result once for run.py's oracle
    // check.
    val results = new File(a.out, "results")
    val errors = order.flatMap { name =>
      try {
        build(name, -1).coalesce(1).write.mode("overwrite")
          .parquet(new File(results, name).getPath)
        None
      } catch { case t: Throwable => Some(name -> t.getClass.getSimpleName) }
    }.toMap

    // A round is two whole passes over the slice, so every run times each
    // query at least twice and all of them equally often.
    ctx.attachListeners()
    val wall = ctx.closedLoop { round =>
      for (pass <- Seq(2 * round, 2 * round + 1);
           (name, j) <- order.zipWithIndex) {
        val i = pass * order.size + j
        ctx.op(i, name, "query")(noop(name, i))
      }
    }
    val census = ctx.endCensus(ctx.tempDirs)
    Map("setup_reps_s" -> setup, "setup_extra_s" -> warmS,
      "timed_wall_s" -> wall, "results_dir" -> results.getPath,
      "result_errors" -> errors) ++ census
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The session every command-line main runs on, and the one way engine
  * code runs work under confs of its own. */
object LocalSpark {

  /** When true, parquet TIMESTAMP(NANOS) reads as raw int64, the only
    * way Spark 4 reads it at all (see `graft.tables.Tables.events`). */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A local session on `cpus` cores with one shuffle partition per core,
    * UTC session time, [[NanosAsLong]], no UI and WARN logging. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(NanosAsLong, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on a child of `spark` with `confs` set on the child
    * only. The child is a clone, so it starts with `spark`'s runtime
    * confs, temp views and temp functions; `spark`'s own conf is never
    * written, so concurrent work on it never sees `confs`. Frames built
    * on `spark` run under the child's conf once moved there with
    * `Bridge.rebind(df, child)`. A memory sink started in the child
    * registers its table in the child. */
  def withChildSession[A](spark: SparkSession, confs: (String, String)*)(
      body: SparkSession => A): A = {
    val child = Bridge.cloneSession(spark)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    try body(child) finally Bridge.detachStreams(child)
  }
}

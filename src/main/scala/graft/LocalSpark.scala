package graft

import org.apache.spark.sql.SparkSession

/** The session every command-line main runs on. */
object LocalSpark {

  /** A local session on `cpus` cores with one shuffle partition per core,
    * UTC session time, no UI and WARN logging. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** Pins `Tables.rawTsToMicrosFor` (footer-detected ns-vs-µs unit)
  * against BOTH physical encodings the driver's fixture generator has
  * produced: TIMESTAMP(MICROS) (current, infers as TimestampType) and
  * int64 nanos (earlier rounds' TIMESTAMP(NANOS), which nanosAsLong
  * inference surfaces as LongType). The round-6 regeneration flipped
  * the unit and silently broke 37 green queries; this spec fails fast
  * if either read path regresses. */
class TsUnitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val marks = Seq(
    ("2024-01-01 00:03:52.123456", 1L),
    ("2024-06-30 23:59:59.999999", 2L),
    ("2024-12-31 12:00:00.000001", 3L))

  test("rawTsToMicros reads µs-typed and ns-long events identically") {
    val base = marks.toDF("ts_str", "event_id")
      .select(to_timestamp(col("ts_str")).as("ts"), col("event_id"))

    // encoding 1: native TIMESTAMP(MICROS) column (current fixtures are
    // pyarrow timestamp[us] = INT64; Spark's default writer emits INT96,
    // so pin the output type for a faithful emulation)
    val usDir = Files.createTempDirectory("graft_ts_us_").toString
    SparkTestSession.withConf(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      base.write.mode("overwrite").parquet(usDir)
    }

    // encoding 2: raw int64 ns since epoch (what a TIMESTAMP(NANOS)
    // column becomes under the nanosAsLong read)
    val nsDir = Files.createTempDirectory("graft_ts_ns_").toString
    base.select((unix_micros(col("ts")) * 1000L).as("ts"), col("event_id"))
      .write.mode("overwrite").parquet(nsDir)

    def readBack(dir: String): Seq[(Long, String)] = {
      spark.read
        .schema("ts LONG, event_id LONG").parquet(dir)
        .withColumn("ts", expr(Tables.rawTsToMicrosFor(spark, dir)))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    }

    // branch coverage is explicit: the annotated write classifies from
    // the footer; the raw-int64 write has no annotation and must take
    // the per-row magnitude fallback
    assert(Tables.tsUnit(spark, usDir) == Tables.TsUnitMicros)
    assert(Tables.tsUnit(spark, nsDir) == Tables.TsUnitUnknown)

    val viaMicros = readBack(usDir)
    val viaNanos = readBack(nsDir)
    val expected = marks.map { case (s, id) => (id, s) }.sortBy(_._1)
    assert(viaMicros == expected, s"µs read diverged: $viaMicros")
    assert(viaNanos == expected, s"ns read diverged: $viaNanos")
  }

  test("a TIMESTAMP(MICROS) events table reads as LongType on a session " +
    "without nanosAsLong, and Tables.events leaves that flag unset") {
    val flag = LocalSpark.NanosAsLong
    val dir = Files.createTempDirectory("graft_ts_us_events_").toString
    SparkTestSession.withConf(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      marks.toDF("ts_str", "event_id")
        .select(col("event_id"), to_timestamp(col("ts_str")).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val bare = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
    bare.conf.unset(flag)
    assert(!bare.conf.get(flag).toBoolean)
    assert(Tables.tsUnit(bare, Tables.eventsGlob(dir)) == Tables.TsUnitMicros)
    val got = Tables.events(bare, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == marks.map { case (s, id) => (id, s) }.sortBy(_._1), got)
    assert(!bare.conf.get(flag).toBoolean, "Tables.events set the flag")
  }
}

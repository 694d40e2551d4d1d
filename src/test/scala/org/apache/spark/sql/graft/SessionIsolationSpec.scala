package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{LocalSpark, SparkEntry, SparkTestSession}
import graft.streaming.Pipelines
import graft.tables.Tables

/** Engine code never writes the conf of the session it is handed: work
  * that needs confs of its own runs in a child session
  * (`graft.LocalSpark.withChildSession`). Lives in Spark's package tree
  * to count the shared listener bus's listeners (`private[spark]`). */
class SessionIsolationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Runs `body` while another thread samples the session conf, as a
    * concurrent job on the same session would see it. Returns every
    * key whose value differed from the one before `body`, during it or
    * after. */
  private def confChangesDuring(body: => Unit): Set[String] = {
    val before = spark.conf.getAll
    val seen = ConcurrentHashMap.newKeySet[String]()
    def sample(): Unit = {
      val now = spark.conf.getAll
      (now.keySet ++ before.keySet).foreach { k =>
        if (now.get(k) != before.get(k))
          seen.add(s"$k: ${before.get(k)} -> ${now.get(k)}")
      }
    }
    val running = new AtomicBoolean(true)
    val watcher = new Thread(() =>
      while (running.get()) { sample(); Thread.sleep(1L) })
    watcher.setDaemon(true)
    watcher.start()
    try body finally { running.set(false); watcher.join() }
    sample()
    seen.asScala.toSet
  }

  test("no engine operation writes the shared session's conf, even while " +
    "it runs, or leaves a temp view in it: Layout.compact, q196, q44, " +
    "q120, a CDC merge with deletes plus tombstone compaction, and an " +
    "events read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_iso_").toString
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val viewsBefore = views
    val changes = confChangesDuring {
      graft.ops.Layout.compact(
        Tables.events(spark, dir).select("event_id", "user_id"),
        s"$tmp/compacted", advisoryBytes = 1L << 20)
      Seq("q196_aqe_skew_join", "q44_streaming_bars", "q120_tws_watermark")
        .foreach(q => assert(SparkEntry.queries(q)(spark, dir).count() > 0L, q))
      val feed = spark.range(0, 100).select(col("id").as("k"),
        lit(1L).as("v"),
        when(col("id") % 10 === 0, lit("D")).otherwise(lit("")).as("op"))
      Pipelines.mergeIntoParquetWithDeletes(feed, s"$tmp/cdc", key = "k",
        version = "v", tiebreak = "k", opCol = "op", nBuckets = 4)
      assert(Pipelines.compactTombstones(spark, s"$tmp/cdc", version = "v",
        opCol = "op", horizon = 1L) == 10L)
      assert(Pipelines.readWithDeletes(spark, s"$tmp/cdc", "op").count() == 90L)
      assert(Tables.events(spark, dir).count() > 0L)
    }
    assert(spark.read.parquet(s"$tmp/compacted").count() ==
      Tables.events(spark, dir).count())
    // the memory sinks register their tables in child sessions
    val newViews = views -- viewsBefore
    assert(changes.isEmpty && newViews.isEmpty,
      (changes.toSeq.sorted ++ newViews.map("temp view " + _)).mkString("\n"))
  }

  test("a child session that started a stream leaves no listener on the " +
    "shared bus, and its conf never reaches the parent") {
    val bus = spark.sparkContext.listenerBus
    val key = Pipelines.RocksDBProvider._1
    val before = bus.listeners.size
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      assert(child.conf.get(key) == Pipelines.RocksDBProvider._2)
      assert(spark.conf.getOption(key) != Some(Pipelines.RocksDBProvider._2))
      implicit val sc = child.sqlContext
      import child.implicits._
      val input = MemoryStream[Int]
      val q = input.toDF().writeStream.format("noop").start()
      try { input.addData(1, 2); q.processAllAvailable() } finally q.stop()
    }
    assert(bus.listeners.size == before)
  }
}

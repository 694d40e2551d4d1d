package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** MemoryStream-driven tests of the E1/E2 pipelines (SURVEY.md §5.4). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          mode: String): String = {
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    name
  }

  /** Stop a continuously-triggering stream INSIDE its idle window: a
    * timeout-mode stream can never drain (`processAllAvailable` never
    * returns — shouldRunAnotherBatch is unconditionally true), so a bare
    * `stop()` lands mid-batch and aborts an in-flight RocksDB commit —
    * benign, but it spews ERROR stack traces into a green run. Waiting
    * for `!isTriggerActive` (with the trigger interval comfortably above
    * the batch time) makes the stop land between batches. */
  private def quiesceStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 15000L
    try {
      while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
        Thread.sleep(5L)
    } catch { case _: Throwable => () } // a failed stream still must stop
    q.stop()
  }

  test("E1: wire JSON parses through the declared schema (features_engineering.py:38-40)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    input.addData(
      """{"timestamp": "2025-07-24 15:59:00", "symbol": "AAPL", "close_price": 226.31}""",
      """{"timestamp": "2025-07-24 16:00:00", "symbol": "MSFT", "close_price": 512.80}""",
      """not json at all""")
    val parsed = Pipelines.parseWire(input.toDF().withColumnRenamed("value", "value"),
      Pipelines.tickSchema)
    val name = runToMemory(parsed, "append")
    val rows = spark.table(name).collect()
    assert(rows.length == 3)
    val bySymbol = spark.table(name).where(col("symbol").isNotNull)
      .select("symbol", "close_price").as[(String, Double)].collect().toMap
    assert(bySymbol == Map("AAPL" -> 226.31, "MSFT" -> 512.8))
    // malformed record → all-null row, the from_json contract
    assert(spark.table(name).where(col("symbol").isNull).count() == 1)
  }

  test("high-watermark state persists across micro-batches (fetch_stock.py:43,57)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("symbol", "t")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
      .withColumn("ts", unix_timestamp(col("ts")))
    val filtered = Pipelines.highWatermarkFilter(spark, stream, "symbol", "ts")
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = filtered.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData(("AAPL", 100L), ("AAPL", 200L))
      q.processAllAvailable()
      // batch 2: 150 is behind the watermark (200) → dropped; 250 passes
      input.addData(("AAPL", 150L), ("AAPL", 250L), ("MSFT", 10L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[(String, Long)].collect().toSet
    assert(got == Set(("AAPL", 100L), ("AAPL", 200L), ("AAPL", 250L), ("MSFT", 10L)))
  }

  test("TTL high-watermark evicts idle keys: an expired key re-admits (T5 bounded state)") {
    // `processAllAvailable` can NEVER return on a ProcessingTimeTimeout
    // stream: FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    // unconditionally true for that timeout mode (a timeout might always
    // have expired), so the engine runs batch after batch and the
    // no-new-data signal never fires. Poll the sink against a deadline
    // instead — the continuously-running batches are also what fires the
    // eviction without needing a nudge row.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("symbol", "ts")
    val filtered = Pipelines.highWatermarkFilterTtl(spark, stream,
      "symbol", "ts", ttlMs = 2000L)
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // 500 ms trigger: far above the ~100-300 ms batch time, so the
    // stream has real idle windows for quiesceStop to land in
    val q = filtered.writeStream.outputMode("append").format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (spark.table(name).count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)
      assert(spark.table(name).count() >= n, s"sink never reached $n rows")
    }
    try {
      input.addData(("AAPL", 200L))
      awaitRows(1L)
      // Within TTL (state < 2 s old): behind the watermark → dropped.
      // No settle-wait needed here — if this row leaked it would surface
      // as a duplicate in the final exact-count assertion.
      input.addData(("AAPL", 150L))
      // Idle past the TTL: the engine's continuous batches fire the
      // processing-time timeout and evict AAPL's state.
      Thread.sleep(4000L)
      // The SAME stale row now re-admits (key restarted cold).
      input.addData(("AAPL", 150L))
      awaitRows(2L)
    } finally quiesceStop(q)
    val got = spark.table(name).as[(String, Long)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // exactly one admission of the stale row — the in-TTL copy was
    // dropped, the post-eviction copy passed
    assert(got == Map(("AAPL", 200L) -> 1, ("AAPL", 150L) -> 1),
      s"got $got")
  }

  test("transformWithState high-watermark: native ValueState TTL evicts and re-admits (Spark 4 API)") {
    // Same scenario as the fMGWS TTL test, driven through the Spark 4
    // transformWithState processor whose TTL is enforced by the state
    // store itself. Requires RocksDB — the only provider the new API
    // supports; a child session holds it so other suites keep the default.
    // The TTL is checked against each batch's timestamp, so the test
    // waits until the batch that takes each row has committed: the
    // first two rows land in back-to-back batches far inside the TTL,
    // and the third is added a full TTL plus margin after the second
    // was judged — no wall-clock race on a loaded machine.
    val ttlMs = 8000L
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      implicit val sc = child.sqlContext
      val input = MemoryStream[(String, Long)]
      val stream = input.toDF().toDF("symbol", "ts")
      val filtered = Pipelines.highWatermarkFilterTws(child, stream,
        "symbol", "ts", ttlMs)
      val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // 500 ms trigger + quiesced stop: see the fMGWS TTL test above.
      // processAllAvailable never returns here (a processing-time
      // stateful query always runs another batch), so wait for the
      // progress report whose source end offset is the added one
      val q = filtered.writeStream.outputMode("append").format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      def judged(o: org.apache.spark.sql.connector.read.streaming.Offset): Unit = {
        def done = Option(q.lastProgress)
          .exists(_.sources.exists(_.endOffset == o.json))
        val deadline = System.currentTimeMillis() + 60000L
        while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50L)
        assert(done, s"no batch committed offset ${o.json}")
      }
      try {
        judged(input.addData(("AAPL", 200L)))
        // within TTL, behind the watermark → dropped
        judged(input.addData(("AAPL", 150L)))
        // idle past the TTL: the store expires AAPL's value state
        Thread.sleep(ttlMs + 2000L)
        // the SAME stale row now re-admits (key restarted cold)
        judged(input.addData(("AAPL", 150L)))
      } finally quiesceStop(q)
      val got = child.table(name).as[(String, Long)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == Map(("AAPL", 200L) -> 1, ("AAPL", 150L) -> 1),
        s"got $got")
    }
  }

  test("streamingMoments: exact sums accumulate across batches, any split") {
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      implicit val sc = child.sqlContext
      val input = MemoryStream[(String, Long)]
      val stream = input.toDF().toDF("symbol", "cents")
      val moments = Pipelines.streamingMoments(child, stream, "symbol", "cents")
      val name = "m_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = moments.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        input.addData(("AAPL", 100L), ("AAPL", 300L), ("MSFT", 50L))
        q.processAllAvailable()
        input.addData(("AAPL", 200L))
        q.processAllAvailable()
      } finally q.stop()
      val finals = child.table(name)
        .as[(String, Long, Long, Long)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      // AAPL: n=3, s=600, s2=100²+300²+200²=140000; MSFT: n=1, s=50, s2=2500
      assert(finals("AAPL") == (("AAPL", 3L, 600L, 140000L)), finals)
      assert(finals("MSFT") == (("MSFT", 1L, 50L, 2500L)), finals)
    }
  }

  test("streamingCusum: warm-up and S-state survive the batch boundary; shift alarms, stable doesn't") {
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      implicit val sc = child.sqlContext
      val input = MemoryStream[(String, Long, Long)]
      val stream = input.toDF().toDF("symbol", "seq", "cents")
      val flagged = Pipelines.streamingCusum(child, stream,
        key = "symbol", ord = "seq", cents = "cents",
        warm = 4, kAllow = 5L, h = 50L)
      val name = "c_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = flagged.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        // batch 1: the warm-up (4 ticks at 1000) + 2 stable ticks —
        // deviations ≤ w·k, no alarms yet
        input.addData(("AAPL", 1L, 1000L), ("AAPL", 2L, 1000L),
          ("AAPL", 3L, 1000L), ("AAPL", 4L, 1000L),
          ("AAPL", 5L, 1002L), ("AAPL", 6L, 999L),
          ("FLAT", 1L, 500L), ("FLAT", 2L, 500L),
          ("FLAT", 3L, 500L), ("FLAT", 4L, 500L))
        q.processAllAvailable()
        // batch 2: a +100¢ shift — per tick d⁺ = 4·1100 − 4000 − 20 =
        // 380; S⁺ crosses w·h = 200 on the FIRST shifted tick, which
        // requires the warm sums AND S⁺ carried across the boundary
        input.addData(("AAPL", 7L, 1100L), ("AAPL", 8L, 1100L),
          ("FLAT", 5L, 500L), ("FLAT", 6L, 500L))
        q.processAllAvailable()
      } finally q.stop()
      val got = child.table(name)
        .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
      val aapl = got.filter(_._1 == "AAPL").map(_._2).sorted
      assert(aapl == Seq(7L, 8L), s"expected alarms at 7,8 only: $got")
      assert(got.filter(_._1 == "AAPL").forall(r => r._4 && !r._5),
        "shift must trip the UP side only")
      assert(!got.exists(_._1 == "FLAT"), s"flat series alarmed: $got")
    }
  }

  test("E2 routing writes history and realtime sinks partitioned by key (mongo_stream_etl.py:34-39)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String, Double)]
    val stream = input.toDF().toDF("source", "symbol", "close")
    val out = Files.createTempDirectory("route").toString
    val q = Pipelines.routeToSinks(stream, "source", "symbol",
      s"$out/history", s"$out/realtime", s"$out/ckpt").start()
    try {
      input.addData(("history", "AAPL", 1.0), ("realtime", "AAPL", 2.0),
        ("history", "MSFT", 3.0), ("whatever", "MSFT", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val hist = spark.read.parquet(s"$out/history")
    val rt = spark.read.parquet(s"$out/realtime")
    assert(hist.count() == 2 && rt.count() == 2)
    // partitionBy(symbol) → directory per key, the reference's per-symbol collections
    assert(new java.io.File(s"$out/history/symbol=AAPL").exists())
  }

  test("watermark dedup drops in-watermark duplicates (T4)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("symbol", "t")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val deduped = Pipelines.watermarkDedup(stream, "ts", "symbol", "10 minutes")
    val name = runToMemoryWith(input, deduped,
      Seq(("AAPL", 100L), ("AAPL", 100L), ("AAPL", 160L)))
    assert(spark.table(name).count() == 2)
  }

  private def runToMemoryWith(input: MemoryStream[(String, Long)],
                              df: org.apache.spark.sql.DataFrame,
                              data: Seq[(String, Long)]): String = {
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    try { input.addData(data: _*); q.processAllAvailable() } finally q.stop()
    name
  }

  test("windowed aggregation is exact across many micro-batches (maxFilesPerTrigger=1)") {
    import graft.tables.Tables
    // Split the fixture into 4 files so the file source delivers 4
    // incremental micro-batches; the complete-mode result must equal the
    // single-pass batch aggregation.
    val src = Files.createTempDirectory("multibatch").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartition(4).write.mode("overwrite").parquet(src)
    // Counts AND integer-cent sums: both must be exact however the rows
    // split across micro-batches (integer sums are order-independent).
    val cents = round(col("value") * 100).cast("long")
    val stream = spark.readStream
      .schema(Tables.events(spark, "/root/testdata/sf0.001").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(cents).as("sc"))
    val name = runToMemory(stream, "complete")
    val streamed = spark.table(name).as[(String, Long, Long)].collect().toSet
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(cents).as("sc"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("checkpoint recovery: a restarted query resumes from offsets — no loss, no duplication (T3)") {
    import graft.tables.Tables
    val base = Files.createTempDirectory("ckpt_rec").toString
    val srcDir = new java.io.File(s"$base/src"); srcDir.mkdirs()
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "event_type", "value")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      ()
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .parquet(s"$srcDir/*.parquet")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    addFile(ev.where(col("event_id") % 2 === 0), "f0")
    runOnce() // phase 1: first half
    addFile(ev.where(col("event_id") % 2 === 1), "f1")
    runOnce() // phase 2: NEW query, same checkpoint — must process only f1
    val out = spark.read.parquet(outDir)
    assert(out.count() == ev.count()) // no loss
    assert(out.select(countDistinct(col("event_id"))).as[Long].head() ==
      ev.count()) // no duplication
  }

  test("q45's streaming dedup plan carries an event-time watermark (bounded state)") {
    val plan = graft.queries.StreamingQueries
      .dedupStream(spark, "/root/testdata/sf0.001")
      .queryExecution.analyzed.toString
    assert(plan.contains("EventTimeWatermark"), plan)
    assert(plan.contains("DeduplicateWithinWatermark"), plan)
  }

  test("q215's chained rollup: TWO stateful aggregates under one watermark, and the chain evicts") {
    val df = graft.queries.StreamingQueries
      .chainedWindowStream(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.analyzed.toString
    assert(plan.contains("EventTimeWatermark"), plan)
    // both windowed aggregates must survive analysis as separate
    // stateful Aggregate nodes
    assert("Aggregate \\[".r.findAllIn(plan).size >= 2,
      s"expected 2 chained aggregates:\n$plan")
    // end-to-end: the chain runs in append mode and emits closed hours
    // (multiple-stateful-operators actually executing, not just planned)
    implicit val sc = spark.sqlContext
    val sunk = graft.queries.StreamingQueries.queries(
      "q215_chained_window_rollup")(spark, "/root/testdata/sf0.001")
    assert(sunk.count() > 0, "chained rollup emitted nothing")
  }

  test("q231's agg⋈agg chain: two windowed aggregates AND a stream-stream join in one plan") {
    val df = graft.queries.StreamingQueries
      .windowJoinStream(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.analyzed.toString
    // each side carries its own event-time watermark feeding the global
    // (min) watermark that evicts all three operators' state
    assert("EventTimeWatermark".r.findAllIn(plan).size >= 2,
      s"expected a watermark per input stream:\n$plan")
    assert("Aggregate \\[".r.findAllIn(plan).size >= 2,
      s"expected 2 windowed aggregates:\n$plan")
    assert(plan.contains("Join Inner"),
      s"expected the stream-stream window join:\n$plan")
    // end-to-end: the three-stateful-operator chain actually executes in
    // append mode and emits joined closed windows
    val sunk = graft.queries.StreamingQueries.queries(
      "q231_windowed_agg_join")(spark, "/root/testdata/sf0.001")
    val rows = sunk.collect()
    assert(rows.nonEmpty, "agg⋈agg chain emitted nothing")
    // a joined row aggregates BOTH sides: all four measures populated
    assert(rows.forall(r => !r.anyNull), "null measures leaked through the inner join")
  }

  test("q237's join→agg chain: stream-stream join feeding a windowed aggregate in one plan") {
    val df = graft.queries.StreamingQueries
      .joinAggStream(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(plan).size >= 2,
      s"expected a watermark per input stream:\n$plan")
    assert(plan.contains("Join Inner"),
      s"expected the stream-stream interval join:\n$plan")
    // the windowed aggregate sits ABOVE the join (join→agg order —
    // the pairing q215 agg→agg and q231 agg→join don't cover)
    val aggIdx = plan.indexOf("Aggregate [")
    val joinIdx = plan.indexOf("Join Inner")
    assert(aggIdx >= 0 && joinIdx >= 0 && aggIdx < joinIdx,
      s"aggregate must consume the join output:\n$plan")
    // end-to-end: closed hours emit with both measures populated
    val rows = graft.queries.StreamingQueries.queries(
      "q237_join_then_agg")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "join→agg chain emitted nothing")
    assert(rows.forall(r => !r.anyNull && r.getLong(1) > 0))
  }

  test("q91's append sessions plan carries an event-time watermark (bounded state)") {
    val plan = graft.queries.StreamingQueries
      .sessionsAppendStream(spark, "/root/testdata/sf0.001")
      .queryExecution.analyzed.toString
    assert(plan.contains("EventTimeWatermark"), plan)
    assert(plan.contains("session_window"), plan)
  }

  test("append-mode session emission boundary: end <= watermark emits, open sessions held (T6/q91)") {
    // Empirical contract the q91 oracle encodes: with delay d, the final
    // watermark is max(ts) - d, and a session whose end (last event + gap)
    // equals the watermark IS emitted (non-strict <=); sessions ending
    // after it stay in state.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (epochSec, uid)
    val sessions = input.toDF().toDF("t", "uid")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("uid"), session_window(col("ts"), "300 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("uid"), col("n"))
    val name = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // uid 1 session end = t300; uid 2 session end = t360.
      input.addData((0L, 1L), (60L, 2L))
      q.processAllAvailable()
      // watermark advances to exactly t360: uid2's end == wm → emitted,
      // uid1's end < wm → emitted, uid99's own session (end t660) → held.
      input.addData((360L, 99L))
      q.processAllAvailable()
      val got = spark.table(name).as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 1L), (2L, 1L)), s"got $got")
    } finally q.stop()
  }

  test("cdc apply buckets string keys (the Mongo _id shape) via hash") {
    val sink = Files.createTempDirectory("cdc_str_").toString + "/s"
    Pipelines.mergeIntoParquet(
      Seq(("a", 0, 1.0), ("b", 0, 2.0)).toDF("k", "rev", "v"),
      sink, key = "k", version = "rev", tiebreak = "k", nBuckets = 4)
    Pipelines.mergeIntoParquet(
      Seq(("a", 1, 9.0)).toDF("k", "rev", "v"),
      sink, key = "k", version = "rev", tiebreak = "k", nBuckets = 4)
    val got = spark.read.parquet(sink).select("k", "rev", "v")
      .as[(String, Int, Double)].collect().toSet
    assert(got == Set(("a", 1, 9.0), ("b", 0, 2.0)))
  }

  test("cdc apply survives restart on the same checkpoint: replayed merges are idempotent") {
    // The MERGE sink's exactly-once story: offsets come from the
    // checkpoint, and a replayed micro-batch (crash after write, before
    // commit) re-applies the same latest-wins merge — idempotent by
    // construction, so the snapshot is correct either way.
    val base = Files.createTempDirectory("cdc_rec").toString
    val srcDir = new java.io.File(s"$base/src"); srcDir.mkdirs()
    val sink = s"$base/snap"
    val ckpt = s"$base/ckpt"
    def addFile(rows: Seq[(Long, Int, Double)], name: String): Unit = {
      val tmp = Files.createTempDirectory("stage").toString
      rows.toDF("k", "rev", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      ()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rev", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$srcDir/*.parquet")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Pipelines.mergeIntoParquet(b, sink, key = "k", version = "rev",
            tiebreak = "k", nBuckets = 4)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    addFile(Seq((1L, 0, 10.0), (2L, 0, 20.0)), "f0")
    runOnce() // phase 1
    addFile(Seq((2L, 1, 25.0), (3L, 0, 30.0)), "f1")
    runOnce() // phase 2: NEW query, same checkpoint — merges only f1
    val got = spark.read.parquet(sink)
      .select("k", "rev", "v").as[(Long, Int, Double)].collect().toSet
    assert(got == Set((1L, 0, 10.0), (2L, 1, 25.0), (3L, 0, 30.0)))
  }

  test("outer stream-stream join: matches emit immediately, nulls on watermark eviction (q104)") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    // epoch offset: event times near 1970 collide with the initial
    // watermark and are dropped as late (probed — the q104 fixture's
    // 2025 timestamps are safe, but the spec must be too)
    val B = 1000000000L
    val ls = MemoryStream[(Long, Long)]
    val rs = MemoryStream[(Long, Long)]
    def side(ms: MemoryStream[(Long, Long)], u: String, t: String): DataFrame =
      ms.toDF().toDF(u, "t0")
        .withColumn(t + "_s", col("t0") + B)
        .withColumn(t, timestamp_seconds(col(t + "_s")))
        .withWatermark(t, "10 seconds")
    val l = side(ls, "u", "s_ts")
    val r = side(rs, "ru", "p_ts")
    val j = l.join(r,
        col("u") === col("ru") &&
          col("p_ts") >= col("s_ts") - expr("INTERVAL 30 SECONDS") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 SECONDS"),
        "left_outer")
      .select(col("u"), (col("s_ts_s") - B).as("t"), (col("p_ts_s") - B).as("rt"))
    val name = "sslo_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = j.writeStream.outputMode("append").format("memory").queryName(name).start()
    def rows() = spark.table(name).collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getLong(2)))).toSet
    try {
      ls.addData((1L, 0L), (2L, 100L))
      rs.addData((1L, 10L))
      q.processAllAvailable()
      // match emits in its batch; unmatched u=2 still held (watermark low)
      assert(rows() == Set((1L, 0L, Some(10L))))
      // advance: left max 1000, right max 950 → watermark = 940;
      // u=2 (100+30 < 940) evicts with null; u=3 (940+30 > 940) held
      ls.addData((3L, 940L), (9L, 1000L))
      rs.addData((9L, 950L))
      q.processAllAvailable()
      assert(rows() == Set((1L, 0L, Some(10L)), (2L, 100L, None)))
    } finally q.stop()
  }

  test("cdc apply: cross-batch MERGE INTO parquet, latest rev wins, buckets scoped") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Int, Double)]
    val sink = Files.createTempDirectory("cdc_spec_").toString
    val q = input.toDF().toDF("k", "rev", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("cdc_spec_ckpt_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Pipelines.mergeIntoParquet(b, sink, key = "k", version = "rev",
          tiebreak = "k", nBuckets = 4)
      }
      .start()
    try {
      input.addData((1L, 0, 10.0), (2L, 0, 20.0), (6L, 0, 60.0))
      q.processAllAvailable()
      // batch 2 updates k=2 (bucket 2) and inserts k=3 (bucket 3);
      // k=1/k=6 (buckets 1/2) must survive the partial overwrite
      input.addData((2L, 1, 25.0), (3L, 0, 30.0))
      q.processAllAvailable()
      // batch 3: stale rev for k=3 must NOT win
      input.addData((3L, -1, 99.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(sink)
      .select("k", "rev", "v").as[(Long, Int, Double)].collect().toSet
    assert(got == Set((1L, 0, 10.0), (2L, 1, 25.0), (3L, 0, 30.0), (6L, 0, 60.0)))
  }

  test("q91 append sessions equal the watermark-restricted batch sessions (sf0.001)") {
    val got = SparkEntry.queries("q91_streaming_sessions_append")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long)].collect().toSet
    // batch gaps-and-islands, restricted to sessions closed by the final
    // watermark (max ts - 30s), mirroring the DuckDB oracle
    import graft.tables.Tables
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("user_id").orderBy("ts")
    val sess = ev
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") > 300, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"),
        count(lit(1)).as("n_events"))
    val wmLit = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime / 1000.0 - 30.0
    val want = sess
      .where(col("end_ts").cast("double") + 300 <= wmLit && col("n_events") >= 2)
      .select(col("user_id"),
        date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, s"sizes: got=${got.size} want=${want.size}")
  }
}

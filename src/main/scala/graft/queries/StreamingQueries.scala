package graft.queries

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.LocalSpark
import graft.streaming.Pipelines
import graft.tables.Tables

/** Streaming-layer queries. q43 is the E1 wire roundtrip as a batch frame
  * (from_json is identical in batch and streaming plans); q44/q45 execute
  * REAL Structured Streaming queries — file source → windowed agg /
  * dedup → memory sink, drained synchronously — and return the sink
  * table, so the driver's oracle checks genuine streaming output. */
object StreamingQueries extends QueryPack {

  /** Runs `df`'s streaming query to the end of its input and stops it.
    * Stateful streaming ops size their shuffle by STATE volume, not scan
    * width: every shuffle partition is a state-store instance with fixed
    * per-micro-batch overhead (load/commit/snapshot), so over-partitioning
    * dominates cost. The query therefore runs in a child session with 8
    * shuffle partitions, plus `confs`: `start` gets `df` re-bound to the
    * child. The caller's session conf is never written. Returns the
    * child, where a memory sink registers its table. */
  private[queries] def drain(df: DataFrame,
                             confs: Seq[(String, String)] = Nil)(
      start: DataFrame => StreamingQuery): SparkSession =
    LocalSpark.withChildSession(df.sparkSession,
        ("spark.sql.shuffle.partitions" -> "8") +: confs: _*) { child =>
      val q = start(Bridge.rebind(df, child))
      try q.processAllAvailable() finally q.stop()
      child
    }

  /** Drain a streaming frame into a uniquely-named memory sink (see
    * [[drain]]) and return the sink table as a frame of the caller's
    * session, so what reads it plans under the caller's conf (shared by
    * every streaming query the oracle gate checks). */
  private[queries] def runToMemorySink(df: DataFrame, prefix: String,
                                       mode: String = "complete",
                                       confs: Seq[(String, String)] = Nil)
      : DataFrame = {
    val name = prefix + "_" + UUID.randomUUID().toString.replace("-", "")
    val child = drain(df, confs)(_.writeStream.outputMode(mode)
      .format("memory").queryName(name).start())
    Bridge.rebind(child.table(name), df.sparkSession)
  }

  /** E1 (F2+F3): project to the wire schema, encode to_json, parse back
    * with the declared StructType (`features_engineering.py:38-40`),
    * aggregate the parsed stream. */
  private def wireRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val wire = Tables.events(spark, dir).select(
      to_json(struct(
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        col("user_id").cast("string").as("symbol"),
        col("value").as("close_price"))).as("value"))
    Pipelines.parseWire(wire, Pipelines.tickSchema)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"),
        min("close_price").as("min_close"),
        max("close_price").as("max_close"))
      .orderBy("symbol")
  }

  /** Streaming events file source → hourly bars per event type. */
  private def streamingBars(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
    val bars = raw
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("n_ticks"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bar_start_str"),
        col("event_type"), col("low"), col("high"), col("n_ticks"))
    runToMemorySink(bars, "bars").orderBy("event_type", "bar_start_str")
  }

  /** Streaming dedup (T4): duplicated stream (self-union) → watermarked
    * dropDuplicatesWithinWatermark on the id → per-type counts equal the
    * distinct batch counts. The watermark bounds dedup state (an
    * unwatermarked dropDuplicates keeps every id forever — the classic
    * streaming scale-killer at 100 TB). */
  /** The q45 streaming frame, exposed so StreamingSpec can assert the
    * plan carries an event-time watermark (bounded dedup state). */
  private[graft] def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val dup = src.unionByName(src)
    Pipelines.watermarkDedup(dup, ts = "ts", key = "event_id")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
  }

  private def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    runToMemorySink(dedupStream(spark, dir), "dedup").orderBy("event_type")

  /** Streaming session windows (T6's session leg): the same
    * `session_window` aggregation as the batch q51, driven from the file
    * stream. Complete mode: state cardinality equals the output
    * (users × sessions) — bounded like q44's bars; the production path
    * for unbounded retention is watermark + append. */
  private def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
    val sess = raw
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
    runToMemorySink(sess, "sess")
      .where(col("n_events") >= 2)
      .orderBy("user_id", "session_start")
  }

  /** q91 (T6, production retention path): watermarked session windows in
    * APPEND mode — the complement of q76's complete mode. State is bounded
    * by the watermark (closed sessions are emitted once and EVICTED; in
    * complete mode state grows with output cardinality forever), which is
    * the only session shape that survives an unbounded stream at 100 TB.
    * Append emits exactly the sessions the final watermark has closed:
    * session_end (last event + gap) < max(event time) − delay — the batch
    * gaps-and-islands oracle restricted by that same predicate.
    * Exposed `private[graft]` so StreamingSpec can assert the plan carries
    * the watermark and that emission/eviction happens mid-stream. */
  private[graft] def sessionsAppendStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
    raw.withWatermark("ts", "30 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
  }

  private def streamingSessionsAppend(spark: SparkSession, dir: String): DataFrame =
    runToMemorySink(sessionsAppendStream(spark, dir), "sessap", mode = "append")
      .where(col("n_events") >= 2)
      .orderBy("user_id", "session_start")

  /** q215: CHAINED stateful operators in ONE streaming query (the
    * Spark-4 multiple-stateful-operators surface): a tumbling 15-minute
    * pre-aggregate feeds a 1-hour window rollup — `window(window, 1h)`
    * re-windows the first operator's window struct — with ONE watermark
    * driving late-data semantics and state eviction through BOTH
    * operators. This is the production telescoping-rollup shape: the
    * second operator's state is sub-window-sized (≤ 4 rows/hour/type),
    * never event-sized, and both levels evict as the watermark passes.
    *
    * Append emits exactly the hours the final watermark closed. The
    * closed-region gate (win_end ≤ max ts − 31 s: delay 30 s plus a
    * 1 s margin strictly inside the emitted set) is applied IDENTICALLY
    * to the streamed result and the batch oracle, so the emission
    * boundary's exact strictness never reaches the compare — the q104
    * discipline. Exposed `private[graft]` so StreamingSpec can assert
    * the plan carries BOTH stateful operators and the watermark. */
  private[graft] def chainedWindowStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val w15 = raw.withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_ev"), sum("vc").as("sum_c"))
    w15
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_subwindows"),
        sum("n_ev").as("n_events"), sum("sum_c").as("sum_cents"))
      .select(unix_micros(col("window.end")).as("end_us"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_subwindows"), col("n_events"),
        col("sum_cents"))
  }

  private def chainedWindowRollup(spark: SparkSession, dir: String): DataFrame = {
    val sunk = runToMemorySink(chainedWindowStream(spark, dir), "chain",
      mode = "append")
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    sunk.where(col("end_us") <= maxUs - 31L * 1000000L)
      .select("hour_start", "event_type", "n_subwindows", "n_events",
        "sum_cents")
      .orderBy("event_type", "hour_start")
  }

  /** q231: the OTHER Spark-4 multiple-stateful-operators pairing (q215
    * chains agg→agg): two time-window AGGREGATES joined STREAM-STREAM
    * on window equality in ONE query — click and purchase flows each
    * pre-aggregate into 30-minute tumbling windows under their own
    * 30-second watermark, then the finalized windows inner-join on the
    * window struct. Three stateful operators total (two windowed
    * aggregates + a symmetric hash join), all evicting off the global
    * watermark (min across inputs). The join's state is WINDOW-sized
    * (one row per closed window per side), never event-sized — the
    * production funnel-correlation shape at 100 TB.
    *
    * Append emits a window only after BOTH aggregates finalize it and
    * the join matches; the closed-region gate (win_end ≤ min of the two
    * sides' max ts − 31 s, in-plan broadcast of the 1-row stat frame —
    * the q104 discipline) is applied identically to the streamed result
    * and the batch oracle. Exposed `private[graft]` so StreamingSpec
    * can assert all three stateful operators and both watermarks from
    * one analyzed plan. */
  private[graft] def windowJoinStream(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
      .withColumn("vc", round(col("value") * 100).cast("long"))
    def side(t: String, pfx: String) = src.where(col("event_type") === t)
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as(s"${pfx}_n"), sum("vc").as(s"${pfx}_cents"))
    side("click", "click").join(side("purchase", "purchase"), "window")
      .select(unix_micros(col("window.end")).as("end_us"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("click_n"), col("click_cents"),
        col("purchase_n"), col("purchase_cents"))
  }

  private def windowedAggJoin(spark: SparkSession, dir: String): DataFrame = {
    val sunk = runToMemorySink(windowJoinStream(spark, dir), "wjoin",
      mode = "append")
    val wm = Tables.events(spark, dir).groupBy()
      .agg(least(
        max(when(col("event_type") === "click", unix_micros(col("ts")))),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
        .as("__max_us"))
    sunk.crossJoin(broadcast(wm))
      .where(col("end_us") <= col("__max_us") - lit(31L * 1000000L))
      .select("win_start", "click_n", "click_cents",
        "purchase_n", "purchase_cents")
      .orderBy("win_start")
  }

  /** q237: the THIRD multiple-stateful-operators pairing — q215 chains
    * agg→agg, q231 chains agg→join; this chains JOIN→AGG: a stream-
    * stream interval join (purchases within ±30 min of a signup, the
    * q56 shape) feeds a tumbling 1-hour WINDOWED AGGREGATE over the
    * join output — the streaming conversion-funnel rollup. The join's
    * event-time column (s_ts) flows through to the window, so ONE
    * global watermark (min across both inputs − 1 h) drives late-data
    * semantics and state eviction in all three stateful operators
    * (two join sides + the aggregate).
    *
    * Append emits an hour only after the final watermark passes its
    * end — and for a time-interval join the join's OUTPUT watermark
    * lags the input watermark by the 30-min join range, so the closed
    * region is win_end ≤ min(max signup ts, max purchase ts) − 1 h −
    * 30 min − 61 s (in-plan broadcast stat frame), applied identically
    * to the streamed result and the batch oracle (join twin +
    * hour-floor group-by). Exposed `private[graft]` for the plan
    * spec. */
  private[graft] def joinAggStream(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val signups = src.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("p_cents"))
      .withWatermark("p_ts", "1 hour")
    signups.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("s_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(window(col("s_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_conversions"), sum("p_cents").as("conv_cents"))
      .select(unix_micros(col("window.end")).as("end_us"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n_conversions"), col("conv_cents"))
  }

  private def joinThenAgg(spark: SparkSession, dir: String): DataFrame = {
    val sunk = runToMemorySink(joinAggStream(spark, dir), "jagg",
      mode = "append")
    val wm = Tables.events(spark, dir).groupBy()
      .agg(least(
        max(when(col("event_type") === "signup", unix_micros(col("ts")))),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
        .as("__max_us"))
    // Gate margin = watermark delay (1 h) + join-interval propagation
    // delay (30 min) + 61 s slack: Spark delays a time-interval join's
    // OUTPUT watermark by the join range (produceOutputWatermark), so
    // the downstream windowed agg only finalizes an hour once the input
    // watermark passes end + 30 min — a gate of just 1 h + 61 s would
    // include windows the append sink has not yet emitted.
    sunk.crossJoin(broadcast(wm))
      .where(col("end_us") <=
        col("__max_us") - lit(3600L * 1000000L) - lit(1800L * 1000000L) -
          lit(61L * 1000000L))
      .select("hour_start", "n_conversions", "conv_cents")
      .orderBy("hour_start")
  }

  /** q107: SLIDING event-time windows (the T6 leg tumbling q44 and
    * session q51/q76/q91 don't cover): width 2 h, slide 1 h — every
    * event lands in exactly two overlapping windows. The oracle derives
    * the same two window starts per event in SQL (windows align to the
    * epoch, so they are `trunc_hour(ts)` and `trunc_hour(ts) − 1 h`);
    * money stays in integer cents. */
  private def streamingSlidingWindows(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val windows = raw
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("sum_c"))
    runToMemorySink(windows, "slide").orderBy("event_type", "win_start")
  }

  /** q103: streaming CDC apply — MERGE INTO a bucket-partitioned parquet
    * snapshot via foreachBatch ([[Pipelines.mergeIntoParquet]]): the
    * keyed-collection upsert loop of the reference, with per-batch cost
    * scoped to the buckets the batch touches. The CDC stream is the
    * events file plus an update leg (every 10th key re-arrives with rev 1
    * and doubled value); latest-rev-wins, so the final snapshot is
    * base rows except updated keys — batch-SQL-expressible, full oracle.
    * Cross-batch merge semantics are additionally pinned by
    * StreamingSpec's two-batch MemoryStream test. */
  private def streamingCdcApply(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
      .select("event_id", "ts", "event_type", "value")
    val base = src.withColumn("rev", lit(0))
    val updates = src.where(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("rev", lit(1))
    val out = MlQueries.tempDirDeletedOnExit("graft_cdc_")
    drain(base.unionByName(updates)) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_cdc_ckpt_"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          Pipelines.mergeIntoParquet(b, out, key = "event_id",
            version = "rev", tiebreak = "event_id", nBuckets = 16)
        }
        .start()
    }
    spark.read.parquet(out)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"), col("rev"))
      .orderBy("event_id")
  }

  /** q98: mergeable sketches in streaming state — per-day tumbling
    * windows carrying approx_count_distinct(user_id). Exact distinct is
    * not allowed in streaming aggregation (unbounded per-window sets);
    * the HLL partial IS the state — fixed-size, merge-order-independent,
    * so the estimate is deterministic and the 100 TB state story is a
    * few KB per window. The oracle gets the exact per-window distinct
    * from batch SQL plus a tolerance boolean (rsd 0.05 → 10% bound),
    * same pattern as q68/q69/q80. */
  private def streamingWindowDistinct(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
    val agg = raw
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("approx_users"), col("n_events"))
    val streamed = runToMemorySink(agg, "wdist")
    val exact = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    streamed.join(exact, "day")
      .select(col("day"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.1).as("approx_ok"))
      .orderBy("day")
  }

  /** q229: the CUSTOM sketch aggregate as STREAMING WINDOW STATE —
    * [[graft.functions.MisraGriesStrings]] inside a tumbling 6-hour
    * windowed aggregation. What this pins beyond q98's built-in HLL:
    * a user-defined TypedImperativeAggregate's buffer is serialized
    * into the state store between micro-batches and MERGED with each
    * batch's partials — the full mergeable-summary contract under
    * streaming's incremental execution, with partials arriving in
    * micro-batch order rather than any batch plan's. State per window
    * is m entries, never the event stream.
    *
    * EXACT oracle (not a tolerance boolean): within a window the
    * distinct event_type count (5) is below m = 8, so the summary
    * provably never evicts and its counts equal the exact group-by —
    * the q55-style guarantee collapsed to equality, so a wrong merge
    * or a buffer lost between batches hash-fails outright. */
  private def streamingHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    // three staged micro-batches (event_id mod 3, the q120 replay
    // discipline) — a single-file source would fold into ONE batch and
    // never exercise the state-store buffer merge this query exists for
    val ev = Tables.events(spark, dir).select(col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val watch = stageBatches("graft_shh_",
      (0 to 2).map(r => ev.where(pmod(col("event_id"), lit(3)) === r)))
    val raw = spark.readStream
      .schema("event_id BIGINT, ts_us BIGINT, event_type STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val agg = raw
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.functions.HashFunctions.misra_gries(col("event_type"), 8)
        .as("sk"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), explode(col("sk")).as("e"))
      .select(col("win_start"), col("e.item").as("event_type"),
        col("e.est").as("n_events"))
    runToMemorySink(agg, "shh").orderBy("win_start", "event_type")
  }

  /** q120: the Spark 4 `transformWithState` high-watermark filter run as
    * a deterministic two-batch replay. Batch 0 delivers every event whose
    * id is not divisible by 3; batch 1 replays the FULL table. The
    * processor's cross-batch ValueState admits a batch-1 row only if it
    * is strictly newer than the key's batch-0 maximum — so the output is
    * batch-SQL-expressible and fully oracle-checked (the untimed
    * `TimeMode.None` leg; eviction/TTL is pinned by StreamingSpec).
    * Batch order is forced by explicit file modification times on a
    * one-file-per-batch watch directory with maxFilesPerTrigger=1. */
  /** Stage `batches` as one parquet file each in a fresh watch directory,
    * with ascending mtimes so a maxFilesPerTrigger=1 file stream replays
    * them as ordered micro-batches. Shared by the transformWithState
    * replay queries (q120/q127). */
  private def stageBatches(prefix: String, batches: Seq[DataFrame]): String = {
    val watch = MlQueries.tempDirDeletedOnExit(prefix + "watch_")
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = MlQueries.tempDirDeletedOnExit(prefix + "stage_")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1000L * (i + 1))
    }
    watch
  }

  private def twsWatermarkReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    val watch = stageBatches("graft_tws_",
      Seq(ev.where(pmod(col("event_id"), lit(3)) =!= 0), ev))
    val stream = spark.readStream
      .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val filtered = Pipelines.highWatermarkFilterTws(spark, stream,
      "user_id", "ts_us", ttlMs = 0L)
    // transformWithState runs only on the RocksDB state store, which
    // the drain's child session selects
    val sunk = runToMemorySink(filtered, "tws", "append",
      Seq(Pipelines.RocksDBProvider))
    sunk
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_emitted"),
        sum(col("ts_us")).as("sum_ts_us"))
      .orderBy("user_id")
  }

  /** q127: streaming per-key price moments on `transformWithState` —
    * exact integer (count, Σc, Σc²) state merged across two DISJOINT
    * staged batches (1/3 – 2/3 split of the corpus), so the final state
    * must equal the one-shot batch aggregate: the oracle IS that batch
    * SQL. Mean/variance derive from the final sums by fixed-shape double
    * divisions. Emissions are cumulative per touched key; the final row
    * per key is selected by max(n) — monotone, so order-free. */
  private def streamingMoments(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
    val watch = stageBatches("graft_mom_",
      Seq(src.where(pmod(col("event_id"), lit(3)) === 0),
        src.where(pmod(col("event_id"), lit(3)) =!= 0)))
    val stream = spark.readStream
      .schema("user_id BIGINT, cents BIGINT, event_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val moments = Pipelines.streamingMoments(spark, stream, "user_id", "cents")
    val sunk = runToMemorySink(moments, "moments", "append",
      Seq(Pipelines.RocksDBProvider))
    val f = col("final")
    sunk
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(max(struct(col("n_ticks"), col("s_cents"), col("s2_cents")))
        .as("final"))
      .select(col("user_id"),
        f.getField("n_ticks").as("n_ticks"),
        f.getField("s_cents").as("s_cents"),
        f.getField("s2_cents").as("s2_cents"))
      .withColumn("mean_close",
        col("s_cents").cast("double") / col("n_ticks") / 100)
      .withColumn("var_close",
        when(col("n_ticks") > 1,
          (col("n_ticks") * col("s2_cents") - col("s_cents") * col("s_cents"))
            .cast("double") / (col("n_ticks") * (col("n_ticks") - lit(1L)))
            / 10000))
      .orderBy("user_id")
  }

  /** q141: streaming top-k with the CUSTOM bounded aggregate
    * ([[graft.functions.TopKLongs]]) — per event_type, the 3 largest
    * cents seen on the stream plus count, across two replayed
    * micro-batches. The aggregate's k-bounded partials are exactly what
    * the streaming state stores between batches (serialize/merge/eval),
    * so this is the UDAF surface under micro-batch execution: state per
    * group = k longs, and because the merge is associative the batch
    * split cannot change the result — the one-shot batch SQL is the
    * oracle. */
  private def streamingTopK(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
    val watch = stageBatches("graft_stk_",
      Seq(src.where(pmod(col("event_id"), lit(2)) === 0),
        src.where(pmod(col("event_id"), lit(2)) =!= 0)))
    val stream = spark.readStream
      .schema("event_type STRING, cents BIGINT, event_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val agged = stream.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.HashFunctions.top_k_longs(col("cents"), 3).as("t"))
    runToMemorySink(agged, "stopk", mode = "complete")
      // try_element_at: null (not an ANSI throw) for groups smaller
      // than k, matching the oracle's t[i]
      .select(col("event_type"), col("n"),
        try_element_at(col("t"), lit(1)).as("top1"),
        try_element_at(col("t"), lit(2)).as("top2"),
        try_element_at(col("t"), lit(3)).as("top3"))
      .orderBy("event_type")
  }

  /** q142: streaming anomaly detection — the batch q131 gate run as a
    * stateful stream ([[Pipelines.streamingAnomaly]]): each key holds a
    * BOUNDED 50-long ring of trailing cents, incoming ticks test the
    * exact division-free 3σ gate against it, and the ring carries across
    * micro-batches (staged as a time-split: first half of each key's
    * ticks, then the rest, per-key ordered). Because the ring replays the
    * batch trailing window exactly, the oracle IS q131's batch SQL —
    * streaming and batch flags must agree row for row. */
  private def streamingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val mid = src.agg(expr("percentile(event_id, 0.5)")).head.getDouble(0)
    val watch = stageBatches("graft_sanom_",
      Seq(src.where(col("event_id") <= mid).orderBy("event_id").coalesce(1),
        src.where(col("event_id") > mid).orderBy("event_id").coalesce(1)))
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, cents BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val flagged = Pipelines.streamingAnomaly(spark, stream,
      key = "user_id", ord = "event_id", cents = "cents", n = 50, k = 3)
    runToMemorySink(flagged, "sanom", "append",
      Seq(Pipelines.RocksDBProvider))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id"), col("cents"))
      .orderBy("user_id", "event_id")
  }

  /** q239: STREAMING CUSUM changepoint gate — q234's batch detector as
    * an online stateful operator ([[Pipelines.streamingCusum]]), the
    * q131↔q142 parity pattern: per key the whole state is FOUR longs
    * (warm count, warm Σ, S⁺, S⁻). The first 30 ticks fix the per-key
    * reference sum, later ticks run the n-scaled division-free
    * recursion and emit when either side clears w·h. Staged as a
    * time-split two-batch stream (state crosses the micro-batch
    * boundary); because the recursion is a left fold over the ordered
    * per-key stream, the batch CLOSED FORM (prefix-extrema windows —
    * recursion equivalence proven by the q234 spec) is the oracle. */
  private def streamingCusumQ(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val mid = src.agg(expr("percentile(event_id, 0.5)")).head.getDouble(0)
    val watch = stageBatches("graft_scusum_",
      Seq(src.where(col("event_id") <= mid).orderBy("event_id").coalesce(1),
        src.where(col("event_id") > mid).orderBy("event_id").coalesce(1)))
    val stream = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, cents BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    val flagged = Pipelines.streamingCusum(spark, stream,
      key = "user_id", ord = "event_id", cents = "cents",
      warm = 30, kAllow = 10L, h = 150L)
    runToMemorySink(flagged, "scusum", "append",
      Seq(Pipelines.RocksDBProvider))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id"), col("cents"), col("up_alarm"), col("dn_alarm"))
      .orderBy("user_id", "event_id")
  }

  /** q274: STREAMING incremental corpus dedup — q111's drop-vs-keep
    * classifier run the way production corpus ingestion runs it
    * (VERDICT r9 #8): per MICRO-BATCH inside foreachBatch, against a
    * PERSISTENT keep-set that each batch extends with its own kept
    * docs, so a duplicate arriving in batch 2 of a doc KEPT in batch 1
    * is dropped as `dup_of_keep` (in one-shot q111 the same pair is
    * `dup_in_drop` — arrival order is part of streaming semantics and
    * the oracle replays the batch sequence, not the union).
    *
    * Batches (deterministic, one staged file per trigger): batch 1 =
    * the +1M exact copies and +3M token-reversed docs; batch 2 = the
    * +4M second-reversed copies, each an exact dup of its +3M sibling
    * — the cross-batch case by construction. BOTH sinks are BUCKETED
    * parquet maintained with [[Pipelines.mergeIntoParquet]] (the q103
    * MERGE discipline): the keep-set upserts by doc_id, and the
    * verdict table does too — each doc is classified in exactly one
    * batch, so a replayed batch after a failure re-merges both
    * snapshots to identical states: the sink side is exactly-once
    * under retries, not just the state side.
    * Per-batch cost is q111's incremental shape: pairs touching the
    * batch only, keep-vs-keep never re-pairs; the keep-set read is a
    * bucket-pruned scan of the persisted index.
    *
    * The batch's verdicts frame is consumed twice (verdict sink +
    * kept-doc merge) — checkpointed drop-sized and released after. */
  private def streamingIncDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (b1, b2) = DedupQueries.lifecycleBatches(docs)
    val keepDir = MlQueries.tempDirDeletedOnExit("graft_sdedup_keep_")
    val outDir = MlQueries.tempDirDeletedOnExit("graft_sdedup_out_")
    def mergeKeep(d: DataFrame): Unit =
      Pipelines.mergeIntoParquet(d.withColumn("rev", lit(0)), keepDir,
        key = "doc_id", version = "rev", tiebreak = "doc_id", nBuckets = 16)
    mergeKeep(docs)
    val watch = stageBatches("graft_sdedup_", Seq(b1, b2))
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    drain(stream) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_sdedup_ckpt_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sp = batch.sparkSession
          val keep = sp.read.parquet(keepDir).select("doc_id", "text")
          val verdicts = Dedup.incrementalDedup(keep, batch,
              "doc_id", "text", k = 3, threshold = 0.3, maxShingleDf = 20)
            .withColumn("batch_seq", lit(id + 1))
            .localCheckpoint(true)
          Pipelines.mergeIntoParquet(verdicts, outDir, key = "doc_id",
            version = "batch_seq", tiebreak = "doc_id", nBuckets = 16)
          mergeKeep(batch.join(
              verdicts.where(col("status") === "kept"),
              Seq("doc_id"), "left_semi")
            .select("doc_id", "text"))
          org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(verdicts)
          ()
        }
        .start()
    }
    spark.read.parquet(outDir) // drops the merge's __bkt via the select
      .select(col("batch_seq"), col("doc_id"), col("status"), col("rep_id"))
      .orderBy("batch_seq", "doc_id")
  }

  /** A fresh clone of `recipe`'s [[graft.dedup.IndexedDedup]] bootstrap
    * of `corpus` (k = 3, df cap 20), attached. The O(corpus) bootstrap
    * is setup, not the operator: [[SessionFixtures]] builds it once per
    * session per sf dir, so each run's merges and retractions mutate a
    * private copy and bench reps time the steady-state per-batch path
    * (index probes + fresh-generation rewrites + the manifest commit). */
  private def dedupWorkingCopy(spark: SparkSession, recipe: String,
                               dir: String, corpus: DataFrame)
      : graft.dedup.IndexedDedup.Indexes = {
    import graft.dedup.IndexedDedup
    val Seq(si, di, mf) = SessionFixtures.cloned(spark, recipe, dir,
        Seq("si", "di", "mf")) { ds =>
      IndexedDedup.bootstrap(spark, corpus, k = 3, maxShingleDf = 20,
        ds(0), ds(1), ds(2), rowCap = 65536L)
    }
    IndexedDedup.attach(spark, si, di, mf, rowCap = 65536L)
  }

  /** q283: q274 against PERSISTED keep-side indexes — the round-10
    * verdict's top item ("q274 re-shingles the whole keep-set every
    * micro-batch"). Identical batches, thresholds, and verdicts (the
    * oracle IS q274's oracle), but each foreachBatch runs
    * [[graft.dedup.IndexedDedup.processBatch]]: the keep-set lives as
    * two [[graft.dedup.LinearHashIndex]]es (shingle postings with
    * df-cap tombstones; per-doc surviving-shingle counts) probed by the
    * batch's own key sets, so per-batch keep-side IO tracks the batch —
    * keep texts are never re-read, keep shingles never recomputed, and
    * the index merges land in fresh bucket generations made visible by
    * ONE atomic [[graft.dedup.IndexManifest]] rename covering both
    * indexes + the batch id (IndexedDedupSpec pins the scan-volume
    * claim with a SparkListener and crash-injects the commit protocol).
    * The verdict sink keeps q274's idempotent doc_id-keyed MERGE. */
  private def streamingIndexedDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.IndexedDedup
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (b1, b2) = DedupQueries.lifecycleBatches(docs)
    val outDir = MlQueries.tempDirDeletedOnExit("graft_xdedup_out_")
    val idx = dedupWorkingCopy(spark, "xdedup", dir, docs)
    val watch = stageBatches("graft_xdedup_", Seq(b1, b2))
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    drain(stream) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_xdedup_ckpt_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sp = batch.sparkSession
          // verdict sink overlaps the index-write phase (the sink is
          // the idempotent version-gated MERGE the overlap contract
          // requires — OPTIMIZATION r15)
          val verdicts = IndexedDedup.processBatchOverlapping(sp, idx, batch,
              batchSeq = id + 1, k = 3, threshold = 0.3, maxShingleDf = 20) {
            v =>
              Pipelines.mergeIntoParquet(
                v.withColumn("batch_seq", lit(id + 1)), outDir,
                key = "doc_id", version = "batch_seq", tiebreak = "doc_id",
                nBuckets = 16)
          }
          org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(verdicts)
          ()
        }
        .start()
    }
    spark.read.parquet(outDir)
      .select(col("batch_seq"), col("doc_id"), col("status"), col("rep_id"))
      .orderBy("batch_seq", "doc_id")
  }

  /** q293: INDEXED-DEDUP DRIFT AUDIT (VERDICT r11 #5) — the regression
    * harness for the persisted-index path, driver-visible as data: on a
    * deterministic sample of the corpus (doc_id % 8 = 0, the q272
    * sampled-window discipline) the SAME batch sequence runs through
    * BOTH legs — [[graft.dedup.IndexedDedup]] against the persisted
    * indexes (permanent df-cap tombstones, manifest-committed state)
    * and [[graft.dedup.Dedup.incrementalDedup]]'s full recompute — and
    * the output is the per-batch agreement census (status and rep
    * agreement as exact integers, an all_agree boolean). The design
    * claim is 100% agreement (keep-side df is monotone, so permanent
    * tombstones mirror the recompute's cap batch-for-batch); the oracle
    * replays ONE leg and asserts the census with n_agree = n_docs, so
    * ANY divergence — tombstone drift over many batches, a manifest
    * regression, a probe bug — lands as a hash mismatch in the gate.
    *
    * Scale shape: the indexed leg is the production path (probe-bounded
    * IO); the recompute leg is the audit standard run on the SAMPLE
    * only (the q272/q246 honesty pattern — production drops it). */
  private def indexedDedupDriftAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.{Dedup, IndexedDedup}
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 8 === 0)
    val (b1, b2) = DedupQueries.lifecycleBatches(sample)
    val idx = dedupWorkingCopy(spark, "xda", dir, sample)
    val a1 = IndexedDedup.processBatch(spark, idx, b1, 1L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val a2 = IndexedDedup.processBatch(spark, idx, b2, 2L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val r1 = Dedup.incrementalDedup(sample, b1, "doc_id", "text", k = 3,
      threshold = 0.3, maxShingleDf = 20).localCheckpoint(true)
    val keep1 = sample.unionByName(
      b1.join(r1.where(col("status") === "kept").select("doc_id"),
        Seq("doc_id"), "left_semi"))
    val r2 = Dedup.incrementalDedup(keep1, b2, "doc_id", "text", k = 3,
      threshold = 0.3, maxShingleDf = 20).localCheckpoint(true)
    def census(seqN: Long, ix: DataFrame, rc: DataFrame) = {
      val r = ix
        .select(col("doc_id"), col("status").as("s_ix"), col("rep_id").as("r_ix"))
        .join(rc.select(col("doc_id"), col("status").as("s_rc"),
          col("rep_id").as("r_rc")), Seq("doc_id"), "full_outer")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s_rc") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("s_rc") === "dup_of_keep", 1L).otherwise(0L))
            .as("n_dup_of_keep"),
          sum(when(col("s_rc") === "dup_in_drop", 1L).otherwise(0L))
            .as("n_dup_in_drop"),
          sum(when(col("s_ix") === col("s_rc"), 1L).otherwise(0L))
            .as("n_status_agree"),
          sum(when(col("r_ix") === col("r_rc"), 1L).otherwise(0L))
            .as("n_rep_agree"))
        .head() // 1 aggregate row per batch — driver-bounded
      (seqN, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        r.getLong(4) == r.getLong(0) && r.getLong(5) == r.getLong(0))
    }
    val rows = Seq(census(1L, a1, r1), census(2L, a2, r2))
    Seq(a1, a2, r1, r2).foreach(
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    import spark.implicits._
    rows.toDF("batch_seq", "n_docs", "n_kept", "n_dup_of_keep",
        "n_dup_in_drop", "n_status_agree", "n_rep_agree", "all_agree")
      .orderBy("batch_seq")
  }

  /** q297: MANIFEST TIME TRAVEL over the persisted dedup indexes — the
    * consumption story the r12 atomic-commit work enables: committed
    * bucket generations are immutable and the manifest retains the
    * previous version (gc keeps the union of retained snapshots), so
    * the index state AS OF any retained commit is exactly readable.
    * The query runs the standard two-batch sequence on a doc_id % 7
    * sample, then (a) reads BOTH retained snapshots and reports their
    * state censuses — keep-doc count + id checksum from the doc index,
    * surviving postings + permanent tombstones from the shingle
    * index — and (b) REPLAYS batch 2 read-only against the pre-batch-2
    * snapshot ([[graft.dedup.IndexedDedup.processBatch]] `asOf`),
    * asserting bit-identical verdicts to the live run as a data column.
    * The oracle derives every census from first principles (keep_v =
    * corpus + kept docs of the replayed batches; tombstones = shingles
    * with keep-side df past the cap; postings = (shingle, doc) pairs
    * under it), so a retention bug, a gc overreach, or a snapshotleak
    * all hash-fail.
    *
    * Scale shape: snapshot reads are manifest-resolved bucket listings;
    * the audit censuses scan the index once per retained version —
    * an audit job, not the per-batch path. */
  private def indexTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.IndexedDedup
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 7 === 0)
    val (b1, b2) = DedupQueries.lifecycleBatches(sample)
    // every retained-version census and the asOf replay run against the
    // clone's own commits
    val idx = dedupWorkingCopy(spark, "xtt", dir, sample)
    val v1 = IndexedDedup.processBatch(spark, idx, b1, 1L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val live2 = IndexedDedup.processBatch(spark, idx, b2, 2L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val prev = idx.manifest.read(2L).getOrElse(
      sys.error("previous manifest version aged out — retention broken"))
    val cur = idx.manifest.read().get
    // the time-travel replay: batch 2 against the snapshot it saw live
    val replay2 = IndexedDedup.processBatch(spark, idx, b2, 2L, k = 3,
      threshold = 0.3, maxShingleDf = 20, asOf = Some(prev))
    val nLive = live2.count()
    val nAgree = live2
      .select(col("doc_id"), col("status").as("s1"), col("rep_id").as("r1"))
      .join(replay2.select(col("doc_id"), col("status").as("s2"),
        col("rep_id").as("r2")), Seq("doc_id"))
      .where(col("s1") === col("s2") && col("r1") === col("r2")).count()
    val agrees = nLive == nAgree && nLive == replay2.count()
    def verStats(st: graft.dedup.IndexManifest.State): (Long, Long, Long, Long) = {
      val d = idx.doc.allRows(st.buckets("doc"))
        .agg(count(lit(1)), sum("doc_id")).head()
      val s = idx.shingle.allRows(st.buckets("shingle"))
        .agg(sum(when(col("doc_id") >= 0L, 1L).otherwise(0L)),
          sum(when(col("doc_id") === -1L, 1L).otherwise(0L))).head()
      (d.getLong(0), d.getLong(1), s.getLong(0), s.getLong(1))
    }
    val (pd, pc, pp, pt) = verStats(prev)
    val (cd, cc2, cp, ct) = verStats(cur)
    Seq(v1, live2, replay2).foreach(
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    import spark.implicits._
    Seq(
      (prev.version, prev.batchSeq, pd, pc, pp, pt, agrees),
      (cur.version, cur.batchSeq, cd, cc2, cp, ct, agrees))
      .toDF("version", "batch_seq", "n_index_docs", "doc_id_checksum",
        "n_postings", "n_tombstones", "replay_agrees")
      .orderBy("version")
  }

  /** q300: PERSISTED STREAMING BM25 INDEX — the retrieval member of the
    * index layer (q283: dedup keep-set; q285/q295: ANN cells+codes; this:
    * the inverted text index). Half the corpus seeds
    * [[graft.text.Bm25Index.bootstrap]]; the other half arrives in two
    * micro-batches merged by [[graft.text.Bm25Index.mergeBatch]] — term
    * postings sharded over 16 doc-hash sub-keys (a single-key posting
    * list cannot split a linear-hash bucket), doc lengths, and the
    * global (N, Σdl) row all flip visible per batch through ONE atomic
    * manifest commit. The fixed 6-term query then scores q92's
    * bit-reproducible rational-idf BM25 from three probes (posting
    * shards + matched doc lengths + the stats row) — IO tracks the
    * query, never the corpus. Merges are order-independent and
    * id-idempotent, so the streamed index equals a one-shot build: the
    * oracle replays plain global BM25 over the FINAL corpus (with the
    * same df ≤ 65536 near-stopword gate, inert at fixture SFs) and the
    * top-10 hash-matches bit for bit. */
  private def persistedBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bm25Index
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val batches = Seq(docs.where(col("doc_id") % 4 === 1),
      docs.where(col("doc_id") % 4 === 3))
    val idx = bm25Attach(spark, SessionFixtures.cloned(spark, "bm25", dir,
      Bm25Parts)(bm25Build(spark, docs.where(col("doc_id") % 2 === 0))))
    val watch = stageBatches("graft_bm25_", batches)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    drain(stream) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_bm25_ckpt_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Bm25Index.mergeBatch(batch.sparkSession, idx, batch,
            batchSeq = id + 1, maxTermDf = 65536L)
          ()
        }
        .start()
    }
    Bm25Index.query(spark, idx, Bm25Terms, k = 10).orderBy("rank")
  }

  private[queries] val Bm25Terms =
    Seq("table", "join", "hash", "dup", "vector", "stream")

  /** The BM25 session fixtures' parts — (term, doc, stats, manifest)
    * roots — and their build: a bootstrap of `corpus` with df cap
    * 65536. Recipe `bm25` is the seed half (even doc_id) that q300 and
    * q302 clone and mutate; `bm25f` is the full corpus that q303, q307
    * and q311 probe read-only. */
  private val Bm25Parts = Seq("t", "d", "g", "m")

  private def bm25Build(spark: SparkSession, corpus: DataFrame)
                       (ds: Seq[String]): Unit =
    graft.text.Bm25Index.bootstrap(spark, corpus, maxTermDf = 65536L,
      ds(0), ds(1), ds(2), ds(3), rowCap = 65536L)

  private def bm25Attach(spark: SparkSession, ds: Seq[String])
      : graft.text.Bm25Index.Indexes =
    graft.text.Bm25Index.attach(spark, ds(0), ds(1), ds(2), ds(3),
      rowCap = 65536L)

  /** q301: INDEXED-DEDUP RETRACTION (VERDICT r12 #1 — takedown/GDPR
    * over the persisted keep-set): bootstrap a doc_id % 6 sample, merge
    * one batch ([[graft.dedup.IndexedDedup.processBatch]]), then
    * RETRACT the original keep docs with doc_id % 10 = 0 via
    * [[graft.dedup.IndexedDedup.retractBatch]] (postings deleted, doc
    * rows dropped, touched df-cap tombstones re-audited against the
    * retained corpus — one atomic manifest commit), and finally
    * classify a batch of exact COPIES of the retracted docs. The copies
    * come back "kept" — the content was taken down, so it re-enters the
    * corpus — where without the retraction they would be dup_of_keep;
    * the output also carries the post-retract index censuses (doc
    * count + id checksum, surviving postings, tombstones) read from the
    * committed snapshot. The oracle replays batch 1 as incremental
    * dedup, DELETES the retracted ids from the keep set, derives every
    * census from first principles over the remaining corpus, and
    * replays batch 2 against it — so a retraction that leaked a
    * posting, kept a stale doc row, or missed a tombstone re-audit
    * hash-fails.
    *
    * Scale shape: retraction IO tracks the retract batch's key sets
    * (two probes + two fresh-generation rewrites); the only
    * remaining-corpus work is the tombstone re-audit restricted to
    * touched tombstoned shingles. The censuses are audit reads, not
    * the per-batch path. */
  /** q305: IVF INDEX ROW DELETION (VERDICT r12 #1, similarity family —
    * the third index family gets takedown semantics): three merge
    * batches build the q285 index, then
    * [[graft.similarity.IvfIndex.deleteBatch]] removes every vec_id
    * divisible by 7 — touched cells located by the SAME assignment
    * arithmetic as inserts/probes, read back, anti-joined, and staged
    * as fresh generations flipped visible by ONE manifest rename
    * (VERDICT r13 #1 — a takedown is never half-visible), with cells
    * emptied by the deletion leaving the committed bucket set
    * outright. Probes then run over the post-delete index; the oracle
    * replays q285's one-shot pipeline with the index side restricted
    * to the undeleted rows (seeds/queries full-corpus — centroids
    * pre-date the deletion and queries are external vectors), so a
    * leaked row, a lost survivor, or a stale emptied cell hash-fails.
    *
    * Scale shape: delete IO = the deleted rows' cells only (read +
    * rewrite), bounded by the batch's cell fan-out — never the index. */
  private def ivfIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Clustering, IvfIndex}
    val emb = Tables.embeddings(spark, dir)
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val idxDir = MlQueries.tempDirDeletedOnExit("graft_ivfdel_")
    (0 until 3).foreach { i =>
      IvfIndex.mergeBatch(
        emb.select("vec_id", "embedding")
          .where(pmod(col("vec_id"), lit(3)) === i),
        "vec_id", "embedding", centroids, idxDir, batchSeq = i + 1L)
    }
    IvfIndex.deleteBatch(
      emb.select("vec_id", "embedding").where(col("vec_id") % 7 === 0),
      "vec_id", "embedding", centroids, idxDir, batchSeq = 4L)
    IvfIndex.probe(spark, idxDir, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", centroids, nProbe = 4, k = 5)
      .orderBy("query_id", "rank")
  }

  /** q308: STREAMING TAKEDOWN (VERDICT r13 #4) — q301 retracts in batch
    * mode; the production shape is a takedown STREAM interleaved with
    * merge batches through ONE foreachBatch pipeline. The q301 batch
    * sequence (merge b1 → retract the % 10 originals → merge b2, the
    * re-admission batch) arrives as op-typed micro-batches ("M"/"D")
    * over one file stream: a merge batch runs
    * [[graft.dedup.IndexedDedup.processBatch]] and upserts its kept
    * docs into the durable corpus store
    * ([[graft.streaming.Pipelines.mergeIntoParquetWithDeletes]] — the
    * CDC sink with tombstones); a takedown batch derives the retained
    * corpus from that store (post-takedown keep set, feeding the
    * tombstone re-audit), runs
    * [[graft.dedup.IndexedDedup.retractBatch]], then tombstones the
    * ids out of the store in the same foreachBatch. batchSeq ordering
    * rides the stream's batch ids; every step is replay-idempotent
    * (manifest gate, latest-wins sinks), so a restart anywhere —
    * including between a merge commit and the retract commit —
    * converges (Round14OpsSpec kills and replays the sequence). The
    * post-retract censuses are read via manifest TIME TRAVEL (version
    * current−1 — the snapshot between the takedown and b2), and the
    * output is q301's exact shape, so the oracle IS q301's replay:
    * streamed-interleaved final state ≡ the batch-mode sequence,
    * which is the claim.
    *
    * Scale shape: per batch exactly q301's probe/rewrite costs + one
    * touched-bucket store merge; the stream adds no global work. */
  private def streamingTakedown(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.IndexedDedup
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 6 === 0)
    val (b1, _) = DedupQueries.lifecycleBatches(sample)
    val retractDocs = sample.where(col("doc_id") % 10 === 0)
    val b2 = sample.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    // q301's bootstrap snapshot (same sample + params)
    val idx = dedupWorkingCopy(spark, "xrt", dir, sample)
    val outDir = MlQueries.tempDirDeletedOnExit("graft_stk_out_")
    // the durable corpus store, seeded with the bootstrap corpus — like
    // the index bootstrap, the seed is O(corpus) setup, not the
    // streamed operator (OPTIMIZATION r15), so the rep pays
    // touched-bucket merges only
    val Seq(keepDir) = SessionFixtures.cloned(spark, "stk_keep", dir,
        Seq("store")) { ds =>
      Pipelines.mergeIntoParquetWithDeletes(
        sample.withColumn("rev", lit(0L)).withColumn("op", lit("")),
        ds(0), key = "doc_id", version = "rev", tiebreak = "doc_id",
        opCol = "op", nBuckets = 16)
    }
    val typed = Seq(
      b1.withColumn("op", lit("M")),
      retractDocs.withColumn("op", lit("D")),
      b2.withColumn("op", lit("M")))
    val watch = stageBatches("graft_stk_", typed)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, op STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    drain(stream) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_stk_ckpt_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sp = batch.sparkSession
          val seq = id + 1
          val isTakedown = batch.where(col("op") === "D").limit(1)
            .count() > 0 // batches are op-homogeneous by construction
          val docs = batch.select("doc_id", "text")
          if (isTakedown) {
            val retained = Pipelines.readWithDeletes(sp, keepDir, "op")
              .select("doc_id", "text")
              .join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
              .localCheckpoint(true)
            IndexedDedup.retractBatch(sp, idx, docs, seq, k = 3,
              maxShingleDf = 20, retained = Some(retained))
            Pipelines.mergeIntoParquetWithDeletes(
              docs.withColumn("rev", lit(seq)).withColumn("op", lit("D")),
              keepDir, key = "doc_id", version = "rev",
              tiebreak = "doc_id", opCol = "op", nBuckets = 16)
            org.apache.spark.sql.graft.Bridge
              .unpersistLocalCheckpoint(retained)
          } else {
            // both store merges are idempotent version-gated MERGEs and
            // overlap the index-write phase (OPTIMIZATION r15)
            val verdicts = IndexedDedup.processBatchOverlapping(sp, idx,
                docs, seq, k = 3, threshold = 0.3, maxShingleDf = 20) { v =>
              Pipelines.mergeIntoParquet(
                v.withColumn("batch_seq", lit(seq)), outDir,
                key = "doc_id", version = "batch_seq", tiebreak = "doc_id",
                nBuckets = 16)
              Pipelines.mergeIntoParquetWithDeletes(
                docs.join(v.where(col("status") === "kept"),
                    Seq("doc_id"), "left_semi")
                  .withColumn("rev", lit(seq)).withColumn("op", lit("")),
                keepDir, key = "doc_id", version = "rev",
                tiebreak = "doc_id", opCol = "op", nBuckets = 16)
            }
            org.apache.spark.sql.graft.Bridge
              .unpersistLocalCheckpoint(verdicts)
          }
          ()
        }
        .start()
    }
    // post-retract censuses via manifest TIME TRAVEL: the retained
    // snapshot the takedown committed, anchored by its BATCH id
    // (ADVICE r14: version arithmetic assumed every stream batch
    // committed exactly one version — a batch that stages nothing
    // breaks that silently; the batchSeq anchor fails loudly instead)
    val post = idx.manifest.retained().find(_.batchSeq == 2L).getOrElse(
      sys.error("q308: the takedown's snapshot (batchSeq=2) is not " +
        "retained — missing commit or aged out of retention"))
    val d = idx.doc.allRows(post.buckets(idx.docName))
      .agg(count(lit(1)), sum("doc_id")).head()
    val s = idx.shingle.allRows(post.buckets(idx.shingleName))
      .agg(sum(when(col("doc_id") >= 0L, 1L).otherwise(0L)),
        sum(when(col("doc_id") === -1L, 1L).otherwise(0L))).head()
    spark.read.parquet(outDir)
      .where(col("batch_seq") === 3L)
      .select(col("doc_id"), col("status"), col("rep_id"))
      .withColumn("n_index_docs", lit(d.getLong(0)))
      .withColumn("doc_id_checksum", lit(d.getLong(1)))
      .withColumn("n_postings", lit(s.getLong(0)))
      .withColumn("n_tombstones", lit(s.getLong(1)))
      .orderBy("doc_id")
  }

  /** q309: CDC TOMBSTONE COMPACTION (VERDICT r14 #2) — the lifecycle
    * job [[graft.streaming.Pipelines.mergeIntoParquetWithDeletes]]'s
    * persisted-tombstone design defers, driver-visible end to end: a
    * keyed store is built by merge/delete batches (rev-1 corpus, two
    * takedown waves at rev 2 and 3), then
    * [[graft.streaming.Pipelines.compactTombstones]] retires the
    * tombstones at or below horizon 2 and persists the horizon marker;
    * a straggler upsert AT the horizon is rejected by the marker (the
    * key whose tombstone was just retired stays deleted — the
    * resurrection guard moves from the tombstone row to the horizon),
    * and a re-admission ABOVE the horizon returns normally. Output =
    * the final store rows (tombstones included — rev-3 survives, rev-2
    * is gone) + the retirement censuses; every row and count is a pure
    * function of the documents table, so the oracle replays the whole
    * lifecycle as set algebra over the modulus classes.
    *
    * Scale shape: each merge is the touched-bucket read-modify-write
    * (never the full store); the compaction locates retirable
    * tombstones with a column-pruned (op, rev, __bkt) scan and rewrites
    * ONLY the buckets that hold them; the horizon is one value-carrying
    * marker file. Tombstone accretion on a takedown-heavy stream is now
    * bounded by the compaction cadence, not the stream's lifetime. */
  private def cdcTombstoneCompact(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 7 === 0)
    val store = MlQueries.tempDirDeletedOnExit("graft_cmp_store_")
    def merge(df: DataFrame): Unit = Pipelines.mergeIntoParquetWithDeletes(
      df, store, key = "doc_id", version = "rev", tiebreak = "doc_id",
      opCol = "op", nBuckets = 8)
    merge(sample.withColumn("rev", lit(1L)).withColumn("op", lit("")))
    merge(sample.where(col("doc_id") % 21 === 0)
      .select(col("doc_id"), lit("").as("text"), lit(2L).as("rev"),
        lit("D").as("op")))
    merge(sample.where(col("doc_id") % 35 === 0 && col("doc_id") % 21 =!= 0)
      .select(col("doc_id"), lit("").as("text"), lit(3L).as("rev"),
        lit("D").as("op")))
    val tombBefore = spark.read.parquet(store)
      .where(col("op") === "D").count()
    val dropped = Pipelines.compactTombstones(spark, store, "rev", "op",
      horizon = 2L)
    // the straggler AT the horizon: must NOT resurrect the retired keys
    merge(sample.where(col("doc_id") % 21 === 0)
      .withColumn("rev", lit(2L)).withColumn("op", lit("")))
    // legitimate re-admission above the horizon
    merge(sample.where(col("doc_id") % 42 === 0)
      .withColumn("rev", lit(4L)).withColumn("op", lit("")))
    val tombAfter = spark.read.parquet(store)
      .where(col("op") === "D").count()
    spark.read.parquet(store)
      .select(col("doc_id"), col("rev"), col("op"))
      .withColumn("n_dropped", lit(dropped))
      .withColumn("n_tomb_before", lit(tombBefore))
      .withColumn("n_tomb_after", lit(tombAfter))
      .orderBy("doc_id")
  }

  private def indexedDedupRetract(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.IndexedDedup
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 6 === 0)
    val (b1, _) = DedupQueries.lifecycleBatches(sample)
    val retractDocs = sample.where(col("doc_id") % 10 === 0)
    val b2 = sample.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val idx = dedupWorkingCopy(spark, "xrt", dir, sample)
    val v1 = IndexedDedup.processBatch(spark, idx, b1, 1L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val kept1 = b1.join(v1.where(col("status") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")
    // the retained corpus = keep set AFTER the takedown (production's
    // durable corpus store) — feeds the tombstone re-audit only
    val remaining = sample
      .join(retractDocs.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(kept1)
    IndexedDedup.retractBatch(spark, idx, retractDocs, 2L, k = 3,
      maxShingleDf = 20, retained = Some(remaining))
    // post-retract state censuses from the committed snapshot
    val snap = idx.manifest.read().get
    val d = idx.doc.allRows(snap.buckets(idx.docName))
      .agg(count(lit(1)), sum("doc_id")).head()
    val s = idx.shingle.allRows(snap.buckets(idx.shingleName))
      .agg(sum(when(col("doc_id") >= 0L, 1L).otherwise(0L)),
        sum(when(col("doc_id") === -1L, 1L).otherwise(0L))).head()
    val v2 = IndexedDedup.processBatch(spark, idx, b2, 3L, k = 3,
      threshold = 0.3, maxShingleDf = 20)
    val out = v2.select(col("doc_id"), col("status"), col("rep_id"))
      .withColumn("n_index_docs", lit(d.getLong(0)))
      .withColumn("doc_id_checksum", lit(d.getLong(1)))
      .withColumn("n_postings", lit(s.getLong(0)))
      .withColumn("n_tombstones", lit(s.getLong(1)))
      .orderBy("doc_id")
      .localCheckpoint(true)
    Seq(v1, v2).foreach(
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    out
  }

  /** q302: BM25 INDEX RETRACTION (VERDICT r12 #1, retrieval family):
    * the q300 seed snapshot takes one merge batch (doc_id % 4 = 1),
    * then [[graft.text.Bm25Index.retractBatch]] removes every indexed
    * doc with doc_id % 10 = 0 — postings deleted, doc-length rows
    * dropped, global (n_docs, Σdl) decremented exactly, touched
    * df-cap tombstones re-audited — under one manifest commit, and the
    * fixed 6-term query runs against the post-retract snapshot. The
    * retraction provably rewrites retrieval: the oracle is plain
    * global BM25 over the REMAINING corpus only (the streamed+retracted
    * index is bit-equivalent to a fresh build on it), so a leaked
    * posting, a stale doc length, or an un-decremented stat flips
    * scores and hash-fails.
    *
    * Scale shape: retract IO = the retracted docs' term shards + doc
    * buckets + the stats bucket; query IO unchanged from q300. */
  private def bm25IndexRetract(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bm25Index
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val idx = bm25Attach(spark, SessionFixtures.cloned(spark, "bm25", dir,
      Bm25Parts)(bm25Build(spark, docs.where(col("doc_id") % 2 === 0))))
    Bm25Index.mergeBatch(spark, idx, docs.where(col("doc_id") % 4 === 1),
      batchSeq = 1L, maxTermDf = 65536L)
    val retractDocs = docs.where(
      (col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1)
        && col("doc_id") % 10 === 0)
    val remaining = docs.where(
      (col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1)
        && !(col("doc_id") % 10 === 0))
    Bm25Index.retractBatch(spark, idx, retractDocs, batchSeq = 2L,
      maxTermDf = 65536L, retained = Some(remaining))
    Bm25Index.query(spark, idx, Bm25Terms, k = 10).orderBy("rank")
  }

  /** q303: BM25 QUERY-TABLE RETRIEVAL over the persisted index
    * (VERDICT r12 #3): a TABLE of six queries with variable term sets
    * is scored in ONE pass by [[graft.text.Bm25Index.queryTable]] —
    * the probe reads the union of all queries' terms' posting shards
    * once, every (query, doc) score folds its term contributions in
    * term-sorted order (float-deterministic without per-query
    * recompiles), and ranking is the per-query partial
    * WindowGroupLimit. The index is the FULL corpus bootstrapped once
    * per session (read-only — runs attach to the shared snapshot);
    * one query carries a vocabulary-absent term ('shuffle') to pin the
    * missing-term path. The oracle scores each query's alphabetical
    * term list with exact-0.0 absent terms over the whole corpus —
    * q92's bit-reproducibility contract generalized to a workload.
    *
    * Scale shape: query IO ∝ |distinct workload terms| · 16 shards +
    * matched doc-length buckets + 1 stats bucket — independent of both
    * corpus size and query count growth in matched docs aside. */
  private def bm25QueryTableTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bm25Index
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val idx = bm25Attach(spark,
      SessionFixtures.shared("bm25f", dir, Bm25Parts)(bm25Build(spark, docs)))
    val queries = Bm25QueryTable.flatMap { case (qid, ts) => ts.map((qid, _)) }
      .toDF("query_id", "term")
    Bm25Index.queryTable(spark, idx, queries, k = 5)
      .orderBy("query_id", "rank")
  }

  /** q307: HYBRID RETRIEVAL OVER THE PERSISTED TIER (VERDICT r13 #3) —
    * production RAG scores BM25 ∪ ANN and fuses; both persisted indexes
    * exist (q300/q303's linear-hash BM25, q285's manifest-committed
    * IVF) and this query composes them over the same corpus snapshot:
    * the lexical leg is [[graft.text.Bm25Index.queryTable]] top-10 for
    * the six-query workload (probe IO ∝ |workload terms|·16 shards —
    * never the corpus), the semantic leg is
    * [[graft.similarity.IvfIndex.probe]] top-10 for each query's
    * vector (query_id 10+i ↦ embedding store vector i; scan reads the
    * probed 4/16 cells' live generation dirs only), and the fusion is
    * the INTEGER-exact reciprocal-rank pattern (q250's discipline:
    * RRF(d) = Σ_legs ⌊10⁶/(60+rank)⌋, truncating `div` ≡ DuckDB `//`) —
    * no float score mixing across engines, a doc outside a leg's
    * top-10 contributes exact 0 from that leg. Both indexes are
    * session-cached full-corpus bootstraps (the q283/q300 snapshot
    * discipline); the query itself runs read-only probes.
    *
    * Scale shape: each leg's IO is its index's audited probe bound
    * (posting shards + doc buckets + 1 stats bucket; nProbe/nCells
    * cell dirs); the fusion full-outer-joins two ≤10-row-per-query
    * frames — corpus-size-independent end to end. */
  private def persistedHybridRag(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Clustering, IvfIndex}
    import graft.text.Bm25Index
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, dir)
    // lexical leg: q303's session-cached full-corpus BM25 index
    val bmIdx = bm25Attach(spark,
      SessionFixtures.shared("bm25f", dir, Bm25Parts)(bm25Build(spark, docs)))
    val workload = Bm25QueryTable.flatMap { case (qid, ts) =>
      ts.map((qid, _))
    }.toDF("query_id", "term")
    val lex = Bm25Index.queryTable(spark, bmIdx, workload, k = 10)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank_lex"))
    // semantic leg: session-cached manifest-committed IVF index
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val Seq(ivfRoot) = SessionFixtures.shared("ivff", dir, Seq("ivf")) { ds =>
      IvfIndex.mergeBatch(emb.select("vec_id", "embedding"), "vec_id",
        "embedding", centroids, ds(0), batchSeq = 1L)
    }
    val qVecs = emb.where(col("vec_id") < 6)
      .select((col("vec_id") + 10L).as("vec_id"), col("embedding"))
    val sem = IvfIndex.probe(spark, ivfRoot, qVecs, "vec_id", "embedding",
        centroids, nProbe = 4, k = 10)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("rank_sem"))
    // integer-exact RRF fusion (the q250 discipline, per query)
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_sem)"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("rrf_micro"), asc("doc_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .where(col("fused_rank") <= 10)
      .select("query_id", "fused_rank", "doc_id", "rrf_micro",
        "rank_lex", "rank_sem")
      .orderBy("query_id", "fused_rank")
  }

  /** q311: COMPRESSED HYBRID RETRIEVAL (VERDICT r14 #4) — q307 with
    * the semantic leg on the PRODUCTION 100 TB shape: the persisted
    * index carries PQ codes (q295's merge-time encode) and the leg is
    * [[graft.similarity.IvfIndex.probeAdc]] — the compressed stage
    * scans ONLY (cell, id, codes) for the probed cells (floats absent
    * from its ReadSchema, pinned in Round12OpsSpec), ADC-scores
    * against per-query LUTs, and decodes floats solely for the
    * shortlist's exact-L2 rerank. The lexical leg and the
    * integer-exact RRF fusion are q307's verbatim (⌊10⁶/(60+rank)⌋
    * per leg, absent-leg docs contribute exact 0). The oracle replays
    * BOTH legs bit-for-bit: the global BM25 workload AND the full
    * IVF-PQ pipeline (seed coarse cells, seed + one integer-fixed
    * Lloyd refinement of the codebooks, code assignment, probe
    * ranking, LUT build, ADC shortlist, exact rerank — q139's replay
    * at leg-k 10) fused by the same floor-div arithmetic.
    *
    * Scale shape: the lexical leg's IO is the audited queryTable
    * bound; the compressed leg reads m=8 code bytes per row for
    * nProbe/nCells of the index and floats for the ≤100-row-per-query
    * shortlist only; the fusion full-outer-joins two ≤10-row/query
    * frames — the difference from q307 at 100 TB is the semantic
    * leg's scan bytes, not the plan shape. */
  private def compressedHybridRag(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Clustering, IvfIndex, Pq}
    import graft.text.Bm25Index
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, dir)
    // lexical leg: the shared session-cached full-corpus BM25 index
    val bmIdx = bm25Attach(spark,
      SessionFixtures.shared("bm25f", dir, Bm25Parts)(bm25Build(spark, docs)))
    val workload = Bm25QueryTable.flatMap { case (qid, ts) =>
      ts.map((qid, _))
    }.toDF("query_id", "term")
    val lex = Bm25Index.queryTable(spark, bmIdx, workload, k = 10)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank_lex"))
    // semantic leg: session-cached CODED index (q139/q295 parameters),
    // probed compressed
    val coarse = Clustering.seedCentroids(emb, "vec_id", "embedding", 8)
    val cb = Pq.fit(emb, "vec_id", "embedding", m = 8, sub = 8, k = 64)
    val Seq(codedRoot) = SessionFixtures.shared("ivfcf", dir, Seq("ivf")) { ds =>
      IvfIndex.mergeBatch(emb.select("vec_id", "embedding"), "vec_id",
        "embedding", coarse, ds(0), batchSeq = 1L, encodeWith = Some(cb))
    }
    val qVecs = emb.where(col("vec_id") < 6)
      .select((col("vec_id") + 10L).as("vec_id"), col("embedding"))
    val sem = IvfIndex.probeAdc(spark, codedRoot, qVecs, "vec_id",
        "embedding", coarse, cb, nProbe = 4, shortlist = 100, k = 10)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("rank_sem"))
    // integer-exact RRF fusion (q307's arithmetic verbatim)
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_sem)"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("rrf_micro"), asc("doc_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .where(col("fused_rank") <= 10)
      .select("query_id", "fused_rank", "doc_id", "rrf_micro",
        "rank_lex", "rank_sem")
      .orderBy("query_id", "fused_rank")
  }

  /** q304: CROSS-FAMILY SINGLE-MANIFEST COMMIT (VERDICT r12 #4) — the
    * curation pipeline ships dedup verdicts AND a searchable BM25 index
    * for the SAME corpus, so "kept ⟺ searchable" must flip atomically:
    * [[graft.curation.CuratedIndexes]] stages both families' rewrites
    * (dedup shingle+doc, bm25 term+doc+stats) and publishes all five
    * bucket sets + the batch id in ONE manifest rename per batch
    * (Round13OpsSpec crash-injects BETWEEN the families). The query
    * runs bootstrap (doc_id % 5 sample) + two merge batches + a
    * TAKEDOWN batch retracting the original docs with doc_id % 10 = 0
    * (both families re-audit tombstones against the retained corpus in
    * the same commit), then scores the fixed 6-term BM25 query against
    * the final snapshot, with the global stats row and manifest
    * position as census columns. The oracle replays the two dedup
    * batches incrementally, deletes the retracted ids, and computes
    * one-shot BM25 + the stats from first principles over the
    * remaining kept corpus — a doc indexed despite being dropped, a
    * retained posting of a taken-down doc, or a stats drift all
    * hash-fail.
    *
    * Scale shape: per batch exactly the q283 + q300 probe/rewrite
    * costs plus ONE manifest rename — the atomicity is free; gc keeps
    * the retained-snapshot union across all five indexes. */
  private def curatedIndexCommit(spark: SparkSession, dir: String): DataFrame = {
    import graft.curation.CuratedIndexes
    import graft.text.Bm25Index
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 5 === 0)
    val (b1, b2) = DedupQueries.lifecycleBatches(sample)
    val idx = curatedWorkingCopy(spark, "cur", dir, sample)
    val v1 = CuratedIndexes.processBatch(spark, idx, b1, 1L, k = 3,
      threshold = 0.3, maxShingleDf = 20, maxTermDf = 65536L)
    val kept1 = b1.join(v1.where(col("status") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val v2 = CuratedIndexes.processBatch(spark, idx, b2, 2L, k = 3,
      threshold = 0.3, maxShingleDf = 20, maxTermDf = 65536L)
    val kept2 = b2.join(v2.where(col("status") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val retractDocs = sample.where(col("doc_id") % 10 === 0)
    val retained = sample
      .join(retractDocs.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(kept1).unionByName(kept2)
    CuratedIndexes.retractBatch(spark, idx, retractDocs, 3L, k = 3,
      maxShingleDf = 20, maxTermDf = 65536L, retained = Some(retained))
    val mf = idx.dedup.manifest.read().get
    import spark.implicits._
    val g = idx.bm25.stats.probe(Seq("g").toDF("k"),
        mf.buckets(idx.bm25.statsName))
      .where(col("k") === "g").head()
    val out = Bm25Index.query(spark, idx.bm25, Bm25Terms, k = 10)
      .withColumn("n_index_docs", lit(g.getLong(1)))
      .withColumn("total_dl", lit(g.getLong(2)))
      .withColumn("manifest_version", lit(mf.version))
      .withColumn("batch_seq", lit(mf.batchSeq))
      .orderBy("rank")
      .localCheckpoint(true)
    Seq(v1, v2).foreach(
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    out
  }

  /** A fresh clone of `recipe`'s [[graft.curation.CuratedIndexes]]
    * bootstrap of `corpus` (k = 3, df caps 20 and 65536), attached: the
    * dedup and BM25 families, plus the IVF family when `ann` gives its
    * centroids and the corpus vectors. Built once per session per sf
    * dir, as for [[dedupWorkingCopy]]. */
  private def curatedWorkingCopy(
      spark: SparkSession, recipe: String, dir: String, corpus: DataFrame,
      ann: Option[(Seq[(Int, Array[Double])], DataFrame)] = None)
      : graft.curation.CuratedIndexes.Indexes = {
    import graft.curation.CuratedIndexes
    def annAt(ds: Seq[String]) =
      ann.map { case (centroids, _) => CuratedIndexes.Ann(ds(6), centroids) }
    val w = SessionFixtures.cloned(spark, recipe, dir,
        Seq("si", "di", "t", "d", "g", "m") ++ ann.map(_ => "a")) { ds =>
      CuratedIndexes.bootstrap(spark, corpus, k = 3, maxShingleDf = 20,
        maxTermDf = 65536L, ds(0), ds(1), ds(2), ds(3), ds(4), ds(5),
        rowCap = 65536L, ann = annAt(ds), annVecs = ann.map(_._2))
    }
    CuratedIndexes.attach(spark, w(0), w(1), w(2), w(3), w(4), w(5),
      rowCap = 65536L, ann = annAt(w))
  }

  /** q306: ANN FAMILY IN THE CROSS-FAMILY COMMIT (VERDICT r13 #2) —
    * the curation invariant at full strength is "kept ⟺ searchable ⟺
    * ANN-retrievable": [[graft.curation.CuratedIndexes]] now stages
    * the kept docs' VECTORS into an IVF index (per-cell generations,
    * the r14 commit protocol) alongside the five text-index bucket
    * sets, and ONE manifest rename publishes all seven per batch —
    * merges AND the takedown, whose retractVecs locate the touched
    * cells by the same assignment arithmetic as the inserts. The
    * fixture is q304's (doc_id % 5 sample, two merge batches, a
    * takedown of the % 10 originals) with each doc's vector looked up
    * in the embedding store at vec_id = doc_id % 1e6 (batch copies
    * share their original's vector; docs without an embedding row are
    * searchable but not vector-retrievable — the honest production
    * shape). Output: exact-L2 top-5 per external query vector over the
    * final committed ANN family, plus the index-row census. The oracle
    * replays the two dedup batches, deletes the retracted ids, joins
    * the remaining kept corpus to the embedding store, and re-derives
    * seed centroids, assignment, the 4/16 sub-exhaustive probe, and
    * the L2 ranking in SQL (q285's replay over q304's kept set) — a
    * vector of a dropped doc, a missing kept vector, or a
    * half-applied takedown all hash-fail.
    *
    * Scale shape: per batch the q283 + q300 probe/rewrite costs plus
    * the IVF touched-cell rewrites plus ONE rename; the ANN feed rides
    * the batch as a broadcast semi-join on the kept ids — no
    * cross-family re-read. */
  /** The q306/q310 shared fixture: the doc_id % 5 corpus, its
    * (doc_id, vector) lookup against the embedding store (vec_id =
    * doc_id % 1e6 — batch copies share their original's vector), and a
    * clone of the corpus's seven-index bootstrap with the frozen
    * 16-seed centroids (one O(corpus) build per sf dir shared by both
    * queries — VERDICT r14 #1's bootstrap-sharing). */
  private def curatedAnnFixture(spark: SparkSession, dir: String) = {
    import graft.similarity.Clustering
    val emb = Tables.embeddings(spark, dir)
    val sample = Tables.documents(spark, dir).select("doc_id", "text")
      .where(col("doc_id") % 5 === 0)
    val vecsOf = (docs: DataFrame) =>
      docs.select(col("doc_id"), (col("doc_id") % 1000000L).as("__vid"))
        .join(emb.select(col("vec_id").as("__vid"), col("embedding")),
          Seq("__vid"))
        .select("doc_id", "embedding")
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val idx = curatedWorkingCopy(spark, "cura", dir, sample,
      Some((centroids, vecsOf(sample))))
    (emb, sample, vecsOf, idx)
  }

  private def curatedAnnCommit(spark: SparkSession, dir: String): DataFrame = {
    import graft.curation.CuratedIndexes
    val (emb, sample, vecsOf, idx) = curatedAnnFixture(spark, dir)
    val (b1, b2) = DedupQueries.lifecycleBatches(sample)
    val v1 = CuratedIndexes.processBatch(spark, idx, b1, 1L, k = 3,
      threshold = 0.3, maxShingleDf = 20, maxTermDf = 65536L,
      annVecs = Some(vecsOf(b1)))
    val v2 = CuratedIndexes.processBatch(spark, idx, b2, 2L, k = 3,
      threshold = 0.3, maxShingleDf = 20, maxTermDf = 65536L,
      annVecs = Some(vecsOf(b2)))
    val kept1 = b1.join(v1.where(col("status") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val kept2 = b2.join(v2.where(col("status") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val retractDocs = sample.where(col("doc_id") % 10 === 0)
    val retained = sample
      .join(retractDocs.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(kept1).unionByName(kept2)
    CuratedIndexes.retractBatch(spark, idx, retractDocs, 3L, k = 3,
      maxShingleDf = 20, maxTermDf = 65536L, retained = Some(retained),
      retractVecs = Some(vecsOf(retractDocs)))
    val nAnn = CuratedIndexes.readAnn(spark, idx).count()
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val out = CuratedIndexes.probeAnn(spark, idx, queries, nProbe = 4, k = 5)
      .withColumnRenamed("vec_id", "doc_id")
      .withColumn("n_ann_rows", lit(nAnn))
      .orderBy("query_id", "rank")
      .localCheckpoint(true)
    Seq(v1, v2).foreach(
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
    out
  }

  /** q310: CURATED-ANN REBUILD UNDER THE SHARED MANIFEST (VERDICT r14
    * #3) — the lifecycle job that un-freezes the curated tier's
    * centroids without breaking "kept ∧ embedded ⟺ ANN-retrievable":
    * from the q306 shared bootstrap (session-cached, cloned per run), a
    * takedown first retracts the doc_id % 10 originals across all
    * seven indexes (so the rebuild provably reads the CURRENT
    * membership, not the bootstrap's), then
    * [[graft.curation.CuratedIndexes.rebuildAnn]] refits the centroids
    * with ONE exact fixed-point Lloyd mean-update over the committed
    * ann membership, reassigns every row, and publishes the whole new
    * cell layout in ONE shared-manifest rename that carries the five
    * text families' bucket sets unchanged. Output: exact-L2 top-5 per
    * external query vector probed with the REFIT centroids, plus the
    * post-rebuild member/cell census. The oracle replays everything
    * from first principles: the post-takedown kept ∧ embedded corpus,
    * seed assignment, the integer-fixed mean refit, reassignment, the
    * 4-cell probe ranking against the refit centroids, and the L2
    * top-5 — a row from a retracted doc, a stale pre-rebuild
    * assignment, or a drifted mean all hash-fail.
    *
    * Scale shape: the takedown is q306's audited per-batch bound; the
    * rebuild is one full-FAMILY read + one cells×dim fixed-point
    * aggregation + one full-family write — the monthly-job cost, never
    * the per-batch path; the text families contribute ZERO IO to the
    * rebuild commit (their bucket sets are carried by name). */
  private def curatedAnnRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.curation.CuratedIndexes
    val (emb, sample, vecsOf, idx) = curatedAnnFixture(spark, dir)
    val retractDocs = sample.where(col("doc_id") % 10 === 0)
    val retained = sample
      .join(retractDocs.select("doc_id"), Seq("doc_id"), "left_anti")
    CuratedIndexes.retractBatch(spark, idx, retractDocs, 1L, k = 3,
      maxShingleDf = 20, maxTermDf = 65536L, retained = Some(retained),
      retractVecs = Some(vecsOf(retractDocs)))
    val idx2 = CuratedIndexes.rebuildAnn(spark, idx, batchSeq = 2L)
    val census = CuratedIndexes.readAnn(spark, idx2)
      .agg(count(lit(1)).as("n"), countDistinct(col("cell")).as("c")).head()
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    CuratedIndexes.probeAnn(spark, idx2, queries, nProbe = 4, k = 5)
      .withColumnRenamed("vec_id", "doc_id")
      .withColumn("n_ann_rows", lit(census.getLong(0)))
      .withColumn("n_cells", lit(census.getLong(1)))
      .orderBy("query_id", "rank")
  }

  /** The q303 query workload: id → term set ('shuffle' is absent from
    * the corpus vocabulary — the missing-term path). */
  private[queries] val Bm25QueryTable: Seq[(Long, Seq[String])] = Seq(
    10L -> Seq("table", "join"),
    11L -> Seq("hash", "dup", "stream"),
    12L -> Seq("vector", "query"),
    13L -> Seq("sort", "merge", "shuffle"),
    14L -> Seq("scan", "filter", "batch", "table"),
    15L -> Seq("join", "vector"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_indexed_dedup_retract" -> indexedDedupRetract,
    "q302_bm25_index_retract" -> bm25IndexRetract,
    "q303_bm25_query_table_topk" -> bm25QueryTableTopK,
    "q304_curated_index_commit" -> curatedIndexCommit,
    "q306_curated_ann_commit" -> curatedAnnCommit,
    "q310_curated_ann_rebuild" -> curatedAnnRebuild,
    "q307_persisted_hybrid_rag" -> persistedHybridRag,
    "q311_compressed_hybrid_rag" -> compressedHybridRag,
    "q308_streaming_takedown" -> streamingTakedown,
    "q309_cdc_tombstone_compact" -> cdcTombstoneCompact,
    "q305_ivf_index_delete" -> ivfIndexDelete,
    "q300_persisted_bm25_topk" -> persistedBm25TopK,
    "q297_index_time_travel" -> indexTimeTravel,
    "q293_indexed_dedup_drift_audit" -> indexedDedupDriftAudit,
    "q283_streaming_indexed_dedup" -> streamingIndexedDedup,
    "q285_streaming_ivf_index" -> streamingIvfIndex,
    "q274_streaming_inc_dedup" -> streamingIncDedup,
    "q239_streaming_cusum" -> streamingCusumQ,
    "q120_tws_watermark" -> twsWatermarkReplay,
    "q127_streaming_moments" -> streamingMoments,
    "q141_streaming_topk" -> streamingTopK,
    "q142_streaming_anomaly" -> streamingAnomaly,
    "q43_wire_roundtrip" -> wireRoundtrip,
    "q44_streaming_bars" -> streamingBars,
    "q45_streaming_dedup" -> streamingDedup,
    "q76_streaming_sessions" -> streamingSessions,
    "q91_streaming_sessions_append" -> streamingSessionsAppend,
    "q98_streaming_window_distinct" -> streamingWindowDistinct,
    "q229_streaming_heavy_hitters" -> streamingHeavyHitters,
    "q103_streaming_cdc_apply" -> streamingCdcApply,
    "q107_streaming_sliding_windows" -> streamingSlidingWindows,
    "q215_chained_window_rollup" -> chainedWindowRollup,
    "q231_windowed_agg_join" -> windowedAggJoin,
    "q237_join_then_agg" -> joinThenAgg
  )

  /** One replayed q274 micro-batch as DuckDB CTEs: shingles over
    * keep ∪ batch, the ≤20 df cap, pairs touching the batch only
    * (higher id ≥ `minDrop`), Jaccard ≥ 0.3 edges, recursive min-label
    * components. Mirrors [[graft.dedup.Dedup.incrementalDedup]] and the
    * q111 oracle, once per batch. */
  private def incDedupBatchSql(n: Int, union: String, minDrop: Long): String =
    s"""t$n AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM $union),
       |g$n AS (
       |  SELECT doc_id,
       |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                        for i in range(1, len(toks) - 1)]) AS sh
       |  FROM t$n),
       |ex$n AS MATERIALIZED (SELECT doc_id, unnest(sh) AS sg FROM g$n),
       |ok$n AS (SELECT sg FROM ex$n GROUP BY sg HAVING count(*) <= 20),
       |f$n AS MATERIALIZED (
       |  SELECT ex$n.doc_id, ex$n.sg FROM ex$n JOIN ok$n USING (sg)),
       |z$n AS (SELECT doc_id, count(*) AS n FROM f$n GROUP BY 1),
       |i$n AS (
       |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
       |  FROM f$n a JOIN f$n b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |  WHERE b.doc_id >= $minDrop
       |  GROUP BY 1, 2),
       |e$n AS (
       |  SELECT x, y FROM i$n
       |  JOIN z$n sa ON sa.doc_id = i$n.x
       |  JOIN z$n sb ON sb.doc_id = i$n.y
       |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.3),
       |y$n AS (SELECT x, y FROM e$n UNION SELECT y, x FROM e$n),
       |reach$n AS (
       |  SELECT x, x AS label FROM (SELECT DISTINCT x FROM y$n)
       |  UNION
       |  SELECT s.x, r.label FROM y$n s JOIN reach$n r ON s.y = r.x),
       |lab$n AS (SELECT x AS node, min(label) AS label FROM reach$n GROUP BY x)""".stripMargin

  /** q285: STREAMING IVF index maintenance (VERDICT r10 #3) — the
    * similarity-side twin of q283: embeddings arrive in three
    * micro-batches and [[graft.similarity.IvfIndex.mergeBatch]] extends
    * a persisted cell-partitioned parquet index per batch (frozen seed
    * centroids, no per-batch refit — drift caveat in IvfIndex's
    * scaladoc); probes then read ONLY the probed cells' live generation dirs
    * (4 of 16 per query) and score exact L2 inside them. Assignment is
    * order-independent and the merge idempotent, so the streamed index
    * equals the one-shot build — the oracle replays seed centroids,
    * assignment, per-query probe ranking, and L2 top-5 in SQL
    * (sub-exhaustive probe INCLUDED, the q139 discipline).
    * Round11OpsSpec pins the cross-batch contract: a vector arriving in
    * batch 3 is findable afterwards, recall@5 vs brute force at the
    * measured floor, and the probe scan's partition pruning. */
  private def streamingIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Clustering, IvfIndex}
    val emb = Tables.embeddings(spark, dir)
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val idxDir = MlQueries.tempDirDeletedOnExit("graft_ivfidx_")
    val batches = (0 until 3).map(i =>
      emb.select("vec_id", "embedding")
        .where(pmod(col("vec_id"), lit(3)) === i))
    val watch = stageBatches("graft_ivfidx_", batches)
    val stream = spark.readStream
      .schema(emb.select("vec_id", "embedding").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watch)
    drain(stream) { s =>
      s.writeStream
        .option("checkpointLocation",
          MlQueries.tempDirDeletedOnExit("graft_ivfidx_ckpt_"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          IvfIndex.mergeBatch(batch, "vec_id", "embedding", centroids,
            idxDir, batchSeq = id + 1)
          ()
        }
        .start()
    }
    IvfIndex.probe(spark, idxDir, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", centroids, nProbe = 4, k = 5)
      .orderBy("query_id", "rank")
  }

  /** q285 oracle: the one-shot replay the idempotent stream converges
    * to — seed centroids (first 16 by vec_id), argmin assignment, the
    * same ‖c‖²−2·q·c probe ranking (top 4 cells per query), exact-L2
    * top-5 within probed cells. */
  private def streamingIvfIndexOracle: String = ivfProbeOracle("TRUE")

  /** The q285 one-shot IVF replay, with a candidate predicate so q305
    * can restrict the INDEX side to the undeleted rows (seeds and the
    * query set stay full-corpus — centroids were fit before the
    * deletion, and queries are external vectors). */
  private def ivfProbeOracle(candWhere: String): String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
      |cc AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
      |         dv
      |  FROM (SELECT vec_id, dv FROM v ORDER BY vec_id LIMIT 16)),
      |ca AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT x.vec_id, c.cell,
      |           row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
      |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
      |             c.cell) AS rn
      |    FROM v x CROSS JOIN cc c) WHERE rn = 1),
      |probe AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
      |             - list_sum([q.dv[i]*c.dv[i] for i in range(1, 65)])*2,
      |             c.cell) AS rn
      |    FROM (SELECT * FROM v WHERE vec_id < 10) q CROSS JOIN cc c)
      |  WHERE rn <= 4),
      |scored AS (
      |  SELECT pr.query_id, x.vec_id,
      |         list_sum([(q.dv[i]-x.dv[i])*(q.dv[i]-x.dv[i])
      |                   for i in range(1, 65)]) AS l2
      |  FROM ca JOIN probe pr ON pr.cell = ca.cell
      |  JOIN v x ON x.vec_id = ca.vec_id
      |  JOIN v q ON q.vec_id = pr.query_id
      |  WHERE $candWhere),
      |ranked AS (
      |  SELECT query_id, vec_id, l2,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY l2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, l2
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q274 oracle: the BATCH SEQUENCE replayed — batch 1 against the
    * original corpus, keep1 = corpus + batch-1 kept docs, batch 2
    * against keep1. The id-threshold status rules are exact membership
    * tests here: batch 1's non-drop endpoints are precisely the
    * original ids (< 10⁶) and batch 2's are precisely keep1 (< 4·10⁶). */
  /** q304 oracle: two incremental-dedup batch replays on the doc_id % 5
    * sample build the kept corpus, the retracted originals are deleted,
    * and one-shot BM25 + the exact global stats are computed over what
    * remains — the corpus the five-index single-manifest pipeline must
    * end up serving. */
  private def curatedIndexCommitOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    val contribs = Bm25Terms.indices.map(bm25ContribSql)
      .mkString("\n         + ")
    s"""WITH RECURSIVE docs5 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM docs5
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM docs5 WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 4000000 AS doc_id, $revText AS text
       |  FROM docs5 WHERE doc_id % 30 = 0),
       |u1 AS (SELECT doc_id, text FROM docs5
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |keep1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM docs5
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |u2 AS (SELECT doc_id, text FROM keep1
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 4000000L)},
       |v2 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 4000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id),
       |remk AS MATERIALIZED (
       |  SELECT doc_id, text FROM keep1
       |  WHERE NOT (doc_id < 1000000 AND doc_id % 10 = 0)
       |  UNION ALL
       |  SELECT b2.doc_id, b2.text FROM b2 JOIN v2 USING (doc_id)
       |  WHERE v2.status = 'kept'),
       |${bm25StatsSql("remk", Bm25Terms)},
       |s AS (
       |  SELECT f.doc_id,
       |         $contribs
       |         AS score
       |  FROM f, l),
       |r AS (
       |  SELECT doc_id, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM s WHERE score > 0)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, score,
       |       l.n_docs AS n_index_docs, l.sum_dl AS total_dl,
       |       CAST(4 AS BIGINT) AS manifest_version,
       |       CAST(3 AS BIGINT) AS batch_seq
       |FROM r, l WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** q307 oracle: the lexical leg is q303's per-query global BM25
    * replay (term-sorted contributions, exact-0.0 absent terms, top-10
    * with the score>0 gate); the semantic leg is q285's IVF probe
    * replay with query vectors 0–5 mapped to query ids 10–15; the
    * fusion is pure integer arithmetic over the two rank columns
    * (`//` ≡ Spark `div` on positives), so no float ever crosses the
    * engine boundary. */
  private def persistedHybridRagOracle: String = {
    val union = Bm25QueryTable.flatMap(_._2).distinct.sorted
    val ix = union.zipWithIndex.toMap
    val perQuery = Bm25QueryTable.map { case (qid, ts) =>
      val contribs = ts.sorted.map(t => bm25ContribSql(ix(t)))
        .mkString("\n         + ")
      s"""  SELECT CAST($qid AS BIGINT) AS query_id, f.doc_id,
         |         $contribs
         |         AS score
         |  FROM f, l""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${bm25StatsSql("documents", union)},
       |s AS (
       |$perQuery),
       |lex AS (
       |  SELECT query_id, doc_id, rank_lex FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score DESC, doc_id) AS rank_lex
       |    FROM s WHERE score > 0) WHERE rank_lex <= 10),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
       |cc AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         dv
       |  FROM (SELECT vec_id, dv FROM v ORDER BY vec_id LIMIT 16)),
       |ca AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM v x CROSS JOIN cc c) WHERE rn = 1),
       |qv AS (SELECT vec_id + 10 AS query_id, dv FROM v WHERE vec_id < 6),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([q.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM qv q CROSS JOIN cc c)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT pr.query_id, x.vec_id AS doc_id,
       |         list_sum([(q.dv[i]-x.dv[i])*(q.dv[i]-x.dv[i])
       |                   for i in range(1, 65)]) AS l2
       |  FROM ca JOIN probe pr ON pr.cell = ca.cell
       |  JOIN v x ON x.vec_id = ca.vec_id
       |  JOIN qv q ON q.query_id = pr.query_id),
       |sem AS (
       |  SELECT query_id, doc_id, rank_sem FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY l2, doc_id) AS rank_sem
       |    FROM scored) WHERE rank_sem <= 10),
       |fused AS (
       |  SELECT coalesce(l.query_id, m.query_id) AS query_id,
       |         coalesce(l.doc_id, m.doc_id) AS doc_id,
       |         l.rank_lex, m.rank_sem,
       |         coalesce(1000000 // (60 + l.rank_lex), 0)
       |           + coalesce(1000000 // (60 + m.rank_sem), 0) AS rrf_micro
       |  FROM lex l FULL OUTER JOIN sem m
       |    ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, rank_lex, rank_sem, rrf_micro,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf_micro DESC, doc_id) AS fused_rank
       |  FROM fused)
       |SELECT query_id, CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
       |       CAST(rrf_micro AS BIGINT) AS rrf_micro,
       |       CAST(rank_lex AS BIGINT) AS rank_lex,
       |       CAST(rank_sem AS BIGINT) AS rank_sem
       |FROM ranked WHERE fused_rank <= 10
       |ORDER BY query_id, fused_rank""".stripMargin
  }

  /** q311 oracle: the q307 lexical-leg replay (global BM25 over the
    * workload) fused with the FULL compressed-leg replay — q139's
    * IVF-PQ pipeline (seed coarse cells, seed codebooks + one
    * integer-fixed Lloyd refinement, code assignment, 4/8 probe
    * ranking, per-query LUTs, ADC shortlist of 100, exact-L2 rerank)
    * at leg-k 10 with query_id = vec_id + 10, then the same floor-div
    * RRF. Any drift in the codebook fit, the code assignment, the ADC
    * arithmetic, the shortlist cut, or the fusion hash-fails. */
  private def compressedHybridRagOracle: String = {
    val union = Bm25QueryTable.flatMap(_._2).distinct.sorted
    val ix = union.zipWithIndex.toMap
    val perQuery = Bm25QueryTable.map { case (qid, ts) =>
      val contribs = ts.sorted.map(t => bm25ContribSql(ix(t)))
        .mkString("\n         + ")
      s"""  SELECT CAST($qid AS BIGINT) AS query_id, f.doc_id,
         |         $contribs
         |         AS score
         |  FROM f, l""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${bm25StatsSql("documents", union)},
       |s AS (
       |$perQuery),
       |lex AS (
       |  SELECT query_id, doc_id, rank_lex FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score DESC, doc_id) AS rank_lex
       |    FROM s WHERE score > 0) WHERE rank_lex <= 10),
       |v AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
       |cc AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
       |           AS cell, dv
       |  FROM (SELECT vec_id, dv FROM v ORDER BY vec_id LIMIT 8)),
       |ca AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM v x CROSS JOIN cc c) WHERE rn = 1),
       |qv AS MATERIALIZED (
       |  SELECT vec_id + 10 AS query_id, dv FROM v WHERE vec_id < 6),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([q.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM qv q CROSS JOIN cc c)
       |  WHERE rn <= 4),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, sp.s AS s,
       |         list_slice(dv, sp.s*8 + 1, sp.s*8 + 8) AS sub
       |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sp),
       |c0 AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id)
       |                 - 1 AS INTEGER) AS cell, sub
       |  FROM sv WHERE vec_id IN (SELECT vec_id FROM v
       |                           ORDER BY vec_id LIMIT 64)),
       |d0 AS (
       |  SELECT x.vec_id, x.s, c.cell,
       |         list_sum([c.sub[i]*c.sub[i] for i in range(1, 9)])
       |         - list_sum([x.sub[i]*c.sub[i] for i in range(1, 9)])*2 AS d
       |  FROM sv x JOIN c0 c ON x.s = c.s),
       |a0 AS (
       |  SELECT vec_id, s, cell FROM (
       |    SELECT vec_id, s, cell,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY d, cell) AS rn
       |    FROM d0) WHERE rn = 1),
       |s1 AS (
       |  SELECT a0.s, a0.cell, idx.i AS p,
       |         sum(CAST(round(x.sub[idx.i] * 16777216.0) AS BIGINT))
       |           AS sfix,
       |         count(*) AS n
       |  FROM a0 JOIN sv x ON x.vec_id = a0.vec_id AND x.s = a0.s
       |       CROSS JOIN (SELECT unnest(range(1, 9)) AS i) idx
       |  GROUP BY 1, 2, 3),
       |c1 AS MATERIALIZED (
       |  SELECT s, cell,
       |         list((CAST(sfix AS DOUBLE)/n)/16777216.0 ORDER BY p) AS sub
       |  FROM s1 GROUP BY s, cell),
       |d1 AS (
       |  SELECT x.vec_id, x.s, c.cell,
       |         list_sum([c.sub[i]*c.sub[i] for i in range(1, 9)])
       |         - list_sum([x.sub[i]*c.sub[i] for i in range(1, 9)])*2 AS d
       |  FROM sv x JOIN c1 c ON x.s = c.s),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, cell FROM (
       |    SELECT vec_id, s, cell,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY d, cell) AS rn
       |    FROM d1) WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id + 10 AS query_id, c.s, c.cell,
       |         list_sum([(q.sub[i]-c.sub[i])*(q.sub[i]-c.sub[i])
       |                   for i in range(1, 9)]) AS ld
       |  FROM (SELECT * FROM sv WHERE vec_id < 6) q
       |  JOIN c1 c ON q.s = c.s),
       |scored AS (
       |  SELECT l.query_id, d.vec_id,
       |         sum(CASE WHEN l.s = 0 THEN l.ld END) AS p0,
       |         sum(CASE WHEN l.s = 1 THEN l.ld END) AS p1,
       |         sum(CASE WHEN l.s = 2 THEN l.ld END) AS p2,
       |         sum(CASE WHEN l.s = 3 THEN l.ld END) AS p3,
       |         sum(CASE WHEN l.s = 4 THEN l.ld END) AS p4,
       |         sum(CASE WHEN l.s = 5 THEN l.ld END) AS p5,
       |         sum(CASE WHEN l.s = 6 THEN l.ld END) AS p6,
       |         sum(CASE WHEN l.s = 7 THEN l.ld END) AS p7
       |  FROM codes d
       |  JOIN ca ON ca.vec_id = d.vec_id
       |  JOIN probe pr ON pr.cell = ca.cell
       |  JOIN lut l ON l.s = d.s AND l.cell = d.cell
       |             AND l.query_id = pr.query_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY p0+p1+p2+p3+p4+p5+p6+p7, vec_id) AS srn
       |    FROM scored) WHERE srn <= 100),
       |rr AS (
       |  SELECT s.query_id, s.vec_id,
       |         list_sum([(q.dv[i]-c.dv[i])*(q.dv[i]-c.dv[i])
       |                   for i in range(1, 65)]) AS l2
       |  FROM short s
       |  JOIN v c ON c.vec_id = s.vec_id
       |  JOIN qv q ON q.query_id = s.query_id),
       |sem AS (
       |  SELECT query_id, vec_id AS doc_id, rank_sem FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY l2, vec_id) AS rank_sem
       |    FROM rr) WHERE rank_sem <= 10),
       |fused AS (
       |  SELECT coalesce(l.query_id, m.query_id) AS query_id,
       |         coalesce(l.doc_id, m.doc_id) AS doc_id,
       |         l.rank_lex, m.rank_sem,
       |         coalesce(1000000 // (60 + l.rank_lex), 0)
       |           + coalesce(1000000 // (60 + m.rank_sem), 0) AS rrf_micro
       |  FROM lex l FULL OUTER JOIN sem m
       |    ON l.query_id = m.query_id AND l.doc_id = m.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, rank_lex, rank_sem, rrf_micro,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf_micro DESC, doc_id) AS fused_rank
       |  FROM fused)
       |SELECT query_id, CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
       |       CAST(rrf_micro AS BIGINT) AS rrf_micro,
       |       CAST(rank_lex AS BIGINT) AS rank_lex,
       |       CAST(rank_sem AS BIGINT) AS rank_sem
       |FROM ranked WHERE fused_rank <= 10
       |ORDER BY query_id, fused_rank""".stripMargin
  }

  /** q306 oracle: q304's two-batch dedup replay + takedown DELETE
    * builds the remaining kept corpus, the embedding store joins in at
    * vec_id = doc_id % 1e6, and the q285 IVF replay (seed centroids,
    * argmin assignment, 4/16 probe, exact-L2 top-5) runs over exactly
    * those vectors — what the committed ANN family must serve. */
  private def curatedAnnCommitOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    s"""WITH RECURSIVE docs5 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM docs5
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM docs5 WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 4000000 AS doc_id, $revText AS text
       |  FROM docs5 WHERE doc_id % 30 = 0),
       |u1 AS (SELECT doc_id, text FROM docs5
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |keep1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM docs5
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |u2 AS (SELECT doc_id, text FROM keep1
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 4000000L)},
       |v2 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 4000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id),
       |remk AS MATERIALIZED (
       |  SELECT doc_id, text FROM keep1
       |  WHERE NOT (doc_id < 1000000 AND doc_id % 10 = 0)
       |  UNION ALL
       |  SELECT b2.doc_id, b2.text FROM b2 JOIN v2 USING (doc_id)
       |  WHERE v2.status = 'kept'),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
       |cc AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |         dv
       |  FROM (SELECT vec_id, dv FROM v ORDER BY vec_id LIMIT 16)),
       |idxv AS MATERIALIZED (
       |  SELECT r.doc_id, v.dv
       |  FROM remk r JOIN v ON v.vec_id = r.doc_id % 1000000),
       |ca AS (
       |  SELECT doc_id, cell FROM (
       |    SELECT x.doc_id, c.cell,
       |           row_number() OVER (PARTITION BY x.doc_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM idxv x CROSS JOIN cc c) WHERE rn = 1),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
       |             - list_sum([q.dv[i]*c.dv[i] for i in range(1, 65)])*2,
       |             c.cell) AS rn
       |    FROM (SELECT * FROM v WHERE vec_id < 10) q CROSS JOIN cc c)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT pr.query_id, x.doc_id,
       |         list_sum([(q.dv[i]-x.dv[i])*(q.dv[i]-x.dv[i])
       |                   for i in range(1, 65)]) AS l2
       |  FROM ca JOIN probe pr ON pr.cell = ca.cell
       |  JOIN idxv x ON x.doc_id = ca.doc_id
       |  JOIN v q ON q.vec_id = pr.query_id),
       |ranked AS (
       |  SELECT query_id, doc_id, l2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY l2, doc_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, l2,
       |       (SELECT CAST(count(*) AS BIGINT) FROM idxv) AS n_ann_rows
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q301 oracle: batch-1 incremental-dedup replay on the doc_id % 6
    * sample, DELETE the retracted originals from the keep set, derive
    * the post-retract censuses from first principles over the remaining
    * corpus (tombstones = shingles with df > 20 over it — exactly what
    * the re-audited index must hold), then replay batch 2 against the
    * remaining keep set. */
  private def indexedDedupRetractOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    s"""WITH RECURSIVE docs6 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM docs6
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM docs6 WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 5000000 AS doc_id, text FROM docs6
       |  WHERE doc_id % 10 = 0),
       |u1 AS (SELECT doc_id, text FROM docs6
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |rem AS MATERIALIZED (
       |  SELECT doc_id, text FROM docs6 WHERE doc_id % 10 != 0
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |tr AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM rem),
       |gr AS (
       |  SELECT doc_id,
       |         list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
       |                        for i in range(1, len(toks) - 1)]) AS sh
       |  FROM tr),
       |exr AS MATERIALIZED (SELECT doc_id, unnest(sh) AS sg FROM gr),
       |dkr AS MATERIALIZED (SELECT sg, count(*) AS df FROM exr GROUP BY 1),
       |cen AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM rem) AS n_index_docs,
       |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM rem) AS doc_id_checksum,
       |  (SELECT CAST(count(*) AS BIGINT)
       |   FROM exr JOIN dkr USING (sg) WHERE df <= 20) AS n_postings,
       |  (SELECT CAST(count(*) AS BIGINT) FROM dkr WHERE df > 20)
       |    AS n_tombstones),
       |u2 AS (SELECT doc_id, text FROM rem
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 5000000L)},
       |v2 AS (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 5000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status,
       |         coalesce(lab2.label, d.doc_id) AS rep_id
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id)
       |SELECT v2.doc_id, v2.status, CAST(v2.rep_id AS BIGINT) AS rep_id,
       |       cen.n_index_docs, cen.doc_id_checksum, cen.n_postings,
       |       cen.n_tombstones
       |FROM v2, cen ORDER BY v2.doc_id""".stripMargin
  }

  private def streamingIncDedupOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    s"""WITH RECURSIVE b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM documents WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 4000000 AS doc_id, $revText AS text
       |  FROM documents WHERE doc_id % 30 = 0),
       |u1 AS (SELECT doc_id, text FROM documents
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status,
       |         coalesce(lab1.label, d.doc_id) AS rep_id
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |keep1 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |u2 AS (SELECT doc_id, text FROM keep1
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 4000000L)},
       |v2 AS (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 4000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status,
       |         coalesce(lab2.label, d.doc_id) AS rep_id
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id)
       |SELECT CAST(1 AS BIGINT) AS batch_seq, doc_id, status,
       |       CAST(rep_id AS BIGINT) AS rep_id FROM v1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), doc_id, status, CAST(rep_id AS BIGINT)
       |FROM v2
       |ORDER BY batch_seq, doc_id""".stripMargin
  }

  /** q293 oracle: the recompute leg replayed on the sampled window (the
    * q274 batch-sequence CTEs over doc_id % 4 = 0), reduced to the
    * per-batch verdict census with n_agree = n_docs — the design claim
    * that the indexed leg is bit-identical to the recompute; any
    * engine-side disagreement between its two legs lands as a hash
    * mismatch in the gate. */
  private def indexedDedupDriftOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    def census(n: Int, v: String) =
      s"""SELECT CAST($n AS BIGINT) AS batch_seq,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN status = 'dup_of_keep' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dup_of_keep,
         |       CAST(sum(CASE WHEN status = 'dup_in_drop' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dup_in_drop,
         |       CAST(count(*) AS BIGINT) AS n_status_agree,
         |       CAST(count(*) AS BIGINT) AS n_rep_agree,
         |       TRUE AS all_agree
         |FROM $v""".stripMargin
    s"""WITH RECURSIVE docs4 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM docs4
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM docs4 WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 4000000 AS doc_id, $revText AS text
       |  FROM docs4 WHERE doc_id % 30 = 0),
       |u1 AS (SELECT doc_id, text FROM docs4
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status,
       |         coalesce(lab1.label, d.doc_id) AS rep_id
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |keep1 AS (
       |  SELECT doc_id, text FROM docs4
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |u2 AS (SELECT doc_id, text FROM keep1
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 4000000L)},
       |v2 AS (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 4000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status,
       |         coalesce(lab2.label, d.doc_id) AS rep_id
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id)
       |${census(1, "v1")}
       |UNION ALL
       |${census(2, "v2")}
       |ORDER BY batch_seq""".stripMargin
  }

  /** q297 oracle: both retained snapshots' state censuses derived from
    * first principles — keep_v = sample + kept docs of the replayed
    * batch sequence; tombstones(v) = shingles whose keep-side df
    * crossed the cap (keep only grows, so this is exactly the permanent
    * tombstone set); postings(v) = (shingle, doc) pairs under the cap.
    * replay_agrees is TRUE by the snapshot-determinism claim. */
  private def indexTimeTravelOracle: String = {
    val revText = """array_to_string(list_reverse(
                    |           regexp_split_to_array(trim(text), '\s+')), ' ')""".stripMargin
    def stats(n: Int, keep: String): String =
      s"""tk$n AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM $keep),
         |exk$n AS MATERIALIZED (
         |  SELECT doc_id,
         |         unnest(list_distinct(
         |           [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
         |            for i in range(1, len(toks) - 1)])) AS sg
         |  FROM tk$n),
         |dk$n AS MATERIALIZED (SELECT sg, count(*) AS df FROM exk$n GROUP BY 1),
         |st$n AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM $keep) AS n_index_docs,
         |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM $keep) AS doc_id_checksum,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM exk$n JOIN dk$n USING (sg) WHERE df <= 20) AS n_postings,
         |  (SELECT CAST(count(*) AS BIGINT) FROM dk$n WHERE df > 20)
         |    AS n_tombstones)""".stripMargin
    s"""WITH RECURSIVE docs5 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM docs5
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, $revText
       |  FROM docs5 WHERE doc_id % 15 = 0),
       |b2 AS MATERIALIZED (
       |  SELECT doc_id + 4000000 AS doc_id, $revText AS text
       |  FROM docs5 WHERE doc_id % 30 = 0),
       |u1 AS (SELECT doc_id, text FROM docs5
       |       UNION ALL SELECT doc_id, text FROM b1),
       |${incDedupBatchSql(1, "u1", 1000000L)},
       |v1 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab1.label IS NULL OR lab1.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab1.label < 1000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b1 d LEFT JOIN lab1 ON lab1.node = d.doc_id),
       |keep1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM docs5
       |  UNION ALL
       |  SELECT b1.doc_id, b1.text FROM b1 JOIN v1 USING (doc_id)
       |  WHERE v1.status = 'kept'),
       |u2 AS (SELECT doc_id, text FROM keep1
       |       UNION ALL SELECT doc_id, text FROM b2),
       |${incDedupBatchSql(2, "u2", 4000000L)},
       |v2 AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN lab2.label IS NULL OR lab2.label = d.doc_id
       |                THEN 'kept'
       |              WHEN lab2.label < 4000000 THEN 'dup_of_keep'
       |              ELSE 'dup_in_drop' END AS status
       |  FROM b2 d LEFT JOIN lab2 ON lab2.node = d.doc_id),
       |keep2 AS MATERIALIZED (
       |  SELECT doc_id, text FROM keep1
       |  UNION ALL
       |  SELECT b2.doc_id, b2.text FROM b2 JOIN v2 USING (doc_id)
       |  WHERE v2.status = 'kept'),
       |${stats(1, "keep1")},
       |${stats(2, "keep2")}
       |SELECT CAST(2 AS BIGINT) AS version, CAST(1 AS BIGINT) AS batch_seq,
       |       st1.*, TRUE AS replay_agrees FROM st1
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT), st2.*, TRUE FROM st2
       |ORDER BY version""".stripMargin
  }

  /** One BM25 term contribution over the per-doc tf/df columns —
    * [[graft.text.Retrieval.bm25Term]]'s exact expression tree with the
    * df ≤ 65536 near-stopword gate. */
  private def bm25ContribSql(i: Int): String =
    s"""(CASE WHEN tf$i > 0 AND df$i <= 65536 THEN
       |    ((CAST(n_docs - df$i AS DOUBLE) + 0.5)
       |     / (CAST(df$i AS DOUBLE) + 0.5))
       |    * ((CAST(tf$i AS DOUBLE) * 2.25)
       |       / (CAST(tf$i AS DOUBLE)
       |          + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |                           / (CAST(sum_dl AS DOUBLE) / n_docs))))
       |  ELSE 0.0 END)""".stripMargin

  /** The per-doc tf + global stats CTE chain (d, f, l) for a one-shot
    * global BM25 replay over `corpus` with the given term list — no
    * leading WITH, so callers can splice it after their own CTEs. */
  private def bm25StatsSql(corpus: String, terms: Seq[String]): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n         ")
    val dfs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    ).mkString(",\n         ")
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM $corpus),
       |f AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |         $tfs
       |  FROM d),
       |l AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |         $dfs
       |  FROM f)""".stripMargin
  }

  /** Plain global BM25 top-k over `corpus` — the truth standard the
    * streamed (q300) and streamed+retracted (q302) indexes provably
    * converge to. */
  private def bm25GlobalOracle(corpus: String, terms: Seq[String],
                               k: Int): String = {
    val contribs = terms.indices.map(bm25ContribSql).mkString("\n         + ")
    s"""WITH ${bm25StatsSql(corpus, terms)},
       |s AS (
       |  SELECT f.doc_id,
       |         $contribs
       |         AS score
       |  FROM f, l),
       |r AS (
       |  SELECT doc_id, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM s WHERE score > 0)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, score
       |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    // the idempotent streamed index converges to the one-shot build, so
    // the oracle is plain global BM25 over the FINAL corpus: q92's exact
    // expression tree (rational idf, binary-exact constants, fixed
    // left-assoc term sum) + the same df <= 65536 near-stopword gate
    "q300_persisted_bm25_topk" -> bm25GlobalOracle("documents", Bm25Terms, 10),
    // retract(batch) is bit-equivalent to an index rebuilt without the
    // retracted docs, so the oracle is the same one-shot BM25 over the
    // REMAINING corpus only
    "q302_bm25_index_retract" -> bm25GlobalOracle(
      """(SELECT doc_id, text FROM documents
        |   WHERE (doc_id % 2 = 0 OR doc_id % 4 = 1)
        |     AND doc_id % 10 != 0)""".stripMargin, Bm25Terms, 10),
    // per-query alphabetical-order term sums with exact-0.0 absent
    // terms — the engine's term-sorted fold is IEEE-identical
    "q303_bm25_query_table_topk" -> {
      val union = Bm25QueryTable.flatMap(_._2).distinct.sorted
      val ix = union.zipWithIndex.toMap
      val perQuery = Bm25QueryTable.map { case (qid, ts) =>
        val contribs = ts.sorted.map(t => bm25ContribSql(ix(t)))
          .mkString("\n         + ")
        s"""  SELECT CAST($qid AS BIGINT) AS query_id, f.doc_id,
           |         $contribs
           |         AS score
           |  FROM f, l""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${bm25StatsSql("documents", union)},
         |s AS (
         |$perQuery),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY score DESC, doc_id) AS rank
         |  FROM s WHERE score > 0)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q301_indexed_dedup_retract" -> indexedDedupRetractOracle,
    // the streamed-interleaved pipeline's final state equals the
    // batch-mode merge/retract/merge sequence — the oracle is
    // LITERALLY q301's replay, which is the claim
    "q308_streaming_takedown" -> indexedDedupRetractOracle,
    // the whole lifecycle is set algebra over modulus classes of the
    // sample: live base survives both takedown waves at rev 1; the
    // rev-3 tombstones persist (above the horizon); the rev-2 wave is
    // retired by the compaction AND proof against the straggler (the
    // horizon guard), except the re-admitted %42 class at rev 4
    "q309_cdc_tombstone_compact" ->
      """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
        |rows AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS rev, '' AS op FROM s
        |  WHERE doc_id % 21 <> 0 AND doc_id % 35 <> 0
        |  UNION ALL
        |  SELECT doc_id, CAST(3 AS BIGINT), 'D' FROM s
        |  WHERE doc_id % 35 = 0 AND doc_id % 21 <> 0
        |  UNION ALL
        |  SELECT doc_id, CAST(4 AS BIGINT), '' FROM s
        |  WHERE doc_id % 42 = 0),
        |c AS (
        |  SELECT
        |    CAST((SELECT count(*) FROM s WHERE doc_id % 21 = 0)
        |         AS BIGINT) AS n_dropped,
        |    CAST((SELECT count(*) FROM s
        |          WHERE doc_id % 21 = 0
        |             OR (doc_id % 35 = 0 AND doc_id % 21 <> 0))
        |         AS BIGINT) AS n_tomb_before,
        |    CAST((SELECT count(*) FROM s
        |          WHERE doc_id % 35 = 0 AND doc_id % 21 <> 0)
        |         AS BIGINT) AS n_tomb_after)
        |SELECT r.doc_id, r.rev, r.op, c.n_dropped, c.n_tomb_before,
        |       c.n_tomb_after
        |FROM rows r CROSS JOIN c ORDER BY r.doc_id""".stripMargin,
    "q304_curated_index_commit" -> curatedIndexCommitOracle,
    "q306_curated_ann_commit" -> curatedAnnCommitOracle,
    // the full rebuild replay: post-takedown kept ∧ embedded corpus,
    // seed assignment, integer-fixed Lloyd mean refit, reassignment,
    // refit-centroid probe ranking, exact-L2 top-5 (the q292 replay
    // over the curated membership)
    "q310_curated_ann_rebuild" ->
      """WITH m AS MATERIALIZED (
        |  SELECT d.doc_id, e.embedding::DOUBLE[] AS dv
        |  FROM documents d
        |  JOIN embeddings e ON e.vec_id = d.doc_id % 1000000
        |  WHERE d.doc_id % 5 = 0 AND d.doc_id % 10 <> 0),
        |cc AS MATERIALIZED (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |           AS cell, embedding::DOUBLE[] AS dv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY vec_id LIMIT 16)),
        |a0 AS MATERIALIZED (
        |  SELECT doc_id, cell FROM (
        |    SELECT x.doc_id, c.cell,
        |           row_number() OVER (PARTITION BY x.doc_id ORDER BY
        |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
        |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
        |             c.cell) AS rn
        |    FROM m x CROSS JOIN cc c) WHERE rn = 1),
        |s1 AS (
        |  SELECT a0.cell, idx.i AS pos,
        |         sum(CAST(round(m.dv[idx.i] * 16777216.0) AS BIGINT))
        |           AS sfix,
        |         count(*) AS n
        |  FROM a0 JOIN m USING (doc_id)
        |       CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
        |  GROUP BY 1, 2),
        |c1 AS MATERIALIZED (
        |  SELECT cell,
        |         list((CAST(sfix AS DOUBLE) / n) / 16777216.0 ORDER BY pos)
        |           AS dv
        |  FROM s1 GROUP BY cell),
        |a1 AS MATERIALIZED (
        |  SELECT doc_id, cell FROM (
        |    SELECT x.doc_id, c.cell,
        |           row_number() OVER (PARTITION BY x.doc_id ORDER BY
        |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
        |             - list_sum([x.dv[i]*c.dv[i] for i in range(1, 65)])*2,
        |             c.cell) AS rn
        |    FROM m x CROSS JOIN c1 c) WHERE rn = 1),
        |q AS MATERIALIZED (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS dv
        |  FROM embeddings WHERE vec_id < 10),
        |pr AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qq.query_id, c.cell,
        |           row_number() OVER (PARTITION BY qq.query_id ORDER BY
        |             list_sum([c.dv[i]*c.dv[i] for i in range(1, 65)])
        |             - list_sum([qq.dv[i]*c.dv[i] for i in range(1, 65)])*2,
        |             c.cell) AS rn
        |    FROM q qq CROSS JOIN c1 c) WHERE rn <= 4),
        |scored AS (
        |  SELECT pr.query_id, x.doc_id,
        |         list_sum([(qq.dv[i]-x.dv[i])*(qq.dv[i]-x.dv[i])
        |                   for i in range(1, 65)]) AS l2
        |  FROM a1 ca JOIN pr ON pr.cell = ca.cell
        |  JOIN m x ON x.doc_id = ca.doc_id
        |  JOIN q qq ON qq.query_id = pr.query_id),
        |ranked AS (
        |  SELECT query_id, doc_id, l2,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY l2, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, l2,
        |       (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_ann_rows,
        |       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM a1)
        |         AS n_cells
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q307_persisted_hybrid_rag" -> persistedHybridRagOracle,
    "q311_compressed_hybrid_rag" -> compressedHybridRagOracle,
    // q285's one-shot replay with the index side restricted to the
    // undeleted rows — delete(batch) == build without those rows
    "q305_ivf_index_delete" -> ivfProbeOracle("x.vec_id % 7 != 0"),
    "q297_index_time_travel" -> indexTimeTravelOracle,
    "q293_indexed_dedup_drift_audit" -> indexedDedupDriftOracle,
    "q274_streaming_inc_dedup" -> streamingIncDedupOracle,
    // q283 computes q274's verdicts against persisted indexes — the
    // oracle is LITERALLY the same replay, which is the claim
    "q283_streaming_indexed_dedup" -> streamingIncDedupOracle,
    "q285_streaming_ivf_index" -> streamingIvfIndexOracle,
    // exact equality: 5 distinct types < m = 8, so the MG summary never
    // evicts and equals the plain windowed group-by
    "q229_streaming_heavy_hitters" ->
      """SELECT strftime(to_timestamp(
        |         (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
        |           * 21600000000 // 1000000),
        |         '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming recursion replayed closed-form (the q234 identity):
    // warm sums from the first 30 rows per key (users with fewer never
    // alarm — the HAVING drops them), then S = P − min(0, running-min P)
    // over the fixed-reference deviations; window sums CAST to BIGINT
    "q239_streaming_cusum" ->
      """WITH src AS (
        |  SELECT user_id, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id) AS rn
        |  FROM events),
        |wm AS (
        |  SELECT user_id, CAST(sum(cents) AS BIGINT) AS ws
        |  FROM src WHERE rn <= 30 GROUP BY 1 HAVING count(*) = 30),
        |post AS (
        |  SELECT s.user_id, s.event_id, s.cents,
        |         30 * s.cents - w.ws - 30 * 10 AS du,
        |         w.ws - 30 * s.cents - 30 * 10 AS dn
        |  FROM src s JOIN wm w USING (user_id) WHERE s.rn > 30),
        |p AS (
        |  SELECT user_id, event_id, cents,
        |         CAST(sum(du) OVER win AS BIGINT) AS pu,
        |         CAST(sum(dn) OVER win AS BIGINT) AS pd
        |  FROM post
        |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id
        |                 ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT user_id, event_id, cents,
        |         pu - least(0, CAST(min(pu) OVER win AS BIGINT)) AS su,
        |         pd - least(0, CAST(min(pd) OVER win AS BIGINT)) AS sd
        |  FROM p
        |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id
        |                 ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, event_id, cents,
        |       su > 30 * 150 AS up_alarm, sd > 30 * 150 AS dn_alarm
        |FROM s2 WHERE su > 30 * 150 OR sd > 30 * 150
        |ORDER BY user_id, event_id""".stripMargin,
    // join→agg replayed as the batch interval-join twin grouped on the
    // hour floor; closed-region gate mirrors the post-sink filter
    // (min of both sides' max ts − 1 h watermark − 61 s margin)
    "q237_join_then_agg" ->
      """WITH e AS (
        |  SELECT event_type, user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT user_id, us AS p_us, vc
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT s.s_us, p.vc
        |  FROM s JOIN p ON p.user_id = s.user_id
        |   AND p.p_us BETWEEN s.s_us - 1800000000 AND s.s_us + 1800000000),
        |w AS (
        |  SELECT s_us // 3600000000 * 3600000000 AS h,
        |         count(*) AS n_conversions,
        |         CAST(sum(vc) AS BIGINT) AS conv_cents
        |  FROM j GROUP BY 1),
        |wm AS (
        |  SELECT least(
        |           max(CASE WHEN event_type = 'signup' THEN us END),
        |           max(CASE WHEN event_type = 'purchase' THEN us END)) AS mx
        |  FROM e)
        |SELECT strftime(make_timestamp(h), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       n_conversions, conv_cents
        |FROM w, wm
        |WHERE h + 3600000000 <= mx - 3600000000 - 1800000000 - 61000000
        |ORDER BY hour_start""".stripMargin,
    // windowed-agg ⋈ windowed-agg replayed as two batch group-bys
    // joined on the 30-min window floor (exact integer µs flooring, the
    // q215 grid discipline); the closed-region gate mirrors the Spark
    // side's post-sink filter on min(max click ts, max purchase ts)
    "q231_windowed_agg_join" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |c AS (
        |  SELECT us // 1800000000 * 1800000000 AS w,
        |         count(*) AS click_n, CAST(sum(vc) AS BIGINT) AS click_cents
        |  FROM e WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT us // 1800000000 * 1800000000 AS w,
        |         count(*) AS purchase_n,
        |         CAST(sum(vc) AS BIGINT) AS purchase_cents
        |  FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |wm AS (
        |  SELECT least(
        |           max(CASE WHEN event_type = 'click' THEN us END),
        |           max(CASE WHEN event_type = 'purchase' THEN us END)) AS mx
        |  FROM e)
        |SELECT strftime(make_timestamp(w), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       click_n, click_cents, purchase_n, purchase_cents
        |FROM c JOIN p USING (w), wm
        |WHERE w + 1800000000 <= mx - 31000000
        |ORDER BY win_start""".stripMargin,
    // 15-min buckets then 1-h rollup on exact integer µs flooring
    // (make_timestamp(epoch_us // grid * grid) — NOT epoch(ts)::BIGINT,
    // which ROUNDS in DuckDB while Spark floors); closed-region gate
    // identical to the Spark side's post-sink filter.
    "q215_chained_window_rollup" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |w15 AS (
        |  SELECT event_type, us // 900000000 * 900000000 AS w15_us,
        |         count(*) AS n_ev, sum(vc) AS sum_c
        |  FROM e GROUP BY 1, 2),
        |w60 AS (
        |  SELECT event_type, w15_us // 3600000000 * 3600000000 AS h_us,
        |         count(*) AS n_subwindows,
        |         CAST(sum(n_ev) AS BIGINT) AS n_events,
        |         CAST(sum(sum_c) AS BIGINT) AS sum_cents
        |  FROM w15 GROUP BY 1, 2),
        |wm AS (SELECT max(us) AS mx FROM e)
        |SELECT strftime(make_timestamp(h_us), '%Y-%m-%d %H:%M:%S')
        |         AS hour_start,
        |       event_type, n_subwindows, n_events, sum_cents
        |FROM w60, wm
        |WHERE h_us + 3600000000 <= mx - 31000000
        |ORDER BY event_type, hour_start""".stripMargin,
    // exact-integer moment sums are batch/replay-order invariant, so the
    // one-shot batch aggregate is the oracle for the two-batch streaming
    // run; window sums CAST to BIGINT (HUGEINT guard), doubles derived by
    // the same expression shapes as the engine
    // streaming == batch: the ring-buffer replay must reproduce the batch
    // trailing-window flags exactly, so q131's oracle IS q142's oracle
    "q142_streaming_anomaly" -> FinanceQueries.oracles("q131_anomaly_flags"),
    // the custom aggregate's associative k-bounded merge makes the
    // one-shot batch top-k the oracle for the two-batch streaming run
    "q141_streaming_topk" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS n,
        |         (list(CAST(round(value*100) AS BIGINT)
        |               ORDER BY CAST(round(value*100) AS BIGINT) DESC))[1:3] AS t
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |       t[1] AS top1, t[2] AS top2, t[3] AS top3
        |FROM a ORDER BY event_type""".stripMargin,
    "q127_streaming_moments" ->
      """WITH src AS (
        |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS c FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n_ticks,
        |         CAST(sum(c) AS BIGINT) AS s_cents,
        |         CAST(sum(c*c) AS BIGINT) AS s2_cents
        |  FROM src GROUP BY 1)
        |SELECT user_id, n_ticks, s_cents, s2_cents,
        |       CAST(s_cents AS DOUBLE)/n_ticks/100 AS mean_close,
        |       CASE WHEN n_ticks > 1 THEN
        |         CAST(n_ticks*s2_cents - s_cents*s_cents AS DOUBLE)
        |           /(n_ticks*(n_ticks-1))/10000 END AS var_close
        |FROM a ORDER BY user_id""".stripMargin,
    "q43_wire_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS symbol, count(*) AS n,
        |       min(value) AS min_close, max(value) AS max_close
        |FROM events GROUP BY 1 ORDER BY symbol""".stripMargin,
    "q44_streaming_bars" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start_str,
        |       event_type, min(value) AS low, max(value) AS high,
        |       count(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bar_start_str""".stripMargin,
    "q45_streaming_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // batch 0 = ids not divisible by 3 (all emit: no prior state);
    // batch 1 = full replay, a row emits iff strictly newer than the
    // key's batch-0 max (keys unseen in batch 0 emit everything)
    "q120_tws_watermark" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |b0 AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |m AS (SELECT user_id, max(ts_us) AS mx FROM b0 GROUP BY user_id),
        |b1 AS (
        |  SELECT e.user_id, e.ts_us FROM e LEFT JOIN m USING (user_id)
        |  WHERE m.mx IS NULL OR e.ts_us > m.mx),
        |allr AS (
        |  SELECT user_id, ts_us FROM b0
        |  UNION ALL SELECT user_id, ts_us FROM b1)
        |SELECT user_id, count(*) AS n_emitted,
        |       CAST(sum(ts_us) AS BIGINT) AS sum_ts_us
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q76_streaming_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |         -- strict > : verified empirically — Spark session_window MERGES
        |         -- an event at exactly last_ts + gap into the session
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL 5 MINUTE
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |HAVING count(*) >= 2
        |ORDER BY user_id, session_start""".stripMargin,
    // Append mode emits exactly the sessions the FINAL watermark closed:
    // session_end (last event + gap) <= max(event time) - delay. The <=
    // is empirical (StreamingSpec boundary probe: a session whose end
    // equals the watermark IS emitted). CAST(ts AS TIMESTAMP) truncates
    // DuckDB timestamps (ns or µs fixture alike) to µs, mirroring the
    // Spark-side Tables.rawTsToMicrosFor normalization.
    "q91_streaming_sessions_append" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL 5 MINUTE
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
        |         count(*) AS n_events
        |  FROM s GROUP BY user_id, sid),
        |wm AS (SELECT max(ts) - INTERVAL 30 SECOND AS w FROM e)
        |SELECT user_id,
        |       strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
        |       n_events
        |FROM sess, wm
        |WHERE end_ts + INTERVAL 5 MINUTE <= w
        |  AND n_events >= 2
        |ORDER BY user_id, session_start""".stripMargin,
    // HLL estimate bound asserted as a boolean (q68/q69/q80 pattern):
    // DuckDB recomputes the exact side and asserts TRUE for the check.
    "q98_streaming_window_distinct" ->
      """SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |       count(DISTINCT user_id) AS exact_users,
        |       count(*) AS n_events,
        |       TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Final snapshot = latest rev per key: updated keys carry rev 1 and
    // doubled value. CASE wraps the whole cents expression so both
    // engines run the identical float tree per branch.
    "q103_streaming_cdc_apply" ->
      """SELECT event_id, event_type,
        |       CAST(round(CASE WHEN event_id % 10 = 0 THEN value * 2 * 100
        |                       ELSE value * 100 END) AS BIGINT) AS value_c,
        |       CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS rev
        |FROM events ORDER BY event_id""".stripMargin,
    // Each event's two containing sliding windows, derived in SQL:
    // epoch-aligned width-2h slide-1h windows start at trunc_hour(ts)
    // and trunc_hour(ts) - 1h.
    "q107_streaming_sliding_windows" ->
      """WITH e AS (
        |  SELECT event_type, ts,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |x AS (
        |  SELECT event_type, vc,
        |         unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        |  FROM e)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(vc) AS BIGINT) AS sum_c
        |FROM x GROUP BY 1, 2 ORDER BY event_type, win_start""".stripMargin
  )
}

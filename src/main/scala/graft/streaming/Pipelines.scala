package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming pipelines reproducing the reference's E1/E2 flows
  * (SURVEY.md §3) with the reliability the reference lacks: checkpoints
  * (T3) and watermark dedup instead of driver-local state (T4/P3);
  * event-time bars are the streaming queries' own windows (q107).
  *
  * All transforms are source-agnostic — they take any streaming DataFrame
  * with the wire schema, so tests drive them from MemoryStream/file
  * sources and production wires them to Kafka. */
object Pipelines {

  /** Wire schema of the close-only tick message
    * (`data_collection/fetch_stock.py:54-58`, declared StructType at
    * `streaming_processing/features_engineering.py:23-27`). */
  val tickSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("symbol", StringType),
    StructField("close_price", DoubleType)))

  /** Full OHLCV wire schema (`data_collection/kafka_producer.py:79-87`). */
  val ohlcvSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("symbol", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))

  /** E1 parse stage (`features_engineering.py:38-40`): raw `value` string →
    * from_json(schema) → flattened columns. Identical for batch and
    * streaming frames. */
  def parseWire(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("data"))
      .select("data.*")

  /** Kafka source for E1 (`features_engineering.py:30-35`). Requires the
    * spark-sql-kafka connector on the classpath (present in the
    * reference's deployment, not in this test container). */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Kafka JSON sink (S3/S4: `fetch_stock.py:33-36`, `kafka_producer.py:
    * 12-21`): struct(*) → to_json → value. */
  def kafkaSink(df: DataFrame, brokers: String, topic: String,
                checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.selectExpr("to_json(struct(*)) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** T4 replacement for P3's in-memory dedup state (`fetch_stock.py:43`):
    * exactly-once per (key, ts) within the watermark, durable across
    * restarts via checkpoint. Stricter than the reference, which re-sends
    * duplicates after a crash (divergence noted in SURVEY.md §7). */
  def watermarkDedup(stream: DataFrame, ts: String, key: String,
                     watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(Seq(key, ts))

  /** E2 routing split (P7, `mongo_stream_etl.py:34-39`) as a foreachBatch
    * sink: one pass, two partitioned parquet outputs. `partitionBy(key)`
    * mirrors the reference's per-symbol collections (S10). */
  def routeToSinks(stream: DataFrame, source: String, key: String,
                   historyPath: String, realtimePath: String,
                   checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        b.where(col(source) === "history")
          .write.mode("append").partitionBy(key).parquet(historyPath)
        b.where(col(source) =!= "history" || col(source).isNull)
          .write.mode("append").partitionBy(key).parquet(realtimePath)
        b.unpersist()
        ()
      }

  /** CDC apply — MERGE INTO a parquet snapshot, the streaming twin of
    * [[graft.ops.Merge.upsertLatest]] (the reference's change-stream →
    * keyed-collection upsert loop, `mongo_stream_etl.py:35`). Call from
    * `foreachBatch`.
    *
    * Scale shape: the snapshot is hash-bucket-partitioned on the key
    * (`__bkt = pmod(hash(key), nBuckets)` — hash-based so string CDC
    * keys, the reference's Mongo `_id` shape, bucket as well as numeric
    * ones) and each micro-batch does a
    * read-modify-write scoped to the buckets it touches — existing rows
    * of ONLY those buckets are read back (partition-pruned scan), merged
    * latest-wins with the batch, and rewritten via dynamic partition
    * overwrite. Per-batch cost is proportional to the touched buckets'
    * size, never the full table; untouched buckets are never read or
    * written. The merged frame is eagerly `localCheckpoint`ed so the
    * overwrite does not race its own input scan. The driver-held bucket
    * list is bounded by `nBuckets` (a constant), not data volume. */
  def mergeIntoParquet(batch: DataFrame, sinkDir: String, key: String,
                       version: String, tiebreak: String,
                       nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val bucketed = batch.withColumn("__bkt",
      pmod(hash(col(key)), lit(nBuckets)).cast("int"))
    val affected = bucketed.select("__bkt").distinct()
      .collect().map(_.getInt(0))
    if (affected.isEmpty) return
    // Probed via the Hadoop FileSystem API so the check is correct on any
    // supported URI (HDFS/S3A/file:), not just the local filesystem —
    // java.io.File would silently report false for hdfs:// paths and
    // re-seed the snapshot.
    val sinkExists = {
      val path = new org.apache.hadoop.fs.Path(sinkDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(path) &&
        fs.listStatus(path).exists(_.getPath.getName.startsWith("__bkt="))
    }
    val merged0 =
      if (!sinkExists) graft.ops.Merge.upsertLatest(
        bucketed, bucketed.limit(0), key, version, tiebreak)
      else graft.ops.Merge.upsertLatest(
        spark.read.parquet(sinkDir)
          .where(col("__bkt").isin(affected.toIndexedSeq: _*)),
        bucketed, key, version, tiebreak)
    val merged = merged0.localCheckpoint()
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bkt").parquet(sinkDir)
  }

  /** CDC apply WITH TOMBSTONES — [[mergeIntoParquet]] for a feed whose
    * batches carry an op column ("D" = delete, anything else = upsert).
    * The tombstone rows are PERSISTED in the snapshot (latest-wins on
    * the key keeps the newest row, delete or upsert), so a stale upsert
    * arriving in ANY later batch — not just the same one — cannot
    * resurrect a deleted key: its version loses to the stored
    * tombstone's. Readers exclude tombstones with [[readWithDeletes]]
    * (`op != "D"`); re-admission at a HIGHER version replaces the
    * tombstone. Tombstone rows accrete — key-sized, not document-sized —
    * until [[compactTombstones]] retires those at or below a persisted
    * version horizon; once a horizon is set, THIS merge drops incoming
    * rows (upsert or delete) with version <= horizon before touching
    * any bucket, which is what keeps a dropped tombstone's key
    * unresurrectable. Same touched-bucket cost shape and replay
    * idempotence as the upsert-only form. */
  def mergeIntoParquetWithDeletes(batch: DataFrame, sinkDir: String,
                                  key: String, version: String,
                                  tiebreak: String, opCol: String,
                                  nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val hrz = tombstoneHorizon(spark, sinkDir)
    val bucketed = batch
      // rows at or below the compaction horizon are REJECTED up front
      // (their tombstones may already be gone — see compactTombstones;
      // the horizon contract says the feed no longer delivers them)
      .where(if (hrz == Long.MinValue) lit(true) else col(version) > hrz)
      // a NULL op (feeds often mark only deletes) must read as an upsert
      .withColumn(opCol, coalesce(col(opCol), lit("")))
      .withColumn("__bkt", pmod(hash(col(key)), lit(nBuckets)).cast("int"))
    val affected = bucketed.select("__bkt").distinct()
      .collect().map(_.getInt(0))
    if (affected.isEmpty) return
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkExists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith("__bkt="))
    val base =
      if (!sinkExists) bucketed.limit(0)
      else spark.read.parquet(sinkDir)
        .where(col("__bkt").isin(affected.toIndexedSeq: _*))
    val merged = graft.ops.Merge.upsertLatest(base, bucketed, key,
      version, tiebreak).localCheckpoint()
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bkt").parquet(sinkDir)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(merged)
  }

  /** The live view of a [[mergeIntoParquetWithDeletes]] snapshot:
    * tombstoned keys excluded. */
  def readWithDeletes(spark: org.apache.spark.sql.SparkSession,
                      sinkDir: String, opCol: String): DataFrame =
    spark.read.parquet(sinkDir).where(col(opCol) =!= "D")

  private val HorizonPrefix = "_horizon-"

  /** The store's persisted compaction horizon: the highest version whose
    * tombstones may have been retired, Long.MinValue before the first
    * [[compactTombstones]]. The marker is a value-carrying FILENAME
    * (`_horizon-<v>`, max wins), so raising the horizon is one file
    * create + lower-marker deletes — there is never a moment with no
    * marker on disk, and a crash between the two leaves extra markers
    * whose max is still correct (the manifest-file discipline). */
  def tombstoneHorizon(spark: SparkSession, sinkDir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Long.MinValue
    val vs = fs.listStatus(path).flatMap(s =>
      if (s.getPath.getName.startsWith(HorizonPrefix))
        s.getPath.getName.stripPrefix(HorizonPrefix).toLongOption
      else None)
    if (vs.isEmpty) Long.MinValue else vs.max
  }

  /** TOMBSTONE COMPACTION for a [[mergeIntoParquetWithDeletes]] store —
    * the lifecycle job the persisted-tombstone design defers (VERDICT
    * r14 #2): retire tombstone rows whose version is at or below
    * `horizon`, and persist the horizon so later merges reject any
    * arriving row at or below it (upsert or delete — without the
    * tombstone on disk, the horizon IS the resurrection guard).
    *
    * Horizon contract (the CDC retention contract — Kafka compacted
    * topics' delete retention, a table format's vacuum window): pick a
    * horizon no later than the oldest version the feed can still
    * deliver. Rows above it replay exactly as before; a straggler at or
    * below it is dropped with the same outcome latest-wins would have
    * given it against the now-retired tombstone for deleted keys — but
    * an in-contract feed never sends one.
    *
    * Order of operations makes every crash window safe: the horizon
    * marker lands FIRST (a crash after it leaves all tombstones in
    * place, merely redundant behind the horizon guard — never a
    * droppable tombstone without its guard); the bucket rewrites are
    * the same dynamic-partition overwrite as the merge path, scoped to
    * the buckets that actually hold retirable tombstones (located by a
    * column-pruned (op, version, __bkt) scan); a bucket left EMPTY by
    * the retirement (all rows were old tombstones) is deleted
    * explicitly, since a dynamic overwrite only rewrites partitions it
    * writes rows into. Replaying the pass is a no-op (no rows at or
    * below an already-applied horizon survive to be found). Horizons
    * only ratchet up: a lower re-request keeps the stored one.
    *
    * Returns the number of tombstone rows retired. */
  def compactTombstones(spark: SparkSession, sinkDir: String,
                        version: String, opCol: String,
                        horizon: Long): Long = {
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = tombstoneHorizon(spark, sinkDir)
    val h = math.max(prev, horizon)
    if (h > prev) {
      fs.mkdirs(path)
      val marker = new org.apache.hadoop.fs.Path(sinkDir, s"$HorizonPrefix$h")
      fs.create(marker, true).close()
      // lower markers die AFTER the new one exists; max-wins keeps every
      // intermediate state correct
      fs.listStatus(path).foreach { s =>
        val nm = s.getPath.getName
        if (nm.startsWith(HorizonPrefix) &&
          nm.stripPrefix(HorizonPrefix).toLongOption.exists(_ < h))
          fs.delete(s.getPath, false)
      }
    }
    testCrashAfterHorizonWrite()
    val sinkExists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith("__bkt="))
    if (!sinkExists) return 0L
    val doomed = spark.read.parquet(sinkDir)
      .where(col(opCol) === "D" && col(version) <= h)
    // bounded by nBuckets driver-side ints, never data volume
    val buckets = doomed.select("__bkt").distinct()
      .collect().map(_.getInt(0))
    if (buckets.isEmpty) return 0L
    val nDropped = doomed.count()
    val kept = spark.read.parquet(sinkDir)
      .where(col("__bkt").isin(buckets.toIndexedSeq: _*))
      .where(!(col(opCol) === "D" && col(version) <= h))
      .localCheckpoint()
    val keptBuckets = kept.select("__bkt").distinct()
      .collect().map(_.getInt(0)).toSet
    kept.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bkt").parquet(sinkDir)
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(kept)
    buckets.filterNot(keptBuckets).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(sinkDir, s"__bkt=$b"), true)
    }
    nDropped
  }

  /** Crash-injection point for the compaction spec: fires after the
    * horizon marker is persisted, before any tombstone is dropped.
    * Production never sets it. */
  private[graft] var testCrashAfterHorizonWrite: () => Unit = () => ()

  /** Per-key high-watermark state (T5): the distributed, fault-tolerant
    * form of the reference's `last_timestamps` dict (`fetch_stock.py:43,
    * 57,64`) — emits only rows strictly newer than the key's max seen
    * event time, carrying state across micro-batches. */
  def highWatermarkFilter(spark: SparkSession, stream: DataFrame,
                          key: String, ts: String): DataFrame = {
    import spark.implicits._
    val typed = stream.select(col(key).cast("string"), col(ts).cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val hwm = state.getOption.getOrElse(Long.MinValue)
          val fresh = rows.map(_._2).filter(_ > hwm).toSeq.sorted
          if (fresh.nonEmpty) state.update(math.max(hwm, fresh.max))
          fresh.iterator.map(t => (k, t))
      }
      .toDF(key, ts)
  }

  /** [[highWatermarkFilter]] with a state TTL: idle keys are evicted after
    * `ttlMs` of processing time with no traffic, bounding total state by
    * the cardinality of keys with ANY inbound rows within their TTL (stale
    * behind-watermark rows also re-arm the clock — a key fed only replayed
    * old data stays resident) instead of the all-time one — the
    * difference between O(live symbols) and O(every symbol ever seen)
    * after a year of uptime. The trade-off is explicit and the same one
    * every watermark makes: a row for an evicted key re-admits even if it
    * is older than the evicted high-watermark (the key restarts cold).
    * Keys quieter than their TTL must either tolerate that re-admission
    * or use the untimed variant.
    *
    * Operational note: with ProcessingTimeTimeout the engine considers a
    * timeout potentially expired after EVERY batch
    * (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
    * unconditionally true), so the query runs a batch every trigger
    * interval even with no data — run it under a real trigger (the
    * reference's 60 s cadence, [[ReferenceTrigger]]), never the ASAP
    * default, and don't wait on `processAllAvailable` (it cannot
    * quiesce in this mode). */
  def highWatermarkFilterTtl(spark: SparkSession, stream: DataFrame,
                             key: String, ts: String,
                             ttlMs: Long): DataFrame = {
    import spark.implicits._
    val typed = stream.select(col(key).cast("string"), col(ts).cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (k: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // No traffic for ttlMs → drop the key's watermark entirely.
            state.remove()
            Iterator.empty
          } else {
            val hwm = state.getOption.getOrElse(Long.MinValue)
            val fresh = rows.map(_._2).filter(_ > hwm).toSeq.sorted
            if (fresh.nonEmpty) state.update(math.max(hwm, fresh.max))
            // Any batch that routed rows here (fresh or stale) proves the
            // key is live — re-arm its eviction clock.
            if (state.exists) state.setTimeoutDuration(ttlMs)
            fresh.iterator.map(t => (k, t))
          }
      }
      .toDF(key, ts)
  }

  /** [[highWatermarkFilterTtl]] on the Spark 4 `transformWithState` API:
    * the high watermark lives in a [[ValueState]] with a NATIVE per-state
    * TTL — the state store expires idle keys itself, so the processor has
    * no timer bookkeeping, no `hasTimedOut` branch, and no possibility of
    * forgetting to re-arm. Semantics match the fMGWS variant: any routed
    * row (fresh or stale) re-arms the key's TTL, an evicted key re-admits
    * cold.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — the only backend
    * `transformWithState` supports, and the one a 100 TB deployment runs
    * anyway (changelog checkpointing, bounded executor memory: state
    * lives on local SSD, not on the heap like the HDFS-backed provider).
    * Same operational note as [[highWatermarkFilterTtl]]: processing-time
    * semantics keep the query running a batch per trigger. `ttlMs <= 0`
    * selects `TimeMode.None` with untimed state — the variant that
    * QUIESCES under `processAllAvailable` (no TTL to re-check), used by
    * the deterministic driver replay q120. */
  def highWatermarkFilterTws(spark: SparkSession, stream: DataFrame,
                             key: String, ts: String,
                             ttlMs: Long): DataFrame = {
    import spark.implicits._
    val typed = stream.select(col(key).cast("string"), col(ts).cast("long"))
      .as[(String, Long)]
    val mode = if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    typed.groupByKey(_._1)
      .transformWithState(new HighWatermarkProcessor(ttlMs),
        mode, OutputMode.Append())
      .toDF(key, ts)
  }

  /** The per-key processor behind [[highWatermarkFilterTws]]. */
  private class HighWatermarkProcessor(ttlMs: Long)
      extends StatefulProcessor[String, (String, Long), (String, Long)] {
    @transient private var hw: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hw = getHandle.getValueState[Long]("hw",
        org.apache.spark.sql.Encoders.scalaLong,
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)

    override def handleInputRows(k: String, rows: Iterator[(String, Long)],
                                 tv: TimerValues): Iterator[(String, Long)] = {
      val hwm = if (hw.exists()) hw.get() else Long.MinValue
      val fresh = rows.map(_._2).filter(_ > hwm).toSeq.sorted
      // update() also re-arms the TTL — unconditional, so stale-only
      // traffic keeps the key live (same contract as the fMGWS variant)
      hw.update(if (fresh.nonEmpty) fresh.max else hwm)
      fresh.iterator.map(t => (k, t))
    }
  }

  /** Streaming per-key moment accumulation on `transformWithState`: each
    * key's (count, Σcents, Σc²) lives in a [[ValueState]] and is emitted
    * after every batch that touches the key — the classic "online
    * mean/variance" operator, but with EXACT integer sums instead of
    * float Welford recurrences: the merge is associative and
    * order-independent, so the final state is identical no matter how
    * rows split across batches, partitions, or replays of the same data
    * slice — the property that makes the batch aggregate a valid oracle
    * for the streaming run. Mean/variance are derived from the sums at
    * READ time (one double division each), never stored.
    *
    * State per key is three longs — bounded by key cardinality, not
    * stream length. Int64 headroom: Σc² grows ~3.2e9 per tick at the
    * fixture's price scale → ~2.9e9 ticks per key before overflow; a
    * production deployment at higher scales windows the sums (q98's
    * pattern) or widens to two-long accumulators. */
  def streamingMoments(spark: SparkSession, stream: DataFrame,
                       key: String, cents: String): DataFrame = {
    import spark.implicits._
    val typed = stream.select(col(key).cast("string"), col(cents).cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .transformWithState(new MomentsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF(key, "n_ticks", "s_cents", "s2_cents")
  }

  /** The per-key processor behind [[streamingMoments]]. */
  private class MomentsProcessor
      extends StatefulProcessor[String, (String, Long), (String, Long, Long, Long)] {
    @transient private var m: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      m = getHandle.getValueState[(Long, Long, Long)]("m",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(k: String, rows: Iterator[(String, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Long, Long)] = {
      var (n, s, s2) = if (m.exists()) m.get() else (0L, 0L, 0L)
      rows.foreach { case (_, c) => n += 1; s += c; s2 += c * c }
      m.update((n, s, s2))
      Iterator.single((k, n, s, s2))
    }
  }

  /** Streaming rolling-z-score anomaly gate on `transformWithState`: per
    * key, a BOUNDED ring of the last `n` cents is the whole state, and an
    * incoming tick is emitted iff it clears the same division-free int64
    * gate as the batch operator ([[graft.timeseries.Indicators
    * .anomalyFlag]]): (n−1)·(n·c − Σc)² > k²·n·(n·Σc² − (Σc)²) over the
    * TRAILING window (current tick excluded — it joins the ring after
    * the check). Because the ring spans micro-batch boundaries, a
    * per-key-ordered replay produces EXACTLY the batch query's flags —
    * the batch SQL is the oracle — while state per key stays n longs no
    * matter how long the stream runs. WITHIN a micro-batch the processor
    * sorts each key's rows by `ord` itself (Spark only groups by key, it
    * does not order the intra-key iterator); ACROSS micro-batches rows
    * must still arrive in order — out-of-order production streams put a
    * watermark sort in front (q44's pattern). */
  def streamingAnomaly(spark: SparkSession, stream: DataFrame,
                       key: String, ord: String, cents: String,
                       n: Int, k: Int): DataFrame = {
    import spark.implicits._
    val typed = stream
      .select(col(key).cast("string"), col(ord).cast("long"),
        col(cents).cast("long"))
      .as[(String, Long, Long)]
    typed.groupByKey(_._1)
      .transformWithState(
        new RingAnomalyProcessor(n, k, implicitly[Encoder[Seq[Long]]]),
        TimeMode.None(), OutputMode.Append())
      .toDF(key, ord, cents)
  }

  /** The per-key processor behind [[streamingAnomaly]]. */
  private class RingAnomalyProcessor(n: Int, k: Int,
      ringEnc: Encoder[Seq[Long]])
      extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long)] {
    @transient private var ring: ValueState[Seq[Long]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getValueState[Seq[Long]]("ring", ringEnc, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long)],
        tv: TimerValues): Iterator[(String, Long, Long)] = {
      var buf = if (ring.exists()) ring.get().toVector else Vector.empty[Long]
      val out = Vector.newBuilder[(String, Long, Long)]
      // Spark only groups stateful-operator input by key — intra-key
      // iterator order within a micro-batch is NOT guaranteed with a
      // multi-partition source. Sort the batch's rows by `ord` (cheap:
      // per key per batch) so the replay matches the batch oracle
      // regardless of source partitioning.
      rows.toVector.sortBy(_._2).foreach { case (_, ord, c) =>
        if (buf.length == n) {
          var s = 0L
          var s2 = 0L
          buf.foreach { v => s += v; s2 += v * v }
          val nn = n.toLong
          val dev = nn * c - s
          if ((nn - 1L) * dev * dev > k.toLong * k * nn * (nn * s2 - s * s))
            out += ((key, ord, c))
        }
        buf = (if (buf.length == n) buf.drop(1) else buf) :+ c
      }
      ring.update(buf)
      out.result().iterator
    }
  }

  /** Streaming two-sided CUSUM drift gate on `transformWithState` — the
    * q234 batch changepoint detector as an online operator (the
    * q131↔q142 batch↔streaming parity pattern): per key the ENTIRE
    * state is FOUR longs (warm-up count, warm-up Σcents, S⁺, S⁻) — even
    * tighter than the q142 ring; O(1) per key no matter how long the
    * stream runs. The first `warm` ticks fix the reference sum (a
    * production μ₀ target); every later tick runs the n-scaled
    * division-free recursion S⁺ = max(0, S⁺ + (w·c − Σw − w·k)) and
    * emits iff either side clears w·h. Because the recursion is a pure
    * left fold over the per-key-ordered stream, a per-key-ordered
    * replay produces EXACTLY the batch closed form (prefix-extrema
    * windows — proven equivalent by the q234 spec), so the batch SQL
    * is the oracle. Intra-batch rows are sorted by `ord` here; across
    * batches ordered arrival is the q142 contract. */
  def streamingCusum(spark: SparkSession, stream: DataFrame,
                     key: String, ord: String, cents: String,
                     warm: Int, kAllow: Long, h: Long): DataFrame = {
    import spark.implicits._
    val typed = stream
      .select(col(key).cast("string"), col(ord).cast("long"),
        col(cents).cast("long"))
      .as[(String, Long, Long)]
    typed.groupByKey(_._1)
      .transformWithState(new CusumProcessor(warm, kAllow, h),
        TimeMode.None(), OutputMode.Append())
      .toDF(key, ord, cents, "up_alarm", "dn_alarm")
  }

  /** The per-key processor behind [[streamingCusum]]. */
  private class CusumProcessor(w: Int, kAllow: Long, h: Long)
      extends StatefulProcessor[String, (String, Long, Long),
        (String, Long, Long, Boolean, Boolean)] {
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("cusum",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long)],
        tv: TimerValues): Iterator[(String, Long, Long, Boolean, Boolean)] = {
      var (n, ws, sp, sn) =
        if (st.exists()) st.get() else (0L, 0L, 0L, 0L)
      val wl = w.toLong
      val out = Vector.newBuilder[(String, Long, Long, Boolean, Boolean)]
      rows.toVector.sortBy(_._2).foreach { case (_, ord, c) =>
        if (n < wl) { n += 1; ws += c }
        else {
          sp = math.max(0L, sp + (wl * c - ws - wl * kAllow))
          sn = math.max(0L, sn + (ws - wl * c - wl * kAllow))
          val up = sp > wl * h
          val dn = sn > wl * h
          if (up || dn) out += ((key, ord, c, up, dn))
        }
      }
      st.update((n, ws, sp, sn))
      out.result().iterator
    }
  }

  /** The conf selecting the RocksDB state store provider, the only
    * backend `transformWithState` supports. Set it on a child session
    * (`graft.LocalSpark.withChildSession(spark, RocksDBProvider)`), so
    * co-resident queries on `spark` keep their default. */
  val RocksDBProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The reference's 60-second cadence (T1: `fetch_stock.py:47`). */
  val ReferenceTrigger: Trigger = Trigger.ProcessingTime("60 seconds")
}

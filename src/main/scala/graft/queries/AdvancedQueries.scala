package graft.queries

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.TypedOps
import graft.tables.Tables

/** Advanced surface: stream-stream joins and the SQL face of the custom
  * Catalyst expressions (SparkSessionExtensions / function registry). */
object AdvancedQueries extends QueryPack {

  /** Stream-stream inner join with event-time range bounds and watermarks
    * on both sides (signup↔purchase within 30 minutes) — the streaming
    * twin of q31, checked against the same batch SQL. */
  private def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val signups = src.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("signup_id"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("s_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
    StreamingQueries.runToMemorySink(joined, "ssj", mode = "append")
      .orderBy("user_id", "signup_id", "purchase_id")
  }

  /** q104: stream-stream LEFT OUTER join — the stateful semantics q56's
    * inner join doesn't cover: an unmatched signup is held in state and
    * emitted WITH NULLS only once the global watermark (min of both
    * streams' max event time − delay) passes its join window, which is
    * also the moment its state is evicted — the bounded-state outer join
    * at 100 TB. Probed empirically: matches emit in their processing
    * micro-batch; null rows emit once `s_ts + tolerance < watermark`.
    * Both the streamed result and the batch oracle are restricted to the
    * provably-closed region (`s_ts + tolerance + 5 min margin < final
    * watermark`, an in-plan broadcast of the 1-row max frame — no
    * collect), so the emission boundary's exact strictness never reaches
    * the compare. */
  private def streamStreamLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val signups = src.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("signup_id"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("s_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("s_ts"), col("signup_id"), col("purchase_id"))
    val streamed = StreamingQueries.runToMemorySink(joined, "sslo", mode = "append")
    val ev = Tables.events(spark, dir)
    val wm = ev.groupBy()
      .agg(least(
        max(when(col("event_type") === "signup", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("__maxts"))
    streamed.crossJoin(broadcast(wm))
      .where(col("s_ts") + expr("INTERVAL 35 MINUTES") <
        col("__maxts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
      .orderBy("user_id", "signup_id", "purchase_id")
  }

  /** q184: stream-stream FULL OUTER join — both sides hold state and
    * both emit null-padded rows on watermark eviction (q104 covers only
    * the left side). Same range condition and watermarks; the closed
    * region gates on `coalesce(s_ts, p_ts)`: matched and signup-only
    * rows close on s_ts, purchase-only rows (null signup — the side
    * q104 cannot produce) close on p_ts. Both the streamed result and
    * the batch FULL JOIN twin apply the identical gate, so the
    * emission boundary's strictness never reaches the compare. */
  private def streamStreamFullOuter(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.eventsStream(spark, dir)
    val signups = src.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("signup_id"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
        col("s_user") === col("p_user") &&
          col("p_ts") >= col("s_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"),
        "full_outer")
      .select(coalesce(col("s_user"), col("p_user")).as("user_id"),
        col("s_ts"), col("p_ts"), col("signup_id"), col("purchase_id"))
    val streamed = StreamingQueries.runToMemorySink(joined, "ssfo", mode = "append")
    val ev = Tables.events(spark, dir)
    val wm = ev.groupBy()
      .agg(least(
        max(when(col("event_type") === "signup", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("__maxts"))
    streamed.crossJoin(broadcast(wm))
      .where(coalesce(col("s_ts"), col("p_ts")) + expr("INTERVAL 35 MINUTES") <
        col("__maxts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
      .orderBy("user_id", "signup_id", "purchase_id")
  }

  /** Custom expressions through the SQL surface: functions registered on
    * the live session (GraftExtensions covers the builder path). */
  private def sqlCustomFunctions(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT doc_id,
        |       poly_hash(text) AS poly_fp,
        |       size(word_shingles(text, 3)) AS n_shingles
        |FROM documents_v ORDER BY doc_id""".stripMargin)
  }

  /** Typed Dataset surface: case-class ticks → groupByKey → custom
    * Aggregator[Tick, BarBuf, Bar] (one-pass OHLC; same semantics and
    * oracle shape as the untyped resample). */
  private def typedOhlc(spark: SparkSession, dir: String): DataFrame =
    TypedOps.dailyBars(Tables.events(spark, dir))
      .toDF("key", "bar")
      .select(col("key._1").as("user_id"), col("key._2").as("day"),
        col("bar.open"), col("bar.high"), col("bar.low"), col("bar.close"),
        col("bar.n_ticks"))
      .orderBy("user_id", "day")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_stream_stream_join" -> streamStreamJoin,
    "q57_sql_custom_functions" -> sqlCustomFunctions,
    "q58_typed_ohlc" -> typedOhlc,
    "q104_stream_stream_left_outer" -> streamStreamLeftOuter,
    "q184_stream_stream_full_outer" -> streamStreamFullOuter
  )

  override def oracles: Map[String, String] = Map(
    "q56_stream_stream_join" ->
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts - INTERVAL 30 MINUTE
        | AND p.ts <= s.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin,
    // Batch twin of the outer join, restricted to the same provably-
    // closed region the streamed result filters to.
    "q104_stream_stream_left_outer" ->
      """WITH s AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM s),
        |                    (SELECT max(ts) FROM p))
        |              - INTERVAL 1 HOUR AS w)
        |SELECT s.user_id, s.event_id AS signup_id,
        |       p.event_id AS purchase_id
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        | AND p.ts >= s.ts - INTERVAL 30 MINUTE
        | AND p.ts <= s.ts + INTERVAL 30 MINUTE
        |WHERE s.ts + INTERVAL 35 MINUTE < (SELECT w FROM wm)
        |ORDER BY 1, 2, 3""".stripMargin,
    // Batch FULL JOIN twin with the identical coalesce-gated closed
    // region — purchase-only null rows included.
    "q184_stream_stream_full_outer" ->
      """WITH s AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM s),
        |                    (SELECT max(ts) FROM p))
        |              - INTERVAL 1 HOUR AS w)
        |SELECT coalesce(s.user_id, p.user_id) AS user_id,
        |       s.event_id AS signup_id,
        |       p.event_id AS purchase_id
        |FROM s FULL JOIN p ON s.user_id = p.user_id
        | AND p.ts >= s.ts - INTERVAL 30 MINUTE
        | AND p.ts <= s.ts + INTERVAL 30 MINUTE
        |WHERE coalesce(s.ts, p.ts) + INTERVAL 35 MINUTE < (SELECT w FROM wm)
        |ORDER BY 1, 2, 3""".stripMargin,
    "q57_sql_custom_functions" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(regexp_split_to_array(text, ''),
        |                          c -> CAST(unicode(c) AS BIGINT))),
        |         (a, c) -> (a * 31 + c) % 1000000007) AS poly_fp,
        |       len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                          for i in range(1, len(toks) - 1)])) AS n_shingles
        |FROM t ORDER BY doc_id""".stripMargin,
    "q58_typed_ohlc" ->
      """SELECT user_id,
        |       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       arg_min(value, event_id) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       arg_max(value, event_id) AS close,
        |       count(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}

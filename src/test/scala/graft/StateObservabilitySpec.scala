package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** STREAMING STATE OBSERVABILITY: the state-boundedness contracts the
  * stateful operators document (q229 sketch state, q239 four longs/key,
  * q215/q231 window-sized agg state, q237 join state) surfaced as DATA —
  * `StreamingQueryProgress.stateOperators.numRowsTotal` captured after
  * each staged micro-batch and pinned to the predicted formula:
  *
  *   - transformWithState: state rows == DISTINCT KEYS SEEN — never
  *     stream length (the O(1)/key claim, now measured);
  *   - windowed aggregate: state rows == OPEN (window,key) pairs, i.e.
  *     those with window.end > current watermark — closed windows are
  *     EVICTED, not retained (the noDataMicroBatches pass applies the
  *     post-batch watermark in the same processAllAvailable cycle);
  *   - stream-stream join: buffered rows == rows whose join-partner
  *     horizon is still above the watermark (left row lives until
  *     wm > lt + range, right until wm > rt).
  *
  * Event times sit comfortably OFF eviction boundaries (no exact
  * wm == horizon ties), so the predictions are stable against the
  * strict-vs-non-strict eviction boundary. */
class StateObservabilitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Total state rows across all stateful operators in the LAST progress
    * (post-eviction: processAllAvailable runs the no-data batch that
    * applies the advanced watermark before returning). */
  private def stateRows(q: StreamingQuery): Long = {
    val p = q.lastProgress
    assert(p != null, "no progress recorded")
    p.stateOperators.map(_.numRowsTotal).sum
  }

  private def perOperatorRows(q: StreamingQuery): Seq[Long] =
    q.lastProgress.stateOperators.map(_.numRowsTotal).toSeq

  test("transformWithState (q239 CUSUM shape): state rows == distinct keys seen, flat under repeats") {
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      implicit val sc = child.sqlContext
      val input = MemoryStream[(String, Long, Long)]
      val out = Pipelines.streamingCusum(child,
        input.toDF().toDF("k", "ord", "c"), "k", "ord", "c",
        warm = 2, kAllow = 0L, h = 1000L)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("state_obs_cusum").start()
      try {
        val seen = scala.collection.mutable.Set.empty[String]
        def stage(rows: (String, Long, Long)*): Long = {
          input.addData(rows)
          q.processAllAvailable()
          seen ++= rows.map(_._1)
          stateRows(q)
        }
        // 3 staged batches + a repeat batch: the formula is |keys seen|
        assert(stage(("a", 1, 100), ("a", 2, 100), ("b", 1, 50)) == 2L)
        assert(stage(("a", 3, 100), ("c", 1, 10)) == 3L)
        assert(stage(("b", 2, 50), ("b", 3, 900)) == 3L)
        // boundedness: 100 more rows on EXISTING keys adds zero state
        val flood = (1 to 100).map(i => ("a", 100L + i, 100L))
        input.addData(flood)
        q.processAllAvailable()
        assert(stateRows(q) == 3L,
          s"state grew with stream length: ${stateRows(q)}")
        assert(seen.size == 3)
        // the metric itself is real: RocksDB reports nonzero memory
        assert(q.lastProgress.stateOperators.head.memoryUsedBytes > 0L)
      } finally q.stop()
    }
  }

  test("transformWithState (q127 moments shape): state rows == distinct keys across batches") {
    LocalSpark.withChildSession(spark, Pipelines.RocksDBProvider) { child =>
      implicit val sc = child.sqlContext
      val input = MemoryStream[(String, Long)]
      val out = Pipelines.streamingMoments(child,
        input.toDF().toDF("k", "c"), "k", "c")
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("state_obs_moments").start()
      try {
        def stage(rows: (String, Long)*): Long = {
          input.addData(rows); q.processAllAvailable(); stateRows(q)
        }
        assert(stage(("x", 1), ("y", 2)) == 2L)
        assert(stage(("x", 3)) == 2L)          // repeat key: no growth
        assert(stage(("z", 4), ("x", 5)) == 3L)
      } finally q.stop()
    }
  }

  test("windowed aggregate (q44/q215 shape): state rows == open (window,key) pairs; closed windows evict") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("k", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "60 seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("state_obs_window").start()
    try {
      def stage(rows: (String, Long)*): Long = {
        input.addData(rows); q.processAllAvailable(); stateRows(q)
      }
      // b1: A@10s B@20s → [0,60)A + [0,60)B open (wm=20 < 60): 2 rows
      assert(stage(("A", 10), ("B", 20)) == 2L)
      // b2: A@130s → wm=130 evicts both [0,60) windows (60 < 130);
      //     [120,180)A stays (180 > 130): 1 row
      assert(stage(("A", 130)) == 1L)
      // b3: A@250s B@250s → wm=250 evicts [120,180) (180 < 250);
      //     [240,300) A and B stay (300 > 250): 2 rows
      assert(stage(("A", 250), ("B", 250)) == 2L)
    } finally q.stop()
  }

  test("stream-stream interval join (q56/q237 shape): buffered rows track the watermark horizon") {
    implicit val sc = spark.sqlContext
    val left = MemoryStream[(String, Long)]
    val right = MemoryStream[(String, Long)]
    val l = left.toDF().toDF("k", "lsec")
      .withColumn("lt", timestamp_seconds(col("lsec")))
      .withWatermark("lt", "0 seconds")
    val r = right.toDF().toDF("rk", "rsec")
      .withColumn("rt", timestamp_seconds(col("rsec")))
      .withWatermark("rt", "0 seconds")
    val joined = l.join(r,
      col("k") === col("rk") &&
        col("rt") >= col("lt") &&
        col("rt") <= col("lt") + expr("INTERVAL 10 SECONDS"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("state_obs_join").start()
    try {
      def stage(ls: Seq[(String, Long)], rs: Seq[(String, Long)]): Long = {
        if (ls.nonEmpty) left.addData(ls)
        if (rs.nonEmpty) right.addData(rs)
        q.processAllAvailable()
        stateRows(q)
      }
      // Eviction model (measured via stateOperators.numRowsRemoved
      // across these batches): post-stage buffered state is exactly
      // {left: lt + 10 > gwm} ∪ {right: rt > gwm}, where gwm is the
      // GLOBAL watermark = min over both inputs' (max event − delay) —
      // a side that receives no data HOLDS the global watermark back
      // and with it every eviction (the min-policy semantics the q231/
      // q237 gates derive from both sides' maxima). Boundaries are
      // inclusive: a partner AT the watermark is already late. The
      // no-data micro-batch inside processAllAvailable applies the
      // freshly-advanced watermark in the same cycle.
      // Event times keep every live row STRICTLY above every watermark
      // it is checked against (measured hazards, both with INCLUSIVE
      // boundaries: (1) a row at-or-below the CURRENT watermark on
      // arrival is dropped at the operator's input filter — including
      // t=0 against the INITIAL zero watermark; (2) the two
      // MemoryStreams may be consumed in separate micro-batches in
      // either order, so a row must also clear the partner side's
      // already-advanced watermark).
      // b1: left a@100 b@105, right a@106 (joins a: 100 ≤ 106 ≤ 110)
      //     → gwm = min(105, 106) = 105: nothing evictable (left
      //     horizons 110,115 > 105; right 106 > 105) → 3 buffered
      assert(stage(Seq(("a", 100L), ("b", 105L)), Seq(("a", 106L))) == 3L)
      // b2: right b@114 (joins left b@105: 114 ≤ 115 ✓) → the LEFT
      //     side got no data, so gwm = min(105, 114) = 105 still:
      //     NOTHING evicts — the stalled side holds all state alive
      //     (the production reason q237's gate uses least(max_l,
      //     max_r)) → 4 buffered
      assert(stage(Seq.empty, Seq(("b", 114L))) == 4L)
      // b3: left c@130 + right c@133 (join) → gwm = min(130, 133) =
      //     130: left a (110 ≤ 130), left b (115 ≤ 130), right a
      //     (106 ≤ 130), right b (114 ≤ 130) all evict; left c
      //     (140 > 130) and right c (133 > 130) stay → 2
      assert(stage(Seq(("c", 130L)), Seq(("c", 133L))) == 2L)
      // the emitted joins are exactly the 3 matches staged above
      assert(spark.table("state_obs_join").count() == 3L)
    } finally q.stop()
  }

  test("chained stateful (q237 join→agg shape): per-operator state is window-sized above the join") {
    implicit val sc = spark.sqlContext
    val left = MemoryStream[(String, Long)]
    val right = MemoryStream[(String, Long)]
    val l = left.toDF().toDF("k", "lsec")
      .withColumn("lt", timestamp_seconds(col("lsec")))
      .withWatermark("lt", "0 seconds")
    val r = right.toDF().toDF("rk", "rsec")
      .withColumn("rt", timestamp_seconds(col("rsec")))
      .withWatermark("rt", "0 seconds")
    val agg = l.join(r,
        col("k") === col("rk") &&
          col("rt") >= col("lt") &&
          col("rt") <= col("lt") + expr("INTERVAL 10 SECONDS"))
      .groupBy(window(col("lt"), "60 seconds"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("state_obs_chain").start()
    try {
      // two join matches inside [0,60), then a far-future pair that
      // pushes the watermark past the window + join-range horizon
      left.addData(("a", 5L)); right.addData(("a", 8L))
      q.processAllAvailable()
      left.addData(("b", 20L)); right.addData(("b", 25L))
      q.processAllAvailable()
      val ops = perOperatorRows(q)
      // two stateful operators in the plan. After b2: wm = min(20,25)
      // = 20 → join evicts left a@5 (horizon 15 ≤ 20) and right a@8
      // (8 ≤ 20), buffers left b@20 (30 > 20) and right b@25 (25 > 20)
      // = 2; the agg holds the ONE open [0,60) window (the join's
      // output watermark lags wm by the 10 s join range: 20 − 10 = 10
      // < 60, so the window is still open) = 1
      assert(ops.length == 2, s"expected agg + join operators: $ops")
      assert(ops.sorted == Seq(1L, 2L),
        s"agg should hold 1 open window, join 2 live rows: $ops")
      // far-future batch: wm = 500 closes the window (agg emits and
      // evicts) and expires every buffered join row except the new pair
      left.addData(("z", 500L)); right.addData(("z", 505L))
      q.processAllAvailable()
      val after = perOperatorRows(q)
      // wm = min(500,505) = 500: the join keeps only the z pair (left
      // horizon 510 > 500, right 505 > 500) = 2; the agg's watermark
      // (join output wm = 500 − 10 = 490) closes [0,60) (emit + evict)
      // while [480,540) stays open (540 > 490) = 1
      assert(after.sum == 3L, s"post-eviction state should be 3: $after")
      assert(spark.table("state_obs_chain")
        .as[((java.sql.Timestamp, java.sql.Timestamp), Long)].collect()
        .map(_._2).sum == 2L, "the closed [0,60) window holds 2 joins")
    } finally q.stop()
  }
}

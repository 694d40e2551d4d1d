package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.ops.{Salting, Selection, Skyline}
import graft.tables.Tables

/** Coverage extensions beyond the round-1 inventory: multi-dimensional
  * aggregation (cube, grouping sets), math scalar surface, session
  * windows, n-gram frequency, exact percentiles, skew-salted
  * aggregation, and an approx-distinct self-check. */
object ExtendedQueries extends QueryPack {

  // ---------------------------------------------------------------- q48
  /** CUBE over (status, priority): all 4 grouping combinations. */
  private def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  // ---------------------------------------------------------------- q49
  /** GROUPING SETS via the SQL surface (temp view + spark.sql). */
  private def groupingSetsEvents(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_v")
    spark.sql(
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(CAST(user_id AS STRING), 'ALL') AS user_id,
        |       count(1) AS n
        |FROM events_v
        |GROUP BY GROUPING SETS ((event_type), (user_id), ())
        |ORDER BY event_type, user_id""".stripMargin)
  }

  // ---------------------------------------------------------------- q50
  /** Math scalar surface restricted to IEEE-exact functions (sqrt, abs,
    * floor, ceil, sign, greatest/least) — libm-dependent fns (ln, exp,
    * pow) are excluded because JVM and DuckDB may differ in the last ulp. */
  private def mathFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_linenumber") === 1)
      .select(
        col("l_orderkey"),
        sqrt(col("l_extendedprice")).as("sqrt_price"),
        abs(col("l_discount") - col("l_tax")).as("abs_dt"),
        floor(col("l_quantity") / 7).as("floor_q7"),
        ceil(col("l_extendedprice") / 1000).as("ceil_k"),
        signum(col("l_discount") - 0.05).as("sign_d"),
        greatest(col("l_discount"), col("l_tax")).as("max_dt"),
        least(col("l_quantity"), lit(10.0)).as("min_q10"))
      .orderBy("l_orderkey")

  // ---------------------------------------------------------------- q51
  /** Session windows (T6): activity sessions per user with a 5-minute
    * gap. The oracle is the classic gaps-and-islands rewrite. */
  private def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
      .where(col("n_events") >= 2)
      .orderBy("user_id", "session_start")

  // ---------------------------------------------------------------- q52
  /** Word-bigram frequency: top-3 bigrams per language (explode + count +
    * rank — the n-gram analysis path at corpus scale). */
  private def bigramTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigrams = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(HashFunctions.word_shingles(col("text"), 2)).as("bigram"))
    val counts = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("bigram"))
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .orderBy("lang", "rank")
  }

  // ---------------------------------------------------------------- q53
  /** Exact percentiles on integer cents (interpolation on integers —
    * checked against DuckDB quantile_cont on the same integers). */
  private def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("vc", round(col("value") * 100).cast("long"))
      .groupBy("event_type")
      .agg(
        expr("percentile(vc, 0.5)").as("p50_c"),
        expr("percentile(vc, 0.9)").as("p90_c"),
        min("vc").as("min_c"), max("vc").as("max_c"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- q54
  /** Salted two-phase aggregation — must equal the direct groupBy (the
    * oracle IS the unsalted SQL). */
  private def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Salting.saltedSum(Tables.lineitem(spark, dir), key = "l_suppkey",
        saltSource = "l_orderkey",
        value = round(col("l_extendedprice") * 100).cast("long"),
        buckets = 8, out = "sum_price_c")
      .select(col("l_suppkey"),
        round(col("sum_price_c") / 100.0, 2).as("sum_price"),
        col("sum_price_c_n").as("n_items"))
      .orderBy("l_suppkey")

  // ---------------------------------------------------------------- q55
  /** approx_count_distinct self-check: exact distinct + a deterministic
    * "approx within 5%" boolean. The HLL estimate itself is
    * engine-specific, but the ±5% contract is oracle-checkable: DuckDB
    * asserts TRUE, so the driver's hash-compare fails if Spark's HLL ever
    * drifts out of tolerance. */
  private def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") < 0.05).as("approx_ok"))
      .orderBy("l_returnflag")

  /** q137: source/sink format interop — the S5 surface driver-visible:
    * the typed event projection round-trips through BOTH a headered CSV
    * sink+source and a JSON-lines sink+source (explicit read schemas —
    * production never infers), and the re-read rows must aggregate to
    * exactly the parquet-derived oracle numbers for each format. Timestamps
    * travel as formatted strings (the wire convention, F1), integers as
    * exact cents — so losslessness is hash-checked, not eyeballed. */
  private def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
    val csvDir = MlQueries.tempDirDeletedOnExit("graft_csv_")
    val jsonDir = MlQueries.tempDirDeletedOnExit("graft_json_")
    src.write.mode("overwrite").option("header", "true").csv(csvDir)
    src.write.mode("overwrite").json(jsonDir)
    val schema =
      "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT, ts_str STRING"
    val back = spark.read.schema(schema).option("header", "true").csv(csvDir)
      .withColumn("fmt", lit("csv"))
      .unionByName(spark.read.schema(schema).json(jsonDir)
        .withColumn("fmt", lit("json")))
    back.groupBy("fmt", "event_type")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        sum("event_id").as("sum_ids"),
        min("ts_str").as("first_ts_str"),
        max("ts_str").as("last_ts_str"))
      .orderBy("fmt", "event_type")
  }

  /** q138: bounded top-k AGGREGATE ([[graft.functions.TopKLongs]], a
    * TypedImperativeAggregate with k-bounded mergeable partials) — the
    * per-group "largest k values" that neither collect_list+sort (whole
    * group in one buffer) nor a rank window (row-emitting, not
    * agg-composable) gives at scale. Runs alongside ordinary aggregates
    * in one groupBy; partials carry ≤ k longs through the map-side
    * combine. The multiset result is tie-deterministic, so the sorted
    * DuckDB list slice is an exact oracle. */
  private def topKAggregate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        HashFunctions.top_k_longs(col("cents"), 5).as("top5"))
      // scalar projection of the array result (the driver compare hashes
      // scalar columns; the array itself is the operator's surface)
      // try_element_at: a group smaller than k yields NULL tail slots
      // (ANSI element_at would THROW on the out-of-bounds index, and the
      // oracle's t[i] yields NULL — null is the contract)
      .select(col("event_type") +: col("n") +: col("sum_cents") +:
        (1 to 5).map(i => try_element_at(col("top5"), lit(i)).as(s"top$i")): _*)
      .orderBy("event_type")

  /** Runs `body` on a child session for [[aqeSkewJoin]] and its plan
    * audit: it forces the sort-merge path (both broadcast thresholds
    * off) and lowers the AQE skew thresholds so the fixture-scale skew
    * actually trips the splitter. The caller's session is untouched. */
  private[graft] def withSkewSplitConfigs[T](spark: SparkSession)(
      body: SparkSession => T): T =
    graft.LocalSpark.withChildSession(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The skewed join itself (separate from [[aqeSkewJoin]] so the plan
    * audit can execute it under [[withSkewSplitConfigs]] and inspect the
    * final adaptive plan). Three shapes matter, each load-bearing:
    *   - 90% of events collapse onto ONE join key (a real customer key,
    *     so the hot key matches without fan-out) — the skew;
    *   - BOTH join children are bare shuffles (the dim is the ALREADY
    *     UNIQUE customer table, no groupBy) — OptimizeSkewedJoin only
    *     fires on Sort(ShuffleQueryStage) children, and an aggregate
    *     between sort and shuffle suppresses it (correctly: a split
    *     below a final agg would duplicate agg input);
    *   - the downstream aggregate groups on a DIFFERENT key, so
    *     splitting the join's output partitioning costs nothing.
    * Skew splits are also map-output-range granular: a reduce partition
    * only splits BETWEEN map segments, and the fixture's single parquet
    * row group scans as ONE map task (a production scan yields
    * thousands) — the explicit round-robin repartition materializes the
    * map-side parallelism; AQE honors the explicit count. */
  private[graft] def skewJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      when(pmod(col("user_id"), lit(10)) < 9, lit(1L))
        .otherwise(col("user_id")).as("k"),
      round(col("value") * 100).cast("long").as("cents"))
      .repartition(16)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    ev.hint("merge").join(dim.hint("merge"), Seq("k"))
      .groupBy(pmod(col("cents"), lit(10L)).as("cb"))
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        sum(length(col("seg"))).as("sum_seg_len"))
      .orderBy("cb")
  }

  /** q196: AQE skew-join split — the runtime answer to key skew, next
    * to q54/q66's manual salting: the 90%-hot key makes one sort-merge
    * partition ~10× the median, and AQE's OptimizeSkewedJoin splits it
    * into advisory-sized sub-partitions (duplicating the matching dim
    * rows) so the straggler disappears WITHOUT changing the query. At
    * 100 TB this is the difference between one task processing 10 TB
    * and 300 tasks processing 30 GB each. Executed in the skew-split
    * child session (a temp-parquet materialization pins execution to
    * the child; the tiny readback is what the oracle gate hashes); the
    * plan audit asserts `skew=true` on the final SMJ. The result is
    * split-invariant, so the oracle is the plain join replay. */
  private def aqeSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = MlQueries.tempDirDeletedOnExit("graft_skew_")
    withSkewSplitConfigs(spark) { child =>
      skewJoinFrame(child, dir).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("cb")
  }

  /** q150: DYNAMIC PARTITION PRUNING driver-visible — the classic star
    * shape at 100 TB: a fact table PARTITIONED on the join key and a dim
    * side whose surviving keys are only known at runtime (here an
    * aggregate + filter over orders). Catalyst inserts a dynamic pruning
    * subquery on the fact scan's partition column, so only the dim's
    * partitions are ever read — file-level pruning decided at RUNTIME,
    * the partition-granularity sibling of q118's min/max file pruning.
    * PlanAuditSpec asserts `dynamicpruningexpression` on the scan. The
    * fact rewrite is part of the query (the sf dirs are unpartitioned);
    * sums ride exact cents so the oracle hash-matches. */
  private def dppPartitionJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val factDir = MlQueries.tempDirDeletedOnExit("graft_dpp_")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(factDir)
    val fact = spark.read.parquet(factDir)
    val dim = orders.groupBy("o_orderpriority")
      .agg(max("o_totalprice").as("prio_max_price"))
      .where(col("o_orderpriority") < "3")
    fact.join(broadcast(dim), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
        max(when(col("o_totalprice") === col("prio_max_price"),
          col("o_orderkey"))).as("max_price_orderkey"))
      .orderBy("o_orderpriority")
  }

  /** q154: semi-structured data through Spark 4's VARIANT type — the
    * engine-native answer to JSON columns at scale: `parse_json` once
    * into the binary variant encoding (parsed in the scan, no
    * re-tokenizing per field access), then typed `variant_get` paths.
    * Against q17's string-functions approach this is the production
    * shape: one parse, typed extraction, codegen end to end. The oracle
    * extracts the same paths with DuckDB's JSON operators. */
  private def variantJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q156: schema evolution across parquet batches — production tables
    * DRIFT (columns appear over time), and a reader must reconcile old
    * and new files without rewriting history. Two batches with
    * different schemas (the second adds `user_id`) are read back with
    * `mergeSchema`: old rows surface the new column as null, and the
    * aggregate proves exactly which rows carry it. mergeSchema is a
    * FOOTER-level merge (per-file metadata, no data read) — at 100 TB
    * the reconciliation cost is file-count-, not byte-, proportional. */
  private def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = MlQueries.tempDirDeletedOnExit("graft_evolve_")
    val base = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      col("user_id"))
    base.where(pmod(col("event_id"), lit(2)) === 0)
      .drop("user_id") // the old schema, before user_id existed
      .write.mode("overwrite").parquet(s"$out/batch=1")
    base.where(pmod(col("event_id"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        count(col("user_id")).as("n_with_user"),
        sum("user_id").as("sum_users"))
      .orderBy("event_type")
  }

  /** q158: the rank-family window surface — ntile / percent_rank /
    * cume_dist — per event type over exact cents. The window ORDER is
    * made total with the unique event_id tiebreak, so ntile's
    * positional buckets are deterministic; percent_rank/cume_dist are
    * exact rational arithmetic ((rank−1)/(n−1), frac ≤) computed
    * identically by both engines, and only order-safe aggregates (max)
    * touch the doubles. */
  private def windowRankStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("q", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("event_type", "q")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_c"), max("cents").as("max_c"),
        max("pr").as("max_pr"), max("cd").as("max_cd"))
      .orderBy("event_type", "q")
  }

  // --------------------------------------------------------------- q175
  /** Pareto skyline over orders: the non-dominated (price, recency)
    * frontier via `Skyline.skylineMax` — grid prune bounds what reaches
    * the exact sweep (see Skyline scaladoc for the 100 TB shape). The
    * oracle runs the DUAL sweep (sorted by date, running max price; the
    * engine sweeps by price with running max date), so hash equality
    * checks the frontier from an independent derivation, and the
    * grid-prune ≡ naive-quadratic equivalence is spec-checked besides. */
  private def paretoSkyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderdate").cast("long").as("order_epoch_s"))
    Skyline.skylineMax(pts, "price_cents", "order_epoch_s")
      .select(col("x").as("price_cents"), col("y").as("order_epoch_s"),
        col("n").as("n_orders"))
      .orderBy(col("price_cents").desc)
  }

  // --------------------------------------------------------------- q180
  /** Exact global median WITHOUT a global sort: `Selection.exactMedian`
    * narrows the value range through bounded histogram passes (see its
    * scaladoc). The oracle computes the same lower median the blunt
    * way — row_number over a full sort — so equality proves the
    * narrowing loop lands on exactly the right order statistic. */
  private def exactMedianPrice(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("pc"))
    val (n, m) = Selection.exactMedian(cents, "pc")
      .getOrElse(sys.error("empty lineitem"))
    Seq((n, m)).toDF("n_rows", "median_cents")
  }

  // --------------------------------------------------------------- q186
  /** Exact PER-GROUP medians, all groups narrowed simultaneously
    * (`Selection.exactMedianByGroup`): each pass is one broadcast-join
    * filter + one (group × bucket) histogram, so scan count stays
    * O(log range) however many groups there are — where `percentile`
    * materializes per-group sorted state. Oracle: per-group full-sort
    * row_number twin. */
  /** q226: robust outlier screen via MAD (median absolute deviation) —
    * the quality gate that survives the contamination a mean/stddev
    * z-score is broken by (outliers inflate σ and mask themselves; the
    * median and MAD have a 50% breakdown point). Exact integer MADs
    * with NO global sort: two [[graft.ops.Selection.exactMedianByGroup]]
    * narrowing passes (per-group median, then per-group median of
    * |x − med|), each O(log range) histogram scans, and two broadcast
    * joins of the 3-row stat frames — the 100 TB robust-statistics
    * shape. Lower-median convention matches q186's oracle twin; the
    * outlier gate |x − med| > 5·MAD is exact int64. */
  private def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
    val med = Selection.exactMedianByGroup(cents, "g", "pc")
      .select(col("g"), col("median").as("med"))
    val dev = cents.join(broadcast(med), Seq("g"))
      .withColumn("dev", abs(col("pc") - col("med")))
    val mad = Selection.exactMedianByGroup(
        dev.select(col("g"), col("dev")), "g", "dev")
      .select(col("g"), col("median").as("mad"))
    dev.join(broadcast(mad), Seq("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        first(col("med")).as("median_cents"),
        first(col("mad")).as("mad_cents"),
        sum(when(col("dev") > col("mad") * 5, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("g").as("l_returnflag"), col("n_rows"),
        col("median_cents"), col("mad_cents"), col("n_outliers"))
      .orderBy("l_returnflag")
  }

  private def groupMedians(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
    Selection.exactMedianByGroup(cents, "l_returnflag", "pc")
      .select(col("g").as("l_returnflag"), col("n").as("n_rows"),
        col("median").as("median_cents"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------- q187
  /** Exact p25/p50/p75/p95 contour in shared narrowing passes
    * (`Selection.exactQuantiles`): all four order statistics come out
    * of the same O(log range) histogram scans — no sort, no join, no
    * per-quantile rescans. Oracle: full-sort row_number twin picking
    * each ceil(p·n/100) rank. */
  private def quantileContour(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("pc"))
    Selection.exactQuantiles(cents, "pc", Seq(25, 50, 75, 95))
      .select(col("percent"), col("n").as("n_rows"),
        col("value").as("value_cents"))
      .orderBy("percent")
  }

  // --------------------------------------------------------------- q214
  /** Exact↔approx quantile parity: bounds `approx_percentile`'s rank
    * error against the exact narrowing engine (q187's
    * `Selection.exactQuantiles`) on the SAME column — closing the loop
    * the profile pair q100/q110 has, for order statistics. The sketch
    * (accuracy 100) guarantees an actual data element within n/100 rank
    * of the target; values are monotone in rank, so the estimate must
    * land between the exact quantiles at p ± 2 (2% of rank ≥ n/100 + 1
    * at every fixture SF, absorbing the rank slack with margin). Same
    * tolerance-boolean pattern as q68/q69/q80: the sketch is
    * deterministic, DuckDB asserts TRUE, and the driver hash-fails if
    * the bound ever breaks. All driver state is ≤ 12 exact-quantile
    * rows + 4 sketch values — the bounded-collect discipline. */
  private def sketchRankBound(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("pc"))
    val targets = Seq(25, 50, 75, 95)
    val probes = targets.flatMap(p => Seq(p - 2, p, p + 2)).distinct
    val exact = Selection.exactQuantiles(cents, "pc", probes)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = cents
      .agg(expr("approx_percentile(pc, array(0.25, 0.50, 0.75, 0.95), 100)"))
      .head().getSeq[Long](0)
    import spark.implicits._
    targets.zipWithIndex.map { case (p, i) =>
      val (n, v) = exact(p)
      val ok = approx(i) >= exact(p - 2)._2 && approx(i) <= exact(p + 2)._2
      (p, n, v, ok)
    }.toDF("percent", "n_rows", "value_cents", "approx_ok")
      .orderBy("percent")
  }

  /** q192: bucketed co-located join — the shuffle-free big×big join.
    * Both sides are written `bucketBy(8, key)` (one-time layout cost a
    * warehouse amortizes over every later join), so each scan reports
    * `HashPartitioning(key, 8)` and the SortMergeJoin consumes them with
    * NO Exchange; the follow-up aggregate groups on the SAME key and
    * rides the same distribution. At 100 TB this is the difference
    * between joining in place and re-shuffling both tables every query —
    * only the final cosmetic orderBy range-partitions (result is
    * customer-sized). PlanAuditSpec asserts zero hash-partition
    * exchanges. The merge hint pins SMJ so the audit can't be satisfied
    * vacuously by a broadcast. */
  private def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = MlQueries.tempDirDeletedOnExit("graft_bucket_")
    Tables.orders(spark, dir)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$base/orders_b").mode("overwrite")
      .saveAsTable("graft_orders_b")
    Tables.customer(spark, dir)
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$base/customer_b").mode("overwrite")
      .saveAsTable("graft_customer_b")
    val o = spark.table("graft_orders_b")
    val c = spark.table("graft_customer_b")
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
        max(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
      .orderBy("o_custkey")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_pareto_skyline" -> paretoSkyline,
    "q180_exact_median" -> exactMedianPrice,
    "q186_group_medians" -> groupMedians,
    "q226_mad_outliers" -> madOutliers,
    "q187_quantile_contour" -> quantileContour,
    "q214_sketch_rank_bound" -> sketchRankBound,
    "q137_format_roundtrip" -> formatRoundtrip,
    "q138_topk_aggregate" -> topKAggregate,
    "q150_dpp_partition_join" -> dppPartitionJoin,
    "q196_aqe_skew_join" -> aqeSkewJoin,
    "q154_variant_json" -> variantJson,
    "q156_schema_evolution" -> schemaEvolution,
    "q158_window_rank_stats" -> windowRankStats,
    "q192_bucketed_join" -> bucketedJoin,
    "q48_cube_orders" -> cubeOrders,
    "q49_grouping_sets" -> groupingSetsEvents,
    "q50_math_functions" -> mathFunctions,
    "q51_session_windows" -> sessionWindows,
    "q52_bigram_topk" -> bigramTopK,
    "q53_percentiles" -> percentiles,
    "q54_salted_agg" -> saltedAgg,
    "q55_approx_distinct" -> approxDistinct
  )

  override def oracles: Map[String, String] = Map(
    // DUAL sweep: sort by date desc, keep iff price strictly exceeds the
    // running max of everything later-or-tied — drop ⇔ dominated, from
    // the mirrored dimension vs the engine's price-ordered sweep.
    "q175_pareto_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch_s,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT *, max(price_cents)
        |              OVER (ORDER BY order_epoch_s DESC, price_cents DESC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND 1 PRECEDING) AS runmax
        |  FROM pts)
        |SELECT price_cents, order_epoch_s, n_orders FROM s
        |WHERE runmax IS NULL OR price_cents > runmax
        |ORDER BY price_cents DESC""".stripMargin,
    // exact quantiles at rank ceil(p*n/100); the sketch bound is a
    // deterministic TRUE (see scaladoc) so DuckDB asserts it
    "q214_sketch_rank_bound" ->
      """WITH s AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |r AS (
        |  SELECT pc, row_number() OVER (ORDER BY pc) AS rn,
        |         count(*) OVER () AS n
        |  FROM s),
        |q AS (SELECT unnest([25, 50, 75, 95]) AS percent)
        |SELECT q.percent, r.n AS n_rows, r.pc AS value_cents,
        |       TRUE AS approx_ok
        |FROM q JOIN r ON r.rn = (q.percent * r.n + 99) // 100
        |ORDER BY q.percent""".stripMargin,
    // each quantile picked at rank ceil(p*n/100) off one full sort
    "q187_quantile_contour" ->
      """WITH s AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |r AS (
        |  SELECT pc, row_number() OVER (ORDER BY pc) AS rn,
        |         count(*) OVER () AS n
        |  FROM s),
        |q AS (SELECT unnest([25, 50, 75, 95]) AS percent)
        |SELECT q.percent, r.n AS n_rows, r.pc AS value_cents
        |FROM q JOIN r ON r.rn = (q.percent * r.n + 99) // 100
        |ORDER BY q.percent""".stripMargin,
    // both medians via the q186 lower-median full-sort twin; the outlier
    // gate and counts are exact integers
    "q226_mad_outliers" ->
      """WITH s AS (
        |  SELECT l_returnflag AS g,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |r AS (
        |  SELECT g, pc, row_number() OVER (PARTITION BY g ORDER BY pc) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n
        |  FROM s),
        |med AS (SELECT g, pc AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT s.g, abs(s.pc - med.med) AS dev, med.med
        |      FROM s JOIN med USING (g)),
        |r2 AS (
        |  SELECT g, dev, med,
        |         row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n
        |  FROM d),
        |mad AS (SELECT g, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.g AS l_returnflag, count(*) AS n_rows,
        |       max(d.med) AS median_cents, max(mad.mad) AS mad_cents,
        |       CAST(sum(CASE WHEN d.dev > 5 * mad.mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-group full-sort lower medians the simultaneous narrowing must hit
    "q186_group_medians" ->
      """WITH s AS (
        |  SELECT l_returnflag AS g,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |r AS (
        |  SELECT g, pc,
        |         row_number() OVER (PARTITION BY g ORDER BY pc) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n
        |  FROM s)
        |SELECT g AS l_returnflag, n AS n_rows, pc AS median_cents
        |FROM r WHERE rn = (n + 1) // 2 ORDER BY l_returnflag""".stripMargin,
    // the blunt full-sort lower median the narrowing loop must hit
    "q180_exact_median" ->
      """WITH s AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |r AS (
        |  SELECT pc, row_number() OVER (ORDER BY pc) AS rn,
        |         count(*) OVER () AS n
        |  FROM s)
        |SELECT n AS n_rows, pc AS median_cents FROM r
        |WHERE rn = (n + 1) // 2""".stripMargin,
    // the dim aggregate + filter replayed, then the fact join — the
    "q196_aqe_skew_join" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 10 < 9 THEN 1 ELSE user_id END AS k,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer)
        |SELECT ((cents % 10) + 10) % 10 AS cb, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(sum(length(seg)) AS BIGINT) AS sum_seg_len
        |FROM e JOIN d USING (k)
        |GROUP BY 1 ORDER BY cb""".stripMargin,
    // partitioned rewrite is byte-lossless parquet→parquet, so the
    // original orders table stands in for the fact
    "q150_dpp_partition_join" ->
      """WITH dim AS (
        |  SELECT o_orderpriority, max(o_totalprice) AS mp
        |  FROM orders WHERE o_orderpriority < '3' GROUP BY 1)
        |SELECT o.o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       max(CASE WHEN o.o_totalprice = d.mp THEN o.o_orderkey END)
        |         AS max_price_orderkey
        |FROM orders o JOIN dim d USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB JSON path extraction of the same field; ->> returns text,
    // cast to the variant_get target type
    "q154_variant_json" ->
      """WITH e AS (
        |  SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q192_bucketed_join" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       max(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q158_window_rank_stats" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT event_type, cents,
        |         ntile(4) OVER (PARTITION BY event_type
        |                        ORDER BY cents, event_id) AS q,
        |         percent_rank() OVER (PARTITION BY event_type
        |                              ORDER BY cents, event_id) AS pr,
        |         cume_dist() OVER (PARTITION BY event_type
        |                           ORDER BY cents, event_id) AS cd
        |  FROM c)
        |SELECT event_type, q, count(*) AS n,
        |       min(cents) AS min_c, max(cents) AS max_c,
        |       max(pr) AS max_pr, max(cd) AS max_cd
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the merged read = all rows, with user_id present only for odd
    // event_ids (the new-schema batch)
    "q156_schema_evolution" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_user,
        |       CAST(sum(CASE WHEN event_id % 2 = 1 THEN user_id END) AS BIGINT)
        |         AS sum_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q138_topk_aggregate" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |         (list(CAST(round(value*100) AS BIGINT)
        |               ORDER BY CAST(round(value*100) AS BIGINT) DESC))[1:5] AS t
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, sum_cents,
        |       t[1] AS top1, t[2] AS top2, t[3] AS top3,
        |       t[4] AS top4, t[5] AS top5
        |FROM a ORDER BY event_type""".stripMargin,
    // the parquet-derived aggregate, fanned out per round-tripped format:
    // equality proves both sinks+sources are lossless for the typed wire
    "q137_format_roundtrip" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |         CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts_str,
        |         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts_str
        |  FROM events GROUP BY 1)
        |SELECT f.fmt, a.event_type, a.n, a.sum_cents, a.sum_ids,
        |       a.first_ts_str, a.last_ts_str
        |FROM a CROSS JOIN (VALUES ('csv'), ('json')) f(fmt)
        |ORDER BY f.fmt, a.event_type""".stripMargin,
    "q48_cube_orders" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n,
        |       round(sum(CAST(round(o_totalprice*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    "q49_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(CAST(user_id AS VARCHAR), 'ALL') AS user_id,
        |       count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id), ())
        |ORDER BY 1, 2""".stripMargin,
    "q50_math_functions" ->
      """SELECT l_orderkey,
        |       sqrt(l_extendedprice) AS sqrt_price,
        |       abs(l_discount - l_tax) AS abs_dt,
        |       CAST(floor(l_quantity / 7) AS BIGINT) AS floor_q7,
        |       CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS ceil_k,
        |       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_d,
        |       greatest(l_discount, l_tax) AS max_dt,
        |       least(l_quantity, 10.0) AS min_q10
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q51_session_windows" ->
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
    "q52_bigram_topk" ->
      """WITH t AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT lang,
        |         unnest(list_distinct([toks[i] || ' ' || toks[i+1]
        |                               for i in range(1, len(toks))])) AS bigram
        |  FROM t),
        |c AS (
        |  SELECT lang, bigram, count(*) AS n FROM b GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, bigram, n,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY n DESC, bigram ASC) AS rank
        |  FROM c)
        |SELECT lang, bigram, n, rank FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,
    "q53_percentiles" ->
      """SELECT event_type,
        |       quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS p50_c,
        |       quantile_cont(CAST(round(value*100) AS BIGINT), 0.9) AS p90_c,
        |       min(CAST(round(value*100) AS BIGINT)) AS min_c,
        |       max(CAST(round(value*100) AS BIGINT)) AS max_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_salted_agg" ->
      """SELECT l_suppkey,
        |       round(sum(CAST(round(l_extendedprice*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS sum_price,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q55_approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** Guards the physical plans, not just the results: no accidental
  * cartesian products, and pushdown/pruning actually reaching the scans
  * on representative queries (SURVEY.md "Optimize for scale"). */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  // Streaming queries execute on .start(), not a batch plan (the returned
  // frame is just a memory-sink scan); RF trains on collect. Audit the
  // batch-planned queries.
  private val batchQueries = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(Set("q44_streaming_bars", "q45_streaming_dedup",
      "q46_rf_accuracy", "q56_stream_stream_join",
      "q64_streaming_inference", "q67_stream_static_enrich",
      "q71_global_rf", "q76_streaming_sessions", "q236_cv_accuracy"))

  test("no query plans a CartesianProduct") {
    batchQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("filters are pushed to the parquet scan (q06)") {
    val plan = SparkEntry.queries("q06_forecast_revenue")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(2000))
  }

  test("column pruning reaches the scan (q02 reads only needed lineitem columns)") {
    val plan = SparkEntry.queries("q02_pricing_summary")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("l_orderkey"),
      "q02 should not read l_orderkey")
  }

  test("dimension joins broadcast (q05)") {
    val plan = SparkEntry.queries("q05_local_supplier_volume")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("whole-stage codegen covers the scan-agg pipeline (q02)") {
    // AQE hides codegen wrappers until the final plan exists — execute
    // first, then inspect.
    val df = SparkEntry.queries("q02_pricing_summary")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // codegen stages print as "*(n) Operator" in the final plan
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(2000))
  }

  test("q65 merge plans one key shuffle + window (no join, no cartesian)") {
    val df = SparkEntry.queries("q65_upsert_latest")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Join"), "merge must not plan a join")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles")
  }

  test("q70 aggregation combines map-side (partial aggregate before the shuffle)") {
    val df = SparkEntry.queries("q70_term_doc_freq")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(2000))
    assert(plan.split("HashAggregate").length > 2,
      "expected partial + final aggregate pair")
  }

  test("q87 hot-shingle suppression plans a broadcast LEFT ANTI join " +
      "(corpus side never shuffles for vocabulary filtering)") {
    import org.apache.spark.sql.functions._
    val ex0 = graft.tables.Tables.documents(spark, dir)
      .select(struct(lit(1).as("g")).as("__blk"), col("doc_id").as("doc"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("s"))
    val df = graft.dedup.Dedup.filterHotShingles(ex0, 20)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
    // The probe (corpus) side of the anti-join must not be exchanged:
    // the only exchange in the plan feeds the hot-list aggregation.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected <=1 exchange (hot-list agg), got $exchanges:\n" +
      plan.take(3000))
  }

  test("q92 BM25 stays narrow: no explode, broadcast stats join, <=2 exchanges") {
    val df = SparkEntry.queries("q92_bm25_topk")(spark, dir)
    df.collect()
    // AQE prints Final + Initial plans — audit the final one only
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // tf/dl are array expressions in the scan projection — token rows
    // must never materialize
    assert(!plan.contains("Generate"), "explode in the BM25 plan:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // one exchange for the per-lang stats agg, one for the rank window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n" + plan.take(3000))
  }

  test("q93 range join plans an equi-join on the bin, not a nested loop") {
    val df = SparkEntry.queries("q93_range_join_bands")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "range predicate fell back to a quadratic join:\n" + plan.take(3000))
    assert(plan.contains("Join"), plan.take(3000))
  }

  test("q99's natural BETWEEN join is rewritten by BinnedRangeJoinRule") {
    val df = SparkEntry.queries("q99_range_join_auto")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("__bin"),
      "optimizer rule did not fire on the driver query:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q100 profile: one scan, one aggregation exchange (all metrics ride one agg)") {
    val df = SparkEntry.queries("q100_column_profile")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("FileScan".r.findAllIn(plan).size == 1,
      "profile must not re-scan per column:\n" + plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "expected exactly the one aggregation exchange:\n" + plan.take(3000))
  }

  test("q110 approx profile: NO Expand anywhere (HLL agg + stacked exact leg)") {
    val df = SparkEntry.queries("q110_profile_approx")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // The exact-distinct validation leg stacks columns with an explicit
    // explode + single-distinct aggregate; neither leg may fall back to
    // the row-replicating Expand that q100's multi-column exact distinct
    // plans.
    assert(!plan.contains("Expand"),
      "approx profile must not plan an Expand:\n" + plan.take(3000))
    assert(plan.contains("approx_count_distinct"),
      "expected the HLL aggregate in the plan:\n" + plan.take(3000))
  }

  test("q101 quantization runs entirely inside the scan stage (no hash exchange)") {
    val df = SparkEntry.queries("q101_embedding_quantize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0,
      "element-wise quantization must not shuffle:\n" + plan.take(3000))
  }

  test("q102 nearest-as-of: one key shuffle shared by both window passes, no join") {
    val df = SparkEntry.queries("q102_asof_nearest")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      "nearest-as-of must be the union+window composition, not a range join:\n" +
        plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "backward and forward windows must reuse one key exchange:\n" +
        plan.take(3000))
  }

  test("q105 drawdown: window and final agg share ONE key exchange") {
    val df = SparkEntry.queries("q105_max_drawdown")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "running-peak window and the per-key agg must reuse one shuffle:\n" +
        plan.take(3000))
  }

  test("q106 panel correlation: the day self-join broadcasts (panel is bounded)") {
    val df = SparkEntry.queries("q106_panel_correlation")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q118 z-order: bounds broadcast as one row, interleave stays in codegen, no sort-merge") {
    val df = SparkEntry.queries("q118_zorder_stats")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the stats row joins back as a broadcast nested loop (1 row), never
    // a shuffled join; the bit arithmetic is pure codegen (no UDF)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("ScalaUDF"), plan.take(3000))
    // whole-stage codegen spans render as "*(n)" in the plan string
    assert(plan.contains("*("), plan.take(3000))
  }

  test("q119 LM scoring stage: zero shuffles, no explode, no join (model is a literal)") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.Tables.documents(spark, dir)
    val vocab = graft.text.LmScore.topKVocab(docs, "text", k = 64)
    val df = graft.text.LmScore.familiarity(docs, "doc_id", "text", vocab)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      "scoring must look up the broadcast literal, not join:\n" + plan.take(3000))
    assert(!plan.contains("Generate"),
      "scoring must not explode tokens:\n" + plan.take(3000))
    assert("Exchange".r.findAllIn(plan).size == 0,
      "scoring is pure map — no shuffle:\n" + plan.take(3000))
  }

  test("q121 PII redaction: one scan, only the final sort exchange") {
    val df = SparkEntry.queries("q121_pii_redaction")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("FileScan".r.findAllIn(plan).size == 1, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0,
      "redaction must not shuffle:\n" + plan.take(3000))
  }

  test("AQE splits a skewed sort-merge join partition (engine-native skew path)") {
    import org.apache.spark.sql.functions._
    // Complements q66's manual salting: same problem, the engine-native
    // answer. One hot key (~50k of 60k rows) lands in one shuffle
    // partition; with skewJoin thresholds scaled to the fixture, AQE must
    // re-plan the join with the hot partition split (skew=true on the
    // join node).
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    SparkTestSession.withConf(confs: _*) {
      val left = spark.range(0, 60000).select(
        when(col("id") < 50000, 0L).otherwise(col("id") % 2000).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 2000).select(
        col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // materialize THIS frame (count() would execute a different plan)
      assert(joined.collect().length == 60000) // every left row matches once
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        "AQE skew-split did not kick in:\n" + plan.take(3000))
    }
  }

  test("q124 indicators: both frames ride ONE key exchange + sort") {
    val df = SparkEntry.queries("q124_tech_indicators")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // one hash exchange for the key windows (the 20- and 14-row frames
    // share its sort); the only other exchange is the final orderBy's
    // range partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" + plan.take(3000))
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 2, s"expected <=2 sorts (window + output), got $sorts:\n" + plan.take(3000))
  }

  test("q126 beta: one raw scan, join-free market composite") {
    val df = SparkEntry.queries("q126_rolling_beta")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n" + plan.take(3000))
    assert(!plan.contains("Join"),
      "market composite should be a window, not a join:\n" + plan.take(3000))
  }

  test("q128 domain cap: rank filter plans WindowGroupLimit (map-side top-N)") {
    val df = SparkEntry.queries("q128_domain_cap")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      "rn<=25 did not push into WindowGroupLimit:\n" + plan.take(3000))
  }

  test("q129 winsorize: rank, bounds, and clip sums ride one key exchange") {
    val df = SparkEntry.queries("q129_winsorize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" + plan.take(3000))
  }

  test("q130 PQ: LUTs broadcast to the code scan, rerank joins broadcast, no sort-merge") {
    val df = SparkEntry.queries("q130_pq_adc_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // ADC scoring: per-query LUTs reach the corpus-code scan as a
    // broadcast (10 rows x m*k doubles), never a shuffle of the corpus
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // rerank: shortlist + query vectors broadcast back to the float scan
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus floats entered a shuffle join:\n" + plan.take(3000))
  }

  test("q133 OOV probe: in-scan membership — no token explode, no join") {
    val df = SparkEntry.queries("q133_vocab_oov")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the vocab FIT is a separate bounded job; the probe plan itself
    // must stay scan→project→agg
    assert(!plan.contains("Generate"),
      "token explode leaked into the probe plan:\n" + plan.take(3000))
    assert(!plan.contains("Join"),
      "vocab membership became a join:\n" + plan.take(3000))
  }

  /** Structural walk of the final executed plan: unwraps AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec hide their subtrees from
    * `children`) so asserts hold regardless of plan-string formatting. */
  private def finalPlanNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec        => q +: expand(q.plan)
      case other => other +: other.children.flatMap(expand)
    }
    expand(df.queryExecution.executedPlan)
  }

  /** Simple-class-names of aggregate functions that run in Partial
    * (map-side) mode anywhere in the final plan. */
  private def partialAggFunctions(df: org.apache.spark.sql.DataFrame)
      : Seq[String] = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Partial}
    finalPlanNodes(df).collect { case a: BaseAggregateExec =>
      a.aggregateExpressions.collect {
        case ae: AggregateExpression if ae.mode == Partial =>
          ae.aggregateFunction.getClass.getSimpleName
      }
    }.flatten
  }

  test("q138 top-k aggregate: partial (k-bounded) aggregation before the shuffle") {
    val df = SparkEntry.queries("q138_topk_aggregate")(spark, dir)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // Partial-mode TopKLongs pass — the ≤k-longs-per-group map-side
    // combine is the whole point. Structural check (aggregate modes on
    // the exec nodes), not plan-string matching, per round-7 advice.
    val partials = partialAggFunctions(df)
    assert(partials.contains("TopKLongs"),
      s"TopKLongs lost its partial (map-side) pass; partials=$partials")
    import org.apache.spark.sql.execution.aggregate.{
      ObjectHashAggregateExec, SortAggregateExec}
    assert(finalPlanNodes(df).exists(n =>
      n.isInstanceOf[ObjectHashAggregateExec] ||
        n.isInstanceOf[SortAggregateExec]),
      "expected an object-hash/sort aggregate node for the typed agg")
  }

  test("q216/q217 sketches aggregate map-side (partial sketch before the shuffle)") {
    // the entire point of a mergeable sketch: partials of bounded size
    // combine BEFORE the exchange — m entries (MG) / k longs (KMV) per
    // partition cross the wire, never the word stream
    val mgPartials = partialAggFunctions(
      SparkEntry.queries("q216_mg_heavy_hitters")(spark, dir))
    assert(mgPartials.contains("MisraGriesStrings"),
      s"MisraGries lost its partial pass; partials=$mgPartials")
    val kmvPartials = partialAggFunctions(
      SparkEntry.queries("q217_kmv_distinct")(spark, dir))
    assert(kmvPartials.contains("KMinDistinctLongs"),
      s"KMV lost its partial pass; partials=$kmvPartials")
  }

  private def noopWrite(q: String): QueryProfile = QueryProfile.of(spark) {
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
  }._2

  test("q71 build+materialize reads `events` once and starts no class-count scan") {
    val events = graft.tables.Tables.events(spark, dir).count()
    val c = noopWrite("q71_global_rf")
    // fit and score share one materialization of the bars: the result
    // must not re-derive them from `events` after the cache is released
    assert(c.scanRecords == events,
      s"events scanned ${c.scanRecords} records for $events rows")
    // the label's metadata carries the class count (movement ∈ {0, 1})
    val scans = c.executions.map(_.details).filter(_.contains("getNumClasses"))
    assert(scans.isEmpty, s"class-count scans started at:\n${scans.mkString("\n\n")}")
  }

  test("q217 reads each `lineitem` record once") {
    val lines = graft.tables.Tables.lineitem(spark, dir).count()
    val c = noopWrite("q217_kmv_distinct")
    assert(c.scanRecords == lines,
      s"lineitem scanned ${c.scanRecords} records for $lines rows")
  }

  test("q68 CMS probe: no Scala closure UDF anywhere; sketch aggregates map-side") {
    val df = SparkEntry.queries("q68_countmin_check")(spark, dir)
    // the point estimate is least(element_at(...)) over native hash
    // arithmetic — a ScalaUDF here would mean the probe regressed to
    // the closure-over-broadcast-sketch shape this query retired
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val udfs = finalPlanNodes(df).flatMap(_.expressions)
      .flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.isEmpty, s"closure UDF leaked into the CMS probe: $udfs")
    val partials = partialAggFunctions(df)
    assert(partials.contains("CountMinLongs"),
      s"CMS lost its partial (map-side) pass; partials=$partials")
  }

  test("q220 BPE encode: vocab table broadcast to the word stream (no sort-merge)") {
    val df = SparkEntry.queries("q220_bpe_encode")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      "encode join is not broadcast:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "encode unexpectedly sort-merge joins:\n" + plan.take(3000))
  }

  test("q219/q181 verify via per-doc set arrays (array_intersect), not a token re-explosion") {
    Seq("q219_containment_pairs", "q181_prefix_filter_pairs").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("array_intersect"),
        s"$name verification no longer uses the set-array form")
    }
  }

  test("q139 IVF-PQ: ADC scoring is a broadcast HASH join on the probed cell (no nested loop)") {
    val df = SparkEntry.queries("q139_ivf_pq_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // probe pruning IS the equi-join: per-(query, probed cell) LUT rows
    // broadcast and hash-join the coded corpus on `cell`, so a corpus row
    // meets exactly the queries probing its cell — never every query
    // pre-filter (the old crossJoin+array_contains nested loop)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "ADC scoring fell back to a nested loop:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus entered a shuffle join:\n" + plan.take(3000))
  }

  test("q148 quantile normalize: corpus ranks run bucket-partitioned (no global sort window over data)") {
    val df = SparkEntry.queries("q148_quantile_normalize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the distributedRank windows partition by (scope, __bkt) — the
    // corpus never rides a SinglePartition sort; the only unpartitioned
    // windows are the bucket-offset cumsums over the tiny counts tables
    assert("hashpartitioning\\(__bkt".r.findFirstIn(plan).isDefined,
      "global rank window lost its bucket partitioning:\n" + plan.take(3000))
    assert("hashpartitioning\\(rf#\\d+, __bkt".r.findFirstIn(plan).isDefined,
      "group rank window lost its bucket partitioning:\n" + plan.take(3000))
    val singles = "SinglePartition".r.findAllIn(plan).size
    assert(singles <= 2,
      s"corpus-sized SinglePartition exchange leaked ($singles):\n" + plan.take(3000))
  }

  test("q150 DPP: a runtime dynamic pruning filter reaches the partitioned fact scan") {
    val df = SparkEntry.queries("q150_dpp_partition_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruningexpression"),
      "no dynamic partition pruning on the fact scan:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q151 bloom join: might_contain rides the fact scan stage (codegen, pre-join)") {
    assertBloomPrefilterPlan("q151_bloom_join")
  }

  /** Shared bloom-prefilter plan contract (q151 and q79): the codegen'd
    * `might_contain` predicate present, sitting BELOW the join (a parent
    * prints before its children, so a post-join Filter would print
    * BEFORE the join line; the scan-stage pre-filter prints after it),
    * and no closure-UDF fallback. */
  private def assertBloomPrefilterPlan(queryName: String): Unit = {
    val df = SparkEntry.queries(queryName)(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"),
      "bloom pre-filter missing from the plan:\n" + plan.take(3000))
    val ji = plan.indexOf("Join")
    val mi = plan.indexOf("might_contain")
    assert(ji >= 0 && mi > ji,
      s"might_contain (at $mi) does not filter a join input (join at $ji):\n" +
        plan.take(3000))
    assert(!plan.contains("ScalaUDF"),
      "bloom probe fell back to a UDF:\n" + plan.take(3000))
  }

  test("q79 bloom join: might_contain rides the fact scan (no closure-UDF probe)") {
    assertBloomPrefilterPlan("q79_bloom_join")
  }

  test("q152 prefix rerank: stage-1 join moves only the 16-dim slice, rerank joins broadcast") {
    val df = SparkEntry.queries("q152_prefix_rerank_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus floats entered a shuffle join:\n" + plan.take(3000))
    // stage 1 must slice in the scan projection: the full 64-dim
    // vecDouble transform appears only in the rerank leg's scan
    assert(plan.contains("slice"), plan.take(3000))
  }

  test("q168 boilerplate removal: the corpus filter is a broadcast LEFT ANTI, never a shuffle join") {
    val df = SparkEntry.queries("q168_boilerplate_removal")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "hot-segment filter must be a broadcast anti-join:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin LeftAnti"),
      "corpus was shuffled to apply the hot list:\n" + plan.take(3000))
  }

  test("q169 inverted index: rank window and postings agg ride ONE term exchange") {
    val df = SparkEntry.queries("q169_inverted_index")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // exchanges: the term hash partitioning + the final orderBy range —
    // a second hash exchange would mean window and agg don't share one
    val hashEx = "hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected 1 term hash exchange shared by window+agg, got $hashEx:\n" +
        plan.take(3000))
  }

  test("q190 lateral: correlated ORDER BY/LIMIT decorrelates to a window rank (no per-row subquery)") {
    val df = SparkEntry.queries("q190_lateral_topn")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("Window"),
      "lateral LIMIT did not decorrelate into a window rank:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "lateral executed as a per-row nested loop:\n" + plan.take(3000))
  }

  test("q192 bucketed join: SMJ consumes the bucketed scans — zero hash exchanges") {
    val df = SparkEntry.queries("q192_bucketed_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("SelectedBucketsCount"),
      "scans are not bucketed:\n" + plan.take(3000))
    // join AND the same-key aggregate must both ride the bucket
    // distribution; the only exchange is the cosmetic output range sort
    assert(!plan.contains("hashpartitioning"),
      "bucketed join still shuffled:\n" + plan.take(3000))
  }

  test("q196 AQE splits the skewed sort-merge partition (skew=true in the final plan)") {
    queries.ExtendedQueries.withSkewSplitConfigs(spark) { child =>
      val df = queries.ExtendedQueries.skewJoinFrame(child, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"),
        "skew query lost its sort-merge join:\n" + plan.take(3000))
      assert(plan.contains("skew=true"),
        "AQE did not split the skewed partition:\n" + plan.take(3000))
    }
  }

  test("q194 recursive CTE executes as the engine's loop operator (no driver iteration)") {
    val df = SparkEntry.queries("q194_recursive_cte")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("UnionLoop"),
      "recursion did not plan as UnionLoop:\n" + plan.take(3000))
  }

  test("q197 higher-order arrays: per-row array programs stay in the scan (no shuffle, no explode)") {
    val df = SparkEntry.queries("q197_higher_order_arrays")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("hashpartitioning"),
      "array reduction shuffled:\n" + plan.take(3000))
    assert(!plan.contains("Generate"),
      "array program fell back to explode:\n" + plan.take(3000))
  }

  test("q198 sorted neighborhood: global order rides bucket-partitioned windows, not one sort") {
    val df = SparkEntry.queries("q198_sorted_neighborhood")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(__bkt".r.findFirstIn(plan).isDefined,
      "rank window lost its bucket partitioning:\n" + plan.take(3000))
    // the only SinglePartition exchange is the bucket-offset cumsum over
    // the tiny per-bucket counts table
    val singles = "SinglePartition".r.findAllIn(plan).size
    assert(singles <= 1,
      s"corpus-sized SinglePartition exchange leaked ($singles):\n" + plan.take(3000))
  }

  test("q195 NOT IN plans the single-column null-aware anti join (broadcast hash, no BNL)") {
    val df = SparkEntry.queries("q195_null_aware_anti")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "NOT IN fell back to a nested-loop anti join:\n" + plan.take(3000))
  }

  test("q201 self-joined rollup reuses the aggregate exchange (one orders scan)") {
    val df = SparkEntry.queries("q201_exchange_reuse")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      "monthly rollup is computed twice — exchange not reused:\n" +
        plan.take(3000))
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(finalPlan).size
    assert(scans == 1,
      s"expected exactly one orders scan in the final plan, saw $scans:\n" +
        finalPlan.take(3000))
  }

  test("q199 XML parse is engine-native (no UDF) and rides the scan stage") {
    val df = SparkEntry.queries("q199_xml_ingest")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("from_xml"), plan.take(3000))
    assert(!plan.contains("ScalaUDF"),
      "XML parse fell back to a UDF:\n" + plan.take(3000))
  }

  test("q203 SQ8 stats are in-scan: exactly one exchange (the label aggregate)") {
    val df = SparkEntry.queries("q203_sq8_quantize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // hashpartitioning(label) for the final agg + the cosmetic output
    // range sort are the only exchanges; per-vector math shuffles nothing
    val shuffles = "hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1,
      s"SQ8 per-vector stats shuffled $shuffles times:\n" + plan.take(3000))
    assert(!plan.contains("ScalaUDF"), plan.take(3000))
  }

  test("q208 re-read filter is pushed into the ORC scan") {
    val df = SparkEntry.queries("q208_orc_roundtrip")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("orc"), plan.take(2000))
    assert(plan.contains("Not(EqualTo(event_type,error))"),
      "event_type filter did not reach the ORC scan:\n" + plan.take(3000))
  }

  test("q210 both derived reports scan the columnar cache, not orders") {
    val df = SparkEntry.queries("q210_cached_rollup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 2,
      s"expected both references to hit InMemoryTableScan, saw $cacheScans:\n" +
        plan.take(3000))
  }

  test("q256 column pruning: the AUC scan reads only price + returnflag") {
    val plan = SparkEntry.queries("q256_roc_auc")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("l_extendedprice") && plan.contains("l_returnflag"),
      plan.take(2000))
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey") &&
      !plan.contains("l_shipdate"),
      "q256 must not read unused lineitem columns:\n" + plan.take(2000))
  }

  test("q262 is pure scan+aggregate: the 32-way bootstrap fan-out plans " +
    "no join and exactly one aggregation exchange") {
    val plan = SparkEntry.queries("q262_bootstrap_ci")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), "bootstrap must not join:\n" +
      plan.take(2000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, // partial->final agg + the output sort
      s"expected <= 2 exchanges, saw $exchanges:\n" + plan.take(3000))
    assert(plan.contains("Generate") || plan.contains("explode"),
      "expected the replicate fan-out in-plan:\n" + plan.take(2000))
  }

  test("q260 both retrieval legs broadcast the 10-query side") {
    val plan = SparkEntry.queries("q260_ann_recall")(spark, dir)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q272 sampled blocking: nested loops are exactly the five " +
    "single-row scalar stitches; every truth/candidate join is hash-based") {
    val p = SparkEntry.queries("q272_blocking_pc_sampled")(spark, dir)
      .queryExecution.executedPlan.toString()
    // the only BNLs are crossJoins of broadcast one-row aggregate legs
    // (counts/estimates stitched into the single output row) — the
    // domain-bounded convention; pair-space work never nests
    assert("BroadcastNestedLoop".r.findAllIn(p).length == 5, p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 10,
      "truth/candidate joins stopped broadcasting")
    assert("SortMergeJoin".r.findAllIn(p).length <= 2,
      "pair joins regressed to extra sort-merges")
  }

  test("q274/q283 dedup kernel tail: rep classification broadcasts " +
    "(semi + outer BuildRight), no nested loop — the stage the " +
    "checkpoints leave visible") {
    import org.apache.spark.sql.functions._
    // the pair/df stages hide behind incrementalDedup's eager
    // localCheckpoint (their IO shape is pinned empirically in
    // IndexedDedupSpec); the verdict tail is the auditable batch plan
    val docs = graft.tables.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val keep = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val p = graft.dedup.Dedup
      .incrementalDedup(keep, batch, "doc_id", "text", 3, 0.3, 20)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi, BuildRight"),
      "keep-rep membership stopped broadcasting")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "rep verdict join regressed to a shuffle")
  }

  test("q285 probe: the IVF index scan reads only the probed cells' " +
    "live generation dirs and the query side broadcasts") {
    import org.apache.spark.sql.functions._
    import graft.similarity.{Clustering, IvfIndex}
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_ivfplan_").toString
    IvfIndex.mergeBatch(emb.select("vec_id", "embedding"), "vec_id",
      "embedding", centroids, idxDir, 1L)
    val probed = IvfIndex.probe(spark, idxDir,
      emb.where(col("vec_id") === 3), "vec_id", "embedding", centroids,
      nProbe = 2, k = 5)
    val p = probed.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      "query-side scoring join stopped broadcasting")
    // manifest-resolved read pruning: 2 probed cells => at most 2 cell
    // generation dirs in the scan, out of the 16 live ones
    val dirs = probed.inputFiles.filter(_.contains(idxDir)).map(f =>
      new java.io.File(f).getParentFile.getName).toSet
    assert(dirs.nonEmpty && dirs.size <= 2
      && dirs.forall(_.matches("c\\d+G\\d+")),
      s"probe read outside the probed cells: $dirs")
    assert(IvfIndex.liveDirs(spark, idxDir).size > 2,
      "fixture too degenerate to prove pruning")
  }

  test("q298 linkage: the blocked candidate join is a HASH join on the " +
    "composite block key (never a nested loop), and the weight/census " +
    "stitches are the only broadcast-nested-loops") {
    val df = SparkEntry.queries("q298_fellegi_sunter_linkage")(spark, dir)
    df.collect()
    // AQE's toString appends the pre-adaptive plan after
    // "== Initial Plan ==" — audit the FINAL plan only
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // the pair-space join must key on (nation, band): a hash join —
    // broadcast at this SF, shuffled-hash/sort-merge at scale — and
    // never a BroadcastNestedLoopJoin over customer rows
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    // permitted BNLs: the 1-row weight frame onto pairs, the 1-row
    // n_cust frame, and the 1-row n_pairs_precap cap-pressure census
    // (r13 block cap) onto the final row — the domain-bounded stitch
    // convention; nothing else
    assert(bnl <= 3, s"expected <=3 single-row stitches, got $bnl:\n" +
      plan.take(3000))
  }

  test("q299 shard rank: two-phase shape — the offsets frame aggregates " +
    "before joining back (partial agg + hash join), no global sort " +
    "below the final 16-row order") {
    val df = SparkEntry.queries("q299_sharded_shuffle_rank")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // the (shard, block) census combines map-side before its exchange
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      plan.take(3000))
    // offsets join back by hash join, never nested-loop over docs
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 1, // the 1-row balance stitch only
      s"expected <=1 single-row stitch, got $bnl:\n" + plan.take(3000))
    // the only Sorts permitted sit inside window partitions and the
    // final 16-row orderBy — no corpus-wide total-order exchange
    assert(!plan.contains("rangepartitioning(ord"),
      "a global sort on the order hash defeats the two-phase design:\n" +
        plan.take(3000))
  }

  test("partition pruning reaches a partitioned-parquet scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part_").toString
    graft.tables.Tables.events(spark, dir)
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    val df = spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      plan.take(2000))
  }

  test("index families keep one commit path: in dedup/, text/, " +
    "similarity/ and curation/ only IndexTxn.scala commits a manifest " +
    "(bootstraps apart), forks or awaits stagings, or names testCrash") {
    val banned = Seq(
      """\.commit\((?!\)|0L,)""".r, // a manifest commit; txn.commit() is fine
      """Exec\.(fork|await|quiesce)""".r,
      """testCrash""".r)
    val files = Seq("dedup", "text", "similarity", "curation").flatMap { p =>
      val d = new java.io.File(s"src/main/scala/graft/$p")
      assert(d.isDirectory, s"missing source directory $d")
      d.listFiles.filter(_.getName.endsWith(".scala")).toSeq
    }
    assert(files.exists(_.getName == "IndexTxn.scala"))
    val offenders = for {
      f <- files if f.getName != "IndexTxn.scala"
      (ln, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).zipWithIndex
      if banned.exists(_.findFirstIn(ln).isDefined)
    } yield s"${f.getName}:${i + 1}: ${ln.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("index plumbing starts no Spark job: IndexTxn.scala and " +
    "TombstoneAudit.scala build frames only, so every action keeps the " +
    "calling family's call site") {
    val actions = Seq("""\.localCheckpoint\b""".r, """\.collect\(\)""".r,
      """\.count\(\)""".r, """\.isEmpty\b""".r, """\.write\b""".r)
    val offenders = for {
      nm <- Seq("IndexTxn.scala", "TombstoneAudit.scala")
      (ln, i) <- java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"src/main/scala/graft/dedup/$nm"))
        .toArray(Array.empty[String]).zipWithIndex
      code = ln.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if actions.exists(_.findFirstIn(code).isDefined)
    } yield s"$nm:${i + 1}: $code"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("queries keep one session-fixture facility: in queries/ only " +
    "SessionFixtures.scala holds a ConcurrentHashMap, calls " +
    "computeIfAbsent or copies files with FileUtil.copy") {
    val banned = Seq("ConcurrentHashMap", "computeIfAbsent", "FileUtil.copy")
    val d = new java.io.File("src/main/scala/graft/queries")
    assert(d.isDirectory, s"missing source directory $d")
    val files = d.listFiles.filter(_.getName.endsWith(".scala")).toSeq
    assert(files.exists(_.getName == "SessionFixtures.scala"))
    val offenders = for {
      f <- files if f.getName != "SessionFixtures.scala"
      (ln, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).zipWithIndex
      if banned.exists(ln.contains)
    } yield s"${f.getName}:${i + 1}: ${ln.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("engine code never writes a session conf: under src/main only " +
    "LocalSpark.scala and tables/Tables.scala call conf.set(, conf.unset(, " +
    "setConf( or setConfString(, or run a SQL SET") {
    val banned = Seq(
      """\bconf\.(set|unset)\(""".r,
      """\bsetConf(String)?\(""".r,
      """(?i)\bsql\(\s*s?"+\s*(RE)?SET\b""".r)
    val owners = Set("src/main/scala/graft/LocalSpark.scala",
      "src/main/scala/graft/tables/Tables.scala").map(java.nio.file.Paths.get(_))
    owners.foreach(o => assert(java.nio.file.Files.isRegularFile(o), s"missing $o"))
    import scala.jdk.CollectionConverters._
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    val offenders = for {
      f <- files if !owners(f)
      (ln, i) <- java.nio.file.Files.readAllLines(f)
        .toArray(Array.empty[String]).zipWithIndex
      if banned.exists(_.findFirstIn(ln).isDefined)
    } yield s"$f:${i + 1}: ${ln.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Spark is listened to in one place: under src/main and src/test " +
    "only graft/obs/QueryProfile.scala defines or registers a " +
    "SparkListener or a StreamingQueryListener") {
    val banned = Seq(
      """\bnew\s+[\w.]*(SparkListener|StreamingQueryListener)\b""".r,
      """\bextends\s+[\w.]*(SparkListener|StreamingQueryListener)\b""".r,
      """\baddSparkListener\(""".r,
      """\bstreams\.addListener\(""".r)
    val owner = java.nio.file.Paths.get("src/main/scala/graft/obs/QueryProfile.scala")
    assert(java.nio.file.Files.isRegularFile(owner), s"missing $owner")
    import scala.jdk.CollectionConverters._
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    val offenders = for {
      f <- files if f != owner
      (ln, i) <- java.nio.file.Files.readAllLines(f)
        .toArray(Array.empty[String]).zipWithIndex
      if banned.exists(_.findFirstIn(ln).isDefined)
    } yield s"$f:${i + 1}: ${ln.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

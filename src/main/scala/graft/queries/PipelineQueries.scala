package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Merge, Salting}
import graft.tables.Tables
import graft.text.TextAnalysis

/** Maintenance / scale-pattern queries (round 2 widening): latest-wins
  * merge, skew-salted join, stream-static enrichment, mergeable sketches,
  * and corpus term statistics. All but the sketch estimates are fully
  * oracle-checked; the sketch queries use the deterministic-tolerance
  * pattern (exact value + bound-check boolean, oracle asserts TRUE). */
object PipelineQueries extends QueryPack {

  /** q65: SCD-1 latest-wins upsert. Updates double the value and arrive
    * one hour later for every 10th event; merge must keep exactly those
    * versions (oracle = same union + window in SQL). */
  private def upsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "event_type", "value", "ts")
    val base = ev.withColumn("src", lit(0))
    val updates = ev.where(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("src", lit(1))
    Merge.upsertLatest(base, updates, key = "event_id",
        version = "ts", tiebreak = "src")
      .select(col("event_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .orderBy("event_id")
  }

  /** q157: CDC merge WITH TOMBSTONES ([[Merge.mergeWithDeletes]]) — the
    * full change-stream contract: updates double every 10th event an
    * hour later, deletes tombstone every 7th two hours later, so keys
    * divisible by 70 see an update THEN a delete — latest-wins makes
    * the delete stick and the stale update cannot resurrect the row.
    * One key shuffle, one window pass; oracle replays union + window +
    * tombstone filter. */
  private def mergeDeletes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "event_type", "value", "ts")
    val base = ev.withColumn("src", lit(0))
    val ups = ev.where(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("src", lit(1))
      .withColumn("op", lit("U"))
    val dels = ev.where(col("event_id") % 7 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 2 HOUR"))
      .withColumn("src", lit(2))
      .withColumn("op", lit("D"))
    Merge.mergeWithDeletes(base, ups.unionByName(dels),
        key = "event_id", version = "ts", tiebreak = "src", opCol = "op")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** q66: salted skew join lineitem ⋈ supplier — result must equal the
    * plain equi-join (the oracle IS the unsalted SQL). */
  private def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_quantity", "l_orderkey")
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    Salting.saltedJoin(li, sup, key = "l_suppkey",
        saltSource = "l_orderkey", buckets = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("l_quantity") * 100).cast("long")) / 100.0, 2)
          .as("total_qty"))
      .orderBy("s_nationkey")
  }

  /** q67: stream-static enrichment — the events stream joined to the
    * broadcast customer dim (no shuffle of the stream, no state), windowless
    * running aggregate to a memory sink. */
  private def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsStream(spark, dir)
    val dim = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val agg = raw.join(broadcast(dim), raw("user_id") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_c"))
    StreamingQueries.runToMemorySink(agg, "enrich")
      .select(col("c_mktsegment"), col("n"),
        round(col("total_c") / 100.0, 2).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** q68: count-min sketch point estimates vs exact per-key counts,
    * through the REPO-NATIVE [[graft.functions.CountMinLongs]]
    * aggregate. The sketch is the counter matrix as a flat
    * `array<bigint>`, so the point estimate is plain SQL —
    * `least(element_at(...))` over the Carter–Wegman hash arithmetic,
    * codegen'd end to end with NO Scala closure on the probe path (the
    * old shape — a UDF over a broadcast `CountMinSketch` binary — was
    * the last closure UDF in this tree; Spark ships no point-query
    * expression for its CMS format). The DuckDB oracle replays the
    * ENTIRE sketch cell by cell (each cell is the count of rows hashing
    * there) and the estimates hash-match EXACTLY — strictly stronger
    * than the old bound-boolean check. cms_never_under is the CMS
    * theorem (estimates never under-count), TRUE by construction.
    *
    * Scale shape: the sketch build is one map-side-combined aggregation
    * (depth·width longs per partial); the probe broadcasts the 64 KB
    * matrix to the per-key count scan. */
  private def countMinCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinLongs
    import graft.functions.HashFunctions.count_min_longs
    val ev = Tables.events(spark, dir)
    val (depth, width, seed) = (4, 2048, 42)
    val sketch = ev.agg(count_min_longs(col("user_id"), depth, width, seed).as("s"))
    val p = lit(CountMinLongs.P)
    val ests = CountMinLongs.hashParams(seed, depth).zipWithIndex.map {
      case ((a, b), d) =>
        element_at(col("s"),
          (lit(d.toLong * width) +
            pmod(pmod(col("user_id"), p) * lit(a) + lit(b), p) % lit(width.toLong)
            + lit(1L)).cast("int"))
    }
    ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .crossJoin(broadcast(sketch))
      .withColumn("cms_est", least(ests: _*))
      .select(col("user_id"), col("exact_n"), col("cms_est"),
        (col("cms_est") >= col("exact_n")).as("cms_never_under"))
      .orderBy("user_id")
  }

  /** q69: HLL sketch partial-merge — per-group sketches OR-merged into a
    * global estimate (hll_union_agg), checked against exact distinct
    * within 5%. Demonstrates the mergeable-sketch path that replaces
    * count(DISTINCT) at 100 TB. */
  private def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val merged = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(count(lit(1)).as("n_groups"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_users"))
    merged.crossJoin(exact)
      .select(col("n_groups"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double")
          / col("exact_users") < 0.05).as("hll_ok"))
  }

  /** q70: per-language top-5 terms by document frequency (integer-exact
    * tf/df — no float scoring, so the oracle hash-matches bit-for-bit). */
  private def termDocFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val agg = toks.groupBy("lang", "token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy("lang").orderBy(desc("df"), desc("tf"), asc("token"))
    agg.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("lang", "token", "tf", "df", "rank")
      .orderBy("lang", "rank")
  }

  /** q73: the composed cleaning pipeline — token-length bounds, quality
    * threshold, language-ID gate, then exact dedup (first-id-wins). One
    * scan, all filters codegen'd column expressions, one shuffle on the
    * fingerprint. The end-to-end shape of a training-data corpus clean. */
  private def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("predicted"))
    scored
      .where(col("n_tokens").between(5, 1000) &&
        col("quality") >= 0.5 && col("predicted") =!= "und")
      .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("n_tokens")).as("n_tokens"),
        min(col("predicted")).as("predicted"))
      .select("doc_id", "n_tokens", "predicted", "fingerprint")
      .orderBy("doc_id")
  }

  /** q74: deterministic corpus shuffle for training order — sort by a
    * seeded content-independent hash of the id. At scale the orderBy is a
    * range-partitioned sort (Spark plans Exchange rangepartitioning), so
    * the total order lands across output files without a single-node
    * pass; md5 matches bit-for-bit across engines. */
  private def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .orderBy("shuffle_key")

  /** q75: rolling volatility from exact integer sums. The window emits
    * count/sum/sum-of-squares in integer cents (order-independent, exact
    * at any partitioning); the sample variance is derived with the SAME
    * float expression on both engines — every op is correctly rounded on
    * identical inputs, so the hash matches bit-for-bit. */
  private def rollingVolatility(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-9, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_w"),
        sum(cents).over(w).as("sum_c"),
        sum(cents * cents).over(w).as("sum_c2"))
      .withColumn("variance_c2",
        when(col("n_w") > 1,
          (col("sum_c2").cast("double") -
            col("sum_c").cast("double") * col("sum_c") / col("n_w"))
            / (col("n_w") - 1)))
      .orderBy("user_id", "event_id")
  }

  /** q79: bloom-filter join pruning (the runtime-filter pattern). A bloom
    * of the selective dim's keys pre-filters the fact side BEFORE the join
    * shuffle — at 100 TB this is what cuts shuffle input when the dim is
    * too large to broadcast; the exact join then removes the bloom's
    * false positives, so the result equals the plain join (the oracle).
    * The probe is the codegen'd Catalyst `BloomFilterMightContain` via
    * [[graft.ops.BloomJoin.bloomPrefilter]] (sketch built over
    * `xxhash64(key)` so build and probe agree) — no per-row Scala
    * closure, the predicate stays inside whole-stage codegen on the
    * hottest scan. */
  private def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_suppkey", "l_extendedprice")
    val sup = Tables.supplier(spark, dir).where(col("s_nationkey") < 5)
      .select("s_suppkey", "s_nationkey")
    graft.ops.BloomJoin.bloomPrefilter(li, "l_suppkey", sup, "s_suppkey", 10000L)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0, 2)
          .as("total_price"))
      .orderBy("s_nationkey")
  }

  /** q80: approx_percentile rank-error bound check — the estimate (an
    * actual data element with rank within 1/accuracy of target) must land
    * between the exact percentiles at p ± 0.05: 1% sketch rank error plus
    * a margin for interpolation discretization at small group sizes
    * (verified: p ± 0.01 flips at sf0.001's ~200-row groups). Same
    * tolerance-boolean pattern as q68/q69: the sketch is deterministic, so
    * DuckDB asserts TRUE and the driver hash-fails if the bound breaks. */
  private def approxPercentileCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("c", round(col("value") * 100).cast("long"))
      .groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("p50_exact"),
        expr("percentile(c, 0.45)").as("lo"),
        expr("percentile(c, 0.55)").as("hi"),
        expr("approx_percentile(c, 0.5, 100)").as("ap"))
      .select(col("event_type"), col("p50_exact"),
        (col("ap") >= col("lo") && col("ap") <= col("hi")).as("approx_ok"))
      .orderBy("event_type")

  /** q81: deterministic train/val/test split by hex-ordered md5 of the id
    * (~75/12.5/12.5) — the pure-map dataset partitioning every training
    * pipeline needs; no shuffle except the final count, identical split
    * membership on any engine. */
  private def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("k", md5(concat(lit("split:"), col("doc_id").cast("string"))))
      .withColumn("split",
        when(col("k") < "c", "train").when(col("k") < "e", "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("split")

  /** Shared inputs and aggregation for q93/q99 — the two queries differ
    * ONLY in how the range join is planned (manual binning vs the
    * optimizer rule); one definition keeps them impossible to
    * desynchronize. */
  private def bandJoinInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        col("l_quantity"))
    val bands = Tables.part(spark, dir)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("lo"))
      .withColumn("hi", col("lo") + 500)
    (li, bands)
  }
  private def bandJoinResult(joined: DataFrame): DataFrame =
    joined.groupBy("p_partkey")
      .agg(count(lit(1)).as("n_in_band"),
        round(sum(round(col("l_quantity") * 100).cast("long")) / 100.0, 2)
          .as("total_qty"))
      .orderBy("p_partkey")

  /** q93: binned range join — lineitems whose price (cents) falls in each
    * part's retail-price band [lo, lo+500]. A naive range predicate would
    * plan a broadcast-nested-loop (quadratic); RangeJoin bins both sides
    * (binWidth = band length → ≤2 bins per interval) and runs a shuffled
    * EQUI-join on the bin id, filtered exact afterward. The oracle is the
    * plain BETWEEN join — semantics must be identical. */
  private def rangeJoinBands(spark: SparkSession, dir: String): DataFrame = {
    val (li, bands) = bandJoinInputs(spark, dir)
    bandJoinResult(
      graft.ops.RangeJoin.pointInInterval(li, "price_c", bands, "lo", "hi", 500))
  }

  /** q94: deterministic stratified sampling — rare strata kept at a
    * higher rate than common ones, membership a pure hash of the id (no
    * rand(), no seed/partitioning dependence — rerunning the pipeline
    * reproduces the corpus exactly). Purely map-side; the aggregate here
    * just summarizes the kept set for the oracle. */
  private def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedHashSample(Tables.events(spark, dir),
        stratum = "event_type", id = "event_id", salt = "samp:",
        rates = Seq("click" -> "2", "view" -> "2"), defaultHex = "8")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"),
        min("event_id").as("first_id"), max("event_id").as("last_id"))
      .orderBy("event_type")

  /** q115: domain-mixture sampling — materialize a 28%-src0 / 8%-rest
    * target mix at half the corpus size. Per-stratum keep-rates are
    * DERIVED from the observed counts in-plan (one tiny aggregate
    * broadcast back onto the scan); membership stays a pure id-hash, so
    * the mix is reproducible across runs and engines
    * (see [[graft.ops.Sampling.mixtureSample]]). */
  private def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixtureSample(Tables.documents(spark, dir),
        stratum = "source", id = "doc_id", salt = "mix:",
        weights = Seq("src0" -> 0.28), defaultWeight = 0.08, frac = 0.5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        min("doc_id").as("first_id"), max("doc_id").as("last_id"),
        sum("doc_id").as("sum_ids"))
      .orderBy("source")

  /** q95: SCD-2 history build — each order becomes a validity interval
    * [its date, next order's date) per customer, the open interval capped
    * at 9999-12-31. One key shuffle + one sorted window pass (lead), the
    * standard warehouse history-table shape at any scale. */
  private def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("next_date"), "yyyy-MM-dd"), lit("9999-12-31"))
          .as("valid_to"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** q281: POINT-IN-TIME lookup against the SCD-2 history — the
    * warehouse consumption pattern q95 builds for (a dimension row "as
    * of" a fact's timestamp): every lineitem's SHIP date is attributed
    * to the customer's order era active at ship time (the q95
    * intervals partition each customer's timeline, so the lookup is an
    * AS-OF: the last era with valid_from ≤ ship date). Implemented in
    * the scalable as-of shape — ONE union of era rows and probe rows,
    * one customer-key shuffle, one sorted window with a running
    * last-non-null (era_key, era_ts) pair (era rows sort before probes
    * at equal ts, and later same-date eras last, which reproduces
    * q95's zero-length-interval semantics exactly). This corpus's ship
    * dates are synthetic and can PRECEDE the order date (measured
    * min gap ≈ −2400 days), so the census is the full taxonomy: `none`
    * (ship before the customer's first era), `earlier_era`, `own_era`,
    * `later_era` — ordered by the SCD2 total order (date, orderkey).
    * Items + cents per bucket. No range join, no per-probe scan of the
    * dimension — the 100 TB PIT shape. */
  private def scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val eras = o.select(col("o_custkey").as("ck"),
      expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)").as("ts"),
      col("o_orderkey").as("era_key"), lit(1).as("is_era"),
      lit(null).cast("long").as("own_key"),
      lit(null).cast("long").as("own_ts"),
      lit(null).cast("long").as("cents"))
    val probes = Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("ck"),
        expr("CAST(datediff(l_shipdate, DATE'1970-01-01') AS BIGINT)").as("ts"),
        lit(null).cast("long").as("era_key"), lit(0).as("is_era"),
        col("l_orderkey").as("own_key"),
        expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)")
          .as("own_ts"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("ck")
      .orderBy(col("ts"), col("is_era").desc, col("era_key").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    eras.unionByName(probes)
      .withColumn("active_era", last("era_key", ignoreNulls = true).over(w))
      .withColumn("active_ts",
        last(when(col("is_era") === 1, col("ts")), ignoreNulls = true).over(w))
      .where(col("is_era") === 0)
      .select(
        when(col("active_era").isNull, "a_none")
          .when(col("active_era") === col("own_key"), "c_own_era")
          .when(col("active_ts") < col("own_ts") ||
            (col("active_ts") === col("own_ts") &&
              col("active_era") < col("own_key")), "b_earlier_era")
          .otherwise("d_later_era").as("attribution"),
        col("cents"))
      .groupBy("attribution")
      .agg(count(lit(1)).as("n_items"), sum("cents").as("sum_cents"))
      .orderBy("attribution")
  }

  /** q99: the q93 band join written the NATURAL way — a plain BETWEEN
    * predicate, no manual binning — planned through
    * [[graft.plans.BinnedRangeJoinRule]] (SparkSessionExtensions tier):
    * the optimizer rewrites the pure range join into the binned
    * equi-join automatically, so the user keeps declarative SQL and the
    * quadratic nested-loop plan never runs. Same oracle as q93 —
    * identical semantics is the point; RangeJoinRuleSpec asserts the
    * rewritten plan.
    *
    * Registration is SESSION-WIDE (SparkSessionExtensions semantics) and
    * idempotent; the rule is safe as a resident: it only ever touches an
    * inner join whose cross-side condition is exactly one integral
    * >=/<= pair with no equi conjunct — a shape that, without it, could
    * only plan as a nested loop — and a malformed binWidth conf disables
    * the rewrite with a warning instead of failing optimization. */
  private def rangeJoinAuto(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (li, bands) = bandJoinInputs(spark, dir)
    bandJoinResult(
      li.join(bands, col("price_c") >= col("lo") && col("price_c") <= col("hi")))
  }

  /** q118: z-order (Morton) layout statistics. Computes the 16-bit
    * 2-dim z-value over (l_partkey, l_suppkey) — the interleave that
    * [[graft.ops.Layout.writeZOrdered]] sorts files by — and aggregates
    * per top-6-bit z-bucket. The oracle replays the whole pipeline
    * (bounds, grid scaling, bit interleave) in SQL, proving the Morton
    * code bit-for-bit; ParquetLayoutSpec separately proves the layout
    * CONSEQUENCE (every file bounds every dimension). Scale shape: one
    * min/max stats pass broadcast back as a single row, then pure in-scan
    * bit arithmetic — the Delta/Iceberg OPTIMIZE ZORDER recipe. */
  private def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    graft.ops.Layout.zOrdered(li, Seq("l_partkey", "l_suppkey"),
        bits = 16, zCol = "z")
      .withColumn("z_bucket", shiftright(col("z"), 26))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_okey"),
        min(col("z")).as("z_min"),
        max(col("z")).as("z_max"))
      .orderBy("z_bucket")
  }

  /** q128: per-domain document cap — the "no source may dominate the
    * training mix" gate (the RefinedWeb/C4 recipe): keep the N lowest-id
    * docs per source, drop the rest. The rank<=N predicate plans as
    * WindowGroupLimit (plan-asserted), so every map partition retains at
    * most N rows per source BEFORE the shuffle — post-scan data volume is
    * sources×N, not the corpus, which is what makes a per-domain cap
    * runnable on a 100 TB crawl. */
  private def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 25)
      .orderBy("source", "doc_id")
  }

  /** q129: winsorization — clip a value column to per-group [p05, p95]
    * bounds. The bound is the value at 1-based rank floor(p·(n−1))+1 of
    * the sorted column — a rank pick, not an interpolated quantile, so
    * it is integer-exact and engine-portable (interpolation formulas
    * differ subtly across engines; a rank pick cannot). Rank, count,
    * bound picks, and the clipped exact-int sums all ride ONE key
    * exchange. The 100 TB variant swaps the exact rank for the
    * approx-percentile sketch bound (q80's operator) when a full
    * per-group sort is too hot — same clip, sketched pick. */
  private def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("rf").orderBy("c")
    val wAll = Window.partitionBy("rf")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("rf"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .withColumn("rnk", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("lo_k", floor(lit(0.05) * (col("n") - 1)) + 1)
      .withColumn("hi_k", floor(lit(0.95) * (col("n") - 1)) + 1)
      .withColumn("lo_c", min(when(col("rnk") === col("lo_k"), col("c"))).over(wAll))
      .withColumn("hi_c", min(when(col("rnk") === col("hi_k"), col("c"))).over(wAll))
      .groupBy("rf")
      .agg(count(lit(1)).as("n_rows"),
        min("lo_c").as("lo_cents"),
        min("hi_c").as("hi_cents"),
        sum(when(col("c") < col("lo_c"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("c") > col("hi_c"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("c")).as("sum_cents_raw"),
        sum(least(greatest(col("c"), col("lo_c")), col("hi_c")))
          .as("sum_cents_wins"))
      .orderBy("rf")
  }

  /** q132: fixed-budget reservoir per language — the unbiased-draw
    * counterpart of q128's cap (which biases toward low ids): 20 docs
    * per lang, chosen by salted-hash priority, reproducible across
    * runs/partitionings/engines. WindowGroupLimit bounds every map task
    * at 20 rows per lang pre-shuffle. */
  private def reservoirSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.reservoirSample(
        Tables.documents(spark, dir).select("lang", "doc_id"),
        stratum = "lang", id = "doc_id", salt = "rsv:", n = 20)
      .select("lang", "doc_id", "pri", "rn")
      .orderBy("lang", "rn")

  /** q146: corpus-curation funnel end-to-end — the five production
    * stages chained on one corpus, with per-source attrition (the
    * observability view every curation run ships): quality/language
    * clean (q73's gates) → benchmark decontamination (q112's 5-gram
    * broadcast probe) → exact dedup (q36's md5 first-id-wins) →
    * per-domain cap (q128's WindowGroupLimit rank) → deterministic
    * hash downsample (q94's md5-threshold, src0 downweighted). Every
    * stage keeps its own scale shape; the funnel's joins move ID SETS
    * (stage-survivor-sized), and the attrition table is sources-sized.
    * Stage criteria are the already-oracled ones, so the composed
    * oracle is their CTE chain. */
  private def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("predicted"),
        TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
    val clean = docs.where(col("n_tokens").between(5, 1000) &&
      col("quality") >= 0.5 && col("predicted") =!= "und")
    val bench = Tables.documents(spark, dir).where(col("doc_id") % 25 === 0)
    val decon = clean.join(
      graft.text.Decontaminate.flagContaminated(clean, bench,
          id = "doc_id", text = "text", btext = "text", k = 5)
        .where(!col("contaminated")).select("doc_id"),
      Seq("doc_id"))
    val dedup = decon.join(
      decon.groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
        .select("doc_id"),
      Seq("doc_id"))
    val wCap = Window.partitionBy("source").orderBy("doc_id")
    val cap = dedup.withColumn("__rn", row_number().over(wCap))
      .where(col("__rn") <= 25).drop("__rn")
    val fin = graft.ops.Sampling.stratifiedHashSample(cap,
      stratum = "source", id = "doc_id", salt = "cur:",
      rates = Seq("src0" -> "4"), defaultHex = "c")
    def stage(df: DataFrame, name: String): DataFrame =
      df.groupBy("source").agg(count(lit(1)).as(name))
    Seq(stage(clean, "n_clean"), stage(decon, "n_decon"),
        stage(dedup, "n_dedup"), stage(cap, "n_cap"), stage(fin, "n_final"))
      .foldLeft(stage(docs, "n_raw")) { (acc, s) =>
        acc.join(s, Seq("source"), "left")
      }
      .na.fill(0L)
      .orderBy("source")
  }

  /** q148: quantile normalization — each group's value distribution
    * mapped onto the GLOBAL distribution by exact rank arithmetic
    * (within-group rank r of n_g → the global value at rank
    * ((r−1)(N−1)) div (n_g−1) + 1): the batch-effect-removal transform,
    * interpolation-free and tie-insensitive (the rank SET per group is
    * always 1..n_g, so group aggregates are deterministic under any tie
    * order). Both rankings run as [[graft.ops.Ranking.distributedRank]]
    * — bucket offsets + bucket-local windows, NO corpus-sized single
    * partition (plan-asserted); the rank→value lookup is one equi-join
    * shuffle. */
  private def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("rf"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
    val width = 200000L
    val g = graft.ops.Ranking.distributedRank(
      src.select("c"), "c", Nil, width, "grank")
    val total = src.agg(count(lit(1)).as("N"))
    val gcnt = src.groupBy("rf").agg(count(lit(1)).as("n_g"))
    val ranked = graft.ops.Ranking.distributedRank(
      src, "c", Seq("rf"), width, "r")
    ranked.join(broadcast(gcnt), Seq("rf")).crossJoin(broadcast(total))
      .withColumn("t",
        expr("CASE WHEN n_g > 1 THEN ((r - 1) * (N - 1)) div (n_g - 1) + 1 " +
          "ELSE CAST(1 AS BIGINT) END"))
      .join(g.select(col("grank").as("t"), col("c").as("qnorm_c")), Seq("t"))
      .groupBy("rf")
      .agg(count(lit(1)).as("n"),
        sum("c").as("sum_cents_raw"),
        sum("qnorm_c").as("sum_cents_qnorm"),
        min("qnorm_c").as("min_qnorm"),
        max("qnorm_c").as("max_qnorm"))
      .orderBy("rf")
  }

  /** q290: BOTTOM-K PER-GROUP uniform sample — the "exactly k rows per
    * stratum" op the sampling family still lacks (q94 is rate-based so
    * stratum yields float with the stratum size; q278 is weighted;
    * q289 draws negatives): the k users with the SMALLEST finalized
    * hash per event type are a uniform-without-replacement k-sample,
    * deterministic across runs/retries/engines — distributed reservoir
    * sampling without the sequential-scan state, and re-drawable on a
    * grown table with bounded churn (an item leaves only when a
    * smaller-hashed newcomer arrives). Hash = fmix64∘fnv1a of
    * "grs:type:user" (the q253/q262 finalized-hash discipline), rank by
    * (hash, user) per type.
    *
    * Scale shape: one distinct rollup + a rank window per group key —
    * and the window input could be pre-pruned by any per-partition
    * top-k; no global sort, no driver state. */
  private def bottomkGroupSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h", "user_id")
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h",
        shiftrightunsigned(fmix64(fnv1a(concat(lit("grs:"), col("event_type"),
          lit(":"), col("user_id").cast("string")))), 1))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("user_id"), col("h"))
      .orderBy("event_type", "rank")
  }

  /** q291: HASH-SPLIT train/val/test — the canonical reproducible
    * dataset split: each doc routes to train/val/test by its finalized
    * hash bucket (80/10/10 of fmix64("spl:doc") mod 100), so the split
    * is a PURE FUNCTION of the key — stable under re-runs, shard order,
    * cluster size, and INCREMENTAL growth (a new doc lands in its split
    * without moving any other, the property a row_number split lacks).
    * Output: per-split census with char mass and an id-sum checksum,
    * plus coverage/disjointness audits (splits partition the corpus by
    * construction — the booleans make the invariant data, not a
    * comment).
    *
    * Scale shape: one projection + one 3-group aggregate; the split
    * column costs one hash per row inside the scan. */
  private def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b",
        shiftrightunsigned(fmix64(fnv1a(concat(lit("spl:"),
          col("doc_id").cast("string")))), 33) % 100)
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test"))
    val per = docs.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("n_chars"),
      sum("doc_id").as("id_checksum"))
    val tot = docs.agg(count(lit(1)).as("n_total"),
      sum("doc_id").as("sum_total"))
    per.crossJoin(broadcast(tot))
      .select(col("split"), col("n_docs"), col("n_chars"),
        col("id_checksum"), col("n_total"),
        // 1e6-times-count products ride decimal(38,0) (the q284/q282
        // discipline — BIGINT wraps silently at extreme row counts
        // where DuckDB raises)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs) DIV n_total" +
          " AS BIGINT)").as("share_ppm"),
        (sum(col("n_docs")).over() === col("n_total")).as("covers_all"),
        (sum(col("id_checksum")).over() === col("sum_total"))
          .as("ids_partition"))
      .orderBy("split")
  }

  /** q296: TEMPERATURE-WEIGHTED DATA MIXING — the multilingual
    * up-sampling op every LLM pretraining pipeline runs (mix corpora by
    * p_i ∝ n_i^α, α < 1 boosting low-resource groups): per language the
    * α = 0.5 weight is quantized to EXACT integer micro-units
    * (round(sqrt(n)·10⁶) — sqrt is IEEE-correctly-rounded, so both
    * engines derive the identical integer), and a 200-doc budget is
    * apportioned by LARGEST REMAINDER entirely in integer arithmetic
    * (base = budget·w DIV W, leftover seats by (remainder DESC, lang) —
    * exact, order-free, no float comparison anywhere). Each language
    * then draws its allocation deterministically as the bottom-alloc
    * docs by finalized hash (the q290 bottom-k discipline), so the
    * mixed dataset is a pure function of (corpus, budget, α) — stable
    * across runs, engines, and shard order. Languages allocated more
    * than they have draw everything (n_drawn < alloc surfaces the
    * shortfall rather than silently reflowing it).
    *
    * Scale shape: one group-by census (driver gets language-cardinality
    * rows), driver-side apportionment, one hash-rank window per
    * language partition for the draw — no global sort, no driver data. */
  private def temperatureMixing(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val budget = 200L
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // α = 0.5 weights in exact integer micro-units, then largest
    // remainder — language cardinality bounds every driver structure
    val wq = counts.map { case (l, n) =>
      (l, n, math.round(math.sqrt(n.toDouble) * 1e6))
    }
    val wSum = wq.map(_._3).sum
    val base = wq.map { case (l, n, w) =>
      (l, n, w, budget * w / wSum, budget * w % wSum)
    }
    val extra = budget - base.map(_._4).sum
    val seatWinners = base.sortBy { case (l, _, _, _, rem) => (-rem, l) }
      .take(extra.toInt).map(_._1).toSet
    val alloc = base.map { case (l, n, w, fq, _) =>
      (l, n, w, fq + (if (seatWinners(l)) 1L else 0L))
    }
    val allocSum = alloc.map(_._4).sum
    import spark.implicits._
    val allocDf = alloc.map(a => (a._1, a._4)).toSeq.toDF("lang", "alloc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("h", "doc_id")
    val drawn = docs
      .withColumn("h", shiftrightunsigned(fmix64(fnv1a(
        concat(lit("mix:"), col("lang"), lit(":"),
          col("doc_id").cast("string")))), 1))
      .withColumn("r", row_number().over(w).cast("long"))
      .join(broadcast(allocDf), Seq("lang"))
      .where(col("r") <= col("alloc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_drawn"), sum("doc_id").as("drawn_id_sum"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap // language-cardinality rows
    alloc.map { case (l, n, wgt, a) =>
      val (nd, ids) = drawn.getOrElse(l, (0L, 0L))
      (l, n, wgt, a, nd, ids, allocSum == budget)
    }.toSeq
      .toDF("lang", "n_docs", "weight_micro", "alloc", "n_drawn",
        "drawn_id_sum", "allocation_exact")
      .orderBy("lang")
  }

  /** q299: SHARDED SHUFFLE WITH DISTRIBUTED POSITION ASSIGNMENT — the
    * training-shard writer's missing half. q74 shuffles by a hash key
    * and q291 routes by hash, but neither yields the per-record
    * SEQUENCE NUMBER inside each output shard that a data loader
    * resumes/seeks by. The naive pos = row_number() OVER (PARTITION BY
    * shard) puts an entire shard — 1/16 of the corpus — through ONE
    * task's sort at 100 TB; this query computes the identical rank with
    * the classic two-phase decomposition: the 63-bit order hash's top
    * 11 bits form 2048 coarse blocks per shard, a (shard, block) count
    * census (bounded by 16·2048 rows, never the corpus) turns into
    * running-sum offsets, and pos = offset + row_number within
    * (shard, block) — every window partition is ~n/32768, every stage
    * map-side or bounded. Both hashes ride fmix64∘fnv1a (the q253/q262
    * bias discipline); order ties are broken by doc_id inside the
    * block, and cross-block order is strict because the block IS the
    * hash's prefix. The oracle computes pos with the naive single
    * window — a DIFFERENT construction hashing identically, which is
    * the proof the decomposition is exact. Output: per-shard census
    * (docs, char mass, id sum) plus a position-weighted checksum that
    * pins every record's pos, and the 2× balance boolean.
    *
    * Scale shape: one hash projection, one (shard, block)-keyed count
    * (map-side combinable), one window over the BLOCK domain, one
    * window per (shard, block) slice, one census — no global sort, no
    * corpus-sized single partition anywhere. */
  private def shardedShuffleRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nchars"))
    val hashed = docs.select(col("doc_id"), col("nchars"),
      (shiftrightunsigned(fmix64(fnv1a(concat(lit("shd:"),
        col("doc_id").cast("string")))), 33) % 16).as("shard"),
      shiftrightunsigned(fmix64(fnv1a(concat(lit("ord:"),
        col("doc_id").cast("string")))), 1).as("ord"))
      .withColumn("block", shiftrightunsigned(col("ord"), 52))
    val census = hashed.groupBy("shard", "block")
      .agg(count(lit(1)).as("nb"))
    val wOff = Window.partitionBy("shard").orderBy("block")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = census
      .withColumn("offset", sum("nb").over(wOff) - col("nb"))
      .select("shard", "block", "offset")
    val wIn = Window.partitionBy("shard", "block").orderBy("ord", "doc_id")
    val pos = hashed.join(offsets, Seq("shard", "block"))
      .withColumn("pos", col("offset") + row_number().over(wIn))
    val per = pos.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum("nchars").as("char_mass"),
      sum("doc_id").as("id_sum"),
      // pos-weighted products ride decimal(38,0) (the q284/q291
      // discipline — pos·(id%p) sums wrap BIGINT at extreme row counts)
      sum(col("pos").cast("decimal(38,0)") * (col("doc_id") % 1000003))
        .cast("long").as("order_checksum"))
    val bal = per.agg(max("n_docs").as("mx"), min("n_docs").as("mn"))
    per.crossJoin(broadcast(bal))
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("char_mass"), col("id_sum"), col("order_checksum"),
        (col("mx") <= lit(2) * col("mn")).cast("long").as("within_2x"))
      .orderBy("shard")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q299_sharded_shuffle_rank" -> shardedShuffleRank,
    "q296_temperature_mixing" -> temperatureMixing,
    "q290_bottomk_group_sample" -> bottomkGroupSample,
    "q291_train_val_test_split" -> trainValTestSplit,
    "q281_scd2_point_in_time" -> scd2PointInTime,
    "q118_zorder_stats" -> zorderStats,
    "q148_quantile_normalize" -> quantileNormalize,
    "q128_domain_cap" -> domainCap,
    "q129_winsorize" -> winsorize,
    "q132_reservoir_sample" -> reservoirSample,
    "q146_curation_funnel" -> curationFunnel,
    "q65_upsert_latest" -> upsertLatest,
    "q157_merge_deletes" -> mergeDeletes,
    "q66_salted_join" -> saltedJoin,
    "q67_stream_static_enrich" -> streamStaticEnrich,
    "q68_countmin_check" -> countMinCheck,
    "q69_hll_merge" -> hllMerge,
    "q70_term_doc_freq" -> termDocFreq,
    "q73_clean_corpus" -> cleanCorpus,
    "q74_corpus_shuffle" -> corpusShuffle,
    "q75_rolling_volatility" -> rollingVolatility,
    "q79_bloom_join" -> bloomJoin,
    "q80_approx_percentile_check" -> approxPercentileCheck,
    "q81_dataset_split" -> datasetSplit,
    "q93_range_join_bands" -> rangeJoinBands,
    "q94_stratified_sample" -> stratifiedSample,
    "q115_mixture_sample" -> mixtureSample,
    "q95_scd2_history" -> scd2History,
    "q99_range_join_auto" -> rangeJoinAuto
  )

  /** The ONE oracle for both q93 and q99 — the plain BETWEEN join;
    * identical semantics under either planning is exactly the claim. */
  private val BandJoinOracle =
    """SELECT p_partkey, count(*) AS n_in_band,
      |       round(sum(CAST(round(l_quantity*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS total_qty
      |FROM part p JOIN lineitem l
      |  ON CAST(round(l_extendedprice*100) AS BIGINT)
      |     BETWEEN CAST(round(p_retailprice*100) AS BIGINT)
      |         AND CAST(round(p_retailprice*100) AS BIGINT) + 500
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The split-32/32 fmix64 replay chain (the q253/q262 discipline) as
    * local SQL builders — per-oracle copies are the house style. */
  private def fmixedSql(e: String): String = {
    def fnv(x: String): String =
      s"""list_reduce(
         |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
         |      list_transform(regexp_split_to_array($x, ''),
         |                     c -> CAST(unicode(c) AS UBIGINT))),
         |    (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
         |                   % 18446744073709551616 AS UBIGINT))""".stripMargin
    def mulmod(x: String, cHi: Long, cLo: Long) =
      s"CAST(((CAST($x AS HUGEINT) * $cLo) % 18446744073709551616" +
        s" + ((($x % 4294967296) * $cHi) % 4294967296) * 4294967296)" +
        s" % 18446744073709551616 AS UBIGINT)"
    def xs33(x: String) = s"xor($x, $x // 8589934592)"
    xs33(mulmod(xs33(mulmod(xs33(fnv(e)),
      4283543511L, 3981806797L)), 3301882366L, 444984403L))
  }

  override def oracles: Map[String, String] = Map(
    // both hash chains replayed; pos computed with the NAIVE single
    // per-shard window — a different construction from the engine's
    // two-phase offset + block rank, hashing identically iff the
    // distributed decomposition is exact
    "q299_sharded_shuffle_rank" -> {
      val hs = fmixedSql("'shd:' || CAST(doc_id AS VARCHAR)")
      val ho = fmixedSql("'ord:' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS nchars,
         |         CAST(($hs) // 8589934592 % 16 AS BIGINT) AS shard,
         |         CAST(($ho) // 2 AS BIGINT) AS ord
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY shard
         |                               ORDER BY ord, doc_id) AS pos
         |  FROM h),
         |c AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(nchars) AS BIGINT) AS char_mass,
         |         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |         CAST(sum(CAST(pos AS HUGEINT) * (doc_id % 1000003))
         |           AS BIGINT) AS order_checksum
         |  FROM r GROUP BY 1),
         |g AS (SELECT max(n_docs) AS mx, min(n_docs) AS mn FROM c)
         |SELECT c.shard, c.n_docs, c.char_mass, c.id_sum,
         |       c.order_checksum,
         |       CAST(g.mx <= 2 * g.mn AS BIGINT) AS within_2x
         |FROM c, g ORDER BY c.shard""".stripMargin
    },
    // distinct (type, user) domain, the finalized hash, per-type rank
    // α=0.5 micro-weights, integer largest-remainder apportionment,
    // per-language bottom-k hash draw — all replayed exactly
    "q296_temperature_mixing" -> {
      val h = fmixedSql("'mix:' || lang || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |wq AS (
         |  SELECT lang, n,
         |         CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
         |           AS w
         |  FROM c),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM wq),
         |base AS (
         |  SELECT lang, n, w,
         |         (200 * w) // wsum AS fq, (200 * w) % wsum AS rem
         |  FROM wq, tot),
         |seats AS (SELECT CAST(200 - sum(fq) AS BIGINT) AS extra FROM base),
         |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr
         |       FROM base),
         |alloc AS MATERIALIZED (
         |  SELECT lang, n, w,
         |         CAST(fq + CASE WHEN rr <= (SELECT extra FROM seats)
         |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |  FROM rk),
         |hx AS (
         |  SELECT lang, doc_id, CAST(($h) // 2 AS BIGINT) AS hv
         |  FROM documents),
         |rkd AS (
         |  SELECT lang, doc_id,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY hv, doc_id) AS r
         |  FROM hx),
         |drawn AS (
         |  SELECT rkd.lang, doc_id
         |  FROM rkd JOIN alloc a USING (lang) WHERE rkd.r <= a.alloc),
         |agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_drawn,
         |         CAST(sum(doc_id) AS BIGINT) AS drawn_id_sum
         |  FROM drawn GROUP BY 1)
         |SELECT a.lang, a.n AS n_docs, a.w AS weight_micro, a.alloc,
         |       coalesce(agg.n_drawn, 0) AS n_drawn,
         |       coalesce(agg.drawn_id_sum, 0) AS drawn_id_sum,
         |       CAST((SELECT sum(alloc) FROM alloc) AS BIGINT) = 200
         |         AS allocation_exact
         |FROM alloc a LEFT JOIN agg USING (lang)
         |ORDER BY a.lang""".stripMargin
    },
    "q290_bottomk_group_sample" -> {
      val h = fmixedSql("'grs:' || event_type || ':' "
        + "|| CAST(user_id AS VARCHAR)")
      s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
         |x AS (SELECT event_type, user_id,
         |        CAST(($h) // 2 AS BIGINT) AS h
         |      FROM d),
         |r AS (SELECT event_type, user_id, h,
         |        row_number() OVER (PARTITION BY event_type
         |                           ORDER BY h, user_id) AS rank
         |      FROM x)
         |SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id, h
         |FROM r WHERE rank <= 5
         |ORDER BY event_type, rank""".stripMargin
    },
    // hash bucket, split routing, census, coverage booleans replayed
    "q291_train_val_test_split" -> {
      val h = fmixedSql("'spl:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, n_chars,
         |         CASE WHEN b < 80 THEN 'train'
         |              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, n_chars,
         |          CAST(($h) // 8589934592 % 100 AS BIGINT) AS b
         |        FROM documents)),
         |per AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |          CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |        FROM d GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
         |          CAST(sum(doc_id) AS BIGINT) AS sum_total FROM d)
         |SELECT split, n_docs, n_chars, id_checksum, n_total,
         |       CAST((CAST(1000000 AS HUGEINT) * n_docs) // n_total
         |         AS BIGINT) AS share_ppm,
         |       CAST((SELECT sum(n_docs) FROM per) AS BIGINT) = n_total
         |         AS covers_all,
         |       CAST((SELECT sum(id_checksum) FROM per) AS BIGINT)
         |         = sum_total AS ids_partition
         |FROM per, tot ORDER BY split""".stripMargin
    },
    // the as-of union-window replayed in the equivalent INTERVAL-JOIN
    // form (eras partition each customer's timeline: lead() closes
    // each era, zero-length same-date eras match nothing, exactly the
    // Spark side's last-era-at-equal-ts tiebreak), then the same
    // (date, orderkey)-ordered taxonomy and census
    "q281_scd2_point_in_time" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |           AS od
        |  FROM orders),
        |eras AS (
        |  SELECT o_custkey AS ck, o_orderkey AS era_key, od AS vf,
        |         lead(od) OVER (PARTITION BY o_custkey
        |                        ORDER BY od, o_orderkey) AS vt
        |  FROM o),
        |p AS (
        |  SELECT o2.o_custkey AS ck, l.l_orderkey AS own_key, o2.od AS own_ts,
        |         CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |           AS ts,
        |         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN o o2 ON l.l_orderkey = o2.o_orderkey),
        |att AS (
        |  SELECT p.*, e.era_key AS active_era, e.vf AS active_ts
        |  FROM p LEFT JOIN eras e ON e.ck = p.ck AND e.vf <= p.ts
        |    AND (e.vt IS NULL OR p.ts < e.vt))
        |SELECT CASE WHEN active_era IS NULL THEN 'a_none'
        |            WHEN active_era = own_key THEN 'c_own_era'
        |            WHEN active_ts < own_ts
        |              OR (active_ts = own_ts AND active_era < own_key)
        |              THEN 'b_earlier_era'
        |            ELSE 'd_later_era' END AS attribution,
        |       count(*) AS n_items,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM att GROUP BY 1 ORDER BY 1""".stripMargin,
    "q128_domain_cap" ->
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 25 ORDER BY source, doc_id""".stripMargin,
    // plain windows replicate the distributed ranking's VALUES (rank
    // sets are tie-insensitive); pure integer div — no interpolation
    "q148_quantile_normalize" ->
      """WITH src AS (
        |  SELECT l_returnflag AS rf,
        |         CAST(round(l_extendedprice*100) AS BIGINT) AS c
        |  FROM lineitem),
        |g AS (SELECT c, row_number() OVER (ORDER BY c) AS grank FROM src),
        |tot AS (SELECT count(*) AS N FROM src),
        |gc AS (SELECT rf, count(*) AS n_g FROM src GROUP BY 1),
        |r AS (SELECT rf, c,
        |             row_number() OVER (PARTITION BY rf ORDER BY c) AS r
        |      FROM src),
        |m AS (
        |  SELECT r.rf, r.c,
        |         CASE WHEN n_g > 1 THEN (r.r - 1)*(N - 1) // (n_g - 1) + 1
        |              ELSE 1 END AS t
        |  FROM r JOIN gc USING (rf) CROSS JOIN tot),
        |j AS (SELECT m.rf, m.c, g.c AS qnorm_c
        |      FROM m JOIN g ON g.grank = m.t)
        |SELECT rf, count(*) AS n,
        |       CAST(sum(c) AS BIGINT) AS sum_cents_raw,
        |       CAST(sum(qnorm_c) AS BIGINT) AS sum_cents_qnorm,
        |       min(qnorm_c) AS min_qnorm, max(qnorm_c) AS max_qnorm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q73 clean gates + q112 shingle probe + q36 dedup + q128 cap +
    // q94 hash-threshold mix, chained; per-source stage counts
    "q146_curation_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, text, toks, len(toks) AS n,
        |         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
        |         len(list_filter(toks, x -> x IN ('the','a','of'))) AS c_en,
        |         len(list_filter(toks, x -> x IN ('el','la','los'))) AS c_es,
        |         len(list_filter(toks, x -> x IN ('der','die','und'))) AS c_de,
        |         len(list_filter(toks, x -> x IN ('le','et','les'))) AS c_fr
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source, text, toks, n,
        |         (least(CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |          + least(CAST(n_stop AS DOUBLE) * CAST(10.0 AS DOUBLE) / n, CAST(1.0 AS DOUBLE)))
        |         / CAST(2.0 AS DOUBLE) AS quality,
        |         CASE WHEN c_en = greatest(c_en,c_es,c_de,c_fr) AND c_en > 0 THEN 'en'
        |              WHEN c_es = greatest(c_en,c_es,c_de,c_fr) AND c_es > 0 THEN 'es'
        |              WHEN c_de = greatest(c_en,c_es,c_de,c_fr) AND c_de > 0 THEN 'de'
        |              WHEN c_fr = greatest(c_en,c_es,c_de,c_fr) AND c_fr > 0 THEN 'fr'
        |              ELSE 'und' END AS predicted
        |  FROM s),
        |clean AS (
        |  SELECT doc_id, source, toks,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM q
        |  WHERE n BETWEEN 5 AND 1000 AND quality >= 0.5 AND predicted <> 'und'),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    [toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]
        |     for i in range(1, len(toks) - 3)])) AS sg
        |  FROM t WHERE doc_id % 25 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM (SELECT doc_id, unnest(list_distinct(
        |          [toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]
        |           for i in range(1, len(toks) - 3)])) AS sg
        |        FROM clean) c JOIN bsh USING (sg)),
        |decon AS (
        |  SELECT * FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |keepfp AS (SELECT min(doc_id) AS doc_id FROM decon GROUP BY fp),
        |dedup AS (SELECT d.* FROM decon d JOIN keepfp USING (doc_id)),
        |cap AS (
        |  SELECT doc_id, source FROM (
        |    SELECT doc_id, source,
        |           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |    FROM dedup) WHERE rn <= 25),
        |fin AS (
        |  SELECT doc_id, source FROM cap
        |  WHERE md5('cur:' || CAST(doc_id AS VARCHAR))
        |        < CASE WHEN source = 'src0' THEN '4' ELSE 'c' END),
        |r0 AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY 1),
        |r1 AS (SELECT source, count(*) AS n_clean FROM clean GROUP BY 1),
        |r2 AS (SELECT source, count(*) AS n_decon FROM decon GROUP BY 1),
        |r3 AS (SELECT source, count(*) AS n_dedup FROM dedup GROUP BY 1),
        |r4 AS (SELECT source, count(*) AS n_cap FROM cap GROUP BY 1),
        |r5 AS (SELECT source, count(*) AS n_final FROM fin GROUP BY 1)
        |SELECT r0.source, r0.n_raw,
        |       coalesce(r1.n_clean, 0) AS n_clean,
        |       coalesce(r2.n_decon, 0) AS n_decon,
        |       coalesce(r3.n_dedup, 0) AS n_dedup,
        |       coalesce(r4.n_cap, 0) AS n_cap,
        |       coalesce(r5.n_final, 0) AS n_final
        |FROM r0 LEFT JOIN r1 USING (source) LEFT JOIN r2 USING (source)
        |        LEFT JOIN r3 USING (source) LEFT JOIN r4 USING (source)
        |        LEFT JOIN r5 USING (source)
        |ORDER BY r0.source""".stripMargin,
    // salted-md5 priority (q115's '0x'-prefix idiom, 15 hex chars → both
    // engines' signed int64), rank over (priority, id)
    "q132_reservoir_sample" ->
      """SELECT lang, doc_id, pri, rn FROM (
        |  SELECT lang, doc_id, pri,
        |         row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
        |  FROM (
        |    SELECT lang, doc_id,
        |           CAST(CAST(('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                     AS UBIGINT) AS BIGINT) AS pri
        |    FROM documents))
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    // rank-pick bounds (floor(p·(n−1))+1), exact int clip sums; window
    // sums CAST to BIGINT against DuckDB's HUGEINT promotion
    "q129_winsorize" ->
      """WITH src AS (
        |  SELECT l_returnflag AS rf,
        |         CAST(round(l_extendedprice*100) AS BIGINT) AS c
        |  FROM lineitem),
        |r AS (
        |  SELECT rf, c,
        |         row_number() OVER (PARTITION BY rf ORDER BY c) AS rnk,
        |         count(*) OVER (PARTITION BY rf) AS n
        |  FROM src),
        |k AS (
        |  SELECT rf, c, rnk, n,
        |         CAST(floor(0.05*(n-1)) AS BIGINT) + 1 AS lo_k,
        |         CAST(floor(0.95*(n-1)) AS BIGINT) + 1 AS hi_k
        |  FROM r),
        |b AS (
        |  SELECT rf, c,
        |         min(CASE WHEN rnk = lo_k THEN c END) OVER (PARTITION BY rf) AS lo_c,
        |         min(CASE WHEN rnk = hi_k THEN c END) OVER (PARTITION BY rf) AS hi_c
        |  FROM k)
        |SELECT rf, count(*) AS n_rows,
        |       min(lo_c) AS lo_cents, min(hi_c) AS hi_cents,
        |       CAST(sum(CASE WHEN c < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |       CAST(sum(CASE WHEN c > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |       CAST(sum(c) AS BIGINT) AS sum_cents_raw,
        |       CAST(sum(least(greatest(c, lo_c), hi_c)) AS BIGINT) AS sum_cents_wins
        |FROM b GROUP BY rf ORDER BY rf""".stripMargin,
    // Replays the full z-order pipeline: min/max bounds, 16-bit grid
    // scaling (identical float expr on exact ints — portable), Morton
    // bit-interleave, bucket aggregation.
    "q118_zorder_stats" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
        |         min(l_suppkey) AS mins, max(l_suppkey) AS maxs
        |  FROM lineitem),
        |s AS (
        |  SELECT l_orderkey,
        |         CAST(floor((l_partkey - minp)::BIGINT * 65535 / (maxp - minp)) AS BIGINT) AS sp,
        |         CAST(floor((l_suppkey - mins)::BIGINT * 65535 / (maxs - mins)) AS BIGINT) AS ss
        |  FROM lineitem CROSS JOIN b),
        |z AS (
        |  SELECT l_orderkey,
        |         CAST(list_sum([((sp >> i) & 1) * (1::BIGINT << (2*i))
        |                        + ((ss >> i) & 1) * (1::BIGINT << (2*i + 1))
        |                        for i in range(0, 16)]) AS BIGINT) AS z
        |  FROM s)
        |SELECT z >> 26 AS z_bucket, count(*) AS n,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |       min(z) AS z_min, max(z) AS z_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q157_merge_deletes" ->
      """WITH u AS (
        |  SELECT event_id, event_type, value, ts, 0 AS src, '' AS op
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, value * 2, ts + INTERVAL 1 HOUR, 1, 'U'
        |  FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id, event_type, value, ts + INTERVAL 2 HOUR, 2, 'D'
        |  FROM events WHERE event_id % 7 = 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |                               ORDER BY ts DESC, src DESC) AS rn
        |  FROM u)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       max(event_id) AS max_id
        |FROM r WHERE rn = 1 AND op <> 'D'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_upsert_latest" ->
      """WITH u AS (
        |  SELECT event_id, event_type, value, ts FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, value * 2, ts + INTERVAL 1 HOUR
        |  FROM events WHERE event_id % 10 = 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        |  FROM u)
        |SELECT event_id, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q66_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
        |       round(sum(CAST(round(l_quantity*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS total_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_stream_static_enrich" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       round(sum(CAST(round(value*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Full sketch replay: each CMS cell is the count of rows hashing
    // there, so the counter matrix — and therefore every point
    // estimate — is exactly reproducible from the hash literals
    // (inlined from CountMinLongs.hashParams: same seed, same
    // Carter–Wegman arithmetic, all int64-safe since P = 2^31 − 1).
    "q68_countmin_check" -> {
      val (depth, width, seed) = (4, 2048, 42)
      val bigP = graft.functions.CountMinLongs.P
      val paramRows = graft.functions.CountMinLongs.hashParams(seed, depth)
        .zipWithIndex.map { case ((a, b), d) => s"($d, $a, $b)" }
        .mkString(", ")
      s"""WITH params(d, a, b) AS (VALUES $paramRows),
         |cells AS (
         |  SELECT p.d,
         |         ((p.a * (e.user_id % $bigP) + p.b) % $bigP) % $width AS cell,
         |         count(*) AS c
         |  FROM events e CROSS JOIN params p GROUP BY 1, 2),
         |exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1),
         |est AS (
         |  SELECT x.user_id, x.exact_n, CAST(min(c.c) AS BIGINT) AS cms_est
         |  FROM exact x CROSS JOIN params p
         |  JOIN cells c
         |    ON c.d = p.d
         |   AND c.cell = ((p.a * (x.user_id % $bigP) + p.b) % $bigP) % $width
         |  GROUP BY 1, 2)
         |SELECT user_id, exact_n, cms_est, cms_est >= exact_n AS cms_never_under
         |FROM est ORDER BY user_id""".stripMargin
    },
    "q69_hll_merge" ->
      """SELECT count(DISTINCT event_type) AS n_groups,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS hll_ok
        |FROM events""".stripMargin,
    "q73_clean_corpus" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text, len(toks) AS n,
        |         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
        |         len(list_filter(toks, x -> x IN ('the','a','of'))) AS c_en,
        |         len(list_filter(toks, x -> x IN ('el','la','los'))) AS c_es,
        |         len(list_filter(toks, x -> x IN ('der','die','und'))) AS c_de,
        |         len(list_filter(toks, x -> x IN ('le','et','les'))) AS c_fr
        |  FROM t),
        |q AS (
        |  SELECT doc_id, text, n,
        |         (least(CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |          + least(CAST(n_stop AS DOUBLE) * CAST(10.0 AS DOUBLE) / n, CAST(1.0 AS DOUBLE)))
        |         / CAST(2.0 AS DOUBLE) AS quality,
        |         CASE WHEN c_en = greatest(c_en,c_es,c_de,c_fr) AND c_en > 0 THEN 'en'
        |              WHEN c_es = greatest(c_en,c_es,c_de,c_fr) AND c_es > 0 THEN 'es'
        |              WHEN c_de = greatest(c_en,c_es,c_de,c_fr) AND c_de > 0 THEN 'de'
        |              WHEN c_fr = greatest(c_en,c_es,c_de,c_fr) AND c_fr > 0 THEN 'fr'
        |              ELSE 'und' END AS predicted
        |  FROM s),
        |f AS (
        |  SELECT doc_id, n, predicted,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |  FROM q
        |  WHERE n BETWEEN 5 AND 1000 AND quality >= 0.5 AND predicted <> 'und')
        |SELECT min(doc_id) AS doc_id, min(n) AS n_tokens,
        |       min(predicted) AS predicted, fingerprint
        |FROM f GROUP BY fingerprint ORDER BY doc_id""".stripMargin,
    "q74_corpus_shuffle" ->
      """SELECT doc_id,
        |       md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key""".stripMargin,
    "q75_rolling_volatility" ->
      """WITH w AS (
        |  SELECT user_id, event_id,
        |         count(*) OVER win AS n_w,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)) OVER win AS BIGINT) AS sum_c,
        |         CAST(sum(CAST(round(value*100) AS BIGINT)
        |                  * CAST(round(value*100) AS BIGINT)) OVER win AS BIGINT) AS sum_c2
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id
        |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, n_w, sum_c, sum_c2,
        |       CASE WHEN n_w > 1
        |            THEN (CAST(sum_c2 AS DOUBLE)
        |                  - CAST(sum_c AS DOUBLE) * sum_c / n_w) / (n_w - 1)
        |       END AS variance_c2
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    "q79_bloom_join" ->
      """SELECT s_nationkey, count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice*100) AS BIGINT))/CAST(100 AS DOUBLE), 2) AS total_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey < 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_approx_percentile_check" ->
      """SELECT event_type,
        |       quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS p50_exact,
        |       TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_dataset_split" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'c' THEN 'train'
        |              WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_range_join_bands" -> BandJoinOracle,
    "q99_range_join_auto" -> BandJoinOracle,
    "q115_mixture_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |r AS (
        |  SELECT source,
        |         least(1.0, (CASE WHEN source = 'src0' THEN 0.28 ELSE 0.08 END)
        |                    * 0.5 * n / n_s) AS rate
        |  FROM c CROSS JOIN tot),
        |k AS (
        |  SELECT d.source, d.doc_id
        |  FROM documents d JOIN r USING (source)
        |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
        |             AS UBIGINT)
        |        < CAST(floor(rate * 4294967296.0) AS UBIGINT))
        |SELECT source, count(*) AS n_sampled,
        |       min(doc_id) AS first_id, max(doc_id) AS last_id,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_stratified_sample" ->
      """SELECT event_type, count(*) AS n_sampled,
        |       min(event_id) AS first_id, max(event_id) AS last_id
        |FROM events
        |WHERE md5('samp:' || CAST(event_id AS VARCHAR)) <
        |      CASE WHEN event_type = 'click' THEN '2'
        |           WHEN event_type = 'view' THEN '2'
        |           ELSE '8' END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q95_scd2_history" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       coalesce(strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d'),
        |                '9999-12-31') AS valid_to
        |FROM orders
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    "q70_term_doc_freq" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |a AS (
        |  SELECT lang, token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |                               ORDER BY df DESC, tf DESC, token) AS rk
        |  FROM a)
        |SELECT lang, token, tf, df, rk AS rank
        |FROM r WHERE rk <= 5 ORDER BY lang, rank""".stripMargin
  )
}

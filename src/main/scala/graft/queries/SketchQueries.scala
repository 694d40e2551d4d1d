package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{k_min_distinct, misra_gries, poly_hash}
import graft.tables.Tables

/** Mergeable-sketch surface: bounded-state summaries whose partials
  * combine associatively — the aggregation family that replaces exact
  * vocabulary/cardinality-sized state at 100 TB. Three sketches, three
  * determinism disciplines:
  *
  *   - KMV k-minimum-values (q217): the sketch is a pure function of
  *     the input VALUE SET, so the full sketch rides the oracle hash
  *     (DuckDB recomputes it exactly from the same hash preimages);
  *   - Misra–Gries heavy hitters (q216): the surviving entry set is
  *     merge-order-dependent but its GUARANTEES are theorems — the
  *     query reduces the summary to guarantee booleans over exactly
  *     computed heavy keys (the q55/q214 tolerance-boolean pattern);
  *   - HLL / Datasketches (q222): Spark's own hll_sketch_agg partials
  *     union-merge across any grouping; exactness is probabilistic, so
  *     again booleans against the exact count.
  */
object SketchQueries extends QueryPack {

  /** q216: Misra–Gries heavy hitters over the corpus word stream
    * ([[graft.functions.MisraGriesStrings]], m = 64 counters) — the
    * stopword/boilerplate-token detector that never materializes the
    * vocabulary: partials are 64 entries each regardless of corpus
    * size or Zipf skew, vs the exact groupBy whose per-partition state
    * and shuffle are vocabulary-sized. The sketch's THEOREMS — every
    * word with freq > n/(m+1) is captured, estimates only undercount,
    * and by at most n/(m+1) — hold under any merge order (Agarwal et
    * al. PODS'12), so the output is those booleans evaluated per
    * exactly-heavy word: TRUE rows that hash-fail if the sketch ever
    * breaks a guarantee. The exact count pass exists only to define
    * the check set; the sketch never reads it. */
  private def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val m = 64
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(col("w") =!= "")
    val entries = words.agg(misra_gries(col("w"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("w"), col("e.est").as("est"))
    val exact = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(sum("cnt").as("n"))
    exact.crossJoin(broadcast(tot))
      .where(col("cnt") * (m + 1) > col("n"))
      .join(entries, Seq("w"), "left")
      .select(col("w").as("word"), col("cnt").as("exact_cnt"),
        col("est").isNotNull.as("captured"),
        (col("est").isNotNull && col("est") <= col("cnt")).as("underest_ok"),
        (col("est").isNotNull &&
          (col("cnt") - col("est")) * (m + 1) <= col("n")).as("residual_ok"))
      .orderBy("word")
  }

  /** q217: KMV distinct sketch with an in-plan MERGEABILITY proof
    * ([[graft.functions.KMinDistinctLongs]], k = 128). Per return-flag
    * group: the k smallest distinct polynomial hashes of the line key,
    * the k-th minimum, and the KMV estimate (k−1)·M / h_k in exact
    * integer arithmetic. Globally, the sketch is computed TWO ways —
    * directly over all rows, and by re-sketching the union of the
    * per-group sketches — and the query emits their equality: the
    * algebraic identity that lets per-partition/per-group sketches
    * roll up to any coarser grouping without rescanning the fact
    * table. Every value here is a pure function of the input set, so
    * the ORACLE REPLAYS THE SKETCH ITSELF (k smallest distinct hashes
    * in SQL), not just a tolerance bound — sketch, estimator and
    * merge identity all ride the hash compare. */
  private def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val M = 1000000007L
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      poly_hash(concat(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("string"),
        lit(":k"))).as("h"))
    // ONE scan: dedup the (flag, h) pairs, then one rollup yields each
    // flag's sketch and exact distinct count and, on its grand-total row,
    // the direct global sketch. The global aggregate below reads the
    // rollup's rows once for both global sketches, and both consumers
    // share the dedup exchange, so `lineitem` is read once.
    val sketches = li.distinct().rollup("flag").agg(
      grouping("flag").as("total"),
      k_min_distinct(col("h"), k).as("kmv"),
      count(col("h")).as("exact_d"))
    // g_direct: the grand-total row's sketch (the only non-null input of
    // the max); g_merged: the per-flag sketches re-sketched from their
    // exploded values, through the aggregate's partial and final merge.
    // try_element_at, not element_at: Spark 4 runs ANSI by default, and
    // a group with fewer than k distinct keys would otherwise throw on
    // the out-of-bounds index; the oracle's CASE/max form yields NULL
    // for the same case, and est_d's size<k branch handles it
    val global = sketches
      .select(col("total"), col("kmv"),
        explode_outer(when(col("total") === 0, col("kmv"))).as("h"))
      .agg(max(when(col("total") === 1, col("kmv"))).as("g_direct"),
        k_min_distinct(col("h"), k).as("g_merged"))
      .select((col("g_direct") === col("g_merged")).as("merge_eq"),
        expr(s"try_element_at(g_direct, $k)").as("g_kth"))
    // a few rows: one partition sorts them without a range-sample job
    sketches.where(col("total") === 0).crossJoin(broadcast(global))
      .select(col("flag"), col("exact_d"),
        expr(s"try_element_at(kmv, $k)").as("kth_min"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(expr(s"${(k - 1).toLong * M}L DIV try_element_at(kmv, $k)"))
          .as("est_d"),
        col("merge_eq"),
        expr(s"${(k - 1).toLong * M}L DIV g_kth").as("g_est_d"))
      .coalesce(1).orderBy("flag")
  }

  /** q238: KMV SET ALGEBRA (Beyer et al. SIGMOD'07, "On synopses for
    * distinct value estimation under multiset operations" — public) —
    * the step beyond q217's single-set estimate: distinct-UNION,
    * JACCARD and INTERSECTION estimates computed purely from two
    * k-min sketches, never from the rows. Sets: part keys appearing
    * on 'R'-flag vs 'A'-flag line items (heavily overlapping).
    *
    *   - union sketch U = k smallest of S_A ∪ S_B (the k-min-of-union
    *     identity — exactly the aggregate's own merge);
    *   - est_union = (k−1)·M / U[k] (q217's estimator; exact size
    *     when |U| < k, i.e. the sketch IS the set);
    *   - ρ = |{h ∈ U : h ∈ S_A ∧ h ∈ S_B}| / |U| estimates Jaccard —
    *     U is a uniform sample of A ∪ B under the shared hash;
    *   - est_intersection = ρ · est_union (inclusion via the sample).
    *
    * Both sketches ride ONE pass over the rows (conditional children
    * in a single aggregate — null inputs skip); every output is a
    * pure function of the value sets, so the oracle replays sketches
    * AND estimators exactly — no tolerance anywhere. The 100 TB
    * story: overlap/containment questions across corpus snapshots
    * answered from k-long summaries without a distinct-join over the
    * fact tables. */
  private def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val M = 1000000007L
    val li = Tables.lineitem(spark, dir)
      .where(col("l_returnflag").isin("R", "A"))
      // the "partkey:" prefix matters for estimator quality: PolyHash
      // of a SHORT string never wraps PolyMod (a 5-char "200:p" tops
      // out near 5·10⁷), so bare keys would cluster low and bias τ;
      // ≥ 8 chars guarantees the accumulator wraps and spreads
      .select(col("l_returnflag").as("flag"),
        poly_hash(concat(lit("partkey:"), col("l_partkey").cast("string"),
          lit(":s"))).as("h"))
    val sks = li.agg(
      k_min_distinct(when(col("flag") === "R", col("h")), k).as("sa"),
      k_min_distinct(when(col("flag") === "A", col("h")), k).as("sb"))
    val ex = li.agg(
      countDistinct(col("h")).as("exact_union"),
      countDistinct(when(col("flag") === "R", col("h"))).as("exact_a"),
      countDistinct(when(col("flag") === "A", col("h"))).as("exact_b"))
    val exi = li.select("flag", "h").distinct()
      .groupBy("h").agg(countDistinct("flag").as("nf"))
      .agg(sum(when(col("nf") === 2, 1L).otherwise(0L)).as("exact_inter"))
    sks.crossJoin(broadcast(ex)).crossJoin(broadcast(exi))
      .withColumn("u", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("usz", size(col("u")).cast("long"))
      .withColumn("uin",
        size(expr("array_intersect(array_intersect(u, sa), sb)")).cast("long"))
      .withColumn("est_union", when(col("usz") < k, col("usz"))
        .otherwise(expr(s"${(k - 1).toLong * M}L DIV element_at(u, $k)")))
      .select(
        size(col("sa")).cast("long").as("n_a_sketch"),
        size(col("sb")).cast("long").as("n_b_sketch"),
        col("usz"), col("uin"),
        col("exact_a"), col("exact_b"),
        col("est_union"), col("exact_union"),
        expr("1000000L * uin DIV usz").as("jaccard_micro"),
        expr("est_union * uin DIV usz").as("est_inter"),
        col("exact_inter"))
  }

  /** q245: EQUI-JOIN CARDINALITY ESTIMATION from KMV sketches — the
    * optimizer-statistics question q238's set algebra stops short of:
    * |R ⋈ A| on a key is Σ_v r_v·a_v (per-key multiplicity products),
    * which no distinct-only synopsis answers. The classic augmented-KMV
    * scheme (Beyer et al. SIGMOD'07 §6's frequency extension — public):
    * the k-min union sketch U is a UNIFORM distinct-key sample under
    * the shared hash, so
    *
    *   est_join = est_distinct_union · (Σ_{v ∈ U} r_v·a_v) DIV |U|
    *
    * — one broadcast of ≤ k sampled hashes back over the fact rows
    * collects the exact per-sample multiplicities (map-side join +
    * k-row aggregate; the rows are never joined against each other).
    * At 100 TB this answers "how big is this join" from a k-long
    * summary + one narrow pass, BEFORE running the join — the
    * cardinality input a cost-based planner needs.
    *
    * Sets: partkeys on 'R'-flag vs 'A'-flag line items (multiplicities
    * on BOTH sides — a PK-FK pair would make r_v ≡ 1 and prove
    * nothing). Grouping rides the POLY-HASH of the key, so the rare
    * mod-p collision folds two keys identically in the engine and the
    * oracle — every output is a pure integer function of the rows and
    * the oracle replays sketches, sample, estimator AND the exact join
    * size with no tolerance. */
  private def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val M = 1000000007L
    val li = Tables.lineitem(spark, dir)
      .where(col("l_returnflag").isin("R", "A"))
      // ≥ 8-char preimage guarantees PolyHash wraps (the q238 find)
      .select(col("l_returnflag").as("flag"),
        poly_hash(concat(lit("partkey:"), col("l_partkey").cast("string"),
          lit(":s"))).as("h"))
    val sks = li.agg(
      k_min_distinct(when(col("flag") === "R", col("h")), k).as("sa"),
      k_min_distinct(when(col("flag") === "A", col("h")), k).as("sb"))
      .withColumn("u", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("usz", size(col("u")).cast("long"))
      .withColumn("est_union", when(col("usz") < k, col("usz"))
        .otherwise(expr(s"${(k - 1).toLong * M}L DIV element_at(u, $k)")))
      .select("u", "usz", "est_union")
    // per-key (hash-grouped) multiplicities, once for the sample and
    // once for the exact answer — the sample pass broadcasts ≤ k hashes
    val perKey = li.groupBy("h").agg(
      sum(when(col("flag") === "R", 1L).otherwise(0L)).as("rv"),
      sum(when(col("flag") === "A", 1L).otherwise(0L)).as("av"))
    val sampleProd = perKey
      .join(broadcast(sks.select(explode(col("u")).as("h"))), "h")
      .agg(coalesce(sum(col("rv") * col("av")), lit(0L)).as("sample_prod"))
    val exact = perKey.agg(
      sum(col("rv") * col("av")).as("exact_join"),
      count(lit(1)).as("exact_distinct_keys"))
    sks.crossJoin(broadcast(sampleProd)).crossJoin(broadcast(exact))
      .select(col("usz"), col("est_union"), col("exact_distinct_keys"),
        col("sample_prod"),
        expr("est_union * sample_prod DIV usz").as("est_join"),
        col("exact_join"))
  }

  /** The q245 estimator over a generic two-sided fact frame
    * (`flag` ∈ L/R, `h` = shared hash of the join key, uniform on
    * [0, `range`)): k-min union sample, broadcast multiplicity pass,
    * integral-division estimator. One row: (usz, est_join,
    * exact_join). */
  private def kmvJoinEst(facts: DataFrame, k: Int,
                         range: Long): DataFrame = {
    val sks = facts.agg(
      k_min_distinct(when(col("flag") === "L", col("h")), k).as("sa"),
      k_min_distinct(when(col("flag") === "R", col("h")), k).as("sb"))
      .withColumn("u", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("usz", size(col("u")).cast("long"))
      .withColumn("est_union", when(col("usz") < k, col("usz"))
        .otherwise(expr(s"${(k - 1).toLong * range}L DIV element_at(u, $k)")))
      .select("u", "usz", "est_union")
    val perKey = facts.groupBy("h").agg(
      sum(when(col("flag") === "L", 1L).otherwise(0L)).as("rv"),
      sum(when(col("flag") === "R", 1L).otherwise(0L)).as("av"))
    val sampleProd = perKey
      .join(broadcast(sks.select(explode(col("u")).as("h"))), "h")
      .agg(coalesce(sum(col("rv") * col("av")), lit(0L)).as("sample_prod"))
    val exact = perKey.agg(sum(col("rv") * col("av")).as("exact_join"))
    sks.crossJoin(broadcast(sampleProd)).crossJoin(broadcast(exact))
      .select(col("usz"),
        expr("est_union * sample_prod DIV usz").as("est_join"),
        col("exact_join"))
  }

  /** q253: SKETCH-DRIVEN JOIN-ORDER CHOICE — the q245 cardinality
    * estimator actually CONSUMED as a planner decision, closing the
    * loop from synopsis to plan: for the chain orders ⋈ lineitem ⋈
    * σ_{p_size ≤ 15}(part), estimate |orders ⋈ lineitem| (orderkey)
    * and |lineitem ⋈ σ(part)| (partkey) from two augmented-KMV
    * sketch pairs, pick the smaller estimate as the first join (the
    * greedy bushy-planner step every cost-based optimizer runs), and
    * report the choice NEXT TO the exact sizes and the exact-optimal
    * choice — planner_correct is a data-derived boolean the oracle
    * replays, so estimator quality is visible and hash-pinned, not
    * asserted. Ties prefer the orders-first order on both sides
    * (deterministic `<=`). All arithmetic is the q245 integer
    * discipline; nothing on the surface is float.
    *
    * Scale shape: each estimate is two bounded sketches + ONE narrow
    * broadcast-sample pass — the join sizes are known BEFORE either
    * join runs, from k-long summaries; the exact sizes here are the
    * audit column, not the mechanism.
    *
    * Synopsis-hash findings (measured, the q238 discipline —
    * SEQUENTIAL structured key domains are brutal on weak hashes):
    * (1) PolyHash (q245's hash) over 'orderkey:1..600000' is not
    * min-uniform — same-length digit strings map to unions of
    * arithmetic progressions mod p — and its tau skew UNDERESTIMATED
    * |orders JOIN lineitem| 12.7x at sf0.1 (47278 vs 600000), flipping
    * the planner to the wrong order. (2) Raw FNV-1a64 is not enough
    * either: its top 40 bits see only one multiply of diffusion past
    * the last differing digit (128th-smallest hash landed at 45% of
    * the range on 1500 sequential keys -> est 285 vs 1500), and its
    * LOW 40 bits skew 3x at sf0.1. (3) FNV + murmur3's fmix64
    * finalizer ([[graft.functions.Hashing.fmix64]], codegen'd —
    * wrapping multiplies must sit inside an expression under Spark 4
    * ANSI) is min-uniform at every scale tested (est/exact 1.04 /
    * 1.21 / 1.01 on the three domains). The oracle replays FNV in
    * mod-2^64 UBIGINT SQL (the q178 pattern) and fmix64 with the
    * q246 split-32/32 multiply; the hash is shifted to 40 bits so
    * every estimator product stays int64. */
  private def joinOrderChoice(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions
    def hash(prefix: String, c: org.apache.spark.sql.Column) =
      shiftrightunsigned(HashFunctions.fmix64(
        HashFunctions.fnv1a(concat(lit(prefix), c.cast("string")))), 24)
    val ol = Tables.orders(spark, dir)
      .select(lit("L").as("flag"), hash("orderkey:", col("o_orderkey")).as("h"))
      .union(Tables.lineitem(spark, dir)
        .select(lit("R"), hash("orderkey:", col("l_orderkey"))))
    val lp = Tables.lineitem(spark, dir)
      .select(lit("L").as("flag"), hash("partkey:", col("l_partkey")).as("h"))
      .union(Tables.part(spark, dir).where(col("p_size") <= 15)
        .select(lit("R"), hash("partkey:", col("p_partkey"))))
    val j1 = kmvJoinEst(ol, k = 128, range = 1L << 40)
      .select(col("est_join").as("est_ol"), col("exact_join").as("exact_ol"))
    val j2 = kmvJoinEst(lp, k = 128, range = 1L << 40)
      .select(col("est_join").as("est_lp"), col("exact_join").as("exact_lp"))
    val first = "orders_lineitem_first"
    val second = "lineitem_part_first"
    j1.crossJoin(j2).select(
      col("est_ol"), col("exact_ol"), col("est_lp"), col("exact_lp"),
      when(col("est_ol") <= col("est_lp"), first).otherwise(second)
        .as("planned_first"),
      when(col("exact_ol") <= col("exact_lp"), first).otherwise(second)
        .as("optimal_first"))
      .withColumn("planner_correct",
        col("planned_first") === col("optimal_first"))
  }

  /** q222: Datasketches HLL rollup through Spark's own sketch
    * functions — per-source `hll_sketch_agg` partials, a global
    * `hll_union_agg` over the per-group SKETCH COLUMN (the rollup
    * never re-reads rows), and `hll_sketch_estimate` on both levels,
    * bounded against exact distinct counts by a 5% boolean (lgK = 12
    * ⇒ ~1.6% typical error; the bound is ~3σ, and the estimate is
    * deterministic per fixture since the sketch hash is fixed). This
    * is the q55 single-level check completed into the thing that
    * matters at 100 TB: sketches as REAGGREGABLE GROUP STATE, the
    * pattern that turns a cube of countDistincts from q scans into
    * one. */
  private def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(hll_sketch_agg(col("doc_id")).as("sk"),
        countDistinct(col("doc_id")).as("exact_d"))
    val global = per.agg(
        hll_union_agg(col("sk")).as("gsk"),
        sum("exact_d").as("g_exact")) // doc_id sets are disjoint by source
      .select(hll_sketch_estimate(col("gsk")).as("g_est"), col("g_exact"))
      .select(col("g_exact"),
        (abs(col("g_est") - col("g_exact")) * 20 <= col("g_exact"))
          .as("g_hll_ok"))
    per.crossJoin(broadcast(global))
      .select(col("source"), col("exact_d"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_d")) * 20
          <= col("exact_d")).as("hll_ok"),
        col("g_exact"), col("g_hll_ok"))
      .orderBy("source")
  }

  /** q262: DETERMINISTIC DISTRIBUTED BOOTSTRAP — 32 double-or-nothing
    * pseudo-replicates of the mean order value, the resampling scheme
    * that actually runs at 100 TB (Owen & Eckles, "Bootstrapping data
    * arrays", AOAS 2012; Poisson-family weights instead of n-out-of-n
    * draws, so NO shared sampling state and no shuffle of the corpus).
    * Replicate weights are m ∈ {0, 2} with P = ½ each (mean 1,
    * variance 1 — the same first two moments as the Poisson(1)
    * bootstrap) drawn DETERMINISTICALLY from bit 33 of
    * fmix64(fnv1a64("orderkey:replicate")), so the whole resampling
    * replays in SQL — a bootstrap the oracle can hash-check, where an
    * RNG-based one never could. The fmix64 finalizer is NOT optional:
    * raw FNV bit 33 on these sequential keys left every one of the 32
    * replicate means ~0.9% ABOVE the full-sample mean (measured here —
    * the q253 sequential-key bias reproduced as WEIGHT bias, which a
    * bootstrap converts straight into a broken CI); after fmix64 the
    * means bracket the truth. Output: per-replicate pseudo-sample size,
    * weighted sum and milli-cent mean; the CI is the spread of the 32
    * means (the spec pins that it brackets the full-sample mean).
    *
    * Scale shape: ONE scan with a 32-way explode collapsed immediately
    * by map-side partial aggregation to 32 groups — the fan-out never
    * reaches an exchange; 32 hash evaluations per row are the entire
    * added cost, which is why this (and not resampling) is the
    * production bootstrap. */
  private def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("okey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val rep = o.select(col("okey"), col("cents"),
        explode(sequence(lit(0L), lit(31L))).as("b"))
      .withColumn("m",
        (shiftrightunsigned(fmix64(fnv1a(concat(col("okey").cast("string"),
          lit(":"), col("b").cast("string")))), 33) % 2) * 2)
    rep.groupBy("b")
      .agg(sum("m").as("n_b"), sum(col("m") * col("cents")).as("sum_c"))
      .withColumn("mean_milli", expr("(1000 * sum_c) div n_b"))
      .orderBy("b")
  }

  /** q275: SALTED EXACT DISTINCT — the two-stage partitioned-distinct
    * identity that lets EXACT countDistinct survive key skew at 100 TB
    * (the exact-tier companion to q98/q222's HLL and q217's KMV). A
    * naive count(DISTINCT user) GROUP BY event_type builds one
    * |users|-sized distinct set per hot group in a single reducer.
    * Salting the DISTINCT column — salt = fmix64(user_id) mod 32, so
    * each user lands in exactly ONE bucket and the per-(type, salt)
    * distinct sets PARTITION the per-type user set — makes stage 1 a
    * countDistinct with 1/32 of the state per task and stage 2 a plain
    * SUM: exact by disjointness, no approximation, and the per-task
    * distinct state is bounded by |users|/32 instead of |users|.
    * The fmix64 gotcha (q253/q262) applies in audit form: ANY
    * user→bucket function preserves exactness (the identity needs only
    * a partition), but a biased salt concentrates state — so
    * `max_bucket_distinct` (with `n_buckets_used`) is carried as the
    * load-balance evidence: ≈ n_users/32 means the finalized hash
    * spreads sequential user ids. The oracle replays the fmix64 salt
    * (split-32/32 mulmod), both stages, and the audit columns. */
  private def saltedExactDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.fmix64
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        pmod(fmix64(col("user_id")), lit(32)).as("salt"))
    ev.groupBy("event_type", "salt")
      .agg(countDistinct("user_id").as("bd"), count(lit(1)).as("bn"))
      .groupBy("event_type")
      .agg(sum("bd").as("n_users"),
        sum("bn").as("n_events"),
        count(lit(1)).as("n_buckets_used"),
        max("bd").as("max_bucket_distinct"))
      .orderBy("event_type")
  }

  /** q276: EQUI-DEPTH HISTOGRAM + RANGE SELECTIVITY — the remaining
    * classic cost-based-planner synopsis next to q245's join
    * cardinalities, q253's join-order choice and q238's set overlap:
    * a 16-bucket equi-depth histogram of the order-value distribution
    * (ntile over the total order (cents, orderkey) — deterministic on
    * both engines), then the textbook range-selectivity estimate for
    * cents ∈ [5·10⁶, 2·10⁷): per bucket n·overlap DIV width with
    * overlap clamped to the bucket's [lo, hi+1) value interval — the
    * uniform-within-bucket assumption, exact for fully-contained
    * buckets since n·width DIV width = n. Estimate and exact count sit
    * side by side (the q245 audit convention: estimator quality is
    * hash-pinned, not asserted away), with both selectivities in ppm.
    *
    * Scale: the histogram is one window pass + a 16-row rollup; the
    * estimate is arithmetic over 16 rows. At 100 TB the window pass is
    * a global sort — production would sample first (the q272 move);
    * the synopsis CONSUMER side is what this query pins. */
  private def equiDepthSelectivity(spark: SparkSession, dir: String): DataFrame = {
    val pLo = 5000000L
    val pHi = 20000000L
    val c = Tables.orders(spark, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = c.withColumn("b", ntile(16).over(
      org.apache.spark.sql.expressions.Window.orderBy("cents", "o_orderkey")))
    val h = t.groupBy("b").agg(min("cents").as("lo"), max("cents").as("hi"),
      count(lit(1)).as("n"))
    val est = h.select(expr(
        s"""n * greatest(0L, least(hi + 1, ${pHi}L) - greatest(lo, ${pLo}L))
           | DIV (hi - lo + 1)""".stripMargin).as("est_b"))
      .agg(sum("est_b").as("est_rows"))
    val nr = c.agg(count(lit(1)).as("n_rows"))
    val ex = c.where(col("cents") >= pLo && col("cents") < pHi)
      .agg(count(lit(1)).as("exact_rows"))
    nr.crossJoin(broadcast(est)).crossJoin(broadcast(ex))
      .select(col("n_rows"), col("est_rows"), col("exact_rows"),
        expr("1000000 * est_rows DIV n_rows").as("sel_est_ppm"),
        expr("1000000 * exact_rows DIV n_rows").as("sel_exact_ppm"))
  }

  /** q284: SAMPLED-BUILD equi-depth histogram (VERDICT r10 #2) — q276's
    * build leg is a GLOBAL ntile sort of the table, the only
    * near-linear term in SCALING.md (e = 0.83); production builds the
    * synopsis from a sample. Here the boundaries come from a
    * deterministic 1/8 md5 row sample (the q94/q115/q272 discipline:
    * md5('eqd:'||key) < '2'), sorted SAMPLE-side only; the full table
    * then takes ONE hash-agg pass — each row range-joined to the ≤16
    * broadcast boundary intervals (no shuffle, no global sort anywhere)
    * — yielding exact per-bucket counts and value bounds under the
    * sampled boundaries. Quality is DATA, not hope (the q272 pattern):
    * the exact-build comparison rides the equi-depth DEFINITION — an
    * exact ntile build has every bucket at n/16 by construction, so
    * max bucket count vs n/16 IS the sampled-vs-exact distance,
    * pinned inside a DKW-style 2/√m band (sample-size-aware — a fixed
    * percentage is vacuous at small samples and slack at large ones); and the q276 range-selectivity
    * consumer runs against the sampled synopsis with its estimate
    * hash-pinned next to the exact count (tolerance boolean at 10 pp).
    *
    * Scale: sample scan is a pushed-nothing full read but CPU-trivial;
    * the sort is sample-sized; the counting pass is map-side-combined
    * hash agg over 16 broadcast intervals. SCALING.md carries the
    * measured exponent next to q276's 0.83. */
  private def sampledEquiDepth(spark: SparkSession, dir: String): DataFrame = {
    val pLo = 5000000L
    val pHi = 20000000L
    val c = Tables.orders(spark, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val s = c.where(
      md5(concat(lit("eqd:"), col("o_orderkey").cast("string"))) < lit("2"))
    val sb = s.withColumn("b", ntile(16).over(
      org.apache.spark.sql.expressions.Window.orderBy("cents", "o_orderkey")))
    val cuts = sb.groupBy("b").agg(max("cents").as("cut"))
    val iv = cuts.select(col("b"),
      coalesce(lag("cut", 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("b")),
        lit(Long.MinValue)).as("lo_excl"),
      when(col("b") === 16, lit(Long.MaxValue)).otherwise(col("cut"))
        .as("hi_incl"))
    val h = c.join(broadcast(iv),
        col("cents") > col("lo_excl") && col("cents") <= col("hi_incl"))
      .groupBy("b")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"), max("cents").as("hi"))
    // rowcount×valuerange products ride decimal(38,0) (the q282/q277
    // overflow discipline); each per-bucket term lands back in BIGINT
    val est = h.select(expr(
        s"""CAST((CAST(n AS DECIMAL(38,0))
           |  * greatest(0L, least(hi + 1, ${pHi}L) - greatest(lo, ${pLo}L)))
           | DIV (hi - lo + 1) AS BIGINT)""".stripMargin).as("est_b"))
      .agg(sum("est_b").as("est_rows"))
    val bal = h.agg(max("n").as("max_bucket_n"), min("n").as("min_bucket_n"),
      count(lit(1)).as("n_buckets_filled"))
    val nr = c.agg(count(lit(1)).as("n_rows"))
    val ns = s.agg(count(lit(1)).as("n_sample"))
    val ex = c.where(col("cents") >= pLo && col("cents") < pHi)
      .agg(count(lit(1)).as("exact_rows"))
    nr.crossJoin(broadcast(ns)).crossJoin(broadcast(bal))
      .crossJoin(broadcast(est)).crossJoin(broadcast(ex))
      .select(col("n_rows"), col("n_sample"), col("n_buckets_filled"),
        col("max_bucket_n"), col("min_bucket_n"),
        // exact-build distance: an exact ntile build sits at n/16 per
        // bucket by definition; the sampled build must stay within a
        // DKW-style 2/sqrt(m) band of it (the bound tightens as the
        // sample grows — a fixed percentage would be vacuous at small m
        // and slack at large m); floor() on both engines, since DuckDB's
        // double->BIGINT cast rounds while Spark's truncates
        expr("""max_bucket_n <= n_rows DIV 16 + CAST(floor(2.0D * n_rows / sqrt(CAST(n_sample AS DOUBLE))) AS BIGINT)""".stripMargin).as("balance_ok"),
        col("est_rows"), col("exact_rows"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * est_rows)"
          + " DIV n_rows AS BIGINT)").as("sel_est_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * exact_rows)"
          + " DIV n_rows AS BIGINT)").as("sel_exact_ppm"),
        expr("""abs((CAST(1000000 AS DECIMAL(38,0)) * est_rows) DIV n_rows
               | - (CAST(1000000 AS DECIMAL(38,0)) * exact_rows) DIV n_rows)
               | <= 100000""".stripMargin).as("est_within_tol"))
  }

  /** q278: PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007 —
    * public) — the WEIGHTED synopsis missing next to the distinct-set
    * sketches (q217/q238) and the equi-depth histogram (q276): k
    * items chosen by priority p_i = w_i / u_i (u_i uniform from the
    * hash chain), with the (k+1)-th priority τ as the threshold; each
    * sampled item estimates ANY post-hoc subset sum as
    * Σ max(w_i, τ)·[i ∈ subset] — one fixed k-row summary answers
    * weighted questions decided AFTER sampling, which per-subset
    * sketches cannot. Deterministic end to end: u_i is the fmix64∘fnv
    * 32-bit value + 1 (the q253/q262 hash discipline — a biased u is a
    * biased estimator), priorities are the truncating integer
    * w·2³² div u (the τ back-conversion τ div 2³² truncates the same
    * way on both engines), ties break by order key. Estimate and
    * exact sit side by side for the TOTAL and for a post-hoc subset
    * (URGENT orders) — the q245 audit convention.
    *
    * Scale: the top-(k+1) is a TakeOrdered (no global sort); the
    * estimator is arithmetic over k rows. */
  private def prioritySampling(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.{fmix64, fnv1a}
    val k = 64
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("w"))
    val pri = o.withColumn("u",
        shiftrightunsigned(fmix64(fnv1a(concat(lit("prio:"),
          col("o_orderkey").cast("string")))), 32) + 1L)
      .withColumn("p", expr("w * 4294967296L div u"))
    val top = pri.orderBy(col("p").desc, col("o_orderkey")).limit(k + 1)
      .localCheckpoint(true) // tiny; read by τ and the sample legs
    // τ = the (k+1)-th priority = min over the k+1 retained rows; when
    // the population has ≤ k rows the whole population is the sample
    // and τ = 0 (DLT's convention — the estimator degenerates to the
    // exact sum)
    val tau = top.agg(count(lit(1)).as("tc"), min(col("p")).as("mp"))
      .select(when(col("tc") < k + 1, 0L).otherwise(col("mp")).as("tau_p"))
    val sample = top.orderBy(col("p").desc, col("o_orderkey")).limit(k)
    val est = sample.crossJoin(broadcast(tau))
      .select(col("o_orderpriority"), col("w"),
        greatest(col("w"), expr("tau_p div 4294967296L")).as("ew"))
      .agg(sum("ew").as("est_total_cents"),
        sum(when(col("o_orderpriority") === "1-URGENT", col("ew"))
          .otherwise(0L)).as("est_urgent_cents"))
    val exact = o.agg(sum("w").as("exact_total_cents"),
      sum(when(col("o_orderpriority") === "1-URGENT", col("w"))
        .otherwise(0L)).as("exact_urgent_cents"),
      count(lit(1)).as("n_rows"))
    exact.crossJoin(broadcast(est)).crossJoin(broadcast(tau))
      .select(col("n_rows"), lit(k.toLong).as("k"),
        expr("tau_p div 4294967296L").as("tau_w"),
        col("est_total_cents"), col("exact_total_cents"),
        col("est_urgent_cents"), col("exact_urgent_cents"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q278_priority_sampling" -> prioritySampling,
    "q275_salted_exact_distinct" -> saltedExactDistinct,
    "q276_equidepth_selectivity" -> equiDepthSelectivity,
    "q284_sampled_equidepth" -> sampledEquiDepth,
    "q262_bootstrap_ci" -> bootstrapCi,
    "q216_mg_heavy_hitters" -> heavyHitters,
    "q217_kmv_distinct" -> kmvDistinct,
    "q222_hll_rollup" -> hllRollup,
    "q238_kmv_set_ops" -> kmvSetOps,
    "q245_join_size_estimate" -> joinSizeEstimate,
    "q253_join_order_choice" -> joinOrderChoice
  )

  /** PolyHash replay (the q205 pattern): fold (a·31 + codepoint) mod
    * 1e9+7 over the string's codepoints. */
  private def duckPolyHash(sqlExpr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_split_to_array($sqlExpr, ''),
       |                   ch -> CAST(unicode(ch) AS BIGINT))),
       |  (a, cp) -> (a * 31 + cp) % 1000000007)""".stripMargin

  override def oracles: Map[String, String] = Map(
    // the full DLT chain replayed: fnv+fmix hash, u, integer
    // priorities, top-(k+1), τ (0 when the population fits), both
    // estimator legs against both exact legs
    "q278_priority_sampling" -> {
      def fnv(e: String): String =
        s"""list_reduce(
           |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
           |      list_transform(regexp_split_to_array($e, ''),
           |                     c -> CAST(unicode(c) AS UBIGINT))),
           |    (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
           |                   % 18446744073709551616 AS UBIGINT))""".stripMargin
      def mulmod(x: String, cHi: Long, cLo: Long) =
        s"CAST(((CAST($x AS HUGEINT) * $cLo) % 18446744073709551616" +
          s" + ((($x % 4294967296) * $cHi) % 4294967296) * 4294967296)" +
          s" % 18446744073709551616 AS UBIGINT)"
      def xs33(x: String) = s"xor($x, $x // 8589934592)"
      val fm = xs33(mulmod(xs33(mulmod(xs33(
        fnv("'prio:' || CAST(o_orderkey AS VARCHAR)")),
        4283543511L, 3981806797L)), 3301882366L, 444984403L))
      s"""WITH o AS (
         |  SELECT o_orderkey, o_orderpriority,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS w
         |  FROM orders),
         |pr AS (
         |  SELECT *, CAST($fm // 4294967296 AS BIGINT) + 1 AS u
         |  FROM o),
         |p2 AS (SELECT *, w * 4294967296 // u AS p FROM pr),
         |top AS (SELECT * FROM p2 ORDER BY p DESC, o_orderkey LIMIT 65),
         |tau AS (SELECT CASE WHEN count(*) < 65 THEN 0
         |                    ELSE min(p) END AS tau_p FROM top),
         |samp AS (SELECT * FROM top ORDER BY p DESC, o_orderkey LIMIT 64),
         |est AS (
         |  SELECT CAST(sum(greatest(w, tau_p // 4294967296)) AS BIGINT)
         |           AS est_total_cents,
         |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
         |               THEN greatest(w, tau_p // 4294967296)
         |               ELSE 0 END) AS BIGINT) AS est_urgent_cents
         |  FROM samp, tau),
         |ex AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS exact_total_cents,
         |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
         |               THEN w ELSE 0 END) AS BIGINT) AS exact_urgent_cents,
         |         count(*) AS n_rows
         |  FROM o)
         |SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(64 AS BIGINT) AS k,
         |       CAST(tau_p // 4294967296 AS BIGINT) AS tau_w,
         |       est_total_cents, exact_total_cents,
         |       est_urgent_cents, exact_urgent_cents
         |FROM ex, est, tau""".stripMargin
    },
    // fmix64 salt replayed via the split-32/32 mulmod on the raw
    // unsigned user id, then both aggregation stages
    "q275_salted_exact_distinct" -> {
      def mulmod(x: String, cHi: Long, cLo: Long) =
        s"CAST(((CAST($x AS HUGEINT) * $cLo) % 18446744073709551616" +
          s" + ((($x % 4294967296) * $cHi) % 4294967296) * 4294967296)" +
          s" % 18446744073709551616 AS UBIGINT)"
      def xs33(x: String) = s"xor($x, $x // 8589934592)"
      val fm = xs33(mulmod(xs33(mulmod(xs33("CAST(user_id AS UBIGINT)"),
        4283543511L, 3981806797L)), 3301882366L, 444984403L))
      s"""WITH s AS (
         |  SELECT event_type, user_id,
         |         CAST($fm % 32 AS BIGINT) AS salt
         |  FROM events),
         |b AS (
         |  SELECT event_type, salt, count(DISTINCT user_id) AS bd,
         |         count(*) AS bn
         |  FROM s GROUP BY 1, 2)
         |SELECT event_type, CAST(sum(bd) AS BIGINT) AS n_users,
         |       CAST(sum(bn) AS BIGINT) AS n_events,
         |       CAST(count(*) AS BIGINT) AS n_buckets_used,
         |       CAST(max(bd) AS BIGINT) AS max_bucket_distinct
         |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    // sample, sample-side ntile boundaries, interval assignment of the
    // full table, per-bucket exact counts/bounds, the interpolated
    // estimate, and both tolerance booleans replayed
    "q284_sampled_equidepth" ->
      """WITH c AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s AS (SELECT * FROM c
        |      WHERE md5('eqd:' || CAST(o_orderkey AS VARCHAR)) < '2'),
        |sb AS (SELECT cents,
        |        ntile(16) OVER (ORDER BY cents, o_orderkey) AS b FROM s),
        |cuts AS (SELECT b, max(cents) AS cut FROM sb GROUP BY 1),
        |iv AS (SELECT b,
        |        coalesce(lag(cut) OVER (ORDER BY b),
        |                 -9223372036854775808) AS lo_excl,
        |        CASE WHEN b = 16 THEN 9223372036854775807
        |             ELSE cut END AS hi_incl
        |      FROM cuts),
        |h AS (SELECT iv.b, CAST(count(*) AS BIGINT) AS n,
        |             min(c.cents) AS lo, max(c.cents) AS hi
        |      FROM c JOIN iv ON c.cents > iv.lo_excl AND c.cents <= iv.hi_incl
        |      GROUP BY 1),
        |e AS (SELECT CAST(CAST(n AS HUGEINT)
        |               * greatest(0, least(hi + 1, 20000000)
        |                             - greatest(lo, 5000000))
        |               // (hi - lo + 1) AS BIGINT) AS est_b
        |      FROM h),
        |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_rows,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sample,
        |             (SELECT CAST(count(*) AS BIGINT) FROM h)
        |               AS n_buckets_filled,
        |             (SELECT CAST(max(n) AS BIGINT) FROM h) AS max_bucket_n,
        |             (SELECT CAST(min(n) AS BIGINT) FROM h) AS min_bucket_n,
        |             (SELECT CAST(sum(est_b) AS BIGINT) FROM e) AS est_rows,
        |             (SELECT CAST(count(*) AS BIGINT) FROM c
        |              WHERE cents >= 5000000 AND cents < 20000000)
        |               AS exact_rows)
        |SELECT n_rows, n_sample, n_buckets_filled, max_bucket_n,
        |       min_bucket_n,
        |       max_bucket_n <= n_rows // 16 + CAST(floor(
        |         2.0 * n_rows / sqrt(CAST(n_sample AS DOUBLE))) AS BIGINT)
        |         AS balance_ok,
        |       est_rows, exact_rows,
        |       CAST((CAST(1000000 AS HUGEINT) * est_rows) // n_rows
        |            AS BIGINT) AS sel_est_ppm,
        |       CAST((CAST(1000000 AS HUGEINT) * exact_rows) // n_rows
        |            AS BIGINT) AS sel_exact_ppm,
        |       abs((CAST(1000000 AS HUGEINT) * est_rows) // n_rows
        |           - (CAST(1000000 AS HUGEINT) * exact_rows) // n_rows)
        |         <= 100000 AS est_within_tol
        |FROM m""".stripMargin,
    "q276_equidepth_selectivity" ->
      """WITH c AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |t AS (SELECT cents,
        |        ntile(16) OVER (ORDER BY cents, o_orderkey) AS b FROM c),
        |h AS (SELECT b, min(cents) AS lo, max(cents) AS hi, count(*) AS n
        |      FROM t GROUP BY b),
        |e AS (SELECT n * greatest(0, least(hi + 1, 20000000)
        |               - greatest(lo, 5000000)) // (hi - lo + 1) AS est_b
        |      FROM h),
        |m AS (SELECT (SELECT count(*) FROM c) AS n_rows,
        |             (SELECT sum(est_b) FROM e) AS est_rows,
        |             (SELECT count(*) FROM c
        |              WHERE cents >= 5000000 AND cents < 20000000) AS exact_rows)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(est_rows AS BIGINT) AS est_rows,
        |       CAST(exact_rows AS BIGINT) AS exact_rows,
        |       CAST(1000000 * est_rows // n_rows AS BIGINT) AS sel_est_ppm,
        |       CAST(1000000 * exact_rows // n_rows AS BIGINT) AS sel_exact_ppm
        |FROM m""".stripMargin,
    // The FNV-1a fold + fmix64 finalizer per (orderkey, replicate),
    // bit-33 weights, and every replicate aggregate replayed — the
    // resampling itself is hash-checked.
    "q262_bootstrap_ci" -> {
      def fnv(e: String): String =
        s"""list_reduce(
           |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
           |      list_transform(regexp_split_to_array($e, ''),
           |                     c -> CAST(unicode(c) AS UBIGINT))),
           |    (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
           |                   % 18446744073709551616 AS UBIGINT))""".stripMargin
      // murmur3 fmix64 via the q253 split-32/32 mulmod (u64*u64 would
      // overflow HUGEINT); constants 0xff51afd7ed558ccd / 0xc4ceb9fe1a85ec53
      def mulmod(x: String, cHi: Long, cLo: Long) =
        s"CAST(((CAST($x AS HUGEINT) * $cLo) % 18446744073709551616" +
          s" + ((($x % 4294967296) * $cHi) % 4294967296) * 4294967296)" +
          s" % 18446744073709551616 AS UBIGINT)"
      def xs33(x: String) = s"xor($x, $x // 8589934592)"
      def fmixed(e: String) = xs33(mulmod(xs33(mulmod(xs33(fnv(e)),
        4283543511L, 3981806797L)), 3301882366L, 444984403L))
      s"""WITH o AS (
         |  SELECT o_orderkey AS okey,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |r AS (
         |  SELECT okey, cents, b FROM o, range(0, 32) t(b)),
         |h AS (
         |  SELECT b, cents,
         |         CAST(((${fmixed("CAST(okey AS VARCHAR) || ':' || " +
                     "CAST(b AS VARCHAR)")}) // 8589934592) % 2 AS BIGINT)
         |           * 2 AS m
         |  FROM r)
         |SELECT b, CAST(sum(m) AS BIGINT) AS n_b,
         |       CAST(sum(m * cents) AS BIGINT) AS sum_c,
         |       CAST((1000 * sum(m * cents)) // sum(m) AS BIGINT)
         |         AS mean_milli
         |FROM h GROUP BY b ORDER BY b""".stripMargin
    },
    // guarantee booleans: heavy set from exact counts; captured /
    // underest / residual are theorems, so the oracle emits TRUE
    "q216_mg_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |f AS (SELECT w, count(*) AS cnt FROM w WHERE w <> '' GROUP BY w),
        |t AS (SELECT sum(cnt) AS n FROM f)
        |SELECT w AS word, cnt AS exact_cnt,
        |       true AS captured, true AS underest_ok, true AS residual_ok
        |FROM f CROSS JOIN t WHERE cnt * 65 > n ORDER BY word""".stripMargin,
    "q217_kmv_distinct" -> {
      val h = duckPolyHash("CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || ':k'")
      s"""WITH li AS (
         |  SELECT l_returnflag AS flag, $h AS h FROM lineitem),
         |d AS (SELECT DISTINCT flag, h FROM li),
         |r AS (SELECT flag, h, row_number()
         |        OVER (PARTITION BY flag ORDER BY h) AS rn FROM d),
         |kmv AS (SELECT flag, h, rn FROM r WHERE rn <= 128),
         |per AS (
         |  SELECT flag, count(*) AS sz, max(CASE WHEN rn = 128 THEN h END) AS kth
         |  FROM kmv GROUP BY flag),
         |ex AS (SELECT flag, count(*) AS exact_d FROM d GROUP BY flag),
         |gd AS (SELECT DISTINCT h FROM li),
         |gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM gd),
         |gkth AS (SELECT max(CASE WHEN rn = 128 THEN h END) AS g_kth FROM gr),
         |-- merged route: re-rank the union of the per-group sketches
         |mu AS (SELECT DISTINCT h FROM kmv),
         |mr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mu),
         |meq AS (
         |  SELECT count(*) = 0 AS merge_eq FROM (
         |    SELECT h, rn FROM gr WHERE rn <= 128
         |    EXCEPT SELECT h, rn FROM mr WHERE rn <= 128))
         |SELECT ex.flag AS flag, ex.exact_d, per.kth AS kth_min,
         |       CASE WHEN per.sz < 128 THEN per.sz
         |            ELSE CAST(127 AS BIGINT) * 1000000007 // per.kth END AS est_d,
         |       meq.merge_eq,
         |       CAST(127 AS BIGINT) * 1000000007 // gkth.g_kth AS g_est_d
         |FROM ex JOIN per ON per.flag = ex.flag
         |CROSS JOIN meq CROSS JOIN gkth
         |ORDER BY ex.flag""".stripMargin
    },
    // sketches AND estimators replayed exactly: k smallest distinct
    // hashes per set, k-min-of-union, the (k−1)·M/τ estimator, the
    // ρ-sample Jaccard and intersection — all integer arithmetic
    "q238_kmv_set_ops" -> {
      val h = duckPolyHash("'partkey:' || CAST(l_partkey AS VARCHAR) || ':s'")
      s"""WITH li AS (
         |  SELECT l_returnflag AS flag, $h AS h
         |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         |d AS (SELECT DISTINCT flag, h FROM li),
         |a AS (SELECT h FROM d WHERE flag = 'R' ORDER BY h LIMIT 128),
         |b AS (SELECT h FROM d WHERE flag = 'A' ORDER BY h LIMIT 128),
         |uu AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
         |       ORDER BY h LIMIT 128),
         |st AS (
         |  SELECT (SELECT count(*) FROM a) AS n_a_sketch,
         |         (SELECT count(*) FROM b) AS n_b_sketch,
         |         (SELECT count(*) FROM uu) AS usz,
         |         (SELECT max(h) FROM uu) AS tau,
         |         (SELECT count(*) FROM uu
         |          WHERE h IN (SELECT h FROM a)
         |            AND h IN (SELECT h FROM b)) AS uin),
         |e AS (
         |  SELECT count(DISTINCT h) AS exact_union,
         |         count(DISTINCT CASE WHEN flag = 'R' THEN h END) AS exact_a,
         |         count(DISTINCT CASE WHEN flag = 'A' THEN h END) AS exact_b
         |  FROM d),
         |ei AS (
         |  SELECT count(*) AS exact_inter FROM (
         |    SELECT h FROM d GROUP BY h HAVING count(DISTINCT flag) = 2)),
         |est AS (
         |  SELECT st.*,
         |         CASE WHEN usz < 128 THEN usz
         |              ELSE CAST(127 AS BIGINT) * 1000000007 // tau
         |         END AS est_union
         |  FROM st)
         |SELECT CAST(n_a_sketch AS BIGINT) AS n_a_sketch,
         |       CAST(n_b_sketch AS BIGINT) AS n_b_sketch,
         |       CAST(usz AS BIGINT) AS usz, CAST(uin AS BIGINT) AS uin,
         |       e.exact_a, e.exact_b,
         |       CAST(est_union AS BIGINT) AS est_union, e.exact_union,
         |       CAST(1000000 * uin // usz AS BIGINT) AS jaccard_micro,
         |       CAST(est_union * uin // usz AS BIGINT) AS est_inter,
         |       CAST(ei.exact_inter AS BIGINT) AS exact_inter
         |FROM est, e, ei""".stripMargin
    },
    // sketches, k-min-of-union sample, per-sample multiplicities,
    // estimator AND exact join size — all integer, no tolerance
    "q245_join_size_estimate" -> {
      val h = duckPolyHash("'partkey:' || CAST(l_partkey AS VARCHAR) || ':s'")
      s"""WITH li AS (
         |  SELECT l_returnflag AS flag, $h AS h
         |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         |d AS (SELECT DISTINCT flag, h FROM li),
         |a AS (SELECT h FROM d WHERE flag = 'R' ORDER BY h LIMIT 128),
         |b AS (SELECT h FROM d WHERE flag = 'A' ORDER BY h LIMIT 128),
         |uu AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
         |       ORDER BY h LIMIT 128),
         |pk AS (
         |  SELECT h,
         |         sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS rv,
         |         sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS av
         |  FROM li GROUP BY h),
         |st AS (
         |  SELECT (SELECT count(*) FROM uu) AS usz,
         |         (SELECT max(h) FROM uu) AS tau,
         |         (SELECT coalesce(sum(rv * av), 0)
         |          FROM pk WHERE h IN (SELECT h FROM uu)) AS sample_prod,
         |         (SELECT sum(rv * av) FROM pk) AS exact_join,
         |         (SELECT count(*) FROM pk) AS exact_distinct_keys),
         |est AS (
         |  SELECT st.*,
         |         CASE WHEN usz < 128 THEN usz
         |              ELSE CAST(127 AS BIGINT) * 1000000007 // tau
         |         END AS est_union
         |  FROM st)
         |SELECT CAST(usz AS BIGINT) AS usz,
         |       CAST(est_union AS BIGINT) AS est_union,
         |       CAST(exact_distinct_keys AS BIGINT) AS exact_distinct_keys,
         |       CAST(sample_prod AS BIGINT) AS sample_prod,
         |       CAST(est_union * sample_prod // usz AS BIGINT) AS est_join,
         |       CAST(exact_join AS BIGINT) AS exact_join
         |FROM est""".stripMargin
    },
    // Two full q245 replays (orderkey pair, partkey pair) + the greedy
    // min-estimate choice, the exact-optimal choice, and their equality.
    "q253_join_order_choice" -> {
      // FNV-1a64 in mod-2^64 UBIGINT (the q178 replay), then murmur3
      // fmix64 with the q246 split-32/32 multiply (u64*u64 would
      // overflow HUGEINT), then >> 24 == Spark's
      // shiftrightunsigned(fmix64(fnv1a(..)), 24) — unsigned
      // interpretation on both sides, 40-bit uniform synopsis domain
      def mulmod(x: String, cHi: Long, cLo: Long) =
        s"CAST(((CAST($x AS HUGEINT) * $cLo) % 18446744073709551616" +
          s" + ((($x % 4294967296) * $cHi) % 4294967296) * 4294967296)" +
          s" % 18446744073709551616 AS UBIGINT)"
      def xs33(x: String) = s"xor($x, $x // 8589934592)"
      def duckFnv40(sqlExpr: String) = {
        val fnv =
          s"""list_reduce(
             |  list_prepend(CAST(14695981039346656037 AS UBIGINT),
             |    list_transform(regexp_split_to_array($sqlExpr, ''),
             |                   c -> CAST(unicode(c) AS UBIGINT))),
             |  (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
             |                 % 18446744073709551616 AS UBIGINT))""".stripMargin
        val mixed = xs33(mulmod(xs33(mulmod(xs33(fnv),
          4283543511L, 3981806797L)), 3301882366L, 444984403L))
        s"CAST($mixed // 16777216 AS BIGINT)"
      }
      val h1o = duckFnv40("'orderkey:' || CAST(o_orderkey AS VARCHAR)")
      val h1l = duckFnv40("'orderkey:' || CAST(l_orderkey AS VARCHAR)")
      val h2l = duckFnv40("'partkey:' || CAST(l_partkey AS VARCHAR)")
      val h2p = duckFnv40("'partkey:' || CAST(p_partkey AS VARCHAR)")
      def block(p: String, lSel: String, rSel: String) =
        s"""${p}f AS (
           |  $lSel
           |  UNION ALL
           |  $rSel),
           |${p}d AS (SELECT DISTINCT flag, h FROM ${p}f),
           |${p}a AS (SELECT h FROM ${p}d WHERE flag = 'L' ORDER BY h LIMIT 128),
           |${p}b AS (SELECT h FROM ${p}d WHERE flag = 'R' ORDER BY h LIMIT 128),
           |${p}u AS (SELECT h FROM (SELECT h FROM ${p}a UNION SELECT h FROM ${p}b)
           |          ORDER BY h LIMIT 128),
           |${p}pk AS (
           |  SELECT h,
           |         sum(CASE WHEN flag = 'L' THEN 1 ELSE 0 END) AS rv,
           |         sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS av
           |  FROM ${p}f GROUP BY h),
           |${p}st AS (
           |  SELECT (SELECT count(*) FROM ${p}u) AS usz,
           |         (SELECT max(h) FROM ${p}u) AS tau,
           |         (SELECT coalesce(sum(rv * av), 0)
           |          FROM ${p}pk WHERE h IN (SELECT h FROM ${p}u)) AS sample_prod,
           |         (SELECT sum(rv * av) FROM ${p}pk) AS exact_join),
           |${p}est AS (
           |  SELECT CASE WHEN usz < 128 THEN usz
           |              ELSE CAST(127 AS BIGINT) * 1099511627776 // tau END
           |           * sample_prod // usz AS est_join,
           |         exact_join
           |  FROM ${p}st)""".stripMargin
      s"""WITH ${block("j1",
            s"SELECT 'L' AS flag, $h1o AS h FROM orders",
            s"SELECT 'R', $h1l FROM lineitem")},
         |${block("j2",
            s"SELECT 'L' AS flag, $h2l AS h FROM lineitem",
            s"SELECT 'R', $h2p FROM part WHERE p_size <= 15")}
         |SELECT CAST(j1.est_join AS BIGINT) AS est_ol,
         |       CAST(j1.exact_join AS BIGINT) AS exact_ol,
         |       CAST(j2.est_join AS BIGINT) AS est_lp,
         |       CAST(j2.exact_join AS BIGINT) AS exact_lp,
         |       CASE WHEN j1.est_join <= j2.est_join
         |            THEN 'orders_lineitem_first'
         |            ELSE 'lineitem_part_first' END AS planned_first,
         |       CASE WHEN j1.exact_join <= j2.exact_join
         |            THEN 'orders_lineitem_first'
         |            ELSE 'lineitem_part_first' END AS optimal_first,
         |       (CASE WHEN j1.est_join <= j2.est_join THEN 1 ELSE 0 END)
         |         = (CASE WHEN j1.exact_join <= j2.exact_join THEN 1 ELSE 0 END)
         |         AS planner_correct
         |FROM j1est j1, j2est j2""".stripMargin
    },
    // per-source exact distincts + TRUE tolerance booleans (the HLL
    // estimate is Spark-internal; a >5% error flips a boolean and
    // hash-fails)
    "q222_hll_rollup" ->
      """WITH per AS (
        |  SELECT source, count(DISTINCT doc_id) AS exact_d
        |  FROM documents GROUP BY source),
        |g AS (SELECT CAST(sum(exact_d) AS BIGINT) AS g_exact FROM per)
        |SELECT source, exact_d, true AS hll_ok, g_exact, true AS g_hll_ok
        |FROM per CROSS JOIN g ORDER BY source""".stripMargin
  )
}

package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.TrendModel
import graft.tables.Tables

/** ML-layer queries (E3).
  *
  * q46: RandomForest training-set accuracy per symbol — rows-only driver
  * check (RF split selection is not SQL-expressible); the spec suite
  * asserts accuracy > majority-class baseline.
  *
  * q63: the deterministic half of the training query — per-symbol bar
  * counts and up-movement base rate, fully oracle-checked (this is the
  * label distribution the RF trains against).
  *
  * q64: the realtime leg end-to-end — stream → micro-batch bars →
  * trained-symbol guard (P8) → RF predict + change(%)
  * (`ml_model/predict_from_vm4.py:44-65`), scored batches appended to a
  * parquet sink (S10 analog). Rows-only; the guard semantics are asserted
  * in MlMultimodalSpec. */
object MlQueries extends QueryPack {

  /** Temp dirs reaped at JVM exit (the result frame reads them lazily, so
    * they must outlive the query — but not the process). ONE shutdown hook
    * drains a shared queue, however many times queries run in this JVM. */
  private val reapAtExit = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val reaperInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      reapAtExit.forEach(p => rm(p.toFile))
    }))
  private[queries] def tempDirDeletedOnExit(prefix: String): String = {
    reaperInstalled
    val p = Files.createTempDirectory(prefix)
    reapAtExit.add(p)
    p.toString
  }

  private def rfAccuracy(spark: SparkSession, dir: String): DataFrame = {
    // Bars are tiny relative to the tick scan (one row per key×day);
    // coalesce before the 5 sequential MLlib fits so each tree job runs a
    // handful of tasks instead of 32.
    val bars = TrendModel.dailyBars(Tables.events(spark, dir)).coalesce(8).cache()
    try {
      // 10 trees for the driver gate: same pipeline shape (assembler→RF),
      // half the fit cost; library default stays 20.
      val models = TrendModel.trainPerSymbol(bars, numTrees = 10)
      scoredOnDriver[String](TrendModel.trainingAccuracy(models, bars), "symbol")
    } finally bars.unpersist()
  }

  /** A forest query's score table — a few rows — computed in one
    * execution while its cached bars are still live, and returned as a
    * driver-local frame sorted by `key`: the sort needs no range-sample
    * job, and the result never re-derives the bars from `events` once
    * the cache is released. */
  private def scoredOnDriver[K: Ordering](scores: DataFrame, key: String): DataFrame = {
    val rows = scores.collect().sortBy(_.getAs[K](key))
    scores.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), scores.schema)
  }

  /** Per-symbol training-set shape: bar count + up-movement base rate.
    * Deterministic (no RF involved) → full DuckDB oracle. */
  private def trainingBaseRate(spark: SparkSession, dir: String): DataFrame =
    TrendModel.dailyBars(Tables.events(spark, dir))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("movement").cast("long")).as("n_up"))
      .select(col("symbol"), col("n_obs"), col("n_up"),
        (col("n_up").cast("double") / col("n_obs")).as("up_rate"))
      .orderBy("symbol")

  /** E3 realtime leg: train on all symbols but the last (so the P8 guard
    * has something to drop), then stream the events source and score each
    * micro-batch's bars through the per-symbol models, appending to a
    * parquet sink — the reference's change-stream → predict → insert loop
    * (`predict_from_vm4.py:44-65`) with durable sinks. */
  private def streamingInference(spark: SparkSession, dir: String): DataFrame = {
    val allBars = TrendModel.dailyBars(Tables.events(spark, dir)).coalesce(8).cache()
    try {
      // Holdout: the max symbol stays untrained (so the P8 guard has
      // something to drop). The choice stays IN-PLAN — a one-row broadcast
      // anti-join — instead of collecting the key set to the driver; the
      // only driver-side key enumeration left is inside trainPerSymbol,
      // where MLlib's fit-per-key requires it (q71 is the unbounded path).
      val holdout = allBars.agg(max("symbol").as("symbol"))
      val models = TrendModel.trainPerSymbol(
        allBars.join(broadcast(holdout), Seq("symbol"), "left_anti"),
        numTrees = 10)
      val raw = Tables.eventsStream(spark, dir)
      val out = tempDirDeletedOnExit("graft_infer_")
      val q = raw.writeStream
        .option("checkpointLocation", tempDirDeletedOnExit("graft_infer_ckpt_"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          TrendModel.scoreBatch(TrendModel.dailyBars(batch), models)
            .write.mode("append").parquet(out)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).orderBy("symbol", "user_id", "day")
    } finally allBars.unpersist()
  }

  /** The unbounded-key-cardinality path made driver-visible: ONE global
    * forest with the hashed symbol as a feature (no per-key fit loop, no
    * driver collect of the key set) — per-symbol training accuracy of
    * that single model. Rows-only (RF internals are not SQL-expressible);
    * spec asserts it beats the majority baseline. The fit and the score
    * share one materialization of the bars; the score table is one row
    * per symbol and comes back to the driver (at unbounded symbol
    * cardinality it would be pinned with `localCheckpoint` instead). */
  private def globalRf(spark: SparkSession, dir: String): DataFrame = {
    val bars = TrendModel.dailyBars(Tables.events(spark, dir)).coalesce(8).cache()
    try {
      val m = TrendModel.trainGlobal(bars)
      // one row per (symbol, user, day): scored in one partition, the
      // aggregate needs no exchange and runs as one job
      scoredOnDriver[String](m.transform(bars).coalesce(1)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_obs"),
          avg((col("prediction") === col("movement")).cast("double")).as("accuracy")),
        "symbol")
    } finally bars.unpersist()
  }

  /** Deterministic hash fold over the training bars (the q81 md5
    * discipline, k = 4 single-hex boundaries so folds are uniform by
    * construction): fold membership is a pure function of the bar key,
    * identical on any engine, any partitioning, any run — the property
    * `randomSplit` does NOT have. `private[graft]` so the CV spec
    * drives the same assignment. */
  private[graft] def withFold(bars: DataFrame): DataFrame =
    bars
      .withColumn("k", md5(concat_ws(":", lit("fold"), col("symbol"),
        col("user_id"), col("day"))))
      .withColumn("fold",
        when(col("k") < "4", 0L).when(col("k") < "8", 1L)
          .when(col("k") < "c", 2L).otherwise(3L))

  /** q235: deterministic k-fold CROSS-VALIDATION fold assignment — the
    * model-selection surface the ML layer (q46/q63/q71 train+score)
    * lacked. Fold membership itself is the oracled artifact: the DuckDB
    * twin recomputes the same md5 over the same bar keys, so a changed
    * hash preimage, boundary, or bar construction hash-fails. Output is
    * the per-fold census (size, label balance, symbol coverage, min
    * hash) — everything a CV harness needs to trust its folds. */
  private def cvFolds(spark: SparkSession, dir: String): DataFrame =
    withFold(TrendModel.dailyBars(Tables.events(spark, dir)))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("movement").cast("long")).as("n_up"),
        countDistinct(col("symbol")).as("n_symbols"),
        min("k").as("min_hash"))
      .orderBy("fold")

  /** q236: per-fold RF accuracy — train the global forest on the other
    * 3 folds, score the held-out fold, once per fold (the rows-only
    * MLlib tail, like q46/q71; fold membership is hash-gated by q235).
    * The spec asserts the CV-mean beats the majority baseline. */
  private def cvAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val bars = withFold(TrendModel.dailyBars(Tables.events(spark, dir)))
      .coalesce(8).cache()
    try {
      scoredOnDriver[Long]((0L to 3L).map { f =>
        val m = TrendModel.trainGlobal(bars.where(col("fold") =!= f))
        m.transform(bars.where(col("fold") === f))
          .agg(count(lit(1)).as("n_test"),
            avg((col("prediction") === col("movement")).cast("double"))
              .as("accuracy"))
          .withColumn("fold", lit(f))
      }.reduce(_ unionByName _)
        .select("fold", "n_test", "accuracy"), "fold")
    } finally bars.unpersist()
  }

  /** q240: RELATIONALLY-TRAINED depth-2 decision tree — the first
    * training loop whose every split is hash-green through the oracle
    * (the q46/q71/q236 MLlib forests are rows-only because RF split
    * selection isn't SQL-replayable; this learner IS — it's the first
    * split pair of the reference forest, `ml_model/predict_from_vm4
    * .py:35`, made exact). Shape:
    *
    *  - features: the 5 q46 bar features quantized to integer cents
    *    (volume is already a count); label = movement;
    *  - split selection: for every (feature, threshold v) candidate,
    *    "x ≤ v", the EXACT weighted Gini argmin in pure integer
    *    arithmetic — minimizing Σ_side n_s·gini_s over a split of N
    *    rows equals minimizing k_L(n_L−k_L)·n_R + k_R(n_R−k_R)·n_L
    *    (multiply the rational cost by n_L·n_R > 0), so the argmin
    *    needs no division and no floats (the q234 discipline). Total
    *    order (cost, feat, v) makes ties deterministic. Exact for
    *    n_side < 2^21 rows per node (the n³ product must fit int64);
    *    beyond that, bucket candidates by a quantile sketch and/or
    *    widen to decimal — the fixture scales stay far under it;
    *  - candidates are per-(feature, value) AGGREGATES + one running
    *    sum over the distinct-value domain — value-domain-bounded,
    *    never row-bounded, with map-side partial counts; no pairwise
    *    joins, no driver-side loops (the tree frames are 1–2-row
    *    broadcasts);
    *  - fold 0 of the q235 md5 assignment is the holdout; children
    *    are trained per root side, and a side with no valid split
    *    (single distinct value on every feature) falls back to its
    *    side-majority leaf — mirrored in the oracle;
    *  - output: the full tree (root + both children + 4 leaf votes) +
    *    held-out n_correct, every column oracle-hashed. */
  /** Best (feature, threshold) split per `grp` group over a frame with
    * the 5 integer feature columns (oc/hc/lc/cc/vol) and 0/1 label `y`:
    * per-(grp, feat, v) counts, running sums over the distinct-value
    * domain, integer-exact Gini argmin under the (cost, feat, v) total
    * order (see [[decisionStump]]). Returns one row per group with
    * (feat, v, nl, kl, nn, kk); groups with no valid split (every
    * feature single-valued) return no row. `private[graft]` so the
    * spec can drive known-split and tie-break cases directly. */
  private[graft] def bestSplits(df: DataFrame, grp: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stackExpr =
      "stack(5, 'close', cc, 'high', hc, 'low', lc, 'open', oc, " +
        "'volume', vol) as (feat, v)"
    val long = df.selectExpr(grp ++ Seq(stackExpr, "y"): _*)
    val counts = long.groupBy((grp ++ Seq("feat", "v")).map(col): _*)
      .agg(count(lit(1)).as("n"), sum("y").as("k"))
    val wCum = Window.partitionBy((grp :+ "feat").map(col): _*).orderBy("v")
    val wTot = Window.partitionBy((grp :+ "feat").map(col): _*)
    val wSel = Window.partitionBy(grp.map(col): _*)
      .orderBy(col("cost"), col("feat"), col("v"))
    counts
      .withColumn("nl", sum("n").over(wCum))
      .withColumn("kl", sum("k").over(wCum))
      .withColumn("nn", sum("n").over(wTot))
      .withColumn("kk", sum("k").over(wTot))
      .where(col("nl") < col("nn")) // right side must be nonempty
      .withColumn("cost",
        col("kl") * (col("nl") - col("kl")) * (col("nn") - col("nl")) +
          (col("kk") - col("kl")) *
            ((col("nn") - col("nl")) - (col("kk") - col("kl"))) * col("nl"))
      .withColumn("rn", row_number().over(wSel))
      .where(col("rn") === 1)
      .drop("rn", "n", "k", "cost")
  }

  private def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val bars = withFold(TrendModel.dailyBars(Tables.events(spark, dir)))
      .select(col("fold"),
        round(col("open") * 100).cast("long").as("oc"),
        round(col("high") * 100).cast("long").as("hc"),
        round(col("low") * 100).cast("long").as("lc"),
        round(col("close") * 100).cast("long").as("cc"),
        col("volume").cast("long").as("vol"),
        col("movement").cast("long").as("y"))
    val train = bars.where(col("fold") =!= 0)
    val test = bars.where(col("fold") === 0)

    val root = bestSplits(train, Seq.empty)
      .select(col("feat").as("root_feat"), col("v").as("root_thr"),
        col("nl").as("n_l"), col("kl").as("k_l"),
        col("nn").as("n_train"), col("kk").as("k_train"))

    def featVal(featCol: org.apache.spark.sql.Column) =
      when(featCol === "close", col("cc"))
        .when(featCol === "high", col("hc"))
        .when(featCol === "low", col("lc"))
        .when(featCol === "open", col("oc"))
        .otherwise(col("vol"))
    def sideCol = when(featVal(col("root_feat")) <= col("root_thr"), "L")
      .otherwise("R")

    val sided = train.crossJoin(broadcast(root)).withColumn("side", sideCol)
      .select("side", "oc", "hc", "lc", "cc", "vol", "y")
    val children = bestSplits(sided, Seq("side"))
      .select(col("side"), col("feat").as("c_feat"), col("v").as("c_thr"),
        col("nl").as("c_nl"), col("kl").as("c_kl"),
        col("nn").as("c_n"), col("kk").as("c_k"))

    // leaf votes: strict majority → 1, ties → 0 (deterministic)
    def vote(k: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (lit(2) * k > n).cast("long")
    val majL = vote(col("k_l"), col("n_l"))
    val majR = vote(col("k_train") - col("k_l"), col("n_train") - col("n_l"))

    val scored = test.crossJoin(broadcast(root)).withColumn("side", sideCol)
      .join(broadcast(children), Seq("side"), "left")
      .withColumn("pred",
        when(col("c_feat").isNull,
          when(col("side") === "L", majL).otherwise(majR))
          .otherwise(when(featVal(col("c_feat")) <= col("c_thr"),
            vote(col("c_kl"), col("c_nl")))
            .otherwise(vote(col("c_k") - col("c_kl"),
              col("c_n") - col("c_nl")))))
      .agg(count(lit(1)).as("n_test"),
        sum((col("pred") === col("y")).cast("long")).as("n_correct"))

    val cl = children.where(col("side") === "L")
      .select(col("c_feat").as("l_feat"), col("c_thr").as("l_thr"),
        vote(col("c_kl"), col("c_nl")).as("p_ll"),
        vote(col("c_k") - col("c_kl"), col("c_n") - col("c_nl")).as("p_lr"))
    val cr = children.where(col("side") === "R")
      .select(col("c_feat").as("r_feat"), col("c_thr").as("r_thr"),
        vote(col("c_kl"), col("c_nl")).as("p_rl"),
        vote(col("c_k") - col("c_kl"), col("c_n") - col("c_nl")).as("p_rr"))

    root.join(cl, lit(true), "left").join(cr, lit(true), "left")
      .crossJoin(scored)
      .select(col("root_feat"), col("root_thr"),
        col("n_train"), col("k_train"),
        col("l_feat"), col("l_thr"), col("r_feat"), col("r_thr"),
        coalesce(col("p_ll"), majL).as("pred_ll"),
        coalesce(col("p_lr"), majL).as("pred_lr"),
        coalesce(col("p_rl"), majR).as("pred_rl"),
        coalesce(col("p_rr"), majR).as("pred_rr"),
        col("n_test"), col("n_correct"))
  }

  /** WEIGHTED [[bestSplits]]: the frame carries integer weight `w` and
    * pre-multiplied `wy` = w·y; split selection minimizes the weighted
    * division-free Gini cost K_L(W_L−K_L)·W_R + K_R(W_R−K_R)·W_L over
    * weight sums instead of counts. Weight sums stay int64 (Σw ≤ 2e1c1
    * < 2n²), but the three-way cost PRODUCTS can reach (Σw)³ ≈ n⁶, so
    * the cost is computed in DecimalType(38, 0) — exact to 10³⁸, and
    * DuckDB's HUGEINT replays it exactly (the q182 discipline). Only
    * the ORDER uses the cost, so no decimal ever reaches the output
    * schema. */
  private[graft] def bestSplitsW(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val long = df.selectExpr(
      "stack(5, 'close', cc, 'high', hc, 'low', lc, 'open', oc, " +
        "'volume', vol) as (feat, v)", "w", "wy")
    val counts = long.groupBy("feat", "v")
      .agg(sum("w").as("n"), sum("wy").as("k"))
    val wCum = Window.partitionBy("feat").orderBy("v")
    val wTot = Window.partitionBy("feat")
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val wSel = Window.orderBy(col("cost"), col("feat"), col("v"))
    counts
      .withColumn("nl", sum("n").over(wCum))
      .withColumn("kl", sum("k").over(wCum))
      .withColumn("nn", sum("n").over(wTot))
      .withColumn("kk", sum("k").over(wTot))
      .where(col("nl") < col("nn"))
      .withColumn("cost",
        dec(col("kl")) * dec(col("nl") - col("kl")) *
          dec(col("nn") - col("nl")) +
          dec(col("kk") - col("kl")) *
            dec((col("nn") - col("nl")) - (col("kk") - col("kl"))) *
            dec(col("nl")))
      .withColumn("rn", row_number().over(wSel))
      .where(col("rn") === 1)
      .drop("rn", "n", "k", "cost")
  }

  /** q251: two-round AdaBoost over relationally-trained stumps — the
    * ORACLE-CHECKED ensemble counterpart of the reference's
    * RandomForest (`ml_model/predict_from_vm4.py:35`): where q240 made
    * one tree exact, this makes a boosted COMMITTEE exact, weights,
    * second weighted fit, α-comparison and all (Freund & Schapire '97,
    * public algorithm). Everything stays integer:
    *
    *  - round 1 is q240's root stump h₁ (uniform weights);
    *  - AdaBoost's reweighting "misclassified points get half the total
    *    mass" has an exact integer form: w = c₁ for the e₁ misclassified
    *    rows and w = e₁ for the c₁ correct ones (each side then totals
    *    e₁c₁ — the canonical weights scaled by 2e₁c₁/n, which changes
    *    no argmin);
    *  - round 2 trains h₂ on those weights via [[bestSplitsW]]
    *    (division-free weighted Gini, decimal cost, int64 weight sums);
    *  - the vote: sign(α₁h₁ + α₂h₂) with αᵢ = ½ln((1−εᵢ)/εᵢ) only
    *    matters where h₁ ≠ h₂, where it reduces to "is α₂ > α₁", i.e.
    *    (1−ε₂)/ε₂ > (1−ε₁)/ε₁ — cross-multiplied to the exact integer
    *    predicate e₁·(W−E₂) > c₁·E₂ (E₂ = weighted error of h₂, W =
    *    2e₁c₁ the total weight; ln is monotone so NO logarithm ever
    *    evaluates); α ties break to h₁, deterministically. Assumes the
    *    generic position 0 < e₁ < c₁ (verified at all three SFs; a
    *    perfect or majority-losing stump would make boosting itself
    *    degenerate).
    *
    * Output: one row with both stumps, both error masses, the α
    * predicate, and held-out accuracy of h₁ alone vs the committee —
    * every column hash-checked by an oracle that replays both training
    * rounds, the reweighting, and the vote.
    *
    * Scale shape: two value-domain-bounded aggregation passes (the
    * q240 shape, once unweighted, once weighted) + three 1-row
    * broadcast frames; no pairwise work, no driver loops, nothing
    * corpus-sized past the partial aggregates. */
  private def adaboostStumps(spark: SparkSession, dir: String): DataFrame = {
    val bars = withFold(TrendModel.dailyBars(Tables.events(spark, dir)))
      .select(col("fold"),
        round(col("open") * 100).cast("long").as("oc"),
        round(col("high") * 100).cast("long").as("hc"),
        round(col("low") * 100).cast("long").as("lc"),
        round(col("close") * 100).cast("long").as("cc"),
        col("volume").cast("long").as("vol"),
        col("movement").cast("long").as("y"))
    val train = bars.where(col("fold") =!= 0)
    val test = bars.where(col("fold") === 0)

    def featVal(f: org.apache.spark.sql.Column) =
      when(f === "close", col("cc")).when(f === "high", col("hc"))
        .when(f === "low", col("lc")).when(f === "open", col("oc"))
        .otherwise(col("vol"))
    def vote(k: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (lit(2) * k > n).cast("long")

    val h1 = bestSplits(train, Seq.empty)
      .select(col("feat").as("f1"), col("v").as("t1"),
        vote(col("kl"), col("nl")).as("p1l"),
        vote(col("kk") - col("kl"), col("nn") - col("nl")).as("p1r"))
    def h1pred = when(featVal(col("f1")) <= col("t1"), col("p1l"))
      .otherwise(col("p1r"))

    val t1 = train.crossJoin(broadcast(h1)).withColumn("h1", h1pred)
    val errs = t1.agg(
      sum(when(col("h1") =!= col("y"), 1L).otherwise(0L)).as("e1"),
      sum(when(col("h1") === col("y"), 1L).otherwise(0L)).as("c1"))
    val weighted = t1.crossJoin(broadcast(errs))
      .withColumn("w",
        when(col("h1") =!= col("y"), col("c1")).otherwise(col("e1")))
      .select(col("oc"), col("hc"), col("lc"), col("cc"), col("vol"),
        col("y"), col("w"), (col("w") * col("y")).as("wy"))

    val h2 = bestSplitsW(weighted)
      .select(col("feat").as("f2"), col("v").as("t2"),
        vote(col("kl"), col("nl")).as("p2l"),
        vote(col("kk") - col("kl"), col("nn") - col("nl")).as("p2r"),
        col("nn").as("w_tot"))
    def h2pred = when(featVal(col("f2")) <= col("t2"), col("p2l"))
      .otherwise(col("p2r"))

    val e2 = weighted.crossJoin(broadcast(h2))
      .agg(sum(when(h2pred =!= col("y"), col("w")).otherwise(lit(0L)))
        .as("e2w"))

    val model = h1.crossJoin(errs).crossJoin(h2).crossJoin(e2)
      .withColumn("use2",
        (col("e1") * (col("w_tot") - col("e2w")) >
          col("c1") * col("e2w")).cast("long"))
    val scored = test.crossJoin(broadcast(model))
      .withColumn("h1", h1pred).withColumn("h2", h2pred)
      .withColumn("pred",
        when(col("h1") === col("h2"), col("h1"))
          .otherwise(when(col("use2") === 1L, col("h2"))
            .otherwise(col("h1"))))
      .agg(count(lit(1)).as("n_test"),
        sum((col("h1") === col("y")).cast("long")).as("n_correct_h1"),
        sum((col("pred") === col("y")).cast("long")).as("n_correct_boost"))
    model.crossJoin(scored)
      .select("f1", "t1", "p1l", "p1r", "e1", "c1",
        "f2", "t2", "p2l", "p2r", "e2w", "w_tot", "use2",
        "n_test", "n_correct_h1", "n_correct_boost")
  }

  /** q254: FEATURE SELECTION by exact split impurity — the ranking a
    * tree/forest trainer consults before it ever splits (sklearn's
    * `feature_importances_` is the averaged post-hoc version; this is
    * the pre-split exact form): for EVERY feature, its best threshold
    * and the division-free weighted-Gini cost at that threshold, over
    * the q240 training fold. Because every candidate split partitions
    * the SAME n rows, the integer cost k_L(n_L−k_L)n_R + k_R(n_R−k_R)n_L
    * is comparable across features as well as within one — so ordering
    * the 5 one-row results by cost IS impurity-based feature ranking,
    * with no entropy, no logarithm, no float anywhere. The per-feature
    * argmin is q240's candidate table with the selection window
    * partitioned by feature instead of global; costs stay int64 by the
    * same n < 2²¹ bound. Output: one row per feature (rank, best
    * threshold, split counts, exact cost) — the q240 root is by
    * construction the rank-1 row, which the oracle pins. */
  private def featureRanking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val train = withFold(TrendModel.dailyBars(Tables.events(spark, dir)))
      .where(col("fold") =!= 0)
      .select(
        round(col("open") * 100).cast("long").as("oc"),
        round(col("high") * 100).cast("long").as("hc"),
        round(col("low") * 100).cast("long").as("lc"),
        round(col("close") * 100).cast("long").as("cc"),
        col("volume").cast("long").as("vol"),
        col("movement").cast("long").as("y"))
    val long = train.selectExpr(
      "stack(5, 'close', cc, 'high', hc, 'low', lc, 'open', oc, " +
        "'volume', vol) as (feat, v)", "y")
    val counts = long.groupBy("feat", "v")
      .agg(count(lit(1)).as("n"), sum("y").as("k"))
    val wCum = Window.partitionBy("feat").orderBy("v")
    val wTot = Window.partitionBy("feat")
    val perFeat = Window.partitionBy("feat").orderBy(col("cost"), col("v"))
    val ranked = counts
      .withColumn("nl", sum("n").over(wCum))
      .withColumn("kl", sum("k").over(wCum))
      .withColumn("nn", sum("n").over(wTot))
      .withColumn("kk", sum("k").over(wTot))
      .where(col("nl") < col("nn"))
      .withColumn("cost",
        col("kl") * (col("nl") - col("kl")) * (col("nn") - col("nl")) +
          (col("kk") - col("kl")) *
            ((col("nn") - col("nl")) - (col("kk") - col("kl"))) * col("nl"))
      .withColumn("rn", row_number().over(perFeat))
      .where(col("rn") === 1)
    ranked
      .withColumn("feat_rank",
        row_number().over(Window.orderBy(col("cost"), col("feat"))))
      .select(col("feat_rank"), col("feat"), col("v").as("best_thr"),
        col("nl"), col("kl"), col("nn"), col("kk"), col("cost"))
      .orderBy("feat_rank")
  }

  /** q178: the hashing trick — namespaced categorical features
    * (`brand=…`, `type=…`) hashed into 64 buckets via the codegen'd
    * FNV-1a64 expression, with the per-bucket collision census (distinct
    * source categories vs rows) a featurizer needs to size D. Entirely
    * in-scan until one 64-row aggregate; no vocabulary state anywhere —
    * the property that makes the trick the 100 TB featurizer. The
    * oracle replays FNV-1a64 in SQL (the q39 discipline) over the same
    * namespaced strings. */
  private def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions
    Tables.part(spark, dir)
      .select(explode(array(
        concat(lit("brand="), col("p_brand")),
        concat(lit("type="), col("p_type")))).as("feat"))
      .select(col("feat"),
        pmod(HashFunctions.fnv1a(col("feat")), lit(64L)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("feat")).as("n_feats"))
      .orderBy("bucket")
  }

  /** q247: RELATIONALLY-TRAINED multinomial Naive Bayes — the generative
    * counterpart to q242's discriminative rank-profile classifier and the
    * second fully hash-checked training loop after q240. Same task
    * (language of a document) and the same doc_id % 5 holdout split so
    * the two learners are directly comparable.
    *
    * Train (doc_id % 5 ≠ 0): vocabulary = words with train count ≥ 5
    * (bounded feature space); per-(lang, word) token counts c_lw, per-
    * lang vocab-token totals c_l, per-lang doc priors n_l. The model is
    * Laplace-smoothed: weight(lang, w) = ln((c_lw + 1)/(c_l + V)) and
    * prior(lang) = ln(n_l / n_train), each QUANTIZED to micro-nats at
    * the model level — ln appears once per (lang, word) cell over a
    * ratio of exact small integers and is rounded to int64 immediately
    * (the q165/q170 cross-engine contract; q242 avoided ln entirely,
    * this query pins the quantized alternative), so every downstream
    * score is an exact integer sum: score(d, lang) = prior_micro +
    * Σ_w cnt_dw · weight_micro. Argmax ties break to the
    * lexicographically first language. Docs with no vocab token score on
    * priors alone. Output: (true, predicted) confusion matrix with
    * n_docs and the summed winning score — counts, weights AND argmax
    * replayed by the oracle.
    *
    * Scale shape (100 TB corpus): the model is dimension-sized
    * (|langs| × V cells) and BROADCAST; doc-word counts shuffle only
    * (doc_id, word) partials with map-side combine; scoring is a
    * map-side join against the broadcast model plus one per-doc window
    * over |langs| rows. No pairwise doc work anywhere — the exact shape
    * a fastText-style curation classifier runs at corpus scale. */
  private def naiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
      filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ws"))
    val dw = docs.select(col("doc_id"), col("lang"),
      explode(col("ws")).as("word"))
    val train = dw.where(col("doc_id") % 5 =!= 0)
    val vocab = train.groupBy("word").agg(count(lit(1)).as("cw"))
      .where(col("cw") >= 5).select("word")
    val tv = train.join(broadcast(vocab), "word")
    val clw = tv.groupBy("lang", "word").agg(count(lit(1)).as("c_lw"))
    // per-lang stats × vocab size × doc priors: one tiny broadcast frame
    val langStats = tv.groupBy("lang").agg(count(lit(1)).as("c_l"))
      .join(docs.where(col("doc_id") % 5 =!= 0).groupBy("lang")
        .agg(count(lit(1)).as("n_l")), "lang")
      .crossJoin(vocab.agg(count(lit(1)).as("v")))
      .crossJoin(docs.where(col("doc_id") % 5 =!= 0)
        .agg(count(lit(1)).as("n_train")))
      .withColumn("prior_micro",
        round(log(col("n_l").cast("double") / col("n_train").cast("double"))
          * 1e6).cast("long"))
      .select(col("lang").as("cand"), col("c_l"), col("v"),
        col("prior_micro"))
    val model = clw.select(col("lang").as("cand"), col("word"), col("c_lw"))
    // held-out docs: vocab-restricted word counts → integer score per lang
    val tdw = dw.where(col("doc_id") % 5 === 0)
      .join(broadcast(vocab), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val wordScores = tdw.crossJoin(broadcast(langStats))
      .join(broadcast(model), Seq("cand", "word"), "left")
      .withColumn("w_micro",
        round(log((coalesce(col("c_lw"), lit(0L)) + lit(1L)).cast("double")
          / (col("c_l") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id", "cand")
      .agg(sum(col("cnt") * col("w_micro")).as("s_words"))
    val scored = docs.where(col("doc_id") % 5 === 0).select("doc_id", "lang")
      .crossJoin(broadcast(langStats.select("cand", "prior_micro")))
      .join(wordScores, Seq("doc_id", "cand"), "left")
      .withColumn("score",
        col("prior_micro") + coalesce(col("s_words"), lit(0L)))
    val pred = scored.withColumn("rn", row_number().over(
        w.partitionBy("doc_id").orderBy(desc("score"), asc("cand"))))
      .where(col("rn") === 1)
    pred.groupBy(col("lang").as("true_lang"), col("cand").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score"))
      .orderBy("true_lang", "pred_lang")
  }

  /** q256: EXACT ROC-AUC from a bounded score histogram — the
    * evaluation metric the training tier (q240/q247/q251) scores with
    * plain accuracy but a ranking pipeline grades with AUC. Identity
    * used: AUC·n₊·n₋ = #{(pos,neg): s₊ > s₋} + ½·#{s₊ = s₋} (the
    * Mann–Whitney U statistic), computed WITHOUT a row-level global
    * sort: rows aggregate to per-score-bin (pos, neg) counts first, the
    * one ordered window runs over the BIN domain (~100 rows here —
    * bounded by the binning, never by the corpus, the q88/q53
    * discipline), and pairs-won is Σ pos_b · cum_neg_below(b). Doubling
    * the pair count keeps the tie term integral; the published AUC is a
    * micro-unit truncating division of exact int64 counts (the q249
    * no-float contract). n₊·n₋ must fit int64 — exact to ~3·10⁹ rows
    * per side; past that widen the two products to decimal(38,0) (the
    * q240 widening note). Scored rule: thousand-dollar price bins
    * predicting returnflag='R' — the AUC machinery is the operator, the
    * rule is a declared stand-in for any model score. */
  private def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.lineitem(spark, dir).select(
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000")
        .as("score"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    val g = s.groupBy("score").agg(
      sum("y").as("pos"), (count(lit(1)) - sum("y")).as("neg"))
    val cum = g.withColumn("cneg",
      coalesce(sum("neg").over(Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cum.agg(
        sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        count(lit(1)).as("n_bins"),
        sum(col("pos") * col("cneg")).as("pairs_won"),
        sum(col("pos") * col("neg")).as("tied_pairs"))
      .select(col("n_pos"), col("n_neg"), col("n_bins"),
        col("pairs_won"), col("tied_pairs"),
        expr("(1000000 * (2 * pairs_won + tied_pairs)) div " +
          "(2 * n_pos * n_neg)").as("auc_micro"))
  }

  /** q258: χ² INDEPENDENCE feature ranking — the CATEGORICAL companion
    * to q254 (which ranks numeric thresholds by split impurity): rank
    * candidate categorical features by Pearson's χ² against the label,
    * the classic filter-method feature selector (Pearson 1900; the
    * sklearn `chi2`/`SelectKBest` shape re-expressed relationally).
    * Exact-integer form: for cell (fval, y) with observed O, row
    * marginal R, column marginal C, total N, the χ² contribution is
    * (O·N − R·C)²/(R·C·N) — emitted as a micro-unit truncating division
    * with the square widened to decimal(38,0)/HUGEINT (O·N reaches
    * 3.6·10¹¹ at sf0.1, its square 1.3·10²³ — the q257/q246 widening).
    * ZERO-observed cells still contribute R·C/N, so the grid is built
    * from the marginal product (row-marginals ⋈ column-marginals) and
    * the observed counts LEFT-join in; features are comparable because
    * every one partitions the same N rows.
    *
    * Scale shape: the 3-way stack is one pass over the enrichment join;
    * every aggregate is map-side-combinable to value-domain-bounded
    * frames (|fvals|·|labels| cells, ~25 brands max); the grid joins
    * and the final rank run on tens of rows. The enrichment join
    * (lineitem⋈orders⋈part) is the q05-audited shuffle-join shape. */
  private def chi2FeatureRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .selectExpr(
        "stack(3, 'priority', o_orderpriority, 'brand', p_brand, " +
          "'linestatus', l_linestatus) AS (feature, fval)",
        "CAST(l_returnflag = 'R' AS INT) AS y")
    val cells = base.groupBy("feature", "fval", "y")
      .agg(count(lit(1)).as("o"))
    val rmarg = base.groupBy("feature", "fval").agg(count(lit(1)).as("r"))
    val cmarg = base.groupBy("feature", "y").agg(count(lit(1)).as("c"))
    val nTot = base.groupBy("feature").agg(count(lit(1)).as("n"))
    val grid = rmarg
      .join(cmarg, "feature")
      .join(broadcast(nTot), "feature")
      .join(cells, Seq("feature", "fval", "y"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("dev", col("o") * col("n") - col("r") * col("c"))
      .withColumn("term_micro",
        expr("(CAST(1000000 AS DECIMAL(38,0)) * dev * dev) " +
          "div (r * c * n)"))
    val sel = grid.groupBy("feature")
      .agg(count(lit(1)).as("n_cells"),
        ((countDistinct("fval") - 1) * (countDistinct("y") - 1))
          .as("dof"),
        sum("term_micro").as("chi2_micro"))
    sel.withColumn("rank", row_number().over(
        Window.orderBy(desc("chi2_micro"), asc("feature"))))
      .orderBy("rank")
  }

  /** q263: CALIBRATION / RELIABILITY TABLE — the third leg of the
    * evaluation tier (q240-family accuracy, q256 AUC, this): does a
    * predicted probability MEAN what it says? A per-bin frequency model
    * is fit on the hash-held TRAIN split (P̂(y|bin) = exact micro-ratio
    * of train counts, unseen bins fall back to the train prior), test
    * rows route to one-percent-point predicted-probability buckets
    * (fine enough to resolve a weakly-varying predictor — decile-wide
    * buckets collapse this fixture to one row), and each bucket
    * reports mean prediction vs observed rate and their gap — the
    * reliability diagram as data (Murphy–Winkler 1977; the ECE numerator
    * is Σ|gap|·n over these rows). Everything is exact-integer
    * micro-units; the train/test split is the q242/q247 `% 5` hash
    * discipline on the orderkey.
    *
    * Scale shape: one pass to bin-domain train counts (broadcast back),
    * one pass over test rows into ≤10 decile groups — two
    * map-side-combinable aggregates and a bin-sized broadcast join; no
    * row-level sort anywhere. */
  private def calibration(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.lineitem(spark, dir).select(
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000")
        .as("bin"),
      (col("l_returnflag") === "R").cast("long").as("y"),
      (col("l_orderkey") % 5 === 0).as("is_test"))
    val train = rows.where(!col("is_test")).groupBy("bin")
      .agg(count(lit(1)).as("n_tr"), sum("y").as("k_tr"))
      .withColumn("p_micro", expr("(1000000 * k_tr) div n_tr"))
    val prior = rows.where(!col("is_test"))
      .agg(expr("(1000000 * sum(y)) div count(1)").as("p0_micro"))
    val test = rows.where(col("is_test"))
      .join(broadcast(train.select("bin", "p_micro")), Seq("bin"), "left")
      .crossJoin(broadcast(prior))
      .withColumn("pred", coalesce(col("p_micro"), col("p0_micro")))
      .withColumn("bucket", expr("pred div 10000"))
    test.groupBy("bucket")
      .agg(count(lit(1)).as("n_test"), sum("pred").as("sum_pred"),
        sum("y").as("k_test"))
      .select(col("bucket"), col("n_test"),
        expr("sum_pred div n_test").as("mean_pred_micro"),
        expr("(1000000 * k_test) div n_test").as("obs_micro"),
        expr("(1000000 * k_test) div n_test - sum_pred div n_test")
          .as("gap_micro"))
      .orderBy("bucket")
  }

  /** q266: WEIGHT-OF-EVIDENCE ENCODING + INFORMATION VALUE — the
    * risk-modeling categorical encoder (Siddiqi, credit-scorecard
    * canon) next to hashing (q178): per category c of the order
    * priority, WOE_c = ln(P(c|good)/P(c|bad)) with add-one smoothing
    * (G' = G + |cats|, B' = B + |cats| keep the distributions
    * normalized after the pseudo-counts), and the feature's total
    * predictive power IV = Σ_c (P(c|good) − P(c|bad))·WOE_c. The ln
    * appears only at WOE quantization (micro-nats of a
    * ratio-of-exact-int-products — the q247/q264 contract); the class
    * distributions are micro-unit truncating ratios and every IV term
    * is the exact integer product (dg−db)·woe, published in
    * pico-units (micro×micro) so NOTHING is re-divided.
    *
    * Scale shape: one map-side-combinable count per (category, class) —
    * the encoder table is category-sized; at 100 TB this is the same
    * one-pass profile shape as q257. */
  private def woeEncoding(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("cat"),
        (col("l_returnflag") === "R").cast("long").as("y"))
    val cc = base.groupBy("cat")
      .agg((count(lit(1)) - sum("y")).as("good"), sum("y").as("bad"))
    val tot = cc.agg(sum("good").as("g"), sum("bad").as("b"),
      count(lit(1)).as("ncat"))
    cc.crossJoin(broadcast(tot))
      .withColumn("dg_micro",
        expr("(1000000 * (good + 1)) div (g + ncat)"))
      .withColumn("db_micro",
        expr("(1000000 * (bad + 1)) div (b + ncat)"))
      .withColumn("woe_micro",
        expr("CAST(round(ln(CAST((good + 1) * (b + ncat) AS DOUBLE) " +
          "/ CAST((bad + 1) * (g + ncat) AS DOUBLE)) * 1e6) AS BIGINT)"))
      .select(col("cat"), col("good"), col("bad"),
        col("dg_micro"), col("db_micro"), col("woe_micro"),
        ((col("dg_micro") - col("db_micro")) * col("woe_micro"))
          .as("iv_term_pico"))
      .orderBy("cat")
  }

  /** q268: EMPIRICAL-BAYES RATE SHRINKAGE (m-estimate / beta-binomial
    * with a declared prior strength, Mitchell's m-estimate; the
    * "smoothed CTR" encoder every ranking pipeline uses for sparse
    * categories): per brand, the raw return rate is shrunk toward the
    * global prior with pseudo-count m = 20 —
    * eb = (k + m·p₀)/(n + m), computed as ONE truncating division of
    * exact integers, eb_micro = (10⁶·k + m·p₀_micro) div (n + m), so
    * small-n brands move hard toward the prior and large-n brands
    * barely move (the shrink_micro column shows exactly how much,
    * signed). Companion encoder to WOE (q266): WOE is the log-odds
    * view, this is the posterior-mean view.
    *
    * Scale shape: one map-side-combinable count per brand + a 1-row
    * prior broadcast onto the brand-sized frame — the q257 one-pass
    * profile shape. */
  private def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_returnflag") === "R").cast("long").as("y"))
    val cc = base.groupBy("brand")
      .agg(count(lit(1)).as("n"), sum("y").as("k"))
    val prior = base.agg(
      expr("(1000000 * sum(y)) div count(1)").as("p0_micro"))
    cc.crossJoin(broadcast(prior))
      .select(col("brand"), col("n"), col("k"), col("p0_micro"),
        expr("(1000000 * k) div n").as("raw_micro"),
        expr("(1000000 * k + 20 * p0_micro) div (n + 20)").as("eb_micro"))
      .withColumn("shrink_micro", col("eb_micro") - col("raw_micro"))
      .orderBy("brand")
  }

  /** q288: LOGISTIC-REGRESSION training through the oracle — the
    * gradient-descent family joining the exactly-replayable trainers
    * (q240 tree, q247 NB, q251 AdaBoost, q254 ranking). Three
    * full-batch GD steps over (intercept, scaled order value,
    * weekday-of-key) predicting URGENT priority, in EXACT micro-unit
    * integer arithmetic end to end: the sigmoid is the fast/rational
    * form σ(z) ≈ ½ + z/(2(1+|z|)) — rational, hence exact under
    * integer micro quantization on both engines, where true exp()
    * differs across libm implementations in ulps that a hash compare
    * would amplify (the honest substitution, stated, not hidden; GD on
    * the fast sigmoid is still a proper monotone-link M-estimator).
    * Per step ONE aggregation job yields the three gradient sums
    * (decimal-widened — err·x is bounded but row counts are not) and
    * the pre-update accuracy; weights update driver-side at lr = ½.
    * The oracle unrolls all three steps: scores, rational sigmoid,
    * gradient rollups in HUGEINT, weight updates — same truncating
    * divisions throughout.
    *
    * Scale shape: the model is 3 driver longs; each step is one
    * map-side-combinable aggregate over a pure projection — the
    * classic distributed-GD shape (jobs = steps, state = weights). */
  private def logisticGd(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(
      when(col("o_orderpriority") === "1-URGENT", 1000000L).otherwise(0L)
        .as("ym"),
      lit(1000000L).as("x0"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 10").as("x1"),
      expr("(o_orderkey % 7) * 142857").as("x2"))
    var w = Array(0L, 0L, 0L)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    for (step <- 1 to 3) {
      val scored = base
        .withColumn("z", lit(w(0)) + expr(s"(${w(1)}L * x1) DIV 1000000")
          + expr(s"(${w(2)}L * x2) DIV 1000000"))
        .withColumn("p", expr(
          "500000 + (500000 * z) DIV (2 * (1000000 + abs(z)))"))
        .withColumn("err", col("p") - col("ym"))
      val r = scored.agg(
        count(lit(1)).as("n"),
        sum((col("err") * col("x0")).cast("decimal(38,0)")).as("s0"),
        sum((col("err") * col("x1")).cast("decimal(38,0)")).as("s1"),
        sum((col("err") * col("x2")).cast("decimal(38,0)")).as("s2"),
        sum(when((col("p") >= 500000L) === (col("ym") === 1000000L), 1L)
          .otherwise(0L)).as("hits"))
        .select(col("n"),
          expr("CAST(s0 DIV (1000000 * n) AS BIGINT)").as("g0"),
          expr("CAST(s1 DIV (1000000 * n) AS BIGINT)").as("g1"),
          expr("CAST(s2 DIV (1000000 * n) AS BIGINT)").as("g2"),
          expr("(1000000 * hits) DIV n").as("acc"))
        .collect()(0)
      val (g0, g1, g2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val acc = r.getLong(4)
      w = Array(w(0) - (500000L * g0) / 1000000L,
        w(1) - (500000L * g1) / 1000000L,
        w(2) - (500000L * g2) / 1000000L)
      out += ((step.toLong, g0, g1, g2, acc, w(0), w(1), w(2), r.getLong(0)))
    }
    import spark.implicits._
    out.toSeq.toDF("step", "g0_micro", "g1_micro", "g2_micro",
      "acc_before_micro", "w0_micro", "w1_micro", "w2_micro", "n")
  }

  /** q288 oracle: the three GD steps unrolled — per step the scored
    * frame under the previous weights, the rational sigmoid, HUGEINT
    * gradient rollups, and the lr=½ weight update, all with the same
    * truncating integer divisions. */
  private def logisticGdOracle: String = {
    val steps = (1 to 3).map { k =>
      val pw = s"w${k - 1}"
      s"""p$k AS (
         |  SELECT ym, x0, x1, x2,
         |         500000 + (500000 * z) // (2 * (1000000 + abs(z))) AS p
         |  FROM (SELECT b.*, w.w0 + (w.w1 * b.x1) // 1000000
         |               + (w.w2 * b.x2) // 1000000 AS z
         |        FROM base b, $pw w)),
         |r$k AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         sum(CAST((p - ym) * x0 AS HUGEINT)) AS s0,
         |         sum(CAST((p - ym) * x1 AS HUGEINT)) AS s1,
         |         sum(CAST((p - ym) * x2 AS HUGEINT)) AS s2,
         |         CAST(sum(CASE WHEN (p >= 500000) = (ym = 1000000)
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM p$k),
         |g$k AS (
         |  SELECT n, CAST(s0 // (1000000 * n) AS BIGINT) AS g0,
         |         CAST(s1 // (1000000 * n) AS BIGINT) AS g1,
         |         CAST(s2 // (1000000 * n) AS BIGINT) AS g2,
         |         CAST((1000000 * hits) // n AS BIGINT) AS acc
         |  FROM r$k),
         |w$k AS (
         |  SELECT w.w0 - (500000 * g.g0) // 1000000 AS w0,
         |         w.w1 - (500000 * g.g1) // 1000000 AS w1,
         |         w.w2 - (500000 * g.g2) // 1000000 AS w2
         |  FROM $pw w, g$k g)""".stripMargin
    }
    val outs = (1 to 3).map { k =>
      s"""SELECT $k AS step, g.g0 AS g0_micro, g.g1 AS g1_micro,
         |  g.g2 AS g2_micro, g.acc AS acc_before_micro,
         |  w.w0 AS w0_micro, w.w1 AS w1_micro, w.w2 AS w2_micro, g.n
         |FROM g$k g, w$k w""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
       |              THEN 1000000 ELSE 0 END AS ym,
       |         1000000 AS x0,
       |         CAST(round(o_totalprice * 100) AS BIGINT) // 10 AS x1,
       |         (o_orderkey % 7) * 142857 AS x2
       |  FROM orders),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |              CAST(0 AS BIGINT) AS w2),
       |${steps.mkString(",\n")}
       |${outs.mkString("\nUNION ALL\n")}
       |ORDER BY step""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q288_logistic_gd" -> logisticGd,
    "q178_feature_hashing" -> featureHashing,
    "q256_roc_auc" -> rocAuc,
    "q258_chi2_feature_rank" -> chi2FeatureRank,
    "q263_calibration" -> calibration,
    "q266_woe_encoding" -> woeEncoding,
    "q268_eb_shrinkage" -> ebShrinkage,
    "q247_naive_bayes" -> naiveBayes,
    "q46_rf_accuracy" -> rfAccuracy,
    "q63_training_base_rate" -> trainingBaseRate,
    "q64_streaming_inference" -> streamingInference,
    "q71_global_rf" -> globalRf,
    "q235_cv_folds" -> cvFolds,
    "q236_cv_accuracy" -> cvAccuracy,
    "q240_decision_stump" -> decisionStump,
    "q251_adaboost_stumps" -> adaboostStumps,
    "q254_feature_ranking" -> featureRanking
  )

  override def oracles: Map[String, String] = Map(
    "q288_logistic_gd" -> logisticGdOracle,
    // Brand counts, the prior, and the single-truncating-division
    // posterior mean replayed.
    "q268_eb_shrinkage" ->
      """WITH base AS (
        |  SELECT p_brand AS brand,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |cc AS (
        |  SELECT brand, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS k
        |  FROM base GROUP BY 1),
        |prior AS (
        |  SELECT CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p0_micro
        |  FROM base)
        |SELECT brand, n, k, p0_micro,
        |       (1000000 * k) // n AS raw_micro,
        |       (1000000 * k + 20 * p0_micro) // (n + 20) AS eb_micro,
        |       (1000000 * k + 20 * p0_micro) // (n + 20)
        |         - (1000000 * k) // n AS shrink_micro
        |FROM cc CROSS JOIN prior ORDER BY brand""".stripMargin,
    // Class counts, smoothed distributions, quantized WOE and the exact
    // integer IV terms replayed.
    "q266_woe_encoding" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS cat,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cc AS (
        |  SELECT cat, CAST(count(*) - sum(y) AS BIGINT) AS good,
        |         CAST(sum(y) AS BIGINT) AS bad
        |  FROM base GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(good) AS BIGINT) AS g,
        |         CAST(sum(bad) AS BIGINT) AS b,
        |         CAST(count(*) AS BIGINT) AS ncat
        |  FROM cc),
        |e AS (
        |  SELECT cat, good, bad,
        |         (1000000 * (good + 1)) // (g + ncat) AS dg_micro,
        |         (1000000 * (bad + 1)) // (b + ncat) AS db_micro,
        |         CAST(round(ln(CAST((good + 1) * (b + ncat) AS DOUBLE)
        |                       / CAST((bad + 1) * (g + ncat) AS DOUBLE))
        |                    * 1e6) AS BIGINT) AS woe_micro
        |  FROM cc CROSS JOIN tot)
        |SELECT cat, good, bad, dg_micro, db_micro, woe_micro,
        |       (dg_micro - db_micro) * woe_micro AS iv_term_pico
        |FROM e ORDER BY cat""".stripMargin,
    // Train-split frequencies, the prior fallback, decile routing and
    // every per-bucket aggregate replayed in exact integers.
    "q263_calibration" ->
      """WITH rows_ AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
        |           AS bin,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |         l_orderkey % 5 = 0 AS is_test
        |  FROM lineitem),
        |train AS (
        |  SELECT bin,
        |         CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p_micro
        |  FROM rows_ WHERE NOT is_test GROUP BY 1),
        |prior AS (
        |  SELECT CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p0_micro
        |  FROM rows_ WHERE NOT is_test),
        |test AS (
        |  SELECT coalesce(p_micro, p0_micro) // 10000 AS bucket,
        |         coalesce(p_micro, p0_micro) AS pred, y
        |  FROM rows_ LEFT JOIN train USING (bin) CROSS JOIN prior
        |  WHERE is_test)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(sum(pred) // count(*) AS BIGINT) AS mean_pred_micro,
        |       CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS obs_micro,
        |       CAST((1000000 * sum(y)) // count(*)
        |         - sum(pred) // count(*) AS BIGINT) AS gap_micro
        |FROM test GROUP BY 1 ORDER BY 1""".stripMargin,
    // The full marginal-product grid (zero cells included), dev, the
    // HUGEINT-widened χ² terms, per-feature sums and the rank replayed.
    "q258_chi2_feature_rank" ->
      """WITH enriched AS MATERIALIZED (
        |  SELECT o_orderpriority, p_brand, l_linestatus,
        |         CAST(l_returnflag = 'R' AS INT) AS y
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |                JOIN part ON l_partkey = p_partkey),
        |base AS (
        |  SELECT 'priority' AS feature, o_orderpriority AS fval, y
        |  FROM enriched
        |  UNION ALL
        |  SELECT 'brand', p_brand, y FROM enriched
        |  UNION ALL
        |  SELECT 'linestatus', l_linestatus, y FROM enriched),
        |cells AS (SELECT feature, fval, y, CAST(count(*) AS BIGINT) AS o
        |          FROM base GROUP BY 1, 2, 3),
        |rmarg AS (SELECT feature, fval, CAST(count(*) AS BIGINT) AS r
        |          FROM base GROUP BY 1, 2),
        |cmarg AS (SELECT feature, y, CAST(count(*) AS BIGINT) AS c
        |          FROM base GROUP BY 1, 2),
        |ntot AS (SELECT feature, CAST(count(*) AS BIGINT) AS n
        |         FROM base GROUP BY 1),
        |grid AS (
        |  SELECT rm.feature, rm.fval, cm.y, rm.r, cm.c, nt.n,
        |         coalesce(ce.o, 0) * nt.n - rm.r * cm.c AS dev
        |  FROM rmarg rm
        |  JOIN cmarg cm ON cm.feature = rm.feature
        |  JOIN ntot nt ON nt.feature = rm.feature
        |  LEFT JOIN cells ce ON ce.feature = rm.feature
        |    AND ce.fval = rm.fval AND ce.y = cm.y),
        |terms AS (
        |  SELECT feature, fval, y, r, c, n, dev,
        |         (CAST(1000000 AS HUGEINT) * dev * dev) // (r * c * n)
        |           AS term_micro
        |  FROM grid),
        |sel AS (
        |  SELECT feature, CAST(count(*) AS BIGINT) AS n_cells,
        |         CAST((count(DISTINCT fval) - 1)
        |           * (count(DISTINCT y) - 1) AS BIGINT) AS dof,
        |         CAST(sum(term_micro) AS BIGINT) AS chi2_micro
        |  FROM terms GROUP BY 1)
        |SELECT feature, n_cells, dof, chi2_micro,
        |       CAST(row_number() OVER (ORDER BY chi2_micro DESC, feature)
        |         AS INT) AS rank
        |FROM sel ORDER BY rank""".stripMargin,
    // Score bins, the below-bin negative cumsum, both pair counts and
    // the micro-unit ratio replayed; `//` on positive BIGINTs truncates
    // exactly like Spark's `div`.
    "q256_roc_auc" ->
      """WITH s AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
        |           AS score,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT score, CAST(sum(y) AS BIGINT) AS pos,
        |         CAST(count(*) - sum(y) AS BIGINT) AS neg
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT score, pos, neg,
        |         coalesce(sum(neg) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS cneg
        |  FROM g),
        |t AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |         CAST(sum(neg) AS BIGINT) AS n_neg,
        |         CAST(count(*) AS BIGINT) AS n_bins,
        |         CAST(sum(pos * cneg) AS BIGINT) AS pairs_won,
        |         CAST(sum(pos * neg) AS BIGINT) AS tied_pairs
        |  FROM c)
        |SELECT n_pos, n_neg, n_bins, pairs_won, tied_pairs,
        |       (1000000 * (2 * pairs_won + tied_pairs))
        |         // (2 * n_pos * n_neg) AS auc_micro
        |FROM t""".stripMargin,
    // The FULL NB training loop replayed: vocabulary gate, per-(lang,
    // word) counts, micro-nat quantized Laplace weights and priors
    // (round(ln(ratio-of-exact-ints) * 1e6) — the q165/q170 cross-engine
    // ln contract, quantized at the MODEL level so scoring stays exact
    // integer), per-doc score sums, and the argmax with its tie-break.
    "q247_naive_bayes" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        |  FROM documents),
        |dw AS (SELECT * FROM toks WHERE word <> ''),
        |vocab AS (
        |  SELECT word FROM dw WHERE doc_id % 5 <> 0
        |  GROUP BY word HAVING count(*) >= 5),
        |tv AS (
        |  SELECT dw.lang, dw.word FROM dw JOIN vocab USING (word)
        |  WHERE dw.doc_id % 5 <> 0),
        |clw AS (SELECT lang, word, count(*) AS c_lw FROM tv GROUP BY 1, 2),
        |ls AS (SELECT lang, count(*) AS c_l FROM tv GROUP BY 1),
        |pri AS (
        |  SELECT lang, count(*) AS n_l FROM documents
        |  WHERE doc_id % 5 <> 0 GROUP BY 1),
        |consts AS (
        |  SELECT (SELECT count(*) FROM vocab) AS v,
        |         (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0)
        |           AS n_train),
        |stats AS (
        |  SELECT ls.lang AS cand, ls.c_l, consts.v,
        |         CAST(round(ln(CAST(pri.n_l AS DOUBLE)
        |                       / CAST(consts.n_train AS DOUBLE)) * 1e6)
        |              AS BIGINT) AS prior_micro
        |  FROM ls JOIN pri ON ls.lang = pri.lang CROSS JOIN consts),
        |tdw AS (
        |  SELECT dw.doc_id, dw.word, count(*) AS cnt
        |  FROM dw JOIN vocab USING (word)
        |  WHERE dw.doc_id % 5 = 0 GROUP BY 1, 2),
        |ws AS (
        |  SELECT tdw.doc_id, stats.cand,
        |         CAST(sum(tdw.cnt *
        |           CAST(round(ln(CAST(COALESCE(clw.c_lw, 0) + 1 AS DOUBLE)
        |                         / CAST(stats.c_l + stats.v AS DOUBLE)) * 1e6)
        |                AS BIGINT)) AS BIGINT) AS s_words
        |  FROM tdw CROSS JOIN stats
        |  LEFT JOIN clw ON clw.lang = stats.cand AND clw.word = tdw.word
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.doc_id, d.lang, stats.cand,
        |         stats.prior_micro + COALESCE(ws.s_words, 0) AS score
        |  FROM documents d CROSS JOIN stats
        |  LEFT JOIN ws ON ws.doc_id = d.doc_id AND ws.cand = stats.cand
        |  WHERE d.doc_id % 5 = 0),
        |p AS (
        |  SELECT doc_id, lang, cand, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, cand ASC) AS rn
        |  FROM sc)
        |SELECT lang AS true_lang, cand AS pred_lang,
        |       count(*) AS n_docs, CAST(sum(score) AS BIGINT) AS sum_score
        |FROM p WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // FNV-1a64 replayed in SQL over the same namespaced feature strings
    // (ASCII corpus: unicode(c) == UTF-8 byte; HUGEINT mod-2^64
    // wraparound) — the q39 discipline. pmod(signed, 64) == unsigned
    // low-6-bits because 64 is a power of two.
    "q178_feature_hashing" ->
      """WITH f AS (
        |  SELECT unnest([concat('brand=', p_brand),
        |                 concat('type=', p_type)]) AS feat
        |  FROM part),
        |h AS (
        |  SELECT feat,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |             list_transform(regexp_split_to_array(feat, ''),
        |                            c -> CAST(unicode(c) AS UBIGINT))),
        |           (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
        |                          % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM f)
        |SELECT CAST(hv % 64 AS BIGINT) AS bucket,
        |       count(*) AS n_rows,
        |       count(DISTINCT feat) AS n_feats
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,
    // fold membership replayed: identical bar construction (the q63
    // twin), identical md5 preimage 'fold:symbol:user:day', identical
    // single-hex fold boundaries — lowercase hex on both engines
    "q235_cv_folds" ->
      """WITH bars AS (
        |  SELECT event_type AS symbol, user_id,
        |         strftime(ts, '%Y-%m-%d') AS day,
        |         arg_min(value, event_id) AS open,
        |         arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT symbol, close > open AS up,
        |         md5(concat_ws(':', 'fold', symbol,
        |                       CAST(user_id AS VARCHAR), day)) AS k
        |  FROM bars)
        |SELECT CASE WHEN k < '4' THEN 0 WHEN k < '8' THEN 1
        |            WHEN k < 'c' THEN 2 ELSE 3 END AS fold,
        |       count(*) AS n_obs,
        |       CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |       count(DISTINCT symbol) AS n_symbols,
        |       min(k) AS min_hash
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the depth-2 tree replayed END TO END: same bars + md5 folds, same
    // integer-cents quantization, same division-free Gini cost
    // k_L(n_L−k_L)n_R + k_R(n_R−k_R)n_L with the (cost, feat, v) total
    // order, same per-side child selection, same majority-vote leaves
    // with the no-valid-split side fallback, same holdout scoring.
    // DuckDB sums are HUGEINT — every output column CASTs to BIGINT.
    // The q240 candidate table with a per-feature argmin window, then
    // the cross-feature cost ordering; HUGEINT window sums vs Spark's
    // int64 costs are the same exact integers.
    "q254_feature_ranking" ->
      """WITH bars AS MATERIALIZED (
        |  SELECT event_type AS symbol, user_id,
        |         strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(round(arg_min(value, event_id) * 100) AS BIGINT) AS oc,
        |         CAST(round(max(value) * 100) AS BIGINT) AS hc,
        |         CAST(round(min(value) * 100) AS BIGINT) AS lc,
        |         CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS cc,
        |         count(*) AS vol,
        |         CASE WHEN arg_max(value, event_id) > arg_min(value, event_id)
        |              THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1, 2, 3),
        |train AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y
        |  FROM (SELECT *, md5(concat_ws(':', 'fold', symbol,
        |                      CAST(user_id AS VARCHAR), day)) AS fk
        |        FROM bars)
        |  WHERE fk >= '4'),
        |tlong AS MATERIALIZED (
        |  SELECT 'close' AS feat, cc AS v, y FROM train UNION ALL
        |  SELECT 'high', hc, y FROM train UNION ALL
        |  SELECT 'low', lc, y FROM train UNION ALL
        |  SELECT 'open', oc, y FROM train UNION ALL
        |  SELECT 'volume', vol, y FROM train),
        |cum AS MATERIALIZED (
        |  SELECT feat, v,
        |         sum(n) OVER (PARTITION BY feat ORDER BY v) AS nl,
        |         sum(k) OVER (PARTITION BY feat ORDER BY v) AS kl,
        |         sum(n) OVER (PARTITION BY feat) AS nn,
        |         sum(k) OVER (PARTITION BY feat) AS kk
        |  FROM (SELECT feat, v, count(*) AS n, sum(y) AS k
        |        FROM tlong GROUP BY 1, 2)),
        |costed AS (
        |  SELECT feat, v, nl, kl, nn, kk,
        |         kl*(nl-kl)*(nn-nl) + (kk-kl)*((nn-nl)-(kk-kl))*nl AS cost
        |  FROM cum WHERE nl < nn),
        |best AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY feat ORDER BY cost, v) AS rn
        |  FROM costed)
        |SELECT row_number() OVER (ORDER BY cost, feat) AS feat_rank,
        |       feat, v AS best_thr,
        |       CAST(nl AS BIGINT) AS nl, CAST(kl AS BIGINT) AS kl,
        |       CAST(nn AS BIGINT) AS nn, CAST(kk AS BIGINT) AS kk,
        |       CAST(cost AS BIGINT) AS cost
        |FROM best WHERE rn = 1 ORDER BY feat_rank""".stripMargin,
    // BOTH boosting rounds replayed: the q240 root argmin, h1's error
    // split, the integer reweighting (mis→c1, cor→e1), the weighted
    // Gini argmin in HUGEINT (Spark: decimal(38,0) — same exact
    // integers), the weighted error mass E2, the cross-multiplied
    // α-comparison, and the committee's held-out score.
    "q251_adaboost_stumps" ->
      """WITH bars AS MATERIALIZED (
        |  SELECT event_type AS symbol, user_id,
        |         strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(round(arg_min(value, event_id) * 100) AS BIGINT) AS oc,
        |         CAST(round(max(value) * 100) AS BIGINT) AS hc,
        |         CAST(round(min(value) * 100) AS BIGINT) AS lc,
        |         CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS cc,
        |         count(*) AS vol,
        |         CASE WHEN arg_max(value, event_id) > arg_min(value, event_id)
        |              THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1, 2, 3),
        |folded AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y,
        |         CASE WHEN k < '4' THEN 0 WHEN k < '8' THEN 1
        |              WHEN k < 'c' THEN 2 ELSE 3 END AS fold
        |  FROM (SELECT *, md5(concat_ws(':', 'fold', symbol,
        |                      CAST(user_id AS VARCHAR), day)) AS k
        |        FROM bars)),
        |train AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y FROM folded WHERE fold != 0),
        |test AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y FROM folded WHERE fold = 0),
        |tlong AS MATERIALIZED (
        |  SELECT 'close' AS feat, cc AS v, y FROM train UNION ALL
        |  SELECT 'high', hc, y FROM train UNION ALL
        |  SELECT 'low', lc, y FROM train UNION ALL
        |  SELECT 'open', oc, y FROM train UNION ALL
        |  SELECT 'volume', vol, y FROM train),
        |cum AS MATERIALIZED (
        |  SELECT feat, v,
        |         sum(n) OVER (PARTITION BY feat ORDER BY v) AS nl,
        |         sum(k) OVER (PARTITION BY feat ORDER BY v) AS kl,
        |         sum(n) OVER (PARTITION BY feat) AS nn,
        |         sum(k) OVER (PARTITION BY feat) AS kk
        |  FROM (SELECT feat, v, count(*) AS n, sum(y) AS k
        |        FROM tlong GROUP BY 1, 2)),
        |h1 AS MATERIALIZED (
        |  SELECT feat AS f1, v AS t1,
        |         CASE WHEN 2*kl > nl THEN 1 ELSE 0 END AS p1l,
        |         CASE WHEN 2*(kk-kl) > (nn-nl) THEN 1 ELSE 0 END AS p1r
        |  FROM cum WHERE nl < nn
        |  ORDER BY kl*(nl-kl)*(nn-nl) + (kk-kl)*((nn-nl)-(kk-kl))*nl,
        |           feat, v
        |  LIMIT 1),
        |t1p AS MATERIALIZED (
        |  SELECT train.*,
        |         CASE WHEN (CASE f1 WHEN 'close' THEN cc WHEN 'high' THEN hc
        |                    WHEN 'low' THEN lc WHEN 'open' THEN oc
        |                    ELSE vol END) <= t1
        |              THEN p1l ELSE p1r END AS h1
        |  FROM train, h1),
        |errs AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN h1 <> y THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |         CAST(sum(CASE WHEN h1 = y THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM t1p),
        |wtd AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y,
        |         CAST(CASE WHEN h1 <> y THEN c1 ELSE e1 END AS BIGINT) AS w,
        |         CAST(CASE WHEN h1 <> y THEN c1 ELSE e1 END * y AS BIGINT) AS wy
        |  FROM t1p, errs),
        |wlong AS MATERIALIZED (
        |  SELECT 'close' AS feat, cc AS v, w, wy FROM wtd UNION ALL
        |  SELECT 'high', hc, w, wy FROM wtd UNION ALL
        |  SELECT 'low', lc, w, wy FROM wtd UNION ALL
        |  SELECT 'open', oc, w, wy FROM wtd UNION ALL
        |  SELECT 'volume', vol, w, wy FROM wtd),
        |wcum AS MATERIALIZED (
        |  SELECT feat, v,
        |         CAST(sum(n) OVER (PARTITION BY feat ORDER BY v) AS BIGINT) AS nl,
        |         CAST(sum(k) OVER (PARTITION BY feat ORDER BY v) AS BIGINT) AS kl,
        |         CAST(sum(n) OVER (PARTITION BY feat) AS BIGINT) AS nn,
        |         CAST(sum(k) OVER (PARTITION BY feat) AS BIGINT) AS kk
        |  FROM (SELECT feat, v, CAST(sum(w) AS BIGINT) AS n,
        |               CAST(sum(wy) AS BIGINT) AS k
        |        FROM wlong GROUP BY 1, 2)),
        |h2 AS MATERIALIZED (
        |  SELECT feat AS f2, v AS t2,
        |         CASE WHEN 2*kl > nl THEN 1 ELSE 0 END AS p2l,
        |         CASE WHEN 2*(kk-kl) > (nn-nl) THEN 1 ELSE 0 END AS p2r,
        |         nn AS w_tot
        |  FROM wcum WHERE nl < nn
        |  ORDER BY CAST(kl AS HUGEINT)*(nl-kl)*(nn-nl)
        |             + CAST(kk-kl AS HUGEINT)*((nn-nl)-(kk-kl))*nl,
        |           feat, v
        |  LIMIT 1),
        |e2 AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN
        |           (CASE WHEN (CASE f2 WHEN 'close' THEN cc
        |                       WHEN 'high' THEN hc WHEN 'low' THEN lc
        |                       WHEN 'open' THEN oc ELSE vol END) <= t2
        |                 THEN p2l ELSE p2r END) <> y
        |           THEN w ELSE 0 END) AS BIGINT) AS e2w
        |  FROM wtd, h2),
        |model AS MATERIALIZED (
        |  SELECT f1, t1, p1l, p1r, e1, c1, f2, t2, p2l, p2r, e2w, w_tot,
        |         CASE WHEN e1 * (w_tot - e2w) > c1 * e2w
        |              THEN 1 ELSE 0 END AS use2
        |  FROM h1, errs, h2, e2),
        |sc AS MATERIALIZED (
        |  SELECT y,
        |         CASE WHEN (CASE f1 WHEN 'close' THEN cc WHEN 'high' THEN hc
        |                    WHEN 'low' THEN lc WHEN 'open' THEN oc
        |                    ELSE vol END) <= t1
        |              THEN p1l ELSE p1r END AS h1v,
        |         CASE WHEN (CASE f2 WHEN 'close' THEN cc WHEN 'high' THEN hc
        |                    WHEN 'low' THEN lc WHEN 'open' THEN oc
        |                    ELSE vol END) <= t2
        |              THEN p2l ELSE p2r END AS h2v,
        |         use2
        |  FROM test, model),
        |acc AS (
        |  SELECT count(*) AS n_test,
        |         CAST(sum(CASE WHEN h1v = y THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_correct_h1,
        |         CAST(sum(CASE WHEN
        |           (CASE WHEN h1v = h2v THEN h1v
        |                 WHEN use2 = 1 THEN h2v ELSE h1v END) = y
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_boost
        |  FROM sc)
        |SELECT f1, t1, CAST(p1l AS BIGINT) AS p1l, CAST(p1r AS BIGINT) AS p1r,
        |       e1, c1, f2, t2,
        |       CAST(p2l AS BIGINT) AS p2l, CAST(p2r AS BIGINT) AS p2r,
        |       e2w, w_tot, CAST(use2 AS BIGINT) AS use2,
        |       n_test, n_correct_h1, n_correct_boost
        |FROM model, acc""".stripMargin,
    "q240_decision_stump" ->
      """WITH bars AS MATERIALIZED (
        |  SELECT event_type AS symbol, user_id,
        |         strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(round(arg_min(value, event_id) * 100) AS BIGINT) AS oc,
        |         CAST(round(max(value) * 100) AS BIGINT) AS hc,
        |         CAST(round(min(value) * 100) AS BIGINT) AS lc,
        |         CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS cc,
        |         count(*) AS vol,
        |         CASE WHEN arg_max(value, event_id) > arg_min(value, event_id)
        |              THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1, 2, 3),
        |folded AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y,
        |         CASE WHEN k < '4' THEN 0 WHEN k < '8' THEN 1
        |              WHEN k < 'c' THEN 2 ELSE 3 END AS fold
        |  FROM (SELECT *, md5(concat_ws(':', 'fold', symbol,
        |                      CAST(user_id AS VARCHAR), day)) AS k
        |        FROM bars)),
        |train AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y FROM folded WHERE fold != 0),
        |test AS MATERIALIZED (
        |  SELECT oc, hc, lc, cc, vol, y FROM folded WHERE fold = 0),
        |tlong AS MATERIALIZED (
        |  SELECT 'close' AS feat, cc AS v, y FROM train UNION ALL
        |  SELECT 'high', hc, y FROM train UNION ALL
        |  SELECT 'low', lc, y FROM train UNION ALL
        |  SELECT 'open', oc, y FROM train UNION ALL
        |  SELECT 'volume', vol, y FROM train),
        |cum AS MATERIALIZED (
        |  SELECT feat, v,
        |         sum(n) OVER (PARTITION BY feat ORDER BY v) AS nl,
        |         sum(k) OVER (PARTITION BY feat ORDER BY v) AS kl,
        |         sum(n) OVER (PARTITION BY feat) AS nn,
        |         sum(k) OVER (PARTITION BY feat) AS kk
        |  FROM (SELECT feat, v, count(*) AS n, sum(y) AS k
        |        FROM tlong GROUP BY 1, 2)),
        |root AS MATERIALIZED (
        |  SELECT feat AS root_feat, v AS root_thr,
        |         nl AS n_l, kl AS k_l, nn AS n_train, kk AS k_train
        |  FROM cum WHERE nl < nn
        |  ORDER BY kl*(nl-kl)*(nn-nl) + (kk-kl)*((nn-nl)-(kk-kl))*nl,
        |           feat, v
        |  LIMIT 1),
        |sided AS MATERIALIZED (
        |  SELECT CASE WHEN (CASE root_feat WHEN 'close' THEN cc
        |                    WHEN 'high' THEN hc WHEN 'low' THEN lc
        |                    WHEN 'open' THEN oc ELSE vol END) <= root_thr
        |              THEN 'L' ELSE 'R' END AS side,
        |         oc, hc, lc, cc, vol, y
        |  FROM train, root),
        |slong AS MATERIALIZED (
        |  SELECT side, 'close' AS feat, cc AS v, y FROM sided UNION ALL
        |  SELECT side, 'high', hc, y FROM sided UNION ALL
        |  SELECT side, 'low', lc, y FROM sided UNION ALL
        |  SELECT side, 'open', oc, y FROM sided UNION ALL
        |  SELECT side, 'volume', vol, y FROM sided),
        |scum AS MATERIALIZED (
        |  SELECT side, feat, v,
        |         sum(n) OVER (PARTITION BY side, feat ORDER BY v) AS nl,
        |         sum(k) OVER (PARTITION BY side, feat ORDER BY v) AS kl,
        |         sum(n) OVER (PARTITION BY side, feat) AS nn,
        |         sum(k) OVER (PARTITION BY side, feat) AS kk
        |  FROM (SELECT side, feat, v, count(*) AS n, sum(y) AS k
        |        FROM slong GROUP BY 1, 2, 3)),
        |child AS MATERIALIZED (
        |  SELECT side, feat AS c_feat, v AS c_thr,
        |         nl AS c_nl, kl AS c_kl, nn AS c_n, kk AS c_k
        |  FROM scum WHERE nl < nn
        |  QUALIFY row_number() OVER (PARTITION BY side
        |    ORDER BY kl*(nl-kl)*(nn-nl) + (kk-kl)*((nn-nl)-(kk-kl))*nl,
        |             feat, v) = 1),
        |stest AS MATERIALIZED (
        |  SELECT CASE WHEN (CASE root_feat WHEN 'close' THEN cc
        |                    WHEN 'high' THEN hc WHEN 'low' THEN lc
        |                    WHEN 'open' THEN oc ELSE vol END) <= root_thr
        |              THEN 'L' ELSE 'R' END AS side,
        |         oc, hc, lc, cc, vol, y
        |  FROM test, root),
        |scored AS MATERIALIZED (
        |  SELECT s.y,
        |         CASE WHEN c.c_feat IS NULL THEN
        |           CASE WHEN s.side = 'L'
        |                THEN CASE WHEN 2*r.k_l > r.n_l THEN 1 ELSE 0 END
        |                ELSE CASE WHEN 2*(r.k_train-r.k_l) >
        |                               (r.n_train-r.n_l)
        |                          THEN 1 ELSE 0 END END
        |         ELSE
        |           CASE WHEN (CASE c.c_feat WHEN 'close' THEN s.cc
        |                      WHEN 'high' THEN s.hc WHEN 'low' THEN s.lc
        |                      WHEN 'open' THEN s.oc ELSE s.vol END)
        |                     <= c.c_thr
        |                THEN CASE WHEN 2*c.c_kl > c.c_nl THEN 1 ELSE 0 END
        |                ELSE CASE WHEN 2*(c.c_k-c.c_kl) > (c.c_n-c.c_nl)
        |                          THEN 1 ELSE 0 END END
        |         END AS pred
        |  FROM stest s LEFT JOIN child c USING (side), root r)
        |SELECT r.root_feat, CAST(r.root_thr AS BIGINT) AS root_thr,
        |       CAST(r.n_train AS BIGINT) AS n_train,
        |       CAST(r.k_train AS BIGINT) AS k_train,
        |       cl.c_feat AS l_feat, CAST(cl.c_thr AS BIGINT) AS l_thr,
        |       cr.c_feat AS r_feat, CAST(cr.c_thr AS BIGINT) AS r_thr,
        |       CAST(CASE WHEN cl.c_feat IS NULL THEN
        |              CASE WHEN 2*r.k_l > r.n_l THEN 1 ELSE 0 END
        |            WHEN 2*cl.c_kl > cl.c_nl THEN 1 ELSE 0 END
        |            AS BIGINT) AS pred_ll,
        |       CAST(CASE WHEN cl.c_feat IS NULL THEN
        |              CASE WHEN 2*r.k_l > r.n_l THEN 1 ELSE 0 END
        |            WHEN 2*(cl.c_k-cl.c_kl) > (cl.c_n-cl.c_nl) THEN 1
        |            ELSE 0 END AS BIGINT) AS pred_lr,
        |       CAST(CASE WHEN cr.c_feat IS NULL THEN
        |              CASE WHEN 2*(r.k_train-r.k_l) > (r.n_train-r.n_l)
        |                   THEN 1 ELSE 0 END
        |            WHEN 2*cr.c_kl > cr.c_nl THEN 1 ELSE 0 END
        |            AS BIGINT) AS pred_rl,
        |       CAST(CASE WHEN cr.c_feat IS NULL THEN
        |              CASE WHEN 2*(r.k_train-r.k_l) > (r.n_train-r.n_l)
        |                   THEN 1 ELSE 0 END
        |            WHEN 2*(cr.c_k-cr.c_kl) > (cr.c_n-cr.c_nl) THEN 1
        |            ELSE 0 END AS BIGINT) AS pred_rr,
        |       (SELECT count(*) FROM stest) AS n_test,
        |       CAST((SELECT sum(CASE WHEN pred = y THEN 1 ELSE 0 END)
        |             FROM scored) AS BIGINT) AS n_correct
        |FROM root r
        |LEFT JOIN child cl ON cl.side = 'L'
        |LEFT JOIN child cr ON cr.side = 'R'""".stripMargin,
    "q63_training_base_rate" ->
      """WITH bars AS (
        |  SELECT event_type AS symbol, user_id, strftime(ts, '%Y-%m-%d') AS day,
        |         arg_min(value, event_id) AS open,
        |         arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT symbol, count(*) AS n_obs,
        |       CAST(sum(CASE WHEN close > open THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |       CAST(sum(CASE WHEN close > open THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS up_rate
        |FROM bars GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

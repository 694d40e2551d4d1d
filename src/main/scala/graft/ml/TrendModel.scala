package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.StockOps

/** The reference's ML flow (`ml_model/predict_from_vm4.py`, SURVEY.md §3
  * E3) on MLlib: label = movement (close > open, F5 at :31), features =
  * [open, high, low, close, volume] (P10 at :32), one RandomForest per
  * symbol (A3 at :29-39), training-set accuracy (A4 at :38).
  *
  * Numeric parity with sklearn is explicitly out of scope (different RF
  * defaults); pipeline-shape parity is what matters (SURVEY.md §7). */
object TrendModel {

  val FeatureCols: Seq[String] = Seq("open", "high", "low", "close", "volume")

  /** The reference's forest width — sklearn `n_estimators=100`
    * (`ml_model/predict_from_vm4.py:35`). The library default (20) trades
    * width for fit cost since numeric parity with sklearn is impossible
    * anyway; pass `numTrees = ReferenceNumTrees` for full width parity
    * (exercised in MlMultimodalSpec). */
  val ReferenceNumTrees: Int = 100

  /** Daily OHLCV bars per (symbol, user, day) from the tick stand-in —
    * the engine's equivalent of the reference's per-symbol history
    * collections. */
  def dailyBars(events: DataFrame): DataFrame =
    events.groupBy(
        col("event_type").as("symbol"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).cast("double").as("volume"))
      .withColumn("movement",
        StockOps.movement(col("close"), col("open")).cast("double"))

  /** The assembler → random-forest pipeline (reference defaults:
    * sklearn n_estimators=100; MLlib numTrees left at a comparable 20 —
    * shape parity, not numeric parity). */
  def pipeline(seed: Long = 42L, numTrees: Int = 20): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setLabelCol("movement").setFeaturesCol("features")
      .setNumTrees(numTrees).setSeed(seed)
    new Pipeline().setStages(Array(assembler, rf))
  }

  /** Per-symbol model fit — the reference's training loop
    * (`predict_from_vm4.py:29-39`). Key cardinality = #symbols (small by
    * construction); each fit is a distributed MLlib job over that
    * symbol's bars. For unbounded key cardinality use [[trainGlobal]]
    * (single model, symbol as a feature) — the 100 TB path flagged in
    * SURVEY.md §7. The label contract is [[trainGlobal]]'s: `movement`
    * ∈ {0, 1}. */
  def trainPerSymbol(bars: DataFrame, seed: Long = 42L,
                     numTrees: Int = 20): Map[String, PipelineModel] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val symbols = bars.select("symbol").distinct()
      .collect().map(_.getString(0)).sorted
    val labelled = binaryLabel(bars)
    // Fits are independent → submit them as concurrent Spark jobs
    // (scheduler interleaves the small per-tree stages); wall-clock is
    // max(fit) rather than sum(fit). Each fit keeps its fixed seed, so
    // results are identical to sequential training.
    val fits = symbols.toSeq.map { s =>
      Future(s -> pipeline(seed, numTrees).fit(labelled.where(col("symbol") === s)))
    }
    Await.result(Future.sequence(fits), Duration.Inf).toMap
  }

  /** Training-set accuracy per symbol (A4: `model.score(X, y)` at
    * `predict_from_vm4.py:38` — same-data score, matching the reference's
    * train==eval choice). */
  def trainingAccuracy(models: Map[String, PipelineModel],
                       bars: DataFrame): DataFrame =
    // One lazy plan: per-symbol scored frames unioned, aggregated in a
    // single job — not one collect per model. Unordered: one row per
    // symbol, so a caller sorts the handful of rows itself.
    models.toSeq.sortBy(_._1).map { case (s, m) =>
      m.transform(bars.where(col("symbol") === s))
        .select(col("symbol"), col("movement"), col("prediction"))
    }.reduce(_ unionByName _)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_obs"),
        avg((col("prediction") === col("movement")).cast("double")).as("accuracy"))

  /** `movement` tagged as a two-valued nominal attribute: a classifier
    * then reads its class count from the schema instead of running a
    * job that scans the bars for the largest label. */
  private def binaryLabel(bars: DataFrame): DataFrame =
    bars.withColumn("movement", col("movement").as("movement",
      NominalAttribute.defaultAttr.withName("movement")
        .withValues("0", "1").toMetadata()))

  /** Scale path: one model over all symbols (hashed symbol as a feature) —
    * no per-key fit loop, no driver collect of the key set, any key
    * cardinality. The hashing lives INSIDE the pipeline (SQLTransformer)
    * so the saved/loaded model scores raw bars directly.
    *
    * Label contract: `movement` ∈ {0, 1}, as [[dailyBars]] builds it
    * (`close > open` cast to a number). The fit declares the label a
    * two-valued nominal attribute, so the forest always has two classes
    * and starts no class-count scan; a bar set holding only one
    * movement value still fits a two-class forest. */
  def trainGlobal(bars: DataFrame, seed: Long = 42L): PipelineModel = {
    val indexer = new org.apache.spark.ml.feature.SQLTransformer()
      .setStatement(
        "SELECT *, CAST(xxhash64(symbol) AS DOUBLE) AS symbol_idx FROM __THIS__")
    val assembler = new VectorAssembler()
      .setInputCols((FeatureCols :+ "symbol_idx").toArray).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setLabelCol("movement").setFeaturesCol("features")
      .setNumTrees(20).setSeed(seed)
    new Pipeline().setStages(Array(indexer, assembler, rf)).fit(binaryLabel(bars))
  }

  /** Streaming inference (E3's realtime leg): score each micro-batch,
    * guarded by the trained-symbol semi-join (P8, `predict_from_vm4.py:
    * 53-55`), emitting the reference's output shape — prediction +
    * change(%) (F6, :60-61). */
  def scoreBatch(batch: DataFrame, models: Map[String, PipelineModel]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val trained = models.keys.toSeq.toDF("symbol")
    val guarded = StockOps.trainedOnly(batch, trained, "symbol")
    models.toSeq.sortBy(_._1).map { case (s, m) =>
      m.transform(guarded.where(col("symbol") === s))
        .withColumn("change_pct", StockOps.pctChange(col("close"), col("open")))
        .select("symbol", "user_id", "day", "prediction", "change_pct")
    }.reduce(_ unionByName _)
  }
}

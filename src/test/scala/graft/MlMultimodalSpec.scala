package graft

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrendModel
import graft.multimodal.Multimodal
import graft.tables.Tables

class MlMultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val bars =
    TrendModel.dailyBars(Tables.events(spark, "/root/testdata/sf0.001")).cache()

  test("dailyBars produce OHLCV + movement label per (symbol,user,day)") {
    val row = bars.where(col("volume") > 1).limit(1).collect()(0)
    val (o, h, l, c) = (row.getAs[Double]("open"), row.getAs[Double]("high"),
      row.getAs[Double]("low"), row.getAs[Double]("close"))
    assert(h >= o && h >= c && l <= o && l <= c)
    assert(row.getAs[Double]("movement") == (if (c > o) 1.0 else 0.0))
  }

  test("per-symbol RF trains on every symbol and beats coin-flip on training data (A3/A4)") {
    val models = TrendModel.trainPerSymbol(bars)
    assert(models.keySet == Set("click", "error", "purchase", "signup", "view"))
    val acc = TrendModel.trainingAccuracy(models, bars)
      .select("accuracy").as[Double].collect()
    // train==eval (the reference's own protocol, predict_from_vm4.py:36,38)
    assert(acc.forall(_ > 0.5), s"accuracies: ${acc.toSeq}")
  }

  test("reference-width forest (n_estimators=100 parity) trains and scores one symbol") {
    val clickBars = bars.where(col("symbol") === "click")
    val m = TrendModel.pipeline(numTrees = TrendModel.ReferenceNumTrees).fit(clickBars)
    val rf = m.stages(1).asInstanceOf[org.apache.spark.ml.classification.RandomForestClassificationModel]
    assert(rf.getNumTrees == 100)
    val acc = m.transform(clickBars)
      .select(avg((col("prediction") === col("movement")).cast("double")))
      .as[Double].collect()(0)
    assert(acc > 0.5)
  }

  test("model save/load roundtrip (S11: joblib.dump → MLlib persistence)") {
    val models = TrendModel.trainPerSymbol(bars)
    val dir = Files.createTempDirectory("model").toString
    val one = models("click")
    one.write.overwrite().save(s"$dir/click")
    val back = PipelineModel.load(s"$dir/click")
    val sample = bars.where(col("symbol") === "click").limit(20)
    val a = one.transform(sample).select("prediction").as[Double].collect().toSeq
    val b = back.transform(sample).select("prediction").as[Double].collect().toSeq
    assert(a == b)
  }

  test("scoreBatch guards untrained symbols and emits the reference output shape (P8+F6)") {
    val models = TrendModel.trainPerSymbol(bars)
    val withUnknown = bars.unionByName(
      bars.limit(3).withColumn("symbol", lit("UNTRAINED")))
    val scored = TrendModel.scoreBatch(withUnknown, models)
    assert(scored.where(col("symbol") === "UNTRAINED").isEmpty)
    assert(scored.columns.toSet ==
      Set("symbol", "user_id", "day", "prediction", "change_pct"))
    assert(scored.count() == bars.count())
  }

  test("q64 streaming inference: P8 guard drops the holdout symbol end-to-end") {
    val scored = SparkEntry.queries("q64_streaming_inference")(
      spark, "/root/testdata/sf0.001")
    assert(scored.count() > 0)
    val symbols = scored.select("symbol").distinct()
      .as[String].collect().toSet
    // holdout = last symbol in sorted order, never scored (predict_from_vm4.py:53-55)
    assert(symbols == Set("click", "error", "purchase", "signup"), symbols)
    assert(scored.columns.toSet ==
      Set("symbol", "user_id", "day", "prediction", "change_pct"))
  }

  test("q71 global model (symbol-as-feature) beats majority baseline per symbol") {
    val got = SparkEntry.queries("q71_global_rf")(spark, "/root/testdata/sf0.001")
      .select("symbol", "accuracy").as[(String, Double)].collect().toMap
    assert(got.keySet == Set("click", "error", "purchase", "signup", "view"))
    assert(got.values.forall(_ > 0.5), s"accuracies: $got")
  }

  // The forest pins below hold the models and their scores bit-for-bit:
  // bootstrap sampling follows the bars' partitioning, so a change to
  // how the forest queries cache, label or score their bars must leave
  // every prediction, probability and accuracy identical.
  private val pinDir = "/root/testdata/sf0.001"

  private def pinnedRows(q: String): Seq[Seq[Any]] =
    SparkEntry.queries(q)(spark, pinDir).collect().map(_.toSeq).toSeq

  test("q71 forest: predictions on q71's own bars and q71's rows are pinned exactly") {
    import org.apache.spark.ml.functions.vector_to_array
    // q71's bars: coalesce(8) fixes the partitioning the bootstrap reads
    val q71Bars = TrendModel.dailyBars(Tables.events(spark, pinDir))
      .coalesce(8).cache()
    val scored = try {
      TrendModel.trainGlobal(q71Bars).transform(q71Bars)
        .agg(count(lit(1)), bit_xor(xxhash64(col("symbol"), col("user_id"),
          col("day"), col("prediction"), vector_to_array(col("probability")))))
        .as[(Long, Long)].head()
    } finally q71Bars.unpersist()
    assert(scored == ((792L, 6181020260255482047L)),
      s"(bars, prediction hash) = $scored")
    val rows = pinnedRows("q71_global_rf")
    assert(rows == Seq(Seq("click", 165L, 1.0),
      Seq("error", 159L, 0.9937106918238994), Seq("purchase", 159L, 1.0),
      Seq("signup", 156L, 1.0), Seq("view", 153L, 1.0)), rows)
  }

  test("q46 and q236 forests: output rows are pinned exactly") {
    val q46 = pinnedRows("q46_rf_accuracy")
    assert(q46 == Seq(Seq("click", 165L, 0.9878787878787879),
      Seq("error", 159L, 0.9937106918238994), Seq("purchase", 159L, 1.0),
      Seq("signup", 156L, 1.0), Seq("view", 153L, 1.0)), q46)
    val q236 = pinnedRows("q236_cv_accuracy")
    assert(q236 == Seq(Seq(0L, 184L, 0.967391304347826),
      Seq(1L, 189L, 0.9735449735449735), Seq(2L, 208L, 0.9855769230769231),
      Seq(3L, 211L, 0.985781990521327)), q236)
  }

  test("q235/q236 k-fold CV: folds are deterministic and partition the bars; CV-mean beats the majority baseline") {
    val dir = "/root/testdata/sf0.001"
    // fold assignment is a pure function of the bar key: two runs agree,
    // every bar lands in exactly one of 4 folds, no fold is empty
    val folds = SparkEntry.queries("q235_cv_folds")(spark, dir)
      .select("fold", "n_obs").as[(Long, Long)].collect().toMap
    val folds2 = SparkEntry.queries("q235_cv_folds")(spark, dir)
      .select("fold", "n_obs").as[(Long, Long)].collect().toMap
    assert(folds == folds2, "fold assignment not deterministic")
    assert(folds.keySet == Set(0L, 1L, 2L, 3L) && folds.values.forall(_ > 0))
    assert(folds.values.sum == bars.count(), "folds must partition the bars")
    // held-out accuracy per fold; the CV MEAN (weighted by fold size)
    // must beat always-predicting the majority class
    val acc = SparkEntry.queries("q236_cv_accuracy")(spark, dir)
      .select("fold", "n_test", "accuracy").as[(Long, Long, Double)].collect()
    assert(acc.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    val n = acc.map(_._2).sum
    val cvMean = acc.map(a => a._2 * a._3).sum / n
    val up = bars.agg(sum(col("movement"))).head().getDouble(0)
    val majority = math.max(up / n, 1.0 - up / n)
    assert(cvMean > majority,
      s"CV mean $cvMean does not beat majority baseline $majority")
  }

  test("q240 bestSplits recovers a known perfect split and tie-breaks by (feat, v)") {
    import graft.queries.MlQueries
    // perfect split on 'close' at 10: y == (cc <= 10); other features
    // constant so they offer no candidate better than cost 0 — but
    // 'close' must win the (cost, feat, v) order among any cost-0 peers
    val df = Seq(
      (1L, 1L, 1L, 5L, 7L, 1L), (1L, 1L, 1L, 8L, 7L, 1L),
      (1L, 1L, 1L, 10L, 7L, 1L), (1L, 1L, 1L, 20L, 7L, 0L),
      (1L, 1L, 1L, 30L, 7L, 0L))
      .toDF("oc", "hc", "lc", "cc", "vol", "y")
    val best = MlQueries.bestSplits(df, Seq.empty)
      .select("feat", "v", "nl", "kl", "nn", "kk")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(best.length == 1)
    assert(best.head == (("close", 10L, 3L, 3L, 5L, 3L)),
      s"expected the perfect close<=10 split, got ${best.head}")
    // tie-break: cc and oc both split perfectly at the same value — the
    // feat ASC order must pick 'close' deterministically
    val tied = Seq((5L, 1L, 1L, 5L, 7L, 1L), (20L, 1L, 1L, 20L, 7L, 0L))
      .toDF("oc", "hc", "lc", "cc", "vol", "y")
    val t = MlQueries.bestSplits(tied, Seq.empty)
      .select("feat", "v").as[(String, Long)].collect()
    assert(t.length == 1 && t.head == (("close", 5L)), t.mkString)
    // a group where every feature is single-valued yields NO split row
    val flat = Seq((1L, 1L, 1L, 1L, 1L, 1L), (1L, 1L, 1L, 1L, 1L, 0L))
      .toDF("oc", "hc", "lc", "cc", "vol", "y")
    assert(MlQueries.bestSplits(flat, Seq.empty).isEmpty)
  }

  test("q240 decision stump: deterministic, partitions bars via q235 folds, sane holdout accuracy") {
    val dir = "/root/testdata/sf0.001"
    val r1 = SparkEntry.queries("q240_decision_stump")(spark, dir).collect()
    val r2 = SparkEntry.queries("q240_decision_stump")(spark, dir).collect()
    assert(r1.length == 1 && r1.sameElements(r2),
      "stump training not deterministic")
    val row = r1.head
    val nTrain = row.getAs[Long]("n_train")
    val nTest = row.getAs[Long]("n_test")
    val nCorrect = row.getAs[Long]("n_correct")
    // train+test partition exactly the q235 folds (fold 0 held out)
    val folds = SparkEntry.queries("q235_cv_folds")(spark, dir)
      .select("fold", "n_obs").as[(Long, Long)].collect().toMap
    assert(nTest == folds(0L) && nTrain == folds.values.sum - folds(0L))
    // leaf votes are integer-majority: the tree can't do worse on the
    // TRAIN distribution than coin-flip; on holdout assert the sane
    // bound for the fixture's ~90/10 label skew
    assert(nCorrect >= 0 && nCorrect <= nTest)
    assert(nCorrect.toDouble / nTest > 0.6,
      s"holdout accuracy ${nCorrect.toDouble / nTest} implausibly low")
  }

  test("q63 training base rate matches the label distribution dailyBars produces") {
    val got = SparkEntry.queries("q63_training_base_rate")(
      spark, "/root/testdata/sf0.001")
    val byHand = bars.groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("movement")).as("up"))
      .select(col("symbol"), col("n"), col("up").cast("long"))
      .as[(String, Long, Long)].collect()
      .map { case (s, n, u) => s -> (n, u) }.toMap
    val rows = got.select("symbol", "n_obs", "n_up")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, n, u) => assert(byHand(s) == (n, u), s) }
  }

  test("multimodal: synthesized media carries typed meta and binary payload") {
    val media = Multimodal.synthesizeFromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val r = media.filter(_.media_id == 0L).collect()(0)
    assert(r.kind == "image" && r.bytes.nonEmpty && r.meta.format == "raw")
  }

  test("multimodal: batched feature extraction preserves cardinality and determinism") {
    val media = Multimodal.synthesizeFromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val f1 = Multimodal.extractFeatures(media, batchSize = 7).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, batchSize = 64).collect()
      .sortBy(_.media_id)
    assert(f1.length == media.count())
    // batch size must not change results (mapInPandas contract analog)
    assert(f1.map(_.byte_mean).toSeq == f2.map(_.byte_mean).toSeq)
    assert(f1.forall(_.feature.length == 16))
  }

  test("multimodal: GIF encode→decode roundtrip is lossless and matches the per-frame formula") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(12)
    val media = Multimodal.gifFromDocuments(docs)
    // payloads are genuine multi-frame GIF89a containers
    val recs = media.collect()
    assert(recs.nonEmpty && recs.forall(r =>
      new String(r.bytes.take(6), "US-ASCII") == "GIF89a"))
    val stats = Multimodal.gifFrameStats(media).collect()
      .sortBy(s => (s.media_id, s.frame_idx))
    val expected = docs.select("doc_id", "n_chars").collect().flatMap { r =>
      val (id, nc) = (r.getLong(0), r.getLong(1))
      val w = (nc % 11 + 4).toInt
      val h = (id % 7 + 4).toInt
      val nf = (id % 3 + 2).toInt
      (0 until nf).map { f =>
        val vs = for { y <- 0 until h; x <- 0 until w }
          yield java.lang.Math.floorMod(id * 31 + 7L * x + 13L * y + 97L * f, 256L)
        (id, nf, f, w, h, vs.sum, vs.min.toInt, vs.max.toInt)
      }
    }.sortBy(t => (t._1, t._3))
    assert(stats.map(s => (s.media_id, s.n_frames, s.frame_idx, s.img_w,
      s.img_h, s.px_sum, s.px_min, s.px_max)).toSeq == expected.toSeq)
  }

  test("multimodal: sampleFrames keeps every Nth decoded frame as a decodable PNG") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(9)
    val sampled = Multimodal.sampleFrames(
      Multimodal.gifFromDocuments(docs), everyN = 2)
    val stats = Multimodal.pngStats(sampled).collect().sortBy(_.media_id)
    val expected = docs.select("doc_id", "n_chars").collect().flatMap { r =>
      val (id, nc) = (r.getLong(0), r.getLong(1))
      val w = (nc % 11 + 4).toInt
      val h = (id % 7 + 4).toInt
      val nf = (id % 3 + 2).toInt
      (0 until nf).filter(_ % 2 == 0).map { f =>
        val vs = for { y <- 0 until h; x <- 0 until w }
          yield java.lang.Math.floorMod(id * 31 + 7L * x + 13L * y + 97L * f, 256L)
        (id * 100 + f, w, h, vs.sum, vs.min.toInt, vs.max.toInt)
      }
    }.sortBy(_._1)
    assert(stats.map(s => (s.media_id, s.img_w, s.img_h, s.px_sum,
      s.px_min, s.px_max)).toSeq == expected.toSeq)
  }

  test("multimodal: resize resamples real pixels (nearest-neighbor) and re-encodes losslessly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(9)
    val resized = Multimodal.resize(Multimodal.pngFromDocuments(docs), 8, 6)
    // the payload really was re-encoded: new dims decode out of the PNG
    val stats = Multimodal.pngStats(resized).collect().sortBy(_.media_id)
    assert(stats.forall(s => s.img_w == 8 && s.img_h == 6))
    val expected = docs.select("doc_id", "n_chars").collect().map { r =>
      val (id, nc) = (r.getLong(0), r.getLong(1))
      val w0 = (nc % 13 + 4).toInt
      val h0 = (id % 9 + 4).toInt
      val vs = for { y <- 0 until 6; x <- 0 until 8 }
        yield java.lang.Math.floorMod(
          id * 31 + 7L * (x * w0 / 8) + 13L * (y * h0 / 6), 256L)
      (id, vs.sum, vs.min.toInt, vs.max.toInt)
    }.sortBy(_._1)
    assert(stats.map(s => (s.media_id, s.px_sum, s.px_min, s.px_max)).toSeq
      == expected.toSeq)
  }

  test("multimodal: gifFrameStats fails loudly on an undecodable payload") {
    import spark.implicits._
    val bad = spark.createDataset(Seq(Multimodal.MediaRecord(1L, "video",
      Array[Byte](1, 2, 3, 4), Multimodal.MediaMeta(0, 0, 0, 0L, "gif"))))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.gifFrameStats(bad).collect()
    }
    assert(e.getMessage != null)
  }

  test("multimodal: PNG encode→decode roundtrip is lossless and matches the pixel formula") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    val media = Multimodal.pngFromDocuments(docs)
    // payloads are genuine PNGs (magic + imageio-decodable)
    val recs = media.collect()
    assert(recs.nonEmpty && recs.forall(r =>
      (r.bytes(0) & 0xff) == 0x89 && r.bytes(1) == 'P'.toByte))
    val stats = Multimodal.pngStats(media).collect().sortBy(_.media_id)
    val expected = docs.select("doc_id", "n_chars")
      .collect().map { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        val w = (nc % 13 + 4).toInt
        val h = (id % 9 + 4).toInt
        val vs = for { y <- 0 until h; x <- 0 until w }
          yield java.lang.Math.floorMod(id * 31 + 7L * x + 13L * y, 256L)
        (id, w, h, vs.sum, vs.min.toInt, vs.max.toInt)
      }.sortBy(_._1)
    assert(stats.map(s =>
      (s.media_id, s.img_w, s.img_h, s.px_sum, s.px_min, s.px_max)).toSeq
      == expected.toSeq)
  }

  test("multimodal: dHash replays the grid formula; identical renders collide, near ids differ") {
    import spark.implicits._
    // doc_id 1 and 1+2304 (lcm(9,256)·…) render IDENTICAL pixels for the
    // same n_chars: 31·2304 ≡ 0 (mod 256) and 2304 ≡ 0 (mod 9)
    // id=7's base offset 7·31 = 217 wraps mod 256 mid-row (217+7x crosses
    // 256), flipping gradient bits; id=1 (offset 31) never wraps
    val docs = Seq((1L, 100L), (2305L, 100L), (7L, 100L))
      .toDF("doc_id", "n_chars")
    val got = Multimodal.pngDHash(Multimodal.pngFromDocuments(docs))
      .collect().map(p => p.media_id -> p.dhash).toMap
    assert(got(1L) == got(2305L), "identical renders must share a dhash")
    assert(got(1L) != got(7L), "a mod-256 wrap must flip difference bits")
    // independent replay of the 56-bit grid formula for doc_id=1
    val (id, w, h) = (1L, (100 % 13 + 4), (1 % 9 + 4))
    def px(x: Int, y: Int) = java.lang.Math.floorMod(id * 31 + 7L * x + 13L * y, 256L)
    var want = 0L
    for (i <- 0 until 56) {
      val c = i % 7; val y = (i / 7) * h / 8
      if (px((c + 1) * w / 8, y) > px(c * w / 8, y)) want |= 1L << i
    }
    assert(got(1L) == want, s"dhash ${got(1L)} != replay $want")
  }

  test("multimodal: fakeDecode's PNG branch features real pixels, not payload bytes") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(5)
    val media = Multimodal.pngFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val stats = Multimodal.pngStats(media).collect().sortBy(_.media_id)
    feats.zip(stats).foreach { case (f, s) =>
      val pixelMean = s.px_sum.toDouble / (s.img_w * s.img_h)
      assert(math.abs(f.byte_mean - pixelMean) < 1e-9,
        s"media ${f.media_id}: decode fell back to raw bytes")
      // n_bytes is the ENCODED payload size (PNG header alone is > 8)
      assert(f.n_bytes > 8)
    }
  }
}

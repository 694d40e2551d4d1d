package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** Round-11 pins: the q286 production-BPE trainer (wave selection,
  * single-pass batch apply, one-job rounds, lemma-derived totals) and
  * the round's other breadth queries. */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stageDocs(rows: Seq[(Long, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_r11_").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  // ---------------------------------------------------- q286
  /** Pure-Scala reference for the production trainer that applies each
    * selected pair SEQUENTIALLY in (count DESC, l, r) order — the
    * engine applies the whole batch in ONE fold pass, so equality here
    * is a direct test of the sequential≡simultaneous exactness lemma;
    * and the reference MEASURES each round's Σ freq·|syms| while the
    * engine DERIVES it from the pair counts, auditing the
    * count-exactness half of the lemma too. */
  private def refProdBpe(words: Seq[(String, Long)], rounds: Int, top: Int,
      waves: Int): Seq[(Long, Long, Long, Long, String, String, Long, Long)] = {
    def greedyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = scala.collection.mutable.Buffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    var segs = words.map { case (w, f) => (f, w.split("").toVector) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, String, String, Long, Long)]
    var mseq = 0L
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      // NON-OVERLAPPING census (the engine's consumed-flag scan): an
      // l==r run of n symbols counts floor(n/2) — what the greedy
      // applier actually merges — not the n-1 overlapping adjacencies
      for ((f, syms) <- segs) {
        var i = 0
        var consumed = false
        while (i < syms.length - 1) {
          if (syms(i) == syms(i + 1) && consumed) consumed = false
          else {
            counts((syms(i), syms(i + 1))) += f
            consumed = syms(i) == syms(i + 1)
          }
          i += 1
        }
      }
      val census = counts.toSeq.map { case ((l, r), c) => (l, r, c) }
        .sortBy { case (l, r, c) => (-c, l, r) }.take(top)
      val sel = graft.queries.EngineQueries.bpeSelectBatch(census, waves)
      if (sel.isEmpty) done = true
      else {
        // SEQUENTIAL application, batch order
        for ((l, r, _, _) <- sel.sortBy(p => (-p._3, p._1, p._2)))
          segs = segs.map { case (f, syms) => (f, greedyMerge(syms, l, r)) }
        val total = segs.map { case (f, syms) => f * syms.length }.sum // measured
        sel.sortBy(p => (-p._3, p._1, p._2)).zipWithIndex.foreach {
          case ((l, r, c, t), j) =>
            mseq += 1
            out += ((mseq, round.toLong, t.toLong, (j + 1).toLong, l, r, c,
              total))
        }
      }
      round += 1
    }
    out.toSeq
  }

  /** 36 stride-permutation words over a–z: same letters, different
    * adjacency structure per stride, so level-0 merges contend for the
    * 26-letter alphabet while every post-merge symbol is word-family-
    * specific — a corpus whose saturation comfortably exceeds 128
    * distinct merge rules (unlike the 30-word driver corpus, which
    * saturates at 89). */
  private def strideWords: Seq[(String, Long)] =
    (for {
      (stride, si) <- Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25).zipWithIndex
      off <- 0 until 3
    } yield {
      val w = (0 until 8)
        .map(j => ('a' + ((off * 7 + j * stride) % 26)).toChar).mkString
      (w, 5L + si * 3 + off)
    }).groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }
      .toSeq.sortBy(_._1)

  test("q286: production BPE on a rich-vocabulary fixture — single-pass " +
    "batch apply equals sequential application (the exactness lemma), " +
    "derived totals equal measured totals, >=128 merges at <0.25 " +
    "jobs/merge with one census job per round") {
    val words = strideWords
    val corpus = words.zipWithIndex.flatMap { case ((w, f), i) =>
      // freq f copies of each word, spread over a few docs
      Seq((i * 10L, (w + " ") * f.toInt))
    }
    val dir = stageDocs(corpus)
    val expect = refProdBpe(words.map { case (w, f) => (w, f) },
      rounds = graft.queries.EngineQueries.BpeProdRounds,
      top = graft.queries.EngineQueries.BpeProdTopPairs,
      waves = graft.queries.EngineQueries.BpeProdSubRounds)
    assert(expect.length >= 128,
      s"fixture saturates below the target: ${expect.length}")
    SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
      // the trainer runs its loop eagerly and returns a driver-local
      // frame; materializing THAT is sink cost, not trainer cost — keep
      // it outside the counted window
      val (res, p) = QueryProfile.of(spark) {
        SparkEntry.queries("q286_bpe_production_train")(spark, dir)
      }
      val jobs = p.jobs
      val got = res.as[(Long, Long, Long, Long, String, String, Long, Long)]
        .collect().toSeq
      assert(got == expect,
        s"engine vs sequential reference diverge:\n${got.diff(expect).take(5)}" +
          s"\nvs\n${expect.diff(got).take(5)}")
      val merges = got.length
      val rounds = got.map(_._2).max
      // jobs: 1 init total + one census per round incl. the empty
      // saturation-detecting one — everything else rides those actions
      assert(jobs <= rounds + 2,
        s"round cost crept past one job per census: $jobs jobs, $rounds rounds")
      assert(jobs * 4 < merges,
        s"jobs/merge >= 0.25: $jobs jobs for $merges merges")
    }
  }

  test("q286: self-pair runs (l==r) — census counts floor(run/2), and " +
    "derived totals equal the reference's MEASURED totals when an (x,x) " +
    "merge is selected over runs of 3+ identical symbols") {
    // words with identical-symbol runs >= 3: under overlap counting the
    // (a,a) census would claim 3 removals for 'aaaa' (run 4) where the
    // greedy applier removes 2 — the advisor's witness. Mixed material
    // keeps several rounds alive ('aa' symbols then pair again).
    val words = Seq(
      ("aaaa", 9L), ("aaab", 7L), ("baaa", 6L), ("aabaa", 5L),
      ("haha", 4L), ("hahaha", 4L), ("deed", 3L), ("feed", 3L),
      ("seed", 2L), ("noon", 2L))
    val corpus = words.zipWithIndex.map { case ((w, f), i) =>
      (i * 10L, (w + " ") * f.toInt)
    }
    val dir = stageDocs(corpus)
    val expect = refProdBpe(words,
      rounds = graft.queries.EngineQueries.BpeProdRounds,
      top = graft.queries.EngineQueries.BpeProdTopPairs,
      waves = graft.queries.EngineQueries.BpeProdSubRounds)
    // the witness is live: some selected merge is a self-pair
    assert(expect.exists(m => m._5 == m._6),
      s"fixture never selects an l==r pair: ${expect.map(m => (m._5, m._6))}")
    val got = SparkEntry.queries("q286_bpe_production_train")(spark, dir)
      .as[(Long, Long, Long, Long, String, String, Long, Long)]
      .collect().toSeq
    assert(got == expect,
      s"engine vs measured-total reference diverge on self-pair runs:\n" +
        s"${got.diff(expect).take(5)}\nvs\n${expect.diff(got).take(5)}")
  }

  // ---------------------------------------------------- q284
  test("q284: sampled-boundary equi-depth on a uniform fixture — exact " +
    "probe count is exact, balance and estimate tolerances hold, every " +
    "bucket fills") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_seqd_").toString
    (1 to 256).map(k => (k.toLong, k * 1000.0)) // cents = k·10^5
      .toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    val r = SparkEntry.queries("q284_sampled_equidepth")(spark, tmp)
      .collect().head
    assert(r.getAs[Long]("n_rows") == 256L)
    // deterministic md5 sample — nonempty, well under the population
    val ns = r.getAs[Long]("n_sample")
    assert(ns > 0 && ns < 100, s"1/8 md5 sample off: $ns of 256")
    assert(r.getAs[Long]("n_buckets_filled") == 16L)
    // probe [5e6, 2e7) over cents k·10^5, k = 1..256 → k = 50..199
    assert(r.getAs[Long]("exact_rows") == 150L)
    assert(r.getAs[Boolean]("balance_ok"),
      s"max bucket ${r.getAs[Long]("max_bucket_n")} outside the " +
        s"2/sqrt(m) band around n/16 = 16 at m = $ns")
    assert(r.getAs[Boolean]("est_within_tol"),
      s"est ${r.getAs[Long]("sel_est_ppm")} vs exact ${r.getAs[Long]("sel_exact_ppm")}")
  }

  // ---------------------------------------------------- q285
  test("q285: streamed IVF index — a vector arriving in the LAST batch " +
    "is findable, probes are partition-pruned to the probed cells, " +
    "recall@5 vs brute-force L2 holds the measured floor, and a " +
    "replayed batch leaves the index bit-identical") {
    import graft.similarity.{Clustering, IvfIndex, Similarity}
    val dir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val centroids = Clustering.seedCentroids(emb, "vec_id", "embedding", 16)
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_ivfspec_").toString
    val batches = (0 until 3).map(i =>
      emb.select("vec_id", "embedding")
        .where(pmod(col("vec_id"), lit(3)) === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfIndex.mergeBatch(b, "vec_id", "embedding", centroids, idxDir,
        batchSeq = i + 1L)
    }
    val queries = emb.where(col("vec_id") < 10)
    val probed = IvfIndex.probe(spark, idxDir, queries, "vec_id",
      "embedding", centroids, nProbe = 4, k = 5)
    // cross-batch findability: query 2 (vec_id % 3 == 2 → batch 3) must
    // retrieve ITSELF as rank 1 at l2 = 0 — it entered in the last batch
    val got = probed.collect()
    val self2 = got.filter(r => r.getAs[Long]("query_id") == 2L
      && r.getAs[Int]("rank") == 1).head
    assert(self2.getAs[Long]("vec_id") == 2L
      && self2.getAs[Double]("l2") == 0.0, s"batch-3 vector not indexed")
    // read pruning: a 1-query nProbe=1 probe reads exactly ONE cell's
    // live generation directory — the manifest-resolved equivalent of
    // partition pruning (unprobed cells are never even listed)
    val one = IvfIndex.probe(spark, idxDir,
      emb.where(col("vec_id") === 2), "vec_id", "embedding", centroids,
      nProbe = 1, k = 5)
    one.collect()
    val oneDirs = one.inputFiles.filter(_.contains(idxDir)).map(f =>
      new java.io.File(f).getParentFile.getName).toSet
    assert(oneDirs.size == 1 && oneDirs.head.matches("c\\d+G\\d+"),
      s"nProbe=1 probe must read exactly one cell generation: $oneDirs")
    assert(IvfIndex.liveDirs(spark, idxDir).size > 1,
      "fixture degenerated to a single live cell — pruning unproven")
    // recall@5 vs brute-force L2 over the full corpus (self included,
    // both sides) — sub-exhaustive 4/16 probe, measured floor
    val qv = queries.select(col("vec_id").as("query_id"),
      Similarity.vecDouble(col("embedding")).as("qv"))
    val cv = emb.select(col("vec_id"),
      Similarity.vecDouble(col("embedding")).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2"), col("vec_id"))
    val brute = cv.crossJoin(broadcast(qv))
      .withColumn("l2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("query_id", "vec_id")
    val hits = brute.join(probed.select("query_id", "vec_id"),
      Seq("query_id", "vec_id"), "left_semi").count()
    val truth = brute.count()
    assert(hits * 10 >= truth * 4, // measured ≈ 0.5+ on this corpus
      s"recall@5 collapsed: $hits/$truth")
    // replay idempotence: re-merge batch 2 with its original batchSeq
    def snapshot(): Set[String] =
      IvfIndex.readIndex(spark, idxDir).select("cell", "vec_id")
        .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").toSet
    val s0 = snapshot()
    IvfIndex.mergeBatch(batches(1), "vec_id", "embedding", centroids,
      idxDir, batchSeq = 2L)
    assert(snapshot() == s0, "replayed batch mutated the index")
    val replayed = IvfIndex.probe(spark, idxDir, queries, "vec_id",
      "embedding", centroids, nProbe = 4, k = 5).collect()
    assert(replayed.map(_.toString).sorted.toSeq
      == got.map(_.toString).sorted.toSeq)
  }

  // ---------------------------------------------------- q290/q291
  test("q290: exactly 5 per event type ranked by ascending finalized " +
    "hash, drawn from the distinct user domain, deterministic") {
    def run() = SparkEntry.queries("q290_bottomk_group_sample")(
      spark, "/root/testdata/sf0.001").collect()
    val got = run()
    assert(run().map(_.toString).toSeq == got.map(_.toString).toSeq)
    val users = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    got.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L),
        s"$t ranks: ${rs.map(_.getAs[Long]("rank")).toSeq}")
      val hs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("h"))
      assert(hs.toSeq == hs.sorted.toSeq && hs.forall(_ >= 0L))
      rs.foreach(r => assert(users((t, r.getAs[Long]("user_id")))))
    }
  }

  test("q291: the hash split partitions the corpus (booleans true), " +
    "shares near 80/10/10, and a grown corpus never moves a doc") {
    val got = SparkEntry.queries("q291_train_val_test_split")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("split") -> r).toMap
    assert(got.keySet == Set("train", "val", "test"))
    got.values.foreach { r =>
      assert(r.getAs[Boolean]("covers_all") && r.getAs[Boolean]("ids_partition"))
    }
    val shares = got.map { case (k, r) => k -> r.getAs[Long]("share_ppm") }
    assert(math.abs(shares("train") - 800000L) < 100000L, s"$shares")
    assert(math.abs(shares("val") - 100000L) < 60000L, s"$shares")
    // stability: each doc's split is a pure function of doc_id — the
    // same ids under sf0.01 (a superset corpus) keep their routing
    val s1 = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def routing(dir: String): Map[Long, String] = {
      import graft.functions.HashFunctions.{fmix64, fnv1a}
      graft.tables.Tables.documents(spark, dir)
        .select(col("doc_id"),
          when(shiftrightunsigned(fmix64(fnv1a(concat(lit("spl:"),
            col("doc_id").cast("string")))), 33) % 100 < 80, "train")
            .when(shiftrightunsigned(fmix64(fnv1a(concat(lit("spl:"),
              col("doc_id").cast("string")))), 33) % 100 < 90, "val")
            .otherwise("test").as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val r1 = routing("/root/testdata/sf0.001")
    val r2 = routing("/root/testdata/sf0.01")
    s1.foreach(id => assert(r2.get(id).forall(_ == r1(id)),
      s"doc $id moved splits when the corpus grew"))
  }

  // ---------------------------------------------------- q289
  test("q289: negatives never land on positive days, at most two per " +
    "user ranked by candidate order, and the draw is deterministic") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_neg_").toString
    def dayUs(day: Int): Long =
      (java.time.LocalDate.of(2024, 1, day).toEpochDay * 86400L + 43200L) *
        1000000L
    // user 1 purchases on 16 of 31 days (the rejection path works
    // hard); user 2 on one day; user 3 never (absent from output)
    val rows =
      (1 to 16).map(d => (d.toLong, dayUs(d), 1L, "purchase", 5.0)) ++
        Seq((100L, dayUs(5), 2L, "purchase", 5.0),
          (101L, dayUs(7), 3L, "click", 1.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    def run() = SparkEntry.queries("q289_negative_sampling")(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val got = run()
    assert(run() == got, "negative draw is not deterministic")
    assert(got.map(_._1).toSet == Set(1L, 2L), "only purchasers sampled")
    val posByUser = Map(1L -> (1 to 16).map(_.toLong).toSet, 2L -> Set(5L))
    got.foreach { case (u, rank, seq, day, nPos) =>
      assert(!posByUser(u).contains(day),
        s"user $u drew positive day $day as a negative")
      assert(rank >= 1 && rank <= 2 && seq >= 0 && seq <= 7)
      assert(nPos == posByUser(u).size.toLong)
    }
    got.groupBy(_._1).foreach { case (u, rs) =>
      assert(rs.map(_._2).sorted == (1L to rs.size).toSeq,
        s"user $u ranks not consecutive: $rs")
      assert(rs.map(_._4).distinct.size == rs.size,
        s"user $u drew the same day twice")
    }
  }

  // ---------------------------------------------------- q288
  test("q288: the three integer-GD steps equal a pure-Scala replay " +
    "(same truncating divisions), gradients shrink monotonically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lgd_").toString
    val rows = (1 to 64).map { k =>
      (k.toLong, k * 937.5, if (k % 3 == 0) "1-URGENT" else "3-MEDIUM")
    }
    rows.toDF("o_orderkey", "o_totalprice", "o_orderpriority")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    // pure-Scala replay with identical integer arithmetic
    val feats = rows.map { case (key, price, prio) =>
      (if (prio == "1-URGENT") 1000000L else 0L,
        1000000L, math.round(price * 100) / 10, (key % 7) * 142857L)
    }
    var w = Array(0L, 0L, 0L)
    val expect = (1 to 3).map { step =>
      val scored = feats.map { case (ym, x0, x1, x2) =>
        val z = w(0) + w(1) * x1 / 1000000L + w(2) * x2 / 1000000L
        val p = 500000L + 500000L * z / (2L * (1000000L + math.abs(z)))
        (ym, x0, x1, x2, p)
      }
      val n = scored.size.toLong
      def g(f: ((Long, Long, Long, Long, Long)) => Long): Long = {
        val s = scored.map(r => BigInt((r._5 - r._1) * f(r))).sum
        (s / (BigInt(1000000) * n)).toLong
      }
      val (g0, g1, g2) = (g(_._2), g(_._3), g(_._4))
      val acc = 1000000L * scored.count(r =>
        (r._5 >= 500000L) == (r._1 == 1000000L)) / n
      w = Array(w(0) - 500000L * g0 / 1000000L,
        w(1) - 500000L * g1 / 1000000L, w(2) - 500000L * g2 / 1000000L)
      (step.toLong, g0, g1, g2, acc, w(0), w(1), w(2), n)
    }
    val got = SparkEntry.queries("q288_logistic_gd")(spark, tmp)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == expect, s"got $got\nexpect $expect")
    // full-batch GD at a sane step size contracts the gradient here
    val mags = got.map(r => math.abs(r._2) + math.abs(r._3) + math.abs(r._4))
    assert(mags == mags.sorted.reverse && mags.distinct == mags,
      s"gradient magnitudes not strictly shrinking: $mags")
  }

  // ---------------------------------------------------- q287
  test("q287: duplicated extent excised, canonical (min doc,pos) " +
    "occurrence kept — audits and kept-text hash exact on a " +
    "constructed pair") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = stageDocs(Seq(
      1L -> shared,                    // canonical: first occurrence
      2L -> s"xx yy $shared zz",       // later occurrence -> cut
      3L -> "totally unrelated words with no duplicated extent here"))
    val got = SparkEntry.queries("q287_substring_dedup_corpus")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 3 has no df>=2 shingle: no span row at all
    assert(got.keySet == Set(1L, 2L))
    val a = got(1L)
    assert(a.getAs[Long]("n_spans") == 1L && a.getAs[Long]("n_cut") == 0L)
    assert(a.getAs[Long]("kept_chars") == a.getAs[Long]("orig_chars"))
    val b = got(2L)
    assert(b.getAs[Long]("n_spans") == 1L && b.getAs[Long]("n_cut") == 1L)
    val keptB = "xx yy " + " zz" // the extent excised, raw stitch
    assert(b.getAs[Long]("orig_chars") == s"xx yy $shared zz".length.toLong)
    assert(b.getAs[Long]("kept_chars") == keptB.length.toLong)
    val md5B = java.security.MessageDigest.getInstance("MD5")
      .digest(keptB.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(b.getAs[String]("kept_md5") == md5B,
      s"kept text differs from '$keptB'")
  }

  test("q286: driver-corpus run reaches full saturation — every word " +
    "collapses to one symbol (final derived total = word occurrences)") {
    val got = SparkEntry.queries("q286_bpe_production_train")(
      spark, "/root/testdata/sf0.001").collect()
    assert(got.length > 0)
    val finalTotal = got.last.getAs[Long]("total_symbols_after_round")
    val nWords = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2).count()
    assert(finalTotal == nWords,
      s"not saturated: final total $finalTotal vs $nWords word occurrences")
  }
}

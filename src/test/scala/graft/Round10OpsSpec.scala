package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** Round-10 pins: loop-shape discipline (q252 HITS materialize-and-
  * evict) and the new batched-BPE / sampled-blocking / char-exact-span
  * / streaming-dedup queries. */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------- q252 job shape
  test("q252: HITS derives the edge frame ONCE (job count pinned; " +
    "laziness re-running the edge join per half-step can't creep back)") {
    // With AQE off the job layout is deterministic (observed via stage
    // names): 1 broadcast job for the orders JOIN lineitem edge join +
    // 3 eager-checkpoint jobs (edges, h0, a0) + per half-step exactly 4
    // jobs (2 auto-broadcasts of the node-sized score frame — main
    // lineage + max-subquery lineage — 1 max-aggregate execution, 1
    // checkpoint; 3 rounds x 2 half-steps = 24) + 2 collect jobs (sort
    // sample + result) = 30. The point of the pin: the EDGE DERIVATION
    // (both parquet scans + the distinct shuffle) appears in exactly
    // one job — every later job reads the edges checkpoint. The r9
    // plan-lazy shape re-derived the edge frame inside every broadcast
    // subquery and the final action (measured 12.1 s -> 2.9 s isolated
    // at sf0.1); a count drift in either direction means the loop
    // shape changed and must be re-audited.
    val tmp = java.nio.file.Files.createTempDirectory("graft_hits_jobs_").toString
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L))
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 10L))
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$tmp/lineitem.parquet")
    SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
      val n = QueryProfile.of(spark) {
        val rows = SparkEntry.queries("q252_hits")(spark, tmp).collect()
        assert(rows.length == 5) // 2 hubs + 3 authorities, bounded top-10
      }._2.jobs
      assert(n == 30,
        s"expected 1 edge-broadcast + 3 ckpt + 6 half-steps x 4 + 2 collect = 30 jobs, got $n")
    }
  }

  private def stageDocs(rows: Seq[(Long, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_r10_").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  // ---------------------------------------------------- q273 fixture
  test("q273: char-exact spans on a fixture where duplicate boundaries " +
    "fall mid-shingle — partial flanking tokens extend the span; " +
    "doc-start boundaries don't") {
    // docs 1/2 share "bravo..foxtrot" with mid-token boundaries on BOTH
    // sides: left flank alpha|xalpha (common suffix "alpha", 5) and
    // right flank tailone|tailtwo (common prefix "tail", 4) — the
    // 5-gram tier sees tokens [2, 6]; the true char extent adds
    // " alpha"-like 6 left and " tail" 5 right. Docs 3/4 share a span
    // AT doc start (no left flank -> ext 0) with flanks tail5x|tail5y
    // right (ext 6).
    val dir = stageDocs(Seq(
      (1L, "preamble alpha bravo charlie delta echo foxtrot tailone xx"),
      (2L, "misc xalpha bravo charlie delta echo foxtrot tailtwo yy"),
      (3L, "common one two three four tail5x"),
      (4L, "common one two three four tail5y different")))
    val got = SparkEntry.queries("q273_char_exact_dup_spans")(spark, dir)
      .selectExpr("doc_id", "CAST(span_start AS LONG)",
        "CAST(span_tokens AS LONG)", "left_partner_doc", "left_partner_pos",
        "right_partner_doc", "right_partner_pos", "ext_left_chars",
        "ext_right_chars", "span_char_start", "span_char_len")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val expect = Seq(
      (1L, 2L, 5L, 2L, 2L, 2L, 2L, 6L, 5L, 9L, 43L),
      (2L, 2L, 5L, 1L, 2L, 1L, 2L, 6L, 5L, 6L, 43L),
      (3L, 0L, 5L, 4L, 0L, 4L, 0L, 0L, 6L, 0L, 31L),
      (4L, 0L, 5L, 3L, 0L, 3L, 0L, 0L, 6L, 0L, 31L))
    assert(got == expect, s"got $got")
    // Lee-et-al. semantics check, independent of the offset arithmetic:
    // slicing the normalized texts at the reported char spans yields
    // the SAME duplicated substring on both sides of each pair
    def norm(s: String) = s.trim.split("\\s+").mkString(" ")
    val texts = Map(
      1L -> "preamble alpha bravo charlie delta echo foxtrot tailone xx",
      2L -> "misc xalpha bravo charlie delta echo foxtrot tailtwo yy",
      3L -> "common one two three four tail5x",
      4L -> "common one two three four tail5y different").map {
      case (k, v) => k -> norm(v) }
    def cut(doc: Long, start: Long, len: Long) =
      texts(doc).substring(start.toInt, (start + len).toInt)
    assert(cut(1, 9, 43) == cut(2, 6, 43))
    assert(cut(1, 9, 43) == "alpha bravo charlie delta echo foxtrot tail")
    assert(cut(3, 0, 31) == cut(4, 0, 31))
    assert(cut(3, 0, 31) == "common one two three four tail5")
    // maximality at char level: extending either span by one char on
    // either side breaks equality with its partner's aligned stream
    assert(texts(1).charAt(8) != texts(2).charAt(5))
    assert(texts(1).charAt(9 + 43) != texts(2).charAt(6 + 43))
    assert(texts(3).charAt(31) != texts(4).charAt(31))
  }

  // ---------------------------------------------------- q272 fixture
  test("q272: sampled-PC fixture — md5 sample membership computed " +
    "independently; estimate exact on identical-doc pairs; bound holds") {
    def sampled(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bpc:$id".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      hex < "8"
    }
    // two identical pairs (near-dup truth = exactly {(1,2),(3,4)}), one
    // unrelated doc; identical docs have identical MinHash signatures,
    // so the blocker always surfaces both pairs -> PC exact and sampled
    // are both 10^6 and the plus-4 band trivially contains the truth.
    val dir = stageDocs(Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "one two three four five six seven eight nine"),
      (5L, "nothing shared with anyone here at all whatsoever")))
    val r = SparkEntry.queries("q272_blocking_pc_sampled")(spark, dir)
      .collect().head
    val expTruthS = Seq((1L, 2L), (3L, 4L))
      .count { case (a, b) => sampled(a) && sampled(b) }.toLong
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_sample_docs") == (1L to 5L).count(sampled).toLong)
    assert(r.getAs[Long]("n_truth_f") == 2L)
    assert(r.getAs[Long]("n_hit_f") == 2L)
    assert(r.getAs[Long]("n_truth_s") == expTruthS)
    assert(r.getAs[Long]("n_hit_s") == expTruthS)
    assert(r.getAs[Long]("pc_est_micro") == 1000000L)
    assert(r.getAs[Long]("pc_exact_micro") == 1000000L)
    assert(r.getAs[Boolean]("within_bound"))
  }

  // ---------------------------------------------------- q274 fixture
  test("q274: a dup arriving in batch 2 of a doc KEPT in batch 1 is " +
    "dropped as dup_of_keep — where one-shot q111 calls it dup_in_drop") {
    // doc 30 hits all three drop rules: batch 1 gets its exact copy
    // (+1M) and its token-reversed copy (+3M, novel -> kept, ENTERS the
    // keep-set); batch 2 gets the second reversed copy (+4M) — an exact
    // dup of a doc that was only kept one micro-batch earlier.
    val dir = stageDocs(Seq(
      (7L, "unrelated words here entirely distinct from everything else"),
      (10L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (30L, "one two three four five six seven eight nine ten")))
    val got = SparkEntry.queries("q274_streaming_inc_dedup")(spark, dir)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1000010L, "dup_of_keep", 10L),
      (1L, 1000030L, "dup_of_keep", 30L),
      (1L, 3000030L, "kept", 3000030L),
      (2L, 4000030L, "dup_of_keep", 3000030L)), s"got $got")
    // the same fixture through ONE-SHOT q111: +4M and +3M land in the
    // same drop, so the identical pair is dup_in_drop there — arrival
    // order is part of streaming semantics
    val oneShot = SparkEntry.queries("q111_incremental_dedup")(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(oneShot.find(_._1 == 4000030L).get ==
      ((4000030L, "dup_in_drop", 3000030L)), s"one-shot $oneShot")
    assert(oneShot.find(_._1 == 3000030L).get._2 == "kept")
  }

  // ---------------------------------------------------- q271 fixture
  /** Pure-Scala reference replay of batch-greedy BPE: per round, count
    * weighted adjacent pairs, greedily select up to `cap` pairs with
    * pairwise-disjoint symbol sets in (count DESC, pair ASC) order,
    * apply all left-to-right, emit (seq, round, pos, l, r, count,
    * round-end Σ freq·|syms|). */
  private def refBatchedBpe(words: Seq[(String, Long)], rounds: Int,
      cap: Int): Seq[(Long, Long, Long, String, String, Long, Long)] = {
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
      .empty[(Long, Long, Long, String, String, Long, Long)]
    var seq = 0L
    for (round <- 1 to rounds) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((f, syms) <- segs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val ordered = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }
      val used = scala.collection.mutable.Set.empty[String]
      val batch = scala.collection.mutable.Buffer.empty[(String, String, Long)]
      for (((l, r), c) <- ordered if batch.size < cap)
        if (!used(l) && !used(r)) {
          used += l; used += r; used += l + r; batch += ((l, r, c))
        }
      for ((l, r, _) <- batch)
        segs = segs.map { case (f, syms) => (f, greedyMerge(syms, l, r)) }
      val total = segs.map { case (f, syms) => f * syms.length }.sum
      batch.zipWithIndex.foreach { case ((l, r, c), j) =>
        seq += 1
        out += ((seq, round.toLong, (j + 1).toLong, l, r, c, total))
      }
    }
    out.toSeq
  }

  test("q271: batched BPE on a constructed corpus matches the pure-Scala " +
    "reference; symbol-sharing pairs defer to later rounds; empty rounds " +
    "emit nothing") {
    // words: the x5, she x3, cat x4. Round 1 pairs: he:8 th:5 at:4 ca:4
    // sh:3 — greedy selects he{h,e} and at{a,t}; th (shares h), ca
    // (shares a), sh (shares h) all DEFER. Round 2: (t,he):5 (c,at):4
    // both select; (s,he) defers again. Round 3: (s,he):3. Rounds 4-5:
    // no pairs left -> no rows (the empty-round path on both engines).
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_batch_").toString
    Seq((1L, "the the the the the"), (2L, "she she she"),
        (3L, "cat cat cat cat"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q271_bpe_batched_train")(spark, tmp)
      .as[(Long, Long, Long, String, String, Long, Long)].collect().toSeq
    val expect = refBatchedBpe(
      Seq("the" -> 5L, "she" -> 3L, "cat" -> 4L), rounds = 5, cap = 8)
    assert(got == expect, s"got $got\nexpect $expect")
    // the deferral structure itself, pinned explicitly
    assert(got.filter(_._2 == 1L).map(r => (r._4, r._5)) ==
      Seq(("h", "e"), ("a", "t")))
    assert(got.filter(_._2 == 2L).map(r => (r._4, r._5)) ==
      Seq(("t", "he"), ("c", "at")))
    assert(got.filter(_._2 == 3L).map(r => (r._4, r._5)) == Seq(("s", "he")))
    assert(!got.exists(_._2 >= 4L), "rounds with no pairs must emit nothing")
  }

  /** Events staged as raw µs-long ts (the magnitude-CASE fallback). */
  private def stageEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_r10e_").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  private def dayUs(day: Int): Long = // 2024-01-<day> 12:00 UTC in µs
    (java.time.LocalDate.of(2024, 1, day).toEpochDay * 86400L + 43200L) * 1000000L

  // ---------------------------------------------------- q275
  test("q275: salted two-stage distinct equals the plain countDistinct " +
    "(partition identity) and spreads state across buckets") {
    val got = SparkEntry.queries("q275_salted_exact_distinct")(
        spark, "/root/testdata/sf0.001").collect()
    val direct = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n"), count(lit(1)).as("ne"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (nu, ne) = direct(t)
      assert(r.getAs[Long]("n_users") == nu,
        s"$t: salted sum ${r.getAs[Long]("n_users")} != direct $nu")
      assert(r.getAs[Long]("n_events") == ne)
      val buckets = r.getAs[Long]("n_buckets_used")
      val maxB = r.getAs[Long]("max_bucket_distinct")
      assert(buckets >= 1L && buckets <= 32L)
      // pigeonhole lower bound and sanity upper bound
      assert(maxB * buckets >= nu && maxB <= nu)
      // load balance from the finalized hash: the hottest bucket holds
      // well under half the users once there are enough to spread
      if (nu >= 64) assert(maxB * 2 < nu,
        s"$t: max bucket $maxB of $nu users — salt not spreading")
    }
  }

  // ---------------------------------------------------- q276 fixture
  test("q276: equi-depth selectivity on a uniform fixture — fractional " +
    "buckets interpolate exactly; estimate meets the exact count") {
    // 32 orders at cents = k*10^6 (k = 1..32) -> 16 buckets of 2; the
    // [5M, 20M) probe covers k = 5..19: 7 fully-contained buckets
    // (n*width DIV width = n exactly) and the {19,20} bucket at
    // overlap 10^6 of width 10^6+1 -> 2*10^6 DIV (10^6+1) = 1.
    val tmp = java.nio.file.Files.createTempDirectory("graft_eqd_").toString
    (1 to 32).map(k => (k.toLong, k * 10000.0))
      .toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    val r = SparkEntry.queries("q276_equidepth_selectivity")(spark, tmp)
      .collect().head
    assert(r.getAs[Long]("n_rows") == 32L)
    assert(r.getAs[Long]("exact_rows") == 15L)
    assert(r.getAs[Long]("est_rows") == 15L)
    assert(r.getAs[Long]("sel_est_ppm") == 1000000L * 15 / 32)
    assert(r.getAs[Long]("sel_exact_ppm") == 1000000L * 15 / 32)
  }

  // ---------------------------------------------------- q277 fixture
  test("q277: PSI on a constructed full-shift drift — terms match the " +
    "hand formula, symmetric bins carry equal terms, empty bins zero") {
    // A window (days 1-15): 20 purchases at $10 (bin 0); B window
    // (days 16-30): 20 at $260 (bin 5). With add-one smoothing over 10
    // bins: p_present = 21/30, p_absent = 1/30; only bins 0 and 5
    // carry mass and their terms are equal by symmetry.
    val rows =
      (0 until 20).map(i => (i.toLong, dayUs(1 + i % 15), 100L + i,
        "purchase", 10.0)) ++
      (0 until 20).map(i => (200L + i, dayUs(16 + i % 15), 300L + i,
        "purchase", 260.0))
    val dir = stageEvents(rows)
    val got = SparkEntry.queries("q277_psi_drift")(spark, dir)
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(got.length == 10)
    val paP = 1000000L * 21 / 30 // present side
    val paA = 1000000L * 1 / 30  // absent side
    val lnP = math.round(math.log(21.0 * 30 / (1.0 * 30)) * 1e6)
    val term = (paP - paA) * lnP
    val b0 = got(0)
    assert(b0.getAs[Long]("ca") == 20L && b0.getAs[Long]("cb") == 0L)
    assert(b0.getAs[Long]("pa_micro") == paP && b0.getAs[Long]("pb_micro") == paA)
    assert(b0.getAs[Long]("ln_micro") == lnP)
    assert(b0.getAs[Long]("psi_term_pico") == term)
    val b5 = got(5)
    assert(b5.getAs[Long]("ca") == 0L && b5.getAs[Long]("cb") == 20L)
    assert(b5.getAs[Long]("ln_micro") == -lnP)
    assert(b5.getAs[Long]("psi_term_pico") == term,
      "mirror bin must carry the SAME positive term")
    got.zipWithIndex.filterNot(x => x._2 == 0 || x._2 == 5).foreach { case (r, _) =>
      assert(r.getAs[Long]("psi_term_pico") == 0L)
      assert(r.getAs[Long]("ln_micro") == 0L)
    }
    assert(got.head.getAs[Long]("psi_total_pico") == 2 * term)
    // the canonical PSI>0.2 "significant shift" threshold in pico units
    assert(got.head.getAs[Long]("psi_total_pico") > 200000L * 1000000L,
      "a full distribution shift must read as significant")
  }

  // ---------------------------------------------------- q278 fixture
  test("q278: priority sampling matches a pure-Scala DLT replay on a " +
    "small population, and degenerates to the exact sum when n <= k") {
    import graft.functions.Hashing
    // 40 orders (< k = 64): the whole population is the sample, tau = 0
    // and both estimates equal the exact sums
    val tmp = java.nio.file.Files.createTempDirectory("graft_dlt_").toString
    val rows = (1 to 40).map { i =>
      (i.toLong, if (i % 3 == 0) "1-URGENT" else "3-MEDIUM", i * 1000.0)
    }
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    val r = SparkEntry.queries("q278_priority_sampling")(spark, tmp)
      .collect().head
    val exactTotal = rows.map(t => math.round(t._3 * 100)).sum
    val exactUrgent = rows.filter(_._2 == "1-URGENT")
      .map(t => math.round(t._3 * 100)).sum
    assert(r.getAs[Long]("n_rows") == 40L)
    assert(r.getAs[Long]("tau_w") == 0L)
    assert(r.getAs[Long]("est_total_cents") == exactTotal)
    assert(r.getAs[Long]("est_urgent_cents") == exactUrgent)
    assert(r.getAs[Long]("exact_total_cents") == exactTotal)
    assert(r.getAs[Long]("exact_urgent_cents") == exactUrgent)
    // independent replay of the hash -> priority chain on sf0.001:
    // recompute every priority in Scala, take the top 65, and pin the
    // engine's tau_w and estimate
    val o = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
    val pri = o.map { row =>
      val key = row.getLong(0)
      val w = math.round(row.getDouble(2) * 100)
      val u = (Hashing.fmix64(Hashing.fnv1a64(
        s"prio:$key".getBytes("UTF-8"))) >>> 32) + 1L
      (key, row.getString(1), w, w * 4294967296L / u)
    }
    val sorted = pri.sortBy(t => (-t._4, t._1))
    val (tau, sample) =
      if (sorted.length <= 64) (0L, sorted.toSeq)
      else (sorted(64)._4, sorted.take(64).toSeq)
    val tauW = tau / 4294967296L
    val estTotal = sample.map(t => math.max(t._3, tauW)).sum
    val estUrgent = sample.filter(_._2 == "1-URGENT")
      .map(t => math.max(t._3, tauW)).sum
    val rr = SparkEntry.queries("q278_priority_sampling")(
        spark, "/root/testdata/sf0.001").collect().head
    assert(rr.getAs[Long]("tau_w") == tauW)
    assert(rr.getAs[Long]("est_total_cents") == estTotal)
    assert(rr.getAs[Long]("est_urgent_cents") == estUrgent)
  }

  // ---------------------------------------------------- q279 fixture
  test("q279: skyline keeps exactly the non-dominated pairs (ties " +
    "merge, equal-one-dim dominance prunes) and is a strict staircase") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sky_").toString
    // (cents, day): (100,10)x2 frontier; (100,12) dominated same-cents;
    // (200,5) frontier; (200,8) dominated; (300,5) dominated by (200,5)
    // at equal day; (150,11) dominated by (100,10)
    Seq((1L, 1.00, "1996-01-11"), (2L, 1.00, "1996-01-11"),
        (3L, 1.00, "1996-01-13"), (4L, 2.00, "1996-01-06"),
        (5L, 2.00, "1996-01-09"), (6L, 3.00, "1996-01-06"),
        (7L, 1.50, "1996-01-12"))
      .toDF("o_orderkey", "o_totalprice", "ds")
      .withColumn("o_orderdate", col("ds").cast("timestamp")).drop("ds")
      .withColumn("o_orderpriority", lit("X"))
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    val day0 = java.time.LocalDate.parse("1996-01-11").toEpochDay
    val got = SparkEntry.queries("q279_pareto_frontier")(spark, tmp)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("X", 1L, 100L, day0, 2L),
      ("X", 2L, 200L, day0 - 5, 1L)), s"got $got")
    // structural invariant on the real corpus: per class the frontier
    // is strictly increasing in cents and strictly decreasing in day,
    // and no frontier point is dominated by ANY distinct point
    val o = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
      .selectExpr("o_orderpriority AS prio",
        "CAST(round(o_totalprice * 100) AS LONG) AS cents",
        "CAST(datediff(o_orderdate, DATE'1970-01-01') AS LONG) AS day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val front = SparkEntry.queries("q279_pareto_frontier")(
        spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    front.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._3) == sorted.map(_._3).distinct.sorted,
        "cents must be strictly increasing")
      assert(sorted.map(_._4) == sorted.map(_._4).distinct.sortBy(-(_: Long)),
        "day must be strictly decreasing")
    }
    front.foreach { case (p, _, c, d, _) =>
      assert(!o.exists(t => t._1 == p && t._2 <= c && t._3 <= d
        && (t._2 < c || t._3 < d)), s"($p,$c,$d) is dominated")
    }
  }

  // ---------------------------------------------------- q280 fixture
  test("q280: Kaplan-Meier log-curve on a hand cohort — censoring " +
    "counts at-risk time, pre-signup purchases don't convert, an " +
    "n = d day becomes the zero tail") {
    // u1: signup d1, purchase d3 (T=2 ev); u2: signup d1, purchase d1
    // (T=0 ev); u3: signup d2, never purchases (censored at H-2 = 8);
    // u4: signup d1, purchase d10 = horizon (T=9 ev, n=d -> zero
    // tail); u5: purchase d3 BEFORE its signup d5 (must not count),
    // then d7 (T=2 ev).
    val rows = Seq(
      (1L, dayUs(1), 1L, "signup", 1.0), (2L, dayUs(3), 1L, "purchase", 1.0),
      (3L, dayUs(1), 2L, "signup", 1.0), (4L, dayUs(1), 2L, "purchase", 1.0),
      (5L, dayUs(2), 3L, "signup", 1.0),
      (6L, dayUs(1), 4L, "signup", 1.0), (7L, dayUs(10), 4L, "purchase", 1.0),
      (8L, dayUs(3), 5L, "purchase", 1.0), (9L, dayUs(5), 5L, "signup", 1.0),
      (10L, dayUs(7), 5L, "purchase", 1.0))
    val dir = stageEvents(rows)
    val got = SparkEntry.queries("q280_survival_km")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    def ls(n: Long, d: Long) = math.round(math.log((n - d).toDouble / n) * 1e6)
    val s0 = ls(5, 1) // t=0: n=5 d=1 (u2)
    val s2 = ls(4, 2) // t=2: n=4 d=2 (u1, u5)
    // t=9 (u4): n=1 d=1 -> excluded, zero_tail carries it
    assert(got == Seq(
      (0L, 5L, 5L, 1L, s0, s0, true),
      (2L, 5L, 4L, 2L, s2, s0 + s2, true)), s"got $got")
  }

  // ---------------------------------------------------- q281 fixture
  test("q281: PIT lookup attributes ship dates to the era active at " +
    "ship time — boundary day flips to the new era, zero-length " +
    "same-date eras never match, pre-history ships are none") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pit_").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(1970, 1, 1).plusDays(day).atStartOfDay)
    // customer 1: eras k1@d10, k2@d20; customer 2: k3@d10 and k4@d10
    // (same date -> k3's era is zero-length)
    Seq((1L, 1L, ts(10)), (2L, 1L, ts(20)), (3L, 2L, ts(10)), (4L, 2L, ts(10)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.parquet(s"$tmp/orders.parquet")
    // ship d5 on k1 -> none; d15 on k2 -> earlier (k1 active, own k2
    // newer); d12 on k1 -> own; d25 on k1 -> later (k2 active);
    // d20 EXACTLY on k1 -> later (boundary belongs to the new era);
    // d10 on k3 -> later via k4 (zero-length k3 era skipped)
    Seq((1L, 0.01, ts(5)), (2L, 0.02, ts(15)), (1L, 0.04, ts(12)),
        (1L, 0.08, ts(25)), (1L, 0.16, ts(20)), (3L, 0.32, ts(10)))
      .toDF("l_orderkey", "l_extendedprice", "l_shipdate")
      .coalesce(1).write.parquet(s"$tmp/lineitem.parquet")
    val got = SparkEntry.queries("q281_scd2_point_in_time")(spark, tmp)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a_none", 1L, 1L),
      ("b_earlier_era", 1L, 2L),
      ("c_own_era", 1L, 4L),
      ("d_later_era", 3L, 8L + 16L + 32L)), s"got $got")
  }

  // ---------------------------------------------------- q282 fixture
  test("q282: KS on a full shift reads D = 1 and significant; on " +
    "identical samples D = 0 and insignificant") {
    val shifted = stageEvents(
      (0 until 20).map(i => (i.toLong, dayUs(1 + i % 15), 100L + i,
        "purchase", 10.0)) ++
      (0 until 20).map(i => (200L + i, dayUs(16 + i % 15), 300L + i,
        "purchase", 260.0)))
    val r = SparkEntry.queries("q282_ks_two_sample")(spark, shifted)
      .collect().head
    assert(r.getAs[Long]("na") == 20L && r.getAs[Long]("nb") == 20L)
    assert(r.getAs[Long]("d_num") == 400L, "full shift -> D = 1 = na*nb/400")
    assert(r.getAs[Long]("d_micro") == 1000000L)
    assert(r.getAs[Boolean]("ks_significant"))
    val same = stageEvents(
      (0 until 10).map(i => (i.toLong, dayUs(1 + i % 15), 100L + i,
        "purchase", 10.0)) ++
      (0 until 10).map(i => (200L + i, dayUs(16 + i % 15), 300L + i,
        "purchase", 10.0)))
    val r2 = SparkEntry.queries("q282_ks_two_sample")(spark, same)
      .collect().head
    assert(r2.getAs[Long]("d_num") == 0L)
    assert(!r2.getAs[Boolean]("ks_significant"))
  }

  // ---------------------------------------------------- q271 job shape
  test("q271: job count scales with COUNT ROUNDS, not merges (>=16 " +
    "merges trained in under one job per merge)") {
    // The q213 sequential trainer pays >= 2 driver-blocking jobs per
    // merge; the batched trainer pays ~4 per ROUND (pair-table sort
    // sample + collect, checkpoint materialization via the round
    // checksum, initial ckpt amortized). With 5 rounds the bound is
    // rounds-shaped: <= 5*5 + 5 = 30 regardless of how many merges the
    // batches carry — on sf0.001 that is >= 16 merges, i.e. strictly
    // fewer jobs than merges where the sequential shape needs 2x.
    SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
      val (merges, p) = QueryProfile.of(spark) {
        SparkEntry.queries("q271_bpe_batched_train")(
          spark, "/root/testdata/sf0.001").count()
      }
      val n = p.jobs
      assert(merges >= 16L, s"expected >= 16 merges, got $merges")
      assert(n <= 30, s"job count must be rounds-shaped (<= 30), got $n")
      assert(n < merges, s"jobs ($n) must undercut merges ($merges) — " +
        "the sequential shape can't")
    }
  }
}

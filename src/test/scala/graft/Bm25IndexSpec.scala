package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.IndexTxn.Point
import graft.obs.QueryProfile
import graft.text.Bm25Index

/** Commit-protocol and probe-IO pins for the persisted BM25 index —
  * the same bar IndexedDedupSpec holds the dedup indexes to:
  * crash-injected atomicity (readers stay on the pre-batch snapshot of
  * ALL THREE indexes, replay converges bit-identically), profiled
  * proof that query IO tracks the query's terms, not the index size,
  * and retraction: a retracted index equals a fresh bootstrap on the
  * remaining corpus, also after a crashed retract is replayed. */
class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def boot(docs: DataFrame, cap: Long, rowCap: Long = 64L) =
    Bm25Index.bootstrap(spark, docs, cap, tmp("b25s_t_"), tmp("b25s_d_"),
      tmp("b25s_g_"), tmp("b25s_m_"), rowCap)

  /** Full state fingerprint: every row of all three indexes through the
    * committed manifest, plus (version, batchSeq). */
  private def snapshot(idx: Bm25Index.Indexes) = {
    val st = idx.manifest.read().get
    (st.version, st.batchSeq,
      idx.term.allRows(st.buckets("term"))
        .as[(String, String, Long, Long)].collect().toSet,
      idx.doc.allRows(st.buckets("doc")).as[(Long, Long)].collect().toSet,
      idx.stats.allRows(st.buckets("stats"))
        .as[(String, Long, Long)].collect().toSet)
  }

  private def queryRows(idx: Bm25Index.Indexes): Seq[(Long, Long, Double)] =
    Bm25Index.query(spark, idx, Seq("alpha", "beta", "hot"), k = 8)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)

  private def crashCase(arm: (() => Unit) => Unit,
                        reset: () => Unit): Unit = {
    // 'hot' crosses cap 3 when the batch lands, so the term rewrite
    // both tombstones and inserts, and the doc + stats rewrites follow
    val keep = mkDocs(Seq(
      1L -> "alpha beta hot w1 w2", 2L -> "alpha hot w3 w4",
      3L -> "beta hot w5 w6"))
    val b1 = mkDocs(Seq(
      11L -> "alpha hot x1 x2", 12L -> "beta x3 x4 x5"))
    val control = boot(keep, cap = 3L)
    Bm25Index.mergeBatch(spark, control, b1, 1L, maxTermDf = 3L)
    val ctrlState = snapshot(control)
    val ctrlQuery = queryRows(control)
    assert(ctrlState._3.exists(_._3 == -1L),
      "fixture must cross the df cap so the tombstone path runs")

    val crashed = boot(keep, cap = 3L)
    val preState = snapshot(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    arm(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        Bm25Index.mergeBatch(spark, crashed, b1, 1L, maxTermDf = 3L)
      }
    } finally reset()
    // the manifest never moved: readers see the pre-batch snapshot of
    // all three indexes, whatever was half-written on disk
    assert(snapshot(crashed) == preState,
      "a crashed attempt leaked into the committed snapshot")
    // replay converges bit-identically to the uncrashed control
    Bm25Index.mergeBatch(spark, crashed, b1, 1L, maxTermDf = 3L)
    val rs = snapshot(crashed)
    assert(rs._2 == ctrlState._2 && rs._3 == ctrlState._3 &&
        rs._4 == ctrlState._4 && rs._5 == ctrlState._5,
      "post-crash replay state differs from the uncrashed control")
    assert(queryRows(crashed) == ctrlQuery,
      "post-crash replay query results differ")
  }

  test("Bm25Index: crash BETWEEN the term and doc rewrites — manifest " +
    "holds the pre-batch snapshot of all three indexes, replay " +
    "converges bit-identically") {
    crashCase(
      hook => CrashPoints.arm(Point.Bm25BetweenWrites)(hook),
      () => CrashPoints.disarm())
  }

  test("Bm25Index: crash AFTER all rewrites, BEFORE the manifest " +
    "rename — same guarantee (the rename is the only commit point)") {
    crashCase(
      hook => CrashPoints.arm(Point.Bm25Staged)(hook),
      () => CrashPoints.disarm())
  }

  test("CuratedIndexes: df counts KEPT docs only — a batch whose " +
    "duplicates alone would push a term over the cap leaves it " +
    "untombstoned, and the index equals a bootstrap of the kept corpus") {
    import graft.curation.CuratedIndexes
    val keep = Seq(1L -> "z a1 a2 a3", 2L -> "z b1 b2 b3")
    // 10 is kept; 11 and 12 copy it. df(z) over kept docs = 3 = cap, over
    // every batch doc 5 > cap
    val batch = Seq(10L -> "z c1 c2 c3 c4", 11L -> "z c1 c2 c3 c4",
      12L -> "z c1 c2 c3 c4")
    val idx = CuratedIndexes.bootstrap(spark, mkDocs(keep), k = 2,
      maxShingleDf = 10, maxTermDf = 3L, tmp("b25k_si_"), tmp("b25k_di_"),
      tmp("b25k_t_"), tmp("b25k_d_"), tmp("b25k_g_"), tmp("b25k_m_"),
      rowCap = 64L)
    val v = CuratedIndexes.processBatch(spark, idx, mkDocs(batch), 1L,
        k = 2, threshold = 0.3, maxShingleDf = 10, maxTermDf = 3L)
      .as[(Long, String, Long)].collect().toSet
    assert(v == Set((10L, "kept", 10L), (11L, "dup_in_drop", 10L),
      (12L, "dup_in_drop", 10L)))
    val st = idx.dedup.manifest.read().get
    val b = idx.bm25
    val got = (
      b.term.allRows(st.buckets(b.termName))
        .as[(String, String, Long, Long)].collect().toSet,
      b.doc.allRows(st.buckets(b.docName)).as[(Long, Long)].collect().toSet,
      b.stats.allRows(st.buckets(b.statsName))
        .as[(String, Long, Long)].collect().toSet)
    assert(!got._1.exists(_._3 == -1L), s"a term was tombstoned: ${got._1}")
    val want = snapshot(boot(mkDocs(keep :+ batch.head), cap = 3L))
    assert(got == ((want._3, want._4, want._5)),
      "merged index differs from a bootstrap of the kept corpus")
  }

  // ------------------------------------------------ probe IO

  test("Bm25Index: query IO is bucket-slack-bounded, not corpus-" +
    "tracking — records read PLATEAU as the index grows with " +
    "UNRELATED terms") {
    // base: 50 docs carrying the query terms + per-doc filler terms
    def doc(i: Int, extra: String) =
      (i.toLong, s"alpha beta $extra f${i}a f${i}b f${i}c")
    val base = mkDocs((1 to 50).map(i => doc(i, s"s$i")))
    val idx = boot(base, cap = 65536L, rowCap = 128L)
    def grow(from: Int, n: Int, seq: Long): Unit = {
      Bm25Index.mergeBatch(spark, idx,
        mkDocs((from until from + n).map(i =>
          (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))),
        seq, maxTermDf = 65536L)
    }
    def q(): Long = QueryProfile.of(spark) {
      Bm25Index.query(spark, idx, Seq("alpha", "beta"), k = 5).count()
    }._2.recordsRead
    grow(1001, 800, 1L) // 17x the base rows
    val buckets1 = idx.manifest.read().get.buckets("term").size
    val r1 = q()
    grow(10001, 800, 2L) // 33x the base rows
    val buckets2 = idx.manifest.read().get.buckets("term").size
    val r2 = q()
    assert(buckets2 > buckets1,
      "the second growth must split more buckets for the pin to bind")
    // the query touches <= |terms|*16 posting buckets of <= rowCap rows
    // plus the matched docs' length buckets and the stats row: a hard
    // index-size-independent cap. Doubling the index again must NOT
    // move records read materially (a corpus-tracking scan would 2x).
    assert(r2 <= (r1 * 3) / 2,
      s"query IO tracked the corpus: $r1 records (17x) -> $r2 (33x)")
    val hardCap = (2 * Bm25Index.Shards + 10) * 128L
    assert(r2 <= hardCap, s"probe read $r2 > slack bound $hardCap")
  }

  // ------------------------------------------ zero-df tombstone re-audit

  /** 'hot' in docs 1,2,3 — df 3 > cap 2; retract all three. */
  private val ZBm25Keep = Seq(
    1L -> "hot p q", 2L -> "hot r s", 3L -> "hot t u",
    4L -> "alpha w x")
  private val ZRetractIds = Set(1L, 2L, 3L)

  private def bm25Boot(docs: DataFrame): Bm25Index.Indexes = boot(docs, 2L)

  /** [[snapshot]] without the manifest's version and batch id. */
  private def bm25State(idx: Bm25Index.Indexes) = {
    val (_, _, term, doc, stats) = snapshot(idx)
    (term, doc, stats)
  }

  test("Bm25Index.retractBatch: a tombstoned term whose remaining-corpus " +
    "df drops to ZERO is un-tombstoned — no permanent retrieval " +
    "suppression, retract == fresh bootstrap") {
    val keep = mkDocs(ZBm25Keep)
    val retract = mkDocs(ZBm25Keep.filter(r => ZRetractIds(r._1)))
    val remaining = mkDocs(ZBm25Keep.filterNot(r => ZRetractIds(r._1)))
    val idx = bm25Boot(keep)
    val (t0, _, _) = bm25State(idx)
    assert(t0.exists(r => r._2 == "hot" && r._3 == -1L),
      "fixture must tombstone 'hot'")
    Bm25Index.retractBatch(spark, idx, retract, 1L, maxTermDf = 2L,
      retained = Some(remaining))
    val st1 = bm25State(idx)
    assert(!st1._1.exists(_._2 == "hot"),
      s"zero-df term must vanish entirely (tombstone included): ${st1._1}")
    assert(bm25State(bm25Boot(remaining)) == st1,
      "retract(all containing docs) must equal a fresh bootstrap")
    // future merges index the term again — retrieval is NOT suppressed
    Bm25Index.mergeBatch(spark, idx,
      mkDocs(Seq(201L -> "hot fresh doc")), 2L, maxTermDf = 2L)
    val hits = Bm25Index.query(spark, idx, Seq("hot"), k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(201L),
      s"'hot' must be retrievable after re-indexing: $hits")
  }

  // ------------------------------------------------ retract

  /** 'hot' in docs 1,2,3: df 3 > cap 2 — tombstoned at bootstrap;
    * retracting 2,3 re-audits it back to a live posting list. */
  private val Bm25Keep = Seq(
    1L -> "hot alpha p q", 2L -> "hot r s", 3L -> "hot t u v",
    4L -> "alpha w x")
  private val Bm25RetractIds = Set(2L, 3L)

  test("Bm25Index.retractBatch == bootstrap on the remaining corpus: " +
    "postings/doc rows gone, stats decremented exactly, touched " +
    "tombstones re-audited") {
    val keep = mkDocs(Bm25Keep)
    val retract = mkDocs(Bm25Keep.filter(r => Bm25RetractIds(r._1)))
    val remaining = mkDocs(Bm25Keep.filterNot(r => Bm25RetractIds(r._1)))
    val idx = bm25Boot(keep)
    val (t0, _, g0) = bm25State(idx)
    assert(t0.exists(r => r._2 == "hot" && r._3 == -1L),
      "fixture must tombstone 'hot'")
    assert(g0 == Set(("g", 4L, 14L)), g0.toString)
    Bm25Index.retractBatch(spark, idx, retract, 1L, maxTermDf = 2L,
      retained = Some(remaining))
    val fresh = bm25Boot(remaining)
    assert(bm25State(idx) == bm25State(fresh),
      "retract(batch) must be content-equivalent to a fresh bootstrap")
    val (t1, d1, g1) = bm25State(idx)
    assert(t1.exists(r => r._2 == "hot" && r._3 == 1L && r._4 == 1L),
      "un-tombstoned posting must be restored")
    assert(!t1.exists(_._3 == -1L), "tombstone must be re-audited away")
    assert(d1 == Set((1L, 4L), (4L, 3L)))
    assert(g1 == Set(("g", 2L, 7L)), "stats must decrement exactly")
    // retrieval equals a one-shot scorer over the remaining corpus
    val got = Bm25Index.query(spark, idx, Seq("alpha", "hot"), k = 4)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = graft.text.Retrieval.bm25TopK(
        remaining.withColumn("part", lit(0)), "part", "doc_id", "text",
        Seq("alpha", "hot"), k = 4)
      .select(col("rank").cast("long"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == oneShot)
  }

  private def retractCrashCase(arm: (() => Unit) => Unit,
                            reset: () => Unit): Unit = {
    val keep = mkDocs(Bm25Keep)
    val retract = mkDocs(Bm25Keep.filter(r => Bm25RetractIds(r._1)))
    val remaining = mkDocs(Bm25Keep.filterNot(r => Bm25RetractIds(r._1)))
    val control = bm25Boot(keep)
    Bm25Index.retractBatch(spark, control, retract, 1L, maxTermDf = 2L,
      retained = Some(remaining))
    val ctrl = bm25State(control)
    val crashed = bm25Boot(keep)
    val pre = bm25State(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    arm(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        Bm25Index.retractBatch(spark, crashed, retract, 1L, maxTermDf = 2L,
          retained = Some(remaining))
      }
    } finally reset()
    assert(bm25State(crashed) == pre,
      "a crashed retract leaked into the committed snapshot")
    Bm25Index.retractBatch(spark, crashed, retract, 1L, maxTermDf = 2L,
      retained = Some(remaining))
    assert(bm25State(crashed) == ctrl,
      "post-crash retract replay differs from the uncrashed control")
  }

  test("Bm25Index.retractBatch: crash BETWEEN index rewrites — readers " +
    "hold the pre-retract snapshot, replay converges") {
    retractCrashCase(
      hook => CrashPoints.arm(Point.Bm25BetweenWrites)(hook),
      () => CrashPoints.disarm())
  }

  test("Bm25Index.retractBatch: crash BEFORE the manifest rename — " +
    "same guarantee") {
    retractCrashCase(
      hook => CrashPoints.arm(Point.Bm25Staged)(hook),
      () => CrashPoints.disarm())
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{IndexManifest, IndexedDedup}
import graft.dedup.IndexTxn.Point
import graft.obs.QueryProfile
import graft.text.Bm25Index

/** Round-13 pins: the query-TABLE BM25 entry point (VERDICT r12 #3),
  * cross-family curated commits and retractions, IVF rebuild and
  * delete crash-injection, and configurable manifest retention (#5).
  * The retraction pins of the single-family indexes live in
  * IndexedDedupSpec and Bm25IndexSpec. */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  // ------------------------------------------------ dedup fixtures

  /** 'h h' appears in docs 1,2,3 — df 3 > cap 2, tombstoned at
    * bootstrap (the curated-index fixtures below reuse it). */
  private val DedupKeep = Seq(
    1L -> "h h p q", 2L -> "h h r s", 3L -> "h h t u", 4L -> "v w x y")

  /** Content fingerprint through the committed manifest; doc-index rows
    * compared WITHOUT ver (last-writer ids legitimately differ between
    * a retracted index and a fresh bootstrap). */
  private def dedupState(idx: IndexedDedup.Indexes) = {
    val st = idx.manifest.read().get
    (idx.shingle.allRows(st.buckets(idx.shingleName))
        .as[(String, Long)].collect().toSet,
      idx.doc.allRows(st.buckets(idx.docName))
        .select("doc_id", "n_keep").as[(Long, Long)].collect().toSet)
  }

  // ------------------------------------------------ Bm25Index fixtures

  private def bm25Boot(docs: DataFrame): Bm25Index.Indexes =
    Bm25Index.bootstrap(spark, docs, maxTermDf = 2L, tmp("r13b_t_"),
      tmp("r13b_d_"), tmp("r13b_g_"), tmp("r13b_m_"), rowCap = 64L)

  private def bm25State(idx: Bm25Index.Indexes) = {
    val st = idx.manifest.read().get
    (idx.term.allRows(st.buckets(idx.termName))
        .as[(String, String, Long, Long)].collect().toSet,
      idx.doc.allRows(st.buckets(idx.docName))
        .as[(Long, Long)].collect().toSet,
      idx.stats.allRows(st.buckets(idx.statsName))
        .as[(String, Long, Long)].collect().toSet)
  }

  // ------------------------------------------------ queryTable

  test("Bm25Index.queryTable: per-query results equal query() with the " +
    "same (sorted) terms; a vocabulary-absent term contributes nothing") {
    val docs = mkDocs((1 to 40).map(i =>
      (i.toLong, s"alpha ${if (i % 2 == 0) "beta" else "gamma"} " +
        s"${if (i % 5 == 0) "alpha" else s"f$i"} w$i")))
    val idx = bm25Boot(docs)
    val workload = Seq(
      (7L, Seq("alpha", "beta")),
      (8L, Seq("gamma")),
      (9L, Seq("beta", "gamma", "zzz_absent")))
    val qdf = workload.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("query_id", "term")
    val got = Bm25Index.queryTable(spark, idx, qdf, k = 6)
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = workload.flatMap { case (q, ts) =>
      Bm25Index.query(spark, idx, ts.sorted, k = 6)
        .as[(Long, Long, Double)].collect()
        .map { case (r, d, s) => (q, r, d, s) }
    }.toSet
    assert(got == want,
      "queryTable must hash-match per-query one-shot scoring")
  }

  test("Bm25Index.queryTable: probe IO plateaus as the index grows with " +
    "unrelated terms — reads track the workload's term union") {
    def doc(i: Int) = (i.toLong, s"alpha beta s$i f${i}a f${i}b")
    val idx = bm25Boot(mkDocs((1 to 50).map(doc)))
    val qdf = Seq((1L, "alpha"), (1L, "beta"), (2L, "beta"))
      .toDF("query_id", "term")
    def grow(from: Int, n: Int, seq: Long): Unit =
      Bm25Index.mergeBatch(spark, idx,
        mkDocs((from until from + n).map(i =>
          (i.toLong, s"u${i}a u${i}b u${i}c u${i}d"))),
        seq, maxTermDf = 2L)
    def run(): Long = QueryProfile.of(spark) {
      Bm25Index.queryTable(spark, idx, qdf, k = 5).count()
    }._2.recordsRead
    grow(1001, 600, 1L)
    val r1 = run()
    grow(10001, 600, 2L)
    val r2 = run()
    assert(r2 <= (r1 * 3) / 2,
      s"queryTable IO tracked the corpus: $r1 -> $r2 records")
  }

  // ------------------------------------------------ cross-family commit

  private def curatedBoot(docs: DataFrame) = {
    import graft.curation.CuratedIndexes
    CuratedIndexes.bootstrap(spark, docs, k = 2, maxShingleDf = 2,
      maxTermDf = 64L, tmp("r13c_si_"), tmp("r13c_di_"), tmp("r13c_t_"),
      tmp("r13c_d_"), tmp("r13c_g_"), tmp("r13c_m_"), rowCap = 64L)
  }

  private def curatedState(idx: graft.curation.CuratedIndexes.Indexes) =
    (dedupState(idx.dedup), bm25State(idx.bm25))

  test("CuratedIndexes: kept <=> searchable — the BM25 doc set equals " +
    "the dedup keep-set after every batch, dup batches index nothing") {
    import graft.curation.CuratedIndexes
    val idx = curatedBoot(mkDocs(DedupKeep))
    // one exact dup of keep doc 4 (drops) + one new doc (kept)
    val b = mkDocs(Seq(21L -> "v w x y", 22L -> "m1 m2 m3"))
    val v = CuratedIndexes.processBatch(spark, idx, b, 1L, k = 2,
      threshold = 0.3, maxShingleDf = 2, maxTermDf = 64L)
      .as[(Long, String, Long)].collect()
      .map { case (d, s, r) => (d, (s, r)) }.toMap
    assert(v(21L)._1 == "dup_of_keep" && v(22L)._1 == "kept")
    val st = idx.dedup.manifest.read().get
    val dedupDocs = idx.dedup.doc.allRows(st.buckets(idx.dedup.docName))
      .select("doc_id").as[Long].collect().toSet
    val bm25Docs = idx.bm25.doc.allRows(st.buckets(idx.bm25.docName))
      .select("doc_id").as[Long].collect().toSet
    assert(dedupDocs == bm25Docs,
      s"kept<=>searchable broken: dedup=$dedupDocs bm25=$bm25Docs")
    assert(bm25Docs == DedupKeep.map(_._1).toSet + 22L)
    // cross-family retraction under the same single commit
    CuratedIndexes.retractBatch(spark, idx,
      mkDocs(Seq(22L -> "m1 m2 m3")), 2L, k = 2, maxShingleDf = 2,
      maxTermDf = 64L, retained = Some(mkDocs(DedupKeep)))
    val st2 = idx.dedup.manifest.read().get
    assert(st2.batchSeq == 2L)
    val after = idx.bm25.doc.allRows(st2.buckets(idx.bm25.docName))
      .select("doc_id").as[Long].collect().toSet
    assert(after == DedupKeep.map(_._1).toSet,
      "retraction must leave both families on the remaining corpus")
  }

  test("CuratedIndexes: crash BETWEEN the families' staged rewrites — " +
    "readers of BOTH families hold the pre-batch snapshot, replay " +
    "converges bit-identically and re-emits the same verdicts") {
    import graft.curation.CuratedIndexes
    val b = mkDocs(Seq(21L -> "v w x y", 22L -> "m1 m2 m3"))
    def run(i: graft.curation.CuratedIndexes.Indexes) =
      CuratedIndexes.processBatch(spark, i, b, 1L, k = 2,
        threshold = 0.3, maxShingleDf = 2, maxTermDf = 64L)
        .as[(Long, String, Long)].collect().toSet
    val control = curatedBoot(mkDocs(DedupKeep))
    val ctrlVerdicts = run(control)
    val ctrl = curatedState(control)
    val crashed = curatedBoot(mkDocs(DedupKeep))
    val pre = curatedState(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BetweenFamilies)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] { run(crashed); () }
    } finally CrashPoints.disarm()
    assert(curatedState(crashed) == pre,
      "a crash between families leaked into the committed snapshot")
    assert(run(crashed) == ctrlVerdicts,
      "post-crash replay verdicts differ from the uncrashed control")
    assert(curatedState(crashed) == ctrl,
      "post-crash replay state differs from the uncrashed control")
    // a replay of the COMMITTED batch is read-only and changes nothing
    assert(run(crashed) == ctrlVerdicts)
    assert(curatedState(crashed) == ctrl)
    assert(crashed.dedup.manifest.read().get.batchSeq == 1L)
  }

  test("CuratedIndexes: crash BETWEEN the families during a RETRACTION " +
    "— both hold the pre-takedown snapshot, the retry converges") {
    import graft.curation.CuratedIndexes
    val retract = mkDocs(Seq(2L -> "h h r s"))
    val retained = mkDocs(DedupKeep.filterNot(_._1 == 2L))
    def doRetract(i: graft.curation.CuratedIndexes.Indexes): Unit =
      CuratedIndexes.retractBatch(spark, i, retract, 1L, k = 2,
        maxShingleDf = 2, maxTermDf = 64L, retained = Some(retained))
    val control = curatedBoot(mkDocs(DedupKeep))
    doRetract(control)
    val ctrl = curatedState(control)
    val crashed = curatedBoot(mkDocs(DedupKeep))
    val pre = curatedState(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BetweenFamilies)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] { doRetract(crashed) }
    } finally CrashPoints.disarm()
    assert(curatedState(crashed) == pre,
      "a crashed cross-family retract leaked into the committed snapshot")
    doRetract(crashed)
    assert(curatedState(crashed) == ctrl,
      "post-crash retract replay differs from the uncrashed control")
    // the committed retract replays as a no-op
    doRetract(crashed)
    assert(curatedState(crashed) == ctrl)
    assert(crashed.dedup.manifest.read().get.batchSeq == 1L)
  }

  // ------------------------------------------------ IVF rebuild commit

  test("IvfIndex.rebuild: crash AFTER the new generation is written, " +
    "BEFORE the manifest rename — readers stay on the old layout, the " +
    "retry converges; a second rebuild flips generations and gc keeps " +
    "the retained ones") {
    import graft.similarity.{Clustering, IvfIndex}
    def vec(i: Int): Array[Float] =
      Array(i.toFloat, (i % 7).toFloat, (i % 3).toFloat)
    val emb = (1 to 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val seeds = Clustering.seedCentroids(emb, "vec_id", "embedding", 4)
    def build(): String = {
      val d = tmp("r13ivf_")
      (0 until 2).foreach { i =>
        IvfIndex.mergeBatch(emb.where(pmod(col("vec_id"), lit(2)) === i),
          "vec_id", "embedding", seeds, d, i + 1L)
      }
      d
    }
    def ids(dir: String): Seq[(Int, Long)] =
      IvfIndex.readIndex(spark, dir)
        .select("cell", "vec_id").as[(Int, Long)].collect().sorted.toSeq
    val control = build()
    val ctrlRefit = IvfIndex.rebuild(spark, control, "vec_id", "embedding",
      batchSeq = 3L)
    val ctrlRows = ids(control)

    val crashed = build()
    val pre = ids(crashed)
    val preDirs = IvfIndex.liveDirs(spark, crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BeforeCommit)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        IvfIndex.rebuild(spark, crashed, "vec_id", "embedding", batchSeq = 3L)
      }
    } finally CrashPoints.disarm()
    // no manifest landed: readers still resolve the pre-rebuild layout
    assert(IvfIndex.liveDirs(spark, crashed) == preDirs,
      "a crashed rebuild flipped readers to the half-committed generation")
    assert(ids(crashed) == pre, "pre-rebuild reads changed after the crash")
    // the retry overwrites the leftover generation and converges
    val refit2 = IvfIndex.rebuild(spark, crashed, "vec_id", "embedding",
      batchSeq = 3L)
    assert(IvfIndex.liveDirs(spark, crashed).forall(_.endsWith("G3")),
      "retry must flip readers to the rebuilt generation")
    assert(ids(crashed) == ctrlRows,
      "post-crash rebuild content differs from the uncrashed control")
    assert(refit2.map(_._1) == ctrlRefit.map(_._1) &&
      refit2.zip(ctrlRefit).forall { case ((_, a), (_, b)) =>
        java.util.Arrays.equals(a, b)
      }, "post-crash refit centroids differ from the control")
    // second rebuild: generation flips, the previous one stays readable
    // under retain=2, the merge batches' generations are collected
    val refit3 = IvfIndex.rebuild(spark, crashed, "vec_id", "embedding",
      batchSeq = 4L)
    assert(IvfIndex.liveDirs(spark, crashed).forall(_.endsWith("G4")))
    val names = new java.io.File(crashed).listFiles.map(_.getName).toSet
    assert(names.exists(_.endsWith("G3")) && names.exists(_.endsWith("G4")),
      s"retained generation collected early: $names")
    assert(!names.exists(n => n.endsWith("G1") || n.endsWith("G2")),
      s"aged-out merge generations survive gc: $names")
    // probes answer through the committed generation
    val got = IvfIndex.probe(spark, crashed,
        emb.where(col("vec_id") === 17), "vec_id", "embedding",
        refit3, nProbe = 2, k = 1).collect()
    assert(got.length == 1 && got(0).getAs[Long]("vec_id") == 17L)
  }

  // ------------------------------------------------ IVF row deletion

  test("IvfIndex.deleteBatch == build without the deleted rows: " +
    "survivors intact (codes included), emptied cells dropped, replay " +
    "idempotent, probes cannot find deleted ids") {
    import graft.similarity.{Clustering, IvfIndex, Pq}
    def vec(i: Int): Array[Float] =
      Array(i.toFloat, (i % 5).toFloat, (i % 3).toFloat, (i % 2).toFloat)
    val emb = (1 to 48).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val seeds = Clustering.seedCentroids(emb, "vec_id", "embedding", 6)
    val cb = Pq.fit(emb, "vec_id", "embedding", m = 2, sub = 2, k = 4)
    def build(src: DataFrame): String = {
      val d = tmp("r13del_")
      (0 until 2).foreach { i =>
        IvfIndex.mergeBatch(src.where(pmod(col("vec_id"), lit(2)) === i),
          "vec_id", "embedding", seeds, d, i + 1L, encodeWith = Some(cb))
      }
      d
    }
    def rows(dir: String): Set[(Int, Long, Seq[Int])] =
      IvfIndex.readIndex(spark, dir)
        .select(col("cell"), col("vec_id"),
          col("codes").cast("array<int>"))
        .as[(Int, Long, Seq[Int])].collect().toSet
    val idx = build(emb)
    val del = emb.where(col("vec_id") % 4 === 0)
    IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, idx,
      batchSeq = 3L)
    val want = rows(build(emb.where(col("vec_id") % 4 =!= 0)))
    assert(rows(idx) == want,
      "delete(batch) must equal an index built without the deleted rows")
    // replay of the committed delete is a no-op (batchSeq gate)
    IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, idx,
      batchSeq = 3L)
    assert(rows(idx) == want, "replayed delete mutated the index")
    // deleting EVERYTHING empties the committed cell set; probes of the
    // empty index return no rows
    IvfIndex.deleteBatch(emb, "vec_id", "embedding", seeds, idx,
      batchSeq = 4L)
    assert(IvfIndex.liveDirs(spark, idx).isEmpty,
      "emptied cells must leave the committed bucket set")
    assert(IvfIndex.probe(spark, idx, emb.where(col("vec_id") <= 8),
      "vec_id", "embedding", seeds, nProbe = 6, k = 48).count() == 0L)
    // probes over a partially-deleted index never return deleted ids
    val idx2 = build(emb)
    IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, idx2,
      batchSeq = 3L)
    val got = IvfIndex.probe(spark, idx2, emb.where(col("vec_id") <= 8),
        "vec_id", "embedding", seeds, nProbe = 6, k = 48)
      .select("vec_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ % 4 != 0),
      s"probe returned deleted ids: ${got.filter(_ % 4 == 0)}")
  }

  // ------------------------------------------------ retention

  test("IndexManifest retain=3: the oldest retained version stays " +
    "readable through gc, version n-3 is collected") {
    val idx = IndexedDedup.bootstrap(spark, mkDocs(DedupKeep), k = 2,
      maxShingleDf = 2, tmp("r13r_s_"), tmp("r13r_d_"), tmp("r13r_m_"),
      rowCap = 64L, retain = 3)
    def batch(n: Long) = mkDocs(Seq((100L + n) -> s"b$n c$n d$n e$n"))
    (1L to 3L).foreach { n =>
      IndexedDedup.processBatch(spark, idx, batch(n), n, k = 2,
        threshold = 0.3, maxShingleDf = 2).collect()
      ()
    }
    // versions 1..4 committed; retain=3 keeps 2,3,4
    assert(idx.manifest.read().get.version == 4L)
    assert(idx.manifest.read(1L).isEmpty, "version n-3 must be collected")
    val v2 = idx.manifest.read(2L).getOrElse(fail("version 2 aged out"))
    assert(idx.manifest.retained().map(_.version) == Seq(2L, 3L, 4L))
    // the oldest retained snapshot is FULLY readable after 2 more gcs:
    // doc index as of v2 = bootstrap docs + batch 1's doc
    val docsV2 = idx.doc.allRows(v2.buckets(idx.docName))
      .select("doc_id").as[Long].collect().toSet
    assert(docsV2 == DedupKeep.map(_._1).toSet + 101L, docsV2.toString)
    // retainedUnion covers every retained version's buckets
    val union = idx.manifest.retainedUnion(idx.docName)
    assert(Seq(2L, 3L, 4L).forall(v =>
      idx.manifest.read(v).get.buckets(idx.docName).subsetOf(union)))
  }
}

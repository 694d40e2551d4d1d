package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{IndexManifest, IndexedDedup}
import graft.dedup.IndexTxn.Point
import graft.obs.QueryProfile
import graft.text.Bm25Index

/** Round-14 pins: manifest gc ordered AFTER the commit rename, the
  * expected-version CAS commit (VERDICT r13 #5), and the IVF per-batch
  * manifest commit protocol (#1). The zero-df tombstone re-audit specs
  * live with their families, in IndexedDedupSpec and Bm25IndexSpec. */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  // ---------------------------------------- takedown fixtures

  /** 'h h' in docs 1,2,3 — df 3 > cap 2, tombstoned at bootstrap. */
  private val ZKeep = Seq(
    1L -> "h h p q", 2L -> "h h r s", 3L -> "h h t u", 4L -> "v w x y")

  private def dedupBoot(docs: DataFrame): IndexedDedup.Indexes =
    IndexedDedup.bootstrap(spark, docs, k = 2, maxShingleDf = 2,
      tmp("r14d_s_"), tmp("r14d_d_"), tmp("r14d_m_"), rowCap = 64L)

  private def dedupState(idx: IndexedDedup.Indexes) = {
    val st = idx.manifest.read().get
    (idx.shingle.allRows(st.buckets(idx.shingleName))
        .as[(String, Long)].collect().toSet,
      idx.doc.allRows(st.buckets(idx.docName))
        .select("doc_id", "n_keep").as[(Long, Long)].collect().toSet)
  }

  private def bm25Boot(docs: DataFrame): Bm25Index.Indexes =
    Bm25Index.bootstrap(spark, docs, maxTermDf = 2L, tmp("r14b_t_"),
      tmp("r14b_d_"), tmp("r14b_g_"), tmp("r14b_m_"), rowCap = 64L)

  private def bm25State(idx: Bm25Index.Indexes) = {
    val st = idx.manifest.read().get
    (idx.term.allRows(st.buckets(idx.termName))
        .as[(String, String, Long, Long)].collect().toSet,
      idx.doc.allRows(st.buckets(idx.docName))
        .as[(Long, Long)].collect().toSet,
      idx.stats.allRows(st.buckets(idx.statsName))
        .as[(String, Long, Long)].collect().toSet)
  }

  // ---------------------------------------- manifest commit ordering + CAS

  test("IndexManifest retain=1: a committed manifest is readable at " +
    "every version and stale versions die only after the commit") {
    val mf = new IndexManifest(spark, tmp("r14mf_"), retain = 1)
    (1 to 4).foreach { i =>
      val st = mf.commit(i.toLong, Map("ix" -> Set(s"b$i")))
      assert(st.version == i.toLong)
      assert(mf.retained().map(_.version) == Seq(i.toLong),
        "retain=1 must keep exactly the newest version")
      assert(mf.read().get.buckets("ix") == Set(s"b$i"))
    }
  }

  // ---------------------------------------- IVF per-batch commit protocol

  /** VERDICT r13 #1: merge and delete batches now stage fresh per-cell
    * generations and flip in one manifest rename — crash-injected in
    * BOTH paths, readers must hold the pre-batch snapshot throughout
    * and the deterministic retry must converge bit-identically. */
  private def ivfFixture() = {
    import graft.similarity.Clustering
    def vec(i: Int): Array[Float] =
      Array(i.toFloat, (i % 5).toFloat, (i % 3).toFloat)
    val emb = (1 to 48).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    (emb, Clustering.seedCentroids(emb, "vec_id", "embedding", 6))
  }

  private def ivfRows(root: String): Set[(Int, Long, Long)] = {
    import graft.similarity.IvfIndex
    IvfIndex.readIndex(spark, root)
      .select(col("cell"), col("vec_id"), col("__ver"))
      .as[(Int, Long, Long)].collect().toSet
  }

  test("IvfIndex.mergeBatch: crash AFTER staging BEFORE the manifest " +
    "rename — readers hold the pre-batch snapshot, the retry converges " +
    "bit-identically to an uncrashed control") {
    import graft.similarity.IvfIndex
    val (emb, seeds) = ivfFixture()
    val b1 = emb.where(col("vec_id") % 2 === 1)
    val b2 = emb.where(col("vec_id") % 2 === 0)
    val control = tmp("r14ivm_c_")
    IvfIndex.mergeBatch(b1, "vec_id", "embedding", seeds, control, 1L)
    IvfIndex.mergeBatch(b2, "vec_id", "embedding", seeds, control, 2L)
    val ctrl = ivfRows(control)
    val crashed = tmp("r14ivm_x_")
    IvfIndex.mergeBatch(b1, "vec_id", "embedding", seeds, crashed, 1L)
    val pre = ivfRows(crashed)
    val preDirs = IvfIndex.liveDirs(spark, crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BeforeCommit)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        IvfIndex.mergeBatch(b2, "vec_id", "embedding", seeds, crashed, 2L)
      }
    } finally CrashPoints.disarm()
    assert(IvfIndex.liveDirs(spark, crashed) == preDirs
      && ivfRows(crashed) == pre,
      "a crashed merge leaked into the committed snapshot")
    IvfIndex.mergeBatch(b2, "vec_id", "embedding", seeds, crashed, 2L)
    assert(ivfRows(crashed) == ctrl,
      "post-crash merge replay differs from the uncrashed control")
    // a replay of the now-committed batch is a no-op
    IvfIndex.mergeBatch(b2, "vec_id", "embedding", seeds, crashed, 2L)
    assert(ivfRows(crashed) == ctrl, "committed replay mutated the index")
  }

  test("IvfIndex.deleteBatch: crash BEFORE the manifest rename — a " +
    "takedown is never half-visible; the retry converges and deleted " +
    "ids stay probe-invisible") {
    import graft.similarity.IvfIndex
    val (emb, seeds) = ivfFixture()
    def build(): String = {
      val d = tmp("r14ivd_")
      IvfIndex.mergeBatch(emb, "vec_id", "embedding", seeds, d, 1L)
      d
    }
    val del = emb.where(col("vec_id") % 4 === 0)
    val control = build()
    IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, control, 2L)
    val ctrl = ivfRows(control)
    val crashed = build()
    val pre = ivfRows(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BeforeCommit)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, crashed, 2L)
      }
    } finally CrashPoints.disarm()
    // the pre-takedown snapshot is COMPLETE — not a torn half-delete
    assert(ivfRows(crashed) == pre,
      "a crashed delete left a half-applied takedown visible")
    IvfIndex.deleteBatch(del, "vec_id", "embedding", seeds, crashed, 2L)
    assert(ivfRows(crashed) == ctrl,
      "post-crash delete replay differs from the uncrashed control")
    val got = IvfIndex.probe(spark, crashed,
        emb.where(col("vec_id") <= 8), "vec_id", "embedding", seeds,
        nProbe = 6, k = 48)
      .select("vec_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ % 4 != 0),
      s"probe returned deleted ids: ${got.filter(_ % 4 == 0)}")
  }

  // ---------------------------------------- ANN family in the curated commit

  /** Docs 1–4; only 1–3 and the new docs 21/22 have embedding rows (the
    * store-subset shape: kept-but-unembedded docs are searchable, not
    * vector-retrievable). */
  private val CurKeep = Seq(
    1L -> "a b c d", 2L -> "e f g h", 3L -> "i j k l", 4L -> "m n o p")

  private def curVec(i: Long): Array[Float] =
    Array(i.toFloat, (i % 3).toFloat, 1.0f)

  private def curVecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, curVec(i))).toDF("doc_id", "embedding")

  private def curatedAnnBoot() = {
    import graft.curation.CuratedIndexes
    val embedded = CurKeep.map(_._1).filter(_ <= 3L)
    val seeds = graft.similarity.Clustering.seedCentroids(
      curVecs(embedded), "doc_id", "embedding", 2)
    CuratedIndexes.bootstrap(spark, mkDocs(CurKeep), k = 2,
      maxShingleDf = 4, maxTermDf = 64L, tmp("r14c_si_"), tmp("r14c_di_"),
      tmp("r14c_t_"), tmp("r14c_d_"), tmp("r14c_g_"), tmp("r14c_m_"),
      rowCap = 64L, ann = Some(CuratedIndexes.Ann(tmp("r14c_a_"), seeds)),
      annVecs = Some(curVecs(embedded)))
  }

  private def annDocs(idx: graft.curation.CuratedIndexes.Indexes): Set[Long] =
    graft.curation.CuratedIndexes.readAnn(spark, idx)
      .select("doc_id").as[Long].collect().toSet

  private def curState(idx: graft.curation.CuratedIndexes.Indexes) = {
    val st = idx.dedup.manifest.read().get
    (idx.dedup.doc.allRows(st.buckets(idx.dedup.docName))
        .select("doc_id").as[Long].collect().toSet,
      idx.bm25.doc.allRows(st.buckets(idx.bm25.docName))
        .select("doc_id").as[Long].collect().toSet,
      annDocs(idx))
  }

  test("CuratedIndexes + ANN: kept AND embedded <=> ANN-retrievable " +
    "after every batch; the takedown removes vectors in the SAME " +
    "commit; an unembedded kept doc is searchable but not retrievable") {
    import graft.curation.CuratedIndexes
    val idx = curatedAnnBoot()
    assert(annDocs(idx) == Set(1L, 2L, 3L),
      "bootstrap must index exactly the embedded corpus docs")
    // 21 = exact dup of doc 4 (drops, vector must NOT enter); 22 = new
    val b = mkDocs(Seq(21L -> "m n o p", 22L -> "q r s t"))
    val v = CuratedIndexes.processBatch(spark, idx, b, 1L, k = 2,
      threshold = 0.3, maxShingleDf = 4, maxTermDf = 64L,
      annVecs = Some(curVecs(Seq(21L, 22L))))
      .as[(Long, String, Long)].collect()
      .map { case (d, s, _) => d -> s }.toMap
    assert(v(21L) == "dup_of_keep" && v(22L) == "kept")
    val (dd, bd, ad) = curState(idx)
    assert(dd == bd && bd == Set(1L, 2L, 3L, 4L, 22L))
    assert(ad == Set(1L, 2L, 3L, 22L),
      s"ANN must hold exactly kept AND embedded: $ad")
    // probe sees the new vector; the dropped dup's vector is absent
    val hits = CuratedIndexes.probeAnn(spark, idx,
        curVecs(Seq(22L)), nProbe = 2, k = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(22L) && !hits.contains(21L))
    // takedown of doc 2: keep-set, search index and vectors flip in ONE
    // commit
    CuratedIndexes.retractBatch(spark, idx, mkDocs(Seq(2L -> "e f g h")),
      2L, k = 2, maxShingleDf = 4, maxTermDf = 64L,
      retained = Some(mkDocs(CurKeep.filterNot(_._1 == 2L)
        ++ Seq(22L -> "q r s t"))),
      retractVecs = Some(curVecs(Seq(2L))))
    val (dd2, bd2, ad2) = curState(idx)
    assert(dd2 == bd2 && bd2 == Set(1L, 3L, 4L, 22L))
    assert(ad2 == Set(1L, 3L, 22L),
      s"takedown must drop the vector in the same commit: $ad2")
  }

  private def curatedAnnCrashCase(mergePath: Boolean): Unit = {
    import graft.curation.CuratedIndexes
    val b = mkDocs(Seq(22L -> "q r s t"))
    def step(i: CuratedIndexes.Indexes): Unit =
      if (mergePath) {
        CuratedIndexes.processBatch(spark, i, b, 1L, k = 2,
          threshold = 0.3, maxShingleDf = 4, maxTermDf = 64L,
          annVecs = Some(curVecs(Seq(22L)))).collect()
        ()
      } else
        CuratedIndexes.retractBatch(spark, i, mkDocs(Seq(2L -> "e f g h")),
          1L, k = 2, maxShingleDf = 4, maxTermDf = 64L,
          retained = Some(mkDocs(CurKeep.filterNot(_._1 == 2L))),
          retractVecs = Some(curVecs(Seq(2L))))
    val control = curatedAnnBoot()
    step(control)
    val ctrl = curState(control)
    val crashed = curatedAnnBoot()
    val pre = curState(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BeforeAnnFamily)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] { step(crashed) }
    } finally CrashPoints.disarm()
    assert(curState(crashed) == pre,
      "a crash before the ann family leaked into the committed snapshot")
    step(crashed)
    assert(curState(crashed) == ctrl,
      "post-crash replay differs from the uncrashed control")
    // committed replay: no-op across all three families
    step(crashed)
    assert(curState(crashed) == ctrl)
    assert(crashed.dedup.manifest.read().get.batchSeq == 1L)
  }

  test("CuratedIndexes + ANN: crash AFTER bm25 staging BEFORE the ann " +
    "staging (merge path) — all three families hold the pre-batch " +
    "snapshot, the retry converges") {
    curatedAnnCrashCase(mergePath = true)
  }

  test("CuratedIndexes + ANN: crash before the ann staging during a " +
    "RETRACTION — a takedown is all-or-nothing across all families") {
    curatedAnnCrashCase(mergePath = false)
  }

  test("CuratedIndexes: a crash at either family hook releases every " +
    "pinned frame, the prepare steps' included; after the replay " +
    "commits, gc leaves no uncommitted BM25 or IVF directory") {
    import graft.curation.CuratedIndexes
    // 22 is kept, 23 (a copy) is not: both families prepare over both
    val b = mkDocs(Seq(22L -> "q r s t", 23L -> "q r s t"))
    def step(i: CuratedIndexes.Indexes): DataFrame =
      CuratedIndexes.processBatch(spark, i, b, 1L, k = 2, threshold = 0.3,
        maxShingleDf = 4, maxTermDf = 64L,
        annVecs = Some(curVecs(Seq(22L, 23L))))
    final class InjectedCrash extends RuntimeException("injected")
    // a crash at each point in turn must leave nothing pinned
    def crashAtEach(points: Seq[Point])(run: => Unit): Unit =
      points.foreach { p =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        CrashPoints.arm(p)(() => throw new InjectedCrash)
        try intercept[InjectedCrash](run)
        finally CrashPoints.disarm()
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"a crash at $p left $leaked pinned")
      }
    def noStrayDirs(idx: CuratedIndexes.Indexes): Unit = {
      val mf = idx.dedup.manifest
      def dirs(root: String): Set[String] =
        new java.io.File(root).listFiles.filter(_.isDirectory)
          .map(_.getName.stripPrefix("__lb=")).toSet
      Seq(idx.bm25.term.root -> idx.bm25.termName,
        idx.bm25.doc.root -> idx.bm25.docName,
        idx.bm25.stats.root -> idx.bm25.statsName,
        idx.ann.get.root -> idx.ann.get.name).foreach { case (root, nm) =>
        val stray = dirs(root) -- mf.retainedUnion(nm)
        assert(stray.isEmpty, s"$nm: uncommitted directories survive gc: $stray")
      }
    }
    val curatedPoints = Seq(Point.BeforeDedupFamily, Point.BetweenFamilies,
      Point.BeforeAnnFamily, Point.DedupBetweenWrites, Point.DedupStaged,
      Point.Bm25BetweenWrites, Point.Bm25Staged, Point.BeforeCommit)
    // ingest
    val idx = curatedAnnBoot()
    crashAtEach(curatedPoints) { step(idx); () }
    val v = step(idx)
    assert(v.where(col("status") === "kept").select("doc_id").as[Long]
      .collect().toSet == Set(22L))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    assert(curState(idx) == ((Set(1L, 2L, 3L, 4L, 22L),
      Set(1L, 2L, 3L, 4L, 22L), Set(1L, 2L, 3L, 22L))))
    noStrayDirs(idx)
    // takedown of doc 2
    val taken = mkDocs(Seq(2L -> "e f g h"))
    val rest = mkDocs(CurKeep.filterNot(_._1 == 2L))
    val tIdx = curatedAnnBoot()
    def takedown(): Unit =
      CuratedIndexes.retractBatch(spark, tIdx, taken, 1L, k = 2,
        maxShingleDf = 4, maxTermDf = 64L, retained = Some(rest),
        retractVecs = Some(curVecs(Seq(2L))))
    crashAtEach(curatedPoints)(takedown())
    takedown()
    assert(curState(tIdx) == ((Set(1L, 3L, 4L), Set(1L, 3L, 4L),
      Set(1L, 3L))))
    noStrayDirs(tIdx)
    // the standalone takedowns
    val dIdx = dedupBoot(mkDocs(CurKeep))
    def dTakedown(): Unit = IndexedDedup.retractBatch(spark, dIdx, taken,
      1L, k = 2, maxShingleDf = 4, retained = Some(rest))
    crashAtEach(Seq(Point.DedupBetweenWrites, Point.DedupStaged,
      Point.BeforeCommit))(dTakedown())
    dTakedown()
    assert(dedupState(dIdx)._2.map(_._1) == Set(1L, 3L, 4L))
    val bIdx = bm25Boot(mkDocs(CurKeep))
    def bTakedown(): Unit = Bm25Index.retractBatch(spark, bIdx, taken, 1L,
      maxTermDf = 64L, retained = Some(rest))
    crashAtEach(Seq(Point.Bm25BetweenWrites, Point.Bm25Staged,
      Point.BeforeCommit))(bTakedown())
    bTakedown()
    assert(bm25State(bIdx)._2.map(_._1) == Set(1L, 3L, 4L))
  }

  test("CuratedIndexes: ingest, takedown and ANN rebuild pass the " +
    "IndexTxn points in their documented launch order; a committed " +
    "replay passes none") {
    import scala.jdk.CollectionConverters._
    import graft.curation.CuratedIndexes
    val caller = Thread.currentThread
    // (point, fired on the calling thread), in firing order
    def record(f: => Unit): Seq[(Point, Boolean)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Point, Boolean)]
      graft.dedup.IndexTxn.testCrashHook =
        p => seen.add(p -> (Thread.currentThread eq caller))
      try f finally CrashPoints.disarm()
      seen.asScala.toSeq
    }
    def onCaller(r: Seq[(Point, Boolean)]): Seq[Point] =
      r.collect { case (p, true) => p }
    def before(r: Seq[(Point, Boolean)], a: Point, b: Point): Boolean = {
      val ps = r.map(_._1)
      ps.contains(a) && ps.contains(b) && ps.indexOf(a) < ps.indexOf(b)
    }
    // the crossed families' inner points: each family's pair in order,
    // after its launch, before the commit
    def familiesInOrder(r: Seq[(Point, Boolean)]): Unit = {
      assert(before(r, Point.BeforeDedupFamily, Point.DedupBetweenWrites)
        && before(r, Point.DedupBetweenWrites, Point.DedupStaged)
        && before(r, Point.DedupStaged, Point.BeforeCommit), r)
      assert(before(r, Point.BetweenFamilies, Point.Bm25BetweenWrites)
        && before(r, Point.Bm25BetweenWrites, Point.Bm25Staged)
        && before(r, Point.Bm25Staged, Point.BeforeCommit), r)
    }
    val crossFamily = Seq(Point.BeforeDedupFamily, Point.BetweenFamilies,
      Point.BeforeAnnFamily, Point.BeforeCommit)
    val idx = curatedAnnBoot()
    def ingest(): Unit = {
      val v = CuratedIndexes.processBatch(spark, idx,
        mkDocs(Seq(22L -> "q r s t")), 1L, k = 2, threshold = 0.3,
        maxShingleDf = 4, maxTermDf = 64L, annVecs = Some(curVecs(Seq(22L))))
      v.collect()
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    }
    val in = record(ingest())
    assert(onCaller(in) == crossFamily, in)
    familiesInOrder(in)
    assert(record(ingest()).isEmpty, "a committed replay staged")
    val out = record(CuratedIndexes.retractBatch(spark, idx,
      mkDocs(Seq(2L -> "e f g h")), 2L, k = 2, maxShingleDf = 4,
      maxTermDf = 64L, retained = Some(mkDocs(CurKeep.filterNot(_._1 == 2L)
        ++ Seq(22L -> "q r s t"))), retractVecs = Some(curVecs(Seq(2L)))))
    assert(onCaller(out) == crossFamily, out)
    familiesInOrder(out)
    val rebuilt = record(CuratedIndexes.rebuildAnn(spark, idx, 3L))
    assert(rebuilt == Seq(Point.BeforeAnnFamily -> true,
      Point.BeforeCommit -> true), rebuilt)
  }

  test("CuratedIndexes: a takedown has the ingest's shape — one " +
    "retractBatch runs no more SQL executions than one processBatch on " +
    "the same store") {
    import graft.curation.CuratedIndexes
    val idx = curatedAnnBoot()
    val (_, ingest) = QueryProfile.of(spark) {
      val v = CuratedIndexes.processBatch(spark, idx,
        mkDocs(Seq(22L -> "q r s t")), 1L, k = 2, threshold = 0.3,
        maxShingleDf = 4, maxTermDf = 64L, annVecs = Some(curVecs(Seq(22L))))
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    }
    val (_, takedown) = QueryProfile.of(spark) {
      CuratedIndexes.retractBatch(spark, idx, mkDocs(Seq(2L -> "e f g h")),
        2L, k = 2, maxShingleDf = 4, maxTermDf = 64L,
        retained = Some(mkDocs(CurKeep.filterNot(_._1 == 2L)
          ++ Seq(22L -> "q r s t"))), retractVecs = Some(curVecs(Seq(2L))))
    }
    assert(curState(idx) == ((Set(1L, 3L, 4L, 22L), Set(1L, 3L, 4L, 22L),
      Set(1L, 3L, 22L))))
    assert(takedown.sqlExecs <= ingest.sqlExecs,
      s"takedown ran ${takedown.sqlExecs} SQL executions, ingest " +
        s"${ingest.sqlExecs}")
  }

  test("retractBatch reads `retained` only for a touched tombstone: a " +
    "takedown touching none completes with a retained frame that throws " +
    "when evaluated") {
    import graft.curation.CuratedIndexes
    val poison = udf((_: String) =>
      (throw new IllegalStateException("retained was read")): String)
    def poisoned(rows: Seq[(Long, String)]): DataFrame =
      mkDocs(rows).withColumn("text", poison(col("text")))
    // no shingle or term of doc 2 is tombstoned in the curated store
    val idx = curatedAnnBoot()
    CuratedIndexes.retractBatch(spark, idx, mkDocs(Seq(2L -> "e f g h")),
      1L, k = 2, maxShingleDf = 4, maxTermDf = 64L,
      retained = Some(poisoned(CurKeep.filterNot(_._1 == 2L))),
      retractVecs = Some(curVecs(Seq(2L))))
    assert(curState(idx) == ((Set(1L, 3L, 4L), Set(1L, 3L, 4L),
      Set(1L, 3L))))
    // control: doc 2 touches the tombstoned 'h h', so the re-audit reads
    // `retained` and the poison fires
    val dIdx = dedupBoot(mkDocs(ZKeep))
    intercept[Exception] {
      IndexedDedup.retractBatch(spark, dIdx, mkDocs(ZKeep.filter(_._1 == 2L)),
        1L, k = 2, maxShingleDf = 2,
        retained = Some(poisoned(ZKeep.filterNot(_._1 == 2L))))
    }
    assert(dIdx.manifest.read().get.batchSeq == 0L)
  }

  // ---------------------------------------- q307 hybrid fusion

  test("q307: RRF fusion is integer-exact and consistent — rrf_micro " +
    "equals the floor-div recompute from the carried leg ranks, " +
    "fused_rank follows (rrf_micro desc, doc_id), legs stay k-bounded, " +
    "and at least one doc fuses BOTH legs") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q307_persisted_hybrid_rag")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    def rr(r: org.apache.spark.sql.Row, f: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getLong(r.fieldIndex(f)))
    rows.foreach { r =>
      val want = rr(r, "rank_lex").fold(0L)(x => 1000000L / (60L + x)) +
        rr(r, "rank_sem").fold(0L)(x => 1000000L / (60L + x))
      assert(r.getLong(r.fieldIndex("rrf_micro")) == want,
        s"rrf arithmetic drifted: $r")
      rr(r, "rank_lex").foreach(x => assert(x >= 1 && x <= 10))
      rr(r, "rank_sem").foreach(x => assert(x >= 1 && x <= 10))
    }
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (10L to 15L).toSet, s"workload ids: ${byQ.keySet}")
    byQ.values.foreach { qr =>
      val sorted = qr.sortBy(_.getLong(qr.head.fieldIndex("fused_rank")))
      assert(sorted.map(_.getLong(sorted.head.fieldIndex("fused_rank")))
        .toSeq == (1L to sorted.length).toSeq)
      // fused order follows (rrf desc, doc_id asc)
      val keys = sorted.map(r => (-r.getLong(r.fieldIndex("rrf_micro")),
        r.getLong(r.fieldIndex("doc_id")))).toSeq
      assert(keys == keys.sorted, s"fused order broken: $keys")
      assert(sorted.length <= 10)
    }
    assert(rows.exists(r => rr(r, "rank_lex").isDefined
      && rr(r, "rank_sem").isDefined),
      "fixture never fused both legs on one doc — fusion untested")
    assert(rows.exists(r => rr(r, "rank_lex").isEmpty
      != rr(r, "rank_sem").isEmpty),
      "fixture never exercised the single-leg contribution path")
  }

  // ---------------------------------------- CDC delete sink (q308's store)

  test("mergeIntoParquetWithDeletes: a key whose newest version is D " +
    "leaves the snapshot, a stale replayed upsert cannot resurrect it, " +
    "tombstones persist across batches, re-admission at a higher rev " +
    "returns") {
    import graft.streaming.Pipelines
    val sink = tmp("r14cdc_")
    def rows(ids: Seq[Long], rv: Long, op: String): DataFrame =
      ids.map(i => (i, s"t$i", rv, op)).toDF("doc_id", "text", "rev", "op")
    def snap(): Set[(Long, Long)] =
      Pipelines.readWithDeletes(spark, sink, "op").select("doc_id", "rev")
        .as[(Long, Long)].collect().toSet
    def put(df: DataFrame): Unit =
      Pipelines.mergeIntoParquetWithDeletes(df, sink, "doc_id", "rev",
        "doc_id", "op", nBuckets = 4)
    put(rows(Seq(1L, 2L, 3L, 4L), 1L, ""))
    assert(snap() == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    put(rows(Seq(2L), 2L, "D"))
    assert(snap() == Set((1L, 1L), (3L, 1L), (4L, 1L)), "delete leaked")
    // a stale upsert (rev 1) replayed AFTER the delete must not
    // resurrect the key — latest-wins keeps the tombstone's verdict
    put(rows(Seq(2L), 1L, ""))
    assert(snap() == Set((1L, 1L), (3L, 1L), (4L, 1L)),
      "stale upsert resurrected a deleted key")
    // replaying the delete is a no-op
    put(rows(Seq(2L), 2L, "D"))
    assert(snap() == Set((1L, 1L), (3L, 1L), (4L, 1L)))
    // deleting everything empties the LIVE view (tombstones persist
    // until compaction — they are what blocks late resurrections)
    put(rows(Seq(1L, 3L, 4L), 3L, "D"))
    assert(snap().isEmpty)
    // re-admission at a higher rev replaces the tombstone
    put(rows(Seq(2L), 4L, ""))
    assert(snap() == Set((2L, 4L)))
  }

  // ---------------------------------------- q308 restart-replay

  test("streaming takedown: the interleaved merge/retract/merge batch " +
    "sequence survives a restart AFTER the merge commit and a crash " +
    "BEFORE the retract commit — every replay converges to the " +
    "uncrashed control across index AND corpus store") {
    import graft.dedup.IndexedDedup
    import graft.streaming.Pipelines
    val keep = mkDocs(CurKeep)
    val b1 = mkDocs(Seq(21L -> "q r s t", 22L -> "a b c d")) // 22 dups doc 1
    val retract = mkDocs(Seq(2L -> "e f g h"))
    val b2 = mkDocs(Seq(32L -> "e f g h")) // re-admission of taken-down text
    def mkPipe() = {
      val idx = IndexedDedup.bootstrap(spark, keep, k = 2, maxShingleDf = 4,
        tmp("r14s_s_"), tmp("r14s_d_"), tmp("r14s_m_"), rowCap = 64L)
      val store = tmp("r14s_k_")
      Pipelines.mergeIntoParquetWithDeletes(
        keep.withColumn("rev", lit(0L)).withColumn("op", lit("")),
        store, "doc_id", "rev", "doc_id", "op", nBuckets = 4)
      (idx, store)
    }
    def merge(idx: IndexedDedup.Indexes, store: String, b: DataFrame,
              seq: Long): Unit = {
      val v = IndexedDedup.processBatch(spark, idx, b, seq, k = 2,
        threshold = 0.3, maxShingleDf = 4)
      Pipelines.mergeIntoParquetWithDeletes(
        b.join(v.where(col("status") === "kept"), Seq("doc_id"), "left_semi")
          .withColumn("rev", lit(seq)).withColumn("op", lit("")),
        store, "doc_id", "rev", "doc_id", "op", nBuckets = 4)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    }
    def takedown(idx: IndexedDedup.Indexes, store: String,
                 seq: Long): Unit = {
      val retained = Pipelines.readWithDeletes(spark, store, "op")
        .select("doc_id", "text")
        .join(retract.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      IndexedDedup.retractBatch(spark, idx, retract, seq, k = 2,
        maxShingleDf = 4, retained = Some(retained))
      Pipelines.mergeIntoParquetWithDeletes(
        retract.withColumn("rev", lit(seq)).withColumn("op", lit("D")),
        store, "doc_id", "rev", "doc_id", "op", nBuckets = 4)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(retained)
    }
    def state(idx: IndexedDedup.Indexes, store: String) =
      (dedupState(idx), Pipelines.readWithDeletes(spark, store, "op")
        .select("doc_id").as[Long].collect().toSet)
    val (ci, cs) = mkPipe()
    merge(ci, cs, b1, 1L); takedown(ci, cs, 2L); merge(ci, cs, b2, 3L)
    val ctrl = state(ci, cs)
    assert(ctrl._2 == Set(1L, 3L, 4L, 21L, 32L),
      s"fixture store shape: ${ctrl._2}") // 22 dup-dropped, 2 taken down
    val (xi, xs) = mkPipe()
    merge(xi, xs, b1, 1L)
    // restart AFTER the merge commit: the stream redelivers batch 1
    merge(xi, xs, b1, 1L)
    // crash BEFORE the retract commit, then restart-replay
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.DedupStaged)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] { takedown(xi, xs, 2L) }
    } finally CrashPoints.disarm()
    takedown(xi, xs, 2L)
    // and a second redelivery of the now-committed takedown
    takedown(xi, xs, 2L)
    merge(xi, xs, b2, 3L)
    assert(state(xi, xs) == ctrl,
      "restarted/replayed interleaved sequence diverged from the control")
  }

  test("IndexedDedup: a zombie writer whose manifest moved mid-batch " +
    "is rejected by the CAS commit — the winner's batch survives, the " +
    "zombie publishes nothing") {
    val idx = dedupBoot(mkDocs(CurKeep)) // version 1
    val winner = mkDocs(Seq(41L -> "w1 w2 w3"))
    val zombie = mkDocs(Seq(51L -> "z1 z2 z3"))
    // the winner's commit lands while the zombie sits between staging
    // and its manifest rename — simulated inside the crash hook
    CrashPoints.arm(Point.DedupStaged) { () =>
      CrashPoints.disarm()
      IndexedDedup.processBatch(spark, idx, winner, 2L, k = 2,
        threshold = 0.3, maxShingleDf = 4).collect()
      ()
    }
    try {
      intercept[IllegalStateException] {
        IndexedDedup.processBatch(spark, idx, zombie, 2L, k = 2,
          threshold = 0.3, maxShingleDf = 4).collect()
      }
    } finally CrashPoints.disarm()
    val st = idx.manifest.read().get
    assert(st.version == 2L && st.batchSeq == 2L)
    val docs = idx.doc.allRows(st.buckets(idx.docName))
      .select("doc_id").as[Long].collect().toSet
    assert(docs.contains(41L) && !docs.contains(51L),
      s"zombie leaked into the committed snapshot: $docs")
    // without the CAS the zombie would have committed version 3 with
    // bucket sets that never saw the winner's batch — doc 41 LOST
  }

  test("IndexManifest CAS commit: a stale writer's expectedVersion " +
    "throws, publishes nothing, and readers keep the winner's snapshot") {
    val mf = new IndexManifest(spark, tmp("r14cas_"))
    mf.commit(1L, Map("ix" -> Set("b1")))
    // the winner advances to version 2
    mf.commit(2L, Map("ix" -> Set("b2")), expectedVersion = Some(1L))
    // a zombie writer still believing version 1 must fail cold
    intercept[IllegalStateException] {
      mf.commit(3L, Map("ix" -> Set("zombie")), expectedVersion = Some(1L))
    }
    val st = mf.read().get
    assert(st.version == 2L && st.batchSeq == 2L
      && st.buckets("ix") == Set("b2"),
      "the zombie's rejected commit must leave the winner's state intact")
    assert(mf.retained().forall(_.buckets("ix") != Set("zombie")))
  }
}

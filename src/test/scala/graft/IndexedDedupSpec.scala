package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, IndexManifest, IndexedDedup, LinearHashIndex}
import graft.dedup.IndexTxn.Point
import graft.obs.QueryProfile

/** Pins for the persistent-dedup-index work (VERDICT r10 #1, r11 #1):
  * linear-hash bucket splitting under generational directories,
  * PROBE-PROPORTIONAL keep-side IO, exact verdict parity with
  * [[Dedup.incrementalDedup]] across batches (including df-cap
  * tombstone crossings and seeded random batches), components of any
  * diameter, whole-batch replay idempotence, and the
  * ATOMIC MANIFEST COMMIT protocol — crash-injected between the two
  * index rewrites and before the manifest rename, proving verdicts and
  * both indexes converge bit-identically on replay. */
class IndexedDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ------------------------------------------------ IndexManifest
  test("IndexManifest: empty read is None; commits version, batch id " +
    "and bucket sets atomically; cleans tmp leftovers and stale versions") {
    val root = tmp("graft_mf_")
    val mf = new IndexManifest(spark, root)
    assert(mf.read().isEmpty)
    mf.commit(0L, Map("a" -> Set("L1I0G0", "L1I1G0"), "b" -> Set("L0I0G0")))
    val s1 = mf.read().get
    assert(s1.version == 1L && s1.batchSeq == 0L)
    assert(s1.buckets == Map("a" -> Set("L1I0G0", "L1I1G0"), "b" -> Set("L0I0G0")))
    // a crashed commit's temp file must not confuse or survive the next
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, ".tmp-deadbeef"), "batchSeq=9\n")
    mf.commit(1L, Map("a" -> Set("L1I0G1", "L1I1G0"), "b" -> Set("L0I0G0")))
    val s2 = mf.read().get
    assert(s2.version == 2L && s2.batchSeq == 1L)
    assert(s2.buckets("a") == Set("L1I0G1", "L1I1G0"))
    val names = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(!names.exists(_.startsWith(".tmp-")), s"tmp leftover survives: $names")
    // retention: current + previous only
    mf.commit(2L, Map("a" -> Set("L1I0G2", "L1I1G0"), "b" -> Set("L0I0G0")))
    val vs = new java.io.File(root).listFiles.map(_.getName)
      .filter(_.startsWith("manifest-")).sorted.toSeq
    assert(vs == Seq("manifest-000000002", "manifest-000000003"), vs.toString)
  }

  // ------------------------------------------------ LinearHashIndex
  test("LinearHashIndex: bootstrap + rewrite preserve all rows, " +
    "overflowing buckets split, old generations stay readable until gc, " +
    "probes stay exact") {
    val root = tmp("graft_lhi_")
    val ix = new LinearHashIndex(spark, root, "s", "s STRING, doc_id BIGINT",
      rowCap = 16L)
    val seed = (0 until 40).map(i => (s"k$i", i.toLong)).toDF("s", "doc_id")
    val live0 = ix.bootstrap(seed)
    assert(live0.nonEmpty)
    // every key resolvable; probe returns its row
    val got = ix.probe(Seq("k7").toDF("s"), live0).where(col("s") === "k7")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("k7", 7L)))
    // grow 6x through the touched-bucket rewrite path -> splits
    val more = (0 until 200).map(i => (s"m$i", 1000L + i)).toDF("s", "doc_id")
    val live1 = ix.rewrite(more.select("s"), live0) { old =>
      old.unionByName(more).distinct()
    }
    def maxLevel(live: Set[String]): Int =
      live.map(_.drop(1).takeWhile(_.isDigit).toInt).max
    assert(maxLevel(live1) > maxLevel(live0),
      s"no split happened: $live0 -> $live1")
    // the OLD snapshot is still fully readable (nothing in place changed)
    val oldRows = ix.allRows(live0).as[(String, Long)].collect()
    assert(oldRows.length == 40 && oldRows.toSet.size == 40,
      "pre-rewrite snapshot no longer readable through its pinned set")
    // all 240 rows reachable through the new set, none duplicated
    val all = ix.allRows(live1).as[(String, Long)].collect()
    assert(all.length == 240 && all.toSet.size == 240)
    // no live bucket above cap after the split cascade
    live1.foreach { id =>
      val n = spark.read.schema("s STRING, doc_id BIGINT")
        .parquet(s"$root/__lb=$id").count()
      assert(n <= 16L, s"bucket $id holds $n > cap rows")
    }
    // gc retires exactly the unreferenced directories
    ix.gc(live1)
    val dirs = new java.io.File(root).listFiles
      .filter(_.getName.startsWith("__lb=")).map(_.getName.stripPrefix("__lb="))
      .toSet
    assert(dirs == live1, s"gc left $dirs, expected $live1")
    // probes still exact after gc
    val g2 = ix.probe(Seq("m5").toDF("s"), live1).where(col("s") === "m5")
      .as[(String, Long)].collect().toSet
    assert(g2 == Set(("m5", 1005L)))
    // empty pinned set is an explicit contract error, not empty.max
    val bare = new LinearHashIndex(spark, tmp("graft_lhi_empty_"), "s",
      "s STRING, doc_id BIGINT", rowCap = 16L)
    val err = intercept[IllegalArgumentException] {
      bare.probe(Seq("k0").toDF("s"), Set.empty[String])
    }
    assert(err.getMessage.contains("bootstrap first"))
  }

  test("LinearHashIndex: probe IO tracks the probe set, not the index " +
    "size (records read for a 3-key probe are flat across an 16x larger " +
    "index, and a small fraction of the big index)") {
    def build(n: Int): (LinearHashIndex, Set[String]) = {
      val ix = new LinearHashIndex(spark, tmp("graft_lhi_sz_"), "s",
        "s STRING, doc_id BIGINT", rowCap = 64L)
      val live = ix.bootstrap(
        (0 until n).map(i => (s"k$i", i.toLong)).toDF("s", "doc_id"))
      (ix, live)
    }
    val (small, liveSmall) = build(512)
    val (big, liveBig) = build(8192)
    val keys = Seq("k3", "k77", "k401").toDF("s")
    def probed(ix: LinearHashIndex, live: Set[String]): Long =
      QueryProfile.of(spark) {
        ix.probe(keys, live).where(col("doc_id") >= 0).count()
      }._2.recordsRead
    val rSmall = probed(small, liveSmall)
    val rBig = probed(big, liveBig)
    assert(rBig <= rSmall * 4 + 64,
      s"probe IO grew with index size: small=$rSmall big=$rBig")
    assert(rBig < 8192 / 4,
      s"probe read a large fraction of the big index: $rBig")
  }

  // ------------------------------------------------ verdict parity
  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def boot(keep: DataFrame, maxDf: Int, rowCap: Long = 64L)
      : IndexedDedup.Indexes =
    IndexedDedup.bootstrap(spark, keep, k = 3, maxShingleDf = maxDf,
      tmp("graft_xd_si_"), tmp("graft_xd_di_"), tmp("graft_xd_mf_"), rowCap)

  /** Reference: incrementalDedup run the q274 way (recompute against
    * the full keep corpus). */
  private def ref(keep: DataFrame, batch: DataFrame, maxDf: Int)
      : Map[Long, (String, Long)] =
    Dedup.incrementalDedup(keep, batch, "doc_id", "text", k = 3,
        threshold = 0.3, maxShingleDf = maxDf)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  private def got(spark0: org.apache.spark.sql.SparkSession,
                  idx: IndexedDedup.Indexes, batch: DataFrame, seq: Long,
                  maxDf: Int): Map[Long, (String, Long)] = {
    val v = IndexedDedup.processBatch(spark0, idx, batch, seq, k = 3,
      threshold = 0.3, maxShingleDf = maxDf)
    val out = v.as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    out
  }

  /** Full content snapshot of both indexes through the committed
    * manifest, plus the manifest batch id. */
  private def snapshot(idx: IndexedDedup.Indexes)
      : (Set[(String, Long)], Set[(Long, Long, Long)], Long) = {
    val st = idx.manifest.read().get
    (idx.shingle.allRows(st.buckets("shingle"))
        .as[(String, Long)].collect().toSet,
      idx.doc.allRows(st.buckets("doc"))
        .as[(Long, Long, Long)].collect().toSet,
      st.batchSeq)
  }

  test("IndexedDedup: verdicts match incrementalDedup across batches — " +
    "cross-batch dup_of_keep, dup_in_drop clusters, df-cap tombstone " +
    "crossing with keep-doc size decrements") {
    // keep corpus: 3 distinct docs + a COMMON 3-shingle ("c c c ...")
    // present in 2 keep docs; maxDf = 3 so one more kept occurrence
    // crosses the cap and tombstones the common shingle.
    val keep = mkDocs(Seq(
      1L -> "a b c d e f g h i j k l",
      2L -> "m n o p q r s t u v w x",
      3L -> "z z y c c c c w1 w2 w3 w4 w5",
      4L -> "z z q2 c c c c w6 w7 w8 w9 w10"))
    val idx = boot(keep, maxDf = 3)
    // batch 1: exact dup of keep doc 1 (dup_of_keep), two dups of each
    // other (kept + dup_in_drop), and TWO kept carriers of the common
    // shingle — keep-side df goes 2 -> 4 > maxDf, tombstoning "c c c"
    // and decrementing every keep doc that holds it
    val b1 = mkDocs(Seq(
      101L -> "a b c d e f g h i j k l",
      102L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12",
      103L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12",
      104L -> "h1 h2 c c c c h3 h4 h5 h6 h7 h8",
      105L -> "g1 g2 c c c c g3 g4 g5 g6 g7 g8"))
    val exp1 = ref(keep, b1, maxDf = 3)
    val got1 = got(spark, idx, b1, seq = 1L, maxDf = 3)
    assert(got1 == exp1, s"batch1: $got1 vs $exp1")
    assert(got1(101L)._1 == "dup_of_keep" && got1(103L)._1 == "dup_in_drop"
      && got1(102L)._1 == "kept" && got1(104L)._1 == "kept"
      && got1(105L)._1 == "kept")
    // reference keep after batch 1 = keep + kept batch docs
    val keep1 = keep.unionByName(
      b1.where(col("doc_id").isin(
        exp1.filter(_._2._1 == "kept").keys.toSeq.map(Long.box): _*)))
    // batch 2: dup of a doc KEPT IN BATCH 1 (the cross-batch case) plus
    // a doc matching keep doc 3 through surviving shingles while the
    // common shingle is now past the cap on the keep side alone
    val b2 = mkDocs(Seq(
      201L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12",
      202L -> "z z y c c c c w1 w2 w3 w4 w5"))
    val exp2 = ref(keep1, b2, maxDf = 3)
    val got2 = got(spark, idx, b2, seq = 2L, maxDf = 3)
    assert(got2 == exp2, s"batch2: $got2 vs $exp2")
    assert(got2(201L)._1 == "dup_of_keep" && got2(201L)._2 == 102L,
      s"cross-batch dup must resolve to the batch-1 kept doc: $got2")
    assert(got2(202L)._1 == "dup_of_keep" && got2(202L)._2 == 3L)
    // the common shingle is tombstoned on the keep side
    val st = idx.manifest.read().get
    val si = idx.shingle.allRows(st.buckets("shingle"))
      .as[(String, Long)].collect()
    val commonRows = si.filter(_._1 == "c c c")
    assert(commonRows.toSeq == Seq(("c c c", -1L)),
      s"expected a single tombstone for the crossed shingle: ${commonRows.toSeq}")
  }

  test("IndexedDedup: whole-batch replay is idempotent — same verdicts, " +
    "bit-identical index state (a committed batch replays read-only)") {
    val keep = mkDocs((1 to 30).map(i =>
      i.toLong -> s"p$i q$i r$i s$i t$i c c c c u$i v$i"))
    val idx = boot(keep, maxDf = 35)
    // the batch pushes the shared "c c c" family past maxDf when its
    // kept docs land -> crossing decrements on all 30 keep docs
    val b1 = mkDocs((1 to 8).map(i =>
      (100L + i) -> s"n$i o$i c c c c g$i h$i j$i k$i l$i"))
    val exp = ref(keep, b1, maxDf = 35)
    val first = got(spark, idx, b1, seq = 1L, maxDf = 35)
    assert(first == exp)
    val s1 = snapshot(idx)
    // crossing actually happened (tombstones present, counts decremented)
    assert(s1._1.exists(_._2 == -1L), "expected tombstones after crossing")
    val replay = got(spark, idx, b1, seq = 1L, maxDf = 35)
    assert(replay == first, s"replayed verdicts differ: $replay vs $first")
    assert(snapshot(idx) == s1, "replay mutated index state")
  }

  test("IndexedDedup: seeded random batches match incrementalDedup batch " +
    "by batch — fresh docs, copies, word reversals, token drops, a df-cap " +
    "crossing, a doc shorter than k, a committed replay and an asOf read") {
    val rnd = new scala.util.Random(20261018L)
    val maxDf = 4
    def fresh(n: Int = 6 + rnd.nextInt(7)): String =
      Seq.fill(n)(s"w${rnd.nextInt(40)}").mkString(" ")
    // the common phrase: 4 shingles, 3 keep carriers. With batch 1's
    // three carriers its keep+batch df crosses the cap, which alone
    // decides two verdicts: the dup of keep doc 1 (J = 1/3 once its 4
    // phrase shingles leave both sizes, 1/7 if keep doc 1 kept them)
    // and the unmatched pair of fresh carriers (J = 4/12 if the phrase
    // survived). Two kept carriers then tombstone it for good.
    val phrase = "c1 c2 c3 c4 c5 c6"
    def toks(t: String): Vector[String] = t.split(" ").toVector
    def pick(corpus: Seq[(Long, String)]): String =
      corpus(rnd.nextInt(corpus.size))._2
    def batchOf(base: Long, corpus: Seq[(Long, String)],
                extra: Seq[String]): Seq[(Long, String)] = {
      val f = Seq.fill(3)(fresh())
      val docs = f ++ Seq(f.head) ++ // an in-batch copy
        Seq.fill(2)(pick(corpus)) ++
        Seq.fill(2)(toks(pick(corpus)).reverse.mkString(" ")) ++
        Seq.fill(2) {
          val ts = toks(pick(corpus)); ts.patch(rnd.nextInt(ts.size), Nil, 1)
            .mkString(" ")
        } ++ extra
      docs.zipWithIndex.map { case (t, i) => (base + i) -> t }
    }
    var corpus: Seq[(Long, String)] = Seq(1L -> s"$phrase a1 a2",
        2L -> s"$phrase x1 x2 x3 x4", 3L -> s"$phrase ${fresh(4)}") ++
      (4L to 16L).map(i => i -> fresh())
    val idx = boot(mkDocs(corpus), maxDf)
    // one step: verdicts must equal the q274 recompute against the keep
    // corpus the batch is judged against; the kept docs then join it
    def step(b: Seq[(Long, String)], seq: Long): Map[Long, (String, Long)] = {
      val exp = ref(mkDocs(corpus), mkDocs(b), maxDf)
      val v = got(spark, idx, mkDocs(b), seq, maxDf)
      assert(v == exp, s"batch $seq: $v vs $exp")
      corpus = corpus ++ b.filter(d => v(d._1)._1 == "kept")
      v
    }
    val b1 = batchOf(1000L, corpus, Seq("tiny doc", s"$phrase a1 b1",
      s"$phrase y1 y2 y3 y4", s"$phrase z1 z2 z3 z4"))
    val v1 = step(b1, 1L)
    assert(v1(1010L) == ("kept", 1010L), s"a doc shorter than k is kept: $v1")
    assert(v1(1011L) == ("dup_of_keep", 1L) && v1(1012L)._1 == "kept"
      && v1(1013L)._1 == "kept", s"the df-cap crossing decides: $v1")
    assert(v1.values.map(_._1).toSet == Set("kept", "dup_of_keep", "dup_in_drop"),
      s"batch 1 should exercise every status: $v1")
    assert(snapshot(idx)._1.contains(("c1 c2 c3", -1L)),
      "the common phrase should have crossed the cap")
    val before2 = idx.manifest.read().get
    val b2 = batchOf(2000L, corpus, Seq("tiny doc", s"$phrase a1 a2"))
    val v2 = step(b2, 2L)
    val after2 = snapshot(idx)
    // a replay of the committed batch recomputes read-only
    assert(got(spark, idx, mkDocs(b2), 2L, maxDf) == v2)
    assert(snapshot(idx) == after2, "replay mutated index state")
    // time travel: batch 2 against the snapshot that preceded it
    val tt = IndexedDedup.processBatch(spark, idx, mkDocs(b2), 2L, k = 3,
      threshold = 0.3, maxShingleDf = maxDf, asOf = Some(before2))
    val ttv = tt.as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(tt)
    assert(ttv == v2 && snapshot(idx) == after2, s"asOf read: $ttv vs $v2")
    step(batchOf(3000L, corpus, Nil), 3L)
  }

  test("IndexedDedup: a 25-doc near-duplicate chain in one batch resolves " +
    "to its lowest id — the per-batch path has no round limit") {
    val idx = boot(mkDocs(Seq(1L -> "k1 k2 k3 k4 k5 k6 k7 k8")), maxDf = 20)
    // doc i = tokens 4i..4i+11: neighbours share 6 of 10 shingles
    // (J = 0.43), docs two apart 2 (J = 0.11) — a 24-hop path
    val chain = mkDocs((0 until 25).map(i =>
      (100L + i) -> (4 * i until 4 * i + 12).map(t => s"t$t").mkString(" ")))
    val v = got(spark, idx, chain, seq = 1L, maxDf = 20)
    assert(v.size == 25 && v(100L) == ("kept", 100L))
    assert((101L to 124L).forall(d => v(d) == ("dup_in_drop", 100L)), v)
  }

  // ------------------------------------------------ crash injection
  /** Run the crash-injection protocol with `arm` installing the failure
    * hook: process a batch that crashes at the injected point, assert
    * readers stay on the pre-batch snapshot, then replay to completion
    * and compare verdicts + full index state against an uncrashed
    * control instance over the same fixture. */
  private def crashCase(arm: (() => Unit) => Unit, reset: () => Unit): Unit = {
    val keep = mkDocs((1 to 24).map(i =>
      i.toLong -> s"p$i q$i r$i s$i t$i c c c c u$i v$i"))
    val b1 = mkDocs((1 to 6).map(i =>
      (100L + i) -> s"n$i o$i c c c c g$i h$i j$i k$i l$i"))
    val control = boot(keep, maxDf = 28)
    val expected = got(spark, control, b1, seq = 1L, maxDf = 28)
    val ctrlState = snapshot(control)
    assert(ctrlState._1.exists(_._2 == -1L),
      "fixture must cross the df cap so BOTH indexes rewrite")

    val crashed = boot(keep, maxDf = 28)
    val preState = snapshot(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    arm(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        got(spark, crashed, b1, seq = 1L, maxDf = 28); ()
      }
    } finally reset()
    // the manifest never moved: readers (and the replay) see the
    // pre-batch snapshot of BOTH indexes, whatever was half-written
    assert(snapshot(crashed) == preState,
      "a crashed attempt leaked into the committed snapshot")
    // replay converges: same verdicts, bit-identical index content
    val replay = got(spark, crashed, b1, seq = 1L, maxDf = 28)
    assert(replay == expected,
      s"post-crash replay verdicts differ: $replay vs $expected")
    val replayState = snapshot(crashed)
    assert(replayState._1 == ctrlState._1 && replayState._2 == ctrlState._2
        && replayState._3 == ctrlState._3,
      "post-crash replay index state differs from the uncrashed control")
  }

  test("IndexedDedup: crash BETWEEN the two index rewrites — manifest " +
    "holds the pre-batch snapshot, replay converges bit-identically") {
    crashCase(
      hook => CrashPoints.arm(Point.DedupBetweenWrites)(hook),
      () => CrashPoints.disarm())
  }

  test("IndexedDedup: crash AFTER both rewrites, BEFORE the manifest " +
    "rename — same guarantee (the rename is the only commit point)") {
    crashCase(
      hook => CrashPoints.arm(Point.DedupStaged)(hook),
      () => CrashPoints.disarm())
  }

  test("IndexedDedup: keep-side IO tracks the batch — a 2-doc batch " +
    "against an 800-doc keep-set reads a fraction of incrementalDedup's " +
    "recompute volume") {
    val keepRows = (1 to 800).map(i =>
      i.toLong -> s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h")
    val keepDir = tmp("graft_xio_keep_")
    mkDocs(keepRows).write.mode("overwrite").parquet(keepDir)
    val keep = spark.read.parquet(keepDir)
    val idx = IndexedDedup.bootstrap(spark, keep, k = 3, maxShingleDf = 20,
      tmp("graft_xio_si_"), tmp("graft_xio_di_"), tmp("graft_xio_mf_"),
      rowCap = 256L)
    val b = mkDocs(Seq(
      9001L -> "w5a w5b w5c w5d w5e w5f w5g w5h", // dup of keep doc 5
      9002L -> "x1 x2 x3 x4 x5 x6 x7 x8"))
    val rIndexed = QueryProfile.of(spark) {
      val v = IndexedDedup.processBatch(spark, idx, b, 1L, k = 3,
        threshold = 0.3, maxShingleDf = 20)
      v.count()
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
    }._2.recordsRead
    val rRecompute = QueryProfile.of(spark) {
      Dedup.incrementalDedup(keep, b, "doc_id", "text", k = 3,
        threshold = 0.3, maxShingleDf = 20).count()
    }._2.recordsRead
    assert(rIndexed * 2 < rRecompute,
      s"indexed path read $rIndexed records vs recompute $rRecompute")
  }

  // ------------------------------------------ zero-df tombstone re-audit

  /** 'h h' in docs 1,2,3 — df 3 > cap 2, tombstoned at bootstrap.
    * Retracting ALL THREE drops its remaining-corpus df to ZERO: a
    * fresh bootstrap on doc 4 alone has no 'h h' row of any kind, so
    * the re-audit must un-tombstone a shingle with NO restored rows
    * (deriving unTomb from the restored groups missed it). */
  private val ZKeep = Seq(
    1L -> "h h p q", 2L -> "h h r s", 3L -> "h h t u", 4L -> "v w x y")
  private val ZRetractIds = Set(1L, 2L, 3L)

  private def dedupBoot(docs: DataFrame): IndexedDedup.Indexes =
    IndexedDedup.bootstrap(spark, docs, k = 2, maxShingleDf = 2,
      tmp("zdf_s_"), tmp("zdf_d_"), tmp("zdf_m_"), rowCap = 64L)

  private def dedupState(idx: IndexedDedup.Indexes) = {
    val st = idx.manifest.read().get
    (idx.shingle.allRows(st.buckets(idx.shingleName))
        .as[(String, Long)].collect().toSet,
      idx.doc.allRows(st.buckets(idx.docName))
        .select("doc_id", "n_keep").as[(Long, Long)].collect().toSet)
  }

  test("IndexedDedup.retractBatch: a tombstoned shingle whose " +
    "remaining-corpus df drops to ZERO is un-tombstoned (no stale " +
    "tombstone row survives) — retract == fresh bootstrap") {
    val keep = mkDocs(ZKeep)
    val retract = mkDocs(ZKeep.filter(r => ZRetractIds(r._1)))
    val remaining = mkDocs(ZKeep.filterNot(r => ZRetractIds(r._1)))
    val idx = dedupBoot(keep)
    val (s0, _) = dedupState(idx)
    assert(s0.contains(("h h", -1L)), "fixture must tombstone 'h h'")
    IndexedDedup.retractBatch(spark, idx, retract, 1L, k = 2,
      maxShingleDf = 2, retained = Some(remaining))
    val (s1, d1) = dedupState(idx)
    assert(!s1.exists(_._1 == "h h"),
      s"zero-df shingle must vanish entirely (tombstone included): $s1")
    val fresh = dedupBoot(remaining)
    assert((s1, d1) == dedupState(fresh),
      "retract(all containing docs) must equal a fresh bootstrap")
    // and the shingle participates in duplicate detection again: two
    // new docs sharing ONLY 'h h'-adjacent content pair up
    val b = mkDocs(Seq(101L -> "h h z1 z2", 102L -> "h h z1 z2"))
    val got = IndexedDedup.processBatch(spark, idx, b, 2L, k = 2,
      threshold = 0.3, maxShingleDf = 2)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((101L, "kept", 101L), (102L, "dup_in_drop", 101L)),
      s"un-tombstoned shingle must create pairs again: $got")
  }

  // ------------------------------------------------ retractBatch

  /** keep: 'h h' appears in docs 1,2,3 — df 3 > cap 2, tombstoned at
    * bootstrap. Retracting docs 2,3 drops df('h h') to 1 ≤ cap: the
    * re-audit must UN-TOMBSTONE it and restore doc 1's posting. */
  private val DedupKeep = ZKeep
  private val DedupRetractIds = Set(2L, 3L)

  test("IndexedDedup.retractBatch == bootstrap on the remaining corpus: " +
    "postings and doc rows of retracted docs gone, touched df-cap " +
    "tombstones re-audited and UN-TOMBSTONED with restored postings") {
    val keep = mkDocs(DedupKeep)
    val retract = mkDocs(DedupKeep.filter(r => DedupRetractIds(r._1)))
    val remaining = mkDocs(DedupKeep.filterNot(r => DedupRetractIds(r._1)))
    val idx = dedupBoot(keep)
    // pre-retract: the tombstone exists and doc 1 does NOT count 'h h'
    val (s0, d0) = dedupState(idx)
    assert(s0.contains(("h h", -1L)), "fixture must tombstone 'h h'")
    assert(d0.contains((1L, 2L)))
    IndexedDedup.retractBatch(spark, idx, retract, 1L, k = 2,
      maxShingleDf = 2, retained = Some(remaining))
    val fresh = dedupBoot(remaining)
    assert(dedupState(idx) == dedupState(fresh),
      "retract(batch) must be content-equivalent to a fresh bootstrap " +
        "on the remaining corpus")
    // the un-tombstone is visible: restored posting + n_keep increment
    val (s1, d1) = dedupState(idx)
    assert(s1.contains(("h h", 1L)) && !s1.exists(_._1 == "h h h"), s1.toString)
    assert(!s1.contains(("h h", -1L)), "tombstone must be re-audited away")
    assert(d1.contains((1L, 3L)), "doc 1 must regain the restored shingle")
    assert(!d1.exists(r => DedupRetractIds(r._1)), "retracted doc rows leak")
  }

  test("IndexedDedup.retractBatch with retained=None: the cap is a " +
    "one-way policy — postings removed, tombstone kept") {
    val idx = dedupBoot(mkDocs(DedupKeep))
    IndexedDedup.retractBatch(spark, idx,
      mkDocs(DedupKeep.filter(r => DedupRetractIds(r._1))), 1L, k = 2,
      maxShingleDf = 2, retained = None)
    val (s1, d1) = dedupState(idx)
    assert(s1.contains(("h h", -1L)), "one-way policy must keep the tombstone")
    assert(d1.contains((1L, 2L)), "no re-audit => no n_keep increment")
    assert(!s1.exists(r => r._2 >= 0 && DedupRetractIds(r._2)),
      "retracted postings leak")
    // replay of the committed retract is a no-op
    val before = dedupState(idx)
    IndexedDedup.retractBatch(spark, idx,
      mkDocs(DedupKeep.filter(r => DedupRetractIds(r._1))), 1L, k = 2,
      maxShingleDf = 2, retained = None)
    assert(idx.manifest.read().get.batchSeq == 1L)
    assert(dedupState(idx) == before, "committed retract replay mutated state")
  }

  test("IndexedDedup.retractBatch: post-retract verdicts equal " +
    "incrementalDedup against the remaining corpus (re-admission of " +
    "taken-down content)") {
    val keep = mkDocs(DedupKeep)
    val retract = mkDocs(DedupKeep.filter(r => DedupRetractIds(r._1)))
    val remaining = mkDocs(DedupKeep.filterNot(r => DedupRetractIds(r._1)))
    val idx = dedupBoot(keep)
    IndexedDedup.retractBatch(spark, idx, retract, 1L, k = 2,
      maxShingleDf = 2, retained = Some(remaining))
    // a copy of retracted doc 2 and a copy of surviving doc 4
    val b = mkDocs(Seq(102L -> "h h r s", 104L -> "v w x y"))
    val got = IndexedDedup.processBatch(spark, idx, b, 2L, k = 2,
      threshold = 0.3, maxShingleDf = 2)
      .as[(Long, String, Long)].collect().toSet
    val want = Dedup.incrementalDedup(remaining, b, "doc_id", "text",
        k = 2, threshold = 0.3, maxShingleDf = 2)
      .as[(Long, String, Long)].collect().toSet
    assert(got == want)
    assert(got.exists(r => r._1 == 102L && r._2 == "kept"),
      "the taken-down content must re-enter as kept")
    assert(got.exists(r => r._1 == 104L && r._2 == "dup_of_keep"))
  }

  private def dedupCrashCase(arm: (() => Unit) => Unit,
                             reset: () => Unit): Unit = {
    val keep = mkDocs(DedupKeep)
    val retract = mkDocs(DedupKeep.filter(r => DedupRetractIds(r._1)))
    val remaining = mkDocs(DedupKeep.filterNot(r => DedupRetractIds(r._1)))
    val control = dedupBoot(keep)
    IndexedDedup.retractBatch(spark, control, retract, 1L, k = 2,
      maxShingleDf = 2, retained = Some(remaining))
    val ctrl = dedupState(control)
    val crashed = dedupBoot(keep)
    val pre = dedupState(crashed)
    final class InjectedCrash extends RuntimeException("injected")
    arm(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        IndexedDedup.retractBatch(spark, crashed, retract, 1L, k = 2,
          maxShingleDf = 2, retained = Some(remaining))
      }
    } finally reset()
    assert(dedupState(crashed) == pre,
      "a crashed retract leaked into the committed snapshot")
    IndexedDedup.retractBatch(spark, crashed, retract, 1L, k = 2,
      maxShingleDf = 2, retained = Some(remaining))
    assert(dedupState(crashed) == ctrl,
      "post-crash retract replay differs from the uncrashed control")
  }

  test("IndexedDedup.retractBatch: crash BETWEEN the two index rewrites " +
    "— readers hold the pre-retract snapshot, replay converges") {
    dedupCrashCase(
      hook => CrashPoints.arm(Point.DedupBetweenWrites)(hook),
      () => CrashPoints.disarm())
  }

  test("IndexedDedup.retractBatch: crash AFTER both rewrites BEFORE the " +
    "manifest rename — same guarantee") {
    dedupCrashCase(
      hook => CrashPoints.arm(Point.DedupStaged)(hook),
      () => CrashPoints.disarm())
  }
}

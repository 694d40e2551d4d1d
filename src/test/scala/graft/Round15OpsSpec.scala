package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.IndexManifest
import graft.dedup.IndexTxn.Point

/** Round-15 pins: the ADVICE r14 fixes (pre-r14 IVF layouts fail
  * loudly instead of reading as empty; q308's census anchors by
  * batchSeq), tombstone compaction for the CDC delete store, the
  * curated-ANN rebuild under the shared manifest, and the compressed
  * hybrid retrieval leg. */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def ivfFixture() = {
    import graft.similarity.Clustering
    def vec(i: Int): Array[Float] =
      Array(i.toFloat, (i % 5).toFloat, (i % 3).toFloat)
    val emb = (1 to 48).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    (emb, Clustering.seedCentroids(emb, "vec_id", "embedding", 6))
  }

  // ------------------------------------------ pre-r14 layout guard

  test("IvfIndex: a manifest-less pre-r14 `cell=` layout fails loudly " +
    "on merge instead of reading as empty (and being gc'd away)") {
    import graft.similarity.IvfIndex
    val (emb, seeds) = ivfFixture()
    val root = tmp("r15ivf_legacy_")
    // a pre-r14 index: partitioned `cell=` dirs, no manifest
    emb.withColumn("cell", lit(0))
      .write.mode("overwrite").partitionBy("cell").parquet(root)
    val ex = intercept[IllegalStateException] {
      IvfIndex.mergeBatch(emb.limit(4), "vec_id", "embedding", seeds,
        root, 1L)
    }
    assert(ex.getMessage.contains("pre-r14"),
      s"expected a pre-r14 layout error, got: ${ex.getMessage}")
  }

  test("IvfIndex: a manifest naming a pre-r14 `_G` bucket fails with a " +
    "clear layout error, not a bare NumberFormatException") {
    import graft.similarity.IvfIndex
    val (emb, seeds) = ivfFixture()
    val root = tmp("r15ivf_legmf_")
    new IndexManifest(spark, s"$root/_mf").commit(1L,
      Map("ivf" -> Set("_G1")))
    val ex = intercept[IllegalStateException] {
      IvfIndex.probe(spark, root, emb.limit(2), "vec_id", "embedding",
        seeds, nProbe = 2, k = 1)
    }
    assert(ex.getMessage.contains("pre-r14"),
      s"expected a pre-r14 layout error, got: ${ex.getMessage}")
  }

  // ------------------------------------------ tombstone compaction

  import graft.streaming.Pipelines

  private def cdcMerge(rows: Seq[(Long, String, Long, String)],
                       dir: String): Unit =
    Pipelines.mergeIntoParquetWithDeletes(
      rows.toDF("k", "payload", "rev", "op"), dir, key = "k",
      version = "rev", tiebreak = "k", opCol = "op", nBuckets = 4)

  private def storeRows(dir: String): Set[(Long, Long, String)] =
    spark.read.parquet(dir).select("k", "rev", "op")
      .as[(Long, Long, String)].collect().toSet

  private def liveRows(dir: String): Set[(Long, Long)] =
    Pipelines.readWithDeletes(spark, dir, "op").select("k", "rev")
      .as[(Long, Long)].collect().toSet

  test("compactTombstones: retires tombstones at or below the horizon " +
    "only, leaves the live view unchanged, shrinks the store, is " +
    "idempotent on replay, and the horizon ratchets") {
    val dir = tmp("r15cmp_")
    cdcMerge((1L to 12L).map(k => (k, s"p$k", 1L, "")), dir)
    cdcMerge(Seq((3L, "", 2L, "D"), (4L, "", 2L, "D")), dir)
    cdcMerge(Seq((5L, "", 3L, "D")), dir)
    val liveBefore = liveRows(dir)
    assert(storeRows(dir).count(_._3 == "D") == 3)
    val dropped = Pipelines.compactTombstones(spark, dir, "rev", "op",
      horizon = 2L)
    assert(dropped == 2L, s"expected 2 retired tombstones, got $dropped")
    assert(liveRows(dir) == liveBefore,
      "compaction changed the live view")
    val after = storeRows(dir)
    assert(after.count(_._3 == "D") == 1 && after.contains((5L, 3L, "D")),
      s"only the rev-3 tombstone should survive: $after")
    assert(Pipelines.tombstoneHorizon(spark, dir) == 2L)
    // replay: nothing left at or below the horizon
    assert(Pipelines.compactTombstones(spark, dir, "rev", "op", 2L) == 0L)
    assert(storeRows(dir) == after, "replayed compaction mutated the store")
    // a LOWER horizon request keeps the stored one
    assert(Pipelines.compactTombstones(spark, dir, "rev", "op", 1L) == 0L)
    assert(Pipelines.tombstoneHorizon(spark, dir) == 2L)
  }

  test("compactTombstones: a stale upsert at or below the horizon " +
    "cannot resurrect a key whose tombstone was retired; re-admission " +
    "ABOVE the horizon returns") {
    val dir = tmp("r15cmp_res_")
    cdcMerge(Seq((1L, "a", 1L, ""), (2L, "b", 1L, "")), dir)
    cdcMerge(Seq((1L, "", 2L, "D")), dir)
    Pipelines.compactTombstones(spark, dir, "rev", "op", horizon = 2L)
    assert(!storeRows(dir).exists(_._3 == "D"), "tombstone not retired")
    // the resurrection attempt: a straggler upsert at rev <= horizon
    cdcMerge(Seq((1L, "zombie", 2L, "")), dir)
    assert(liveRows(dir) == Set((2L, 1L)),
      s"stale upsert resurrected a compacted delete: ${liveRows(dir)}")
    // ...and an upsert of a LIVE key at or below the horizon is also
    // dropped (the horizon contract: the feed no longer delivers <= h)
    cdcMerge(Seq((2L, "late", 2L, "")), dir)
    assert(liveRows(dir) == Set((2L, 1L)))
    // legitimate re-admission above the horizon
    cdcMerge(Seq((1L, "back", 3L, "")), dir)
    assert(liveRows(dir) == Set((1L, 3L), (2L, 1L)))
  }

  test("compactTombstones: a bucket whose every row is a retirable " +
    "tombstone vanishes (dynamic overwrite cannot rewrite an " +
    "empty partition)") {
    val dir = tmp("r15cmp_empty_")
    // nBuckets=4: find a key set that isolates one bucket as all-D
    cdcMerge((1L to 20L).map(k => (k, s"p$k", 1L, "D")), dir)
    val bucketsBefore = spark.read.parquet(dir).select("__bkt")
      .distinct().as[Int].collect().toSet
    assert(bucketsBefore.nonEmpty)
    val dropped = Pipelines.compactTombstones(spark, dir, "rev", "op", 1L)
    assert(dropped == 20L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("__bkt=")).toSet
    assert(left.isEmpty, s"all-tombstone buckets must be deleted: $left")
  }

  test("compactTombstones: crash AFTER the horizon marker BEFORE any " +
    "drop — tombstones still present but redundant behind the guard; " +
    "the retry completes the retirement") {
    val dir = tmp("r15cmp_crash_")
    cdcMerge(Seq((1L, "a", 1L, ""), (2L, "b", 1L, "")), dir)
    cdcMerge(Seq((1L, "", 2L, "D")), dir)
    final class InjectedCrash extends RuntimeException("injected")
    Pipelines.testCrashAfterHorizonWrite = () => throw new InjectedCrash
    try {
      intercept[InjectedCrash] {
        Pipelines.compactTombstones(spark, dir, "rev", "op", 2L)
      }
    } finally Pipelines.testCrashAfterHorizonWrite = () => ()
    // marker landed, tombstone did not drop — the store is SAFE, not torn
    assert(Pipelines.tombstoneHorizon(spark, dir) == 2L)
    assert(storeRows(dir).exists(_._3 == "D"))
    cdcMerge(Seq((1L, "zombie", 2L, "")), dir) // guarded by marker already
    assert(liveRows(dir) == Set((2L, 1L)))
    val dropped = Pipelines.compactTombstones(spark, dir, "rev", "op", 2L)
    assert(dropped == 1L && !storeRows(dir).exists(_._3 == "D"),
      "retry must complete the retirement")
  }

  // ------------------------------------------ curated-ANN rebuild

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

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
      maxShingleDf = 4, maxTermDf = 64L, tmp("r15c_si_"), tmp("r15c_di_"),
      tmp("r15c_t_"), tmp("r15c_d_"), tmp("r15c_g_"), tmp("r15c_m_"),
      rowCap = 64L, ann = Some(CuratedIndexes.Ann(tmp("r15c_a_"), seeds)),
      annVecs = Some(curVecs(embedded)))
  }

  private def curState(idx: graft.curation.CuratedIndexes.Indexes) = {
    val st = idx.dedup.manifest.read().get
    (idx.dedup.doc.allRows(st.buckets(idx.dedup.docName))
        .select("doc_id").as[Long].collect().toSet,
      idx.bm25.doc.allRows(st.buckets(idx.bm25.docName))
        .select("doc_id").as[Long].collect().toSet,
      graft.curation.CuratedIndexes.readAnn(spark, idx)
        .select("doc_id", "cell").as[(Long, Int)].collect().toSet)
  }

  test("CuratedIndexes.rebuildAnn: crash AFTER the ann staging BEFORE " +
    "the shared rename — ALL seven families hold the pre-rebuild " +
    "snapshot; the retry converges to the uncrashed control, text " +
    "bucket sets ride unchanged, time travel across the rebuild stays " +
    "readable, and a committed replay is a no-op") {
    import graft.curation.CuratedIndexes
    // merge a batch first so the rebuild provably reads CURRENT
    // membership (22 joins; the bootstrap-only membership would hide a
    // rebuild that re-reads the bootstrap corpus)
    def boot(): CuratedIndexes.Indexes = {
      val idx = curatedAnnBoot()
      CuratedIndexes.processBatch(spark, idx,
        mkDocs(Seq(22L -> "q r s t")), 1L, k = 2, threshold = 0.3,
        maxShingleDf = 4, maxTermDf = 64L,
        annVecs = Some(curVecs(Seq(22L)))).collect()
      idx
    }
    def centroidsOf(i: CuratedIndexes.Indexes): Seq[(Int, Seq[Double])] =
      i.ann.get.centroids.map { case (c, a) => (c, a.toSeq) }
    val control = boot()
    val control2 = CuratedIndexes.rebuildAnn(spark, control, batchSeq = 2L)
    val ctrl = curState(control2)
    val ctrlCents = centroidsOf(control2)
    assert(ctrlCents != centroidsOf(control),
      "fixture must actually move the centroids, or the rebuild is untested")
    val crashed = boot()
    val preState = curState(crashed)
    val preSnap = crashed.dedup.manifest.read().get
    final class InjectedCrash extends RuntimeException("injected")
    CrashPoints.arm(Point.BeforeAnnFamily)(() => throw new InjectedCrash)
    try {
      intercept[InjectedCrash] {
        CuratedIndexes.rebuildAnn(spark, crashed, batchSeq = 2L)
      }
    } finally CrashPoints.disarm()
    assert(crashed.dedup.manifest.read().get.version == preSnap.version
      && curState(crashed) == preState,
      "a crashed rebuild leaked into the committed snapshot")
    val crashed2 = CuratedIndexes.rebuildAnn(spark, crashed, batchSeq = 2L)
    assert(curState(crashed2) == ctrl,
      "post-crash rebuild replay differs from the uncrashed control")
    assert(centroidsOf(crashed2) == ctrlCents,
      "refit centroids are not bit-reproducible across the retry")
    val postSnap = crashed2.dedup.manifest.read().get
    // text families' bucket sets rode the rename UNCHANGED
    Seq(crashed2.dedup.shingleName, crashed2.dedup.docName,
      crashed2.bm25.termName, crashed2.bm25.docName,
      crashed2.bm25.statsName).foreach { nm =>
      assert(postSnap.buckets(nm) == preSnap.buckets(nm),
        s"rebuild must not touch text family $nm")
    }
    assert(postSnap.buckets(crashed2.ann.get.name)
      != preSnap.buckets(crashed2.ann.get.name))
    // time travel: the pre-rebuild snapshot (retain=2) is still fully
    // readable for the ann family
    val old = crashed2.dedup.manifest.read(preSnap.version).getOrElse(
      sys.error("pre-rebuild version aged out with retain=2"))
    val oldRows = graft.similarity.IvfIndex.readWith(spark,
        crashed2.ann.get.root, old, crashed2.ann.get.name, None)
      .get.select("doc_id", "cell").as[(Long, Int)].collect().toSet
    assert(oldRows == preState._3,
      "time travel across the rebuild must read the pre-rebuild layout")
    // committed replay: no-op (same handle back, nothing republished)
    val v = crashed2.dedup.manifest.read().get.version
    val replayed = CuratedIndexes.rebuildAnn(spark, crashed2, batchSeq = 2L)
    assert((replayed eq crashed2)
      && crashed2.dedup.manifest.read().get.version == v)
    // the invariant survives the rebuild: kept AND embedded docs are
    // exactly the retrievable set under the refit centroids
    val hits = CuratedIndexes.probeAnn(spark, crashed2,
        curVecs(Seq(1L, 2L, 3L, 22L)), nProbe = 2, k = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(hits == Set(1L, 2L, 3L, 22L),
      s"post-rebuild probe must retrieve the kept∧embedded corpus: $hits")
  }

  // ------------------------------------------ compressed hybrid fusion

  test("q311: the compressed-leg fusion is integer-exact — rrf_micro " +
    "equals the floor-div recompute from the carried leg ranks, legs " +
    "stay k-bounded, and at least one doc fuses BOTH legs") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q311_compressed_hybrid_rag")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    def rr(r: org.apache.spark.sql.Row, f: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(f))) None
      else Some(r.getLong(r.fieldIndex(f)))
    rows.foreach { r =>
      val want = rr(r, "rank_lex").fold(0L)(x => 1000000L / (60L + x)) +
        rr(r, "rank_sem").fold(0L)(x => 1000000L / (60L + x))
      assert(r.getLong(r.fieldIndex("rrf_micro")) == want,
        s"rrf_micro drifted from the floor-div recompute: $r")
      rr(r, "rank_lex").foreach(x => assert(x >= 1 && x <= 10))
      rr(r, "rank_sem").foreach(x => assert(x >= 1 && x <= 10))
    }
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("rank_lex"))
        && !r.isNullAt(r.fieldIndex("rank_sem"))),
      "fixture never fused both legs on one doc — fusion untested")
  }
}

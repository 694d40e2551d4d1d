package graft.curation

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.{IndexTxn, IndexedDedup}
import graft.dedup.IndexTxn.Point
import graft.similarity.IvfIndex
import graft.text.Bm25Index

/** CROSS-FAMILY atomic index commits (VERDICT r12 #4, extended to the
  * ANN family in r14 per VERDICT r13 #2): one curation pipeline ships
  * dedup verdicts, a searchable BM25 index, and (optionally) an
  * ANN-retrievable vector index for the SAME corpus, and the invariant
  * "a doc is kept ⟺ it is searchable ⟺ its vector is retrievable" must
  * flip atomically per batch. Each write entry point here is ONE
  * [[graft.dedup.IndexTxn]] over the shared manifest: [[IndexedDedup]],
  * [[Bm25Index]] and [[graft.similarity.IvfIndex]] stage their rewrites
  * in it (fresh bucket/cell generations, nothing visible), the BM25 and
  * IVF read-only prepare steps run alongside the dedup verdicts, their
  * finish steps take the batch's KEPT doc ids, and one rename publishes
  * all seven indexes (shingle + doc; term + doc + stats; IVF cells) plus
  * the batch id. Crash and replay contract as [[graft.dedup.IndexTxn]],
  * whose named points (launch order documented there) the crash specs
  * arm between each adjacent family pair.
  *
  * Index names are namespaced ("dedup.shingle", …, "bm25.stats",
  * "ann.ivf") so all bucket sets coexist in one
  * [[graft.dedup.IndexManifest]]; every family handle shares the same
  * manifest root.
  *
  * Retraction rides the same protocol and the same staging shape: a
  * takedown leaves all three families in one commit.
  *
  * The ANN feed is the batch's (doc_id, vector) rows — typically an
  * inner join against the embedding store, so only embedded docs are
  * vector-retrievable (the invariant is "kept ∧ embedded ⟺
  * ANN-retrievable"); centroids are the frozen seed set
  * ([[graft.similarity.IvfIndex]]'s drift caveat applies). */
object CuratedIndexes {

  /** The ANN family handle: IVF cell generations live under `root`,
    * committed through the SHARED manifest under `name`; `centroids`
    * are the frozen assignment set, `vec` the vector column of every
    * ann feed (ids are always `doc_id` — the dedup contract). */
  final case class Ann(root: String, centroids: Seq[(Int, Array[Double])],
                       vec: String = "embedding", name: String = "ann.ivf")

  final case class Indexes(dedup: IndexedDedup.Indexes,
                           bm25: Bm25Index.Indexes,
                           ann: Option[Ann] = None)

  def attach(spark: SparkSession, shingleRoot: String, dedupDocRoot: String,
             termRoot: String, bm25DocRoot: String, statsRoot: String,
             manifestRoot: String, rowCap: Long, retain: Int = 2,
             ann: Option[Ann] = None): Indexes =
    Indexes(
      IndexedDedup.attach(spark, shingleRoot, dedupDocRoot, manifestRoot,
        rowCap, retain, namePrefix = "dedup."),
      Bm25Index.attach(spark, termRoot, bm25DocRoot, statsRoot,
        manifestRoot, rowCap, retain, namePrefix = "bm25."),
      ann)

  /** Seed every family from the initial (already-curated) corpus and
    * make all indexes visible with ONE manifest commit. With an ann
    * handle, `annVecs` must carry the corpus docs' (doc_id, vector)
    * rows. */
  def bootstrap(spark: SparkSession, docs: DataFrame, k: Int,
                maxShingleDf: Int, maxTermDf: Long, shingleRoot: String,
                dedupDocRoot: String, termRoot: String, bm25DocRoot: String,
                statsRoot: String, manifestRoot: String, rowCap: Long,
                retain: Int = 2, ann: Option[Ann] = None,
                annVecs: Option[DataFrame] = None): Indexes = {
    require(ann.isDefined == annVecs.isDefined,
      "CuratedIndexes: ann handle and annVecs come together")
    val idx = attach(spark, shingleRoot, dedupDocRoot, termRoot,
      bm25DocRoot, statsRoot, manifestRoot, rowCap, retain, ann)
    require(idx.dedup.manifest.read().isEmpty,
      s"CuratedIndexes: manifest $manifestRoot already committed")
    val md = IndexedDedup.bootstrapStaged(spark, idx.dedup, docs, k,
      maxShingleDf)
    val mb = Bm25Index.bootstrapStaged(spark, idx.bm25, docs, maxTermDf)
    val ma = idx.ann.map { a =>
      a.name -> IvfIndex.finishMerge(IvfIndex.prepareMerge(annVecs.get,
        "doc_id", a.vec, a.centroids, 0L), None, a.root, 0L, None, a.name)
    }.toMap
    idx.dedup.manifest.commit(0L, md ++ mb ++ ma)
    idx
  }

  /** Classify one micro-batch, index its KEPT docs for search (and,
    * with an ann handle, their vectors for retrieval), and flip every
    * family visible in one commit. `annVecs` carries the BATCH's
    * (doc_id, vector) rows — the coordinator restricts them to the
    * kept ids. Returns the dedup verdicts (doc_id, status, rep_id) —
    * localCheckpoint-pinned; the caller releases them (the q274
    * contract). A replay of a committed batch recomputes the verdicts
    * read-only and skips the write path entirely.
    *
    * Launch order. The BM25 and IVF merges split into a read-only
    * prepare step over the whole batch ([[Bm25Index.prepare]],
    * [[IvfIndex.prepareMerge]]) and a finish step that stages the kept
    * docs' rewrites. The prepare steps need no verdicts and write
    * nothing, so both are forked BEFORE the dedup verdict phase and
    * overlap it; the stagings then launch as [[stageFamilies]] says. */
  def processBatch(spark: SparkSession, idx: Indexes, batch: DataFrame,
                   batchSeq: Long, k: Int, threshold: Double,
                   maxShingleDf: Int, maxTermDf: Long,
                   annVecs: Option[DataFrame] = None): DataFrame = {
    require(idx.ann.isDefined == annVecs.isDefined,
      "CuratedIndexes: ann handle and annVecs come together")
    IndexTxn.run(idx.dedup.manifest, batchSeq) { txn =>
      val snap = txn.snap
      val fPrepB = Option.when(txn.writes)(txn.fork(
        Bm25Index.prepare(spark, txn, idx.bm25, batch)))
      val fPrepA = idx.ann.filter(_ => txn.writes).map(a => txn.fork(
        IvfIndex.prepareMerge(annVecs.get, "doc_id", a.vec, a.centroids,
          batchSeq)))
      // the dedup INDEX-WRITE phase comes back as a thunk so it overlaps
      // the other families' finish steps
      val (verdicts, kept, dedupWrite) = IndexedDedup.stageBatchDeferred(
        spark, txn, idx.dedup, batch, k, threshold, maxShingleDf)
      dedupWrite.foreach(write => stageFamilies(txn)(write())(
        Bm25Index.finishMerge(spark, txn, idx.bm25, txn.await(fPrepB.get),
          Some(kept), maxTermDf))(
        idx.ann.foreach(a => IvfIndex.stage(txn, spark, a.root, a.name,
          IvfIndex.finishMerge(txn.await(fPrepA.get), Some(kept), a.root,
            batchSeq, Some(snap), a.name)))))
      verdicts
    }
  }

  /** Takedown: remove the docs from the keep-set, the search index AND
    * the vector index under one commit ([[IndexedDedup.retractBatch]] /
    * [[Bm25Index.retractBatch]] / [[IvfIndex.deleteBatch]] semantics,
    * including the text families' tombstone re-audit against
    * `retained`). `retractVecs` carries the takedown docs' (doc_id,
    * vector) rows — the vectors locate the touched IVF cells by the
    * same assignment arithmetic as their inserts.
    *
    * Launch order, as [[processBatch]]'s: the text families' read-only
    * prepare steps ([[IndexedDedup.prepareRetract]], [[Bm25Index.prepare]])
    * are forked first and overlap each other; the finishes, each
    * awaiting its own prepare, then launch as [[stageFamilies]] says. */
  def retractBatch(spark: SparkSession, idx: Indexes, retract: DataFrame,
                   batchSeq: Long, k: Int, maxShingleDf: Int,
                   maxTermDf: Long, retained: Option[DataFrame],
                   retractVecs: Option[DataFrame] = None): Unit = {
    require(idx.ann.isDefined == retractVecs.isDefined,
      "CuratedIndexes: ann handle and retractVecs come together")
    IndexTxn.run(idx.dedup.manifest, batchSeq) { txn =>
      val snap = txn.snap
      if (txn.writes) {
        val fPrepD = txn.fork(IndexedDedup.prepareRetract(txn, idx.dedup,
          retract, k))
        val fPrepB = txn.fork(Bm25Index.prepare(spark, txn, idx.bm25, retract))
        stageFamilies(txn)(IndexedDedup.finishRetract(spark, txn, idx.dedup,
          txn.await(fPrepD), k, maxShingleDf, retained))(
          Bm25Index.finishRetract(spark, txn, idx.bm25, txn.await(fPrepB),
            maxTermDf, retained))(
          idx.ann.foreach(a => IvfIndex.stage(txn, spark, a.root, a.name,
            IvfIndex.stageDelete(retractVecs.get, "doc_id", a.vec, a.centroids,
              a.root, batchSeq, Some(snap), a.name).get)))
      }
    }
  }

  /** The staging shape of an ingest and a takedown alike: the dedup and
    * BM25 finish steps forked and the IVF one run here, in
    * [[IndexTxn.Point]] order, then both forks awaited and one commit. */
  private def stageFamilies(txn: IndexTxn)(dedup: => Unit)(bm25: => Unit)
                           (ann: => Unit): Unit = {
    txn.point(Point.BeforeDedupFamily)
    val fMd = txn.fork(dedup)
    txn.point(Point.BetweenFamilies)
    val fMb = txn.fork(bm25)
    txn.point(Point.BeforeAnnFamily)
    ann
    txn.await(fMd)
    txn.await(fMb)
    txn.commit()
  }

  /** ANN REBUILD UNDER THE SHARED MANIFEST (VERDICT r14 #3) — the
    * lifecycle job that closes the curated tier's frozen-centroid
    * caveat without ever breaking "kept ∧ embedded ⟺ ANN-retrievable":
    * refit the centroids as one exact fixed-point Lloyd mean-update
    * over the ann family's CURRENT committed membership
    * ([[graft.similarity.Clustering.fixedPointCentroids]] — order-free
    * integer sums, bit-reproducible, SQL-replayable), reassign every
    * row, stage every cell as a fresh generation, and publish with ONE
    * shared-manifest rename that carries the five text families'
    * bucket sets UNCHANGED ([[IndexTxn]] contract: a crash leaves all
    * seven indexes on the pre-rebuild snapshot). Returns the handle set with the refit centroids swapped in —
    * subsequent merges/takedowns/probes MUST use it (the frozen seed
    * handle would assign against the wrong centroids); persisting the
    * refit set is the caller's job (k×dim scalars, codebook-sized).
    * One full-family read + one cells×dim aggregation + one
    * full-family write — the monthly-job cost shape, never the
    * per-batch path. */
  def rebuildAnn(spark: SparkSession, idx: Indexes, batchSeq: Long): Indexes = {
    val a = idx.ann.getOrElse(
      sys.error("CuratedIndexes: no ann family attached"))
    IndexTxn.run(idx.dedup.manifest, batchSeq) { txn =>
      val snap = txn.snap
      if (!txn.writes) idx // committed replay: no-op
      else {
        val (staged, refit) = IvfIndex.stageRebuild(spark, a.root, snap,
          a.name, "doc_id", a.vec, batchSeq)
        IvfIndex.stage(txn, spark, a.root, a.name, staged)
        txn.point(Point.BeforeAnnFamily)
        txn.commit()
        idx.copy(ann = Some(a.copy(centroids = refit)))
      }
    }
  }

  /** The committed ANN rows (audit/census reads — never the per-batch
    * or probe path); empty frame schema is the caller's problem, so
    * this errors when the family holds no cells. */
  def readAnn(spark: SparkSession, idx: Indexes): DataFrame = {
    val a = idx.ann.getOrElse(
      sys.error("CuratedIndexes: no ann family attached"))
    val snap = idx.dedup.manifest.read().getOrElse(
      sys.error("CuratedIndexes: bootstrap first"))
    IvfIndex.readWith(spark, a.root, snap, a.name, None).getOrElse(
      sys.error("CuratedIndexes: ann family holds no cells"))
  }

  /** Top-k exact-L2 ANN probe over the curated vector index — resolves
    * the probed cells through the SHARED committed snapshot, so it
    * sees exactly the kept ∧ embedded corpus ("queries" carries
    * (doc_id, vector) rows; output ids are kept doc ids). */
  def probeAnn(spark: SparkSession, idx: Indexes, queries: DataFrame,
               nProbe: Int, k: Int): DataFrame = {
    val a = idx.ann.getOrElse(
      sys.error("CuratedIndexes: no ann family attached"))
    val snap = idx.dedup.manifest.read().getOrElse(
      sys.error("CuratedIndexes: bootstrap first"))
    IvfIndex.probeWith(spark, a.root, snap, a.name, queries, "doc_id",
      a.vec, a.centroids, nProbe, k)
  }
}

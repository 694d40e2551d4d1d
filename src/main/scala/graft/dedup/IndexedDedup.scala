package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming corpus dedup against PERSISTED indexes — the scale form of
  * [[Dedup.incrementalDedup]] (which re-shingles the entire keep-set
  * every micro-batch; see its production caveat). Verdicts are
  * BIT-IDENTICAL to running `incrementalDedup(keep, batch)` per batch
  * (q274's semantics, oracle-replayed): same k-shingle Jaccard, same
  * keep∪batch document-frequency cap, same min-label components, same
  * kept / dup_of_keep / dup_in_drop statuses. What changes is the cost
  * shape: per batch the keep side is touched only through two
  * [[LinearHashIndex]] probes whose IO tracks the batch's key sets —
  * keep texts are never re-read, keep shingles never recomputed.
  *
  * State (both linear-hash indexes, bucket IO ∝ probe set):
  *   - SHINGLE index `(s, doc_id)`: posting lists of every keep doc for
  *     every shingle whose keep-side df is ≤ maxShingleDf; a shingle
  *     that crosses the cap is PERMANENTLY collapsed to one tombstone
  *     row `(s, -1)` (keep only grows, so keep-side df is monotone) —
  *     hot postings would otherwise grow without bound and poison the
  *     probe-proportionality of their buckets.
  *   - DOC index `(doc_id, n_keep, ver)`: per keep doc, its count of
  *     currently-surviving shingles (|sh(d)| minus tombstoned), plus
  *     the last-writer batch id. Doubles as the keep-membership set for
  *     rep classification.
  *
  * Per batch: probe the shingle index by the batch's shingle set, then
  * group batch shingles ∪ probed postings ∪ tombstones by shingle in ONE
  * pinned pass. Each group holds the shingle's batch docs and keep
  * postings, so the batch-relative hot set (tombstoned ∪ combined
  * keep+batch df over the cap) falls out with no global aggregation.
  * From that frame come the shared-shingle counts of batch×postings and
  * batch×batch pairs on surviving shingles, the batch docs' surviving
  * sizes, and the keep docs' sizes (doc-index lookups less the postings
  * the batch makes hot). The thresholded edges are collected ONCE: a
  * surviving shingle links at most maxShingleDf docs, so there are at
  * most maxShingleDf edges per batch shingle occurrence. A driver
  * union-find with union by minimum root then labels the components —
  * the min-label connected components of `incrementalDedup`, but with
  * no round limit, so a near-duplicate chain of any length in one
  * batch resolves. Statuses as in `incrementalDedup`. The write phase
  * reads its deltas off the same pinned per-shingle frame.
  *
  * Commit protocol: both indexes resolve through ONE [[IndexManifest]]
  * snapshot and every write path is one [[IndexTxn]] (crash and replay
  * contract there). A replay after the commit recomputes the verdicts
  * read-only — the keep side of pair/df computation excludes the
  * batch's doc ids, so state already extended yields the same verdicts.
  * The verdict sink stays outside the manifest and keeps its own
  * idempotent version-gated MERGE.
  */
object IndexedDedup {

  /** `shingleName`/`docName` are the manifest index names — default to
    * the historical "shingle"/"doc"; a cross-family pipeline committing
    * several index families under ONE manifest prefixes them. */
  final case class Indexes(shingle: LinearHashIndex, doc: LinearHashIndex,
                           manifest: IndexManifest,
                           shingleName: String = "shingle",
                           docName: String = "doc")

  val ShingleSchema = "s STRING, doc_id BIGINT"
  val DocSchema = "doc_id BIGINT, n_keep BIGINT, ver BIGINT"

  /** Attach to an existing on-disk index pair + manifest (a bootstrap
    * snapshot copied to a working directory, a restart after a crash).
    * `retain` = manifest snapshot retention ([[IndexManifest]]);
    * `namePrefix` namespaces the manifest index names for cross-family
    * single-manifest pipelines. */
  def attach(spark: SparkSession, shingleRoot: String, docRoot: String,
             manifestRoot: String, rowCap: Long, retain: Int = 2,
             namePrefix: String = ""): Indexes =
    Indexes(
      new LinearHashIndex(spark, shingleRoot, "s", ShingleSchema, rowCap),
      new LinearHashIndex(spark, docRoot, "doc_id", DocSchema, rowCap),
      new IndexManifest(spark, manifestRoot, retain),
      namePrefix + "shingle", namePrefix + "doc")

  /** Seed both indexes from the initial keep corpus and commit manifest
    * version 1 (batchSeq 0) making them visible atomically. */
  def bootstrap(spark: SparkSession, docs: DataFrame, k: Int,
                maxShingleDf: Int, shingleRoot: String, docRoot: String,
                manifestRoot: String, rowCap: Long, retain: Int = 2): Indexes = {
    val idx = attach(spark, shingleRoot, docRoot, manifestRoot, rowCap, retain)
    require(idx.manifest.read().isEmpty,
      s"IndexedDedup: manifest $manifestRoot already committed")
    idx.manifest.commit(0L, bootstrapStaged(spark, idx, docs, k, maxShingleDf))
    idx
  }

  /** Seed both indexes and return the bucket sets to commit — the
    * CALLER owns the manifest commit (a cross-family pipeline puts
    * several families' sets under ONE commit). Nothing is visible until
    * that commit lands. */
  private[graft] def bootstrapStaged(spark: SparkSession, idx: Indexes,
                                     docs: DataFrame, k: Int,
                                     maxShingleDf: Int): Map[String, Set[String]] = {
    val ex = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), k)).as("s"))
      .localCheckpoint(true)
    val hot0 = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select("s")
    val liveS = idx.shingle.bootstrap(
      ex.join(broadcast(hot0), Seq("s"), "left_anti").select("s", "doc_id")
        .unionByName(hot0.select(col("s"), lit(-1L).as("doc_id"))))
    val n0 = ex.join(broadcast(hot0).withColumn("__h", lit(true)), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("__h"), 0L).otherwise(1L)).as("n_keep"))
    val liveD = idx.doc.bootstrap(docs.select("doc_id")
      .join(n0, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_keep"), lit(0L)).as("n_keep"),
        lit(0L).as("ver")))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ex)
    Map(idx.shingleName -> liveS, idx.docName -> liveD)
  }

  /** Classify one micro-batch against the indexed keep-set and extend
    * the indexes with the batch's kept docs (one atomic manifest
    * commit). Returns the verdicts `(doc_id, status, rep_id)` —
    * statuses exactly as [[Dedup.incrementalDedup]].
    *
    * With `asOf`, the classification runs READ-ONLY against that
    * retained historical snapshot (manifest TIME TRAVEL): replaying
    * batch N against the snapshot that preceded it must reproduce the
    * live verdicts bit-for-bit — the auditability a mutable-in-place
    * index cannot offer (q297 makes this driver-visible). */
  def processBatch(spark: SparkSession, idx: Indexes, batch: DataFrame,
                   batchSeq: Long, k: Int, threshold: Double,
                   maxShingleDf: Int,
                   asOf: Option[IndexManifest.State] = None): DataFrame =
    ingest(spark, idx, batch, batchSeq, k, threshold, maxShingleDf, asOf, None)

  /** [[processBatch]] with a caller-supplied SINK run CONCURRENTLY with
    * the index-write phase (OPTIMIZATION r15, guide §2.6): the sink
    * sees the pinned verdicts as soon as they exist and overlaps the
    * staged rewrites + manifest commit. Crash contract: the sink may
    * land a batch whose index commit then crashes — the replay
    * recomputes bit-identical verdicts against the pre-batch snapshot
    * (processBatch determinism) and the caller's sink must be
    * idempotent (version-gated MERGE — the q274 contract, which every
    * caller already meets); convergence is unchanged, only the
    * sink-vs-index commit ORDER within one batch is relaxed. */
  def processBatchOverlapping(spark: SparkSession, idx: Indexes,
                              batch: DataFrame, batchSeq: Long, k: Int,
                              threshold: Double, maxShingleDf: Int)
                             (sink: DataFrame => Unit): DataFrame =
    ingest(spark, idx, batch, batchSeq, k, threshold, maxShingleDf, None,
      Some(sink))

  /** The one standalone ingest: verdicts, the sink (if any) forked over
    * them, the index writes, the commit, then the sink awaited. */
  private def ingest(spark: SparkSession, idx: Indexes, batch: DataFrame,
                     batchSeq: Long, k: Int, threshold: Double,
                     maxShingleDf: Int, asOf: Option[IndexManifest.State],
                     sink: Option[DataFrame => Unit]): DataFrame =
    IndexTxn.run(idx.manifest, batchSeq) { txn =>
      val (verdicts, _, write) = stageBatchDeferred(spark, txn, idx, batch,
        k, threshold, maxShingleDf, asOf)
      val fSink = sink.map(s => txn.fork(s(verdicts)))
      write.foreach(_())
      txn.commit()
      fSink.foreach(txn.await)
      verdicts
    }

  /** The verdict phase of a batch in `txn`, with the INDEX-WRITE phase
    * deferred behind a thunk (OPTIMIZATION r15): the verdicts and every
    * frame the rewrites need are computed (and pinned) eagerly;
    * invoking the returned thunk runs the two rewrites (internally
    * overlapped) and stages their bucket sets in `txn`. A cross-family
    * caller forks the thunk so the dedup rewrites overlap the OTHER
    * families' stagings. The thunk must be invoked at most once (None
    * = read-only replay or time travel). The middle element is the
    * batch's kept doc ids, driver-held, so a caller can restrict its own
    * staging to them without another Spark job. */
  private[graft] def stageBatchDeferred(spark: SparkSession, txn: IndexTxn,
                                        idx: Indexes, batch: DataFrame,
                                        k: Int, threshold: Double,
                                        maxShingleDf: Int,
                                        asOf: Option[IndexManifest.State] = None)
      : (DataFrame, Array[Long], Option[() => Unit]) = {
    // a time-travel read (`asOf`) is always read-only
    val snap = asOf.getOrElse(txn.snap)
    val batchSeq = txn.batchSeq
    val liveS = snap.buckets(idx.shingleName)
    val liveD = snap.buckets(idx.docName)
    // (doc_id, s); a doc shorter than k tokens keeps one (doc_id, null)
    // row, so the pinned frame also carries every batch doc id
    val bEx = txn.pinned(batch.select(col("doc_id"),
        explode_outer(Dedup.shingles(col("text"), k)).as("s"))
      .localCheckpoint(true))
    val bSh = bEx.where(col("s").isNotNull)
    // ---- one shingle-keyed pass over batch shingles ∪ probed postings
    // ∪ tombstones: per batch shingle, its batch docs `b`, its keep
    // postings `k` and whether it is tombstoned. Groups without a batch
    // doc are the co-bucketed rows the probe reads along. The replay
    // shield: a committed earlier attempt may already have merged this
    // batch's kept docs into the index — they are batch side, not keep
    // (a merged doc's postings are a subset of its own shingles, so
    // removing `b` from each posting list removes all of them). `hot` is
    // incrementalDedup's cap over keep ∪ batch, or a tombstone.
    val pRows = idx.shingle.probe(bSh.select("s"), liveS)
    val perS = txn.pinned(bSh.select(col("s"), col("doc_id"), lit(true).as("__b"))
      .unionByName(pRows.select(col("s"), col("doc_id"), lit(false).as("__b")))
      .groupBy("s")
      .agg(array_sort(collect_set(when(col("__b"), col("doc_id")))).as("b"),
        collect_set(when(!col("__b"), col("doc_id"))).as("__p"))
      .where(size(col("b")) > 0)
      .select(col("s"), col("b"),
        array_except(filter(col("__p"), _ >= 0L), col("b")).as("k"),
        array_contains(col("__p"), -1L).as("tomb"))
      .withColumn("hot",
        col("tomb") || size(col("k")) + size(col("b")) > maxShingleDf)
      .localCheckpoint(true))
    // ---- Jaccard over surviving shingles: per pair the shared count;
    // per batch doc its surviving shingles (0 when all are hot or it has
    // none); per matched keep doc its doc-index count less the postings
    // this batch makes hot
    val surv = perS.where(!col("hot"))
    val cnt = surv.select(explode(col("b")).as("doc_a"), col("b"), col("k"))
      .select(col("doc_a"), explode(concat(
        filter(col("b"), _ > col("doc_a")), col("k"))).as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val nB = perS.select(explode(col("b")).as("doc_id"),
        when(col("hot"), 0L).otherwise(1L).as("v"))
      .unionByName(bEx.where(col("s").isNull)
        .select(col("doc_id"), lit(0L).as("v")))
      .groupBy("doc_id").agg(sum("v").as("n"))
    val dec = perS.where(col("hot") && !col("tomb"))
      .select(explode(col("k")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("dec"))
    val keepIds = surv.select(explode(col("k")).as("doc_id")).distinct()
    val nK = idx.doc.probe(keepIds, liveD)
      .join(keepIds, Seq("doc_id"), "left_semi")
      .join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_keep") - coalesce(col("dec"), lit(0L))).as("n"))
    val sz = nB.unionByName(nK)
    val edges = cnt
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .where(col("c").cast("double")
        / (col("na") + col("nb") - col("c")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
    // ---- ONE collect: the thresholded edges plus a (doc, null) row per
    // batch doc. A surviving shingle links at most maxShingleDf docs, so
    // there are at most maxShingleDf edges per batch shingle occurrence.
    val links = edges.unionByName(nB.select(col("doc_id").as("doc_a"),
        lit(null).cast("long").as("doc_b")))
      .collect()
    // ---- components by the driver union-find (min-label connected
    // components, no round limit)
    val uf = new Dedup.MinUnionFind
    val batchIds = scala.collection.mutable.HashSet.empty[Long]
    links.foreach { row =>
      if (row.isNullAt(1)) batchIds += row.getLong(0)
      else uf.union(row.getLong(0), row.getLong(1))
    }
    // a rep outside the batch is a keep doc: only keep docs that passed
    // the doc-index size lookup have edges
    val rows = batchIds.toSeq.map { d =>
      val rep = uf.find(d)
      Row(d, if (rep == d) "kept" else if (batchIds(rep)) "dup_in_drop"
        else "dup_of_keep", rep)
    }
    val verdicts = txn.pinnedResult(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("doc_id BIGINT, status STRING, rep_id BIGINT"))
      .localCheckpoint(true))
    val kept = rows.collect { case Row(d: Long, "kept", _) => d }.toArray
    // ---- extend the indexes with the batch's kept docs — skipped on a
    // committed replay (the verdict recomputation above is read-only
    // against the complete snapshot) and on a time-travel read
    val write = Option.when(asOf.isEmpty && txn.writes) { () =>
      // the deltas, read off the pinned per-shingle frame: `kb` = its
      // kept batch docs. Keep-side df is monotone: a shingle crossing
      // the cap once the kept docs land is tombstoned for good
      // (`after` = tombstoned once this batch commits)
      val perK = perS.select(col("s"), col("k"), col("tomb"),
          array_intersect(col("b"), typedLit(kept)).as("kb"))
        .withColumn("after", col("tomb")
          || size(col("k")) + size(col("kb")) > maxShingleDf)
      val newPerm = perK.where(col("after") && !col("tomb")
        && size(col("kb")) > 0)
      val keptEx = perK.select(col("s"), col("after"),
        explode(col("kb")).as("doc_id"))
      val keptIds = spark.createDataFrame(
        java.util.Arrays.asList(kept.toSeq.map(Row(_)): _*),
        StructType.fromDDL("doc_id BIGINT"))
      val keptN = keptIds.join(keptEx.groupBy("doc_id")
          .agg(sum(when(col("after"), 0L).otherwise(1L)).as("nk")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nk"), lit(0L)).as("ins_n"))
      val decPerm = newPerm.select(explode(col("k")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("dec"))
      // the version gates stay (they also shield a crashed PRE-manifest
      // attempt whose directories this retry overwrites). The two
      // rewrites touch DISJOINT indexes, so they OVERLAP on the shared
      // stage pool (guide §2.6 — the per-batch path is
      // job-latency-bound, OPTIMIZATION r15)
      val diKeys = keptIds.unionByName(decPerm.select("doc_id"))
      val fDoc = txn.fork(idx.doc.rewrite(diKeys, liveD) { old =>
        old.join(keptN, Seq("doc_id"), "full_outer")
          .join(decPerm, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("ver").isNull, col("ins_n"))
              .when(col("ver") >= batchSeq, col("n_keep"))
              .when(col("dec").isNotNull, col("n_keep") - col("dec"))
              .otherwise(col("n_keep")).as("n_keep"),
            when(col("ver").isNull
                || (col("ver") < batchSeq && col("dec").isNotNull),
              lit(batchSeq)).otherwise(col("ver")).as("ver"))
      })
      txn.point(IndexTxn.Point.DedupBetweenWrites)
      val fShingle = txn.fork(
        idx.shingle.rewrite(keptEx.select("s"), liveS) { old =>
        old.join(broadcast(newPerm.select("s")), Seq("s"), "left_anti")
          .unionByName(keptEx.where(!col("after")).select("s", "doc_id"))
          .unionByName(newPerm.select(col("s"), lit(-1L).as("doc_id")))
          .distinct()
      })
      val newLiveD = txn.await(fDoc)
      val newLiveS = txn.await(fShingle)
      txn.point(IndexTxn.Point.DedupStaged)
      txn.stage(idx.shingleName, idx.shingle, newLiveS)
      txn.stage(idx.docName, idx.doc, newLiveD)
    }
    (verdicts, kept, write)
  }

  /** RETRACTION (VERDICT r12 #1 — takedown/GDPR/corpus-refresh): remove
    * `retract`'s docs (doc_id, text) from the keep-set indexes under
    * the SAME single-manifest commit protocol as [[processBatch]]:
    * their postings and doc-index rows go, and the df-cap tombstones
    * they touch are RE-AUDITED against `retained`, the remaining keep
    * corpus ([[TombstoneAudit]]) — an un-tombstoned shingle gets its
    * posting list back and each remaining doc containing it its
    * surviving-shingle count — so the result is BIT-EQUIVALENT to a
    * fresh bootstrap on the remaining corpus. With `retained = None` the
    * cap is a ONE-WAY POLICY: tombstones stay, verdicts stay conservative.
    *
    * Cost shape, the ingest's: [[prepareRetract]] then [[finishRetract]].
    * Probe IO tracks the retract batch's key sets; `retained` is read
    * only for touched tombstoned shingles. Replay of a committed retract
    * is a no-op; crash contract as [[IndexTxn]].
    *
    * History note: a retraction REWRITES KEEP-SET HISTORY by design —
    * replaying a pre-retraction merge batch afterwards is not
    * guaranteed to reproduce its original verdicts (its duplicates may
    * have been taken down). The replay-idempotence contract is
    * per-snapshot, which is what the manifest gate enforces. */
  def retractBatch(spark: SparkSession, idx: Indexes, retract: DataFrame,
                   batchSeq: Long, k: Int, maxShingleDf: Int,
                   retained: Option[DataFrame]): Unit =
    IndexTxn.run(idx.manifest, batchSeq) { txn =>
      if (txn.writes) {
        finishRetract(spark, txn, idx, prepareRetract(txn, idx, retract, k),
          k, maxShingleDf, retained)
        txn.commit()
      }
    }

  /** The READ-ONLY half of a retraction: ONE pinned pass over the
    * retract docs' shingles ∪ the probed tombstone rows. Per shingle it
    * holds `r`, its retract docs, and `tomb`; docs shorter than k tokens
    * share the null-shingle group, so every retract doc id is there. */
  private[graft] def prepareRetract(txn: IndexTxn, idx: Indexes,
                                    retract: DataFrame, k: Int): DataFrame = {
    val rEx = retract.select(col("doc_id"),
      explode_outer(Dedup.shingles(col("text"), k)).as("s"))
    val tombs = idx.shingle.probe(rEx.where(col("s").isNotNull).select("s"),
      txn.snap.buckets(idx.shingleName)).where(col("doc_id") === -1L)
    txn.pinned(rEx.select(col("s"), col("doc_id"), lit(true).as("__r"))
      .unionByName(tombs.select(col("s"), col("doc_id"), lit(false).as("__r")))
      .groupBy("s")
      .agg(collect_set(when(col("__r"), col("doc_id"))).as("r"),
        max(!col("__r")).as("tomb"))
      .where(size(col("r")) > 0)
      .localCheckpoint(true))
  }

  /** The WRITE half: stage a [[prepareRetract]] frame's retraction in
    * `txn` (which writes). ONE collect brings the retract docs the doc
    * index holds (retracting a non-member is a no-op) and the tombstoned
    * shingles with their docs; the rewrites read off the pinned frame. */
  private[graft] def finishRetract(spark: SparkSession, txn: IndexTxn,
                                   idx: Indexes, perS: DataFrame, k: Int,
                                   maxShingleDf: Int,
                                   retained: Option[DataFrame]): Unit = {
    import spark.implicits._
    val liveD = txn.snap.buckets(idx.docName)
    val rIds = perS.select(explode(col("r")).as("doc_id")).distinct()
    val facts = idx.doc.probe(rIds, liveD).join(rIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit(null).cast("string").as("s"),
        lit(null).cast("array<bigint>").as("r"))
      .unionByName(perS.where(col("tomb"))
        .select(lit(null).cast("long").as("doc_id"), col("s"), col("r")))
      .collect()
    val present = facts.filter(!_.isNullAt(0)).map(_.getLong(0))
    val isPresent = present.toSet
    val audit = TombstoneAudit(retained.map(_.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), k)).as("s"))), "s",
      facts.filter(f => f.isNullAt(0) && f.getSeq[Long](2).exists(isPresent))
        .map(_.getString(1)).toSeq, maxShingleDf)(
      df => txn.pinned(df.localCheckpoint(true)))
    // disjoint-index rewrites overlap (guide §2.6)
    val fShingle = txn.fork(idx.shingle.rewrite(perS.where(col("s").isNotNull
        && arrays_overlap(col("r"), typedLit(present))).select("s"),
        txn.snap.buckets(idx.shingleName)) { old =>
      val rest = old.where(!col("doc_id").isin(present: _*))
      audit.fold(rest)(_.patch(rest)(_.select("s", "doc_id"))).distinct()
    })
    txn.point(IndexTxn.Point.DedupBetweenWrites)
    // a remaining doc regains one surviving shingle per restored posting
    val inc = audit.map(_.restored.groupBy("doc_id").agg(count(lit(1)).as("inc")))
    val ids = present.toSeq.toDF("doc_id")
    val fDoc = txn.fork(idx.doc.rewrite(
        inc.fold(ids)(i => ids.unionByName(i.select("doc_id"))), liveD) { old =>
      val rest = old.where(!col("doc_id").isin(present: _*))
      inc.fold(rest)(i => rest.join(i, Seq("doc_id"), "left").select(
        col("doc_id"), (col("n_keep") + coalesce(col("inc"), lit(0L))).as("n_keep"),
        when(col("inc").isNotNull, lit(txn.batchSeq)).otherwise(col("ver")).as("ver")))
    })
    val newLiveS = txn.await(fShingle)
    val newLiveD = txn.await(fDoc)
    txn.point(IndexTxn.Point.DedupStaged)
    txn.stage(idx.shingleName, idx.shingle, newLiveS)
    txn.stage(idx.docName, idx.doc, newLiveD)
  }
}

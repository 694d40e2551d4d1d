package graft.text

import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.{IndexManifest, IndexTxn, LinearHashIndex, TombstoneAudit}

/** Persisted streaming BM25 inverted index — the retrieval-side member
  * of the index layer (dedup: [[graft.dedup.IndexedDedup]]; similarity:
  * [[graft.similarity.IvfIndex]]). One-shot [[Retrieval.bm25TopK]]
  * re-tokenizes and re-scans the whole corpus per query set; here the
  * corpus is ingested once (bootstrap + per-micro-batch merges) into
  * three [[LinearHashIndex]]es committed by ONE [[IndexManifest]]
  * snapshot, and a query's IO is probe-bounded: |terms|·B posting-shard
  * buckets + the matched docs' length buckets + one stats bucket —
  * never the corpus.
  *
  * State (all under one atomic manifest):
  *   - TERM index `(tk, term, doc_id, tf)` keyed by the SHARDED posting
  *     key tk = term + '#' + (hash(doc_id) mod B): one term's posting
  *     list spreads over B keys, so no single linear-hash key ever
  *     outgrows a bucket — the doc-partitioned posting-shard layout of
  *     every distributed inverted index (a single-key posting list
  *     CANNOT split: same key ⇒ same bucket hash forever).
  *   - DOC index `(doc_id, dl)`: whitespace token counts for the BM25
  *     length normalizer.
  *   - STATS index: one row `(k='g', n_docs, total_dl)` — the global
  *     scoring statistics, read with a single-bucket probe.
  *
  * Near-stopword pruning: a term whose document frequency crosses
  * maxTermDf is PERMANENTLY collapsed to one tombstone row
  * `(term#0, term, -1, 0)` and excluded from scoring — df is monotone
  * on an append-only corpus, so "tombstoned ⟺ final df > maxTermDf"
  * regardless of batch boundaries, which is exactly what makes the
  * streamed index's query results equal a one-shot build's (the q300
  * oracle replays pruning as a plain HAVING df <= cap over the final
  * corpus). BM25's idf at df near N is ~0 anyway; the cap is the
  * impact-pruning production engines apply to stopwords, sized so only
  * near-stopwords ever cross it (posting rows per term ≤ cap, per
  * shard ≤ cap/B ≪ rowCap).
  *
  * Per-batch merge and takedown share one shape: [[prepare]] is
  * read-only and pins ONE term-keyed frame over the whole batch (batch
  * entries tagged with their indexed length, live-posting df,
  * tombstone flag per term); [[finishMerge]] takes the kept docs not
  * yet indexed and [[finishRetract]] the indexed ones, and each stages
  * the term, doc and stats rewrites off that frame. A cross-family
  * caller ([[graft.curation.CuratedIndexes]]) runs the prepare step
  * alongside its dedup work; [[mergeBatch]] and [[retractBatch]] run
  * both steps back to back.
  *
  * Commit protocol: every write path is one [[graft.dedup.IndexTxn]]
  * (crash and replay contract there); a replay of a committed batch is
  * a no-op.
  *
  * Reference corpus context: the reference scores/retrieves nothing —
  * this is the 100 TB-scale retrieval tier above q92's one-shot BM25
  * (same rational-idf bit-reproducible scorer, q92's discipline).
  */
object Bm25Index {

  /** `termName`/`docName`/`statsName` are the manifest index names —
    * defaults are the historical ones; a cross-family pipeline
    * committing several index families under ONE manifest prefixes
    * them. */
  final case class Indexes(term: LinearHashIndex, doc: LinearHashIndex,
                           stats: LinearHashIndex, manifest: IndexManifest,
                           termName: String = "term",
                           docName: String = "doc",
                           statsName: String = "stats")

  val TermSchema = "tk STRING, term STRING, doc_id BIGINT, tf BIGINT"
  val DocSchema = "doc_id BIGINT, dl BIGINT"
  val StatsSchema = "k STRING, n_docs BIGINT, total_dl BIGINT"

  /** Posting shards per term (the tk sub-key fan-out). */
  val Shards = 16

  private def unpersist(df: DataFrame): Unit =
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(df)

  /** The sharded posting key for a (term, doc) row. */
  private def tkCol(term: org.apache.spark.sql.Column,
                    doc: org.apache.spark.sql.Column) =
    concat(term, lit("#"), pmod(hash(doc), lit(Shards)).cast("string"))

  /** Tombstones live in shard 0 under their own doc sentinel. */
  private def tombRows(terms: DataFrame): DataFrame =
    terms.select(concat(col("term"), lit("#0")).as("tk"), col("term"),
      lit(-1L).as("doc_id"), lit(0L).as("tf"))

  def attach(spark: SparkSession, termRoot: String, docRoot: String,
             statsRoot: String, manifestRoot: String, rowCap: Long,
             retain: Int = 2, namePrefix: String = ""): Indexes =
    Indexes(
      new LinearHashIndex(spark, termRoot, "tk", TermSchema, rowCap),
      new LinearHashIndex(spark, docRoot, "doc_id", DocSchema, rowCap),
      new LinearHashIndex(spark, statsRoot, "k", StatsSchema, rowCap),
      new IndexManifest(spark, manifestRoot, retain),
      namePrefix + "term", namePrefix + "doc", namePrefix + "stats")

  /** Per-doc term frequencies + doc length from whitespace tokens (the
    * q92 tokenizer — [[TextAnalysis.tokens]]); `first` marks each doc's
    * least term, one row per doc. */
  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        array_min(col("__toks")).as("__min"),
        explode(col("__toks")).as("term"))
      .groupBy("doc_id", "dl", "__min", "term").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"),
        (col("term") === col("__min")).as("first"))

  /** The B posting-shard keys of every term in `terms`. */
  private def shardKeys(spark: SparkSession, terms: DataFrame): DataFrame =
    terms.crossJoin(
        spark.range(Shards).select(col("id").cast("string").as("sh")))
      .select(concat(col("term"), lit("#"), col("sh")).as("tk"))

  /** Seed all three indexes from the initial corpus; manifest version 1
    * (batchSeq 0) makes them visible atomically. */
  def bootstrap(spark: SparkSession, docs: DataFrame, maxTermDf: Long,
                termRoot: String, docRoot: String, statsRoot: String,
                manifestRoot: String, rowCap: Long, retain: Int = 2): Indexes = {
    val idx = attach(spark, termRoot, docRoot, statsRoot, manifestRoot,
      rowCap, retain)
    require(idx.manifest.read().isEmpty,
      s"Bm25Index: manifest $manifestRoot already committed")
    idx.manifest.commit(0L, bootstrapStaged(spark, idx, docs, maxTermDf))
    idx
  }

  /** Seed all three indexes and return the bucket sets to commit — the
    * CALLER owns the manifest commit (cross-family pipelines). */
  private[graft] def bootstrapStaged(spark: SparkSession, idx: Indexes,
                                     docs: DataFrame,
                                     maxTermDf: Long): Map[String, Set[String]] = {
    val dt = docTerms(docs).localCheckpoint(true)
    val hot0 = dt.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") > maxTermDf).select("term")
    val liveT = idx.term.bootstrap(
      dt.join(broadcast(hot0), Seq("term"), "left_anti")
        .select(tkCol(col("term"), col("doc_id")).as("tk"),
          col("term"), col("doc_id"), col("tf"))
        .unionByName(tombRows(hot0)))
    val dls = dt.where(col("first")).select("doc_id", "dl")
      .localCheckpoint(true)
    val liveD = idx.doc.bootstrap(dls)
    val liveG = idx.stats.bootstrap(
      dls.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
        .select(lit("g").as("k"), col("n_docs"), col("total_dl")))
    unpersist(dt); unpersist(dls)
    Map(idx.termName -> liveT, idx.docName -> liveD, idx.statsName -> liveG)
  }

  /** Extend the index with one micro-batch of NEW documents (one atomic
    * manifest commit; a replay of a committed batch is a no-op, and doc
    * ids already indexed are skipped, so retries and overlapping feeds
    * both converge): [[prepare]] then [[finishMerge]] with every doc
    * kept. */
  def mergeBatch(spark: SparkSession, idx: Indexes, batch: DataFrame,
                 batchSeq: Long, maxTermDf: Long): Unit =
    IndexTxn.run(idx.manifest, batchSeq) { txn =>
      if (txn.writes) {
        finishMerge(spark, txn, idx, prepare(spark, txn, idx, batch), None,
          maxTermDf)
        txn.commit()
      }
    }

  /** The READ-ONLY half of a merge or takedown, over the whole batch:
    * ONE pinned term-keyed pass over the batch's doc terms ∪ the probed
    * postings. Per batch term it holds `e`, the batch entries (doc_id,
    * tf, dl, first, idl): `first` marks each doc's least term, so the
    * per-doc rows come off the same frame with no distinct, and `idl`
    * is the doc's indexed length (null for a doc not in the index);
    * `dfk`, its count of live postings; and `tomb`. Groups without a
    * batch entry are the co-bucketed rows the probe reads along,
    * dropped before the pin. Writes nothing, so a caller may run it
    * before it knows which docs it keeps; the frame stays pinned until
    * `txn` exits. */
  private[graft] def prepare(spark: SparkSession, txn: IndexTxn,
                             idx: Indexes, batch: DataFrame): DataFrame = {
    val snap = txn.snap
    val bIds = batch.select("doc_id").distinct()
    val indexed = idx.doc.probe(bIds, snap.buckets(idx.docName))
      .join(bIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl").as("idl"))
    val dt = docTerms(batch).join(broadcast(indexed), Seq("doc_id"), "left")
    val posts = idx.term.probe(shardKeys(spark, dt.select("term").distinct()),
      snap.buckets(idx.termName))
    val entries = dt.select(col("term"),
      struct("doc_id", "tf", "dl", "first", "idl").as("__e"),
      lit(null).cast("long").as("__p"))
    txn.pinned(entries
      .unionByName(posts.select(col("term"),
        lit(null).cast(entries.schema("__e").dataType).as("__e"),
        col("doc_id").as("__p")))
      .groupBy("term")
      .agg(collect_list(col("__e")).as("e"),
        count(when(col("__p") >= 0L, 1)).as("dfk"),
        coalesce(max(col("__p") === -1L), lit(false)).as("tomb"))
      .where(size(col("e")) > 0)
      .localCheckpoint(true))
  }

  /** The WRITE half of a merge: stage the rewrites for the `kept` docs
    * of a [[prepare]] frame (None = every doc) in `txn`, skipping docs
    * already indexed. Everything is read off the pinned frame with no
    * new shuffle: df counts KEPT docs only — batch-relative df is
    * current postings + kept entries, monotone, so crossing the cap
    * tombstones the term for good — and the term rewrite's key set is
    * the kept terms, so it touches the same buckets a merge of the kept
    * docs alone would. */
  private[graft] def finishMerge(spark: SparkSession, txn: IndexTxn,
                                 idx: Indexes, perT: DataFrame,
                                 kept: Option[Array[Long]],
                                 maxTermDf: Long): Unit = {
    val snap = txn.snap
    val liveT = snap.buckets(idx.termName)
    val liveD = snap.buckets(idx.docName)
    val liveG = snap.buckets(idx.statsName)
    val ke = filter(col("e"), x => x.getField("idl").isNull
      && kept.fold(lit(true))(ks => array_contains(typedLit(ks), x.getField("doc_id"))))
    // `after` = tombstoned once this batch commits
    val perK = perT.select(col("term"), col("tomb"), ke.as("ke"),
        (col("tomb") || col("dfk") + size(ke) > maxTermDf).as("after"))
      .where(size(col("ke")) > 0)
    val newPerm = perK.where(col("after") && !col("tomb")).select("term")
    val keptEx = perK.select(col("term"), col("after"),
      explode(col("ke")).as("x"))
    // the three rewrites touch DISJOINT indexes, so they OVERLAP on the
    // shared stage pool (guide §2.6, OPTIMIZATION r15 — the per-batch
    // path is job-latency-bound)
    val fTerm = txn.fork(
      idx.term.rewrite(shardKeys(spark, perK.select("term")), liveT) { old =>
        old.join(broadcast(newPerm), Seq("term"), "left_anti")
          .unionByName(keptEx.where(!col("after"))
            .select(tkCol(col("term"), col("x.doc_id")).as("tk"),
              col("term"), col("x.doc_id").as("doc_id"), col("x.tf").as("tf")))
          .unionByName(tombRows(newPerm))
      })
    txn.point(IndexTxn.Point.Bm25BetweenWrites)
    val newDl = keptEx.where(col("x.first"))
      .select(col("x.doc_id").as("doc_id"), col("x.dl").as("dl"))
    val fDoc = txn.fork(
      idx.doc.rewrite(newDl.select("doc_id"), liveD) { old =>
        old.unionByName(newDl)
      })
    val fStats = txn.fork(restat(idx, liveG,
      newDl.agg(count(lit(1)).as("dn"), coalesce(sum("dl"), lit(0L)).as("ddl")),
      sign = 1L))
    stageRewrites(txn, idx, fTerm, fDoc, fStats)
  }

  /** The stats rewrite: `delta`'s one row (dn, ddl) added `sign` times. */
  private def restat(idx: Indexes, liveG: Set[String], delta: DataFrame,
                     sign: Long): Set[String] = {
    val gKeys = idx.stats.allRows(liveG).select("k") // 1 row
    idx.stats.rewrite(gKeys, liveG) { old =>
      old.crossJoin(broadcast(delta)).select(col("k"),
        (col("n_docs") + col("dn") * sign).as("n_docs"),
        (col("total_dl") + col("ddl") * sign).as("total_dl"))
    }
  }

  /** Await the three rewrites (term, doc, stats) and stage them. */
  private def stageRewrites(txn: IndexTxn, idx: Indexes,
                            fTerm: Future[Set[String]],
                            fDoc: Future[Set[String]],
                            fStats: Future[Set[String]]): Unit = {
    val (t, d, g) = (txn.await(fTerm), txn.await(fDoc), txn.await(fStats))
    txn.point(IndexTxn.Point.Bm25Staged)
    txn.stage(idx.termName, idx.term, t)
    txn.stage(idx.docName, idx.doc, d)
    txn.stage(idx.statsName, idx.stats, g)
  }

  /** RETRACTION (VERDICT r12 #1): remove `retract`'s docs (doc_id,
    * text) from the index under the same single-manifest commit.
    * Postings of the retracted docs are deleted, their doc-length rows
    * dropped, and the global stats row is decremented exactly; the df-cap
    * tombstones they touch are RE-AUDITED against `retained`, the
    * remaining corpus ([[graft.dedup.TombstoneAudit]]; `None` keeps the
    * cap a one-way policy). With the re-audit the index is
    * BIT-EQUIVALENT to a fresh bootstrap on the remaining corpus, so
    * every query result equals a one-shot scorer over it.
    *
    * Cost shape, the merge's: [[prepare]] then [[finishRetract]];
    * `retained` is read only for touched tombstoned terms. Replay of a
    * committed retract is a no-op. */
  def retractBatch(spark: SparkSession, idx: Indexes, retract: DataFrame,
                   batchSeq: Long, maxTermDf: Long,
                   retained: Option[DataFrame]): Unit =
    IndexTxn.run(idx.manifest, batchSeq) { txn =>
      if (txn.writes) {
        finishRetract(spark, txn, idx, prepare(spark, txn, idx, retract),
          maxTermDf, retained)
        txn.commit()
      }
    }

  /** The WRITE half of a takedown: stage the removal of the indexed
    * docs of a [[prepare]] frame in `txn` (retracting a non-member is a
    * no-op). ONE collect brings the decisions to the driver — each
    * indexed doc with its indexed length (the exact stats decrement)
    * and the touched tombstoned terms — then the rewrites read off the
    * pinned frame. */
  private[graft] def finishRetract(spark: SparkSession, txn: IndexTxn,
                                   idx: Indexes, perT: DataFrame,
                                   maxTermDf: Long,
                                   retained: Option[DataFrame]): Unit = {
    import spark.implicits._
    val perR = perT.select(col("term"), col("tomb"),
        filter(col("e"), _.getField("idl").isNotNull).as("re"))
      .where(size(col("re")) > 0)
    val facts = perR.select(explode(col("re")).as("x")).where(col("x.first"))
      .select(col("x.doc_id").as("doc_id"), col("x.idl").as("dl"),
        lit(null).cast("string").as("term"))
      .unionByName(perR.where(col("tomb")).select(lit(null).cast("long")
        .as("doc_id"), lit(null).cast("long").as("dl"), col("term")))
      .collect()
    val present = facts.filter(!_.isNullAt(0))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = present.keys.toSeq
    val audit = TombstoneAudit(retained.map(docTerms), "term",
      facts.filter(_.isNullAt(0)).map(_.getString(2)).toSeq, maxTermDf)(
      df => txn.pinned(df.localCheckpoint(true)))
    // disjoint-index rewrites overlap, as finishMerge's
    val fTerm = txn.fork(idx.term.rewrite(shardKeys(spark, perR.select("term")),
        txn.snap.buckets(idx.termName)) { old =>
      val rest = old.where(!col("doc_id").isin(ids: _*))
      audit.fold(rest)(_.patch(rest)(_.select(tkCol(col("term"),
        col("doc_id")).as("tk"), col("term"), col("doc_id"), col("tf"))))
    })
    txn.point(IndexTxn.Point.Bm25BetweenWrites)
    val fDoc = txn.fork(idx.doc.rewrite(ids.toDF("doc_id"),
      txn.snap.buckets(idx.docName))(_.where(!col("doc_id").isin(ids: _*))))
    val fStats = txn.fork(restat(idx, txn.snap.buckets(idx.statsName),
      Seq((ids.size.toLong, present.values.sum)).toDF("dn", "ddl"), sign = -1L))
    stageRewrites(txn, idx, fTerm, fDoc, fStats)
  }

  /** The scoring rows of `terms` (probed through `probeKeys`, their
    * posting shards) against the committed snapshot: per live posting
    * its BM25 contribution, [[Retrieval.bm25Term]]'s exact node tree.
    * IO is probe-bounded: the terms' shards, the matched docs' length
    * buckets and the stats bucket. Also returns the pinned postings,
    * which the caller releases. */
  private def scored(spark: SparkSession, idx: Indexes, terms: DataFrame,
                     probeKeys: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val snap = idx.manifest.read().getOrElse(
      sys.error(s"Bm25Index: no committed manifest at ${idx.manifest.root}"))
    val posts = idx.term.probe(probeKeys, snap.buckets(idx.termName))
      .join(broadcast(terms), Seq("term"))
      .where(col("doc_id") >= 0L).localCheckpoint(true)
    val dfT = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val matched = posts.select("doc_id").distinct()
    val dls = idx.doc.probe(matched, snap.buckets(idx.docName))
      .join(matched, Seq("doc_id"), "left_semi")
    val g = idx.stats.probe(Seq("g").toDF("k"), snap.buckets(idx.statsName))
      .where(col("k") === "g")
    (posts, posts.join(broadcast(dfT), Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(g))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .withColumn("contrib", Retrieval.bm25Term(col("tf"), col("df"),
        col("dl"), col("n_docs"), col("avgdl"))))
  }

  /** Top-k docs for the fixed `terms` against the committed snapshot —
    * [[Retrieval.bm25Term]]'s exact node tree over probed postings, so
    * the result hash-matches a one-shot scorer over the same corpus.
    * Per-term contributions pivot into fixed columns and sum in fixed
    * left-assoc order (adding exact 0.0s — order-free), the q92 float
    * determinism contract. Output: (rank, doc_id, score). */
  def query(spark: SparkSession, idx: Indexes, terms: Seq[String],
            k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 16, "fixed small term set")
    require(terms.distinct.size == terms.size,
      "duplicate query terms would double-count their contribution")
    import spark.implicits._
    val (posts, rows) = scored(spark, idx, terms.toDF("term"),
      terms.flatMap(t => (0 until Shards).map(s => s"$t#$s")).toDF("tk"))
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib")).otherwise(lit(0.0)))
        .as(s"c$i")
    }
    val score = terms.indices.map(i => col(s"c$i")).reduceLeft(_ + _)
    val top = rows.groupBy("doc_id").agg(pivots.head, pivots.tail: _*)
      .withColumn("score", score)
      .select("doc_id", "score")
      .orderBy(desc("score"), col("doc_id").asc)
      .limit(k)
    val out = top
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score"), col("doc_id").asc)).cast("long"))
      .select("rank", "doc_id", "score")
      .localCheckpoint(true)
    unpersist(posts)
    out
  }

  /** Top-k docs for a TABLE of queries in ONE pass over the index
    * (VERDICT r12 #3 — the production retrieval tier scores a query
    * workload, not one driver-literal term list). `queries` holds
    * (query_id BIGINT, term STRING) pairs; the probe reads the UNION of
    * all queries' terms' posting shards ONCE (IO ∝ |distinct terms|·B
    * buckets + matched doc-length buckets + 1 stats bucket — never the
    * corpus or the query count), scores every (query, doc) pair with
    * [[Retrieval.bm25Term]]'s exact node tree, and ranks per query with
    * the partial WindowGroupLimit.
    *
    * Float determinism without per-query pivot columns: each (query,
    * doc)'s term contributions are folded LEFT-ASSOC IN TERM-SORTED
    * ORDER (`array_sort` on (term, contrib) structs — term sets are
    * distinct per query, so the order is total). An absent term adds
    * exact 0.0 in the replayed SQL, which is IEEE-identity on the
    * strictly-positive contributions — so the result hash-matches a
    * one-shot scorer that sums the query's full term list in
    * alphabetical order (the q92/q300 contract, generalized to
    * variable term sets). Output: (query_id, rank, doc_id, score). */
  def queryTable(spark: SparkSession, idx: Indexes, queries: DataFrame,
                 k: Int): DataFrame = {
    val q = queries.select(col("query_id").cast("long").as("query_id"),
      col("term")).distinct().localCheckpoint(true)
    val terms = q.select("term").distinct()
    val (posts, scoredRows) = scored(spark, idx, terms, shardKeys(spark, terms))
    val rows = scoredRows.join(broadcast(q), Seq("term")) // fan out to the queries using t
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("doc_id").asc)
    val out = rows.groupBy("query_id", "doc_id")
      .agg(array_sort(collect_list(struct(col("term"), col("contrib"))))
        .as("cs"))
      .withColumn("score", aggregate(col("cs"), lit(0.0),
        (acc, x) => acc + x.getField("contrib")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
      .localCheckpoint(true)
    unpersist(posts); unpersist(q)
    out
  }
}

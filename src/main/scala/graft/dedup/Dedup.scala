package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.text.TextAnalysis

/** Deduplication operators for the training-data pipeline (north star):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. Shuffle discipline at
  * 100 TB:
  *   - exact dedup: one shuffle on the fingerprint;
  *   - MinHash LSH: signatures computed in the scan (no shuffle), one
  *     shuffle on (band, bandHash), bucket-local pair generation with a
  *     bucket-size cap so a degenerate bucket cannot go quadratic;
  *   - verification joins are by doc id against the (much smaller)
  *     candidate-pair set.
  */
object Dedup {

  /** k-token shingles of a document, as a distinct set (one-pass custom
    * expression — see graft.functions.WordShingles for why not HOFs). */
  def shingles(text: Column, k: Int): Column =
    HashFunctions.word_shingles(text, k)

  /** Exact dedup: group on the md5 fingerprint of the normal form, keep
    * the lowest id (the reference's "first seen wins" semantics of P3
    * generalized to content identity). Returns the kept rows. */
  def exactDedup(docs: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(id))
    docs.withColumn("__fp", TextAnalysis.md5Fingerprint(col(text)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("__fp", "fingerprint")
  }

  /** MinHash-LSH candidate pairs: signature → bands → bucket join.
    * `numHashes = bands * rowsPerBand`. `maxBucket` drops degenerate
    * buckets (stopword-like shingle sets) instead of letting one bucket
    * produce O(n²) pairs — at 100 TB this cap is what keeps the stage
    * bounded; dropped buckets are by construction near-universal content
    * whose pairs the Jaccard verifier would reject anyway. */
  def minhashCandidatePairs(docs: DataFrame, id: String, text: String,
                            k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                            maxBucket: Int = 64): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = docs.select(col(id).as("doc"),
      HashFunctions.minhash_signature(shingles(col(text), k), numHashes).as("sig"))
    val banded = sig.select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(col("doc"), col("pos").as("band"),
        HashFunctions.fnv1a(concat_ws(",", col("col"))).as("bucket"))
    // One shuffle: gather each bucket's members, generate ordered pairs
    // inside the array (i<j), explode. No self-join, no window pass.
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(col("doc")).as("docs"))
      .where(size(col("docs")).between(2, maxBucket))
      .select(array_sort(col("docs")).as("ds"))
    buckets.select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Exact Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Verify candidate pairs against exact shingle Jaccard; keeps pairs with
    * similarity >= threshold. Joins the (small) pair set back to the
    * shingle sets by id — two broadcast-friendly joins, no re-shuffle of
    * the corpus. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, id: String,
                    text: String, k: Int, threshold: Double): DataFrame = {
    val sh = docs.select(col(id).as("__vid"), shingles(col(text), k).as("__sh"))
    pairs
      .join(sh.withColumnRenamed("__vid", "doc_a").withColumnRenamed("__sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("__vid", "doc_b").withColumnRenamed("__sh", "sh_b"), "doc_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** SimHash per document. Near-dups have small Hamming distance. */
  def simhash(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      HashFunctions.simhash64(TextAnalysis.tokens(col(text))).as("simhash"))

  /** SimHash near-dup pairs: multi-band Hamming LSH. The 64-bit simhash
    * is split into `bands` 16-bit blocks; a pair is a candidate if ANY
    * band matches (union of bands in one shuffle via explode), then
    * verified with bit_count(xor) <= maxHamming.
    *
    * Single-band prefix blocking fails twice at 100 TB: a hot prefix goes
    * O(n²) (no cap) and near-dups differing anywhere in the block's bits
    * are silently missed. Here every band gets a chance (recall: a pair
    * with <= bands-1 differing bands collides in at least one band), and
    * `maxBucket` bounds any degenerate bucket exactly as in
    * [[minhashCandidatePairs]] — bucket-local pair-gen, no self-join. */
  def simhashPairs(docs: DataFrame, id: String, text: String,
                   maxHamming: Int, bands: Int = 4,
                   maxBucket: Int = 256): DataFrame = {
    require(bands >= 1 && bands <= 4, "simhash64 splits into at most 4 16-bit bands")
    val sh = simhash(docs, id, text).select(col(id).as("doc"), col("simhash"))
    val bandStructs = array((0 until bands).map(i =>
      struct(lit(i).as("band"),
        shiftrightunsigned(col("simhash"), i * 16)
          .bitwiseAND(lit(0xFFFFL)).as("block"))): _*)
    val banded = sh
      .select(col("doc"), col("simhash"), explode(bandStructs).as("bb"))
      .select(col("doc"), col("simhash"), col("bb.band"), col("bb.block"))
    // One shuffle on (band, block); ordered pair-gen inside each bucket.
    val buckets = banded.groupBy("band", "block")
      .agg(collect_list(struct(col("doc"), col("simhash"))).as("ms"))
      .where(size(col("ms")).between(2, maxBucket))
      .select(array_sort(col("ms")).as("ms"))
    buckets.select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          b => struct(a.getField("doc").as("doc_a"),
            b.getField("doc").as("doc_b"),
            a.getField("simhash").as("sh_a"),
            b.getField("simhash").as("sh_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.sh_a"), col("p.sh_b"))
      .distinct() // a pair may collide in several bands — emit once
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Driver union-find with union by minimum root: every root is the
    * least id of its set, so `find(d)` is min-label connected
    * components' label, with no round limit. For edge sets already on
    * the driver (a batch's thresholded near-dup pairs); a corpus-wide
    * graph stays on [[connectedComponents]]. */
  private[graft] final class MinUnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }

    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }

    /** (node, label) for every node that took part in a union. */
    def labels: Seq[(Long, Long)] = parent.keys.toSeq.map(n => (n, find(n)))
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step that turns pairwise matches into dedup groups (keep
    * min-id per component). Iterative min-label propagation: each
    * round is ONE join + ONE aggregation shuffle + ONE job — the
    * convergence check rides the same aggregation (the previous label is
    * recovered as min(label WHERE own) in the same pass), so no separate
    * convergence join runs. Rounds needed = graph diameter (near-dup
    * graphs are shallow — chains of copies, not long paths).
    * `localCheckpoint` truncates lineage each round so
    * the plan doesn't grow with iterations — the standard Spark
    * iterative-algorithm discipline at any scale. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(src).as("x"), col(dst).as("y"))
    // ONE build shuffle, keyed by the per-round join key: hash(y)
    // satisfies the (x, y) dedup's clustering requirement, and the
    // checkpointed frame keeps that partitioning, so every round's
    // sym-side join input arrives pre-partitioned instead of paying a
    // fresh exchange per round (guide §2.4 — share one exchange;
    // OPTIMIZATION r15).
    val sym = e.unionByName(e.select(col("y").as("x"), col("x").as("y")))
      .repartition(col("y")).dropDuplicates(Seq("x", "y"))
      .localCheckpoint(true)
    var labels = sym.select(col("x").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // Checkpoint hygiene: each round's localCheckpoint pins its blocks for
    // the JVM's life; without eviction a long chain accumulates O(rounds)
    // cached label RDDs. Once round i's labels are materialized (the
    // count() below), round i-1's blocks have no remaining reader and are
    // dropped. Only the final round's labels (returned) and `sym` stay
    // pinned during the loop; `sym` is dropped on exit.
    var prevCp = labels
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // ONE join + ONE aggregation shuffle + ONE action per round: each
      // node's own row is tagged `own = true`, so the same min-label
      // aggregation also recovers the node's previous label
      // (min(label WHERE own) — exactly one own row per node), and the
      // convergence check is a filter over the aggregated result instead
      // of a second join. The count is the round's single materializing
      // job; it completes the lazy localCheckpoint, truncating lineage.
      val own = labels.select(col("node"), col("label"), lit(true).as("own"))
      val nbr = sym.join(labels, sym("y") === labels("node"))
        .select(sym("x").as("node"), col("label"), lit(false).as("own"))
      val next = own.unionByName(nbr)
        .groupBy("node")
        .agg(min("label").as("label"),
          min(when(col("own"), col("label"))).as("old"))
        .localCheckpoint(false)
      converged = next.where(col("label") =!= col("old")).count() == 0L
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(prevCp)
      prevCp = next
      labels = next.select("node", "label")
      i += 1
    }
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(sym)
    // Silent partial labels would be WRONG answers — fail loudly instead;
    // the caller raises maxIter (rounds needed = graph diameter).
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** Incremental corpus dedup — the production form of the full-corpus
    * pipeline (q87): dedup a NEW DROP against an existing keep-set without
    * ever re-pairing the corpus against itself. This is how a 100 TB
    * pipeline actually runs: the corpus was deduped once; each incoming
    * drop must be classified against it and within itself.
    *
    * Per drop document the verdict is one of
    *   - `dup_of_keep`  — its component's representative is a keep doc;
    *   - `dup_in_drop`  — representative is a lower-id drop doc;
    *   - `kept`         — it IS its component's representative (or matched
    *                      nothing at all).
    * `rep_id` carries the representative (own id when kept).
    *
    * Shape at scale:
    *   - The exploded (doc, shingle) keep side is THE persisted index a
    *     deployment stores (bucketed by shingle hash, appended per drop) —
    *     here it is recomputed inline because the fixture stores raw text.
    *     Shingle document frequencies ride the same index, so the
    *     hot-shingle cap is a broadcast anti-join exactly as in
    *     [[blockedJaccardPairs]].
    *   - Pair generation is restricted to pairs TOUCHING THE DROP: a
    *     drop-vs-keep shingle equi-join plus a drop-vs-drop self-join.
    *     Keep-vs-keep pairs — the quadratic bulk of a full re-run — never
    *     materialize; cost is O(drop shingles × their index matches).
    *   - Components run over only the new edges (collected once, then a
    *     driver [[MinUnionFind]]), so work tracks the DROP's component
    *     closure, not the corpus, and no chain is too long to resolve.
    *
    * Invariants the caller owns (both hold in any append-only pipeline):
    * ids are unique across keep ∪ drop and new ids sort after keep ids;
    * the keep-set is internally deduped at `threshold` (no keep-keep edge
    * exists, which is what makes skipping them lossless). Known, standard
    * divergence from a full re-run: transitivity THROUGH a previously
    * dropped doc is not seen (the index holds only kept docs) — a drop doc
    * whose only link to a keep representative ran through a dropped
    * near-dup stays `kept`. Every index-based incremental deduper shares
    * this; the alternative is re-pairing the world. */
  def incrementalDedup(keep: DataFrame, drop: DataFrame, id: String,
                       text: String, k: Int, threshold: Double,
                       maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val keepD = keep.select(col(id).as("doc"), col(text).as("__t"))
    val dropD = drop.select(col(id).as("doc"), col(text).as("__t"))
    val allEx0 = keepD.withColumn("__drop", lit(false))
      .unionByName(dropD.withColumn("__drop", lit(true)))
      .select(col("doc"), col("__drop"), explode(shingles(col("__t"), k)).as("s"))
    // Document frequencies over keep ∪ drop (maintained with the index in
    // production); the hot list is tiny by construction → broadcast anti.
    val filtered = if (maxShingleDf == Int.MaxValue) allEx0 else {
      val hot = allEx0.groupBy("s").agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxShingleDf).select("s")
      allEx0.join(broadcast(hot), Seq("s"), "left_anti")
    }
    // Consumed by sizes + three join sides — materialize the explode once.
    val allEx = filtered.localCheckpoint(true)
    val sizes = allEx.groupBy("doc").agg(count(lit(1)).as("n"))
    val dropEx = allEx.where(col("__drop")).select("doc", "s")
    val keepEx = allEx.where(!col("__drop")).select("doc", "s")
    val dk = dropEx.select(col("s"), col("doc").as("doc_a"))
      .join(keepEx.select(col("s"), col("doc").as("doc_b")), Seq("s"))
    val dd = dropEx.select(col("s"), col("doc").as("doc_a"))
      .join(dropEx.select(col("s"), col("doc").as("doc_b")), Seq("s"))
      .where(col("doc_a") < col("doc_b"))
    val edges = dk.unionByName(dd)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .where(col("c").cast("double")
        / (col("na") + col("nb") - col("c")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
    // edges touch the drop only, so they are collected once and labelled
    // by the driver union-find: no round limit on a long near-dup chain
    val uf = new MinUnionFind
    edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(allEx)
    val labels = {
      val spark = keep.sparkSession
      import spark.implicits._
      uf.labels.toDF("node", "label")
    }
    val verdicts = dropD.select(col("doc"))
      .join(labels.withColumnRenamed("node", "doc"), Seq("doc"), "left")
      .withColumn("rep_id", coalesce(col("label"), col("doc")))
    // Which representatives are keep docs: the rep set is bounded by the
    // drop size → broadcast it through the keep scan, broadcast the
    // (smaller still) matched subset back. No keep-side shuffle.
    val reps = verdicts.select(col("rep_id")).distinct()
    val keepReps = keepD.select(col("doc").as("rep_id"))
      .join(broadcast(reps), Seq("rep_id"), "left_semi")
    verdicts
      .join(broadcast(keepReps.withColumn("__in_keep", lit(true))),
        Seq("rep_id"), "left")
      .select(col("doc").as(id),
        when(col("rep_id") === col("doc"), lit("kept"))
          .when(col("__in_keep"), lit("dup_of_keep"))
          .otherwise(lit("dup_in_drop")).as("status"),
        col("rep_id"))
  }

  /** Drops hot-shingle occurrences from an exploded (__blk, doc, s)
    * frame. `private[graft]` so PlanAuditSpec can assert the physical
    * shape (the production plan hides behind the localCheckpoint). */
  private[graft] def filterHotShingles(ex0: DataFrame, maxShingleDf: Int): DataFrame = {
    val hot = ex0.groupBy("__blk", "s").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxShingleDf)
      .select("__blk", "s")
    ex0.join(broadcast(hot), Seq("__blk", "s"), "left_anti")
  }

  /** n-gram Jaccard pairs within a blocking partition, via the
    * explode-and-count formulation: explode shingles, equi-join on
    * (block, shingle), count shared shingles per pair, then
    * |A∩B| / (|A|+|B|−|A∩B|). Pairs sharing no shingle never materialize,
    * and no quadratic array-intersect runs — this is the formulation that
    * survives wide blocks at 100 TB (vs. a per-pair array intersect which
    * is O(pairs × shingle²)). */
  def blockedJaccardPairs(docs: DataFrame, id: String, text: String,
                          blockCols: Seq[String], k: Int,
                          threshold: Double,
                          maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val base = docs.select(
      struct(blockCols.map(col): _*).as("__blk"),
      col(id).as("doc"), shingles(col(text), k).as("sh"))
    val ex0 = base.select(col("__blk"), col("doc"), explode(col("sh")).as("s"))
    // Hot-shingle suppression: a shingle present in more than maxShingleDf
    // docs of a block (boilerplate n-grams) is dropped from the
    // VOCABULARY — both set sizes and intersections use the filtered
    // vocabulary, so the Jaccard semantics stay well-defined and exactly
    // reproducible. At 100 TB this is what keeps the shared-shingle join
    // linear: a shingle shared by d docs contributes d² join rows.
    // The HOT list (df > maxShingleDf) is by construction tiny — only
    // boilerplate shingles exceed the cap — so it broadcasts, and the
    // corpus side is filtered by a broadcast ANTI-join with NO shuffle of
    // the exploded occurrences. (Inner-joining the keep vocabulary would
    // shuffle every occurrence against a near-total build side.)
    // The filtered path consumes `ex` three times (sizes + both join
    // sides); localCheckpoint materializes the shingle explode ONCE
    // instead of re-running the scan + WordShingles per consumer.
    val ex = if (maxShingleDf == Int.MaxValue) ex0
    else filterHotShingles(ex0, maxShingleDf).localCheckpoint(true)
    // Filtered per-doc set sizes (shingles are distinct per doc by
    // construction, so count == set size).
    val sizes = ex.groupBy("__blk", "doc").agg(count(lit(1)).as("n"))
    val a = ex.select(col("__blk"), col("s"), col("doc").as("doc_a"))
    val b = ex.select(col("__blk"), col("s"), col("doc").as("doc_b"))
    a.join(b, Seq("__blk", "s"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("__blk", "doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("__blk"), col("doc").as("doc_a"), col("n").as("na")),
        Seq("__blk", "doc_a"))
      .join(sizes.select(col("__blk"), col("doc").as("doc_b"), col("n").as("nb")),
        Seq("__blk", "doc_b"))
      .withColumn("jaccard", col("c").cast("double") /
        (col("na") + col("nb") - col("c")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** PPJoin-style prefix-filtered set-similarity join (Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08 —
    * public algorithm): exact Jaccard ≥ t over distinct k-token
    * shingle sets, with candidates generated ONLY from each document's
    * PREFIX under a global rarest-first element order.
    *
    * Why this is the scale shape: a join on ANY shared element explodes
    * on frequent elements (Σ df² — measured 4.5e8 pair rows for
    * unigram tokens on the 5k-doc fixture alone); the prefix keeps just
    * the first `|x| − ceil(t·|x|) + 1` RAREST elements of each set, and
    * the classic prefix theorem guarantees zero loss: the globally
    * smallest shared element of any pair with J ≥ t must sit inside
    * BOTH prefixes (if it sat outside one, that set's intersection
    * would fit in its suffix of size ceil(t·|x|)−1 < ceil(t·|x|) ≤
    * |∩|). The q181 oracle generates candidates from ANY shared
    * shingle (complete for J > 0 by definition) — hash equality IS the
    * losslessness proof of the much narrower prefix on real data.
    *
    * On top of the prefix, the paper's two other lossless candidate
    * cuts (both integer-exact):
    *   - SIZE filter, applied inside the candidate join: J ≥ t forces
    *     `10·min(|A|,|B|) ≥ t'·max(|A|,|B|)` (|∩| ≤ min and
    *     |∪| ≥ max), so wildly different-sized docs never become a
    *     pair no matter how many prefix tokens they share.
    *   - POSITIONAL filter, applied per pair before verification: at
    *     the globally smallest shared prefix token (positions i in A,
    *     j in B under the SAME (df, w) rank both docs use), overlap ≤
    *     1 + min(|A|−i, |B|−j) — every other shared token must sit
    *     after both positions. Require that bound to reach the minimum
    *     overlap α = ceil(t'·(|A|+|B|)/(10+t')) implied by J ≥ t.
    *     `min(pos_a)` and `min(pos_b)` are realized by the SAME token
    *     because shared tokens are ordered identically in both docs.
    *
    * All similarity math is integer-exact: the gate is
    * `(10+10t')·|∩| ≥ t'·(|A|+|B|)` cross-multiplied to longs (t in
    * tenths), the reported similarity is micro-units via integer DIV.
    * Shapes: one doc-key window (rank tokens per doc), one equi-join on
    * prefix tokens (rare by construction); verification is the
    * candidate set joined to ONE shingle-set array per doc, with |∩|
    * via array_intersect — O(|A|+|B|) per candidate row, no
    * candidate×token re-explosion, and doc sizes ride the candidate
    * rows so no size joins either. Per-doc state is the token set —
    * never the corpus. */
  /** Shared scaffolding of the prefix-filtered joins: distinct shingles
    * per doc ranked by the GLOBAL (df, w) total order (both docs of any
    * pair order their tokens identically — what makes the positional
    * filters sound), with the per-doc set size. Returns
    * (doc, w, pos, n). */
  private def rankedShingles(docs: DataFrame, id: String, text: String,
      shingleK: Int): DataFrame = {
    // set elements are k-token shingles (order-sensitive): unigram sets
    // are near-degenerate on shared-vocabulary corpora (measured 95% of
    // ALL pairs ≥ 0.3 here), which starves any filter
    val tok = docs
      .select(col(id).as("doc"),
        explode(shingles(col(text), shingleK)).as("w"))
      .where(col("w") =!= "")
    val withDf = tok.join(
      tok.groupBy("w").agg(count(lit(1)).as("df")), Seq("w"))
    val byDoc = Window.partitionBy("doc").orderBy("df", "w")
    withDf
      .withColumn("pos", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc")))
      .select("doc", "w", "pos", "n")
  }

  /** Shared verification of the prefix-filtered joins: one shingle-set
    * array per doc riding two hash joins, |∩| per pair via
    * array_intersect — O(|A|+|B|) per CANDIDATE row (the cand⋈tok⋈tok
    * form re-exploded every candidate by its per-doc token count,
    * measured ~50× the candidate set on a homogeneous corpus). Adds
    * column `i` to `cand` (which must carry `aCol`/`bCol`). */
  private def withIntersection(cand: DataFrame, ranked: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val docSets = ranked.groupBy("doc").agg(collect_list(col("w")).as("ws"))
    cand
      .join(docSets.select(col("doc").as(aCol), col("ws").as("__sa")), Seq(aCol))
      .join(docSets.select(col("doc").as(bCol), col("ws").as("__sb")), Seq(bCol))
      .withColumn("i", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .drop("__sa", "__sb")
  }

  def prefixFilterPairs(docs: DataFrame, id: String, text: String,
      thresholdTenths: Int = 3, shingleK: Int = 3): DataFrame = {
    require(thresholdTenths >= 1 && thresholdTenths <= 10,
      s"threshold must be 0.1..1.0 in tenths, got $thresholdTenths")
    val t = thresholdTenths.toLong
    val ranked = rankedShingles(docs, id, text, shingleK)
    // p = |x| - ceil(t|x|/10) + 1, ceil via (a + 9) DIV 10
    val prefix = ranked
      .where(col("pos") <= col("n") - ((col("n") * t + 9) / lit(10)).cast("long") + 1)
      .select("doc", "w", "pos", "n")
    val cand = prefix.as("pa").hint("SHUFFLE_HASH")
      .join(prefix.as("pb"), col("pa.w") === col("pb.w")
        && col("pa.doc") < col("pb.doc")
        // size filter: 10·min(na,nb) ≥ t·max(na,nb), pruned IN the join
        && least(col("pa.n"), col("pb.n")) * 10L >=
          greatest(col("pa.n"), col("pb.n")) * t)
      .select(col("pa.doc").as("doc_a"), col("pb.doc").as("doc_b"),
        col("pa.pos").as("ia"), col("pb.pos").as("jb"),
        col("pa.n").as("na"), col("pb.n").as("nb"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(min(col("ia")).as("ia"), min(col("jb")).as("jb"))
      // positional filter: ubound = 1 + min(na−ia, nb−jb) must reach
      // α = ceil(t·(na+nb)/(10+t)); integer ubound ≥ ceil(q) ⇔
      // ubound·(10+t) ≥ t·(na+nb)
      .where((lit(1L) + least(col("na") - col("ia"), col("nb") - col("jb")))
        * (10L + t) >= (col("na") + col("nb")) * t)
      .select("doc_a", "doc_b", "na", "nb")
    withIntersection(cand, ranked, "doc_a", "doc_b")
      // J >= t/10  ⇔  (10+t)·|∩| >= t·(|A|+|B|), exact longs
      .where(col("i") * (10L + t) >= (col("na") + col("nb")) * t)
      .select(col("doc_a"), col("doc_b"),
        expr("(1000000 * i) DIV (na + nb - i)").as("jac_micro"))
  }

  /** Directional containment join: pairs (src, dst) with
    * C(src→dst) = |S∩D| / |S| ≥ t — the ASYMMETRIC cousin of the
    * Jaccard joins above, and the right primitive for doc-in-doc
    * curation (quote extraction, boilerplate envelopes, near-superset
    * snippets): a short document fully quoted inside a long one has
    * tiny Jaccard but containment ≈ 1, so every symmetric filter above
    * is structurally blind to it.
    *
    * Candidate generation is the containment form of the prefix
    * theorem (Chaudhuri, Ganti & Kaushik, ICDE'06 SSJoin — public):
    * if |S∩D| ≥ ⌈t·|S|⌉ then any (|S| − ⌈t·|S|⌉ + 1)-subset of S hits
    * the intersection — in particular the df-rarest prefix of S. So
    * candidates = src-prefix tokens ⋈ ALL tokens of other docs: the
    * probe side carries only prefixes (rare tokens by construction),
    * the build side is the full token table, and NO pair outside the
    * theorem's bound is generated. The size gate for the direction
    * (10·|D| ≥ t·|S|, else the intersection can't reach t·|S|) prunes
    * inside the join.
    *
    * Integer-exact: gate `10·|∩| ≥ t·|S|` in longs, containment in
    * micro-units by integer DIV. Shapes: one df join, one doc-key
    * window, one prefix⋈token equi-join, candidate-bounded
    * verification — the [[prefixFilterPairs]] scale discipline with an
    * asymmetric gate. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      thresholdTenths: Int = 6, shingleK: Int = 3): DataFrame = {
    require(thresholdTenths >= 1 && thresholdTenths <= 10,
      s"threshold must be 0.1..1.0 in tenths, got $thresholdTenths")
    val t = thresholdTenths.toLong
    val ranked = rankedShingles(docs, id, text, shingleK)
    // src prefix: p = |S| − ⌈t|S|/10⌉ + 1, ceil via (a + 9) DIV 10
    val prefix = ranked
      .where(col("pos") <= col("n") - ((col("n") * t + 9) / lit(10)).cast("long") + 1)
      .select(col("doc").as("src"), col("w"),
        col("pos").as("ia"), col("n").as("ns"))
    val dstRanked = ranked
      .select(col("doc").as("dst"), col("w"),
        col("pos").as("jb"), col("n").as("nd"))
    val cand = prefix.hint("SHUFFLE_HASH")
      .join(dstRanked, Seq("w"))
      .where(col("src") =!= col("dst")
        // direction's size gate: |D| must be able to absorb t·|S|
        && col("nd") * 10L >= col("ns") * t)
      .groupBy("src", "dst", "ns", "nd")
      .agg(min(col("ia")).as("ia"), min(col("jb")).as("jb"))
      // positional filter, containment form: both docs rank their
      // tokens by the SAME global (df, w) total order, so min(ia) and
      // min(jb) are the two positions of the globally smallest shared
      // token (which the prefix theorem places inside the src prefix),
      // and every other shared token sits after it in BOTH docs:
      // |∩| ≤ 1 + min(ns−ia, nd−jb) must reach α = ⌈t·ns/10⌉
      .where((lit(1L) + least(col("ns") - col("ia"), col("nd") - col("jb")))
        * 10L >= col("ns") * t)
      .select("src", "dst", "ns", "nd")
    withIntersection(cand, ranked, "src", "dst")
      .where(col("i") * 10L >= col("ns") * t)
      .select(col("src"), col("dst"), col("ns"), col("nd"),
        expr("(1000000 * i) DIV ns").as("cont_micro"))
  }

  /** Sorted-neighborhood near-dup pairs (SNM): globally sort documents
    * by (simhash, id) and compare each doc only with its next `window`
    * neighbors in that order — the third pair-generation strategy next
    * to banded buckets ([[simhashPairs]]) and prefix filtering
    * ([[prefixFilterPairs]]). Near-identical docs have near-identical
    * simhashes, so they land adjacent in the sorted order; candidate
    * count is EXACTLY window·n regardless of any hot value (no bucket
    * cap needed — the property banding can't give).
    *
    * Scale shape: no global single-partition sort anywhere. The global
    * position comes from [[graft.ops.Ranking.distributedRank]] (bucket
    * histogram + bucket-local windows; `id` tie-break makes the order
    * total and deterministic, so the rank itself is joinable). Each row
    * then emits `window` probe rows (rn+1..rn+window) and an equi-join
    * on rn pairs physical neighbors — one bounded fan-out, one hash
    * join, never a self-join on the value. Verification is the same
    * exact `bit_count(xor)` gate as the banded path. */
  def sortedNeighborhoodPairs(docs: DataFrame, id: String, text: String,
      window: Int = 4, maxHamming: Int = 16): DataFrame = {
    require(window >= 1 && window <= 64, s"window must be 1..64, got $window")
    val sh = simhash(docs, id, text).select(col(id).as("doc"), col("simhash"))
    // 2^48-wide buckets: at most 65536 of them are addressable and only
    // populated ones materialize, so the offset table stays tiny.
    val ranked = graft.ops.Ranking.distributedRank(
      sh, "simhash", Nil, 1L << 48, "rn", tieCols = Seq("doc"))
    val probes = ranked
      .select(col("doc").as("doc_a"), col("simhash").as("sh_a"),
        explode(sequence(lit(1), lit(window))).as("gap"),
        col("rn"))
      .withColumn("rn", col("rn") + col("gap"))
    probes
      .join(ranked.select(col("doc").as("doc_b"),
        col("simhash").as("sh_b"), col("rn")), Seq("rn"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("gap"), col("hamming"))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.tables.Tables
import graft.text.TextAnalysis

/** Dedup queries over `documents` (north-star training-data ops).
  * All four dedup queries carry DuckDB oracles: q36/q37 directly,
  * q38 via exact-equivalence (see minhashPairs), and q39 by REPLICATING
  * the engine's SimHash in SQL — FNV-1a64 as a list_reduce over UTF-8
  * bytes with HUGEINT mod-2^64 wraparound (the corpus is pure ASCII, so
  * `unicode(char)` IS the byte), bit votes, 16-bit banding, the
  * maxBucket cap, and the hamming verify (the q57 poly-hash pattern
  * scaled up). */
object DedupQueries extends QueryPack {

  /** Exact dedup via content fingerprint. The fixture has no exact dups,
    * so a copy of every 10th doc (id+1,000,000) is unioned in first —
    * dedup must collapse each copy onto its original id. */
  private def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    withDups
      .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fingerprint", "n_copies")
      .orderBy("doc_id")
  }

  /** n-gram Jaccard near-dup pairs, blocked by (lang, source). */
  private def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccardPairs(Tables.documents(spark, dir),
        id = "doc_id", text = "text", blockCols = Seq("lang", "source"),
        k = 3, threshold = 0.3)
      .orderBy("doc_a", "doc_b")

  /** MinHash+LSH near-dup pairs, Jaccard-verified (the unbounded-scale
    * path: signature → band buckets → bucket join → verify).
    *
    * Oracle-checked against the exact global Jaccard pairs: precision is
    * exact by construction (every candidate re-verified), and on this
    * corpus recall is exact too — every true >=0.3 pair has Jaccard
    * >= 0.9 (the synthetic near-dups are high-overlap copies), where the
    * 16-band × 4-row collision probability is 1 − (1 − 0.9⁴)¹⁶ ≈
    * 1 − 4e-8, and the MinHash permutations are fixed-seed
    * deterministic. The bucket cap is explicitly LIFTED here (q40's
    * uncapped-oracle pattern): a capped run could silently drop a
    * >maxBucket bucket of near-identical docs and diverge from the
    * exhaustive SQL — the capped default stays the production path.
    * DedupSimilaritySpec pins the set equality; the generic
    * sub-exhaustive recall behavior stays characterized by its recall
    * tests. */
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val candidates = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 4, maxBucket = Int.MaxValue)
    Dedup.verifyJaccard(candidates, docs, "doc_id", "text", k = 3,
        threshold = 0.3)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: 4×16-bit band blocks (any-band collision,
    * capped buckets), Hamming <= 16. */
  private def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 16)
      .orderBy("doc_a", "doc_b")

  /** q198: sorted-neighborhood near-dup pairs — the third candidate
    * strategy beside q39's banded buckets and q181's prefix filter:
    * global (simhash, id) order via the bucket-histogram rank (NO
    * single-partition sort), each doc compared with its next 4
    * neighbors through a bounded explode + rn equi-join. Candidate
    * volume is exactly 4·n whatever the value distribution — the
    * guarantee bucket blocking needs a cap to approximate. The oracle
    * replays the entire chain (FNV-1a token hashes, bit-majority
    * simhash, signed-order global row_number, neighborhood join, exact
    * Hamming) in SQL. */
  private def sortedNeighborhoodPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(Tables.documents(spark, dir), "doc_id",
        "text", window = 4, maxHamming = 16)
      .orderBy("doc_a", "doc_b")

  /** q143: dedup signal fusion — the q38 MinHash-verified pairs and the
    * q39 SimHash pairs FULL-OUTER merged into per-pair agreement
    * verdicts (both / minhash_only / simhash_only), aggregated per
    * verdict. Production dedup tunes thresholds off exactly this matrix
    * (where do the signals disagree, and how much volume rides on a
    * single detector); both legs keep their own bucketed scale shapes,
    * and the fusion joins PAIR lists (detector-output-sized, never
    * corpus-sized). */
  private def dedupSignalFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mh = Dedup.verifyJaccard(
        Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          k = 3, bands = 16, rowsPerBand = 4, maxBucket = Int.MaxValue),
        docs, "doc_id", "text", k = 3, threshold = 0.3)
      .select(col("doc_a"), col("doc_b"), lit(true).as("in_mh"))
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .select(col("doc_a").as("s_a"), col("doc_b").as("s_b"),
        lit(true).as("in_sh"))
    mh.join(sh, col("doc_a") === col("s_a") && col("doc_b") === col("s_b"),
        "full_outer")
      .select(coalesce(col("doc_a"), col("s_a")).as("a"),
        coalesce(col("doc_b"), col("s_b")).as("b"),
        coalesce(col("in_mh"), lit(false)).as("m"),
        coalesce(col("in_sh"), lit(false)).as("s"))
      .withColumn("verdict",
        when(col("m") && col("s"), "both")
          .when(col("m"), "minhash_only").otherwise("simhash_only"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_pairs"),
        min("a").as("first_a"),
        sum(col("a") + col("b")).as("sum_ids"))
      .orderBy("verdict")
  }

  /** q86: connected components over a CHAIN-shaped duplicate graph —
    * every 10th doc gets a copy (x—x+1M), every 20th a copy-of-the-copy
    * (x+1M—x+2M), so the 3-node clusters are discoverable only by real
    * transitive propagation (no direct x—x+2M edge). The expected
    * labeling is known by construction (min of the chain = x = node mod
    * 1M), which is the arithmetic oracle. */
  private def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val d10 = docs.where(col("doc_id") % 10 === 0)
    val d20 = docs.where(col("doc_id") % 20 === 0)
    val edges = d10
      .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
      .unionByName(d20.select((col("doc_id") + 1000000L).as("a"),
        (col("doc_id") + 2000000L).as("b")))
    Dedup.connectedComponents(edges, "a", "b").orderBy("node")
  }

  /** q87: the END-TO-END corpus dedup — exact corpus-wide Jaccard pairs
    * (explode-and-count, no blocking so the edge set is deterministic and
    * oracle-expressible), connected components over the pair graph, keep
    * the min-id representative per cluster, report keep-list size + id
    * checksum. Exact copies of every 10th doc are unioned in so clusters
    * mix identical and organic near-dup edges. The DuckDB oracle
    * recomputes the same edges and clusters them with a recursive CTE. */
  private def corpusDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val edges = Dedup.blockedJaccardPairs(
        withDups.withColumn("g", lit(1)), "doc_id", "text",
        blockCols = Seq("g"), k = 3, threshold = 0.3, maxShingleDf = 20)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val drops = Dedup.connectedComponents(edges, "a", "b")
      .where(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    withDups.join(drops, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_kept_ids"))
  }

  /** q111: INCREMENTAL corpus dedup — classify a new drop against the
    * existing corpus as the keep-set without re-pairing the corpus
    * (see [[Dedup.incrementalDedup]]). The drop mixes all three verdicts:
    * exact copies of every 10th doc (+1M ids → `dup_of_keep`), token-
    * REVERSED versions of every 15th doc (+3M → order-sensitive 3-gram
    * shingles share ~nothing with the forward text, so these are novel —
    * `kept`, unless their forward originals were near-dups of each other,
    * in which case the reversed twins pair up too), and a second reversed
    * copy of every 30th doc (+4M → exact dup of its +3M sibling, no keep
    * edge: `dup_in_drop` via drop-local connected components). The DuckDB
    * oracle rebuilds the same edge set restricted to pairs touching the
    * drop and labels components with a recursive CTE. */
  private def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (b1, b2) = lifecycleBatches(docs)
    Dedup.incrementalDedup(docs, b1.unionByName(b2), "doc_id", "text",
        k = 3, threshold = 0.3, maxShingleDf = 20)
      .orderBy("doc_id")
  }

  /** q111's drop split into the two batches the index-lifecycle queries
    * stream (q274, q283, q293, q297, q304, q306; q301/q308 take b1):
    * b1 = exact copies of every 10th doc (+1M) ∪ token-reversed copies
    * of every 15th (+3M); b2 = a second reversed copy of every 30th
    * (+4M, an exact dup of its +3M sibling). */
  private[queries] def lifecycleBatches(docs: DataFrame): (DataFrame, DataFrame) = {
    val rev = concat_ws(" ", reverse(split(trim(col("text")), "\\s+")))
    val b1 = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), rev.as("text")))
    val b2 = docs.where(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), rev.as("text"))
    (b1, b2)
  }

  /** q122: cross-document repeated spans — the distributed form of
    * substring-level dedup (the suffix-array "exact substring" signal of
    * Lee et al., approximated at shingle granularity): for every doc,
    * how many of its distinct 5-token spans also occur in ANOTHER doc
    * (span document-frequency >= 2), plus a leak verdict at the 20%
    * threshold. Complements q113 (WITHIN-doc repetition) and q37/q87
    * (whole-doc similarity): this is the memorization-risk profile.
    * Scale shape: shingles in-scan (WordShingles, one pass), one
    * (shingle) shuffle for span df with map-side partial counts, one
    * doc-key shuffle back — no pairwise joins anywhere. */
  private def sharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 5)).as("sh"))
    val df_ = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(df_, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared_spans"), lit(0L)).as("n_shared_spans"))
      .withColumn("leaky",
        col("n_shared_spans") * 5 >= col("n_spans") && col("n_spans") > 0)
      .orderBy("doc_id")
  }

  /** q241: MAXIMAL duplicated spans — q122 upgraded from per-doc shared-
    * span COUNTS to the per-doc maximal-interval table production
    * substring dedup wants (Lee et al. "Deduplicating Training Data
    * Makes Language Models Better": the deduplicated unit is the longest
    * repeated substring, not the 50-token window that contains it).
    * Shingle granularity: a token position p in a doc is DUPLICATED when
    * its 5-token span starting at p also occurs in at least one OTHER
    * document (cross-doc span df ≥ 2); overlapping-or-adjacent duplicated
    * intervals [p, p+4] merge into maximal islands (break when the
    * position gap exceeds 5 — the q51/q191 gaps-and-islands discipline,
    * trivially exact here because all intervals share one length).
    * Output: one row per maximal span with its start, token length,
    * number of duplicated positions, and max cross-doc partner count.
    * Scale shape: positional shingles are an in-scan transform+posexplode
    * (narrow); span df is one shingle-key shuffle with map-side partials
    * (two-level distinct-doc agg); the island window is one doc-key
    * shuffle of only the DUPLICATED positions — no pairwise doc joins
    * anywhere, same stage count as q122. */
  private def maximalDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val pos = docs.where(size(col("toks")) >= 5)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 5),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(5))))))
      .toDF("doc_id", "pos", "sh")
    // cross-doc df: distinct (span, doc) first so a within-doc repeat
    // cannot lift a span to "duplicated" on its own
    val df_ = pos.select("sh", "doc_id").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val dup = pos.join(df_.where(col("df") >= 2), "sh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > 5, 1).otherwise(0))
      .withColumn("island",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + 5).as("span_tokens"),
        count(lit(1)).as("n_dup_positions"),
        (max("df") - 1).as("max_partners"))
      .select("doc_id", "span_start", "span_tokens", "n_dup_positions",
        "max_partners")
      .orderBy("doc_id", "span_start")
  }

  /** The q273 span machinery as a reusable DuckDB CTE chain ending at
    * `f` (doc/island spans, partner keys, boundary extensions, char
    * offsets) — shared by the q273 oracle and the q287 corpus-cut
    * oracle built on top of it. Pipe margins strip in the consumer. */
  private val charSpanOracleCtes: String =
    """t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |           || ' ' || toks[i+3] || ' ' || toks[i+4] AS sh
        |  FROM t, unnest(range(1, len(toks) - 3)) AS r(i)
        |  WHERE len(toks) >= 5),
        |d AS (SELECT sh, count(DISTINCT doc_id) AS df FROM p GROUP BY sh),
        |u AS (SELECT p.doc_id, p.pos
        |      FROM p JOIN d USING (sh) WHERE d.df >= 2),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
        |             THEN 1 ELSE 0 END AS brk
        |      FROM u),
        |s AS (SELECT doc_id, pos,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM i),
        |isl AS (SELECT doc_id, island, min(pos) AS p, max(pos) AS q
        |        FROM s GROUP BY 1, 2),
        |a AS (SELECT isl.*, t.toks,
        |        array_to_string(t.toks[isl.p+1:isl.p+5], ' ') AS sh_first,
        |        array_to_string(t.toks[isl.q+1:isl.q+5], ' ') AS sh_last
        |      FROM isl JOIN t USING (doc_id)),
        |lk AS (SELECT a.doc_id, a.island,
        |         min(o.doc_id * 1048576 + o.pos) AS lkey
        |       FROM a JOIN p o ON o.sh = a.sh_first AND o.doc_id <> a.doc_id
        |       GROUP BY 1, 2),
        |rk AS (SELECT a.doc_id, a.island,
        |         min(o.doc_id * 1048576 + o.pos) AS rkey
        |       FROM a JOIN p o ON o.sh = a.sh_last AND o.doc_id <> a.doc_id
        |       GROUP BY 1, 2),
        |j AS (SELECT a.*, lkey // 1048576 AS l_doc, lkey % 1048576 AS l_pos,
        |             rkey // 1048576 AS r_doc, rkey % 1048576 AS r_pos
        |      FROM a JOIN lk USING (doc_id, island)
        |             JOIN rk USING (doc_id, island)),
        |j2 AS (SELECT j.*, tl.toks AS ltoks, tr.toks AS rtoks
        |       FROM j JOIN t tl ON tl.doc_id = j.l_doc
        |              JOIN t tr ON tr.doc_id = j.r_doc),
        |b AS (SELECT *,
        |        CASE WHEN p > 0 THEN toks[CAST(p AS INT)] END AS dtl,
        |        CASE WHEN l_pos > 0 THEN ltoks[CAST(l_pos AS INT)] END AS ptl,
        |        CASE WHEN len(toks) >= q + 6 THEN toks[CAST(q AS INT) + 6] END AS dtr,
        |        CASE WHEN len(rtoks) >= r_pos + 6
        |             THEN rtoks[CAST(r_pos AS INT) + 6] END AS ptr
        |      FROM j2),
        |e AS (SELECT *,
        |        CASE WHEN dtl IS NULL OR ptl IS NULL THEN 0
        |          ELSE len([k for k in range(1,
        |                 least(length(dtl), length(ptl)) + 1)
        |               if substr(reverse(dtl), 1, CAST(k AS INT))
        |                  = substr(reverse(ptl), 1, CAST(k AS INT))]) + 1
        |        END AS ext_l,
        |        CASE WHEN dtr IS NULL OR ptr IS NULL THEN 0
        |          ELSE len([k for k in range(1,
        |                 least(length(dtr), length(ptr)) + 1)
        |               if substr(dtr, 1, CAST(k AS INT))
        |                  = substr(ptr, 1, CAST(k AS INT))]) + 1
        |        END AS ext_r
        |      FROM b),
        |f AS (SELECT *,
        |        CASE WHEN p = 0 THEN 0
        |          ELSE length(array_to_string(toks[1:CAST(p AS INT)], ' ')) + 1
        |        END AS cs,
        |        length(array_to_string(toks[1:CAST(q AS INT) + 5], ' ')) AS ce
        |      FROM e)"""

  /** q273: CHARACTER-EXACT maximal dup spans — q241 upgraded from
    * 5-gram to character granularity (VERDICT r9 #6, the Lee et al.
    * substring-dedup boundary semantics). A q241 island covers tokens
    * [p, q+4]; the TRUE duplicated extent against the partner aligned
    * at each boundary can extend INTO the flanking token by a partial
    * prefix/suffix the shingle tier cannot see. The extension is
    * provably capped at ONE token per side: if the whole flanking token
    * matched the aligned partner token, the 5-gram one position out
    * would be duplicated too and the island would have included it
    * (maximality) — and after a full-token match the next compared
    * character is a separator space against a non-space, which cannot
    * match. So character exactness needs only: (a) a deterministic
    * partner alignment per boundary — the minimum (doc, pos) occurrence
    * of the boundary 5-gram in another doc, encoded as one integer key
    * min(doc·2²⁰ + pos) (token positions < 2²⁰ by corpus construction);
    * (b) the longest common SUFFIX of the tokens before the span and
    * the longest common PREFIX of the tokens after it (monotone
    * prefix-equality count — no fold state); (c) char offsets in the
    * single-space-normalized text via lengths of joined token slices.
    * The joining space itself is duplicated whenever both sides have a
    * flanking token, so ext = lcs/lcp + 1 there, else 0. Within the
    * island, every character is covered by duplicated 5-grams by
    * construction — only boundaries need refinement. Left and right
    * partners may differ (islands are any-partner unions; alignment is
    * boundary-local), which is the honest per-pair reading of a merged
    * island.
    *
    * Scale shape: q241's shingle shuffle + doc-key window, plus two
    * anchor joins keyed on the boundary shingles (island-sized
    * build side) and two dimension joins back to the doc token arrays
    * — no pairwise doc joins, no driver state. */
  private def charExactDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val pos = docs.where(size(col("toks")) >= 5)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 5),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(5))))))
      .toDF("doc_id", "pos", "sh")
    val df_ = pos.select("sh", "doc_id").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val dup = pos.join(df_.where(col("df") >= 2), "sh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val isl = dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > 5, 1).otherwise(0))
      .withColumn("island",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("p"), max("pos").as("q"))
    val withToks = isl.join(docs, "doc_id")
      .withColumn("sh_first",
        concat_ws(" ", slice(col("toks"), col("p") + 1, lit(5))))
      .withColumn("sh_last",
        concat_ws(" ", slice(col("toks"), col("q") + 1, lit(5))))
    // occurrence columns renamed first so the island's doc_id and the
    // partner occurrence's doc_id can't collide in the aggregate
    def anchorKey(shCol: String, out: String): DataFrame =
      pos.select(col("doc_id").as("o_doc"), col("pos").as("o_pos"), col("sh"))
        .join(withToks.select(col("doc_id").as("a_doc"), col("island"),
          col(shCol).as("sh")), Seq("sh"))
        .where(col("o_doc") =!= col("a_doc"))
        .groupBy(col("a_doc").as("doc_id"), col("island"))
        .agg(min(col("o_doc") * 1048576L + col("o_pos")).as(out))
    val lk = anchorKey("sh_first", "lkey")
    val rk = anchorKey("sh_last", "rkey")
    def lcpCount(x: String, y: String): String =
      s"""size(filter(sequence(1, least(length($x), length($y))),
         |  k -> substring($x, 1, k) = substring($y, 1, k)))""".stripMargin
    withToks.join(lk, Seq("doc_id", "island")).join(rk, Seq("doc_id", "island"))
      .withColumn("l_doc", expr("lkey DIV 1048576"))
      .withColumn("l_pos", expr("lkey % 1048576"))
      .withColumn("r_doc", expr("rkey DIV 1048576"))
      .withColumn("r_pos", expr("rkey % 1048576"))
      .join(docs.select(col("doc_id").as("l_doc"), col("toks").as("ltoks")),
        Seq("l_doc"))
      .join(docs.select(col("doc_id").as("r_doc"), col("toks").as("rtoks")),
        Seq("r_doc"))
      .withColumn("dtl", expr("CASE WHEN p > 0 THEN element_at(toks, p) END"))
      .withColumn("ptl",
        expr("CASE WHEN l_pos > 0 THEN element_at(ltoks, CAST(l_pos AS INT)) END"))
      .withColumn("dtr",
        expr("CASE WHEN size(toks) >= q + 6 THEN element_at(toks, q + 6) END"))
      .withColumn("ptr", expr("CASE WHEN size(rtoks) >= r_pos + 6 " +
        "THEN element_at(rtoks, CAST(r_pos AS INT) + 6) END"))
      .withColumn("ext_left_chars", expr(
        s"""CASE WHEN dtl IS NULL OR ptl IS NULL THEN 0L
           |ELSE ${lcpCount("reverse(dtl)", "reverse(ptl)")} + 1L END""".stripMargin))
      .withColumn("ext_right_chars", expr(
        s"""CASE WHEN dtr IS NULL OR ptr IS NULL THEN 0L
           |ELSE ${lcpCount("dtr", "ptr")} + 1L END""".stripMargin))
      .withColumn("cs", expr("CASE WHEN p = 0 THEN 0L " +
        "ELSE length(concat_ws(' ', slice(toks, 1, p))) + 1L END"))
      .withColumn("ce",
        expr("CAST(length(concat_ws(' ', slice(toks, 1, q + 5))) AS BIGINT)"))
      .select(col("doc_id"), col("p").as("span_start"),
        expr("q - p + 5").as("span_tokens"),
        col("l_doc").as("left_partner_doc"), col("l_pos").as("left_partner_pos"),
        col("r_doc").as("right_partner_doc"), col("r_pos").as("right_partner_pos"),
        col("ext_left_chars"), col("ext_right_chars"),
        expr("cs - ext_left_chars").as("span_char_start"),
        expr("ce + ext_right_chars - cs + ext_left_chars").as("span_char_len"))
      .orderBy("doc_id", "span_start")
  }

  /** q287: SUBSTRING-DEDUP CORPUS TRANSFORM (VERDICT r10 #5) — the Lee
    * et al. END PRODUCT the q273 spans exist for: duplicated extents
    * are EXCISED from the corpus, keeping one canonical occurrence of
    * each. The canonical rule is q273's own key: a span is CUT iff its
    * left-partner occurrence key (partner_doc·2²⁰ + partner_pos) orders
    * before the span's own (doc·2²⁰ + span_start) — the minimum
    * (doc, pos) occurrence survives, everything later is removed; fully
    * deterministic, no pairwise coordination. Surgery runs on the
    * single-space-normalized text with a running-max fold over the
    * doc's sorted cut ranges, so the (rare) case of adjacent islands'
    * one-token extensions overlapping in char space clamps instead of
    * double-cutting. Audits: span/cut counts, original vs kept char
    * lengths, and the md5 of the kept text — the oracle re-derives the
    * spans, replays the verdicts and the stitching (as a window +
    * ordered string_agg — a different construction of the same string),
    * and the hashes must meet.
    *
    * Scale shape: q273's span machinery plus ONE doc-key join of spans
    * back to the text and a per-doc fold — no new shuffles beyond the
    * span aggregation itself. */
  private def substringDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val spans = charExactDupSpans(spark, dir)
      .select(col("doc_id"), col("span_char_start").as("s"),
        col("span_char_len").as("len"),
        (col("left_partner_doc") * 1048576L + col("left_partner_pos"))
          .as("pkey"),
        (col("doc_id") * 1048576L + col("span_start")).as("okey"))
    val agg = spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("pkey") < col("okey"), 1L).otherwise(0L)).as("n_cut"),
      // collect_list drops the NULLs the kept spans become
      sort_array(collect_list(when(col("pkey") < col("okey"),
        struct(col("s"), col("len"))))).as("ranges"))
    val nt = Tables.documents(spark, dir).select(col("doc_id"),
      concat_ws(" ", split(trim(col("text")), "\\s+")).as("nt"))
    agg.join(nt, "doc_id")
      .withColumn("kept", expr(
        """aggregate(ranges,
          |  named_struct('t', CAST('' AS STRING), 'e', 0L),
          |  (acc, r) -> named_struct(
          |    't', concat(acc.t, substring(nt, CAST(acc.e + 1 AS INT),
          |           CAST(greatest(0L, r.s - acc.e) AS INT))),
          |    'e', greatest(acc.e, r.s + r.len)),
          |  acc -> concat(acc.t, substring(nt, CAST(acc.e + 1 AS INT),
          |           CAST(greatest(0L, length(nt) - acc.e) AS INT))))"""
          .stripMargin))
      .select(col("doc_id"), col("n_spans"), col("n_cut"),
        length(col("nt")).cast("long").as("orig_chars"),
        length(col("kept")).cast("long").as("kept_chars"),
        (length(col("nt")) - length(col("kept"))).cast("long")
          .as("cut_chars"),
        md5(col("kept")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** q246: BLOCKING QUALITY METRICS — entity-resolution's standard
    * evaluation of a candidate-generation strategy (Christen 2012,
    * "Data Matching" — public): PAIR COMPLETENESS (recall: what share
    * of true near-dup pairs does blocking surface) and REDUCTION RATIO
    * (what share of the n·(n−1)/2 pair space does it avoid). Measured
    * for the q38 production blocker (MinHash 16 bands × 4 rows,
    * uncapped) against the EXHAUSTIVE truth (any-shared-shingle
    * candidates — lossless for J > 0 — verified with the integer
    * cross-multiplied gate 10·|∩| ≥ 3·|∪|). The dedup pipeline
    * measuring ITSELF: at 100 TB you tune bands/rows against exactly
    * these two numbers (a sampled truth set in production; exact
    * here). Docs without a single 3-shingle (< 3 tokens) are excluded
    * from scope on BOTH sides: their empty-set signatures would
    * otherwise collide into one degenerate all-pairs bucket.
    *
    * Everything is replayed by the oracle — including the RAW
    * candidate count, via a full SQL replication of the MinHash
    * pipeline (FNV-1a shingle hashes, the 64 a·x+b universal hashes
    * in mod-2⁶⁴ arithmetic with signed minima, 4-row band signatures,
    * FNV bucket keys, uncapped bucket pairs). All metrics integer
    * (micro units, DIV). */
  private def blockingQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) >= 1)
    val scoped = docs.join(sh.select("doc_id"), "doc_id")
    val cand = Dedup.minhashCandidatePairs(scoped, "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 4, maxBucket = Int.MaxValue)
    // Exhaustive truth via AGGREGATED shared-shingle counts
    // (OPTIMIZATION r15, guide §2.3 "aggregate before you shuffle"):
    // shingle arrays are DISTINCT sets, so |A∩B| = the pair's shared
    // key count c and |A∪B| = na + nb − c — the old form shuffled the
    // raw pair stream through a distinct, joined the ARRAY payloads
    // back onto every pair, and ran O(|A|+|B|) array_intersect/union
    // per pair; this one partial-aggregates the pair stream map-side
    // and joins two doc-sized size frames. Same truth set bit-for-bit
    // (the oracle replays it unchanged).
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("nsh"))
    val truth = ex.as("x").join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .where(col("c") * 10 >= (col("na") + col("nb") - col("c")) * 3)
      .select("doc_a", "doc_b")
    val nd = scoped.agg(count(lit(1)).as("n_docs"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nh = cand.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .crossJoin(broadcast(nh))
      .select(col("n_docs"),
        expr("n_docs * (n_docs - 1) DIV 2").as("total_pairs"),
        col("n_cand"), col("n_truth"), col("n_hit"),
        expr("CASE WHEN n_truth = 0 THEN 1000000 " +
          "ELSE 1000000 * n_hit DIV n_truth END").as("pc_micro"),
        expr("1000000 - 1000000 * n_cand DIV (n_docs * (n_docs - 1) DIV 2)")
          .as("rr_micro"))
  }

  /** q272: SAMPLED-truth blocking quality — the 100 TB shape of q246
    * (VERDICT r9 #5). q246's exhaustive truth leg carries a Σdf² term
    * the production blocker exists to avoid; in production you estimate
    * pair completeness on a deterministic DOC SAMPLE (the q94/q115
    * md5-prefix discipline: keep doc iff md5('bpc:'||id) < '8' — a 50%
    * sample, reproducible across runs and engines) and compute the
    * exhaustive truth only WITHIN the sample, shrinking the quadratic
    * term by the sample rate squared. This query runs BOTH legs at test
    * scale and reports, alongside the estimate, whether the exact PC
    * falls inside the estimator's 95% band — the q55/q80
    * tolerance-boolean pattern. The band uses the Agresti–Coull plus-4
    * variance (h+2 successes in t+4 trials), which keeps the width
    * nonzero at p̂ ∈ {0, 1}; the z² = 3.8416 comparison is the usual
    * squared form in exact integer arithmetic (decimal(38,0) /
    * HUGEINT — no sqrt ever evaluates). The binomial model treats
    * sampled truth pairs as independent draws; doc sampling induces
    * mild pair dependence — the standard, documented approximation for
    * this audit. At t = 0 (no truth pairs land in the sample) the
    * estimate is vacuous: pc_est = 10⁶ and within_bound = true by
    * definition.
    *
    * Scale: the sampled truth join is the ONLY quadratic leg a
    * production run needs (the full-truth leg here is the test-scale
    * audit standard); candidates still come from the uncapped
    * production blocker, restricted to sampled endpoints by the hit
    * join itself. */
  private def blockingPcSampled(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) >= 1)
    val scoped = docs.join(sh.select("doc_id"), "doc_id")
    val cand = Dedup.minhashCandidatePairs(scoped, "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 4, maxBucket = Int.MaxValue)
    // aggregated-count truth (the q246 rewrite — OPTIMIZATION r15,
    // guide §2.3): distinct shingle sets make |A∩B| the shared-key
    // count, so the truth gate never shuffles arrays or a raw pair
    // stream; bit-identical truth set
    def truthOver(base: DataFrame): DataFrame = {
      val ex = base.select(col("doc_id"), explode(col("sh")).as("s"))
      val sizes = base.select(col("doc_id"),
        size(col("sh")).cast("long").as("nsh"))
      ex.as("x").join(ex.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
        .where(col("c") * 10 >= (col("na") + col("nb") - col("c")) * 3)
        .select("doc_a", "doc_b")
    }
    val samp = sh.where(
      md5(concat(lit("bpc:"), col("doc_id").cast("string"))) < lit("8"))
    val truthS = truthOver(samp)
    val truthF = truthOver(sh)
    val nd = scoped.agg(count(lit(1)).as("n_docs"))
    val ns = samp.agg(count(lit(1)).as("n_sample_docs"))
    val ts = truthS.agg(count(lit(1)).as("n_truth_s"))
    val hs = cand.join(truthS, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit_s"))
    val tf = truthF.agg(count(lit(1)).as("n_truth_f"))
    val hf = cand.join(truthF, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit_f"))
    nd.crossJoin(broadcast(ns)).crossJoin(broadcast(ts))
      .crossJoin(broadcast(hs)).crossJoin(broadcast(tf))
      .crossJoin(broadcast(hf))
      .select(col("n_docs"), col("n_sample_docs"),
        col("n_truth_s"), col("n_hit_s"), col("n_truth_f"), col("n_hit_f"),
        expr("CASE WHEN n_truth_s = 0 THEN 1000000 " +
          "ELSE 1000000 * n_hit_s DIV n_truth_s END").as("pc_est_micro"),
        expr("CASE WHEN n_truth_f = 0 THEN 1000000 " +
          "ELSE 1000000 * n_hit_f DIV n_truth_f END").as("pc_exact_micro"))
      .withColumn("within_bound", expr(
        """CASE WHEN n_truth_s = 0 THEN true ELSE
          |  CAST(pc_exact_micro - pc_est_micro AS DECIMAL(38,0))
          |    * (pc_exact_micro - pc_est_micro)
          |    * (n_truth_s + 4) * (n_truth_s + 4) * (n_truth_s + 4) * 10000
          |  <= CAST(38416 AS DECIMAL(38,0)) * 1000000000000
          |    * (n_hit_s + 2) * (n_truth_s - n_hit_s + 2) END""".stripMargin))
  }

  /** q155: deterministic integer PageRank over the customer↔supplier
    * interaction graph ([[graft.ops.PageRank]]) — link analysis as a
    * crawl-curation signal, reproducible on a cluster because every
    * step is exact int64 arithmetic (float PageRank isn't even
    * run-to-run stable distributed). 3 iterations, damping 85/100;
    * node ids disambiguate the bipartite sides by parity. The final
    * top-20 window runs over the NODE table (dimension-sized) — the
    * corpus-scale work is the per-iteration edge join + sum. The
    * oracle unrolls all three iterations in SQL with the same integral
    * divisions. */
  private def pagerankTop(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cust"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("supp"))
    val base = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("cust").as("a"), col("supp").as("b")).distinct()
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rank_fixed"), asc("node"))
    graft.ops.PageRank.integerPageRank(edges, "a", "b", iters = 3)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 20)
      .select(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("node_type"),
        shiftright(col("node"), 1).as("entity_id"),
        col("rank_fixed"), col("rank"))
      .orderBy("rank")
  }

  /** q252: HITS hubs & authorities (Kleinberg JACM'99) over the DIRECTED
    * customer→supplier order graph — the link-analysis twin of q155's
    * PageRank, closing the family (random-walk centrality + mutual-
    * reinforcement centrality). Same exactness discipline: float HITS
    * is not reproducible distributed (contribution sums are
    * partitioning-order-dependent and the L2 normalization needs a
    * square root), so scores are int64 fixed point and the usual
    * normalization is replaced by a DETERMINISTIC max-scaling — after
    * each half-step the frame is rescaled to s·x div max(x)
    * (integral division, the q155 idiv discipline; max is a 1-row
    * broadcast). Scaling by ANY positive constant preserves HITS'
    * ranking structure, and ⌊·⌋ is applied identically on both
    * engines, so every score is hash-exact. Bipartite structure makes
    * each half-step one edge⋈score join + one aggregate on frames that
    * are NODE-sized; 3 rounds under the Triangles/CC materialize-and-
    * evict discipline: `edges` (the orders⋈lineitem derivation — the
    * only corpus-sized work) is localCheckpointed ONCE, each half-step
    * score frame is checkpointed and the one it supersedes released,
    * so no action ever re-derives the edge frame (the r9 plan-lazy
    * version re-ran it per half-step through the broadcast-max
    * subqueries — measured 12.1 s → this shape's 2.9 s isolated at
    * sf0.1; HitsJobCountSpec pins the job count so laziness can't
    * creep back). The two final node-sized score checkpoints stay
    * pinned by the returned frame — the q212 CC eviction contract.
    * Overflow-safe by construction: scores ≤ 2²⁰ after each scaling,
    * in-degree sums ≤ |edges|·2²⁰ ≪ 2⁶³, and the scale multiply adds
    * 20 bits. */
  private def hitsTop(spark: SparkSession, dir: String): DataFrame = {
    val s = 1L << 20
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("cust"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey").as("supp"))
    val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select("cust", "supp").distinct()
      .localCheckpoint(true)
    var h = edges.select("cust").distinct().withColumn("h", lit(s))
      .localCheckpoint(true)
    var a = edges.select("supp").distinct().withColumn("a", lit(s))
      .localCheckpoint(true)
    for (_ <- 1 to 3) {
      val araw = edges.join(h, "cust").groupBy("supp").agg(sum("h").as("ar"))
      val aNew = araw.crossJoin(broadcast(araw.agg(max("ar").as("am"))))
        .select(col("supp"), expr(s"ar * ${s}L div am").as("a"))
        .localCheckpoint(true)
      // aNew reads only edges + h (both checkpointed); the superseded
      // authority frame has no remaining reader
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(a)
      a = aNew
      val hraw = edges.join(a, "supp").groupBy("cust").agg(sum("a").as("hr"))
      val hNew = hraw.crossJoin(broadcast(hraw.agg(max("hr").as("hm"))))
        .select(col("cust"), expr(s"hr * ${s}L div hm").as("h"))
        .localCheckpoint(true)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(h)
      h = hNew
    }
    // the returned frame reads only the final (eagerly materialized)
    // h/a checkpoints — the edge-sized one has no remaining reader
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(edges)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("role").orderBy(desc("score_fixed"), asc("entity_id"))
    h.select(lit("hub").as("role"), col("cust").as("entity_id"),
        col("h").as("score_fixed"))
      .union(a.select(lit("authority"), col("supp"), col("a")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .orderBy("role", "rank")
  }

  /** q163: multi-source BFS hop distance over the symmetrized
    * customer–supplier order graph (q155's graph), seeded by nation-0
    * customers — distance-from-trusted-seeds, the TrustRank-style
    * crawl-curation companion to PageRank. Frontier expansion with
    * LEFT ANTI reached-pruning per round ([[graft.ops.Bfs]]); the
    * oracle replays it as three unrolled neighbor levels + min(hop),
    * which is equal by BFS optimality. */
  private def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cust"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("supp"))
    val base = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("cust").as("a"), col("supp").as("b")).distinct()
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val seeds = Tables.customer(spark, dir)
      .where(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    graft.ops.Bfs.hopDistance(edges, "a", "b", seeds, "node", maxHops = 3)
      .select(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("node_type"),
        shiftright(col("node"), 1).as("entity_id"),
        col("hop"))
      .orderBy("node_type", "entity_id")
  }

  /** q255: WEIGHTED single-source shortest paths — bounded Bellman–Ford
    * relaxation ([[graft.ops.Sssp]], 12 synchronous rounds), the weighted
    * tier the hop-counting BFS (q163) lacks. The graph is a deterministic
    * two-lane weighted overlay on the events user domain (contiguous
    * 0..maxU by fixture construction, the q233 discipline): a LOCAL lane
    * u→u+1 with weight (u·31+7) mod 19 + 1 and an EXPRESS lane u→u+5
    * with weight (u·17+3) mod 53 + 7, so the optimum at each node
    * genuinely mixes lanes (five cheap local steps can beat one express
    * hop and vice versa — nothing degenerates to hop counting). dist
    * after 12 rounds = lightest ≤12-edge path from node 0, exact for
    * every node whose true shortest path uses ≤12 edges and a
    * deterministic K-capped value otherwise; the oracle replays all 12
    * relaxation rounds. Output is the full reached set (≤ 61 nodes at
    * ANY scale — the K-hop ball, not the corpus), so the per-round join
    * broadcasts the dist frame and scans the checkpointed edge overlay:
    * no shuffle of the big side, 100 TB-safe by construction. */
  private def ssspDistances(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir).select(col("user_id").as("v")).distinct()
    val maxU = u.agg(max("v")).head().getLong(0) // 1-row bounded collect
    val local = u.where(col("v") + 1 <= maxU)
      .select(col("v").as("a"), (col("v") + 1).as("b"),
        (pmod(col("v") * 31 + 7, lit(19)) + 1).as("w"))
    val express = u.where(col("v") + 5 <= maxU)
      .select(col("v").as("a"), (col("v") + 5).as("b"),
        (pmod(col("v") * 17 + 3, lit(53)) + 7).as("w"))
    val dist = graft.ops.Sssp.bellmanFord(local.union(express), "a", "b", "w",
      source = 0L, rounds = 12)
    // reached-set-sized result into its own eager checkpoint, then free
    // the iteration frame (the q233/q244 memory contract)
    val out = dist.select(col("s").as("node"), col("d").as("dist_w"))
      .orderBy("node").localCheckpoint(true)
    graft.ops.Scc.release(dist)
    out
  }

  /** q255 oracle: the same two-lane overlay and all 12 Bellman–Ford
    * rounds unrolled (per-round: relax every edge out of the current
    * dist set, keep the per-node min — the exact [[graft.ops.Sssp]]
    * recursion). */
  private def ssspOracle: String = {
    val k = 12
    val rounds = (1 to k).map { i =>
      s"""d_$i AS MATERIALIZED (
         |  SELECT s, min(d) AS d FROM (
         |    SELECT s, d FROM d_${i - 1}
         |    UNION ALL
         |    SELECT e.sb AS s, p.d + e.w AS d
         |    FROM e JOIN d_${i - 1} p ON p.s = e.sa)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT user_id AS v FROM events),
       |mx AS (SELECT max(v) AS m FROM u),
       |e AS MATERIALIZED (
       |  SELECT v AS sa, v + 1 AS sb, (v * 31 + 7) % 19 + 1 AS w
       |  FROM u, mx WHERE v + 1 <= m
       |  UNION ALL
       |  SELECT v, v + 5, (v * 17 + 3) % 53 + 7
       |  FROM u, mx WHERE v + 5 <= m),
       |d_0 AS (SELECT CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d),
       |$rounds
       |SELECT CAST(s AS BIGINT) AS node, CAST(d AS BIGINT) AS dist_w
       |FROM d_$k ORDER BY node""".stripMargin
  }

  /** q171: per-node triangle counts over the part co-purchase graph
    * (parts sharing an order are connected) — the graph-density /
    * community-structure signal next to CC (q86), PageRank (q155) and
    * BFS (q163). Degree-ordered orientation bounds the wedge join by
    * Σ outdeg² = O(m^1.5) regardless of hub degrees
    * ([[graft.ops.Triangles]]); the oracle enumerates each triangle in
    * canonical a<b<c form — the same set by definition. */
  private def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val edges = li.as("x")
      .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    graft.ops.Triangles.perNodeCounts(edges, "a", "b")
      .withColumnRenamed("node", "part_id")
      .orderBy("part_id")
  }

  /** q212: deterministic label-propagation communities over the
    * customer↔supplier order graph (q155's graph) — the 4th graph
    * curation signal beside BFS/triangles/PageRank
    * ([[graft.ops.LabelPropagation]]): synchronous rounds, self-vote,
    * highest-count-then-smallest-label tie-break, so the communities
    * are a pure function of (graph, rounds) and the oracle can unroll
    * all 3 rounds in SQL (the q155 discipline). Output is the
    * community roster aggregate (members per side + node checksum) —
    * cluster-sized, never edge-sized. */
  private def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cust"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("supp"))
    val base = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("cust").as("a"), col("supp").as("b")).distinct()
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    graft.ops.LabelPropagation.propagate(edges, "a", "b", rounds = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(pmod(col("node"), lit(2)) === 0, 1L).otherwise(0L))
          .as("n_customers"),
        sum(when(pmod(col("node"), lit(2)) === 1, 1L).otherwise(0L))
          .as("n_suppliers"),
        sum(col("node")).as("node_sum"))
      .orderBy("community")
  }

  /** q174: item-item cosine similarity over the co-purchase matrix —
    * the collaborative-filtering recommendation primitive
    * (sim(a,b) = co(a,b) / √(n_a·n_b), cosine over binary order-
    * incidence vectors). Counts are exact int64; the single float step
    * (one multiply, one IEEE sqrt — correctly rounded by spec on both
    * engines — one divide) is quantized to micro-units. The co >= 3
    * support floor is the scale guard: pairs below it never leave the
    * count aggregation, so the output is support-bounded, not
    * pairs-bounded. */
  private def itemItemCosine(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val deg = li.groupBy("p").agg(count(lit(1)).as("n_ord"))
    val co = li.as("x")
      .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("co"))
      .where(col("co") >= 3)
    co.join(deg.select(col("p").as("a"), col("n_ord").as("na")), "a")
      .join(deg.select(col("p").as("b"), col("n_ord").as("nb")), "b")
      .withColumn("cos_micro",
        round(col("co") * lit(1e6) / sqrt((col("na") * col("nb")).cast("double")))
          .cast("long"))
      .select("a", "b", "co", "na", "nb", "cos_micro")
      .orderBy("a", "b")
  }

  /** q159: edit-distance VERIFY of shingle-generated candidates — the
    * refinement step fuzzy dedup runs after candidate generation:
    * q37's shared-shingle Jaccard stage proposes the pairs (bounded,
    * shuffle-shaped for scale), then the exact `levenshtein` DP scores
    * ONLY those pairs. The O(n·m) DP never sees the corpus cross
    * product — a naive (lang, length-bucket) blocking was measured
    * quadratic-slow at sf0.1, which is exactly why the candidate set
    * must come from the shingle join. Both engines implement the
    * classic unit-cost DP, so pair set and distances hash-match. */
  private def editDistanceNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = Dedup.blockedJaccardPairs(docs,
        id = "doc_id", text = "text", blockCols = Seq("lang", "source"),
        k = 3, threshold = 0.3)
      .select("doc_a", "doc_b")
    val t = docs.select(col("doc_id"), col("text"))
    cands
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"))
      .orderBy("id_a", "id_b")
  }

  /** q181: prefix-filtered set-similarity self-join (PPJoin family) —
    * exact token-set Jaccard ≥ 0.3 where candidates come only from each
    * doc's rarest-token prefix (`Dedup.prefixFilterPairs`). The oracle
    * is the EXHAUSTIVE all-pairs Jaccard join — hash equality proves
    * the prefix filter dropped no qualifying pair on real data (the
    * prefix theorem, verified rather than assumed). */
  private def prefixFilterPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterPairs(
      Tables.documents(spark, dir), "doc_id", "text", thresholdTenths = 3)
      .select(col("doc_a"), col("doc_b"), col("jac_micro"))
      .orderBy("doc_a", "doc_b")

  /** q183: quality-aware canonical selection — q87 picks each dup
    * cluster's minimum id; a curation pipeline keeps the BEST member
    * instead. Same pair + connected-components stages as q87 (natural
    * near-dups, no injection), then per cluster the member with max
    * n_chars (ties → min doc_id) via one rank window over the
    * label-keyed members — cluster-sized input, never corpus-sized.
    * The oracle replays pairs, the recursive-CTE clustering, and the
    * (n_chars DESC, doc_id) pick. */
  private def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars", "text")
    val edges = Dedup.blockedJaccardPairs(
        docs.withColumn("g", lit(1)), "doc_id", "text",
        blockCols = Seq("g"), k = 3, threshold = 0.3, maxShingleDf = 20)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = Dedup.connectedComponents(edges, "a", "b")
    val members = labels.join(
      docs.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
    val byLabel = Window.partitionBy("label")
    members
      .withColumn("rn", row_number().over(
        byLabel.orderBy(col("n_chars").desc, col("node"))))
      .withColumn("n_members", count(lit(1)).over(byLabel))
      .where(col("rn") === 1)
      .select(col("label").as("cluster"), col("node").as("canonical_doc"),
        col("n_members"), col("n_chars").as("canonical_chars"))
      .orderBy("cluster")
  }

  /** q189: dup-cluster size histogram — the dedup-health metric a
    * curation run reports (how much mass sits in 2-clusters vs
    * boilerplate blobs). Same natural pair + CC stages as q183, then
    * two tiny aggregates over label-sized data: label → size →
    * (size, n_clusters, n_docs). */
  private def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val edges = Dedup.blockedJaccardPairs(
        docs.withColumn("g", lit(1)), "doc_id", "text",
        blockCols = Seq("g"), k = 3, threshold = 0.3, maxShingleDf = 20)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    Dedup.connectedComponents(edges, "a", "b")
      .groupBy("label").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      .orderBy("sz")
  }

  /** q218: bounded k-core peeling over the customer↔supplier order
    * graph (q212's graph) — the 5th graph curation signal
    * ([[graft.ops.KCore]]): 3 peel rounds at degree threshold 3, each
    * round a pure function of the previous edge set (no node order),
    * so the surviving degree table is deterministic and the oracle
    * unrolls the identical rounds in SQL (the q155/q212 discipline).
    * Where LPA labels cohesive regions, the k-core DROPS the tendrils
    * — the densifier a link-graph curation pass runs before trusting
    * any popularity signal. */
  private def kcoreSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cust"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("supp"))
    val base = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("cust").as("a"), col("supp").as("b")).distinct()
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    graft.ops.KCore.peel(edges, "a", "b", k = 3, rounds = 3)
      .orderBy("node")
  }

  /** q219: directional containment join
    * ([[graft.dedup.Dedup.containmentPairs]], C(src→dst) ≥ 0.5) — the
    * asymmetric dedup signal the Jaccard family can't see (a snippet
    * quoted inside a much longer doc has Jaccard ≈ |S|/|D| but
    * containment ≈ 1). Candidates come only from each src's df-rarest
    * prefix (SSJoin prefix theorem, containment form); the oracle is
    * the EXHAUSTIVE any-shared-shingle join with the same integer
    * gate, so hash equality proves the prefix+size filters dropped no
    * qualifying directed pair — the q181 verified-losslessness
    * discipline, asymmetric edition. */
  private def containmentPairsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(spark, dir), "doc_id", "text", thresholdTenths = 5)
      .select(col("src"), col("dst"), col("ns"), col("nd"), col("cont_micro"))
      .orderBy("src", "dst")

  /** q224: bounded k-truss peeling over the co-purchase graph
    * ([[graft.ops.Truss]]) — the EDGE-cohesion graph signal beside the
    * node-degree k-core (q218): 2 peel rounds at triangle support ≥ 2
    * (a 4-truss pass) on the co ≥ 3 co-purchase edges (q174's support
    * floor bounds the edge set before any triangle work — the same
    * scale guard). Each round recomputes support synchronously over
    * the surviving edges, so the result is a pure function of (graph,
    * s, rounds) and the oracle unrolls both rounds with the canonical
    * common-neighbor join. */
  private def ktrussEdges(spark: SparkSession, dir: String): DataFrame = {
    // part-FAMILY co-purchase graph (partkey DIV 10 supernodes): dense
    // enough to carry a real support distribution at sf0.1 (measured:
    // 45.6k edges, ~1/3 survive a support-2 peel) where the raw part
    // graph's co-floored edges are triangle-poor
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"),
        expr("l_partkey DIV 10").as("p")).distinct()
    val edges = li.as("x")
      .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= 3).select("a", "b")
    graft.ops.Truss.peel(edges, "a", "b", minSupport = 2, rounds = 2)
      .orderBy("a", "b")
  }

  /** q233: STRONGLY CONNECTED COMPONENTS over a directed graph — the
    * directed-topology signal the 7-member undirected family lacks
    * ([[graft.ops.Scc]]: bounded FW-BW coloring rounds, 3 phases of
    * peel-and-recolor). The graph is a deterministic directed overlay
    * on the events user domain (nodes 0..maxU contiguous by fixture
    * construction): 4-cycles per block (u→u+1 inside, last→first), a
    * DAG chain of block heads (4b→4(b−1)), and an acyclic tail where
    * the last block is incomplete — so the SCC structure is
    * fully-known: every complete block is a 4-member SCC, residue
    * nodes are singletons peeled one per phase. rounds = 4 ≥ the
    * in-block propagation distance (3), so the bounded run is EXACT,
    * and the oracle unrolls every round of all 3 phases in SQL (the
    * q212/q224 discipline). Output is the per-SCC rollup (members,
    * node checksum, assigning phase). */
  /** The deterministic directed overlay on the events user domain shared
    * by q233/q244: 4-cycles per block, a DAG chain of block heads, an
    * acyclic tail where the last block is incomplete. */
  private def directedOverlay(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir).select(col("user_id").as("v")).distinct()
    val maxU = u.agg(max("v")).head().getLong(0)
    u.where(pmod(col("v"), lit(4)) < 3 && col("v") + 1 <= maxU)
      .select(col("v").as("a"), (col("v") + 1).as("b"))
      .union(u.where(pmod(col("v"), lit(4)) === 3)
        .select(col("v").as("a"), (col("v") - 3).as("b")))
      .union(u.where(pmod(col("v"), lit(4)) === 0 && col("v") >= 4)
        .select(col("v").as("a"), (col("v") - 4).as("b")))
  }

  private def sccComponents(spark: SparkSession, dir: String): DataFrame = {
    val comps = graft.ops.Scc.components(directedOverlay(spark, dir), "a", "b",
      rounds = 4, phases = 3)
    // Materialize the SCC-sized rollup into its own checkpoint, then
    // release the node-sized components frame (Scc's memory contract):
    // what stays pinned across calls is the small rollup, not the
    // per-node assignment.
    val rollup = comps.groupBy("scc_id")
      .agg(count(lit(1)).as("n_members"), sum("node").as("node_sum"),
        max("phase").as("phase"),
        (count(lit(1)) > 1).as("multi_node"))
      .orderBy("scc_id")
      .localCheckpoint(true)
    graft.ops.Scc.release(comps)
    rollup
  }

  /** q244: CONDENSATION-DAG LAYERING — the topology tier above q233:
    * contract each SCC to one node (the condensation, acyclic by the
    * SCC definition), then assign every condensed node its dependency
    * depth via [[graft.ops.DagLayers]] (8 bounded longest-path rounds,
    * the q155/q163 iteration contract — layers cap at 8 on this
    * fixture's long block-head chain, a deterministic K-capped function
    * the oracle unrolls round by round). Closes the directed family:
    * SCC (q233) → condensation → layered topology. Output is the
    * per-layer rollup (SCC count, id checksum, member total, multi-node
    * SCC count).
    *
    * Scale shape: the condensation is edge⋈node-sized label joins + one
    * distinct (no pairwise SCC work); each layering round is one
    * edge⋈layer join + per-dst max + node-sized left join, through the
    * checkpoint-evict loop — O(1) pinned frames, and the returned
    * rollup is layer-sized (≤ rounds+1 rows) in its own checkpoint with
    * every iteration frame released (the q233 memory contract). */
  private def condensationLayers(spark: SparkSession, dir: String): DataFrame = {
    val unpersist = org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint _
    val edges = directedOverlay(spark, dir).localCheckpoint(true)
    val comps = graft.ops.Scc.components(edges, "a", "b",
      rounds = 4, phases = 3)
    val lbl = comps.select("node", "scc_id")
    val condE = edges
      .join(lbl.select(col("node").as("a"), col("scc_id").as("sa")), "a")
      .join(lbl.select(col("node").as("b"), col("scc_id").as("sb")), "b")
      .where(col("sa") =!= col("sb"))
      .select("sa", "sb").distinct()
    val sccs = comps.groupBy("scc_id").agg(count(lit(1)).as("nm"))
    val lay = graft.ops.DagLayers.layers(
      sccs.select("scc_id"), "scc_id", condE, "sa", "sb", rounds = 8)
    val out = lay.join(sccs, lay("s") === sccs("scc_id"))
      .groupBy(col("l").as("layer"))
      .agg(count(lit(1)).as("n_sccs"),
        sum("scc_id").as("scc_id_sum"),
        sum("nm").as("n_members"),
        sum(when(col("nm") > 1, 1L).otherwise(0L)).as("n_multi"))
      .orderBy("layer")
      .localCheckpoint(true)
    graft.ops.Scc.release(lay)
    graft.ops.Scc.release(comps)
    unpersist(edges)
    out
  }

  /** q298: FELLEGI–SUNTER PROBABILISTIC RECORD LINKAGE (Fellegi &
    * Sunter, JASA 1969 — the decision model behind every production
    * entity-resolution system; reference corpus context:
    * data_collection/fetch_stock.py:43-57 keys everything on clean
    * symbols, so the dirty-key linkage tier is the generalization).
    * The classic two-file setup is derived deterministically: file A =
    * customers verbatim; file B = the same entities re-registered with
    * key-driven corruptions (every 3rd name gets a suffix, every 4th
    * segment is wrong, 40% of balances jitter by up to ±500 cents —
    * arithmetic on the key, so both engines and every re-run derive
    * the identical file). Candidate pairs come from blocking on
    * (nation, $1000 balance band) — never all-pairs — with a HARD
    * BLOCK CAP (VERDICT r12 #2): each side keeps at most
    * [[FsBlockCap]] rows per block (rank-within-block, the q128
    * WindowGroupLimit shape), so candidate pairs are bounded by
    * #blocks · cap² no matter how skewed a real block gets (a populous
    * nation × a common balance band would otherwise go quadratic —
    * the q39/q40/q272 discipline applied here). The uncapped pair
    * count Σ|A_b|·|B_b| is computed from per-block COUNTS (no join)
    * and published as `n_pairs_precap`, so cap pressure is measured,
    * not assumed; a jittered balance can also cross a band edge, so
    * blocking recall is measured and published too. Per pair the
    * agreement vector is (name exact, segment exact, balance within
    * $1); m/u probabilities are estimated from the labeled pairs (the
    * supervised variant — truth is key equality by construction) with
    * add-one smoothing, and the field weights are the micro-nat
    * log-likelihood ratios wA = ln(m/u), wD = ln((1−m)/(1−u)). The
    * ratio is computed from DOUBLE-cast factors multiplied as doubles
    * (each factor ≤ n_pairs is exact in a double; the products never
    * overflow — at fixture scales < 2^53 they are also exact, and
    * beyond that both engines round the same IEEE way — the ADVICE
    * r12 overflow fix). A pair links iff its integer weight sum is
    * positive; the output row carries the six weights, the confusion
    * census, and precision/recall/blocking-recall as exact micro-unit
    * truncating ratios (precision NULL when nothing links — the same
    * guard on both engines).
    *
    * Scale shape: two per-side WindowGroupLimit caps, blocked
    * equi-join on the composite block key with pairs ≤ #blocks · cap²,
    * ONE map-side-combinable agreement census for m/u, a 1-row weight
    * frame broadcast back onto the pair scan, one final census — no
    * all-pairs product anywhere, no uncapped block anywhere. */
  private[queries] val FsBlockCap = 64

  private def fellegiSunterLinkage(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val a = cust.select(col("c_custkey").as("key_a"),
        col("c_name").as("name_a"), col("c_nationkey").as("nat_a"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents_a"),
        col("c_mktsegment").as("seg_a"))
      .withColumn("band_a", expr("cents_a div 100000"))
    val b = cust.select(col("c_custkey").as("key_b"),
        when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("~")))
          .otherwise(col("c_name")).as("name_b"),
        col("c_nationkey").as("nat_b"),
        (expr("CAST(round(c_acctbal * 100) AS BIGINT)") +
          when(col("c_custkey") % 5 < 2,
            (col("c_custkey") * 37) % 1001 - 500).otherwise(0L))
          .as("cents_b"),
        when(col("c_custkey") % 4 === 0, lit("CORRUPTED"))
          .otherwise(col("c_mktsegment")).as("seg_b"))
      .withColumn("band_b", expr("cents_b div 100000"))
    // uncapped pair volume from per-block COUNTS only — the cap-pressure
    // census costs two tiny aggs + a block-cardinality join, never pairs
    val preA = a.groupBy(col("nat_a").as("nat"), col("band_a").as("band"))
      .agg(count(lit(1)).as("na"))
    val preB = b.groupBy(col("nat_b").as("nat"), col("band_b").as("band"))
      .agg(count(lit(1)).as("nb"))
    val pre = preA.join(preB, Seq("nat", "band"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_pairs_precap"))
    // the block cap: ≤ FsBlockCap rows per side per block, rank by the
    // unique entity key — WindowGroupLimit prunes before the full sort
    val aCap = a.withColumn("__rn", row_number().over(
        Window.partitionBy("nat_a", "band_a").orderBy("key_a")))
      .where(col("__rn") <= FsBlockCap).drop("__rn")
    val bCap = b.withColumn("__rn", row_number().over(
        Window.partitionBy("nat_b", "band_b").orderBy("key_b")))
      .where(col("__rn") <= FsBlockCap).drop("__rn")
    val pairs = aCap.join(bCap,
        col("nat_a") === col("nat_b") && col("band_a") === col("band_b"))
      .select(
        (col("name_a") === col("name_b")).cast("long").as("g_name"),
        (col("seg_a") === col("seg_b")).cast("long").as("g_seg"),
        (abs(col("cents_a") - col("cents_b")) <= 100).cast("long")
          .as("g_bal"),
        (col("key_a") === col("key_b")).cast("long").as("m"))
    val est = pairs.agg(
      count(lit(1)).as("n_pairs"), sum("m").as("nm"),
      (count(lit(1)) - sum("m")).as("nu"),
      sum(col("m") * col("g_name")).as("ma_name"),
      sum((lit(1) - col("m")) * col("g_name")).as("ua_name"),
      sum(col("m") * col("g_seg")).as("ma_seg"),
      sum((lit(1) - col("m")) * col("g_seg")).as("ua_seg"),
      sum(col("m") * col("g_bal")).as("ma_bal"),
      sum((lit(1) - col("m")) * col("g_bal")).as("ua_bal"))
    def wA(f: String) = expr(
      s"CAST(round(ln((CAST(ma_$f + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE)) / " +
        s"(CAST(ua_$f + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6) AS BIGINT)")
    def wD(f: String) = expr(
      s"CAST(round(ln((CAST(nm - ma_$f + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE)) / " +
        s"(CAST(nu - ua_$f + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6) AS BIGINT)")
    val w = est.select(col("n_pairs"), col("nm"), col("nu"),
      wA("name").as("wa_name"), wD("name").as("wd_name"),
      wA("seg").as("wa_seg"), wD("seg").as("wd_seg"),
      wA("bal").as("wa_bal"), wD("bal").as("wd_bal"))
    val scored = pairs.crossJoin(broadcast(w))
      .withColumn("score",
        col("g_name") * col("wa_name") +
          (lit(1) - col("g_name")) * col("wd_name") +
          col("g_seg") * col("wa_seg") +
          (lit(1) - col("g_seg")) * col("wd_seg") +
          col("g_bal") * col("wa_bal") +
          (lit(1) - col("g_bal")) * col("wd_bal"))
    val cen = scored.agg(
      first("n_pairs").as("n_pairs"), first("nm").as("n_match"),
      first("wa_name").as("wa_name"), first("wd_name").as("wd_name"),
      first("wa_seg").as("wa_seg"), first("wd_seg").as("wd_seg"),
      first("wa_bal").as("wa_bal"), first("wd_bal").as("wd_bal"),
      sum(when(col("score") > 0 && col("m") === 1, 1L).otherwise(0L))
        .as("tp"),
      sum(when(col("score") > 0 && col("m") === 0, 1L).otherwise(0L))
        .as("fp"),
      sum(when(col("score") <= 0 && col("m") === 1, 1L).otherwise(0L))
        .as("fn"))
    cen.crossJoin(broadcast(
        cust.agg(count(lit(1)).as("n_cust"))))
      .crossJoin(broadcast(pre))
      .select(col("n_pairs"), col("n_pairs_precap"), col("n_match"),
        col("wa_name"), col("wd_name"), col("wa_seg"), col("wd_seg"),
        col("wa_bal"), col("wd_bal"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE (1000000 * tp) div (tp + fp) END").as("precision_micro"),
        expr("(1000000 * tp) div n_match").as("recall_micro"),
        expr("(1000000 * n_match) div n_cust").as("block_recall_micro"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q298_fellegi_sunter_linkage" -> fellegiSunterLinkage,
    "q233_scc_components" -> sccComponents,
    "q244_condensation_layers" -> condensationLayers,
    "q218_kcore_survivors" -> kcoreSurvivors,
    "q224_ktruss_edges" -> ktrussEdges,
    "q219_containment_pairs" -> containmentPairsQ,
    "q181_prefix_filter_pairs" -> prefixFilterPairs,
    "q183_canonical_selection" -> canonicalSelection,
    "q189_cluster_size_histogram" -> clusterSizeHistogram,
    "q155_pagerank" -> pagerankTop,
    "q252_hits" -> hitsTop,
    "q212_lpa_communities" -> lpaCommunities,
    "q159_edit_distance_neardup" -> editDistanceNearDup,
    "q163_bfs_hops" -> bfsHops,
    "q255_sssp_distances" -> ssspDistances,
    "q171_triangle_counts" -> triangleCounts,
    "q174_item_item_cosine" -> itemItemCosine,
    "q122_shared_spans" -> sharedSpans,
    "q241_maximal_dup_spans" -> maximalDupSpans,
    "q273_char_exact_dup_spans" -> charExactDupSpans,
    "q287_substring_dedup_corpus" -> substringDedupCorpus,
    "q246_blocking_quality" -> blockingQuality,
    "q272_blocking_pc_sampled" -> blockingPcSampled,
    "q36_exact_dedup" -> exactDedup,
    "q37_ngram_jaccard_pairs" -> ngramJaccard,
    "q38_minhash_pairs" -> minhashPairs,
    "q39_simhash_pairs" -> simhashPairs,
    "q198_sorted_neighborhood" -> sortedNeighborhoodPairs,
    "q143_dedup_signal_fusion" -> dedupSignalFusion,
    "q86_dedup_clusters" -> dedupClusters,
    "q87_corpus_dedup_e2e" -> corpusDedupE2e,
    "q111_incremental_dedup" -> incrementalDedup
  )

  override def oracles: Map[String, String] = Map(
    // the derived dirty file, per-block cap, blocking join, agreement
    // census, smoothed m/u, micro-nat weights, pair scores, and
    // confusion census all replayed from the customer table alone
    "q298_fellegi_sunter_linkage" ->
      s"""WITH a AS (
        |  SELECT c_custkey AS key_a, c_name AS name_a,
        |         c_nationkey AS nat_a,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents_a,
        |         c_mktsegment AS seg_a
        |  FROM customer),
        |a2 AS (SELECT *, cents_a // 100000 AS band_a FROM a),
        |b AS (
        |  SELECT c_custkey AS key_b,
        |         CASE WHEN c_custkey % 3 = 0 THEN c_name || '~'
        |              ELSE c_name END AS name_b,
        |         c_nationkey AS nat_b,
        |         CAST(round(c_acctbal * 100) AS BIGINT)
        |           + CASE WHEN c_custkey % 5 < 2
        |                  THEN (c_custkey * 37) % 1001 - 500
        |                  ELSE 0 END AS cents_b,
        |         CASE WHEN c_custkey % 4 = 0 THEN 'CORRUPTED'
        |              ELSE c_mktsegment END AS seg_b
        |  FROM customer),
        |b2 AS (SELECT *, cents_b // 100000 AS band_b FROM b),
        |pre AS (
        |  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT)
        |           AS n_pairs_precap
        |  FROM (SELECT nat_a, band_a, count(*) AS na FROM a2 GROUP BY 1, 2) x
        |  JOIN (SELECT nat_b, band_b, count(*) AS nb FROM b2 GROUP BY 1, 2) y
        |    ON x.nat_a = y.nat_b AND x.band_a = y.band_b),
        |a3 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY nat_a, band_a ORDER BY key_a) AS rn FROM a2)
        |  WHERE rn <= $FsBlockCap),
        |b3 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY nat_b, band_b ORDER BY key_b) AS rn FROM b2)
        |  WHERE rn <= $FsBlockCap),
        |p AS MATERIALIZED (
        |  SELECT CAST(name_a = name_b AS BIGINT) AS g_name,
        |         CAST(seg_a = seg_b AS BIGINT) AS g_seg,
        |         CAST(abs(cents_a - cents_b) <= 100 AS BIGINT) AS g_bal,
        |         CAST(key_a = key_b AS BIGINT) AS m
        |  FROM a3 JOIN b3 ON nat_a = nat_b AND band_a = band_b),
        |est AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(m) AS BIGINT) AS nm,
        |         CAST(count(*) - sum(m) AS BIGINT) AS nu,
        |         CAST(sum(m * g_name) AS BIGINT) AS ma_name,
        |         CAST(sum((1 - m) * g_name) AS BIGINT) AS ua_name,
        |         CAST(sum(m * g_seg) AS BIGINT) AS ma_seg,
        |         CAST(sum((1 - m) * g_seg) AS BIGINT) AS ua_seg,
        |         CAST(sum(m * g_bal) AS BIGINT) AS ma_bal,
        |         CAST(sum((1 - m) * g_bal) AS BIGINT) AS ua_bal
        |  FROM p),
        |w AS (
        |  SELECT n_pairs, nm, nu,
        |    CAST(round(ln((CAST(ma_name + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(ua_name + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wa_name,
        |    CAST(round(ln((CAST(nm - ma_name + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(nu - ua_name + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wd_name,
        |    CAST(round(ln((CAST(ma_seg + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(ua_seg + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wa_seg,
        |    CAST(round(ln((CAST(nm - ma_seg + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(nu - ua_seg + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wd_seg,
        |    CAST(round(ln((CAST(ma_bal + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(ua_bal + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wa_bal,
        |    CAST(round(ln((CAST(nm - ma_bal + 1 AS DOUBLE) * CAST(nu + 2 AS DOUBLE))
        |      / (CAST(nu - ua_bal + 1 AS DOUBLE) * CAST(nm + 2 AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS wd_bal
        |  FROM est),
        |s AS (
        |  SELECT p.m,
        |         p.g_name * w.wa_name + (1 - p.g_name) * w.wd_name
        |       + p.g_seg * w.wa_seg + (1 - p.g_seg) * w.wd_seg
        |       + p.g_bal * w.wa_bal + (1 - p.g_bal) * w.wd_bal AS score
        |  FROM p, w),
        |cen AS (
        |  SELECT
        |    CAST(sum(CASE WHEN score > 0 AND m = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score > 0 AND m = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score <= 0 AND m = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn
        |  FROM s),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM customer)
        |SELECT w.n_pairs, pre.n_pairs_precap, w.nm AS n_match,
        |       w.wa_name, w.wd_name, w.wa_seg, w.wd_seg, w.wa_bal,
        |       w.wd_bal, cen.tp, cen.fp, cen.fn,
        |       CASE WHEN cen.tp + cen.fp = 0 THEN CAST(NULL AS BIGINT)
        |            ELSE CAST(1000000 * cen.tp // (cen.tp + cen.fp) AS BIGINT)
        |       END AS precision_micro,
        |       CAST(1000000 * cen.tp // w.nm AS BIGINT) AS recall_micro,
        |       CAST(1000000 * w.nm // nc.n_cust AS BIGINT)
        |         AS block_recall_micro
        |FROM w, cen, nc, pre""".stripMargin,
    "q233_scc_components" -> sccOracle,
    "q244_condensation_layers" -> condLayersOracle,
    "q255_sssp_distances" -> ssspOracle,
    "q246_blocking_quality" -> blockingQualityOracle,
    "q272_blocking_pc_sampled" -> blockingPcSampledOracle,
    // both truss rounds unrolled: support(a,b) = |N(a) ∩ N(b)| via the
    // canonical common-neighbor join over the previous round's edges,
    // keep support >= 2; output carries the qualifying round's support
    "q224_ktruss_edges" -> {
      def round(i: Int): String = {
        val p = s"e${i - 1}"
        s"""sym$i AS (SELECT a AS u, b AS w FROM $p
           |          UNION ALL SELECT b AS u, a AS w FROM $p),
           |s$i AS (
           |  SELECT e.a, e.b, count(*) AS support
           |  FROM $p e
           |  JOIN sym$i x ON x.u = e.a
           |  JOIN sym$i y ON y.u = e.b AND y.w = x.w
           |  GROUP BY e.a, e.b),
           |e$i AS (SELECT a, b, support FROM s$i WHERE support >= 2)""".stripMargin
      }
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey // 10 AS p
         |  FROM lineitem),
         |e0 AS (
         |  SELECT x.p AS a, y.p AS b
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |${round(1)},
         |${round(2)}
         |SELECT a, b, support FROM e2 ORDER BY a, b""".stripMargin
    },
    // the 3 peel rounds unrolled: degree → alive (deg ≥ 3) → edges with
    // both endpoints alive, then the surviving degree table
    "q218_kcore_survivors" -> {
      def round(i: Int): String = {
        val p = s"e${i - 1}"
        s"""d$i AS (SELECT a, count(*) AS deg FROM $p GROUP BY a),
           |al$i AS (SELECT a FROM d$i WHERE deg >= 3),
           |e$i AS (
           |  SELECT e.a, e.b FROM $p e
           |  JOIN al$i x ON x.a = e.a JOIN al$i y ON y.a = e.b)""".stripMargin
      }
      s"""WITH base AS (
         |  SELECT DISTINCT o.o_custkey*2 AS a, l.l_suppkey*2+1 AS b
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e0 AS (SELECT a, b FROM base UNION ALL SELECT b, a FROM base),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT a AS node, count(*) AS deg FROM e3 GROUP BY a
         |ORDER BY node""".stripMargin
    },
    // exhaustive directional containment: ANY-shared-shingle candidates
    // (a pair with C ≥ t > 0 shares a shingle), exact intersect, same
    // integer gate — losslessness of the prefix+size filters is what
    // the hash equality proves
    "q219_containment_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS ws
        |  FROM t),
        |n AS (SELECT doc_id, ws, len(ws) AS nn FROM s WHERE len(ws) > 0),
        |e AS (SELECT doc_id, unnest(ws) AS w FROM n),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM e a JOIN e b ON a.w = b.w AND a.doc_id <> b.doc_id),
        |p AS (
        |  SELECT c.src, c.dst,
        |         len(list_intersect(x.ws, y.ws)) AS i,
        |         x.nn AS ns, y.nn AS nd
        |  FROM cand c JOIN n x ON x.doc_id = c.src
        |              JOIN n y ON y.doc_id = c.dst)
        |SELECT src, dst, ns, nd, (1000000 * i) // ns AS cont_micro
        |FROM p WHERE 10 * i >= 5 * ns
        |ORDER BY src, dst""".stripMargin,
    // same clustering replay as q183, aggregated to the size census
    "q189_cluster_size_histogram" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |keepsh AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 20),
        |fex AS (SELECT ex.doc_id, ex.sg FROM ex JOIN keepsh USING (sg)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fex GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
        |  FROM fex a JOIN fex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT x, y FROM inter
        |  JOIN sizes sa ON sa.doc_id = inter.x
        |  JOIN sizes sb ON sb.doc_id = inter.y
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.3),
        |sym AS (SELECT x, y FROM e UNION SELECT y, x FROM e),
        |reach AS (
        |  SELECT x, x AS label FROM (SELECT DISTINCT x FROM sym)
        |  UNION
        |  SELECT s2.x, r.label FROM sym s2 JOIN reach r ON s2.y = r.x),
        |lab AS (SELECT x AS node, min(label) AS label FROM reach GROUP BY x),
        |cs AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
        |SELECT sz, count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM cs GROUP BY sz ORDER BY sz""".stripMargin,
    // q87's pair + recursive-CTE clustering replay (no dup injection),
    // then the (n_chars DESC, doc_id) canonical pick per cluster
    "q183_canonical_selection" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |keepsh AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 20),
        |fex AS (SELECT ex.doc_id, ex.sg FROM ex JOIN keepsh USING (sg)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fex GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
        |  FROM fex a JOIN fex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT x, y FROM inter
        |  JOIN sizes sa ON sa.doc_id = inter.x
        |  JOIN sizes sb ON sb.doc_id = inter.y
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.3),
        |sym AS (SELECT x, y FROM e UNION SELECT y, x FROM e),
        |reach AS (
        |  SELECT x, x AS label FROM (SELECT DISTINCT x FROM sym)
        |  UNION
        |  SELECT s2.x, r.label FROM sym s2 JOIN reach r ON s2.y = r.x),
        |lab AS (SELECT x AS node, min(label) AS label FROM reach GROUP BY x),
        |m AS (
        |  SELECT lab.label, lab.node, d.n_chars,
        |         row_number() OVER (PARTITION BY lab.label
        |                            ORDER BY d.n_chars DESC, lab.node) AS rn,
        |         count(*) OVER (PARTITION BY lab.label) AS n_members
        |  FROM lab JOIN documents d ON d.doc_id = lab.node)
        |SELECT label AS cluster, node AS canonical_doc, n_members,
        |       n_chars AS canonical_chars
        |FROM m WHERE rn = 1 ORDER BY cluster""".stripMargin,
    // candidates from ANY shared shingle (complete for J > 0 by
    // definition — no prefix anywhere), then the exact integer gate.
    // Equality with the engine's prefix-only candidates is the
    // losslessness proof. J >= 0.3 ⇔ 13·|∩| >= 3(|A|+|B|).
    "q181_prefix_filter_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS ws
        |  FROM t),
        |n AS (SELECT doc_id, ws, len(ws) AS nn FROM s WHERE len(ws) > 0),
        |e AS (SELECT doc_id, unnest(ws) AS w FROM n),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.doc_a, c.doc_b,
        |         len(list_intersect(x.ws, y.ws)) AS i,
        |         x.nn AS na, y.nn AS nb
        |  FROM cand c JOIN n x ON x.doc_id = c.doc_a
        |              JOIN n y ON y.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, (1000000 * i) // (na + nb - i) AS jac_micro
        |FROM p WHERE 13 * i >= 3 * (na + nb)
        |ORDER BY doc_a, doc_b""".stripMargin,
    // exact-int counts; the lone float step mirrors the Spark tree
    // (multiply, IEEE sqrt, divide) and is quantized to micro-units
    "q174_item_item_cosine" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |deg AS (SELECT p, count(*) AS n_ord FROM li GROUP BY p),
        |co AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS co
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT co.a, co.b, co.co, da.n_ord AS na, db.n_ord AS nb,
        |       CAST(round(co.co * 1000000.0
        |                  / sqrt(CAST(da.n_ord * db.n_ord AS DOUBLE)))
        |            AS BIGINT) AS cos_micro
        |FROM co
        |JOIN deg da ON da.p = co.a
        |JOIN deg db ON db.p = co.b
        |ORDER BY a, b""".stripMargin,
    // canonical a<b<c enumeration: e1=(a,b), e2=(b,c), e3=(a,c) — the
    // same triangle set the degree-ordered algorithm finds, per node
    "q171_triangle_counts" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
        |t AS (
        |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT unnest([a, b, c]) AS part_id FROM t)
        |SELECT part_id, count(*) AS n_triangles
        |FROM n GROUP BY part_id ORDER BY part_id""".stripMargin,
    // unrolled BFS levels: l_k = neighbors(l_{k-1}); min(hop) over the
    // union equals the frontier BFS distance by optimality
    "q163_bfs_hops" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o.o_custkey*2 AS a, l.l_suppkey*2+1 AS b
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT c_custkey*2 AS node FROM customer
        |       WHERE c_nationkey = 0),
        |l1 AS (SELECT DISTINCT e.b AS node FROM e JOIN l0 ON e.a = l0.node),
        |l2 AS (SELECT DISTINCT e.b AS node FROM e JOIN l1 ON e.a = l1.node),
        |l3 AS (SELECT DISTINCT e.b AS node FROM e JOIN l2 ON e.a = l2.node),
        |u AS (SELECT node, 0 AS hop FROM l0
        |      UNION ALL SELECT node, 1 FROM l1
        |      UNION ALL SELECT node, 2 FROM l2
        |      UNION ALL SELECT node, 3 FROM l3)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |       node // 2 AS entity_id,
        |       CAST(min(hop) AS INTEGER) AS hop
        |FROM u GROUP BY 1, 2 ORDER BY node_type, entity_id""".stripMargin,
    // q37's candidate stage (same shingles, same jaccard gate) +
    // DuckDB's levenshtein — the same unit-cost DP
    "q159_edit_distance_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source, text,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       levenshtein(a.text, b.text) AS edit_dist
        |FROM s a JOIN s b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // all three integer iterations unrolled; // is floor division ==
    // Spark's truncating div on these all-positive values. S = 2^20,
    // teleport = S*15/100 = 157286.
    "q212_lpa_communities" -> lpaOracle,
    // All 3 HITS rounds unrolled: each half-step is the in-edge sum
    // followed by the deterministic max-scaling (s·x // max — positives,
    // so `//` truncates exactly like Spark's `div`).
    "q252_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h0 AS (SELECT DISTINCT cust, CAST(1048576 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS ar
        |        FROM e JOIN h0 USING (cust) GROUP BY 1),
        |a1 AS (SELECT supp, ar * 1048576 // (SELECT max(ar) FROM a1r) AS a
        |       FROM a1r),
        |h1r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS hr
        |        FROM e JOIN a1 USING (supp) GROUP BY 1),
        |h1 AS (SELECT cust, hr * 1048576 // (SELECT max(hr) FROM h1r) AS h
        |       FROM h1r),
        |a2r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS ar
        |        FROM e JOIN h1 USING (cust) GROUP BY 1),
        |a2 AS (SELECT supp, ar * 1048576 // (SELECT max(ar) FROM a2r) AS a
        |       FROM a2r),
        |h2r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS hr
        |        FROM e JOIN a2 USING (supp) GROUP BY 1),
        |h2 AS (SELECT cust, hr * 1048576 // (SELECT max(hr) FROM h2r) AS h
        |       FROM h2r),
        |a3r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS ar
        |        FROM e JOIN h2 USING (cust) GROUP BY 1),
        |a3 AS (SELECT supp, ar * 1048576 // (SELECT max(ar) FROM a3r) AS a
        |       FROM a3r),
        |h3r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS hr
        |        FROM e JOIN a3 USING (supp) GROUP BY 1),
        |h3 AS (SELECT cust, hr * 1048576 // (SELECT max(hr) FROM h3r) AS h
        |       FROM h3r),
        |u AS (
        |  SELECT 'hub' AS role, cust AS entity_id, h AS score_fixed FROM h3
        |  UNION ALL
        |  SELECT 'authority', supp, a FROM a3),
        |ranked AS (
        |  SELECT role, entity_id, CAST(score_fixed AS BIGINT) AS score_fixed,
        |         row_number() OVER (PARTITION BY role
        |                            ORDER BY score_fixed DESC, entity_id ASC)
        |           AS rank
        |  FROM u)
        |SELECT role, entity_id, score_fixed, rank
        |FROM ranked WHERE rank <= 10 ORDER BY role, rank""".stripMargin,
    "q155_pagerank" ->
      """WITH base AS (
        |  SELECT DISTINCT o.o_custkey*2 AS a, l.l_suppkey*2+1 AS b
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT a, b FROM base UNION ALL SELECT b, a FROM base),
        |nodes AS (SELECT DISTINCT a AS node FROM e),
        |deg AS (SELECT a, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1048576 AS BIGINT) AS r FROM nodes),
        |it1 AS (
        |  SELECT n.node, 157286 + (85 * COALESCE(s.c, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.b AS node, sum(r.r // d.deg) AS c
        |    FROM e JOIN r0 r ON r.node = e.a JOIN deg d ON d.a = e.a
        |    GROUP BY 1) s ON s.node = n.node),
        |it2 AS (
        |  SELECT n.node, 157286 + (85 * COALESCE(s.c, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.b AS node, sum(r.r // d.deg) AS c
        |    FROM e JOIN it1 r ON r.node = e.a JOIN deg d ON d.a = e.a
        |    GROUP BY 1) s ON s.node = n.node),
        |it3 AS (
        |  SELECT n.node, 157286 + (85 * COALESCE(s.c, 0)) // 100 AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.b AS node, sum(r.r // d.deg) AS c
        |    FROM e JOIN it2 r ON r.node = e.a JOIN deg d ON d.a = e.a
        |    GROUP BY 1) s ON s.node = n.node),
        |ranked AS (
        |  SELECT node, r,
        |         row_number() OVER (ORDER BY r DESC, node) AS rank
        |  FROM it3)
        |SELECT CASE node % 2 WHEN 0 THEN 'customer' ELSE 'supplier' END
        |         AS node_type,
        |       node // 2 AS entity_id,
        |       CAST(r AS BIGINT) AS rank_fixed,
        |       rank
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // Positional 5-token spans (i-1 = 0-based token position), cross-doc
    // df via distinct (span, doc), duplicated positions merged into
    // maximal islands (gap > 5 breaks — intervals share one length so
    // the fixed-gap rule IS interval merging).
    "q241_maximal_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |           || ' ' || toks[i+3] || ' ' || toks[i+4] AS sh
        |  FROM t, unnest(range(1, len(toks) - 3)) AS r(i)
        |  WHERE len(toks) >= 5),
        |d AS (SELECT sh, count(DISTINCT doc_id) AS df FROM p GROUP BY sh),
        |u AS (SELECT p.doc_id, p.pos, d.df
        |      FROM p JOIN d USING (sh) WHERE d.df >= 2),
        |i AS (SELECT doc_id, pos, df,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
        |             THEN 1 ELSE 0 END AS brk
        |      FROM u),
        |s AS (SELECT doc_id, pos, df,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM i)
        |SELECT doc_id, min(pos) AS span_start,
        |       max(pos) - min(pos) + 5 AS span_tokens,
        |       count(*) AS n_dup_positions, max(df) - 1 AS max_partners
        |FROM s GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    // q241's island machinery, then per island: boundary 5-grams from
    // the token array, min (doc*2^20+pos) partner occurrence per
    // boundary, token-level LCS/LCP via the monotone prefix-equality
    // count, char offsets from joined token-slice lengths.
    "q273_char_exact_dup_spans" ->
      s"""WITH $charSpanOracleCtes
        |SELECT doc_id, p AS span_start, q - p + 5 AS span_tokens,
        |       CAST(l_doc AS BIGINT) AS left_partner_doc,
        |       CAST(l_pos AS BIGINT) AS left_partner_pos,
        |       CAST(r_doc AS BIGINT) AS right_partner_doc,
        |       CAST(r_pos AS BIGINT) AS right_partner_pos,
        |       CAST(ext_l AS BIGINT) AS ext_left_chars,
        |       CAST(ext_r AS BIGINT) AS ext_right_chars,
        |       CAST(cs - ext_l AS BIGINT) AS span_char_start,
        |       CAST(ce + ext_r - cs + ext_l AS BIGINT) AS span_char_len
        |FROM f ORDER BY doc_id, span_start""".stripMargin,
    // q287: q273's spans consumed — canonical-or-cut verdict per span
    // (pkey < okey on q273's integer occurrence keys), running-max
    // overlap-safe segment stitching, post-cut length + md5 audits.
    "q287_substring_dedup_corpus" ->
      s"""WITH $charSpanOracleCtes,
        |spans AS (
        |  SELECT doc_id, l_doc * 1048576 + l_pos AS pkey,
        |         doc_id * 1048576 + p AS okey,
        |         cs - ext_l AS s, ce + ext_r - cs + ext_l AS len
        |  FROM f),
        |nt AS (
        |  SELECT doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\\s+'),
        |                         ' ') AS nt
        |  FROM documents),
        |cuts AS (SELECT * FROM spans WHERE pkey < okey),
        |seg AS (
        |  SELECT doc_id, s, len,
        |         coalesce(max(s + len) OVER (PARTITION BY doc_id
        |           ORDER BY s, len
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pe
        |  FROM cuts),
        |pieces AS (
        |  SELECT seg.doc_id,
        |         string_agg(substr(nt.nt, CAST(pe + 1 AS INT),
        |                           CAST(greatest(0, s - pe) AS INT)),
        |                    '' ORDER BY s, len) AS head,
        |         max(greatest(s + len, pe)) AS e_end
        |  FROM seg JOIN nt USING (doc_id) GROUP BY seg.doc_id),
        |kept AS (
        |  SELECT sp.doc_id,
        |         coalesce(p.head, '')
        |           || substr(nt.nt, CAST(coalesce(p.e_end, 0) + 1 AS INT),
        |                CAST(greatest(0, length(nt.nt)
        |                                 - coalesce(p.e_end, 0)) AS INT))
        |           AS kt,
        |         nt.nt AS nt
        |  FROM (SELECT DISTINCT doc_id FROM spans) sp
        |  JOIN nt USING (doc_id)
        |  LEFT JOIN pieces p USING (doc_id)),
        |stats AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |         sum(CASE WHEN pkey < okey THEN 1 ELSE 0 END) AS n_cut
        |  FROM spans GROUP BY 1)
        |SELECT st.doc_id, CAST(st.n_spans AS BIGINT) AS n_spans,
        |       CAST(st.n_cut AS BIGINT) AS n_cut,
        |       CAST(length(k.nt) AS BIGINT) AS orig_chars,
        |       CAST(length(k.kt) AS BIGINT) AS kept_chars,
        |       CAST(length(k.nt) - length(k.kt) AS BIGINT) AS cut_chars,
        |       md5(k.kt) AS kept_md5
        |FROM stats st JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Distinct 5-token spans per doc (same set semantics as
    // WordShingles), span df across docs, >=2 → shared.
    "q122_shared_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        || ' ' || toks[i+3] || ' ' || toks[i+4]
        |                        for i in range(1, len(toks) - 3)]) AS sh
        |  FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |g AS (SELECT shingle, count(*) AS df FROM e GROUP BY shingle),
        |a AS (
        |  SELECT e.doc_id, count(*) AS n_spans,
        |         sum(CASE WHEN g.df >= 2 THEN 1 ELSE 0 END) AS n_shared_spans
        |  FROM e JOIN g USING (shingle) GROUP BY e.doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(a.n_shared_spans, 0) AS BIGINT) AS n_shared_spans,
        |       coalesce(a.n_shared_spans, 0) * 5 >= coalesce(a.n_spans, 0)
        |         AND coalesce(a.n_spans, 0) > 0 AS leaky
        |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q36_exact_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       count(*) AS n_copies
        |FROM u GROUP BY 2 ORDER BY 1""".stripMargin,
    "q37_ngram_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Exact GLOBAL Jaccard pairs via the scale-shaped shared-shingle
    // formulation (a >=0.3 pair must share a shingle, so the candidate
    // equi-join loses nothing); valid for q38 because LSH recall is
    // exact on this corpus (see minhashPairs scaladoc) and precision is
    // exact by construction.
    // q38's shingle-Jaccard leg + q39's FNV/majority-vote SimHash leg,
    // full-outer merged on the pair key, per-verdict aggregation
    "q143_dedup_signal_fusion" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s3 AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |e3 AS (SELECT doc_id, unnest(sh) AS g FROM s3),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM e3 a JOIN e3 b ON a.g = b.g AND a.doc_id < b.doc_id),
        |mh AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c JOIN s3 x ON x.doc_id = c.doc_a
        |              JOIN s3 y ON y.doc_id = c.doc_b
        |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |          / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE)
        |        >= 0.3),
        |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |h AS (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |             list_transform(regexp_split_to_array(w, ''),
        |                            c -> CAST(unicode(c) AS UBIGINT))),
        |           (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
        |                          % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
        |shv AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b
        |                       ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS sh
        |  FROM v GROUP BY 1),
        |band AS (
        |  SELECT doc_id, sh, i AS band,
        |         CAST((sh >> (i * 16)) & 65535 AS BIGINT) AS block
        |  FROM shv CROSS JOIN (SELECT unnest([0,1,2,3]) AS i)),
        |ok AS (
        |  SELECT band, block FROM band GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 256),
        |shp AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM band a
        |  JOIN ok o ON o.band = a.band AND o.block = a.block
        |  JOIN band b ON b.band = a.band AND b.block = a.block
        |            AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 16),
        |f AS (
        |  SELECT coalesce(m.doc_a, s.doc_a) AS a,
        |         coalesce(m.doc_b, s.doc_b) AS b,
        |         m.doc_a IS NOT NULL AS in_mh,
        |         s.doc_a IS NOT NULL AS in_sh
        |  FROM mh m FULL OUTER JOIN shp s
        |    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
        |SELECT CASE WHEN in_mh AND in_sh THEN 'both'
        |            WHEN in_mh THEN 'minhash_only'
        |            ELSE 'simhash_only' END AS verdict,
        |       count(*) AS n_pairs, min(a) AS first_a,
        |       CAST(sum(a + b) AS BIGINT) AS sum_ids
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q38_minhash_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard
        |FROM cand c JOIN s x ON x.doc_id = c.doc_a JOIN s y ON y.doc_id = c.doc_b
        |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Full replication of the engine's SimHash pipeline in SQL: FNV-1a64
    // per token (UTF-8 bytes == unicode(char) on this ASCII corpus,
    // HUGEINT mod-2^64 wraparound), per-bit majority votes, 4×16-bit
    // bands, bucket-size cap [2, 256], any-band pair collision, hamming
    // <= 16 verify. Validated equal to the engine output row-for-row.
    "q39_simhash_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |h AS (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |             list_transform(regexp_split_to_array(w, ''),
        |                            c -> CAST(unicode(c) AS UBIGINT))),
        |           (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
        |                          % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b
        |                       ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS sh
        |  FROM v GROUP BY 1),
        |band AS (
        |  SELECT doc_id, sh, i AS band,
        |         CAST((sh >> (i * 16)) & 65535 AS BIGINT) AS block
        |  FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS i)),
        |ok AS (
        |  SELECT band, block FROM band GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 256),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.sh AS sh_a, b.sh AS sh_b
        |  FROM band a
        |  JOIN ok o ON o.band = a.band AND o.block = a.block
        |  JOIN band b ON b.band = a.band AND b.block = a.block
        |            AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        |FROM p WHERE bit_count(xor(sh_a, sh_b)) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q39's simhash replay, then: signed 64-bit order, global
    // row_number, join each row to its next 4 neighbors, exact Hamming
    "q198_sorted_neighborhood" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |h AS (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |             list_transform(regexp_split_to_array(w, ''),
        |                            c -> CAST(unicode(c) AS UBIGINT))),
        |           (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
        |                          % 18446744073709551616 AS UBIGINT)) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b
        |                       ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS sh
        |  FROM v GROUP BY 1),
        |r AS (
        |  SELECT doc_id, sh,
        |         row_number() OVER (ORDER BY
        |           CAST(CASE WHEN CAST(sh AS HUGEINT) >= 9223372036854775808
        |                     THEN CAST(sh AS HUGEINT) - 18446744073709551616
        |                     ELSE CAST(sh AS HUGEINT) END AS BIGINT),
        |           doc_id) AS rn
        |  FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(b.rn - a.rn AS INTEGER) AS gap,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4
        |WHERE bit_count(xor(a.sh, b.sh)) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q87_corpus_dedup_e2e" ->
      """WITH RECURSIVE u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM u),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |keepsh AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 20),
        |fex AS (SELECT ex.doc_id, ex.sg FROM ex JOIN keepsh USING (sg)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fex GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
        |  FROM fex a JOIN fex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT x, y FROM inter
        |  JOIN sizes sa ON sa.doc_id = inter.x
        |  JOIN sizes sb ON sb.doc_id = inter.y
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.3),
        |sym AS (SELECT x, y FROM e UNION SELECT y, x FROM e),
        |reach AS (
        |  SELECT x, x AS label FROM (SELECT DISTINCT x FROM sym)
        |  UNION
        |  SELECT s2.x, r.label FROM sym s2 JOIN reach r ON s2.y = r.x),
        |lab AS (SELECT x AS node, min(label) AS label FROM reach GROUP BY x),
        |drops AS (SELECT node FROM lab WHERE node <> label)
        |SELECT count(*) AS n_kept,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
        |FROM u WHERE doc_id NOT IN (SELECT node FROM drops)""".stripMargin,
    // Same shingle/DF/jaccard pipeline as q87's oracle, with pair
    // generation restricted to pairs touching the drop: drop ids all sort
    // after keep ids, and inter orders a < b, so `b >= 1000000` IS the
    // "touches the drop" predicate (keep-keep pairs have b < 1e6).
    "q111_incremental_dedup" ->
      """WITH RECURSIVE dropd AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         array_to_string(list_reverse(
        |           regexp_split_to_array(trim(text), '\s+')), ' ')
        |  FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000,
        |         array_to_string(list_reverse(
        |           regexp_split_to_array(trim(text), '\s+')), ' ')
        |  FROM documents WHERE doc_id % 30 = 0),
        |u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text FROM dropd),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM u),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                        for i in range(1, len(toks) - 1)]) AS sh
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |keepsh AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 20),
        |fex AS (SELECT ex.doc_id, ex.sg FROM ex JOIN keepsh USING (sg)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fex GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
        |  FROM fex a JOIN fex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  WHERE b.doc_id >= 1000000
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT x, y FROM inter
        |  JOIN sizes sa ON sa.doc_id = inter.x
        |  JOIN sizes sb ON sb.doc_id = inter.y
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.3),
        |sym AS (SELECT x, y FROM e UNION SELECT y, x FROM e),
        |reach AS (
        |  SELECT x, x AS label FROM (SELECT DISTINCT x FROM sym)
        |  UNION
        |  SELECT s2.x, r.label FROM sym s2 JOIN reach r ON s2.y = r.x),
        |lab AS (SELECT x AS node, min(label) AS label FROM reach GROUP BY x)
        |SELECT d.doc_id,
        |       CASE WHEN lab.label IS NULL OR lab.label = d.doc_id THEN 'kept'
        |            WHEN lab.label < 1000000 THEN 'dup_of_keep'
        |            ELSE 'dup_in_drop' END AS status,
        |       CAST(coalesce(lab.label, d.doc_id) AS BIGINT) AS rep_id
        |FROM dropd d LEFT JOIN lab ON lab.node = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q86_dedup_clusters" ->
      """WITH n AS (
        |  SELECT doc_id AS node FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 FROM documents WHERE doc_id % 20 = 0)
        |SELECT node, node % 1000000 AS label
        |FROM n ORDER BY node""".stripMargin
  )

  /** q212 oracle: the 3 synchronous LPA rounds unrolled relationally
    * (the q155 discipline). Per round: every node's vote multiset =
    * neighbor labels (flowing a→b along the symmetrized edge list) plus
    * its own current label; winner by (votes DESC, label ASC) via
    * row_number — the identical total order the Spark side uses. */
  private def lpaOracle: String = {
    def round(i: Int): String = {
      val p = s"l${i - 1}"
      s"""v$i AS (
         |  SELECT e.b AS node, l.lbl FROM e JOIN $p l ON l.node = e.a
         |  UNION ALL SELECT node, lbl FROM $p),
         |f$i AS (SELECT node, lbl, count(*) AS votes FROM v$i GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |      PARTITION BY node ORDER BY votes DESC, lbl) AS rn
         |    FROM f$i) WHERE rn = 1)""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT DISTINCT o.o_custkey*2 AS a, l.l_suppkey*2+1 AS b
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT a, b FROM base UNION ALL SELECT b, a FROM base),
       |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT lbl AS community, count(*) AS n_members,
       |       CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_customers,
       |       CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_suppliers,
       |       CAST(sum(node) AS BIGINT) AS node_sum
       |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q233 oracle: all 3 FW-BW phases unrolled relationally — per phase,
    * 4 forward min-color rounds (left-join the per-dst min of ancestor
    * colors), a pivot seed (r = node = color), 4 backward same-color
    * reach rounds, then the peel (NOT IN is null-safe here: node ids
    * are never null). Identical graph construction, identical round
    * structure, identical tie-free integer arithmetic as the Spark
    * side. */
  private def sccOracle: String =
    s"""WITH ${sccOracleWith(sccPhaseSql)}
       |SELECT scc_id, count(*) AS n_members,
       |       CAST(sum(node) AS BIGINT) AS node_sum,
       |       CAST(max(phase) AS INTEGER) AS phase,
       |       count(*) > 1 AS multi_node
       |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  /** q244 oracle: the ENTIRE q233 SCC replay as a shared WITH prefix,
    * then the condensation (distinct cross-SCC label-joined edges) and
    * 8 unrolled longest-path layering rounds (per-dst max(l+1) left-
    * joined back, the exact [[graft.ops.DagLayers]] recursion), rolled
    * up per layer. */
  private def condLayersOracle: String = {
    val k = 8
    val layering = (1 to k).map { i =>
      s"""lu_$i AS MATERIALIZED (
         |  SELECT ce.sb AS s, max(p.l + 1) AS nl
         |  FROM ce JOIN ll_${i - 1} p ON p.s = ce.sa GROUP BY 1),
         |ll_$i AS MATERIALIZED (
         |  SELECT n.s, greatest(n.l, coalesce(u.nl, n.l)) AS l
         |  FROM ll_${i - 1} n LEFT JOIN lu_$i u ON u.s = n.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sccOracleWith(sccPhaseSql)},
       |lbl AS MATERIALIZED (SELECT node, scc_id FROM asg),
       |ce AS MATERIALIZED (
       |  SELECT DISTINCT la.scc_id AS sa, lb.scc_id AS sb
       |  FROM e1 e JOIN lbl la ON la.node = e.a JOIN lbl lb ON lb.node = e.b
       |  WHERE la.scc_id <> lb.scc_id),
       |m AS MATERIALIZED (SELECT scc_id, count(*) AS nm FROM asg GROUP BY 1),
       |ll_0 AS (SELECT scc_id AS s, 0 AS l FROM m),
       |$layering
       |SELECT f.l AS layer, count(*) AS n_sccs,
       |       CAST(sum(f.s) AS BIGINT) AS scc_id_sum,
       |       CAST(sum(m.nm) AS BIGINT) AS n_members,
       |       CAST(sum(CASE WHEN m.nm > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_multi
       |FROM ll_$k f JOIN m ON m.scc_id = f.s
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def sccPhaseSql: Int => String = { (p: Int) =>
    val rounds = 4
      val fwd = (1 to rounds).map { i =>
        s"""m${p}_$i AS MATERIALIZED (
           |  SELECT e.b AS node, min(u.c) AS mc
           |  FROM e$p e JOIN c${p}_${i - 1} u ON u.node = e.a GROUP BY 1),
           |c${p}_$i AS MATERIALIZED (
           |  SELECT n.node, least(n.c, coalesce(m.mc, n.c)) AS c
           |  FROM c${p}_${i - 1} n LEFT JOIN m${p}_$i m ON m.node = n.node)""".stripMargin
      }.mkString(",\n")
      val bwd = (1 to rounds).map { i =>
        s"""h${p}_$i AS MATERIALIZED (
           |  SELECT DISTINCT e.a AS node, w.c
           |  FROM e$p e JOIN r${p}_${i - 1} w ON w.node = e.b AND w.r),
           |r${p}_$i AS MATERIALIZED (
           |  SELECT n.node, n.c, n.r OR h.node IS NOT NULL AS r
           |  FROM r${p}_${i - 1} n
           |  LEFT JOIN h${p}_$i h ON h.node = n.node AND h.c = n.c)""".stripMargin
      }.mkString(",\n")
      s"""c${p}_0 AS (SELECT node, node AS c FROM n$p),
         |$fwd,
         |r${p}_0 AS (SELECT node, c, node = c AS r FROM c${p}_$rounds),
         |$bwd,
         |a$p AS MATERIALIZED (SELECT node, c AS scc_id, $p AS phase
         |        FROM r${p}_$rounds WHERE r),
         |n${p + 1} AS MATERIALIZED (SELECT node FROM n$p
         |              WHERE node NOT IN (SELECT node FROM a$p)),
         |e${p + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e1 e
         |  JOIN n${p + 1} x ON x.node = e.a
         |  JOIN n${p + 1} y ON y.node = e.b)""".stripMargin
  }

  /** q246 oracle: FULL SQL replication of the q38 MinHash blocking
    * pipeline — FNV-1a64 per shingle (the q39 HUGEINT mod-2⁶⁴ fold),
    * the 64 universal hashes h_i(x) = a_i·x + b_i with the multiply
    * SPLIT 32/32 so a·x mod 2⁶⁴ stays inside HUGEINT (a·x alone can
    * reach 2¹²⁸ and overflow DuckDB's signed 128-bit type), SIGNED
    * 64-bit minima (the engine compares Java longs), band signature
    * strings in i-order, FNV bucket keys, uncapped ≥2 buckets —
    * against the exhaustive shared-shingle truth and the integer
    * metric tail. The (a_i, b_i) constants are generated from the SAME
    * splitmix64 the engine's MinHashSignature uses. */
  /** The shared WITH prefix of the q246/q272 oracles: the FULL MinHash
    * pipeline replay (FNV shingle hashes, 64 mod-2⁶⁴ universal hashes
    * with signed minima, band buckets, uncapped candidate pairs) plus
    * the exhaustive any-shared-shingle truth with the cross-multiplied
    * J ≥ 0.3 gate. */
  private def blockingOracleWith: String = {
    import graft.functions.Hashing
    val consts = (0 until 64).map { i =>
      val a = Hashing.splitmix64(2L * i) | 1L
      val b = Hashing.splitmix64(2L * i + 1)
      s"($i, ${a & 0xffffffffL}, ${a >>> 32}, " +
        s"CAST('${java.lang.Long.toUnsignedString(b)}' AS HUGEINT))"
    }.mkString(",\n       |        ")
    def fnv(e: String): String =
      s"""list_reduce(
         |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
         |      list_transform(regexp_split_to_array($e, ''),
         |                     c -> CAST(unicode(c) AS UBIGINT))),
         |    (a, b) -> CAST((CAST(xor(a, b) AS HUGEINT) * 1099511628211)
         |                   % 18446744073709551616 AS UBIGINT))""".stripMargin
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                        for i in range(1, len(toks) - 1)]) AS sh
       |  FROM t),
       |sc AS (SELECT doc_id, sh FROM s WHERE len(sh) >= 1),
       |e AS (SELECT doc_id, unnest(sh) AS g FROM sc),
       |consts(i, al, ah, b) AS (VALUES
       |        $consts),
       |fx AS (SELECT doc_id, ${fnv("g")} AS x FROM e),
       |mhv AS (
       |  SELECT f.doc_id, c.i,
       |         (CAST(c.al AS HUGEINT) * CAST(f.x AS HUGEINT)
       |          + ((CAST(c.ah AS HUGEINT) * CAST(f.x % 4294967296 AS HUGEINT))
       |             % 4294967296) * 4294967296
       |          + c.b) % 18446744073709551616 AS vm
       |  FROM fx f CROSS JOIN consts c),
       |mh AS (
       |  SELECT doc_id, i,
       |         min(CAST(CASE WHEN vm >= 9223372036854775808
       |                       THEN vm - 18446744073709551616
       |                       ELSE vm END AS BIGINT)) AS m
       |  FROM mhv GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id, i // 4 AS band,
       |         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sigstr
       |  FROM mh GROUP BY 1, 2),
       |bk AS (SELECT doc_id, band, ${fnv("sigstr")} AS bkt FROM sig),
       |okb AS (SELECT band, bkt FROM bk GROUP BY 1, 2 HAVING count(*) >= 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN okb o ON o.band = a.band AND o.bkt = a.bkt
       |  JOIN bk b ON b.band = a.band AND b.bkt = a.bkt
       |           AND a.doc_id < b.doc_id),
       |anyshared AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM e x JOIN e y ON y.g = x.g AND x.doc_id < y.doc_id),
       |truth AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM anyshared c JOIN sc sx ON sx.doc_id = c.doc_a
       |  JOIN sc sy ON sy.doc_id = c.doc_b
       |  WHERE 10 * len(list_intersect(sx.sh, sy.sh))
       |        >= 3 * len(list_distinct(list_concat(sx.sh, sy.sh))))""".stripMargin
  }

  private def blockingQualityOracle: String = {
    s"""WITH $blockingOracleWith,
       |mm AS (
       |  SELECT (SELECT count(*) FROM sc) AS n_docs,
       |         (SELECT count(*) FROM cand) AS n_cand,
       |         (SELECT count(*) FROM truth) AS n_truth,
       |         (SELECT count(*)
       |          FROM cand JOIN truth USING (doc_a, doc_b)) AS n_hit)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS total_pairs,
       |       CAST(n_cand AS BIGINT) AS n_cand,
       |       CAST(n_truth AS BIGINT) AS n_truth,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(CASE WHEN n_truth = 0 THEN 1000000
       |            ELSE 1000000 * n_hit // n_truth END AS BIGINT) AS pc_micro,
       |       CAST(1000000 - 1000000 * n_cand
       |              // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS rr_micro
       |FROM mm""".stripMargin
  }

  /** q272 oracle: the q246 prefix (full MinHash replay + exhaustive
    * truth), then the md5-prefix doc sample, the within-sample truth
    * (the full truth restricted to sampled endpoints — identical by
    * construction to computing the exhaustive join inside the sample),
    * both PC legs, and the plus-4 squared-z bound in HUGEINT. */
  private def blockingPcSampledOracle: String = {
    s"""WITH $blockingOracleWith,
       |samp AS (SELECT doc_id FROM sc
       |         WHERE md5('bpc:' || CAST(doc_id AS VARCHAR)) < '8'),
       |truth_s AS (
       |  SELECT t2.doc_a, t2.doc_b FROM truth t2
       |  JOIN samp a ON a.doc_id = t2.doc_a
       |  JOIN samp b ON b.doc_id = t2.doc_b),
       |mm AS (
       |  SELECT (SELECT count(*) FROM sc) AS n_docs,
       |         (SELECT count(*) FROM samp) AS n_sample_docs,
       |         (SELECT count(*) FROM truth_s) AS ts,
       |         (SELECT count(*)
       |          FROM cand JOIN truth_s USING (doc_a, doc_b)) AS hs,
       |         (SELECT count(*) FROM truth) AS tf,
       |         (SELECT count(*)
       |          FROM cand JOIN truth USING (doc_a, doc_b)) AS hf),
       |m2 AS (
       |  SELECT *,
       |    CASE WHEN ts = 0 THEN 1000000 ELSE 1000000 * hs // ts END AS pc_est,
       |    CASE WHEN tf = 0 THEN 1000000 ELSE 1000000 * hf // tf END AS pc_exact
       |  FROM mm)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_sample_docs AS BIGINT) AS n_sample_docs,
       |       CAST(ts AS BIGINT) AS n_truth_s,
       |       CAST(hs AS BIGINT) AS n_hit_s,
       |       CAST(tf AS BIGINT) AS n_truth_f,
       |       CAST(hf AS BIGINT) AS n_hit_f,
       |       CAST(pc_est AS BIGINT) AS pc_est_micro,
       |       CAST(pc_exact AS BIGINT) AS pc_exact_micro,
       |       CASE WHEN ts = 0 THEN true ELSE
       |         CAST(pc_exact - pc_est AS HUGEINT) * (pc_exact - pc_est)
       |           * (ts + 4) * (ts + 4) * (ts + 4) * 10000
       |         <= CAST(38416 AS HUGEINT) * 1000000000000
       |           * (hs + 2) * (ts - hs + 2)
       |       END AS within_bound
       |FROM m2""".stripMargin
  }

  /** The full q233 WITH body (graph construction + all 3 unrolled FW-BW
    * phases + the assigned union `asg`) — shared verbatim by the q233
    * and q244 oracles so the condensation replays EXACTLY the SCC run
    * it contracts. */
  private def sccOracleWith(phaseSql: Int => String): String =
    s"""u AS MATERIALIZED (SELECT DISTINCT user_id AS v FROM events),
       |mx AS MATERIALIZED (SELECT max(v) AS m FROM u),
       |e1 AS MATERIALIZED (
       |  SELECT v AS a, v + 1 AS b FROM u, mx WHERE v % 4 < 3 AND v + 1 <= m
       |  UNION ALL SELECT v, v - 3 FROM u WHERE v % 4 = 3
       |  UNION ALL SELECT v, v - 4 FROM u WHERE v % 4 = 0 AND v >= 4),
       |n1 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e1
       |       UNION SELECT DISTINCT b FROM e1),
       |${phaseSql(1)},
       |${phaseSql(2)},
       |${phaseSql(3)},
       |asg AS MATERIALIZED (SELECT * FROM a1 UNION ALL SELECT * FROM a2
       |        UNION ALL SELECT * FROM a3)""".stripMargin
}

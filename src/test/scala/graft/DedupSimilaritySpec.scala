package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.obs.QueryProfile
import graft.similarity.Similarity

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different text with nothing shared at all here now")
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per content fingerprint") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("exactDedup is idempotent") {
    val once = Dedup.exactDedup(docs, "doc_id", "text")
    val twice = Dedup.exactDedup(once.drop("fingerprint"), "doc_id", "text")
    assert(once.count() == twice.count())
  }

  test("q38 config: minhash pair set EQUALS exact global jaccard pairs (sf0.001)") {
    // pins the exactness that licenses q38's DuckDB oracle: on the
    // driver corpus every true >=0.3 pair is high-jaccard (>=0.9), where
    // 16 bands x 4 rows collide with probability ~1 - 4e-8
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val cands = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 4, maxBucket = Int.MaxValue)
    val got = Dedup.verifyJaccard(cands, corpus, "doc_id", "text", k = 3,
        threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.blockedJaccardPairs(
        corpus.withColumn("__one", org.apache.spark.sql.functions.lit(1)),
        id = "doc_id", text = "text", blockCols = Seq("__one"),
        k = 3, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == exact, s"got=${got.size} exact=${exact.size} " +
      s"missed=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
  }

  test("minhash LSH recalls exact and near dups, not unrelated docs") {
    val cands = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      k = 2, bands = 16, rowsPerBand = 2)
    val verified = Dedup.verifyJaccard(cands, docs, "doc_id", "text", k = 2,
        threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 2L)))
    assert(verified.contains((1L, 3L)) || verified.contains((2L, 3L)))
    assert(!verified.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs at hamming 0; unrelated docs farther than near-dups") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))
  }

  test("blockedJaccardPairs finds the near-dup pair over a shared block") {
    val blocked = docs.withColumn("blk", lit("all"))
    val got = Dedup.blockedJaccardPairs(blocked, "doc_id", "text",
        Seq("blk"), k = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)))
  }

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.1f, 0.0f)),   // near 1
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks the nearest vector first") {
    val got = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", k = 1)
      .select("neighbor_id").as[Long].collect()
    assert(got.toSeq == Seq(2L))
  }

  test("lshTopK recall includes the true nearest neighbor (few planes, 3 dims)") {
    val got = Similarity.lshTopK(vecs, vecs.where(col("vec_id") === 1),
        "vec_id", "embedding", k = 1, numPlanes = 2, dim = 3)
      .select("neighbor_id").as[Long].collect()
    // with 2 planes the near-identical vector must share the bucket
    assert(got.toSeq == Seq(2L))
  }

  test("blockedCosinePairs finds only the near pair at high threshold") {
    val blocked = vecs.withColumn("label", lit(0))
    val got = Similarity.blockedCosinePairs(blocked, "vec_id", "embedding",
        "label", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  private def fixtureDocs = graft.tables.Tables
    .documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")

  test("simhash multi-band candidates = exactly the any-band-collision pairs (fixture)") {
    val got = Dedup.simhashPairs(fixtureDocs, "doc_id", "text", maxHamming = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhash(fixtureDocs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val expected = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 16
      if (0 until 4).exists(i => ((ha >>> (i * 16)) & 0xFFFFL) == ((hb >>> (i * 16)) & 0xFFFFL))
    } yield (a, b)).toSet
    assert(got == expected)
  }

  test("simhash multi-band recall dominates single-band (band union is monotone)") {
    val one = Dedup.simhashPairs(fixtureDocs, "doc_id", "text",
        maxHamming = 16, bands = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val four = Dedup.simhashPairs(fixtureDocs, "doc_id", "text",
        maxHamming = 16, bands = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(one.subsetOf(four))
  }

  test("sortedNeighborhoodPairs = the naive global-window neighborhood (fixture)") {
    val got = Dedup.sortedNeighborhoodPairs(fixtureDocs, "doc_id", "text",
        window = 4, maxHamming = 16)
      .select("doc_a", "doc_b", "gap", "hamming")
      .as[(Long, Long, Int, Int)].collect().toSet
    // naive reference: collect, sort by (simhash, id), compare neighbors
    val sh = Dedup.simhash(fixtureDocs, "doc_id", "text")
      .as[(Long, Long)].collect()
      .sortBy { case (id, h) => (h, id) }
    val expected = (for {
      i <- sh.indices; g <- 1 to 4 if i + g < sh.length
      d = java.lang.Long.bitCount(sh(i)._2 ^ sh(i + g)._2) if d <= 16
    } yield (sh(i)._1, sh(i + g)._1, g, d)).toSet
    assert(got == expected)
    // candidate volume is bounded by window·n by construction
    assert(Dedup.sortedNeighborhoodPairs(fixtureDocs, "doc_id", "text",
      window = 4, maxHamming = 64).count() <= 4L * sh.length)
  }

  test("sortedNeighborhoodPairs pairs exact duplicates at hamming 0 regardless of hot values") {
    // 20 identical docs: banding needs a cap-raise to see these; the
    // sorted neighborhood pairs each with its next 4 at hamming 0 and
    // NEVER exceeds window·n candidates
    val same = Seq.tabulate(20)(i =>
      (i.toLong, "the very same text in every single document here")).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(same, "doc_id", "text",
      window = 4, maxHamming = 0)
    assert(pairs.count() == (16 * 4 + 3 + 2 + 1).toLong)
    assert(pairs.where($"hamming" =!= 0).isEmpty)
  }

  test("simhash bucket cap bounds degenerate buckets (no O(n²) blowup path)") {
    val same = Seq.tabulate(20)(i =>
      (i.toLong, "the very same text in every single document here")).toDF("doc_id", "text")
    // 20 identical simhashes → every band bucket has 20 members > cap 10 → dropped
    assert(Dedup.simhashPairs(same, "doc_id", "text", maxHamming = 64,
      bands = 4, maxBucket = 10).isEmpty)
    // raise the cap → all 190 ordered pairs emerge
    assert(Dedup.simhashPairs(same, "doc_id", "text", maxHamming = 64,
      bands = 4, maxBucket = 64).count() == 190L)
  }

  test("blockedCosinePairs maxBlock excludes oversized blocks, keeps bounded ones") {
    val blocked = vecs.withColumn("label", lit(0))
    // block of 4 > maxBlock 3 → excluded entirely
    assert(Similarity.blockedCosinePairs(blocked, "vec_id", "embedding",
      "label", threshold = 0.9, maxBlock = 3).isEmpty)
    // cap at the block size → unchanged exact result
    val got = Similarity.blockedCosinePairs(blocked, "vec_id", "embedding",
        "label", threshold = 0.9, maxBlock = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("connectedComponents: a 5-chain converges to one min label; disjoint stays disjoint") {
    // chain 1-2-3-4-5 (diameter 4) plus isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(got(_) == 1L), got.toString)
    assert(got(10L) == 10L && got(11L) == 10L)
  }

  test("connectedComponents runs ONE job per round (convergence rides the round's agg)") {
    // With AQE and broadcast off, the job count is deterministic:
    // 2 eager-checkpoint jobs (sym, initial labels) + 1 count per round.
    // A single edge converges in exactly 2 rounds → 4 jobs total; a
    // reintroduced per-round convergence join/count would show up here.
    SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (_, p) = QueryProfile.of(spark) {
        val labels = Dedup.connectedComponents(
          Seq((1L, 2L)).toDF("a", "b"), "a", "b", maxIter = 5)
        assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 1L, 2L -> 1L))
      }
      // 4 jobs from the CC call + 1 from the assertion collect above
      assert(p.jobs == 5,
        s"expected 2 ckpt + 2 round + 1 collect jobs, got ${p.jobs}")
    }
  }

  test("connectedComponents evicts superseded round checkpoints (keeps only final labels)") {
    // Each round localCheckpoints its labels; without eviction a long
    // chain pins O(rounds) cached RDDs for the JVM's life. A 9-chain
    // needs ~5 rounds — after convergence exactly ONE new persistent RDD
    // (the returned labels) may remain beyond what was persisted before.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = Seq.tabulate(9)(i => (i.toLong, i + 1L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(chain, "a", "b")
    assert(labels.count() == 10L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"expected at most the final labels to stay cached, got ${leaked.size} new persistent RDDs")
  }

  test("connectedComponents fails loudly when maxIter < graph diameter") {
    val chain = Seq.tabulate(9)(i => (i.toLong, i + 1L)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 2).collect()
    }
  }

  private def fixtureEmb = graft.tables.Tables
    .embeddings(spark, "/root/testdata/sf0.01")

  test("lshTopK multi-table recall >= 0.9 vs exact top-5 (q42 config)") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        numPlanes = 2, dim = 64, numTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("lshTopK recall is monotone in the number of tables (OR-amplification)") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(tables: Int): Double = {
      val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
          numPlanes = 2, dim = 64, numTables = tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & ann).size.toDouble / exact.size
    }
    // table 0 uses the same seed in both configs → candidate set only grows
    assert(recall(8) >= recall(1))
  }

  test("ivfTopK with nProbe == nCells is exactly brute force") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ivfAll = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCells = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivfAll == exact)
  }

  test("ivfTopK recall >= 0.8 at half the cells probed (q72 config)") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCells = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("quantizeCodes stores array<tinyint> — the 4x-vs-f32 storage claim is real") {
    val codes = Similarity.quantizeCodes(fixtureEmb, "vec_id", "embedding")
    codes.schema("codes").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, _) => ()
      case other => fail(s"codes must be array<tinyint>, got $other")
    }
    // codes are a valid int8 range and every kept vector has a scale
    val row = codes.selectExpr("min(array_min(codes))", "max(array_max(codes))",
      "min(amax)").first()
    assert(row.getByte(0) >= -127 && row.getByte(1) <= 127 && row.getDouble(2) > 0)
  }

  test("quantized IVF: recall >= 0.9 vs FLOAT brute force at full probe (quantization error only)") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.ivfTopKQuantized(emb, queries, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantization-only recall=$recall")
  }

  test("quantized IVF: recall >= 0.8 at half the cells probed (q109 scale config)") {
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.ivfTopKQuantized(emb, queries, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("incrementalDedup classifies dup_of_keep / dup_in_drop / kept") {
    val keep = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val drop = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact dup of keep 1
      (11L, "red green blue cyan magenta yellow"), // novel; duplicated by 12
      (12L, "red green blue cyan magenta yellow"), // dup of 11 inside the drop
      (13L, "totally unique snowflake text here indeed")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(keep, drop, "doc_id", "text",
        k = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      (10L, "dup_of_keep", 1L),
      (11L, "kept", 11L),
      (12L, "dup_in_drop", 11L),
      (13L, "kept", 13L)))
  }

  test("incrementalDedup: a 25-doc near-duplicate chain in one drop " +
    "resolves to its lowest id — no round limit on the components") {
    val keep = Seq((1L, "k1 k2 k3 k4 k5 k6 k7 k8")).toDF("doc_id", "text")
    // doc i = tokens 4i..4i+11: neighbours share 6 of 10 shingles
    // (J = 0.43), docs two apart 2 (J = 0.11) — a 24-hop path, past the
    // 20 rounds the Spark components would have run
    val chain = (0 until 25).map(i =>
        (100L + i, (4 * i until 4 * i + 12).map(t => s"t$t").mkString(" ")))
      .toDF("doc_id", "text")
    val v = Dedup.incrementalDedup(keep, chain, "doc_id", "text",
        k = 3, threshold = 0.3, maxShingleDf = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v.size == 25 && v(100L) == ("kept", 100L))
    assert((101L to 124L).forall(d => v(d) == ("dup_in_drop", 100L)), v)
  }

  test("incrementalDedup EQUALS a full-corpus re-run when keep is deduped (sf0.001)") {
    // The theorem the operator rests on: with an internally deduped
    // keep-set, keep-keep pairs contribute no edges, so the incremental
    // edge set (drop-keep ∪ drop-drop) IS the full re-run's edge set and
    // the keep-lists must match exactly — all three verdict classes
    // present (copies → dup_of_keep, reversed twins → dup_in_drop,
    // reversed singles → kept).
    import graft.tables.Tables
    def dedupKeepSet(corpus: org.apache.spark.sql.DataFrame): Set[Long] = {
      val edges = Dedup.blockedJaccardPairs(corpus.withColumn("g", lit(1)),
          "doc_id", "text", blockCols = Seq("g"), k = 3, threshold = 0.3)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val drops = Dedup.connectedComponents(edges, "a", "b")
        .where(col("node") =!= col("label"))
        .select("node").as[Long].collect().toSet
      corpus.select("doc_id").as[Long].collect().toSet -- drops
    }
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val keepIds = dedupKeepSet(corpus)
    val keep = corpus.where(col("doc_id").isin(keepIds.toSeq: _*))
    val rev = concat_ws(" ", reverse(split(trim(col("text")), "\\s+")))
    val drop = keep.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(keep.where(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), rev.as("text")))
      .unionByName(keep.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), rev.as("text")))
    val fullKeep = dedupKeepSet(keep.unionByName(drop))
    val inc = Dedup.incrementalDedup(keep, drop, "doc_id", "text",
      k = 3, threshold = 0.3)
    val statuses = inc.select("status").distinct().as[String].collect().toSet
    assert(statuses == Set("dup_of_keep", "dup_in_drop", "kept"), statuses)
    val incKeep = keepIds ++ inc.where(col("status") === "kept")
      .select("doc_id").as[Long].collect().toSet
    assert(incKeep == fullKeep,
      s"onlyInc=${(incKeep -- fullKeep).take(5)} onlyFull=${(fullKeep -- incKeep).take(5)}")
  }

  test("Clustering: fixed-point centroids are BIT-identical across partitionings") {
    import graft.similarity.Clustering
    val emb = fixtureEmb
    val c0 = Clustering.seedCentroids(emb, "vec_id", "embedding", 8)
    val a = emb.withColumn("cell", Clustering.assignCell(col("embedding"), c0))
    val c1a = Clustering.fixedPointCentroids(a.repartition(1), "cell", "embedding")
    val c1b = Clustering.fixedPointCentroids(a.repartition(13), "cell", "embedding")
    // exact long sums make the distributed mean order-free — assert
    // bit equality, not approximate closeness
    assert(c1a.map(_._1) == c1b.map(_._1))
    c1a.zip(c1b).foreach { case ((ca, va), (cb, vb)) =>
      assert(ca == cb && va.sameElements(vb), s"cell $ca differs") }
  }

  test("Clustering.assignCell breaks distance ties to the lower cell id") {
    import graft.similarity.Clustering
    val ctrs = Seq(0 -> Array(1.0, 0.0), 1 -> Array(1.0, 0.0),
      2 -> Array(0.0, 1.0))
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("id", "v")
    val got = df.select(col("id"), Clustering.assignCell(col("v"), ctrs).as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 2)) // cells 0/1 tie for row 1 → 0 wins
  }

  test("lshCosinePairs: exact precision, recalls the exact near-dups (q62 config)") {
    val exact = Similarity.blockedCosinePairs(fixtureEmb, "vec_id", "embedding",
        "label", threshold = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshCosinePairs(fixtureEmb, "vec_id", "embedding",
        "label", threshold = 0.45, numPlanes = 2, dim = 64, numTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // every emitted pair is verified by true cosine
    assert(lsh == exact, s"missed: ${exact -- lsh}") // seeded tables recover all pairs here
  }

  test("PQ ADC shortlist + exact rerank: recall >= 0.9 vs exact L2 top-5 (q130 config)") {
    import org.apache.spark.sql.expressions.Window
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val pq = graft.similarity.Pq.adcTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = 8, sub = 8, cells = 64, shortlist = 100)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val qv = queries.select(col("vec_id").cast("long").as("query_id"),
      Similarity.vecDouble(col("embedding")).as("qv"))
    val cv = emb.select(col("vec_id"),
      Similarity.vecDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("vec_id"))
    val exact = cv.crossJoin(broadcast(qv))
      .withColumn("l2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall") // measured 0.96 at sf0.01
  }

  test("IVF-PQ (4/8 cells probed) recall >= 0.85 vs exact L2 top-5 (q139 config)") {
    import org.apache.spark.sql.expressions.Window
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val got = graft.similarity.Pq.ivfAdcTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = 8, sub = 8, cells = 64, coarseK = 8, nProbe = 4,
        shortlist = 100)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val qv = queries.select(col("vec_id").cast("long").as("query_id"),
      Similarity.vecDouble(col("embedding")).as("qv"))
    val cv = emb.select(col("vec_id"),
      Similarity.vecDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("vec_id"))
    val exact = cv.crossJoin(broadcast(qv))
      .withColumn("l2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall=$recall") // measured 0.94 at sf0.01
  }

  test("residual IVF-PQ recall >= 0.7 vs exact L2 top-5 (q145 config; see scaladoc)") {
    import org.apache.spark.sql.expressions.Window
    val emb = fixtureEmb
    val queries = emb.where(col("vec_id") < 10)
    val got = graft.similarity.Pq.ivfResidualAdcTopK(emb, queries,
        "vec_id", "embedding", k = 5, m = 8, sub = 8, cells = 64,
        coarseK = 8, nProbe = 4, shortlist = 100)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val qv = queries.select(col("vec_id").cast("long").as("query_id"),
      Similarity.vecDouble(col("embedding")).as("qv"))
    val cv = emb.select(col("vec_id"),
      Similarity.vecDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("vec_id"))
    val exact = cv.crossJoin(broadcast(qv))
      .withColumn("l2", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // measured 0.92 at sf0.01; residuals underperform raw PQ on this
    // clusterless corpus (q145 scaladoc) — the pin is the honest floor
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("assignCell: all-NaN distances fall back to the LOWEST live cell id") {
    // strict < never fires on NaN distances; the fallback must be a cell
    // that exists in the codebook (not literal 0, which can be dead)
    val centroids = Seq(5 -> Array(0.0, 0.0), 9 -> Array(1.0, 1.0))
    val got = Seq((1L, Seq(Double.NaN, Double.NaN))).toDF("id", "v")
      .select(graft.similarity.Clustering.assignCell(col("v"), centroids).as("c"))
      .head.getInt(0)
    assert(got == 5, s"expected lowest live cell 5, got $got")
  }

  test("Bfs.hopDistance: exact hops on a chain, isolated seed kept, each node reached once") {
    // chain 1-2-3-4-5 (undirected), seeds {1, 99}; 99 is isolated
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val seeds = Seq(1L, 99L).toDF("node")
    val got = graft.ops.Bfs.hopDistance(edges, "a", "b", seeds, "node", maxHops = 3)
      .as[(Long, Int)].collect()
    assert(got.length == got.map(_._1).distinct.length,
      "anti-join prune must emit each node exactly once")
    assert(got.toMap == Map(1L -> 0, 99L -> 0, 2L -> 1, 3L -> 2, 4L -> 3),
      got.toMap.toString)
  }

  test("Bfs.hopDistance rejects depth beyond the lazy-plan regime") {
    val e = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      graft.ops.Bfs.hopDistance(e, "a", "b", Seq(1L).toDF("node"), "node", maxHops = 9)
    }
  }

  test("q159: edit-distance verify scores exactly the shingle candidates, DP-exact (sf0.001)") {
    // independent reference: the classic two-row unit-cost DP
    def lev(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1); cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q159_edit_distance_neardup")(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    val cands = graft.dedup.Dedup.blockedJaccardPairs(
        graft.tables.Tables.documents(spark, dir),
        id = "doc_id", text = "text", blockCols = Seq("lang", "source"),
        k = 3, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)).toSet == cands,
      "verify stage must score the candidate pairs, nothing more or less")
    val text = graft.tables.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    got.foreach { case (a, b, d) =>
      assert(d == lev(text(a), text(b)), s"pair ($a,$b): got $d")
    }
  }

  test("PQ codes: m cells per vector, every code references a live codebook entry") {
    val emb = fixtureEmb
    val cb = graft.similarity.Pq.fit(emb, "vec_id", "embedding",
      m = 8, sub = 8, k = 64)
    assert(cb.books.size == 8)
    val live = cb.books.map(_.map(_._1).toSet)
    val codes = emb.select(
        graft.similarity.Pq.encode(col("embedding"), cb).as("codes"))
      .as[Seq[Int]].collect()
    codes.foreach { cs =>
      assert(cs.size == 8)
      cs.zipWithIndex.foreach { case (c, s) =>
        assert(live(s).contains(c), s"code $c not live in subspace $s")
      }
    }
  }

  test("prefix-filtered similarity join == brute force over shingle sets (lossless)") {
    import spark.implicits._
    // seeded corpus with planted near-dups: doc 2i+1 is doc 2i with one
    // word changed, plus unrelated docs from a shared vocabulary
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 80).map(i => s"w$i")
    val docs = (0 until 30).flatMap { i =>
      val base = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
      val edit = base.updated(rnd.nextInt(base.size), "CHANGED" + i)
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, edit.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val got = graft.dedup.Dedup.prefixFilterPairs(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: every pair, shingle sets, exact integer gate
    def sh(s: String): Set[String] =
      s.split("\\s+").sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> sh(t) }.toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      i = (sets(a) & sets(b)).size.toLong
      na = sets(a).size.toLong; nb = sets(b).size.toLong
      if 13 * i >= 3 * (na + nb)
    } yield (a, b) -> (1000000L * i) / (na + nb - i)).toMap
    assert(want.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == want)
    // and the filter actually filters: candidate prefixes must be
    // narrower than the full sets (sanity that we're not degenerate)
    assert(got.size < docs.size * (docs.size - 1) / 2)
  }
}

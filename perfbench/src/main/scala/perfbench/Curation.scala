package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.Trigger

import graft.curation.CuratedIndexes
import graft.dedup.Dedup
import graft.similarity.Clustering
import graft.tables.Tables
import graft.text.{Bm25Index, TextAnalysis}

/** The persisted curation tier: `curation_ingest` (its write path, one
  * Structured Streaming micro-batch per op) and `rag_retrieval` (its read
  * path, one request per op), over the seven-index snapshot that
  * [[CuratedIndexes]] keeps under one manifest. */
object Curation {
  /** Index parameters as q304/q306 run them: 3-token shingles, Jaccard
    * 0.3, shingle df cap 20, no effective term df cap, 16 IVF cells with
    * centroids seeded from the whole embedding store, 4 of them probed. */
  val K = 3
  val Threshold = 0.3
  val MaxShingleDf = 20
  val MaxTermDf = 65536L
  val RowCap = 65536L
  val Cells = 16
  val NProbe = 4
  val TopK = 10
  /** Retained manifest versions: rag probes the oldest of three. */
  val IngestRetain = 2
  val RagRetain = 3

  val BatchSchema = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>, op STRING"
  val Roots: Seq[String] = Seq("si", "di", "t", "d", "g", "m", "a")

  /** The curated snapshot and what the benchmark knows about its corpus:
    * the kept ids after each committed manifest version, and every
    * ingest batch's verdicts with the kept set it was judged against. */
  final class Live(val root: File) {
    var idx: CuratedIndexes.Indexes = _
    var centroids: Seq[(Int, Array[Double])] = Nil
    val kept = mutable.Set.empty[Long]
    val embedded = mutable.Set.empty[Long]
    val keptAt = mutable.Map.empty[Long, Set[Long]]
    val docFiles = mutable.ArrayBuffer.empty[String]
    val verdicts = mutable.ArrayBuffer.empty[(Int, String, Set[Long], Array[(Long, String, Long)])]
    def dirs: Seq[String] = Roots.map(r => new File(root, r).getPath)
    def indexDirs(names: String*): Seq[File] =
      names.map(n => new File(root, n))
  }

  private def inputs(ctx: Ctx, name: String): String =
    new File(ctx.a.inputs, name).getPath

  def bootstrap(ctx: Ctx, root: File, retain: Int): Live = {
    val spark = ctx.spark
    val live = new Live(root)
    val base = spark.read.schema(BatchSchema).parquet(inputs(ctx, "base.parquet"))
    val vecs = base.where(col("embedding").isNotNull).select("doc_id", "embedding")
    live.centroids = Clustering.seedCentroids(
      Tables.embeddings(spark, ctx.a.fixture), "vec_id", "embedding", Cells)
    val d = live.dirs
    live.idx = ctx.tracer.span("curation.bootstrap", -1)(
      CuratedIndexes.bootstrap(spark, base.select("doc_id", "text"), K,
        MaxShingleDf, MaxTermDf, d(0), d(1), d(2), d(3), d(4), d(5), RowCap,
        retain, Some(CuratedIndexes.Ann(d(6), live.centroids)), Some(vecs)))
    base.select(col("doc_id"), col("embedding").isNotNull).collect().foreach { r =>
      live.kept += r.getLong(0)
      if (r.getBoolean(1)) live.embedded += r.getLong(0)
    }
    live.docFiles += inputs(ctx, "base.parquet")
    live.keptAt(live.idx.dedup.manifest.read().get.version) = live.kept.toSet
    live
  }

  private def ids(spark: SparkSession, s: Iterable[Long]): DataFrame = {
    import spark.implicits._
    s.toSeq.toDF("doc_id")
  }

  /** The committed corpus as (doc_id, text): kept docs of every file
    * ingested so far. */
  private def corpus(spark: SparkSession, live: Live, keep: Set[Long]): DataFrame =
    spark.read.schema(BatchSchema).parquet(live.docFiles.toSeq: _*)
      .select("doc_id", "text")
      .join(broadcast(ids(spark, keep)), Seq("doc_id"), "left_semi")

  /** Apply one batch through the curation API; returns the nanoTime at
    * which its manifest commit had landed. */
  def apply(ctx: Ctx, live: Live, df: DataFrame, seq: Long, kind: String,
            file: String, retractIds: Set[Long], opId: Int): Long = {
    val spark = ctx.spark
    val batch = df.select("doc_id", "text")
    val vecs = df.where(col("embedding").isNotNull).select("doc_id", "embedding")
    val commitNs = if (kind == "ingest") {
      val before = live.kept.toSet
      val v = ctx.tracer.span("curation.process_batch", opId)(
        CuratedIndexes.processBatch(spark, live.idx, batch, seq, K, Threshold,
          MaxShingleDf, MaxTermDf, Some(vecs)))
      val t = System.nanoTime()
      val vs = v.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      Bridge.unpersistLocalCheckpoint(v)
      live.kept ++= vs.collect { case (id, "kept", _) => id }
      df.select(col("doc_id"), col("embedding").isNotNull).collect().foreach { r =>
        if (r.getBoolean(1)) live.embedded += r.getLong(0)
      }
      live.docFiles += file
      live.verdicts += ((opId, file, before, vs))
      t
    } else {
      val remaining = live.kept.toSet -- retractIds
      ctx.tracer.span("curation.retract_batch", opId)(
        CuratedIndexes.retractBatch(spark, live.idx, batch, seq, K,
          MaxShingleDf, MaxTermDf, Some(corpus(spark, live, remaining)),
          Some(vecs)))
      val t = System.nanoTime()
      live.kept --= retractIds
      t
    }
    live.keptAt(live.idx.dedup.manifest.read().get.version) = live.kept.toSet
    commitNs
  }

  private def batchFile(ctx: Ctx, b: Int): String =
    inputs(ctx, f"batches/batch-$b%05d.parquet")

  /** Each batch's kind, the doc ids of each takedown, and the takedown
    * period. */
  private def batchPlan(ctx: Ctx): (IndexedSeq[String], Map[Int, Set[Long]], Int) = {
    val j = new ObjectMapper().readTree(new File(ctx.a.inputs, "batches.json"))
    val kinds = j.get("kinds").elements().asScala.map(_.asText).toIndexedSeq
    val rids = j.get("retract_ids").fields().asScala.map { e =>
      e.getKey.toInt -> e.getValue.elements().asScala.map(_.asLong).toSet
    }.toMap
    (kinds, rids, j.get("takedown_every").asInt)
  }

  /** Set-up shared by both workloads: `SetupReps` bootstraps, each into
    * fresh directories and a fresh session; the last one is kept. */
  private def setup(ctx: Ctx, retain: Int): (Live, Seq[Double]) = {
    var live: Live = null
    val reps = ctx.setupReps { r =>
      if (live != null) deleteTree(live.root)
      live = bootstrap(ctx, new File(ctx.a.out, s"idx-$r"), retain)
    }
    (live, reps)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---------------------------------------------------------------- ingest

  final case class Batch(bid: Long, kind: String, entryMs: Long, entryNs: Long,
                         endNs: Long, commitNs: Long, error: Option[String])

  /** Batch 0 is the stream's warm-up: it is applied and checked like the
    * others, but the stream start and first-trigger set-up it carries
    * count towards `setup_s`. The timed phase starts at the next trigger
    * and runs in whole rounds of `takedownEvery` batches, each holding one
    * takedown, so every run times the same mix of batch kinds; as in
    * [[Ctx.closedLoop]], the next round starts only if, at the pace of the
    * last, it would end less than half a round past the deadline. */
  def ingest(ctx: Ctx): Map[String, Any] = {
    val a = ctx.a
    val (kinds, retractIds, takedownEvery) = batchPlan(ctx)
    val (live, reps) = setup(ctx, IngestRetain)
    val spark = ctx.spark
    ctx.attachListeners()
    val progress = ctx.streams.getOrElse {
      val s = new StreamListener; spark.streams.addListener(s); s
    }
    val batches = mutable.ArrayBuffer.empty[Batch]
    @volatile var stopping = false
    @volatile var inFlight = false
    var timedStartNs = 0L
    var roundStartNs = 0L
    val handler = (df: DataFrame, bid: Long) => if (!stopping) {
      inFlight = true
      // the stream thread inherits the query's start call site; clear it so
      // each execution is labelled by the engine code that issued it
      spark.sparkContext.clearCallSite()
      val entryMs = System.currentTimeMillis()
      val entryNs = System.nanoTime()
      val id = bid.toInt
      val opId = if (bid == 0) -1 else id
      if (bid > 0) ctx.opStarted(id, entryMs)
      val kind = kinds(id)
      val (commitNs, err) =
        try {
          (ctx.tracer.span("op", opId)(apply(ctx, live, df, bid + 1, kind,
            batchFile(ctx, id), retractIds.getOrElse(id, Set.empty), opId)), None)
        } catch { case t: Throwable =>
          (System.nanoTime(), Some(s"${t.getClass.getSimpleName}: ${t.getMessage}"))
        }
      val endNs = System.nanoTime()
      batches.synchronized(batches += Batch(bid, kind, entryMs, entryNs, endNs,
        commitNs, err))
      if (bid == 0) {
        Census.resetHeapPeak()
        ctx.gcAtStart = Census.gcSeconds()
        timedStartNs = endNs
        roundStartNs = endNs
      } else {
        ctx.opEnded(id, System.currentTimeMillis())
        if (id % takedownEvery == 0) {
          val last = endNs - roundStartNs
          roundStartNs = endNs
          if (endNs - timedStartNs + last / 2 >= a.seconds * 1e9) stopping = true
        }
        if (id == kinds.size - 1) stopping = true
      }
      inFlight = false
    }
    val startNs = System.nanoTime()
    val query = spark.readStream.schema(BatchSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputs(ctx, "batches"))
      .writeStream
      .option("checkpointLocation", new File(a.out, "checkpoint").getPath)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(handler)
      .start()
    val guard = System.nanoTime() + 150L * 1000000000L
    while ((!stopping || inFlight) && query.isActive && System.nanoTime() < guard)
      Thread.sleep(5)
    val all = batches.synchronized(batches.toList)
    // the last counted batch's progress report follows its offset commit
    val lastBid = all.lastOption.map(_.bid).getOrElse(-1L)
    while (!progress.all.exists(_._1 == lastBid) && System.nanoTime() < guard)
      Thread.sleep(5)
    query.stop()
    query.exception.foreach(e => sys.error(s"stream failed: ${e.getMessage}"))
    val warm = all.headOption.filter(_.bid == 0)
      .getOrElse(sys.error("the warm-up batch did not run"))
    warm.error.foreach(e => sys.error(s"the warm-up batch failed: $e"))
    val warmS = (warm.endNs - startNs) / 1e9
    val counted = all.tail
    val triggerStart = progress.all.map { case (b, ts, _) =>
      b -> Instant.parse(ts).toEpochMilli
    }.toMap
    def endMs(b: Batch) = b.entryMs + (b.endNs - b.entryNs) / 1e6
    val timedStartMs = counted.headOption.flatMap(b => triggerStart.get(b.bid))
      .map(_.toDouble).getOrElse(endMs(warm))
    val wall = (counted.lastOption.map(endMs).getOrElse(timedStartMs) -
      timedStartMs) / 1e3
    counted.foreach { b =>
      val pre = triggerStart.get(b.bid).map(s => (b.entryMs - s) / 1e3).getOrElse(0.0)
      ctx.ops.synchronized(ctx.ops += Harness.Op(b.bid.toInt, s"batch-${b.bid}",
        b.kind, b.entryMs, endMs(b).toLong,
        pre + (b.commitNs - b.entryNs) / 1e9, b.error.isEmpty, b.error))
    }
    val indexRoots = live.indexDirs(Roots: _*)
    val census = ctx.endCensus(ctx.tempDirs ++ indexRoots)

    // ---- correctness, outside the timed interval
    val checkT0 = System.nanoTime()
    val notes = mutable.ArrayBuffer.empty[String]
    if (a.plant) plantVerdict(live)
    val badOps = verdictCheck(ctx, live, notes) ++ invariantCheck(ctx, live, notes)
      .map(_ => -1)
    val failedIds =
      if (badOps.contains(-1)) counted.map(_.bid.toInt).toSet
      else badOps.toSet
    ctx.ops.synchronized {
      ctx.ops.indices.foreach { i =>
        val o = ctx.ops(i)
        if (failedIds(o.id) && o.ok)
          ctx.ops(i) = o.copy(ok = false, error = Some("result check failed"))
      }
    }
    Map("setup_reps_s" -> reps, "setup_extra_s" -> warmS,
      "timed_wall_s" -> wall, "check_notes" -> notes.toList,
      "check_s" -> (System.nanoTime() - checkT0) / 1e9,
      "space_amp" -> spaceAmp(spark, live),
      "index_census" -> censusOf(live),
      "batch_files" -> counted.map(b => batchFile(ctx, b.bid.toInt))
    ) ++ census
  }

  private def plantVerdict(live: Live): Unit =
    live.verdicts.headOption.foreach { case (op, f, before, vs) =>
      val wrong = vs.map { case (id, s, r) =>
        (id, if (s == "kept") "dup_in_drop" else "kept", r)
      }
      live.verdicts(0) = (op, f, before, wrong)
    }

  /** Each ingest batch's verdicts must equal [[Dedup.incrementalDedup]]
    * recomputed against the corpus the batch was judged against. Returns
    * the ids of the ops that disagree. */
  private def verdictCheck(ctx: Ctx, live: Live,
                           notes: mutable.ArrayBuffer[String]): Seq[Int] = {
    val spark = ctx.spark
    live.verdicts.toSeq.flatMap { case (op, file, before, got) =>
      val files = live.docFiles.takeWhile(_ != file)
      val keep = spark.read.schema(BatchSchema).parquet(files.toSeq: _*)
        .select("doc_id", "text")
        .join(broadcast(ids(spark, before)), Seq("doc_id"), "left_semi")
      val batch = spark.read.schema(BatchSchema).parquet(file).select("doc_id", "text")
      val want = Dedup.incrementalDedup(keep, batch, "doc_id", "text", K,
        Threshold, MaxShingleDf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      if (want == got.toSet) None
      else {
        notes += s"batch $op: verdicts differ from the recompute on " +
          s"${(want -- got.toSet).size} docs"
        Some(op)
      }
    }
  }

  /** kept ⟺ BM25-searchable, and kept ∧ embedded ⟺ ANN-retrievable, on
    * the final committed snapshot. Returns one entry per violation. */
  private def invariantCheck(ctx: Ctx, live: Live,
                             notes: mutable.ArrayBuffer[String]): Seq[String] = {
    val spark = ctx.spark
    val snap = live.idx.dedup.manifest.read().get
    val searchable = live.idx.bm25.doc.allRows(snap.buckets(live.idx.bm25.docName))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val retrievable = CuratedIndexes.readAnn(spark, live.idx).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val kept = live.kept.toSet
    val bad = Seq(
      Option.when(searchable != kept)(
        s"kept vs searchable differ on ${((searchable -- kept) ++ (kept -- searchable)).size} docs"),
      Option.when(retrievable != (kept & live.embedded))(
        s"kept∧embedded vs retrievable differ on " +
          s"${((retrievable -- kept) ++ ((kept & live.embedded) -- retrievable)).size} docs")
    ).flatten
    notes ++= bad
    bad
  }

  /** Committed bytes of all seven indexes (retained versions included)
    * over the text and vector bytes ingested into them. */
  private def spaceAmp(spark: SparkSession, live: Live): Double = {
    val committed = live.indexDirs(Roots: _*).map(Census.dir).map(_._2).sum
    val ingested = spark.read.schema(BatchSchema).parquet(live.docFiles.toSeq: _*)
      .agg(sum(length(col("text"))),
        sum(when(col("embedding").isNotNull, size(col("embedding")) * 4)
          .otherwise(0)))
      .head()
    committed.toDouble / (ingested.getLong(0) + ingested.getLong(1))
  }

  /** Files and bytes per layer's index directories. */
  private def censusOf(live: Live): Map[String, Any] = {
    def c(names: String*) = {
      val (f, b) = live.indexDirs(names: _*).map(Census.dir)
        .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
      Map("files" -> f, "mb" -> b / 1e6)
    }
    Map("dedup" -> c("si", "di", "m"), "text" -> c("t", "d", "g"),
      "similarity" -> c("a"))
  }

  // ------------------------------------------------------------- retrieval

  sealed trait Req { def kind: String }
  final case class Bm25Req(qs: Seq[(Long, Seq[String])]) extends Req { val kind = "bm25" }
  final case class AnnReq(qs: Seq[(Long, Array[Float])]) extends Req { val kind = "ann" }
  final case class OldReq(docIds: Seq[Long]) extends Req { val kind = "old_version" }

  private def requests(ctx: Ctx): IndexedSeq[Req] = {
    val root = new ObjectMapper().readTree(new File(ctx.a.inputs, "requests.json"))
    def longs(n: JsonNode) = n.elements().asScala.map(_.asLong).toSeq
    root.elements().asScala.map { r =>
      def qs = r.get("queries").elements().asScala.toSeq
      r.get("kind").asText match {
        case "bm25" => Bm25Req(qs.map(q => q.get("query_id").asLong ->
          q.get("terms").elements().asScala.map(_.asText).toSeq))
        case "ann" => AnnReq(qs.map(q => q.get("query_id").asLong ->
          q.get("vector").elements().asScala.map(_.floatValue).toArray))
        case "old_version" => OldReq(longs(r.get("doc_ids")))
      }
    }.toIndexedSeq
  }

  /** Answer one request; rows are (query_id, rank, doc_id, score). */
  def serve(ctx: Ctx, live: Live, req: Req, oldVersion: Long, id: Int)
      : Seq[(Long, Int, Long, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    req match {
      case Bm25Req(qs) => ctx.tracer.span("text.query", id) {
        val q = qs.flatMap { case (qid, ts) => ts.map(qid -> _) }
          .toDF("query_id", "term")
        val out = Bm25Index.queryTable(spark, live.idx.bm25, q, TopK)
        val rows = out.collect().map(r =>
          (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3))).toSeq
        Bridge.unpersistLocalCheckpoint(out)
        rows
      }
      case AnnReq(qs) => ctx.tracer.span("similarity.probe", id) {
        val q = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("doc_id", "embedding")
        CuratedIndexes.probeAnn(spark, live.idx, q, NProbe, TopK).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      }
      case OldReq(docIds) =>
        val snap = ctx.tracer.span("dedup.manifest_read", id)(
          live.idx.dedup.manifest.read(oldVersion).getOrElse(
            sys.error(s"manifest version $oldVersion is no longer retained")))
        ctx.tracer.span("dedup.probe", id) {
          val keys = docIds.toDF("doc_id")
          live.idx.dedup.doc.probe(keys, snap.buckets(live.idx.dedup.docName))
            .join(keys, Seq("doc_id"), "left_semi").select("doc_id").distinct()
            .collect().map(r => (0L, 0, r.getLong(0), 0.0)).toSeq.sortBy(_._3)
        }
    }
  }

  def retrieval(ctx: Ctx): Map[String, Any] = {
    val a = ctx.a
    val (kinds, retractIds, _) = batchPlan(ctx)
    val reqs = requests(ctx)
    val (live, reps) = setup(ctx, RagRetain)
    // the index history and the warm-up requests run once, after the
    // repeated bootstraps
    val t0 = System.nanoTime()
    kinds.indices.foreach { b =>
      val f = batchFile(ctx, b)
      apply(ctx, live, ctx.spark.read.schema(BatchSchema).parquet(f), b + 1L,
        kinds(b), f, retractIds.getOrElse(b, Set.empty), -1)
    }
    val oldVersion = live.idx.dedup.manifest.retained().map(_.version).min
    Seq("bm25", "ann", "old_version").foreach { k =>
      serve(ctx, live, reqs.find(_.kind == k).get, oldVersion, -1)
    }
    val historyS = (System.nanoTime() - t0) / 1e9
    ctx.attachListeners()
    val results = mutable.Map.empty[Int, Seq[(Long, Int, Long, Double)]]
    val wall = ctx.closedLoop { i =>
      val r = i % reqs.size
      ctx.op(i, s"req-$r", reqs(r).kind) {
        results(i) = serve(ctx, live, reqs(r), oldVersion, i)
      }
    }
    val census = ctx.endCensus(ctx.tempDirs ++ live.indexDirs(Roots: _*))

    // ---- correctness, outside the timed interval
    if (a.plant) results.keys.minOption.foreach { i =>
      results(i) = results(i).map(t => t.copy(_3 = t._3 + 1))
    }
    val ok = ctx.ops.filter(_.ok).map(o => o.id -> reqs(o.id % reqs.size)).toMap
    val vecs = memberVectors(ctx, live)
    val want = expected(ctx, live, ok, oldVersion, vecs)
    val (recall, nRecall) = recallAt10(vecs, ok, results)
    val wrong = ok.keys.filter(i => !same(results(i), want(i))).toSet
    ctx.ops.indices.foreach { j =>
      val o = ctx.ops(j)
      if (wrong(o.id))
        ctx.ops(j) = o.copy(ok = false, error = Some("result check failed"))
    }
    Map("setup_reps_s" -> reps, "setup_extra_s" -> historyS,
      "timed_wall_s" -> wall, "recall_at_10" -> recall, "recall_queries" -> nRecall,
      "space_amp" -> spaceAmp(ctx.spark, live),
      "index_census" -> censusOf(live),
      "result_rows" -> ok.keys.toSeq.map(i => i -> results(i).size).toMap
        .map { case (k, v) => k.toString -> v },
      "check_notes" -> wrong.toSeq.sorted.take(5).map(i =>
        s"request op $i (${reqs(i % reqs.size).kind}) differs from the recompute")
    ) ++ census
  }

  private def same(got: Seq[(Long, Int, Long, Double)],
                   want: Seq[(Long, Int, Long, Double)]): Boolean =
    got.size == want.size && got.sorted.zip(want.sorted).forall {
      case (g, w) => g._1 == w._1 && g._2 == w._2 && g._3 == w._3 &&
        math.abs(g._4 - w._4) <= 1e-9 * math.max(1.0, math.abs(w._4))
    }

  /** One-shot recomputes over the committed corpus for every request that
    * ran: BM25 scored from the raw texts, exact IVF probes from the raw
    * vectors, keep-set membership from the kept ids at the old version. */
  private def expected(ctx: Ctx, live: Live, ran: Map[Int, Req], oldVersion: Long,
                       vecs: Seq[(Long, Array[Double])])
      : Map[Int, Seq[(Long, Int, Long, Double)]] = {
    val bm25 = bm25Expected(ctx, live, ran.collect { case (i, r: Bm25Req) => i -> r })
    val old = live.keptAt(oldVersion)
    ran.map {
      case (i, _: Bm25Req) => i -> bm25.getOrElse(i, Nil)
      case (i, AnnReq(qs)) => i -> qs.flatMap { case (qid, q) =>
        ivfTopK(live.centroids, vecs, q.map(_.toDouble)).zipWithIndex.map {
          case ((id, d), r) => (qid, r + 1, id, d)
        }
      }
      case (i, OldReq(docIds)) => i -> docIds.distinct.filter(old).sorted
        .map(id => (0L, 0, id, 0.0))
    }
  }

  /** BM25 over the committed corpus from first principles: whitespace
    * tokens, terms whose df exceeds the cap dropped, rational idf, term
    * contributions summed in term order (the engine's float contract). */
  private def bm25Expected(ctx: Ctx, live: Live, ran: Map[Int, Bm25Req])
      : Map[Int, Seq[(Long, Int, Long, Double)]] = {
    if (ran.isEmpty) return Map.empty
    val spark = ctx.spark
    import spark.implicits._
    val toks = corpus(spark, live, live.kept.toSet)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .cache()
    val stats = toks.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val dfs = toks.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxTermDf)
    val q = ran.toSeq.flatMap { case (i, Bm25Req(qs)) =>
      qs.flatMap { case (qid, ts) => ts.map(t => (i, qid, t)) }
    }.toDF("op", "query_id", "term").distinct()
    val k1 = graft.text.Retrieval.K1
    val b = graft.text.Retrieval.B
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val num = col("tf").cast("double") * lit(k1 + 1)
    val den = col("tf").cast("double") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("op", "query_id")
      .orderBy(desc("score"), col("doc_id").asc)
    val rows = toks.join(dfs, Seq("term")).crossJoin(stats)
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .withColumn("contrib", when(col("tf") > 0, idf * (num / den)).otherwise(lit(0.0)))
      .join(q, Seq("term"))
      .groupBy("op", "query_id", "doc_id")
      .agg(array_sort(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .withColumn("score", aggregate(col("cs"), lit(0.0),
        (acc, x) => acc + x.getField("contrib")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select("op", "query_id", "rank", "doc_id", "score")
      .collect()
    toks.unpersist()
    rows.toSeq.groupBy(_.getInt(0)).map { case (i, rs) =>
      i -> rs.map((r: Row) => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    }
  }

  /** (doc_id, vector) of every kept and embedded doc. */
  private def memberVectors(ctx: Ctx, live: Live): Seq[(Long, Array[Double])] = {
    val want = live.kept.toSet & live.embedded.toSet
    ctx.spark.read.schema(BatchSchema).parquet(live.docFiles.toSeq: _*)
      .where(col("embedding").isNotNull).select("doc_id", "embedding")
      .collect().toSeq
      .collect { case r if want(r.getLong(0)) =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
      }
      .distinctBy(_._1)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest cell by ‖c‖² − 2·v·c, ties to the lower cell id. */
  private def nearest(cs: Seq[(Int, Array[Double])], v: Array[Double], n: Int): Seq[Int] =
    cs.map { case (c, ctr) => (ctr.map(x => x * x).sum - dot(v, ctr) * 2, c) }
      .sorted.take(n).map(_._2)

  /** Exact top-k by L2 among the members of the query's nProbe cells. */
  private def ivfTopK(cs: Seq[(Int, Array[Double])], members: Seq[(Long, Array[Double])],
                      q: Array[Double]): Seq[(Long, Double)] = {
    val probed = nearest(cs, q, NProbe).toSet
    members.filter { case (_, v) => probed(nearest(cs, v, 1).head) }
      .map { case (id, v) => (l2(q, v), id) }.sorted.take(TopK)
      .map { case (d, id) => (id, d) }
  }

  /** Mean overlap of each ANN top-10 with the brute-force exact L2
    * top-10 over every kept, embedded doc. */
  private def recallAt10(members: Seq[(Long, Array[Double])], ran: Map[Int, Req],
                         results: mutable.Map[Int, Seq[(Long, Int, Long, Double)]])
      : (Double, Int) = {
    val anns = ran.collect { case (i, r: AnnReq) => i -> r }
    if (anns.isEmpty) return (0.0, 0)
    val recalls = anns.toSeq.flatMap { case (i, AnnReq(qs)) =>
      val got = results(i).groupBy(_._1)
      qs.map { case (qid, q) =>
        val qd = q.map(_.toDouble)
        val exact = members.map { case (id, v) => (l2(qd, v), id) }
          .sorted.take(TopK).map(_._2).toSet
        got.getOrElse(qid, Nil).map(_._3).count(exact).toDouble / TopK
      }
    }
    (recalls.sum / recalls.size, recalls.size)
  }
}

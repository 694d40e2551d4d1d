package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.dedup.IndexedDedup

/** SCALING experiment for RETRACTION-HEAVY CHURN (VERDICT r13 #7): the
  * r13 rows retract ~10% of the corpus ONCE; the production worry is a
  * long-running pipeline alternating merge and takedown batches —
  * does generation turnover + gc hold per-batch IO at a steady state,
  * or does each cycle leave the index a little worse (directory
  * accretion, bucket growth, tombstone drag)? Usage:
  *
  *   runMain graft.tools.ChurnBench <sfDir> <cycles> [outJson]
  *
  * Bootstraps the dedup index from the fixture corpus once, then runs
  * `cycles` MERGE → RETRACT cycles: cycle i merges a reversed-text
  * copy of the doc_id % 10 sample under fresh ids (kept — reversal
  * makes the shingle sets disjoint from the originals, the q301
  * fixture's discipline), and the paired takedown retracts exactly
  * those ids, returning the keep-set to the bootstrap corpus. Each
  * cycle is therefore IDENTICAL WORK on identical state — any upward
  * per-cycle trend is protocol debt (stale generations surviving gc,
  * manifest growth, bucket fan-out creep), which is precisely what the
  * measurement pins. Retraction runs the one-way cap policy
  * (`retained = None`): the tombstone re-audit leg is q301's measured
  * row; this bench isolates the index-turnover path. Per cycle the
  * bucket-directory census of both index roots is recorded — steady
  * state means the LAST cycle's count equals the first's. Prints one
  * JSON line with per-cycle seconds and directory counts. */
object ChurnBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cycles = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSpark.session(cpus)
    val docs = graft.tables.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val sample = docs.where(col("doc_id") % 10 === 0)
    val rev = concat_ws(" ", reverse(split(trim(col("text")), "\\s+")))
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val t0 = System.nanoTime()
    val idx = IndexedDedup.bootstrap(spark, docs, k = 3, maxShingleDf = 20,
      tmp("graft_churn_si_"), tmp("graft_churn_di_"),
      tmp("graft_churn_mf_"), rowCap = 65536L)
    val bootSec = (System.nanoTime() - t0) / 1e9
    def dirCount(root: String): Int =
      new java.io.File(root).listFiles.count(_.getName.startsWith("__lb="))
    val rows = (1 to cycles).map { i =>
      // churn ids live above any fixture id (ScaleUp offsets copies by
      // 1e7 — a 1e7-based churn offset would collide with real docs)
      val batch = sample.select(
        (col("doc_id") + 1000000000L + i * 10000000L).as("doc_id"),
        rev.as("text"))
      val m0 = System.nanoTime()
      val v = IndexedDedup.processBatch(spark, idx, batch,
        batchSeq = 2L * i - 1, k = 3, threshold = 0.3, maxShingleDf = 20)
      val nKept = v.where(col("status") === "kept").count()
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(v)
      val mergeSec = (System.nanoTime() - m0) / 1e9
      val r0 = System.nanoTime()
      IndexedDedup.retractBatch(spark, idx, batch, batchSeq = 2L * i,
        k = 3, maxShingleDf = 20, retained = None)
      val retractSec = (System.nanoTime() - r0) / 1e9
      val snap = idx.manifest.read().get
      val nDocs = idx.doc.allRows(snap.buckets(idx.docName)).count()
      (i, mergeSec, retractSec, nKept, nDocs,
        dirCount(idx.shingle.root), dirCount(idx.doc.root))
    }
    val cyc = rows.map { case (i, m, r, k, d, bs, bd) =>
      s"""{"cycle":$i,"merge_sec":$m,"retract_sec":$r,""" +
        s""""n_kept":$k,"n_index_docs":$d,""" +
        s""""shingle_dirs":$bs,"doc_dirs":$bd}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"index_churn","dir":"$dir","cycles":$cycles,""" +
      s""""bootstrap_sec":$bootSec,"per_cycle":$cyc}""")
    spark.stop()
  }
}

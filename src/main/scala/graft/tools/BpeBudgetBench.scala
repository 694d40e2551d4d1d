package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.queries.EngineQueries

/** SCALING experiment for q294 (VERDICT r12 #7): time the BPE ENCODE
  * fold with the merge budget PINNED — the production shape, where the
  * rule table is a fixed budget (32k in real tokenizers) independent of
  * corpus size — instead of the saturation-bounded table the ×1/×10
  * fixture inflates. Usage:
  *
  *   runMain graft.tools.BpeBudgetBench <sfDir> <budget> [reps]
  *
  * Trains q286's rule table on the fixture, truncates it to the first
  * `budget` merges (merge_seq order — exactly the prefix a budget-
  * stopped trainer would have emitted), and times ONLY the encode fold
  * over the fixture's distinct-word vocabulary (median of reps after
  * one warmup, noop sink). Prints one JSON line with the vocabulary
  * size and the per-word cost, so the ×1 vs ×10 comparison can show
  * the per-word encode cost FLAT under a pinned budget — the "linear
  * in vocab" claim of SCALING.md's q294 diagnosis, measured. */
object BpeBudgetBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val budget = args(1).toInt
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSpark.session(cpus)
    val allRules = EngineQueries.bpeProductionRules(spark, dir)
      .sortBy(_._1).map(m => (m._5, m._6))
    val rules = allRules.take(budget)
    val words = graft.tables.Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true) // vocab materialized: time the ENCODE only
    val vocab = words.count()
    def encodeOnce(): Double = {
      val t0 = System.nanoTime()
      var seg = words.withColumn("syms", split(col("w"), ""))
      rules.foreach { case (l, r) =>
        seg = seg.withColumn("syms", expr(EngineQueries.bpeMergeExpr(l, r)))
      }
      seg.select(col("w"), size(col("syms")).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    encodeOnce() // warmup
    val med = (1 to reps).map(_ => encodeOnce()).sorted.apply(reps / 2)
    println(s"""{"dir":"$dir","budget":$budget,""" +
      s""""rules_available":${allRules.size},"rules_applied":${rules.size},""" +
      s""""vocab":$vocab,"encode_sec":$med,""" +
      s""""us_per_word":${med * 1e6 / vocab}}""")
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(words)
    spark.stop()
  }
}

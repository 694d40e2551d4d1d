package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSpark

/** Deterministic N× blow-up of a testdata SF directory — the
  * scaling-curve fixture generator (a BUILD STEP: writes to a caller-
  * chosen scratch dir, never committed data). Weak-scaling semantics:
  * the output is `factor` disjoint key-remapped copies of the source,
  * so per-unit structure (dup-cluster sizes, graph degree profiles,
  * join fan-outs) is preserved EXACTLY while total volume grows
  * `factor`× — time measured against this fixture isolates the
  * engine's scaling behavior from data-distribution drift.
  *
  * Copy k's remapping, per table:
  *   - documents: doc_id + k·10⁷ (clears the +1M..+4M synthetic-dup id
  *     ranges q87/q111 inject, and preserves doc_id mod 10/15/30 so
  *     injection rates stay identical per copy); `text` passed through
  *     a per-copy CAESAR ROTATION of the letter alphabet (a bijection
  *     on tokens: within-copy shingle-set similarity is preserved
  *     verbatim, while cross-copy token sets are disjoint for any
  *     letter-bearing token — copies do NOT become near-dup clusters
  *     of each other, which a naive text-identical self-union would,
  *     quadratically densifying the pair graph for reasons that are a
  *     DATA artifact, not engine scaling). n_chars is unchanged
  *     (rotation is length-preserving).
  *   - events: event_id + k·10⁹; user_id + k·(maxU+1) — keeps the
  *     user domain CONTIGUOUS 0..factor·(maxU+1)−1, the q233 SCC
  *     graph-builder's fixture contract; ts/event_type/value/props
  *     unchanged.
  *   - orders/lineitem (+customer/supplier/part for FK closure):
  *     o_orderkey/l_orderkey + k·10⁸ (same offset both sides keeps
  *     the order join intact per copy), cust/supp/part keys + k·10⁷.
  *   - embeddings: vec_id + k·10⁷, vector/label unchanged.
  *   - region/nation: copied verbatim (dimension constants).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Caesar-rotate letters by `k` positions (identity at k ≡ 0). */
  private def rotText(c: org.apache.spark.sql.Column, k: Int):
      org.apache.spark.sql.Column = {
    val s = ((k % 26) + 26) % 26
    if (s == 0) c
    else translate(c, Lower + Upper,
      Lower.drop(s) + Lower.take(s) + Upper.drop(s) + Upper.take(s))
  }

  private def copies(factor: Int)(one: Int => DataFrame): DataFrame =
    (0 until factor).map(one).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSpark.session(cpus)
    run(spark, srcDir, outDir, factor)
    println(s"""{"scaleup":"done","src":"$srcDir","out":"$outDir","factor":$factor}""")
    spark.stop()
  }

  /** The blow-up itself, session-supplied (spec-testable — `main` owns
    * the session lifecycle, this does not). */
  def run(spark: SparkSession, srcDir: String, outDir: String,
          factor: Int): Unit = {
    require(factor >= 1 && factor <= 100, s"factor in [1,100], got $factor")
    import graft.tables.Tables

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // dimension constants: verbatim
    write(Tables.region(spark, srcDir), "region", 1)
    write(Tables.nation(spark, srcDir), "nation", 1)

    val docs = Tables.documents(spark, srcDir)
    write(copies(factor) { k =>
      docs.select((col("doc_id") + k * 10000000L).as("doc_id"),
        rotText(col("text"), k).as("text"), col("lang"), col("source"),
        col("n_chars"))
    }, "documents", factor.min(8))

    val ev = Tables.events(spark, srcDir)
    val maxU = ev.agg(max("user_id")).head().getLong(0)
    write(copies(factor) { k =>
      // ts as UNANNOTATED µs int64: [[Tables.events]]' TimestampType
      // column would round-trip through parquet INT96 (Spark's default
      // outputTimestampType), which the raw LongType reader rejects
      // ([FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH] — hit by
      // every events-reading query on the r10 fixture); a plain bigint
      // takes the reader's documented magnitude-CASE fallback.
      ev.select((col("event_id") + k * 1000000000L).as("event_id"),
        unix_micros(col("ts")).as("ts"),
        (col("user_id") + k * (maxU + 1)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events", factor.min(8))

    val ord = Tables.orders(spark, srcDir)
    write(copies(factor) { k =>
      ord.select((col("o_orderkey") + k * 100000000L).as("o_orderkey"),
        (col("o_custkey") + k * 10000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders", factor.min(8))

    val li = Tables.lineitem(spark, srcDir)
    write(copies(factor) { k =>
      li.select((col("l_orderkey") + k * 100000000L).as("l_orderkey"),
        (col("l_partkey") + k * 10000000L).as("l_partkey"),
        (col("l_suppkey") + k * 10000000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem", factor.min(16))

    val cust = Tables.customer(spark, srcDir)
    write(copies(factor) { k =>
      cust.select((col("c_custkey") + k * 10000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }, "customer", factor.min(4))

    val supp = Tables.supplier(spark, srcDir)
    write(copies(factor) { k =>
      supp.select((col("s_suppkey") + k * 10000000L).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }, "supplier", 1)

    val part = Tables.part(spark, srcDir)
    write(copies(factor) { k =>
      part.select((col("p_partkey") + k * 10000000L).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, "part", factor.min(4))

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    write(copies(factor) { k =>
      emb.select((col("vec_id") + k * 10000000L).as("vec_id"),
        col("embedding"), col("label"))
    }, "embeddings", factor.min(4))
  }
}

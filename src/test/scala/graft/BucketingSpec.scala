package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bucketing
import graft.tables.Tables

/** Bucketed co-located join: the plan must carry NO Exchange — bucketing
  * pre-materializes the shuffle at write time (SURVEY.md "Optimize for
  * scale"). Results must equal the plain join. */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("same-bucket-count join plans zero exchanges and matches the plain join") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_").toString
    val li = Tables.lineitem(spark, dir).select("l_suppkey", "l_quantity")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val bli = Bucketing.writeBucketed(li, "bkt_li", "l_suppkey", 4, s"$tmp/li")
    val bsup = Bucketing.writeBucketed(sup, "bkt_sup", "s_suppkey", 4, s"$tmp/sup")
    try SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // plan-audit the bare join: bucketing must satisfy the join's
      // distribution requirement with NO Exchange on either side (a
      // downstream re-agg on another key still shuffles, correctly)
      val joined = bli.join(bsup, col("l_suppkey") === col("s_suppkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange"),
        "bucketed join still shuffles:\n" + plan.take(3000))
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      val got = joined.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
        .orderBy("s_nationkey").collect()
      val want = li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
        .orderBy("s_nationkey").collect()
      assert(got.sameElements(want))
    } finally Bucketing.drop(spark, "bkt_li", "bkt_sup")
  }

  test("downstream aggregation on the bucket key also skips its exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt2_").toString
    val li = Tables.lineitem(spark, dir).select("l_suppkey", "l_quantity")
    val bli = Bucketing.writeBucketed(li, "bkt_li_agg", "l_suppkey", 4, s"$tmp/li")
    try {
      val agg = bli.groupBy("l_suppkey").agg(sum("l_quantity").as("q"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange"),
        "aggregation on the bucket key shuffled anyway:\n" + plan.take(3000))
    } finally Bucketing.drop(spark, "bkt_li_agg")
  }
}

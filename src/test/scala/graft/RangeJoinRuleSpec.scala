package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** BinnedRangeJoinRule: a natural `p BETWEEN lo AND hi` inner join must
  * be rewritten to the binned equi-join (no nested loop), with results
  * identical to the un-rewritten join — including negative coordinates,
  * where integral division truncates toward zero (monotone, so coverage
  * still holds). */
class RangeJoinRuleSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    s
  }

  private def pts = spark.range(-500, 500).select(col("id").as("p"))
  private def ivs = spark.range(-60, 60).select(
    (col("id") * 17).as("lo"), (col("id") * 17 + 40).as("hi"),
    col("id").as("iv_id"))

  test("pure range join is rewritten to a binned equi-join (no nested loop)") {
    val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    val rows = joined.collect()
    val plan = joined.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "rule did not rewrite the range join:\n" + plan.take(3000))
    assert(plan.contains("__bin"), plan.take(3000))

    // ground truth with the rule disabled (the quadratic plan)
    SparkTestSession.withConf(
        graft.plans.BinnedRangeJoinRule.EnabledKey -> "false") {
      val want = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      val wplan = want.queryExecution.executedPlan.toString()
      assert(wplan.contains("BroadcastNestedLoopJoin"),
        "control join should be the nested loop:\n" + wplan.take(2000))
      assert(rows.map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("join with an equi conjunct is left alone (range stays a residual)") {
    val l = spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("p"))
    val r = spark.range(0, 100).select(col("id").as("k2"),
      (col("id") * 2).as("lo"), (col("id") * 2 + 50).as("hi"))
    val j = l.join(r, col("k") === col("k2") &&
      col("p") >= col("lo") && col("p") <= col("hi"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString()
    assert(!plan.contains("__bin"), "equi range join must not be rewritten:\n" +
      plan.take(2000))
  }

  test("malformed binWidth disables the rewrite, never fails other queries") {
    val key = graft.plans.BinnedRangeJoinRule.WidthKey
    SparkTestSession.withConf(key -> "not-a-number") {
      // the resident rule must not throw while optimizing ANY query
      assert(spark.range(0, 10).count() == 10)
      // the range join still runs — unrewritten (falls back to Spark's plan)
      val j = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      val withRule = j.count()
      val plan = j.queryExecution.executedPlan.toString()
      assert(!plan.contains("__bin"), "rewrite should be disabled:\n" + plan.take(2000))
      spark.conf.set(key, "1000")
      assert(withRule == j.count(), "semantics must not depend on the conf")
    }
  }

  test("BETWEEN through SQL takes the same rewrite") {
    pts.createOrReplaceTempView("rr_pts")
    ivs.createOrReplaceTempView("rr_ivs")
    val j = spark.sql(
      "SELECT p, iv_id FROM rr_pts JOIN rr_ivs ON p BETWEEN lo AND hi")
    val n = j.count()
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("__bin"), plan.take(3000))
    assert(n > 0)
  }
}

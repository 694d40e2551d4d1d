package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    // plans are size-estimate-sensitive (a join that auto-broadcasts at
    // sf0.01 plans sort-merge at sf0.1) — capture at the SF under study
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (q <- args.toSeq match { case Seq() => Seq("q02_pricing_summary", "q03_top_revenue_orders", "q06_forecast_revenue"); case s => s }) {
      println(s"========== $q")
      println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

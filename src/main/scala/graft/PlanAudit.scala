package graft

/** Plan auditor: prints formatted plans for representative queries and
  * greps for the properties that matter at scale — filter pushdown,
  * column pruning, broadcast joins, whole-stage codegen spans. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SessionTuning.session("graft-plan-audit", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_pricing_summary", "q02_filter_pushdown", "q03_top_revenue",
      "q04_region_revenue", "q09_topk", "q31_ann_brute")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

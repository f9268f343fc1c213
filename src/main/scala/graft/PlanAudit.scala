package graft

/** Plan auditor: prints formatted plans for representative queries and
  * greps for the properties that matter at scale — filter pushdown,
  * column pruning, broadcast joins, whole-stage codegen spans. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val selected = SparkEntry.select(
      if (args.nonEmpty) args.toSeq else Seq("q01", "q02", "q03", "q04", "q09", "q31"))
    val spark = SessionTuning.session("graft-plan-audit", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val results = selected.map { q =>
      println(s"\n===================== ${q.name} =====================")
      RegistryRunner.run(spark, sfDir, q.name, q.run, df =>
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
    RegistryRunner.exitIfFailed(results)
  }
}

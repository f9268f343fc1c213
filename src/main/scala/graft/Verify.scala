package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. A query that throws
  * writes no output; the rest and oracle_sql.json are still written,
  * then the process exits 1 naming it. */
object Verify {
  /** `oracle_sql.json`: one JSON object, query name → oracle SQL. */
  private[graft] def oracleJson(oracleSql: Map[String, String]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(oracleSql.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })))

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query filter]
    // The driver calls with two args; the filter is for local iteration.
    val Array(sfDir, outDir) = args.take(2)
    val selected = SparkEntry.select(args.drop(2).headOption.toSeq.flatMap(_.split(',')))
    val spark = SessionTuning.session("graft-verify",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    new java.io.File(outDir).mkdirs()
    val results = selected.map(q => RegistryRunner.run(spark, sfDir, q.name, q.run,
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
    RegistryRunner.exitIfFailed(results)
  }
}

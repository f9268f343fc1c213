package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query filter]
    // The driver calls with two args; the filter is for local iteration.
    // Matches the full name or the qNNN id exactly ("q11" selects
    // q11_distinct_agg, never q110_*).
    val Array(sfDir, outDir) = args.take(2)
    val filter = args.drop(2).headOption.map(_.split(',').map(_.trim).toSet)
    val spark = SessionTuning.session("graft-verify",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        filter.forall(f => f.contains(name) || f.contains(name.takeWhile(_ != '_'))) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // no cache outlives its query (some queries persist and never
      // unpersist; their blocks would pile up across the whole run)
      SessionTuning.releaseCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

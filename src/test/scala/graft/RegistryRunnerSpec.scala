package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.jackson.JsonMethods

/** The pieces every registry entry point shares: query selection, the
  * per-query run with its failure rule, and Verify's oracle rendering. */
class RegistryRunnerSpec extends SparkSpecBase {

  private def names(ids: String*): Seq[String] = SparkEntry.select(ids).map(_.name)

  test("select: exact qNN ids and full names, registry order, loud on unknown ids") {
    assert(names("q11") == Seq("q11_distinct_agg"))
    assert(names("q37") == Seq("q37_ann_ivf"))
    assert(names("q37b") == Seq("q37b_ann_ivf_kmeans"))
    assert(names("q03_top_revenue", " q01 ") == Seq("q01_pricing_summary", "q03_top_revenue"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("q01", "q999_typo")))
    assert(e.getMessage.contains("q999_typo") && !e.getMessage.contains("q01"), e.getMessage)
    assert(SparkEntry.select(Nil) == SparkEntry.registry)
    assert(SparkEntry.select(Nil).size == 206)
  }

  test("sweep leaves no Dataset cache and no persisted or checkpointed RDD") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val ds = spark.range(1000).selectExpr("id", "id % 7 AS k").persist()
    assert(ds.count() === 1000L)
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4).map(_ * 2).localCheckpoint()
    assert(rdd.count() === 1000L)
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    assert(!cacheManager.isEmpty)

    RegistryRunner.sweep(spark)

    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManager.isEmpty)
  }

  test("a query whose action throws is err, not a time, and is still swept") {
    val out = java.nio.file.Files.createTempDirectory("graft-runner-").toString
    var built: DataFrame = null
    val query: (SparkSession, String) => DataFrame =
      (s, _) => { built = s.range(3).toDF().persist(); built }
    // the target exists, so an error-if-exists write fails
    val r = RegistryRunner.run(spark, sfDir, "q00_planted_write", query,
      _.write.mode("errorifexists").parquet(out))
    assert(r.name == "q00_planted_write")
    assert(r.err.exists(_.contains("already exists")), r.err)
    assert(built.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the sweep did not run")
    new java.io.File(out).delete()
  }

  test("oracle_sql.json parses back to exactly the oracle map, control characters included") {
    def roundTrip(m: Map[String, String]): Map[String, String] =
      JsonMethods.parse(Verify.oracleJson(m)).values.asInstanceOf[Map[String, String]]
    assert(roundTrip(SparkEntry.oracleSql) == SparkEntry.oracleSql)
    val planted = SparkEntry.oracleSql + ("q00_planted" -> "SELECT 'a\tb\rc\u0001\"\\' AS x\n")
    assert(roundTrip(planted) == planted)
  }
}

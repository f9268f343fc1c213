package graft

/** Pins the shared test session to the bench's tuning: the specs must
  * run the aggregate and shuffle paths Bench and Verify time. Reads the
  * shared session only — building a second one through `getOrCreate`
  * would rewrite the shared session's SQL confs. */
class SessionSettingsSpec extends SparkSpecBase {

  test("the test session carries the bench's measured tuning") {
    val conf = spark.sparkContext.getConf
    assert(conf.getOption("spark.shuffle.sort.bypassMergeThreshold") === Some("1"))
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      SessionTuning.objectHashFallbackEntries.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.defaultParallelism === 4)
  }

  test("releaseCaches leaves no Dataset cache and no persisted or checkpointed RDD") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val ds = spark.range(1000).selectExpr("id", "id % 7 AS k").persist()
    assert(ds.count() === 1000L)
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4).map(_ * 2).localCheckpoint()
    assert(rdd.count() === 1000L)
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    assert(!cacheManager.isEmpty)

    SessionTuning.releaseCaches(spark)

    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManager.isEmpty)
  }
}

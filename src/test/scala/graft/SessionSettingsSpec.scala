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
}

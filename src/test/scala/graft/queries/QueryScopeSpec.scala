package graft.queries

import graft.{QueryScope, RegistryRunner, SparkEntry, SparkSpecBase}
import graft.operators.ConnectedComponents
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** A registry query releases what it persisted, and nothing else: in a
  * session that holds its own caches, a query and its action leave
  * those caches in place and no cache, RDD persist or scope listener of
  * the query's own, with no harness sweep. */
class QueryScopeSpec extends SparkSpecBase {

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("a caller's own caches survive a registry query and its action; the query's persists go") {
    try {
      RegistryRunner.sweep(spark)
      val own = spark.range(1000).selectExpr("id", "id % 7 AS k").persist()
      assert(own.count() == 1000L)
      val rdds0 = persisted
      assert(rdds0.size == 1)

      val df = SparkEntry.select(Seq("q129")).head.run(spark, sfDir)
      // a scope stays open only while it owns a persist
      assert(QueryScope.isOpen(df), "q129 persisted nothing of its own: the check below is vacuous")
      // the perfbench action: a noop write of every column, which
      // materializes every persist the query made
      df.write.format("noop").mode("overwrite").save()

      pollUntil("the query's scope stops listening", 20000L)(!QueryScope.isOpen(df))
      pollUntil(s"query persists go: $persisted against $rdds0", 20000L)(persisted == rdds0)
      assert(own.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally RegistryRunner.sweep(spark)
  }

  test("QueryScope.close(df) releases the query's persists before it returns") {
    try {
      RegistryRunner.sweep(spark)
      val own = spark.range(1000).selectExpr("id", "id % 7 AS k").persist()
      assert(own.count() == 1000L)
      val rdds0 = persisted
      val df = SparkEntry.select(Seq("q129")).head.run(spark, sfDir)
      assert(QueryScope.isOpen(df), "q129 persisted nothing of its own: the check below is vacuous")
      df.write.format("noop").mode("overwrite").save()
      // the listener may be releasing at this moment, or not yet; close
      // returns only once the release is done either way
      QueryScope.close(df)
      assert(persisted == rdds0)
      assert(!QueryScope.isOpen(df))
      assert(own.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally RegistryRunner.sweep(spark)
  }

  test("a plan the caller cached first is used by the query and never released") {
    try {
      RegistryRunner.sweep(spark)
      // a rebuilt SQ8 coded corpus (q121's persist) does not match its
      // own earlier cache entry, so no registry query is handed a plan the
      // caller cached; here the caller caches the plan the build asks for
      def plan = spark.range(1000).selectExpr("id", "id % 7 AS k")
      val own = plan.persist()
      assert(own.count() == 1000L)
      val rdds0 = persisted
      var used: org.apache.spark.sql.DataFrame = null
      val head = QueryScope(spark) {
        used = QueryScope.persist(plan)
        val mine = QueryScope.persist(spark.range(50).toDF("x"))
        mine.join(used, mine("x") === used("id"))
      }
      // the build's persist found the caller's cache entry: the guard ran
      assert(ColumnBridge.cachedPlan(used).exists(p => ColumnBridge.cachedPlan(own).exists(_ eq p)))
      assert(QueryScope.isOpen(head), "the build persisted nothing of its own")
      assert(head.count() == 50L)
      pollUntil("the scope releases", 20000L)(!QueryScope.isOpen(head))
      pollUntil(s"the build's own persist goes: $persisted against $rdds0", 20000L)(persisted == rdds0)
      assert(own.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally RegistryRunner.sweep(spark)
  }

  test("a scoped distributed connected-components result runs again after its scope released") {
    try {
      RegistryRunner.sweep(spark)
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L), (7L, 6L)).toDF("a", "b")
      // driverFallbackEdges = 0 forces the checkpointed join loop
      val labels = QueryScope(spark)(ConnectedComponents.minLabelPropagation(edges, driverFallbackEdges = 0L))
      assert(QueryScope.isOpen(labels), "the loop persisted nothing the scope owns")
      def read = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val first = read
      assert(first == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
      pollUntil("the connected-components scope releases", 20000L)(!QueryScope.isOpen(labels))
      assert(read == first)
    } finally RegistryRunner.sweep(spark)
  }

  test("a build that throws releases what it persisted before the throw") {
    try {
      RegistryRunner.sweep(spark)
      var made: org.apache.spark.sql.DataFrame = null
      val e = intercept[IllegalStateException](QueryScope(spark) {
        made = QueryScope.persist(spark.range(10).toDF("id"))
        throw new IllegalStateException("planted")
      })
      assert(e.getMessage == "planted")
      assert(made.storageLevel == StorageLevel.NONE)
    } finally RegistryRunner.sweep(spark)
  }
}

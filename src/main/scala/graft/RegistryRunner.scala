package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Runs registry queries for every entry point that does (Bench, Verify,
  * StressMain, ProfileMain, PlanAudit), under one failure rule: a query
  * that throws is `err` with its error, never a time, is left out of
  * every total, and makes the process exit 1 after its last output. */
object RegistryRunner {

  /** Wall seconds, GC ms during the run and heap MB after the sweep — or,
    * when the query threw, `err` ("<class>: <message>"). */
  final case class Timed(name: String, sec: Double, gcMs: Long,
      heapMb: Long, err: Option[String])

  /** The harness backstop after each query. A registry query's own
    * [[QueryScope]] has already released what it persisted; the sweep
    * also drops what no scope owns — a persist made outside any query
    * (StressMain's, a spec's), Dataset persists in the CacheManager and
    * then the RDD-level ones it never sees (`localCheckpoint()` blocks
    * included, such as the labels `ConnectedComponents` hands back to
    * its caller) — and then runs `System.gc()`, because the weak-ref
    * ContextCleaner frees broadcasts and shuffle state only when the JVM
    * collects (heavy queries measured ~3x their isolated cost late in a
    * long run without it). A library caller's session needs none of
    * it: the sweep also drops the caller's own caches. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Builds `name` on `sfDir` and applies `action`, timed together, then
    * closes the query's [[QueryScope]] and `sweep`s, untimed. NonFatal
    * only: a fatal error (OOM, linkage) ends the run instead of reading
    * as one failed query. */
  def run(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, action: DataFrame => Unit): Timed = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    var built: Option[DataFrame] = None
    val err =
      try { built = Some(fn(spark, sfDir)); action(built.get); None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val dt = (System.nanoTime() - t0) / 1e9
    val gcd = gcMillis() - gc0
    built.foreach(QueryScope.close)
    sweep(spark)
    val rt = Runtime.getRuntime
    Timed(name, dt, gcd, (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024), err)
  }

  /** Names each failed query with its error on stderr and exits 1;
    * returns when none failed. */
  def exitIfFailed(results: Seq[Timed]): Unit = {
    val failed = results.filter(_.err.isDefined)
    failed.foreach(t => System.err.println(s"[failed] ${t.name}: ${t.err.get}"))
    if (failed.nonEmpty) sys.exit(1)
  }
}

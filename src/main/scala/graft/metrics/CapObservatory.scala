package graft.metrics

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability for every BOUNDED DROP in the engine (r15 VERDICT #2:
  * "no silent caps" — a skew guard that discards rows above a cap is a
  * documented recall trade-off, but at 100 TB a boilerplate-dominated
  * LSH bucket would silently shed candidate pairs with zero signal
  * that it happened). Each capped operator threads its pre-filter
  * relation through [[observeCap]], which attaches a Spark
  * `Dataset.observe` node — metrics ride the existing job, cost one
  * map-side aggregate, and change neither rows nor plan semantics —
  * and a per-session [[QueryExecutionListener]] collects them here so
  * Bench/StressMain can print a `caps` section in their artifacts.
  *
  * Metrics per cap site:
  *  - `dropped_rows`   — rows discarded by the cap, SUMMED over every
  *    execution of the tagged call site within the snapshot window
  *  - `dropped_groups` — capped groups (buckets/blocks), summed likewise
  *  - `max_group`      — largest group size observed in the window
  *    (capped or not), the early-warning gauge: a max_group climbing
  *    toward the cap predicts recall loss BEFORE any row is dropped
  *  - `n_runs`         — executions that reported this tag in the
  *    window, so an artifact reader can normalize the summed counters
  *    per execution (several queries, or several executions of one,
  *    report the same tag; without n_runs the sums inflate by a
  *    run-dependent multiple).
  *
  * Values ACCUMULATE per tag within a window (see [[record]]); reset()
  * starts a fresh window. Listener delivery is async (Spark's listener
  * bus), so test code polls [[snapshot]] rather than asserting
  * immediately.
  */
object CapObservatory {

  /** observe() names are namespaced so the listener can cheaply filter
    * the metrics it owns from any other observation in the plan. */
  private val Prefix = "cap:"

  private val metrics = new ConcurrentHashMap[String, Map[String, Long]]()
  // weak keys: a stopped session must be collectable — a strong set
  // here would pin every session ever observed (plus everything it
  // transitively holds) for the JVM's lifetime in multi-session
  // processes (the test JVM, an embedding application)
  private val installed =
    java.util.Collections.newSetFromMap(java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def install(spark: SparkSession): Unit =
    if (installed.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        // observedMetricsWithPruned, NOT qe.observedMetrics: AQE's
        // empty-relation propagation prunes a runtime-empty subtree —
        // and a cap that drops a whole bucket's candidate pairs can
        // produce exactly such a subtree, vanishing its own drop
        // metrics from the final plan (found by CapMetricsSpec's
        // exact-copy-flood case). The bridge also reads the
        // materialized-but-pruned stages.
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          org.apache.spark.sql.graftbridge.AqeBridge.observedMetricsWithPruned(qe)
            .foreach { case (name, row) =>
              if (name.startsWith(Prefix)) record(name.stripPrefix(Prefix), row)
            }
        override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
      })
    }

  /** ACCUMULATE, never overwrite (review r16): one tag is shared by
    * every execution of its call site within a snapshot window, and a
    * later clean run must not erase an earlier run's recorded drop —
    * that would reintroduce the silent-cap failure mode this object
    * exists to close. Counters sum; `max_group` takes the window max
    * (it is the headroom gauge, so the worst observation is the one
    * that matters). */
  private def record(tag: String, row: Row): Unit = {
    val m = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> (if (row.isNullAt(i)) 0L
            else row.get(i) match {
              case l: Long => l
              case i2: Int => i2.toLong
              case d: Double => math.round(d)
              case other => math.round(other.toString.toDouble)
            })
    }.toMap + ("n_runs" -> 1L) // sums across the window → executions seen
    metrics.merge(tag, m, (old, nw) =>
      (old.keySet ++ nw.keySet).map { k =>
        val a = old.getOrElse(k, 0L); val b = nw.getOrElse(k, 0L)
        k -> (if (k == "max_group") math.max(a, b) else a + b)
      }.toMap)
  }

  private val fenceSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Drain barrier for the async listener bus: delivery of observed
    * metrics rides Spark's listener thread, so a snapshot taken right
    * after the last action can miss it. The fence runs a marker query
    * through the SAME bus (FIFO) and waits for its metric to land —
    * everything enqueued before it is then guaranteed delivered. Call
    * before reading [[snapshot]]/[[snapshotJson]] for an artifact;
    * best-effort (bounded wait), never throws. */
  def fence(spark: SparkSession, timeoutMs: Long = 10000L): Unit = {
    val tag = s"__fence_${fenceSeq.incrementAndGet()}"
    try {
      import org.apache.spark.sql.functions._
      install(spark)
      spark.range(1).observe(Prefix + tag, count(lit(1)).as("n")).collect()
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!metrics.containsKey(tag) && System.nanoTime() < deadline)
        Thread.sleep(10L)
    } catch {
      // best-effort by contract, but an interrupt must propagate as
      // the flag (swallowing it would silently cancel the caller's
      // cancellation — ADVICE r16)
      case _: InterruptedException => Thread.currentThread().interrupt()
      case _: Throwable => ()
    } finally {
      // a timed-out fence's marker can land AFTER its fence returned;
      // such keys are filtered from snapshots but would accumulate in
      // a long-lived JVM (ADVICE r16). Any fence with a smaller
      // sequence has already returned, so its key is garbage: sweep
      // every marker up to and including this one.
      val mySeq = tag.stripPrefix("__fence_").toLong
      val it = metrics.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k.startsWith("__fence_") &&
            (try k.stripPrefix("__fence_").toLong <= mySeq
             catch { case _: NumberFormatException => false })) it.remove()
      }
    }
  }

  /** Attach drop metrics for a bounded-group cap to `preFilter` (the
    * relation BEFORE the cap's `where`), keyed by `tag` (stable per
    * call site — it names the metric in artifacts and must be unique
    * within one query plan). `groupN` is the per-row group-size column
    * the cap compares against `cap`. Row data is untouched — callers
    * apply their own filter on the returned frame. */
  def observeCap(preFilter: DataFrame, tag: String, groupN: org.apache.spark.sql.Column,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    install(preFilter.sparkSession)
    val over = groupN > cap
    preFilter.observe(Prefix + tag,
      sum(when(over, 1L).otherwise(0L)).as("dropped_rows"),
      // each row of a capped group contributes 1/|group|, so the sum
      // counts GROUPS exactly (integer-valued rational; rounded once)
      sum(when(over, lit(1.0) / groupN).otherwise(0.0)).as("dropped_groups"),
      max(groupN).as("max_group"))
  }

  /** Like [[observeCap]], but over a relation where each ROW is a
    * group (e.g. a `groupBy(key).count()` census) and `sizeCol` its
    * size: dropped_rows then counts the MEMBERS the cap discards,
    * dropped_groups the capped groups, max_group the largest group. */
  def observeGroupCap(groups: DataFrame, tag: String,
      sizeCol: org.apache.spark.sql.Column, cap: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    install(groups.sparkSession)
    val over = sizeCol > cap
    groups.observe(Prefix + tag,
      sum(when(over, sizeCol.cast("long")).otherwise(0L)).as("dropped_rows"),
      sum(when(over, 1L).otherwise(0L)).as("dropped_groups"),
      max(sizeCol.cast("long")).as("max_group"))
  }

  /** Accumulated metrics per tag since the last [[reset]] (fence
    * markers excluded — a timed-out fence must not pollute artifacts). */
  def snapshot(): Map[String, Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    metrics.asScala.toMap.filter(!_._1.startsWith("__fence_"))
  }

  /** Compact JSON rendering for bench/stress artifacts: `{}` when no
    * capped operator ran (the common, healthy case). */
  def snapshotJson(): String =
    snapshot().toSeq.sortBy(_._1).map { case (tag, m) =>
      "\"" + tag + "\":" + m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  def reset(): Unit = metrics.clear()
}

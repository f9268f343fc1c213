package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** The persists of one registry query, released together once the
  * query's result is materialized — Motorway's rule that per-tree state
  * goes when the tree is acked, applied to a query's caches.
  *
  * Every query-level persist in `graft.queries` and `graft.operators`
  * goes through [[QueryScope.persist]] or [[QueryScope.checkpoint]],
  * which record it in the scope open on the calling thread.
  * [[GraftQuery.run]] opens that scope around the query's build, so a
  * query releases what it persisted, and nothing else:
  *  - a plan that is already cached when the query persists it (the
  *    caller's own cache, or another open query's) is used, not owned;
  *  - release runs newest first, so no cached plan that reads an older
  *    one is re-planned;
  *  - release fires once an execution whose analyzed plan contains the
  *    returned DataFrame completes (its collect, its count, a write
  *    wrapping it), or when [[QueryScope.close]] is called with it.
  *    Executions that started before the DataFrame existed (the build's
  *    own eager counts) are ignored.
  *
  * Release after an action is asynchronous: Spark reports the finished
  * execution on its listener bus, after the action has returned to the
  * caller, so for a moment the query's persists are still there. A
  * caller that needs them gone at a known point calls
  * `QueryScope.close(df)`, the synchronous release: when it returns,
  * the persists are released, also when the listener had begun first.
  *
  * A caller that only plans the query never executes it, so the scope
  * also releases after [[QueryScope.UnrelatedGrace]] unrelated
  * executions AND `graceMs` of wall time; the grace keeps a caller that
  * builds a query, runs a few others, and only then materializes it
  * from losing the caches. Executing the result a second time
  * recomputes it uncached: a one-shot release cannot know how many
  * materializations are coming. A local checkpoint cannot be
  * recomputed once its blocks go, so the one an operator returns is
  * handed back to the caller ([[QueryScope.disown]]); the scope owns
  * only the generations the operator supersedes.
  *
  * Outside a scope (a spec or StressMain calling an operator directly)
  * a persist belongs to the caller. */
final class QueryScope private (spark: SparkSession, graceMs: Long) extends QueryExecutionListener {
  private var releases = List.empty[(AnyRef, () => Unit)] // newest first
  private var closed = false
  private val unrelated = new AtomicInteger(0)
  @volatile private var head: DataFrame = _
  @volatile private var armedAtMs = 0L

  private def own(key: AnyRef, release: () => Unit): Unit = synchronized { releases = (key, release) :: releases }

  private def disown(key: AnyRef): Unit = synchronized { releases = releases.filterNot(_._1 eq key) }

  private def watch(df: DataFrame): Unit = if (synchronized(releases.nonEmpty)) {
    head = df
    armedAtMs = System.currentTimeMillis()
    QueryScope.open.put(df, this)
    spark.listenerManager.register(this)
  }

  /** Releases every persist the query owns, newest first, and stops
    * listening. Idempotent; a call made while another thread releases
    * returns once that release is done. */
  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      spark.listenerManager.unregister(this)
      releases.foreach(_._2())
      Option(head).foreach(QueryScope.open.remove)
    }
  }

  private def handle(qe: QueryExecution): Unit = {
    val h = head.queryExecution
    if (qe.id >= h.id) {
      val target = h.analyzed
      val containsHead =
        try qe.analyzed.exists(p => (p eq target) || p.sameResult(target))
        catch { case NonFatal(_) => false }
      if (containsHead || (unrelated.incrementAndGet() >= QueryScope.UnrelatedGrace &&
          System.currentTimeMillis() - armedAtMs >= graceMs)) close()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = handle(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = handle(qe)
}

object QueryScope {
  /** Unrelated executions a plan-only caller's scope waits for. */
  val UnrelatedGrace = 3
  val DefaultGraceMs = 60000L

  private val current = new ThreadLocal[QueryScope]
  private val open = new ConcurrentHashMap[DataFrame, QueryScope]()

  /** Builds one query: what `build` persists through this object is
    * released once the returned DataFrame is materialized, and at once
    * when `build` throws. Called while another scope is open on this
    * thread (a query built from another query), it joins that scope. */
  def apply(spark: SparkSession, graceMs: Long = DefaultGraceMs)(build: => DataFrame): DataFrame =
    if (current.get != null) build
    else {
      val scope = new QueryScope(spark, graceMs)
      current.set(scope)
      val head =
        try build
        catch { case e: Throwable => scope.close(); throw e }
        finally current.remove()
      scope.watch(head)
      head
    }

  /** `df` persisted MEMORY_AND_DISK, owned by the open scope unless its
    * plan was already cached. */
  def persist(df: DataFrame): DataFrame = {
    val before = ColumnBridge.cachedPlan(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    for (scope <- Option(current.get) if before.isEmpty; mine <- ColumnBridge.cachedPlan(df))
      scope.own(df, () => if (ColumnBridge.cachedPlan(df).exists(_ eq mine)) df.unpersist())
    df
  }

  /** `df` checkpointed locally (eager; lineage truncated), its blocks
    * owned by the open scope until [[disown]]ed. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    Option(current.get).foreach(_.own(cp, () => ColumnBridge.unpersistCheckpoint(cp)))
    cp
  }

  /** Hands a checkpoint the open scope owns back to the caller: an
    * operator's returned generation, which a second execution of the
    * result must still read. */
  def disown(cp: DataFrame): DataFrame = {
    Option(current.get).foreach(_.disown(cp))
    cp
  }

  /** Releases the scope whose query returned `head` now, synchronously:
    * when this returns, the scope's persists are gone. No-op when it
    * owns nothing or has already released. */
  def close(head: DataFrame): Unit = Option(open.get(head)).foreach(_.close())

  /** Whether the scope of the query that returned `head` still holds
    * persists and listens. */
  private[graft] def isOpen(head: DataFrame): Boolean = open.containsKey(head)
}

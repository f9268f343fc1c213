package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.json4s._
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Controller-stats vocabulary (`motorway/controller.py:43-60,187-199`)
  * computed from Spark's own progress events instead of a ZMQ acker:
  * success/failed/processed counts, average + p95 latency, and a
  * per-minute histogram — the numbers motorway's dashboard renders
  * (`motorway/webserver.py:105-148`).
  */
object PipelineStats {

  /** Weighted percentile over a value→count histogram — port of
    * `percentile_from_dict` (`motorway/utils.py:13-33`): rank =
    * ceil(p·N) over keys in ascending order.
    * Oracle (`tests/test_utils.py:7-9`): {0:2, 1:1, 2:1, 3:3, 4:1} at
    * p95 → 4.0. */
  def percentileFromCounts(counts: Map[Double, Long], p: Double): Double = {
    require(counts.nonEmpty, "empty histogram")
    require(p > 0 && p <= 1, s"p out of range: $p")
    val total = counts.values.sum
    val rank = math.ceil(p * total).toLong
    var cum = 0L
    for ((k, c) <- counts.toSeq.sortBy(_._1)) {
      cum += c
      if (cum >= rank) return k
    }
    counts.keys.max
  }

  /** `writtenAtMs` is the wall-clock of the bucket's last write: the
    * wrap-around histogram re-uses the same 60 slots every hour, so a
    * slot's counts are only "this hour's" if the write is at most
    * (slot-age + 1) minutes old — [[QueryStats.minuteSeries]] uses it
    * to drop prior-hour ghosts even when the query resumed after an
    * interior mid-hour idle gap (0 = unknown, falls back to the
    * lastSeen-gap heuristic for hand-built fixtures). */
  final case class MinuteBucket(
      successCount: Long = 0, errorCount: Long = 0,
      timeoutCount: Long = 0, processedCount: Long = 0,
      writtenAtMs: Long = 0L)

  /** One captured failure for the per-query drill-down — the
    * reference's failed-message record (timestamp + error + traceback,
    * `motorway/controller.py:216-225`), rendered at `/detail/<query>/`. */
  final case class FailureRecord(
      timestampMs: Long, messageId: String, error: String, traceback: String)

  /** Failure log cap per query (the reference keeps a bounded
    * failed-message dict; unbounded growth on a crash-looping stream
    * would leak driver memory). */
  val MaxFailures = 100

  /** Per-query rolling stats (≙ per-process stats group).
    *
    * `sourceLag` is the per-input-partition behind-the-head gauge —
    * parity with the Kinesis ramp's `MillisecondsBehind` publication
    * (`contrib/amazon_kinesis/ramps.py:290-298`), in offset units
    * (records behind the source head) because that is what Spark's
    * progress events carry for every numeric-offset source uniformly.
    * `waiting` is its total, which makes the reference's
    * available/busy/overloaded heuristic (`webserver.py:110-121`)
    * computable; `peakWaiting` keeps the high-water mark so a drained
    * backlog is still visible after the fact. */
  final case class QueryStats(
      name: String,
      processed: Long = 0,
      success: Long = 0,
      failed: Long = 0,
      waiting: Long = 0,
      peakWaiting: Long = 0,
      sourceLag: Map[String, Long] = Map.empty,
      batchDurationsMs: Vector[Long] = Vector.empty,
      phaseDurationsMs: Map[String, Vector[Long]] = Map.empty,
      histogram: Map[Int, MinuteBucket] = Map.empty,
      failures: Vector[FailureRecord] = Vector.empty,
      lastSeenMs: Long = 0L) {
    def avgTimeTakenMs: Double =
      if (batchDurationsMs.isEmpty) 0.0
      else batchDurationsMs.sum.toDouble / batchDurationsMs.size
    def p95TimeTakenMs: Double = percentileMs(batchDurationsMs, 0.95)

    /** p50 and p95 of each `durationMs` phase of the progress events
      * (`triggerExecution`, `addBatch`, `queryPlanning`, `walCommit`,
      * `commitOffsets`, `latestOffset`, `getBatch`, ...) over the kept
      * batches: where a micro-batch's fixed driver cost goes. */
    def phasePercentilesMs: Map[String, (Double, Double)] =
      phaseDurationsMs.map { case (k, v) => k -> (percentileMs(v, 0.5), percentileMs(v, 0.95)) }

    /** The last 60 minute-buckets oldest→newest, ending at the CURRENT
      * minute — the reference's 60-minute histogram series
      * (`controller.py:55-59`) in render order for the dashboard
      * sparklines and the `/api/status/` minute arrays.
      *
      * The wrap-around histogram is only cleaned by progress events
      * (each zeroes the upcoming bucket), so an IDLE query's stale
      * buckets would alias hour-old counts into the "last hour". Two
      * staleness guards apply per slot: (1) a bucket carrying its own
      * `writtenAtMs` is fresh only if the write is at most
      * (slot-age + 1) minutes old — a prior-hour write is ~60 minutes
      * older and drops, so a query that idled MID-hour and resumed
      * never renders the interior gap's ghost counts; (2) buckets
      * without a write stamp (hand-built fixtures) fall back to the
      * trailing-gap heuristic on `lastSeenMs`. An hour-idle query
      * renders an empty strip, never a fabricated one. */
    def minuteSeries(nowMinute: Int, nowMs: Long): Seq[MinuteBucket] = {
      val gapMin =
        if (lastSeenMs <= 0L) 60L
        else math.min(60L, math.max(0L, (nowMs - lastSeenMs) / 60000L))
      (59 to 0 by -1).map { d =>
        val b = histogram.getOrElse(((nowMinute - d) % 60 + 60) % 60, MinuteBucket())
        val stale =
          if (b.writtenAtMs > 0L) nowMs - b.writtenAtMs > (d + 1L) * 60000L + 1000L
          else d < gapMin // slot recurred inside the trailing idle gap
        if (stale) MinuteBucket() else b
      }
    }

    /** Reference state heuristic (`motorway/webserver.py:110-121`):
      * waiting>0 → busy; waiting greater than everything processed in
      * the last 3 minutes → overloaded; plus `failing` when errors were
      * recorded (the reference surfaces those as failed_messages). */
    def state(nowMinute: Int): String =
      if (failed > 0) "failing"
      else if (waiting > 0) {
        val recent = (0 until 3)
          .map(i => histogram.getOrElse(((nowMinute - i) % 60 + 60) % 60, MinuteBucket()).processedCount)
          .sum
        if (waiting > recent) "overloaded" else "busy"
      } else if (batchDurationsMs.lastOption.exists(_ > 10000)) "busy"
      else "available"
  }

  private def percentileMs(durations: Vector[Long], p: Double): Double =
    if (durations.isEmpty) 0.0
    else percentileFromCounts(durations.groupBy(_.toDouble).view.mapValues(_.size.toLong).toMap, p)

  /** One query's `/api/status/` row, in key order. Latencies carry one
    * decimal whatever the JVM locale. [[StatsServer.detailJson]] builds
    * the detail object from this row. */
  private[streaming] def statusRow(s: QueryStats, nowMinute: Int, nowMs: Long): List[JField] = {
    val minutes = s.minuteSeries(nowMinute, nowMs)
    List(
      "name" -> JString(s.name),
      "processed" -> JInt(s.processed), "success" -> JInt(s.success),
      "failed" -> JInt(s.failed), "waiting" -> JInt(s.waiting),
      "peak_waiting" -> JInt(s.peakWaiting),
      "behind_latest" -> JObject(s.sourceLag.toList.sortBy(_._1).map { case (k, l) => k -> JInt(l) }),
      "avg_time_taken_ms" -> f1(s.avgTimeTakenMs), "95_percentile_ms" -> f1(s.p95TimeTakenMs),
      "phases_ms" -> phasesMs(s),
      "minutes_processed" -> JArray(minutes.map(b => JInt(b.processedCount)).toList),
      "minutes_errors" -> JArray(minutes.map(b => JInt(b.errorCount)).toList),
      "status" -> JString(s.state(nowMinute)))
  }

  private def f1(v: Double) = JDecimal(BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP))

  /** One query's `durationMs` phases as p50/p95 ms, e.g.
    * `{"addBatch":{"p50":..,"p95":..},...}`. */
  private def phasesMs(s: QueryStats): JObject =
    JObject(s.phasePercentilesMs.toList.sortBy(_._1).map { case (k, (p50, p95)) =>
      k -> JObject("p50" -> f1(p50), "p95" -> f1(p95)) })

  /** Every query's `phases_ms` object, keyed by query, as compact JSON. */
  def phasesJson(stats: Map[String, QueryStats]): String =
    render(JObject(stats.toList.sortBy(_._1).map { case (q, s) => q -> phasesMs(s) }))

  /** Compact JSON: json4s escapes every control character. */
  private[streaming] def render(v: JValue): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(v))
}

/** Listener wiring: one `QueryProgressEvent` per micro-batch carries
  * numInputRows + batch duration; exceptions surface via
  * `QueryTerminatedEvent`. The 60-minute histogram keeps the
  * reference's minute-bucket layout (`controller.py:55-59`). */
final class PipelineStatsListener(
    clockMinute: () => Int = PipelineStatsListener.wallClockMinute,
    clockMs: () => Long = () => System.currentTimeMillis())
    extends StreamingQueryListener {
  import PipelineStats._

  private val stats = TrieMap[String, QueryStats]()
  // query id → stats key (its name, else its id): QueryTerminatedEvent
  // carries no name, and an unnamed query's name is null
  private val keys = TrieMap[java.util.UUID, String]()
  private def key(id: java.util.UUID, name: String): String =
    keys.getOrElseUpdate(id, Option(name).getOrElse(id.toString))

  def snapshot: Map[String, QueryStats] = stats.toMap

  /** Dashboard-parity JSON (≙ webserver `/api/status/`,
    * `motorway/webserver.py:105-148`): per-query counts, latency stats,
    * and the `available|busy` status heuristic. */
  def snapshotJson: String = {
    val nowMinute = clockMinute() % 60
    val nowMs = clockMs()
    render(JArray(snapshot.toSeq.sortBy(_._1)
      .map { case (_, s) => JObject(statusRow(s, nowMinute, nowMs)) }.toList))
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val k = key(e.id, e.name)
    stats.putIfAbsent(k, QueryStats(k))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val name = key(p.id, p.name)
    val rows = p.numInputRows
    val durMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    // Per-source behind-the-head lag: for numeric-offset sources
    // (QueueRamp positions, Kinesis sequence deltas, file indexes) the
    // progress event's latestOffset − endOffset IS the backlog this
    // batch left unread. JSON-object offsets (Kafka's per-partition
    // maps) don't reduce to one number and are skipped.
    def numeric(off: String): Option[Long] =
      Option(off).flatMap(o => scala.util.Try(o.trim.toLong).toOption)
    val lags = p.sources.toSeq.flatMap { sp =>
      for (l <- numeric(sp.latestOffset); end <- numeric(sp.endOffset))
        yield Option(sp.description).getOrElse("source") -> math.max(0L, l - end)
    }.toMap
    val minute = clockMinute() % 60
    stats.updateWith(name) { prev =>
      val s = prev.getOrElse(QueryStats(name))
      val bucket = s.histogram.getOrElse(minute, MinuteBucket())
      val waiting = if (lags.nonEmpty) lags.values.sum else s.waiting
      Some(s.copy(
        lastSeenMs = clockMs(),
        processed = s.processed + rows,
        success = s.success + rows,
        waiting = waiting,
        peakWaiting = math.max(s.peakWaiting, waiting),
        sourceLag = if (lags.nonEmpty) lags else s.sourceLag,
        batchDurationsMs = (s.batchDurationsMs :+ durMs).takeRight(3600),
        phaseDurationsMs = phases.foldLeft(s.phaseDurationsMs) { case (m, (k, v)) =>
          m.updated(k, (m.getOrElse(k, Vector.empty) :+ v).takeRight(3600)) },
        // zero the UPCOMING minute's bucket (reference controller.py:187)
        // so a stream running past the 60-minute wrap never sums counts
        // from the previous hour into the 3-minute lookback
        histogram = s.histogram.updated(minute, bucket.copy(
          successCount = bucket.successCount + rows,
          processedCount = bucket.processedCount + rows,
          writtenAtMs = clockMs()))
          .updated((minute + 1) % 60, MinuteBucket())))
    }
  }

  /** Per-message failure capture — the reference's failed-message
    * drill-down data (`motorway/controller.py:216-225`): dead letters
    * recorded here surface at `/detail/<query>/` with timestamp, error,
    * and traceback. Wire a pipeline's dead-letter stream to this via
    * [[deadLetterBatchHook]] or call directly from a sink. */
  def recordDeadLetter(query: String, dl: graft.pipeline.DeadLetter,
      timestampMs: Long = System.currentTimeMillis()): Unit =
    stats.updateWith(query) { prev =>
      val s = prev.getOrElse(QueryStats(query))
      Some(s.copy(
        failed = s.failed + 1,
        failures = (s.failures :+ FailureRecord(timestampMs, dl.id, dl.errorMessage, dl.stackTrace))
          .takeRight(MaxFailures)))
    }

  /** foreachBatch adapter for [[graft.pipeline.Pipeline.DeadLetterStream]]
    * (plugs straight into `StreamSink.ForeachBatch`): records each
    * batch's dead letters (driver-side take is bounded by the
    * failure-log cap — dead letters are exceptional by contract). */
  def deadLetterBatchHook(query: String): (org.apache.spark.sql.DataFrame, Long) => Unit =
    (df, _) => df.take(MaxFailures).foreach { r =>
      recordDeadLetter(query, graft.pipeline.DeadLetter(
        r.getAs[String]("id"), r.getAs[String]("contentJson"),
        r.getAs[String]("errorMessage"), r.getAs[String]("stackTrace"),
        r.getAs[String]("operator")))
    }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val name = keys.remove(e.id).getOrElse(e.id.toString)
    e.exception.foreach { err =>
      val minute = clockMinute() % 60
      stats.updateWith(name) { prev =>
        val s = prev.getOrElse(QueryStats(name))
        val bucket = s.histogram.getOrElse(minute, MinuteBucket())
        Some(s.copy(failed = s.failed + 1,
          lastSeenMs = clockMs(), // the error bucket is fresh activity too
          failures = (s.failures :+ FailureRecord(
            System.currentTimeMillis(), e.id.toString,
            err.linesIterator.nextOption().getOrElse("query terminated"), err))
            .takeRight(MaxFailures),
          histogram = s.histogram.updated(minute,
            bucket.copy(errorCount = bucket.errorCount + 1,
              writtenAtMs = clockMs()))))
      }
    }
  }
}

object PipelineStatsListener {
  def wallClockMinute(): Int =
    java.time.LocalTime.now(java.time.ZoneOffset.UTC).getMinute
}

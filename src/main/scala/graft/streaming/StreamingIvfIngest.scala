package graft.streaming

import graft.functions.expr.SimilarityExpressions.nearestCentroidId
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.collection.concurrent.TrieMap

/** Streaming twin of q124 (incremental IVF ingest + drift) — the
  * live-index maintenance loop run AS the vectors arrive: the coarse
  * quantizer is FROZEN on the base corpus at construction (faiss's
  * add-vs-train split), every micro-batch is assigned to cells by the
  * same map-only codegen kernel, the per-cell occupancy accumulates,
  * and the drift of the cumulative ingested distribution against the
  * base distribution is recomputed per batch — crossing the threshold
  * raises an alert through [[PipelineStatsListener]] (surfaced on the
  * dashboard's per-query drill-down like any other recorded event).
  * q127 is the batch decision this alert hands off to.
  *
  * State is driver-side and BOUNDED: nlist cells × ingested batch ids
  * (each batch contributes one nlist-sized count map, keyed by batchId
  * so foreachBatch replays under at-least-once recovery stay
  * idempotent). Executors hold no state at all — each batch is one
  * map-only kernel projection into an nlist-row aggregate, exactly the
  * q124 plan on a batch-sized input.
  */
final class StreamingIvfIngest(
    base: DataFrame,
    nList: Int = 16,
    driftThreshold: Double = 0.05,
    stats: Option[(PipelineStatsListener, String)] = None) {

  // frozen quantizer: deterministic base seeds — q124's rule
  private val cents = base.orderBy("vec_id").limit(nList).collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  private val ids = cents.map(_._1)
  private val flat = cents.flatMap(_._2)
  private val dim = cents.head._2.length

  private def assign(df: DataFrame): DataFrame =
    df.select(col("vec_id"), nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"))

  /** Base occupancy under the frozen quantizer — computed once, like
    * the quantizer itself (nlist rows of driver state). */
  val baseOccupancy: Map[Long, Long] = assign(base)
    .groupBy("cent_id").agg(count(lit(1)).as("n"))
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val batches = TrieMap.empty[Long, Map[Long, Long]]
  @volatile private var lastAlert: Option[Double] = None

  /** Cumulative ingested occupancy per cell across all micro-batches. */
  def batchOccupancy: Map[Long, Long] =
    batches.values.foldLeft(Map.empty[Long, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (c, n)) => a.updated(c, a.getOrElse(c, 0L) + n) }
    }

  /** q124's maintenance report over (base, ingested-so-far): one row
    * per occupied cell — (cent_id, base_n, batch_n, drift), cent_id
    * ascending. Drift uses the identical IEEE chain as the batch twin
    * (two exact integer-ratio divisions, one subtraction). */
  def report: Seq[(Long, Long, Long, Double)] = {
    val bo = batchOccupancy
    val baseT = baseOccupancy.values.sum
    val batchT = bo.values.sum
    (baseOccupancy.keySet ++ bo.keySet).toSeq.sorted.map { c =>
      val bn = baseOccupancy.getOrElse(c, 0L)
      val in = bo.getOrElse(c, 0L)
      val drift =
        if (batchT == 0L || baseT == 0L) 0.0
        else math.abs(in.toDouble / batchT.toDouble - bn.toDouble / baseT.toDouble)
      (c, bn, in, drift)
    }
  }

  def maxDrift: Double = report.foldLeft(0.0)((m, r) => math.max(m, r._4))

  /** The latest alert-raising drift, if the threshold was ever crossed. */
  def alerted: Option[Double] = lastAlert

  /** foreachBatch hook: assign, accumulate (idempotent per batchId),
    * re-evaluate drift, raise the alert on threshold crossing. */
  def ingest(batch: DataFrame, batchId: Long): Unit = {
    val counts = assign(batch)
      .groupBy("cent_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batches.put(batchId, counts)
    val d = maxDrift
    if (d > driftThreshold) {
      lastAlert = Some(d)
      stats.foreach { case (listener, query) =>
        listener.recordDeadLetter(query, graft.pipeline.DeadLetter(
          id = s"ivf-drift-alert-$batchId",
          contentJson = s"""{"max_drift":$d,"threshold":$driftThreshold,"batch_id":$batchId}""",
          errorMessage = f"IVF ingest drift $d%.6f exceeds retrain threshold $driftThreshold%.6f",
          stackTrace = "",
          operator = "StreamingIvfIngest"))
      }
    }
  }

  /** Start the maintenance stream over (vec_id, v) vectors. */
  def start(vecs: Dataset[(Long, Seq[Double])], queryName: String): StreamingQuery = {
    LocalCheckpointFileManager.install(vecs.sparkSession)
    vecs.toDF("vec_id", "v").writeStream
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch((df: DataFrame, id: Long) => ingest(df, id))
      .start()
  }
}

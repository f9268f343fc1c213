package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** Routing strategies between operators — the Spark mapping of
  * motorway's groupers (`motorway/grouping.py:20-51`).
  *
  * The reference routes per message over ZMQ using consistent hashing
  * (`motorway/hash_ring.py:46-166`) so the same key always reaches the
  * same OS process. In Spark, state is keyed rather than process-pinned,
  * so plain hash partitioning (murmur3 % n) gives the same contract
  * (same key ⇒ same partition ⇒ same state store) without vnode rings —
  * and AQE is free to coalesce partitions at runtime.
  *
  * A grouping routes an intersection's INPUT, as the reference's grouper
  * sits in front of the consuming intersection, and only where the
  * consumer can observe placement. It does not partition the operator's
  * output; a downstream keyed stage ([[Pipeline.addStatefulIntersection]])
  * shuffles by its own key.
  */
sealed trait Grouping

object Grouping {
  /** `HashRingGrouper` (`grouping.py:20-35`): key-partitioned routing on
    * the input messages' `groupingValue`, for a consumer that can see
    * placement: [[Pipeline.addBatchIntersection]] draws each chunk from
    * one partition. [[Pipeline.addIntersection]] keeps the upstream
    * partitioning, as [[Random]] does (`process` depends only on its
    * message), and coalesces instead when routing into one partition. */
  case object HashRing extends Grouping

  /** `RandomGrouper` (`grouping.py:38-43`, the default): load-balanced;
    * in Spark, simply keep the upstream partitioning (no shuffle at all
    * unless explicitly rebalanced — strictly better than the reference's
    * per-message random routing). */
  case object Random extends Grouping

  /** `SendToAllGrouper` (`grouping.py:46-51`): every consumer sees every
    * message. No per-partition duplication operator exists (or is
    * needed) in Spark — model as multiple sinks on one stream; the
    * Pipeline applies it by fanning out the stream to each added sink. */
  case object SendToAll extends Grouping

  /** Apply a grouping to a message dataset. `numPartitions <= 0` keeps
    * the session default (`spark.sql.shuffle.partitions`). */
  def apply[T](g: Grouping, ds: Dataset[Message[T]], numPartitions: Int = 0): Dataset[Message[T]] =
    g match {
      case HashRing =>
        if (numPartitions > 0) ds.repartition(numPartitions, col("groupingValue"))
        else ds.repartition(col("groupingValue"))
      case Random =>
        if (numPartitions > 0) ds.repartition(numPartitions) else ds
      case SendToAll => ds
    }
}

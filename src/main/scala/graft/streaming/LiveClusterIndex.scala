package graft.streaming

import org.apache.spark.sql.DataFrame

/** The dedup cluster index kept live by the pipeline — the streaming
  * face of q158's incremental connected components: candidate duplicate
  * PAIRS arrive in micro-batches (from the streaming near-dup stage),
  * and each batch folds into a min-root union-find, so "which cluster
  * is this doc in" is answerable between batches without ever
  * re-clustering the corpus.
  *
  * Min-root discipline: union always attaches the LARGER root beneath
  * the smaller, so every component's representative is its minimum
  * member id — exactly the label `ConnectedComponents.minLabelPropagation`
  * (and therefore q84/q158) assigns. LiveClusterIndexSpec asserts the
  * equality after streaming the full pair log, and batch-replay
  * idempotence (union is idempotent, so at-least-once delivery of a
  * pair batch cannot corrupt the index).
  *
  * Scale posture: this state is NODE-count-bound — the same bound as
  * CC's packed driver fallback (~50 MB at 1M edges, measured in
  * `StressMain ccmem`), because dedup pair sets are result-sized even
  * for huge corpora. Past that bound, the batch path is q158's
  * contraction (delta-sized distributed CC per ingest); this class is
  * the serving-cache tier in front of it, mirroring how the reference
  * keeps operator state in-process ahead of its durable store.
  *
  * The bound is ENFORCED, not advisory: a batch that grows the index
  * past `maxNodes` fails the fold with a loud [[IllegalStateException]]
  * naming the contraction path — which fails the streaming query (the
  * reference's posture: a pipeline whose assumptions break dies
  * visibly, `motorway/pipeline.py:127-135`; the stats listener then
  * shows `failing` with the traceback). Silent unbounded driver growth
  * is the one failure mode a serving cache must never have.
  */
final class LiveClusterIndex(maxNodes: Long = LiveClusterIndex.DefaultMaxNodes) {

  private val parent = scala.collection.mutable.LongMap.empty[Long]

  private def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    // path compression
    var c = x
    while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  private def union(a: Long, b: Long): Unit = {
    parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    val ra = find(a); val rb = find(b)
    if (ra != rb) {
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** Fold one micro-batch of (a_id, b_id) pairs into the index. Called
    * from foreachBatch (driver-side, serialized per batch). The collect
    * is bounded by the batch's PAIR count — result-sized for dedup.
    *
    * @throws IllegalStateException when the fold would grow the index
    *         past `maxNodes`. Union is idempotent and the guard fires
    *         before any of THIS batch's pairs are applied, so an
    *         at-least-once retry after raising the bound (or after
    *         migrating to the contraction path) replays cleanly. */
  def merge(pairs: DataFrame): Unit =
    mergeBatch(pairs.select(pairs.columns.head, pairs.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1))))

  /** The driver-side fold behind [[merge]], also the entry point for
    * [[ShardedClusterIndex]]'s per-shard routing and its forest merge. */
  /** Nodes THIS batch would add — the guard quantity, computed without
    * mutating the index (so [[ShardedClusterIndex.merge]] can check
    * every shard's bound before applying any sub-batch). */
  private[streaming] def newNodeCount(batch: Array[(Long, Long)]): Long = {
    val seen = new java.util.HashSet[java.lang.Long]()
    batch.foreach { case (a, b) => seen.add(a); seen.add(b) }
    seen.removeIf(x => parent.contains(x))
    seen.size.toLong
  }

  private[streaming] def mergeBatch(batch: Array[(Long, Long)]): Unit = {
    val newNodes = newNodeCount(batch)
    if (parent.size + newNodes > maxNodes)
      throw new IllegalStateException(
        s"LiveClusterIndex bound exceeded: ${parent.size} nodes + $newNodes new > " +
        s"maxNodes=$maxNodes. This serving cache is node-bound by design — " +
        "move cluster maintenance to the distributed contraction path " +
        "(q158, graft.queries.Curation8 incremental CC) and serve labels " +
        "from its output, shard it (graft.streaming.ShardedClusterIndex), " +
        "or raise maxNodes if driver memory allows.")
    batch.foreach { case (a, b) => union(a, b) }
  }

  /** Current node count — the quantity [[maxNodes]] bounds. */
  def size: Long = parent.size.toLong

  /** Current labels: node → min id of its component (fully compressed). */
  def labels: Map[Long, Long] =
    parent.keys.map(k => k -> find(k)).toMap

  /** Attach to a streaming pair relation: every micro-batch folds in.
    * A bound overflow inside [[merge]] fails this query loudly. */
  def attach(pairs: DataFrame, queryName: String = "live_cluster_index") = {
    LocalCheckpointFileManager.install(pairs.sparkSession)
    pairs.writeStream.queryName(queryName)
      .foreachBatch((df: DataFrame, _: Long) => merge(df))
      .start()
  }
}

object LiveClusterIndex {
  /** Default node bound: 4M entries ≈ 2 LongMap slots + compressed-root
    * churn ≈ low-hundreds of MB on the driver — the same envelope as
    * CC's packed driver fallback cutover (StressMain ccmem). */
  val DefaultMaxNodes: Long = 4000000L
}

/** S-way sharded [[LiveClusterIndex]]: each arriving PAIR routes by the
  * hash range of its smaller endpoint to one of S per-shard union-finds,
  * and each shard enforces its own `maxNodesPerShard` — so S multiplies
  * the serving cache's node capacity, and in production each shard's
  * fold runs on its own host (one streaming query per shard, the
  * [[StreamingSubstringGate.hits]] shard discipline).
  *
  * EXACTNESS (the reason pair-grain routing is sound where node-grain
  * would not be): connected components of a union of edge sets equals
  * connected components of the union of any per-subset SPANNING
  * FORESTS — so folding each shard's (node → root) forest into one
  * combined union-find reproduces the S=1 labels exactly, regardless
  * of how pairs were routed (ShardedGateSpec pins S=4 ≡ S=1). A node
  * touched by pairs in several shards appears in each — per-shard node
  * counts sum to ≥ the distinct total; capacity planning uses that sum.
  *
  * [[labels]] performs the forest merge on demand: that combined view
  * materializes every node, so it belongs in the label-CONSUMER tier
  * (or q158's distributed contraction) at production scale — the
  * per-shard folds, which are the hot path, never materialize it.
  */
final class ShardedClusterIndex(shards: Int,
    maxNodesPerShard: Long = LiveClusterIndex.DefaultMaxNodes) {
  require(shards >= 1, s"shards must be >= 1, got $shards")

  private val idx = Array.fill(shards)(new LiveClusterIndex(maxNodesPerShard))

  /** Deterministic pair→shard routing: hash range of the smaller
    * endpoint. Any pure function of the PAIR is sound (see class doc);
    * min-endpoint keeps a node's self-cluster traffic co-located. */
  private def shardOf(a: Long, b: Long): Int =
    java.lang.Long.remainderUnsigned(math.min(a, b), shards.toLong).toInt

  /** Fold one micro-batch of (a_id, b_id) pairs, routed per shard.
    * Idempotent like the unsharded fold: routing is deterministic, so
    * an at-least-once replay hits the same shards with the same pairs.
    *
    * Atomicity matches [[LiveClusterIndex.merge]]'s check-before-apply:
    * EVERY shard's bound is verified against its sub-batch's new-node
    * count before ANY shard applies, so an overflow leaves the whole
    * index untouched by this batch and an at-least-once retry (after
    * raising the bound or resharding) replays cleanly. */
  def merge(pairs: DataFrame): Unit = {
    val batch = pairs.select(pairs.columns.head, pairs.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySh = batch.groupBy { case (a, b) => shardOf(a, b) }
    bySh.foreach { case (s, sub) =>
      val nn = idx(s).newNodeCount(sub)
      if (idx(s).size + nn > maxNodesPerShard)
        throw new IllegalStateException(
          s"ShardedClusterIndex shard $s bound exceeded: ${idx(s).size} nodes " +
          s"+ $nn new > maxNodesPerShard=$maxNodesPerShard — no sub-batch " +
          "applied. Raise the bound, add shards, or move to the q158 " +
          "contraction path.")
    }
    bySh.foreach { case (s, sub) => idx(s).mergeBatch(sub) }
  }

  /** Global labels: fold every shard's spanning forest into one
    * union-find (min-root, so labels match q84/q158 and the S=1
    * index). Serving-tier cost — see class doc. */
  def labels: Map[Long, Long] = {
    val combined = new LiveClusterIndex(maxNodes = Long.MaxValue)
    idx.foreach(i => combined.mergeBatch(i.labels.toArray))
    combined.labels
  }

  /** Per-shard node counts (each bounded by `maxNodesPerShard`). */
  def shardSizes: Seq[Long] = idx.map(_.size).toSeq

  /** Reshard migration S → S′: rebuild the index at a new shard count
    * from THIS index's per-shard spanning forests — each old shard's
    * (node → root) pairs re-route under the new pair routing. Exact by
    * the forest-merge argument (class doc): CC of a union of edge sets
    * equals CC of the union of per-subset spanning forests, so the
    * migrated index serves identical labels and continues identically
    * under further merges, regardless of old/new S. Serving-tier cost
    * (materializes the forests, not the original pair log). */
  def reshard(newShards: Int,
      maxNodesPerShard: Long = this.maxNodesPerShard): ShardedClusterIndex = {
    val next = new ShardedClusterIndex(newShards, maxNodesPerShard)
    idx.foreach { i =>
      val forest = i.labels.toArray
      forest.groupBy { case (a, b) => next.shardOf(a, b) }
        .foreach { case (s, sub) => next.idx(s).mergeBatch(sub) }
    }
    next
  }

  /** Attach to a streaming pair relation: every micro-batch folds in.
    * A per-shard bound overflow fails this query loudly. */
  def attach(pairs: DataFrame, queryName: String = "sharded_cluster_index") = {
    LocalCheckpointFileManager.install(pairs.sparkSession)
    pairs.writeStream.queryName(queryName)
      .foreachBatch((df: DataFrame, _: Long) => merge(df))
      .start()
  }
}

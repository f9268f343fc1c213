package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QueryScope

/** Connected components by min-label propagation — the canonical way to
  * turn near-duplicate PAIRS (MinHash/SimHash/n-gram candidates) into
  * duplicate CLUSTERS so a corpus keeps exactly one representative per
  * group.
  *
  * Execution model: a driver-side loop over fully distributed
  * iterations (Pregel-style, like GraphX/GraphFrames). Each iteration
  * is one shuffle: labels join the (undirected) edge list, every node
  * takes the min of its own label and its neighbors' labels, and the
  * loop stops when an iteration changes nothing — O(diameter)
  * iterations, which for dedup graphs (small dense clusters) is
  * almost always ≤3. The only driver-side value is the scalar
  * changed-row count; labels never leave the cluster.
  *
  * Scale notes (100 TB): each round's labels are checkpointed locally
  * (eager) so lineage stays one iteration deep, and the previous
  * generation's checkpoint blocks are explicitly released once the new
  * round is materialized (via the LogicalRDD — Dataset.unpersist cannot
  * reach checkpoint storage), so peak storage is two generations
  * regardless of round count. Edges are persisted once and reused every
  * iteration. For adversarial graphs (long chains) switch
  * to the large-star/small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce"), which converges in O(log n) rounds; for
  * dedup workloads the diameter bound is better.
  */
object ConnectedComponents {

  /** @param edges  two-column DataFrame of undirected edges
    * @param driverFallbackEdges  size-adaptive cutover: when the
    *        (directed) edge list is at most this many rows AND the node
    *        ids are longs, labels come from a driver-side union-find
    *        instead of the iterative join loop. Dedup edge lists are
    *        result-sized — usually thousands of pairs even for huge
    *        corpora — and the distributed loop's per-round fixed cost
    *        (2 checkpoint jobs × O(log d) rounds) dwarfs a packed-array
    *        collect at that size. Dedup edge lists are result-sized —
    *        usually thousands of pairs even for huge corpora — so 1M
    *        covers every realistic case with a wide margin. Driver
    *        footprint at the 1M default, all primitive arrays (no
    *        Row/boxing survives the collect): 16 B/directed edge packed
    *        collect + sorted id dedup + int parent / long comp arrays +
    *        two result broadcasts — ~50 MB live. Measured (a
    *        StressMain `ccmem` probe, since retired; whole-local-JVM
    *        peak incl. the edge persist and executor churn — an upper
    *        bound on the driver-only share): ~330 MB at the 1M default over 750k
    *        nodes, ~1.2 GB at 4M over 3M nodes — which is why the
    *        default is 1M, not 4M; above it the distributed loop's
    *        per-round cost amortizes anyway. The
    *        expensive stage (pair GENERATION) is untouched and stays
    *        fully distributed either way. 0 forces the distributed loop.
    * @return ("node", "comp") — comp is the min node id reachable;
    *         only nodes appearing in `edges` are labeled (singletons
    *         are their own component by definition and need no pass).
    *         On the distributed path they are a local checkpoint that
    *         the caller owns, inside a query scope too; `ColumnBridge.
    *         unpersistCheckpoint` or the harness sweep frees it.
    */
  def minLabelPropagation(edges: DataFrame, maxIter: Int = 20,
      driverFallbackEdges: Long = 1000000L): DataFrame = {
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    // Undirect via explode, NOT union(reversed): a union plans the edge
    // subtree twice, and when the edge list is itself an expensive pair
    // join (q84/q89's prefix-filtered all-pairs), the first
    // materialization would run that join twice. One scan, each edge
    // emitting both directions.
    val und = QueryScope.persist(edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))

    // The count materializes the persisted edge list (the seed
    // aggregation needs it materialized anyway) and picks the path.
    val directedCount = und.count()
    val longIds = edges.schema.take(2)
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && directedCount <= driverFallbackEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      // Collect as packed primitive arrays — one Array[Long] per
      // partition, interleaved (src, dst) — so nothing boxed reaches
      // the driver (16 bytes per directed edge, vs ~100+ B/edge for a
      // collect() of GenericRows) and nothing boxed is even allocated
      // executor-side: reading the longs straight off the InternalRow
      // skips the per-row Tuple2 an `as[(Long, Long)]` deserializer
      // would churn through.
      val parts: Array[Array[Long]] = und.queryExecution.toRdd
        .mapPartitions { it =>
          val buf = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { row => buf += row.getLong(0); buf += row.getLong(1) }
          Iterator.single(buf.result())
        }.collect()
      und.unpersist()
      // Index-compress: sorted unique ids, so node index order == id
      // order and the min-index root IS the min-id root the distributed
      // loop converges to (spec-checked against it).
      var total = 0
      parts.foreach(a => total += a.length)
      val all = new Array[Long](total)
      var off = 0
      parts.foreach { a => System.arraycopy(a, 0, all, off, a.length); off += a.length }
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(all, n)
      // min-root union-find with path halving over primitive indices
      val parent = new Array[Int](n)
      i = 0; while (i < n) { parent(i) = i; i += 1 }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      parts.foreach { a =>
        var j = 0
        while (j < a.length) {
          val ra = find(java.util.Arrays.binarySearch(ids, a(j)))
          val rb = find(java.util.Arrays.binarySearch(ids, a(j + 1)))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          j += 2
        }
      }
      val comp = new Array[Long](n)
      i = 0; while (i < n) { comp(i) = ids(find(i)); i += 1 }
      // Materialize the labels distributed — broadcast the two primitive
      // arrays and let executors emit rows, rather than building a boxed
      // Seq[(Long, Long)] of up to 8M tuples on the driver.
      val sc = spark.sparkContext
      val idsB = sc.broadcast(ids)
      val compB = sc.broadcast(comp)
      return sc.range(0L, n.toLong)
        .map(k => (idsB.value(k.toInt), compB.value(k.toInt)))
        .toDF("node", "comp")
    }

    // Local checkpoint (eager) after every round: it materializes the
    // labels AND truncates lineage, so the logical plan stays one
    // iteration deep — without it the plan tree doubles per round
    // (labels appears twice in each update) and planning itself blows
    // up exponentially. On a real cluster swap in reliable
    // checkpointing (spark.checkpoint.dir) so executor loss can't drop
    // a generation.
    // Seed labels with round 1 already applied: comp₀ = min(node, min
    // neighbor). One aggregation replaces the distinct-nodes pass AND
    // the first propagation round — same result, one fewer join +
    // checkpoint generation in the loop.
    var labels = QueryScope.checkpoint(und.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("comp"))
      .select(col("src").as("node"), col("comp")))

    var last = labels // the newest checkpoint generation
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label among each node's neighbors (partial-aggregated map-side)
      val nbrMin = und.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("comp")).as("nbr_comp"))
      val prevLabels = labels
      val prop = QueryScope.checkpoint(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp")))
      // prop is materialized (the checkpoint is eager), so the previous
      // generation's blocks can be released — without this the job
      // accumulates one persisted generation per round
      org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(prevLabels)
      // path halving: follow the label pointer one level (comp :=
      // comp(comp)) — labels double their hop distance per round, so
      // convergence needs O(log diameter) rounds instead of O(diameter).
      // Correct because comp(x) is reachable from x and labels only
      // decrease toward the component min. prop is checkpointed above,
      // so the self-join reuses the materialized round, not the plan.
      val ptr = prop.select(col("node").as("p_node"), col("comp").as("p_comp"))
      // convergence metric rides the checkpoint's materialization job
      // via observe() — one job, no separate count
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = QueryScope.checkpoint(prop.join(ptr, prop("comp") === ptr("p_node"), "left")
        .select(prop("node"), prop("old_comp"),
          least(prop("comp"), coalesce(col("p_comp"), prop("comp"))).as("comp"))
        .observe(obs, sum(when(col("comp") < col("old_comp"), 1L).otherwise(0L)).as("changed")))
      val changed = obs.get("changed").asInstanceOf[Long]
      // next is materialized; the intermediate prop generation (its
      // only consumer) can be released.
      org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(prop)
      last = next
      labels = next.select("node", "comp")
      converged = changed == 0
      iter += 1
    }
    und.unpersist()
    // The final labels stay persisted for the caller, outside the query
    // scope: with its blocks gone, a checkpoint fails to run again
    // rather than recompute, and only the caller knows its last run.
    QueryScope.disown(last)
    labels
  }

  /** Incremental connected-components update — the deployment split of
    * q158 as a first-class operator (SCALE.md round-18: a recomputed
    * base clustering was ~68% of the benchmarked leg; a real ingest
    * loop READS it as stored state and pays only what follows).
    *
    * Given the STORED base clustering (`baseLabels`: first two columns
    * node → comp, where comp is the min node id of the base component —
    * exactly [[minLabelPropagation]]'s output) and a cohort's new
    * candidate edges (`deltaEdges`: two node columns; endpoints may be
    * base nodes, new nodes, or both), produces the clustering of the
    * UNION graph without touching base edges:
    *
    *  1. CONTRACT: map each delta endpoint through its stored label
    *     (unlabeled nodes pass through as themselves) — two broadcast-
    *     or hash-equi-joins at DELTA grain; self-loops and duplicate
    *     contracted edges drop before the solve.
    *  2. SOLVE: CC on the contracted graph, whose size is (affected
    *     base clusters + new nodes), never the corpus — measured at 30×
    *     stress: 449k contracted edges / 30k nodes from a 2.4M-pair
    *     relation, small enough for the driver union-find fallback.
    *  3. COMPOSE: every node maps node → stored label (or itself) →
    *     contracted component.
    *
    * Output: `(node, base_comp, comp)` for every node in `baseLabels`
    * or `deltaEdges` — `base_comp` is null for new nodes (kept so merge
    * censuses like q158's base-cluster count need no extra join), and
    * `comp` equals what [[minLabelPropagation]] would return on the
    * full edge union (exact, not approximate: a base label IS the min
    * id of its base component, so the contracted min-label is the
    * global min of the merged component — IncrementalCcSpec proves
    * equality against full recomputes on randomized graphs). Work is
    * O(|delta|) plus two equi-joins against the label table; the base
    * EDGE set is never read, which is the entire point at 100 TB. */
  def incrementalUpdate(baseLabels: DataFrame, deltaEdges: DataFrame,
      maxIter: Int = 20, driverFallbackEdges: Long = 1000000L): DataFrame = {
    val Seq(ea, eb) = deltaEdges.columns.toSeq.take(2)
    val Seq(bn, bc) = baseLabels.columns.toSeq.take(2)
    val bl = baseLabels.select(col(bn).as("node"), col(bc).as("base_comp"))
    val contracted = deltaEdges
      .join(bl.select(col("node").as(ea), col("base_comp").as("la")), Seq(ea), "left")
      .join(bl.select(col("node").as(eb), col("base_comp").as("lb")), Seq(eb), "left")
      .select(coalesce(col("la"), col(ea)).as("ca"),
        coalesce(col("lb"), col(eb)).as("cb"))
      .where(col("ca") =!= col("cb"))
      .distinct()
    val delta2 = minLabelPropagation(contracted, maxIter, driverFallbackEdges)
      .select(col("node").as("cid"), col("comp").as("l2"))
    val allNodes = bl.select("node")
      .unionAll(deltaEdges.select(col(ea).as("node")))
      .unionAll(deltaEdges.select(col(eb).as("node")))
      .distinct()
    allNodes
      .join(bl, Seq("node"), "left")
      .select(col("node"), col("base_comp"),
        coalesce(col("base_comp"), col("node")).as("cid"))
      .join(delta2, Seq("cid"), "left")
      .select(col("node"), col("base_comp"),
        coalesce(col("l2"), col("cid")).as("comp"))
  }
}

package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Value-level twins for the statistics/evaluation batch: Misra–Gries
  * forced through its eviction path against brute force, PageRank
  * replayed in driver-side fixed-point arithmetic, the kNN eval
  * reconciled with the classifier it measures, and the threshold sweep's
  * confusion-quadrant invariants. Exact cross-engine hashes are the
  * driver's DuckDB gate at sf0.01.
  */
class Curation8Spec extends SparkSpecBase {

  test("Misra–Gries candidates are a superset of true heavy hitters under forced eviction") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 60) {
      // Zipf-ish stream over a vocabulary far above the capacity, so
      // decrement-all eviction fires constantly (unlike the test corpus,
      // whose vocab fits the production capacity).
      val vocab = 200
      val n = 2000 + rnd.nextInt(3000)
      val stream = Seq.fill(n) {
        val r = rnd.nextDouble()
        if (r < 0.5) s"hot${rnd.nextInt(5)}"          // few heavy keys
        else s"cold${rnd.nextInt(vocab)}"              // long tail
      }
      val capacity = 20
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val candidates = Curation8.misraGries(stream.iterator, capacity).toSet
      // the MG guarantee: every item with freq > N/(capacity+1) survives
      val guaranteed = exact.collect { case (k, c) if c * (capacity + 1) > n => k }
      val missing = guaranteed.filterNot(candidates)
      assert(missing.isEmpty, s"MG dropped guaranteed heavy hitters: $missing")
      // summary never exceeds its capacity bound
      assert(candidates.size <= capacity)
      // and the q145 pipeline shape — exact confirm over candidates at
      // support N/10 (> the N/21 guarantee line) — equals brute force
      val confirmed = candidates.toSeq
        .map(k => k -> exact(k)).filter { case (_, c) => c * 10 >= n }.toMap
      val brute = exact.filter { case (_, c) => c * 10 >= n }
      assert(confirmed == brute)
    }
  }

  test("q145 exact-confirm output equals a plain exact aggregate (sketch-independence)") {
    // The operator's defining property: the output is EXACT — identical
    // to the result of the (scale-hostile) full groupBy — no matter
    // what the per-partition summaries kept or evicted.
    val docs = graft.Tables(spark, sfDir).documents
    val t = col("_t")
    val brute = docs.withColumn("_t", split(col("text"), " "))
      .where(size(t) >= 2)
      .select(explode(transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = brute.agg(sum(col("cnt")).as("n")).head().getLong(0)
    val expected = brute.collect().map(r => (r.getString(0), r.getLong(1)))
      .filter { case (_, c) => c * 1000 >= total }
      .sortBy { case (w, c) => (-c, w) }.toSeq
    val got = Curation8.q145.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("q146 matches a driver-side fixed-point PageRank replay") {
    val edges = Dedup.allPairsJaccard(spark, sfDir, 0.5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = deg.keys.toSeq.sorted
    val n = nodes.size.toLong
    assert(n > 0, "test corpus has no dup edges — the replay would be vacuous")
    val S = 1000000000000L
    val base = 15L * S / (100L * n)
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 8) {
      val contrib = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      und.foreach { case (u, v) =>
        contrib(v) += (85L * r(u)) / (100L * deg(u))
      }
      r = nodes.map(v => v -> (base + contrib(v))).toMap
    }
    val expected = nodes.map(v => (v, r(v))).sortBy { case (v, s) => (-s, v) }.take(20)
    // default path: the ≤1M-edge graph collapses onto the driver
    val got = Curation8.q146.run(spark, sfDir).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq
    assert(got == expected)
    // forced-distributed path must produce the identical ranking — the
    // cutover can never change the answer
    val dist = Curation8.pageRank(spark, sfDir, driverFallbackEdges = 0L).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq
    assert(dist == expected)
  }

  private def eventually(timeoutMs: Long = 20000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(200); ok = cond }
    ok
  }

  // Every persist q146's build makes — the loop's und/deg/withDeg and
  // the pair build's d/prefix — belongs to the query's scope, and must
  // release exactly when the returned head executes, not when an
  // unrelated query does. The session starts with no cached RDD, so
  // "none of the query's persists remain" is an empty RDD registry.
  private def nCachedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  test("q146 loop persists survive an unrelated execution and release after the head runs") {
    try {
      spark.catalog.clearCache()
      assert(nCachedRdds == 0, "stale caches before test")
      // force the distributed path
      val head = graft.QueryScope(spark)(Curation8.pageRank(spark, sfDir, driverFallbackEdges = 0L))
      // construction materialized und (edge count) and deg (node count)
      // plus the pair build's persists
      val n0 = nCachedRdds
      assert(n0 >= 4, s"expected pair-build + loop persists materialized, saw $n0")
      // FOUR unrelated executions (past the fallback COUNT) must not
      // drop the caches out from under the not-yet-materialized loop:
      // the wall-clock grace (60 s default) holds them — exactly the
      // deferred-materialization caller the time gate protects
      (1 to 4).foreach(_ => spark.range(10).count())
      Thread.sleep(1000) // listener bus is async — give a wrong fire time to land
      assert(nCachedRdds == n0,
        "unrelated executions released the q146 caches inside the time grace")
      head.collect() // materializes withDeg, then the scope releases everything
      assert(eventually()(nCachedRdds == 0),
        s"executing the head must release every persist of the query (have $nCachedRdds, started $n0)")
      assert(!graft.QueryScope.isOpen(head), "the released scope is still listening")
    } finally spark.catalog.clearCache()
  }

  test("q146 plan-only caller: persists release after the unrelated-execution count AND time grace") {
    try {
      spark.catalog.clearCache()
      // head never executed (PlanShapeSpec's pattern); a zero grace
      // collapses the time gate for the spec
      graft.QueryScope(spark, graceMs = 0L)(Curation8.pageRank(spark, sfDir, driverFallbackEdges = 0L))
      val n0 = nCachedRdds
      assert(n0 >= 4)
      (1 to 4).foreach(_ => spark.range(10).count()) // > UnrelatedGrace
      assert(eventually()(nCachedRdds == 0),
        s"plan-only q146 leaked its persists past the grace window (have $nCachedRdds, started $n0)")
    } finally spark.catalog.clearCache()
  }

  test("q158 incremental clustering census equals a full-graph recompute") {
    // full recompute: CC over ALL pairs, then the same census — the
    // path the incremental operator exists to avoid
    val pairs = Dedup.allPairsJaccard(spark, sfDir, 0.5).select(col("a_id"), col("b_id"))
    val full = graft.operators.ConnectedComponents.minLabelPropagation(pairs)
      .select(col("node"), col("comp").as("cluster_id"))
    val basePairs = pairs
      .where(pmod(col("a_id"), lit(5L)) =!= 0 && pmod(col("b_id"), lit(5L)) =!= 0)
    val baseLabels = graft.operators.ConnectedComponents.minLabelPropagation(basePairs)
      .select(col("node"), col("comp").as("l1"))
    val j = full.join(baseLabels, Seq("node"), "left")
    val docAgg = j.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pmod(col("node"), lit(5L)) =!= 0, 1L).otherwise(0L)).as("n_base_docs"),
        sum(when(pmod(col("node"), lit(5L)) === 0, 1L).otherwise(0L)).as("n_new_docs"))
    val bAgg = j.where(col("l1").isNotNull).select("cluster_id", "l1").distinct()
      .groupBy("cluster_id").agg(count(lit(1)).as("n_base_clusters"))
    val expected = docAgg.join(bAgg, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_docs"), col("n_base_docs"), col("n_new_docs"),
        coalesce(col("n_base_clusters"), lit(0L)).as("n_base_clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    val got = Curation8.q158.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // and the ingest actually merged something (the census is non-trivial)
    assert(got.nonEmpty && got.map(_._4).sum > 0, "no new-cohort docs in any cluster")
  }

  test("q159 sweep is monotone: tightening the threshold only shrinks the graph") {
    val rows = Curation8.q159.run(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0.5, 0.9, 0.95, 0.98))
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi._2 <= lo._2, "pairs must not grow as the threshold rises")
        assert(hi._3 <= lo._3, "clustered docs must not grow as the threshold rises")
        assert(hi._5 <= lo._5, "the largest cluster can only shrink or split")
      case _ => ()
    }
    rows.foreach { case (_, nPairs, nDocs, nClusters, largest) =>
      if (nPairs > 0) {
        assert(nDocs >= 2 * nClusters, "every cluster holds at least two pair members")
        assert(largest <= nDocs && nClusters <= nDocs)
      } else assert(nDocs == 0 && nClusters == 0 && largest == 0)
    }
  }

  test("q147 reconciles exactly with the classifier it evaluates") {
    val preds = Curation5.knnPredictions(spark, sfDir, 100).collect()
      .map(r => (r.getInt(1), r.getInt(2))) // (true_label, pred_label)
    val classes = (preds.map(_._1) ++ preds.map(_._2)).distinct.sorted.toSeq
    val expected = classes.map { c =>
      val support = preds.count(_._1 == c).toLong
      val tp = preds.count(p => p._1 == c && p._2 == c).toLong
      val predicted = preds.count(_._2 == c).toLong
      val prec = if (predicted == 0) 0.0 else tp.toDouble / predicted
      val recall = if (support == 0) 0.0 else tp.toDouble / support
      (c, support, tp, predicted, prec, recall)
    }
    val got = Curation8.q147.run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == preds.length.toLong) // supports cover every query
    assert(got.map(_._4).sum == preds.length.toLong) // predictions do too
  }

  test("q148 confusion quadrants are consistent and monotone in the threshold") {
    val rows = Curation8.q148.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 16)
    val nPos = rows.head._2 + rows.head._4 // tp + fn at any threshold
    val total = rows.head._2 + rows.head._3 + rows.head._4 + rows.head._5
    rows.foreach { case (_, tp, fp, fn, tn) =>
      assert(tp + fn == nPos, "positives must be threshold-invariant")
      assert(tp + fp + fn + tn == total, "quadrants must cover the holdout")
    }
    // raising the threshold can only shrink the kept set
    rows.sliding(2).foreach { case Array((_, tp1, fp1, _, _), (_, tp2, fp2, _, _)) =>
      assert(tp2 <= tp1 && fp2 <= fp1, "kept set must shrink as the threshold rises")
    }
    // holdout and training slices are disjoint by construction: even ids
    // train, odd ids evaluate — so the sweep is an honest held-out curve
    val docs = graft.Tables(spark, sfDir).documents
    val evenOdd = docs.select((col("doc_id") % 2 === 0).as("even")).distinct().count()
    assert(evenOdd == 2, "test corpus must contain both parities for the split to mean anything")
  }
}

package graft.plans

import graft.{SparkEntry, SparkSpecBase}

/** Physical-plan shape gates for the pair-space operators: none of them
  * may plan a BroadcastNestedLoopJoin or CartesianProduct over the
  * corpus — the two shapes that are fine at test SF and fatal at 100×.
  * (Broadcast of a small *scalar/query/centroid* side is fine and
  * appears as BroadcastHashJoin / BroadcastExchange instead.)
  */
class PlanShapeSpec extends SparkSpecBase {

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  for (q <- Seq("q100_allpairs_jaccard", "q84_dup_clusters",
                "q89_curation_pipeline", "q28_dedup_ngram", "q29_dedup_minhash",
                "q103_decontamination", "q108_source_dup_matrix",
                "q138_cluster_split", "q177_minhash_calibration",
                "q183_exact_substring", "q187_line_dedup"))
    test(s"$q plans no nested-loop or cartesian corpus join") {
      val plan = executed(q)
      assert(!plan.contains("BroadcastNestedLoop"), s"$q plans BroadcastNestedLoopJoin")
      assert(!plan.contains("CartesianProduct"), s"$q plans CartesianProduct")
    }

  // q139's census reads the near-dup pair relation from ONE persisted
  // build: on the distributed path every leaf of the optimized plan
  // must be an InMemoryRelation (InMemoryRelation is a logical LEAF, so
  // collect() does not descend into the cached plan — a live
  // LogicalRelation here would mean a branch re-running the
  // prefix-filtered pair join instead of reading the cache).
  test("q139 distributed census reads the single persisted pair build, no re-scan") {
    // q139's own body with a zero cutover: the distributed path
    val lp = graft.queries.Curation7.triangleCensus(
      graft.queries.Curation7.dupEdges(spark, sfDir), driverFallbackEdges = 0L)
      .queryExecution.optimizedPlan
    val leaves = lp.collectLeaves().map(_.getClass.getSimpleName)
    assert(leaves.nonEmpty && leaves.forall(_ == "InMemoryRelation"),
      s"census leaves must all be the edge/oriented caches, got: $leaves")
  }

  // q163's keep set must ride the bounded-heap TopK aggregate, not a
  // row_number window: a Window would shuffle and sort every document
  // into |sources| tasks for a K-row-per-source answer (the q149
  // lesson, gated the same way).
  test("q163_source_cap keeps per-source heads via TopK aggregate, not a Window sort") {
    val plan = executed("q163_source_cap")
    assert(!plan.contains("Window"), s"q163 plans a Window over the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct"), "q163 plans CartesianProduct")
  }

  // q164 has no pair space at all: assignment is a map over the corpus
  // (its only loop join is the 1-row SQ8-stats broadcast, which may
  // print once per reference to the cached assignment relation), and
  // every cell join is a broadcast equi-join on cent_id.
  test("q164_embedding_outliers cell joins are broadcast equi-joins, no cartesian") {
    val plan = executed("q164_embedding_outliers")
    assert(!plan.contains("CartesianProduct"), "q164 plans CartesianProduct")
    assert(plan.contains("BroadcastHashJoin"),
      s"q164 cell joins are not broadcast equi-joins:\n$plan")
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(!l.contains("cent_id"),
        s"q164 loop join carries the cell key (pair-space smell): $l")
    }
  }

  // q33's only loop join is the 1-row corpus-size guard broadcast (the
  // in-plan assert_true replacing the old eager count() — see the
  // planning-launches-no-job gate below); the pair stage itself must be
  // an equi-join on the triangle block keys, never a corpus loop join.
  test("q33_dedup_embed loop join is the scalar guard only; pair join is equi") {
    val plan = executed("q33_dedup_embed")
    val loopJoins = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(loopJoins <= 1, s"q33 plans $loopJoins loop joins; only the scalar guard is allowed")
    assert(plan.contains("_corpus_n"), "q33's in-plan corpus-size guard is missing")
    val pairJoinIsEqui = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(pairJoinIsEqui, "q33 pair join planned as a non-equi join")
    assert(!plan.contains("CartesianProduct"), "q33 plans CartesianProduct")
  }

  // q107 (like q31/q37) legitimately broadcasts the 16-row centroid set
  // against the corpus — a map-only pass that stringifies as
  // BroadcastNestedLoopJoin. The gate for it is that the PAIR stage is
  // an equi-join on the cell id, never a corpus-level loop join.
  test("q107_semdedup pair stage is an equi-join on the quantizer cell") {
    val plan = executed("q107_semdedup")
    assert(plan.contains("cent_id"), "cell key missing from plan")
    val pairJoinIsEqui = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(pairJoinIsEqui, "q107 pair join planned as a non-equi join")
    assert(!plan.contains("CartesianProduct"), "q107 plans CartesianProduct")
  }

  // q109's only loop joins are the 1-row scalar broadcasts (corpus
  // total, tempered-share normalizer — the q105 pattern); the per-doc
  // joins (bucket offsets, language budgets) must be equi-joins.
  test("q109_token_budget_mix loop joins are scalar-only; doc joins are equi") {
    val plan = executed("q109_token_budget_mix")
    val docCols = Seq("doc_id", "bucket#", "h#")
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(!docCols.exists(l.contains), s"corpus-level loop join: $l")
    }
    assert(plan.contains("BroadcastHashJoin"), "doc-level joins should be broadcast equi-joins")
    assert(!plan.contains("CartesianProduct"), "q109 plans CartesianProduct")
  }

  // Registry-wide: an unpartitioned window puts its WHOLE input through
  // one task ("No Partition Defined for Window" in the logs) — fatal
  // when the input is corpus- or vocabulary-sized. The only tolerated
  // shape is a window whose input subtree is provably bounded: under a
  // limit, or over an aggregate grouped by a pmod-by-literal bucket key
  // (a fixed-domain key — q110's ≤B-row bucket-offset aggregate).
  test("no unpartitioned window over unbounded input anywhere in the registry") {
    import org.apache.spark.sql.catalyst.expressions.Pmod
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    def bounded(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case _: GlobalLimit => ()
        case _: LocalLimit => ()
        case a: Aggregate if a.collectFirst {
          case n if n.expressions.exists(_.exists {
            case p: Pmod => p.right.foldable
            case _ => false
          }) => ()
        }.isDefined => ()
      }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => name
      }
    }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: ${offenders.mkString(", ")}")
  }

  // q102's encode/ADC stages are codegen kernels (PqEncode/PqAdc): the
  // corpus side must stay map-only — the old posexplode dataflow built
  // an M·K-row intermediate per vector BELOW the candidate head. r19:
  // both heads are bounded-heap TopK aggregates (ObjectHashAggregate +
  // a ≤k-element posexplode ABOVE them — allowed); a row_number Window
  // reappearing means the |corpus|×|queries| shuffle into ≤|queries|
  // reducers is back.
  test("q102_ann_pq: kernel dataflow + bounded-heap heads (no Window, explode only above the heap)") {
    val plan = executed("q102_ann_pq")
    assert(!plan.contains("Window"), s"q102 plans a Window head:\n$plan")
    // every Generate must sit above a TopK aggregate (an explode of a
    // ≤k heap array), never in the encode path: exactly two — the
    // 256-candidate shortlist explode and the final top-5 posexplode.
    val gens = plan.linesIterator.count(_.contains("Generate"))
    assert(gens == 2, s"q102 expected exactly the 2 head explodes, got $gens:\n$plan")
  }

  // IVF assignment is a map-only kernel (NearestCentroidId with the
  // quantizer as driver state): a HashAggregate over the ASSIGNMENT
  // means the crossJoin(centroids) → max_by dataflow is back — it
  // re-shuffles every vector NList times with the embedding on every
  // row (6.5× slower at 10× sf0.1). r19: the per-query head is the
  // bounded-heap TopK (ObjectHashAggregate) instead of a row_number
  // Window, so the gate pins: kernel assignment present, no Window, no
  // Hash/SortAggregate (TopK's ObjectHashAggregate is the one allowed
  // aggregate).
  test("q37/q37b IVF search: kernel assignment, bounded-heap head, no window/max_by") {
    for (q <- Seq("q37_ann_ivf", "q37b_ann_ivf_kmeans")) {
      val plan = executed(q)
      assert(plan.contains("graft_nearest_centroid"),
        s"$q lost the assignment kernel:\n$plan")
      assert(!plan.contains("Window"), s"$q plans a Window head:\n$plan")
      val hashOrSortAgg = plan.linesIterator.exists(l =>
        (l.contains("HashAggregate") && !l.contains("ObjectHashAggregate")) ||
          l.contains("SortAggregate"))
      assert(!hashOrSortAgg,
        s"$q plans a hash/sort aggregate (max_by assignment dataflow is back?):\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q lost the bounded-heap TopK head:\n$plan")
    }
  }

  // q118's head must be a TakeOrderedAndProject (per-partition top-k
  // merged on the driver — the q80 pattern): a Sort+Limit planning as a
  // global sort would shuffle every matching doc at 100 TB.
  test("q118_bm25_topk head is TakeOrderedAndProject, not a global sort") {
    val plan = executed("q118_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q118 top-k did not plan TakeOrderedAndProject:\n$plan")
  }

  // q139's only loop joins are the three 1-row census aggregates
  // cross-joined into the single report row; the graph-keyed stages
  // (degree joins, wedge pairing, closing-edge semi-join) must all be
  // equi-joins — a loop join carrying an edge endpoint would be the
  // all-pairs shape the degree orientation exists to avoid.
  test("q139_dup_graph_triangles loop joins are 1-row census joins only") {
    val plan = executed("q139_dup_graph_triangles")
    val graphCols = Seq("a_id", "b_id", "node", "u#", "v#")
    plan.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      .foreach { l =>
        assert(!graphCols.exists(l.contains), s"graph-keyed loop join: $l")
      }
  }

  // q142's head must also be a TakeOrderedAndProject: the scored
  // bigram relation is vocabulary-sized and a global sort of it would
  // shuffle the whole vocabulary for a 25-row answer.
  test("q142_pmi_collocations head is TakeOrderedAndProject, not a global sort") {
    val plan = executed("q142_pmi_collocations")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q142 top-k did not plan TakeOrderedAndProject:\n$plan")
  }

  // q137's whole dataflow — lag, running sum, and the session aggregate
  // — must ride ONE user_id hash exchange: the windows share their sort
  // and the groupBy(user_id, sess_idx) clustering is satisfied by the
  // existing partitioning on the prefix key. A second hash exchange
  // means the event log shuffles twice at 100 TB. (The display orderBy
  // plans a separate range exchange; only hash exchanges are counted.)
  test("q137_sessionize plans exactly one hash exchange") {
    val plan = executed("q137_sessionize")
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"q137 plans $hashExchanges hash exchanges (want 1):\n$plan")
  }

  // q80 references the tokenize+groupBy counts subtree three times (both
  // sides of the head self-join plus the corpus total); its single-scan
  // execution depends on ReuseExchange canonicalization firing. If a
  // refactor ever breaks canonical equality, the corpus gets tokenized
  // and aggregated up to 3x — this gate catches that silently-correct
  // regression.
  test("q80_zipf executes with a reused exchange (counts computed once)") {
    val df = SparkEntry.queries("q80_zipf")(spark, sfDir)
    // execute THIS QueryExecution (count() would plan a separate one and
    // leave df's adaptive plan un-finalized) so AQE's runtime stage
    // reuse is visible in the final plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("reuses"),
      s"q80 executed plan shows no exchange reuse:\n$plan")
  }

  // The brute-ANN heads (q31/q121/q123's neighbor stage) use the
  // bounded-heap partial top-k (graft.functions.TopK), not a
  // row_number window: a Window here means every scored corpus row
  // shuffles into ≤|queries| partitions and sorts on one task. The
  // aggregate must also partial map-side (two ObjectHashAggregate
  // levels), so only k-row partials reach the exchange.
  for (q <- Seq("q31_ann_brute", "q121_ann_sq8", "q123_knn_label",
                "q125_bm25_queries", "q129_hybrid_rrf", "q134_cell_exemplars",
                "q135_hard_negatives", "q140_cell_outliers", "q147_knn_eval",
                "q149_inspection_sample", "q150_label_noise",
                "q153_index_recall_sweep", "q173_knn_margin"))
    test(s"$q head is a partial top-k aggregate, not a per-query window sort") {
      val plan = executed(q)
      assert(!plan.contains("Window"), s"$q plans a Window head:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q head did not plan the TopK ObjectHashAggregate:\n$plan")
      assert(plan.contains("partial_"),
        s"$q TopK aggregate is not map-side partial:\n$plan")
    }

  // The lexical-model curation stages (q131 vote table, q132 boilerplate
  // set) broadcast their VOCABULARY-sized learned artifact against the
  // corpus scan: the corpus-side join must be a BroadcastHashJoin, and
  // the only loop joins allowed are the 1-row scalar count broadcasts
  // (which never carry the doc key).
  for (q <- Seq("q131_seed_vote_classifier", "q132_boilerplate_purge"))
    test(s"$q broadcasts the learned artifact; loop joins are scalar-only") {
      val plan = executed(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q corpus join is not a broadcast equi-join:\n$plan")
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(!l.contains("doc_id"), s"$q corpus-level loop join: $l")
      }
      assert(!plan.contains("CartesianProduct"), s"$q plans CartesianProduct")
    }

  // q145's confirm pass must reach the bigram stream through a BROADCAST
  // semi-join on the sketch-produced candidate set: a shuffled semi-join
  // would re-shuffle the full token grain — exactly what the
  // Misra–Gries pass exists to avoid. The only aggregates shuffled are
  // candidate-keyed (≤ capacity × partitions rows).
  test("q145_heavy_hitters confirm pass is a broadcast semi-join on candidates") {
    val plan = executed("q145_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"q145 confirm join is not a broadcast semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "q145 plans CartesianProduct")
  }

  // q146's head must be a TakeOrderedAndProject: rank state is
  // node-sized, but at 100 TB the node set is the full corpus and a
  // global sort of it for a 20-row answer is the q118/q142 smell.
  test("q146_pagerank distributed head is TakeOrderedAndProject, not a global sort") {
    // force the distributed loop (the default path collapses the test
    // graph onto the driver under the 1M-edge cutover)
    val plan = graft.queries.Curation8.pageRank(spark, sfDir, driverFallbackEdges = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q146 top-k did not plan TakeOrderedAndProject:\n$plan")
  }

  // q148's only loop join is the broadcast 16-row threshold grid against
  // the seed-sized scored relation — it must never carry the corpus
  // (doc_id/text) through a loop join.
  test("q148_vote_threshold_sweep loop joins carry the grid, never the corpus") {
    val plan = executed("q148_vote_threshold_sweep")
    plan.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      .foreach { l =>
        assert(!l.contains("doc_id") && !l.contains("text"),
          s"q148 corpus-level loop join: $l")
      }
    assert(plan.contains("BroadcastHashJoin"),
      s"q148 vote-table join is not a broadcast equi-join:\n$plan")
  }

  // Merely PLANNING q33 must launch no Spark job: its corpus-size guard
  // is a broadcast-scalar assert_true inside the plan, not an eager
  // count() at build time.
  test("planning q33_dedup_embed launches no job") {
    // warm the table/file-listing path so it can't be attributed below
    graft.Tables(spark, sfDir).embeddings.queryExecution.executedPlan
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("q33_dedup_embed")(spark, sfDir).queryExecution.executedPlan
      Thread.sleep(500) // let any job-start events drain through the bus
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() == 0, s"planning q33 launched ${jobs.get()} job(s)")
  }

  // q165's two distinct-counts must come from the two-level aggregate
  // chain, never a multi-count-distinct Expand (which doubles the
  // corpus-sized fingerprint relation through the shuffle — the q157
  // discipline).
  test("q165_normalized_dedup counts distincts without Expand, no array materialization") {
    val plan = executed("q165_normalized_dedup")
    assert(!plan.contains("Expand"), s"q165 plans an Expand doubling:\n$plan")
    assert(!plan.contains("CartesianProduct"), "q165 plans CartesianProduct")
    // the dirty renderings come from a base ∪ filtered-mangled pair of
    // pruned columnar scans, NOT a single-scan array-explode: the
    // explode materializes every text into ArrayData (copied twice) and
    // measured 2.4x slower than the second scan at sf0.1
    assert(!plan.contains("Generate"), s"q165 copies the corpus through an explode:\n$plan")
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 2, s"q165 plans $scans corpus scans, expected the union pair:\n$plan")
  }

  // q166's reconciliation join must be a hash-partitioned full-outer
  // EQUI-join on doc_id over the fingerprint projections — never a loop
  // join, and never a broadcast (both snapshots are corpus-sized).
  test("q166_snapshot_diff reconciles via a shuffled full-outer equi-join") {
    val plan = executed("q166_snapshot_diff")
    assert(!plan.contains("BroadcastNestedLoop"), "q166 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q166 plans CartesianProduct")
    assert(plan.contains("FullOuter"), s"q166 did not plan a full-outer join:\n$plan")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin").exists(plan.contains)
    assert(equi, s"q166 full-outer join is not a shuffled equi-join:\n$plan")
  }

  // q167's duplicated-span relation is corpus-derived and potentially
  // huge (web-scale boilerplate tables): the span join must be an
  // EQUI-join — loop/cartesian shapes are fatal at 100× — and dup
  // counting rides the two-level aggregate (no count-distinct Expand).
  // Whether the equi-join broadcasts or shuffles is a stats decision
  // (at test SF the span table IS broadcast-sized; at scale the same
  // plan resolves to SortMergeJoin), so the gate pins the join FAMILY,
  // not the exchange strategy.
  test("q167_span_purge span join is an equi-join, no Expand") {
    val plan = executed("q167_span_purge")
    assert(!plan.contains("BroadcastNestedLoop"), "q167 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q167 plans CartesianProduct")
    assert(!plan.contains("Expand"), s"q167 plans an Expand doubling:\n$plan")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(equi, s"q167 span join is not an equi-join:\n$plan")
  }

  // q168 is the q165 census riding the unicode kernel: same two-level
  // aggregate, so the distinct counts must never plan an Expand, and
  // the whole query is scan→project→aggregate (no join, no Generate).
  test("q168_unicode_fold_census keeps the census shape: no Expand, no Generate") {
    val plan = executed("q168_unicode_fold_census")
    assert(!plan.contains("Expand"), s"q168 plans an Expand doubling:\n$plan")
    assert(!plan.contains("Generate"), s"q168 plans a Generate:\n$plan")
    assert(!plan.contains("CartesianProduct"), "q168 plans CartesianProduct")
  }

  // q170's rule signals are all per-row higher-order functions: the
  // whole query is scan→project→(display sort) — any hash exchange,
  // join, or Generate means a signal left the row (fatal when every
  // downstream filter join wants this as a cheap map stage).
  test("q170_gopher_rules is map-only: no hash exchange, no join, no Generate") {
    val plan = executed("q170_gopher_rules")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q170 plans a hash exchange for a per-row signal:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q170 plans a join:\n$plan")
    assert(!plan.contains("Generate"), s"q170 plans a Generate:\n$plan")
  }

  // q185/q186 are the repetition half of the Gopher rule family: the
  // duplicate counting (array_distinct) and the top-n-gram argmax
  // (sorted in-row fold) both stay inside the row — the same map-only
  // contract as q170. Any hash exchange, join, or Generate means a
  // per-doc signal left the row and the filter stopped being a cheap
  // map stage at corpus scale.
  for (name <- Seq("q185_gopher_dup_lines", "q186_gopher_top_ngram"))
    test(s"$name is map-only: no hash exchange, no join, no Generate") {
      val plan = executed(name)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name plans a hash exchange for a per-row signal:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        s"$name plans a join:\n$plan")
      assert(!plan.contains("Generate"), s"$name plans a Generate:\n$plan")
    }

  // q188 (r16): the fused typed kernel computes all six duplicate
  // censuses AND coverage fractions per row, so the query is MAP-ONLY
  // — no Generate, no hash exchange, no window sorts; the only
  // exchange is the display orderBy's range partitioning. A hash
  // exchange or Generate reappearing means token-grain data left the
  // row again (the pre-r16 12-sort dataflow this kernel replaced).
  test("q188_gopher_dup_ngrams: map-only fused kernel — no explode, no hash exchange, no joins") {
    val plan = executed("q188_gopher_dup_ngrams")
    assert(!plan.contains("Generate"), s"q188 plans a Generate:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q188 plans a hash exchange for a per-row signal:\n$plan")
    assert(!plan.contains("Window"), s"q188 plans a window:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q188 plans a join:\n$plan")
  }

  // q187's joins are the hash equi-join of line positions against the
  // duplicated-hash census and the per-doc bill join — never a
  // line×line pair relation (that is the loop gate above). The line
  // explode instantiates exactly twice (the census-build branch and the
  // probe branch — one logical explode, the q183 shape); the BILL side
  // must NOT explode (line counts project map-side as size(lines)), so
  // a third Generate means the corpus exploded for a per-doc count.
  test("q187_line_dedup: two explode instances (census+probe), none on the bill side") {
    val plan = executed("q187_line_dedup")
    val generates = plan.linesIterator.count(_.contains("Generate posexplode"))
    assert(generates == 2,
      s"q187 explodes the corpus $generates times (want census+probe = 2):\n$plan")
  }

  // q171's row_number window and domain census must SHARE one domain
  // hash exchange (the q137 discipline): the groupBy(domain) clustering
  // is satisfied by the window's partitioning, so a second hash
  // exchange means the corpus shuffles twice for one key.
  test("q171_domain_cap window and census share one hash exchange") {
    val plan = executed("q171_domain_cap")
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"q171 plans $hashExchanges hash exchanges (want 1):\n$plan")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"q171 reads text it never uses:\n$reads")
  }

  // q172's pct window must run over the CENSUS aggregate (|sources|×3
  // rows), never the corpus: the only corpus-grain exchange is the
  // (source, split) partial-agg shuffle, and the window's child subtree
  // contains the aggregate. The scan must also prune text.
  test("q172_hash_split window rides the census aggregate, not the corpus") {
    val plan = executed("q172_hash_split")
    val lines = plan.linesIterator.toVector
    val wIdx = lines.indexWhere(_.contains("- Window ["))
    assert(wIdx >= 0, s"q172 window missing:\n$plan")
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      s"q172 window input is not the census aggregate:\n$plan")
    assert(lines.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"q172 plans extra corpus shuffles:\n$plan")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"q172 reads text it never uses:\n$reads")
  }

  // q178 references the token-grain (source, word) aggregate from four
  // branches (sw/wc/ns/tot): its single-scan execution depends on
  // ReuseExchange canonicalization firing — the q80 discipline. The
  // base-level isNotNull(source) filter exists precisely to keep the
  // four subtrees canonically identical; this gate catches the
  // silently-correct regression where a refactor breaks equality and
  // the corpus tokenizes once per branch.
  test("q178_domain_shift executes with one corpus scan (three reused exchanges)") {
    val df = SparkEntry.queries("q178_domain_shift")(spark, sfDir)
    df.collect() // finalize the adaptive plan (see the q80 gate's note)
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = finalPlan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 1, s"q178 final plan has $scans corpus scans, want 1:\n$finalPlan")
    assert(finalPlan.linesIterator.count(_.contains("ReusedExchange")) >= 3,
      s"q178 lost its exchange reuse:\n$finalPlan")
  }

  // q179's gram census joins the distinct (source, gram-hash) relation
  // to the gram→source-count aggregate: both vocabulary-grain, both
  // equi on the 60-bit hash — a loop/cartesian join or a raw-gram
  // string shuffle would be the scale smell.
  test("q179_source_novelty census join is an equi-join on the gram hash") {
    val plan = executed("q179_source_novelty")
    assert(!plan.contains("BroadcastNestedLoop"), "q179 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q179 plans CartesianProduct")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(equi, s"q179 census join is not an equi-join:\n$plan")
    // the gram itself never rides an exchange — only its 60-bit hash
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("gram#"), s"q179 shuffles raw gram strings: $l")
    }
  }

  // q182's contamination check joins held-out gram sets to the train
  // gram set equi on the 60-bit hash at vocabulary grain — no loop or
  // cartesian shapes, and raw gram strings never ride an exchange.
  test("q182_split_ngram_overlap joins gram sets equi on the hash") {
    val plan = executed("q182_split_ngram_overlap")
    assert(!plan.contains("BroadcastNestedLoop"), "q182 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q182 plans CartesianProduct")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(equi, s"q182 gram join is not an equi-join:\n$plan")
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("gram#"), s"q182 shuffles raw gram strings: $l")
    }
  }

  // q181's straddle detection must ride the two-level distinct chain
  // (no count-distinct Expand), its joins must all be equi, and raw
  // text never rides a hash exchange (fingerprints only).
  test("q181_split_repair uses the two-level distinct, equi joins, no text shuffle") {
    val plan = executed("q181_split_repair")
    assert(!plan.contains("Expand"), s"q181 plans a count-distinct Expand:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), "q181 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q181 plans CartesianProduct")
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"q181 shuffles raw text: $l")
    }
  }

  // q180's snapshot merge must be a histogram-grain full-outer
  // EQUI-join on (source, length) — never a loop join, and the running
  // CDF windows ride source partitions (histogram rows, not documents).
  test("q180_length_drift merges histograms via a full-outer equi-join") {
    val plan = executed("q180_length_drift")
    assert(!plan.contains("BroadcastNestedLoop"), "q180 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q180 plans CartesianProduct")
    assert(plan.contains("FullOuter"), s"q180 did not plan a full-outer join:\n$plan")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(equi, s"q180 snapshot merge is not an equi-join:\n$plan")
  }

  // q174's adopt join must be an EQUI-join on the leader id (loop or
  // cartesian shapes are the all-pairs smell), and the fingerprint
  // census must partial map-side so only (fp, partial) rows shuffle —
  // text never rides an exchange.
  test("q174_split_leakage adopt join is equi; fingerprint census partials map-side") {
    val plan = executed("q174_split_leakage")
    assert(!plan.contains("BroadcastNestedLoop"), "q174 plans BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"), "q174 plans CartesianProduct")
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(plan.contains)
    assert(equi, s"q174 adopt join is not an equi-join:\n$plan")
    assert(plan.contains("partial_collect_set"),
      s"q174 fingerprint census is not map-side partial:\n$plan")
    // the fp exchange carries the md5 projection, never raw text
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"q174 shuffles raw text: $l")
    }
  }

  // q175 is detect/repair on the map side plus ONE source-keyed census
  // shuffle: no join, no Generate, exactly one hash exchange.
  test("q175_mojibake_census is map-side repair + one census exchange") {
    val plan = executed("q175_mojibake_census")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q175 plans a join:\n$plan")
    assert(!plan.contains("Generate"), s"q175 plans a Generate:\n$plan")
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"q175 plans $hashExchanges hash exchanges (want 1):\n$plan")
  }

  // q176 computes all four contexts' measures as conditional sums in ONE
  // corpus pass: a single text-pruned scan, a map-side partial aggregate
  // (only the 17-measure row crosses the wire), and the per-context rows
  // explode from that one row — no per-context scan, no join, no hash
  // exchange.
  test("q176_packing_curve is one pruned scan into a partial-agg census row") {
    val plan = executed("q176_packing_curve")
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 1, s"q176 plans $scans corpus scans, want 1:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q176 plans a join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q176 plans a hash exchange:\n$plan")
    assert(plan.contains("partial_sum"),
      s"q176 census is not map-side partial:\n$plan")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads == Seq("text:string"), s"q176 reads more than text:\n$reads")
  }

  // q169's frontier census never touches document text: the scan must
  // prune to (doc_id, source), and its COUNT(DISTINCT url) must ride
  // the (source, canon, url) pre-aggregate — an Expand or a corpus-wide
  // distinct would shuffle the whole frontier per measure at 100×.
  test("q169_url_canon_census prunes text from the scan and plans no Expand") {
    val plan = executed("q169_url_canon_census")
    assert(!plan.contains("Expand"), s"q169 plans an Expand:\n$plan")
    assert(!plan.contains("Generate") && !plan.contains("CartesianProduct"))
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"q169 reads text it never uses:\n$reads")
  }
}

package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Eighth curation batch: corpus-statistics and model-evaluation
  * operators — bounded-memory frequent-pattern mining, link-analysis
  * centrality over the duplicate graph, and the evaluation harness
  * (per-class metrics, threshold calibration) that turns the engine's
  * auto-labeling stages (q123, q131) from "runs" into "measured".
  *
  * Shared discipline: every metric is exact-integer counts plus at most
  * one IEEE division, so the DuckDB oracles replay bit-for-bit; every
  * corpus-sized relation is scanned, partial-aggregated, or
  * summary-sketched — never shuffled at token grain or paired
  * quadratically.
  */
object Curation8 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  // -- q145: frequent-bigram mining (Misra–Gries + exact confirm) -------
  // Heavy hitters at 0.1% relative support over corpus bigrams — the
  // template/boilerplate discovery signal (RefinedWeb-style) and the
  // classic top-talker report. The scale problem: a naive
  // groupBy(bigram) shuffles the ENTIRE n-gram vocabulary — billions of
  // keys at 100 TB, nearly all of them singletons that can never reach
  // the support threshold. The bounded-memory answer is a per-partition
  // Misra–Gries summary (capacity 1999, a few hundred KB per task,
  // INDEPENDENT of vocabulary size): any bigram with global share
  // ≥ 1/1000 must exceed its share-of-partition 1/2000 bound in at
  // least one partition (if fₚ ≤ Nₚ/2000 everywhere then Σfₚ ≤ N/2000 <
  // N/1000), so the union of partition summaries is a guaranteed
  // candidate SUPERSET. Pass 2 confirms with exact counts for
  // candidates only — a broadcast semi-join keeps the shuffle at
  // ≤ capacity × partitions keys — so the output is EXACT and
  // independent of summary internals (which is what lets a SQL oracle
  // exist for a sketch-based operator at all). At the test SF the
  // corpus vocabulary is smaller than the summary capacity (no
  // eviction fires — see Curation8Spec's Zipf property test, which
  // forces eviction with capacity 20 and asserts the superset
  // guarantee + exact confirm against brute force); at 100 TB the
  // capacity bound is the whole point.
  //
  // mapPartitions is deliberate here (the documented last-resort tier):
  // a decrement-all summary is genuinely imperative per-partition
  // state with data-dependent eviction — no Catalyst aggregate
  // expresses "forget keys under memory pressure with an error bound".
  val q145 = q("q145_heavy_hitters",
    """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS w
      |      FROM d WHERE len(t) >= 2),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
      |SELECT w AS bigram, cnt, CAST(cnt AS DOUBLE) / (SELECT n FROM n) AS share
      |FROM c WHERE cnt * 1000 >= (SELECT n FROM n)
      |ORDER BY cnt DESC, bigram""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir).documents
    val t = col("_t")
    val bigrams = docs.withColumn("_t", split(col("text"), " "))
      .where(size(t) >= 2)
      .select(explode(graft.functions.expr.TextExpressions.spanJoin(t, 2)).as("w"))
    // denominator without the exploded grain: one column-pruned scan
    // summing per-doc bigram counts (len-1, floored at 0)
    val total = docs
      .select(greatest(size(split(col("text"), " ")) - 1, lit(0)).cast(LongType).as("nb"))
      .agg(sum(col("nb")).as("n"))
    val candidates = bigrams.as[String]
      .mapPartitions(it => misraGries(it, capacity = 1999))
      .toDF("w").distinct()
    bigrams.join(broadcast(candidates), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * 1000 >= col("n"))
      .select(col("w").as("bigram"), col("cnt"),
        (col("cnt").cast(DoubleType) / col("n").cast(DoubleType)).as("share"))
      .orderBy(col("cnt").desc, col("bigram"))
  }

  /** One partition's Misra–Gries pass: returns the surviving candidate
    * keys. Guarantee: every item with partition frequency
    * > Nₚ/(capacity+1) survives. Exposed for Curation8Spec's forced-
    * eviction property test. */
  private[queries] def misraGries(it: Iterator[String], capacity: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      counts.get(w) match {
        case Some(c) => counts.update(w, c + 1)
        case None if counts.size < capacity => counts.update(w, 1L)
        case None =>
          // decrement-all over a key snapshot (removal during iteration
          // of a mutable map is unspecified)
          val ks = counts.keys.toArray
          var i = 0
          while (i < ks.length) {
            val c = counts(ks(i))
            if (c == 1L) counts.remove(ks(i)) else counts.update(ks(i), c - 1)
            i += 1
          }
      }
    }
    counts.keysIterator
  }

  /** The near-dup edge set (a_id < b_id) at threshold 0.5 — the same
    * one prefix-filtered build q84/q89/q100/q136/q138/q139 share. */
  private def dupEdges(s: SparkSession, dir: String): DataFrame =
    Dedup.allPairsJaccard(s, dir, 0.5).select(col("a_id"), col("b_id"))

  private val PrScale = 1000000000000L // fixed-point 10^-12 rank units

  private def prIterSql(i: Int): String =
    s"""c$i AS (SELECT e.v AS node, SUM((85 * p.r) // (100 * d.deg)) AS cs
       |       FROM r${i - 1} p JOIN deg d ON d.node = p.node JOIN e ON e.u = p.node
       |       GROUP BY e.v),
       |r$i AS (SELECT d.node,
       |         (15 * $PrScale) // (100 * (SELECT n FROM nn)) + COALESCE(c.cs, 0) AS r
       |       FROM deg d LEFT JOIN c$i c ON d.node = c.node)""".stripMargin

  // -- q146: PageRank centrality over the duplicate graph ---------------
  // Link-analysis centrality (8 damped power-iteration rounds, d=0.85)
  // over the near-dup graph: the authority prior web-corpus curation
  // feeds into quality scoring (harmonic/PageRank centrality as a
  // page-level signal), and — on the dup graph specifically — the
  // "most-duplicated hub" ranking that tells a pipeline owner which
  // templates dominate a crawl. Computed in 10⁻¹² FIXED-POINT integer
  // arithmetic: each edge contributes ⌊85·r(u)/(100·deg(u))⌋, sums are
  // exact integers (order-independent — the property IEEE double sums
  // lack), so 8 rounds replay bit-for-bit in the oracle's unrolled CTE
  // chain and the top-20 head is deterministic.
  //
  // Scale: per round one join (rank ⋈ edges, both partitioned by the
  // join key) + one partial-aggregated groupBy — the textbook
  // distributed PageRank shape. The rank relation is referenced ONCE
  // per round, so lineage is linear and the whole loop compiles into a
  // single chained-stage job (see the in-body note — no per-round
  // checkpoint, unlike CC's self-joining loop). The node count is the
  // only driver-side scalar (one count job on the cluster-sized
  // graph). Head is TakeOrderedAndProject, never a full sort.
  val q146 = q("q146_pagerank",
    s"""WITH ${Curation7.PairCtes},
       |e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
       |deg AS MATERIALIZED (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT node, $PrScale // (SELECT NULLIF(n, 0) FROM nn) AS r FROM deg),
       |${(1 to 8).map(prIterSql).mkString(",\n")}
       |SELECT node, CAST(r AS BIGINT) AS score FROM r8
       |ORDER BY score DESC, node LIMIT 20""".stripMargin) {
    (s, dir) => pageRank(s, dir)
  }

  /** q146's body. `driverFallbackEdges` is the size-adaptive cutover: at
    * most this many directed edges run the 8 rounds on the driver, and 0
    * forces the distributed loop. */
  private[graft] def pageRank(s: SparkSession, dir: String,
      driverFallbackEdges: Long = 1000000L): DataFrame = {
    import s.implicits._
    // Undirect via explode, not union(reversed): a union plans the
    // prefix-filtered pair join twice (the q84 CC lesson) — one scan,
    // each edge emitting both directions, persisted once.
    val und = QueryScope.persist(dupEdges(s, dir).select(explode(array(
        struct(col("a_id").as("u"), col("b_id").as("v")),
        struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    val m = und.count() // materializes the persist AND picks the path
    if (m == 0) {
      und.select(col("u").as("node"), lit(0L).as("score")).where(lit(false))
    } else if (m <= driverFallbackEdges) {
      // Size-adaptive driver fallback (the ConnectedComponents
      // discipline, same 16 B/directed-edge packed collect and the same
      // 1M cutover): 8 rounds over ≤1M edges is ~10⁷ integer ops — far
      // under one distributed round's scheduling floor. Identical
      // arithmetic to the distributed loop (integer sums are
      // order-free), so the cutover can never change the answer —
      // Curation8Spec replays this path against the oracle'd query.
      val parts: Array[Array[Long]] = und.queryExecution.toRdd
        .mapPartitions { it =>
          val buf = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { row => buf += row.getLong(0); buf += row.getLong(1) }
          Iterator.single(buf.result())
        }.collect()
      und.unpersist()
      val flat = Array.concat(parts: _*)
      val ids = flat.distinct.sorted
      val idx = scala.collection.mutable.LongMap.empty[Int]
      ids.zipWithIndex.foreach { case (id, i) => idx(id) = i }
      val n = ids.length
      val deg = new Array[Long](n)
      var i = 0
      while (i < flat.length) { deg(idx(flat(i))) += 1; i += 2 }
      val base = 15L * PrScale / (100L * n)
      var r = Array.fill(n)(PrScale / n)
      for (_ <- 1 to 8) {
        val next = Array.fill(n)(base)
        var j = 0
        while (j < flat.length) {
          val u = idx(flat(j)); val v = idx(flat(j + 1))
          next(v) += (85L * r(u)) / (100L * deg(u))
          j += 2
        }
        r = next
      }
      val top = ids.indices.sortBy(k => (-r(k), ids(k))).take(20)
        .map(k => (ids(k), r(k)))
      s.createDataFrame(top).toDF("node", "score")
    } else {
      val deg = QueryScope.persist(und.groupBy("u").agg(count(lit(1)).as("deg")))
      val withDeg = QueryScope.persist(und.join(deg, Seq("u")))
      val n = deg.count() // |nodes| — the distributed path's one scalar
      val base = 15L * PrScale / (100L * n)
      // No per-round checkpoint: unlike the CC loop (whose path-halving
      // self-join references its labels TWICE per round — exponential
      // plan growth without truncation), each PageRank round reads the
      // previous rank relation exactly once, so lineage grows linearly
      // and the rounds chain inside one job. On a real cluster,
      // reliable-checkpoint every few rounds for fault tolerance, not
      // for planning.
      var r = deg.select(col("u").as("node"), lit(PrScale / n).as("r"))
      for (_ <- 1 to 8) {
        val contrib = withDeg.join(r.withColumnRenamed("node", "u"), Seq("u"))
          .select(col("v").as("node"), expr("(85 * r) div (100 * deg)").as("c"))
          .groupBy("node").agg(sum(col("c")).as("cs"))
        r = deg.select(col("u").as("node")).join(contrib, Seq("node"), "left")
          .select(col("node"), (lit(base) + coalesce(col("cs"), lit(0L))).as("r"))
      }
      // The returned plan MUST stay TakeOrderedAndProject-headed (the
      // scale contract PlanShapeSpec gates): a global sort of a
      // corpus-sized node set for a 20-row answer is the q118/q142
      // smell. Pre-materializing here and unpersisting would make the
      // caller's action replan uncached and recompute the whole loop (a
      // fresh QueryExecution shares no shuffle files), so the loop
      // caches stay until the query's scope sees the head execute.
      r.select(col("node"), col("r").as("score"))
        .orderBy(col("score").desc, col("node")).limit(20)
    }
  }

  // -- q147: per-class evaluation of the kNN auto-labeler ---------------
  // The measurement step auto-labeling pipelines skip at their peril:
  // run q123's 10-NN majority-vote classifier over a 100-vector query
  // slice whose TRUE labels are known, and report per-class support /
  // true positives / predicted count, precision and recall — the table
  // that decides whether transferred labels are trustworthy enough to
  // train on. Reuses the IDENTICAL classifier relation
  // ([[Curation5.knnPredictions]] — same coded corpus, same bounded-
  // heap neighbor head, same struct-max vote argmax), so this evaluates
  // exactly what q123 ships. Counts are integers; precision/recall are
  // one guarded IEEE division each; the full-outer class join keeps
  // classes that appear only as predictions (precision 0 rows visible,
  // not silently dropped).
  //
  // Scale: everything after the (already scale-shaped) classifier is
  // |queries|-sized — two class-keyed aggregates and a class-count
  // join. Evaluation cost is independent of corpus size.
  val q147 = q("q147_knn_eval",
    s"""${Curation5.SqCtes},
       |qs AS (SELECT vec_id AS qid, q AS qc FROM qv WHERE vec_id < 100),
       |sc AS (SELECT qid, v.vec_id AS cid,
       |         CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
       |                i -> qc[i] * v.q[i]), 'sum') AS BIGINT) AS dot
       |       FROM qv v CROSS JOIN qs WHERE v.vec_id <> qid),
       |nn2 AS (SELECT qid, cid FROM (
       |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |           ORDER BY dot DESC, cid) AS rk FROM sc) WHERE rk <= 10),
       |votes AS (SELECT qid, e.label, COUNT(*) AS votes
       |          FROM nn2 JOIN embeddings e ON nn2.cid = e.vec_id
       |          GROUP BY qid, e.label),
       |pred AS (SELECT qid, label AS pred_label FROM (
       |           SELECT qid, label, row_number() OVER (PARTITION BY qid
       |             ORDER BY votes DESC, label) AS r FROM votes) WHERE r = 1),
       |j AS (SELECT p.qid, e.label AS true_label, p.pred_label
       |      FROM pred p JOIN embeddings e ON p.qid = e.vec_id),
       |t AS (SELECT true_label AS class, CAST(COUNT(*) AS BIGINT) AS support,
       |        CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS tp
       |      FROM j GROUP BY 1),
       |pc AS (SELECT pred_label AS class, CAST(COUNT(*) AS BIGINT) AS predicted
       |       FROM j GROUP BY 1)
       |SELECT COALESCE(t.class, pc.class) AS class,
       |  COALESCE(support, 0) AS support, COALESCE(tp, 0) AS tp,
       |  COALESCE(predicted, 0) AS predicted,
       |  CASE WHEN COALESCE(predicted, 0) = 0 THEN 0.0
       |       ELSE CAST(COALESCE(tp, 0) AS DOUBLE) / COALESCE(predicted, 0) END AS prec,
       |  CASE WHEN COALESCE(support, 0) = 0 THEN 0.0
       |       ELSE CAST(COALESCE(tp, 0) AS DOUBLE) / COALESCE(support, 0) END AS recall
       |FROM t FULL OUTER JOIN pc ON t.class = pc.class
       |ORDER BY class""".stripMargin) { (s, dir) =>
    val preds = Curation5.knnPredictions(s, dir, 100)
    val truth = preds.groupBy(col("true_label").as("class"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).as("tp"))
    val predicted = preds.groupBy(col("pred_label").as("class"))
      .agg(count(lit(1)).as("predicted"))
    truth.join(predicted, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("predicted"), lit(0L)).as("predicted"))
      .withColumn("prec", when(col("predicted") === 0, lit(0.0))
        .otherwise(col("tp").cast(DoubleType) / col("predicted").cast(DoubleType)))
      .withColumn("recall", when(col("support") === 0, lit(0.0))
        .otherwise(col("tp").cast(DoubleType) / col("support").cast(DoubleType)))
      .orderBy("class")
  }

  // -- q148: held-out threshold sweep for the vote classifier -----------
  // Calibration for q131's seed-vote quality classifier, done with the
  // hygiene q138 enforces elsewhere: train the vote table on the EVEN
  // doc_ids of the seed sources, score the held-out ODD doc_ids, and
  // sweep the keep threshold over a fixed grid (margin ≥ t for
  // t ∈ {-10, -8, …, 20}), reporting the full confusion quadrant plus
  // precision/recall at each operating point — the curve that picks
  // q131's production threshold instead of hardcoding margin > 0.
  // Truth is the seed membership itself (pos-source vs neg-source).
  // Docs with no vocabulary overlap score margin 0 (LEFT join +
  // COALESCE — they must count as below-threshold rows, not vanish).
  //
  // Scale: training reads only the seed slices (corpus-size-
  // independent, q131's property); the sweep cross-joins the
  // |holdout|-sized scored relation with a broadcast 16-row grid —
  // seed-sized × 16, never corpus-sized. All counts exact integers;
  // the metrics are one guarded division each.
  val q148 = q("q148_vote_threshold_sweep",
    """WITH pos AS (SELECT doc_id, text FROM documents
      |             WHERE source IN ('src0','src1','src2') AND doc_id % 2 = 0),
      |neg AS (SELECT doc_id, text FROM documents
      |        WHERE source IN ('src17','src18','src19') AND doc_id % 2 = 0),
      |np AS (SELECT COUNT(*) AS n FROM pos), nn AS (SELECT COUNT(*) AS n FROM neg),
      |pdf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
      |        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM pos)
      |        GROUP BY word),
      |ndf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
      |        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM neg)
      |        GROUP BY word),
      |votes AS (SELECT COALESCE(pdf.word, ndf.word) AS word,
      |    CASE WHEN COALESCE(pdf.df, 0) * (SELECT n FROM nn)
      |              > COALESCE(ndf.df, 0) * (SELECT n FROM np) THEN 1
      |         WHEN COALESCE(pdf.df, 0) * (SELECT n FROM nn)
      |              < COALESCE(ndf.df, 0) * (SELECT n FROM np) THEN -1
      |         ELSE 0 END AS vote
      |  FROM pdf FULL OUTER JOIN ndf ON pdf.word = ndf.word),
      |ho AS (SELECT doc_id, (source IN ('src0','src1','src2')) AS is_pos, text
      |       FROM documents WHERE doc_id % 2 = 1
      |         AND source IN ('src0','src1','src2','src17','src18','src19')),
      |docw AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM ho),
      |sc AS (SELECT doc_id, CAST(SUM(vote) AS BIGINT) AS margin
      |       FROM docw JOIN votes USING (word) GROUP BY 1),
      |m AS (SELECT ho.doc_id, ho.is_pos, COALESCE(sc.margin, 0) AS margin
      |      FROM ho LEFT JOIN sc ON ho.doc_id = sc.doc_id),
      |g AS (SELECT unnest(range(-10, 21, 2)) AS threshold)
      |SELECT threshold,
      |  CAST(SUM(CASE WHEN is_pos AND margin >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(SUM(CASE WHEN NOT is_pos AND margin >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(SUM(CASE WHEN is_pos AND margin < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(SUM(CASE WHEN NOT is_pos AND margin < threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |  CASE WHEN SUM(CASE WHEN margin >= threshold THEN 1 ELSE 0 END) = 0 THEN 0.0
      |       ELSE CAST(SUM(CASE WHEN is_pos AND margin >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
      |            / SUM(CASE WHEN margin >= threshold THEN 1 ELSE 0 END) END AS prec,
      |  CASE WHEN SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) = 0 THEN 0.0
      |       ELSE CAST(SUM(CASE WHEN is_pos AND margin >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
      |            / SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) END AS recall
      |FROM m CROSS JOIN g
      |GROUP BY threshold ORDER BY threshold""".stripMargin) { (s, dir) =>
    val posS = Seq("src0", "src1", "src2")
    val negS = Seq("src17", "src18", "src19")
    val docs = Tables(s, dir).documents
    val votes = Curation6.voteTable(
      docs.where(pmod(col("doc_id"), lit(2)) === 0), posS, negS)
    val holdout = QueryScope.persist(docs
      .where(pmod(col("doc_id"), lit(2)) === 1 && col("source").isin((posS ++ negS): _*)))
    val margins = holdout
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
      .join(broadcast(votes), Seq("word"))
      .groupBy("doc_id").agg(sum(col("vote")).as("margin"))
    val scored = holdout.select(col("doc_id"), col("source").isin(posS: _*).as("is_pos"))
      .join(margins, Seq("doc_id"), "left")
      .select(col("is_pos"), coalesce(col("margin"), lit(0L)).as("margin"))
    val grid = s.range(1)
      .select(explode(sequence(lit(-10L), lit(20L), lit(2L))).as("threshold"))
    val kept = col("margin") >= col("threshold")
    scored.crossJoin(broadcast(grid))
      .groupBy("threshold")
      .agg(
        sum(when(col("is_pos") && kept, 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_pos") && kept, 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_pos") && !kept, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("is_pos") && !kept, 1L).otherwise(0L)).as("tn"))
      .withColumn("prec", when(col("tp") + col("fp") === 0, lit(0.0))
        .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType)))
      .withColumn("recall", when(col("tp") + col("fn") === 0, lit(0.0))
        .otherwise(col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType)))
      .orderBy("threshold")
  }

  // -- q158: incremental connected components (live dup-cluster index) --
  // The dedup cluster index's INCREMENTAL form: the base corpus's
  // clustering is stored state (q84's output), a new ingest cohort
  // arrives with its candidate pairs (the q114/q115 incremental-ingest
  // machinery produces exactly these), and the update must NOT re-run
  // CC over the full graph. The standard contraction trick: map every
  // delta edge's endpoints through the stored labels (nodes without a
  // base label pass through as themselves), run CC on the CONTRACTED
  // graph — whose size is (affected base clusters + new nodes), not the
  // corpus — and compose the two label maps. Equality with a full
  // recompute is exact: a base label IS the min id of its base
  // component, so the contracted min-label is the global min of the
  // merged component — the oracle proves it by recomputing from scratch
  // (two recursive-CTE clusterings) while Spark runs the incremental
  // path. Output is the cluster-evolution census a dedup-index owner
  // reads after each ingest: per final cluster, how many docs, how
  // many from the base vs the new cohort, and how many base clusters
  // merged into it.
  //
  // Scale: the full-graph CC (the thing this avoids) touches every
  // edge every round; the incremental path touches the delta edges
  // once, the stored label table twice (equi-joins), and runs CC on a
  // contracted graph that is delta-sized. Census aggregates are
  // cluster-keyed; the base-cluster count is a two-level distinct
  // (grain (cluster, base_label)), never an Expand.
  val q158 = q("q158_incremental_cc",
    s"""WITH RECURSIVE ${Curation7.PairCtes},
      |bp AS MATERIALIZED (SELECT a_id, b_id FROM p WHERE a_id % 5 <> 0 AND b_id % 5 <> 0),
      |e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
      |r AS (SELECT u AS node, u AS reach FROM e
      |      UNION
      |      SELECT r.node, e.v FROM r JOIN e ON r.reach = e.u),
      |c AS (SELECT node, min(reach) AS cluster_id FROM r GROUP BY 1),
      |be AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM bp UNION ALL SELECT b_id, a_id FROM bp),
      |br AS (SELECT u AS node, u AS reach FROM be
      |       UNION
      |       SELECT br.node, be.v FROM br JOIN be ON br.reach = be.u),
      |bc AS (SELECT node, min(reach) AS base_cluster FROM br GROUP BY 1),
      |j AS (SELECT c.node, c.cluster_id, bc.base_cluster
      |      FROM c LEFT JOIN bc ON c.node = bc.node),
      |cen AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(CASE WHEN node % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base_docs,
      |         CAST(SUM(CASE WHEN node % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_docs
      |       FROM j GROUP BY 1),
      |b2 AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_base_clusters
      |       FROM (SELECT DISTINCT cluster_id, base_cluster FROM j
      |             WHERE base_cluster IS NOT NULL) GROUP BY 1)
      |SELECT cen.cluster_id, n_docs, n_base_docs, n_new_docs,
      |  COALESCE(n_base_clusters, 0) AS n_base_clusters
      |FROM cen LEFT JOIN b2 USING (cluster_id) ORDER BY cen.cluster_id""".stripMargin) { (s, dir) =>
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(5L)) === 0
    val pairs = QueryScope.persist(dupEdges(s, dir))
    val basePairs = pairs.where(!isNew(col("a_id")) && !isNew(col("b_id")))
    val deltaPairs = pairs.where(isNew(col("a_id")) || isNew(col("b_id")))
    // the stored state: base clustering (size-adaptive CC, q84's path)
    val baseLabels = QueryScope.persist(graft.operators.ConnectedComponents
      .minLabelPropagation(basePairs)
      .select(col("node"), col("comp").as("l1")))
    // contract → solve → compose, via the first-class operator (r18:
    // the deployment split a real ingest loop runs — stored labels in,
    // delta edges in, no base-edge read). base_comp is the stored label
    // (null for the new cohort), exactly the l1 the census needs.
    val labeled = graft.operators.ConnectedComponents
      .incrementalUpdate(baseLabels, deltaPairs)
      .select(col("node"), col("base_comp").as("l1"), col("comp").as("cluster_id"))
    val docAgg = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!isNew(col("node")), 1L).otherwise(0L)).as("n_base_docs"),
        sum(when(isNew(col("node")), 1L).otherwise(0L)).as("n_new_docs"))
    val baseClAgg = labeled.where(col("l1").isNotNull)
      .select("cluster_id", "l1").distinct()
      .groupBy("cluster_id").agg(count(lit(1)).as("n_base_clusters"))
    docAgg.join(baseClAgg, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_docs"), col("n_base_docs"), col("n_new_docs"),
        coalesce(col("n_base_clusters"), lit(0L)).as("n_base_clusters"))
      .orderBy("cluster_id")
  }

  /** One threshold leg of q159's oracle: the scored pair CTE filtered at
    * `t`, clustered by a recursive CTE, reduced to the census row. */
  private def sweepLegSql(tag: String, t: String): String =
    s"""p$tag AS (SELECT a_id, b_id FROM ps WHERE score >= $t),
       |e$tag AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p$tag
       |          UNION ALL SELECT b_id, a_id FROM p$tag),
       |r$tag AS (SELECT u AS node, u AS reach FROM e$tag
       |          UNION
       |          SELECT r$tag.node, e$tag.v FROM r$tag JOIN e$tag ON r$tag.reach = e$tag.u),
       |c$tag AS (SELECT node, min(reach) AS comp FROM r$tag GROUP BY 1),
       |k$tag AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n FROM c$tag GROUP BY 1),
       |row$tag AS (SELECT CAST($t AS DOUBLE) AS threshold,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p$tag) AS n_pairs,
       |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |    CAST(COALESCE(MAX(n), 0) AS BIGINT) AS largest_cluster
       |  FROM k$tag)""".stripMargin

  // -- q159: dedup threshold sensitivity sweep --------------------------
  // The curve a dedup owner reads before picking the production
  // threshold: at t ∈ {0.5, 0.9, 0.95, 0.98}, how many pairs survive,
  // how many documents cluster, into how many clusters, and how big is
  // the largest — the knob that trades recall (catching rewrites)
  // against collateral (merging distinct docs). The expensive work —
  // the prefix-filtered candidate index and the exact scores — is done
  // ONCE at the loosest threshold; each sweep point is a filter over
  // the scored pair relation plus a cluster census on the (shrinking)
  // subgraph, so the sweep costs one pair build + 4 delta-sized CC
  // runs, not 4 corpus passes. Scores are the same IEEE division in
  // both engines (q100's oracle proves the kernel bit-equal), so the
  // threshold compares agree exactly.
  val q159 = q("q159_threshold_sweep",
    s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS MATERIALIZED (SELECT doc_id,
      |        CASE WHEN len(t) >= 4
      |             THEN list_distinct(list_transform(range(1, len(t) - 2),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |ps AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS score
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
      |${Seq("50" -> "0.5", "90" -> "0.9", "95" -> "0.95", "98" -> "0.98")
        .map { case (tag, t) => sweepLegSql(tag, t) }.mkString(",\n")}
      |SELECT * FROM row50 UNION ALL SELECT * FROM row90
      |UNION ALL SELECT * FROM row95 UNION ALL SELECT * FROM row98
      |ORDER BY threshold""".stripMargin) { (s, dir) =>
    val scored = QueryScope.persist(Dedup.allPairsJaccard(s, dir, 0.5))
    val thresholds = Seq(0.5, 0.9, 0.95, 0.98)
    // ONE pass over the (result-sized, persisted) scored pairs computes
    // all four legs' survivor counts — r18: this was four sequential
    // count() jobs, one per threshold, each a full scan of the cached
    // relation; a conditional-sum aggregate reads it once and collects
    // the same four integers (when(j >= t) counts exactly the rows
    // where(j >= t).count() counted).
    val cntCols = thresholds.map(t =>
      sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"c$t"))
    val cntRow = scored.agg(cntCols.head, cntCols.tail: _*).collect()(0)
    val nPairsByT = thresholds.zipWithIndex.map { case (t, i) =>
      t -> (if (cntRow.isNullAt(i)) 0L else cntRow.getLong(i)) }.toMap
    thresholds.map { t =>
      val pt = scored.where(col("jaccard") >= t).select(col("a_id"), col("b_id"))
      val nPairs = nPairsByT(t) // bounded: the dedup pair set is result-sized
      val census =
        if (nPairs == 0)
          s.range(1).select(lit(0L).as("n_docs"), lit(0L).as("n_clusters"),
            lit(0L).as("largest_cluster"))
        else
          graft.operators.ConnectedComponents.minLabelPropagation(pt)
            .groupBy("comp").agg(count(lit(1)).as("n"))
            .agg(coalesce(sum(col("n")), lit(0L)).as("n_docs"),
              count(lit(1)).as("n_clusters"),
              coalesce(max(col("n")), lit(0L)).as("largest_cluster"))
      census.select(lit(t).as("threshold"), lit(nPairs).as("n_pairs"),
        col("n_docs"), col("n_clusters"), col("largest_cluster"))
    }.reduce(_.unionByName(_)).orderBy("threshold")
  }

  val all: Seq[GraftQuery] = Seq(q145, q146, q147, q148, q158, q159)
}

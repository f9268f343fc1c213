package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import graft.QueryDsl.{crossHash60, crossHash60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Seventh curation batch: the corpus-GOVERNANCE stages that sit around
  * the dedup/quality kernels — leakage-free split assignment, duplicate-
  * graph health metrics, the per-source attrition funnel a pipeline
  * owner reads before shipping a corpus, and PMI collocation mining
  * (the phrase-vocabulary signal tokenizer and filter design both
  * consume).
  *
  * Shared scale shape: the expensive relation (the near-dup pair set)
  * is built ONCE by [[Dedup.allPairsJaccard]]'s prefix-filtered plan and
  * reused; everything downstream is node-/cluster-/vocab-sized. Nothing
  * here adds a corpus-squared stage.
  */
object Curation7 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  /** Brute-force twin of [[Dedup.allPairsJaccard]] at threshold 0.5 —
    * the `d/s/p` CTE text q100/q136's oracles already proved equivalent
    * to the prefix-filtered Spark plan. Kept verbatim so every consumer
    * replays the identical pair set. `s` and `p` carry MATERIALIZED
    * hints: consumers reference the shingle set twice (self-join) and
    * the pair set up to 9 times (q139's triangle triple-join, q146's
    * unrolled PageRank rounds — and recursive closures re-read their
    * edge CTE EVERY iteration) — an engine that inlines
    * multi-referenced CTEs would re-run the O(n²)-shaped pair join per
    * reference, turning a minutes oracle into hours at sf0.1. */
  private[queries] val PairCtes =
    """d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS MATERIALIZED (SELECT doc_id,
      |        CASE WHEN len(t) >= 4
      |             THEN list_distinct(list_transform(range(1, len(t) - 2),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5)""".stripMargin

  /** The near-dup edge set (a_id < b_id) at threshold 0.5 — one
    * prefix-filtered build per query; its persists inside
    * allPairsJaccard serve every reference in that query's plan. */
  private[graft] def dupEdges(s: SparkSession, dir: String): DataFrame =
    Dedup.allPairsJaccard(s, dir, 0.5).select(col("a_id"), col("b_id"))

  // -- q138: cluster-aware leakage-free train/val/test split ------------
  // The split stage evaluation hygiene demands: near-duplicate documents
  // must land in the SAME split (a train/test straddle leaks eval
  // answers into training — the contamination q115 detects after the
  // fact, prevented here by construction). Every doc joins its dup
  // cluster (q84's connected components; singletons are their own
  // cluster), and the WHOLE cluster draws one deterministic hash —
  // crossHash60(cluster_id) % 100 → 80/10/10 — so membership is
  // reproducible across runs AND engines, and no cluster straddles by
  // construction. Output is the split-level audit report.
  //
  // Scale: the pair set is prefix-filtered (never all-pairs), CC is the
  // measured q84 path, and the split draw + report are one corpus scan
  // with a (split, cluster)-keyed partial aggregate feeding a 3-row
  // final — countDistinct is deliberately avoided (two-level aggregate
  // instead of an Expand that would double every corpus row).
  val q138 = q("q138_cluster_split",
    s"""WITH RECURSIVE $PairCtes,
      |e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM p UNION ALL SELECT b_id, a_id FROM p),
      |r AS (SELECT u AS node, u AS reach FROM e
      |      UNION
      |      SELECT r.node, e.v FROM r JOIN e ON r.reach = e.u),
      |c AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM r GROUP BY 1),
      |a AS (SELECT doc.doc_id, COALESCE(c.cluster_id, doc.doc_id) AS cluster_id, doc.n_chars
      |      FROM documents doc LEFT JOIN c ON doc.doc_id = c.doc_id),
      |sp AS (SELECT cluster_id, n_chars,
      |        CASE WHEN ${crossHash60Sql("cluster_id")} % 100 < 80 THEN 'train'
      |             WHEN ${crossHash60Sql("cluster_id")} % 100 < 90 THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM a),
      |g AS (SELECT split, cluster_id, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      |      FROM sp GROUP BY 1, 2)
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  CAST(SUM(chars) AS BIGINT) AS total_chars
      |FROM g GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    val clusters = graft.operators.ConnectedComponents.minLabelPropagation(dupEdges(s, dir))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val assigned = Tables(s, dir).documents.select(col("doc_id"), col("n_chars"))
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"), col("n_chars"))
      .withColumn("h", pmod(crossHash60(col("cluster_id")), lit(100L)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
    assigned.groupBy(col("split"), col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("chars")).as("total_chars"))
      .orderBy("split")
  }

  // -- q139: duplicate-graph health (triangle census) -------------------
  // Triangles and the global clustering coefficient over the near-dup
  // graph — the structural audit that distinguishes "chains of marginal
  // matches" (few triangles: transitive-closure clusters are suspect,
  // tighten the threshold) from "dense duplicate families" (high
  // closure: clusters are real). Classic degree-ORIENTED counting
  // (Schank & Wagner 2005): each undirected edge points from its
  // (deg, id)-smaller endpoint, wedges pair the out-neighbors of each
  // source, and a wedge counts iff its closing edge exists — max
  // out-degree is O(√m) under this orientation, so wedge fan-out stays
  // bounded on skewed graphs where a naive per-node pairing explodes on
  // the hub. All-integer outputs; the coefficient is one guarded IEEE
  // division. The oracle replays the census from the brute-force pair
  // set with the id-ordered triple join (count is orientation-
  // invariant).
  val q139 = q("q139_dup_graph_triangles",
    s"""WITH $PairCtes,
      |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM (SELECT a_id AS node FROM p UNION ALL SELECT b_id FROM p)
      |        GROUP BY 1),
      |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |        CAST(COALESCE(SUM((deg * (deg - 1)) // 2), 0) AS BIGINT) AS n_wedges
      |      FROM deg),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM p),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |      FROM p e1 JOIN p e2 ON e2.a_id = e1.b_id
      |           JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
      |SELECT w.n_nodes, m.n_edges, w.n_wedges, t.n_triangles,
      |  CASE WHEN w.n_wedges = 0 THEN 0.0
      |       ELSE CAST(3 * t.n_triangles AS DOUBLE) / CAST(w.n_wedges AS DOUBLE)
      |  END AS global_cc
      |FROM w, m, t""".stripMargin) { (s, dir) =>
    triangleCensus(dupEdges(s, dir))
  }

  /** Degree-oriented triangle census over an undirected edge list
    * (a_id < b_id, no duplicates) — separated from q139 so specs can
    * assert brute-force equivalence on random graphs, on BOTH paths.
    *
    * Size-adaptive like q84's CC and q146's PageRank: the dup graph is
    * cluster-sized (orders below the corpus), so when the edge count
    * fits the driver comfortably (≤1M edges ≈ 16 MB packed) the census
    * runs as sorted-adjacency intersections in arrays — identical
    * integer arithmetic, so the cutover can never change the answer
    * (Curation7Spec replays random graphs through both paths). Above
    * the cutover the distributed Schank-Wagner plan runs: max
    * out-degree under (deg, id) orientation is O(√m), so wedge fan-out
    * stays bounded on skewed graphs. `driverFallbackEdges` is that
    * cutover; 0 forces the distributed plan. */
  private[graft] def triangleCensus(edges: DataFrame,
      driverFallbackEdges: Long = 1000000L): DataFrame = {
    val und = QueryScope.persist(edges)
    // Eager materialization (the q84/q146 discipline): the census job
    // reads `und` from THREE independent branches (degree census, edge
    // count, wedge build). Branches of one job can start before a lazy
    // cache populates, and each un-cached read re-runs the ENTIRE
    // prefix-filtered pair build — the single expensive relation in the
    // plan. One count() up front pins it; everything downstream reads
    // edge-cache-sized input. The count doubles as the fallback gate.
    val m = und.count()
    if (m <= driverFallbackEdges) {
      // 16 B/edge packed collect (the ConnectedComponents discipline)
      val parts: Array[Array[Long]] = und.queryExecution.toRdd
        .mapPartitions { it =>
          val buf = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { row => buf += row.getLong(0); buf += row.getLong(1) }
          Iterator.single(buf.result())
        }.collect()
      und.unpersist()
      val s = edges.sparkSession
      val flat = Array.concat(parts: _*)
      val nEdges = flat.length / 2
      val ids = flat.distinct.sorted
      val idx = scala.collection.mutable.LongMap.empty[Int]
      ids.zipWithIndex.foreach { case (id, i) => idx(id) = i }
      val n = ids.length
      val deg = new Array[Long](n)
      var i = 0
      while (i < flat.length) { deg(idx(flat(i))) += 1; deg(idx(flat(i + 1))) += 1; i += 2 }
      val nWedges = deg.map(d => d * (d - 1) / 2).sum
      // orient each edge from its (deg, id)-smaller endpoint; count
      // triangles as |N+(u) ∩ N+(v)| over oriented edges (N+ sorted)
      val outDeg = new Array[Int](n)
      i = 0
      while (i < flat.length) {
        val a = idx(flat(i)); val b = idx(flat(i + 1))
        val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && ids(a) < ids(b))
        outDeg(if (aFirst) a else b) += 1
        i += 2
      }
      val adjStart = new Array[Int](n + 1)
      i = 0
      while (i < n) { adjStart(i + 1) = adjStart(i) + outDeg(i); i += 1 }
      val adj = new Array[Int](nEdges)
      val cursor = adjStart.clone()
      i = 0
      while (i < flat.length) {
        val a = idx(flat(i)); val b = idx(flat(i + 1))
        val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && ids(a) < ids(b))
        val (u, v) = if (aFirst) (a, b) else (b, a)
        adj(cursor(u)) = v; cursor(u) += 1
        i += 2
      }
      i = 0
      while (i < n) {
        java.util.Arrays.sort(adj, adjStart(i), adjStart(i + 1))
        i += 1
      }
      var nTri = 0L
      i = 0
      while (i < n) {
        var j = adjStart(i)
        while (j < adjStart(i + 1)) {
          val v = adj(j)
          // sorted-merge intersection of N+(i) and N+(v)
          var p = adjStart(i); var q = adjStart(v)
          while (p < adjStart(i + 1) && q < adjStart(v + 1)) {
            val x = adj(p); val y = adj(q)
            if (x == y) { nTri += 1; p += 1; q += 1 }
            else if (x < y) p += 1 else q += 1
          }
          j += 1
        }
        i += 1
      }
      val cc = if (nWedges == 0) 0.0 else (3L * nTri).toDouble / nWedges.toDouble
      s.createDataFrame(Seq((n.toLong, nEdges.toLong, nWedges, nTri, cc)))
        .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "global_cc")
    } else distributedTriangleCensus(und)
  }

  /** The distributed Schank-Wagner plan — the ≥1M-edge path. Takes the
    * PERSISTED, already-materialized edge relation. */
  private def distributedTriangleCensus(und: DataFrame): DataFrame = {
    val deg = und.select(col("a_id").as("node"))
      .unionAll(und.select(col("b_id").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a_id"), col("deg").as("da")), Seq("a_id"))
      .join(deg.select(col("node").as("b_id"), col("deg").as("db")), Seq("b_id"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a_id") < col("b_id"))
    val oriented = QueryScope.persist(withDeg.select(
        when(aFirst, col("a_id")).otherwise(col("b_id")).as("u"),
        when(aFirst, col("b_id")).otherwise(col("a_id")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    // same race on `oriented` (read by both wedge sides + the closing
    // semi-join probe); edge-sized, so pinning it is cheap
    oriented.count()
    val wedges = oriented.select(col("u"), col("v").as("p"), col("dv").as("dp"))
      .join(oriented.select(col("u"), col("v").as("q"), col("dv").as("dq")), Seq("u"))
      .where(col("dp") < col("dq") || (col("dp") === col("dq") && col("p") < col("q")))
      .select(col("p").as("u"), col("q").as("v"))
    val tri = wedges.join(oriented.select(col("u"), col("v")), Seq("u", "v"), "left_semi")
    val nodesAgg = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
    val edgesAgg = und.agg(count(lit(1)).as("n_edges"))
    val triAgg = tri.agg(count(lit(1)).as("n_triangles"))
    nodesAgg.crossJoin(edgesAgg).crossJoin(triAgg)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise((lit(3L) * col("n_triangles")).cast(DoubleType) /
            col("n_wedges").cast(DoubleType)).as("global_cc"))
  }

  // -- q141: per-source curation attrition funnel -----------------------
  // The report a pipeline owner reads before shipping: how many
  // documents each source contributes, and where they die — the q81
  // quality gate, the language filter, then exact dedup (keeper = min
  // doc_id of the md5 group AMONG survivors, the real cumulative
  // semantics — a doc killed by quality can't block a later duplicate).
  // One corpus scan computes every per-row signal; the dedup keeper is
  // one fp-keyed window (same shuffle q27 does); the funnel is a
  // source-keyed aggregate of stage booleans. Counts are exact
  // integers; retention is one IEEE division.
  val q141 = q("q141_attrition_funnel",
    """WITH d AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
      |       FROM d WHERE len(t) >= 2),
      |rep AS (SELECT doc_id, CAST(max(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS rep_ratio
      |        FROM (SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY 1, 2) GROUP BY 1),
      |sig AS (SELECT d.doc_id, d.source, md5(d.text) AS fp,
      |          (len(t) BETWEEN 15 AND 90
      |           AND CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) >= 0.34
      |           AND COALESCE(rep.rep_ratio, 0.0) <= 0.09) AS q_ok,
      |          (d.lang = 'en') AS l_ok
      |        FROM d LEFT JOIN rep ON d.doc_id = rep.doc_id),
      |k AS (SELECT *, (q_ok AND l_ok AND
      |        doc_id = min(CASE WHEN q_ok AND l_ok THEN doc_id END)
      |                   OVER (PARTITION BY fp)) AS d_ok
      |      FROM sig)
      |SELECT source,
      |  COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN q_ok AND l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
      |  CAST(SUM(CASE WHEN d_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
      |  CAST(SUM(CASE WHEN d_ok THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS retention
      |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val t = col("_t")
    val n = size(t)
    val ttr = size(array_distinct(t)).cast(DoubleType) / n.cast(DoubleType)
    val sortedBg = array_sort(graft.functions.expr.TextExpressions.spanJoin(t, 2))
    val rep = when(n >= 2,
      TextOps2.longestRun(sortedBg).cast(DoubleType) / (n - 1).cast(DoubleType))
      .otherwise(lit(0.0))
    val sig = Tables(s, dir).documents.withColumn("_t", split(col("text"), " "))
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
        (n.between(15, 90) && ttr >= 0.34 && rep <= 0.09).as("q_ok"),
        (col("lang") === "en").as("l_ok"))
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val staged = sig.withColumn("d_ok",
      col("q_ok") && col("l_ok") &&
        col("doc_id") === min(when(col("q_ok") && col("l_ok"), col("doc_id"))).over(wFp))
    staged.groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("q_ok") && col("l_ok"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("d_ok"), 1L).otherwise(0L)).as("n_dedup"))
      .withColumn("retention",
        col("n_dedup").cast(DoubleType) / col("n_total"))
      .orderBy("source")
  }

  // -- q142: PMI collocation mining (top-25 bigrams) --------------------
  // Pointwise mutual information over corpus bigrams — the phrase
  // signal tokenizer design (merge-worthy pairs), stopword discovery
  // (lowest PMI), and quality filters (entity phrases) all read.
  // score = P(xy)/(P(x)P(y)) = (c_xy·N)/(c_x·c_y): the numerator and
  // denominator are exact BIGINT products (c ≤ N < 2^30 at any per-
  // partition vocab we ship, far under overflow), so the score is ONE
  // IEEE division of exact integers — bit-identical cross-engine, and
  // the (score DESC, bigram) head is deterministic.
  //
  // Plan: one tokenized scan feeds the unigram aggregate, the bigram
  // aggregate, and the 1-row total; both count relations are
  // vocab-sized after map-side partial aggregation, the unigram side
  // joins twice on the word key (AQE broadcasts when small), and the
  // head is a TakeOrderedAndProject — never a full sort.
  val q142 = q("q142_pmi_collocations",
    """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
      |u AS (SELECT unnest(t) AS w FROM d),
      |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
      |b AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |      FROM d WHERE len(t) >= 2),
      |bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_pair FROM b GROUP BY 1
      |       HAVING COUNT(*) >= 5)
      |SELECT bg AS bigram, n_pair, l.c AS n_left, r.c AS n_right,
      |  CAST(n_pair * (SELECT n FROM n) AS DOUBLE) / CAST(l.c * r.c AS DOUBLE) AS score
      |FROM bc JOIN uc l ON split_part(bg, ' ', 1) = l.w
      |        JOIN uc r ON split_part(bg, ' ', 2) = r.w
      |ORDER BY score DESC, bigram LIMIT 25""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir).documents.withColumn("_t", split(col("text"), " "))
    val words = docs.select(explode(col("_t")).as("w"))
    val uc = words.groupBy("w").agg(count(lit(1)).as("c"))
    val nTot = words.agg(count(lit(1)).as("n"))
    val t = col("_t")
    val bigrams = docs.where(size(t) >= 2)
      .select(explode(graft.functions.expr.TextExpressions.spanJoin(t, 2)).as("bg"))
    val bc = bigrams.groupBy("bg").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= 5)
    bc.withColumn("w1", split_part(col("bg"), lit(" "), lit(1)))
      .withColumn("w2", split_part(col("bg"), lit(" "), lit(2)))
      .join(uc.select(col("w").as("w1"), col("c").as("n_left")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c").as("n_right")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("bg").as("bigram"), col("n_pair"), col("n_left"), col("n_right"),
        ((col("n_pair") * col("n")).cast(DoubleType) /
          (col("n_left") * col("n_right")).cast(DoubleType)).as("score"))
      .orderBy(col("score").desc, col("bigram"))
      .limit(25)
  }

  val all: Seq[GraftQuery] = Seq(q138, q139, q141, q142)
}

package graft.queries

import graft.{GraftQuery, QueryScope}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Retrieval-quality evaluation: the index-tuning measurements that turn
  * "we deployed IVF" into "we deployed IVF at the measured recall/cost
  * point". Everything here scores the SAME SQ8 integer metric the
  * serving indexes use, so — unlike float-recall reports — the whole
  * evaluation replays bit-for-bit in the DuckDB oracle.
  */
object Similarity2 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  // -- q153: IVF probe sweep (recall@5 + MRR vs exhaustive) -------------
  // The faiss tuning curve as an oracle-gated query: for nprobe ∈
  // {1,2,4,8} over the 16-cell IVF-SQ8 index (q122's exact machinery),
  // compare each probe level's top-5 against the EXHAUSTIVE SQ8 top-5
  // (q121's semantics — the truth an IVF route can only approximate) and
  // report recall@5, how often the true nearest neighbor is found at
  // all, and MRR of the true top-1. MRR sums 1/rank as EXACT rationals
  // — ranks are ≤ 5 and 2520 = lcm(1..10), so 2520/rank is an integer
  // and the mean is ONE division — the q118 rational trick applied to
  // ranking metrics. This is the report that picks production nprobe:
  // where the recall curve knees against the probe cost.
  //
  // Scale: one corpus pass assigns cells + codes (map-only kernels);
  // the truth pass is the documented brute baseline (corpus ×
  // |queries| broadcast, bounded-heap head); the swept runs score each
  // probed candidate ONCE (the dot rides the candidate relation;
  // the 4-row grid replicates only (qid, cid, dot)); every head is the
  // TopK heap keyed by (nprobe, qid). Output is 4 rows.
  val q153 = q("q153_index_recall_sweep",
    s"""${Curation5.SqCtes},
      |cfull AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, qv.q
      |          FROM embeddings e JOIN qv USING (vec_id)),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM cfull ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT f.vec_id, f.q, cent_id,
      |          row_number() OVER (PARTITION BY f.vec_id
      |            ORDER BY list_cosine_similarity(f.v, cent_v) DESC, cent_id) AS rk
      |        FROM cfull f CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, q FROM asn WHERE rk = 1),
      |queries AS (SELECT vec_id AS qid, v AS qvec, q AS qc FROM cfull WHERE vec_id < 50),
      |tsc AS (SELECT qid, a.vec_id AS cid,
      |          CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
      |                 i -> qc[i] * a.q[i]), 'sum') AS BIGINT) AS dot
      |        FROM queries JOIN cfull a ON a.vec_id <> qid),
      |truth AS (SELECT qid, cid, t_rk FROM (
      |           SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |             ORDER BY dot DESC, cid) AS t_rk FROM tsc) WHERE t_rk <= 5),
      |pr AS (SELECT qid, qc, cent_id,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY list_cosine_similarity(qvec, cent_v) DESC, cent_id) AS prk
      |       FROM queries CROSS JOIN cent),
      |probes AS (SELECT qid, qc, cent_id, prk FROM pr WHERE prk <= 8),
      |cand AS (SELECT p.qid, a.vec_id AS cid, p.prk,
      |           CAST(list_aggregate(list_transform(range(1, len(p.qc) + 1),
      |                  i -> p.qc[i] * a.q[i]), 'sum') AS BIGINT) AS dot
      |         FROM probes p JOIN assigned a USING (cent_id)
      |         WHERE a.vec_id <> p.qid),
      |g AS (SELECT unnest([1, 2, 4, 8]) AS np),
      |runs5 AS (SELECT np, qid, cid, r_rk FROM (
      |           SELECT g.np, qid, cid, row_number() OVER (PARTITION BY g.np, qid
      |             ORDER BY dot DESC, cid) AS r_rk
      |           FROM g JOIN cand ON cand.prk <= g.np) WHERE r_rk <= 5),
      |tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS truth_n,
      |         CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_q FROM truth),
      |hits AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS hits
      |         FROM runs5 JOIN truth USING (qid, cid) GROUP BY 1),
      |mrr AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS top1_found,
      |          CAST(SUM(2520 // r_rk) AS BIGINT) AS mrr_num
      |        FROM runs5 JOIN truth USING (qid, cid) WHERE t_rk = 1 GROUP BY 1)
      |SELECT g.np, COALESCE(hits, 0) AS hits, truth_n,
      |  CAST(COALESCE(hits, 0) AS DOUBLE) / truth_n AS recall_at5,
      |  COALESCE(top1_found, 0) AS top1_found,
      |  CAST(COALESCE(mrr_num, 0) AS DOUBLE) / (2520 * n_q) AS mrr
      |FROM g LEFT JOIN hits USING (np) LEFT JOIN mrr USING (np) CROSS JOIN tn
      |ORDER BY g.np""".stripMargin) { (s, dir) =>
    import graft.functions.expr.SimilarityExpressions.{nearestCentroidId, probeCentroidIds}
    val NList = 16; val K = 5; val NQ = 50L; val MaxProbe = 8
    val c = Similarity.corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val st = broadcast(QueryScope.persist(Curation5.sqStats(s, dir)))
    val assigned = QueryScope.persist(c.crossJoin(st)
      .select(col("vec_id"),
        nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"),
        Curation5.sqCode(col("v")).as("q")))
    val queries = c.where(col("vec_id") < NQ).crossJoin(st)
      .select(col("vec_id").as("qid"), Curation5.sqCode(col("v")).as("qc"),
        probeCentroidIds(col("v"), flat, ids, dim, MaxProbe).as("plist"))
    // codegen-native integer dot — exact twin of the HOF fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    // truth: the exhaustive SQ8 baseline (q121's shape, bounded-heap head)
    val truth = QueryScope.persist(assigned.crossJoin(broadcast(queries.select(col("qid"), col("qc"))))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKLong(K)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("t_rk")))
    // swept runs: each probed candidate scored ONCE; the grid replicates
    // only (qid, cid, dot) into the per-(np, qid) heaps
    val qProbes = queries
      .select(col("qid"), col("qc"), posexplode(col("plist")).as(Seq("ppos", "cent_id")))
      .select(col("qid"), col("qc"), (col("ppos") + 1).as("prk"), col("cent_id"))
    val cand = assigned.join(broadcast(qProbes), Seq("cent_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("prk"), col("vec_id").as("cid"), dot.as("dot"))
    val grid = s.range(1).select(explode(array(lit(1), lit(2), lit(4), lit(8))).as("np"))
    val runs5 = cand.crossJoin(broadcast(grid))
      .where(col("prk") <= col("np"))
      .groupBy("np", "qid")
      .agg(graft.functions.TopK.topKLong(K)(col("cid"), col("dot")).as("top"))
      .select(col("np"), col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("np"), col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("r_rk"))
    val matched = runs5.join(truth, Seq("qid", "cid"))
    val hits = matched.groupBy("np").agg(count(lit(1)).as("hits"))
    val mrr = matched.where(col("t_rk") === 1)
      .groupBy("np")
      .agg(count(lit(1)).as("top1_found"),
        sum(expr("2520 div r_rk")).as("mrr_num"))
    val tn = truth.agg(count(lit(1)).as("truth_n"), countDistinct("qid").as("n_q"))
    grid.join(hits, Seq("np"), "left").join(mrr, Seq("np"), "left")
      .crossJoin(broadcast(tn))
      .select(col("np"),
        coalesce(col("hits"), lit(0L)).as("hits"), col("truth_n"),
        (coalesce(col("hits"), lit(0L)).cast(DoubleType) /
          col("truth_n").cast(DoubleType)).as("recall_at5"),
        coalesce(col("top1_found"), lit(0L)).as("top1_found"),
        (coalesce(col("mrr_num"), lit(0L)).cast(DoubleType) /
          (lit(2520L) * col("n_q")).cast(DoubleType)).as("mrr"))
      .orderBy("np")
  }

  val all: Seq[GraftQuery] = Seq(q153)
}

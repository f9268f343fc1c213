package graft.operators

import graft.QueryScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** BM25 lexical retrieval with a RUNTIME query relation — the general
  * form of the fixed-term q118 plan (Robertson et al.; the dataflow is
  * the q118 scaladoc's, generalized so a user brings a query TABLE
  * instead of editing the plan).
  *
  * Scale shape, in corpus-scan order:
  *  1. The query relation's distinct terms collapse to ONE sorted-array
  *     row that rides into the corpus scan as a scalar broadcast — the
  *     corpus never joins the query relation at token grain.
  *  2. One map-only pass per document computes, IN-ROW, the document
  *     length and a `(term, tf)` entry for each query term the document
  *     actually contains (`array_intersect` + per-term `filter` count —
  *     no explode of non-matching tokens). Only these sparse postings
  *     leave the scan; the persisted relation is (doc_id, dl, postings)
  *     — text is dropped inside the scan projection.
  *  3. Corpus statistics (N, Σdl) are one map-side-combined aggregate of
  *     the persisted relation (1 row, broadcast); per-term document
  *     frequency is a termset-sized aggregate of the postings (broadcast).
  *  4. Scoring joins postings × query-terms × df on the TERM equi-key
  *     (all broadcast-sized builds), so the per-(query, doc) partial
  *     scores partial-aggregate map-side; the volume is bounded by
  *     matched postings × queries-per-term, never by the corpus.
  *  5. The per-query head is the bounded-heap partial top-k
  *     ([[graft.functions.TopK]]) — scanned-and-discarded, never a full
  *     per-query sort into ≤|queries| reducers.
  *
  * Determinism (the QueryDsl cross-engine rules): the idf is the exact
  * rational odds `(N - df + 0.5)/(df + 0.5) + 1` (no ln — see q118),
  * each term contribution is a fixed IEEE chain rounded to 9 decimals,
  * and the per-(query, doc) sum runs in exact DECIMAL(18,9) (the q101
  * idiom), so the variable-length term sum is accumulation-order-free
  * and bit-identical in DuckDB.
  */
object Bm25 {

  /** BM25 top-k per query.
    *
    * @param corpus  (doc_id: BIGINT, text: STRING) — whitespace-tokenized.
    * @param queries (qid: BIGINT, terms: ARRAY<STRING>) — the runtime
    *                query relation; assumed query-set-sized (broadcastable).
    * @param k       results per query.
    * @return (qid, doc_id, rk, score) in (qid, rk) order; queries whose
    *         terms match no document produce no rows.
    */
  def bm25(corpus: DataFrame, queries: DataFrame,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries
      .select(col("qid"), explode(col("terms")).as("term")).distinct()
    // one sorted-distinct-term array row: the scalar broadcast that
    // carries the whole query vocabulary into the corpus scan
    val tl = qt.agg(sort_array(collect_set(col("term"))).as("_qterms"))

    val toks = split(col("text"), " ")
    // in-row sparse postings: (term, tf) for present query terms only —
    // codegen-native one-pass hash count (see TextKernels.postings),
    // exact twin of the transform(array_intersect, struct(t,
    // size(filter))) HOF whose nested interpreted filter was
    // O(|matched| × |toks|) per row
    val postings = graft.functions.expr.TextExpressions.postings(toks, col("_qterms"))
    // NO round-robin spread here, deliberately (r18, measured): with
    // the kernel the per-doc postings work is too cheap to amortize an
    // exchange — a docShingled-rule repartition(32) tripled the steady
    // state at sf0.1 (1.7 → 4.6 s, hot frames all DiskBlockObjectWriter
    // / shuffle-commit overhead). At 100 TB the scan has real splits
    // and needs no spread; the sqCoded precedent applies only when the
    // spread compute dominates the exchange cost.
    // persisted: the stats aggregate and the scoring pass both read it.
    // Warmed A/B, sf0.1, 4 cores, 10 interleaved pairs (ProfileMain, 3
    // warm reps): q125 1.27 s with the persist against 1.71 s without,
    // faster in 10/10, parent IQR 0.07 s.
    val perdoc = QueryScope.persist(corpus
      .crossJoin(broadcast(tl))
      .select(col("doc_id"), size(toks).cast(LongType).as("dl"),
        postings.as("_mt")))

    val st = perdoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val m = perdoc
      .select(col("doc_id"), col("dl"), explode(col("_mt")).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
    val dfreq = m.groupBy("term").agg(count(lit(1)).as("dfr"))

    val avgdl = col("tot_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val tf = col("tf").cast(DoubleType)
    val idf = ((col("n_docs") - col("dfr")).cast(DoubleType) + lit(0.5)) /
      (col("dfr").cast(DoubleType) + lit(0.5)) + lit(1.0)
    val sat = tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast(DoubleType) / avgdl)))
    val contrib: Column = round(idf * sat, 9).cast(DecimalType(18, 9))

    val scores = m
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("qid"), col("doc_id"), contrib.as("w"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("w")).cast(DoubleType).as("score"))

    scores.groupBy("qid")
      .agg(graft.functions.TopK.topKDouble(k)(col("doc_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("doc_id"),
        (col("pos") + 1).as("rk"), col("e._2").as("score"))
      .orderBy("qid", "rk")
  }

  /** DuckDB twin of [[bm25]] given a `(qid, terms)` VALUES body — the
    * oracle the driver replays. Kept beside the plan so formula edits
    * change both engines in one place. */
  def oracleSql(queryValues: String, k: Int,
                k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH q AS (SELECT * FROM (VALUES $queryValues) AS _q(qid, terms)),
       |qt AS (SELECT DISTINCT CAST(qid AS BIGINT) AS qid, unnest(terms) AS term FROM q),
       |tl AS (SELECT list(DISTINCT term ORDER BY term) AS qterms FROM qt),
       |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t, qterms
       |       FROM d CROSS JOIN tl),
       |m AS (SELECT doc_id, dl, tm AS term,
       |        CAST(len(list_filter(t, x -> x = tm)) AS BIGINT) AS tf
       |      FROM (SELECT doc_id, dl, t, unnest(list_intersect(qterms, t)) AS tm
       |            FROM pd)),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |              CAST(SUM(dl) AS BIGINT) AS tot_dl FROM pd),
       |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfr FROM m GROUP BY term),
       |sc AS (SELECT qt.qid, m.doc_id,
       |         round(((CAST(n_docs - dfr AS DOUBLE) + 0.5) / (CAST(dfr AS DOUBLE) + 0.5) + 1.0)
       |           * (CAST(tf AS DOUBLE) * ${k1 + 1.0}
       |              / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b * (CAST(dl AS DOUBLE)
       |                 / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 9) AS w
       |       FROM m JOIN dfreq USING (term) JOIN qt USING (term) CROSS JOIN st),
       |agg AS (SELECT qid, doc_id,
       |          CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS score
       |        FROM sc GROUP BY qid, doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |           ORDER BY score DESC, doc_id) AS INTEGER) AS rk
       |       FROM agg)
       |SELECT qid, doc_id, rk, score FROM rk WHERE rk <= $k
       |ORDER BY qid, rk""".stripMargin
}

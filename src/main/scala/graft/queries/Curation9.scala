package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Ninth curation batch: the human-in-the-loop QA surfaces — a
  * deterministic per-source inspection sample (the "show me a few docs
  * from every source" query reviewers run daily) and a label-noise audit
  * over the embedding corpus (neighborhood label disagreement, the
  * confident-learning signal that flags suspect classes before anyone
  * trains on the transferred labels).
  */
object Curation9 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  /** 52-bit cross-engine hash (13 hex chars of md5): fits exactly in a
    * double, so it can ride the shared TopK heap buffer without
    * precision loss — unlike the 60-bit QueryDsl hash, whose top 7 bits
    * would round away and scramble the order vs the oracle's integer
    * compare. */
  private def hash52(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast(StringType)), 1, 13), 16, 10).cast(LongType)
  private def hash52Sql(e: String) =
    s"CAST(concat('0x', substr(md5(CAST($e AS VARCHAR)), 1, 13)) AS BIGINT)"

  // -- q149: deterministic per-source inspection sample -----------------
  // Three documents per source, chosen by hash rank — the reviewer's
  // eyeball sample. Deterministic (same docs every run, every engine —
  // unlike TABLESAMPLE/rand(), which can't be oracle-checked and can't
  // be reproduced in a bug report) and scale-shaped: the head is the
  // bounded-heap TopK per source key, so the corpus is scanned and
  // discarded — a row_number window would shuffle every document into
  // |sources| tasks and sort each source's full slice for a 3-row
  // answer. Hash ranking also makes the sample UNIFORM per source
  // (md5 is equidistributional in doc_id), not head-of-file biased the
  // way LIMIT-per-partition sampling is.
  val q149 = q("q149_inspection_sample",
    s"""WITH h AS (SELECT source, doc_id, n_chars, lang,
      |             ${hash52Sql("doc_id")} AS hsc
      |           FROM documents),
      |r AS (SELECT source, doc_id, n_chars, lang,
      |        row_number() OVER (PARTITION BY source ORDER BY hsc DESC, doc_id) AS rk
      |      FROM h)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars, lang
      |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir).documents
    val sample = docs
      .select(col("source"), col("doc_id"), hash52(col("doc_id")).as("hsc"))
      .groupBy("source")
      .agg(graft.functions.TopK.topKLong(3)(col("doc_id"), col("hsc")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast(LongType).as("rk"),
        col("e._1").as("doc_id"))
    // metadata attaches to the |sources|×3-row sample, not the corpus
    sample.join(docs.select(col("doc_id"), col("n_chars"), col("lang")), Seq("doc_id"))
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"), col("lang"))
      .orderBy("source", "rk")
  }

  // -- q150: label-noise audit (neighborhood disagreement) --------------
  // The confident-learning signal over the labeled embedding corpus:
  // for every vector, how many of its 5 nearest neighbors (SQ8 integer
  // dot, within its quantizer cell) carry a DIFFERENT label? Per-class
  // disagreement rates localize label noise — the class whose members
  // sit in other classes' neighborhoods is the one whose labels (human
  // or q123-transferred) need review. Assignment, codes, ranking, and
  // tie-breaks reuse q140's machinery verbatim, so the oracle replays
  // the whole audit bit-for-bit.
  //
  // Scale: the pair space is CELL-bounded (q107's SemDeDup shape —
  // Σ|cell|², never corpus²), the neighbor head is the bounded-heap
  // TopK, labels attach to the 5·N neighbor relation by equi-join, and
  // the report is class-sized. NList grows ~√N at scale to keep cells
  // bounded (the q37b/q116 quantizer discipline).
  val q150 = q("q150_label_noise",
    s"""${Curation5.SqCtes},
      |cfull AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, qv.q
      |          FROM embeddings e JOIN qv USING (vec_id)),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM cfull ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT f.vec_id, f.q, cent_id,
      |          row_number() OVER (PARTITION BY f.vec_id
      |            ORDER BY list_cosine_similarity(f.v, cent_v) DESC, cent_id) AS rk
      |        FROM cfull f CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, q FROM asn WHERE rk = 1),
      |p AS (SELECT a.vec_id, b.vec_id AS cid,
      |        CAST(list_aggregate(list_transform(range(1, len(a.q) + 1),
      |               i -> a.q[i] * b.q[i]), 'sum') AS BIGINT) AS dot
      |      FROM assigned a JOIN assigned b
      |        ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
      |nn3 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |           ORDER BY dot DESC, cid) AS rk FROM p) WHERE rk <= 5),
      |lab AS (SELECT vec_id, label FROM embeddings),
      |pv AS (SELECT nn3.vec_id, l.label,
      |         CAST(COUNT(*) AS BIGINT) AS n_nbrs,
      |         CAST(SUM(CASE WHEN nl.label <> l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
      |       FROM nn3 JOIN lab l ON nn3.vec_id = l.vec_id
      |            JOIN lab nl ON nn3.cid = nl.vec_id
      |       GROUP BY 1, 2),
      |ct AS (SELECT l.label AS class, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |       FROM assigned a JOIN lab l ON a.vec_id = l.vec_id GROUP BY 1),
      |pa AS (SELECT label AS class, CAST(SUM(n_nbrs) AS BIGINT) AS n_pairs,
      |         CAST(SUM(n_disagree) AS BIGINT) AS n_disagree
      |       FROM pv GROUP BY 1)
      |SELECT ct.class, n_vecs, COALESCE(n_pairs, 0) AS n_pairs,
      |  COALESCE(pa.n_disagree, 0) AS n_disagree,
      |  CASE WHEN COALESCE(n_pairs, 0) = 0 THEN 0.0
      |       ELSE CAST(COALESCE(pa.n_disagree, 0) AS DOUBLE) / n_pairs END AS noise_rate
      |FROM ct LEFT JOIN pa ON ct.class = pa.class ORDER BY ct.class""".stripMargin) { (s, dir) =>
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16; val K = 5
    val c = Similarity.corpus(s, dir)
    val labels = Tables(s, dir).embeddings.select(col("vec_id"), col("label"))
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val st = broadcast(Curation5.sqStats(s, dir))
    val assigned = QueryScope.persist(c.crossJoin(st)
      .select(col("vec_id"),
        nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"),
        Curation5.sqCode(col("v")).as("q")))
    // codegen-native integer dot — exact twin of the HOF fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("q"), col("cq"))
    val nbrs = assigned
      .join(assigned.select(col("cent_id"), col("vec_id").as("cid"),
        col("q").as("cq")), Seq("cent_id"))
      .where(col("vec_id") =!= col("cid"))
      .select(col("vec_id"), col("cid"), dot.as("dot"))
      .groupBy("vec_id")
      .agg(graft.functions.TopK.topKLong(K)(col("cid"), col("dot")).as("top"))
      .select(col("vec_id"), explode(col("top")).as("e"))
      .select(col("vec_id"), col("e._1").as("cid"))
    val perVec = nbrs
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("cid"), col("label").as("nlabel")), Seq("cid"))
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("nlabel") =!= col("label"), 1L).otherwise(0L)).as("n_disagree"))
    val classTotals = assigned.join(labels, Seq("vec_id"))
      .groupBy(col("label").as("class")).agg(count(lit(1)).as("n_vecs"))
    val pairAgg = perVec.groupBy(col("label").as("class"))
      .agg(sum(col("n_nbrs")).as("n_pairs"), sum(col("n_disagree")).as("n_disagree"))
    classTotals.join(pairAgg, Seq("class"), "left")
      .select(col("class"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_disagree"), lit(0L)).as("n_disagree"))
      .withColumn("noise_rate", when(col("n_pairs") === 0, lit(0.0))
        .otherwise(col("n_disagree").cast(DoubleType) / col("n_pairs").cast(DoubleType)))
      .orderBy("class")
  }

  // -- q163: per-source document cap (domain-cap curation) --------------
  // The RefinedWeb/C4 anti-bias gate: no source (≙ web domain) may
  // contribute more than K documents, so a single crawler-friendly site
  // cannot dominate the training mix. Which K survive is a HASH
  // priority (same 52-bit rank as q149) — deterministic, uniform within
  // the source, reproducible across engines and bug reports, where
  // TABLESAMPLE/rand() is none of those. Report is per-source:
  // totals, kept, dropped, and the surviving character mass (the number
  // the token-budget mix q109 consumes next).
  //
  // Scale: the keep set rides the bounded-heap TopK per source key —
  // the corpus streams through map-side heaps and is DISCARDED
  // (a row_number window would shuffle and sort every document for a
  // K-row-per-source answer, the q149 lesson). Character mass attaches
  // by equi-join to the K·|sources|-sized keep relation, never the
  // corpus; the report is |sources| rows.
  val q163 = q("q163_source_cap",
    s"""WITH h AS (SELECT source, doc_id, n_chars,
      |             ${hash52Sql("doc_id")} AS hsc
      |           FROM documents),
      |r AS (SELECT source, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY source ORDER BY hsc DESC, doc_id) AS rk
      |      FROM h)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rk > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN rk <= 100 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val Cap = 100
    val docs = Tables(s, dir).documents
    val kept = docs
      .select(col("source"), col("doc_id"), hash52(col("doc_id")).as("hsc"))
      .groupBy("source")
      .agg(graft.functions.TopK.topKLong(Cap)(col("doc_id"), col("hsc")).as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e._1").as("doc_id"))
    val keptStats = kept
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(keptStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .orderBy("source")
  }

  // -- q164: embedding outlier audit (distance-to-centroid) -------------
  // The other half of q150's neighborhood QA: instead of label
  // disagreement, flag vectors whose affinity to their OWN quantizer
  // cell is anomalously low — mis-embedded, mis-ingested, or genuinely
  // out-of-distribution points that SemDeDup-era pipelines prune before
  // training. The criterion is integer-exact: member m of cell c is an
  // outlier iff 2·dot(q_m, q_c)·|c| < Σ_m' dot(q_m', q_c) — "less than
  // half the cell's mean centroid affinity", evaluated by cross-multiply
  // over SQ8 integer dots (no IEEE mean, no order sensitivity — the
  // q154 discipline). Assignment reuses q150's quantizer verbatim, so
  // the oracle replays the whole audit bit-for-bit.
  //
  // Scale: one corpus pass to assign+code (persisted), one cell-keyed
  // join against the 16-row broadcast centroid-code relation, two
  // cell-keyed aggregates. No pair space at all — cost is O(N·dim),
  // report is |cells| rows. NList grows ~√N at scale (the q37b/q116
  // discipline) and the shape is unchanged.
  val q164 = q("q164_embedding_outliers",
    s"""${Curation5.SqCtes},
      |cfull AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, qv.q
      |          FROM embeddings e JOIN qv USING (vec_id)),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM cfull ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT f.vec_id, f.q, cent_id,
      |          row_number() OVER (PARTITION BY f.vec_id
      |            ORDER BY list_cosine_similarity(f.v, cent_v) DESC, cent_id) AS rk
      |        FROM cfull f CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, q FROM asn WHERE rk = 1),
      |centq AS (SELECT vec_id AS cent_id, q AS cq FROM cfull
      |          WHERE vec_id IN (SELECT cent_id FROM cent)),
      |d AS (SELECT a.cent_id, a.vec_id,
      |        CAST(list_aggregate(list_transform(range(1, len(a.q) + 1),
      |               i -> a.q[i] * cq[i]), 'sum') AS BIGINT) AS dot
      |      FROM assigned a JOIN centq USING (cent_id)),
      |cs AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |         CAST(SUM(dot) AS BIGINT) AS sum_dot
      |       FROM d GROUP BY 1)
      |SELECT d.cent_id, n_vecs, sum_dot,
      |  CAST(SUM(CASE WHEN 2 * d.dot * n_vecs < sum_dot THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM d JOIN cs USING (cent_id)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16
    val c = Similarity.corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val st = broadcast(Curation5.sqStats(s, dir))
    val assigned = QueryScope.persist(c.crossJoin(st)
      .select(col("vec_id"),
        nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"),
        Curation5.sqCode(col("v")).as("q")))
    // the 16 centroid rows carry their own codes; every centroid
    // assigns to itself (cos=1 is the max), so the filter is exact
    val centCodes = assigned.where(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"))
    // codegen-native integer dot — exact twin of the HOF fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("q"), col("cq"))
    val d = assigned.join(broadcast(centCodes), Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), dot.as("dot"))
    val cellStats = d.groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"), sum(col("dot")).as("sum_dot"))
    val out = d.join(broadcast(cellStats), Seq("cent_id"))
      .groupBy(col("cent_id"), col("n_vecs"), col("sum_dot"))
      .agg(sum(when(lit(2L) * col("dot") * col("n_vecs") < col("sum_dot"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .orderBy("cent_id")
    // assigned stays persisted behind the returned lazy plan (the q150
    // discipline — the relation is referenced three times: d's base,
    // the centroid codes, and via cellStats; the harness's inter-query
    // sweep releases it)
    out
  }

  val all: Seq[GraftQuery] = Seq(q149, q150, q163, q164)
}

package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Fifth batch: retrieval scoring, embedding compression, and PII
  * redaction — the serving/compliance-adjacent operators of an LLM data
  * platform.
  *
  * q118 is BM25 lexical retrieval (Robertson et al.); q119 is per-
  * dimension int8 scalar quantization of the embedding corpus (the
  * standard 4× index-compression step ahead of PQ); q120 is the PII
  * scrub every released corpus runs (email/phone/IP redaction à la
  * C4/Dolma). All three are oracle-gated; all arithmetic follows the
  * repo determinism rules (QueryDsl scaladoc — fixed expression trees,
  * no transcendentals, no order-dependent double aggregation).
  */
object Curation5 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  // -- q118: BM25 top-k lexical retrieval -------------------------------
  // Fixed 4-term query over the corpus. Scale shape: per-doc term
  // frequencies are computed IN-ROW (array filter over the tokenized
  // text — no per-token explode, so the corpus never shuffles at token
  // grain) and persisted as a narrow (doc_id, dl, 4×tf) relation; the
  // corpus statistics BM25 needs (N, Σdl, per-term document frequency)
  // are one map-side-combined aggregate over that relation, riding back
  // in as a 1-row broadcast; scoring is map-only; the top-k is
  // orderBy+limit → TakeOrderedAndProject (per-partition heads merged
  // on the driver — the q80 pattern, never a global sort). The text is
  // read once regardless of query-term count.
  //
  // Determinism: the classic formula weighs each term by
  // ln(idf_odds); ln is libm-dependent and banned by the repo's
  // cross-engine rules (see q101's scaladoc), so the gated score uses
  // the exact-rational odds idf_odds = (N - df + 0.5)/(df + 0.5) + 1
  // directly — every remaining op is a fixed-shape IEEE chain
  // (identical in both engines). A deployment that wants the classic
  // log-weighted score applies ln per term at the top — a 1-line,
  // vocabulary-independent change that does not alter the dataflow.
  private val BmTerms = Seq("join", "window", "stream", "hash")

  val q118 = q("q118_bm25_topk", {
    val tfCols = BmTerms.map(t =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(", ")
    val dfCols = BmTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(", ")
    val wTerms = BmTerms.map { t =>
      s"((CAST(n_docs - df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5) + 1.0)" +
        s" * (CAST(tf_$t AS DOUBLE) * 2.2 / (CAST(tf_$t AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"
    }.mkString(" + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, $tfCols FROM d),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl, $dfCols FROM f),
       |sc AS (SELECT f.*, ${BmTerms.map(t => s"df_$t").mkString(", ")},
       |         CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl, n_docs
       |       FROM f CROSS JOIN st)
       |SELECT doc_id, dl, ${BmTerms.map(t => s"tf_$t").mkString(", ")},
       |  $wTerms AS score
       |FROM sc WHERE ${BmTerms.map(t => s"tf_$t > 0").mkString(" OR ")}
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }) { (s, dir) =>
    val t = split(col("text"), " ")
    // narrow per-doc signal relation: text dropped immediately; referenced
    // by both the stats aggregate and the scoring pass → persist so the
    // tokenize+count row work runs once (the query's scope releases it).
    // Per-term counts come from ONE codegen termFreqs pass (see
    // TextKernels.termFreqs) — exact twin of the k per-term
    // size(filter(t, x === lit(term))) interpreted ArrayFilter columns;
    // the _tfs alias is referenced k times so the projection boundary
    // holds and the kernel runs once per row.
    val f = QueryScope.persist(Tables(s, dir).documents
      .select(col("doc_id"), size(t).cast(LongType).as("dl"),
        graft.functions.expr.TextExpressions.termFreqs(t, BmTerms).as("_tfs"))
      .select(col("doc_id") +: col("dl") +: BmTerms.zipWithIndex.map { case (tm, i) =>
        element_at(col("_tfs"), i + 1).as(s"tf_$tm") }: _*))
    val stCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("tot_dl") +:
      BmTerms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val st = f.agg(stCols.head, stCols.tail: _*)
    val avgdl = col("tot_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
    def w(term: String): Column = {
      val tf = col(s"tf_$term").cast(DoubleType)
      val df = col(s"df_$term")
      val idf = ((col("n_docs") - df).cast(DoubleType) + lit(0.5)) /
        (df.cast(DoubleType) + lit(0.5)) + lit(1.0)
      idf * (tf * lit(2.2) / (tf + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / avgdl))))
    }
    f.crossJoin(broadcast(st))
      .where(BmTerms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .select(col("doc_id") +: col("dl") +: BmTerms.map(t => col(s"tf_$t")) :+
        BmTerms.map(w).reduce(_ + _).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }

  // -- q119: int8 scalar quantization of the embedding corpus -----------
  // Per-dimension affine int8 codes (the faiss ScalarQuantizer / SQ8
  // shape). Complements q98, which is per-VECTOR max-abs scaling (a
  // row-local storage transform, no training): SQ8 trains per-DIM
  // ranges over the whole corpus, so codes are comparable across
  // vectors and integer dot products rank correctly — the property
  // q121's search relies on. Train = one corpus pass for per-dim
  // min/max — posexplode to
  // (dim, x) partial-aggregates map-side, so the shuffle is 64 rows per
  // partition regardless of corpus size — assembled into two dim-length
  // arrays riding back as a 1-row broadcast; encode = map-only
  // transform-with-index against the broadcast arrays. Outputs are
  // integer-exact per-vector code statistics (sum, energy, saturation
  // counts), so the oracle compare is immune to accumulation order.
  //
  // Determinism: codes use floor((x-mn)*255/(mx-mn)) capped at 254
  // rather than round() — floor is unambiguous where round's half-way
  // ties differ across engines. Inputs are float32 → DOUBLE casts are
  // exact; min/max of floats are floats; the whole chain is a fixed
  // IEEE expression tree.
  /** Shared SQ8 trainer+encoder CTE prefix (DuckDB side): `qv` is the
    * coded corpus — (vec_id, q: int8-range codes as BIGINTs). Shared
    * with q122's IVF-SQ8 composition in [[Similarity]]. */
  private[queries] val SqCtes =
    """WITH dims AS (
      |  SELECT i AS dim, min(embedding[i]) AS mn, max(embedding[i]) AS mx
      |  FROM embeddings,
      |       (SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i)
      |  GROUP BY i),
      |st AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY dim) AS mins,
      |              list(CAST(mx AS DOUBLE) ORDER BY dim) AS maxs FROM dims),
      |qv AS (SELECT vec_id,
      |    list_transform(range(1, len(embedding) + 1), i ->
      |      CASE WHEN maxs[i] > mins[i]
      |           THEN least(CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i]) * 255.0
      |                  / (maxs[i] - mins[i])) AS BIGINT), 254) - 127
      |           ELSE 0 END) AS q
      |  FROM embeddings CROSS JOIN st)""".stripMargin

  /** SQ8 trainer (Spark side): the 1-row (mins, maxs) stats relation.
    * r19: ONE array-fold aggregate ([[graft.functions.DimStats.minMax]],
    * exact twin of the posexplode → groupBy(dim) min/max →
    * collect_list/array_sort chain it replaces — parity pinned by
    * DimStatsParitySpec): no 64× Generate feeding the partial
    * aggregate, one (mins, maxs) partial per task, no second
    * exchange+aggregate layer to rebuild the dim-ordered arrays.
    * Broadcast it. */
  private[queries] def sqStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .agg(graft.functions.DimStats.minMax(
        col("embedding").cast("array<double>")).as("_mm"))
      .select(col("_mm._1").as("mins"), col("_mm._2").as("maxs"))

  /** SQ8 encoder expression over a vector column (float or double —
    * element casts to double are exact either way); expects the
    * broadcast [[sqStats]] row's `mins`/`maxs` in scope. r18: runs as
    * the codegen-native [[graft.functions.expr.SimilarityKernels.sqEncode]]
    * kernel — the previous `transform((x, i) => when(mx > mn,
    * least(floor((x − mn)·255/(mx − mn)), 254) − 127).otherwise(0))`
    * HOF evaluated as an interpreted lambda tree per element on every
    * corpus row of all 13 SQ8-family queries; the kernel is its exact
    * twin (same IEEE chain, same element_at/when null edges — pinned by
    * DotLongParitySpec's encode case). */
  private[queries] def sqCode(arr: Column): Column =
    graft.functions.expr.SimilarityExpressions.sqEncode(arr, col("mins"), col("maxs"))

  /** Spark twin of [[SqCtes]]: the coded corpus (vec_id, q). The
    * round-robin spread before the encode is the docShingled rule: the
    * embeddings table arrives as one split at test SFs, and without it
    * the SQ8 encode AND every downstream integer-dot scan (the
    * crossJoin(broadcast(queries)) pattern is map-side over THIS
    * relation's partitioning) run in a single task. */
  private[queries] def sqCoded(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .repartition(s.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(sqStats(s, dir)))
      .select(col("vec_id"), sqCode(col("embedding")).as("q"))

  val q119 = q("q119_embed_int8",
    s"""$SqCtes
      |SELECT vec_id,
      |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
      |  CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT) AS q_energy,
      |  CAST(len(list_filter(q, x -> x = -127)) AS BIGINT) AS n_lo,
      |  CAST(len(list_filter(q, x -> x = 254 - 127)) AS BIGINT) AS n_hi
      |FROM qv ORDER BY vec_id""".stripMargin) { (s, dir) =>
    sqCoded(s, dir)
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_energy"),
        size(filter(col("q"), x => x === lit(-127L))).cast(LongType).as("n_lo"),
        size(filter(col("q"), x => x === lit(127L))).cast(LongType).as("n_hi"))
      .orderBy("vec_id")
  }

  // -- q121: ANN search over int8 codes (SQ8 symmetric distance) --------
  // The search half of q119: brute-force top-5 by integer dot product
  // over the quantized corpus — the faiss IndexScalarQuantizer shape,
  // 4× less scan bandwidth than the float baseline (q31) and the
  // realistic refinement stage under an IVF route (q37's cells compose
  // with these codes unchanged). Codes are encoded once (map-only,
  // persisted narrow relation — 64 small ints per row) and the query
  // side is a filtered subset of the same relation, so training and
  // encoding never run twice. Scoring follows q31's broadcast shape:
  // the ≤10-query code set broadcasts, the corpus scans once, and the
  // per-query head is a qid-partitioned window (bounded partition
  // count; the documented brute baseline — IVF bounds the scan when
  // the corpus outgrows it).
  //
  // Unlike every float ANN index (q37b/q102 need an exact-NN witness
  // oracle), SQ8 scores are INTEGERS — dot ∈ [-64·127², 64·127²] —
  // so ranking, ties (broken by cid), and the scores themselves are
  // bit-exact cross-engine: the oracle checks the full top-5, not a
  // recall proxy.
  val q121 = q("q121_ann_sq8",
    s"""$SqCtes,
      |qs AS (SELECT vec_id AS qid, q AS qc FROM qv WHERE vec_id < 10),
      |sc AS (SELECT qid, v.vec_id AS cid,
      |         CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
      |                i -> qc[i] * v.q[i]), 'sum') AS BIGINT) AS dot
      |       FROM qv v CROSS JOIN qs WHERE v.vec_id <> qid),
      |rk AS (SELECT qid, cid, dot,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INTEGER) AS rk
      |       FROM sc)
      |SELECT qid, cid, rk, dot FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (s, dir) =>
    val coded = QueryScope.persist(sqCoded(s, dir))
    val qs = coded.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qc"))
    // codegen-native integer dot (see SimilarityKernels.dotLongBoxed):
    // exact twin of the aggregate(zip_with(...)) fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    // bounded-heap head (graft.functions.TopK): per-(partition, qid)
    // k-heaps merged map-side — no full per-query sort, no corpus-sized
    // shuffle into ≤|queries| reducers; integer dots carry exactly.
    val scored = coded.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
    scored.groupBy("qid")
      .agg(graft.functions.TopK.topKLong(5)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("rk"),
        col("e._2").as("dot"))
      .orderBy("qid", "rk")
  }

  // -- q120: PII redaction (email / phone / IPv4 scrub) -----------------
  // Pattern-specific PII scrubbing over the document corpus; q53 is the
  // generic numeric-sequence mask over the event payloads — this one
  // targets the concrete identifier classes (email/phone/IP) a corpus
  // release gate names, and fingerprints the redacted text.
  // The release-gate scrub: count and redact PII patterns, emit the
  // redacted text's fingerprint so the oracle verifies the REPLACEMENT
  // itself, not just the counts. The synthetic corpus contains no PII,
  // so the query plants deterministic fixtures first (doc_id-derived
  // email/phone/IP suffixes on a hash-sliced subset) — the injection is
  // part of the gated expression, so both engines scrub identical
  // inputs and the counts are provably non-trivial. Map-only end to
  // end: one pass, no shuffle except the output order; streaming-safe
  // (stateless), so the same expression drops into a readStream.
  //
  // Patterns are RE2∩java.util.regex common dialect (character
  // classes, bounded repeats, \b, non-capturing groups only — no
  // backrefs/lookaround), so Spark and DuckDB match identically.
  /** Shared with the batch/streaming scrub stages (CorpusCurationMain,
    * StreamingCurationMain): RE2∩java.util.regex common dialect,
    * identical semantics batch, stream, and oracle-side. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"
  val IpRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The canonical redaction chain (email → phone → IP, in that order —
    * email first so an address's digit-bearing domain can't be half
    * eaten by the IP pattern). q120, both curation examples, and the
    * streaming stage all run THIS expression; pattern or order changes
    * happen here once. */
  def scrubExpr(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(EmailRe), lit("<EMAIL>")), lit(PhoneRe), lit("<PHONE>")), lit(IpRe), lit("<IP>"))

  /** JVM-string twin of [[scrubExpr]] for row-at-a-time stages (the
    * streaming Intersection) — same patterns, same order, same tokens. */
  def scrubString(s: String): String =
    s.replaceAll(EmailRe, "<EMAIL>").replaceAll(PhoneRe, "<PHONE>").replaceAll(IpRe, "<IP>")

  val q120 = q("q120_pii_scrub",
    s"""WITH aug AS (SELECT doc_id, text ||
       |    CASE doc_id % 5
       |      WHEN 1 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |      WHEN 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
       |      WHEN 3 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id + 13) % 256 AS VARCHAR) || ' up'
       |      ELSE '' END AS t
       |  FROM documents),
       |red AS (SELECT doc_id, t,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g') AS r
       |  FROM aug)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ip,
       |  CAST(length(r) AS BIGINT) AS len_red, md5(r) AS fp
       |FROM red ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val inj = col("doc_id") % 5
    val aug = concat(col("text"),
      when(inj === 1, concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .when(inj === 2, concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .when(inj === 3, concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") + 13) % 256).cast("string"), lit(" up")))
        .otherwise(lit("")))
    val red = scrubExpr(col("t"))
    Tables(s, dir).documents
      .select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast(LongType).as("n_email"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).cast(LongType).as("n_phone"),
        size(regexp_extract_all(col("t"), lit(IpRe), lit(0))).cast(LongType).as("n_ip"),
        length(red).cast(LongType).as("len_red"),
        md5(red.cast("binary")).as("fp"))
      .orderBy("doc_id")
  }

  // -- q123: kNN label transfer over SQ8 codes --------------------------
  // The auto-labeling / label-propagation step (transfer a curated
  // seed set's labels to unlabeled data by nearest-neighbor vote —
  // the quality-classifier bootstrap in modern curation stacks): each
  // query vector takes the majority label of its 10 nearest neighbors
  // under the SQ8 integer dot, ties to the smallest label. Neighbor
  // search is q121's shape (codes persist once, query codes
  // broadcast); the vote aggregate is (queries × labels)-sized; label
  // attachment broadcasts the tiny neighbor set against the corpus
  // scan, never shuffling the corpus. Votes, ranking, and tie-breaks
  // are all integers — the oracle replays the classifier exactly.
  val q123 = q("q123_knn_label",
    s"""$SqCtes,
      |qs AS (SELECT vec_id AS qid, q AS qc FROM qv WHERE vec_id < 20),
      |sc AS (SELECT qid, v.vec_id AS cid,
      |         CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
      |                i -> qc[i] * v.q[i]), 'sum') AS BIGINT) AS dot
      |       FROM qv v CROSS JOIN qs WHERE v.vec_id <> qid),
      |nn AS (SELECT qid, cid FROM (
      |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |           ORDER BY dot DESC, cid) AS rk FROM sc) WHERE rk <= 10),
      |votes AS (SELECT qid, e.label, COUNT(*) AS votes
      |          FROM nn JOIN embeddings e ON nn.cid = e.vec_id
      |          GROUP BY qid, e.label),
      |pred AS (SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes FROM (
      |           SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
      |             ORDER BY votes DESC, label) AS r FROM votes) WHERE r = 1)
      |SELECT p.qid, e.label AS true_label, p.pred_label, p.votes
      |FROM pred p JOIN embeddings e ON p.qid = e.vec_id ORDER BY p.qid""".stripMargin) { (s, dir) =>
    knnPredictions(s, dir, 20).orderBy("qid")
  }

  /** The q123 classifier as a reusable relation: 10-NN majority-vote
    * label transfer for every query vector with `vec_id < maxQid`,
    * returning (qid, true_label, pred_label, votes). Shared by q123
    * (the per-query report) and q147 (the per-class evaluation in
    * [[Curation8]]) so both replay the identical classifier. */
  private[queries] def knnPredictions(s: SparkSession, dir: String, maxQid: Long): DataFrame = {
    // read twice (queries and corpus) but not persisted: warmed at sf0.1
    // on 4 cores (medians of 10 interleaved pairs), q147 took 2.11 s with
    // a persist and 1.93 s without (with faster in 5/10), q123 1.65 s
    // and 1.60 s (6/10)
    val coded = sqCoded(s, dir)
    val labels = Tables(s, dir).embeddings.select(col("vec_id"), col("label"))
    val qs = coded.where(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("q").as("qc"))
    // codegen-native integer dot (see SimilarityKernels.dotLongBoxed):
    // exact twin of the aggregate(zip_with(...)) fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    // neighbor head via bounded-heap top-k (graft.functions.TopK) — the
    // corpus-sized scored relation never shuffles into ≤|queries| tasks
    val nn = coded.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKLong(10)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e._1").as("cid"))
    // label attachment: corpus scan ⋈ broadcast(tiny neighbor set)
    val votes = labels.withColumnRenamed("vec_id", "cid").join(broadcast(nn), Seq("cid"))
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    // vote argmax as a struct-max aggregate, not a row_number window:
    // lexicographic max of (votes, -label) = most votes, ties to the
    // SMALLEST label — the oracle's ORDER BY votes DESC, label — with
    // map-side partials and no per-qid sort. Exact integers throughout.
    val pred = votes.groupBy("qid")
      .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("m"))
      .select(col("qid"), (-col("m.nl")).as("pred_label"), col("m.votes").as("votes"))
    labels.withColumnRenamed("vec_id", "qid").withColumnRenamed("label", "true_label")
      .join(broadcast(pred), Seq("qid"))
      .select("qid", "true_label", "pred_label", "votes")
  }

  // -- q125: BM25 with a runtime query relation -------------------------
  // The general form of q118 (see [[graft.operators.Bm25]]): the query
  // set is a RELATION built at runtime, not terms baked into the plan —
  // the retrieval API a user actually calls. Five queries exercise the
  // surface: q118's own 4-term query, short high-idf and mixed-df
  // queries, a stopword-only query (idf floor), and a term absent from
  // the corpus (produces no rows for that qid — same in both engines).
  // Scale shape and determinism are the operator's (scalar-broadcast
  // term set, in-row sparse postings, term-key equi-joins, DECIMAL(18,9)
  // order-free term sum, bounded-heap per-query head).
  private val Bm25Queries = Seq(
    0L -> Seq("join", "window", "stream", "hash"),
    1L -> Seq("vector", "scan"),
    2L -> Seq("customer", "query", "batch"),
    3L -> Seq("the", "a"),
    4L -> Seq("nosuchterm"))

  val q125 = q("q125_bm25_queries",
    graft.operators.Bm25.oracleSql(
      Bm25Queries.map { case (qid, ts) =>
        s"($qid, [${ts.map(t => s"'$t'").mkString(",")}])"
      }.mkString(", "),
      k = 10)) { (s, dir) =>
    import s.implicits._
    val queries = Bm25Queries.toDF("qid", "terms")
    graft.operators.Bm25.bm25(
      Tables(s, dir).documents.select("doc_id", "text"), queries, k = 10)
  }

  // -- q129: hybrid retrieval — RRF fusion of BM25 and SQ8 ANN ----------
  // The fusion step of hybrid search ([[graft.operators.Rrf]]): the
  // lexical run is BM25 top-50 for the q118 query (via the runtime-
  // relation operator), the dense run is the SQ8 integer-dot top-50
  // for query vector 0 (q121's shape), and RRF combines them on rank
  // alone — no score calibration across modalities. On the test corpus
  // vec_id is taken as the document key (the operator itself is
  // key-agnostic; a production pipeline joins embeddings to doc ids),
  // so documents past the text corpus carry only dense evidence —
  // exactly RRF's partial-evidence case. Both runs arrive pre-top-k'd
  // (bounded-heap heads), fusion touches (queries × 50 × 2) rows, and
  // every fused score is a rounded-rational decimal sum — bit-exact
  // cross-engine, ranks and tie-breaks integer.
  val q129 = q("q129_hybrid_rrf", {
    val lexSql = graft.operators.Bm25.oracleSql(
      "(0, ['join','window','stream','hash'])", k = 50)
    s"""WITH lex AS (SELECT qid, doc_id AS id, rk FROM ($lexSql)),
       |dense AS (SELECT qid, cid AS id, rk FROM (
       |  $SqCtes,
       |  qs AS (SELECT vec_id AS qid, q AS qc FROM qv WHERE vec_id = 0),
       |  sc AS (SELECT qid, v.vec_id AS cid,
       |           CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
       |                  i -> qc[i] * v.q[i]), 'sum') AS BIGINT) AS dot
       |         FROM qv v CROSS JOIN qs WHERE v.vec_id <> qid),
       |  r0 AS (SELECT qid, cid,
       |           CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY dot DESC, cid) AS INTEGER) AS rk FROM sc)
       |  SELECT qid, cid, rk FROM r0 WHERE rk <= 50)),
       |c AS (SELECT qid, id, round(CAST(1 AS DOUBLE) / (60 + rk), 9) AS w FROM lex
       |      UNION ALL
       |      SELECT qid, id, round(CAST(1 AS DOUBLE) / (60 + rk), 9) AS w FROM dense),
       |agg AS (SELECT qid, id,
       |          CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS score
       |        FROM c GROUP BY qid, id),
       |r AS (SELECT qid, id, score,
       |        CAST(row_number() OVER (PARTITION BY qid
       |          ORDER BY score DESC, id) AS INTEGER) AS rk FROM agg)
       |SELECT qid, id, rk, score FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }) { (s, dir) =>
    import s.implicits._
    val lex = graft.operators.Bm25.bm25(
      Tables(s, dir).documents.select("doc_id", "text"),
      Seq(0L -> Seq("join", "window", "stream", "hash")).toDF("qid", "terms"),
      k = 50)
      .select(col("qid"), col("doc_id").as("id"), col("rk"))
    // read twice, not persisted: warmed at sf0.1 on 4 cores, with perdoc
    // persisted, q129 took 3.13 s with this persist and 3.17 s without
    // (medians of 10 interleaved pairs; with faster in 3/10)
    val coded = sqCoded(s, dir)
    val qc = coded.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("q").as("qc"))
    // codegen-native integer dot (see SimilarityKernels.dotLongBoxed):
    // exact twin of the aggregate(zip_with(...)) fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    val dense = coded.crossJoin(broadcast(qc))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKLong(50)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("id"), (col("pos") + 1).as("rk"))
    graft.operators.Rrf.fuse(Seq(lex, dense), k0 = 60, topK = 10)
  }

  // -- q135: hard-negative mining over SQ8 codes ------------------------
  // The training-pair generator for dense retrievers (DPR, Karpukhin et
  // al. 2020; SimCSE-style contrastive setups): for each query vector,
  // the top-k most similar vectors with a DIFFERENT label are its hard
  // negatives — near the decision boundary, where contrastive gradients
  // actually come from. Same integer-exact SQ8 scan as q121 (codes
  // encoded once, query side broadcast) with the label-mismatch
  // predicate applied BEFORE the head, plus the bounded-heap TopK head
  // so non-candidates are scanned and discarded, never shuffled. The
  // 50-row head then re-joins the label relation (broadcast of the
  // head, one narrow label scan) to name each negative's class.
  // Scores, ranks, ties all integer-exact — full top-5 oracle.
  val q135 = q("q135_hard_negatives",
    s"""$SqCtes,
      |lab AS (SELECT vec_id, label FROM embeddings),
      |qs AS (SELECT qv.vec_id AS qid, qv.q AS qc, lab.label AS qlab
      |       FROM qv JOIN lab USING (vec_id) WHERE qv.vec_id < 10),
      |sc AS (SELECT qid, v.vec_id AS cid, l.label AS neg_label,
      |         CAST(list_aggregate(list_transform(range(1, len(qc) + 1),
      |                i -> qc[i] * v.q[i]), 'sum') AS BIGINT) AS dot
      |       FROM qv v JOIN lab l USING (vec_id) CROSS JOIN qs
      |       WHERE v.vec_id <> qid AND l.label <> qlab),
      |rk AS (SELECT qid, cid, neg_label, dot,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INTEGER) AS rk
      |       FROM sc)
      |SELECT qid, rk, cid, neg_label, dot FROM rk WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin) { (s, dir) =>
    val lab = Tables(s, dir).embeddings.select(col("vec_id"), col("label"))
    val coded = QueryScope.persist(sqCoded(s, dir).join(lab, Seq("vec_id")))
    val qs = coded.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qc"), col("label").as("qlab"))
    // codegen-native integer dot (see SimilarityKernels.dotLongBoxed):
    // exact twin of the aggregate(zip_with(...)) fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    val head = coded.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("qid") && col("label") =!= col("qlab"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKLong(5)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("e._1").as("cid"), col("e._2").as("dot"))
    lab.select(col("vec_id").as("cid"), col("label").as("neg_label"))
      .join(broadcast(head), Seq("cid"))
      .select(col("qid"), col("rk"), col("cid"), col("neg_label"), col("dot"))
      .orderBy("qid", "rk")
  }

  val all: Seq[GraftQuery] = Seq(q118, q119, q120, q121, q123, q125, q129, q135)
}

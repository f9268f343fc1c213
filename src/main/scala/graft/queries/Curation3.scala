package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import graft.QueryDsl.{crossHash60, crossHash60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Third corpus-curation batch: the tokenizer-adjacent operators — GPT-
  * style fixed-length sequence packing (documents split across context
  * windows), DSIR-style hashed-n-gram importance weighting (Xie et al.
  * 2023, with a Hellinger affinity so the weights are integer-exact
  * cross-engine), vocabulary-coverage/OOV filtering, and content-
  * defined chunking (rolling-boundary chunks whose identity survives
  * insertions, unlike fixed windows) with chunk-level cross-doc dedup.
  *
  * Every query is oracle-checked; all ranking/threshold arithmetic is
  * integer or IEEE-exact per the repo determinism rules (QueryDsl).
  */
object Curation3 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  /** q110 prefix-sum bucket count — the packing's parallelism: 1024
    * spreads the per-bucket sort over 1024 tasks at any scale while the
    * bucket-offset window still only sees ≤1024 aggregate rows. */
  val PackBuckets: Int = 1024

  // -- q110: fixed-length sequence packing (split docs, no padding) -----
  // The last step before a pretraining run: concatenate the corpus in a
  // deterministic hash order and cut it into L-token sequences,
  // splitting documents across sequence boundaries (GPT-style packing —
  // zero padding waste, unlike best-fit bin packing). The naive form is
  // one global running sum — a single reducer over every doc. Here the
  // prefix sum is two-level (the q109 shape): docs hash into B buckets,
  // per-bucket totals aggregate first (B rows), bucket offsets come
  // from a window over that aggregate, and per-doc start offsets are a
  // window inside each bucket — B-way parallel, identical to the single
  // window ordered by (bucket, h, doc_id), which is what the oracle
  // runs. Each doc then explodes into only the sequences it overlaps
  // (ceil(n/L)+1 max), so output ≈ corpus tokens / L plus one row per
  // boundary crossing. All arithmetic is integer.
  //
  // B (bucket count = prefix-sum parallelism): each bucket sorts
  // ~corpus/B docs in one task, so B should be ≥ the cluster's task
  // slots. The oracle interpolates the same value, and the PACKING
  // ITSELF depends on B (bucket is the major sort key), so Spark and
  // oracle agree for any choice.
  val q110 = q("q110_sequence_pack",
    s"""WITH d AS (SELECT doc_id,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |             ${crossHash60Sql("doc_id")} AS h
      |           FROM documents),
      |db AS (SELECT *, h % $PackBuckets AS bucket FROM d WHERE n > 0),
      |c AS (SELECT doc_id, n,
      |        CAST(SUM(n) OVER (ORDER BY bucket, h, doc_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS start
      |      FROM db),
      |ch AS (SELECT doc_id, n, start,
      |         unnest(range(start // 512, (start + n - 1) // 512 + 1)) AS seq_id
      |       FROM c)
      |SELECT seq_id, doc_id,
      |  greatest(seq_id * 512, start) - start AS doc_off,
      |  greatest(seq_id * 512, start) - seq_id * 512 AS seq_off,
      |  least((seq_id + 1) * 512, start + n) - greatest(seq_id * 512, start) AS len
      |FROM ch ORDER BY seq_id, seq_off""".stripMargin) { (s, dir) =>
    val L = 512L; val B = PackBuckets
    val base = Tables(s, dir).documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        crossHash60(col("doc_id")).as("h"))
      .where(col("n") > 0)
      .withColumn("bucket", pmod(col("h"), lit(B)))
    // two-level prefix sum: bucket offsets come from a broadcast
    // B×B prefix self-join over the ≤B-row bucket aggregate (off(b) =
    // Σ bt over buckets < b) — not an unpartitioned window, so no
    // "single partition" path exists anywhere in the plan, even a
    // bounded one.
    val bt = base.groupBy("bucket").agg(sum(col("n")).as("bt"))
    val offsets = bt
      .join(broadcast(bt.select(col("bucket").as("b2"), col("bt").as("bt2"))),
        col("b2") < col("bucket"), "left")
      .groupBy("bucket").agg(coalesce(sum(col("bt2")), lit(0L)).as("off"))
    val wIn = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seqId = col("seq_id")
    base
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("start", col("off") + sum(col("n")).over(wIn) - col("n"))
      .select(col("doc_id"), col("n"), col("start"),
        explode(sequence(expr(s"start div $L"), expr(s"(start + n - 1) div $L"))).as("seq_id"))
      .select(seqId, col("doc_id"),
        (greatest(seqId * L, col("start")) - col("start")).as("doc_off"),
        (greatest(seqId * L, col("start")) - seqId * L).as("seq_off"),
        (least((seqId + 1) * L, col("start") + col("n")) -
          greatest(seqId * L, col("start"))).as("len"))
      .orderBy("seq_id", "seq_off")
  }

  // -- q111: DSIR importance weights (hashed unigrams, Hellinger) -------
  // Data Selection via Importance Resampling: score every document by
  // how much more target-like than corpus-like its hashed bag-of-words
  // is. Features hash into 256 buckets (collision-tolerant by design —
  // DSIR's whole point is that hashed n-gram models suffice); the
  // per-bucket weight is a Hellinger affinity √p_target − √p_source
  // rather than DSIR's log-ratio because sqrt is IEEE-correctly-rounded
  // in both engines while log is not — scaled to an integer so the
  // per-doc accumulation Σ count(d,b)·w_b is order-independent BIGINT
  // arithmetic. Both model tables are bucket-sized (256 rows,
  // broadcast); docs aggregate (doc, bucket) counts map-side. Output is
  // the top-100 most target-like docs — TakeOrderedAndProject, no
  // global sort.
  val q111 = q("q111_dsir_weights",
    s"""WITH t0 AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |tb AS (SELECT doc_id, lang, ${crossHash60Sql("w")} % 256 AS b FROM t0),
      |cs AS (SELECT b, COUNT(*) AS cs FROM tb GROUP BY b),
      |ct AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
      |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS t FROM ct),
      |ts AS (SELECT CAST(SUM(cs) AS BIGINT) AS s FROM cs),
      |w AS (SELECT cs.b,
      |        CAST(floor((sqrt(CAST(coalesce(ct, 0) AS DOUBLE) / CAST(t AS DOUBLE))
      |                  - sqrt(CAST(cs AS DOUBLE) / CAST(s AS DOUBLE)))
      |                   * 1000000000.0) AS BIGINT) AS wb
      |      FROM cs LEFT JOIN ct ON cs.b = ct.b CROSS JOIN tt CROSS JOIN ts),
      |dc AS (SELECT doc_id, b, COUNT(*) AS c FROM tb GROUP BY 1, 2),
      |dw AS (SELECT doc_id, CAST(SUM(c * wb) AS BIGINT) AS weight
      |       FROM dc JOIN w USING (b) GROUP BY doc_id)
      |SELECT doc_id, weight FROM dw ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin) { (s, dir) =>
    val B = 256
    // Two tokenize passes, not three: the source and target bucket
    // models come from ONE conditional rollup (sum + sum-where-en in
    // the same aggregate) over the exploded stream, and the per-doc
    // counts are the second pass. Both passes partial-aggregate
    // map-side before their exchange. Persisting the (doc, bucket)
    // relation instead would NOT help at scale: with B=256 and
    // real document lengths most (doc, bucket) counts are 1, so that
    // relation is ~token-stream-sized — materializing it costs more
    // than the map-only re-tokenize it saves (measured 2.2x slower).
    val tok = Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"), pmod(crossHash60(col("w")), lit(B)).as("b"))
    val model = tok.groupBy("b").agg(
      count(lit(1)).as("cs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = model.agg(sum(col("cs")).cast("long").as("s"),
      sum(col("ct")).cast("long").as("t"))
    val wtab = model.crossJoin(broadcast(tot))
      .select(col("b"),
        floor((sqrt(col("ct").cast("double") / col("t").cast("double")) -
          sqrt(col("cs").cast("double") / col("s").cast("double"))) * lit(1e9))
          .cast("long").as("wb"))
    tok.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(wtab), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("wb")).cast("long").as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(100)
  }

  // -- q112: vocabulary coverage / OOV-rate filter ----------------------
  // The cheap model-free quality signal tokenizer teams gate on: how
  // much of a document falls outside the corpus's own top-K vocabulary.
  // The vocabulary is a top-k aggregate (TakeOrderedAndProject over the
  // token counts — never a full sort) broadcast to a left join; the OOV
  // ratio is integer per-mille so the gate threshold carries no float.
  // High-OOV docs are the mojibake/boilerplate/wrong-tokenizer outliers.
  val q112 = q("q112_vocab_oov",
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM t0 GROUP BY w
      |                     ORDER BY c DESC, w LIMIT 64)),
      |d AS (SELECT doc_id, COUNT(*) AS n_tokens,
      |        COUNT(*) FILTER (w NOT IN (SELECT w FROM v)) AS n_oov
      |      FROM t0 GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_oov,
      |  (n_oov * 1000) // n_tokens AS oov_permille,
      |  (n_oov * 1000) // n_tokens >= 400 AS flagged
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // ONE tokenize pass: aggregate to (doc, word, count) and persist;
    // the vocabulary branch and the per-doc OOV branch both re-aggregate
    // that relation (duplicate words collapse, so it is ≤ the token
    // stream and usually far smaller) instead of re-scanning documents.
    val dwc = QueryScope.persist(Tables(s, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c")))
    val vocab = dwc.groupBy("w").agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("w")).limit(64)
      .select(col("w"), lit(1).as("in_v"))
    dwc.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_v").isNull, col("c")).otherwise(lit(0L))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 1000) div n_tokens").as("oov_permille"),
        (expr("(n_oov * 1000) div n_tokens") >= 400).as("flagged"))
      .orderBy("doc_id")
  }

  // -- q113: content-defined chunking + chunk-level cross-doc dedup -----
  // Fixed 8-token spans (q78) shift when one token is inserted;
  // content-defined chunking cuts where a token's hash hits a boundary
  // pattern (hash % 16 == 0, expected chunk ≈ 16 tokens — the rolling-
  // boundary idea behind dedup storage systems, applied to text), so
  // chunk identity survives upstream edits. A boundary token CLOSES its
  // chunk; chunk index = running count of boundaries before the token.
  // The prefix count is a per-doc window (docs bound the partition, no
  // global state), chunk text reassembles in position order, and the
  // cross-doc share uses the q78 two-level aggregate: dedup (chunk,
  // doc) first, then a plain count — no Expand doubling.
  val q113 = q("q113_cdc_chunks",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |t0 AS (SELECT doc_id,
      |         CAST(unnest(range(0, len(t))) AS BIGINT) AS pos,
      |         unnest(t) AS w
      |       FROM d),
      |b AS (SELECT doc_id, pos, w,
      |        CASE WHEN ${crossHash60Sql("w")} % 16 = 0 THEN 1 ELSE 0 END AS bnd
      |      FROM t0),
      |cx AS (SELECT doc_id, pos, w,
      |         COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
      |       FROM b),
      |ch AS (SELECT doc_id, chunk_idx,
      |         string_agg(w, ' ' ORDER BY pos) AS chunk
      |       FROM cx GROUP BY doc_id, chunk_idx)
      |SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS first_doc
      |FROM (SELECT DISTINCT chunk, doc_id FROM ch)
      |GROUP BY chunk HAVING COUNT(*) >= 2
      |ORDER BY chunk""".stripMargin) { (s, dir) =>
    // r19: the whole chunk build is ONE in-row codegen kernel
    // (DedupKernels.cdcChunks — exact twin of the posexplode →
    // per-doc prefix-count window → collect_list/array_sort/array_join
    // chain it replaces; CdcChunksParitySpec pins the equivalence,
    // boundary-at-end/trailing-run/empty-text edges included). The
    // token-grain explode, the doc-keyed Exchange+Sort+Window, and the
    // chunk-reassembly aggregate (whose output projection ran an
    // interpreted `transform` lambda) all collapse into the scan
    // projection; only (chunk, doc_id) rows ever shuffle.
    val chunks = Tables(s, dir).documents
      .select(col("doc_id"),
        explode(graft.functions.expr.DedupExpressions.cdcChunks(
          split(col("text"), " "), 16)).as("chunk"))
    chunks
      .select(col("chunk"), col("doc_id")).distinct()
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("chunk")
  }

  val all: Seq[GraftQuery] = Seq(q110, q111, q112, q113)
}

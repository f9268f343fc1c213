package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import graft.QueryDsl.{crossHash60, crossHash60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fourth corpus-curation batch: incremental-ingest operators — the
  * shapes a pipeline needs once a corpus is LIVE and new batches arrive
  * against a multi-TB base that must not be re-shuffled per ingest.
  *
  * q114 is the Bloom-prefilter pattern (the "BFF" n-gram bloom dedup
  * popularized by Dolma, Soldaini et al. 2024): a compact sketch of the
  * base corpus's span set stands in for the base on the probe path, so
  * an incoming batch is prefiltered MAP-SIDE and only candidate hits
  * ever reach an (exact) confirmation join.
  */
object Curation4 {

  // -- q114: bloom-prefiltered incremental span dedup -------------------
  // Split: base (~80%) vs incoming batch (~20%) by a deterministic hash
  // slice of doc_id (the q103 benchmark-split pattern). Index build =
  // two bounded jobs, like ANN quantizer training: a span count (sizes
  // the sketch) and a treeAggregate bloom over the base's 8-token span
  // hashes. Probe = per-doc, map-only: each batch doc's distinct spans
  // are filtered through the sketch INSIDE the row (no explode of
  // non-candidates), so the only data that leaves the batch scan is the
  // candidate (doc, span) pairs — at realistic overlap rates a tiny
  // fraction of the span volume. Confirmation is exact and keeps the
  // result independent of the false-positive rate: the base scan
  // semi-joins against the broadcast candidate span set (base spans
  // never shuffle; matched spans are deduped and broadcast back). Bloom
  // guarantees no false negatives, so candidates ⊇ true matches and
  // the output equals the bloom-free join the oracle runs.
  //
  // 100 TB notes: at ~10 bits/span a single sketch covers ~10^9 base
  // spans per GB of driver/executor memory; beyond that the span space
  // hash-partitions into S independent sketches built and probed per
  // range — IMPLEMENTED: [[bloomIncrement]] takes the shard count, the
  // probe routes each span to its own shard's sketch, and the output is
  // S-independent (BloomShardSpec checks S=4 ≡ S=1 at sf0.01). Dolma's
  // production mode skips the confirm join entirely and accepts the fp
  // rate — that variant is this plan minus the semi-join.
  /** The shingled doc relation (persisted) plus the observed base-doc
    * count — the sizing metric rides the cache-materialization job via
    * observe() (the ConnectedComponents trick): ONE pass tokenizes,
    * shingles, fills the cache, and reports the base-doc count — no
    * separate filtered count job over the materialized relation. */
  private def bloomSpanDocs(s: SparkSession, dir: String): (DataFrame, Long) = {
    val t = col("_t")
    def spans(tokens: Column): Column =
      array_distinct(graft.functions.expr.TextExpressions.spanJoin(tokens, 8))
    val obs = org.apache.spark.sql.Observation()
    val docs = QueryScope.persist(Tables(s, dir).documents
      .withColumn("_t", split(col("text"), " "))
      .where(size(t) >= 8)
      .withColumn("_slice", pmod(crossHash60(col("doc_id")), lit(5)))
      .select(col("doc_id"), col("_slice"), spans(t).as("_sp"))
      .observe(obs, sum(when(col("_slice") =!= 0, 1L).otherwise(0L)).as("base_docs")))
    docs.count() // materialize + observe in one job
    (docs, obs.get("base_docs").asInstanceOf[Long])
  }

  /** One shard's sketch: built over only the base spans whose hash lands
    * in shard `sh` of `shards` — a column-pruned, shard-filtered pass, so
    * peak sketch memory anywhere (executor merge tree, driver, probe-side
    * plan reference) is ONE shard, never the full span space. */
  private def buildShardBloom(baseSpans: DataFrame, shards: Int, sh: Int,
      expected: Long): org.apache.spark.util.sketch.BloomFilter =
    baseSpans
      .where(pmod(xxhash64(col("span")), lit(shards)) === sh)
      .select(xxhash64(col("span")).as("h"))
      .stat.bloomFilter("h", math.max(expected, 1000L), 0.01)

  /** The incremental span-dedup dataflow behind q114, parameterized by
    * sketch shard count. `shards = 1` is q114's single-sketch path; at
    * >10^9 base spans (~1 GB of sketch at 10 bits/span) the span space
    * hash-partitions into S independent sketches built and probed per
    * range — same plumbing per shard, and the in-row probe routes each
    * span to ITS shard's sketch, so candidates (and after the exact
    * confirm join, the output) are identical for every S. */
  private[graft] def bloomIncrement(s: SparkSession, dir: String, shards: Int): DataFrame = {
    import graft.functions.expr.BloomExpressions.bloomMightContainLong
    val (docs, baseDocs) = bloomSpanDocs(s, dir)
    val baseSpans = docs.where(col("_slice") =!= 0)
      .select(explode(col("_sp")).as("span"))

    // Index build (bounded driver state, like the IVF quantizer). The
    // sketch is sized from the OBSERVED base row count (no span
    // explode) times a generous per-doc span cap — not an exact span
    // count, which would cost a full explode pass of its own.
    // Oversizing only lowers the fp rate; undersizing (docs far longer
    // than the cap) only weakens pruning — the confirm join keeps the
    // OUTPUT exact either way. ~10 bits/span at 1% fp.
    val spanCapPerDoc = 256L
    val nSpans = math.max(baseDocs * spanCapPerDoc, 1000L)
    val blooms = (0 until shards).map(sh =>
      buildShardBloom(baseSpans, shards, sh, nSpans / shards)).toArray

    // Probe: in-row prefilter routed to the span's own shard, then
    // explode only the candidates. r19: one codegen kernel call per row
    // (BloomKernelParitySpec pins it against the interpreted
    // `filter(_sp, sp -> pmod(xxhash64(sp), S) = sh && might_contain)`
    // ArrayFilter lambda it replaces).
    val batch = docs.where(col("_slice") === 0)
      .select(col("doc_id"), size(col("_sp")).cast(LongType).as("n_spans"),
        graft.functions.expr.BloomExpressions.bloomFilterSpans(col("_sp"), blooms)
          .as("_cand"))
    val cand = batch.select(col("doc_id"), explode(col("_cand")).as("span"))
    val candSet = cand.select("span").distinct()
    // Exact confirm: base scan stays map-side (semi vs broadcast set);
    // only matched spans — bounded by |candSet| — are deduped.
    val hit = baseSpans.join(broadcast(candSet), Seq("span"), "leftsemi").distinct()
    val shared = cand.join(broadcast(hit), Seq("span"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    batch.select(col("doc_id"), col("n_spans"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_spans"), 6).as("share"))
      .orderBy("doc_id")
  }

  val q114 = GraftQuery("q114_bloom_increment",
    (s, dir) => bloomIncrement(s, dir, shards = 1), Some(
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sl AS (SELECT doc_id, t, ${crossHash60Sql("doc_id")} % 5 = 0 AS is_batch
       |       FROM d WHERE len(t) >= 8),
       |sp AS (SELECT doc_id, is_batch,
       |         unnest(list_distinct(list_transform(range(1, len(t) - 6),
       |                i -> list_aggregate(t[i:i+7], 'string_agg', ' ')))) AS span
       |       FROM sl),
       |base_sp AS (SELECT DISTINCT span FROM sp WHERE NOT is_batch),
       |bs AS (SELECT doc_id, span FROM sp WHERE is_batch)
       |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(COUNT(x.span) AS BIGINT) AS n_shared,
       |  round(CAST(COUNT(x.span) AS DOUBLE) / COUNT(*), 6) AS share
       |FROM bs b LEFT JOIN base_sp x ON b.span = x.span
       |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin))

  // -- q115: near-dup decontamination (bipartite PPJoin) ----------------
  // q103 catches exact n-gram contamination; this catches the rest —
  // train documents that are NEAR-duplicates of an eval-benchmark
  // document (reformatted/paraphrase-adjacent leakage; the Llama/PaLM
  // eval-hygiene class of check). Benchmark = a deterministic 5% hash
  // slice (residue chosen so planted near-dups straddle the cut at all
  // test SFs), train = the rest. The pair space is bipartite PPJoin
  // ([[Dedup.crossCorpusJaccardOn]]): one canonical df-ordered prefix
  // relation over the union, candidates only where a benchmark prefix
  // token collides with a train prefix token — the benchmark side is
  // eval-suite-sized and BROADCASTS, so the train-side prefix scan
  // never shuffles for the candidate join. Prefix/length/positional
  // filters are exact: output = the brute-force bipartite join the
  // oracle runs, at threshold 0.4 on 4-token-shingle Jaccard.
  val q115 = GraftQuery("q115_neardup_decontam", (s, dir) => {
    val shingled = Dedup.docShingled(s, dir, Dedup.AllPairsShingle)
      .select(col("doc_id"), col("shh"),
        when(pmod(crossHash60(col("doc_id")), lit(20)) === 1, 0).otherwise(1).as("side"))
    Dedup.crossCorpusJaccardOn(shingled, 0.4)
      .select(col("a_id").as("bench_id"), col("b_id").as("train_id"), col("jaccard"))
      .orderBy("bench_id", "train_id")
  }, Some(
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |s AS (SELECT doc_id, ${crossHash60Sql("doc_id")} % 20 = 1 AS is_bench,
       |        CASE WHEN len(t) >= 4
       |             THEN list_distinct(list_transform(range(1, len(t) - 2),
       |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
       |             ELSE list_distinct(t) END AS sh
       |      FROM d),
       |p AS (SELECT a.doc_id AS bench_id, b.doc_id AS train_id,
       |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       |      FROM s a JOIN s b ON a.is_bench AND NOT b.is_bench)
       |SELECT bench_id, train_id, jaccard FROM p WHERE jaccard >= 0.4
       |ORDER BY bench_id, train_id""".stripMargin))

  // -- q117: BPE merge statistics (tokenizer-training step) -------------
  // The first merge iteration of BPE tokenizer training (Sennrich et
  // al. 2016): count adjacent character pairs across the corpus
  // weighted by word frequency, rank candidates by count. The scale
  // shape is the algorithm's own asymmetry — one corpus scan feeds a
  // VOCABULARY-sized word-frequency aggregate (map-side combine
  // collapses repeats), and every later stage (per-word char-pair
  // explode, pair aggregate, top-k) runs over vocab/alphabet-sized
  // relations, never the corpus again. Subsequent merge iterations
  // reuse the materialized word-frequency dict; the corpus is read
  // once per training run, not per merge.
  val q117 = GraftQuery("q117_bpe_merges", (s, dir) => {
    val pairs = when(length(col("word")) >= 2,
      transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2))))
      .otherwise(array())
    Tables(s, dir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("n"), explode(pairs).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)
  }, Some(
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |wc AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
      |p AS (SELECT n, unnest(list_transform(range(1, length(word)),
      |        i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
      |      FROM wc WHERE length(word) >= 2)
      |SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
      |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin))

  // -- q126: BPE merge LOOP (tokenizer training, first 10 merges) -------
  // The iterated form of q117 (Sennrich et al. 2016): q117 ranks the
  // candidates of merge-iteration 1; this runs the training loop —
  // argmax pair, apply merge, re-derive pairs — for 10 iterations. The
  // algorithm's scale asymmetry is the plan: the CORPUS is read once
  // (word-frequency aggregate, map-side combine collapses repeats);
  // every iteration after that runs over the persisted VOCABULARY-sized
  // dict (a web corpus has ~10^7 distinct words vs ~10^11 tokens), so
  // 10 merges = 10 small bounded jobs, not 10 corpus scans. Driver
  // state per iteration is ONE argmax row (the k-means-loop precedent).
  //
  // Determinism: symbol sequences are serialized with DOUBLE-space
  // separators (' a  b ') so applying a merge is a plain substring
  // replace — each symbol owns its delimiters, so matches are disjoint
  // and left-to-right replace is the exact pairwise-greedy BPE merge in
  // BOTH engines (runs like 'a a a a' → 'aa aa'; regex lookarounds
  // would need PCRE, which DuckDB's RE2 lacks). Argmax ties break on
  // (a, b) byte order; counts are exact integers. The oracle unrolls
  // the same 10 stages as CTEs and replays the loop bit-identically.
  //
  // Size-adaptive iteration (the ConnectedComponents cutover pattern):
  // a vocabulary under the cutover collects once and the merge loop
  // runs driver-local (10 iterations = string ops over a dict that
  // fits trivially in memory — measured, the 10-job distributed loop
  // was pure per-job scheduling floor at test vocab sizes); above the
  // cutover (web-scale ~10^7-word vocabs) the loop runs as 10 bounded
  // Spark jobs over the persisted dict. Identical semantics (Java
  // String.replace = Spark replace = DuckDB replace on the disjoint-
  // match encoding); BpeSpec compares the paths, forcing the
  // distributed loop with bpeTrainedDict's driverFallbackWords = 0.
  private val BpeIters = 10

  /** Driver-local BPE training loop over a collected (word, padded, n)
    * dict — bit-identical to the distributed loop and the oracle.
    * Returns the merge sequence AND the post-merge dict. */
  private[graft] def bpeTrainLocal(dict0: Array[(String, String, Long)],
      iters: Int): (Seq[(Int, String, String, Long)], Array[(String, String, Long)]) = {
    var dict = dict0
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= iters && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (_, w, n) =>
        val syms = w.trim.split("  ")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with the oracle's tie-break: cnt DESC, a ASC, b ASC
        val ((a, b), cnt) = counts.foldLeft(Option.empty[((String, String), Long)]) {
          case (acc, e @ ((ea, eb), ec)) => acc match {
            case Some(((pa, pb), pc))
              if ec < pc || (ec == pc && (ea > pa || (ea == pa && eb >= pb))) => acc
            case _ => Some(e)
          }
        }.get
        out += ((it, a, b, cnt))
        dict = dict.map { case (word, w, n) => (word, w.replace(s" $a  $b ", s" $a$b "), n) }
        it += 1
      }
    }
    (out.result(), dict)
  }

  /** Train BPE over the corpus vocabulary (size-adaptive loop) and
    * return (merge sequence, trained token map). The token map —
    * (word, n_tok) with n_tok = symbol count under the learned merges —
    * is the tokenizer artifact q128 applies back to the corpus.
    * `driverFallbackWords` is the vocabulary-size cutover. */
  private[graft] def bpeTrainedDict(s: SparkSession, dir: String,
      driverFallbackWords: Int = 100000): (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val base = QueryScope.persist(Tables(s, dir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"),
        concat(lit(" "), array_join(chars, "  "), lit(" ")).as("w"), col("n")))
    // one bounded probe job: ≤ cutover+1 rows decide the path (and
    // materialize the cache the distributed path would reuse)
    val head = base.limit(driverFallbackWords + 1).as[(String, String, Long)].collect()
    if (head.length <= driverFallbackWords) {
      val (merges, dictF) = bpeTrainLocal(head, BpeIters)
      val tok = dictF.map { case (word, w, _) =>
        (word, w.trim.split("  ").length.toLong) }.toSeq.toDF("word", "n_tok")
      (merges, tok)
    } else {
      var dict = base.select(col("word"), col("w"), col("n"))
      val out = Seq.newBuilder[(Int, String, String, Long)]
      for (it <- 1 to BpeIters) {
        val syms = split(trim(col("w")), "  ")
        val pairs = when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1),
            i => struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))
        val best = dict.select(col("n"), explode(pairs).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        out += ((it, a, b, cnt))
        dict = dict.withColumn("w",
          org.apache.spark.sql.functions.replace(
            col("w"), lit(s" $a  $b "), lit(s" $a$b ")))
      }
      (out.result(),
        dict.select(col("word"),
          size(split(trim(col("w")), "  ")).cast(LongType).as("n_tok")))
    }
  }

  /** Shared DuckDB CTE chain for the BPE training loop: w0 (word
    * frequencies), d0..dN (dict states, carrying the original word),
    * pI/bI (per-iteration pair stats and argmax). */
  private def bpeCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |  WHERE length(word) >= 1 GROUP BY word),
             |d0 AS (SELECT word, ' ' || list_aggregate(list_transform(range(1, length(word) + 1),
             |    i -> substr(word, CAST(i AS INTEGER), 1)), 'string_agg', '  ') || ' ' AS w, n
             |  FROM w0)""".stripMargin
    for (i <- 1 to iters) {
      val p = s"d${i - 1}"
      sb ++= s""",
               |p$i AS (SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
               |  FROM (SELECT string_split(trim(w), '  ') AS s, n,
               |          unnest(range(1, len(string_split(trim(w), '  ')))) AS i FROM $p)
               |  GROUP BY s[i], s[i + 1]),
               |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
               |d$i AS (SELECT word, replace(w, ' ' || a || '  ' || b || ' ',
               |                             ' ' || a || b || ' ') AS w, n
               |  FROM $p CROSS JOIN b$i)""".stripMargin
    }
    sb.toString
  }

  val q126 = GraftQuery("q126_bpe_merge_loop", (s, dir) => {
    import s.implicits._
    bpeTrainedDict(s, dir)._1.toDF("it", "a", "b", "cnt").orderBy("it")
  }, Some {
    bpeCtes(BpeIters) +
      "\nSELECT * FROM (" +
      (1 to BpeIters).map(i =>
        s"SELECT CAST($i AS INTEGER) AS it, a, b, cnt FROM b$i").mkString(" UNION ALL ") +
      ") ORDER BY it"
  })

  // -- q128: tokenize UNDER the trained tokenizer (apply the merges) ----
  // The consumer side of q126: token counts per document under the
  // learned BPE — the number that token-budget planning (q109/q110's
  // packing and mixing) actually needs, where the whitespace count is
  // only a proxy. Training produces a vocabulary-sized token map
  // (word → post-merge symbol count); application is a broadcast
  // equi-join of that map against the corpus word stream plus one
  // per-doc aggregate — the corpus is scanned once and never carries
  // tokenizer state. Exact integers end to end; the oracle re-derives
  // the same merges (shared CTE chain) and replays the join.
  val q128 = GraftQuery("q128_bpe_tokenize", (s, dir) => {
    val (_, tok) = bpeTrainedDict(s, dir)
    Tables(s, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .join(broadcast(tok), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("doc_id")
  }, Some {
    bpeCtes(BpeIters) +
      s""",
         |tok AS (SELECT word, CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS n_tok
         |        FROM d$BpeIters),
         |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM docw JOIN tok USING (word)
         |WHERE length(word) >= 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  })

  // -- q130: tokenizer fertility per language ---------------------------
  // The tokenizer-selection metric (fertility = tokens per word,
  // compression = chars per token) measured per language under the
  // trained BPE of q126 — the number that decides whether a tokenizer
  // is acceptable for a multilingual mix (a high-fertility language
  // pays more sequence length for the same text, skewing any
  // token-budget mix computed from word counts; cf. the fertility
  // tables in multilingual-tokenizer papers, e.g. BLOOM/XLM-R evals).
  // Shape = q128's application join with the language carried through:
  // corpus word stream ⋈ broadcast vocab-sized token map → one
  // LANGUAGE-sized aggregate. Corpus scanned once, all sums exact
  // integers; the two ratios are each a single IEEE division of exact
  // integers, so both engines round identically.
  val q130 = GraftQuery("q130_bpe_fertility", (s, dir) => {
    val (_, tok) = bpeTrainedDict(s, dir)
    Tables(s, dir).documents
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .join(broadcast(tok), Seq("word"))
      .groupBy("lang")
      .agg(sum(length(col("word"))).cast(LongType).as("n_chars"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast(org.apache.spark.sql.types.DoubleType) / col("n_words"))
      .withColumn("chars_per_token",
        col("n_chars").cast(org.apache.spark.sql.types.DoubleType) / col("n_tokens"))
      .orderBy("lang")
  }, Some {
    bpeCtes(BpeIters) +
      s""",
         |tok AS (SELECT word, CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS n_tok
         |        FROM d$BpeIters),
         |docw AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
         |SELECT lang,
         |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS fertility,
         |  CAST(SUM(length(word)) AS DOUBLE) / SUM(n_tok) AS chars_per_token
         |FROM docw JOIN tok USING (word)
         |WHERE length(word) >= 1
         |GROUP BY lang ORDER BY lang""".stripMargin
  })

  val all: Seq[GraftQuery] = Seq(q114, q115, q117, q126, q128, q130)
}

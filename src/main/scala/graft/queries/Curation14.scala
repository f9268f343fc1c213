package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Fourteenth curation batch: corpus-composition audits — the
  * per-source domain-shift census (χ² divergence of each source's
  * unigram distribution from the corpus-wide distribution; the
  * transcendental-free stand-in for per-source KL that mixture tuning
  * and drift monitoring run on), and the inter-source n-gram novelty
  * census (what fraction of a source's 3-grams appear nowhere else —
  * low novelty flags template/syndicated sources before they bias a
  * mixture).
  *
  * Reference scope note: the reference pipeline framework
  * (/root/reference/motorway) has no relational curation surface —
  * these extend the engine along SURVEY §2's "LLM-data-pipeline" axis,
  * with every query oracle-gated against DuckDB.
  */
object Curation14 {

  private def q(name: String, oracle: String)(f: (SparkSession, String) => DataFrame) =
    GraftQuery(name, f, Some(oracle))

  // -- q178: per-source domain-shift χ² census ---------------------------
  // χ²_s = Σ_w (c_sw − e_sw)²/e_sw with e_sw = gc_w·n_s/N, including the
  // missing-mass tail Σ_{w∉s} e_sw = n_s·(N − G_s)/N (G_s = Σ_{w∈s} gc_w)
  // — the full Pearson statistic against the corpus-wide unigram
  // distribution. χ² ranks sources by distributional drift exactly like
  // KL for small divergences but stays RATIONAL: every term is built
  // from integer counts by single correctly-rounded double ops, so both
  // engines compute bit-identical terms; each term is then scaled to an
  // integer (round(term·10⁶) — representable halves at scale 0 agree
  // across engines) and SUMMED IN INTEGER SPACE, making the census
  // independent of accumulation order. (At >2⁵³ token counts the double
  // products lose exactness; the statistic stays valid, only the
  // bit-for-bit oracle equality would relax.)
  //
  // Scale: one token-grain partial-agg shuffle into (source, word)
  // counts; everything after runs at vocabulary grain — the global
  // counts derive from the (source, word) relation (never a second
  // corpus pass), per-source totals broadcast (|sources| rows), and the
  // corpus total is a 1-row broadcast.
  val q178 = q("q178_domain_shift",
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |wc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS gc FROM sw GROUP BY 1),
      |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s,
      |         CAST(COUNT(*) AS BIGINT) AS vocab_seen FROM sw GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sw),
      |j AS (SELECT sw.source, sw.c, wc.gc, ns.n_s, tot.n
      |      FROM sw JOIN wc USING (w) JOIN ns USING (source) CROSS JOIN tot),
      |t AS (SELECT source, gc,
      |        CAST(round((CAST(c AS DOUBLE) - CAST(gc AS DOUBLE) * n_s / n)
      |             * (CAST(c AS DOUBLE) - CAST(gc AS DOUBLE) * n_s / n)
      |             / (CAST(gc AS DOUBLE) * n_s / n) * 1000000) AS BIGINT) AS term_l
      |      FROM j),
      |g AS (SELECT source, CAST(SUM(term_l) AS BIGINT) AS obs_l,
      |        CAST(SUM(gc) AS BIGINT) AS g_s FROM t GROUP BY 1)
      |SELECT g.source, ns.n_s AS n_tokens, ns.vocab_seen,
      |  CAST(g.obs_l + CAST(round(CAST(ns.n_s AS DOUBLE) * (tot.n - g.g_s)
      |       / tot.n * 1000000) AS BIGINT) AS BIGINT) / 1000000.0 AS chi2
      |FROM g JOIN ns USING (source) CROSS JOIN tot
      |ORDER BY source""".stripMargin) { (s, dir) =>
    // The isNotNull(source) filter is applied at the BASE so every
    // branch over sw (wc/ns/tot) carries the identical scan subtree:
    // without it, the ns inner join pushes the null filter into sw's
    // branch only, canonical equality breaks, and ReuseExchange
    // re-scans the corpus once per branch (observed: 2 scans, not 1).
    val sw = Tables(s, dir).documents
      .where(col("source").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val wc = sw.groupBy("w").agg(sum(col("c")).as("gc"))
    val ns = sw.groupBy("source")
      .agg(sum(col("c")).as("n_s"), count(lit(1)).as("vocab_seen"))
    val tot = sw.agg(sum(col("c")).as("n"))
    // e is bound once so Spark and the oracle share the op order:
    // (gc→double · n_s) / n, each a single correctly-rounded double op.
    val e = col("gc").cast(DoubleType) * col("n_s") / col("n")
    val diff = col("c").cast(DoubleType) - e
    // n_s and n ride THROUGH the term relation (first() per source /
    // constant), and vocab_seen is the per-source row count of sw — so
    // the final projection needs no second ns/tot join and the
    // token-grain subtree is referenced only by sw/wc/ns/tot themselves
    // (one real exchange + ReusedExchange at runtime).
    val t = sw.join(wc, Seq("w")).join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("gc"), col("n_s"), col("n"),
        round(diff * diff / e * 1000000).cast(LongType).as("term_l"))
    val g = t.groupBy("source")
      .agg(sum(col("term_l")).as("obs_l"), sum(col("gc")).as("g_s"),
        first(col("n_s")).as("n_s"), first(col("n")).as("n"),
        count(lit(1)).as("vocab_seen"))
    g.select(col("source"), col("n_s").as("n_tokens"), col("vocab_seen"),
        ((col("obs_l") +
          round(col("n_s").cast(DoubleType) * (col("n") - col("g_s"))
            / col("n") * 1000000).cast(LongType)).cast(LongType) / 1000000.0)
          .as("chi2"))
      .orderBy("source")
  }

  // -- q179: inter-source n-gram novelty census --------------------------
  // For each source: how many of its distinct 3-grams appear in NO
  // other source? Syndicated/template content shows up as low novelty
  // long before doc-level dedup fires (the grams repeat across sources
  // even when no two documents pair up). Grams ride the 60-bit
  // cross-engine hash (the q29 discipline) so the vocabulary-grain
  // shuffles ship fixed-width longs, never gram strings.
  //
  // Scale: per-doc distinct shingles explode once; the census is two
  // vocabulary-grain aggregates (distinct (source, gram-hash), then
  // gram→source-count) and a broadcast-sized final join per source. No
  // pair space, no corpus re-scan.
  val q179 = q("q179_source_novelty",
    """WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT source,
      |        CASE WHEN len(t) >= 3
      |             THEN list_distinct(list_transform(range(1, len(t) - 1),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |g AS (SELECT DISTINCT source,
      |        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gh
      |      FROM (SELECT source, unnest(sh) AS gram FROM s)),
      |c AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS n_src FROM g GROUP BY gh)
      |SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN c.n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(round(CAST(SUM(CASE WHEN c.n_src = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |       * 10000 / COUNT(*)) AS BIGINT) / 10000.0 AS novelty
      |FROM g JOIN c USING (gh) GROUP BY g.source ORDER BY g.source""".stripMargin) {
    (s, dir) =>
    // codegen kernel twin of explode(shinglesK(toks, 3)) |> crossHash60:
    // hash-of-distinct-shingles == distinct-shingles-then-hash, and the
    // kernel hashes each distinct 3-gram in one straight-line pass
    // instead of materializing gram strings through an interpreted
    // ArrayTransform (ShingleKernelParitySpec pins the equality)
    val g = Tables(s, dir).documents
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(graft.functions.expr.DedupExpressions
        .crossShinglesK(col("toks"), 3, sorted = false)).as("gh"))
      .distinct()
    val c = g.groupBy("gh").agg(count(lit(1)).as("n_src"))
    g.join(c, Seq("gh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        (round(col("n_unique").cast(DoubleType) * 10000 / col("n_grams"))
          .cast(LongType) / 10000.0).as("novelty"))
      .orderBy("source")
  }

  // -- q180: crawl-to-crawl length-distribution drift (KS census) --------
  // The companion to q178: q178 asks "did the vocabulary shift?", this
  // asks "did the SHAPE of documents shift?" — the two-sample
  // Kolmogorov–Smirnov statistic per source between two crawl
  // snapshots' token-length distributions (a re-render that pads
  // boilerplate, a parser change that truncates, a crawler that starts
  // hitting pagination all move KS before any content audit fires).
  // Snapshots are derived as in q166 but with HASH-based membership
  // (md5(doc_id:tag) nibble ≠ '0' → ~1/16 of docs missing per side,
  // uncorrelated with source — a mod-based drop would correlate with
  // the synthetic source assignment and empty whole sources), and
  // snapshot B re-renders doc_id % 4 = 1 with an appended token.
  //
  // Cross-engine float discipline: the CDF difference at each length is
  // |cuma/na − cumb/nb| — two single divisions on identical integer
  // operands, one subtraction, one abs: bit-identical per row in both
  // engines; MAX is order-free. (Integer cross-multiplication would be
  // exact too but overflows 2⁶³ at 10¹⁰-doc sources; the per-row double
  // form is deterministic without the overflow cliff.) ks_at is the
  // smallest length achieving the max — an exact-double equality join,
  // valid because both sides compute the identical double.
  //
  // Scale: two pruned scans (membership filters differ per snapshot),
  // per-(source, length) partial-agg histograms, a histogram-grain
  // full-outer equi-join, and per-source running-sum windows over
  // histogram rows (bounded by distinct lengths, not documents).
  val q180 = q("q180_length_drift",
    """WITH a AS (SELECT source, len(string_split(text, ' ')) AS l FROM documents
      |       WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 1) <> '0'),
      |b AS (SELECT source,
      |        len(string_split(CASE WHEN doc_id % 4 = 1 THEN text || ' v2'
      |                              ELSE text END, ' ')) AS l
      |      FROM documents
      |      WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 1) <> '0'),
      |ha AS (SELECT source, l, CAST(COUNT(*) AS BIGINT) AS ca FROM a GROUP BY 1, 2),
      |hb AS (SELECT source, l, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1, 2),
      |h AS (SELECT COALESCE(ha.source, hb.source) AS source, COALESCE(ha.l, hb.l) AS l,
      |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |      FROM ha FULL OUTER JOIN hb ON ha.source = hb.source AND ha.l = hb.l),
      |c AS (SELECT source, l,
      |        SUM(ca) OVER (PARTITION BY source ORDER BY l
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |        SUM(cb) OVER (PARTITION BY source ORDER BY l
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |        SUM(ca) OVER (PARTITION BY source) AS na,
      |        SUM(cb) OVER (PARTITION BY source) AS nb
      |      FROM h),
      |d AS (SELECT source, l, na, nb,
      |        abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb) AS dv
      |      FROM c WHERE na > 0 AND nb > 0),
      |g AS (SELECT source, CAST(MAX(na) AS BIGINT) AS n_a,
      |        CAST(MAX(nb) AS BIGINT) AS n_b, MAX(dv) AS ks FROM d GROUP BY source)
      |SELECT g.source, g.n_a, g.n_b, g.ks, CAST(MIN(d.l) AS BIGINT) AS ks_at
      |FROM g JOIN d ON g.source = d.source AND d.dv = g.ks
      |GROUP BY g.source, g.n_a, g.n_b, g.ks ORDER BY g.source""".stripMargin) {
    (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d0 = Tables(s, dir).documents
    def member(tag: String): Column =
      substring(md5(concat(col("doc_id").cast("string"), lit(s":$tag"))), 1, 1) =!= "0"
    val a = d0.where(member("a"))
      .select(col("source"), size(split(col("text"), " ")).as("l"))
    val bTxt = when(col("doc_id") % 4 === 1, concat(col("text"), lit(" v2")))
      .otherwise(col("text"))
    val b = d0.where(member("b"))
      .select(col("source"), size(split(bTxt, " ")).as("l"))
    val ha = a.groupBy("source", "l").agg(count(lit(1)).as("ca"))
    val hb = b.groupBy("source", "l").agg(count(lit(1)).as("cb"))
    val h = ha.join(hb, Seq("source", "l"), "full_outer")
      .select(col("source"), col("l"),
        coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
    val wCum = Window.partitionBy("source").orderBy("l")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
    val c = h.select(col("source"), col("l"),
      sum(col("ca")).over(wCum).as("cuma"), sum(col("cb")).over(wCum).as("cumb"),
      sum(col("ca")).over(wAll).as("na"), sum(col("cb")).over(wAll).as("nb"))
    // dRel is referenced twice (the per-source max aggregate AND the
    // argmin equality join), so each reference re-runs both corpus scans
    // (plan census leaves[documents=4]). A persist of the tiny histogram
    // halved the scans but did not measure faster, warmed: 1.11 s with
    // it against 1.01 s without (sf0.1, 4 cores, medians of 10
    // interleaved pairs, faster in 2 of 10), so it is gone.
    val dRel = c.where(col("na") > 0 && col("nb") > 0)
      .select(col("source"), col("l"), col("na"), col("nb"),
        abs(col("cuma").cast(DoubleType) / col("na") -
          col("cumb").cast(DoubleType) / col("nb")).as("dv"))
    val g = dRel.groupBy("source")
      .agg(max(col("na")).cast(LongType).as("n_a"),
        max(col("nb")).cast(LongType).as("n_b"), max(col("dv")).as("ks"))
    g.join(dRel.select(col("source"), col("l"), col("dv")), Seq("source"))
      .where(col("dv") === col("ks"))
      .groupBy("source")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        first(col("ks")).as("ks"), min(col("l")).cast(LongType).as("ks_at"))
      .orderBy("source")
  }

  // -- q181: cluster-coherent split repair (quarantine-to-train) ---------
  // q174 AUDITS leakage; this is the REPAIR a release actually ships:
  // any content-fingerprint cluster that straddles the hash split is
  // quarantined whole into train (eval sets must be duplicate-free;
  // train tolerates dups), every other document keeps its hash split.
  // Output is the split transition census — the exact reassignment
  // bill (how many val/test docs moved) a release note reports. Same
  // derived dup clusters as q174.
  //
  // Scale: straddle detection rides the two-level distinct chain
  // (distinct (fp, split) map-grain, then a plain count — no
  // count-distinct Expand); the verdict joins back to the doc relation
  // as a hash equi-join on the fingerprint. Two fp-keyed exchanges,
  // zero pair space, text never past the fingerprint projection.
  val q181 = q("q181_split_repair",
    s"""WITH lead AS (SELECT doc_id AS lid, text AS ltext FROM documents
      |              WHERE doc_id % 25 = 0),
      |adopt AS (SELECT d.doc_id, d.source, coalesce(l.ltext, d.text) AS content
      |          FROM documents d
      |          LEFT JOIN lead l ON d.doc_id - (d.doc_id % 25) = l.lid
      |          WHERE d.doc_id % 25 IN (0, 7, 13)),
      |keep AS (SELECT doc_id, source, text AS content FROM documents
      |         WHERE doc_id % 25 NOT IN (0, 7, 13)),
      |u AS (SELECT * FROM adopt UNION ALL SELECT * FROM keep),
      |f AS (SELECT doc_id, md5(content) AS fp, ${Curation13.splitSqlExpr} AS split
      |      FROM u),
      |ds AS (SELECT DISTINCT fp, split FROM f),
      |gm AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS ns FROM ds GROUP BY fp),
      |r AS (SELECT f.split AS split_from,
      |        CASE WHEN gm.ns > 1 THEN 'train' ELSE f.split END AS split_to
      |      FROM f JOIN gm USING (fp))
      |SELECT split_from, split_to, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  (split_from <> split_to) AS moved
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir).documents
    val leaders = docs.where(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("lid"), col("text").as("ltext"))
    val adoptSet = (col("doc_id") % 25).isin(0, 7, 13)
    val adopt = docs.where(adoptSet)
      .join(leaders, docs("doc_id") - (docs("doc_id") % 25) === leaders("lid"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("ltext"), col("text")).as("content"))
    val keep = docs.where(!adoptSet)
      .select(col("doc_id"), col("source"), col("text").as("content"))
    // f feeds both the straddle census and the verdict join, so each
    // reference re-plans the 3-scan union (leaders + adopt + keep:
    // census leaves[documents=6]). A persist of the text-free (fp, split)
    // relation halved the scans but did not measure faster, warmed:
    // 0.88 s with it against 0.88 s without (sf0.1, 4 cores, medians of
    // 10 interleaved pairs, faster in 6 of 10), so it is gone.
    val f = adopt.unionAll(keep)
      .select(md5(col("content")).as("fp"),
        Curation13.splitCol(col("doc_id"), col("source")).as("split"))
    val gm = f.select("fp", "split").distinct()
      .groupBy("fp").agg(count(lit(1)).as("ns"))
    f.join(gm, Seq("fp"))
      .select(col("split").as("split_from"),
        when(col("ns") > 1, "train").otherwise(col("split")).as("split_to"))
      .groupBy("split_from", "split_to")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("split_from"), col("split_to"), col("n_docs"),
        (col("split_from") =!= col("split_to")).as("moved"))
      .orderBy("split_from", "split_to")
  }

  // -- q182: cross-split n-gram contamination rate -----------------------
  // The eval-integrity number GPT-2/3-class releases report: what
  // fraction of the held-out splits' distinct 8-grams also occur in
  // train? q174/q181 police DOCUMENT-level leakage; this measures the
  // residual SUBSTRING-level contamination that survives doc-grain
  // hygiene (shared boilerplate, quotes, common phrases) — the number
  // an eval-decontamination pass (q103's n-gram discipline) is then
  // tuned against. Splits are the q172 hash rule; grams ride the
  // 60-bit cross-engine hash.
  //
  // Scale: per-doc distinct 8-grams explode once; everything after is
  // vocabulary-grain — distinct (split, gram-hash), then a LEFT join
  // of the held-out gram sets against the train gram set, equi on the
  // hash (stats pick broadcast vs shuffle). Two output rows.
  val q182 = q("q182_split_ngram_overlap",
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT ${Curation13.splitSqlExpr} AS split,
      |        CASE WHEN len(t) >= 8
      |             THEN list_distinct(list_transform(range(1, len(t) - 6),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |                         || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
      |                         || ' ' || t[i+7]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |g AS (SELECT DISTINCT split,
      |        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gh
      |      FROM (SELECT split, unnest(sh) AS gram FROM s)),
      |tr AS (SELECT gh FROM g WHERE split = 'train'),
      |ev AS (SELECT g.split, (tr.gh IS NOT NULL) AS in_train
      |       FROM g LEFT JOIN tr ON g.gh = tr.gh WHERE g.split <> 'train')
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS BIGINT) AS n_in_train,
      |  CAST(round(CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS DOUBLE)
      |       * 10000 / COUNT(*)) AS BIGINT) / 10000.0 AS overlap_rate
      |FROM ev GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    // codegen kernel twin of explode(shinglesK(toks, 8)) |> crossHash60
    // (see q179; ShingleKernelParitySpec pins the equality)
    val g = Tables(s, dir).documents
      .select(Curation13.splitCol(col("doc_id"), col("source")).as("split"),
        split(col("text"), " ").as("toks"))
      .select(col("split"), explode(graft.functions.expr.DedupExpressions
        .crossShinglesK(col("toks"), 8, sorted = false)).as("gh"))
      .distinct()
    val tr = g.where(col("split") === "train")
      .select(col("gh"), lit(true).as("in_train"))
    g.where(col("split") =!= "train")
      .join(tr, Seq("gh"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("in_train"), 1L).otherwise(0L)).as("n_in_train"))
      .select(col("split"), col("n_grams"), col("n_in_train"),
        (round(col("n_in_train").cast(DoubleType) * 10000 / col("n_grams"))
          .cast(LongType) / 10000.0).as("overlap_rate"))
      .orderBy("split")
  }

  val all: Seq[GraftQuery] = Seq(q178, q179, q180, q181, q182)
}

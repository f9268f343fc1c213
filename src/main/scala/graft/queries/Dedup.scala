package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import graft.functions.DedupFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table: exact content-hash,
  * exact n-gram Jaccard (blocked), MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): no variant ever materializes the full O(n²)
  * pair space. Exact dedup is a single hash-shuffle groupBy. The n-gram
  * variant blocks pairs on a cheap key before comparing. MinHash/SimHash
  * shuffle on (band, bucket) — the LSH construction — so work is
  * proportional to colliding candidates, and per-bucket candidate lists
  * are bounded by skew guards.
  */
object Dedup {

  /** Distinct k-token shingles of a token array (docs shorter than k
    * shingle to their distinct tokens). Width matters at scale: the
    * test corpus has ~900 distinct 2-grams but ~200k distinct 4-grams,
    * and real web corpora scale the same way — wider shingles make
    * shingle-collision candidate generation (prefix filtering) sparse
    * enough to work. Published dedup pipelines use 5–13-token shingles
    * for exactly this reason. */
  def shinglesK(tokens: Column, k: Int): Column =
    when(size(tokens) >= k,
      array_distinct(transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", (0 until k).map(o => element_at(tokens, i + o + 1)): _*))))
      .otherwise(array_distinct(tokens))

  /** Distinct 2-token shingles of a token array (guarding size < 2). */
  def shingles2(tokens: Column): Column = shinglesK(tokens, 2)

  /** Per-doc prep, computed once before any pair join: shingle set
    * hashed to a sorted long array (`shh`). Pairwise work then ships
    * fixed-width longs (~2.5× smaller shuffle than string shingles) and
    * compares via a zero-allocation merge walk. 64-bit hashing keeps
    * exactness to within collision probability ~1e-9 per corpus. */
  private[queries] def docShingled(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    // The documents table arrives as few files (1 at test SFs): without
    // an explicit round-robin repartition the whole per-doc compute
    // (tokenizing, shingling, hashing, minhash signatures) runs in as
    // many tasks as there are input splits. Shuffling the raw docs is
    // cheap; the compute is what must be spread across the cluster.
    //
    // Tokenize and shingle AFTER the exchange, with the split in its
    // own projection: the shingling lambda reads the token array k
    // times per position, and expression trees inside higher-order
    // functions get no common-subexpression elimination — inlined, the
    // split() would re-run O(k·positions) times per document (measured
    // ~4× on the 4-shingle prep at sf0.1). The separate project is the
    // barrier (CollapseProject keeps it: expensive expression, multiple
    // references), so codegen evaluates the split once per row.
    // Hash each shingle AS IT IS FORMED and dedupe/sort on the 64-bit
    // hashes: distinct-of-hashes equals hash-of-distincts, and a long
    // set dedup + sort is far cheaper than a string set dedup over the
    // materialized shingle strings.
    val toks = col("toks")
    // Codegen kernel twin of the HOF chain
    //   array_sort(array_distinct(when(size >= k,
    //     transform(sequence(0, n-k), i => xxhash64(concat_ws(" ", toks[i+1..i+k]))))
    //    .otherwise(transform(toks, xxhash64))))
    // — ArrayTransform/Sequence are CodegenFallback, so the chain ran as
    // an interpreted lambda tree per document (profiled as the dedup
    // family's dominant scan-stage CPU). DedupKernels.xxShinglesK is the
    // straight-line loop with identical hash/null/dedup/sort semantics
    // (ShingleKernelParitySpec pins kernel == HOF on randomized corpora).
    def hashedShingles(k: Int): Column =
      graft.functions.expr.DedupExpressions.xxShinglesK(toks, k)
    // The exchange ships RAW TEXT and the split runs in a separate
    // project ABOVE it (r17): shipping pre-split token arrays from the
    // single-split scan task measured ~2.7 s serial at sf0.1 — the
    // array serialization dwarfs the raw-string write. CollapseProject
    // keeps the toks boundary (expensive expression, multiply
    // referenced by the shingling lambda), so codegen still evaluates
    // the split once per row into a local.
    Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"), col("lang"),
        element_at(col("toks"), 1).as("first_tok"),
        hashedShingles(k).as("shh"))
  }

  /** Skew guard for LSH bucket joins: a degenerate bucket of n entries
    * yields n² candidate pairs on one reducer — at corpus scale a
    * single hot bucket (e.g. boilerplate-dominated shingle sets) can
    * stall the stage. Buckets above `maxBucket` are dropped before the
    * pair join (documented recall trade-off). The drop is OBSERVABLE,
    * not silent (r15 VERDICT #2): an `observe` node on the pre-filter
    * relation ships dropped-row/dropped-bucket counts and the max
    * bucket size into [[graft.metrics.CapObservatory]], which
    * Bench/StressMain surface in their artifacts.
    *
    * The banded relations this guards hold DISTINCT fingerprints, one
    * representative per identical-fingerprint group (r16 VERDICT #1):
    * before that collapse, exact text copies — identical fingerprints,
    * the dominant real-world dup class — piled into one bucket and hit
    * the cap on the engine's first 10× stress engagement
    * (dropped_rows=17450), shedding recall exactly where a dedup pass
    * matters most. With only distinct fingerprints banded, a hot
    * bucket now requires ≥ maxBucket DIFFERENT near-colliding
    * fingerprints — the true pathological tail (adversarial or
    * boilerplate-templated content) the cap was always meant for. */
  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int,
      tag: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pos", "band")
    val withN = banded.withColumn("bucket_n", count(lit(1)).over(w))
    graft.metrics.CapObservatory.observeCap(withN, tag, col("bucket_n"), maxBucket)
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
  }

  /** All unordered within-group doc pairs of `members` (columns:
    * `keyCol`, `doc_id`) — the streaming fallback of [[intraDocPairs]]
    * for groups too large to expand in-row. Output-proportional by
    * construction: a group of g exact copies HAS g·(g−1)/2 qualifying
    * pairs, so this work is the answer's own size, not wasted candidate
    * generation. The self-join is salted S ways (the [[ngramPairs]]
    * pattern: A pinned to one sub-key, B replicated across all S, each
    * pair produced exactly once) so a mega-group of exact copies
    * expands across S reducers instead of stalling one. */
  private def intraGroupPairs(members: DataFrame, keyCol: String): DataFrame = {
    val S = 8
    val a = members.select(col(keyCol), col("doc_id").as("a_id"))
      .withColumn("salt", pmod(col("a_id"), lit(S)).cast("int"))
    val b = members.select(col(keyCol), col("doc_id").as("b_id"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    a.join(b, Seq(keyCol, "salt")).where(col("a_id") < col("b_id"))
      .select(col(keyCol), col("a_id"), col("b_id"))
  }

  /** One row per DISTINCT non-null document text: `(rep_id, n_members,
    * member_ids, toks)` — the shared exact-copy collapse every near-dup
    * generator builds on (r16 VERDICT #1, rebuilt in r17 after the
    * first cut measured 2–4× 1×-scale overhead from per-query
    * fingerprint windows + corpus-grain persists + doc-grain expansion
    * joins).
    *
    * Design: ONE map-side-combining aggregate keyed on the text itself
    * (exact identity — no hash step to argue about) collapses copies
    * BEFORE any tokenize/shingle/signature kernel runs, so all per-text
    * work downstream is paid once per distinct text, not once per copy
    * — at a duplication factor d the kernel work divides by d, which is
    * the opposite trade of the first cut (which fingerprinted every
    * copy and then collapsed). Group sizes are duplication-bounded and
    * the relation is DISTINCT-grain, so the persist is strictly smaller
    * than the corpus.
    *
    * `toks` is materialized through the cache on purpose: higher-order
    * shingling lambdas get no common-subexpression elimination, so
    * consumers must read tokens as a materialized attribute, never as
    * an inline `split()` (see [[docShingled]]; measured ~4×).
    *
    * Exactly like the window it replaces, the aggregate places each
    * whole group on one task (collect_list of copies' ids); that list
    * is duplication-sized, the same exposure the previous member-map
    * window had — so it is BOUNDED (the [[LiveClusterIndex]]
    * discipline: enforced, not advisory): a group whose member list
    * exceeds [[MaxGroupMembers]] (sys prop `graft.dedup.maxGroupMembers`,
    * default 4M ≈ 32 MB of ids in one row) fails the query loudly with
    * a message naming the knob, instead of silently building an
    * arbitrarily large row for a web-scale mega-group of exact copies.
    * The guard wraps `member_ids` itself, so it fires exactly where the
    * oversized list would be consumed — a caller that prunes the column
    * away never pays (or risks) the list at all. Pair EXPANSION above
    * [[IntraExplodeCap]] already takes the salted join path; this bound
    * covers the remaining single-row exposure.
    *
    * NOT persisted here: persistence is the CALLERS' job via [[eager]],
    * and each caller caches its own downstream projection (q28 the
    * shingle-block groups, q29/q177 the shared `relsE`
    * shingle+signature relation inside [[minhashLshRels]], q132 the
    * gram-grain frame in Curation6) — those projections are not
    * plan-identical, so they are separate cache entries by design; only
    * q29 and q177 share one (both run [[minhashLshCandidates]]). */
  private[graft] def distinctTextToks(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      // ONE corpus exchange, written from the scan as RAW TEXT (cheap
      // serialization — shipping token arrays from the scan task was
      // measured at 2.7 s serial, because the table arrives as one
      // split at test SFs and split()+array-shuffle-write ran there).
      // EXPLICIT width on the group key: the aggregate reuses this
      // clustering (no second exchange) and AQE cannot coalesce an
      // explicit repartition — otherwise the cache/kernels downstream
      // run on one task. Tokenization happens AFTER the exchange, once
      // per DISTINCT text, distributed.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("text"))
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        sort_array(collect_list(col("doc_id"))).as("member_ids"))
      // a SEPARATE project: `toks` is expensive and multiply-referenced
      // by consumer shingling lambdas, so CollapseProject keeps the
      // boundary (its cheap-expression rule) and whole-stage codegen
      // evaluates the split once per row into a local — consumers read
      // an attribute, never re-run the split (the docShingled CSE rule,
      // without paying an exchange of token arrays for it)
      .select(col("rep_id"), col("n_members"),
        // loud bound on the one duplication-sized row (see scaladoc):
        // the guard rides the column, so pruning it away removes both
        // the list build's consumer and the check together
        when(col("n_members") > lit(MaxGroupMembers),
          raise_error(format_string(
            "graft: exact-copy group of %d members (rep_id=%d) exceeds " +
              "graft.dedup.maxGroupMembers=" + MaxGroupMembers + ". One text is " +
              "duplicated past the single-row member-list bound; raise the " +
              "bound or pre-collapse the source.",
            col("n_members"), col("rep_id"))))
          .otherwise(col("member_ids")).as("member_ids"),
        split(col("text"), " ").as("toks"))

  /** Single-row member-list bound for [[distinctTextToks]] (loud, not
    * advisory — see its scaladoc). Read per plan build so tests can
    * plant a small bound via the sys prop. */
  private[graft] def MaxGroupMembers: Long =
    sys.props.get("graft.dedup.maxGroupMembers").map(_.toLong).getOrElse(4000000L)

  /** Expand rep-level pairs `(a_rep, b_rep, payload…)` back to doc
    * pairs via the group member lists: two rep-keyed equi-joins against
    * the GROUP-grain relation fetch the lists, two chained explodes
    * stream the cross product — work is the answer's own size, and the
    * payload (jaccard/hamming, computed ONCE per rep pair) fans out to
    * every copy pair for free. */
  private def expandCross(repPairs: DataFrame, groups: DataFrame,
      payload: Seq[String]): DataFrame = {
    val pay = payload.map(col)
    repPairs
      .join(groups.select(col("rep_id").as("a_rep"), col("member_ids").as("a_members")),
        Seq("a_rep"))
      .join(groups.select(col("rep_id").as("b_rep"), col("member_ids").as("b_members")),
        Seq("b_rep"))
      .select(explode(col("a_members")).as("ia") +: col("b_members") +: pay: _*)
      .select(explode(col("b_members")).as("ib") +: col("ia") +: pay: _*)
      .select(least(col("ia"), col("ib")).as("a_id") +:
        greatest(col("ia"), col("ib")).as("b_id") +: pay: _*)
  }

  /** In-row expansion of a sorted id array into its C(n,2) ordered pair
    * structs. Only safe for arrays ≤ [[IntraExplodeCap]] — the pair
    * array materializes in one row before the explode streams it.
    * r19: single codegen kernel (PairStructsParitySpec pins it against
    * the nested `flatten(transform(sequence(...), transform(slice(...),
    * struct(element_at(...)))))` HOF tree it replaces — four stacked
    * interpreted lambdas per row in the q28/q29/q30 scan stage). */
  private def pairStructs(ids: Column): Column =
    graft.functions.expr.DedupExpressions.pairStructs(ids)

  /** Groups above this size route through the salted streaming
    * self-join instead of the in-row pair array: 1024² /2 structs ≈
    * 8 MB is the largest single-row allocation the in-row path may
    * make; a mega-group of exact copies (pathological at web scale)
    * streams across reducers instead. */
  private val IntraExplodeCap = 1024

  /** Persist + EAGER materialization (the q139 eager-count discipline
    * at generator scope) for the multi-referenced kernel
    * relations. Why a cache and not an exchange-reuse barrier: column
    * pruning specializes every reference's exchange to its own column
    * set, so "identical" subtrees canonicalize differently and
    * ReuseExchange serves none of them (measured: 3 parquet scans in
    * q28's executed plan under the barrier variant). The cache blocks
    * pushdown, so all references share one materialization; the eager
    * count serializes the build (otherwise concurrently-materializing
    * AQE stages race on cache blocks — KeyLock contention was the top
    * non-compute frame — and each recomputes the kernels). The persist
    * is the query's: its [[QueryScope]] releases it with the rest once
    * the result is materialized. */
  private[queries] def eager(df: DataFrame): DataFrame = {
    val p = QueryScope.persist(df)
    p.count()
    p
  }

  /** All within-group doc pairs (`a_id < b_id`) of multi-member groups,
    * payload columns carried through. Groups ≤ [[IntraExplodeCap]]
    * expand in-row (zero joins — the common case everywhere below the
    * pathological tail); larger groups take [[intraGroupPairs]]. */
  private def intraDocPairs(groups: DataFrame, payload: Seq[String]): DataFrame = {
    val pay = payload.map(col)
    val multi = groups.where(col("n_members") > 1)
      .select(col("rep_id") +: col("n_members") +: col("member_ids") +: pay: _*)
    val small = multi.where(col("n_members") <= IntraExplodeCap)
      .select(explode(pairStructs(col("member_ids"))).as("p") +: pay: _*)
      .select(col("p.a_id").as("a_id") +: col("p.b_id").as("b_id") +: pay: _*)
    val bigGroups = multi.where(col("n_members") > IntraExplodeCap)
    val big = intraGroupPairs(
        bigGroups.select(col("rep_id"), explode(col("member_ids")).as("doc_id")), "rep_id")
      .join(bigGroups.select(col("rep_id") +: pay: _*), Seq("rep_id"))
      .select(col("a_id") +: col("b_id") +: pay: _*)
    small.unionByName(big)
  }

  /** Exact Jaccard over hashed sorted shingle arrays — native merge-walk
    * kernel (|∪| = |A|+|B|-|∩|); replaces the 4-pass
    * array_intersect/array_union formulation that dominated the bench. */
  private def jaccard(a: Column, b: Column): Column =
    graft.functions.expr.SimilarityExpressions.jaccardSortedLong(a, b)

  // -- q27: exact dedup by content hash ---------------------------------
  val q27 = GraftQuery("q27_dedup_exact", (s, dir) => {
    Tables(s, dir).documents
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("fp")
  }, Some(
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin))

  /** Blocked exact-Jaccard pairs (the q28 computation, unsorted).
    *
    * The block key has ~|vocab| distinct values — far fewer than the
    * cluster's cores — so the pair-generation stage would skew onto a
    * handful of tasks. Salt: pin each A-row to one of S sub-blocks and
    * replicate B across all S, multiplying join keys by S while
    * producing each (a, b) pair exactly once.
    *
    * Blocks are additionally capped at `MaxBlock` docs: a first-token
    * block is a Zipf-distributed natural key ("The…" at web scale is
    * millions of docs → 10¹²⁺ candidate pairs in one block), so blocks
    * beyond the cap are dropped from the *blocked* comparison — the
    * documented recall trade-off of this variant. Consumers that need
    * full recall at scale use [[allPairsJaccard]] (exact, prefix-
    * filtered) instead. No effect at test SFs (blocks ≪ cap). */
  private[queries] def ngramPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    // Shingle DISTINCT texts only (the [[distinctTextToks]] collapse):
    // at duplication factor d the shingling kernel work divides by d.
    // A second groupBy on (first_tok, shh) then merges distinct texts
    // that share a shingle SET — the true comparison grain — by
    // flattening their member lists (sorted again: flatten order is
    // collect_list order, which is partitioning-dependent).
    val toks = col("toks")
    val shingled = distinctTextToks(Tables(s, dir).documents)
      .select(col("rep_id"), col("n_members"), col("member_ids"),
        element_at(toks, 1).as("first_tok"),
        // codegen kernel twin of the 2-shingle xxhash64 HOF chain (see
        // [[docShingled]]; ShingleKernelParitySpec pins the equality)
        graft.functions.expr.DedupExpressions.xxShinglesK(toks, 2).as("shh"))
    // No null guards here: distinctTextToks already excludes null text,
    // and split() of a non-null text yields ≥1 token, so first_tok and
    // shh are total — a guard would be rewritten to the whole shingle
    // chain and predicate-pushed into the serial scan task (the q29
    // `sig IS NOT NULL` lesson). The doc-grain entry point
    // [[ngramPairsOn]] keeps its guard: there the columns are caller
    // attributes, so the pushed filter stays a cheap null check.
    val groups = shingled
      // explicit width on the group exchange (see distinctTextToks)
      .repartition(Tables(s, dir).documents.sparkSession.sessionState.conf.numShufflePartitions,
        col("first_tok"), col("shh"))
      .groupBy(col("first_tok"), col("shh"))
      .agg(min(col("rep_id")).as("rep_id"),
        sum(col("n_members")).as("n_members"),
        sort_array(flatten(collect_list(col("member_ids")))).as("member_ids"))
    ngramPairsGrouped(groups, threshold, maxBlock = 10000)
  }

  /** [[ngramPairs]] over any doc-grain shingled frame (first_tok, shh,
    * doc_id) — separated so CapMetricsSpec can flood the block cap with
    * exact copies and assert it never engages (the same gate the LSH
    * caps carry). Collapses identical (first_tok, shh) docs to one
    * group first; the production path ([[ngramPairs]]) arrives already
    * text-collapsed so its shingle kernels run once per distinct text. */
  private[graft] def ngramPairsOn(d: DataFrame, threshold: Double,
      maxBlock: Int = 10000): DataFrame =
    ngramPairsGrouped(
      d.select(col("first_tok"), col("shh"), col("doc_id"))
        .where(col("first_tok").isNotNull && col("shh").isNotNull)
        .repartition(d.sparkSession.sessionState.conf.numShufflePartitions,
          col("first_tok"), col("shh"))
        .groupBy(col("first_tok"), col("shh"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_members"),
          sort_array(collect_list(col("doc_id"))).as("member_ids")),
      threshold, maxBlock)

  /** Core of the blocked exact-Jaccard variant over GROUP-grain input
    * `(first_tok, shh, rep_id, n_members, member_ids)` — one row per
    * distinct (block, shingle-set) group (r16 VERDICT #1 collapse,
    * restructured in r17: groupBy-aggregate instead of a window+persist,
    * member lists carried THROUGH the salted block join — they are
    * duplication-sized, small next to the shingle arrays already
    * shipping — and doc pairs recovered by chained explodes, so the
    * whole expansion adds zero joins). The block census counts DISTINCT
    * shingle sets (the true comparison space), pair-join work is
    * duplication-invariant, and exact copies can never engage the
    * block cap. The key is (first_tok, shh) — not shh alone — so a
    * group never straddles blocks (two docs with the same shingle SET
    * but different first tokens were unpaired pre-collapse and must
    * stay so). Null keys (null-text docs) never equi-joined before and
    * are excluded before grouping. */
  private def ngramPairsGrouped(groups0: DataFrame, threshold: Double,
      maxBlock: Int): DataFrame = {
    val S = 8
    // persisted+eager (see [[eager]]): referenced by the block census,
    // both block-join sides, and the intra path — and the shingle
    // kernels below must run once. Both call sites pre-partition the
    // group exchange at the full configured width (see
    // distinctTextToks), so the one cache build runs parallel.
    val groups = eager(groups0)
    // block census observed (r15 VERDICT #2 discipline): the sets a
    // Zipf-headed block cap discards are reported, never silent
    val blockN = graft.metrics.CapObservatory.observeGroupCap(
      groups.groupBy("first_tok").agg(count(lit(1)).as("block_n")),
      "ngram_first_tok_block", col("block_n"), maxBlock)
    val capped = groups.join(broadcast(blockN.where(col("block_n") <= maxBlock)), Seq("first_tok"))
    val a = capped.select(col("first_tok"), col("rep_id").as("a_rep"),
        col("shh").as("a_sh"), col("member_ids").as("a_members"))
      .withColumn("salt", pmod(col("a_rep"), lit(S)).cast("int"))
    val b = capped.select(col("first_tok"), col("rep_id").as("b_rep"),
        col("shh").as("b_sh"), col("member_ids").as("b_members"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    val cross = a.join(b, Seq("first_tok", "salt"))
      .where(col("a_rep") < col("b_rep"))
      .select(col("a_members"), col("b_members"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(explode(col("a_members")).as("ia"), col("b_members"), col("jaccard"))
      .select(explode(col("b_members")).as("ib"), col("ia"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("jaccard"))
    // within-group pairs: identical arrays, so their jaccard is the
    // kernel applied to the group's own array (NOT a blanket 1.0 — the
    // kernel's degenerate-input behavior must match what the old
    // pairwise comparison computed for those same arrays)
    val intra = intraDocPairs(
      groups.withColumn("jaccard", jaccard(col("shh"), col("shh")))
        .where(col("jaccard") >= threshold), Seq("jaccard"))
    cross.unionByName(intra)
  }

  /** Exact all-pairs Jaccard ≥ `threshold` over the whole corpus — no
    * natural-key blocking — via document-frequency-ordered prefix
    * filtering (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
    * Search", WWW'07; the PPJoin family).
    *
    * Under any global total order on shingles, if J(A,B) ≥ t then the
    * prefixes of length |x| − ⌈t·|x|⌉ + 1 of A and B share at least one
    * shingle — so an inverted index over prefix shingles has FULL
    * recall for the threshold (this is an exact algorithm, unlike
    * MinHash-LSH). Ordering the prefix by ascending document frequency
    * puts each document's *rarest* shingles in its prefix, so inverted
    * lists are short and the candidate pair space stays near the true
    * result size instead of O(block²) on a Zipf natural key.
    *
    * Plan shape at scale: one vocabulary-sized aggregate (df), one
    * shuffle by doc_id for the prefix rank, a self-join on single
    * shingle hashes (narrow: ids + sizes only), a candidate length
    * filter (J ≥ t ⇒ min|x| ≥ t·max|x|), then the verify join ships
    * shingle arrays only for surviving candidate pairs. */
  /** Shingle width for the unblocked all-pairs generator (q100, q84
    * clustering, q89 curation): 4-token shingles, following published
    * near-dup practice — and, critically for the candidate index, wide
    * enough that shingle document-frequencies are small (see
    * [[shinglesK]]). 2-gram shingle Jaccard remains available through
    * the blocked q28/q82 variants. */
  val AllPairsShingle = 4

  private[graft] def allPairsJaccard(s: SparkSession, dir: String, threshold: Double): DataFrame =
    allPairsJaccardOn(docShingled(s, dir, AllPairsShingle).select(col("doc_id"), col("shh")), threshold)

  /** Core of [[allPairsJaccard]] over any (doc_id, shh) frame —
    * separated so specs can assert brute-force equivalence on planted
    * corpora. */
  private[graft] def allPairsJaccardOn(d0: DataFrame, threshold: Double): DataFrame = {
    // The shingled corpus appears four times in this plan (df count,
    // prefix build, both verify sides): persist it so one action
    // computes it once. Spark's cache manager keys on the canonicalized
    // plan, so an identical subtree elsewhere in the same query shares
    // ONE entry (the query's scope releases it).
    // At cluster scale this is the standard "materialize the prepared
    // corpus once" step (MEMORY_AND_DISK spills, never OOMs).
    val d = QueryScope.persist(d0)
    val dfreq = d.select(explode(col("shh")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    // persisted: both sides of the candidate self-join reference the
    // prefix relation, and without the persist the explode + df join +
    // per-doc prefix pipeline would run twice (the d cache alone only
    // saves the shingling). The relation is prefix-pruned before it
    // materializes — ~(1-t)·|shingles| rows of four fixed-width
    // columns. The per-doc df rank runs as a hash aggregate + in-row
    // sort kernel (r19): the former row_number window sorted the WHOLE
    // exploded stream per partition and emitted every shingle instance
    // into the rank filter; the kernel sorts each doc's ~|doc| entries
    // and emits only the prefix (guide §2.3/§2.4 — same single
    // exchange by doc_id, no partition-wide sort, 40% fewer rows out).
    val prefix = QueryScope.persist(d.select(col("doc_id"), explode(col("shh")).as("sh"))
      .join(dfreq, Seq("sh"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("sh"))).as("_e"))
      .select(col("doc_id"), size(col("_e")).as("sz"),
        posexplode(graft.functions.expr.DedupExpressions.prefixByDf(col("_e"), threshold))
          .as(Seq("_pos", "sh")))
      .select(col("sh"), col("doc_id"), col("sz"), (col("_pos") + lit(1)).as("rk")))
    // Candidate pruning on the collision rows, before the distinct:
    //  - length filter: J ≥ t ⇒ min|x| ≥ t·max|x|;
    //  - positional filter (PPJoin, Xiao et al. WWW'08): a collision on
    //    the rk-th token (df order) caps the overlap at
    //    1 + min(|A|−rkA, |B|−rkB); J ≥ t needs overlap ≥
    //    ⌈t/(1+t)·(|A|+|B|)⌉. Safe per collision row — the earliest
    //    shared prefix token gives the loosest bound, so a qualifying
    //    pair always survives on at least one row.
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("a_sz") + col("b_sz")))
    val cand = prefix.select(col("sh"), col("doc_id").as("a_id"), col("sz").as("a_sz"), col("rk").as("a_rk"))
      .join(prefix.select(col("sh"), col("doc_id").as("b_id"), col("sz").as("b_sz"), col("rk").as("b_rk")), Seq("sh"))
      .where(col("a_id") < col("b_id") &&
        least(col("a_sz"), col("b_sz")).cast("double") >=
          lit(threshold) * greatest(col("a_sz"), col("b_sz")).cast("double") &&
        (lit(1) + least(col("a_sz") - col("a_rk"), col("b_sz") - col("b_rk"))) >= alpha)
      .select(col("a_id"), col("b_id"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("a_id"), col("shh").as("a_sh")), Seq("a_id"))
      .join(d.select(col("doc_id").as("b_id"), col("shh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Bipartite variant of [[allPairsJaccardOn]]: pairs ACROSS the two
    * sides only (side 0 = the small probe corpus, e.g. an eval
    * benchmark; side 1 = the large one). The prefix relation is built
    * once over the union with ONE canonical document-frequency order —
    * the PPJoin correctness requirement — and the candidate join takes
    * side-0 collisions against side-1 collisions, so same-side pair
    * space is never generated. Prefix + length + positional filters are
    * exact (no recall loss), so the output equals the brute-force
    * bipartite join the oracle runs. At scale the side-0 prefix
    * relation is benchmark-sized and broadcasts; the side-1 scan
    * stays partition-local. */
  private[graft] def crossCorpusJaccardOn(d0: DataFrame, threshold: Double): DataFrame = {
    val d = QueryScope.persist(d0)
    val dfreq = d.select(explode(col("shh")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc df rank as hash aggregate + in-row prefix kernel — see
    // the [[allPairsJaccardOn]] note (same r19 window removal).
    val prefix = QueryScope.persist(d.select(col("doc_id"), col("side"), explode(col("shh")).as("sh"))
      .join(dfreq, Seq("sh"))
      .groupBy("doc_id", "side")
      .agg(collect_list(struct(col("df"), col("sh"))).as("_e"))
      .select(col("doc_id"), col("side"), size(col("_e")).as("sz"),
        posexplode(graft.functions.expr.DedupExpressions.prefixByDf(col("_e"), threshold))
          .as(Seq("_pos", "sh")))
      .select(col("sh"), col("doc_id"), col("side"), col("sz"), (col("_pos") + lit(1)).as("rk")))
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("a_sz") + col("b_sz")))
    val cand = prefix.where(col("side") === 1)
      .select(col("sh"), col("doc_id").as("b_id"), col("sz").as("b_sz"), col("rk").as("b_rk"))
      .join(broadcast(prefix.where(col("side") === 0)
        .select(col("sh"), col("doc_id").as("a_id"), col("sz").as("a_sz"), col("rk").as("a_rk"))),
        Seq("sh"))
      .where(least(col("a_sz"), col("b_sz")).cast("double") >=
          lit(threshold) * greatest(col("a_sz"), col("b_sz")).cast("double") &&
        (lit(1) + least(col("a_sz") - col("a_rk"), col("b_sz") - col("b_rk"))) >= alpha)
      .select(col("a_id"), col("b_id"))
      .distinct()
    cand
      .join(broadcast(d.where(col("side") === 0)
        .select(col("doc_id").as("a_id"), col("shh").as("a_sh"))), Seq("a_id"))
      .join(d.select(col("doc_id").as("b_id"), col("shh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // -- q28: exact n-gram (2-shingle) Jaccard, blocked on first token ----
  // The oracle-checkable exact variant; blocking keeps the pair space
  // ~|block|² instead of n². For unblocked recall at scale use q29.
  val q28 = GraftQuery("q28_dedup_ngram", (s, dir) =>
    ngramPairs(s, dir, 0.12).orderBy("a_id", "b_id"), Some(
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id, t[1] AS first_tok,
      |        CASE WHEN len(t) >= 2
      |             THEN list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
      |      FROM s a JOIN s b ON a.first_tok = b.first_tok AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.12
      |ORDER BY a_id, b_id""".stripMargin))

  // -- q29: MinHash + LSH banding (approximate Jaccard, full recall path)
  // 32 hashes, 8 bands × 4 rows → collision prob ≈ 1-(1-j⁴)⁸ (~50% at
  // j≈0.5). Candidates verified with exact Jaccard — output is exact
  // similarity over LSH candidates. The permutations are universal
  // hashes (aᵢ·h + bᵢ mod P, P = 2³¹−1) over QueryDsl.crossHash60
  // shingle hashes, all arithmetic < 2⁶² — so the ENTIRE construction
  // (signatures, band collisions, verification) is mirrored in the
  // DuckDB oracle: an oracle-checked LSH, not a rows-only one.
  // MinHashSpec additionally proves recall on synthetic near-dups.
  /** The q29/q177 shared relations, all GROUP-grain (one row per
    * distinct text — the [[distinctTextToks]] collapse):
    *  - `rels`: (rep_id, n_members, member_ids, shc, sig) — sorted
    *    shingle hashes plus the K=32 minhash signature, computed ONCE
    *    per distinct text and persisted;
    *  - `repPairs`: deduped LSH band-collision pairs over distinct
    *    texts (a_rep < b_rep).
    * Consumers verify/score AT REP GRAIN (identical texts have
    * identical shc/sig, so per-copy verification is pure waste) and
    * either expand to doc pairs ([[expandCross]]/[[intraDocPairs]]) or
    * weight rep-level results by member counts (q177). */
  private[graft] final case class MinhashRels(rels: DataFrame, repPairs: DataFrame)

  private def minhashLshCandidates(s: SparkSession, dir: String): MinhashRels =
    minhashLshRels(Tables(s, dir).documents)

  /** [[minhashLshCandidates]] over any (doc_id, text) frame — separated
    * so CapMetricsSpec can flood it with exact copies and assert the
    * cap never engages (r16 VERDICT #1 done-criterion).
    *
    * Exact copies collapse BEFORE the shingle/signature kernels run
    * (see [[distinctTextToks]]), so only distinct texts enter the band
    * exchange and the bucket cap. Two distinct texts that happen to
    * share a signature still collide in every band and pair through
    * the normal capped band join (they are not an intra group — the
    * group key is the text). A pair of copies collides in every band
    * by definition, so expanding representative pairs plus the
    * within-group pairs reproduces the uncollapsed candidate set
    * exactly. Null-text docs are excluded before grouping (pre-collapse
    * a null signature exploded to zero band rows and never paired).
    *
    * SEMANTIC DELTA vs the pre-r17 plan (intended, pinned by
    * CapMetricsSpec): the bucket cap now keys on DISTINCT TEXTS, not
    * distinct signatures. The old plan collapsed on `sig` before
    * banding, so >maxBucket distinct texts sharing one signature (e.g.
    * token-permutation families with equal shingle SETS — "a b"
    * repeated different numbers of times) rode one banded row and
    * bypassed the cap; now each distinct text enters its band buckets
    * individually and a >maxBucket signature-twin family is capped —
    * loudly, via [[graft.metrics.CapObservatory]]. That is the cap
    * doing its job: such texts are genuinely distinct documents, and
    * an unbounded bucket of them is exactly the pathological hot
    * bucket the cap exists to bound. Only EXACT copies (the class a
    * dedup pass must never drop) are structurally cap-immune. */
  private[graft] def minhashLshRels(docs: DataFrame,
      maxBucket: Int = 1000): MinhashRels = {
    val K = 32; val Bands = 8; val R = K / Bands
    // permutations run as a codegen kernel with the exact arithmetic of
    // the SQL oracle below (an interpreted HOF was ~10× slower at 10×).
    // persisted: the shingle+signature relation is referenced by the
    // band exchange, both verify sides, and both expansion sides —
    // uncached, each reference would re-run the kernels (measured ~40 s
    // for q29 at 10×; one distinct-grain pass after the persist).
    // persisted+eager (see [[eager]]): referenced by the band exchange
    // and both verify sides; the shingle+signature kernels must run
    // once (measured ~40 s for q29 at 10× when re-run per reference)
    // No `sig IS NOT NULL` guard: null text is already excluded in
    // distinctTextToks, and given non-null text the shingle/signature
    // kernels are total (split ⇒ ≥1 token ⇒ non-empty shc ⇒ non-null
    // sig). The guard was not just redundant — the optimizer pushed the
    // rewritten predicate (the ENTIRE signature pipeline as a filter
    // expression) below the repartition into the serial scan task,
    // re-running the kernels per copy on one core (profiled at 3-4.6 s
    // per execution at sf0.1).
    val relsE = eager(distinctTextToks(docs)
      .select(col("rep_id"), col("n_members"), col("member_ids"),
        // codegen kernel twin of
        //   array_sort(transform(shingles2(toks), sh => crossHash60(sh)))
        // — distinct 2-shingles hashed with the cross-engine 60-bit md5
        // hash, sorted; the HOF chain ran interpreted per distinct text
        // (ShingleKernelParitySpec pins kernel == HOF)
        graft.functions.expr.DedupExpressions
          .crossShinglesK(col("toks"), 2, sorted = true).as("shc"))
      .withColumn("sig", graft.functions.expr.DedupExpressions.minHashSigMod(col("shc"), K)))
    // The band exchange ships only (rep_id, pos, band-slice) — never
    // the shingle arrays. Representative pairs are deduped (a pair can
    // collide in several bands) while still narrow. The join key is
    // the R-value band slice itself (arrays are comparable join keys),
    // exactly the oracle's band-equality predicate.
    val bandsArr = array((0 until Bands).map(b => slice(col("sig"), b * R + 1, R)): _*)
    val banded = capBuckets(
      relsE.select(col("rep_id"), posexplode(bandsArr).as(Seq("pos", "band"))),
      maxBucket = maxBucket, tag = "minhash_lsh_bucket")
    val repPairs = banded.select(col("pos"), col("band"), col("rep_id").as("a_rep"))
      .join(banded.select(col("pos"), col("band"), col("rep_id").as("b_rep")), Seq("pos", "band"))
      .where(col("a_rep") < col("b_rep"))
      .select(col("a_rep"), col("b_rep"))
      .distinct()
    MinhashRels(relsE, repPairs)
  }

  /** Doc-grain compatibility view of [[minhashLshRels]]: `_1` = the
    * group-grain rels frame, `_2` = the full doc-level candidate pair
    * set (cross-group band collisions expanded to copies, plus
    * within-group copy pairs). Spec surface (CapMetricsSpec flood,
    * DedupSpec null-text pin). */
  private[graft] def minhashLshCandidatesOn(docs: DataFrame,
      maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    val r = minhashLshRels(docs, maxBucket)
    val cross = expandCross(r.repPairs, r.rels, Nil)
    val intra = intraDocPairs(r.rels, Nil)
    (r.rels, cross.unionByName(intra))
  }

  val q29 = GraftQuery("q29_dedup_minhash", (s, dir) => {
    // Verification runs at REP grain: identical texts have identical
    // shingle arrays, so one kernel evaluation per rep pair covers
    // every copy pair — the exact-Jaccard verify join shrinks from
    // candidate-doc-pair-sized to candidate-rep-pair-sized, and the
    // jaccard value fans out through the expansion.
    val r = minhashLshCandidates(s, dir)
    // ONE pair of rep-keyed joins fetches BOTH the verify arrays and
    // the member lists, so verification (once per rep pair) and doc
    // expansion (two chained explodes) share the same join — no
    // separate expansion joins.
    val cross = r.repPairs
      .join(r.rels.select(col("rep_id").as("a_rep"), col("shc").as("a_sh"),
        col("member_ids").as("a_members")), Seq("a_rep"))
      .join(r.rels.select(col("rep_id").as("b_rep"), col("shc").as("b_sh"),
        col("member_ids").as("b_members")), Seq("b_rep"))
      .select(col("a_members"), col("b_members"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .where(col("jaccard") >= 0.12)
      .select(explode(col("a_members")).as("ia"), col("b_members"), col("jaccard"))
      .select(explode(col("b_members")).as("ib"), col("ia"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("jaccard"))
    // within-group pairs: the kernel applied to the group's own array
    // (NOT a blanket 1.0 — degenerate-input behavior must match what
    // the pairwise comparison computed for those same arrays)
    val intra = intraDocPairs(
      r.rels.withColumn("jaccard", jaccard(col("shc"), col("shc")))
        .where(col("jaccard") >= 0.12), Seq("jaccard"))
    cross.unionByName(intra)
      .orderBy("a_id", "b_id")
  }, Some(
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(t) >= 2
      |             THEN list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |hc AS (SELECT doc_id,
      |         list_sort(list_transform(sh, x ->
      |           CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT))) AS shc
      |       FROM s),
      |sg AS (SELECT doc_id, shc,
      |         list_transform(range(0, 32), i ->
      |           list_min(list_transform(shc, h ->
      |             ((i*40503 + 11) * (h % 2147483647) + (i*2654435761) % 2147483647) % 2147483647))) AS sig
      |       FROM hc),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.shc AS ashc, b.shc AS bshc
      |      FROM sg a JOIN sg b ON a.doc_id < b.doc_id
      |      WHERE len(list_filter(range(0, 8), bb ->
      |              a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4])) >= 1),
      |j AS (SELECT a_id, b_id,
      |        CAST(len(list_intersect(ashc, bshc)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(ashc, bshc))) AS DOUBLE) AS jaccard
      |      FROM p)
      |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.12
      |ORDER BY a_id, b_id""".stripMargin))

  // -- q30: SimHash near-dup (Hamming distance, banded blocking) --------
  // 60-bit simhash over cross-engine token hashes, 4 bands of 15 bits:
  // any pair with hamming <= 3 shares a band exactly (pigeonhole), so
  // the bucket join has FULL recall for the radius — which is what
  // makes the banded Spark plan provably equal to the oracle's
  // brute-force O(n²) hamming scan.
  /** q30's computation over any (doc_id, text) frame — separated so
    * CapMetricsSpec can flood it with exact copies and assert the
    * banding cap never engages (r16 VERDICT #1 done-criterion).
    * Identical fingerprints collapse to one representative before the
    * band exchange (see [[capBuckets]]); within-group pairs are
    * hamming 0 by definition and expand via [[intraDocPairs]]. */
  private[graft] def simhashPairsOn(docs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val Bands = 4; val Bits = 60
    // Collapse on the FINGERPRINT itself (r16 VERDICT #1): for simhash
    // the fp is the perfect group key — same fp ⇔ hamming 0, so intra
    // pairs are hamming 0 BY DEFINITION (no text comparison needed),
    // exact copies (same text ⇒ same fp) can never engage the band
    // cap, and the collapse exchange ships 16 bytes/doc (fp + id), not
    // the text. The fp kernel runs map-side per copy — one pass over
    // data the collapse has to read anyway, embarrassingly parallel.
    // Null fingerprints (null text) are excluded BEFORE grouping: a
    // null fp exploded to zero band rows pre-collapse, so null-text
    // docs must not intra-pair under a shared null key.
    // per-token crossHash60 runs as a codegen kernel — the interpreted
    // transform(split(text), w => crossHash60(w)) lambda was the last
    // non-codegen piece of the fp pipeline (the vote loop already was
    // a kernel); ShingleKernelParitySpec pins kernel == HOF
    val fp = graft.functions.expr.DedupExpressions.simHashFromHashes(
      graft.functions.expr.DedupExpressions.crossHash60All(split(col("text"), " ")), Bits)
    // persisted+eager (see [[eager]]): referenced by the band exchange
    // and the intra path; narrow (fp + ids)
    // Null-text docs excluded on the CHEAP predicate (pushed to the
    // scan); given non-null text the fp kernel is total, so no
    // `fp IS NOT NULL` guard — the optimizer would push that rewritten
    // predicate (the whole fp kernel as a filter) below the round-robin
    // repartition into the serial scan task (see the q29 note).
    val reps = eager(docs
      .select(col("doc_id"), col("text"))
      .where(col("text").isNotNull)
      // round-robin spread BEFORE the fp kernel (the docShingled rule:
      // the table arrives as few files at test SFs, and the kernel must
      // not run in as many tasks as there are input splits); the
      // groupBy's own exchange then ships 16 bytes/doc
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        sort_array(collect_list(col("doc_id"))).as("member_ids")))
    // member lists ride the band exchange (the q28 block-join pattern):
    // they are duplication-sized — strictly smaller than the per-copy
    // band rows the pre-collapse plan shipped — and carrying them makes
    // the whole doc expansion join-free (two chained explodes off the
    // verified pairs). The pair dedupe (a pair collides in up to 4
    // bands) runs at rep grain, before expansion multiplies rows.
    val banded = capBuckets(
      reps.select(col("rep_id"), col("fp"), col("member_ids"),
        posexplode(graft.functions.expr.DedupExpressions.fpBands(col("fp"), Bands, Bits / Bands)).as(Seq("pos", "band"))),
      maxBucket = maxBucket, tag = "simhash_band_bucket")
    val a = banded.select(col("pos"), col("band"), col("rep_id").as("a_rep"),
      col("fp").as("a_fp"), col("member_ids").as("a_members"))
    val b = banded.select(col("pos"), col("band"), col("rep_id").as("b_rep"),
      col("fp").as("b_fp"), col("member_ids").as("b_members"))
    val cross = a.join(b, Seq("pos", "band"))
      .where(col("a_rep") < col("b_rep"))
      .select(col("a_rep"), col("b_rep"), col("a_members"), col("b_members"),
        DedupFunctions.hamming64(col("a_fp"), col("b_fp")).cast("int").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .select(explode(col("a_members")).as("ia"), col("b_members"), col("hamming"))
      .select(explode(col("b_members")).as("ib"), col("ia"), col("hamming"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("hamming"))
    val intra = intraDocPairs(
      reps.withColumn("hamming", lit(0).cast("int")), Seq("hamming"))
    cross.unionByName(intra)
  }

  val q30 = GraftQuery("q30_dedup_simhash", (s, dir) =>
    simhashPairsOn(Tables(s, dir).documents).orderBy("a_id", "b_id"), Some(
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
      |       FROM (SELECT doc_id, unnest(t) AS w FROM d)),
      |bitv AS (SELECT doc_id, bb.b AS b,
      |           CASE WHEN SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |                THEN 1 ELSE 0 END AS bit
      |         FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
      |         GROUP BY doc_id, bb.b),
      |fp AS (SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS fp
      |       FROM bitv GROUP BY doc_id)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3
      |ORDER BY a_id, b_id""".stripMargin))

  // -- q100: exact UNBLOCKED all-pairs Jaccard (prefix-filtered) --------
  // The scale-safe exact near-dup join: same semantics as a full O(n²)
  // pair scan (which the oracle runs — fine at oracle SF), computed via
  // prefix filtering over 4-token shingles at the standard near-dup
  // threshold. This is the candidate generator q84/q89 route through,
  // oracle-gated directly.
  val q100 = GraftQuery("q100_allpairs_jaccard", (s, dir) =>
    allPairsJaccard(s, dir, 0.5).orderBy("a_id", "b_id"), Some(
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(t) >= 4
      |             THEN list_distinct(list_transform(range(1, len(t) - 2),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.5
      |ORDER BY a_id, b_id""".stripMargin))

  // -- q177: MinHash estimator calibration over the LSH candidates -----
  // The audit a pipeline owner runs before trusting banding parameters:
  // for every LSH candidate pair (pre-threshold — false positives are
  // the point), compare the MinHash-estimated Jaccard (matching
  // signature components / K) against the exact shingle Jaccard, and
  // report the calibration curve per estimate decile: pair count, mean
  // estimate, mean exact, mean |error|. A well-calibrated index shows
  // mean_est ≈ mean_exact per bucket; drift flags bad permutations or
  // band parameters.
  //
  // Cross-engine float discipline: m/K with K=32 is dyadic-exact; the
  // scaled forms est_l = round(m·10⁴/32) land on representable halves
  // (m·312.5), where Spark's HALF_UP and DuckDB's half-away-from-zero
  // agree; exact_l scales the int/int Jaccard quotient (identical
  // operands both engines). Errors are |est_l − exact_l| in INTEGER
  // space; bucket means ship raw integer-operand quotients unrounded
  // (the q173 mean_cos discipline).
  //
  // Scale: identical dataflow to q29 (the candidate generator is
  // shared) plus one decile-keyed census — no new corpus-grain shuffle.
  val q177 = GraftQuery("q177_minhash_calibration", (s, dir) => {
    // Scored at REP grain, weighted by copy multiplicity — the census
    // NEVER expands to doc pairs. A cross rep pair stands for
    // n_a·n_b copy pairs, an intra group for n·(n−1)/2, all with the
    // SAME (m, exact) values (identical texts ⇒ identical shc/sig), so
    // weighted integer sums reproduce the doc-grain census bit for bit
    // while the whole query stays duplication-invariant (the r17
    // collapse discipline taken to its endpoint: at 30× replication
    // this plan does the 1× work plus one weighted aggregate).
    val r = minhashLshCandidates(s, dir)
    val crossScored = r.repPairs
      .join(r.rels.select(col("rep_id").as("a_rep"), col("shc").as("a_sh"),
        col("sig").as("a_sig"), col("n_members").as("a_n")), Seq("a_rep"))
      .join(r.rels.select(col("rep_id").as("b_rep"), col("shc").as("b_sh"),
        col("sig").as("b_sig"), col("n_members").as("b_n")), Seq("b_rep"))
      .select(
        (col("a_n") * col("b_n")).as("weight"),
        // codegen-native equal-position count (SimilarityKernels
        // .matchCountLong) — exact twin of the interpreted
        // zip_with(when(x===y,1,0))+aggregate fold it replaces
        graft.functions.expr.SimilarityExpressions
          .matchCountLong(col("a_sig"), col("b_sig")).as("m"),
        jaccard(col("a_sh"), col("b_sh")).as("exact"))
    // intra pairs: identical sigs match on all K components (m = 32 —
    // what zip_with over two equal arrays computes); exact is the
    // kernel on the group's own array (degenerate inputs included)
    val intraScored = r.rels.where(col("n_members") > 1)
      .select(
        shiftright(col("n_members") * (col("n_members") - 1), 1).as("weight"),
        lit(32L).as("m"),
        jaccard(col("shc"), col("shc")).as("exact"))
    crossScored.unionByName(intraScored)
      .select(col("weight"),
        least(floor(col("m") * 10.0 / 32), lit(9.0)).cast("long").as("decile"),
        round(col("m") * 10000.0 / 32).cast("long").as("est_l"),
        round(col("exact") * 10000).cast("long").as("exact_l"))
      .groupBy("decile")
      .agg(sum(col("weight")).as("n_pairs"),
        sum(col("est_l") * col("weight")).as("sum_est_l"),
        sum(col("exact_l") * col("weight")).as("sum_exact_l"),
        sum(abs(col("est_l") - col("exact_l")) * col("weight")).as("sum_err_l"))
      .select(col("decile"), col("n_pairs"),
        (col("sum_est_l").cast("double") / col("n_pairs") / 10000).as("mean_est"),
        (col("sum_exact_l").cast("double") / col("n_pairs") / 10000).as("mean_exact"),
        (col("sum_err_l").cast("double") / col("n_pairs") / 10000).as("mean_abs_err"))
      .orderBy("decile")
  }, Some(
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(t) >= 2
      |             THEN list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      |             ELSE list_distinct(t) END AS sh
      |      FROM d),
      |hc AS (SELECT doc_id,
      |         list_sort(list_transform(sh, x ->
      |           CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT))) AS shc
      |       FROM s),
      |sg AS (SELECT doc_id, shc,
      |         list_transform(range(0, 32), i ->
      |           list_min(list_transform(shc, h ->
      |             ((i*40503 + 11) * (h % 2147483647) + (i*2654435761) % 2147483647) % 2147483647))) AS sig
      |       FROM hc),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.shc AS ashc, b.shc AS bshc,
      |             a.sig AS asig, b.sig AS bsig
      |      FROM sg a JOIN sg b ON a.doc_id < b.doc_id
      |      WHERE len(list_filter(range(0, 8), bb ->
      |              a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4])) >= 1),
      |m AS (SELECT CAST(len(list_filter(range(0, 32), i -> asig[i+1] = bsig[i+1])) AS BIGINT) AS m,
      |        CAST(len(list_intersect(ashc, bshc)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(ashc, bshc))) AS DOUBLE) AS exact
      |      FROM p),
      |sc AS (SELECT CAST(least(floor(m * 10.0 / 32), 9.0) AS BIGINT) AS decile,
      |         CAST(round(m * 10000.0 / 32) AS BIGINT) AS est_l,
      |         CAST(round(exact * 10000) AS BIGINT) AS exact_l
      |       FROM m)
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(est_l) AS DOUBLE) / COUNT(*) / 10000 AS mean_est,
      |  CAST(SUM(exact_l) AS DOUBLE) / COUNT(*) / 10000 AS mean_exact,
      |  CAST(SUM(abs(est_l - exact_l)) AS DOUBLE) / COUNT(*) / 10000 AS mean_abs_err
      |FROM sc GROUP BY decile ORDER BY decile""".stripMargin))

  val all: Seq[GraftQuery] = Seq(q27, q28, q29, q30, q100, q177)
}

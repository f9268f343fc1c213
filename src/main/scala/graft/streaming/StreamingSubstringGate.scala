package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live exact-substring dedup gate — the streaming twin of q183
  * ([[graft.queries.Curation15]], Lee et al. 2022 §4.1): documents
  * arrive as a stream, and any L-token window whose gram was ALREADY
  * seen anywhere in the accumulated stream is flagged at arrival. The
  * first occurrence was released before anyone knew it would
  * duplicate, so — the q181/StreamingSplitRouter correction
  * discipline — the moment a gram's second occurrence arrives, a
  * CORRECTION row (`corrected = true`) re-flags the first occurrence's
  * window; every occurrence from then on flags directly. The union of
  * flagged windows per document therefore converges to exactly the
  * batch q183 covered-token set (StreamingSubstringGateSpec pins
  * per-doc convergence against the batch census's brute force).
  *
  * At-least-once: `seq` is the stream's monotone delivery sequence.
  * The per-gram high-water fence re-emits a redelivered occurrence's
  * CURRENT verdict (hit if its gram is known-duplicated, nothing
  * otherwise) without mutating state — replay can neither re-emit the
  * first-occurrence correction nor store a duplicate first occurrence.
  *
  * Scale: the gram explode is map-side (one 60-bit-hashable gram per
  * token position, string transient in the lambda — q183's shape); the
  * one shuffle keys on the gram hash, the same key the batch census
  * groups on. State is ONE fixed-width entry per DISTINCT gram ever
  * seen — vocabulary grain, which grows with the corpus: `maxGrams`
  * fails loudly past the bound (the LiveClusterIndex discipline). At
  * production scale, shard by gram-hash range — the `shard`/`shards`
  * params of [[hits]] run S parallel gates whose unioned output is
  * row-identical to S=1 and whose bound is per shard — or front a
  * static base with the [[StreamingBloomIngest]] sketch so only novel
  * grams reach keyed state. Output is append-mode; corrections are
  * new rows, never retractions.
  */
object StreamingSubstringGate {

  /** One arriving document; `seq` is the stream's monotone delivery
    * sequence (repeated only on redelivery). */
  final case class DocArrival(docId: Long, source: String, text: String, seq: Long)

  /** One flagged L-token window [pos, pos + L - 1] of a document.
    * `corrected = false`: flagged at its own arrival (gram already
    * known). `corrected = true`: the retro-flag of a FIRST occurrence,
    * emitted when its gram's second occurrence arrived. */
  final case class SubstringHit(docId: Long, source: String, pos: Int,
      corrected: Boolean, redelivered: Boolean, seq: Long)

  // public: GroupState/Dataset encoders need constructor access.
  // The replay fence is the LEXICOGRAPHIC high-water (seq, doc, pos) of
  // the last processed occurrence — a plain seq fence would misread a
  // SECOND occurrence inside the same document (same seq, later pos,
  // e.g. an intra-doc repeat) as a redelivery. Occurrences process in
  // (seq, doc, pos) order, so anything ≤ the mark is a replay of an
  // already-processed occurrence and anything above is genuinely new —
  // fixed-width state either way.
  final case class GramState(firstDoc: Long, firstSource: String, firstPos: Int,
      dupKnown: Boolean, highSeq: Long, highDoc: Long, highPos: Int)
  final case class GramOcc(gh: Long, docId: Long, source: String, pos: Int, seq: Long)

  /** Per-JVM resident-gram gauge backing the loud `maxGrams` bound: a
    * JVM-static so every task in an executor shares it and it persists
    * across micro-batches (a closure-captured counter would reset per
    * task). Shared by ALL gates in the JVM — it is a safety bound on
    * executor memory, not per-query accounting.
    *
    * The gauge is APPROXIMATE, deliberately biased toward firing early
    * (the safe direction for a memory guard):
    *  - a retried task re-increments for state the retry re-creates
    *    (the failed attempt's state-store writes are discarded, its
    *    increments are not) — over-count;
    *  - a restarted QUERY in the same JVM recounts grams it re-loads
    *    from the checkpoint as if new — over-count, and the only way to
    *    clear the drift is an executor (JVM) restart;
    *  - a restarted EXECUTOR resets the gauge to 0 while checkpointed
    *    state persists, so the bound under-counts until enough new
    *    grams arrive — the one unsafe direction, bounded by the state
    *    the store already held (which fit before the restart).
    * Exact per-store accounting lives in the state-store metrics
    * (`numRowsTotal` in the streaming progress events); this gauge
    * exists to abort in-flight before a task OOMs the JVM, not to be
    * the system of record. Production-scale sharding splits the bound
    * across S gates — the `shard`/`shards` params of [[hits]]. */
  private val residentGrams = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test/harness hook: clear the JVM-static gauge between INDEPENDENT
    * gate queries run sequentially in one JVM (a spec running several
    * full-corpus gates back-to-back; without a reset the
    * monotonic gauge reaches ~S+1 times the corpus's distinct-gram
    * count and can spuriously trip `maxGrams` on the later runs even
    * though each query's live state is far below the bound). NOT for
    * production streams — there the gauge must persist across
    * micro-batches of the SAME query, which is exactly what the
    * JVM-static provides. */
  private[graft] def resetResidentGrams(): Unit = residentGrams.set(0L)

  /** @param maxGrams loud bound on distinct grams held in state (see
    *   class doc; state entries are ~40 B — the default holds ~2 GB).
    * @param shard / @param shards gram-hash RANGE sharding: this gate
    *   instance processes only grams with `gh mod shards == shard`.
    *   Because the keyed state IS the gram hash, the partition is
    *   exact — every gram's full occurrence history lands in exactly
    *   one shard, so the UNION of the S shard gates' outputs is
    *   row-identical to a single S=1 gate (ShardedGateSpec pins
    *   S=4 ≡ S=1). Run each
    *   shard as its own streaming query (own checkpoint, own JVM/
    *   cluster), and `maxGrams` bounds EACH shard — S multiplies the
    *   gate's total gram capacity.
    * @param initialState RESHARD MIGRATION bootstrap: the slice of a
    *   prior deployment's keyed state this shard owns under the new
    *   routing ([[dumpState]] → [[shardSlice]]). Applied by Spark's
    *   flatMapGroupsWithState initial-state support on the first
    *   micro-batch, so a migrated shard continues exactly where the
    *   old deployment stopped — same dup verdicts, same replay fence
    *   (the high-water mark travels inside GramState). Gauge note:
    *   bootstrapped entries bypass the residentGrams increment (they
    *   are never a `s == null` first occurrence); the migration tool
    *   accounts for them via [[preloadGauge]]. */
  def hits(docs: Dataset[DocArrival], L: Int,
      maxGrams: Long = 50000000L, shard: Int = 0, shards: Int = 1,
      initialState: Option[Dataset[(Long, GramState)]] = None)
      : Dataset[SubstringHit] = {
    require(shards >= 1 && shard >= 0 && shard < shards,
      s"shard $shard out of range for $shards shards")
    val spark = docs.sparkSession
    import spark.implicits._
    // codegen kernel twin of the batch census' per-position L-gram HOF
    // (Curation15.exactSubstringCensus — the two surfaces must hash
    // identically; the kernel returns an empty array below L tokens)
    val allGrams = docs.toDF()
      .withColumn("t", split(col("text"), " "))
      .select(col("docId"), col("source"), col("seq"),
        posexplode(graft.functions.expr.DedupExpressions.crossGramsK(col("t"), L)))
      .select(col("col").as("gh"), col("docId"), col("source"),
        col("pos"), col("seq"))
    val grams = (if (shards == 1) allGrams
                 else allGrams.where(pmod(col("gh"), lit(shards.toLong)) === shard))
      .as[GramOcc]
    val fn = (_: Long, it: Iterator[GramOcc], st: GroupState[GramState]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[SubstringHit]
          var s = st.getOption.orNull
          // seq order = delivery order (deterministic under Spark's
          // unordered group iterator)
          it.toArray.sortBy(o => (o.seq, o.docId, o.pos)).foreach { o =>
            val mark = if (s == null) null else (s.highSeq, s.highDoc, s.highPos)
            val key = (o.seq, o.docId, o.pos)
            if (mark != null && Ordering[(Long, Long, Int)].lteq(key, mark)) {
              // replayed occurrence: current verdict only, no mutation
              if (s.dupKnown)
                out += SubstringHit(o.docId, o.source, o.pos,
                  corrected = false, redelivered = true, o.seq)
            } else if (s == null) {
              if (residentGrams.incrementAndGet() > maxGrams)
                throw new IllegalStateException(
                  s"StreamingSubstringGate gram-state bound exceeded (> $maxGrams " +
                  "distinct grams on one executor) — shard the gate by gram-hash " +
                  "range or front a static base with StreamingBloomIngest.")
              s = GramState(o.docId, o.source, o.pos, dupKnown = false,
                o.seq, o.docId, o.pos)
            } else {
              if (!s.dupKnown)
                out += SubstringHit(s.firstDoc, s.firstSource, s.firstPos,
                  corrected = true, redelivered = false, o.seq)
              out += SubstringHit(o.docId, o.source, o.pos,
                corrected = false, redelivered = false, o.seq)
              s = s.copy(dupKnown = true, highSeq = o.seq,
                highDoc = o.docId, highPos = o.pos)
            }
          }
          if (s != null) st.update(s)
          out.iterator
    }
    val keyed = grams.groupByKey(_.gh)
    initialState match {
      case None =>
        keyed.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout())(fn)
      case Some(init) =>
        keyed.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout(),
          init.groupByKey(_._1).mapValues(_._2))(fn)
    }
  }

  // -- reshard migration (S → S′ without replaying history) ---------------

  /** Read a STOPPED gate deployment's keyed state from its streaming
    * checkpoint via Spark's state data source: (gram hash → GramState),
    * including the replay fence. This is the dump half of the S=1→S=4
    * migration: stop the old query at a batch boundary, dump, slice
    * with [[shardSlice]], and boot each new shard with `initialState`.
    * Distributed end to end — the state store is read as a DataFrame,
    * never collected. */
  def dumpState(spark: SparkSession, checkpointDir: String)
      : Dataset[(Long, GramState)] = {
    import spark.implicits._
    spark.read.format("statestore").load(checkpointDir)
      .select(col("key.value").as("_1"),
        col("value.groupState").as("_2"))
      .as[(Long, GramState)]
  }

  /** The slice of a state dump that shard `shard` of `shards` owns —
    * EXACTLY the `pmod(gh, shards)` routing [[hits]] applies to
    * arriving grams, so dump ∪-over-slices is a partition and every
    * gram's history lands with its future occurrences. Works for any
    * S → S′ (the dump may come from a sharded deployment too: dump
    * each old shard, union, re-slice). */
  def shardSlice(state: Dataset[(Long, GramState)], shard: Int, shards: Int)
      : Dataset[(Long, GramState)] = {
    require(shards >= 1 && shard >= 0 && shard < shards)
    state.filter(kv => java.lang.Long.remainderUnsigned(kv._1, shards.toLong)
      == shard.toLong)
  }

  /** Account bootstrapped state in the resident-gram gauge (initial
    * state bypasses the `s == null` increment path — see [[hits]]). */
  private[graft] def preloadGauge(n: Long): Unit = residentGrams.addAndGet(n)
}

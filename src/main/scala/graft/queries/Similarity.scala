package graft.queries

import graft.{GraftQuery, QueryScope, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * streams the corpus — one scan, no shuffle of the corpus, per-partition
  * top-k then a tiny final merge. The LSH variant (random-hyperplane
  * signatures, Charikar STOC'02) buckets the corpus so each query only
  * scores its bucket — the 100 TB path, with recall measured against
  * brute force in AnnSpec.
  */
object Similarity {

  // Round-robin repartition after the scan: the table arrives as few
  // parquet splits, and every downstream pair/score stage streams this
  // side — without it the whole similarity compute runs in one task.
  private[queries] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))

  /** Random-hyperplane signature with ±1 Rademacher components drawn
    * from an integer parity mix — cross-engine deterministic (the mix
    * is exact integer arithmetic < 2⁴⁰ in both engines) and summed in
    * ascending index order so the dot products, hence the sign bits,
    * are bit-identical to the DuckDB oracle's. sign(i,j) = +1 iff
    * ((i·1315423911 + j·2654435761) mod 1000003) is odd. Runs as a
    * codegen kernel (an interpreted higher-order aggregate was ~4× the
    * whole query's cost at bench scale). */
  private def rademacherSig(v: Column, bits: Int, dims: Int): Column =
    graft.functions.expr.DedupExpressions.rademacherSig(v, bits)

  // -- q31: brute-force cosine top-5 for query vectors vec_id < 10 ------
  // Head = bounded-heap partial top-k (graft.functions.TopK): the scored
  // corpus is scanned and discarded per-partition — only k-row partials
  // shuffle, vs the row_number window's full corpus shuffle into
  // ≤|queries| reducers. Same (cos DESC, cid ASC) order, same hashes.
  val q31 = GraftQuery("q31_ann_brute", (s, dir) => {
    val c = corpus(s, dir)
    val q = c.select(col("vec_id").as("qid"), col("v").as("qv"))
      .where(col("qid") < 10)
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        cosineSim(col("qv"), col("v")).as("cos"))
    scored.groupBy("qid")
      .agg(graft.functions.TopK.topKDouble(5)(col("cid"), col("cos")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("rk"),
        round(col("e._2"), 4).as("score"))
      .orderBy("qid", "rk")
  }, Some(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
      |s AS (SELECT qid, vec_id AS cid, list_cosine_similarity(qv, v) AS cos
      |      FROM q CROSS JOIN c WHERE vec_id <> qid),
      |r AS (SELECT qid, cid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |      FROM s)
      |SELECT qid, cid, CAST(rk AS INTEGER) AS rk, round(cos, 4) AS score
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin))

  // -- q32: LSH-bucketed ANN (random hyperplane signatures) -------------
  // 16-bit signatures; candidates share >= 14 of 16 sign bits with the
  // query (probe buckets at Hamming <= 2 via banded join on 4-bit
  // chunks), then exact cosine within candidates. Hamming <= 2 over 4
  // bands → pigeonhole guarantees a shared band, so the banded plan
  // equals a brute-force hamming scan — which is what the oracle runs.
  // The hyperplanes are ±1 Rademacher planes from an integer parity
  // mix (exact in both engines), and the sign dot-products accumulate
  // in index order, so signatures are bit-identical cross-engine.
  val q32 = GraftQuery("q32_ann_lsh", (s, dir) => {
    val Bits = 16; val Bands = 4
    val c = corpus(s, dir).withColumn("sig", rademacherSig(col("v"), Bits, dims = 64))
    val bandC = c.select(col("vec_id"), col("v"), col("sig"),
      posexplode(graft.functions.expr.DedupExpressions.fpBands(col("sig"), Bands, Bits / Bands)).as(Seq("pos", "band")))
    val q = bandC
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("sig").as("qsig"),
        col("pos"), col("band"))
    val cand = bandC.join(q, Seq("pos", "band"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id").as("cid"), col("v"), col("sig"), col("qsig"))
      .distinct()
      .where(bit_count(col("sig").bitwiseXOR(col("qsig"))) <= 2)
      .select(col("qid"), col("cid"), cosineSim(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("qid"), col("cid"), col("rk"), round(col("cos"), 4).as("score"))
      .orderBy("qid", "rk")
  }, Some(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sig AS (SELECT vec_id, v,
      |          CAST(list_sum(list_transform(range(0, 16), i ->
      |            CASE WHEN list_sum(list_transform(range(0, 64), j ->
      |                   v[CAST(j + 1 AS INTEGER)] *
      |                   CASE WHEN ((i*1315423911 + j*2654435761) % 1000003) % 2 = 1
      |                        THEN 1.0 ELSE -1.0 END)) > 0
      |                 THEN 1 << i ELSE 0 END)) AS BIGINT) AS sg
      |        FROM c),
      |q AS (SELECT vec_id AS qid, v AS qv, sg AS qsg FROM sig WHERE vec_id < 10),
      |cand AS (SELECT qid, s.vec_id AS cid, list_cosine_similarity(qv, s.v) AS cos
      |         FROM q JOIN sig s ON s.vec_id <> qid
      |         WHERE bit_count(xor(s.sg, qsg)) <= 2),
      |r AS (SELECT qid, cid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |      FROM cand)
      |SELECT qid, cid, CAST(rk AS INTEGER) AS rk, round(cos, 4) AS score
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin))

  // -- q33: embedding near-dup pairs (cosine >= threshold) --------------
  // Exact all-pairs cosine is Θ(n²) comparisons by definition; the scale
  // question is DISTRIBUTION, not asymptotics. A `a_id < b_id` join
  // plans as BroadcastNestedLoopJoin — one copy of the whole corpus on
  // every executor and no key-partitioned parallelism. Instead: triangle
  // block decomposition — assign each vector to one of G groups by id
  // hash, materialize the G(G+1)/2 unordered group pairs as equi-join
  // keys, and compare only within each block pair. Every unordered
  // vector pair appears in exactly one block pair (cross blocks once by
  // construction; the diagonal filtered by id). Work is spread evenly
  // over G(G+1)/2 keys with ~ (n/G)² comparisons each, replication is
  // G+1 copies per row — a shuffled equi-join, no broadcast of the
  // corpus. An explicit guard caps corpus size: beyond it, exact
  // all-pairs is the wrong tool and the caller should use the LSH (q32)
  // / IVF (q37) candidate paths. The guard is IN the plan (a broadcast
  // scalar count checked by assert_true on every row), not an eager
  // count() at build time — merely planning q33 launches no job
  // (gated in PlanShapeSpec), and the one-row count subquery rides the
  // query's own action.
  val q33 = GraftQuery("q33_dedup_embed", (s, dir) => {
    val G = 16
    val MaxExactCorpus = 2000000L
    val c0 = corpus(s, dir)
    val guard = c0.agg(count(lit(1)).as("_corpus_n"))
    val g = c0.withColumn("g", pmod(hash(col("vec_id")), lit(G)))
    // Guard rides the `a` branch only (every vector appears there at
    // least once, since gj ranges g..G-1 ∋ g), so the plan carries ONE
    // 1-row scalar broadcast, not one per self-join side.
    val a = g.crossJoin(broadcast(guard))
      .where(assert_true(col("_corpus_n") <= MaxExactCorpus,
        lit(s"q33 exact all-pairs is O(n^2): corpus > $MaxExactCorpus; use LSH/IVF candidates")).isNull)
      .drop("_corpus_n")
      .withColumn("gj", explode(sequence(col("g"), lit(G - 1))))
      .select(col("g").as("gi"), col("gj"), col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = g.withColumn("gi", explode(sequence(lit(0), col("g"))))
      .select(col("gi"), col("g").as("gj"), col("vec_id").as("b_id"), col("v").as("b_v"))
    a.join(b, Seq("gi", "gj"))
      .where(col("gi") =!= col("gj") || col("a_id") < col("b_id"))
      .select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        cosineSim(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= 0.42)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("score"))
      .orderBy("a_id", "b_id")
  }, Some(
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_cosine_similarity(a.v, b.v), 4) AS score
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
      |ORDER BY a_id, b_id""".stripMargin))

  // -- q37: IVF ANN (inverted-file index, the 100 TB scale path) --------
  // Coarse quantizer: nlist deterministic seed centroids (vectors with
  // the smallest ids — a stand-in for k-means on a sample); every corpus
  // vector is assigned to its nearest centroid; each query probes the
  // nprobe nearest centroid lists only. Recall vs brute force asserted
  // in TextAndAnnSpec.

  /** Shared IVF search given driver-resident quantizer state (the FAISS
    * shape: the coarse quantizer lives with the index, not in the data
    * plane). Assignment and probe selection are map-only codegen kernels
    * (the centroid matrix rides into generated code as a reference
    * object), the tiny probe relation broadcasts, and candidates are
    * scored inside the join projection — so the only corpus-wide
    * exchange in the whole search is the final per-query top-k window
    * over narrow (qid, cid, cos) rows. The earlier dataflow formulation
    * (crossJoin(centroids) → max_by groupBy) re-shuffled every vector
    * NList times with the embedding array on every row: 6.5× slower at
    * 10× sf0.1. `cents` must be sorted by id ascending (kernel ties
    * break to the earliest entry = smallest id, matching the max_by /
    * row_number tie-break the oracle replays). */
  private def ivfSearch(c: DataFrame, cents: Array[(Long, Array[Double])],
      nprobe: Int): DataFrame = {
    import graft.functions.expr.SimilarityExpressions.{nearestCentroidId, probeCentroidIds}
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val assigned = c.select(col("vec_id"), col("v"),
      nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"))
    val probes = c.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(probeCentroidIds(col("v"), flat, ids, dim, nprobe)).as("cent_id"))
    // r19: the per-query head is the bounded-heap TopK aggregate (same
    // (cos DESC, cid ASC) order as the row_number window it replaces) —
    // the probed-list candidate stream is scanned and discarded, never
    // shuffled into ≤|queries| reducer partitions for a full sort.
    assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        cosineSim(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKDouble(5)(col("cid"), col("cos")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("rk"),
        round(col("e._2"), 4).as("score"))
      .orderBy("qid", "rk")
  }

  val q37 = GraftQuery("q37_ann_ivf", (s, dir) => {
    val NList = 16; val NProbe = 4
    val c = corpus(s, dir)
    // Quantizer bootstrap: NList rows to the driver (bounded by the
    // index parameter, never the corpus — the same driver-sized state
    // k-means training already holds for q37b).
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    ivfSearch(c, cents, NProbe)
  }, Some(
    // The whole IVF construction is deterministic (seed centroids,
    // argmax assignment with id tie-break, fixed probe count), so the
    // oracle replays it exactly: an oracle-checked ANN index, relying
    // on the q31-proven bit-equality of cosine across engines.
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT c.vec_id, c.v, cent_id,
      |          row_number() OVER (PARTITION BY c.vec_id
      |            ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS rk
      |        FROM c CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, v FROM asn WHERE rk = 1),
      |q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
      |pr AS (SELECT qid, qv, cent_id,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY list_cosine_similarity(qv, cent_v) DESC, cent_id) AS rk
      |       FROM q CROSS JOIN cent),
      |probes AS (SELECT qid, qv, cent_id FROM pr WHERE rk <= 4),
      |sc AS (SELECT p.qid, a.vec_id AS cid, list_cosine_similarity(p.qv, a.v) AS cos
      |       FROM probes p JOIN assigned a USING (cent_id)
      |       WHERE a.vec_id <> p.qid),
      |r AS (SELECT qid, cid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM sc)
      |SELECT qid, cid, CAST(rk AS INTEGER) AS rk, round(cos, 4) AS score
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin))

  // -- q37b: IVF with a TRAINED coarse quantizer (spherical k-means) ----
  // Same probe/search shape as q37, but the centroids are learned: a
  // deterministic sample is drawn to the driver and Lloyd-iterated with
  // cosine assignment and renormalized means (spherical k-means) — the
  // FAISS-style training path, where training cost depends on the
  // sample (driver-sized even at 100 TB), never the corpus. Float means
  // are order-sensitive, so the LISTS can't be value-hash mirrored in
  // SQL; instead the registry row emits a containment WITNESS the
  // oracle can compute exactly: the index's rank-1 answer per query.
  // If the true nearest neighbor is inside the probed lists (recall@1,
  // which TextAndAnnSpec tracks and this oracle now gates per-row),
  // exact-cosine ranking puts it at rank 1 under the same (cos DESC,
  // cid) tie-break as brute force — so rank-1-via-index equals
  // brute-force top-1, a plain DuckDB query. A miss surfaces as a
  // hash/row mismatch, making the driver row a real recall gate, not
  // rows-only. The full top-5 list stays available via
  // [[ivfKmeansTop5]] (recall-banded against q37 in TextAndAnnSpec).
  /** Driver-side spherical-k-means training. Deterministic under any
    * cluster shape: the sample is a TakeOrderedAndProject collect
    * (identical order at any partition count) and Lloyd accumulates
    * over it sequentially, so the centroids are a pure function of the
    * data — DeterminismSpec runs q37b/q102 with no exclusion. What
    * float Lloyd can NOT be is replayed bit-identically by another
    * engine, which is why the registry oracles gate the rank-1
    * WITNESS, not the lists. */
  private[graft] def kmeansCentroids(
      c: DataFrame, k: Int, iters: Int, sampleN: Int,
      init: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0) v else v.map(_ / n)
    }
    val sample = c.orderBy("vec_id").limit(sampleN).collect()
      .map(r => normalize(r.getSeq[Double](1).toArray))
    // init: caller-provided starting centroids (e.g. q127's drift-
    // triggered union reseed, Lloyd-refined here); default = first k
    // of the deterministic sample
    var cents = init.map(_.map(v => normalize(v.clone())))
      .getOrElse(sample.take(k).map(_.clone()))
    val dim = if (sample.nonEmpty) sample(0).length else 0
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * cents(ci)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = ci }
          ci += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { ci =>
        if (counts(ci) == 0) cents(ci) // empty cluster keeps its centroid
        else normalize(sums(ci).map(_ / counts(ci)))
      }
    }
    cents
  }

  private[graft] def ivfKmeansTop5(s: SparkSession, dir: String): DataFrame = {
    val NList = 16; val NProbe = 4
    val c = corpus(s, dir)
    val trained = kmeansCentroids(c, NList, iters = 8, sampleN = 2000)
    ivfSearch(c, trained.zipWithIndex.map { case (v, i) => (i.toLong, v) }, NProbe)
  }

  // -- q116: corpus clustering for mix/curriculum design ----------------
  // Partition the whole embedding corpus into NList cells (the
  // cluster-balanced-sampling / curriculum prep step) and report
  // per-cell composition. Assignment is the same map-only
  // NearestCentroidId kernel as q37 over DETERMINISTIC seed centroids,
  // so — unlike the probe-limited q37 oracle — this row replays the
  // kernel's argmax for EVERY corpus vector in DuckDB (a corpus-wide
  // bit-exactness gate on the kernel). One narrow shuffle: the
  // per-cell aggregate of (cent_id, vec_id, label) rows. Aggregates
  // are integer-exact (counts, id extrema) — no float-sum order
  // dependence cross-engine.
  val q116 = GraftQuery("q116_embed_clusters", (s, dir) => {
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16
    val c = corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val labeled = Tables(s, dir).embeddings.select(col("vec_id"), col("label"))
    c.select(col("vec_id"),
        nearestCentroidId(col("v"), cents.flatMap(_._2), cents.map(_._1),
          cents.head._2.length).as("cent_id"))
      .join(labeled, Seq("vec_id"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy("cent_id")
  }, Some(
    """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT c.vec_id, c.label, cent_id,
      |          row_number() OVER (PARTITION BY c.vec_id
      |            ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS rk
      |        FROM c CROSS JOIN cent)
      |SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
      |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
      |FROM asn WHERE rk = 1 GROUP BY cent_id ORDER BY cent_id""".stripMargin))

  private val bruteTop1Sql =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
      |sc AS (SELECT qid, c.vec_id AS cid, list_cosine_similarity(qv, c.v) AS cos
      |       FROM q CROSS JOIN c WHERE c.vec_id <> qid),
      |r AS (SELECT qid, cid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM sc)
      |SELECT qid, cid, round(cos, 4) AS score FROM r WHERE rk = 1 ORDER BY qid""".stripMargin

  val q37b = GraftQuery("q37b_ann_ivf_kmeans", (s, dir) =>
    ivfKmeansTop5(s, dir).where(col("rk") === 1)
      .select(col("qid"), col("cid"), col("score")).orderBy("qid"),
    Some(bruteTop1Sql))

  // -- q102: product-quantization ANN (ADC + exact re-rank) -------------
  // The memory-bound 100 TB ANN technique (Jégou/Douze/Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  // vector into M subvectors, k-means each subspace into K codewords,
  // store vectors as M small codes (here 8×4 bits — 32× smaller than
  // the float vector). Queries never touch raw corpus vectors until
  // re-rank: a per-query distance table (M×K entries, broadcast) scores
  // candidates by Asymmetric Distance Computation — sum over segments
  // of table[seg, code] — then only the ADC top-256 are re-ranked with
  // exact cosine (256 sized so the shortlist keeps the true nearest
  // neighbor with ~2x margin over its worst observed ADC rank across
  // the test corpora). Codebook training is driver-side Lloyd on a
  // deterministic sample (cost independent of corpus size). Float
  // k-means makes the lists unmirrorable in SQL, so — like q37b — the
  // registry row emits the rank-1-via-index witness against the exact
  // brute-force top-1 oracle: green iff the ADC shortlist kept the
  // true neighbor for every query. Full top-5 via [[pqTop5]]
  // (recall-banded in TextAndAnnSpec).
  private def lloydL2(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty)
    val dim = points(0).length
    var cents = points.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < cents.length) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(ci)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { ci =>
        if (counts(ci) == 0) cents(ci) else sums(ci).map(_ / counts(ci))
      }
    }
    cents
  }

  private[graft] def pqTop5(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expr.PqExpressions.{pqAdc, pqDistTable, pqEncode}
    import s.implicits._
    val M = 8; val SubDim = 8; val K = 16; val TopCand = 256
    val c = corpus(s, dir)
    val sample = c.orderBy("vec_id").limit(2000).collect()
      .map(_.getSeq[Double](1).toArray)
    // flat [seg][code][dim] codebook + per-codeword squared norms —
    // a few KB, shipped into codegen as reference objects
    val cbFlat = new Array[Double](M * K * SubDim)
    val cbNorms = new Array[Double](M * K)
    (0 until M).foreach { seg =>
      val sub = sample.map(v => v.slice(seg * SubDim, (seg + 1) * SubDim))
      lloydL2(sub, K, iters = 8).zipWithIndex.foreach { case (cw, k) =>
        System.arraycopy(cw, 0, cbFlat, (seg * K + k) * SubDim, SubDim)
        cbNorms(seg * K + k) = cw.map(x => x * x).sum
      }
    }
    // encode: all M nearest-codeword argmins in ONE codegen call per
    // vector (argmin L2 = argmax 2·dot − |cw|², ties to smaller code) —
    // map-only, no Generate/shuffle; the old posexplode→broadcast-join→
    // max_by dataflow built an M·K-row intermediate per vector
    val codes = c.select(col("vec_id"),
      pqEncode(col("v"), cbFlat, cbNorms, M, K, SubDim).as("codes"))
    // per-query ADC tables: M×K partial distances in one call per query
    // (constant |qsub|² omitted — it shifts every candidate equally)
    val q = c.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val dts = q.select(col("qid"),
      pqDistTable(col("qv"), cbFlat, cbNorms, M, K, SubDim).as("dt"))
    // ADC scoring: corpus codes × broadcast 10-query tables, one M-add
    // table-lookup kernel per (vector, query) — no shuffle until top-k
    val adc = codes.crossJoin(broadcast(dts))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc(col("codes"), col("dt"), K).as("adc"))
    // r19: both heads ride the bounded-heap TopK aggregate instead of
    // row_number windows. The shortlist head was the scale-killer: a
    // |corpus|×|queries| ADC-row shuffle into ≤|queries| reducer
    // partitions with a full per-query sort; bottomKDouble keeps the
    // (adc ASC, vec_id ASC) order of the window it replaces and ships
    // only 256-row partials. Candidate order is immaterial (the set is
    // re-ranked exactly below).
    val cand = adc.groupBy("qid")
      .agg(graft.functions.TopK.bottomKDouble(TopCand)(col("vec_id"), col("adc")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e._1").as("vec_id"))
    cand.join(c, Seq("vec_id")).join(q, Seq("qid"))
      .select(col("qid"), col("vec_id").as("cid"), cosineSim(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKDouble(5)(col("cid"), col("cos")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"), (col("pos") + 1).as("rk"),
        round(col("e._2"), 4).as("score"))
      .orderBy("qid", "rk")
  }

  val q102 = GraftQuery("q102_ann_pq", (s, dir) =>
    pqTop5(s, dir).where(col("rk") === 1)
      .select(col("qid"), col("cid"), col("score")).orderBy("qid"),
    Some(bruteTop1Sql))

  // -- q34: approximate distinct counting (mirrorable HyperLogLog) ------
  // A from-scratch HLL (Flajolet et al. 2007) built so the ORACLE can
  // replay it bit-for-bit — unlike engine sketches (Spark HLL++ vs
  // DuckDB's), whose hash and bias tables differ by design. m=256
  // registers keyed by the top 8 bits of the shared 60-bit md5 hash;
  // rho = leading-zero rank of the remaining 52 bits via length(bin(v))
  // (minimal-length binary in BOTH engines). The harmonic sum is kept
  // in INTEGER space scaled by 2^53 (each register term 2^(53-rho) is
  // an exact bigint; bigint addition is order-independent, unlike the
  // float 2^-rho sum), so the only float op is one identically-
  // parenthesized division at the end — bit-identical cross-engine.
  // Raw HLL estimator only (no small-range linear counting, which
  // needs ln() — libm-dependent): valid for n ≳ 2.5m = 640 distinct,
  // which holds for every group at the verify SF and above; accuracy
  // (~1.04/√m ≈ 6.5% std error) asserted against the exact count in
  // SketchSpec. Shuffle cost: the register agg is partial+final on
  // (group, reg) — at most m rows per group reach the reducer no
  // matter the corpus size, the same mergeability Spark's own sketch
  // has. Spark's built-in HLL++ (mergeable across persisted sketches)
  // remains covered by SketchSpec.
  val q34 = GraftQuery("q34_approx_distinct", (s, dir) => {
    import graft.QueryDsl.crossHash60
    val li = Tables(s, dir).lineitem
    val regs = li
      .select(col("l_returnflag"), crossHash60(col("l_partkey")).as("h"))
      .select(col("l_returnflag"),
        shiftright(col("h"), 52).as("reg"),
        col("h").bitwiseAND(lit((1L << 52) - 1)).as("v"))
      .withColumn("rho",
        when(col("v") === 0, lit(53)).otherwise(lit(53) - length(bin(col("v")))))
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(max(col("rho")).as("mr"))
    val sketch = regs.groupBy("l_returnflag")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mr)")).as("sp"),
        count(lit(1)).as("nreg"))
      .select(col("l_returnflag"),
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
          lit(9007199254740992.0) /
          (col("sp") + (lit(256L) - col("nreg")) * lit(1L << 53)).cast(DoubleType), 4)
          .as("approx_parts"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sketch.join(exact, Seq("l_returnflag")).orderBy("l_returnflag")
  }, Some(
    """WITH h AS (SELECT l_returnflag,
      |             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |           FROM lineitem),
      |r AS (SELECT l_returnflag, h >> 52 AS reg,
      |        CASE WHEN (h & 4503599627370495) = 0 THEN 53
      |             ELSE 53 - length(bin(h & 4503599627370495)) END AS rho
      |      FROM h),
      |m AS (SELECT l_returnflag, reg, max(rho) AS mr FROM r GROUP BY 1, 2),
      |s AS (SELECT l_returnflag,
      |        CAST(sum(1::BIGINT << CAST(53 - mr AS INTEGER)) AS BIGINT) AS sp,
      |        count(*) AS nreg
      |      FROM m GROUP BY 1),
      |e AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts FROM lineitem GROUP BY 1)
      |SELECT s.l_returnflag,
      |       round(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
      |             * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE /
      |             CAST(sp + (256 - nreg) * 9007199254740992 AS DOUBLE), 4) AS approx_parts,
      |       exact_parts
      |FROM s JOIN e USING (l_returnflag) ORDER BY l_returnflag""".stripMargin))

  // -- q122: IVF-routed SQ8 search (the composed serving index) ---------
  // q37's coarse quantizer routes, q119's int8 codes score — the
  // IVF-SQ composition faiss ships as its default large-scale index:
  // the probe bounds WHICH vectors are scanned (nprobe/nlist of the
  // corpus), the codes bound the BYTES per scanned vector (4× under
  // float32). One map-only pass computes cell + code per vector (the
  // SQ stats row and the centroid matrix both ride into the
  // projection — broadcast + codegen reference object); candidates
  // are an equi-join on the cell id; scores are integer dot products,
  // so — like q121 and unlike every float index — the ORACLE REPLAYS
  // THE WHOLE INDEX EXACTLY: deterministic seed centroids (the
  // q37-proven bit-equal cosine), floor-based codes, integer ranking
  // with cid tie-break. Full top-5 check, no recall proxy.
  val q122 = GraftQuery("q122_ann_ivf_sq8", (s, dir) => {
    import graft.functions.expr.SimilarityExpressions.{nearestCentroidId, probeCentroidIds}
    val NList = 16; val NProbe = 4
    val c = corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    // the 1-row stats relation feeds both the corpus and the query
    // encode; it is one fold aggregate, and persisting it measured no
    // faster: warmed at sf0.1 on 4 cores, 1.18 s with against 1.16 s
    // without (medians of 10 interleaved pairs; with faster in 5/10)
    val st = broadcast(Curation5.sqStats(s, dir))
    // one corpus pass: cell assignment + int8 encode in the same
    // map-only projection; the embedding is dropped right here
    val assigned = c.crossJoin(st)
      .select(col("vec_id"),
        nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"),
        Curation5.sqCode(col("v")).as("q"))
    val probes = c.where(col("vec_id") < 10).crossJoin(st)
      .select(col("vec_id").as("qid"), Curation5.sqCode(col("v")).as("qc"),
        explode(probeCentroidIds(col("v"), flat, ids, dim, NProbe)).as("cent_id"))
    // codegen-native integer dot — exact twin of the HOF fold it replaces
    val dot = graft.functions.expr.SimilarityExpressions.dotLong(col("qc"), col("q"))
    // r19: bounded-heap top-5 (TopK.topKLong — the q102/q129 head) in
    // place of the row_number window: the window hash-shuffled every
    // scored candidate into ≤|queries| reducers and sorted each
    // query's full candidate set on one task; the heap ships ≤5-row
    // partials per task. (dot DESC, cid ASC) ordering is the window's,
    // pinned by TopKSpec; rk = pos + 1 reproduces row_number exactly.
    assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot.as("dot"))
      .groupBy("qid")
      .agg(graft.functions.TopK.topKLong(5)(col("cid"), col("dot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), col("e._1").as("cid"),
        (col("pos") + 1).cast("int").as("rk"), col("e._2").as("dot"))
      .orderBy("qid", "rk")
  }, Some(
    s"""${Curation5.SqCtes},
      |cfull AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, qv.q
      |          FROM embeddings e JOIN qv USING (vec_id)),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM cfull ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT f.vec_id, f.q, cent_id,
      |          row_number() OVER (PARTITION BY f.vec_id
      |            ORDER BY list_cosine_similarity(f.v, cent_v) DESC, cent_id) AS rk
      |        FROM cfull f CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, q FROM asn WHERE rk = 1),
      |queries AS (SELECT vec_id AS qid, v AS qvec, q AS qc FROM cfull WHERE vec_id < 10),
      |pr AS (SELECT qid, qc, cent_id,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY list_cosine_similarity(qvec, cent_v) DESC, cent_id) AS rk
      |       FROM queries CROSS JOIN cent),
      |probes AS (SELECT qid, qc, cent_id FROM pr WHERE rk <= 4),
      |sc AS (SELECT p.qid, a.vec_id AS cid,
      |         CAST(list_aggregate(list_transform(range(1, len(p.qc) + 1),
      |                i -> p.qc[i] * a.q[i]), 'sum') AS BIGINT) AS dot
      |       FROM probes p JOIN assigned a USING (cent_id)
      |       WHERE a.vec_id <> p.qid),
      |r AS (SELECT qid, cid, dot,
      |        row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rk FROM sc)
      |SELECT qid, cid, CAST(rk AS INTEGER) AS rk, dot
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin))

  // -- q124: incremental IVF ingest + drift (live-index maintenance) ----
  // The embeddings-side twin of q114's incremental-ingest pattern: a
  // live ANN index never re-trains per batch — the coarse quantizer is
  // FROZEN on the base corpus, the incoming batch (a deterministic
  // hash slice, the q114 split) is assigned to existing cells by the
  // same map-only kernel, and the per-cell occupancy comparison is the
  // retrain signal (a drifting batch piles into cells the base left
  // sparse, degrading probe recall — faiss's add-vs-train operational
  // split). One corpus pass: conditional base/batch counts partial-
  // aggregate into an nlist-row relation; totals ride back as a 1-row
  // broadcast; drift = |batch_share − base_share| per cell is two
  // exact integer divisions and one subtraction — deterministic, so
  // the oracle replays the whole maintenance report.
  val q124 = GraftQuery("q124_ivf_ingest", (s, dir) => {
    import graft.QueryDsl.crossHash60
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16
    val c = corpus(s, dir)
      .withColumn("is_batch", pmod(crossHash60(col("vec_id")), lit(5)) === 0)
    // quantizer trains on the BASE slice only (the batch must not
    // shift the cells it is being measured against)
    val cents = c.where(!col("is_batch")).orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val counts = c
      .select(nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"), col("is_batch"))
      .groupBy("cent_id")
      .agg(sum(when(col("is_batch"), 0L).otherwise(1L)).as("base_n"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("batch_n"))
    val totals = counts.agg(sum(col("base_n")).as("base_t"), sum(col("batch_n")).as("batch_t"))
    counts.crossJoin(broadcast(totals))
      .select(col("cent_id"), col("base_n"), col("batch_n"),
        abs(col("batch_n").cast("double") / col("batch_t").cast("double") -
          col("base_n").cast("double") / col("base_t").cast("double")).as("drift"))
      .orderBy("cent_id")
  }, Some(
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |            ${graft.QueryDsl.crossHash60Sql("vec_id")} % 5 = 0 AS is_batch
      |          FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c
      |         WHERE NOT is_batch ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT c.vec_id, c.is_batch, cent_id,
      |          row_number() OVER (PARTITION BY c.vec_id
      |            ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS rk
      |        FROM c CROSS JOIN cent),
      |counts AS (SELECT cent_id,
      |             CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS base_n,
      |             CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS batch_n
      |           FROM asn WHERE rk = 1 GROUP BY cent_id),
      |t AS (SELECT CAST(SUM(base_n) AS BIGINT) AS base_t,
      |             CAST(SUM(batch_n) AS BIGINT) AS batch_t FROM counts)
      |SELECT cent_id, base_n, batch_n,
      |  abs(CAST(batch_n AS DOUBLE) / CAST(batch_t AS DOUBLE)
      |    - CAST(base_n AS DOUBLE) / CAST(base_t AS DOUBLE)) AS drift
      |FROM counts CROSS JOIN t ORDER BY cent_id""".stripMargin))

  // -- q127: IVF retrain-and-swap (the loop q124's drift signal closes) -
  // q124 reports drift; this ACTS on it — the index-maintenance
  // decision a live ANN service runs: if the worst per-cell drift
  // exceeds the retrain threshold, re-seed the coarse quantizer over
  // the UNION corpus (base + ingested batch) and emit the new index's
  // occupancy beside the old one — the swap report an operator reviews
  // (and an automated swap consumes) before flipping serving traffic.
  //
  // Exactness over float Lloyd: a mean-update step is order-dependent
  // float arithmetic DuckDB cannot replay bit-identically (the q37b
  // lesson), so the GATED retrain is the deterministic reseed — per
  // hash slot, the union vector with the smallest (crossHash60, vec_id)
  // becomes a seed, so batch vectors are eligible and the new quantizer
  // is a pure function of the data. Lloyd REFINEMENT of these seeds
  // stays available via [[kmeansCentroids]] (recall-banded in specs,
  // like q37b/q102). Everything gated is exact: assignment argmax is
  // the bit-equal cosine kernel (q116-proven), occupancies are integer
  // counts, the trigger compares a round(6) drift maximum computed by
  // the same IEEE chain in both engines.
  //
  // Scale shape: two corpus passes (old-assign, new-assign), both
  // map-only kernel projections into nlist-sized aggregates; seeds are
  // a slot-wise struct-min aggregate (map-side partials, 16-row
  // result); the trigger is a 1-row scalar. Driver state = 2×NList
  // centroid rows + one drift maximum — bounded at any corpus size.
  val q127 = GraftQuery("q127_ivf_retrain_swap", (s, dir) => {
    import graft.QueryDsl.crossHash60
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16; val DriftT = 0.05
    val c = QueryScope.persist(corpus(s, dir)
      .withColumn("is_batch", pmod(crossHash60(col("vec_id")), lit(5)) === 0))
    val oldCents = c.where(!col("is_batch")).orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dim = oldCents.head._2.length
    // ONE corpus pass produces the nlist-row per-cell counts; drift,
    // the trigger, and the old-index occupancy report all derive from
    // the collected rows driver-side (bounded: nlist) — no second scan
    // for the report, no scalar-broadcast round trip for the trigger.
    val counts = c.select(col("vec_id"), col("is_batch"),
        nearestCentroidId(col("v"), oldCents.flatMap(_._2), oldCents.map(_._1), dim)
          .as("cent_id"))
      .groupBy("cent_id")
      .agg(sum(when(col("is_batch"), 0L).otherwise(1L)).as("base_n"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("batch_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val baseT = counts.map(_._2).sum.toDouble
    val batchT = counts.map(_._3).sum.toDouble
    // same IEEE chain as the oracle (two exact integer-ratio divisions,
    // one subtraction), same HALF_UP 6-decimal rounding as round(x, 6)
    val rawDrift =
      if (batchT == 0.0 || baseT == 0.0) 0.0 // empty slice: nothing to compare
      else counts.foldLeft(0.0) { case (m, (_, bn, in)) =>
        math.max(m, math.abs(in / batchT - bn / baseT))
      }
    val maxDrift =
      BigDecimal(rawDrift).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val retrained = maxDrift > DriftT
    import s.implicits._
    val oldRep = counts.map { case (cid, bn, in) => ("old", cid, bn + in) }.toSeq
      .toDF("side", "cent_id", "n_vecs")
    val report =
      if (!retrained) oldRep
      else {
        // deterministic union reseed: per hash slot, argmin (h, vec_id)
        val seedIds = c
          .select(col("vec_id"), crossHash60(col("vec_id")).as("h"))
          .withColumn("slot", pmod(col("h"), lit(NList)))
          .groupBy("slot")
          .agg(min(struct(col("h"), col("vec_id"))).as("m"))
          .select(col("m.vec_id").as("vec_id"))
        val newCents = c.join(seedIds, Seq("vec_id")).orderBy("vec_id").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val newRep = c.select(col("vec_id"),
            nearestCentroidId(col("v"), newCents.flatMap(_._2), newCents.map(_._1), dim)
              .as("cent_id"))
          .groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
          .select(lit("new").as("side"), col("cent_id"), col("n_vecs"))
        oldRep.unionAll(newRep)
      }
    report
      .withColumn("max_drift", lit(maxDrift))
      .withColumn("retrained", lit(retrained))
      .orderBy(col("side").desc, col("cent_id"))
  }, Some(
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |            ${graft.QueryDsl.crossHash60Sql("vec_id")} % 5 = 0 AS is_batch,
      |            ${graft.QueryDsl.crossHash60Sql("vec_id")} AS h
      |          FROM embeddings),
      |oldcent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c
      |            WHERE NOT is_batch ORDER BY vec_id LIMIT 16),
      |oasn AS (SELECT vec_id, is_batch, cent_id FROM (
      |           SELECT c.vec_id, c.is_batch, cent_id,
      |             row_number() OVER (PARTITION BY c.vec_id
      |               ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS rk
      |           FROM c CROSS JOIN oldcent) WHERE rk = 1),
      |counts AS (SELECT cent_id,
      |             CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS base_n,
      |             CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS batch_n
      |           FROM oasn GROUP BY cent_id),
      |t AS (SELECT CAST(SUM(base_n) AS BIGINT) AS base_t,
      |             CAST(SUM(batch_n) AS BIGINT) AS batch_t FROM counts),
      |md AS (SELECT round(max(abs(CAST(batch_n AS DOUBLE) / CAST(batch_t AS DOUBLE)
      |              - CAST(base_n AS DOUBLE) / CAST(base_t AS DOUBLE))), 6) AS max_drift
      |       FROM counts CROSS JOIN t),
      |seed AS (SELECT vec_id FROM (
      |           SELECT vec_id, row_number() OVER (PARTITION BY h % 16
      |             ORDER BY h, vec_id) AS rk FROM c) WHERE rk = 1),
      |newcent AS (SELECT c.vec_id AS cent_id, c.v AS cent_v
      |            FROM c JOIN seed ON c.vec_id = seed.vec_id),
      |nasn AS (SELECT vec_id, cent_id FROM (
      |           SELECT c.vec_id, cent_id,
      |             row_number() OVER (PARTITION BY c.vec_id
      |               ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS rk
      |           FROM c CROSS JOIN newcent) WHERE rk = 1),
      |oldrep AS (SELECT 'old' AS side, cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |           FROM oasn GROUP BY cent_id),
      |newrep AS (SELECT 'new' AS side, cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |           FROM nasn GROUP BY cent_id),
      |rep AS (SELECT * FROM oldrep
      |        UNION ALL
      |        SELECT * FROM newrep WHERE (SELECT max_drift FROM md) > 0.05)
      |SELECT side, cent_id, n_vecs,
      |  (SELECT max_drift FROM md) AS max_drift,
      |  (SELECT max_drift > 0.05 FROM md) AS retrained
      |FROM rep ORDER BY side DESC, cent_id""".stripMargin))

  // -- q134: per-cluster exemplar selection (prototype mining) ----------
  // The coreset/prototype stage of embedding-space curation (the
  // "SSL prototypes" filter of Sorscher et al. 2022, DataComp-style
  // cluster-based filtering): within each quantizer cell, the k vectors
  // MOST similar to their cell centroid are the cell's exemplars —
  // the representatives used for curriculum seeding, cluster labeling,
  // and prototypicality-based pruning (a vector far from every
  // exemplar is the outlier such filters drop).
  //
  // Plan shape: q116's map-only NearestCentroidId assignment over the
  // same deterministic seed centroids, one broadcast equi-join to fetch
  // the assigned centroid vector (16 rows), then the bounded-heap
  // TopK head per cell — per-(partition, cell) k-heaps merged map-side,
  // so the corpus is scanned and DISCARDED, never sorted per cell (a
  // per-cell row_number window would drag every vector into NList
  // reducers — the exact shape the brute-ANN heads abandoned). The
  // oracle replays assignment AND ranking with DuckDB's
  // list_cosine_similarity (bit-equal to the kernel, q116-proven).
  val q134 = GraftQuery("q134_cell_exemplars", (s, dir) => {
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16; val K = 8
    val c = corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val centDf = {
      import s.implicits._
      cents.toSeq.toDF("cent_id", "cent_v")
    }
    c.select(col("vec_id"), col("v"),
        nearestCentroidId(col("v"), cents.flatMap(_._2), cents.map(_._1),
          cents.head._2.length).as("cent_id"))
      .join(broadcast(centDf), Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), cosineSim(col("v"), col("cent_v")).as("cos"))
      .groupBy("cent_id")
      .agg(graft.functions.TopK.topKDouble(K)(col("vec_id"), col("cos")).as("top"))
      .select(col("cent_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("cent_id"), (col("pos") + 1).as("rank"),
        col("e._1").as("vec_id"), round(col("e._2"), 4).as("score"))
      .orderBy("cent_id", "rank")
  }, Some(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM c ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT c.vec_id, cent_id, cent_v, c.v,
      |          row_number() OVER (PARTITION BY c.vec_id
      |            ORDER BY list_cosine_similarity(c.v, cent_v) DESC, cent_id) AS ark
      |        FROM c CROSS JOIN cent),
      |r AS (SELECT cent_id, vec_id, list_cosine_similarity(v, cent_v) AS cos,
      |        row_number() OVER (PARTITION BY cent_id
      |          ORDER BY list_cosine_similarity(v, cent_v) DESC, vec_id) AS rank
      |      FROM asn WHERE ark = 1)
      |SELECT cent_id, CAST(rank AS INTEGER) AS rank, vec_id, round(cos, 4) AS score
      |FROM r WHERE rank <= 8 ORDER BY cent_id, rank""".stripMargin))

  // -- q140: per-cell embedding OUTLIER report (SQ8 integer) ------------
  // The pruning complement of q134's exemplars: within each quantizer
  // cell, the k vectors LEAST aligned with their own centroid are the
  // outlier candidates — what prototypicality filters drop, what drift
  // triage inspects first, and what a mislabel audit samples. Alignment
  // is the SQ8 integer dot of the vector's code with its centroid's
  // code, so — unlike q134's float cosine — every score is an exact
  // BIGINT and the oracle replays the WHOLE report (assignment, codes,
  // ranking, tie-breaks) bit-for-bit.
  //
  // Plan shape: one corpus pass computes cell + code map-only (q122's
  // kernel projection); centroid codes are a 16-row broadcast; the
  // bottom-k head rides the bounded-heap TopK aggregator on the
  // NEGATED score (best-k of −align ≡ worst-k of align, ties to the
  // smaller vec_id both ways) — the corpus is scanned and discarded,
  // never sorted per cell.
  val q140 = GraftQuery("q140_cell_outliers", (s, dir) => {
    import graft.functions.expr.SimilarityExpressions.nearestCentroidId
    val NList = 16; val K = 3
    val c = corpus(s, dir)
    val cents = c.orderBy("vec_id").limit(NList).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2)
    val dim = cents.head._2.length
    val st = broadcast(QueryScope.persist(Curation5.sqStats(s, dir)))
    val assigned = c.crossJoin(st)
      .select(col("vec_id"),
        nearestCentroidId(col("v"), flat, ids, dim).as("cent_id"),
        Curation5.sqCode(col("v")).as("q"))
    val centCodes = c.where(col("vec_id").isin(ids.toIndexedSeq: _*)).crossJoin(st)
      .select(col("vec_id").as("cent_id"), Curation5.sqCode(col("v")).as("cq"))
    // codegen-native integer dot — exact twin of the HOF fold it replaces
    val align = graft.functions.expr.SimilarityExpressions.dotLong(col("q"), col("cq"))
    assigned.join(broadcast(centCodes), Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), align.as("align"))
      .groupBy("cent_id")
      .agg(graft.functions.TopK.topKLong(K)(col("vec_id"), -col("align")).as("top"))
      .select(col("cent_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("cent_id"), col("e._1").as("vec_id"), (col("pos") + 1).as("rk"),
        (-col("e._2")).as("align"))
      .orderBy("cent_id", "rk")
  }, Some(
    s"""${Curation5.SqCtes},
      |cfull AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, qv.q
      |          FROM embeddings e JOIN qv USING (vec_id)),
      |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM cfull ORDER BY vec_id LIMIT 16),
      |asn AS (SELECT f.vec_id, f.q, cent_id,
      |          row_number() OVER (PARTITION BY f.vec_id
      |            ORDER BY list_cosine_similarity(f.v, cent_v) DESC, cent_id) AS rk
      |        FROM cfull f CROSS JOIN cent),
      |assigned AS (SELECT cent_id, vec_id, q FROM asn WHERE rk = 1),
      |cc AS (SELECT f.vec_id AS cent_id, f.q AS cq FROM cfull f
      |       WHERE f.vec_id IN (SELECT cent_id FROM cent)),
      |al AS (SELECT a.cent_id, a.vec_id,
      |         CAST(list_aggregate(list_transform(range(1, len(a.q) + 1),
      |                i -> a.q[i] * cc.cq[i]), 'sum') AS BIGINT) AS align
      |       FROM assigned a JOIN cc USING (cent_id)),
      |r AS (SELECT cent_id, vec_id, align,
      |        row_number() OVER (PARTITION BY cent_id
      |          ORDER BY align, vec_id) AS rk FROM al)
      |SELECT cent_id, vec_id, CAST(rk AS INTEGER) AS rk, align
      |FROM r WHERE rk <= 3 ORDER BY cent_id, rk""".stripMargin))

  val all: Seq[GraftQuery] =
    Seq(q31, q32, q33, q34, q37, q37b, q102, q116, q122, q124, q127, q134, q140)
}

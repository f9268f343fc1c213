package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import StreamingSubstringGate.{DocArrival, SubstringHit}

/** S-invariance for the bounded streaming gates (S=4 ≡ S=1, as
  * BloomShardSpec checks for q114's sharded bloom): sharding exists so the per-JVM
  * state bounds (`maxGrams`, `maxNodesPerShard`) become per-SHARD
  * bounds — S parallel gates on S hosts multiply capacity — and that
  * is only sound if the union of the shard outputs is exactly the
  * unsharded output. These specs pin the exactness and that the
  * per-shard bound genuinely extends capacity past the S=1 bound.
  */
class ShardedGateSpec extends SparkSpecBase {
  import spark.implicits._

  // -- StreamingSubstringGate: gram-hash range sharding -------------------

  private def runShard(docs: Seq[Seq[DocArrival]], L: Int,
      shard: Int, shards: Int): Seq[SubstringHit] = {
    val name = s"substr_shard_${shard}_of_${shards}_${System.nanoTime()}"
    val input = MemoryStream[DocArrival](spark, 4)
    val q = StreamingSubstringGate.hits(input.toDS(), L, shard = shard, shards = shards)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      docs.foreach { c => input.addData(c); q.processAllAvailable() }
      spark.table(name).as[SubstringHit].collect().toSeq
    } finally q.stop()
  }

  test("substring gate: union of S=4 shard gates is row-identical to S=1") {
    // corpus with cross-doc, intra-doc, and triple-copy duplication so
    // every emission kind (direct hit, correction, third copy) appears —
    // plus 16 independent duplicated spans so the duplicated-gram set is
    // large enough to provably straddle shards (a 2-gram corpus can
    // legitimately land all its traffic in one of 4 hash ranges)
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val other = (1 to 6).map(i => s"t$i").mkString(" ")
    val spans = (0 until 16).map(k => (1 to 6).map(i => s"w${k}_$i").mkString(" "))
    val docs = Seq(
      DocArrival(1L, "web", s"a1 a2 $shared a3", 1L),
      DocArrival(2L, "web", s"b1 $other b2 b3", 2L),
      DocArrival(3L, "news", s"c1 $shared c2 $other", 3L),
      DocArrival(4L, "web", s"$shared d1 d2", 4L),
      DocArrival(5L, "web", s"e1 $shared e2 $shared", 5L)) ++
      spans.zipWithIndex.flatMap { case (sp, k) =>
        Seq(DocArrival(10L + k, "web", s"p$k $sp", 10L + k),
          DocArrival(40L + k, "news", s"$sp q$k", 40L + k))
      }
    val L = 6
    val chunks = docs.grouped(7).toSeq
    val single = runShard(chunks, L, 0, 1)
    val S = 4
    val perShard = (0 until S).map(s => runShard(chunks, L, s, S))
    val sharded = perShard.flatten
    // exact multiset equality: every hit row (incl. corrected flags and
    // seq) appears identically — each gram's history lives in ONE shard
    assert(single.nonEmpty, "degenerate corpus: no hits")
    assert(sharded.groupBy(identity).view.mapValues(_.size).toMap ==
      single.groupBy(identity).view.mapValues(_.size).toMap,
      s"S=$S union differs from S=1:\n single=$single\n sharded=$sharded")
    // and the shards genuinely split the work: 18 distinct duplicated
    // grams cannot all share one of 4 hash ranges (fixed 60-bit hashes)
    val active = perShard.count(_.nonEmpty)
    assert(active >= 2, s"all gram traffic fell into $active shard(s)")
  }

  // -- ShardedClusterIndex: pair-routed union-find sharding ---------------

  test("cluster index: S=4 sharded labels equal S=1 labels on a real pair log") {
    val pairs = graft.queries.Dedup.allPairsJaccard(spark, sfDir, 0.5)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "test corpus has no dup pairs")
    val single = new LiveClusterIndex
    val sharded = new ShardedClusterIndex(4)
    val chunks = pairs.grouped(math.max(pairs.size / 3, 1)).toSeq
    chunks.foreach { c =>
      val df = spark.createDataset(c).toDF("a_id", "b_id")
      single.merge(df); sharded.merge(df)
    }
    assert(sharded.labels == single.labels)
    // replay idempotence survives sharding (deterministic routing)
    sharded.merge(spark.createDataset(chunks.head).toDF("a_id", "b_id"))
    assert(sharded.labels == single.labels)
    assert(sharded.shardSizes.count(_ > 0L) >= 2,
      s"all pair traffic fell into one shard: ${sharded.shardSizes}")
  }

  test("cluster index: per-shard bound extends capacity past the S=1 bound") {
    // 8 distinct nodes across 4 pairs; bound of 6 nodes per structure.
    // S=1 overflows; S=4 fits because no shard sees more than 6.
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
    val df = spark.createDataset(pairs).toDF("a_id", "b_id")
    val single = new LiveClusterIndex(maxNodes = 6)
    val err = intercept[IllegalStateException](single.merge(df))
    assert(err.getMessage.contains("bound exceeded"))
    val sharded = new ShardedClusterIndex(4, maxNodesPerShard = 6)
    sharded.merge(df) // must not throw
    assert(sharded.labels ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L,
        7L -> 7L, 8L -> 7L))
    assert(sharded.shardSizes.forall(_ <= 6L),
      s"a shard exceeded its bound: ${sharded.shardSizes}")
  }
}

package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The in-row bloom span prefilter (graft_bloom_filter_spans, r19) must
  * keep EXACTLY the elements the interpreted ArrayFilter lambda kept —
  * same xxhash64(seed 42) probe hash, same pmod shard routing, same
  * element order — for both the single-sketch (q114, streaming ingest)
  * and sharded (`Curation4.bloomIncrement` with shards > 1) paths. The candidate set feeds
  * an exact confirm join, so a false NEGATIVE here (an element the
  * lambda kept but the kernel dropped) is a correctness break, not an
  * fp-rate shift. */
class BloomKernelParitySpec extends SparkSpecBase {
  import graft.functions.expr.BloomExpressions.{bloomFilterSpans, bloomMightContainLong}
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def word(): String = {
    val ws = Seq("join", "window", "stream", "hash", "vector", "scan", "alpha",
      "beta", "gamma", "delta", "epsilon", "zeta")
    Seq.fill(8)(ws(rng.nextInt(ws.length))).mkString(" ")
  }

  private def buildBloom(spans: Seq[String]): BloomFilter = {
    val bf = BloomFilter.create(math.max(spans.size.toLong, 1000L), 0.01)
    spans.foreach { sp =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sp)
      bf.putLong(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    }
    bf
  }

  /** The replaced single-sketch formulation, verbatim from r18 q114. */
  private def hofSingle(arr: Column, bf: BloomFilter): Column =
    filter(arr, sp => bloomMightContainLong(xxhash64(sp), bf))

  /** The replaced sharded formulation, verbatim from r18 bloomIncrement. */
  private def hofSharded(arr: Column, blooms: Array[BloomFilter]): Column =
    filter(arr, sp => blooms.zipWithIndex.map { case (bf, sh) =>
      pmod(xxhash64(sp), lit(blooms.length)) === sh &&
        bloomMightContainLong(xxhash64(sp), bf)
    }.reduce(_ || _))

  test("single sketch: kernel keeps exactly what the ArrayFilter lambda keeps, in order") {
    val base = (1 to 400).map(_ => word())
    val bf = buildBloom(base)
    val rows = (1 to 200).map { i =>
      // mix of indexed spans (must be kept) and fresh spans (kept only
      // on an fp — either way both formulations must agree)
      (i.toLong, Seq.fill(10)(if (rng.nextBoolean()) base(rng.nextInt(base.size)) else word()))
    }
    val df = rows.toDF("doc_id", "_sp")
    val diffs = df.select(
        bloomFilterSpans(col("_sp"), Array(bf)).as("k"),
        hofSingle(col("_sp"), bf).as("h"))
      .where(col("k") =!= col("h")).count()
    assert(diffs == 0)
    // sanity: the filter is not vacuous — indexed spans survive
    val kept = df.select(explode(bloomFilterSpans(col("_sp"), Array(bf))).as("s"))
      .count()
    assert(kept > 0)
  }

  test("sharded sketches: pmod routing matches the OR-chain lambda for S = 4") {
    val S = 4
    val base = (1 to 400).map(_ => word())
    def shardOf(sp: String): Int = {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(sp)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      val r = (h % S).toInt; if (r < 0) r + S else r
    }
    val blooms = (0 until S).map(sh => buildBloom(base.filter(shardOf(_) == sh))).toArray
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(10)(if (rng.nextBoolean()) base(rng.nextInt(base.size)) else word()))
    }
    val df = rows.toDF("doc_id", "_sp")
    val diffs = df.select(
        bloomFilterSpans(col("_sp"), blooms).as("k"),
        hofSharded(col("_sp"), blooms).as("h"))
      .where(col("k") =!= col("h")).count()
    assert(diffs == 0)
  }

  test("empty array and null array follow the filter() contract") {
    val bf = buildBloom(Seq("a b"))
    val df = Seq((1L, Seq.empty[String]), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("doc_id", "_sp")
    val rs = df.select(
      bloomFilterSpans(col("_sp"), Array(bf)).as("k"),
      hofSingle(col("_sp"), bf).as("h")).collect()
    assert(rs(0).getSeq[String](0).isEmpty && rs(0).getSeq[String](1).isEmpty)
    assert(rs(1).isNullAt(0) && rs(1).isNullAt(1))
  }
}

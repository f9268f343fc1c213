package graft

import graft.functions.{DedupFunctions, Hashing, TextAnalysis}
import graft.sinks.RetryingBatchWriter
import graft.streaming.PipelineStats
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5 strategy — mirroring the
  * reference's `test_kafka.py` oldest-uncompleted-offset edge-case
  * style with generated inputs). Pure JVM: no SparkSession needed.
  * Deterministically seeded so failures reproduce. */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  // -- retrying writer: every record lands exactly once -----------------
  test("retrying writer partitions records into succeeded xor failed") {
    import RetryingBatchWriter._
    val outcomes = Gen.listOf(Gen.oneOf(0, 1, 2)) // per-record behavior class
    forAll(outcomes) { behaviors =>
      val records = behaviors.indices.toList
      val result = writeAll(records, maxBatch = 3, maxRetries = 2) { chunk =>
        chunk.map { r =>
          behaviors(r) match {
            case 0 => Ok
            case 1 => Retryable      // exhausts retries -> failed
            case 2 => Hard("nope")
          }
        }
      }
      val all = result.succeeded ++ result.failed.map(_._1)
      assert(all.sorted == records.sorted)                   // nothing lost
      assert(result.succeeded.toSet.intersect(result.failed.map(_._1).toSet).isEmpty)
      assert(result.succeeded.toSet == behaviors.indices.filter(behaviors(_) == 0).toSet)
    }
  }

  // -- percentile: result is an observed value, monotone in p -----------
  test("percentileFromCounts returns an observed key, monotone in p") {
    val histo = Gen.nonEmptyMap(Gen.zip(Gen.choose(-100.0, 100.0), Gen.choose(1L, 20L)))
    forAll(histo) { counts =>
      val p50 = PipelineStats.percentileFromCounts(counts, 0.5)
      val p95 = PipelineStats.percentileFromCounts(counts, 0.95)
      assert(counts.keySet.contains(p50) && counts.keySet.contains(p95))
      assert(p50 <= p95)
      assert(PipelineStats.percentileFromCounts(counts, 1.0) == counts.keys.max)
    }
  }

  // -- jaccard kernel == set-based definition ---------------------------
  test("merge-walk jaccard equals the set definition") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val sets = Gen.zip(Gen.listOf(Gen.choose(-50L, 50L)), Gen.listOf(Gen.choose(-50L, 50L)))
    forAll(sets) { case (la, lb) =>
      val sa = la.toSet
      val sb = lb.toSet
      val expected =
        if (sa.isEmpty && sb.isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      val got = graft.functions.expr.SimilarityKernels.jaccardSortedLong(
        ArrayData.toArrayData(sa.toArray.sorted),
        ArrayData.toArrayData(sb.toArray.sorted))
      assert(got == expected)
    }
  }

  // -- minhash: identical sets -> identical signatures; est in [0,1] ----
  test("minhash signature equality tracks set equality") {
    val tokens = Gen.nonEmptyListOf(Gen.identifier)
    forAll(tokens) { ts =>
      val s1 = DedupFunctions.minHashSigImpl(ts, 16)
      val s2 = DedupFunctions.minHashSigImpl(scala.util.Random.shuffle(ts), 16)
      assert(s1.sameElements(s2)) // order-insensitive (set semantics)
    }
  }

  // -- simhash: permutation-invariant up to multiset --------------------
  test("simhash is multiset-order invariant and 64-bit stable") {
    val tokens = Gen.nonEmptyListOf(Gen.identifier)
    forAll(tokens) { ts =>
      val a = DedupFunctions.simHash64Impl(ts)
      val b = DedupFunctions.simHash64Impl(scala.util.Random.shuffle(ts))
      assert(a == b)
    }
  }

  // -- winnowing guarantee ----------------------------------------------
  test("winnowing guarantee: shared substring >= w+k-1 shares a fingerprint") {
    val gen = for {
      shared <- Gen.listOfN(16, Gen.alphaLowerChar).map(_.mkString) // 16 >= 4+8-1
      pre <- Gen.listOfN(10, Gen.alphaLowerChar).map(_.mkString)
      post <- Gen.listOfN(10, Gen.alphaLowerChar).map(_.mkString)
    } yield (pre + shared, shared + post)
    forAll(gen) { case (a, b) =>
      val fa = TextAnalysis.winnowImpl(a, 8, 4).toSet
      val fb = TextAnalysis.winnowImpl(b, 8, 4).toSet
      assert(fa.intersect(fb).nonEmpty)
    }
  }

  // -- queue commit: monotone, acked ids form the committed prefix ------
  test("queue commit is monotone and acks exactly the committed prefix") {
    val ops = Gen.listOf(Gen.choose(0L, 30L))
    forAll(ops) { commits =>
      val qn = s"prop-${util.hashing.MurmurHash3.seqHash(commits)}"
      QueueRampTestAccess.reset(qn, 20)
      val acks = new graft.sources.AckRecorder(qn)
      var high = 0L
      commits.foreach { c =>
        graft.sources.QueueRamp.commitUpTo(qn, math.min(c, 20))
        high = math.max(high, math.min(c, 20))
        assert(graft.sources.QueueRamp.committed(qn) == high) // monotone
      }
      assert(acks.acked == (0L until high).map(_.toString))
      graft.sources.QueueRamp.drop(qn)
    }
  }

  // -- jaro-winkler: metric-style invariants over random strings --------
  test("jaro-winkler is symmetric, bounded, and 1 iff equal (non-empty)") {
    import graft.functions.expr.SimilarityKernels.jaroWinkler
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
    val word = Gen.chooseNum(0, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    forAll(Gen.zip(word, word)) { case (a, b) =>
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of range: jw($a, $b) = $s")
      assert(s == jw(b, a), s"asymmetric on ($a, $b)")
      if (a.nonEmpty && a == b) assert(s == 1.0)
      if (a.isEmpty || b.isEmpty) assert(s == 0.0)
    }
  }
}

object QueueRampTestAccess {
  def reset(name: String, n: Int): Unit = {
    graft.sources.QueueRamp.drop(name)
    graft.sources.QueueRamp.enqueue(name,
      (0 until n).map(i => graft.sources.QueueRamp.Entry(i.toString, s"c$i", null, 0L)))
  }
}

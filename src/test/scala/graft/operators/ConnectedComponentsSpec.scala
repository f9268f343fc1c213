package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpecBase {

  /** Runs BOTH execution paths — the driver union-find fast path
    * (default threshold) and the distributed propagation loop
    * (threshold 0 forces it) — and asserts they agree before returning
    * the labels. Every test in this suite therefore checks both. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val fast = ConnectedComponents.minLabelPropagation(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.minLabelPropagation(df, driverFallbackEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist, "driver union-find and distributed loop disagree")
    fast
  }

  test("chain, triangle, and isolated pair resolve to min-id components") {
    // 1-2-3-4 chain, {10,11,12} triangle, 20-21 pair
    val comps = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(comps == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges in O(log diameter) rounds (path halving)") {
    // 60-node path, maxIter 20: plain min propagation would need 59
    // rounds — only the pointer-jumping variant converges in time
    val comps = cc((0L until 59L).map(i => (i, i + 1)))
    assert(comps.size == 60 && comps.values.forall(_ == 0L))
  }

  test("edge direction does not matter") {
    val comps = cc(Seq((5L, 3L), (3L, 9L)))
    assert(comps == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("cutover boundary: driver path at threshold == directed count, distributed just below") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
    val df = edges.toDF("src", "dst")
    val directed = edges.size * 2L // explode emits both directions
    def run(threshold: Long): Map[Long, Long] =
      ConnectedComponents.minLabelPropagation(df, driverFallbackEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(run(directed) == expected)     // == threshold: driver union-find
    assert(run(directed - 1) == expected) // just over: distributed loop
  }

  test("threshold 0 forces the distributed loop") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    // Proof the loop actually ran: with maxIter=0 the distributed path
    // stops at the SEED labels (comp = min(node, min neighbor)), which
    // for the 1-2-3 chain leaves node 3 at 2 — the driver union-find
    // ignores maxIter and would return 1.
    val seeded = ConnectedComponents.minLabelPropagation(
        df, maxIter = 0, driverFallbackEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seeded == Map(1L -> 1L, 2L -> 1L, 3L -> 2L),
      "expected seed-only labels: the distributed path was not taken")
    // and with the default maxIter it converges to the true components
    val comps = ConnectedComponents.minLabelPropagation(df, driverFallbackEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("random graphs match a union-find reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.chooseNum(2, 24)
      m <- Gen.chooseNum(1, 30)
      edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield edges.filter(e => e._1 != e._2)

    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }

    (0 until 8).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { edges =>
        if (edges.nonEmpty) assert(cc(edges) == unionFind(edges), s"seed $i: $edges")
      }
    }
  }
}

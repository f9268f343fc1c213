package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Value-level twins for the corpus-governance batch: q137 replayed with
  * independent driver-side session logic, the q138 no-straddle invariant
  * (the property the operator exists to enforce), triangleCensus
  * brute-forced on random graphs, and funnel/collocation invariants.
  * Exact cross-engine hashes are the driver's DuckDB gate at sf0.01.
  */
class Curation7Spec extends SparkSpecBase {

  test("q137 matches a driver-side sessionization replay") {
    val ev = graft.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      var idx = 0L
      var prev = Long.MinValue
      val labeled = sorted.map { r =>
        if (prev == Long.MinValue || r._3 - prev > 1800000000L) idx += 1
        prev = r._3
        (idx, r)
      }
      labeled.groupBy(_._1).map { case (sess, rs) =>
        val us = rs.map(_._2._3)
        val total = rs.map(r => BigDecimal(r._2._5).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        (uid, sess, us.min, us.max, (us.max - us.min) / 1000000L,
          rs.size.toLong, rs.map(_._2._4).distinct.size.toLong, total)
      }
    }.sortBy(t => (t._1, t._2))
    val got = Analytics.q137.run(spark, sfDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(got == expected)
  }

  test("q138 assigns every dup cluster to exactly one split (no straddle)") {
    // Recompose the assignment from the same public pieces the query
    // uses and assert the property the operator exists to enforce.
    val edges = Dedup.allPairsJaccard(spark, sfDir, 0.5).select(col("a_id"), col("b_id"))
    val clusters = graft.operators.ConnectedComponents.minLabelPropagation(edges)
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val assigned = graft.Tables(spark, sfDir).documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("h", pmod(graft.QueryDsl.crossHash60(col("cluster_id")), lit(100L)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
    val straddles = assigned.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1).count()
    assert(straddles == 0L)
    // and the report reconciles with the corpus
    val rows = Curation7.q138.run(spark, sfDir).collect()
    val nDocs = graft.Tables(spark, sfDir).documents.count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("triangleCensus matches brute force on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val n = 3 + rnd.nextInt(12)
      val all = for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong)
      val edges = all.filter(_ => rnd.nextDouble() < 0.4)
      val es = edges.toSet
      val tri = (for {
        (a, b) <- edges; c <- (b + 1) until n
        if es((b, c.toLong)) && es((a, c.toLong))
      } yield 1).size
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val wedges = deg.values.map(d => d * (d - 1) / 2).sum
      // both paths of the size-adaptive census: the driver fallback
      // (default — these graphs are tiny) and the distributed
      // Schank-Wagner plan (forced by a zero cutover) must agree with
      // brute force AND each other
      for (cutover <- Seq(1000000L, 0L)) {
        val row = Curation7.triangleCensus(edges.toDF("a_id", "b_id"), cutover).collect().head
        assert(row.getLong(0) == deg.size.toLong, s"nodes (cutover=$cutover)")
        assert(row.getLong(1) == edges.size.toLong, s"edges (cutover=$cutover)")
        assert(row.getLong(2) == wedges, s"wedges (cutover=$cutover)")
        assert(row.getLong(3) == tri.toLong,
          s"triangles: got ${row.getLong(3)} want $tri (cutover=$cutover)")
        val cc = if (wedges == 0) 0.0 else 3.0 * tri / wedges
        assert(row.getDouble(4) == cc, s"global_cc (cutover=$cutover)")
      }
    }
  }

  test("q140 outliers are cell members with the minimal alignments") {
    val rows = Curation7Spec.collectOutliers(spark, sfDir)
    rows.groupBy(_._1).foreach { case (_, cell) =>
      val byRk = cell.sortBy(_._3)
      assert(byRk.map(_._3) == (1 to byRk.size).toList, "ranks are 1..k")
      assert(byRk.map(_._4) == byRk.map(_._4).sorted, "align ascending with rank")
    }
  }

  test("q141 funnel is monotone per source and reconciles totals") {
    val rows = Curation7.q141.run(spark, sfDir).collect()
    rows.foreach { r =>
      val (tot, q, l, d) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tot >= q && q >= l && l >= d, s"monotone funnel: $tot >= $q >= $l >= $d")
      assert(r.getDouble(5) == d.toDouble / tot)
    }
    val nDocs = graft.Tables(spark, sfDir).documents.count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
  }

  test("q142 collocations satisfy count containment and ordering") {
    val rows = Curation7.q142.run(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 5, "min-count threshold")
      assert(r.getLong(2) >= r.getLong(1) && r.getLong(3) >= r.getLong(1),
        "unigram counts contain the pair count")
    }
    val scores = rows.map(_.getDouble(4)).toSeq
    assert(scores == scores.sorted.reverse, "descending PMI order")
  }
}

object Curation7Spec {
  /** q140 rows as (cent_id, vec_id, rk, align). */
  private def collectOutliers(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Similarity.q140.run(spark, dir).collect().toList
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
}

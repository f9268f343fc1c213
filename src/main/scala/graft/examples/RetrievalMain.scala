package graft.examples

import graft.{SessionTuning, SparkEntry}

/** Side-by-side retrieval demo over the engine's index family — the
  * report a user runs before picking an index for a corpus:
  *
  *   - float brute force (q31): the recall ceiling, full scan bandwidth
  *   - SQ8 brute (q121): same scan shape, 4× less bandwidth
  *   - IVF-SQ8 (q122): probe-bounded scan + int8 codes — the shape
  *     that survives 100 TB
  *   - BM25 (q118): the lexical side of hybrid retrieval
  *
  * For each ANN variant it prints per-query overlap@5 against the float
  * baseline (how much fidelity the compression/probing trades) and the
  * END-TO-END wall time of the 10-query batch — including each index's
  * one-off train/encode work, which q31 doesn't pay; it is a
  * cold-start comparison, not a per-query-latency one (amortize the
  * build over a real query stream before reading it that way). The
  * test embeddings are unit-norm (q75), so q31's cosine ranking and
  * the codes' dot ranking agree up to the affine code offset —
  * overlap is dominated by int8 quantization loss, and random unit
  * vectors are its worst case (tightly packed neighbors; real
  * embedding corpora separate further and overlap runs higher).
  * `sbt "runMain graft.examples.RetrievalMain [sfDir]"`.
  */
object RetrievalMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SessionTuning.session("graft-retrieval",
      sys.env.getOrElse("SPARK_MASTER", "local[8]"))
    import spark.implicits._

    def top5(name: String): (Map[Long, Seq[Long]], Double) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir)
        .select("qid", "cid", "rk").as[(Long, Long, Int)].collect()
      val sec = (System.nanoTime() - t0) / 1e9
      (rows.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap, sec)
    }

    val (base, tBase) = top5("q31_ann_brute")
    println(f"[retrieval] float brute (q31):    ${tBase}%6.2f s  (recall ceiling; no build step)")
    println("[retrieval] compressed-index times below INCLUDE one-off train/encode work")
    for ((name, label) <- Seq(
        "q121_ann_sq8" -> "SQ8 brute (q121): ",
        "q122_ann_ivf_sq8" -> "IVF-SQ8   (q122): ")) {
      val (got, sec) = top5(name)
      val overlaps = base.keySet.toSeq.sorted.map { qid =>
        qid -> got.getOrElse(qid, Seq.empty).count(base(qid).toSet).toDouble / 5.0
      }
      val mean = overlaps.map(_._2).sum / overlaps.size
      println(f"[retrieval] $label${sec}%6.2f s  overlap@5 vs float: mean ${mean}%.2f  " +
        overlaps.map { case (q, o) => f"q$q=${o}%.1f" }.mkString(" "))
    }

    println("[retrieval] BM25 lexical top-5 (q118):")
    SparkEntry.queries("q118_bm25_topk")(spark, sfDir).show(5, truncate = false)

    // the runtime-relation form a retrieval user actually calls:
    // bm25(corpus, queries, k) over an ad-hoc query table
    println("[retrieval] BM25 with a runtime query relation (operators.Bm25):")
    val t0 = System.nanoTime()
    val queries = Seq(
      0L -> Seq("join", "window", "stream", "hash"),
      1L -> Seq("vector", "scan"),
      2L -> Seq("customer", "query", "batch")).toDF("qid", "terms")
    val hits = graft.operators.Bm25.bm25(
      graft.Tables(spark, sfDir).documents.select("doc_id", "text"), queries, k = 3)
      .collect()
    println(f"[retrieval] 3-query batch in ${(System.nanoTime() - t0) / 1e9}%6.2f s:")
    hits.foreach(r => println(s"[retrieval]   $r"))
    spark.stop()
  }
}

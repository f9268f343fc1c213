package graft.examples

import graft.{SessionTuning, Tables}
import graft.functions.TextAnalysis
import graft.functions.expr.DedupExpressions
import graft.queries.Dedup
import graft.sinks.PartitionedTableSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** End-to-end training-data curation pipeline — the composed form of
  * the engine's operator families, the workflow a user of the reference
  * would actually run at corpus scale:
  *
  *   read → quality filter → language-ID → exact dedup →
  *   MinHash near-dup removal → token accounting → fingerprints →
  *   partitioned curated output
  *
  * Every stage is a declarative plan over the previous one (one job at
  * the end; Catalyst fuses the map-side stages), and the output is
  * written partitioned by predicted language for pruned downstream
  * scans. `sbt "runMain graft.examples.CorpusCurationMain [sfDir]"`.
  */
object CorpusCurationMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SessionTuning.session("graft-corpus-curation",
      sys.env.getOrElse("SPARK_MASTER", "local[8]"))
    val t0 = System.nanoTime()
    def stamp(stage: String, n: Long): Unit =
      println(f"[curate] ${(System.nanoTime() - t0) / 1e9}%6.1fs  $stage%-28s -> $n%7d docs")

    val raw = Tables(spark, sfDir).documents
      .repartition(spark.sessionState.conf.numShufflePartitions)
    stamp("read", raw.count())

    // 1. quality filter: length + stopword + repetition heuristics
    val toks = split(col("text"), " ")
    val quality = raw
      .withColumn("n_tokens", size(toks))
      .withColumn("distinct_ratio", size(array_distinct(toks)).cast("double") / size(toks))
      .where(col("n_tokens") >= 10 && col("distinct_ratio") >= 0.2)
    stamp("quality filter", quality.count())

    // 1b. PII scrub (the q120 release gate, map-only — Catalyst fuses
    // it into the same stage): redact before anything downstream ever
    // materializes the raw text
    val scrubbed =
      quality.withColumn("text", graft.queries.Curation5.scrubExpr(col("text")))

    // 2. language id (heuristic; rows keep their prediction)
    val withLang = scrubbed
      .withColumn("pred", TextAnalysis.langId(col("text")))
      .withColumn("pred_lang", col("pred.lang")).drop("pred")
    stamp("language id", withLang.count())

    // 3. exact dedup: keep the smallest doc_id per content hash
    val wExact = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exactDeduped = withLang
      .withColumn("rn", row_number().over(wExact)).where(col("rn") === 1).drop("rn")
    stamp("exact dedup", exactDeduped.count())

    // 4. near-dup removal: MinHash LSH candidates -> exact jaccard >=
    //    0.8 -> connected components -> keep each cluster's min doc_id.
    //    Clustering (not pairwise drops) makes keep-one transitive: in a
    //    chain a~b~c where (a,c) never collides, pairwise logic would
    //    keep both a and b; component labels keep exactly a.
    val shingled = exactDeduped.withColumn("shh",
      array_sort(transform(Dedup.shingles2(toks), sh => xxhash64(sh))))
    val banded = shingled
      .withColumn("sig", DedupExpressions.minHashSig(col("shh"), 32))
      .select(col("doc_id"), col("shh"),
        posexplode(DedupExpressions.bandHashes(col("sig"), 8)).as(Seq("pos", "band")))
    val a = banded.select(col("pos"), col("band"), col("doc_id").as("a_id"), col("shh").as("a_sh"))
    val b = banded.select(col("pos"), col("band"), col("doc_id").as("b_id"), col("shh").as("b_sh"))
    val pairs = a.join(b, Seq("pos", "band")).where(col("a_id") < col("b_id"))
      .where(graft.functions.expr.SimilarityExpressions.jaccardSortedLong(col("a_sh"), col("b_sh")) >= 0.8)
      .select(col("a_id").as("src"), col("b_id").as("dst")).distinct()
    val dropIds = graft.operators.ConnectedComponents.minLabelPropagation(pairs)
      .where(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"))
    val nearDeduped = shingled.join(dropIds, Seq("doc_id"), "left_anti").drop("shh")
    stamp("near-dup removal", nearDeduped.count())

    // 5. token accounting + fingerprints on the surviving corpus
    val curated = nearDeduped
      .withColumn("fp", md5(col("text")))
      .withColumn("winnow_fps", TextAnalysis.winnow(col("text"), 8, 4))

    // 6. partitioned curated output (pruned scans downstream)
    val out = s"/tmp/graft_curated_${sfDir.split('/').last}"
    new PartitionedTableSink(out, Seq("pred_lang")).write(
      curated.withColumn("n_winnow_fps", size(col("winnow_fps"))).drop("winnow_fps"), 0L)
    val back = spark.read.parquet(out)
    stamp("curated output", back.count())
    println(s"[curate] output at $out, partitions: " +
      new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted.mkString(", "))
    val stats = back.groupBy("pred_lang")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .orderBy(desc("docs"))
    stats.show(10, truncate = false)
    spark.stop()
  }
}

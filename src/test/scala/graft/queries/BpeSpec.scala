package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Semantic guarantees of the BPE merge loop (q126) beyond the oracle
  * hash-match: agreement with q117's single-iteration statistics, the
  * pairwise-greedy run semantics of the double-space merge encoding,
  * and that the loop actually composes symbols across iterations. */
class BpeSpec extends SparkSpecBase {

  test("q126 iteration 1 is exactly q117's top candidate") {
    import spark.implicits._
    val m1 = Curation4.q126.run(spark, sfDir)
      .where(col("it") === 1)
      .select("a", "b", "cnt").as[(String, String, Long)].head()
    val top117 = Curation4.q117.run(spark, sfDir)
      .select("pair", "cnt").as[(String, Long)].head()
    assert(m1._1 + m1._2 == top117._1,
      s"first merge ${m1._1}+${m1._2} != q117 top pair ${top117._1}")
    assert(m1._3 == top117._2, "first-merge count diverges from q117")
  }

  test("double-space merge encoding is pairwise-greedy on runs") {
    import spark.implicits._
    // ' a  a  a  a ' must merge to ' aa  aa ' (disjoint pairs, left to
    // right) and ' a  a  a ' to ' aa  a ' — the Sennrich fold
    // semantics; a delimiter-consuming single-space encoding would
    // yield ' aa  a  a ' on the first input.
    val rows = Seq(" a  a  a  a ", " a  a  a ", " b  a  b ").toDF("w")
      .select(org.apache.spark.sql.functions.replace(
        col("w"), lit(" a  a "), lit(" aa ")).as("r"))
      .as[String].collect().toSeq
    assert(rows == Seq(" aa  aa ", " aa  a ", " b  a  b "))
  }

  test("driver-local and distributed merge loops produce identical merges") {
    import spark.implicits._
    val local = Curation4.q126.run(spark, sfDir)
      .as[(Int, String, String, Long)].collect().toSeq
    val distributed = Curation4.bpeTrainedDict(spark, sfDir, driverFallbackWords = 0)._1
    assert(local == distributed,
      s"cutover paths diverge:\n$local\nvs\n$distributed")
  }

  test("q128: trained-tokenizer counts are bounded by chars below, words above") {
    import spark.implicits._
    val out = Curation4.q128.run(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val docs = graft.Tables(spark, sfDir).documents
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) >= 1)).cast("long").as("nw"),
        length(regexp_replace(col("text"), lit(" "), lit(""))).cast("long").as("nc"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    out.foreach { case (id, nWords, nTokens) =>
      val (nw, nc) = docs(id)
      assert(nWords == nw, s"doc $id word count $nWords != $nw")
      // every word is >= 1 token; merges only ever shrink the char split
      assert(nTokens >= nWords && nTokens <= nc,
        s"doc $id tokens $nTokens outside [$nWords, $nc]")
    }
    // 10 merges on this corpus must actually compress: strictly fewer
    // tokens than characters in total
    val totTok = out.map(_._3).sum
    val totChar = docs.values.map(_._2).sum
    assert(totTok < totChar, s"no compression: $totTok tokens vs $totChar chars")
  }

  test("q126 composes multi-character symbols across iterations") {
    import spark.implicits._
    val merges = Curation4.q126.run(spark, sfDir)
      .select("it", "a", "b").as[(Int, String, String)].collect()
    assert(merges.length == 10)
    // monotone iteration ids 1..10
    assert(merges.map(_._1).toSeq == (1 to 10))
    // at least one later merge consumes an earlier merge's output — the
    // property that distinguishes the LOOP from 10 reads of iteration-1
    // statistics
    val produced = merges.map { case (_, a, b) => a + b }.toSet
    assert(merges.exists { case (_, a, b) => produced.contains(a) || produced.contains(b) },
      "no merge consumed a previously produced symbol — loop not iterating")
  }
}

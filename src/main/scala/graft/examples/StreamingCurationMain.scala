package graft.examples

import graft.SessionTuning
import graft.pipeline._
import graft.streaming.PipelineStatsListener
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming twin of [[CorpusCurationMain]] through the Pipeline DSL —
  * the reference's topology shape (ramp → intersections → sinks,
  * `motorway/pipeline.py`) running the training-data workload live:
  *
  *   doc ramp → quality gate (rejects become DEAD LETTERS with the
  *   reason, ≙ `fail()` + failed-message drill-down) → language-ID
  *   relational stage → keyed exact-dedup (checkpointed state: only a
  *   fingerprint's FIRST occurrence passes — at-least-once input,
  *   exactly-once corpus) → memory sink + controller-style stats.
  *
  * `sbt "runMain graft.examples.StreamingCurationMain"`.
  */
object StreamingCurationMain {

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session("graft-streaming-curation",
      sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    import spark.implicits._

    val listener = new PipelineStatsListener()
    spark.streams.addListener(listener)

    // quality gate: too-short or low-diversity docs FAIL with a reason
    // (dead letter ≙ reference fail(), not a silent drop)
    val gate = Intersection[String, String]("QualityGate") { m =>
      val toks = m.content.split(" ")
      val ttr = toks.distinct.length.toDouble / math.max(1, toks.length)
      if (toks.length < 4) throw new IllegalArgumentException("too_short")
      else if (ttr < 0.5) throw new IllegalArgumentException("low_diversity")
      else Iterator.single(m)
    }

    // PII scrub: the q120 release-gate redaction running live —
    // stateless, so the batch expression drops into the stream
    // unchanged (same patterns, same replacement tokens)
    val scrub = Intersection[String, String]("PiiScrub") { m =>
      Iterator.single(m.copy(content = graft.queries.Curation5.scrubString(m.content)))
    }

    // exact dedup on content fingerprint: keyed state remembers seen
    // fingerprints; only the first occurrence is emitted
    val dedup = new StatefulIntersection[String, (String, String), Boolean, (String, String)] {
      override def name = "ExactDedup"
      def key(m: Message[(String, String)]): String = m.groupingValue.getOrElse(m.content._1)
      def initialState: Boolean = false
      def update(k: String, in: Seq[Message[(String, String)]], seen: Boolean)
          : (Boolean, Seq[Message[(String, String)]]) =
        if (seen || in.isEmpty) (true, Seq.empty)
        else (true, Seq(in.head))
    }

    val input = MemoryStream[Message[String]](spark, 2)
    val run = Pipeline(spark)
      .addRamp("docs", input.toDS())
      .addIntersection("docs", "gated", gate)
      .addIntersection("gated", "scrubbed", scrub)
      // language-ID + fingerprint as a relational stage (full Catalyst
      // surface over the stream — native langid kernel, no UDF)
      .addRelational[String, Message[(String, String)]]("scrubbed", "tagged") { ds =>
        import org.apache.spark.sql.functions._
        ds.select(col("id"), col("content"), col("eventTime"),
          graft.functions.expr.TextExpressions.langId(col("content")).as("pred"),
          md5(col("content")).as("fp"))
          .select(col("id"),
            struct(col("pred.lang").as("_1"), col("content").as("_2")).as("content"),
            col("fp").as("groupingValue"), col("eventTime"))
          .as[Message[(String, String)]]
      }
      .addStatefulIntersection("tagged", "curated", dedup)
      .withDeadLetterStream()
      .addSink("curated", StreamSink.Memory(OutputMode.Update), "curated")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "rejects")
      .run()

    val docs = Seq(
      "the quick brown fox jumps over a lazy dog",        // keeps
      "spark shuffles keyed state across the cluster",    // keeps
      "the quick brown fox jumps over a lazy dog",        // exact dup -> deduped
      "word word word word word word",                    // low diversity -> reject
      "too short",                                        // reject
      "der hund und die katze sind nicht zu haus",        // keeps (de)
      "reach me at fox@example.com about the brown dog")  // keeps, email scrubbed
    input.addData(docs.zipWithIndex.map { case (d, i) => Message(i.toString, d) })
    run.processAllAvailable()

    println("== curated corpus ==")
    spark.table("curated")
      .selectExpr("content._1 AS lang", "content._2 AS text").distinct()
      .orderBy("lang", "text").show(truncate = false)
    println("== rejects (dead letters with reasons) ==")
    spark.table("rejects").selectExpr("id", "errorMessage", "operator").orderBy("id")
      .show(truncate = false)
    Thread.sleep(1000)
    listener.snapshot.foreach { case (q, s) =>
      println(f"query=$q processed=${s.processed} batches=${s.batchDurationsMs.size} avgMs=${s.avgTimeTakenMs}%.1f")
    }
    run.stop()
    spark.stop()
  }
}

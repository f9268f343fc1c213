package graft.examples

import graft.pipeline._
import graft.streaming.PipelineStatsListener
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Runnable word-count topology — the Spark twin of the reference's
  * `examples/word_count.py` / `tests/sample_pipeline.py` demo: ramp →
  * split intersection (run on the ramp's own partitions: HashRing adds no
  * exchange in front of a per-message operator) → stateful count keyed
  * by word → sink, with dead-letter stream and controller-style stats
  * printed at the end. `sbt "runMain graft.examples.WordCountMain"`.
  */
object WordCountMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-wordcount")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val listener = new PipelineStatsListener()
    spark.streams.addListener(listener)

    val split = Intersection[String, String]("SentenceSplit") { m =>
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
    }
    val count = new StatefulIntersection[String, String, Long, (String, Long)] {
      override def name = "WordCount"
      def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
      def initialState: Long = 0L
      def update(k: String, in: Seq[Message[String]], st: Long): (Long, Seq[Message[(String, Long)]]) = {
        val n = st + in.size
        (n, Seq(Message(k, (k, n), Some(k))))
      }
    }

    val input = MemoryStream[Message[String]](spark, 2)
    val run = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", split, Grouping.HashRing)
      .addStatefulIntersection("word", "counts", count)
      .withDeadLetterStream()
      .addSink("counts", StreamSink.Memory(OutputMode.Update), "wordcount")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "dead_letters")
      .run()

    val sentences = Seq(
      "Oak is strong and also gives shade",
      "Cats and dogs each hate the other",
      "The pipe began to rust while new")
    input.addData(sentences.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
    run.processAllAvailable()

    println("== word counts (top 10 by count) ==")
    spark.table("wordcount")
      .selectExpr("content._1 AS word", "content._2 AS cnt")
      .groupBy("word").agg(org.apache.spark.sql.functions.max("cnt").as("cnt"))
      .orderBy(org.apache.spark.sql.functions.desc("cnt"), org.apache.spark.sql.functions.asc("word"))
      .show(10, truncate = false)
    println(s"== dead letters: ${spark.table("dead_letters").count()} ==")
    Thread.sleep(1000) // let async listener events drain
    listener.snapshot.foreach { case (q, s) =>
      println(f"query=$q processed=${s.processed} batches=${s.batchDurationsMs.size} avgMs=${s.avgTimeTakenMs}%.1f p95Ms=${s.p95TimeTakenMs}%.1f")
    }
    run.stop()
    spark.stop()
  }
}

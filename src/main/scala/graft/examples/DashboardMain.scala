package graft.examples

import graft.SessionTuning
import graft.pipeline._
import graft.streaming.{PipelineStatsListener, StatsServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Live ops-dashboard demo: the word-count topology running under a
  * real `StatsServer` — the reference's `python manage.py runserver`
  * experience (`motorway/webserver.py`) without a JS build. Feeds a
  * sentence batch every second so the group view, latency stats, and
  * the client-side poller have moving numbers; runs for `args(0)`
  * seconds (default 120) or until killed.
  * `sbt "runMain graft.examples.DashboardMain [seconds]"`, then open
  * the printed URL (port via STATS_PORT, OS-assigned otherwise).
  */
object DashboardMain {
  def main(args: Array[String]): Unit = {
    val runForSec = args.headOption.map(_.toInt).getOrElse(120)
    val spark = SessionTuning.session("graft-dashboard",
      sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    import spark.implicits._

    val listener = new PipelineStatsListener()
    spark.streams.addListener(listener)
    val server = new StatsServer(listener,
      sys.env.get("STATS_PORT").map(_.toInt).getOrElse(0))
    println(s"== dashboard: http://127.0.0.1:${server.boundPort}/ ==")

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
      .addSink("counts", StreamSink.Memory(OutputMode.Update), "dash_counts")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "dash_dead")
      .run()

    val sentences = Seq(
      "Oak is strong and also gives shade",
      "Cats and dogs each hate the other",
      "The pipe began to rust while new",
      "Mist covered the hill until noon")
    val stopAt = System.currentTimeMillis() + runForSec * 1000L
    var i = 0
    while (System.currentTimeMillis() < stopAt) {
      input.addData(Seq(Message(i.toString, sentences(i % sentences.length))))
      run.processAllAvailable()
      Thread.sleep(1000)
      i += 1
    }
    run.stop()
    server.stop()
    spark.stop()
  }
}

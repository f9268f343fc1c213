package graft.examples

import graft.SessionTuning
import graft.pipeline._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming-throughput stress — the number the batch bench can't give:
  * messages/second end-to-end through the word-count topology (ramp →
  * split intersection → word-key exchange → stateful count → sink),
  * the reference's canonical pipeline. Reference context for the same
  * shape (all public constants, no published benchmark exists): one
  * CPython process interprets each message in a `process()` generator
  * loop with ~12k-message socket buffers
  * (`motorway/intersection.py:185-188`), and the only acceleration
  * story is "pypy ... roughly double speed" (`README.md:26`). Here the
  * same topology plans into whole-stage-codegen'd micro-batches.
  *
  * Two measurements, N messages each (default 200k, `args(0)`):
  *  - passthrough: envelope in → envelope out, no state — the
  *    transport+planning ceiling (≙ ZMQ hop + json.loads/dumps);
  *  - wordcount: split to words, hash-exchange, keyed running count —
  *    the reference's demo workload, state included.
  * Feeds in 20 offset chunks — the engine schedules micro-batches as
  * it drains them, so trigger scheduling is included (no
  * single-giant-batch flattery); prints msgs/s and words/s.
  * `sbt "runMain graft.examples.ThroughputMain [messages]"`; only the
  * run without `messages` writes `THROUGHPUT_r{N}.json`.
  */
object ThroughputMain {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session("graft-throughput", s"local[$cpus]")
    import spark.implicits._

    val sentences = Array(
      "Oak is strong and also gives shade",
      "Cats and dogs each hate the other",
      "The pipe began to rust while new",
      "Mist covered the hill until noon",
      "Round holes fit square pegs badly")
    val wordsPerMsg = sentences.map(_.split(" ").length).sum / sentences.length

    def feedAndTime(run: PipelineRun, input: MemoryStream[Message[String]]): Double = {
      val chunks = 20
      val per = total / chunks
      val t0 = System.nanoTime()
      var i = 0
      while (i < chunks) {
        val base = i * per
        input.addData((0 until per).map(j =>
          Message((base + j).toString, sentences((base + j) % sentences.length))))
        i += 1
      }
      run.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }

    // -- passthrough: the transport ceiling -----------------------------
    val passPerSec = {
      val in = MemoryStream[Message[String]](spark, 8)
      val run = Pipeline(spark)
        .addRamp("in", in.toDS())
        .addSink("in", StreamSink.Memory(), "thr_pass")
        .run()
      val sec = feedAndTime(run, in)
      run.stop()
      val n = spark.table("thr_pass").count()
      require(n == total, s"passthrough lost messages: $n of $total")
      println(f"[throughput] passthrough  $total%8d msgs  $sec%6.1f s  ${total / sec}%,10.0f msgs/s")
      total / sec
    }

    // -- wordcount: split + exchange + keyed state ----------------------
    val (wcPerSec, wordsPerSec) = {
      val split = Intersection[String, String]("Split") { m =>
        m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
      }
      val count = new StatefulIntersection[String, String, Long, (String, Long)] {
        override def name = "Count"
        def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
        def initialState: Long = 0L
        def update(k: String, in: Seq[Message[String]], st: Long): (Long, Seq[Message[(String, Long)]]) = {
          val n = st + in.size
          (n, Seq(Message(k, (k, n), Some(k))))
        }
      }
      val in = MemoryStream[Message[String]](spark, 8)
      val run = Pipeline(spark)
        .addRamp("sentence", in.toDS())
        .addIntersection("sentence", "word", split, Grouping.HashRing)
        .addStatefulIntersection("word", "counts", count)
        .addSink("counts", StreamSink.Memory(OutputMode.Update), "thr_wc")
        .run()
      val sec = feedAndTime(run, in)
      run.stop()
      val words = total.toLong * wordsPerMsg
      println(f"[throughput] wordcount    $total%8d msgs  $sec%6.1f s  ${total / sec}%,10.0f msgs/s  (~${words / sec}%,.0f words/s through keyed state)")
      (total / sec, words / sec)
    }

    // Round artifact: one JSON line on stdout plus, on the configured
    // run only (no message-count argument), a THROUGHPUT_r{N}.json file
    // next to the driver's BENCH_r{N}.json, so streaming throughput
    // regressions are as visible round-over-round as batch ones — a
    // smoke run at its own count must not leave a file that reads like
    // the round's measurement. N is inferred as newest BENCH round + 1
    // (this main runs during round N, before the driver writes
    // BENCH_r{N}).
    val round = {
      import scala.jdk.CollectionConverters._
      val rs = try java.nio.file.Files.list(java.nio.file.Paths.get(".")).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("BENCH_r\\d+\\.json") =>
          s.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
        .toSeq
      catch { case _: Throwable => Seq.empty[Int] }
      if (rs.isEmpty) 0 else rs.max + 1
    }
    val json =
      f"""{"metric":"streaming_throughput","unit":"msgs_per_sec","messages":$total,"cpus":"$cpus","passthrough":$passPerSec%.0f,"wordcount":$wcPerSec%.0f,"words_per_sec":$wordsPerSec%.0f}"""
    println(json)
    if (args.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f"THROUGHPUT_r$round%02d.json"),
        (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }

    spark.stop()
  }
}

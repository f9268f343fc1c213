package perfbench

import graft.GraftQuery
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks must catch what they exist to catch:
  * a planted failure shows in `failed`, never as a fast result. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session("local[2]", 2, streaming = true, work)

  override def afterAll(): Unit = {
    spark.stop()
    Streams.deleteRecursively(new java.io.File(work))
  }

  test("a dropped message shows as failed word counts") {
    val events = Streams.generate("wordcount", 50, new java.util.SplittableRandom(3))
    def count(sentences: Seq[String]) =
      sentences.flatMap(_.split(" ")).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val expected = count(events.content.toSeq)
    assert(Streams.checkCounts(expected, count(events.content.toSeq)).isEmpty)
    val dropped = count(events.content.toSeq.patch(17, Nil, 1))
    assert(Streams.checkCounts(expected, dropped).nonEmpty)
  }

  test("a wrong, missing or extra word count is a failure") {
    val expected = Map("a" -> 3L, "b" -> 1L, "c" -> 2L)
    assert(Streams.checkCounts(expected, Map("a" -> 3L, "b" -> 1L, "c" -> 2L)).isEmpty)
    val failures = Streams.checkCounts(expected, Map("a" -> 3L, "b" -> 2L, "d" -> 1L))
    assert(failures.size == 3)
  }

  test("a stale value or a duplicated key in the upserted table is a failure") {
    val expected = Map("k1" -> "v9", "k2" -> "v4")
    assert(Streams.checkLastWrite(expected, Seq("k1" -> "v9", "k2" -> "v4")).isEmpty)
    assert(Streams.checkLastWrite(expected, Seq("k1" -> "v3", "k2" -> "v4")).size == 1)
    assert(Streams.checkLastWrite(expected, Seq("k1" -> "v9", "k2" -> "v4", "k2" -> "v1")).nonEmpty)
  }

  test("a throwing query is not timed and counts as failed; digests are checked") {
    val ok = GraftQuery("p1_ok", (s, _) => s.range(100).selectExpr("id", "id % 7 AS m"), None)
    val boom = GraftQuery("p2_boom", (_, _) => throw new IllegalStateException("planted"), None)
    val off = GraftQuery("p3_off", (s, _) => s.range(10).toDF("id"), None)
    val untraced = new Tracer(false)
    val outcomes = Registry.run(spark, "unused", Seq(ok, boom, off), untraced, new Measured(untraced))
    assert(outcomes.map(_.name) == Seq("p1_ok", "p2_boom", "p3_off"))
    assert(outcomes(1).error.exists(_.contains("planted")))
    assert(outcomes(1).wallMs.isNaN)
    assert(outcomes(0).wallMs > 0)
    val expected = Map("p1_ok" -> outcomes(0).digest, "p3_off" -> "10:0")
    val failures = Registry.failures(outcomes, expected)
    assert(failures.size == 2)
    assert(failures.exists(_.startsWith("p2_boom threw")))
    assert(failures.exists(_.startsWith("p3_off digest")))
  }

  test("the digest ignores row order and sees every column") {
    import spark.implicits._
    val a = Seq((1, "x", 1.5), (2, "y", 2.5)).toDF("i", "s", "d")
    val b = Seq((2, "y", 2.5), (1, "x", 1.5)).toDF("i", "s", "d")
    val c = Seq((1, "x", 1.5), (2, "y", 2.25)).toDF("i", "s", "d")
    assert(Registry.digest(a) == Registry.digest(b))
    assert(Registry.digest(a) != Registry.digest(c))
  }

  private lazy val probe = {
    val p = new ProgressProbe
    spark.streams.addListener(p)
    p
  }

  Seq("wordcount", "upsert").foreach { w =>
    test(s"a small $w round passes its own check") {
      val spec = Streams.Specs(w)
      val untraced = new Tracer(false)
      val rr = Streams.round(spark, spec, 7L, 0, 0L, 300L, 2 * spec.maxPerTrigger, s"$work/streams", 2,
        untraced, probe, new Measured(untraced))
      if (rr.failures.nonEmpty) fail(s"$w: ${rr.failures.size} failed outputs, e.g. ${rr.failures.take(3)}")
      assert(rr.attempted > 0 && rr.latenciesMs.nonEmpty && rr.drainMsgsPerSec > 0, w)
    }
  }

  test("scheduler totals count only the kept job groups inside a measured window") {
    val tracer = new Tracer(true)
    val sched = new SchedulerProbe(tracer)
    val measured = new Measured(tracer)
    val sc = spark.sparkContext
    sc.addSparkListener(sched)
    try {
      sc.setJobGroup("exec:q", "q")
      sc.parallelize(1 to 10, 2).count() // outside every window
      measured {
        sc.parallelize(1 to 10, 3).count()
        sc.setJobGroup("check:q", "q")
        sc.parallelize(1 to 10, 4).count() // another group
      }
      sc.clearJobGroup()
      val t = Main.totals(sched, measured, _.startsWith("exec:"))
      assert((t.jobs, t.stages, t.tasks) == ((1L, 1L, 3L)))
    } finally sc.removeSparkListener(sched)
  }

  test("percentiles interpolate and interval unions merge overlaps") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Seq.empty, 90) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
  }

  test("self time is a span's duration minus what its children cover") {
    val t = new Tracer(true)
    val parent = Span(1, 0, "", "p", 0.0, 10.0)
    val kids = Seq(Span(2, 1, "", "a", 1.0, 4.0), Span(3, 1, "", "b", 3.0, 5.0), Span(4, 1, "", "c", 9.0, 12.0))
    assert(t.selfMs(parent, kids) == 5.0)
  }
}

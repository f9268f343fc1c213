package graft.streaming

import graft.SparkSpecBase
import graft.pipeline.{Message, Pipeline, StreamSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class PipelineStatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("percentile oracle from the reference test suite") {
    // `motorway/tests/test_utils.py:7-9`
    val counts = Map(0.0 -> 2L, 1.0 -> 1L, 2.0 -> 1L, 3.0 -> 3L, 4.0 -> 1L)
    assert(PipelineStats.percentileFromCounts(counts, 0.95) == 4.0)
    assert(PipelineStats.percentileFromCounts(counts, 0.5) == 2.0)
    assert(PipelineStats.percentileFromCounts(Map(7.0 -> 1L), 0.95) == 7.0)
  }

  test("listener accumulates processed counts and batch durations") {
    val listener = new PipelineStatsListener(() => 30)
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[Message[String]](spark, 2)
      val run = Pipeline(spark)
        .addRamp("s", input.toDS())
        .addSink("s", StreamSink.Memory(), "stats_probe")
        .run()
      input.addData(Seq(Message("1", "a"), Message("2", "b"), Message("3", "c")))
      run.processAllAvailable()
      run.stop()
      // listener events are async; wait briefly for delivery
      val deadline = System.currentTimeMillis() + 10000
      def processed = listener.snapshot.get("stats_probe").map(_.processed).getOrElse(0L)
      while (processed < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(processed == 3)
      val s = listener.snapshot("stats_probe")
      assert(s.histogram(30).processedCount == 3)
      assert(s.avgTimeTakenMs >= 0.0 && s.p95TimeTakenMs >= 0.0)
      val json = listener.snapshotJson
      assert(json.contains("\"name\":\"stats_probe\""))
      assert(json.contains("\"processed\":3"))
      assert(json.contains("\"status\":\"available\""))
      // per-minute history rides the status JSON (controller.py:55-59
      // histogram): 60 entries oldest→newest, the injected clock pins
      // this batch's counts to the LAST entry (current minute = 30)
      val minutes = "\"minutes_processed\":\\[([0-9,]+)\\]".r
        .findFirstMatchIn(json).map(_.group(1).split(',').map(_.toLong).toSeq)
      assert(minutes.exists(_.size == 60), s"60 minute buckets expected: $minutes")
      assert(minutes.exists(_.last == 3L), "current minute's count must be the last entry")
      assert(minutes.exists(_.init.forall(_ == 0L)))
      assert(json.contains("\"minutes_errors\":["))
      // every durationMs phase of the batch, as p50 and p95
      val phases = s.phasePercentilesMs
      assert(Seq("triggerExecution", "addBatch").forall(phases.contains), s"phases: ${phases.keys}")
      assert(phases.values.forall { case (p50, p95) => 0.0 <= p50 && p50 <= p95 })
      assert("\"phases_ms\":\\{\"addBatch\":\\{\"p50\":[0-9.]+,\"p95\":[0-9.]+\\}".r.findFirstIn(json).isDefined, json)
      // the THROUGHPUT artifact's phases_ms: the same object, keyed by query
      val artifact = PipelineStats.phasesJson(Map("stats_probe" -> s))
      assert(artifact.startsWith("{\"stats_probe\":{\"addBatch\":{\"p50\":"), artifact)
      assert(json.contains(artifact.stripPrefix("{\"stats_probe\":").stripSuffix("}")), artifact)
      // render path: the minute series draws as a sparkline polyline
      val svg = StatsServer.sparklineSvg(minutes.get)
      assert(svg.contains("<polyline") && svg.contains("peak 3"))
      assert(StatsServer.sparklineSvg(Seq.fill(60)(0L)).contains("no traffic"))
    } finally spark.streams.removeListener(listener)
  }

  test("a failed named query marks its own row; an unnamed query keys by its id") {
    val listener = new PipelineStatsListener(() => 30)
    spark.streams.addListener(listener)
    val unnamedIn = MemoryStream[Int](spark, 1)
    val unnamed = unnamedIn.toDF().writeStream.format("noop").start()
    try {
      val input = MemoryStream[Int](spark, 1)
      val q = input.toDF().writeStream.queryName("stats_fails")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("planted sink failure")
        }.start()
      input.addData(1, 2)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
      unnamedIn.addData(3)
      unnamed.processAllAvailable()
      pollUntil("the failure and the unnamed query's progress reach the listener", 10000L) {
        listener.snapshot.get("stats_fails").exists(_.failed == 1) &&
          listener.snapshot.get(unnamed.id.toString).exists(_.processed == 1)
      }
      val s = listener.snapshot("stats_fails")
      assert(s.state(30) == "failing")
      assert(s.failures.map(_.error).exists(_.contains("planted sink failure")))
      assert(!listener.snapshot.contains(q.id.toString), "failure landed on an id row")
      assert(!listener.snapshot.contains(null), "unnamed query stored under a null key")
      val rows = org.json4s.jackson.JsonMethods.parse(listener.snapshotJson).children
      val rowNames = rows.map(r => (r \ "name").values)
      assert(rowNames.contains("stats_fails") && rowNames.contains(unnamed.id.toString), rowNames)
    } finally {
      unnamed.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("minuteSeries zeroes buckets aliased by an idle gap (no fabricated last hour)") {
    import PipelineStats._
    // every wrap-around slot holds hour-old data; the query last saw
    // progress at the 10-minute mark and it is now the 20-minute mark
    val hist = (0 until 60).map(m => m -> MinuteBucket(processedCount = 10)).toMap
    val s = QueryStats("x", histogram = hist, lastSeenMs = 600000L)
    val m = s.minuteSeries(nowMinute = 20, nowMs = 1200000L)
    assert(m.size == 60)
    assert(m.takeRight(10).forall(_.processedCount == 0),
      "slots that recurred inside the idle gap must render zero")
    assert(m(49).processedCount == 10, "the lastSeen minute keeps its data")
    assert(m.take(49).forall(_.processedCount == 10),
      "pre-idle slots are genuine last-hour data")
    // an hour-idle query renders an empty strip, not last hour's ghost
    assert(s.minuteSeries(20, 600000L + 3600000L).forall(_.processedCount == 0))
    // a never-seen query renders empty regardless of histogram content
    assert(QueryStats("y", histogram = hist).minuteSeries(20, 1200000L)
      .forall(_.processedCount == 0))
  }

  test("minuteSeries drops INTERIOR mid-hour gap ghosts via per-bucket write stamps") {
    import PipelineStats._
    // timeline: buckets 0..4 written THIS hour (minutes 0-4 of hour H),
    // buckets 5..14 still hold LAST hour's writes (hour H-1), query
    // resumed and wrote buckets 15..20 this hour; now = minute 20 of H.
    // lastSeenMs is recent, so the old trailing-gap heuristic alone
    // would render the 5..14 ghosts as live "last hour" traffic.
    val hourH = 3600000L * 5
    def at(min: Int, hoursAgo: Int = 0) = hourH + min * 60000L - hoursAgo * 3600000L
    val nowMs = at(20) + 30000L
    val hist =
      (0 to 4).map(m => m -> MinuteBucket(processedCount = 7, writtenAtMs = at(m))).toMap ++
      (5 to 14).map(m => m -> MinuteBucket(processedCount = 99, writtenAtMs = at(m, hoursAgo = 1))).toMap ++
      (15 to 20).map(m => m -> MinuteBucket(processedCount = 7, writtenAtMs = at(m))).toMap
    val s = QueryStats("x", histogram = hist, lastSeenMs = at(20))
    val series = s.minuteSeries(nowMinute = 20, nowMs = nowMs)
    // series is oldest→newest: index 59 = minute 20, index 59-d = d minutes ago
    def slot(minute: Int) = series(59 - ((20 - minute) % 60 + 60) % 60)
    (5 to 14).foreach(m => assert(slot(m).processedCount == 0,
      s"interior-gap minute $m must render zero, got ${slot(m).processedCount}"))
    ((0 to 4) ++ (15 to 20)).foreach(m => assert(slot(m).processedCount == 7,
      s"this-hour minute $m must keep its data"))
    // minutes 21..59 have no bucket at all → zero
    assert(series.take(39).forall(_.processedCount == 0))
  }

  test("per-source lag gauge under a throttled QueueRamp (MillisecondsBehind parity)") {
    import graft.sources.{QueueRamp, QueueRampProvider}
    val qn = "stats-lag"
    QueueRamp.drop(qn)
    // 10 messages, 2 admitted per micro-batch: the early batches leave
    // a backlog the progress events report as latestOffset − endOffset
    QueueRamp.enqueue(qn, (1 to 10).map(i =>
      QueueRamp.Entry(i.toString, s"m$i", null, i.toLong * 1000000L)))
    val listener = new PipelineStatsListener(() => 30)
    spark.streams.addListener(listener)
    try {
      val df = spark.readStream
        .format(classOf[QueueRampProvider].getName)
        .option("queue", qn).option("maxPerTrigger", "2")
        .load()
      val q = df.writeStream.format("memory").queryName("lag_out").start()
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 10000
      def snap = listener.snapshot.get("lag_out")
      while (snap.forall(_.processed < 10) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val s = snap.get
      assert(s.processed == 10)
      // the first batch admitted 2 of 10 → the gauge must have seen a
      // backlog of 8 (monotone high-water mark), and a drained queue
      assert(s.peakWaiting >= 8, s"peakWaiting=${s.peakWaiting}")
      assert(s.waiting == 0, s"waiting=${s.waiting} after drain")
      assert(s.sourceLag.nonEmpty, "no per-source lag recorded")
      assert(listener.snapshotJson.contains("\"behind_latest\":{"))
      assert(listener.snapshotJson.contains("\"peak_waiting\":"))
    } finally {
      spark.streams.removeListener(listener)
      QueueRamp.drop(qn)
    }
  }

  test("state heuristic: waiting vs recent throughput (webserver.py:110-121 parity)") {
    import PipelineStats._
    val busyAt = MinuteBucket(processedCount = 100, successCount = 100)
    val s0 = QueryStats("s", waiting = 5, histogram = Map(30 -> busyAt))
    assert(s0.state(30) == "busy")      // backlog smaller than recent throughput
    val s1 = QueryStats("s", waiting = 500, histogram = Map(30 -> busyAt))
    assert(s1.state(30) == "overloaded") // backlog exceeds last-3-min processed
    val s2 = QueryStats("s", waiting = 0, histogram = Map(30 -> busyAt))
    assert(s2.state(30) == "available")
    val s3 = QueryStats("s", failed = 1)
    assert(s3.state(30) == "failing")
    // 3-minute lookback wraps across the hour boundary
    val s4 = QueryStats("s", waiting = 5, histogram = Map(59 -> busyAt))
    assert(s4.state(1) == "busy")
  }
}

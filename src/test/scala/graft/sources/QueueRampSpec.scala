package graft.sources

import graft.SparkSpecBase
import graft.pipeline.{Grouping, Intersection, Message, Pipeline, StreamSink}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import scala.jdk.CollectionConverters._

class QueueRampSpec extends SparkSpecBase {
  import spark.implicits._

  private def entry(i: Int, content: String, g: String = null) =
    QueueRamp.Entry(i.toString, content, g, i.toLong * 1000000L)

  /** Memory-sink reads race with the continuously-cycling
    * ProcessingTime(0) trigger; poll until the condition stabilizes
    * (same pattern as PipelineStatsSpec for async listener events). */
  private def eventually(timeoutMs: Long = 20000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(200); ok = cond }
    ok
  }

  test("DSv2 ramp: micro-batch read, partition split, commit-on-success") {
    val qn = "ramp-basic"
    QueueRamp.drop(qn)
    val acks = new AckRecorder(qn)
    QueueRamp.enqueue(qn, (1 to 10).map(i => entry(i, s"payload-$i")))

    val df = spark.readStream
      .format(classOf[QueueRampProvider].getName)
      .option("queue", qn).option("partitions", "4")
      .load()
    val q = df.writeStream.format("memory").queryName("ramp_out").start()
    q.processAllAvailable()
    assert(eventually()(spark.table("ramp_out").count() == 10),
      s"rows=${spark.table("ramp_out").count()}")

    // commit(N) is delivered when batch N+1 is constructed (acks lag one
    // batch — the Kafka-ramp oldest-uncompleted contract). Trigger the
    // next batch, then batch 0's 10 messages must be acked.
    QueueRamp.enqueue(qn, Seq(entry(11, "late")))
    q.processAllAvailable()
    assert(eventually()(spark.table("ramp_out").count() == 11))
    assert(eventually()(QueueRamp.committed(qn) == 10),
      s"committed=${QueueRamp.committed(qn)}")
    assert(acks.acked.toSet == (1 to 10).map(_.toString).toSet)

    QueueRamp.enqueue(qn, Seq(entry(12, "later")))
    q.processAllAvailable()
    assert(eventually()(QueueRamp.committed(qn) == 11))
    q.stop()
    QueueRamp.drop(qn)
  }

  test("ramp feeds the Pipeline DSL as a typed message stream") {
    val qn = "ramp-topo"
    QueueRamp.drop(qn)
    QueueRamp.enqueue(qn, Seq(entry(1, "a b", "g1"), entry(2, "c", "g2")))

    val raw = spark.readStream
      .format(classOf[QueueRampProvider].getName)
      .option("queue", qn).load()
    val msgs = raw.select(col("id"), col("content"), col("groupingValue"))
      .as[(String, String, Option[String])]
      .map { case (id, c, g) => Message(id, c, g) }

    val split = Intersection[String, String]("Split") { m =>
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
    }
    val run = Pipeline(spark)
      .addRamp("in", msgs)
      .addIntersection("in", "words", split, Grouping.HashRing)
      .addSink("words", StreamSink.Memory(), "ramp_topo_out")
      .run()
    run.processAllAvailable()
    assert(eventually()(
      spark.table("ramp_topo_out").select("content").as[String].collect().sorted.toSeq
        == Seq("a", "b", "c")))
    // next batch delivers the ack for batch 0's two messages
    QueueRamp.enqueue(qn, Seq(entry(3, "d", "g3")))
    run.processAllAvailable()
    assert(eventually()(QueueRamp.committed(qn) == 2))
    run.stop()
    QueueRamp.drop(qn)
  }

  test("admission control caps rows per micro-batch (backpressure parity)") {
    val qn = "ramp-throttle"
    QueueRamp.drop(qn)
    QueueRamp.enqueue(qn, (1 to 10).map(i => entry(i, s"m$i")))
    val df = spark.readStream
      .format(classOf[QueueRampProvider].getName)
      .option("queue", qn).option("maxPerTrigger", "4")
      .load()
    val q = df.writeStream.format("memory").queryName("throttle_out").start()
    q.processAllAvailable()
    assert(eventually()(spark.table("throttle_out").count() == 10))
    // 10 rows admitted in ceil(10/4) = 3 batches, none larger than 4
    val batchSizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(batchSizes.forall(_ <= 4), s"batches=$batchSizes")
    assert(batchSizes.length >= 3)
    q.stop()
    QueueRamp.drop(qn)
  }

  test("canonical word-count topology: every ramp id succeeds, none fail") {
    // the reference's end-to-end fixture assertions
    // (`tests/sample_pipeline.py:34-38`): all 10 sentence ids reach
    // success(), zero failures — here: all acked via commit, zero dead
    // letters.
    val qn = "ramp-wordcount"
    QueueRamp.drop(qn)
    val acks = new AckRecorder(qn)
    val sentences = Seq(
      "Oak is strong and also gives shade", "Cats and dogs each hate the other",
      "The pipe began to rust while new", "Open the crate but dont break the glass",
      "Add the sum to the product of these three", "Thieves who rob friends deserve jail",
      "The ripe taste of cheese improves with age", "Act on these orders with great speed",
      "The hog crawled under the high fence", "Move the vat over the hot fire")
    QueueRamp.enqueue(qn, sentences.zipWithIndex.map { case (s, i) => entry(i, s) })

    val msgs = spark.readStream
      .format(classOf[QueueRampProvider].getName).option("queue", qn).load()
      .select(col("id"), col("content"), col("groupingValue"))
      .as[(String, String, Option[String])]
      .map { case (id, c, g) => Message(id, c, g) }
    val split = Intersection[String, String]("Split") { m =>
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
    }
    val run = Pipeline(spark)
      .addRamp("sentence", msgs)
      .addIntersection("sentence", "word", split, Grouping.HashRing)
      .withDeadLetterStream()
      .addSink("word", StreamSink.Memory(), "wc_ramp_out")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "wc_ramp_dead")
      .run()
    run.processAllAvailable()
    // trigger the next batch so batch 0's acks are delivered
    QueueRamp.enqueue(qn, Seq(entry(10, "flush")))
    run.processAllAvailable()

    assert(eventually()(acks.acked.toSet == (0 to 9).map(_.toString).toSet),
      s"acked=${acks.acked}")
    assert(spark.table("wc_ramp_dead").isEmpty) // ≙ zero failed()
    val words = spark.table("wc_ramp_out").count()
    assert(words >= sentences.map(_.split(" ").length).sum)
    run.stop()
    QueueRamp.drop(qn)
  }

  test("queue bootstrap: ramp starts against a queue nobody created (SQS get-or-create parity)") {
    val qn = "ramp-bootstrap-fresh"
    QueueRamp.drop(qn)
    assert(!QueueRamp.exists(qn))
    // the stream itself must bootstrap the queue before its first read
    val df = spark.readStream
      .format(classOf[QueueRampProvider].getName)
      .option("queue", qn)
      .load()
    val q = df.writeStream.format("memory").queryName("bootstrap_out").start()
    q.processAllAvailable()
    assert(QueueRamp.exists(qn), "stream did not create the missing queue")
    assert(spark.table("bootstrap_out").count() == 0)
    // producers arriving after the consumer see the same queue
    QueueRamp.enqueue(qn, Seq(entry(1, "late-producer")))
    q.processAllAvailable()
    assert(eventually()(spark.table("bootstrap_out").count() == 1))
    q.stop()
    // explicit API: created-on-first, found-on-second (mixin's two branches)
    QueueRamp.drop(qn)
    assert(QueueRamp.ensureQueue(qn), "first ensureQueue should create")
    assert(!QueueRamp.ensureQueue(qn), "second ensureQueue should find")
    QueueRamp.drop(qn)
  }

  // The failure posture the reference guarantees (pipeline.py:127-135:
  // operator failures are never silent): a throwing poll must keep the
  // schedule alive AND surface as a counted dead letter with traceback
  // at /detail/<queue>/ — not vanish.
  test("polling ramp reports poll failures: counted, traceback at /detail/") {
    import graft.streaming.{PipelineStatsListener, StatsServer}
    val qn = "ramp-poll-fail"
    QueueRamp.drop(qn)
    val listener = new PipelineStatsListener(() => 0)
    val ramp = new PollingRamp(qn, periodMillis = 100000L,
        onFailure = PollingRamp.reportTo(listener, qn))(tick =>
      if (tick % 2 == 0) throw new RuntimeException(s"salesforce outage at tick $tick")
      else Seq(QueueRamp.Entry(s"t$tick", s"scan-$tick", null, 0L)))
    ramp.pollNow(4) // ticks 0,2 fail; 1,3 enqueue — outage does not stop polling
    assert(QueueRamp.size(qn) == 2, "successful polls must still enqueue")
    val s = listener.snapshot(qn)
    assert(s.failed == 2)
    assert(s.failures.map(_.messageId) == Vector("poll-0", "poll-2"))
    assert(s.failures.head.error.contains("salesforce outage at tick 0"))
    assert(s.failures.head.traceback.contains("RuntimeException"))
    assert(s.state(0) == "failing", "status heuristic must flip to failing")
    // end-to-end: the drill-down page renders the outage
    val srv = new StatsServer(listener)
    try {
      val html = scala.io.Source.fromURL(
        s"http://127.0.0.1:${srv.boundPort}/detail/$qn/")("UTF-8").mkString
      assert(html.contains("salesforce outage at tick 0"), "outage not on /detail/")
    } finally srv.stop()
    ramp.close()
    QueueRamp.drop(qn)
  }

  test("enqueue returns the start offset atomically under producer races") {
    // the takeover window: the old lease owner and the new one both
    // pass their `owned` check and enqueue into the same shard queue —
    // offsets derived from a separate size() read would interleave and
    // skew the offset→sequence mapping; the atomic return cannot
    val qn = "ramp-atomic-offset"
    QueueRamp.drop(qn)
    QueueRamp.ensureQueue(qn)
    val nThreads = 8; val nBatches = 50
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Seq[String])]())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val start = new java.util.concurrent.CountDownLatch(1)
    (0 until nThreads).foreach { t =>
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        (0 until nBatches).foreach { b =>
          val ids = (0 until 3).map(i => s"t$t-b$b-$i")
          val off = QueueRamp.enqueue(qn, ids.map(id =>
            QueueRamp.Entry(id, id, null, 0L)))
          got.add((off, ids))
        }
      }})
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(QueueRamp.size(qn) == nThreads.toLong * nBatches * 3)
    got.forEach { t =>
      val (off, ids) = t
      assert(QueueRamp.slice(qn, off, off + ids.size).map(_.id) == ids,
        s"offset $off does not hold the batch that claimed it")
    }
    QueueRamp.drop(qn)
  }

  test("polling ramp enqueues per tick with stable ids") {
    val qn = "ramp-poll"
    QueueRamp.drop(qn)
    val ramp = new PollingRamp(qn, periodMillis = 100000L)(tick =>
      Seq(QueueRamp.Entry(s"t$tick", s"scan-result-$tick", null, 0L)))
    ramp.pollNow(3)
    assert(QueueRamp.size(qn) == 3)
    assert(QueueRamp.slice(qn, 0, 3).map(_.id) == Seq("t0", "t1", "t2"))
    ramp.close()
    QueueRamp.drop(qn)
  }

  private def ramp(qn: String, maxPerTrigger: Int = 0): DataFrame =
    spark.readStream.format(classOf[QueueRampProvider].getName)
      .option("queue", qn).option("maxPerTrigger", maxPerTrigger.toString).load()

  private def ids(from: Int, until: Int): Seq[String] = (from until until).map(_.toString)

  test("fan-out: two queries on one ramp ack a message only once both have committed it") {
    val api = new InMemorySqs()
    (1 to 5).foreach(i => api.send("fanout", s"body$i"))
    QueueRamp.drop("sqs-fanout")
    val poller = new SqsPoller("fanout", api)
    assert(poller.pollOnce(max = 10) == 5)
    val qn = poller.queue
    val src = ramp(qn)
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val slowIds = new ConcurrentLinkedQueue[String]()
    val slow = src.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      if (batchId == 0) { entered.countDown(); gate.await(60, TimeUnit.SECONDS) }
      b.select("id").as[String].collect().foreach(slowIds.add)
    }.start()
    var fast: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "slow query never reached batch 0")
      fast = src.writeStream.format("memory").queryName("fanout_fast").start()
      fast.processAllAvailable()
      api.send("fanout", "body6")
      assert(poller.pollOnce() == 1)
      fast.processAllAvailable() // batch 1 delivers the fast query's commit(batch 0)
      assert(spark.table("fanout_fast").count() == 6)
      assert(eventually()(QueueRamp.readerPositions(qn) == Seq(0L, 5L)),
        s"readers=${QueueRamp.readerPositions(qn)}")
      assert(intercept[IllegalStateException](QueueRamp.commitUpTo(qn, 5)).getMessage
        .contains("2 reader hold(s)"), "a read queue takes its commits from its readers")
      assert(QueueRamp.committed(qn) == 0L, "acked before the slow query sank batch 0")
      assert(api.remaining("fanout") == 6, "SQS delete fired before the slow query sank batch 0")
      gate.countDown()
      slow.processAllAvailable()
      assert(eventually()(QueueRamp.committed(qn) == 5L), s"committed=${QueueRamp.committed(qn)}")
      assert(eventually()(api.remaining("fanout") == 1), s"remaining=${api.remaining("fanout")}")
      assert(slowIds.asScala.toSet == spark.table("fanout_fast").select("id").as[String].collect().toSet)
      assert(slowIds.size == 6)
    } finally {
      gate.countDown()
      slow.stop()
      if (fast != null) fast.stop()
    }
    // both checkpoints were temporary: Spark deletes them on stop, and
    // with them the holds, so the queue takes direct commits again
    assert(eventually()(scala.util.Try(QueueRamp.commitUpTo(qn, 6)).isSuccess),
      s"holds=${QueueRamp.readerPositions(qn)}")
    assert(api.remaining("fanout") == 0)
    QueueRamp.drop(qn)
  }

  test("retention: after k committed batches the queue holds only the uncommitted messages") {
    val qn = "ramp-retention"
    QueueRamp.drop(qn)
    QueueRamp.enqueue(qn, (0 until 20).map(i => entry(i, s"m$i")))
    val q = ramp(qn, maxPerTrigger = 4).writeStream.format("memory").queryName("retention_out").start()
    try {
      q.processAllAvailable()
      assert(eventually()(spark.table("retention_out").count() == 20))
      // five batches of 4: the commits of batches 0-3 arrived, batch 4's waits for a batch 5
      assert(eventually()(QueueRamp.committed(qn) == 16L), s"committed=${QueueRamp.committed(qn)}")
      assert(QueueRamp.size(qn) == 20L)
      assert(QueueRamp.retained(qn) == 4)
      assert(QueueRamp.slice(qn, 16, 20).map(_.id) == ids(16, 20))
    } finally q.stop()
    QueueRamp.drop(qn)
  }

  test("released offsets: a read below the base throws, and so does a query that starts after the release") {
    val qn = "ramp-released"
    QueueRamp.drop(qn)
    QueueRamp.enqueue(qn, (0 until 10).map(i => entry(i, s"m$i")))
    QueueRamp.commitUpTo(qn, 6)
    val e = intercept[IllegalStateException](QueueRamp.slice(qn, 3, 8))
    assert(e.getMessage.contains(s"queue '$qn'") && e.getMessage.contains("offset 3") &&
      e.getMessage.contains("base 6"), e.getMessage)
    assert(QueueRamp.slice(qn, 6, 8).map(_.id) == ids(6, 8))
    // a new query starts at offset 0, which no longer exists: it fails, it does not skip
    val ckpt = java.nio.file.Files.createTempDirectory("ramp_released")
    val late = ramp(qn).writeStream.format("memory").queryName("released_out")
      .option("checkpointLocation", ckpt.toString).start()
    val err = intercept[StreamingQueryException](late.awaitTermination(60000))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(chain.contains(s"queue '$qn'") && chain.contains("was released (base 6)"), chain)
    // the failed query could restart from its checkpoint, so it keeps its
    // hold; deleting the checkpoint releases it
    assert(QueueRamp.readerPositions(qn) == Seq(6L))
    assert(intercept[IllegalStateException](QueueRamp.commitUpTo(qn, 8)).getMessage.contains("1 reader hold(s)"))
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    QueueRamp.commitUpTo(qn, 8)
    assert(QueueRamp.readerPositions(qn).isEmpty)
    assert(QueueRamp.slice(qn, 8, 10).map(_.id) == ids(8, 10))
    QueueRamp.drop(qn)
  }

  test("restart: a reader resumed from its checkpoint reads exactly the unsunk suffix") {
    val qn = "ramp-restart"
    QueueRamp.drop(qn)
    val ckpt = java.nio.file.Files.createTempDirectory("ramp_restart").toString
    val seen = new ConcurrentLinkedQueue[String]()
    def start() = ramp(qn).writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => b.select("id").as[String].collect().foreach(seen.add) }
      .start()
    def seenSorted = seen.asScala.toVector.sortBy(_.toInt)

    QueueRamp.enqueue(qn, (0 until 10).map(i => entry(i, s"m$i")))
    val first = start()
    first.processAllAvailable()
    QueueRamp.enqueue(qn, (10 until 15).map(i => entry(i, s"m$i")))
    first.processAllAvailable() // batch 1 delivers commit(batch 0)
    assert(eventually()(QueueRamp.committed(qn) == 10L))
    first.stop()
    assert(QueueRamp.readerPositions(qn) == Seq(10L), "a stopped query keeps its hold for a restart")
    assert(QueueRamp.retained(qn) == 5, "batch 1 is sunk but its commit never arrived")
    assert(seenSorted == ids(0, 15))

    seen.clear()
    QueueRamp.enqueue(qn, (15 until 20).map(i => entry(i, s"m$i")))
    val second = start()
    try {
      second.processAllAvailable()
      assert(seenSorted == ids(15, 20), "the restart must read only what the checkpoint has not sunk")
      QueueRamp.enqueue(qn, Seq(entry(20, "flush")))
      second.processAllAvailable()
      assert(seenSorted == ids(15, 21))
      assert(eventually()(QueueRamp.committed(qn) == 20L), s"committed=${QueueRamp.committed(qn)}")
      assert(QueueRamp.retained(qn) == 1)
    } finally second.stop()
    QueueRamp.drop(qn)
  }

  test("restart: a stopped sink of a two-query Pipeline resumes while the other ran ahead") {
    val qn = "ramp-pipeline-restart"
    QueueRamp.drop(qn)
    val acks = new AckRecorder(qn)
    val dir = java.nio.file.Files.createTempDirectory("ramp_pipeline_restart").toString
    val sunk = new ConcurrentLinkedQueue[String]()
    def run() = Pipeline(spark)
      .addRamp("in", ramp(qn).select(col("id"), col("content"), col("groupingValue"))
        .as[(String, String, Option[String])].map { case (id, c, g) => Message(id, c, g) })
      .addIntersection("in", "out", Intersection[String, String]("Pass")(Iterator(_)), Grouping.Random)
      .withDeadLetterStream()
      .addSink("out", StreamSink.ForeachBatch((b: DataFrame, _: Long) =>
        b.select("id").as[String].collect().foreach(sunk.add), checkpointDir = Some(s"$dir/out")), "restart_out")
      .addSink(Pipeline.DeadLetterStream, StreamSink.ForeachBatch((_: DataFrame, _: Long) => (),
        checkpointDir = Some(s"$dir/dead")), "restart_dead")
      .run()
    def feed(from: Int, until: Int) = QueueRamp.enqueue(qn, (from until until).map(i => entry(i, s"m$i")))

    feed(0, 10)
    val first = run()
    val Seq(out, dead) = first.queries
    first.processAllAvailable()
    feed(10, 15)
    first.processAllAvailable() // batch 1 delivers both queries' commit(batch 0)
    assert(eventually()(QueueRamp.committed(qn) == 10L), s"committed=${QueueRamp.committed(qn)}")
    out.stop() // it has sunk 0-14, and committed 0-9 to the queue
    feed(15, 20)
    dead.processAllAvailable()
    feed(20, 25)
    dead.processAllAvailable()
    assert(eventually()(QueueRamp.readerPositions(qn) == Seq(10L, 20L)), s"holds=${QueueRamp.readerPositions(qn)}")
    assert(QueueRamp.committed(qn) == 10L, "acked past what the stopped sink has committed")
    assert(acks.acked == ids(0, 10))
    dead.stop()

    val second = run()
    try {
      second.processAllAvailable()
      feed(25, 26)
      second.processAllAvailable()
      feed(26, 27)
      second.processAllAvailable() // both queries' commit(26) arrives
      assert(eventually()(sunk.size == 27), s"sunk=${sunk.size}")
      assert(sunk.asScala.toVector.sortBy(_.toInt) == ids(0, 27), "each message sinks exactly once")
      assert(eventually()(QueueRamp.committed(qn) == 26L), s"committed=${QueueRamp.committed(qn)}")
      assert(acks.acked == ids(0, 26))
    } finally second.stop()
    QueueRamp.drop(qn)
  }

  test("offsets past Int.MaxValue: slice, size and commitUpTo stay exact") {
    val qn = "ramp-wide"
    QueueRamp.drop(qn)
    val b = Int.MaxValue.toLong - 2
    QueueRamp.startAt(qn, b)
    val acks = new AckRecorder(qn)
    assert(QueueRamp.size(qn) == b)
    def wide(i: Int) = QueueRamp.Entry(s"w$i", s"c$i", null, 0L)
    assert(QueueRamp.enqueue(qn, (0 until 6).map(wide)) == b)
    assert(QueueRamp.size(qn) == b + 6)
    assert(QueueRamp.slice(qn, b + 1, b + 5).map(_.id) == Seq("w1", "w2", "w3", "w4"))
    assert(QueueRamp.slice(qn, b + 5, b + 9).map(_.id) == Seq("w5"))
    QueueRamp.commitUpTo(qn, b + 4)
    assert(QueueRamp.committed(qn) == b + 4)
    assert(acks.acked == Seq("w0", "w1", "w2", "w3"))
    assert(QueueRamp.retained(qn) == 2)
    assert(QueueRamp.size(qn) == b + 6)
    assert(QueueRamp.slice(qn, b + 4, b + 6).map(_.id) == Seq("w4", "w5"))
    assert(QueueRamp.enqueue(qn, Seq(wide(6))) == b + 6)
    val e = intercept[IllegalStateException](QueueRamp.slice(qn, b + 3, b + 5))
    assert(e.getMessage.contains(s"offset ${b + 3}") && e.getMessage.contains(s"base ${b + 4}"), e.getMessage)
    QueueRamp.drop(qn)
  }
}

package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.pipeline._
import graft.sinks.UpsertParquetSink
import graft.sources.{QueueRamp, QueueRampProvider}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}

/** Fixed parameters of one stream workload.
  *
  * @param rate          open-loop arrival rate, messages per second
  * @param backlog       messages enqueued at once after the open loop,
  *                      drained to measure throughput
  * @param maxPerTrigger the ramp's admission limit: the drain's batch size
  */
final case class StreamSpec(name: String, rate: Double, backlog: Int, maxPerTrigger: Int)

/** Generated input of one round: content and grouping value per queue
  * position. */
final case class Events(content: Array[String], group: Array[String]) {
  def size: Int = content.length
}

/** Collects every `StreamingQueryProgress` of the session by query id. */
final class ProgressProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val buf = progress.computeIfAbsent(e.progress.id, _ => mutable.ArrayBuffer[StreamingQueryProgress]())
    buf.synchronized(buf += e.progress)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.id)

  /** Progress of a stopped query, once the listener bus has delivered
    * its termination (every progress event precedes it). */
  def awaitAll(id: java.util.UUID, timeoutMs: Long = 30000): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(terminated.contains(id), s"no termination event for query $id")
    Option(progress.get(id)).map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
  }
}

/** Counts `process` calls, emitted messages and failures through the
  * library's instrumentation seam (traced run only). */
final class CountingInstrumentation extends Instrumentation {
  val calls = new AtomicLong
  val emitted = new AtomicLong
  val failures = new AtomicLong
  def around[T](taskName: String)(body: => T): T = {
    calls.incrementAndGet()
    try {
      val r = body
      r match {
        case s: Seq[_] => emitted.addAndGet(s.size)
        case _ =>
      }
      r
    } catch { case e: Throwable => failures.incrementAndGet(); throw e }
  }
}

/** Running count per word — the reference's word-count state. */
final class WordCount extends StatefulIntersection[String, String, Long, (String, Long)] {
  override def name = "Count"
  def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
  def initialState: Long = 0L
  def update(k: String, in: Seq[Message[String]], st: Long): (Long, Seq[Message[(String, Long)]]) = {
    val n = st + in.size
    (n, Seq(Message(k, (k, n), Some(k))))
  }
}

/** What one round measured, and what its output check found. */
final case class RoundResult(
    setupMs: Double,
    pipelineStartMs: Double,
    latenciesMs: Seq[Double],
    batchesBeyondP95: Int,
    drainMsgsPerSec: Double,
    attempted: Long,
    failures: Seq[String],
    progress: Seq[StreamingQueryProgress],
    openRange: (Long, Long),
    lateMs: Seq[Double],
    tableRows: Long,
    replayed: Long,
    heapMb: Double,
    runId: String)

object Streams {

  /** Both streams share one traffic shape:
    *  - `maxPerTrigger` 10,000: `graft.examples.ThroughputMain` feeds its
    *    stream in chunks of 10k messages (200k in 20), close to the
    *    reference's ~12k-message socket buffers that it cites
    *    (`motorway/intersection.py:185-188`);
    *  - `backlog` 100,000: ten of those chunks, so the drain rate rests
    *    on ten full batches;
    *  - `rate` 10,000 msg/s: one chunk a second, under half the wordcount
    *    drain rate (22-24k msg/s on 4 vCPUs when this was written), so the
    *    open loop runs below saturation. */
  val Specs: Map[String, StreamSpec] = Seq(
    StreamSpec("wordcount", rate = 10000, backlog = 100000, maxPerTrigger = 10000),
    StreamSpec("upsert", rate = 10000, backlog = 100000, maxPerTrigger = 10000),
  ).map(s => s.name -> s).toMap

  /** Messages of the batch whose commit ends a pipeline's set-up. */
  val Primer = 200

  /** `ThroughputMain`'s five sentences hold 33 words: 6 per message as
    * it counts them. */
  val WordsPerSentence = 6
  /** Words are Zipf(1.0) over 50,000 words: the exponent of Zipf's law
    * for English word frequencies, over about the number of distinct
    * word forms in the Brown corpus (a million words of English text). */
  val Vocabulary = 50000

  // -- input generation (seeded) ---------------------------------------

  /** Zipf(1.0) ranks over `n` items by inverse-CDF lookup. */
  final class Zipf(n: Int, rng: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r)
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  def generate(workload: String, n: Int, rng: SplittableRandom): Events = {
    val z = new Zipf(Vocabulary, rng)
    workload match {
      case "wordcount" =>
        Events(Array.fill(n)(Array.fill(WordsPerSentence)(word(z.next())).mkString(" ")), Array.fill(n)(null))
      case "upsert" =>
        // one update per message, keyed by a word of the same Zipf draw:
        // a few hot keys take most updates, and rarer keys are still
        // seen for the first time late in a run
        Events(Array.tabulate(n)(i => s"v$i"), Array.fill(n)(word(z.next())))
    }
  }

  // -- topology ----------------------------------------------------------

  def ramp(spark: SparkSession, queue: String, partitions: Int, maxPerTrigger: Int): Dataset[Message[String]] = {
    import spark.implicits._
    spark.readStream.format(classOf[QueueRampProvider].getName)
      .option("queue", queue)
      .option("partitions", partitions.toString)
      .option("maxPerTrigger", maxPerTrigger.toString)
      .load()
      .select(col("id"), col("content"), col("groupingValue"), col("eventTime"))
      .as[Message[String]]
  }

  /** Driver-side record of what the sink received. */
  final class Received {
    val counts = mutable.HashMap[String, Long]()
    val batches = mutable.HashSet[Long]()
    var replayed = 0L
    def seen(batchId: Long): Unit = if (!batches.add(batchId)) replayed += 1
  }

  def start(spark: SparkSession, spec: StreamSpec, queue: String, dir: String, partitions: Int,
      tracer: Tracer, rec: Received): (PipelineRun, Option[UpsertParquetSink]) = {
    import spark.implicits._
    val src = ramp(spark, queue, partitions, spec.maxPerTrigger)
    val ckpt = Some(s"$dir/checkpoint")
    val qn = s"${spec.name}_${queue.hashCode.abs}"
    spec.name match {
      case "wordcount" =>
        val split = Intersection[String, String]("Split") { m =>
          m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
        }
        val sink = (df: DataFrame, batchId: Long) => tracer.span("sink.write") {
          val rows = df.select(col("content._1"), col("content._2")).as[(String, Long)].collect()
          rec.synchronized { rec.seen(batchId); rows.foreach { case (w, c) => rec.counts(w) = c } }
          ()
        }
        val run = Pipeline(spark).addRamp("sentence", src)
          .addIntersection("sentence", "word", split, Grouping.HashRing)
          .addStatefulIntersection("word", "counts", new WordCount)
          .addSink("counts", StreamSink.ForeachBatch(sink, OutputMode.Update, ckpt), qn)
          .run()
        (run, None)
      case "upsert" =>
        val table = new UpsertParquetSink(s"$dir/table", Seq("key"))
        val sink = (df: DataFrame, batchId: Long) => {
          rec.synchronized(rec.seen(batchId))
          val updates = df.select(col("groupingValue").as("key"), col("content").as("value"))
          tracer.span("sink.write")(table.write(updates, batchId))
        }
        val run = Pipeline(spark).addRamp("updates", src)
          .addSink("updates", StreamSink.ForeachBatch(sink, OutputMode.Append, ckpt), qn)
          .run()
        (run, Some(table))
    }
  }

  // -- one round ---------------------------------------------------------

  def entry(events: Events, pos: Int, dueEpochMs: Double): QueueRamp.Entry =
    QueueRamp.Entry(pos.toString, events.content(pos), events.group(pos), (dueEpochMs * 1000).toLong)

  /** Start a fresh pipeline and commit a primer batch (set-up); run the
    * open loop for `warmMs` unmeasured, then `openMs` measured; drain a
    * fixed backlog; stop, and check the sink. The open loop and the
    * drain are the round's `measured` window. */
  def round(spark: SparkSession, spec: StreamSpec, seed: Long, r: Int, warmMs: Long, openMs: Long,
      backlog: Int, workDir: String, partitions: Int, tracer: Tracer, probe: ProgressProbe,
      measured: Measured): RoundResult = {
    val openCount = (spec.rate * (warmMs + openMs) / 1000.0).toInt
    val measuredFrom = Primer + (spec.rate * warmMs / 1000.0).toInt
    val total = Primer + openCount + backlog
    val events = generate(spec.name, total, new SplittableRandom(seed * 1000003L + r))
    val queue = s"${spec.name}-$seed-$r-${System.nanoTime()}"
    val dir = s"$workDir/${spec.name}-$r"
    deleteRecursively(new java.io.File(dir))
    val rec = new Received
    tracer.trace = s"round$r"
    val due = new Array[Double](total)

    // set-up: build and start the topology, commit the primer batch
    val t0 = tracer.nowMs
    val (run, table) = tracer.span("pipeline.start")(start(spark, spec, queue, dir, partitions, tracer, rec))
    val startMs = tracer.nowMs - t0
    val query = run.queries.head
    val primerAt = tracer.nowMs
    (0 until Primer).foreach(i => due(i) = primerAt)
    QueueRamp.enqueue(queue, (0 until Primer).map(i => entry(events, i, primerAt)))
    run.processAllAvailable()
    val setupMs = tracer.nowMs - t0

    // open loop: one generator thread, each message stamped with its due time
    val late = mutable.ArrayBuffer[Double]()
    val gen = new Thread(() => {
      val intervalNs = 1e9 / spec.rate
      val startNs = System.nanoTime() + 1000000L
      val startEpochMs = tracer.nowMs + 1.0
      var next = 0
      while (next < openCount) {
        val now = System.nanoTime()
        val dueCount = math.min(openCount, ((now - startNs) / intervalNs).toInt + 1)
        if (now >= startNs && dueCount > next) {
          val batch = (next until dueCount).map { i =>
            val pos = Primer + i
            due(pos) = startEpochMs + i * intervalNs / 1e6
            entry(events, pos, due(pos))
          }
          late += (now - startNs - next * intervalNs) / 1e6
          tracer.span("gen.enqueue")(QueueRamp.enqueue(queue, batch))
          next = dueCount
        } else {
          val wait = startNs + (next * intervalNs).toLong - now
          if (wait > 0) LockSupport.parkNanos(wait)
        }
      }
    }, "open-loop-generator")
    // drain: a fixed backlog at once, admitted maxPerTrigger at a time
    val b0 = Primer + openCount
    var drainSec = 0.0
    def openAndDrain(): Unit = {
      if (openCount > 0) {
        gen.start()
        gen.join()
        run.processAllAvailable()
      }
      val backlogAt = tracer.nowMs
      (b0 until total).foreach(i => due(i) = backlogAt)
      val d0 = System.nanoTime()
      if (backlog > 0) tracer.span("drain") {
        QueueRamp.enqueue(queue, (b0 until total).map(i => entry(events, i, backlogAt)))
        run.processAllAvailable()
      }
      drainSec = (System.nanoTime() - d0) / 1e9
    }
    if (openCount + backlog > 0) measured(openAndDrain()) else openAndDrain()
    val heapMb = Main.heapAfterGcMb() // with the pipeline's state still live
    run.stop()
    val progress = probe.awaitAll(query.id).filter(_.numInputRows > 0)
    QueueRamp.drop(queue)

    // latency: due time to the end of the batch holding the message
    val openRange = (measuredFrom.toLong, b0.toLong)
    val perBatch = progress.map { p =>
      val s = Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(0L)
      val e = p.sources.head.endOffset.trim.toLong
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toDouble
      tracer.observed("batch", s"round$r", end - p.durationMs.get("triggerExecution").toDouble, end)
      (math.max(s, openRange._1) until math.min(e, openRange._2)).map(i => end - due(i.toInt))
    }
    val lat = perBatch.flatten
    val p95 = Stats.percentile(lat, 95)
    val beyond = perBatch.count(_.exists(_ > p95))

    val (attempted, failures, tableRows) = check(spec.name, events, rec, table, spark)
    RoundResult(setupMs, startMs, lat, beyond, backlog / drainSec, attempted, failures, progress,
      openRange, late.toSeq, tableRows, rec.replayed, heapMb, query.runId.toString)
  }

  // -- output checks (outside every timed span) -------------------------

  /** The final counts equal a driver-side count of the generated words. */
  def checkCounts(expected: Map[String, Long], got: collection.Map[String, Long]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.collect {
      case w if expected.get(w) != got.get(w) => s"word $w: count ${got.get(w)} != ${expected.get(w)}"
    }

  /** The final table equals the last write per key. */
  def checkLastWrite(expected: Map[String, String], got: Seq[(String, String)]): Seq[String] = {
    val dup = got.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => s"key $k appears ${vs.size} times" }
    val table = got.toMap
    dup.toSeq ++ (expected.keySet ++ table.keySet).toSeq.sorted.collect {
      case k if expected.get(k) != table.get(k) => s"key $k: ${table.get(k)} != last write ${expected.get(k)}"
    }
  }

  def check(workload: String, events: Events, rec: Received, table: Option[UpsertParquetSink],
      spark: SparkSession): (Long, Seq[String], Long) = workload match {
    case "wordcount" =>
      val expected = mutable.HashMap[String, Long]()
      events.content.foreach(_.split(" ").foreach(w => expected(w) = expected.getOrElse(w, 0L) + 1))
      (expected.size.toLong, checkCounts(expected.toMap, rec.counts), 0L)
    case "upsert" =>
      val expected = events.group.zip(events.content).toMap // later writes overwrite earlier ones
      import spark.implicits._
      val got = table.get.read(spark).select("key", "value").as[(String, String)].collect().toSeq
      (expected.size.toLong, checkLastWrite(expected, got), got.size.toLong)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

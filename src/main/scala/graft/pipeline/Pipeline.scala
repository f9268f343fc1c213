package graft.pipeline

import graft.streaming.LocalCheckpointFileManager
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import scala.collection.mutable

/** Declarative topology builder — the Spark mapping of motorway's
  * `Pipeline.definition()` / `add_ramp` / `add_intersection`
  * (`motorway/pipeline.py:17-142`).
  *
  * Differences by design (SURVEY.md §3.1, §7):
  *  - a "stream" is a named `Dataset[Message[T]]` edge, not a ZMQ queue;
  *  - `processes=N` parallelism ≙ partition counts, set via [[Grouping]]
  *    (`spark.sql.shuffle.partitions` by default);
  *  - supervision (5s liveness loop, `pipeline.py:127-135`) ≙ Spark task
  *    retry + query restart from checkpoint;
  *  - the controller/discovery/webserver system operators
  *    (`pipeline.py:108-116`) are not processes here: acking ≙ offset
  *    commit, discovery ≙ cluster manager, stats ≙
  *    [[graft.streaming.PipelineStatsListener]].
  *
  * Dead letters: every intersection's failures flow to the reserved
  * stream `Pipeline.DeadLetterStream`, queryable like any other stream
  * (≙ controller `failed_messages` drill-down `controller.py:216-225`).
  */
final class Pipeline(val spark: SparkSession) {
  import Pipeline._

  private val streams = mutable.LinkedHashMap[String, Dataset[_]]()
  private val sinks = mutable.ArrayBuffer[SinkDef]()
  private val deadLetterSources = mutable.ArrayBuffer[Dataset[DeadLetter]]()

  def stream[T](name: String): Dataset[Message[T]] =
    streams.getOrElse(name, throw new NoSuchElementException(
      s"undeclared stream '$name' (declared: ${streams.keys.mkString(", ")})"))
      .asInstanceOf[Dataset[Message[T]]]

  /** ≙ `add_ramp(RampCls, 'out_stream')` — any Dataset of messages can
    * be a ramp: MemoryStream-backed (tests), rate/file/kafka readStream,
    * or a custom DataSource V2 (graft.sources). */
  def addRamp[T](outStream: String, ds: Dataset[Message[T]]): Pipeline = {
    require(!streams.contains(outStream), s"stream '$outStream' already bound")
    streams(outStream) = ds
    this
  }

  /** ≙ `add_intersection(cls, 'in', 'out', grouper_cls=...)`. */
  def addIntersection[I, O](
      inStream: String, outStream: String, op: Intersection[I, O],
      grouping: Grouping = Grouping.Random, partitions: Int = 0)(
      implicit oe: Encoder[Message[O]], de: Encoder[DeadLetter]): Pipeline = {
    val src = stream[I](inStream)
    val n = if (partitions > 0) partitions else spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    // process depends only on its message (see Intersection), so a hash exchange buys nothing;
    // into one partition, coalesce places messages as that hash would, with no shuffle
    val in = grouping match {
      case Grouping.HashRing if n == 1 => src.coalesce(1)
      case Grouping.HashRing => Grouping(Grouping.Random, src, partitions)
      case g => Grouping(g, src, partitions)
    }
    streams(outStream) = in.flatMap(m => Intersection.safeProcess(op, m).getOrElse(Seq.empty))
    deadLetterSources += in.flatMap(m => Intersection.safeProcess(op, m).swap.toOption)
    this
  }

  /** Batch-at-a-time operator (≙ `@batch_process`). */
  def addBatchIntersection[I, O](
      inStream: String, outStream: String, op: BatchIntersection[I, O],
      grouping: Grouping = Grouping.Random, partitions: Int = 0)(
      implicit oe: Encoder[Message[O]]): Pipeline = {
    val in = Grouping(grouping, stream[I](inStream), partitions)
    streams(outStream) = in.mapPartitions(op.asPartitionFn)
    this
  }

  /** Keyed stateful operator over `flatMapGroupsWithState` — keyed,
    * checkpointed state (strict upgrade over the reference's in-memory
    * dicts, SURVEY.md §2.4 "Stateful streaming ops"). */
  def addStatefulIntersection[K, I, S, O](
      inStream: String, outStream: String, op: StatefulIntersection[K, I, S, O])(
      implicit ke: Encoder[K], oe: Encoder[Message[O]], se: Encoder[S]): Pipeline = {
    val in = stream[I](inStream)
    val timeoutConf =
      if (op.timeoutMillis.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val out = in.groupByKey(op.key)
      .flatMapGroupsWithState[S, Message[O]](OutputMode.Update, timeoutConf) {
        (key: K, it: Iterator[Message[I]], gs: GroupState[S]) =>
          if (gs.hasTimedOut) {
            val st = gs.getOption.getOrElse(op.initialState)
            gs.remove()
            op.onTimeout(key, st).iterator
          } else {
            val st = gs.getOption.getOrElse(op.initialState)
            val (newState, outs) = op.update(key, it.toSeq, st)
            gs.update(newState)
            op.timeoutMillis.foreach(gs.setTimeoutDuration)
            outs.iterator
          }
      }
    streams(outStream) = out
    this
  }

  /** Keyed stateful operator over the modern `transformWithState` API
    * (Spark 4 StatefulProcessor): typed state variables, timers, TTL —
    * the forward-looking twin of [[addStatefulIntersection]]. The
    * processor must require the RocksDB state store provider at scale;
    * tests run it with the default provider. */
  def addProcessorIntersection[K, I, O](
      inStream: String, outStream: String,
      keyFn: Message[I] => K,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[K, Message[I], Message[O]])(
      implicit ke: Encoder[K], oe: Encoder[Message[O]]): Pipeline = {
    val in = stream[I](inStream)
    streams(outStream) = in.groupByKey(keyFn)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update)
    this
  }

  /** Arbitrary relational stage — full DataFrame/Dataset surface over a
    * stream (the capability motorway users hand-coded in `process()`
    * bodies; here it's just Catalyst). */
  def addRelational[I, O](inStream: String, outStream: String)(
      f: Dataset[Message[I]] => Dataset[O]): Pipeline = {
    streams(outStream) = f(stream[I](inStream))
    this
  }

  /** Attach a sink to a stream. Multiple sinks on one stream ≙
    * `SendToAllGrouper` fan-out (`grouping.py:46-51`). */
  def addSink(inStream: String, sink: StreamSink, queryName: String = ""): Pipeline = {
    val qn = if (queryName.nonEmpty) queryName else s"$inStream-${sinks.size}"
    sinks += SinkDef(inStream, sink, qn)
    this
  }

  /** Also expose dead letters as a regular stream before `run()`. */
  def withDeadLetterStream()(implicit de: Encoder[DeadLetter]): Pipeline = {
    val dl = deadLetterSources.reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[DeadLetter])
    streams(DeadLetterStream) = dl
    this
  }

  /** ≙ `Pipeline.run()` — start one streaming query per sink. Local
    * checkpoints are written through
    * [[graft.streaming.LocalCheckpointFileManager]] unless the session
    * already names a checkpoint file manager. */
  def run(trigger: Trigger = Trigger.ProcessingTime(0L)): PipelineRun = {
    require(sinks.nonEmpty, "no sinks attached")
    LocalCheckpointFileManager.install(spark)
    val queries = sinks.map { s =>
      s.sink.start(streams(s.inStream), s.queryName, trigger)
    }.toSeq
    PipelineRun(queries)
  }
}

object Pipeline {
  val DeadLetterStream = "_dead_letter"
  def apply(spark: SparkSession): Pipeline = new Pipeline(spark)
  private[pipeline] final case class SinkDef(inStream: String, sink: StreamSink, queryName: String)
}

/** Handle over the started topology (≙ the supervised process group). */
final case class PipelineRun(queries: Seq[StreamingQuery]) {
  /** Drain everything currently available — test/batch-replay mode. */
  def processAllAvailable(): Unit = queries.foreach(_.processAllAvailable())
  def stop(): Unit = queries.foreach(_.stop())
  def awaitAnyTermination(spark: SparkSession): Unit =
    spark.streams.awaitAnyTermination()
}

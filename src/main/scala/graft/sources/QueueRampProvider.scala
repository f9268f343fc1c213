package graft.sources

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import scala.util.Try

/** DataSource V2 micro-batch source implementing the ramp contract
  * (SURVEY.md §2.1 #2, §7.2 step 5):
  *
  *  - offsets = queue positions; `latestOffset` admits everything
  *    currently enqueued, or at most `maxPerTrigger` rows per batch
  *    (admission control ≙ the reference's 3,000-uncompleted
  *    backpressure bound);
  *  - `planInputPartitions(start, end)` splits the range across
  *    `partitions` readers (≙ shard→consumer-thread mapping of the
  *    Kinesis ramp, `contrib/amazon_kinesis/ramps.py:186-315`);
  *  - `commit(end)` fires only after the micro-batch's sink write
  *    succeeded — the correct placement for success() side effects like
  *    SQS delete / Kafka offset commit (SURVEY.md §7.4). Note the
  *    engine delivers it when the NEXT batch is constructed, so acks
  *    lag one batch (same contract as the reference's Kafka ramp, which
  *    commits the oldest uncompleted offset as consumption proceeds,
  *    `contrib/kafka/ramps.py:180-198`). Each stream holds its queue
  *    at the offset it has committed, from construction until its
  *    query's checkpoint is gone, and a message is acked and released
  *    once every hold has committed it, so two queries on one ramp both
  *    sink it first, and a stopped one still finds it on restart (see
  *    [[QueueRamp]]).
  *
  * Usage:
  * {{{
  * spark.readStream
  *   .format("graft.sources.QueueRampProvider")
  *   .option("queue", "myqueue").option("partitions", "4")
  *   .load()
  * }}}
  * Schema: id STRING, content STRING, groupingValue STRING,
  * eventTime TIMESTAMP — the engine Message envelope (FIXTURES.md §1).
  */
class QueueRampProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = QueueRampProvider.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new QueueRampTable(
      properties.getOrDefault("queue", "default"),
      properties.getOrDefault("partitions", "2").toInt,
      properties.getOrDefault("maxPerTrigger", "0").toLong)
}

object QueueRampProvider {
  val Schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("content", StringType),
    StructField("groupingValue", StringType),
    StructField("eventTime", TimestampType)))
}

final class QueueRampTable(queue: String, partitions: Int, maxPerTrigger: Long) extends Table with SupportsRead {
  override def name(): String = s"queue_ramp($queue)"
  override def schema(): StructType = QueueRampProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = QueueRampProvider.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new QueueRampStream(queue, partitions, maxPerTrigger, checkpointLocation)
    }
}

final case class QueuePosition(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

final class QueueRampStream(queue: String, partitions: Int, maxPerTrigger: Long, checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {
  // Spark passes `<query checkpoint>/sources/<n>`. A stopped query can
  // resume while its checkpoint exists; Spark deletes a temporary one
  // on stop. An unreadable filesystem counts as resumable.
  private val reader = {
    val ckpt = new Path(checkpointLocation)
    val root = if (ckpt.getParent != null && ckpt.getParent.getName == "sources") ckpt.getParent.getParent else ckpt
    val conf = SparkContext.getOrCreate().hadoopConfiguration
    new QueueRamp.Reader(queue, checkpointLocation,
      () => Try(root.getFileSystem(conf).exists(root)).getOrElse(true))
  }
  // bootstrap: the ramp is startable against a queue nobody has
  // produced to yet (reference get-or-create, amazon_sqs/mixins.py:6-19)
  QueueRamp.register(reader)

  override def initialOffset(): Offset = QueuePosition(0L)
  override def latestOffset(): Offset = QueuePosition(QueueRamp.size(queue))
  override def deserializeOffset(json: String): Offset = QueuePosition(json.toLong)

  // -- admission control (≙ the reference's bounded uncompleted sets:
  // 3,000/shard Kinesis, 3,000/partition + 10,000 global Kafka —
  // SURVEY.md §4.2 "Backpressure"): cap rows admitted per micro-batch.
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger > 0) ReadLimit.maxRows(maxPerTrigger) else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val available = QueueRamp.size(queue)
    val from = start.asInstanceOf[QueuePosition].pos
    // Draining queue (closed shard, fully enqueued): the engine only
    // asks for offsets after `start` once the batch ending at `start`
    // has fully completed, so treating `start` as committed here is
    // exactly commit-equivalent in safety — and it is the ONLY way the
    // tail of a producer-finished queue ever acks, because commit(end)
    // is withheld until a next batch that will never construct (see
    // [[QueueRamp.markDrainable]]). Non-draining queues keep the
    // engine's own commit timing.
    if (QueueRamp.isDrainable(queue)) QueueRamp.commit(reader, from)
    limit match {
      case r: ReadMaxRows => QueuePosition(math.min(available, from + r.maxRows()))
      case _              => QueuePosition(available)
    }
  }

  override def reportLatestOffset(): Offset = QueuePosition(QueueRamp.size(queue))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueuePosition].pos
    val e = end.asInstanceOf[QueuePosition].pos
    val total = (e - s).toInt
    if (total <= 0) return Array.empty
    val n = math.min(partitions, total)
    val per = math.ceil(total.toDouble / n).toInt
    (0 until n).map { i =>
      val from = s + i.toLong * per
      val until = math.min(from + per, e)
      QueueRangePartition(queue, from, until): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new QueueReaderFactory

  /** ≙ ramp.success() for every message in the committed range. */
  override def commit(end: Offset): Unit =
    QueueRamp.commit(reader, end.asInstanceOf[QueuePosition].pos)

  override def stop(): Unit = QueueRamp.stopReader(reader)
}

final case class QueueRangePartition(queue: String, from: Long, until: Long) extends InputPartition

final class QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[QueueRangePartition]
    new PartitionReader[InternalRow] {
      private val entries = QueueRamp.slice(p.queue, p.from, p.until).iterator
      private var current: QueueRamp.Entry = _
      override def next(): Boolean = {
        if (!entries.hasNext) return false
        current = entries.next(); true
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(current.id),
        UTF8String.fromString(current.content),
        if (current.groupingValue == null) null else UTF8String.fromString(current.groupingValue),
        current.eventTimeMicros))
      override def close(): Unit = ()
    }
  }
}

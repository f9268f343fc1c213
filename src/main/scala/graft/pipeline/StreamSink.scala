package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Sink abstraction over `DataStreamWriter` — ≙ motorway's "insert
  * intersections" (kinesis/kafka/sqs/sql writers, SURVEY.md §2.3). */
trait StreamSink extends Serializable {
  def start(ds: Dataset[_], queryName: String, trigger: Trigger): StreamingQuery
}

object StreamSink {
  /** In-memory table sink — test/debug (`format("memory")`). */
  final case class Memory(outputMode: OutputMode = OutputMode.Append) extends StreamSink {
    def start(ds: Dataset[_], queryName: String, trigger: Trigger): StreamingQuery =
      ds.toDF().writeStream
        .format("memory").queryName(queryName)
        .outputMode(outputMode).trigger(trigger).start()
  }

  /** Console sink (≙ the print-to-stdout examples). */
  final case class Console(outputMode: OutputMode = OutputMode.Append) extends StreamSink {
    def start(ds: Dataset[_], queryName: String, trigger: Trigger): StreamingQuery =
      ds.toDF().writeStream.format("console").queryName(queryName)
        .outputMode(outputMode).trigger(trigger).start()
  }

  /** `foreachBatch` sink — the building block for idempotent/upsert
    * writers (≙ `contrib/sql_alchemy/intersections.py:51-98`,
    * `contrib/amazon_kinesis/intersections.py:10-69`). */
  final case class ForeachBatch(
      f: (DataFrame, Long) => Unit,
      outputMode: OutputMode = OutputMode.Update,
      checkpointDir: Option[String] = None) extends StreamSink {
    def start(ds: Dataset[_], queryName: String, trigger: Trigger): StreamingQuery = {
      var w = ds.toDF().writeStream.queryName(queryName)
        .outputMode(outputMode).trigger(trigger)
        .foreachBatch(f)
      checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
      w.start()
    }
  }

  /** Parquet file sink with checkpointing (exactly-once file output). */
  final case class Files(path: String, checkpointDir: String) extends StreamSink {
    def start(ds: Dataset[_], queryName: String, trigger: Trigger): StreamingQuery =
      ds.toDF().writeStream.format("parquet")
        .queryName(queryName)
        .option("path", path)
        .option("checkpointLocation", checkpointDir)
        .outputMode(OutputMode.Append).trigger(trigger).start()
  }
}

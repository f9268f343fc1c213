package graft.sinks

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max_by, monotonically_increasing_id, struct}

/** Keyed upsert into a parquet-backed table — the Spark port of the
  * reference's batch DB upsert (`contrib/sql_alchemy/intersections.py:
  * 51-98`: SELECT existing PKs → bulk UPDATE → bulk INSERT remainder),
  * re-expressed as merge = newBatch ∪ (existing ⟕anti newBatch).
  *
  * Runs inside `foreachBatch`, so together with a checkpoint dir this
  * upgrades the reference's at-least-once + idempotent-sink contract to
  * effective exactly-once (SURVEY.md §2.4). Against a real warehouse the
  * same callback body becomes `MERGE INTO` over JDBC; versioned parquet
  * keeps the semantics testable here with zero external services.
  *
  * On disk, `<table>/v<id>/` holds the table as of batch `id`, and the
  * empty file `<table>/_commits/<id>` commits it. The highest committed
  * id is the table's one piece of state: `read` follows it and `write`
  * merges from it. A table in the older layout (one live directory at
  * `<table>` itself) is not read.
  *
  * Scale note: the rewrite cost is O(table), so at 100 TB the target
  * must be a format with merge-on-read (Delta/Iceberg) or a table
  * bucketed on the key where a batch rewrites only the buckets it
  * touches; the batch side only ever shuffles on the key columns.
  */
final class UpsertParquetSink(tablePath: String, keyCols: Seq[String]) extends Serializable {
  require(keyCols.nonEmpty, "upsert requires at least one key column")
  private val commits = new Path(tablePath, "_commits")
  private def version(id: Long): String = new Path(tablePath, s"v$id").toString
  private def files(spark: SparkSession) =
    new LocalCheckpointFileManager(commits, spark.sparkContext.hadoopConfiguration)

  /** `foreachBatch` callback. The batch's last row per key in delivered
    * order wins (dedup before merge), mirroring last-write-wins in the
    * reference's UPDATE loop.
    *
    * One commit point: the merged table goes to a new `v<batchId>`, then
    * `_commits/<batchId>` is created atomically, as Spark creates its
    * offset and commit log entries. A crash before the commit leaves the old commit, and the replay of
    * the batch redoes it over the old version; a crash after it leaves
    * the new commit, the replay is skipped as already applied, and the
    * next write deletes the leftovers. */
  def write(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fm = files(spark)
    val last = committed(fm)
    if (last.exists(batchId <= _)) return // replayed batch — already applied
    val deduped = lastPerKey(batch)
    val merged = last.fold(deduped) { id =>
      val existing = spark.read.parquet(version(id))
      deduped.unionByName(
        existing.join(deduped, keyCols.map(k => existing(k) === deduped(k)).reduce(_ && _), "left_anti"))
    }
    merged.write.mode("overwrite").parquet(version(batchId))
    fm.createAtomic(new Path(commits, batchId.toString), overwriteIfPossible = false).close()
    (fm.list(new Path(tablePath)).filter(_.getPath.getName.startsWith("v")) ++ fm.list(commits))
      .map(_.getPath).filterNot(p => Set(s"v$batchId", batchId.toString)(p.getName)).foreach(fm.delete)
  }

  /** The highest batch id under `_commits/`; names that are not ids (a
    * crashed commit's temp file) are skipped. */
  private def committed(fm: LocalCheckpointFileManager): Option[Long] =
    if (!fm.exists(commits)) None
    else fm.list(commits).map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption

  /** One row per key: the one delivered last. `monotonically_increasing_id`
    * numbers the rows in delivered order (partition, then position) before
    * any shuffle, and `max_by` keeps each key's highest-numbered row. */
  private def lastPerKey(batch: DataFrame): DataFrame =
    batch.withColumn("__upsert_seq", monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(batch.columns.map(batch.col).toSeq: _*), col("__upsert_seq")).as("__upsert_last"))
      .select("__upsert_last.*")

  def read(spark: SparkSession): DataFrame =
    spark.read.parquet(version(committed(files(spark)).getOrElse(
      throw new IllegalStateException(s"upsert table $tablePath has no committed batch"))))
}

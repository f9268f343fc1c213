package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max_by, monotonically_increasing_id, struct}

/** Keyed upsert into a parquet-backed table — the Spark port of the
  * reference's batch DB upsert (`contrib/sql_alchemy/intersections.py:
  * 51-98`: SELECT existing PKs → bulk UPDATE → bulk INSERT remainder),
  * re-expressed as merge = newBatch ∪ (existing ⟕anti newBatch).
  *
  * Runs inside `foreachBatch`, so together with a checkpoint dir this
  * upgrades the reference's at-least-once + idempotent-sink contract to
  * effective exactly-once (SURVEY.md §2.4). Against a real warehouse the
  * same callback body becomes `MERGE INTO` over JDBC; parquet-swap keeps
  * the semantics testable here with zero external services.
  *
  * Scale note: the rewrite cost is O(table), so at 100 TB the target
  * must be a format with merge-on-read (Delta/Iceberg) or a partitioned
  * table where only touched partitions are swapped; the batch side only
  * ever shuffles on the key columns.
  */
final class UpsertParquetSink(tablePath: String, keyCols: Seq[String]) extends Serializable {
  require(keyCols.nonEmpty, "upsert requires at least one key column")

  /** `foreachBatch` callback. The batch's last row per key in delivered
    * order wins (dedup before merge), mirroring last-write-wins in the
    * reference's UPDATE loop.
    *
    * Batch-id idempotence: a replayed micro-batch (restart between sink
    * write and offset commit) is skipped by comparing against the last
    * applied batch id persisted next to the table — upgrading the
    * at-least-once redelivery to an exactly-once effect. */
  def write(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(tablePath + "__last_batch")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val last = try new String(in.readAllBytes()).trim.toLong finally in.close()
      if (batchId <= last) return // replayed batch — already applied
    }
    val deduped = lastPerKey(batch)
    val cur = new Path(tablePath)
    val merged =
      if (fs.exists(cur)) {
        val existing = spark.read.parquet(tablePath)
        val keep = existing.join(deduped, keyCols.map(k => existing(k) === deduped(k)).reduce(_ && _), "left_anti")
        deduped.unionByName(keep)
      } else deduped
    // write-new-then-swap: the read above is materialized into the tmp
    // dir before the live dir is touched, so readers never see a partial
    // table and the job never overwrites its own input.
    val tmp = new Path(tablePath + s"__tmp_$batchId")
    merged.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(tablePath + s"__old_$batchId")
    if (fs.exists(cur)) fs.rename(cur, old)
    fs.rename(tmp, cur)
    fs.delete(old, true)
    val out = fs.create(marker, true)
    try out.write(batchId.toString.getBytes) finally out.close()
  }

  /** One row per key: the one delivered last. `monotonically_increasing_id`
    * numbers the rows in delivered order (partition, then position) before
    * any shuffle, and `max_by` keeps each key's highest-numbered row. */
  private def lastPerKey(batch: DataFrame): DataFrame =
    batch.withColumn("__upsert_seq", monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(batch.columns.map(batch.col).toSeq: _*), col("__upsert_seq")).as("__upsert_last"))
      .select("__upsert_last.*")

  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(tablePath)
}

package graft.sinks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.pipeline.{Message, Pipeline, StreamSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("upsert sink: update existing keys, insert the rest") {
    // ≙ `contrib/sql_alchemy/intersections.py:51-98` semantics and the
    // sample_tbl(word PK, count) fixture from examples/database.py.
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val sink = new UpsertParquetSink(dir, Seq("word"))
    val b1 = Seq(("oak", 1L), ("cat", 2L)).toDF("word", "count")
    val b2 = Seq(("cat", 5L), ("dog", 1L)).toDF("word", "count")
    sink.write(b1, 0L)
    sink.write(b2, 1L)
    val got = sink.read(spark).as[(String, Long)].collect().toMap
    assert(got == Map("oak" -> 1L, "cat" -> 5L, "dog" -> 1L))
  }

  test("upsert sink skips replayed batch ids (exactly-once effect)") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-replay").toString + "/tbl"
    val sink = new UpsertParquetSink(dir, Seq("word"))
    sink.write(Seq(("oak", 1L)).toDF("word", "count"), 0L)
    sink.write(Seq(("oak", 99L)).toDF("word", "count"), 0L) // redelivery of batch 0
    assert(sink.read(spark).as[(String, Long)].collect().toMap == Map("oak" -> 1L))
    sink.write(Seq(("oak", 2L)).toDF("word", "count"), 1L)  // genuine new batch
    assert(sink.read(spark).as[(String, Long)].collect().toMap == Map("oak" -> 2L))
  }

  // Crash states of `write`, each planted from real runs: batch 0
  // {oak→1, cat→2} committed, batch 1 {cat→5} crashed at one step. The
  // replay of batch 1 and one more batch must give the uninterrupted
  // run's table and leave one version and one commit.
  private val crashBatches = Seq(Seq(("oak", 1L), ("cat", 2L)), Seq(("cat", 5L)), Seq(("dog", 3L)))
  private def writeBatch(sink: UpsertParquetSink, id: Int): Unit =
    sink.write(crashBatches(id).toDF("word", "count"), id.toLong)
  private def tableAfter(batches: Int): (Path, UpsertParquetSink) = {
    val dir = Files.createTempDirectory("upsert-crash").resolve("tbl")
    val sink = new UpsertParquetSink(dir.toString, Seq("word"))
    (0 until batches).foreach(writeBatch(sink, _))
    (dir, sink)
  }
  private def copyInto(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.toList.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally all.close()
  }
  private def names(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSeq.sorted

  Seq[(String, (Path, Path) => Unit)](
    "(a): v1 half-written, commit at 0" -> { (done: Path, crashed: Path) =>
      copyInto(done.resolve("v1"), crashed.resolve("v1"))
      Files.delete(crashed.resolve("v1/_SUCCESS"))
      Files.list(crashed.resolve("v1")).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.write(p, Files.readAllBytes(p).take(Files.size(p).toInt / 2)))
    },
    "(b): v1 complete, commit at 0" -> { (done: Path, crashed: Path) =>
      copyInto(done.resolve("v1"), crashed.resolve("v1"))
    },
    "(c): commit at 1, v0 and commit 0 not yet deleted" -> { (done: Path, crashed: Path) =>
      copyInto(done.resolve("v1"), crashed.resolve("v1"))
      copyInto(done.resolve("_commits"), crashed.resolve("_commits"))
    }
  ).foreach { case (state, plant) =>
    test(s"upsert sink crash state $state") {
      val (done, doneSink) = tableAfter(2)
      val (crashed, sink) = tableAfter(1)
      plant(done, crashed)
      writeBatch(sink, 1) // at-least-once replay of the crashed batch
      writeBatch(sink, 2)
      writeBatch(doneSink, 2)
      val want = doneSink.read(spark).as[(String, Long)].collect().toMap
      assert(want == Map("oak" -> 1L, "cat" -> 5L, "dog" -> 3L))
      assert(sink.read(spark).as[(String, Long)].collect().toMap == want)
      assert(names(crashed) == Seq("_commits", "v2"))
      assert(names(crashed.resolve("_commits")) == Seq("2"))
    }
  }

  test("upsert sink read fails naming the table before its first commit") {
    val dir = Files.createTempDirectory("upsert-empty").resolve("tbl").toString
    val e = intercept[IllegalStateException](new UpsertParquetSink(dir, Seq("k")).read(spark))
    assert(e.getMessage.contains(dir))
  }

  test("upsert sink dedupes within a batch (last write wins per key)") {
    val dir = java.nio.file.Files.createTempDirectory("upsert2").toString + "/tbl"
    val sink = new UpsertParquetSink(dir, Seq("k"))
    sink.write(Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v"), 0L)
    assert(sink.read(spark).count() == 2)
    assert(sink.read(spark).as[(Int, String)].collect().toMap == Map(1 -> "b", 2 -> "c"))
  }

  test("upsert sink keeps each key's last row in delivered order across partitions") {
    val dir = java.nio.file.Files.createTempDirectory("upsert-order").toString + "/tbl"
    val sink = new UpsertParquetSink(dir, Seq("k"))
    sink.write(Seq((0L, -1L)).toDF("k", "v"), 0L)
    // 8 partitions of ids in order; every key repeats 100 times, and its
    // last delivered row is its largest id
    val batch = spark.range(0L, 1000L, 1L, 8).selectExpr("id % 10 AS k", "id AS v")
    sink.write(batch, 1L)
    val got = sink.read(spark).as[(Long, Long)].collect().toMap
    assert(got == (0L until 10L).map(k => k -> (990L + k)).toMap)
    assert(sink.read(spark).columns.toSeq == Seq("k", "v"))
  }

  test("upsert sink works as a streaming foreachBatch sink") {
    val dir = java.nio.file.Files.createTempDirectory("upsert3").toString + "/tbl"
    val sink = new UpsertParquetSink(dir, Seq("id"))
    val input = MemoryStream[Message[String]](spark, 2)
    val run = Pipeline(spark)
      .addRamp("s", input.toDS())
      .addSink("s", StreamSink.ForeachBatch(
        (df, id) => sink.write(df.selectExpr("id", "content"), id),
        OutputMode.Append), "upsert_q")
      .run()
    input.addData(Seq(Message("1", "first"), Message("2", "second")))
    run.processAllAvailable()
    input.addData(Seq(Message("1", "updated")))
    run.processAllAvailable()
    run.stop()
    val got = sink.read(spark).as[(String, String)].collect().toMap
    assert(got == Map("1" -> "updated", "2" -> "second"))
  }

  test("console stream sink starts its query under the pipeline's query name") {
    val input = MemoryStream[Message[String]](spark, 1)
    val run = Pipeline(spark).addRamp("s", input.toDS())
      .addSink("s", StreamSink.Console(), "console_q").run()
    try assert(run.queries.map(_.name) == Seq("console_q")) finally run.stop()
  }

  test("retrying writer: retryables succeed, hard failures surface") {
    import RetryingBatchWriter._
    var calls = 0
    val result = writeAll(Seq(1, 2, 3, 4), maxBatch = 2, maxRetries = 3) { chunk =>
      calls += 1
      chunk.map {
        case 2 if calls <= 2 => Retryable // succeeds on a later attempt
        case 3               => Hard("validation failed")
        case _               => Ok
      }
    }
    assert(result.succeeded.toSet == Set(1, 2, 4))
    assert(result.failed.map(_._1) == Seq(3))
    assert(result.failed.head._2 == "validation failed")
  }

  test("retrying writer: retries exhausted becomes a failure") {
    import RetryingBatchWriter._
    val result = writeAll(Seq(9), maxRetries = 2)(_.map(_ => Retryable))
    assert(result.succeeded.isEmpty)
    assert(result.failed.head._2.contains("retries exhausted"))
  }
}

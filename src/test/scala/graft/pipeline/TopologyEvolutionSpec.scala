package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import graft.SparkSpecBase
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Motorway's headline claim is hot-swappable topology evolution
  * (`README.md:8,24`): change the pipeline, restart, keep going. The
  * Spark mapping is restart-from-checkpoint with a changed topology:
  * Spark permits adding/removing STATELESS stages around an unchanged
  * stateful core (offsets + keyed state restore; the new plan resumes
  * exactly), while a changed STATE SCHEMA is rejected by state-schema
  * validation — the failure must be loud at restart, never silent
  * corruption. Both halves of that contract are pinned here.
  *
  * This is also the deliberate catch-point for state-format changes
  * (the round-9 lesson: ClickWindow gained `maxUs` and
  * StreamingBurst's TypeState renamed its frontier field — both
  * checkpoint-incompatible; restarting either from a pre-change
  * checkpoint must fail validation, not decode garbage).
  */
class TopologyEvolutionSpec extends SparkSpecBase {
  import spark.implicits._

  private val firstHalf = Seq(
    "Oak is strong and also gives shade",
    "Cats and dogs each hate the other",
    "The pipe began to rust while new",
    "Open the crate but don't break the glass",
    "Add the sum to the product of these three")
  private val secondHalf = Seq(
    "Thieves who rob friends deserve jail",
    "The ripe taste of cheese improves with age",
    "Act on these orders with great speed",
    "The hog crawled under the high fence",
    "Move the vat over the hot fire")

  object SplitIntersection extends Intersection[String, String] {
    def process(m: Message[String]): Iterator[Message[String]] =
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
  }

  object CountIntersection extends StatefulIntersection[String, String, Long, (String, Long)] {
    def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
    def initialState: Long = 0L
    def update(key: String, inputs: Seq[Message[String]], state: Long): (Long, Seq[Message[(String, Long)]]) = {
      val n = state + inputs.size
      (n, Seq(Message(key, (key, n), Some(key))))
    }
  }

  test("restart from checkpoint with an added downstream stage: counts continue exactly") {
    val ckpt = java.nio.file.Files.createTempDirectory("topo_evo").toString + "/ckpt"
    val input = MemoryStream[Message[String]](spark, 2)
    // latest-count upsert table shared across both topology generations
    val table = new ConcurrentHashMap[String, Long]()

    // generation 1: sentence → split → count → sink
    val sinkV1 = StreamSink.ForeachBatch({ (df, _) =>
      df.selectExpr("content._1", "content._2").as[(String, Long)]
        .collect().foreach { case (w, c) => table.put(w, c) }
    }, OutputMode.Update, Some(ckpt))
    val run1 = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing, partitions = 4)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addSink("counts", sinkV1, "evo_wc")
      .run()
    input.addData(firstHalf.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
    run1.processAllAvailable()
    run1.stop()
    val afterV1 = Map.from(scala.jdk.CollectionConverters.MapHasAsScala(table).asScala)
    val expectedV1 = firstHalf.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(afterV1 == expectedV1)

    // generation 2: SAME checkpoint, SAME stateful core, plus a new
    // stateless downstream stage (the hot-swap) — "word=count" lines
    val format = Intersection[(String, Long), String]("FormatStage") { m =>
      Iterator.single(m.spinOff(s"${m.content._1}=${m.content._2}", Some(m.content._1)))
    }
    val sinkV2 = StreamSink.ForeachBatch({ (df, _) =>
      df.select("content").as[String].collect().foreach { line =>
        val Array(w, c) = line.split("=", 2)
        table.put(w, c.toLong)
      }
    }, OutputMode.Update, Some(ckpt))
    val run2 = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing, partitions = 4)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addIntersection("counts", "formatted", format)
      .addSink("formatted", sinkV2, "evo_wc")
      .run()
    input.addData(secondHalf.zipWithIndex.map { case (s, i) => Message((100 + i).toString, s) })
    run2.processAllAvailable()
    run2.stop()

    // counts CONTINUE: cross-half words sum both halves (state restored,
    // not reset), first-half-only words keep their v1 totals, and
    // nothing double-counts (offsets restored — the second run never
    // re-read the first half)
    val got = Map.from(scala.jdk.CollectionConverters.MapHasAsScala(table).asScala)
    val expectedAll = (firstHalf ++ secondHalf).flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expectedAll,
      s"diverged after evolution: ${got.toSet.diff(expectedAll.toSet).take(5)} vs ${expectedAll.toSet.diff(got.toSet).take(5)}")
  }

  test("restart across the HashRing routing change: the old hash-shuffled plan's checkpoint resumes exactly") {
    val ckpt = java.nio.file.Files.createTempDirectory("topo_route").toString + "/ckpt"
    val input = MemoryStream[Message[String]](spark, 2)
    val table = new ConcurrentHashMap[String, Long]()
    def sink() = StreamSink.ForeachBatch({ (df, _) =>
      df.selectExpr("content._1", "content._2").as[(String, Long)]
        .collect().foreach { case (w, c) => table.put(w, c) }
    }, OutputMode.Update, Some(ckpt))

    // generation 1: the earlier wiring, which hash-shuffled the split's
    // input on groupingValue before a HashRing intersection
    val run1 = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addRelational[String, Message[String]]("sentence", "keyed")(_.repartition(col("groupingValue")))
      .addIntersection("keyed", "word", SplitIntersection)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addSink("counts", sink(), "route_wc")
      .run()
    input.addData(firstHalf.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
    run1.processAllAvailable()
    run1.stop()

    // generation 2: same checkpoint, HashRing routed in place
    val run2 = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addSink("counts", sink(), "route_wc")
      .run()
    input.addData(secondHalf.zipWithIndex.map { case (s, i) => Message((100 + i).toString, s) })
    run2.processAllAvailable()
    val readByRun2 = run2.queries.head.recentProgress.map(_.numInputRows).sum
    run2.stop()

    assert(readByRun2 == secondHalf.size, s"the restarted query read $readByRun2 sentences")
    val got = Map.from(scala.jdk.CollectionConverters.MapHasAsScala(table).asScala)
    val expectedAll = (firstHalf ++ secondHalf).flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expectedAll,
      s"diverged after the routing change: ${got.toSet.diff(expectedAll.toSet).take(5)} vs ${expectedAll.toSet.diff(got.toSet).take(5)}")
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, before)
  }

  test("HashRing's one-partition routing resumes exactly when the shuffle partition count changes across a restart") {
    val ckpt = java.nio.file.Files.createTempDirectory("topo_parts").toString + "/ckpt"
    val input = MemoryStream[Message[String]](spark, 2)
    val table = new ConcurrentHashMap[String, Long]()
    def start() = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addSink("counts", StreamSink.ForeachBatch({ (df, _) =>
        df.selectExpr("content._1", "content._2").as[(String, Long)]
          .collect().foreach { case (w, c) => table.put(w, c) }
      }, OutputMode.Update, Some(ckpt)), "parts_wc")
      .run()

    // generation 1 on four shuffle partitions: the count's state has four
    val run1 = withShufflePartitions(4)(start())
    input.addData(firstHalf.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
    run1.processAllAvailable()
    run1.stop()

    // generation 2 on one: the split's input is coalesced to one
    // partition, while the checkpoint still pins the state to four
    val run2 = withShufflePartitions(1)(start())
    input.addData(secondHalf.zipWithIndex.map { case (s, i) => Message((100 + i).toString, s) })
    run2.processAllAvailable()
    val readByRun2 = run2.queries.head.recentProgress.map(_.numInputRows).sum
    val plan2 = run2.queries.head.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    run2.stop()

    assert(plan2.collect { case c: CoalesceExec => c.numPartitions } == Seq(1), s"expected one coalesce:\n$plan2")
    assert(plan2.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions } == Seq(4),
      s"expected one 4-way exchange into the restored state:\n$plan2")
    assert(readByRun2 == secondHalf.size, s"the restarted query read $readByRun2 sentences")
    val got = Map.from(scala.jdk.CollectionConverters.MapHasAsScala(table).asScala)
    val expectedAll = (firstHalf ++ secondHalf).flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expectedAll,
      s"diverged across the partition change: ${got.toSet.diff(expectedAll.toSet).take(5)} vs ${expectedAll.toSet.diff(got.toSet).take(5)}")
  }

  test("a changed state schema is rejected loudly at restart, never decoded as garbage") {
    val ckpt = java.nio.file.Files.createTempDirectory("topo_schema").toString + "/ckpt"
    val input = MemoryStream[Message[String]](spark, 2)
    val sink1 = StreamSink.ForeachBatch((df, _) => { df.count(); () }, OutputMode.Update, Some(ckpt))
    val run1 = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .addSink("counts", sink1, "schema_wc")
      .run()
    input.addData(Seq(Message("1", "alpha beta alpha")))
    run1.processAllAvailable()
    run1.stop()

    // same topology, but the keyed state widened Long → (Long, Long)
    // (the ClickWindow-gains-a-field shape): restart must fail schema
    // validation, because silently decoding old state under the new
    // layout would corrupt every count
    object WidenedCount extends StatefulIntersection[String, String, (Long, Long), (String, Long)] {
      def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
      def initialState: (Long, Long) = (0L, 0L)
      def update(key: String, inputs: Seq[Message[String]], state: (Long, Long)): ((Long, Long), Seq[Message[(String, Long)]]) = {
        val n = state._1 + inputs.size
        ((n, state._2), Seq(Message(key, (key, n), Some(key))))
      }
    }
    val sink2 = StreamSink.ForeachBatch((df, _) => { df.count(); () }, OutputMode.Update, Some(ckpt))
    val err = intercept[Exception] {
      val run2 = Pipeline(spark)
        .addRamp("sentence", input.toDS())
        .addIntersection("sentence", "word", SplitIntersection)
        .addStatefulIntersection("word", "counts", WidenedCount)
        .addSink("counts", sink2, "schema_wc")
        .run()
      try {
        input.addData(Seq(Message("2", "alpha gamma")))
        run2.processAllAvailable()
        run2.queries.foreach(_.awaitTermination(2000))
      } finally run2.stop()
    }
    val msg = (Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}")).mkString("\n")
    assert(msg.toLowerCase.contains("schema") || msg.toLowerCase.contains("state"),
      s"restart with changed state schema failed for an unrelated reason:\n$msg")
  }
}

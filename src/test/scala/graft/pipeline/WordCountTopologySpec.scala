package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode

/** The reference's canonical word-count topology
  * (`motorway/tests/sample_pipeline.py:8-63`) end-to-end on the Pipeline
  * DSL — filling the reference's empty `test_basic_message_flow`
  * placeholder (`tests/test_pipeline.py:8-9`).
  */
class WordCountTopologySpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The 10 fixed sentences from `examples/ramps.py:13-25`. */
  val sentences = Seq(
    "Oak is strong and also gives shade",
    "Cats and dogs each hate the other",
    "The pipe began to rust while new",
    "Open the crate but don't break the glass",
    "Add the sum to the product of these three",
    "Thieves who rob friends deserve jail",
    "The ripe taste of cheese improves with age",
    "Act on these orders with great speed",
    "The hog crawled under the high fence",
    "Move the vat over the hot fire")

  object SplitIntersection extends Intersection[String, String] {
    // ≙ SentenceSplitIntersection (`tests/sample_pipeline.py:41-45`):
    // one message per token, keyed by word (groupingValue) for the
    // stateful count. HashRing on a per-message intersection adds no
    // exchange: the sentences split where the ramp put them, and the
    // count's own groupByKey brings each word together.
    def process(m: Message[String]): Iterator[Message[String]] =
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
  }

  object CountIntersection extends StatefulIntersection[String, String, Long, (String, Long)] {
    // ≙ WordCountIntersection (`tests/sample_pipeline.py:48-56`), but
    // with checkpoint-safe keyed state instead of a process-local dict.
    def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
    def initialState: Long = 0L
    def update(key: String, inputs: Seq[Message[String]], state: Long): (Long, Seq[Message[(String, Long)]]) = {
      val n = state + inputs.size
      (n, Seq(Message(key, (key, n), Some(key))))
    }
  }

  test("word-count topology produces exact totals and no dead letters") {
    val input = MemoryStream[Message[String]](spark, 2)

    val run = Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing, partitions = 4)
      .addStatefulIntersection("word", "counts", CountIntersection)
      .withDeadLetterStream()
      .addSink("counts", StreamSink.Memory(OutputMode.Update), "wc_out")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "wc_dead")
      .run()

    input.addData(sentences.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
    run.processAllAvailable()

    val got = spark.table("wc_out")
      .selectExpr("content._1 as word", "content._2 as cnt")
      .groupBy("word").agg(org.apache.spark.sql.functions.max("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    val expected = sentences.flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expected)
    assert(spark.table("wc_dead").isEmpty)
    run.stop()
  }

  test("poison message goes to dead letters; healthy messages flow on") {
    val input = MemoryStream[Message[String]](spark, 2)
    val poison = Intersection[String, String]("PoisonSplit") { m =>
      if (m.content.contains("BOOM")) throw new IllegalStateException("poisoned payload")
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
    }
    val run = Pipeline(spark)
      .addRamp("in", input.toDS())
      .addIntersection("in", "words", poison)
      .withDeadLetterStream()
      .addSink("words", StreamSink.Memory(), "p_out")
      .addSink(Pipeline.DeadLetterStream, StreamSink.Memory(), "p_dead")
      .run()

    input.addData(Seq(Message("1", "good message here"), Message("2", "BOOM bad"), Message("3", "more good")))
    run.processAllAvailable()

    assert(spark.table("p_out").count() == 5) // 3 + 2 tokens from the good messages
    val dead = spark.table("p_dead").as[DeadLetter].collect()
    assert(dead.length == 1)
    assert(dead.head.id == "2")
    assert(dead.head.operator == "PoisonSplit")
    assert(dead.head.errorMessage.contains("poisoned"))
    assert(dead.head.stackTrace.contains("IllegalStateException"))
    run.stop()
  }

  /** Start `wire(ramp)`, feed it the sentences, and return the executed
    * plan of the query's last micro-batch. */
  private def lastBatchPlan(wire: Pipeline => Pipeline): SparkPlan = {
    val input = MemoryStream[Message[String]](spark, 2)
    val run = wire(Pipeline(spark).addRamp("sentence", input.toDS())).run()
    try {
      input.addData(sentences.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
      run.processAllAvailable()
      run.queries.head.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally run.stop()
  }

  // AdaptiveSparkPlanHelper's collect descends into the query stages of
  // a stateless batch's adaptive plan.
  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  /** The exchanges beneath the topology's one per-message operator node. */
  private def exchangesBelowSplit(plan: SparkPlan): Seq[ShuffleExchangeExec] = {
    val split = collect(plan) { case m: MapPartitionsExec => m }
    assert(split.size == 1, s"expected one per-message operator node:\n$plan")
    exchanges(split.head)
  }

  test("HashRing on a per-message intersection plans no exchange; one remains, on the stateful key") {
    val plan = lastBatchPlan {
      _.addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing)
        .addStatefulIntersection("word", "counts", CountIntersection)
        .addSink("counts", StreamSink.Memory(OutputMode.Update), "plan_wc")
    }
    assert(exchangesBelowSplit(plan).isEmpty, s"an exchange runs in front of the split:\n$plan")
    val keys = collect(plan) { case s: FlatMapGroupsWithStateExec => s.groupingAttributes }.flatten
    assert(keys.nonEmpty, s"no stateful operator in the plan:\n$plan")
    exchanges(plan).map(_.outputPartitioning) match {
      case Seq(HashPartitioning(exprs, _)) =>
        assert(exprs.size == keys.size && exprs.zip(keys).forall { case (e, k) => e.semanticEquals(k) },
          s"the exchange hashes $exprs, not the stateful key $keys")
      case other => fail(s"expected exactly one hash exchange, got $other:\n$plan")
    }
  }

  test("HashRing into one partition coalesces the split's input: the word count plans no exchange") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "1")
    val plan = try lastBatchPlan {
      _.addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing)
        .addStatefulIntersection("word", "counts", CountIntersection)
        .addSink("counts", StreamSink.Memory(OutputMode.Update), "plan_one")
    } finally spark.conf.set(key, before)
    // the count's one state partition is satisfied by the coalesced input
    assert(exchanges(plan).isEmpty, s"expected no exchange:\n$plan")
    assert(collect(plan) { case c: CoalesceExec => c.numPartitions } == Seq(1), s"expected one coalesce:\n$plan")
    val got = spark.table("plan_one").selectExpr("content._1", "content._2").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got == sentences.flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap)
  }

  test("partitions = n on a per-message intersection round-robins its input n ways") {
    val plan = lastBatchPlan {
      _.addIntersection("sentence", "word", SplitIntersection, Grouping.HashRing, partitions = 4)
        .addStatefulIntersection("word", "counts", CountIntersection)
        .addSink("counts", StreamSink.Memory(OutputMode.Update), "plan_rr")
    }
    assert(exchangesBelowSplit(plan).map(_.outputPartitioning) == Seq(RoundRobinPartitioning(4)),
      s"expected one 4-way round-robin exchange in front of the split:\n$plan")
  }

  test("HashRing on a batch intersection still hash-partitions on groupingValue") {
    val chunkSize = new BatchIntersection[String, Int] {
      def processBatch(ms: Seq[Message[String]]): Iterator[Message[Int]] =
        Iterator.single(Message(ms.head.id, ms.size))
    }
    val plan = lastBatchPlan {
      _.addBatchIntersection("sentence", "chunks", chunkSize, Grouping.HashRing)
        .addSink("chunks", StreamSink.Memory(), "plan_batch")
    }
    exchanges(plan).map(_.outputPartitioning) match {
      case Seq(HashPartitioning(exprs, _)) =>
        assert(exprs.flatMap(_.references.map(_.name)) == Seq("groupingValue"), s"hashes $exprs")
      case other => fail(s"expected one hash exchange on groupingValue, got $other:\n$plan")
    }
  }

  test("batch intersection chunks by limit (batch_process parity)") {
    val input = MemoryStream[Message[Int]](spark, 2)
    val batcher = new BatchIntersection[Int, Int] {
      override def limit: Int = 4
      override def name = "Batcher"
      def processBatch(ms: Seq[Message[Int]]): Iterator[Message[Int]] =
        // emit one message per chunk carrying the chunk size
        Iterator.single(Message(ms.head.id, ms.size))
    }
    val run = Pipeline(spark)
      .addRamp("nums", input.toDS())
      .addBatchIntersection("nums", "chunks", batcher)
      .addSink("chunks", StreamSink.Memory(), "b_out")
      .run()
    input.addData((1 to 10).map(i => Message(i.toString, i)))
    run.processAllAvailable()
    val sizes = spark.table("b_out").selectExpr("content").as[Int].collect().sorted
    assert(sizes.sum == 10)          // every message processed exactly once
    assert(sizes.forall(_ <= 4))     // no chunk exceeded the limit
    run.stop()
  }
}

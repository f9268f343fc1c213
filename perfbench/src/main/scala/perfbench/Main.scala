package perfbench

import java.lang.management.ManagementFactory

import graft.SessionTuning
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Outside-in benchmark of the library's public API.
  *
  * `Main --workload <wordcount|upsert|registry> --seed <n>
  *  --seconds <s> --trace <0|1> --work <dir> --data <dir> --cpus <n>
  *  --launched-at-ms <epoch ms>`
  *
  * Prints one JSON result as the last stdout line: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when an output check fails. `--record-digests <file>` runs
  * the registry workload and writes its output digests instead.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, data: String,
      cpus: Int, launchedAtMs: Double, recordDigests: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(workload == "registry" || Streams.Specs.contains(workload), s"unknown workload $workload")
    Args(workload, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      need("data"), need("cpus").toInt, need("launched-at-ms").toDouble, kv.get("record-digests"))
  }

  /** Session settings of `graft.Bench` (batch) and `ThroughputMain`
    * (streams, AQE off), with the derived aggregate threshold read
    * through `SessionTuning`. Scratch space stays in the work dir. */
  def session(master: String, partitions: Int, streaming: Boolean, work: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", (!streaming).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        SessionTuning.objectHashFallbackEntries.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** Used heap after a full collection, in MiB (untimed checkpoints).
    * Collected twice: Spark's ContextCleaner drops the broadcast and
    * shuffle blocks of objects the first collection found unreachable,
    * and only the second one frees them. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Scheduler totals of the measured work: the stages of the job groups
    * `keepGroup` accepts, submitted inside a measured window. */
  def totals(sched: SchedulerProbe, measured: Measured, keepGroup: String => Boolean): SchedTotals = {
    sched.awaitQuiet()
    sched.totals((group, submittedMs) => keepGroup(group) && measured.covers(submittedMs))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val streaming = a.workload != "registry"
    val spark = tracer.span("session.start") {
      session(s"local[${a.cpus}]", a.cpus, streaming, a.work)
    }
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = tracer.nowMs - a.launchedAtMs
    val sched = new SchedulerProbe(tracer)
    val measured = new Measured(tracer)
    if (a.trace) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(new PlanningProbe(tracer))
    }
    val run0 = tracer.nowMs
    val (result, layers, keepGroup) =
      if (streaming) StreamRun(a, spark, tracer, sched, measured, sessionMs)
      else RegistryRun(a, spark, tracer, sched, measured)
    val runMs = tracer.nowMs - run0
    val common = if (!a.trace) Map.empty[String, Double] else {
      val t = totals(sched, measured, keepGroup)
      val instr = measured.instr
      Map(
        "codegen.compiles" -> measured.compiles.toDouble,
        "codegen.compile_ms" -> measured.compileNs / 1e6,
        "sched.jobs" -> t.jobs.toDouble,
        "sched.stages" -> t.stages.toDouble,
        "sched.tasks" -> t.tasks.toDouble,
        "exec.task_run_ms_sum" -> t.taskRunMs.toDouble,
        "exec.task_cpu_ms_sum" -> t.taskCpuNs / 1e6,
        "exec.gc_ms_sum" -> t.gcMs.toDouble,
        // busy share of the executor cores over the measured windows
        "exec.utilization" -> t.taskRunMs / math.max(1.0, measured.wallMs * a.cpus),
        "exec.failed_tasks" -> t.failedTasks.toDouble,
        "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> t.shuffleRead.toDouble,
        "spill.disk_bytes" -> t.spillDisk.toDouble,
        "spill.memory_bytes" -> t.spillMemory.toDouble,
        "pipeline.fanout" -> (if (instr.calls.get == 0) 0.0 else instr.emitted.get.toDouble / instr.calls.get),
        "pipeline.dead_letters" -> instr.failures.get.toDouble,
        "queries.build_jobs" -> totals(sched, measured, _.startsWith("build:")).jobs.toDouble,
        "trace.overhead_frac" -> tracer.recordingCostNs / 1e6 / math.max(1.0, runMs),
      )
    }
    spark.stop()
    // the single-thread baseline runs after every other figure is read
    val scaling =
      if (a.trace && a.workload == "wordcount") Map("scaling.wordcount_1c_msgs_per_s" -> StreamRun.singleCore(a))
      else Map.empty
    if (a.trace) tracer.writeJsonl(java.nio.file.Paths.get(a.work, s"trace-${a.workload}-${a.seed}.jsonl"))
    val out =
      if (!a.trace) result
      else {
        // this traced run's own end-to-end figures, to set against an
        // untraced run's: the tracing overhead as a user would see it
        val traced = result.metrics.map(m => s"trace.${m.name}" -> m.value).toMap
        result.copy(metrics = Layers.All.map { case (n, unit) =>
          Metric(n, (layers ++ common ++ scaling ++ traced).getOrElse(n, 0.0), unit)
        })
      }
    println(out.json)
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}

/** Per-layer metric names and units, in print order. A metric whose
  * layer does not run on a workload reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms_p50" -> "ms", "sources.get_batch_ms_p50" -> "ms",
    "sources.backlog_max_msgs" -> "count", "sources.enqueue_us_p99" -> "us",
    "commit.wal_ms_p50" -> "ms", "commit.offsets_ms_p50" -> "ms",
    "commit.trigger_ms_p50" -> "ms", "commit.trigger_ms_p95" -> "ms",
    "pipeline.start_ms" -> "ms", "pipeline.plan_ms_p50" -> "ms",
    "pipeline.add_batch_ms_p50" -> "ms", "pipeline.add_batch_ms_p95" -> "ms",
    "pipeline.batches" -> "count", "pipeline.batch_rows_p50" -> "count",
    "pipeline.fanout" -> "ratio", "pipeline.dead_letters" -> "count",
    "state.rows_total_end" -> "count", "state.memory_bytes_end" -> "bytes",
    "state.commit_ms_p50" -> "ms", "state.rows_updated_p50" -> "count",
    "sinks.write_ms_p50" -> "ms", "sinks.write_ms_p95" -> "ms",
    "sinks.table_rows_end" -> "count", "sinks.rewrite_ratio" -> "ratio",
    "sinks.replayed_batches" -> "count",
    "queries.build_ms_sum" -> "ms", "queries.build_jobs" -> "count",
    "plan.analysis_ms_sum" -> "ms", "plan.optimization_ms_sum" -> "ms", "plan.planning_ms_sum" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms_sum" -> "ms",
    "exec.task_run_ms_sum" -> "ms", "exec.task_cpu_ms_sum" -> "ms", "exec.gc_ms_sum" -> "ms",
    "exec.utilization" -> "ratio", "exec.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "spill.disk_bytes" -> "bytes", "spill.memory_bytes" -> "bytes",
    "cache.persisted_rdds_max" -> "count", "cache.storage_bytes_max" -> "bytes",
    "gen.late_ms_p99" -> "ms", "trace.overhead_frac" -> "ratio",
    "trace.throughput_per_s" -> "1/s", "trace.latency_p50_ms" -> "ms",
    "trace.uncovered_queries" -> "count", "trace.span_coverage_min" -> "ratio",
    "latency.batches_beyond_p95" -> "count",
    "scaling.wordcount_1c_msgs_per_s" -> "1/s",
  )

  /** Window length minus the part of it covered by `stages`, summed. */
  def driverGapMs(windows: Seq[(Double, Double)], stages: Seq[Span]): Double =
    windows.map { case (s, e) =>
      (e - s) - Stats.unionLength(stages.filter(st => st.endMs > s && st.startMs < e)
        .map(st => (math.max(st.startMs, s), math.min(st.endMs, e))))
    }.sum

  /** Cached RDDs and their stored bytes right now. */
  def cacheSample(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size.toDouble, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
  }
}

/** The stream workloads. Two set-up probes (start a fresh pipeline,
  * commit one batch, stop) precede the measured pipeline, whose set-up
  * is the third sample. Its open loop runs unmeasured for half of
  * `--seconds` first: with a quarter, the median latency of a second
  * pipeline in the same JVM read 13-37% below the first, so the JIT had
  * not settled. */
object StreamRun {
  val SetupProbes = 2
  /** Round index of the measured pipeline. */
  val MeasuredRound = SetupProbes
  /** Shares of `--seconds` for the unmeasured and the measured open loop. */
  val WarmShare = 0.5
  val OpenShare = 0.4

  def apply(a: Main.Args, spark: SparkSession, tracer: Tracer, sched: SchedulerProbe, measured: Measured,
      sessionMs: Double): (Result, Map[String, Double], String => Boolean) = {
    val spec = Streams.Specs(a.workload)
    val probe = new ProgressProbe
    spark.streams.addListener(probe)
    val dir = s"${a.work}/streams"
    val unmeasured = new Measured(new Tracer(false))
    val probes = (0 until SetupProbes).map { r =>
      Streams.round(spark, spec, a.seed, r, 0L, 0L, 0, dir, a.cpus, tracer, probe, unmeasured)
    }
    val openMs = (a.seconds * 1000 * OpenShare).toLong
    val warmMs = (a.seconds * 1000 * WarmShare).toLong
    val round = Streams.round(spark, spec, a.seed, MeasuredRound, warmMs, openMs, spec.backlog, dir, a.cpus, tracer,
      probe, measured)
    val all = probes :+ round
    val heapPeak = all.map(_.heapMb).max
    System.err.println(f"[perfbench] setup ${all.map(_.setupMs.round).mkString(", ")} ms; measured done at " +
      f"${(tracer.nowMs - a.launchedAtMs) / 1000}%.1f s")
    val failures = all.flatMap(_.failures)
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (failures.size > 20) System.err.println(s"[perfbench] ... ${failures.size} failures in all")
    val lat = round.latenciesMs
    val beyond = round.batchesBeyondP95
    val result = Result(
      correct = failures.isEmpty,
      attempted = all.map(_.attempted).sum,
      failed = failures.size.toLong,
      metrics = Seq(
        Metric("setup_s", (sessionMs + Stats.median(all.map(_.setupMs))) / 1000, "s"),
        Metric("throughput_per_s", round.drainMsgsPerSec, "1/s"),
        Metric("latency_p50_ms", Stats.percentile(lat, 50), "ms"),
        Metric("latency_p95_ms", Stats.percentile(lat, 95), "ms"),
        Metric("heap_peak_mb", heapPeak, "MB"),
      ))
    System.err.println(s"[perfbench] ${a.workload}: ${lat.size} latency samples, $beyond batches beyond p95, " +
      s"${round.progress.size} batches")

    // the measured pipeline's micro-batches: its query's job group
    val keepGroup = (g: String) => g == round.runId
    val layers = if (!a.trace) Map.empty[String, Double] else {
      // batches of the measured window (the primer batch is set-up)
      def inRound(s: Span) = s.trace == s"round$MeasuredRound" && measured.covers(s.startMs)
      val batchSpans = tracer.named("batch").filter(inRound)
      val ps = round.progress.filter(p => measured.covers(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      // messages a batch admitted, from its offsets: `numInputRows`
      // counts a source once per scan, and a sink may scan it twice
      def admitted(p: StreamingQueryProgress) =
        p.sources.head.endOffset.trim.toDouble - Option(p.sources.head.startOffset).map(_.trim.toDouble).getOrElse(0.0)
      val open = ps.filter(p => p.sources.head.endOffset.trim.toLong <= round.openRange._2)
      val backlog = open.map(p => p.sources.head.latestOffset.trim.toDouble - p.sources.head.endOffset.trim.toDouble)
      val lastState = ps.lastOption.flatMap(_.stateOperators.headOption)
      val states = ps.flatMap(_.stateOperators.headOption)
      val writes = tracer.named("sink.write").filter(inRound).map(_.ms)
      val stages = tracer.named("stage").filter(st => keepGroup(st.trace))
      Map(
        "sources.latest_offset_ms_p50" -> Stats.median(dur("latestOffset")),
        "sources.get_batch_ms_p50" -> Stats.median(dur("getBatch")),
        "sources.backlog_max_msgs" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "sources.enqueue_us_p99" -> Stats.percentile(tracer.named("gen.enqueue").filter(inRound).map(_.ms * 1000), 99),
        "commit.wal_ms_p50" -> Stats.median(dur("walCommit")),
        "commit.offsets_ms_p50" -> Stats.median(dur("commitOffsets")),
        "commit.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
        "commit.trigger_ms_p95" -> Stats.percentile(dur("triggerExecution"), 95),
        "pipeline.start_ms" -> Stats.median(all.map(_.pipelineStartMs)),
        "pipeline.plan_ms_p50" -> Stats.median(dur("queryPlanning")),
        "pipeline.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
        "pipeline.add_batch_ms_p95" -> Stats.percentile(dur("addBatch"), 95),
        "pipeline.batches" -> ps.size.toDouble,
        "pipeline.batch_rows_p50" -> Stats.median(ps.map(admitted)),
        "state.rows_total_end" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.memory_bytes_end" -> lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state.commit_ms_p50" -> Stats.median(states.map(_.commitTimeMs.toDouble)),
        "state.rows_updated_p50" -> Stats.median(states.map(_.numRowsUpdated.toDouble)),
        "sinks.write_ms_p50" -> Stats.median(writes),
        "sinks.write_ms_p95" -> Stats.percentile(writes, 95),
        "sinks.table_rows_end" -> round.tableRows.toDouble,
        // each upsert rewrites its table: rows written per row upserted
        "sinks.rewrite_ratio" -> (if (a.workload != "upsert") 0.0 else
          Main.totals(sched, measured, keepGroup).recordsWritten / math.max(1.0, ps.map(admitted).sum)),
        "sinks.replayed_batches" -> all.map(_.replayed).sum.toDouble,
        "sched.driver_gap_ms_sum" -> Layers.driverGapMs(batchSpans.map(b => (b.startMs, b.endMs)), stages),
        "gen.late_ms_p99" -> Stats.percentile(round.lateMs, 99),
        "latency.batches_beyond_p95" -> beyond.toDouble,
      )
    }
    (result, layers, keepGroup)
  }

  /** The wordcount drain on one core, in a session of its own: the
    * single-thread baseline. */
  def singleCore(a: Main.Args): Double = {
    val one = Main.session("local[1]", 1, streaming = true, a.work)
    val probe = new ProgressProbe
    one.streams.addListener(probe)
    val spec = Streams.Specs("wordcount")
    val off = new Tracer(false)
    try {
      val rr = Streams.round(one, spec, a.seed, MeasuredRound + 1, 0L, 0L, spec.backlog, s"${a.work}/streams", 1,
        off, probe, new Measured(off))
      require(rr.failures.isEmpty, s"single-core wordcount failed its check: ${rr.failures.take(3)}")
      rr.drainMsgsPerSec
    } finally one.stop()
  }
}

/** The registry workload: a fixed sample of registry queries in one
  * session, each on its first execution. */
object RegistryRun {
  def apply(a: Main.Args, spark: SparkSession, tracer: Tracer, sched: SchedulerProbe,
      measured: Measured): (Result, Map[String, Double], String => Boolean) = {
    val dir = s"${a.data}/sf0.01"
    // set-up, untimed by the suite: resolve every table once
    val tables = graft.Tables(spark, dir)
    Seq(tables.lineitem, tables.orders, tables.customer, tables.part, tables.supplier, tables.nation,
      tables.region, tables.events, tables.documents, tables.embeddings).foreach(_.schema)
    // and warm the engine with one aggregate, so the first timed query
    // does not carry the JVM's first query compilation
    tables.lineitem.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    val setupMs = tracer.nowMs - a.launchedAtMs
    val queries = Registry.selected
    var cache = (0.0, 0.0)
    val outcomes = Registry.run(spark, dir, queries, tracer, measured, afterEach = () => {
      val c = Layers.cacheSample(spark)
      cache = (math.max(cache._1, c._1), math.max(cache._2, c._2))
    })
    val heapPeak = Main.heapAfterGcMb()
    a.recordDigests.foreach { path =>
      val lines = outcomes.map(o => s"${o.name}\t${o.digest}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val expected = Registry.readDigests(java.nio.file.Paths.get(a.data, "registry_digests.tsv"))
    val failures = Registry.failures(outcomes, expected)
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val timed = outcomes.filter(_.error.isEmpty).map(_.wallMs)
    val suiteMs = timed.sum
    val result = Result(
      correct = failures.isEmpty,
      attempted = outcomes.size.toLong,
      failed = failures.size.toLong,
      metrics = Seq(
        Metric("setup_s", setupMs / 1000, "s"),
        Metric("throughput_per_s", timed.size / math.max(1e-9, suiteMs / 1000), "1/s"),
        Metric("latency_p50_ms", Stats.percentile(timed, 50), "ms"),
        Metric("latency_p95_ms", Stats.percentile(timed, 95), "ms"),
        Metric("heap_peak_mb", heapPeak, "MB"),
      ))
    outcomes.foreach(o => System.err.println(f"[perfbench] ${o.name}%-32s ${o.wallMs}%9.1f ms"))

    // a query's build and its noop write; not the output checks
    val keepGroup = (g: String) => g.startsWith("build:") || g.startsWith("exec:")
    val layers = if (!a.trace) Map.empty[String, Double] else {
      sched.awaitQuiet()
      val spans = tracer.all
      val windows = spans.filter(_.name == "query").map(s => (s.trace, s.startMs, s.endMs))
      val stages = spans.filter(_.name == "stage")
      val plans = spans.filter(_.name.startsWith("plan."))
      // the share of each query's wall time its build, planning and
      // stage spans account for; the rest is driver time no layer names
      val coverage = windows.map { case (q, s, e) =>
        val parts = spans.filter(p => p.name == "query.build" && p.trace == q) ++ plans ++
          stages.filter(st => st.trace == s"build:$q" || st.trace == s"exec:$q")
        Stats.unionLength(parts.filter(p => p.endMs > s && p.startMs < e)
          .map(p => (math.max(p.startMs, s), math.min(p.endMs, e)))) / math.max(1e-9, e - s)
      }
      def phase(n: String) = plans.filter(_.name == s"plan.$n").filter(p => measured.covers(p.startMs)).map(_.ms).sum
      Map(
        "queries.build_ms_sum" -> spans.filter(_.name == "query.build").map(_.ms).sum,
        "plan.analysis_ms_sum" -> phase("analysis"),
        "plan.optimization_ms_sum" -> phase("optimization"),
        "plan.planning_ms_sum" -> phase("planning"),
        "sched.driver_gap_ms_sum" ->
          Layers.driverGapMs(windows.map(w => (w._2, w._3)), stages.filter(st => keepGroup(st.trace))),
        "cache.persisted_rdds_max" -> cache._1,
        "cache.storage_bytes_max" -> cache._2,
        "trace.uncovered_queries" -> coverage.count(_ < 0.9).toDouble,
        "trace.span_coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      )
    }
    (result, layers, keepGroup)
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.pipeline.Instrumentation
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span on the epoch-millisecond clock. `parent` 0 means a root span;
  * spans of one registry query or one stream round share `trace`. */
final case class Span(id: Long, parent: Long, trace: String, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder for the traced run. Spans are written out
  * once, when the run ends. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }
  private val costNs = new AtomicLong(0)
  @volatile var trace: String = ""

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val s = nowMs
      try body
      finally {
        val e = nowMs
        current.set(parent)
        add(Span(id, parent, trace, name, s, e))
      }
    }

  /** Record an interval observed elsewhere (a Spark stage, a planning
    * phase, a micro-batch phase). */
  def observed(name: String, trace: String, startMs: Double, endMs: Double): Unit =
    if (enabled) add(Span(ids.getAndIncrement(), 0L, trace, name, startMs, endMs))

  private def add(s: Span): Unit = {
    val t0 = System.nanoTime()
    spans.synchronized(spans += s)
    costNs.addAndGet(System.nanoTime() - t0)
  }

  /** Nanoseconds spent inside the recorder itself. */
  def recordingCostNs: Long = costNs.get()

  def all: Seq[Span] = spans.synchronized(spans.toVector)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - Stats.unionLength(children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val snapshot = all
    val byParent = snapshot.groupBy(_.parent)
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = snapshot.map { s =>
      val self = selfMs(s, byParent.getOrElse(s.id, Seq.empty))
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${esc(s.trace)}","name":"${esc(s.name)}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Scheduler and task totals of the stages a run measured. */
final case class SchedTotals(
    jobs: Long, stages: Long, tasks: Long, failedTasks: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillDisk: Long, spillMemory: Long, recordsWritten: Long)

/** Spark's public scheduler events, kept per job and per stage and
  * recorded as spans (stages) for the driver-gap split. The job group
  * (`SparkContext.setJobGroup`; a streaming query's run id) names the
  * trace a stage belongs to, so the totals can leave out jobs that are
  * not the measured work: warm-up, output checks, other rounds. */
final class SchedulerProbe(tracer: Tracer) extends SparkListener {
  private final class StageSums {
    val tasks, failedTasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spillDisk, spillMemory,
      recordsWritten = new AtomicLong
  }
  private val stageGroup = scala.collection.concurrent.TrieMap[Int, String]()
  /** Job id -> (job group, submission epoch ms). */
  private val jobStarts = scala.collection.concurrent.TrieMap[Int, (String, Double)]()
  /** Completed stage id -> submission epoch ms. */
  private val stageSubmitted = scala.collection.concurrent.TrieMap[Int, Double]()
  private val perStage = scala.collection.concurrent.TrieMap[Int, StageSums]()
  private val jobsEnded = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStarts(e.jobId) = (g, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  /** Wait until the listener bus has delivered the end of every job
    * started so far (stage and task events precede it). */
  def awaitQuiet(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get < jobStarts.size && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) {
      stageSubmitted(i.stageId) = s.toDouble
      tracer.observed("stage", stageGroup.getOrElse(i.stageId, ""), s.toDouble, c.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = perStage.getOrElseUpdate(e.stageId, new StageSums)
    st.tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) st.failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      st.runMs.addAndGet(m.executorRunTime)
      st.cpuNs.addAndGet(m.executorCpuTime)
      st.gcMs.addAndGet(m.jvmGCTime)
      st.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      st.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      st.spillDisk.addAndGet(m.diskBytesSpilled)
      st.spillMemory.addAndGet(m.memoryBytesSpilled)
      st.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Totals over the jobs and stages `keep` selects by job group and
    * submission time (epoch ms). */
  def totals(keep: (String, Double) => Boolean): SchedTotals = {
    val jobs = jobStarts.values.count { case (g, t) => keep(g, t) }
    val stages = stageSubmitted.collect { case (id, t) if keep(stageGroup.getOrElse(id, ""), t) => id }.toSeq
    val sums = stages.flatMap(perStage.get)
    def sum(f: StageSums => AtomicLong) = sums.map(f(_).get).sum
    SchedTotals(jobs.toLong, stages.size.toLong, sum(_.tasks), sum(_.failedTasks), sum(_.runMs), sum(_.cpuNs),
      sum(_.gcMs), sum(_.shuffleWrite), sum(_.shuffleRead), sum(_.spillDisk), sum(_.spillMemory),
      sum(_.recordsWritten))
  }
}

/** The measured work of a run: its wall-clock windows, the code the
  * JVM compiled inside them and the library's instrumentation counts
  * (traced run only). Set-up, warm-up, output checks and the
  * single-core baseline fall outside every window. */
final class Measured(tracer: Tracer) {
  val instr = new CountingInstrumentation
  private val ws = ArrayBuffer[(Double, Double)]()
  var compiles = 0L
  var compileNs = 0L

  def apply[T](body: => T): T =
    if (!tracer.enabled) body
    else {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      Instrumentation.install(instr)
      val s = tracer.nowMs
      try body
      finally {
        val e = tracer.nowMs
        Instrumentation.uninstall()
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        compileNs += CodeGenerator.compileTime - n0
        ws.synchronized(ws += ((s, e)))
      }
    }

  def windows: Seq[(Double, Double)] = ws.synchronized(ws.toVector)
  def wallMs: Double = windows.map { case (s, e) => e - s }.sum
  /** Whether `ms` falls in a window, with 1 ms for clock rounding. */
  def covers(ms: Double): Boolean = windows.exists { case (s, e) => ms >= s - 1 && ms <= e + 1 }
}

/** Catalyst's planning phases of every executed query, from the
  * public `QueryExecutionListener`. */
final class PlanningProbe(tracer: Tracer) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      tracer.observed(s"plan.$phase", "", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import scala.collection.mutable

/** Local profiling harness (not part of the driver contract): runs one
  * registry query repeatedly and reports per-stage wall/taskRun times,
  * slow stages mapped to their jobs, and sampled hot frames of the
  * executor threads — the toolkit that localized this round's dedup
  * regressions (serial scan-stage kernels from pushed-down derived
  * predicates, the ObjectHashAggregate sort fallback, cache lock
  * contention). `GRAFT_PROFILE_PLAN=1` additionally dumps the executed
  * plan with per-node metrics; `SPARK_GRAFT_CPUS` sets the core count
  * (default 32). Usage:
  * `sbt "runMain graft.ProfileMain q29 [sfDir] [reps]"`.
  *
  * The last line reads `cold_s=<first rep> warm_s=<median of the later
  * reps>`: the first rep pays the JVM's first execution of the query
  * (codegen, class loading), the later ones do not, so a warmed A/B of
  * a plan change is this command once per side, in a fresh JVM each. */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val q = SparkEntry.select(Seq(args(0))).head
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = SessionTuning.session("graft-profile",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    val stages = mutable.ArrayBuffer[(Int, String, Long, Long, Int)]()
    val jobs = mutable.ArrayBuffer[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val sids = js.stageInfos.map(_.stageId).mkString(",")
        jobs += ((js.jobId, js.time, s"stages=[$sids] " +
          String.valueOf(js.properties.getProperty("callSite.short", ""))))
      }
    })
    println(s"== profiling ${q.name}")
    def dumpPlan(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive._
      def walk(p: SparkPlan, depth: Int): Unit = {
        val interesting = p.metrics.filter { case (k, m) =>
          (k.contains("time") || k == "duration" || k == "numOutputRows" ||
            k.contains("build")) && m.value > 0 }
        val ms = interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
        println(("  " * depth) + p.nodeName + "  " + ms)
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case i: columnar.InMemoryTableScanExec =>
            walk(i.relation.cachedPlan, depth + 1)
          case other => other.children.foreach(walk(_, depth + 1))
        }
      }
      walk(df.queryExecution.executedPlan, 0)
    }
    // in-process sampler: counts hot leaf-ish frames of executor threads
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get()) {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
          if (t.getName.startsWith("Executor task launch") && frames.nonEmpty) {
            val interesting = frames.find { f =>
              val c = f.getClassName
              !c.startsWith("java.") && !c.startsWith("jdk.") && !c.startsWith("sun.") &&
                !c.startsWith("scala.collection") }
              .getOrElse(frames.head)
            val key = interesting.getClassName + "." + interesting.getMethodName
            frameCounts.merge(key, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val runs = (1 to reps).map { i =>
      stages.clear()
      var df: org.apache.spark.sql.DataFrame = null
      var n = 0
      val r = RegistryRunner.run(spark, sfDir, q.name, q.run,
        d => { df = d; n = d.collect().length })
      println(r.err.fold(f"== run $i: ${r.sec}%.2f s, $n rows, ${stages.size} stages")(
        e => s"== run $i: err $e"))
      stages.filter(_._3 > 900).sortBy(_._1).foreach { case (id, nm, wall, run, nt) =>
        // exact stage-id membership only (latest job wins): a prefix
        // match like contains("[1") would attribute stage 1 to a job
        // whose list starts with stage 12 (r17 ADVICE)
        val job = jobs.reverse.find(j => j._3.split("stages=\\[|\\]").lift(1)
          .exists(_.split(',').map(_.trim).contains(id.toString)))
        println(f"   [slow] stage $id%4d wall=${wall}%6d ms taskRun=${run}%7d ms tasks=$nt%3d job=${job.map(_._3).getOrElse("?")}")
      }
      if (i == reps && sys.env.contains("GRAFT_PROFILE_PLAN")) Option(df).foreach(dumpPlan)
      if (i == reps) {
        sampling.set(false)
        import scala.jdk.CollectionConverters._
        println("== hot frames (50ms samples of executor threads):")
        frameCounts.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, v) =>
          println(f"   $v%5d  $k")
        }
      }
      if (i == reps) {
        stages.sortBy(_._1).foreach { case (id, nm, wall, run, nt) =>
          println(f"  stage $id%4d wall=${wall}%5d ms taskRun=${run}%6d ms tasks=$nt%3d  $nm")
        }
        println(f"  total stage wall: ${stages.map(_._3).sum} ms, total taskRun: ${stages.map(_._4).sum} ms")
      }
      r
    }
    spark.stop()
    RegistryRunner.exitIfFailed(runs)
    val warm = runs.tail.map(_.sec).sorted
    val warmS = if (warm.isEmpty) "n/a" else f"${(warm((warm.size - 1) / 2) + warm(warm.size / 2)) / 2}%.3f"
    println(f"== ${q.name} cold_s=${runs.head.sec}%.3f warm_s=$warmS")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Driver-run benchmark: every registered query on SPARK_GRAFT_SF_DIR,
  * each timed once in one session, summed into one JSON headline on
  * stdout.
  *
  * An untimed warmup comes first so JVM/codegen startup isn't charged to
  * whichever query happens to run first, then an input sanity gate fails
  * the run if a table it reads is empty. Every query runs through
  * [[RegistryRunner.run]]: timed, then swept untimed, and its GC time and
  * post-sweep heap ride the per-query record. A query that throws is
  * recorded as failed with its error, never as a time: it stays out of
  * the total and `worst5`, `n_failed` counts it, and the process exits 1
  * after the last headline.
  *
  * Bench measures; it does not judge host noise. Perf claims are settled
  * by `perfbench` and an interleaved A/B, and a single query is
  * re-measured with `SPARK_GRAFT_QUERIES=qNN` or [[graft.ProfileMain]].
  */
object Bench {
  private def f3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def jsonString(s: String): String = {
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(org.json4s.JString(s)))
  }

  private[graft] type Timed = RegistryRunner.Timed
  private[graft] val Timed = RegistryRunner.Timed

  /** A whole run's results in name order, and its renderings. The
    * compact headline (~400 B) is printed first and last so a capture of
    * either end of stdout keeps a whole parseable object; the big line
    * and the files carry the per-query record. */
  private[graft] final case class Suite(sfDir: String, cpus: String, timed: Seq[Timed]) {
    private def ok: Seq[Timed] = timed.filter(_.err.isEmpty)
    def nFailed: Int = timed.size - ok.size
    def total: Double = ok.map(_.sec).sum

    private def head: String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"""" +
        s""","n_queries":${timed.size},"n_failed":$nFailed,"gc_sec":${f3(timed.map(_.gcMs).sum / 1000.0)}"""
    private def env: String = {
      val rt = Runtime.getRuntime
      s""""env":{"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "default")}"""" +
        s""","cpus":"$cpus","procs":${rt.availableProcessors()}""" +
        s""","heap_max_mb":${rt.maxMemory() / (1024 * 1024)}}"""
    }
    private def queries(key: Timed => String, entry: Timed => String): String =
      timed.map(q => "\"" + key(q) + "\":" + entry(q)).mkString("{", ",", "}")
    private def qNN(q: Timed): String = q.name.takeWhile(_ != '_')
    private def errObject(e: String): String = "{\"err\":" + jsonString(e) + "}"

    def compact: String = {
      val worst5 = ok.sortBy(-_.sec).take(5)
        .map(q => "\"" + qNN(q) + "\":" + f3(q.sec)).mkString("{", ",", "}")
      head + s""","worst5":$worst5}"""
    }
    /** Stdout's per-query line: qNN keys, seconds or `"err"`. */
    def big(caps: String): String =
      head + s""",$env,"caps":$caps,"queries":""" +
        queries(qNN, q => q.err.fold(f3(q.sec))(_ => "\"err\"")) + "}"
    /** `bench_full.json`: full names, seconds with GC and heap, or the error. */
    def full(caps: String): String =
      head + s""",$env,"caps":$caps,"queries":""" + queries(_.name, q => q.err.fold(
        "{\"t\":" + f3(q.sec) + ",\"gc_ms\":" + q.gcMs + ",\"heap_mb\":" + q.heapMb + "}")(errObject)) + "}"
    /** `bench_perq_last_c<cpus>.json`: the headline plus full name to
      * seconds, or the error. */
    def perq: String =
      compact.dropRight(1) + ",\"queries\":" +
        queries(_.name, q => q.err.fold(f3(q.sec))(errObject)) + "}"
  }

  /** Times `selected` on `spark`, each query built, counted and swept
    * on its own, in name order. */
  private[graft] def timeSuite(spark: SparkSession, sfDir: String, cpus: String,
      selected: Seq[(String, (SparkSession, String) => DataFrame)]): Suite =
    Suite(sfDir, cpus, selected.map { case (name, fn) =>
      RegistryRunner.run(spark, sfDir, name, fn, _.count())
    })

  /** Stdout is headline, big line, headline: `stop` runs before the last
    * print, so nothing (not even a stdout log appender) can follow it —
    * with build.sbt's StdoutOutput + showSuccess := false it is the
    * process's literal last stdout line, which is what a driver parses.
    * With `writeArtifacts` the full record lands in bench_full.json and
    * bench_perq_last_c<cpus>.json (the cpus suffix keeps runs at two core
    * counts apart) before that last print; a failed write throws, so a
    * run whose artifact did not land ends without its last headline. */
  private[graft] def emit(suite: Suite, caps: String, writeArtifacts: Boolean,
      stop: () => Unit): Unit = {
    println(suite.compact)
    println(suite.big(caps))
    System.out.flush()
    stop()
    if (writeArtifacts) {
      def write(file: String, line: String): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(file), (line + "\n").getBytes("UTF-8"))
      write("bench_full.json", suite.full(caps))
      write(s"bench_perq_last_c${suite.cpus}.json", suite.perq)
    }
    println(suite.compact)
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional comma-separated query filter for local iteration, e.g.
    // SPARK_GRAFT_QUERIES=q61,q78; unset, the whole registry runs.
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
    val selected = SparkEntry.select(filter.toSeq.flatMap(_.split(',')))
      .map(q => q.name -> (q.run _)).sortBy(_._1)
    val spark = SessionTuning.session("graft-bench", s"local[$cpus]")

    // Warmup: touch every table scan + exercise codegen/shuffle machinery.
    val t = Tables(spark, sfDir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings)
      .foreach(df => df.limit(1).count())
    // a scan + aggregate and a join: the first join otherwise pays the
    // join machinery's first-execution cost inside its timed number
    SparkEntry.select(Seq("q01", "q03")).foreach(_.run(spark, sfDir).count())
    // ensure the bucketed corpus layout UNTIMED: its one-time write (or
    // per-JVM re-register) is campaign setup, not q166's per-pass cost.
    // Touch the scan too — per-file footer reads + FileStatusCache fill
    // are session warmup, and leaving ONLY the bucketed table cold
    // skewed q166's time ~3x vs its steady state. count() instead of
    // limit(1): limit touches ONE bucket file, a metadata-only count
    // touches all 32 footers.
    try graft.sources.BucketedCorpus.documents(spark, sfDir).count()
    catch { case NonFatal(_) => () }

    // Input sanity gate: a physical-type or schema drift that empties a
    // table — or nulls the event-time column every event-time query
    // filters on — silently DEFLATES the numbers instead of failing
    // them. A benchmark that can quietly measure nothing is worse than
    // one that crashes: fail fast, never a fake-fast total.
    {
      import org.apache.spark.sql.functions.col
      val checks: Seq[(String, Long)] = Seq(
        "lineitem" -> t.lineitem.count(),
        "orders" -> t.orders.count(),
        "events" -> t.events.count(),
        "events.ts non-null" -> t.events.filter(col("ts").isNotNull).count(),
        "documents" -> t.documents.count(),
        "embeddings" -> t.embeddings.count())
      val degenerate = checks.filter(_._2 == 0L)
      require(degenerate.isEmpty,
        s"degenerate bench input at $sfDir — empty: " +
          degenerate.map(_._1).mkString(", ") +
          " (a no-op load would deflate every dependent query's time)")
      // ts must also be a real TIMESTAMP after normalization, or the
      // event-time queries degrade to no-op casts
      require(t.events.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"events.ts normalized to ${t.events.schema("ts").dataType}, expected TIMESTAMP")
    }

    val suite = timeSuite(spark, sfDir, cpus, selected)

    // listener delivery is async; the fence guarantees every capped
    // query's metrics landed before the artifact reads them
    graft.metrics.CapObservatory.fence(spark)
    // a filtered local iteration must not overwrite the full registry's
    // last-run record
    emit(suite, graft.metrics.CapObservatory.snapshotJson(),
      writeArtifacts = filter.isEmpty, stop = () => spark.stop())
    RegistryRunner.exitIfFailed(suite.timed)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query on SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout. A small untimed warmup first so JVM/codegen
  * startup isn't attributed to whichever query happens to run first.
  *
  * The artifact is self-diagnosing: it records its own conditions (heap
  * max, cpu count, SPARK_DRIVER_MEM) and per-query GC time + post-sweep
  * heap, and any query slower than 3x the suite median gets an automatic
  * second timed run with both times reported — so a one-off environmental
  * stall (cold page cache, concurrent activity) is distinguishable from a
  * real plan regression without a manual rerun.
  *
  * The artifact is also self-CALIBRATING: the host this runs on has
  * measured the same binary 2x–10x apart across windows (r8/r10/r12),
  * so a pinned sentinel pair runs first and its ratio to the quiet-box
  * baseline recorded in bench_full.json becomes the window's
  * `box_factor`. Every prior is scaled by it before a swing verdict,
  * and anything still flagged `regression` gets a fresh-forked-JVM
  * median-of-3 probe (a same-JVM rerun shares the window and the heap;
  * three forks don't) before the verdict ships.
  */
object Bench {
  /** The near-dup-graph family: every member's plan embeds the SAME
    * canonical pair relation (`Dedup.allPairsJaccard(_, _, 0.5)` — see
    * Curation7.pairs scaladoc). Bench primes that relation (persist +
    * eager count, untimed-but-reported) before each member so the timed
    * number measures the member's own work over a warm family build. */
  private val PairFamily = Set(
    "q84_dup_clusters", "q89_curation_pipeline", "q100_allpairs_jaccard",
    "q136_canonical_docs", "q138_cluster_split", "q139_dup_graph_triangles",
    "q146_pagerank", "q158_incremental_cc", "q159_threshold_sweep",
    "q196_neardup_purge_apply")

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Prior-run per-query seconds, for the swing gate: prefer the full
    * map this main wrote last run (`bench_full.json` in cwd — survives
    * across rounds in the repo workspace), else best-effort re-parse of
    * the newest driver artifact's truncated stdout tail (qNN-prefix
    * keys). Only a prior taken at the SAME scale factor is comparable,
    * so both paths gate on the sf recorded in the artifact. No JSON dep
    * in main: regex extraction over the flat shapes this file emits. */
  /** Extract per-query seconds from a prior `bench_full.json` body —
    * full-name keys — provided its recorded sf matches. */
  private[graft] def parsePriorFull(full: String, sfDir: String): Map[String, Double] = {
    val sfTag = sfDir.split('/').last // "sf0.1"
    val priorSf = raw""""sf":"([^"]+)"""".r.findFirstMatchIn(full).map(_.group(1))
    if (priorSf.exists(p => p == sfDir || p.split('/').last == sfTag))
      raw""""(q[0-9]+[a-z]?_[a-z0-9_]+)":\{"t":([0-9.]+)""".r
        .findAllMatchIn(full).map(m => m.group(1) -> m.group(2).toDouble).toMap
    else Map.empty
  }

  /** Extract per-query seconds from a driver BENCH_r artifact (qNN
    * prefix keys; the captured stdout tail may be truncated mid-line —
    * whatever pairs survive are still usable priors). The artifact's
    * "tail" field is a JSON STRING, so its quotes arrive
    * backslash-escaped (`\"q103\":1.441`) — the key regex accepts both
    * the escaped and bare forms. The driver records sf as a bare
    * number; the gate compares digits, anchored so a 0.1 run never
    * accepts a 0.15 prior. */
  private[graft] def parsePriorTail(s: String, sfDir: String): Map[String, Double] = {
    val digits = java.util.regex.Pattern.quote(sfDir.split('/').last.stripPrefix("sf"))
    // anchor rejects a following digit OR '.', so an integer-sf run
    // (sf1) never accepts a fractional prior (1.5)
    if (raw""""sf"\s*:\s*$digits(?![0-9.])""".r.findFirstIn(s).isEmpty) Map.empty
    else raw"""\\?"(q[0-9]+[a-z]?)\\?":([0-9.]+)""".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** "noise" when the best observed run is back inside 2x the
    * BOX-NORMALIZED prior (a one-off environmental window);
    * "regression" when even the rerun is slow. t2 < 0 means the rerun
    * itself errored — judge on t1 alone. `factor` is the sentinel box
    * factor (≥ 1): on a window where the whole host runs 2x slow,
    * priors taken on a quiet box scale up before the comparison, so
    * untouched code can't read as a regression (the r10/r12 false
    * positives: same binary measured 4.4 s / 48.6 s / 11.3 s within
    * hours). */
  private[graft] def swingVerdict(t1: Double, t2: Double, prior: Double,
      factor: Double = 1.0): String = {
    val best = if (t2 >= 0) math.min(t1, t2) else t1
    if (best <= 2 * prior * factor) "noise" else "regression"
  }

  /** The calibration pair: run FIRST each bench, their quiet-box
    * baseline rides bench_full.json. One scan+agg-bound and one
    * join+agg-bound query, both plan-stable since round 1 — together
    * they sample the two resource profiles host noise hits (CPU/memory
    * bandwidth and shuffle). */
  private[graft] val SentinelQueries = Seq("q01_pricing_summary", "q03_top_revenue")

  /** Prior sentinel BASELINE (quiet-box estimate = min time ever
    * observed per sentinel at this sf) from a bench_full.json body,
    * gated on scale factor exactly like [[parsePriorFull]]. */
  private[graft] def parseSentinelBaseline(full: String, sfDir: String): Map[String, Double] = {
    val sfTag = sfDir.split('/').last
    val priorSf = raw""""sf":"([^"]+)"""".r.findFirstMatchIn(full).map(_.group(1))
    if (!priorSf.exists(p => p == sfDir || p.split('/').last == sfTag)) Map.empty
    else raw""""sentinel_baseline":\{([^}]*)\}""".r.findFirstMatchIn(full)
      .map(_.group(1))
      .map(body => raw""""(q[0-9]+[a-z]?_[a-z0-9_]+)":([0-9.]+)""".r
        .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap)
      .getOrElse(Map.empty)
  }

  /** Box factor for THIS window: geometric mean of observed/baseline
    * over the sentinels, clamped to [1, 8] — a fast box never SHRINKS
    * priors (factor ≥ 1 keeps the gate conservative), and past 8x the
    * artifact should read as garbage rather than be normalized. 1.0
    * when no comparable baseline exists (first run at an sf). */
  private[graft] def boxFactor(observed: Map[String, Double],
      baseline: Map[String, Double]): Double = {
    val ratios = observed.toSeq.flatMap { case (k, t) =>
      baseline.get(k).filter(b => b > 0 && t > 0).map(b => t / b) }
    if (ratios.isEmpty) 1.0
    else math.min(8.0, math.max(1.0,
      math.exp(ratios.map(math.log).sum / ratios.size)))
  }

  /** Box-normalized suite total — the cross-round-comparable headline
    * number (the r15 lesson: the committed definitive artifact sat on a
    * 1.486→1.204 window and read as a regression until ROUNDNOTES
    * exegesis; `value_norm` makes the normalized number part of the
    * artifact itself). Normalizes by the geometric mean of the start
    * and end sentinel factors, DAMPED by exponent [[NormBeta]]: the
    * r16 calibration (the two rounds with both a contended driver run
    * and a quiet-window ground truth on the same frozen tree) showed
    * linear division over-corrects by 15–30% — the sentinels saturate
    * worse under contention than the mixed suite does, so the sentinel
    * factor overstates the suite-wide inflation. Fitting
    * total/quiet = gm^β to the pairs: r15 gm 1.337 → β 0.480; r16 gm
    * 1.895 → β 0.391; β = 0.44 reproduces both quiet totals within
    * ~3% (142.0 → est 143.7; 126.2 → est 122.4). Factors below 1
    * never occur (boxFactor clamps), but guard anyway so a hand-edited
    * prior can't inflate the normalized number above raw. */
  private[graft] val NormBeta = 0.44
  private[graft] def valueNorm(total: Double, factorStart: Double,
      factorEnd: Double): Double = {
    val gm = math.sqrt(math.max(1.0, factorStart) * math.max(1.0, factorEnd))
    total / math.pow(gm, NormBeta)
  }

  /** Headline noise flag (r16 VERDICT #8): true when the quiet-window
    * gate was exhausted with the start sentinel still over the gate
    * (the run proceeded on a window that never quieted — r16's
    * box_wait_sec 300 / factor 2.351 artifact), or when the END
    * sentinel reads >2× (mid-run co-tenant ramp). Downstream tooling
    * reads the flag instead of eyeballing factor fields. */
  private[graft] def noisyFlag(boxWaitSec: Int, factorStart: Double,
      factorEnd: Double): Boolean =
    (boxWaitSec >= MaxQuietWaits * 60 && factorStart > QuietFactorGate) ||
      factorEnd > 2.0

  /** Definitive-artifact gate: a start-of-run sentinel factor above
    * this means the window is too noisy to commit as the round's
    * number — Bench re-measures the sentinels after a pause (up to
    * [[MaxQuietWaits]] times) instead of charging ahead and leaving
    * the adjudication to a human reading ROUNDNOTES. */
  private[graft] val QuietFactorGate = 1.2
  private[graft] val MaxQuietWaits = 5

  /** Fresh-JVM probe command line: same add-opens/heap/-D args as this
    * JVM (sbt's fork provides them), same classpath, `graft.Bench`
    * re-entered in probe mode via SPARK_GRAFT_PROBE. Pure — the spec
    * pins the arg filtering (a -javaagent or sbt-internal flag must
    * never leak into the child). */
  private[graft] def probeCommand(javaHome: String, jvmArgs: Seq[String],
      classpath: String): Seq[String] = {
    val keep = scala.collection.mutable.ArrayBuffer.empty[String]
    var expectValue = false
    jvmArgs.foreach { a =>
      if (expectValue) { keep += a; expectValue = false }
      else if (a == "--add-opens" || a == "--add-exports") { keep += a; expectValue = true }
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=") ||
               a.startsWith("-Xmx") || a.startsWith("-D")) keep += a
    }
    Seq(javaHome + "/bin/java") ++ keep.toSeq ++ Seq("-cp", classpath, "graft.Bench")
  }

  /** Median-of-N fresh-forked-JVM re-measurements of one query — the
    * court of last resort for a swing still flagged `regression` after
    * box-factor normalization. Each fork runs the query once untimed
    * (tables + codegen warm) then once timed, so the probe measures the
    * steady state, not JVM startup. Returns the median, or -1 when the
    * forks failed (probe is best-effort: a broken fork must not fail
    * the bench). */
  /** Extract the probe child's measurement from its stdout. -1 is the
    * child's "timed run failed" sentinel — a failed fork counts as NO
    * measurement (None), so it can never out-vote the in-JVM
    * regression verdict with a bogus fast time (the r13 ADVICE fix;
    * BenchSwingSpec pins both directions). */
  /** One swings-map entry for the artifact. `probe` semantics: >= 0 is
    * the fork median; -1 means the probe RAN and every fork failed;
    * -2 means the in-JVM verdict was `regression` but the per-run
    * probe budget ([[main]]'s MaxProbes) was already spent, so NO fork
    * ran — the verdict stands unprobed (the r15 ADVICE fix: before
    * this marker, budget exhaustion was indistinguishable from "never
    * escalated" without cross-reading the verdict field); NaN means
    * the swing never escalated (the in-JVM rerun already adjudicated
    * it) and serializes as `null` so an artifact reader can tell "not
    * needed" from "machinery broken". */
  private[graft] def swingEntry(key: String, t1: Double, t2: Double,
      prior: Double, probe: Double, verdict: String): String = {
    def n3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    "\"" + key + "\":{\"t1\":" + n3(t1) + ",\"t2\":" + n3(t2) +
      ",\"prior\":" + n3(prior) +
      ",\"probe\":" + (if (probe.isNaN) "null" else n3(probe)) +
      ",\"verdict\":\"" + verdict + "\"}"
  }

  private[graft] def parseProbeOutput(s: String): Option[Double] =
    raw"""PROBE \S+ (-?[0-9.]+)""".r
      .findFirstMatchIn(s)
      .map(_.group(1).toDouble).filter(_ >= 0)

  private def forkProbeMedian(name: String, sfDir: String, cpus: String,
      runs: Int = 3): Double = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = probeCommand(sys.props("java.home"), jvmArgs, sys.props("java.class.path"))
    val times = (1 to runs).flatMap { _ =>
      try {
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_PROBE", name)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.redirectErrorStream(false)
        val p = pb.start()
        val sb = new StringBuilder
        val outReader = new Thread(() => {
          val src = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
          try src.getLines().foreach(l => sb.synchronized(sb.append(l).append('\n')))
          finally src.close()
        })
        val errDrain = new Thread(() => {
          try { val in = p.getErrorStream; val buf = new Array[Byte](8192)
            while (in.read(buf) >= 0) () } catch { case _: Throwable => () }
        })
        outReader.setDaemon(true); errDrain.setDaemon(true)
        outReader.start(); errDrain.start()
        if (!p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)) {
          p.destroyForcibly(); None
        } else {
          outReader.join(5000)
          parseProbeOutput(sb.synchronized(sb.toString))
        }
      } catch { case _: Throwable => None }
    }
    if (times.isEmpty) -1.0 else times.sorted.apply(times.size / 2)
  }

  private[graft] def loadPrior(sfDir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    def read(p: java.nio.file.Path): String =
      try new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      catch { case _: Throwable => "" }
    val fromFull = parsePriorFull(read(java.nio.file.Paths.get("bench_full.json")), sfDir)
    if (fromFull.nonEmpty) return fromFull
    // fallback: newest BENCH_r*.json tail (driver capture, may be cut);
    // newest by the PARSED round number — lexicographic puts r100
    // before r11
    // round digits capped at 9 so the toLong can never throw and nuke
    // the whole listing (an unparsable stray name just doesn't match)
    val benches =
      try java.nio.file.Files.list(java.nio.file.Paths.get(".")).iterator().asScala
        .filter(_.getFileName.toString.matches("BENCH_r\\d{1,9}\\.json")).toSeq
        .sortBy(_.getFileName.toString.replaceAll("[^0-9]", "").toLong)
      catch { case _: Throwable => Seq.empty }
    benches.lastOption.map(p => parsePriorTail(read(p), sfDir)).getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session("graft-bench", s"local[$cpus]")

    // Probe mode (child of forkProbeMedian): run ONE query warm-then-
    // timed in this fresh JVM, print the time, exit. No priors, no
    // artifact writes — the parent owns the verdict.
    sys.env.get("SPARK_GRAFT_PROBE").foreach { probeName =>
      val fn = SparkEntry.queries.getOrElse(probeName,
        sys.error(s"unknown probe query $probeName"))
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () } // warm
      SessionTuning.releaseCaches(spark)
      // family members probe under the same warm-build conditions the
      // main loop times them under (see PairFamily), or the fork would
      // compare a cold build against a warm prior and cry regression
      if (PairFamily.contains(probeName))
        try graft.queries.Dedup.allPairsJaccard(spark, sfDir, 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
        catch { case _: Throwable => () }
      val t0 = System.nanoTime()
      // A crashing timed run must NOT read as a fast run: the probe's
      // whole job is to confirm or clear an in-JVM 'regression' verdict,
      // and a swallowed exception here would let a broken fork reclassify
      // a real regression as noise. Failure prints the -1 sentinel; the
      // parent counts it as a failed fork, never as a time.
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      println(f"PROBE $probeName $dt%.3f")
      System.out.flush()
      spark.stop()
      return
    }

    // Warmup: touch every table scan + exercise codegen/shuffle machinery.
    val t = Tables(spark, sfDir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings)
      .foreach(df => df.limit(1).count())
    SparkEntry.queries.get("q01_pricing_summary").foreach(f => f(spark, sfDir).count())
    // ensure the bucketed corpus layout UNTIMED: its one-time write (or
    // per-JVM re-register) is campaign setup, not q166's per-pass cost.
    // Touch the scan too — the SAME limit(1) treatment every plain
    // table gets above: per-file footer reads + FileStatusCache fill
    // are session warmup, and leaving ONLY the bucketed table cold
    // skewed q166's t1 ~3x vs its steady state (r17 adjudication).
    // count() instead of limit(1): limit touches ONE bucket file, a
    // metadata-only count touches all 32 footers.
    try graft.sources.BucketedCorpus.documents(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Input sanity gate (the r7 q18=0.034s lesson): a physical-type or
    // schema drift that empties a table — or nulls the event-time
    // column every event-time query filters on — silently DEFLATES the
    // numbers instead of failing them. A benchmark that can quietly
    // measure nothing is worse than one that crashes: fail fast, so the
    // driver records an error, never a fake-fast total.
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

    // Isolation (untimed — the metric is the sum of per-query dt): drop
    // everything a query left behind so leftovers can't distort a later
    // query's memory budget. Three layers, because each covers storage
    // the others can't reach:
    //  - SessionTuning.releaseCaches: Dataset persists registered in the
    //    CacheManager (e.g. allPairsJaccardOn's MEMORY_AND_DISK corpus),
    //    then the RDD-level persists it never sees — localCheckpoint()
    //    blocks (ConnectedComponents' final labels generation) live here;
    //  - System.gc(): broadcasts/shuffle state free via the weak-ref
    //    ContextCleaner, which only runs when the JVM collects — 113
    //    queries accumulate enough to age the heap otherwise (the
    //    round-4 in-run-vs-isolated 3x drift on heavy queries).
    def sweep(): Unit = {
      SessionTuning.releaseCaches(spark)
      System.gc()
    }

    val rt = Runtime.getRuntime
    // timed run + untimed sweep; returns (sec, gcMsDuringRun, heapMbAfterSweep)
    def runOnceWith(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        sweeper: () => Unit): (Double, Long, Long) = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcd = gcMillis() - gc0
      sweeper()
      (dt, gcd, (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))
    }
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Long, Long) = runOnceWith(fn, () => sweep())

    // Optional comma-separated query filter for local iteration, e.g.
    // SPARK_GRAFT_QUERIES=q61,q78 — driver runs unfiltered. Matches the
    // full name or the qNNN id (exact, so "q11" never selects q110_*).
    val filter = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(',').map(_.trim).toSet)

    // Host calibration (the r10/r12 lesson: the box itself swings >2x
    // between windows, and a same-JVM same-window rerun can't tell a
    // slow HOST from a slow PLAN). The sentinel pair runs first, timed;
    // against the quiet-box baseline recorded in bench_full.json it
    // yields this window's box factor, which scales every prior before
    // a swing verdict. Sentinels are measured through the same
    // runOnce/sweep path as the metric runs.
    def measureSentinels(): Map[String, Double] = SentinelQueries.flatMap { name =>
      SparkEntry.queries.get(name).map(fn => name -> runOnce(fn)._1)
    }.toMap
    var sentinelObserved: Map[String, Double] = measureSentinels()
    val priorBaseline = parseSentinelBaseline(
      { try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_full.json")), "UTF-8")
        catch { case _: Throwable => "" } }, sfDir)
    var factor = boxFactor(sentinelObserved, priorBaseline)
    // Definitive-artifact gate (r15 VERDICT #1): the committed r15
    // artifact was captured on a box_factor-1.486 window and read as a
    // +18% regression until manual exegesis. If the START sentinel
    // reads noisy, wait for a quieter window (bounded: MaxQuietWaits ×
    // 60 s) before running the suite — the artifact records how long it
    // waited. Skipped for filtered local iteration runs (and a window
    // that never quiets just proceeds; value_norm still normalizes it).
    var boxWaitSec = 0
    while (filter.isEmpty && factor > QuietFactorGate && boxWaitSec < MaxQuietWaits * 60) {
      // visible, or an operator watching an unfiltered bench sees a
      // silent 5-minute hang (ADVICE r16)
      println(f"[bench] box_factor $factor%.3f > $QuietFactorGate, waiting 60 s " +
        s"(${boxWaitSec / 60 + 1}/$MaxQuietWaits)")
      Thread.sleep(60000)
      boxWaitSec += 60
      sentinelObserved = measureSentinels()
      factor = boxFactor(sentinelObserved, priorBaseline)
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filter.forall(f => f.contains(n) || f.contains(n.takeWhile(_ != '_')))
    }
    // Family prime (r13 VERDICT #7, amortized per r15 VERDICT #4): the
    // near-dup-graph queries all derive from the ONE canonical pair
    // relation allPairsJaccard(0.5). Spark's cache manager keys on the
    // canonicalized plan, so persisting and counting that relation
    // substitutes an InMemoryRelation for the whole prefix-filtered
    // pair build inside each family query's own plan — the timed number
    // then measures the query's OWN work (CC, PageRank, census, split),
    // the q139 eager-count discipline at family scope. Until r15 every
    // family member primed FRESH (the full isolation sweep between
    // queries dropped the cache), costing ~26 s of untimed wall per
    // bench; now the family runs as a CONTIGUOUS BLOCK over one prime:
    // non-family queries keep the full three-layer sweep, family
    // members get a light sweep that unpersists everything EXCEPT the
    // RDDs backing the family cache (snapshotted right after the
    // prime) plus a GC — so members still can't leak blocks into each
    // other, while the shared build survives the block. The prime
    // stays untimed but REPORTED (family_prime_sec / family_primes).
    var familyPrimeSec = 0.0
    var familyPrimes = 0
    // ONE prime implementation for both call sites (block prime and
    // rerun-path re-prime), so the storage level / guard / accounting
    // can never desynchronize. The guard: a prime failure must degrade
    // to "family query runs unprimed" (and records the attempt's wall
    // cost), never abort the whole bench (ADVICE r14).
    def primeFamily(): Unit = {
      val t0 = System.nanoTime()
      try graft.queries.Dedup.allPairsJaccard(spark, sfDir, 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count()
      catch { case _: Throwable => () }
      familyPrimeSec += (System.nanoTime() - t0) / 1e9
      familyPrimes += 1
    }
    def measured(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Long, Long) = {
      if (PairFamily.contains(name)) primeFamily()
      runOnce(fn)
    }
    val (famSelected, restSelected) =
      selected.partition(p => PairFamily.contains(p._1))
    val restResults = restSelected.map { case (name, fn) => name -> runOnce(fn) }
    val famResults: Seq[(String, (Double, Long, Long))] =
      if (famSelected.isEmpty) Seq.empty
      else {
        primeFamily()
        // everything persisted at this instant IS the family cache
        // (pairs + the shingled corpus + the prefix relation it rides):
        // snapshot BOTH the RDD ids and the CacheManager entry
        // identities, because the two layers leak independently — a
        // member's internal Dataset.persist leaves a CacheManager ENTRY
        // that an RDD-only sweep turns into a dead substitution target
        // (recomputes without caching, and the next member's own
        // persist of the same plan no-ops as "already cached"), while
        // localCheckpoint blocks live only at the RDD layer.
        val familyRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val familyEntries = org.apache.spark.sql.graftbridge.ColumnBridge
          .cachedEntryRefs(spark)
        def famSweep(): Unit = {
          org.apache.spark.sql.graftbridge.ColumnBridge
            .uncacheEntriesExcept(spark, familyEntries)
          spark.sparkContext.getPersistentRDDs
            .filter { case (id, _) => !familyRdds.contains(id) }
            .values.foreach(_.unpersist(blocking = true))
          System.gc()
        }
        val rs = famSelected.map { case (name, fn) =>
          name -> runOnceWith(fn, () => famSweep())
        }
        sweep() // full three-layer sweep once the block is done
        rs
      }
    // emission and the median/swing machinery are name-keyed; keep the
    // combined list in registry order so artifacts stay deterministic
    val results = (restResults ++ famResults).sortBy(_._1)

    // The start-of-run factor can't see a window that degrades
    // MID-run (observed live in r13: a co-tenant ramped after the
    // sentinels and inflated late-run queries 2-4x). Re-measure the
    // sentinels AFTER the suite: swings judge against the WORSE of the
    // two factors — anything that still looks like a regression under
    // the most charitable environmental reading escalates to the
    // fresh-JVM probes.
    val sentinelEnd: Map[String, Double] = SentinelQueries.flatMap { name =>
      SparkEntry.queries.get(name).map(fn => name -> runOnce(fn)._1)
    }.toMap
    val factorEnd = boxFactor(sentinelEnd, priorBaseline)
    val judgeFactor = math.max(factor, factorEnd)
    // quiet-box estimate carried forward: min ever observed per sentinel
    val newBaseline: Map[String, Double] = SentinelQueries.flatMap { k =>
      val obs: Seq[Double] = priorBaseline.get(k).toSeq ++
        sentinelObserved.get(k).toSeq ++ sentinelEnd.get(k).toSeq
      obs.reduceOption((a, b) => math.min(a, b)).map(k -> _)
    }.toMap

    // Outlier re-run: any query slower than 3x the suite median (with a
    // 2.5 s floor — the suite median is ~0.5 s of scheduling overhead,
    // and sub-3 s queries aren't the anomaly class) runs a second time,
    // timed — if t2 ~= median-scale, the first number was environmental
    // (cold cache, concurrent load, GC debt), not a plan property.
    val times = results.map(_._2._1).sorted
    val median = if (times.isEmpty) 0.0 else times(times.length / 2)
    val outlierCut = math.max(3 * median, 2.5)
    val medianRerun: Map[String, Double] = results.collect {
      case (name, (dt, _, _)) if median > 0 && dt > outlierCut =>
        name -> selected.collectFirst { case (`name`, fn) => measured(name, fn)._1 }.getOrElse(-1.0)
    }.toMap

    // Prior-round memory (the r10 q139 lesson: a 10 s noise-window
    // number shipped as the headline because the auto-rerun had nothing
    // to compare against). Any query >2x its prior-run time — even if
    // it ducked the 3x-median cut — gets a rerun, and the swing ships
    // with both times, the prior, and a verdict: "noise" when the best
    // observed run is back inside 2x prior (a one-off environmental
    // window), "regression" when even the rerun is slow (a real plan
    // change that must not hide as assumed noise). Sub-second queries
    // are below the scheduling-jitter floor and never flagged.
    val prior = loadPrior(sfDir)
    def priorOf(name: String): Option[Double] =
      prior.get(name).orElse(prior.get(name.takeWhile(_ != '_'))).filter(_ > 0)
    // the flag threshold uses the BOX-NORMALIZED prior: on a 2x-slow
    // window untouched code lands inside 2·prior·factor and never
    // enters the swing machinery at all
    val swungNames = results.collect {
      case (name, (dt, _, _))
        if dt > 1.0 && priorOf(name).exists(p => dt > 2 * p * judgeFactor) => name
    }
    val swingRerun: Map[String, Double] = swungNames
      .filterNot(medianRerun.contains)
      .map(name => name ->
        selected.collectFirst { case (`name`, fn) => measured(name, fn)._1 }.getOrElse(-1.0))
      .toMap
    val rerun = medianRerun ++ swingRerun
    // Escalation for anything STILL flagged regression after
    // normalization: fresh-forked-JVM median-of-3 (same-JVM reruns
    // share the window and the heap — three forks don't). Capped so a
    // garbage prior file can't trigger an unbounded probe storm.
    val MaxProbes = 4
    var probesLeft = MaxProbes
    val swings: Seq[(String, (Double, Double, Double, Double, String))] =
      swungNames.map { name =>
        val t1 = results.collectFirst { case (`name`, (dt, _, _)) => dt }.getOrElse(-1.0)
        val t2 = rerun.getOrElse(name, -1.0)
        val p = priorOf(name).getOrElse(-1.0)
        val inJvm = swingVerdict(t1, t2, p, judgeFactor)
        // probe value semantics in the artifact: a number >= 0 is the
        // fork median; -1 means the probe RAN and all forks failed;
        // -2 means the verdict WANTED a probe but the MaxProbes budget
        // was spent (verdict stands unprobed — the r15 ADVICE fix: a
        // reader no longer has to infer budget exhaustion from
        // verdict=="regression" + null); NaN (serialized as null)
        // means the swing never escalated — the in-JVM rerun already
        // adjudicated it. Keeping the no-measurement cases distinct
        // stops a reader from mistaking "not needed" for "machinery
        // broken" (observed in r15: q158's rerun-adjudicated noise
        // carried probe:-1.0 and read like a triple fork failure).
        val (probe, verdict) =
          if (inJvm == "regression" && probesLeft > 0) {
            probesLeft -= 1
            val m = forkProbeMedian(name, sfDir, cpus)
            if (m >= 0 && m <= 2 * p * judgeFactor) (m, "noise") else (m, "regression")
          } else if (inJvm == "regression") (-2.0, inJvm)
          else (Double.NaN, inJvm)
        name -> (t1, t2, p, probe, verdict)
      }

    def f3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.map(_._2._1).sum
    // total with each outlier's time replaced by its best observed run —
    // the environment-independent number when t2 << t1 (one-off stall)
    val totalAdj = results.map { case (k, (dt, _, _)) =>
      rerun.get(k).filter(_ >= 0).map(math.min(dt, _)).getOrElse(dt)
    }.sum
    val gcSec = results.map(_._2._2).sum / 1000.0
    val env = s""""env":{"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "default")}"""" +
      s""","cpus":"$cpus","procs":${rt.availableProcessors()}""" +
      s""","heap_max_mb":${rt.maxMemory() / (1024 * 1024)}}"""
    val rerunJson = rerun.toSeq.sortBy(_._1).map { case (k, t2) =>
      val t1 = results.collectFirst { case (`k`, (dt, _, _)) => dt }.getOrElse(-1.0)
      "\"" + k.takeWhile(_ != '_') + "\":{\"t1\":" + f3(t1) + ",\"t2\":" + f3(t2) + "}"
    }.mkString("{", ",", "}")
    val swingsJson = swings.sortBy(_._1).map { case (k, (t1, t2, p, probe, verdict)) =>
      Bench.swingEntry(k.takeWhile(_ != '_'), t1, t2, p, probe, verdict)
    }.mkString("{", ",", "}")
    val normTotal = valueNorm(total, factor, factorEnd)
    val noisy = noisyFlag(boxWaitSec, factor, factorEnd)
    val sentinelJson =
      "\"box_factor\":" + f3(factor) +
      ",\"box_factor_end\":" + f3(factorEnd) +
      ",\"box_wait_sec\":" + boxWaitSec +
      ",\"noisy\":" + noisy +
      ",\"sentinel_observed\":" + sentinelObserved.toSeq.sortBy(_._1)
        .map { case (k, t) => "\"" + k + "\":" + f3(t) }.mkString("{", ",", "}") +
      ",\"sentinel_end\":" + sentinelEnd.toSeq.sortBy(_._1)
        .map { case (k, t) => "\"" + k + "\":" + f3(t) }.mkString("{", ",", "}") +
      ",\"sentinel_baseline\":" + newBaseline.toSeq.sortBy(_._1)
        .map { case (k, t) => "\"" + k + "\":" + f3(t) }.mkString("{", ",", "}")

    // Full-name per-query map goes to a file (capture-size-proof);
    // stdout gets ONE compact line — query keys truncated to their qNN
    // prefix — small enough (~2 KB for 113 queries) that a tail capture
    // of the run log retains the whole line, headline first.
    val full = results.map { case (k, (dt, gc, heap)) =>
      "\"" + k + "\":{\"t\":" + f3(dt) + ",\"gc_ms\":" + gc + ",\"heap_mb\":" + heap + "}"
    }.mkString("{", ",", "}")
    // listener delivery is async; the fence guarantees every capped
    // query's metrics landed before the artifact reads them
    graft.metrics.CapObservatory.fence(spark)
    val capsJson = graft.metrics.CapObservatory.snapshotJson()
    val fullLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"""" +
      s""","n_queries":${results.size},"value_best":${f3(totalAdj)},"value_norm":${f3(normTotal)},"gc_sec":${f3(gcSec)},"family_prime_sec":${f3(familyPrimeSec)},"family_primes":$familyPrimes,$sentinelJson,$env,"caps":$capsJson,"rerun":$rerunJson,"swings":$swingsJson,"queries":$full}"""
    // bench_full.json is the next run's prior memory (per-query times +
    // sentinel baseline) — only an UNFILTERED run may overwrite it, or
    // a 2-query local iteration would wipe the full registry's priors
    if (filter.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    val qs = results.map { case (k, (dt, _, _)) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(dt) }
      .mkString("{", ",", "}")
    // Compact headline (~350 B): totals + box factors + worst-5 only.
    // The driver's artifact records the LAST ~2000 chars of stdout, and
    // for 13 rounds the single big line overflowed that window, cutting
    // the header (totals) off — `"parsed": null` every round. Printing
    // this line BEFORE and AFTER the big line guarantees a complete
    // parseable JSON object survives whether the capture keeps the head
    // or the tail. The big line (and bench_full.json) remain the full
    // per-query record.
    val worst5 = results.sortBy(-_._2._1).take(5).map { case (k, (dt, _, _)) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f3(dt)
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"""" +
      s""","n_queries":${results.size},"value_best":${f3(totalAdj)},"value_norm":${f3(normTotal)},"gc_sec":${f3(gcSec)}""" +
      s""","box_factor":${f3(factor)},"box_factor_end":${f3(factorEnd)},"box_wait_sec":$boxWaitSec,"noisy":$noisy""" +
      s""","family_prime_sec":${f3(familyPrimeSec)},"family_primes":$familyPrimes,"worst5":$worst5}"""
    // Committed-quiet-artifact hook (r16 VERDICT #2): the builder's
    // definitive quiet-window run sets SPARK_GRAFT_QUIET_OUT to write
    // the compact headline to a repo path (e.g. BENCH_QUIET_r17.json)
    // so cross-round comparison rides a committed artifact, not
    // ROUNDNOTES prose that the driver's bench_full.json overwrite can
    // orphan. Unfiltered runs only — a 2-query iteration must never
    // masquerade as the round's number — and QUIET runs only (both
    // sentinel factors ≤ 1.05, the BenchSwingSpec artifact gate): a
    // window that degrades mid-run must not silently overwrite a good
    // committed artifact (observed live on this hook's first outing:
    // start 1.134 after 4 gate waits, end 2.721).
    // The quiet FILE additionally carries the full per-query map
    // (r17 VERDICT #7: worst5 alone made q166's cross-round
    // adjudication impossible) — full query names, seconds, same
    // shape as the driver tail's `queries` object. Only stdout stays
    // compact; a file has no capture-size limit.
    val quietLine = compact.dropRight(1) +
      ",\"queries\":" + results.map { case (k, (dt, _, _)) =>
        "\"" + k + "\":" + f3(dt) }.mkString("{", ",", "}") + "}"
    if (filter.isEmpty && !noisy && factor <= 1.05 && factorEnd <= 1.05)
      sys.env.get("SPARK_GRAFT_QUIET_OUT").foreach { p =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (quietLine + "\n").getBytes("UTF-8"))
        catch { case _: Throwable => () }
      }
    // r18 VERDICT #2: the full per-query map must never depend on a
    // stdout tail capture (the single big line gets front-truncated in
    // a 2000-char window and 206 queries cannot fit one). EVERY
    // unfiltered run therefore writes the same full-map line —
    // box factors and the noisy flag ride inside, so a consumer can
    // judge window quality itself — to a fixed cwd path. Unlike the
    // quiet-gated SPARK_GRAFT_QUIET_OUT artifact (whose box<=1.05
    // schema BenchSwingSpec pins), this file is overwritten
    // unconditionally: it records the LAST run at this core count,
    // quiet or not — the cpus suffix keeps the driver's 32-core and
    // 8-core passes from clobbering each other, so the scaling
    // comparison also rides files, not tails.
    if (filter.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_perq_last_c$cpus.json"),
        (quietLine + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    println(compact)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"value_best":${f3(totalAdj)},"value_norm":${f3(normTotal)},"gc_sec":${f3(gcSec)},"family_prime_sec":${f3(familyPrimeSec)},"family_primes":$familyPrimes,$sentinelJson,$env,"caps":$capsJson,"rerun":$rerunJson,"swings":$swingsJson,"queries":$qs}""")
    System.out.flush()
    // Stop Spark BEFORE the final headline print: nothing (not even a
    // misconfigured stdout log appender) can follow it on stdout. With
    // build.sbt's StdoutOutput + showSuccess := false this compact
    // line is the process's literal last stdout line — the driver's
    // last-line JSON parse (null for 14 rounds) gets a bare object.
    spark.stop()
    println(compact)
    System.out.flush()
  }
}

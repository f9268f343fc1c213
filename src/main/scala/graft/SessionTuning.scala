package graft

import org.apache.spark.sql.SparkSession

/** Builds the one Spark session every entry point (Bench, Verify,
  * StressMain, ProfileMain, PlanAudit, the example mains) and the test
  * base `SparkSpecBase` run on, with the measured engine tuning set in
  * one place, and derives the values that must scale with the
  * deployment. `session` is the only `SparkSession.builder` in the
  * program; `SessionBuilderGateSpec` keeps it that way.
  */
object SessionTuning {

  /** The session, for `master` (`local[N]` or a cluster URL), with:
    *
    *   - `spark.sql.shuffle.partitions` = the session's core count
    *     (`defaultParallelism`): every entry point ran one reduce
    *     partition per core. Set on the session after it starts, since
    *     a cluster's core count is known only then; a `newSession()`
    *     therefore starts from Spark's default 200.
    *   - AQE on (batch queries; Spark turns it off for every streaming
    *     query's session itself, so micro-batches keep a fixed plan).
    *   - `objectHashAggregate.sortBased.fallbackThreshold` =
    *     [[objectHashFallbackEntries]]. The legacy threshold is 128
    *     distinct keys per task, after which every collect_list or
    *     typed-imperative aggregate dumps to an external sorter and
    *     sort-aggregates by its (often string) group key: profiled as
    *     the dominant frame of the dedup family's text-keyed collapses.
    *   - `shuffle.sort.bypassMergeThreshold=1`, i.e. the sort shuffle
    *     writer. With R = cores reduce partitions the bypass-merge writer
    *     creates M x R temp files per shuffle and NIO-merges them:
    *     profiled as the dominant frames of every shuffle-heavy query
    *     (q28 steady state halved, 3.1 -> 1.6 s), and in streaming the
    *     churn repeats every micro-batch (wordcount 35.9k msgs/s under
    *     the sort writer vs 21.8k under bypass, back to back).
    *     Production clusters run R >> 200, where bypass never engages,
    *     so the sort writer is also the at-scale code path.
    *   - UTC session time zone, the UI off, log level WARN.
    */
  def session(appName: String, master: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        objectHashFallbackEntries.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark
  }

  /** ObjectHashAggregate's sort-based fallback threshold, derived from a
    * per-task BYTE budget instead of a bare entry count.
    *
    * The Spark config bounds ENTRY COUNT, not bytes: for text-keyed
    * aggregation maps (distinctTextToks' collapse) each entry holds the
    * full group-key text, so the honest invariant is
    * `entries x maxKeyBytes <= targetTaskBytes`. This derivation makes
    * that arithmetic the configuration surface:
    *
    *   - `SPARK_GRAFT_AGG_TASK_BYTES`   per-task aggregation-map budget
    *     (default 256 MiB — comfortably inside a 1 GiB-heap-per-core
    *     executor once execution-memory fractions are applied);
    *   - `SPARK_GRAFT_AGG_MAX_KEY_BYTES` the deployment's worst-case
    *     group-key width (default 1 KiB — above this corpus's ~400 B
    *     texts; a long-document deployment sets its own max text length
    *     here and the threshold scales DOWN automatically).
    *
    * Default 256 MiB / 1 KiB = 262144 entries — numerically identical to
    * the constant it replaces, so local bench numbers are unaffected; the
    * floor of 128 is Spark's own legacy default (never derive BELOW the
    * stock behavior), and the ceiling is `Int.MaxValue` because Spark's
    * conf is an Int. A malformed variable fails naming the variable.
    */
  def objectHashFallbackEntries: Int =
    objectHashFallbackEntries(
      envBytes("SPARK_GRAFT_AGG_TASK_BYTES", 256L << 20),
      envBytes("SPARK_GRAFT_AGG_MAX_KEY_BYTES", 1024L))

  /** The derivation itself, parameterised for tests. */
  def objectHashFallbackEntries(targetTaskBytes: Long, maxKeyBytes: Long): Int =
    math.min(Int.MaxValue.toLong, math.max(128L, targetTaskBytes / math.max(1L, maxKeyBytes))).toInt

  private[graft] def envBytes(name: String, default: Long, env: Map[String, String] = sys.env): Long =
    env.get(name).fold(default) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be a whole number of bytes, got '$v'"))
    }
}

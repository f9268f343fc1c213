package graft

/** Engine-tuning derivations shared by every session builder (Bench,
  * Verify, StressMain, ProfileMain and the example mains), so a value
  * that must scale with the deployment is derived in ONE place instead
  * of being a constant copied seven times.
  */
object SessionTuning {

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

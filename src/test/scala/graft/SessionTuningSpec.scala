package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the byte-budget derivation of the ObjectHashAggregate fallback
  * threshold (r18 VERDICT finding 6: the constant bounded entries, not
  * bytes — the derivation must make entries x maxKeyBytes <= budget the
  * visible invariant, keep the stock default numerically identical, and
  * scale DOWN for long-key deployments).
  */
class SessionTuningSpec extends AnyFunSuite {

  test("default budget derives the shipped 262144 (bench numbers unchanged)") {
    assert(SessionTuning.objectHashFallbackEntries(256L << 20, 1024L) === 262144)
  }

  test("the env-reading overload with no overrides derives the shipped 262144") {
    val set = Seq("SPARK_GRAFT_AGG_TASK_BYTES", "SPARK_GRAFT_AGG_MAX_KEY_BYTES").filter(sys.env.contains)
    if (set.nonEmpty) cancel(s"${set.mkString(", ")} set in this environment; the default path is not exercised")
    assert(SessionTuning.objectHashFallbackEntries === 262144)
  }

  test("long-key deployments scale the threshold down, budget preserved") {
    // 16 KiB documents as group keys: 256 MiB / 16 KiB = 16384 entries
    val e = SessionTuning.objectHashFallbackEntries(256L << 20, 16L << 10)
    assert(e === 16384)
    assert(e * (16L << 10) <= (256L << 20)) // the invariant itself
  }

  test("never derives below Spark's stock 128, never divides by zero") {
    assert(SessionTuning.objectHashFallbackEntries(1L << 10, 1L << 20) === 128)
    assert(SessionTuning.objectHashFallbackEntries(256L << 20, 0L) === (256 << 20))
  }

  test("a budget past Int range clamps to Spark's Int conf ceiling") {
    assert(SessionTuning.objectHashFallbackEntries(8L << 30, 1L) === Int.MaxValue)
  }

  test("a malformed env value fails naming the variable") {
    val env = Map("SPARK_GRAFT_AGG_TASK_BYTES" -> "256MB")
    val e = intercept[IllegalArgumentException](
      SessionTuning.envBytes("SPARK_GRAFT_AGG_TASK_BYTES", 1L, env))
    assert(e.getMessage.contains("SPARK_GRAFT_AGG_TASK_BYTES") && e.getMessage.contains("256MB"))
    assert(SessionTuning.envBytes("SPARK_GRAFT_AGG_TASK_BYTES", 1L, Map.empty) === 1L)
    assert(SessionTuning.envBytes("SPARK_GRAFT_AGG_TASK_BYTES", 1L, Map("SPARK_GRAFT_AGG_TASK_BYTES" -> " 42 ")) === 42L)
  }
}

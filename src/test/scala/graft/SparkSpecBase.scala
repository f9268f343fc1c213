package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites, built by the same
  * `SessionTuning.session` as Bench and Verify, so the specs run the
  * aggregate and shuffle paths the bench times (four cores, so four
  * shuffle partitions). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Bounded-deadline poll for paced streaming queries. Queries running
    * with `ProcessingTimeTimeout` never signal `processAllAvailable()`
    * (the timeout-sweep loop always schedules another batch — see
    * [[graft.streaming.StreamingChurn.verdicts]]), so their specs pace
    * the query with `Trigger.ProcessingTime` and wait on observable
    * sink/progress state through this helper instead. */
  def pollUntil(what: String, deadlineMs: Long = 90000L)(cond: => Boolean): Unit = {
    val end = System.nanoTime() + deadlineMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > end)
        fail(s"timed out after $deadlineMs ms waiting for: $what")
      Thread.sleep(50L)
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SessionTuning.session("graft-test", "local[4]")
}

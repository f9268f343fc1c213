package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level gate: `SessionTuning.session` is the one session builder
  * in `src/main`. A second `SparkSession.builder` block would pick its
  * own subset of the measured tuning, and the entry point using it would
  * run other aggregate and shuffle paths than the ones the bench times. */
class SessionBuilderGateSpec extends AnyFunSuite {

  private val home = "SessionTuning.scala"

  /** Files other than SessionTuning.scala whose text builds a session. */
  private def offenders(sources: Seq[(Path, String)]): Seq[Path] =
    sources.collect {
      case (p, text) if p.getFileName.toString != home && text.contains("SparkSession.builder") => p
    }

  test("SparkSession.builder appears in src/main only in SessionTuning.scala") {
    val stream = Files.walk(Paths.get("src/main"))
    val sources =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally stream.close()
    assert(sources.exists(_.getFileName.toString == home), s"no $home under src/main")
    val bad = offenders(sources.map(p => p -> Files.readString(p)))
    assert(bad.isEmpty, s"build the session through SessionTuning.session instead in:\n${bad.mkString("\n")}")
  }

  test("the gate fires on a planted builder outside SessionTuning.scala") {
    val planted = Seq(
      Paths.get("src/main/scala/graft/SessionTuning.scala") -> "SparkSession.builder()",
      Paths.get("src/main/scala/graft/examples/NewMain.scala") -> "val s = SparkSession.builder().getOrCreate()",
      Paths.get("src/main/scala/graft/Other.scala") -> "SessionTuning.session(\"x\", \"local[1]\")")
    assert(offenders(planted) === Seq(Paths.get("src/main/scala/graft/examples/NewMain.scala")))
  }
}

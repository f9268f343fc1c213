package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level gate: every persist in `graft.queries` and
  * `graft.operators` goes through [[QueryScope]]. A direct `.persist(`,
  * `.cache()` or `localCheckpoint` there would make a cache no query
  * owns, which outlives its query in a library caller's session. */
class QueryScopeGateSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/queries", "src/main/scala/graft/operators")
  private val direct = """(?<!QueryScope)\.persist\(|\.cache\(\)|localCheckpoint""".r

  /** Files whose text persists outside QueryScope, with the offending lines. */
  private def offenders(sources: Seq[(Path, String)]): Seq[(Path, Seq[String])] =
    sources.flatMap { case (p, text) =>
      val lines = text.linesIterator.filter(l => direct.findFirstIn(l).isDefined).toSeq
      if (lines.isEmpty) None else Some(p -> lines)
    }

  test("queries and operators persist only through QueryScope") {
    val sources = dirs.flatMap { d =>
      val stream = Files.walk(Paths.get(d))
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally stream.close()
    }
    assert(sources.size > 30, s"found only ${sources.size} sources under $dirs")
    val bad = offenders(sources.map(p => p -> Files.readString(p)))
    assert(bad.isEmpty, s"persist through QueryScope instead in:\n${bad.mkString("\n")}")
  }

  test("the gate fires on a planted persist, cache or local checkpoint") {
    val ok = Paths.get("src/main/scala/graft/queries/Ok.scala")
    val planted = Seq(
      ok -> "val d = QueryScope.persist(df)\nval c = QueryScope.checkpoint(df)\ndf.unpersist()",
      Paths.get("src/main/scala/graft/queries/P.scala") -> "val d = df\n  .persist(StorageLevel.MEMORY_AND_DISK)",
      Paths.get("src/main/scala/graft/operators/C.scala") -> "df.cache()",
      Paths.get("src/main/scala/graft/operators/L.scala") -> "df.localCheckpoint()")
    assert(offenders(planted).map(_._1) === planted.tail.map(_._1))
  }
}

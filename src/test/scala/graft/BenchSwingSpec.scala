package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench's output contract, driven through Bench's own timing and
  * emission code: the compact headline is the last parseable stdout
  * line, the per-query artifact parses on its own, and a query that
  * throws reads as `err` — never as a (fast) time. */
class BenchSwingSpec extends SparkSpecBase {

  private def emitted(suite: Bench.Suite): String = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) { Bench.emit(suite, "{}", writeArtifacts = false, stop = () => ()) }
    out.toString("UTF-8")
  }

  /** The last complete JSON line of the final 2000 chars of stdout. */
  private def lastJson(stdout: String): Option[String] =
    stdout.takeRight(2000).split('\n').reverseIterator.map(_.trim)
      .find(l => l.startsWith("{") && l.endsWith("}"))

  /** Schema of a `bench_perq_last_c*.json` body: the headline fields and
    * a full-name per-query map, one entry per query, each seconds or an
    * `{"err": ...}` object. */
  private def assertPerqSchema(what: String, body: String): Unit = {
    assert(body.startsWith("{") && body.endsWith("}"), what)
    for (field <- Seq("\"metric\":\"total\"", "\"value\":", "\"n_queries\":", "\"sf\":"))
      assert(body.contains(field), s"$what missing $field")
    val json = JsonMethods.parse(body)
    val JObject(entries) = json \ "queries"
    val JInt(n) = json \ "n_queries"
    assert(entries.size == n.toInt,
      s"$what queries map has ${entries.size} entries, n_queries=$n")
    entries.foreach { case (name, v) =>
      assert(name.matches("q\\d+[a-z0-9_]*"), s"$what key $name is not a full query name")
      v match {
        case JDouble(_) | JInt(_) | JDecimal(_) => ()
        case JObject(List(("err", JString(_)))) => ()
        case other => fail(s"$what entry $name must be seconds or {\"err\": ...}, got $other")
      }
    }
  }

  test("driver last-line capture: headline survives as the final parseable line of a 2000-char tail") {
    // Bench prints <compact>\n<big per-query line>\n<compact>\n (the last
    // one after spark.stop()), so the LAST non-empty line of the final
    // 2000 chars is a bare parseable headline object — even if a future
    // sbt version sneaks an epilogue back in, the parse must only have
    // to skip trailing non-JSON lines, never reassemble a split object.
    val suite = Bench.Suite("/root/testdata/sf0.1", "32",
      (1 to 192).map(i => Bench.Timed(f"q$i%03d_query", 0.1 + i / 1000.0, 2, 70, None)))
    val ours = emitted(suite)
    assert(ours.length > 2000, "the big line must overflow the capture window")
    assert(lastJson(ours).contains(suite.compact))
    val head = JsonMethods.parse(lastJson(ours).get)
    assert(head \ "n_queries" == JInt(192) && head \ "n_failed" == JInt(0))
    // robustness: a simulated sbt epilogue after the headline still
    // leaves the headline as the last complete JSON line in the tail
    val withEpilogue = ours + "[success] Total time: 261 s (04:21)\n"
    assert(lastJson(withEpilogue).contains(suite.compact))
  }

  test("last-run per-query artifact (bench_perq_last_c*.json) is driver-parsable on its own") {
    // The driver's 2000-char stdout tail cannot carry a 206-entry map,
    // so EVERY unfiltered run writes the full map to
    // bench_perq_last_c<cpus>.json. This pins the schema a cross-round or
    // scaling consumer needs, on Bench's own rendering and on any such
    // file a run left in the working directory.
    val rendered = Bench.Suite("/root/testdata/sf0.1", "8", Seq(
      Bench.Timed("q01_pricing_summary", 0.414, 0, 70, None),
      Bench.Timed("q02_filter_pushdown", 0.2, 0, 70, Some("java.lang.RuntimeException: \"x\"\nat y")),
      Bench.Timed("q139_triangle_census", 3.933, 28, 83, None))).perq
    assertPerqSchema("rendered", rendered)
    new java.io.File(".").listFiles()
      .filter(f => f.getName.matches("bench_perq_last_c\\d+\\.json"))
      .foreach { f =>
        assertPerqSchema(f.getName,
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
      }
  }

  test("a query that throws reads as err: out of value and worst5, counted in n_failed") {
    import org.apache.spark.sql.functions.{col, udf}
    // fails inside the executed job, as a broken query does
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("planted bench failure")
      id
    })
    val planted: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).toDF().where(boom(col("id")) > 0)
    val real = SparkEntry.queries("q01_pricing_summary")
    val suite = Bench.timeSuite(spark, sfDir, "4",
      Seq("q00_planted_failure" -> planted, "q01_pricing_summary" -> real))
    val Seq(failed, q01) = suite.timed
    assert(failed.name == "q00_planted_failure" && q01.name == "q01_pricing_summary")
    assert(failed.err.exists(_.contains("planted bench failure")), failed.err)
    assert(q01.err.isEmpty, q01.err)

    val lines = emitted(suite).split('\n').toSeq
    assert(lines.size == 3 && lines.head == lines.last)
    val head = JsonMethods.parse(lines.last)
    assert(head \ "n_failed" == JInt(1))
    assert(head \ "n_queries" == JInt(2))
    assert(head \ "value" == JDouble(BigDecimal(q01.sec)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert((head \ "worst5").asInstanceOf[JObject].obj.map(_._1) == List("q01"))
    val big = JsonMethods.parse(lines(1))
    assert(big \ "queries" \ "q00" == JString("err"))
    assert((big \ "queries" \ "q01").isInstanceOf[JDouble])

    val full = JsonMethods.parse(suite.full("{}"))
    assert(full \ "n_failed" == JInt(1))
    assert(full \ "queries" \ "q00_planted_failure" \ "err" == JString(failed.err.get))
    assert((full \ "queries" \ "q01_pricing_summary" \ "t").isInstanceOf[JDouble])
    assertPerqSchema("planted", suite.perq)
    assert(JsonMethods.parse(suite.perq) \ "queries" \ "q00_planted_failure" \ "err" ==
      JString(failed.err.get))
  }
}

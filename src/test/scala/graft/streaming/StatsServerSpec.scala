package graft.streaming

import graft.SparkSpecBase
import graft.pipeline.{Message, Pipeline, StreamSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** End-to-end dashboard check: run a real pipeline, GET the status
  * endpoint over HTTP, assert the reference-shaped JSON payload
  * (`motorway/webserver.py:110-125` status heuristic). */
class StatsServerSpec extends SparkSpecBase {
  import spark.implicits._

  test("status endpoint serves pipeline stats over HTTP") {
    val listener = new PipelineStatsListener(() => 15)
    spark.streams.addListener(listener)
    val server = new StatsServer(listener)
    try {
      val input = MemoryStream[Message[String]](spark, 2)
      val run = Pipeline(spark)
        .addRamp("s", input.toDS())
        .addSink("s", StreamSink.Memory(), "http_probe")
        .run()
      input.addData(Seq(Message("1", "a"), Message("2", "b")))
      run.processAllAvailable()
      run.stop()
      val deadline = System.currentTimeMillis() + 10000
      def processed = listener.snapshot.get("http_probe").map(_.processed).getOrElse(0L)
      while (processed < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)

      val url = new java.net.URI(s"http://127.0.0.1:${server.boundPort}/api/status/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("application/json"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.startsWith("[") && body.endsWith("]"))
      assert(body.contains("\"name\":\"http_probe\""))
      assert(body.contains("\"processed\":2"))
      assert(body.contains("\"avg_time_taken_ms\""))
      assert(body.contains("\"95_percentile_ms\""))
      assert(body.contains("\"status\":\"available\""))
      assert(body.contains("\"minutes_processed\":["), "minute series missing from /api/status/")

      // the human-facing dashboard at / renders the same snapshot as
      // HTML, grouped by the name prefix before '-' (webserver.py
      // group view)
      val htmlUrl = new java.net.URI(s"http://127.0.0.1:${server.boundPort}/").toURL
      val hconn = htmlUrl.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(hconn.getResponseCode == 200)
      assert(hconn.getContentType.startsWith("text/html"))
      val html = new String(hconn.getInputStream.readAllBytes(), "UTF-8")
      assert(html.contains("<h2>http_probe"), "per-group section missing")
      assert(html.contains("available"), "group status missing")
      assert(html.contains("processed 2"), "group processed total missing")
      assert(html.contains("""<a href="/api/status/">"""), "JSON link missing")
      // the live poller re-renders from the same JSON endpoint the
      // server-rendered fallback was built from (no meta refresh)
      assert(html.contains("fetch('/api/status/')"), "live poller missing")
      assert(html.contains("""id="groups""""), "poller render target missing")
      // the per-minute sparkline renders server-side AND the poller
      // carries its JS twin for the live re-render
      assert(html.contains("""class="spark""""), "server-rendered sparkline missing")
      assert(html.contains("<polyline"), "sparkline polyline missing (2 rows processed this minute)")
      assert(html.contains("function spark("), "JS sparkline twin missing")
      assert(html.contains("<th>last hour</th>"), "sparkline column header missing")
      assert(!html.contains("http-equiv=\"refresh\""), "stale meta-refresh still present")

      // unknown paths are not swallowed by the root handler
      val missUrl = new java.net.URI(s"http://127.0.0.1:${server.boundPort}/nope").toURL
      val mconn = missUrl.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(mconn.getResponseCode == 404)
    } finally {
      server.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("detail page renders a dead-lettered message's error and traceback") {
    import graft.pipeline.Intersection
    val listener = new PipelineStatsListener(() => 15)
    spark.streams.addListener(listener)
    val server = new StatsServer(listener)
    try {
      val poison = Intersection[String, String]("PoisonOp") { m =>
        if (m.content.contains("BOOM")) throw new IllegalStateException("poisoned payload")
        Iterator.single(m)
      }
      val input = MemoryStream[Message[String]](spark, 3)
      val run = Pipeline(spark)
        .addRamp("in", input.toDS())
        .addIntersection("in", "out", poison)
        .withDeadLetterStream()
        .addSink("out", StreamSink.Memory(), "detail_probe")
        .addSink(Pipeline.DeadLetterStream,
          StreamSink.ForeachBatch(listener.deadLetterBatchHook("detail_probe")),
          "detail_probe_dl")
        .run()
      input.addData(Seq(Message("1", "fine"), Message("2", "BOOM here")))
      run.processAllAvailable()
      run.stop()

      def get(path: String): (Int, String) = {
        val url = new java.net.URI(s"http://127.0.0.1:${server.boundPort}$path").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = if (code == 200) new String(conn.getInputStream.readAllBytes(), "UTF-8") else ""
        (code, body)
      }
      val (code, html) = get("/detail/detail_probe/")
      assert(code == 200)
      assert(html.contains("<h1>detail_probe"), "query header missing")
      assert(html.contains("Currently processing"), "progress probe missing")
      assert(html.contains("poisoned payload"), "dead letter error missing")
      assert(html.contains("IllegalStateException"), "traceback missing")
      assert(html.contains("st-failing"), "failing status not surfaced")
      // detail page polls its JSON twin live (no meta refresh)
      assert(html.contains("fetch('/api/detail/"), "detail live poller missing")
      assert(html.contains("""data-k="processed""""), "poller cell targets missing")
      assert(!html.contains("http-equiv=\"refresh\""), "stale meta-refresh still present")
      // dashboard rows link to the detail page
      val (_, dash) = get("/")
      assert(dash.contains("""href="/detail/detail_probe/""""), "dashboard detail link missing")
      // JSON twin carries the same drill-down for programmatic consumers
      val (jcode, json) = get("/api/detail/detail_probe/")
      assert(jcode == 200)
      assert(json.contains("\"name\":\"detail_probe\""))
      assert(json.contains("\"status\":\"failing\""))
      assert(json.contains("poisoned payload"))
      assert(json.contains("IllegalStateException"))
      assert(json.contains("\"failed_messages\":["))
      // unknown query 404s on both routes
      assert(get("/detail/nope/")._1 == 404)
      assert(get("/api/detail/nope/")._1 == 404)
    } finally {
      server.stop()
      spark.streams.removeListener(listener)
    }
  }

  // A poison message's error carries raw bytes, and a query name may
  // hold a newline: both endpoints must still serve parseable JSON that
  // round-trips the strings, in each endpoint's key order.
  test("status and detail JSON round-trip control characters in names and errors") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val listener = new PipelineStatsListener(() => 15)
    val name = "a\nb"
    val error = "java.lang.NumberFormatException: For input string: \"\u0001\" \u001b[31m"
    listener.recordDeadLetter(name,
      graft.pipeline.DeadLetter("m\u00011", "{}", error, "at x\tline\r\n", "op"))
    val statusJson = listener.snapshotJson
    val row = JsonMethods.parse(statusJson).children.head
    assert(row \ "name" == JString(name))
    assert(row \ "failed" == JInt(1))
    assert(statusJson.contains("\"avg_time_taken_ms\":0.0,\"95_percentile_ms\":0.0"))
    assert(row.asInstanceOf[JObject].obj.map(_._1) == List("name", "processed", "success",
      "failed", "waiting", "peak_waiting", "behind_latest", "avg_time_taken_ms",
      "95_percentile_ms", "phases_ms", "minutes_processed", "minutes_errors", "status"))

    val detail = JsonMethods.parse(StatsServer.detailJson(listener.snapshot(name)))
    assert(detail \ "name" == JString(name))
    assert(detail \ "status" == JString("failing"))
    val failure = (detail \ "failed_messages").children.head
    assert(failure \ "error" == JString(error))
    assert(failure \ "message_id" == JString("m\u00011"))
    assert(failure \ "traceback" == JString("at x\tline\r\n"))
    assert(detail.asInstanceOf[JObject].obj.map(_._1) == List("name", "status", "processed",
      "success", "failed", "waiting", "peak_waiting", "behind_latest", "avg_time_taken_ms",
      "95_percentile_ms", "phases_ms", "last_batch_ms", "minutes_processed", "minutes_errors",
      "failed_messages"))
  }
}

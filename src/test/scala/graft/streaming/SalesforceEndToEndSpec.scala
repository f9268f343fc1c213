package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpecBase
import graft.pipeline.{Grouping, Intersection, Message, Pipeline, StreamSink}
import graft.sinks.SalesforceRestClient
import graft.sources.{CometDClient, QueueRamp, QueueRampProvider, SalesforceStreamingRamp}
import org.apache.spark.sql.functions._

/** The full reference contract in one test: a Salesforce streaming ramp
  * (CometD long-poll against a stub), through the DSv2 queue source and
  * a Pipeline topology, into the Salesforce REST upsert sink (second
  * stub) — source → topology → reliable sink, with commit-on-success
  * acks and sink idempotence under replay. This is the Spark
  * restatement of wiring `SalesforceStreamingObjectRamp` to
  * `SalesforceInsertIntersection` in a motorway app. */
class SalesforceEndToEndSpec extends SparkSpecBase {
  import spark.implicits._

  private def eventually(timeoutMs: Long = 20000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(200); ok = cond }
    ok
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    if (body.isEmpty) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, b.length.toLong); ex.getResponseBody.write(b) }
    ex.close()
  }

  test("cometd ramp -> pipeline -> REST upsert sink, exactly-once effect") {
    // ---- stub: one server carrying both the CometD endpoint and the
    // REST sobjects store ----
    val pendingEvents = new ConcurrentLinkedQueue[String]()
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      if (path.startsWith("/cometd")) {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (body.contains("/meta/handshake"))
          respond(ex, 200, """[{"channel":"/meta/handshake","successful":true,"clientId":"c1"}]""")
        else if (body.contains("/meta/subscribe"))
          respond(ex, 200, """[{"channel":"/meta/subscribe","successful":true}]""")
        else {
          val events = Iterator.continually(pendingEvents.poll()).takeWhile(_ != null).toList
          respond(ex, 200,
            ("""[{"channel":"/meta/connect","successful":true}""" +
              events.map("," + _).mkString + "]"))
        }
      } else if (ex.getRequestMethod == "PATCH" && path.contains("/sobjects/")) {
        val key = path.split("/").last
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val created = store.put(key, body) == null
        respond(ex, if (created) 201 else 204, if (created) """{"id":"x"}""" else "")
      } else respond(ex, 404, "")
    })
    server.setExecutor(null)
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"

    try {
      val qn = s"sf-e2e-${System.nanoTime()}"
      QueueRamp.drop(qn)
      val ramp = new SalesforceStreamingRamp(qn, new CometDClient(s"$base/cometd/37.0"), "Orders")
      ramp.start()

      def event(id: String, amount: Int): String =
        s"""{"channel":"/topic/Orders","data":{"sobject":{"Id":"$id","Amount":$amount}}}"""

      // ---- poll 1: two creates ----
      pendingEvents.add(event("006A", 10))
      pendingEvents.add(event("006B", 20))
      ramp.pollOnce(nowMicros = 1000L)

      val raw = spark.readStream
        .format(classOf[QueueRampProvider].getName)
        .option("queue", qn).load()
      val msgs = raw.select(col("id"), col("content"), col("groupingValue"))
        .as[(String, String, Option[String])]
        .map { case (id, c, g) => Message(id, c, g) }

      // topology: key by sobject Id (HashRing on a per-message
      // intersection keeps the ramp's partitioning; the sink orders by Id)
      val route = Intersection[String, String]("RouteById") { m =>
        Iterator.single(m.spinOff(m.content, Some(m.id)))
      }
      val sink = StreamSink.ForeachBatch({ (df, _) =>
        val client = new SalesforceRestClient(base, "tok")
        df.select("id", "content").collect().sortBy(_.getString(0)).foreach { r =>
          client.upsert("Opportunity", "Id", r.getString(0), r.getString(1))
        }
      })
      val run = Pipeline(spark)
        .addRamp("sf_in", msgs)
        .addIntersection("sf_in", "routed", route, Grouping.HashRing)
        .addSink("routed", sink, "sf_e2e")
        .run()
      run.processAllAvailable()
      assert(eventually()(store.size() == 2), s"store=$store")
      assert(store.get("006A").contains("\"Amount\":10"))

      // ---- poll 2: update for 006A; batch 0's acks arrive with batch 1 ----
      pendingEvents.add(event("006A", 30))
      ramp.pollOnce(nowMicros = 2000L)
      run.processAllAvailable()
      assert(eventually()(store.get("006A").contains("\"Amount\":30")))
      assert(store.get("006B").contains("\"Amount\":20"))
      assert(eventually()(QueueRamp.committed(qn) == 2),
        s"committed=${QueueRamp.committed(qn)}")

      // ---- replay idempotence: re-upserting the same rows is a no-op ----
      val client = new SalesforceRestClient(base, "tok")
      assert(client.upsert("Opportunity", "Id", "006A", store.get("006A")) === false)
      assert(store.size() == 2)

      run.stop()
      QueueRamp.drop(qn)
    } finally server.stop(0)
  }
}

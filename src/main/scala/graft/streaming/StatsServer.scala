package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress

/** Live pipeline-health HTTP endpoint — parity with the reference's
  * dashboard webserver (`motorway/webserver.py:17-148`), which serves
  * controller stats as JSON for the bundled UI. Spark already computes
  * the numbers ([[PipelineStatsListener]], fed by streaming progress
  * events); this exposes them at `GET /api/status/` with the same
  * per-group counts, latency stats, and
  * `available|busy|overloaded|failing` status heuristic — and at
  * `GET /` as a human-facing HTML dashboard: queries grouped by the
  * name prefix before the first '-' (the reference's
  * `split('-')[0]` grouping, `webserver.py:122-125`), one status table
  * per group with aggregate waiting/processed counts. Server-rendered
  * static HTML in place of the reference's React bundle: no JS build,
  * same information. JDK built-in httpserver: no dependency, runs on
  * the driver alongside the streaming queries (where the listener
  * lives).
  */
final class StatsServer(listener: PipelineStatsListener, port: Int = 0) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  server.createContext("/api/status/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val body = listener.snapshotJson.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    }
  })

  server.createContext("/api/detail/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val name = java.net.URLDecoder.decode(
        ex.getRequestURI.getPath.stripPrefix("/api/detail/").stripSuffix("/"), "UTF-8")
      listener.snapshot.get(name) match {
        case None =>
          ex.sendResponseHeaders(404, -1); ex.close()
        case Some(s) =>
          val body = StatsServer.detailJson(s).getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, body.length.toLong)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
      }
    }
  })

  server.createContext("/detail/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val name = java.net.URLDecoder.decode(
        ex.getRequestURI.getPath.stripPrefix("/detail/").stripSuffix("/"), "UTF-8")
      listener.snapshot.get(name) match {
        case None =>
          ex.sendResponseHeaders(404, -1); ex.close()
        case Some(s) =>
          val body = StatsServer.detailHtml(s).getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
          ex.sendResponseHeaders(200, body.length.toLong)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
      }
    }
  })

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // the bare createContext("/") also catches unknown paths; keep
      // /api/* out of the HTML handler
      if (ex.getRequestURI.getPath != "/") {
        ex.sendResponseHeaders(404, -1); ex.close(); return
      }
      val body = StatsServer.dashboardHtml(listener).getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    }
  })
  server.setExecutor(null) // serve on the accept thread; status is tiny
  server.start()

  /** Actual port (when constructed with port = 0, the OS picks one). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}

object StatsServer {
  /** Locale-independent "%.1f" — the f-interpolator uses the JVM
    * default locale, which can emit comma decimals ("12,3") and break
    * the sparkline coordinates on non-English hosts. */
  private def f1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  /** Inline SVG sparkline for a per-minute series (oldest→newest) — the
    * reference dashboard's 60-minute histogram strip
    * (`motorway/controller.py:55-59`), as a single neutral 2px polyline
    * (one series per cell: the column header names it, no legend; ink
    * stays on text, the hue only on the mark). Coordinates are
    * Locale.ROOT-formatted — a comma decimal breaks the SVG path the
    * same way it breaks JSON. The no-traffic case renders an empty
    * strip, not a zero-line (nothing to read). */
  private[streaming] def sparklineSvg(series: Seq[Long], width: Int = 120,
      height: Int = 20): String = {
    val n = series.size
    if (n == 0 || series.forall(_ == 0L))
      return s"""<svg class="spark" width="$width" height="$height" role="img"><title>no traffic in the last hour</title></svg>"""
    val max = math.max(1L, series.max)
    val pts = series.zipWithIndex.map { case (v, i) =>
      val x = if (n == 1) width / 2.0 else i.toDouble * width / (n - 1)
      val y = height - 2 - v.toDouble / max * (height - 4)
      s"${f1(x)},${f1(y)}"
    }.mkString(" ")
    s"""<svg class="spark" width="$width" height="$height" role="img">""" +
      s"""<title>last hour by minute, peak $max</title>""" +
      s"""<polyline points="$pts" fill="none" stroke="#36608a" stroke-width="2"""" +
      s""" stroke-linejoin="round" stroke-linecap="round"/></svg>"""
  }

  /** Server-rendered dashboard: the reference's group view
    * (`webserver.py:110-148`) — group = name up to the first '-',
    * per-group waiting/processed totals and the worst member state. */
  private[streaming] def dashboardHtml(listener: PipelineStatsListener): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val nowMinute = PipelineStatsListener.wallClockMinute() % 60
    val groups = listener.snapshot.values.toSeq
      .groupBy(s => s.name.split('-')(0))
      .toSeq.sortBy(_._1)
    val severity = Map("available" -> 0, "busy" -> 1, "overloaded" -> 2, "failing" -> 3)
    val sections = groups.map { case (group, members) =>
      val states = members.map(_.state(nowMinute))
      val groupState = states.maxBy(st => severity.getOrElse(st, 0))
      val waiting = members.map(_.waiting).sum
      val processed = members.map(_.processed).sum
      val rows = members.sortBy(_.name).map { s =>
        val href = java.net.URLEncoder.encode(s.name, "UTF-8")
        f"""<tr><td><a href="/detail/$href/">${esc(s.name)}</a></td><td class="st-${s.state(nowMinute)}">${s.state(nowMinute)}</td>""" +
          s"""<td>${s.processed}</td><td>${s.waiting}</td><td>${s.failed}</td>""" +
          s"""<td>${f1(s.avgTimeTakenMs)}</td><td>${f1(s.p95TimeTakenMs)}</td>""" +
          s"""<td>${sparklineSvg(s.minuteSeries(nowMinute, System.currentTimeMillis()).map(_.processedCount))}</td></tr>"""
      }.mkString("\n")
      s"""<section><h2>${esc(group)} <span class="st-$groupState">$groupState</span></h2>
         |<p>processed $processed &middot; waiting $waiting</p>
         |<table><tr><th>query</th><th>status</th><th>processed</th><th>waiting</th>
         |<th>failed</th><th>avg ms</th><th>p95 ms</th><th>last hour</th></tr>
         |$rows</table></section>""".stripMargin
    }.mkString("\n")
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<title>graft pipeline status</title>
       |<style>
       |body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
       |td,th{border:1px solid #ccc;padding:4px 10px;text-align:left}
       |.st-available{color:#2a7}.st-busy{color:#b80}
       |.st-overloaded{color:#d40}.st-failing{color:#c00}
       |</style></head><body><h1>Pipeline status</h1>
       |<div id="groups">
       |${if (groups.isEmpty) "<p>No queries running.</p>" else sections}
       |</div>
       |<p><a href="/api/status/">raw JSON</a></p>
       |$pollerScript</body></html>""".stripMargin
  }

  /** JS twin of [[sparklineSvg]] (same geometry and stroke), shared by
    * the dashboard and detail pollers so the client re-render matches
    * the server-rendered first paint. */
  private val sparkJs: String =
    """function spark(series, w = 120, h = 20) {
      |  if (!series || !series.length || series.every(v => v === 0))
      |    return `<svg class="spark" width="${w}" height="${h}" role="img"><title>no traffic in the last hour</title></svg>`;
      |  const max = Math.max(1, ...series);
      |  const pts = series.map((v, i) => {
      |    const x = series.length === 1 ? w / 2 : i * w / (series.length - 1);
      |    const y = h - 2 - v / max * (h - 4);
      |    return `${x.toFixed(1)},${y.toFixed(1)}`;
      |  }).join(' ');
      |  return `<svg class="spark" width="${w}" height="${h}" role="img">` +
      |    `<title>last hour by minute, peak ${max}</title>` +
      |    `<polyline points="${pts}" fill="none" stroke="#36608a" stroke-width="2"` +
      |    ` stroke-linejoin="round" stroke-linecap="round"/></svg>`;
      |}""".stripMargin

  /** Live refresh without a JS build step: poll `/api/status/` (the
    * same JSON the reference's React bundle consumed,
    * `webserver.py:127-148`) and re-render the group sections
    * client-side — same grouping (name up to the first '-'), same
    * worst-member severity, same columns as the server-rendered first
    * paint, which stays in place as the no-JS fallback. */
  private val pollerScript: String =
    """<script>
      |const SEV = {available:0, busy:1, overloaded:2, failing:3};
      |const esc = s => String(s).replace(/&/g,"&amp;").replace(/</g,"&lt;").replace(/>/g,"&gt;");
      |""".stripMargin + sparkJs + """
      |async function tick() {
      |  try {
      |    const qs = await (await fetch('/api/status/')).json();
      |    const by = {};
      |    qs.forEach(q => { (by[q.name.split('-')[0]] ||= []).push(q); });
      |    const html = Object.keys(by).sort().map(g => {
      |      const ms = by[g].sort((a,b) => a.name < b.name ? -1 : 1);
      |      const st = ms.reduce((w,q) => (SEV[q.status]||0) > (SEV[w]||0) ? q.status : w, 'available');
      |      const waiting = ms.reduce((n,q) => n + q.waiting, 0);
      |      const processed = ms.reduce((n,q) => n + q.processed, 0);
      |      const rows = ms.map(q =>
      |        `<tr><td><a href="/detail/${encodeURIComponent(q.name)}/">${esc(q.name)}</a></td>` +
      |        `<td class="st-${q.status}">${q.status}</td><td>${q.processed}</td>` +
      |        `<td>${q.waiting}</td><td>${q.failed}</td>` +
      |        `<td>${q.avg_time_taken_ms.toFixed(1)}</td>` +
      |        `<td>${q['95_percentile_ms'].toFixed(1)}</td>` +
      |        `<td>${spark(q.minutes_processed)}</td></tr>`).join('');
      |      return `<section><h2>${esc(g)} <span class="st-${st}">${st}</span></h2>` +
      |        `<p>processed ${processed} &middot; waiting ${waiting}</p>` +
      |        `<table><tr><th>query</th><th>status</th><th>processed</th><th>waiting</th>` +
      |        `<th>failed</th><th>avg ms</th><th>p95 ms</th><th>last hour</th></tr>${rows}</table></section>`;
      |    }).join('');
      |    document.getElementById('groups').innerHTML = html || '<p>No queries running.</p>';
      |  } catch (e) { /* server restarting; keep last render */ }
      |}
      |setInterval(tick, 2000);
      |</script>""".stripMargin

  /** JSON twin of [[detailHtml]] — the reference's detail endpoint
    * serves JSON to its bundled UI (`motorway/webserver.py:53-64`);
    * same fields here for programmatic consumers. */
  private[streaming] def detailJson(s: PipelineStats.QueryStats): String = {
    import org.json4s._
    val nowMinute = PipelineStatsListener.wallClockMinute() % 60
    val row = PipelineStats.statusRow(s, nowMinute, System.currentTimeMillis())
    // status moves up behind the name; last_batch_ms goes ahead of the
    // minute series, failed_messages last
    val (counts, minutes) = row.init.tail.span(_._1 != "minutes_processed")
    val failures = JArray(s.failures.reverse.map { f =>
      JObject("timestamp" -> JString(java.time.Instant.ofEpochMilli(f.timestampMs).toString),
        "message_id" -> JString(f.messageId), "error" -> JString(f.error),
        "traceback" -> JString(f.traceback))
    }.toList)
    val lastBatch = "last_batch_ms" -> JInt(BigInt(s.batchDurationsMs.lastOption.getOrElse(0L)))
    PipelineStats.render(JObject(row.head :: row.last :: counts ::: lastBatch :: minutes :::
      List("failed_messages" -> failures)))
  }

  /** Per-query drill-down — parity with the reference's
    * `/detail/<process>/` page (`motorway/webserver.py:53-64,87-104`):
    * a live progress probe (current status, counts, per-source backlog,
    * latency) plus the failed-message log with timestamp, error, and
    * full traceback (`controller.py:216-225` failed-message capture;
    * dead letters carry the traceback, `Message.scala`). */
  private[streaming] def detailHtml(s: PipelineStats.QueryStats): String = {
    def esc(x: String) = x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val nowMinute = PipelineStatsListener.wallClockMinute() % 60
    val lagRows = s.sourceLag.toSeq.sortBy(_._1).map { case (src, l) =>
      s"<tr><td>${esc(src)}</td><td>$l</td></tr>"
    }.mkString("\n")
    val lastBatch = s.batchDurationsMs.lastOption.getOrElse(0L)
    val failureRows = s.failures.reverse.map { f =>
      val ts = java.time.Instant.ofEpochMilli(f.timestampMs).toString
      s"""<tr><td>$ts</td><td>${esc(f.messageId)}</td><td>${esc(f.error)}</td></tr>
         |<tr><td colspan="3"><pre>${esc(f.traceback)}</pre></td></tr>""".stripMargin
    }.mkString("\n")
    val poll =
      s"""<script>
         |const FLOAT_KEYS = {avg_time_taken_ms: 1, '95_percentile_ms': 1};
         |const esc = s => String(s).replace(/&/g,"&amp;").replace(/</g,"&lt;").replace(/>/g,"&gt;");
         |${sparkJs}
         |async function tick() {
         |  try {
         |    const d = await (await fetch('/api/detail/' +
         |      encodeURIComponent(${jsString(s.name)}) + '/')).json();
         |    document.querySelectorAll('#live td[data-k]').forEach(td => {
         |      const v = d[td.dataset.k];
         |      td.textContent = FLOAT_KEYS[td.dataset.k] ? v.toFixed(1) : v;
         |    });
         |    const st = document.getElementById('st');
         |    st.textContent = d.status; st.className = 'st-' + d.status;
         |    document.getElementById('spark').innerHTML = spark(d.minutes_processed || [], 360, 48);
         |    const lag = Object.entries(d.behind_latest || {}).sort();
         |    document.getElementById('lag').innerHTML = lag.length === 0 ? '' :
         |      '<h2>Source backlog</h2><table><tr><th>source</th><th>records behind</th></tr>' +
         |      lag.map(([s,l]) => `<tr><td>$${esc(s)}</td><td>$${l}</td></tr>`).join('') + '</table>';
         |    const fs = d.failed_messages || [];
         |    document.getElementById('fails').innerHTML =
         |      `<h2>Failed messages ($${fs.length})</h2>` + (fs.length === 0 ? '<p>None.</p>' :
         |      '<table><tr><th>timestamp</th><th>message id</th><th>error</th></tr>' +
         |      fs.map(f => `<tr><td>$${esc(f.timestamp)}</td><td>$${esc(f.message_id)}</td>` +
         |        `<td>$${esc(f.error)}</td></tr><tr><td colspan="3"><pre>$${esc(f.traceback)}</pre></td></tr>`)
         |        .join('') + '</table>');
         |  } catch (e) { /* server restarting; keep last render */ }
         |}
         |setInterval(tick, 2000);
         |</script>""".stripMargin
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<title>${esc(s.name)} — detail</title>
       |<style>
       |body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
       |td,th{border:1px solid #ccc;padding:4px 10px;text-align:left;vertical-align:top}
       |pre{margin:0;white-space:pre-wrap;color:#900}
       |.st-available{color:#2a7}.st-busy{color:#b80}
       |.st-overloaded{color:#d40}.st-failing{color:#c00}
       |.muted{color:#888;font-size:0.7em;font-weight:normal}
       |</style></head><body>
       |<h1>${esc(s.name)} <span id="st" class="st-${s.state(nowMinute)}">${s.state(nowMinute)}</span></h1>
       |<h2>Last hour <span class="muted">(processed per minute)</span></h2>
       |<div id="spark">${sparklineSvg(s.minuteSeries(nowMinute, System.currentTimeMillis()).map(_.processedCount), width = 360, height = 48)}</div>
       |<h2>Currently processing</h2>
       |<table id="live">
       |<tr><th>processed</th><td data-k="processed">${s.processed}</td></tr>
       |<tr><th>success</th><td data-k="success">${s.success}</td></tr>
       |<tr><th>failed</th><td data-k="failed">${s.failed}</td></tr>
       |<tr><th>waiting</th><td data-k="waiting">${s.waiting}</td></tr>
       |<tr><th>peak waiting</th><td data-k="peak_waiting">${s.peakWaiting}</td></tr>
       |<tr><th>last batch ms</th><td data-k="last_batch_ms">$lastBatch</td></tr>
       |<tr><th>avg ms</th><td data-k="avg_time_taken_ms">${f1(s.avgTimeTakenMs)}</td></tr>
       |<tr><th>p95 ms</th><td data-k="95_percentile_ms">${f1(s.p95TimeTakenMs)}</td></tr>
       |</table>
       |<div id="lag">
       |${if (lagRows.nonEmpty) s"<h2>Source backlog</h2><table><tr><th>source</th><th>records behind</th></tr>$lagRows</table>" else ""}
       |</div>
       |<div id="fails">
       |<h2>Failed messages (${s.failures.size})</h2>
       |${if (failureRows.isEmpty) "<p>None.</p>"
          else s"<table><tr><th>timestamp</th><th>message id</th><th>error</th></tr>$failureRows</table>"}
       |</div>
       |<p><a href="/">back to dashboard</a></p>
       |$poll</body></html>""".stripMargin
  }

  /** JS string literal (JSON escaping is a superset of what a JS
    * double-quoted literal needs). */
  private def jsString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("<", "\\u003c") + "\""
}

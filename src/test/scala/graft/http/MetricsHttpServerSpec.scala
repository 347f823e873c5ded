package graft.http

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** The REST facade — reference route/status/shape parity over the library
  * API: ingest returns per-record error arrays (200/207/400 exactly like
  * HttpMetricsIngestionHandler), views serve the stored read kind-routed,
  * discovery and events round-trip. */
class MetricsHttpServerSpec extends AnyFunSuite with SparkSuite {

  private val client = HttpClient.newHttpClient()
  private val now = 1704067200000L // 2024-01-01 00:00 UTC, injectable clock

  private def startServer(): (MetricsHttpServer, String, String) = {
    val store = java.nio.file.Files.createTempDirectory("graft_http").toString
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now)
    srv.start()
    (srv, s"http://127.0.0.1:${srv.boundPort}", store)
  }

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build(), HttpResponse.BodyHandlers.ofString())

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("ingest -> views round trip; status codes and per-record errors " +
    "match the reference contract") {
    val (srv, base, store) = startServer()
    try {
      // all-valid batch -> 200, persisted
      val t0 = now - 600000L
      val ok = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "app.req.count", "metricValue": 12.5,
           |  "collectionTime": $t0, "ttlInSeconds": 172800, "unit": "req"},
           | {"metricName": "app.req.count", "metricValue": 14.0,
           |  "collectionTime": ${t0 + 60000}, "ttlInSeconds": 172800,
           |  "unit": "req"},
           | {"metricName": "app.mode", "metricValue": "active",
           |  "collectionTime": $t0, "unit": "state"}]""".stripMargin)
      assert(ok.statusCode() === 200, ok.body())
      // numeric landed in the rollup store, string in the string store
      assert(spark.read.parquet(s"$store/metrics_full").count() === 2)
      assert(spark.read.parquet(s"$store/metrics_string").count() === 1)

      // FULL-resolution read returns the raw points via the wire shape
      val view = get(s"$base/v2.0/acme/views/app.req.count" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full")
      assert(view.statusCode() === 200, view.body())
      assert(view.body().contains(""""metric": "app.req.count""""))
      assert(view.body().contains(s""""timestamp": $t0"""))
      // string metric serves quoted raw values
      val sview = get(s"$base/v2.0/acme/views/app.mode" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full")
      assert(sview.statusCode() === 200, sview.body())
      assert(sview.body().contains(""""value": "active""""), sview.body())

      // mixed batch -> 207 with the error array; the valid record persists
      val mixed = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "app.req.count", "metricValue": 20.0,
           |  "collectionTime": ${t0 + 120000}},
           | {"metricName": "", "metricValue": 1.0, "collectionTime": $t0},
           | {"metricName": "app.stale", "metricValue": 2.0,
           |  "collectionTime": ${now - 100L * 86400000L}}]""".stripMargin)
      assert(mixed.statusCode() === 207, mixed.body())
      assert(mixed.body().contains(""""source": "metricName""""))
      assert(mixed.body().contains(""""source": "collectionTime""""))
      assert(spark.read.parquet(s"$store/metrics_full").count() === 3)
      // the rejects are ALSO in the audit sink
      assert(spark.read.parquet(s"$store/metrics_errors").count() === 2)

      // all-invalid -> 400; nothing persisted
      val bad = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "", "metricValue": 1.0, "collectionTime": $t0}]""")
      assert(bad.statusCode() === 400, bad.body())
      assert(spark.read.parquet(s"$store/metrics_full").count() === 3)

      // unparseable body -> 400
      assert(post(s"$base/v2.0/acme/ingest", "not json").statusCode() === 400)

      // unknown route -> 404; wrong method -> 405
      assert(get(s"$base/v2.0/acme/nope").statusCode() === 404)
      assert(post(s"$base/v2.0/acme/views/app.req.count?from=0&to=1&points=1",
        "x").statusCode() === 404)
    } finally srv.stop()
  }

  test("multi-tenant ingest scopes per record; multi-views POST batches " +
    "names into one read") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 600000L
      val r = post(s"$base/v2.0/ignored/ingest/multi",
        s"""[{"tenantId": "a", "metricName": "m.one", "metricValue": 1.0,
           |  "collectionTime": $t0},
           | {"tenantId": "b", "metricName": "m.two", "metricValue": 2.0,
           |  "collectionTime": $t0}]""".stripMargin)
      assert(r.statusCode() === 200, r.body())
      val viewA = get(s"$base/v2.0/a/views/m.one" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full")
      assert(viewA.body().contains(""""metric": "m.one""""), viewA.body())
      // tenant b cannot see tenant a's metric (P4)
      val viewCross = get(s"$base/v2.0/b/views/m.one" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full")
      assert(!viewCross.body().contains(""""values": [{"""), viewCross.body())
      // multi-views body
      post(s"$base/v2.0/a/ingest",
        s"""[{"metricName": "m.three", "metricValue": 3.0,
           |  "collectionTime": $t0}]""".stripMargin)
      val multi = post(s"$base/v2.0/a/views?from=${t0 / 1000 - 10}" +
        s"&to=${now / 1000}&resolution=full",
        """["m.one", "m.three"]""")
      assert(multi.statusCode() === 200, multi.body())
      assert(multi.body().contains(""""metric": "m.one""""))
      assert(multi.body().contains(""""metric": "m.three""""))
    } finally srv.stop()
  }

  test("aggregated statsd ingest routes to the preagg ladder and serves " +
    "kind-routed views") {
    val (srv, base, store) = startServer()
    try {
      val t0 = now - 300000L
      val payload =
        s"""{"tenantId": "acme", "timestamp": $t0, "flushInterval": 10000,
           | "counters": [{"name": "hits", "value": 42.0, "rate": 4.2}],
           | "gauges": [{"name": "depth", "latest": 7.5}]}""".stripMargin
      val r = post(s"$base/v2.0/acme/ingest/aggregated", payload)
      assert(r.statusCode() === 200, r.body())
      assert(spark.read.parquet(s"$store/preagg_raw").count() >= 2)
      // kind-routed read: counter family default stats (numPoints, sum)
      val view = get(s"$base/v2.0/acme/views/hits" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full&select=sum")
      assert(view.statusCode() === 200, view.body())
      assert(view.body().contains(""""sum_v": 42.0"""), view.body())
      // stale flush -> 400 with a timestamp error
      val stale = post(s"$base/v2.0/acme/ingest/aggregated",
        s"""{"tenantId": "acme", "timestamp": ${now - 100L * 86400000L},
           | "counters": [{"name": "old", "value": 1.0, "rate": 0.1}]}""".stripMargin)
      assert(stale.statusCode() === 400, stale.body())
      assert(stale.body().contains(""""source": "timestamp""""))
    } finally srv.stop()
  }

  test("review hardening: empty/oversized multi-views 400; glob metachars " +
    "in names stay literal; mixed families fail loud; all-invalid ingest " +
    "still writes the audit sink") {
    val (srv, base, store) = startServer()
    try {
      val t0 = now - 600000L
      // a metric whose NAME contains glob metacharacters must resolve to
      // itself, never to an alternation over other metrics
      post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "lat,p99", "metricValue": 1.5,
           |  "collectionTime": $t0},
           | {"metricName": "lat", "metricValue": 99.0,
           |  "collectionTime": $t0},
           | {"metricName": "p99", "metricValue": 77.0,
           |  "collectionTime": $t0}]""".stripMargin)
      val v = get(s"$base/v2.0/acme/views/lat,p99" +
        s"?from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full")
      assert(v.statusCode() === 200, v.body())
      assert(v.body().contains(""""metric": "lat,p99""""), v.body())
      // exactly ONE metric in the response: neither "lat" nor "p99" leaked
      // in through a comma-split alternation
      assert("\"metric\": ".r.findAllIn(v.body()).length === 1, v.body())
      // empty multi-views body and an oversized batch both 400
      assert(post(s"$base/v2.0/acme/views?from=0&to=1&points=1", "[]")
        .statusCode() === 400)
      val big = (1 to 101).map(i => s""""m$i"""").mkString("[", ",", "]")
      val capped = post(s"$base/v2.0/acme/views?from=0&to=1&points=1", big)
      assert(capped.statusCode() === 400, capped.body())
      assert(capped.body().contains("batch too large"))
      // mixed families in one request fail loud instead of dropping data
      post(s"$base/v2.0/acme/ingest/aggregated",
        s"""{"tenantId": "acme", "timestamp": $t0,
           | "counters": [{"name": "hits", "value": 1.0, "rate": 0.1}]}"""
          .stripMargin)
      val mixed = post(s"$base/v2.0/acme/views?from=${t0 / 1000 - 10}" +
        s"&to=${now / 1000}&resolution=full", """["hits", "lat"]""")
      assert(mixed.statusCode() === 400, mixed.body())
      assert(mixed.body().contains("families"), mixed.body())
      // all-invalid ingest: 400 AND the rejects land in the audit sink
      val bad = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "", "metricValue": 1.0, "collectionTime": $t0}]""")
      assert(bad.statusCode() === 400)
      assert(spark.read.parquet(s"$store/metrics_errors").count() >= 1,
        "the 400 response's rejects must also be in the errors sink")
    } finally srv.stop()
  }

  test("multi-views body decodes standard JSON escapes; /metrics exposes " +
    "engine counters; 500s never echo internals") {
    // parseStringArray: escapes decode per JSON, not raw-append. The \u
    // case is concatenated in — Scala itself pre-processes \uXXXX in
    // source, so a literal would never reach the parser as an escape.
    val uEsc = """["c\""" + """u0041d"]"""
    assert(MetricsHttpServer.parseStringArray(
      """["a\nb", "q\"w", "s\\t", "x\/y"]""") ===
      Some(Seq("a\nb", "q\"w", "s\\t", "x/y")))
    assert(MetricsHttpServer.parseStringArray(uEsc) === Some(Seq("cAd")))
    // illegal escape / truncated unicode → parse failure, not silent garble
    assert(MetricsHttpServer.parseStringArray("""["a\qb"]""") === None)
    assert(MetricsHttpServer.parseStringArray("""["a\""" + """u00"]""") === None)
    // non-ASCII Unicode digits are NOT hex (Character.digit accepts them;
    // every real JSON parser rejects them)
    val arabicOne = '١'
    assert(MetricsHttpServer.parseStringArray(
      """["x\""" + "u0" + arabicOne + """61"]""") === None)
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 600000L
      // a metric name with an escaped quote round-trips ingest → multi-views
      val r = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "od\\"d", "metricValue": 1.0,
           |  "collectionTime": $t0}]""".stripMargin)
      assert(r.statusCode() === 200, r.body())
      val multi = post(s"$base/v2.0/acme/views?from=${t0 / 1000 - 10}" +
        s"&to=${now / 1000}&resolution=full", """["od\"d"]""")
      assert(multi.statusCode() === 200, multi.body())
      assert(multi.body().contains(""""metric": "od\"d""""), multi.body())
      // /metrics: engine counters visible after the above traffic
      val m = get(s"$base/metrics")
      assert(m.statusCode() === 200)
      assert(m.body().contains(""""ingest.batches""""), m.body())
      assert(m.body().contains(""""http.responses.200""""), m.body())
    } finally srv.stop()
    // an internal failure must yield a GENERIC 500 body — a views read
    // over a raw file that is not parquet fails the scan with an error
    // naming the file under the store path — exactly what must NOT leak
    // (a store with no data tables serves an empty result instead)
    val (srv2, base2, store2) = startServer()
    try {
      assert(get(s"$base2/v2.0/acme/views/x?from=0&to=1&points=10").body() ===
        """{"metrics": []}""")
      val junk = java.nio.file.Paths.get(store2, "metrics_full", "batch_id=1",
        "ts_day=0", "part-00000.parquet")
      java.nio.file.Files.createDirectories(junk.getParent)
      java.nio.file.Files.writeString(junk, "not a parquet file")
      val e = get(s"$base2/v2.0/acme/views/x?from=0&to=1&points=10")
      assert(e.statusCode() === 500, e.body())
      assert(e.body() === """{"errors": [{"message": "internal error"}]}""",
        e.body())
      assert(!e.body().contains(store2), "store path leaked to the client")
    } finally srv2.stop()
  }

  test("a client retry of the same ingest body replaces its batch instead " +
    "of double-counting") {
    val (srv, base, store) = startServer()
    try {
      val t0 = now - 600000L
      val body =
        s"""[{"metricName": "app.req.count", "metricValue": 12.5,
           |  "collectionTime": $t0},
           | {"metricName": "app.req.count", "metricValue": 14.0,
           |  "collectionTime": ${t0 + 60000}}]""".stripMargin
      assert(post(s"$base/v2.0/acme/ingest", body).statusCode() === 200)
      assert(spark.read.parquet(s"$store/metrics_full").count() === 2)
      // the retry (same tenant + route + body) lands on the SAME batch id
      // and overwrites it — replace-not-duplicate idempotence
      assert(post(s"$base/v2.0/acme/ingest", body).statusCode() === 200)
      assert(spark.read.parquet(s"$store/metrics_full").count() === 2,
        "a retried POST must not double-count its points")
      // a DIFFERENT body still appends
      assert(post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "app.req.count", "metricValue": 9.0,
           |  "collectionTime": ${t0 + 120000}}]""".stripMargin)
        .statusCode() === 200)
      assert(spark.read.parquet(s"$store/metrics_full").count() === 3)
    } finally srv.stop()
  }

  test("root ping and CORS preflight match the reference's Default/Options " +
    "handlers") {
    val (srv, base, _) = startServer()
    try {
      assert(get(s"$base/v2.0").statusCode() === 200)
      // preflight on query routes: 204, no CORS headers by default
      val opt = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/v2.0/acme/views/x"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(opt.statusCode() === 204)
      assert(opt.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
      // OPTIONS on a non-query route stays 405
      val optBad = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/v2.0/acme/ingest"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(optBad.statusCode() === 405)
    } finally srv.stop()
    // corsEnabled server sends the reference's header set
    val store2 = java.nio.file.Files.createTempDirectory("graft_http2").toString
    val srv2 = new MetricsHttpServer(spark, store2, nowMs = () => now,
      corsEnabled = true)
    srv2.start()
    try {
      val opt2 = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv2.boundPort}/v2.0/acme/metrics/search"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(opt2.statusCode() === 204)
      assert(opt2.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") === "*")
      assert(opt2.headers().firstValue("Access-Control-Allow-Methods")
        .orElse("") === "GET, POST")
    } finally srv2.stop()
  }

  test("discovery + events endpoints round-trip") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 600000L
      post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "app.req.count", "metricValue": 1.0,
           |  "collectionTime": $t0, "unit": "req"},
           | {"metricName": "app.req.errors", "metricValue": 2.0,
           |  "collectionTime": $t0, "unit": "req"},
           | {"metricName": "db.conn.open", "metricValue": 3.0,
           |  "collectionTime": $t0}]""".stripMargin)
      val search = get(s"$base/v2.0/acme/metrics/search?query=app.req.*")
      assert(search.statusCode() === 200)
      assert(search.body().contains(""""metric": "app.req.count""""))
      assert(search.body().contains(""""metric": "app.req.errors""""))
      assert(!search.body().contains("db.conn.open"))
      // token browse: next level under app.*
      val browse = get(s"$base/v2.0/acme/metric_name/search?query=app.*")
      assert(browse.statusCode() === 200)
      assert(browse.body().contains(""""app.req": false"""), browse.body())
      // events: ingest then search by tag
      val ev = post(s"$base/v2.0/acme/events",
        s"""{"what": "deploy", "when": $t0, "data": "build 42",
           | "tags": "release"}""".stripMargin)
      assert(ev.statusCode() === 200, ev.body())
      val found = get(s"$base/v2.0/acme/events/getEvents" +
        s"?from=${t0 / 1000 - 10}&until=${now / 1000}&tags=release")
      assert(found.statusCode() === 200)
      assert(found.body().contains(""""what": "deploy""""), found.body())
      val miss = get(s"$base/v2.0/acme/events/getEvents" +
        s"?from=${t0 / 1000 - 10}&until=${now / 1000}&tags=hotfix")
      assert(!miss.body().contains("deploy"))
    } finally srv.stop()
  }

  test("series/anomaly panel round-trips over HTTP with param validation") {
    val (srv, base, _) = startServer()
    try {
      // 48 five-minute points with a seasonal-ish shape + one spike
      val t0 = now - 30L * 300000L
      val recs = (0 until 30).map { i =>
        val v = if (i == 25) 500.0 else 10.0 + (i % 12)
        s"""{"metricName": "app.lat", "metricValue": $v,
           | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
           | "unit": "ms"}""".stripMargin
      }.mkString("[", ",", "]")
      assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      val range = s"from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full"

      // holt-winters: every band column present, the spike flags aberrant
      val hw = get(s"$base/v2.0/acme/series/app.lat/holtwinters" +
        s"?$range&season=12&minPoints=12")
      assert(hw.statusCode() === 200, hw.body())
      for (f <- Seq("forecast", "upper", "lower", "is_aberrant", "level"))
        assert(hw.body().contains(s""""$f":"""), s"missing $f: ${hw.body()}")
      assert(hw.body().contains(""""is_aberrant": true"""), hw.body())
      assert(hw.body().contains(""""count": 30"""), hw.body())

      // ewma: bands + the spike aberrant
      val ew = get(s"$base/v2.0/acme/series/app.lat/ewma?$range&alpha=0.3&k=3")
      assert(ew.statusCode() === 200, ew.body())
      for (f <- Seq("ewma", "upper", "lower", "is_aberrant"))
        assert(ew.body().contains(s""""$f":"""), s"missing $f: ${ew.body()}")
      assert(ew.body().contains(""""is_aberrant": true"""), ew.body())

      // trend: one fitted row with slope/forecast
      val tr = get(s"$base/v2.0/acme/series/app.lat/trend?$range&horizon=3600")
      assert(tr.statusCode() === 200, tr.body())
      for (f <- Seq("slope_per_s", "intercept", "r2", "forecast_value"))
        assert(tr.body().contains(s""""$f":"""), s"missing $f: ${tr.body()}")

      // lttb: decimates to <= buckets points, endpoints kept
      val lt = get(s"$base/v2.0/acme/series/app.lat/lttb?$range&buckets=10")
      assert(lt.statusCode() === 200, lt.body())
      assert(lt.body().contains(s""""timestamp": $t0"""), lt.body())
      val nPts = """"timestamp":""".r.findAllIn(lt.body()).length
      assert(nPts <= 10 && nPts >= 3, lt.body())

      // non-basic families read their OWN per-bucket value (a hardcoded
      // "average" selection reads an all-NULL padding column for gauges
      // and renders a populated series as an empty panel)
      val gp = (0 until 8).map { i =>
        s"""{"tenantId": "acme", "timestamp": ${t0 + i * 300000L},
           | "flushInterval": 10000,
           | "gauges": [{"name": "g.depth", "latest": ${5.0 + i}}]}""".stripMargin
      }
      gp.foreach(b =>
        assert(post(s"$base/v2.0/acme/ingest/aggregated", b).statusCode() === 200))
      val ge = get(s"$base/v2.0/acme/series/g.depth/ewma?$range&minPoints=2")
      assert(ge.statusCode() === 200, ge.body())
      assert(ge.body().contains(""""count": 8"""), ge.body())
      assert(ge.body().contains(""""ewma":"""), ge.body())

      // m4: <= 4 points per bin, first/last kept, the spike's value kept
      // (error-free decimation MUST keep every bin max)
      val m4 = get(s"$base/v2.0/acme/series/app.lat/m4?$range&buckets=5")
      assert(m4.statusCode() === 200, m4.body())
      assert(m4.body().contains(s""""timestamp": $t0"""), m4.body())
      assert(m4.body().contains(""""value": 500.0"""), m4.body())
      val nM4 = """"timestamp":""".r.findAllIn(m4.body()).length
      assert(nM4 <= 20 && nM4 >= 5, m4.body())

      // mad: the spike is the only outlier (robust to its own presence)
      val md = get(s"$base/v2.0/acme/series/app.lat/mad?$range&k=3")
      assert(md.statusCode() === 200, md.body())
      assert(md.body().contains(""""is_outlier": true"""), md.body())
      assert(""""is_outlier": true""".r.findAllIn(md.body()).length === 1,
        md.body())

      // resample: one 5m grid tick per 5m point interval (the grid is
      // epoch-aligned, the points are t0-aligned — ticks interpolate);
      // the ticks flanking the spike must read way above the 10..21 base
      val rs = get(s"$base/v2.0/acme/series/app.lat/resample?$range&step=300")
      assert(rs.statusCode() === 200, rs.body())
      val nRs = """"timestamp":""".r.findAllIn(rs.body()).length
      assert(nRs === 29 || nRs === 30, rs.body())
      val rsVals = """"value": ([-0-9.eE]+)""".r
        .findAllMatchIn(rs.body()).map(_.group(1).toDouble).toSeq
      assert(rsVals.exists(_ > 100.0), rs.body())

      // alerts: the spike collapses to ONE episode row (page dedup),
      // not 30 scored points
      val al = get(s"$base/v2.0/acme/series/app.lat/alerts?$range&k=3&gap=600")
      assert(al.statusCode() === 200, al.body())
      assert(al.body().contains(""""count": 1"""), al.body())
      // the cycle-wrap dip at i=24 and the spike at i=25 both break the
      // band and gap-merge into ONE episode ending at the spike
      assert(al.body().contains(""""n_points": 2"""), al.body())
      assert(al.body().contains(s""""end_ms": ${t0 + 25 * 300000L}"""),
        al.body())
      assert(get(s"$base/v2.0/acme/series/app.lat/alerts?$range&gap=0")
        .statusCode() === 400)

      // agg: :metric is a GLOB — sumSeries over the family; a second
      // metric joins the family and the per-bucket sum reads both
      assert(post(s"$base/v2.0/acme/ingest", (0 until 30).map { i =>
        s"""{"metricName": "app.lat2", "metricValue": 1.0,
           | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
           | "unit": "ms"}""".stripMargin
      }.mkString("[", ",", "]")).statusCode() === 200)
      val ag = get(s"$base/v2.0/acme/series/app.*/agg?$range&stat=sum")
      assert(ag.statusCode() === 200, ag.body())
      assert(ag.body().contains(""""n_series": 2"""), ag.body())
      assert(ag.body().contains(""""value": 501.0"""), ag.body()) // spike + 1
      assert(ag.body().contains(""""count": 30"""), ag.body())
      // empty glob match serves an empty panel, not an error
      val agEmpty = get(s"$base/v2.0/acme/series/nosuch.*/agg?$range")
      assert(agEmpty.statusCode() === 200, agEmpty.body())
      assert(agEmpty.body().contains(""""count": 0"""), agEmpty.body())
      // a glob spanning families fails loud (counters + basics don't sum)
      assert(get(s"$base/v2.0/acme/series/*/agg?$range").statusCode() === 400)
      // bad stat name 400s
      assert(get(s"$base/v2.0/acme/series/app.*/agg?$range&stat=median")
        .statusCode() === 400)
      // percentileOfSeries: p100 over {lat, 1.0} = the max series value,
      // p0 = the min (exact interpolated percentile across 2 series)
      val p100 = get(s"$base/v2.0/acme/series/app.*/agg?$range&stat=p100")
      assert(p100.statusCode() === 200, p100.body())
      assert(p100.body().contains(""""qvalue": 500.0"""), p100.body())
      val p0 = get(s"$base/v2.0/acme/series/app.*/agg?$range&stat=p0")
      assert(p0.statusCode() === 200, p0.body())
      assert(""""qvalue": 1.0""".r.findAllIn(p0.body()).length === 30,
        p0.body())

      // param validation: 400s with the offending name, not 500s
      assert(get(s"$base/v2.0/acme/series/app.lat/ewma?$range&alpha=x")
        .statusCode() === 400)
      assert(get(s"$base/v2.0/acme/series/app.lat/lttb?$range&buckets=1")
        .statusCode() === 400)
      assert(get(s"$base/v2.0/acme/series/app.lat/m4?$range&buckets=0")
        .statusCode() === 400)
      assert(get(s"$base/v2.0/acme/series/app.lat/mad?$range&k=-1")
        .statusCode() === 400)
      assert(get(s"$base/v2.0/acme/series/app.lat/resample?$range&step=0")
        .statusCode() === 400)
      // bounded-grid contract at the request level: a decades-long range
      // at step=1s would explode ~1.7e9 grid rows in one task — the 400
      // fires BEFORE any query runs and names the numbers
      val rsBad = get(s"$base/v2.0/acme/series/app.lat/resample" +
        s"?from=1&to=${now / 1000}&resolution=full&step=1")
      assert(rsBad.statusCode() === 400, rsBad.body())
      assert(rsBad.body().contains("grid too fine"), rsBad.body())
      assert(get(s"$base/v2.0/acme/series/app.lat/holtwinters?$range&season=0")
        .statusCode() === 400)
      assert(get(s"$base/v2.0/acme/series/app.lat/holtwinters?from=1&to=2")
        .statusCode() === 400) // neither points nor resolution
      assert(get(s"$base/v2.0/acme/series/app.lat/nope?$range")
        .statusCode() === 404)
    } finally srv.stop()
  }

  test("series panel row cap bounds the facade collect — over-budget " +
    "results 400 with the limit, at-budget serves") {
    val (srv, _, _) = startServer()
    try {
      import org.apache.spark.sql.functions._
      val cap = MetricsHttpServer.MaxSeriesPanelPoints
      def mk(n: Int) = spark.range(n.toLong)
        .select(lit("t").as("tenant_id"), lit("m").as("metric_name"),
          col("id").as("ts_ms"), lit(1.0).as("value"))
      val e = intercept[IllegalArgumentException](srv.seriesJson("m", mk(cap + 1)))
      assert(e.getMessage.contains(cap.toString), e.getMessage)
      // the limit is pushed INTO the query (limit(cap+1)), so the facade
      // heap never holds more than cap+1 rows; at the cap the panel serves
      assert(srv.seriesJson("m", mk(3)).contains(""""count": 3"""))
    } finally srv.stop()
  }

  test("render batch 6: group union, fallbackSeries, round, cumulative " +
    "alias, highestMin/lowestMin selection") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 10L * 300000L
      def ing(m: String, vs: Seq[Double]): Unit = {
        val recs = vs.zipWithIndex.map { case (v, i) =>
          s"""{"metricName": "$m", "metricValue": $v,
             | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      ing("g.a", Seq(1.44, 2.66))
      ing("g.b", Seq(10.0, 20.0))
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"

      // group: plain union, names pass through (nested args parse)
      val gr = get(s"$base/render?target=group(g.a,scale(g.b,2))&$range")
      assert(gr.statusCode() === 200, gr.body())
      assert(gr.body().contains(""""target": "g.a"""") &&
        gr.body().contains(""""target": "scale(g.b,2)"""") &&
        gr.body().contains("[1.44, ") && gr.body().contains("[40.0, "),
        gr.body())

      // fallbackSeries: primary wins when it matches; fallback serves
      // when it does not
      val fb1 = get(s"$base/render?target=fallbackSeries(g.a,g.b)&$range")
      assert(fb1.body().contains(""""target": "g.a"""") &&
        !fb1.body().contains(""""target": "g.b""""), fb1.body())
      val fb2 = get(s"$base/render?target=fallbackSeries(zzz.*,g.b)&$range")
      assert(fb2.body().contains(""""target": "g.b"""") &&
        fb2.body().contains("[10.0, "), fb2.body())

      // round: pointwise HALF_UP at integer precision (1.44→1, 2.66→3)
      val rd = get(s"$base/render?target=round(g.a)&$range")
      assert(rd.body().contains(""""target": "round(g.a)"""") &&
        rd.body().contains("[1.0, ") && rd.body().contains("[3.0, "),
        rd.body())
      val rd1 = get(s"$base/render?target=round(g.a,1)&$range")
      assert(rd1.body().contains("[1.4, ") && rd1.body().contains("[2.7, "),
        rd1.body())

      // cumulative ≡ consolidateBy(series,"sum"): name tags the alias,
      // data unchanged at native resolution
      val cu = get(s"$base/render?target=cumulative(g.a)&$range")
      assert(cu.body().contains(
        """"target": "consolidateBy(g.a,\"sum\")""""), cu.body())
      assert(cu.body().contains("[1.44, "), cu.body())

      // highestMin/lowestMin: per-series min ranking (g.b min 10 > g.a
      // min 1.44)
      val hm = get(s"$base/render?target=highestMin(g.*,1)&$range")
      assert(hm.body().contains(""""target": "g.b"""") &&
        !hm.body().contains(""""target": "g.a""""), hm.body())
      val lm = get(s"$base/render?target=lowestMin(g.*,1)&$range")
      assert(lm.body().contains(""""target": "g.a"""") &&
        !lm.body().contains(""""target": "g.b""""), lm.body())
    } finally srv.stop()
  }

  test("render batch 5: minMax scaling, stdev(points), and " +
    "divideSeriesLists positional pairing (unequal lengths 400)") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 10L * 300000L
      def ing(m: String, vs: Seq[Double]): Unit = {
        val recs = vs.zipWithIndex.map { case (v, i) =>
          s"""{"metricName": "$m", "metricValue": $v,
             | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      ing("app.a", Seq(10.0, 20.0, 30.0))
      ing("app.b", Seq(2.0, 4.0, 5.0))
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"

      val mm = get(s"$base/render?target=minMax(app.a)&$range")
      assert(mm.statusCode() === 200, mm.body())
      assert(mm.body().contains(""""target": "minMax(app.a)""""), mm.body())
      assert(mm.body().contains("[0.0, ") && mm.body().contains("[0.5, ") &&
        mm.body().contains("[1.0, "), mm.body())

      val sd = get(s"$base/render?target=stdev(app.a,2)&$range")
      assert(sd.statusCode() === 200, sd.body())
      assert(sd.body().contains(""""target": "stdev(app.a,2)""""), sd.body())
      // trailing-2 windows: {10}→0, {10,20}→5, {20,30}→5
      assert(sd.body().contains("[5.0, "), sd.body())

      // movingMedian: trailing-2 lower medians over {10},{10,20},{20,30}
      val mmed = get(s"$base/render?target=movingMedian(app.a,2)&$range")
      assert(mmed.statusCode() === 200, mmed.body())
      assert(mmed.body().contains(""""target": "movingMedian(app.a,2)""""),
        mmed.body())
      assert(mmed.body().contains(s"[10.0, ${t0 / 1000}]") &&
        mmed.body().contains(s"[10.0, ${(t0 + 300000L) / 1000}]") &&
        mmed.body().contains(s"[20.0, ${(t0 + 600000L) / 1000}]"),
        mmed.body())
      // the interval form: a 5m RANGE frame holds at most 2 samples of
      // the 300s-spaced series — {10},{10,20},{20,30} -> 10,10,20
      val mmt = get(
        s"$base/render?target=movingMedian(app.a,%225min%22)&$range")
      assert(mmt.statusCode() === 200, mmt.body())
      assert(mmt.body().contains(""""target": "movingMedian(app.a,\"5min\")""""),
        mmt.body())
      assert(mmt.body().contains(s"[20.0, ${(t0 + 600000L) / 1000}]"),
        mmt.body())

      val dl = get(s"$base/render?target=divideSeriesLists(app.a,app.b)&$range")
      assert(dl.statusCode() === 200, dl.body())
      assert(dl.body().contains(""""target": "divideSeries(app.a,app.b)""""),
        dl.body())
      assert(dl.body().contains("[5.0, ") && dl.body().contains("[6.0, "),
        dl.body())

      // unequal list lengths: the in-plan raise surfaces as a 400
      val bad = get(s"$base/render?target=divideSeriesLists(app.*,app.a)&$range")
      assert(bad.statusCode() === 400, bad.body())
      assert(bad.body().contains("differ in length"), bad.body())

      // graphite None-parity: a dividend instant with NO divisor instant
      // renders a NULL datapoint, not a silently thinned series
      ing("sp.num", Seq(10.0, 20.0, 30.0))
      ing("sp.den", Seq(2.0, 4.0)) // third instant missing
      val sp = get(s"$base/render?target=divideSeriesLists(sp.num,sp.den)&$range")
      assert(sp.statusCode() === 200, sp.body())
      assert(sp.body().contains("[5.0, ") && sp.body().contains("[5.0, "),
        sp.body())
      assert(sp.body().contains(s"[null, ${(t0 + 2 * 300000L) / 1000}]"),
        s"one-sided instant must render null: ${sp.body()}")
    } finally srv.stop()
  }

  test("Graphite /render wire shape: raw globs, lttb/m4 decimation, " +
    "series aggregation; O2 cap and validation enforced") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 30L * 300000L
      for (m <- Seq("app.a", "app.b")) {
        val recs = (0 until 30).map { i =>
          val v = if (m == "app.a" && i == 25) 500.0 else 10.0 + (i % 12)
          s"""{"metricName": "$m", "metricValue": $v,
             | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"

      // raw glob target: one entry per matched series, Graphite datapoint
      // shape [[value, epoch_s]] time-ordered
      val raw = get(s"$base/render?target=app.*&$range")
      assert(raw.statusCode() === 200, raw.body())
      assert(raw.body().contains(""""target": "app.a""""), raw.body())
      assert(raw.body().contains(""""target": "app.b""""), raw.body())
      assert(raw.body().contains(s"[10.0, ${t0 / 1000}]"), raw.body())

      // lttb decimates each matched series independently; spike survives
      val lt = get(s"$base/render?target=lttb(app.*,10)&$range")
      assert(lt.statusCode() === 200, lt.body())
      assert(lt.body().contains("500.0"), lt.body())
      for (t <- Seq("app.a", "app.b"))
        assert(lt.body().contains(s""""target": "$t""""), lt.body())
      // m4 keeps per-bin extremes
      val m4 = get(s"$base/render?target=m4(app.a,5)&$range")
      assert(m4.statusCode() === 200, m4.body())
      assert(m4.body().contains("500.0"), m4.body())

      // aggregation entries are named by the EXPRESSION; sum reads both
      // series (spike bucket: 500 + 1..; base buckets: sums of two)
      val ag = get(s"$base/render?target=sumSeries(app.*)&$range")
      assert(ag.statusCode() === 200, ag.body())
      assert(ag.body().contains(""""target": "sumSeries(app.*)""""), ag.body())
      // brace-alternation globs survive the target-arg split (a naive
      // comma split would hand toRegex the unbalanced 'app.{a' and 400)
      val br = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("sumSeries(app.{a,b})", "UTF-8") +
        s"&$range")
      assert(br.statusCode() === 200, br.body())
      assert(br.body().contains(""""target": "sumSeries(app.{a,b})""""),
        br.body())
      assert(br.body() === ag.body().replace("app.*", "app.{a,b}"),
        "alternation over exactly the two series == the * glob's sums")
      // multiple targets land as sibling entries in one response
      val multi = get(
        s"$base/render?target=sumSeries(app.*)&target=maxSeries(app.*)&$range")
      assert(multi.statusCode() === 200, multi.body())
      assert(multi.body().contains(""""target": "sumSeries(app.*)""""))
      assert(multi.body().contains(""""target": "maxSeries(app.*)""""))
      // percentileOfSeries
      val pc = get(s"$base/render?target=percentileOfSeries(app.*,100)&$range")
      assert(pc.statusCode() === 200, pc.body())
      assert(pc.body().contains("500.0"), pc.body())
      // summarize: per-series re-bucket; 30 5m points over a quoted 1h
      // interval -> at most 4 buckets per series, sums way above any
      // single base point
      val sm = get(s"$base/render?" +
        java.net.URLEncoder.encode("target", "UTF-8") + "=" +
        java.net.URLEncoder.encode("""summarize(app.*,"1h","sum")""", "UTF-8") +
        s"&$range")
      assert(sm.statusCode() === 200, sm.body())
      assert(sm.body().contains(""""target": "app.a""""), sm.body())
      val smN = """"target":""".r.findAllIn(sm.body()).length
      assert(smN === 2, sm.body())
      assert(get(s"$base/render?target=summarize(app.*,%22bogus%22)&$range")
        .statusCode() === 400)

      // rate views: one entry per matched series named fn(name); the first
      // point of each series draws null (Graphite's convention), the
      // second is the consecutive delta (fixture step: 10.0 -> 11.0)
      val dv = get(s"$base/render?target=derivative(app.*)&$range")
      assert(dv.statusCode() === 200, dv.body())
      assert(dv.body().contains(""""target": "derivative(app.a)""""))
      assert(dv.body().contains(""""target": "derivative(app.b)""""))
      assert(dv.body().contains(s"[null, ${t0 / 1000}]"), dv.body())
      assert(dv.body().contains(s"[1.0, ${t0 / 1000 + 300}]"), dv.body())
      // perSecond divides by elapsed: 1.0 over 300s
      val ps = get(s"$base/render?target=perSecond(app.a)&$range")
      assert(ps.statusCode() === 200, ps.body())
      assert(ps.body().contains(
        s"[${1.0 / 300.0}, ${t0 / 1000 + 300}]"), ps.body())
      // nonNegativeDerivative nulls the counter reset after the 500 spike
      val nn = get(s"$base/render?target=nonNegativeDerivative(app.a)&$range")
      assert(nn.statusCode() === 200, nn.body())
      assert(nn.body().contains(s"[null, ${t0 / 1000 + 26 * 300}]"), nn.body())
      // integral: exact-DECIMAL running total (10, then 10+11)
      val ig = get(s"$base/render?target=integral(app.a)&$range")
      assert(ig.statusCode() === 200, ig.body())
      assert(ig.body().contains(""""target": "integral(app.a)""""))
      assert(ig.body().contains(s"[10.0, ${t0 / 1000}]"), ig.body())
      assert(ig.body().contains(s"[21.0, ${t0 / 1000 + 300}]"), ig.body())
      // movingAverage over a quoted interval: [ts-15min, ts] covers three
      // fixture points at i=2 -> (10+11+12)/3
      val ma = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""movingAverage(app.a,"15min")""",
          "UTF-8") + s"&$range")
      assert(ma.statusCode() === 200, ma.body())
      assert(ma.body().contains(
        s""""target": "movingAverage(app.a,\\"15min\\")""""), ma.body())
      assert(ma.body().contains(s"[11.0, ${t0 / 1000 + 600}]"), ma.body())
      assert(get(s"$base/render?target=movingAverage(app.a)&$range")
        .statusCode() === 400) // window interval is required
      // timeShift draws the shifted window's data at the REQUESTED
      // instants: i=0's 10.0 appears one step later
      val tsh = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""timeShift(app.a,"5min")""", "UTF-8") +
        s"&$range")
      assert(tsh.statusCode() === 200, tsh.body())
      assert(tsh.body().contains(s"[10.0, ${t0 / 1000 + 300}]"), tsh.body())
      // grid alignment: keepLastValue holds sample values verbatim (every
      // datapoint is one of the ingested values), resample interpolates;
      // both reject a request-level grid explosion before any query runs
      val kl = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""keepLastValue(app.a,"5min")""",
          "UTF-8") + s"&$range")
      assert(kl.statusCode() === 200, kl.body())
      assert(kl.body().contains(
        s""""target": "keepLastValue(app.a,\\"5min\\")""""), kl.body())
      val rsr = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""resample(app.a,"5min")""", "UTF-8") +
        s"&$range")
      assert(rsr.statusCode() === 200, rsr.body())
      val klBad = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""keepLastValue(app.a,"1s")""", "UTF-8") +
        s"&from=1&until=${now / 1000}&tenant=acme")
      assert(klBad.statusCode() === 400, klBad.body())
      assert(klBad.body().contains("grid too fine"), klBad.body())
      // pointwise transforms
      val sc = get(s"$base/render?target=scale(app.a,2)&$range")
      assert(sc.statusCode() === 200, sc.body())
      assert(sc.body().contains(""""target": "scale(app.a,2)""""), sc.body())
      assert(sc.body().contains(s"[20.0, ${t0 / 1000}]"), sc.body())
      val of = get(s"$base/render?target=offset(app.a,-10)&$range")
      assert(of.statusCode() === 200, of.body())
      assert(of.body().contains(s"[0.0, ${t0 / 1000}]"), of.body())
      // asPercent: the fixture's two series share every timestamp; values
      // are equal at t0 (50% each) and diverge at the i=25 spike
      // (500 vs 11 -> 500/511 and 11/511 of the instant)
      val ap = get(s"$base/render?target=asPercent(app.*)&$range")
      assert(ap.statusCode() === 200, ap.body())
      assert(ap.body().contains(""""target": "asPercent(app.a)""""),
        ap.body())
      assert(ap.body().contains(""""target": "asPercent(app.b)""""),
        ap.body())
      assert(ap.body().contains(s"[50.0, ${t0 / 1000}]"), ap.body())
      assert(ap.body().contains(
        s"[${500.0 / 511.0 * 100}, ${t0 / 1000 + 25 * 300}]"), ap.body())
      assert(ap.body().contains(
        s"[${11.0 / 511.0 * 100}, ${t0 / 1000 + 25 * 300}]"), ap.body())
      // two-arg Graphite form: share of an explicit TOTAL expression
      val ap2 = get(s"$base/render?target=asPercent(app.a,app.*)&$range")
      assert(ap2.statusCode() === 200, ap2.body())
      assert(ap2.body().contains(""""target": "asPercent(app.a,app.*)""""),
        ap2.body())
      assert(ap2.body().contains(s"[50.0, ${t0 / 1000}]"), ap2.body())
      assert(ap2.body().contains(
        s"[${500.0 / 511.0 * 100}, ${t0 / 1000 + 25 * 300}]"), ap2.body())
      assert(get(s"$base/render?target=scale(app.a,x)&$range")
        .statusCode() === 400)
      // display naming: alias renames, aliasByNode picks a dot-node
      // (negative counts from the end); each matched series stays its own
      // entry
      val al = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""alias(app.a,"latency")""", "UTF-8") +
        s"&$range")
      assert(al.statusCode() === 200, al.body())
      assert(al.body().contains(""""target": "latency""""), al.body())
      // quoted strings are OPAQUE to the arg split: the comma and the
      // unbalanced paren inside the display name stay part of it
      val alq = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""alias(app.a,"p99, ms (approx")""",
          "UTF-8") + s"&$range")
      assert(alq.statusCode() === 200, alq.body())
      assert(alq.body().contains(""""target": "p99, ms (approx""""),
        alq.body())
      val an = get(s"$base/render?target=aliasByNode(app.*,-1)&$range")
      assert(an.statusCode() === 200, an.body())
      assert(an.body().contains(""""target": "a""""), an.body())
      assert(an.body().contains(""""target": "b""""), an.body())
      assert(get(s"$base/render?target=aliasByNode(app.*,7)&$range")
        .statusCode() === 400)
      // NESTED targets — the shapes dashboards actually write. scale over
      // a rate view: derivative 1.0 doubled, name composed outward
      val n1 = get(s"$base/render?target=scale(derivative(app.a),2)&$range")
      assert(n1.statusCode() === 200, n1.body())
      assert(n1.body().contains(""""target": "scale(derivative(app.a),2)""""),
        n1.body())
      assert(n1.body().contains(s"[2.0, ${t0 / 1000 + 300}]"), n1.body())
      // pointwise transforms PROPAGATE a wrapped stage's nulls (null
      // arithmetic is null): the derivative's first point survives the
      // scale instead of disappearing
      assert(n1.body().contains(s"[null, ${t0 / 1000}]"), n1.body())
      // rate of a cross-series aggregate: sum steps 20 -> 22 -> delta 2.0;
      // the aggregate pins its own text inside the composed name
      val n2 = get(s"$base/render?target=derivative(sumSeries(app.*))&$range")
      assert(n2.statusCode() === 200, n2.body())
      assert(n2.body().contains(
        """"target": "derivative(sumSeries(app.*))""""), n2.body())
      assert(n2.body().contains(s"[2.0, ${t0 / 1000 + 300}]"), n2.body())
      // re-accumulating a reset-guarded rate: nulls from the inner stage
      // are skipped by the outer integral (Graphite's None-skipping), so
      // the first delta lands as the first cumsum
      val n3 = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("integral(nonNegativeDerivative(app.a))",
          "UTF-8") + s"&$range")
      assert(n3.statusCode() === 200, n3.body())
      assert(n3.body().contains(s"[1.0, ${t0 / 1000 + 300}]"), n3.body())
      // alias replaces the whole composed name; three-deep nesting works
      val n4 = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""alias(scale(derivative(app.a),2),"r")""",
          "UTF-8") + s"&$range")
      assert(n4.statusCode() === 200, n4.body())
      assert(n4.body().contains(""""target": "r""""), n4.body())
      // timeShift re-evaluates its whole subtree under the shifted range:
      // the shifted series' first-point null draws one step later than the
      // unshifted derivative's
      val n5 = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""timeShift(derivative(app.a),"5min")""",
          "UTF-8") + s"&$range")
      assert(n5.statusCode() === 200, n5.body())
      assert(n5.body().contains(
        """"target": "timeShift(derivative(app.a),\"5min\")""""), n5.body())
      assert(n5.body().contains(s"[null, ${t0 / 1000 + 300}]"), n5.body())
      // depth-0 comma split keeps nested call args intact even with
      // brace alternation inside the inner call
      val n6 = get(s"$base/render?target=" +
        java.net.URLEncoder.encode(
          """movingMax(sumSeries(app.{a,b}),"15min")""", "UTF-8") + s"&$range")
      assert(n6.statusCode() === 200, n6.body())
      assert(n6.body().contains(
        """"target": "movingMax(sumSeries(app.{a,b}),\"15min\")""""),
        n6.body())
      // unknown fn inside a nest still 400s; runaway nesting is bounded
      assert(get(s"$base/render?target=scale(bogus(app.a),2)&$range")
        .statusCode() === 400)
      assert(get(s"$base/render?target=" +
        java.net.URLEncoder.encode(
          "absolute(" * 9 + "app.a" + ")" * 9, "UTF-8") + s"&$range")
        .statusCode() === 400)
      // moving-window lookback (Graphite parity): a range starting
      // mid-fixture still smooths its FIRST instants over full windows —
      // the fetch is extended back by the window and the warmup rows are
      // dropped, so i=2's average covers i=0..2 even though i=0,1 are
      // outside the requested range
      val n7 = get(s"$base/render?target=" +
        java.net.URLEncoder.encode("""movingAverage(app.a,"15min")""",
          "UTF-8") + s"&from=${t0 / 1000 + 550}&until=${now / 1000}&tenant=acme")
      assert(n7.statusCode() === 200, n7.body())
      assert(n7.body().contains(s"[11.0, ${t0 / 1000 + 600}]"), n7.body())
      assert(!n7.body().contains(s", ${t0 / 1000 + 300}]"),
        "warmup rows below the requested range must not render: " + n7.body())
      // series selection: app.a carries the 500 spike (highest max AND
      // highest mean), app.b the lowest mean; selected series keep their
      // own names and points
      val hm = get(s"$base/render?target=highestMax(app.*,1)&$range")
      assert(hm.statusCode() === 200, hm.body())
      assert(hm.body().contains(""""target": "app.a""""), hm.body())
      assert(!hm.body().contains(""""target": "app.b""""), hm.body())
      val la = get(s"$base/render?target=lowestAverage(app.*,1)&$range")
      assert(la.statusCode() === 200, la.body())
      assert(la.body().contains(""""target": "app.b""""), la.body())
      assert(!la.body().contains(""""target": "app.a""""), la.body())
      // threshold selection: spike-lifted mean ~31.6 vs ~15.5
      val aa = get(s"$base/render?target=averageAbove(app.*,20)&$range")
      assert(aa.statusCode() === 200, aa.body())
      assert(aa.body().contains(""""target": "app.a""""), aa.body())
      assert(!aa.body().contains(""""target": "app.b""""), aa.body())
      val mb = get(s"$base/render?target=maximumBelow(app.*,100)&$range")
      assert(mb.statusCode() === 200, mb.body())
      assert(mb.body().contains(""""target": "app.b""""), mb.body())
      assert(!mb.body().contains(""""target": "app.a""""), mb.body())
      // selection composes: the rate view of the spikiest series only
      val hd = get(s"$base/render?target=derivative(highestMax(app.*,1))&$range")
      assert(hd.statusCode() === 200, hd.body())
      assert(hd.body().contains(""""target": "derivative(app.a)""""),
        hd.body())
      assert(!hd.body().contains("app.b"), hd.body())
      // selection serves points UNCHANGED, nulls included: wrapping a
      // rate view keeps its null first point
      val hs = get(s"$base/render?target=highestMax(derivative(app.*),1)&$range")
      assert(hs.statusCode() === 200, hs.body())
      assert(hs.body().contains(s"[null, ${t0 / 1000}]"), hs.body())
      assert(get(s"$base/render?target=highestMax(app.*,0)&$range")
        .statusCode() === 400)
      assert(get(s"$base/render?target=averageAbove(app.*)&$range")
        .statusCode() === 400)

      // /metrics/find: the Grafana picker tree — one level per call,
      // leaf/expandable merged per node
      val f1 = get(s"$base/metrics/find?query=*&tenant=acme")
      assert(f1.statusCode() === 200, f1.body())
      assert(f1.body().contains(
        """{"text": "app", "id": "app", "leaf": 0, "expandable": 1"""),
        f1.body())
      val f2 = get(s"$base/metrics/find?query=app.*&tenant=acme")
      assert(f2.statusCode() === 200, f2.body())
      assert(f2.body().contains(
        """{"text": "a", "id": "app.a", "leaf": 1, "expandable": 0"""),
        f2.body())
      assert(get(s"$base/metrics/find?tenant=acme").statusCode() === 400)
      // the bare /metrics counters context still serves (longest-prefix
      // routing did not shadow it)
      assert(get(s"$base/metrics").statusCode() === 200)

      // validation: unknown fn, bad format, missing tenant/target, O2 cap
      assert(get(s"$base/render?target=bogus(app.*)&$range").statusCode() === 400)
      assert(get(s"$base/render?target=app.*&$range&format=png").statusCode() === 400)
      assert(get(s"$base/render?target=app.*&from=1&until=2").statusCode() === 400)
      assert(get(s"$base/render?$range").statusCode() === 400)
      assert(get(s"$base/render?target=lttb(app.*,2)&$range").statusCode() === 400)
      // OPTIONS preflight parity with the query routes
      val opt = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/render")).method("OPTIONS",
          HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(opt.statusCode() === 204)
    } finally srv.stop()
  }

  test("Graphite /render arithmetic, grouping, moving-window and forecast " +
    "families; in-plan guards surface as 400") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 30L * 300000L
      // two series with DIFFERENT shapes: a carries a spike at i=25,
      // b a distinct last value so current-selection is untied
      for (m <- Seq("app.a", "app.b")) {
        val recs = (0 until 30).map { i =>
          val v =
            if (m == "app.a") { if (i == 25) 500.0 else 10.0 + (i % 12) }
            else 20.0 + (i % 7)
          s"""{"metricName": "$m", "metricValue": $v,
             | "collectionTime": ${t0 + i * 300000L}, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

      // divideSeries: 10/20 at t0; 500/(20+25%7) at the spike
      val dv = get(s"$base/render?target=divideSeries(app.a,app.b)&$range")
      assert(dv.statusCode() === 200, dv.body())
      assert(dv.body().contains(""""target": "divideSeries(app.a,app.b)""""),
        dv.body())
      assert(dv.body().contains(s"[0.5, ${t0 / 1000}]"), dv.body())
      assert(dv.body().contains(s"[${500.0 / 24.0}, ${t0 / 1000 + 25 * 300}]"),
        dv.body())
      // ambiguous divisor raises IN-PLAN and surfaces as a 400 naming it
      val dvBad = get(s"$base/render?target=divideSeries(app.a,app.*)&$range")
      assert(dvBad.statusCode() === 400, dvBad.body())
      assert(dvBad.body().contains("more than one sample"), dvBad.body())
      assert(get(s"$base/render?target=divideSeries(app.a)&$range")
        .statusCode() === 400)

      // diffSeries: 10−20 at t0; a null minuend point stays null
      val df = get(s"$base/render?target=diffSeries(app.a,app.b)&$range")
      assert(df.statusCode() === 200, df.body())
      assert(df.body().contains(s"[-10.0, ${t0 / 1000}]"), df.body())
      val dfn = get(s"$base/render?target=" +
        enc("diffSeries(derivative(app.a),app.b)") + s"&$range")
      assert(dfn.statusCode() === 200, dfn.body())
      assert(dfn.body().contains(s"[null, ${t0 / 1000}]"), dfn.body())

      // multiplySeries: 10·20 at t0; composes as one plan
      val mu = get(s"$base/render?target=multiplySeries(app.a,app.b)&$range")
      assert(mu.statusCode() === 200, mu.body())
      assert(mu.body().contains(s"[200.0, ${t0 / 1000}]"), mu.body())
      assert(get(s"$base/render?target=multiplySeries(app.a)&$range")
        .statusCode() === 400)

      // transformNull fills a derivative's first-point null; default 0
      val tn = get(s"$base/render?target=" +
        enc("transformNull(derivative(app.a),5)") + s"&$range")
      assert(tn.statusCode() === 200, tn.body())
      assert(tn.body().contains(s"[5.0, ${t0 / 1000}]"), tn.body())
      val tn0 = get(s"$base/render?target=" +
        enc("transformNull(derivative(app.a))") + s"&$range")
      assert(tn0.body().contains(s"[0.0, ${t0 / 1000}]"), tn0.body())
      assert(get(s"$base/render?target=transformNull(app.a,x)&$range")
        .statusCode() === 400)

      // removeAboveValue nulls the spike, keeps its instant
      val ra = get(s"$base/render?target=removeAboveValue(app.a,100)&$range")
      assert(ra.statusCode() === 200, ra.body())
      assert(ra.body().contains(s"[null, ${t0 / 1000 + 25 * 300}]"), ra.body())
      assert(ra.body().contains(s"[10.0, ${t0 / 1000}]"), ra.body())
      val rb = get(s"$base/render?target=removeBelowValue(app.b,21)&$range")
      assert(rb.statusCode() === 200, rb.body())
      assert(rb.body().contains(s"[null, ${t0 / 1000}]"), rb.body())

      // groupByNode: token 0 ("app") sums both series; entry named by it
      val gb = get(s"$base/render?target=" +
        enc("""groupByNode(app.*,0,"sum")""") + s"&$range")
      assert(gb.statusCode() === 200, gb.body())
      assert(gb.body().contains(""""target": "app""""), gb.body())
      assert(gb.body().contains(s"[30.0, ${t0 / 1000}]"), gb.body())
      // multi-node form: dot-joined token selection names the entry
      val gbn = get(s"$base/render?target=" +
        enc("""groupByNodes(app.*,"sum",0,1)""") + s"&$range")
      assert(gbn.statusCode() === 200, gbn.body())
      assert(gbn.body().contains(""""target": "app.a"""") &&
        gbn.body().contains(""""target": "app.b""""), gbn.body())
      assert(get(s"$base/render?target=" +
        enc("""groupByNodes(app.*,"sum")""") + s"&$range")
        .statusCode() === 400)
      // an index past the nodes is the in-plan guard → 400 with the name
      val gbBad = get(s"$base/render?target=" +
        enc("""groupByNode(app.*,5,"sum")""") + s"&$range")
      assert(gbBad.statusCode() === 400, gbBad.body())
      assert(gbBad.body().contains("no node 5"), gbBad.body())
      assert(get(s"$base/render?target=groupByNode(app.*)&$range")
        .statusCode() === 400)

      // cross-series aggregate family: count/range/stddev
      val cs = get(s"$base/render?target=countSeries(app.*)&$range")
      assert(cs.statusCode() === 200, cs.body())
      assert(cs.body().contains(s"[2.0, ${t0 / 1000}]"), cs.body())
      val rs = get(s"$base/render?target=rangeOfSeries(app.*)&$range")
      assert(rs.statusCode() === 200, rs.body())
      assert(rs.body().contains(s"[10.0, ${t0 / 1000}]"), rs.body())
      val ss = get(s"$base/render?target=stddevSeries(app.*)&$range")
      assert(ss.statusCode() === 200, ss.body())
      // popstd of {10,20} = 5
      assert(ss.body().contains(s"[5.0, ${t0 / 1000}]"), ss.body())

      // movingSum over 15min covers i−2..i: 10+11+12 at i=2
      val ms = get(s"$base/render?target=" +
        enc("""movingSum(app.a,"15min")""") + s"&$range")
      assert(ms.statusCode() === 200, ms.body())
      assert(ms.body().contains(s"[33.0, ${t0 / 1000 + 600}]"), ms.body())
      // movingWindow stddev: constant-window instants are exactly 0
      val mw = get(s"$base/render?target=" +
        enc("""movingWindow(app.b,"5min","stddev")""") + s"&$range")
      assert(mw.statusCode() === 200, mw.body())
      assert(mw.body().contains(s"[0.0, ${t0 / 1000}]"), mw.body())
      assert(mw.body().contains(
        """"target": "movingWindow(app.b,\"5min\",\"stddev\")""""), mw.body())
      assert(get(s"$base/render?target=" +
        enc("""movingWindow(app.a,"5min","median")""") + s"&$range")
        .statusCode() === 400)

      // current-value selection: b's last sample (21) beats a's (15)
      val hc = get(s"$base/render?target=highestCurrent(app.*,1)&$range")
      assert(hc.statusCode() === 200, hc.body())
      assert(hc.body().contains(""""target": "app.b""""), hc.body())
      assert(!hc.body().contains(""""target": "app.a""""), hc.body())
      val lc = get(s"$base/render?target=lowestCurrent(app.*,1)&$range")
      assert(lc.statusCode() === 200, lc.body())
      assert(lc.body().contains(""""target": "app.a""""), lc.body())

      // Holt-Winters family: forecast serves per-series entries; bands
      // emit Upper/Lower pairs; aberration is 0 off-spike
      val hf = get(s"$base/render?target=holtWintersForecast(app.b,7)&$range")
      assert(hf.statusCode() === 200, hf.body())
      assert(hf.body().contains(
        """"target": "holtWintersForecast(app.b)""""), hf.body())
      val hb = get(s"$base/render?target=" +
        enc("holtWintersConfidenceBands(app.b,7)") + s"&$range")
      assert(hb.statusCode() === 200, hb.body())
      assert(hb.body().contains(
        """"target": "holtWintersConfidenceUpper(app.b)""""), hb.body())
      assert(hb.body().contains(
        """"target": "holtWintersConfidenceLower(app.b)""""), hb.body())
      val ha = get(s"$base/render?target=" +
        enc("holtWintersAberration(app.b,7)") + s"&$range")
      assert(ha.statusCode() === 200, ha.body())
      // the first instant's forecast is the sample itself → aberration 0
      // (later warm-up instants legitimately poke outside the bands)
      assert(ha.body().contains(s"[0.0, ${t0 / 1000}]"), ha.body())
      assert(get(s"$base/render?target=holtWintersForecast(app.b,0)&$range")
        .statusCode() === 400)

      // POST /render: the URL-encoded form body Grafana sends by default
      // — same parameters, targets repeat in the body, query-string and
      // body pairs merge
      def postForm(url: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(body,
            java.nio.charset.StandardCharsets.UTF_8))
          .build(), HttpResponse.BodyHandlers.ofString())
      val pr = postForm(s"$base/render",
        s"target=${enc("sumSeries(app.*)")}" +
          s"&target=${enc("maxSeries(app.*)")}" +
          s"&from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme")
      assert(pr.statusCode() === 200, pr.body())
      assert(pr.body().contains(""""target": "sumSeries(app.*)"""") &&
        pr.body().contains(""""target": "maxSeries(app.*)""""), pr.body())
      assert(pr.body().contains(s"[30.0, ${t0 / 1000}]"), pr.body())
      // query-string params merge with body targets
      val pm = postForm(s"$base/render?tenant=acme" +
          s"&from=${t0 / 1000 - 10}&until=${now / 1000}",
        s"target=${enc("countSeries(app.*)")}")
      assert(pm.statusCode() === 200, pm.body())
      assert(pm.body().contains(s"[2.0, ${t0 / 1000}]"), pm.body())
      // a non-form content type is rejected loudly, not half-parsed
      val pj = client.send(HttpRequest.newBuilder(URI.create(s"$base/render"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"target":"app.a"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(pj.statusCode() === 400, pj.body())

      // events() target: markers from the events store at value 1.0,
      // named by the target text; tags filter scopes, "" matches all
      assert(post(s"$base/v2.0/acme/events",
        s"""{"what": "deploy", "when": ${t0 + 600000L}, "data": "build 7",
           | "tags": "release"}""".stripMargin).statusCode() === 200)
      val evr = get(s"$base/render?target=" +
        enc("""events("release")""") + s"&$range")
      assert(evr.statusCode() === 200, evr.body())
      assert(evr.body().contains(""""target": "events(\"release\")""""),
        evr.body())
      assert(evr.body().contains(s"[1.0, ${t0 / 1000 + 600}]"), evr.body())
      val evNone = get(s"$base/render?target=" +
        enc("""events("nosuchtag")""") + s"&$range")
      assert(evNone.statusCode() === 200, evNone.body())
      assert(!evNone.body().contains("[1.0, "), evNone.body())
      // bare events() (all annotations in range) is valid Graphite
      val evAll = get(s"$base/render?target=events()&$range")
      assert(evAll.statusCode() === 200, evAll.body())
      assert(evAll.body().contains(s"[1.0, ${t0 / 1000 + 600}]"),
        evAll.body())
      // multiple tags AND (Graphite's events(*tags)): both substrings of
      // the event's data+tags match; a miss on either drops the marker
      val evAnd = get(s"$base/render?target=" +
        enc("""events("release","build")""") + s"&$range")
      assert(evAnd.statusCode() === 200, evAnd.body())
      assert(evAnd.body().contains(s"[1.0, ${t0 / 1000 + 600}]"),
        evAnd.body())
      val evMiss = get(s"$base/render?target=" +
        enc("""events("release","nosuch")""") + s"&$range")
      assert(evMiss.statusCode() === 200, evMiss.body())
      assert(!evMiss.body().contains("[1.0, "), evMiss.body())
      // a single-quoted tag containing a comma stays ONE tag (both quote
      // styles are opaque to the arg split)
      val evQ = get(s"$base/render?target=" +
        enc("""events('release, hotfix')""") + s"&$range")
      assert(evQ.statusCode() === 200, evQ.body())
      assert(!evQ.body().contains("[1.0, "), evQ.body())

      // /functions: graphite-web's function-metadata catalog (the
      // Grafana query-editor picker). Every catalog entry must be a
      // function the evaluator actually serves: called with a minimal
      // arg, the response may be a 200 or an arity/validation 400, but
      // NEVER the unknown-function error — a phantom entry would
      // advertise a picker item /render rejects.
      val fc = get(s"$base/functions")
      assert(fc.statusCode() === 200, fc.body())
      assert(fc.body().contains("\"divideSeries\"") &&
        fc.body().contains("\"movingWindow\"") &&
        fc.body().contains("\"seriesList\""), fc.body())
      val f1fn = get(s"$base/functions/sumSeries")
      assert(f1fn.statusCode() === 200, f1fn.body())
      assert(f1fn.body().contains(""""group": "Combine""""), f1fn.body())
      assert(get(s"$base/functions/bogus").statusCode() === 404)
      val names = """"([A-Za-z0-9]+)": \{"name"""".r
        .findAllMatchIn(fc.body()).map(_.group(1)).toSet
      assert(names.size > 50, names.toString)
      for (n <- names) {
        val r = get(s"$base/render?target=$n(app.a)&$range")
        assert(!r.body().contains("unknown render function"),
          s"catalog advertises '$n' but /render does not serve it: " +
            r.body())
      }

      // name filters: grep keeps matches, exclude drops them; bad regex 400
      val gr = get(s"$base/render?target=" +
        enc("""grep(app.*,"a$")""") + s"&$range")
      assert(gr.statusCode() === 200, gr.body())
      assert(gr.body().contains(""""target": "app.a"""") &&
        !gr.body().contains(""""target": "app.b""""), gr.body())
      val ex1 = get(s"$base/render?target=" +
        enc("""exclude(app.*,"a$")""") + s"&$range")
      assert(ex1.statusCode() === 200, ex1.body())
      assert(ex1.body().contains(""""target": "app.b"""") &&
        !ex1.body().contains(""""target": "app.a""""), ex1.body())
      assert(get(s"$base/render?target=" +
        enc("""grep(app.*,"[")""") + s"&$range").statusCode() === 400)

      // aliasSub rewrites display names with backreferences
      val as1 = get(s"$base/render?target=" +
        enc("""aliasSub(app.*,"^app\.(.*)","svc-$1")""") + s"&$range")
      assert(as1.statusCode() === 200, as1.body())
      assert(as1.body().contains(""""target": "svc-a"""") &&
        as1.body().contains(""""target": "svc-b""""), as1.body())

      // a replacement referencing a missing group is a 400, not a 500
      assert(get(s"$base/render?target=" +
        enc("""aliasSub(app.*,"^app\.(.*)","svc-$9")""") + s"&$range")
        .statusCode() === 400)

      // changed: first point 0, a step change 1
      val ch = get(s"$base/render?target=changed(app.a)&$range")
      assert(ch.statusCode() === 200, ch.body())
      assert(ch.body().contains(s"[0.0, ${t0 / 1000}]"), ch.body())
      assert(ch.body().contains(s"[1.0, ${t0 / 1000 + 300}]"), ch.body())

      // offsetToZero: b's minimum (20) becomes the zero line
      val oz = get(s"$base/render?target=offsetToZero(app.b)&$range")
      assert(oz.statusCode() === 200, oz.body())
      assert(oz.body().contains(s"[0.0, ${t0 / 1000}]"), oz.body())
      assert(oz.body().contains(s"[1.0, ${t0 / 1000 + 300}]"), oz.body())

      // current-value threshold selection
      val ca = get(s"$base/render?target=currentAbove(app.*,20)&$range")
      assert(ca.statusCode() === 200, ca.body())
      assert(ca.body().contains(""""target": "app.b"""") &&
        !ca.body().contains(""""target": "app.a""""), ca.body())
      val cb = get(s"$base/render?target=currentBelow(app.*,20)&$range")
      assert(cb.statusCode() === 200, cb.body())
      assert(cb.body().contains(""""target": "app.a"""") &&
        !cb.body().contains(""""target": "app.b""""), cb.body())

      // percentile scrubs: the spike (500) is above app.a's p95 and
      // becomes a null datapoint; nPercentile draws a constant line at
      // the series' p100 (its max)
      val rp = get(s"$base/render?target=removeAbovePercentile(app.a,95)&$range")
      assert(rp.statusCode() === 200, rp.body())
      assert(rp.body().contains(s"[null, ${t0 / 1000 + 25 * 300}]"), rp.body())
      assert(rp.body().contains(s"[10.0, ${t0 / 1000}]"), rp.body())
      val np = get(s"$base/render?target=nPercentile(app.a,100)&$range")
      assert(np.statusCode() === 200, np.body())
      assert(np.body().contains(s"[500.0, ${t0 / 1000}]"), np.body())
      assert(get(s"$base/render?target=nPercentile(app.a,101)&$range")
        .statusCode() === 400)

      // csv export: Graphite's target,wall-time,value lines (UTC);
      // t0 = 2023-12-31 21:30:00Z in the fixture clock
      val cv = get(s"$base/render?target=app.a&$range&format=csv")
      assert(cv.statusCode() === 200, cv.body())
      assert(cv.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/csv"), cv.headers().toString)
      assert(cv.body().contains("app.a,2023-12-31 21:30:00,10.0"), cv.body())
      // a null datapoint renders as an empty cell, name quoting kicks in
      // only when csv metacharacters appear
      val cvd = get(s"$base/render?target=derivative(app.a)&$range&format=csv")
      assert(cvd.statusCode() === 200, cvd.body())
      assert(cvd.body().contains("derivative(app.a),2023-12-31 21:30:00,\r\n"),
        cvd.body())
    } finally srv.stop()
  }

  test("render advice regressions: diff/multiply reduce to ONE entry; a " +
    "disjoint-timestamp multi-series divisor 400s; mid-token apostrophes " +
    "stay literal in the target split") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 10L * 300000L
      def ingest(name: String, pts: Seq[(Long, Double)]): Unit = {
        val recs = pts.map { case (ts, v) =>
          s"""{"metricName": "$name", "metricValue": $v,
             | "collectionTime": $ts, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      // x1/x2 share a timeline; dj1/dj2 have DISJOINT timestamps
      ingest("app.x1", (0 until 5).map(i => (t0 + i * 300000L, 10.0 + i)))
      ingest("app.x2", (0 until 5).map(i => (t0 + i * 300000L, 2.0)))
      ingest("dj.d1", Seq((t0, 4.0), (t0 + 600000L, 4.0)))
      ingest("dj.d2", Seq((t0 + 300000L, 8.0), (t0 + 900000L, 8.0)))
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

      // diffSeries with a MULTI-SERIES first argument reduces to one
      // combined entry (graphite-web's reduce), never one per series:
      // (10+2) − 8 at t0... minuend = sum of app.x* = 12, sub = dj.d1(4)
      val df = get(s"$base/render?target=" +
        enc("diffSeries(app.x*,dj.d1)") + s"&$range")
      assert(df.statusCode() === 200, df.body())
      assert(df.body().split("\"target\"").length === 2, df.body())
      assert(df.body().contains(""""target": "diffSeries(app.x*,dj.d1)""""),
        df.body())
      assert(df.body().contains(s"[8.0, ${t0 / 1000}]"), df.body())
      // an instant the subtrahend lacks contributes 0 (safeDiff)
      assert(df.body().contains(s"[13.0, ${t0 / 1000 + 300}]"), df.body())

      // multiplySeries reduces ALL matched series into one product entry;
      // 10·2 at t0; an instant any factor misses renders null
      val mu = get(s"$base/render?target=" +
        enc("multiplySeries(app.x*,dj.d1)") + s"&$range")
      assert(mu.statusCode() === 200, mu.body())
      assert(mu.body().split("\"target\"").length === 2, mu.body())
      assert(mu.body().contains(s"[80.0, ${t0 / 1000}]"), mu.body())
      assert(mu.body().contains(s"[null, ${t0 / 1000 + 300}]"), mu.body())

      // the divisor glob matches TWO series with disjoint timestamps —
      // every instant has exactly one sample, but graphite-web rejects a
      // multi-series divisor outright; interleaving them into one
      // denominator would be silent garbage
      val dv = get(s"$base/render?target=" +
        enc("divideSeries(app.x1,dj.*)") + s"&$range")
      assert(dv.statusCode() === 400, dv.body())
      assert(dv.body().contains("more than one series"), dv.body())

      // a mid-token apostrophe stays literal: the glob straddles a comma
      // that must still split (two args), and the name round-trips
      ingest("app.o'brien.req", Seq((t0, 7.0)))
      val ap = get(s"$base/render?target=" +
        enc("diffSeries(app.o'brien.req,app.x2)") + s"&$range")
      assert(ap.statusCode() === 200, ap.body())
      assert(ap.body().contains(s"[5.0, ${t0 / 1000}]"), ap.body())
    } finally srv.stop()
  }

  test("grafana staples: sortByTotal/sortByMaxima order entries, limit " +
    "keeps the first n, WithWildcards collapses names, aliasByMetric, " +
    "constantLine, and consolidateBy caps output at maxDataPoints") {
    val (srv, base, _) = startServer()
    try {
      // t0 aligned to the 5m grid so raw samples and 5m rollup buckets
      // carry identical (ts, value) — the resample input is the same
      // whichever resolution the maxDataPoints pick chooses
      val t0 = now - (now % 300000L) - 10L * 300000L
      def ingest(name: String, pts: Seq[(Long, Double)]): Unit = {
        val recs = pts.map { case (ts, v) =>
          s"""{"metricName": "$name", "metricValue": $v,
             | "collectionTime": $ts, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      // srt.a: max 5, total 6; srt.b: max 4, total 8 — the two sort keys
      // order them OPPOSITE ways, so either result proves its ordering
      ingest("srt.a", Seq((t0, 1.0), (t0 + 300000L, 5.0)))
      ingest("srt.b", Seq((t0, 4.0), (t0 + 300000L, 4.0)))
      ingest("ws.h1.req", Seq((t0, 2.0)))
      ingest("ws.h2.req", Seq((t0, 3.0)))
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

      val byMax = get(s"$base/render?target=" +
        enc("sortByMaxima(srt.*)") + s"&$range").body()
      assert(byMax.indexOf("srt.a") >= 0 &&
        byMax.indexOf("srt.a") < byMax.indexOf("srt.b"), byMax)
      val byTot = get(s"$base/render?target=" +
        enc("sortByTotal(srt.*)") + s"&$range").body()
      assert(byTot.indexOf("srt.b") >= 0 &&
        byTot.indexOf("srt.b") < byTot.indexOf("srt.a"), byTot)

      // limit takes the FIRST n of the list order: name order bare,
      // sorted order after a sortBy stage
      val lim = get(s"$base/render?target=" +
        enc("limit(srt.*,1)") + s"&$range").body()
      assert(lim.contains("srt.a") && !lim.contains("srt.b"), lim)
      val limSorted = get(s"$base/render?target=" +
        enc("limit(sortByTotal(srt.*),1)") + s"&$range").body()
      assert(limSorted.contains("srt.b") && !limSorted.contains("srt.a"),
        limSorted)

      // WithWildcards: one entry named by the collapsed name, values
      // summed/averaged per instant
      val sw = get(s"$base/render?target=" +
        enc("sumSeriesWithWildcards(ws.*.req,1)") + s"&$range").body()
      assert(sw.contains(""""target": "ws.req"""") &&
        sw.contains(s"[5.0, ${t0 / 1000}]"), sw)
      val aw = get(s"$base/render?target=" +
        enc("averageSeriesWithWildcards(ws.*.req,1)") + s"&$range").body()
      assert(aw.contains(""""target": "ws.req"""") &&
        aw.contains(s"[2.5, ${t0 / 1000}]"), aw)

      // aliasByMetric = last dot-node
      val am = get(s"$base/render?target=" +
        enc("aliasByMetric(ws.h1.req)") + s"&$range").body()
      assert(am.contains(""""target": "req""""), am)

      // constantLine: three points (from/mid/until) at the value, named
      // by the value text
      val cl = get(s"$base/render?target=" +
        enc("constantLine(42.5)") + s"&$range").body()
      assert(cl.contains(""""target": "42.5""""), cl)
      assert("\\[42\\.5, \\d+\\]".r.findAllIn(cl).size === 3, cl)

      // maxDataPoints consolidation: 4 samples 5m apart (values 0,5,10,
      // 15) resampled to a 16-point 1min grid (exact integers 0..15) is
      // OVER an 8-point budget → pairs consolidate; consolidateBy("max")
      // keeps each pair's max, default average keeps the mean
      ingest("cons.x", (0 until 4).map(i => (t0 + i * 300000L, i * 5.0)))
      val cRange = s"from=${t0 / 1000 - 60}&until=${t0 / 1000 + 960}" +
        "&tenant=acme&maxDataPoints=8"
      val cm = get(s"$base/render?target=" +
        enc("""consolidateBy(resample(cons.x,"1min"),"max")""") +
        s"&$cRange").body()
      assert("\\[\\-?[\\d.]+, \\d+\\]".r.findAllIn(cm).size <= 8, cm)
      for (v <- Seq(1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0))
        assert(cm.contains(s"[$v, "), s"missing $v in $cm")
      assert(cm.contains("consolidateBy(resample(cons.x"), cm)
      val ca = get(s"$base/render?target=" +
        enc("""resample(cons.x,"1min")""") + s"&$cRange").body()
      assert("\\[\\-?[\\d.]+, \\d+\\]".r.findAllIn(ca).size <= 8, ca)
      for (v <- Seq(0.5, 2.5, 4.5))
        assert(ca.contains(s"[$v, "), s"missing $v in $ca")
      // Grafana's generated nesting puts consolidateBy INNERMOST — the
      // tag must survive the transform wrapper
      val ci = get(s"$base/render?target=" +
        enc("""resample(consolidateBy(cons.x,"max"),"1min")""") +
        s"&$cRange").body()
      for (v <- Seq(1.0, 3.0, 15.0))
        assert(ci.contains(s"[$v, "), s"missing $v in $ci")
    } finally srv.stop()
  }

  test("render staples batch 2: mostDeviant/minimumAbove/removeEmptySeries " +
    "selection, logarithm/invert/timeSlice transforms, linearRegression, " +
    "weightedAverage pairing, sortByName reset, averageOutsidePercentile") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 10L * 300000L
      def ingest(name: String, pts: Seq[(Long, Double)]): Unit = {
        val recs = pts.map { case (ts, v) =>
          s"""{"metricName": "$name", "metricValue": $v,
             | "collectionTime": $ts, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      ingest("dv.flat", Seq((t0, 5.0), (t0 + 300000L, 5.0)))
      ingest("dv.spread", Seq((t0, 0.0), (t0 + 300000L, 10.0)))
      val range = s"from=${t0 / 1000 - 10}&until=${now / 1000}&tenant=acme"
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def body(target: String): String =
        get(s"$base/render?target=" + enc(target) + s"&$range").body()

      // mostDeviant keeps the highest-sigma series
      val md = body("mostDeviant(dv.*,1)")
      assert(md.contains("dv.spread") && !md.contains("dv.flat"), md)
      // minimumAbove: min(flat)=5 > 2; min(spread)=0 not
      val ma = body("minimumAbove(dv.*,2)")
      assert(ma.contains("dv.flat") && !ma.contains("dv.spread"), ma)
      // logarithm: log10(5)... assert log of 100 exact on a fresh series
      ingest("lg.x", Seq((t0, 100.0), (t0 + 300000L, 0.0)))
      val lg = body("logarithm(lg.x)")
      assert(lg.contains(s"[2.0, ${t0 / 1000}]"), lg)
      assert(lg.contains(s"[null, ${t0 / 1000 + 300}]"), lg) // log(0) → null
      // invert: 1/100; zero → null
      val iv = body("invert(lg.x)")
      assert(iv.contains(s"[0.01, ${t0 / 1000}]"), iv)
      assert(iv.contains(s"[null, ${t0 / 1000 + 300}]"), iv)
      // timeSlice: only the sliced instant keeps its value, grid survives
      ingest("ts.x", Seq((t0, 1.0), (t0 + 300000L, 2.0), (t0 + 600000L, 3.0)))
      val sl = body(s"""timeSlice(ts.x,"${(t0 + 200000L) / 1000}","${(t0 + 400000L) / 1000}")""")
      assert(sl.contains(s"[2.0, ${t0 / 1000 + 300}]"), sl)
      assert(sl.contains(s"[null, ${t0 / 1000}]") &&
        sl.contains(s"[null, ${t0 / 1000 + 600}]"), sl)
      // linearRegression: fit of (0,4,5) at 5-min steps = 0.5 + 0.5/min
      ingest("lr.x", Seq((t0, 0.0), (t0 + 300000L, 4.0), (t0 + 600000L, 5.0)))
      val lr = body("linearRegression(lr.x)")
      assert(lr.contains(s"[0.5, ${t0 / 1000}]") &&
        lr.contains(s"[3.0, ${t0 / 1000 + 300}]") &&
        lr.contains(s"[5.5, ${t0 / 1000 + 600}]"), lr)
      // weightedAverage pairs wa.h*.v with ww.h*.w on node 1:
      // (2*10 + 4*30) / 40 = 3.5
      ingest("wa.h1.v", Seq((t0, 2.0))); ingest("wa.h2.v", Seq((t0, 4.0)))
      ingest("ww.h1.w", Seq((t0, 10.0))); ingest("ww.h2.w", Seq((t0, 30.0)))
      val wa = body("weightedAverage(wa.*.v,ww.*.w,1)")
      assert(wa.contains(s"[3.5, ${t0 / 1000}]"), wa)
      assert(wa.contains("weightedAverage(wa.*.v,ww.*.w,1)"), wa)
      // sortByName resets a sortByMaxima ordering back to name order
      val sn = body("sortByName(sortByMaxima(dv.*))")
      assert(sn.indexOf("dv.flat") < sn.indexOf("dv.spread"), sn)
      // averageOutsidePercentile keeps the extreme means only
      ingest("pc.a", Seq((t0, 1.0))); ingest("pc.b", Seq((t0, 2.0)))
      ingest("pc.c", Seq((t0, 3.0))); ingest("pc.d", Seq((t0, 10.0)))
      val ap = body("averageOutsidePercentile(pc.*,75)")
      assert(ap.contains("pc.a") && ap.contains("pc.d") &&
        !ap.contains("pc.b") && !ap.contains("pc.c"), ap)
      // removeEmptySeries: a scrub that nulls one series entirely
      val re = body("removeEmptySeries(removeBelowValue(dv.*,6))")
      // flat (all 5s) scrubs to all-null → dropped; spread keeps its 10
      assert(re.contains("dv.spread") && !re.contains("dv.flat"), re)
      // noNullPoints strips null datapoints from the response
      val nn = get(s"$base/render?target=" +
        enc("removeBelowValue(dv.spread,6)") + s"&$range&noNullPoints=true")
        .body()
      assert(!nn.contains("null") && nn.contains("[10.0, "), nn)
      // hitcount: dv.flat = 5/s over one 5-min interval → 1500 hits in
      // the 10-min bucket containing it (last sample contributes nothing)
      val hcT0 = t0 - (t0 % 600000L)
      val hc = body("""hitcount(dv.flat,"10min")""")
      val hits = "\\[([\\d.]+), \\d+\\]".r.findAllMatchIn(hc)
        .map(_.group(1).toDouble).sum
      assert(hits === 1500.0, s"expected 1500 total hits ($hcT0) in $hc")
    } finally srv.stop()
  }

  test("render staples batch 3: smartSummarize from-alignment, " +
    "integralByInterval reset, timeStack copies, applyByNode fan-out, " +
    "mapSeries/reduceSeries pairing, presentation passthroughs") {
    // timeStack ingests a day-old twin — widen the ingest age window
    val store = java.nio.file.Files.createTempDirectory("graft_http3").toString
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now,
      maxAgeMs = 10L * 86400000L)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val t0 = now - (now % 600000L) - 20L * 600000L // 10-min aligned
      def ingest(name: String, pts: Seq[(Long, Double)]): Unit = {
        val recs = pts.map { case (ts, v) =>
          s"""{"metricName": "$name", "metricValue": $v,
             | "collectionTime": $ts, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def bodyAt(target: String, fromS: Long): String =
        get(s"$base/render?target=" + enc(target) +
          s"&from=$fromS&until=${now / 1000}&tenant=acme").body()
      def body(target: String): String = bodyAt(target, t0 / 1000 - 10)

      // smartSummarize aligns buckets to the REQUEST's from (not the
      // epoch snap): from = t0 - 30 s, so the first 10-min bucket is
      // [t0-30s, t0+570s) — both points land in it and the bucket stamps
      // at from; plain summarize would stamp at the epoch snap t0
      ingest("sm.x", Seq((t0, 1.0), (t0 + 60000L, 2.0)))
      val fromS = t0 / 1000 - 30
      val sm = bodyAt("""smartSummarize(sm.x,"10min","sum")""", fromS)
      assert(sm.contains(s"[3.0, $fromS]"), sm)
      val plain = bodyAt("""summarize(sm.x,"10min","sum")""", fromS)
      assert(plain.contains(s"[3.0, ${t0 / 1000}]"), plain)

      // integralByInterval: running total RESET at each 10-min boundary
      ingest("ib.x", Seq((t0, 1.0), (t0 + 300000L, 2.0), (t0 + 600000L, 5.0)))
      val ib = body("""integralByInterval(ib.x,"10min")""")
      assert(ib.contains(s"[1.0, ${t0 / 1000}]") &&
        ib.contains(s"[3.0, ${t0 / 1000 + 300}]") &&
        ib.contains(s"[5.0, ${t0 / 1000 + 600}]"), ib)

      // timeStack: copy i draws data from i days back at today's cursor
      ingest("tk.x", Seq((t0, 7.0), (t0 - 86400000L, 3.0)))
      val tk = bodyAt("""timeStack(tk.x,"1d",0,1)""", t0 / 1000 - 10)
      assert(tk.contains(""""target": "timeShift(tk.x,\"-0s\")"""") ||
        tk.contains(""""target": "timeShift(tk.x,"""), tk)
      // the 1-day-back copy serves 3.0 AT t0's instant
      assert(tk.contains(s"[3.0, ${t0 / 1000}]") &&
        tk.contains(s"[7.0, ${t0 / 1000}]"), tk)

      // applyByNode: one template evaluation per node-1 prefix
      ingest("ab.s1.x", Seq((t0, 1.0)))
      ingest("ab.s2.x", Seq((t0, 2.0)))
      val ab = body("""applyByNode(ab.*.x,1,"sumSeries(%.x)")""")
      assert(ab.contains(""""target": "sumSeries(ab.s1.x)"""") &&
        ab.contains(""""target": "sumSeries(ab.s2.x)""""), ab)
      assert(ab.contains(s"[1.0, ${t0 / 1000}]") &&
        ab.contains(s"[2.0, ${t0 / 1000}]"), ab)
      // newName argument renames per prefix
      val abN = body("""applyByNode(ab.*.x,1,"sumSeries(%.x)","%.sum")""")
      assert(abN.contains(""""target": "ab.s1.sum"""") &&
        abN.contains(""""target": "ab.s2.sum""""), abN)

      // mapSeries/reduceSeries: per-server used/total → asPercent, named
      // with the reduce node replaced by reduce.asPercent
      ingest("sv.s1.used", Seq((t0, 25.0)))
      ingest("sv.s1.total", Seq((t0, 100.0)))
      ingest("sv.s2.used", Seq((t0, 100.0)))
      ingest("sv.s2.total", Seq((t0, 200.0)))
      val rs = body(
        """reduceSeries(mapSeries(sv.*.*,1),"asPercent",2,"used","total")""")
      assert(rs.contains(""""target": "sv.s1.reduce.asPercent"""") &&
        rs.contains(""""target": "sv.s2.reduce.asPercent""""), rs)
      assert(rs.contains(s"[25.0, ${t0 / 1000}]") &&
        rs.contains(s"[50.0, ${t0 / 1000}]"), rs)
      // bare mapSeries renders the series unchanged
      val ms = body("mapSeries(sv.s1.*,1)")
      assert(ms.contains("sv.s1.used") && ms.contains("sv.s1.total"), ms)

      // presentation passthroughs: data unchanged; names wrap where
      // graphite-web wraps them and stay bare where it doesn't
      val st = body("stacked(sm.x)")
      assert(st.contains(""""target": "stacked(sm.x)"""") &&
        st.contains(s"[1.0, ${t0 / 1000}]"), st)
      val lw = body("lineWidth(sm.x,2)")
      assert(lw.contains(""""target": "sm.x"""") &&
        lw.contains(s"[2.0, ${t0 / 1000 + 60}]"), lw)
      val di = body("drawAsInfinite(sm.x)")
      assert(di.contains(""""target": "drawAsInfinite(sm.x)""""), di)
      assert(body("secondYAxis(sm.x)")
        .contains(""""target": "secondYAxis(sm.x)""""))
      // nested under a real transform: the tag neither 400s nor breaks
      // the composition
      val nested = body("""scale(stacked(sm.x),10)""")
      assert(nested.contains(s"[10.0, ${t0 / 1000}]"), nested)
    } finally srv.stop()
  }

  test("render staples batch 4: aggregate, exponentialMovingAverage, " +
    "threshold/aggregateLine/identity/verticalLine lines, delay, " +
    "isNonNull, pow/squareRoot, substr, interpolate") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 10L * 300000L
      def ingest(name: String, pts: Seq[(Long, Double)]): Unit = {
        val recs = pts.map { case (ts, v) =>
          s"""{"metricName": "$name", "metricValue": $v,
             | "collectionTime": $ts, "ttlInSeconds": 172800,
             | "unit": "ms"}""".stripMargin
        }.mkString("[", ",", "]")
        assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      }
      val fromS = t0 / 1000 - 10
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def body(target: String): String =
        get(s"$base/render?target=" + enc(target) +
          s"&from=$fromS&until=${now / 1000}&tenant=acme").body()

      ingest("b4.a", Seq((t0, 2.0), (t0 + 300000L, 4.0)))
      ingest("b4.b", Seq((t0, 10.0), (t0 + 300000L, 20.0)))
      // aggregate dispatches the general combiner: sum and range
      val agSum = body("""aggregate(b4.*,"sum")""")
      assert(agSum.contains(s"[12.0, ${t0 / 1000}]") &&
        agSum.contains(s"[24.0, ${t0 / 1000 + 300}]"), agSum)
      val agRange = body("""aggregate(b4.*,"range")""")
      assert(agRange.contains(s"[8.0, ${t0 / 1000}]"), agRange)
      // EMA alpha = 2/(n+1) = 0.5 for n=3: seeded 2.0, then 0.5*4+0.5*2=3
      val ema = body("exponentialMovingAverage(b4.a,3)")
      assert(ema.contains(s"[2.0, ${t0 / 1000}]") &&
        ema.contains(s"[3.0, ${t0 / 1000 + 300}]"), ema)
      // threshold draws a labeled constant line at from/mid/until
      val th = body("""threshold(42.5,"slo")""")
      assert(th.contains(""""target": "slo"""") &&
        th.contains(s"[42.5, $fromS]"), th)
      // aggregateLine: per-series mean drawn as a 3-point line
      val al = body("""aggregateLine(b4.a,"avg")""")
      assert(al.contains("aggregateLine(b4.a, 'avg')") &&
        al.contains(s"[3.0, $fromS]"), al)
      // identity: epoch seconds on the default 60 s grid (values render
      // in E-notation at this magnitude — assert the grid instants)
      val idf = body("""identity("ramp")""")
      assert(idf.contains(""""target": "ramp"""") &&
        idf.contains(s", $fromS]") && idf.contains(s", ${fromS + 60}]"), idf)
      // verticalLine: one marker instant
      val vl = body(s"""verticalLine("${t0 / 1000}","deploy")""")
      assert(vl.contains(""""target": "deploy"""") &&
        vl.contains(s"[1.0, ${t0 / 1000}]"), vl)
      // delay by one point: first point vacates to null, second gets 2.0
      val dl = body("delay(b4.a,1)")
      assert(dl.contains(s"[null, ${t0 / 1000}]") &&
        dl.contains(s"[2.0, ${t0 / 1000 + 300}]"), dl)
      // isNonNull over a scrub: offending point reads 0
      val inn = body("isNonNull(removeAboveValue(b4.a,3))")
      assert(inn.contains(s"[1.0, ${t0 / 1000}]") &&
        inn.contains(s"[0.0, ${t0 / 1000 + 300}]"), inn)
      // pow and squareRoot; sqrt of a negative renders null
      ingest("b4.n", Seq((t0, 9.0), (t0 + 300000L, -4.0)))
      val pw = body("pow(b4.a,2)")
      assert(pw.contains(s"[4.0, ${t0 / 1000}]") &&
        pw.contains(s"[16.0, ${t0 / 1000 + 300}]"), pw)
      val sq = body("squareRoot(b4.n)")
      assert(sq.contains(s"[3.0, ${t0 / 1000}]") &&
        sq.contains(s"[null, ${t0 / 1000 + 300}]"), sq)
      // substr slices the display name's dot nodes
      val sb = body("substr(b4.a,1)")
      assert(sb.contains(""""target": "a""""), sb)
      // interpolate fills an interior null linearly; edges stay null
      ingest("b4.i", Seq((t0, 1.0), (t0 + 300000L, 100.0),
        (t0 + 600000L, 3.0)))
      val ip = body("interpolate(removeAboveValue(b4.i,50))")
      assert(ip.contains(s"[2.0, ${t0 / 1000 + 300}]"), ip)
      val ipEdge = body("interpolate(removeAboveValue(b4.a,3))")
      assert(ipEdge.contains(s"[null, ${t0 / 1000 + 300}]"), ipEdge)
    } finally srv.stop()
  }

  test("/functions is generated from the render table: every served " +
    "alias is listed, and entries keep graphite-web's exact shape") {
    val (srv, base, _) = startServer()
    try {
      val fc = get(s"$base/functions")
      assert(fc.statusCode() === 200, fc.body())
      // /render serves log as logarithm's alias, so the catalog lists it
      assert(fc.body().contains(""""log": {"name": "log", """), fc.body())
      val pinned = Seq(
        "sumSeries" -> (
          "{\"name\": \"sumSeries\", \"function\": \"sumSeries(seriesList)\", " +
          "\"description\": \"per-instant sum across matched series\", " +
          "\"group\": \"Combine\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"seriesList\", \"type\": \"seriesList\", " +
          "\"required\": true}]}"),
        "movingWindow" -> (
          "{\"name\": \"movingWindow\", " +
          "\"function\": \"movingWindow(seriesList, windowSize, func)\", " +
          "\"description\": \"trailing time-window statistic (average|sum|max|min|stddev)\", " +
          "\"group\": \"Calculate\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"seriesList\", \"type\": \"seriesList\", " +
          "\"required\": true}, {\"name\": \"windowSize\", \"type\": \"string\", " +
          "\"required\": true}, {\"name\": \"func\", \"type\": \"string\", " +
          "\"required\": false}]}"),
        "aliasByNode" -> (
          "{\"name\": \"aliasByNode\", \"function\": \"aliasByNode(seriesList, " +
          "nodes)\", " +
          "\"description\": \"display name from a dot-node of the series name\", " +
          "\"group\": \"Alias\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"seriesList\", \"type\": \"seriesList\", " +
          "\"required\": true}, {\"name\": \"nodes\", \"type\": \"node\", " +
          "\"required\": true}]}"),
        "events" -> (
          "{\"name\": \"events\", \"function\": \"events(tags)\", " +
          "\"description\": \"event markers from the events store (tags ANDed; bare form serves all)\", " +
          "\"group\": \"Special\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"tags\", \"type\": \"string\", " +
          "\"required\": false}]}"),
        // start is optional (/render serves substr(app.*) with start 0)
        "substr" -> (
          "{\"name\": \"substr\", \"function\": \"substr(seriesList, start, " +
          "stop)\", " +
          "\"description\": \"display name sliced to the dot-node range " +
          "[start, stop); python-style negative indexes\", " +
          "\"group\": \"Alias\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"seriesList\", \"type\": \"seriesList\", " +
          "\"required\": true}, {\"name\": \"start\", \"type\": \"node\", " +
          "\"required\": false}, {\"name\": \"stop\", \"type\": \"node\", " +
          "\"required\": false}]}"),
        // the evaluator reads a float dash length (dashed(app.a, 2.5))
        "dashed" -> (
          "{\"name\": \"dashed\", \"function\": \"dashed(seriesList, " +
          "dashLength)\", " +
          "\"description\": \"presentation tag (dashed line); data passes " +
          "through\", " +
          "\"group\": \"Graph\", \"module\": \"graft.render\", " +
          "\"params\": [{\"name\": \"seriesList\", \"type\": \"seriesList\", " +
          "\"required\": true}, {\"name\": \"dashLength\", \"type\": \"float\", " +
          "\"required\": false}]}"))
      for ((name, body) <- pinned) {
        val r = get(s"$base/functions/$name")
        assert(r.statusCode() === 200, r.body())
        assert(r.body() === body)
        assert(fc.body().contains(s""""$name": $body"""), name)
      }
    } finally srv.stop()
  }

  test("an optional render argument that is present but does not parse " +
    "is a 400; an omitted one keeps its default") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 600000L
      val recs = Seq("app.a" -> 1.0, "app.b" -> 2.0).map { case (n, v) =>
        s"""{"metricName": "$n", "metricValue": $v,
           | "collectionTime": $t0, "ttlInSeconds": 172800}""".stripMargin
      }.mkString("[", ",", "]")
      assert(post(s"$base/v2.0/acme/ingest", recs).statusCode() === 200)
      def render(target: String) = get(s"$base/render?target=" +
        java.net.URLEncoder.encode(target, "UTF-8") +
        s"&from=${t0 / 1000 - 60}&until=${now / 1000}&tenant=acme")
      for (t <- Seq("""log(app.a,"ten")""", """substr(app.*,"x")""",
          """identity("t","x")""", """timeStack(app.a,"1d","x")""",
          """dashed(app.a,"x")""")) {
        val r = render(t)
        assert(r.statusCode() === 400, s"$t: ${r.body()}")
        assert(r.body().contains("got '"), s"$t: ${r.body()}")
      }
      // the defaults: base 10, the whole name, a 60 s step, shifts 0..7
      // and dash length 5.0
      val lg = render("log(app.a)")
      assert(lg.statusCode() === 200 &&
        lg.body().contains(""""target": "log(app.a,10.0)""""), lg.body())
      val sb = render("substr(app.*)")
      assert(sb.statusCode() === 200 &&
        sb.body().contains(""""target": "app.b""""), sb.body())
      val id = render("""identity("t")""")
      val fromS = t0 / 1000 - 60
      assert(id.statusCode() === 200 &&
        id.body().contains(s", ${fromS + 60}]"), id.body())
      // only the unshifted copy has data; start 8 past the default end
      // 7 is refused
      val ts = render("""timeStack(app.a,"1d")""")
      assert(ts.statusCode() === 200 &&
        ts.body().contains("-0s"), ts.body())
      assert(render("""timeStack(app.a,"1d",8)""").statusCode() === 400)
      val da = render("dashed(app.a)")
      assert(da.statusCode() === 200 &&
        da.body().contains(""""target": "dashed(app.a, 5.0)""""), da.body())
    } finally srv.stop()
  }

  test("RACE: stored-tier views reads racing live ingest (dirty-day " +
    "re-roll + cascade every batch) never 5xx and never lose the day") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - (now % 300000L) - 20L * 300000L
      def recs(extraTs: Long): String = ((0 until 10).map(i =>
        (t0 + i * 300000L, 1.0)) :+ (extraTs, 1.0)).map { case (ts, v) =>
        s"""{"metricName": "race.m", "metricValue": $v,
           | "collectionTime": $ts, "ttlInSeconds": 172800,
           | "unit": "ms"}""".stripMargin
      }.mkString("[", ",", "]")
      assert(post(s"$base/v2.0/acme/ingest", recs(t0)).statusCode() === 200)
      val url = s"$base/v2.0/acme/views/race.m?from=${t0 / 1000 - 10}" +
        s"&to=${now / 1000}&resolution=5m&select=numPoints"
      val baseline = get(url)
      assert(baseline.statusCode() === 200, baseline.body())
      val basePoints = "\"timestamp\"".r.findAllIn(baseline.body()).size
      assert(basePoints >= 10, baseline.body())
      // readers loop against the 5m tier while every ingest batch
      // re-rolls the SAME day (dirty-day publish + 4-hop cascade): with
      // the old dynamic-overwrite commit this schedule loses the day's
      // files mid-read (docs/SCALE.md r10: 10/10 racing reads failed);
      // the snapshot protocol must serve every read complete
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val perReader =
        Array.fill(2)(new java.util.concurrent.atomic.AtomicInteger(0))
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val readers = (0 until 2).map { ri =>
        new Thread(() => {
          while (!stop.get()) {
            val r = get(url)
            reads.incrementAndGet()
            perReader(ri).incrementAndGet()
            val pts = "\"timestamp\"".r.findAllIn(r.body()).size
            if (r.statusCode() != 200)
              bad.add(s"status ${r.statusCode()}: ${r.body().take(200)}")
            else if (pts < basePoints)
              bad.add(s"day shrank: $pts < $basePoints")
          }
        })
      }
      readers.foreach(_.start())
      // pace each re-roll on reader progress (the AtomicServeSpec
      // contract: one publish per in-flight read — a read outlasting TWO
      // publishes of its day is the documented loud-failure regime)
      (1 to 5).foreach { i =>
        val before = perReader.map(_.get())
        assert(post(s"$base/v2.0/acme/ingest",
          recs(t0 + 10L * 300000L + i * 1000L)).statusCode() === 200)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (perReader.zip(before).exists { case (c, b) => c.get() <= b } &&
          System.nanoTime() < deadline)
          Thread.sleep(20)
      }
      stop.set(true)
      readers.foreach(_.join(60000))
      assert(reads.get() >= 3, s"race never overlapped (reads=${reads.get()})")
      assert(bad.isEmpty, s"${bad.size} bad reads: ${bad.peek()}")
    } finally srv.stop()
  }

  test("connection hardening: oversized bodies 413 before parsing; a " +
    "stalled mid-body client is reaped and its worker thread freed") {
    val store = java.nio.file.Files.createTempDirectory("graft_hard").toString
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now,
      maxBodyBytes = 4096L, bodyReadTimeoutMs = 1500L)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // declared Content-Length over the cap -> 413 without reading the body
      val big = "[" + Seq.fill(200)(
        s"""{"metricName": "m", "metricValue": 1.0, "collectionTime": $now}""")
        .mkString(",") + "]"
      assert(big.length > 4096)
      val r = post(s"$base/v2.0/acme/ingest", big)
      assert(r.statusCode() === 413, r.body())
      assert(r.body().contains("request body too large"), r.body())
      // an in-cap body still ingests through the same bounded reader
      val ok = post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "m.ok", "metricValue": 1.0,
           | "collectionTime": ${now - 1000}}]""".stripMargin)
      assert(ok.statusCode() === 200, ok.body())

      // stalled body: headers + partial body, then silence — the reaper
      // must close the connection (~bodyReadTimeoutMs + one sweep), not
      // leave a worker thread blocked forever
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      try {
        sock.setSoTimeout(10000)
        val w = sock.getOutputStream
        w.write(("POST /v2.0/acme/ingest HTTP/1.1\r\n" +
          "Host: x\r\nContent-Type: application/json\r\n" +
          "Content-Length: 1000\r\n\r\n[{\"metricName\"").getBytes("UTF-8"))
        w.flush()
        val t0 = System.currentTimeMillis()
        // server closes -> read returns -1 (or resets); must not take the
        // full SoTimeout
        val got = try sock.getInputStream.read() catch {
          case _: java.io.IOException => -1
        }
        val elapsed = System.currentTimeMillis() - t0
        assert(got === -1, s"expected the reaper to close the stalled connection, read $got")
        assert(elapsed < 8000, s"reap took ${elapsed}ms")
      } finally sock.close()
      // the facade still serves normally afterwards (thread pool intact)
      assert(get(s"$base/v2.0").statusCode() === 200)
    } finally srv.stop()
  }

  test("v1.0 legacy/experimental routes alias the v2.0 handlers") {
    val (srv, base, _) = startServer()
    try {
      val t0 = now - 600000L
      assert(post(s"$base/v2.0/acme/ingest",
        s"""[{"metricName": "app.v1", "metricValue": 7.0,
           | "collectionTime": $t0, "unit": "req"}]""".stripMargin)
        .statusCode() === 200)
      // root ping parity
      assert(get(s"$base/v1.0").statusCode() === 200)
      // GET single-metric experimental view == v2.0 views
      val q = s"from=${t0 / 1000 - 10}&to=${now / 1000}&resolution=full"
      val v1 = get(s"$base/v1.0/acme/experimental/views/metric_data/app.v1?$q")
      val v2 = get(s"$base/v2.0/acme/views/app.v1?$q")
      assert(v1.statusCode() === 200, v1.body())
      assert(v1.body() === v2.body())
      // POST batch experimental view == v2.0 multi-views
      val p1 = post(s"$base/v1.0/acme/experimental/views/metric_data?$q",
        """["app.v1"]""")
      val p2 = post(s"$base/v2.0/acme/views?$q", """["app.v1"]""")
      assert(p1.statusCode() === 200, p1.body())
      assert(p1.body() === p2.body())
      // bad body still 400s through the alias
      assert(post(s"$base/v1.0/acme/experimental/views/metric_data?$q", "x")
        .statusCode() === 400)
      // unknown v1.0 route -> 404
      assert(get(s"$base/v1.0/acme/whatever").statusCode() === 404)
    } finally srv.stop()
  }

  /** The Spark jobs `body` launches, as their stage-name traces, counted
    * by a SparkListener (events drain asynchronously, hence the settle
    * sleeps — SteadyJobCountSpec's idiom). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.map(_.name.takeWhile(_ != '\n').take(60))
          .mkString("[", ";", "]"))
        ()
      }
    }
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  /** One counter's value as `/metrics` exposes it. */
  private def counter(base: String, name: String): Long = {
    val m = get(s"$base/metrics")
    assert(m.statusCode() === 200)
    ("\"" + java.util.regex.Pattern.quote(name) + "\": (\\d+)").r
      .findFirstMatchIn(m.body()).map(_.group(1).toLong).getOrElse(0L)
  }

  private def ingestBody(points: Seq[(String, Long)]): String =
    points.map { case (n, ts) =>
      s"""{"metricName": "$n", "metricValue": 1.5, "collectionTime": $ts,
         | "unit": "req"}""".stripMargin
    }.mkString("[", ", ", "]")

  test("warm catalog reads launch no catalog or coverage job: FULL glob " +
    "render, points= views and /metrics/find job counts are pinned") {
    val day = 86400000L
    val srv = new MetricsHttpServer(spark,
      java.nio.file.Files.createTempDirectory("graft_http").toString,
      nowMs = () => now, maxAgeMs = 3 * day)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // two days of points: the views read covers both from the 5m tier
      val pts = for (n <- Seq("app.a.x", "app.a.y", "app.b.z");
                     ts <- Seq(now - day - 3600000L, now - 600000L)) yield (n, ts)
      assert(post(s"$base/v2.0/acme/ingest", ingestBody(pts))
        .statusCode() === 200)
      val range = s"from=${(now - 2 * day) / 1000}"
      val render = s"$base/render?tenant=acme&target=app.a.*&$range" +
        s"&until=${now / 1000}"
      val views = s"$base/v2.0/acme/views/app.a.x?$range&to=${now / 1000}" +
        "&points=100"
      val find = s"$base/metrics/find?tenant=acme&query=app.*"
      // warm-up: loads the tenant's catalog snapshot and the tier memos
      Seq(render, views, find).foreach(u =>
        assert(get(u).statusCode() === 200, u))
      val loads0 = counter(base, "store.catalog.resolutions")
      val hits0 = counter(base, "store.catalog.cache_hits")
      var body = ""
      val renderJobs = jobsDuring { body = get(render).body() }
      assert(body.contains(""""target": "app.a.x"""") &&
        body.contains(""""target": "app.a.y"""") && !body.contains("app.b"),
        body)
      val viewsJobs = jobsDuring { body = get(views).body() }
      assert(body.contains(""""metric": "app.a.x""""), body)
      val findJobs = jobsDuring { body = get(find).body() }
      assert(body.contains(""""id": "app.a"""") &&
        body.contains(""""id": "app.b""""), body)
      info(s"warm jobs: render ${renderJobs.mkString(" | ")}; views " +
        s"${viewsJobs.mkString(" | ")}; find ${findJobs.mkString(" | ")}")
      // every job left is data plane: FULL render = the collect; points=
      // views (a 20m read: the facade rolls only the 5m tier, so both days
      // are missing from the tier) = the missing days' parallel raw
      // re-aggregation (its shuffle map stage runs as its own adaptive
      // job) and the collect; find = none. The resolved names filter the
      // scans in place (no broadcast job), a small read orders inside one
      // partition (no range-sampling job), the raw store reads with the
      // writer's schema (no inference job), and the catalog resolution and
      // the tier's day coverage run no job
      assert((renderJobs.size, viewsJobs.size, findJobs.size) === ((1, 2, 0)),
        s"render: $renderJobs; views: $viewsJobs; find: $findJobs")
      // no warm request reloaded the catalog; each one took the snapshot
      // exactly once (one fence check per request, shared by its lookups)
      assert(counter(base, "store.catalog.resolutions") === loads0)
      assert(counter(base, "store.catalog.cache_hits") - hits0 === 3)
    } finally srv.stop()
  }

  test("warm nested renders and a batch views POST run pinned job " +
    "counts: movingAverage(sumSeries), aliasByNode(highestMax), POST views") {
    val day = 86400000L
    val srv = new MetricsHttpServer(spark,
      java.nio.file.Files.createTempDirectory("graft_http").toString,
      nowMs = () => now, maxAgeMs = 3 * day)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val hosts = Seq("svc.h1.mem", "svc.h2.mem", "svc.h3.mem")
      val pts = for (n <- hosts; ts <- Seq(now - day - 3600000L,
        now - 7200000L, now - 600000L)) yield (n, ts)
      assert(post(s"$base/v2.0/acme/ingest", ingestBody(pts))
        .statusCode() === 200)
      val range = s"from=${(now - 2 * day) / 1000}&until=${now / 1000}"
      def render(target: String) = s"$base/render?tenant=acme&target=" +
        java.net.URLEncoder.encode(target, StandardCharsets.UTF_8) +
        s"&$range&format=json"
      val mavg = render("movingAverage(sumSeries(svc.*.mem),'1h')")
      val top = render("aliasByNode(highestMax(svc.*.mem,2),1)")
      val batch = s"$base/v2.0/acme/views?from=${(now - 2 * day) / 1000}" +
        s"&to=${now / 1000}&points=100"
      val names = hosts.take(2).map("\"" + _ + "\"").mkString("[", ",", "]")
      // warm-up: the tenant's catalog snapshot and the tier memos
      Seq(mavg, top).foreach(u => assert(get(u).statusCode() === 200, u))
      assert(post(batch, names).statusCode() === 200)
      var body = ""
      val mavgJobs = jobsDuring { body = get(mavg).body() }
      assert(body.contains("movingAverage(sumSeries(svc.*.mem),"), body)
      val topJobs = jobsDuring { body = get(top).body() }
      assert(body.contains(""""target": "h1"""") && !body.contains("h3"), body)
      val batchJobs = jobsDuring { body = post(batch, names).body() }
      assert(body.contains(""""metric": "svc.h1.mem"""") &&
        body.contains(""""metric": "svc.h2.mem"""") && !body.contains("h3"),
        body)
      info(s"warm jobs: mavg ${mavgJobs.mkString(" | ")}; top " +
        s"${topJobs.mkString(" | ")}; batch ${batchJobs.mkString(" | ")}")
      // the resolved names filter each scan in place and each small read
      // orders inside one partition, so every series operator above it
      // plans without an exchange: movingAverage(sumSeries) = the collect;
      // highestMax ranks by window columns over that partition = the
      // collect; the batch views read (20m, both days missing from the
      // tier) = the missing days' parallel raw re-aggregation (its shuffle
      // map stage runs as its own adaptive job) and the collect
      assert((mavgJobs.size, topJobs.size, batchJobs.size) === ((1, 1, 2)),
        s"mavg: $mavgJobs; top: $topJobs; batch: $batchJobs")
    } finally srv.stop()
  }

  test("warm reads with a tail bucket and the checkpoint-free render " +
    "families run one job each: points= and batch views with an unaligned " +
    "to, percentileScrub, linearRegression, limit, averageOutsidePercentile") {
    val day = 86400000L
    val srv = new MetricsHttpServer(spark,
      java.nio.file.Files.createTempDirectory("graft_http").toString,
      nowMs = () => now, maxAgeMs = 3 * day)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val hosts = Seq("tl.h1.mem", "tl.h2.mem", "tl.h3.mem")
      val pts = for (n <- hosts; ts <- Seq(now - 7200000L, now - 3000000L,
        now - 600000L, now - 200000L)) yield (n, ts)
      assert(post(s"$base/v2.0/acme/ingest", ingestBody(pts))
        .statusCode() === 200)
      // a 4 h range at points=50 reads the 5m tier, which the POST rolled:
      // every day is covered and `to` ends 90 s into a bucket, so the only
      // raw repair is the tail bucket
      val range = s"from=${(now - 4 * 3600000L) / 1000}&to=${(now - 90000L) / 1000}"
      val views = s"$base/v2.0/acme/views/tl.h1.mem?$range&points=50"
      val batch = s"$base/v2.0/acme/views?$range&points=50"
      val names = hosts.take(2).map("\"" + _ + "\"").mkString("[", ",", "]")
      def render(target: String) = s"$base/render?tenant=acme&target=" +
        java.net.URLEncoder.encode(target, StandardCharsets.UTF_8) +
        s"&from=${(now - 4 * 3600000L) / 1000}&until=${now / 1000}&format=json"
      val renders = Seq(
        "removeAbovePercentile(tl.*.mem,50)", "removeBelowPercentile(tl.*.mem,50)",
        "nPercentile(tl.*.mem,50)", "linearRegression(tl.*.mem)",
        "limit(tl.*.mem,2)", "averageOutsidePercentile(tl.*.mem,60)")
        .map(render)
      // warm-up: the tenant's catalog snapshot, the tier and raw memos
      (views +: renders).foreach(u => assert(get(u).statusCode() === 200, u))
      assert(post(batch, names).statusCode() === 200)
      var body = ""
      val viewsJobs = jobsDuring { body = get(views).body() }
      assert(body.contains(""""metric": "tl.h1.mem""""), body)
      val batchJobs = jobsDuring { body = post(batch, names).body() }
      assert(body.contains(""""metric": "tl.h2.mem"""") && !body.contains("h3"),
        body)
      val renderJobs = renders.map { u =>
        jobsDuring { body = get(u).body() }.size -> body }
      info(s"warm jobs: views $viewsJobs; batch $batchJobs; renders " +
        renderJobs.map(_._1).mkString(", "))
      // the tail bucket aggregates inside the read's one partition (no
      // exchange, so no adaptive shuffle-map job): each read is its collect
      assert((viewsJobs.size, batchJobs.size) === ((1, 1)),
        s"views: $viewsJobs; batch: $batchJobs")
      // per-series percentiles, the fit, the rank and the band are window
      // columns over the read's partition: no checkpoint or broadcast job
      renderJobs.zip(renders).foreach { case ((n, b), u) =>
        assert(n === 1 && b.contains(""""target""""), s"$u: $n jobs, $b")
      }
    } finally srv.stop()
  }

  test("catalog snapshot freshness: a facade POST, and a foreign " +
    "processBatch, compactCatalog and rebuildCatalog are each visible at " +
    "the next request") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val (srv, base, store) = startServer()
    try {
      val t0 = now - 600000L
      val find = s"$base/metrics/find?tenant=acme&query=app.*"
      assert(post(s"$base/v2.0/acme/ingest",
        ingestBody(Seq("app.a.x" -> t0))).statusCode() === 200)
      assert(get(find).body().contains(""""id": "app.a""""))
      // a facade POST adding a locator: the next glob read resolves it
      assert(post(s"$base/v2.0/acme/ingest",
        ingestBody(Seq("app.c.new" -> t0))).statusCode() === 200)
      val r = get(s"$base/render?tenant=acme&target=app.c.*" +
        s"&from=${t0 / 1000 - 10}&until=${now / 1000}")
      assert(r.body().contains(""""target": "app.c.new""""), r.body())
      // a foreign writer (not through the facade's lock)
      val batch = Seq(("acme", "app.d.foreign", t0, 2.0)).toDF(
          "tenant_id", "metric_name", "ts_ms", "value")
        .withColumn("ttl_seconds", lit(null).cast("int"))
        .withColumn("unit", lit("req"))
      graft.streaming.IngestStream.processBatch(
        graft.streaming.IngestStream.withValidity(batch, 0L, Long.MaxValue),
        store, batchId = 777L)
      assert(get(find).body().contains(""""id": "app.d""""))
      // a foreign compaction: same view, served from a reloaded snapshot
      val before = get(find).body()
      val loads = counter(base, "store.catalog.resolutions")
      assert(graft.streaming.IngestStream.compactCatalog(spark, store,
        assumeQuiesced = true).nonEmpty)
      assert(get(find).body() === before)
      assert(counter(base, "store.catalog.resolutions") === loads + 1)
      // a foreign catalog-only (stale) entry shows up, and a foreign
      // rebuild, which derives from the data tables, drops it
      Seq(("acme", "app.e.ghost", "basic", "req"))
        .toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
        .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=999")
      assert(get(find).body().contains(""""id": "app.e""""))
      graft.streaming.IngestStream.rebuildCatalog(spark, store)
      val after = get(find).body()
      assert(!after.contains("app.e") && after.contains(""""id": "app.d""""),
        after)
    } finally srv.stop()
  }

  /** The same points as a raw-only store (raw write, no catalog) and as a
    * store built by `processBatch` (catalog complete from birth). */
  private def rawOnlyAndIngested(): (String, String) = {
    import spark.implicits._
    val pts = (for (n <- Seq("app.r.x", "app.r.y"); i <- 0 until 6)
      yield ("acme", n, now - 3600000L + i * 300000L,
        i.toDouble + n.length, 86400, "req"))
      .toDF("tenant_id", "metric_name", "ts_ms", "value", "ttl_seconds", "unit")
    def dir() = java.nio.file.Files.createTempDirectory("graft_http").toString
    val (rawOnly, ingested) = (dir(), dir())
    graft.streaming.IngestStream.writeRaw(pts, rawOnly, 0L)
    graft.streaming.IngestStream.processBatch(
      graft.streaming.IngestStream.withValidity(pts, 0L, Long.MaxValue), ingested)
    (rawOnly, ingested)
  }

  /** `f` against a facade serving `store`, stopped afterwards. */
  private def serving[T](store: String)(f: String => T): T = {
    val srv = new MetricsHttpServer(spark, store, nowMs = () => now)
    srv.start()
    try f(s"http://127.0.0.1:${srv.boundPort}") finally srv.stop()
  }

  private def rebuilds: Long =
    graft.core.Instrumentation.global.count("store.catalog.rebuilds")

  test("a raw-only store has its catalog rebuilt once at open: the first " +
    "search and views reads are served by the snapshot and equal those " +
    "of the same points ingested through processBatch") {
    val (rawOnly, ingested) = rawOnlyAndIngested()
    val search = "/v2.0/acme/metrics/search?query=app.r.*"
    val views = s"/v2.0/acme/views/app.r.x?from=${(now - 7200000L) / 1000}" +
      s"&to=${now / 1000}&resolution=5m"
    val before = rebuilds
    val got = serving(rawOnly) { base =>
      assert(counter(base, "store.catalog.rebuilds") === before + 1)
      val loads0 = counter(base, "store.catalog.resolutions")
      val raw0 = counter(base, "store.raw.resolutions") +
        counter(base, "store.raw.cache_hits")
      var found = ""
      val searchJobs = jobsDuring { found = get(base + search).body() }
      // the search loads the tenant's snapshot (its one job) and opens no
      // raw table: nothing derives locators from the data
      assert(counter(base, "store.catalog.resolutions") === loads0 + 1)
      assert(searchJobs.size === 1, searchJobs)
      assert(counter(base, "store.raw.resolutions") +
        counter(base, "store.raw.cache_hits") === raw0)
      val hits0 = counter(base, "store.catalog.cache_hits")
      val viewed = get(base + views).body()
      assert(counter(base, "store.catalog.cache_hits") === hits0 + 1)
      assert(counter(base, "store.catalog.resolutions") === loads0 + 1)
      (found, viewed)
    }
    assert(got._1.contains(""""metric": "app.r.y""""), got._1)
    assert(got._2.contains(""""metric": "app.r.x""""), got._2)
    assert(got === serving(ingested)(base =>
      (get(base + search).body(), get(base + views).body())))
    assert(rebuilds === before + 1, "the processBatch store needs no rebuild")
  }

  test("store.catalog.rebuilds stays 0 for a second facade on a rebuilt " +
    "store and for a facade on a virgin store") {
    val (rawOnly, _) = rawOnlyAndIngested()
    val before = rebuilds
    serving(rawOnly)(base =>
      assert(counter(base, "store.catalog.rebuilds") === before + 1))
    serving(rawOnly)(base =>
      assert(counter(base, "store.catalog.rebuilds") === before + 1))
    val virgin = java.nio.file.Files.createTempDirectory("graft_http").toString
    serving(virgin) { base =>
      assert(counter(base, "store.catalog.rebuilds") === before + 1)
      // a virgin store serves an empty catalog; its first POST writes the
      // catalog and its coverage marker
      assert(get(s"$base/v2.0/acme/metrics/search?query=*").body() === "[]")
      assert(post(s"$base/v2.0/acme/ingest",
        ingestBody(Seq("app.v.x" -> (now - 600000L)))).statusCode() === 200)
    }
    serving(virgin) { base =>
      assert(counter(base, "store.catalog.rebuilds") === before + 1)
      assert(get(s"$base/v2.0/acme/metrics/search?query=*").body()
        .contains(""""metric": "app.v.x""""))
    }
  }
}

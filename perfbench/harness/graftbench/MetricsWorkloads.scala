package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{Granularity, SnapshotStore}
import graft.http.MetricsHttpServer
import graft.operators.Discovery
import graft.query.MetricsQueryApi
import graft.streaming.IngestStream
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

final case class Req(kind: String, route: String, method: String, path: String,
    body: String, expect: JsonNode)

/** A blocking HTTP/1.1 client: one per client thread, keep-alive. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(method: String, path: String, body: String = null): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(120))
    val r =
      if (method == "POST") b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      else b.GET()
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }
}

/** `dashboard_read` and `ingest_fresh`: both serve the same corpus store,
  * built through [[IngestStream]], from a [[MetricsHttpServer]] whose clock
  * is pinned to the plan's `now_ms`. */
final class MetricsWorkloads(spark: SparkSession, cfg: Main.Config,
    meter: Meter, res: Main.Result) {
  import Main.{log, median}

  private val mapper = new ObjectMapper()
  private val plan = mapper.readTree(new java.io.File(cfg.str("inputs"), "plan.json"))
  private val nowMs = plan.get("now_ms").asLong()
  private val storeDir = new java.io.File(cfg.str("work"), "store")
  private val store = MetricsWorkloads.qualified(storeDir)
  private val trace = cfg.bool("trace")
  private val reqs: Seq[Req] = plan.get("requests").elements().asScala.map { r =>
    Req(r.get("kind").asText(), r.get("route").asText(), r.get("method").asText(),
      r.get("path").asText(), Option(r.get("body")).map(_.asText()).orNull,
      r.get("expect"))
  }.toSeq

  /** The corpus store: one bulk batch through [[IngestStream.processBatch]]
    * (raw write, 5m roll, catalog), then the coarser rollup ladder. */
  private def buildStore(dir: String): Double = {
    val t0 = System.nanoTime()
    val pts = spark.read.parquet(new java.io.File(cfg.str("inputs"), "points.parquet").getPath)
    IngestStream.processBatch(IngestStream.withValidity(pts, 0L, Long.MaxValue), dir, batchId = 0L)
    log(f"store: raw + 5m + catalog in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    IngestStream.rollupCascadeFor(spark, dir)
    (System.nanoTime() - t0) / 1e9
  }

  private def boot(): MetricsHttpServer = {
    val srv = new MetricsHttpServer(spark, store, 0,
      maxAgeMs = 3L * 86400000L, maxFutureMs = 10L * 60 * 1000,
      nowMs = () => nowMs)
    srv.start()
    srv
  }

  /** A reply's shape against what the plan says this request must return;
    * None when it matches. */
  private def shapeError(req: Req, status: Int, body: String): Option[String] = {
    if (status != 200) return Some(s"${req.kind}: HTTP $status: ${body.take(200)}")
    val j = mapper.readTree(body)
    val e = req.expect
    req.route match {
      case "render" =>
        val series = j.elements().asScala.toSeq
        val points = series.map(_.get("datapoints").size())
        if (series.size != e.get("series").asInt())
          Some(s"${req.kind}: ${series.size} series, expected ${e.get("series").asInt()}")
        else if (points.exists(_ == 0)) Some(s"${req.kind}: a series came back empty")
        else if (e.has("max_points") && points.exists(_ > e.get("max_points").asInt()))
          Some(s"${req.kind}: ${points.max} points > maxDataPoints")
        else if (e.has("name") && series.exists(_.get("target").asText() != e.get("name").asText()))
          Some(s"${req.kind}: series not aliased to ${e.get("name").asText()}")
        else None
      case "views" | "views_batch" =>
        val ms = j.get("metrics").elements().asScala.toSeq
        if (ms.size != e.get("metrics").asInt())
          Some(s"${req.kind}: ${ms.size} metrics, expected ${e.get("metrics").asInt()}")
        else if (ms.exists(_.get("values").size() == 0)) Some(s"${req.kind}: a metric came back empty")
        else None
      case "find" =>
        if (j.size() != e.get("nodes").asInt())
          Some(s"${req.kind}: ${j.size()} nodes, expected ${e.get("nodes").asInt()}")
        else None
    }
  }

  /** The first reply to each request, shape-checked when it arrives; every
    * later reply to the same request must equal it byte for byte (the
    * store does not change while reads run). run.py checks the contents. */
  private val ref = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val reported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `clients` closed-loop clients, each running `rotations` whole
    * rotations, starting at staggered offsets. */
  private def runRotations(port: Int, clients: Int, rotations: Int,
      traced: Boolean): Seq[Op] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val http = new Http(port)
        val off = c * reqs.size / clients
        var cycle = 0
        while (cycle < rotations) {
          reqs.indices.foreach { i =>
            val r = reqs((i + off) % reqs.size)
            val opId = Trace.nextId()
            val t0 = System.nanoTime()
            val ok =
              if (traced) Trace.span(opId, s"http.${r.route}")(_ => call(http, r))
              else call(http, r)
            out.add(Op(c, cycle, r.kind, (System.nanoTime() - t0) / 1e6, ok))
          }
          log(s"client $c rotation $cycle done")
          cycle += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  private def call(http: Http, r: Req): Boolean =
    try {
      val (st, body) = http.send(r.method, r.path, r.body)
      val first = ref.get(r.kind)
      val ok =
        if (first != null) st == 200 && body == first
        else shapeError(r, st, body) match {
          case Some(err) => res.fail(err); false
          case None => Option(ref.putIfAbsent(r.kind, body)).forall(_ == body)
        }
      if (!ok && reported.add(r.kind)) res.fail(s"${r.kind}: reply differs from the first reply")
      ok
    } catch { case scala.util.control.NonFatal(e) =>
      res.fail(s"${r.kind} failed: $e"); false
    }

  private def rotationTimes(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(o => (o.client, o.cycle)).toSeq.sortBy(_._1.swap).map(_._2.map(_.ms).sum)

  def dashboardRead(): Unit = {
    res.layers("streaming.bulk_build_s") = buildStore(store)
    log("store built")
    val srv = boot()
    try {
      val port = srv.boundPort
      (1 to cfg.int("warm_rounds")).foreach { i =>
        val warm = runRotations(port, cfg.int("warm_clients"), 1, traced = false)
        log(s"warm-up round $i (ms): " + rotationTimes(warm).map(x => f"$x%.0f").mkString(" "))
      }
      res.fields("timed_start_ms") = System.currentTimeMillis()
      val rotations = cfg.int("timed_rotations")
      val (ops, a, b) = Main.quietWindow(res, cfg)(runRotations(port, 1, rotations, traced = false))
      res.report("", ops, a, b, rotationTimes(ops))
      res.fields("reference") = ref.asScala
      log("timed rotations (ms): " + rotationTimes(ops).map(x => f"$x%.0f").mkString(" "))
      if (trace) tracedWindow(port, rotations)
    } finally srv.stop()
  }

  /** A traced run's extra work: the timed phase again, traced, with Spark
    * job attribution (the untraced timed phase is the overhead baseline),
    * then the layer probes, and one pass of the batch queries for the
    * `operators` layer. */
  private def tracedWindow(port: Int, rotations: Int): Unit = {
    val (ops, a, b, spans, jobs) = Main.traced(meter)(runRotations(port, 1, rotations, traced = true))
    res.report("traced1_", ops, a, b, rotationTimes(ops))
    httpLayers(spans, jobs)
    res.sparkLayers(spans.filter(_.name.startsWith("http.")), jobs)
    res.windowLayers(a, b)
    layerProbes(port)
    new BatchDedup(spark, cfg.withInputs("batch_inputs"), meter, res).operatorLayers()
  }

  /** The serving layers for a traced `batch_dedup` run: the store build,
    * one traced rotation for the route latencies, and the layer probes. */
  def serveLayers(): Unit = {
    res.layers("streaming.bulk_build_s") = buildStore(store)
    val srv = boot()
    try {
      val (_, _, _, spans, jobs) =
        Main.traced(meter)(runRotations(srv.boundPort, 1, 1, traced = true))
      httpLayers(spans, jobs)
      layerProbes(srv.boundPort)
    } finally srv.stop()
  }

  /** The read probes, a few traced POST+read-back ops (then the raw-row
    * check), and the write probes on a store copy. */
  private def layerProbes(port: Int): Unit = {
    readProbes()
    val n = cfg.int("ingest_probe")
    val acked = ingestLayers(new Http(port), ingestOps.take(n), opLayers = false)
    checkRawRows(plan.get("corpus_points").asLong() + acked)
    writeProbes(ingestOps.slice(n, n + 5))
  }

  private def httpLayers(spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    Seq("render", "views", "views_batch", "find").foreach { r =>
      val xs = spans.filter(_.name == s"http.$r").map(_.ms)
      res.layers(s"http.$r.p50_ms") = if (xs.isEmpty) 0.0 else median(xs)
    }
    val http = spans.filter(_.name.startsWith("http."))
    res.layers("http.driver_ms_per_req") =
      http.map(s => s.ms - Trace.coveredMs(s, Trace.jobsIn(s, jobs))).sum / http.size.max(1)
  }

  private def timedMs[T](op: Long, name: String, parent: Long)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = Trace.span(op, name, parent)(_ => f)
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** The read path's layers called directly with the facade's arguments
    * for the rotation's `views_5m` request: frame build, its collect, JSON
    * render, catalog glob search, and a warm and a cold snapshot resolve.
    * Each is the median of five calls. */
  private def readProbes(): Unit = {
    val o = reqs.find(_.kind == "views_5m").get.expect.get("oracle")
    val p = MetricsQueryApi.Params(o.get("tenant").asText(), o.get("name").asText(),
      (o.get("from").asLong() / 1000).toString, (o.get("to").asLong() / 1000).toString,
      None, Some(Granularity.MIN_5), Seq("average", "numPoints", "min", "max"))
    val glob = o.get("name").asText().split('.').take(2).mkString(".") + ".*"
    val tier = s"$store/metrics_5m"
    val days = (o.get("from").asLong() / 86400000L to o.get("to").asLong() / 86400000L)
      .map(_ * 86400000L)
    val planMs, execMs, jsonMs, catalogMs, warmMs, coldMs = scala.collection.mutable.ArrayBuffer[Double]()
    (0 until 5).foreach { _ =>
      val op = Trace.nextId()
      Trace.span(op, "probe.read") { root =>
        val (frame, pm) = timedMs(op, "query.plan", root)(
          MetricsQueryApi.getRollupsStored(spark, store, p, nowMs))
        val (rows, em) = timedMs(op, "query.exec", root)(frame.collect())
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), frame.schema)
        val (_, jm) = timedMs(op, "query.json", root)(MetricsQueryApi.toJsonResponse(local))
        val (_, cm) = timedMs(op, "query.catalog", root)(Discovery.globSearch(
          MetricsQueryApi.storeCatalog(spark, store), p.tenantId, glob).collect())
        SnapshotStore.read(spark, tier, Some(days), useCache = true)
        val (_, wm) = timedMs(op, "core.snapshot_read", root)(
          SnapshotStore.read(spark, tier, Some(days), useCache = true).get.schema)
        SnapshotStore.invalidate(tier)
        val (_, km) = timedMs(op, "core.snapshot_read_cold", root)(
          SnapshotStore.read(spark, tier, Some(days), useCache = true).get.schema)
        planMs += pm; execMs += em; jsonMs += jm; catalogMs += cm; warmMs += wm; coldMs += km
      }
    }
    res.layers("query.plan_ms") = median(planMs.toSeq)
    res.layers("query.exec_ms") = median(execMs.toSeq)
    res.layers("query.json_ms") = median(jsonMs.toSeq)
    res.layers("query.catalog_ms") = median(catalogMs.toSeq)
    res.layers("core.snapshot_read_ms") = median(warmMs.toSeq)
    res.layers("core.snapshot_read_cold_ms") = median(coldMs.toSeq)
  }

  // ---- ingest_fresh ------------------------------------------------------

  private final case class IngestOp(tenant: String, body: String, points: Int,
      read: String, slot: Long, numPoints: Int)

  private lazy val ingestOps: Seq[IngestOp] = plan.get("ingest").elements().asScala.map { o =>
    IngestOp(o.get("tenant").asText(), o.get("body").asText(), o.get("points").asInt(),
      o.get("read").asText(), o.get("slot").asLong(), o.get("num_points").asInt())
  }.toSeq

  /** The read-back shows the probe point once the probe's 5m bucket
    * reports the plan's expected point count. */
  private def readBackShows(body: String, op: IngestOp): Boolean =
    mapper.readTree(body).get("metrics").elements().asScala.exists(m =>
      m.get("values").elements().asScala.exists(v =>
        v.get("timestamp").asLong() == op.slot &&
          v.get("num_points").asLong() == op.numPoints))

  /** POST, then read back until the reply shows the posted point (a sync
    * facade shows it on the first read; at most 20 reads are tried).
    * Returns (acknowledged, shown). */
  private def ingestOp(http: Http, op: IngestOp, traced: Boolean, opId: Long): (Boolean, Boolean) = {
    def span[T](name: String)(f: => T): T =
      if (traced) Trace.span(opId, name, opId)(_ => f) else f
    val (st, ack) = span("http.ingest")(http.send("POST", s"/v2.0/${op.tenant}/ingest/multi", op.body))
    if (st != 200 || ack != "{}") {
      res.fail(s"ingest POST answered $st: ${ack.take(200)}")
      return (false, false)
    }
    var tries = 0
    var shown = false
    while (!shown && tries < 20) {
      val (rs, body) = span("http.views")(http.send("GET", op.read))
      shown = rs == 200 && readBackShows(body, op)
      tries += 1
    }
    if (!shown) res.fail(s"read-back never showed the point posted at ${op.slot}")
    (true, shown)
  }

  private def runIngest(http: Http, ops: Seq[IngestOp], traced: Boolean): (Seq[Op], Int) = {
    var acked = 0
    val out = ops.zipWithIndex.map { case (op, i) =>
      val opId = Trace.nextId()
      val s0 = Snap.now()
      val (ack, shown) =
        if (traced) Trace.span(opId, "op.ingest_fresh")(_ => ingestOp(http, op, traced, opId))
        else ingestOp(http, op, traced, opId)
      val s1 = Snap.now()
      if (ack) acked += op.points
      val ms = (s1.wallNs - s0.wallNs) / 1e6
      log(f"ingest op $i: $ms%.0f ms, jit ${s1.jitMs - s0.jitMs} ms, gc ${s1.gcMs - s0.gcMs} ms")
      Op(0, i, "ingest_fresh", ms, ack && shown)
    }
    (out, acked)
  }

  def ingestFresh(): Unit = {
    val warmN = cfg.int("ingest_warm")
    val timedN = cfg.int("ingest_timed")
    res.layers("streaming.bulk_build_s") = buildStore(store)
    log("store built")
    val srv = boot()
    try {
      val http = new Http(srv.boundPort)
      runRotations(srv.boundPort, 1, 1, traced = false)
      res.fields("reference") = ref.asScala
      var acked = plan.get("corpus_points").asInt()
      acked += runIngest(http, ingestOps.take(warmN), traced = false)._2
      res.fields("timed_start_ms") = System.currentTimeMillis()
      val a = Snap.now()
      val (ops, n) = runIngest(http, ingestOps.slice(warmN, warmN + timedN), traced = false)
      val b = Snap.now()
      acked += n
      res.report("", ops, a, b, ops.map(_.ms))
      log("timed ops (ms): " + ops.map(o => f"${o.ms}%.0f").mkString(" "))
      if (trace) {
        acked += ingestLayers(http, ingestOps.slice(warmN + timedN, warmN + 2 * timedN),
          opLayers = true)
        readProbes()
        writeProbes(ingestOps.drop(warmN + 2 * timedN).take(5))
        new BatchDedup(spark, cfg.withInputs("batch_inputs"), meter, res).operatorLayers()
      }
      checkRawRows(acked)
    } finally srv.stop()
  }

  /** Raw rows: the corpus plus every acknowledged point, nothing else. */
  private def checkRawRows(expected: Long): Unit = {
    val raw = spark.read.parquet(s"$store/metrics_full").count()
    res.fields("raw_rows") = raw
    res.fields("raw_rows_expected") = expected
    if (raw != expected) res.fail(s"raw rows $raw != corpus + acknowledged $expected")
  }

  /** Traced POST+read-back ops with Spark job attribution: the ingest
    * route's latency and jobs per POST, and with `opLayers` also the
    * per-op `spark.*`, HTTP and window readings. Returns the points
    * acknowledged. */
  private def ingestLayers(http: Http, ops: Seq[IngestOp], opLayers: Boolean): Int = {
    val ((tops, acked), a, b, spans, jobs) = Main.traced(meter)(runIngest(http, ops, traced = true))
    val posts = spans.filter(_.name == "http.ingest")
    res.layers("http.ingest.p50_ms") = median(posts.map(_.ms))
    res.layers("streaming.jobs_per_post") =
      posts.map(s => Trace.jobsIn(s, jobs).size).sum.toDouble / posts.size.max(1)
    if (opLayers) {
      res.report("traced1_", tops, a, b, tops.map(_.ms))
      httpLayers(spans, jobs)
      res.sparkLayers(spans.filter(_.name == "op.ingest_fresh"), jobs)
      res.windowLayers(a, b)
    }
    acked
  }

  /** The ingest layers called directly on a copy of the store (the facade
    * keeps serving the original): typed parse, the fused raw write with the
    * re-roll deferred, then the dirty-day re-roll — on the facade's pinned
    * ingest session, as the facade runs them. Medians over the given ops. */
  private def writeProbes(ops: Seq[IngestOp]): Unit = {
    val copyDir = new java.io.File(cfg.str("work"), "store_copy")
    val copy = MetricsWorkloads.qualified(copyDir)
    MetricsWorkloads.copyTree(storeDir.toPath, copyDir.toPath)
    val ingest = IngestStream.newIngestSession(spark)
    import ingest.implicits._
    val parse, write, reroll = scala.collection.mutable.ArrayBuffer[Double]()
    ops.zipWithIndex.foreach { case (op, i) =>
      val lines = mapper.readTree(op.body).elements().asScala.map { r =>
        Json(Map("tenant_id" -> r.get("tenantId").asText(), "metric_name" -> r.get("metricName").asText(),
          "ts_ms" -> r.get("collectionTime").asLong(), "value" -> r.get("metricValue").asDouble(),
          "ttl_seconds" -> r.get("ttlInSeconds").asInt(), "unit" -> r.get("unit").asText()))
      }.toSeq
      val opId = Trace.nextId()
      Trace.span(opId, "probe.write") { root =>
        val (parsed, pm) = timedMs(opId, "streaming.parse", root) {
          val df = IngestStream.parseJsonTyped(lines.toDF("value"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count()
          df
        }
        val (r, wm) = timedMs(opId, "streaming.write", root)(
          IngestStream.processTypedBatchFused(parsed, copy, 900000L + i,
            nowMs - 3L * 86400000L, nowMs + 600000L, rollup = false, virginHint = Some(false)))
        val (_, rm) = timedMs(opId, "streaming.reroll", root)(
          IngestStream.rollDirtyDaysNow(ingest, copy, r.dirtyDays))
        parsed.unpersist()
        if (r.errors.nonEmpty || r.nTotal != op.points)
          res.fail(s"write probe: ${r.errors.length} errors over ${r.nTotal} rows")
        parse += pm; write += wm; reroll += rm
      }
    }
    res.layers("streaming.parse_ms") = median(parse.toSeq)
    res.layers("streaming.write_ms") = median(write.toSeq)
    res.layers("streaming.reroll_ms") = median(reroll.toSeq)
  }
}

object MetricsWorkloads {

  /** The fully qualified `file:` URI of a local directory, the form a
    * store is named by here: graft's parquet-presence probes strip the
    * store path's string from each globbed file's qualified path, so an
    * unqualified store path under a '.'- or '_'-prefixed ancestor (as a
    * checkout may sit under) reads as empty (README, "Known defect"). */
  def qualified(dir: java.io.File): String =
    new org.apache.hadoop.fs.Path(dir.getAbsoluteFile.toURI).toString

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      // the copy is an unfenced store: the facade's lease stays with the original
      else if (p.getFileName.toString != "_writer_lock") java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }
}

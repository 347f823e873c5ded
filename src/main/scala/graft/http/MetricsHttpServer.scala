package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{CatalogSnapshot, Granularity}
import graft.operators.Discovery
import graft.query.MetricsQueryApi
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

/** REST facade over the engine — the reference's `blueflood-http` surface
  * (ingest route table `HttpMetricsIngestionServer.java:108-127`, query
  * route table `HttpMetricDataQueryServer.java:70-86`) re-expressed as a
  * thin JDK `HttpServer` in front of the LIBRARY API. Deliberately a
  * facade: every data operation is the same call the gate queries prove —
  * [[IngestStream.parseJsonTyped]]/[[IngestStream.processTypedBatchFused]] for
  * writes, [[MetricsQueryApi]] stored reads (kind-routed exactly like the
  * reference's rollup_type dispatch, `MetricsRWDelegator.java:79-113`),
  * [[Discovery]] for search — so HTTP adds routing, per-record error
  * responses, and status-code semantics, never a second data path.
  *
  * Routes (reference parity):
  *  - `POST /v2.0/:tenant/ingest` — array of `{metricName, metricValue,
  *    collectionTime, ttlInSeconds, unit}` (`JSONMetric.java:24-41`)
  *  - `POST /v2.0/:tenant/ingest/multi` — same, each record carries
  *    `tenantId` (`JSONMetricScoped`)
  *  - `POST /v2.0/:tenant/ingest/aggregated` — statsd payload
  *    (`AggregatedPayload.java:37-176`)
  *  - `POST /v2.0/:tenant/events` — `{what, when, data, tags}`
  *    (`HttpEventsIngestionHandler`; mapped onto the engine's event store
  *    columns: what→event_type, when→ts_ms, data/tags→props)
  *  - `GET /v2.0/:tenant/views/:metricName?from&to&points|resolution&select`
  *    (`HttpRollupsQueryHandler.java:115-161`), kind-routed basic / preagg
  *    family / string store
  *  - `POST /v2.0/:tenant/views?...` — body = JSON array of metric names
  *    (`HttpMultiRollupsQueryHandler`, batch cap O2)
  *  - `GET /v2.0/:tenant/metrics/search?query=` (`HttpMetricsIndexHandler`)
  *  - `GET /v2.0/:tenant/metric_name/search?query=`
  *    (`HttpMetricNamesHandler`)
  *  - `GET /v2.0/:tenant/events/getEvents?from&until&tags`
  *    (`HttpEventsQueryHandler.java:29-75`)
  *  - `GET /v2.0` — root ping (`DefaultHandler`, plain 200)
  *  - `OPTIONS` on the query routes — CORS preflight
  *    (`HttpOptionsHandler.java:28-41`: 204 + the configured CORS headers
  *    when `corsEnabled`; reference default is disabled)
  *  - `GET /v1.0`, `GET /v1.0/:t/experimental/views/metric_data/:name`,
  *    `POST /v1.0/:t/experimental/views/metric_data` — the reference's
  *    legacy/experimental routes (`HttpMetricDataQueryServer.java:70-73`),
  *    aliased onto the v2.0 handlers
  *  - `GET /v2.0/:tenant/series/:metricName/{holtwinters|ewma|trend|lttb|m4|mad|resample|agg|alerts}`
  *    — the series/anomaly panel (EXTENSION surface: the Graphite render
  *    functions a reference deployment fronts Blueflood with; see
  *    [[seriesView]])
  *  - `GET|POST /render?target=<expr>&from&until&tenant=` — the Graphite
  *    render-API wire shape over the same panel functions (POST takes
  *    the URL-encoded form body Grafana sends by default; see
  *    [[renderView]]): raw globs, `lttb`/`m4` decimation, the
  *    `sumSeries`/`averageSeries`/`maxSeries`/`minSeries`/
  *    `percentileOfSeries` aggregations, per-series `summarize`
  *  - `GET /functions[/:name]` — graphite-web's render-function metadata
  *    catalog (Grafana's query-editor picker; see [[RenderFunctions]])
  *  - `GET /metrics/find?query=&tenant=` — the Graphite metric-tree
  *    browse (Grafana's picker; treejson shape — see [[metricsFind]])
  *  - `GET /v2.0/:tenant/alerts/episodes?from&until[&metric]` — closed
  *    incident episodes from the [[graft.streaming.AlertStream]] daemon's
  *    sink table (see [[alertEpisodes]])
  *
  * Ingest status semantics (`HttpMetricsIngestionHandler.java:134-238`):
  * all records valid → 200; SOME invalid → the valid ones persist and the
  * response is 207 Multi-Status with a per-record `{"errors": [{tenantId,
  * metricName, source, message, timestamp}…]}` array (`ErrorResponse
  * .java`); ALL invalid → 400 with the same array; unparseable body → 400.
  * Invalid rows additionally land in the store's errors sink, so the
  * response and the audit trail cannot disagree.
  *
  * Timestamps in `from`/`to`/`until` accept the engine's full Graphite
  * datetime grammar ([[graft.core.DateTimeParser]]) — plain numbers are
  * epoch SECONDS, the Graphite convention.
  *
  * Connection hardening (reference parity: Netty `IdleStateHandler` +
  * `HttpObjectAggregator` maxContentLength,
  * HttpMetricDataQueryServer.java:110-112): request bodies are read
  * bounded (`maxBodyBytes`, 413 over the cap — pre-checked against the
  * declared Content-Length, re-checked as bytes arrive) and
  * deadline-guarded (`bodyReadTimeoutMs` — a stalled client's connection
  * is closed by a reaper and its worker thread freed); the header phase
  * is covered by the JDK server's own `maxReqTime` timer (companion init).
  *
  * Scale note: this is the single-node serving veneer (the reference's
  * Netty handlers are the same shape); the DATA plane underneath is the
  * distributed engine, and bulk ingest at 100 TB enters through the
  * Structured Streaming sources, not per-request POSTs. */
final class MetricsHttpServer(spark: SparkSession, storeDir: String,
    port: Int = 0, maxAgeMs: Long = 3L * 3600 * 1000,
    maxFutureMs: Long = 10L * 60 * 1000,
    nowMs: () => Long = () => System.currentTimeMillis(),
    corsEnabled: Boolean = false,
    corsAllowedOrigins: String = "*",
    maxBodyBytes: Long = MetricsHttpServer.MaxRequestBodyBytes,
    bodyReadTimeoutMs: Long = 30000L,
    deferRollups: Boolean = false,
    rollupDelayMs: Long = 30000L) {

  import MetricsHttpServer._

  // forces the companion init (sun.net.httpserver.maxReqTime) BEFORE the
  // JVM's first HttpServer.create loads the one-shot ServerConfig
  require(MetricsHttpServer.headerPhaseTimeoutInstalled)

  /** The store's writer lease, acquired FIRST (before the port binds):
    * a second facade on the same store refuses loudly at boot, and every
    * SnapshotStore commit this process makes is fenced by the lease token
    * ([[graft.core.WriterLease]] — the reference's shard-ownership story,
    * ZKShardLockManager.java, reduced to the single-writer store
    * contract). Heartbeat runs on the reaper executor at TTL/3. */
  private val writerLease = graft.core.WriterLease.acquire(spark, storeDir)

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newFixedThreadPool(8)

  /** Body reads in flight: exchange → wall-clock deadline. The reaper
    * closes any exchange whose BODY READ outlives `bodyReadTimeoutMs`
    * (connection hardening the reference gets from Netty's
    * IdleStateHandler, HttpMetricDataQueryServer.java:111): a client that
    * sends headers then stalls mid-body would otherwise hold one of the 8
    * worker threads forever. Only the read phase is guarded — deadline
    * registration brackets [[readBody]] alone, so a long Spark query can
    * never be reaped as a "slow client". */
  private val inflightReads =
    new java.util.concurrent.ConcurrentHashMap[HttpExchange, java.lang.Long]()
  private val reaper = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-http-read-reaper"); t.setDaemon(true); t
  }
  reaper.scheduleWithFixedDelay(() => {
    val now = System.currentTimeMillis()
    val it = inflightReads.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (now > e.getValue) {
        it.remove()
        graft.core.Instrumentation.global.inc("http.reaped_slow_reads")
        // closing the exchange closes the connection; the worker's
        // blocked read unblocks with an IOException and the thread frees
        try e.getKey.close() catch { case _: Exception => }
      }
    }
  }, 250L, 250L, java.util.concurrent.TimeUnit.MILLISECONDS)

  // writer-lease heartbeat at TTL/3: a missed renewal (hung JVM, clock
  // stall) lets another writer take over; this writer's next renewal —
  // and every SnapshotStore commit — then fails LOUDLY (fenced), never
  // silently racing generations
  reaper.scheduleWithFixedDelay(() => {
    try graft.core.WriterLease.renew(spark, writerLease)
    catch {
      case scala.util.control.NonFatal(e) =>
        graft.core.Instrumentation.global.inc("http.writer_lease_fenced")
        System.err.println(s"[graft-http] writer-lease renewal failed " +
          s"(this writer is fenced): ${e.getMessage}")
    }
  }, writerLease.ttlMs / 3, writerLease.ttlMs / 3,
    java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Batch id derived from the REQUEST (tenant + route + body hash), not a
    * counter: the store's replace-not-duplicate idempotence
    * ([[IngestStream.processBatch]] scaladoc) holds only when a replay
    * reuses its batch id, and an HTTP client that lost the response WILL
    * retry the same body — under a time-seeded counter the retry landed in
    * a fresh `batch_id=` dir and double-counted every point. Identical
    * re-POSTs now overwrite their own dir and the dirty-day re-roll
    * converges; distinct bodies colliding is a 2^-58 event, and bit 58
    * keeps facade ids disjoint from small streaming checkpoint ids while
    * staying below [[graft.operators.Retention.CompactIdBase]] (2^60). */
  private def requestBatchId(tenant: String, route: String, body: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$tenant|$route|$body".getBytes(StandardCharsets.UTF_8))
    val h = java.nio.ByteBuffer.wrap(d).getLong
    (h & ((1L << 58) - 1)) | (1L << 58)
  }

  /** Ingest writes serialize: two concurrent batches dirtying the same day
    * would dynamic-overwrite the same 5m/preagg partitions and clobber
    * each other's files mid-job. The reference serializes per-shard writes
    * through its processor chain the same way; reads stay concurrent. */
  private val writeLock = new Object

  /** Dedicated request-sized ingest session (same SparkContext, own
    * SQLConf, AQE off + 1 shuffle partition pinned for life —
    * [[IngestStream.newIngestSession]]): every ingest body parses and
    * every ingest write plans HERE, so concurrent reads — which use the
    * shared `spark` — always plan with the session defaults. The writers
    * themselves set no conf. */
  private val ingestSpark = IngestStream.newIngestSession(spark)

  /** Test seam: invoked INSIDE [[writeLock]] while an ingest POST is in
    * flight, before its write — IsolatedIngestSessionSpec plans a
    * concurrent-read-shaped query on the shared session here and asserts
    * it sees the session defaults (AQE on, default shuffle partitions). */
  private[graft] var midIngestProbe: () => Unit = () => ()

  /** Test seam: fired inside the writers' `onDirtyDays` callback
    * AFTER the durable marker and the in-memory pend, i.e. strictly
    * BEFORE the batch's commit rename — DeferredRollupSpec asserts the
    * pend-before-visibility ordering through it. */
  private[graft] var onDirtyDaysHook: Seq[Long] => Unit = _ => ()

  /** Deferred-rollup pending maps (`deferRollups = true` — the
    * reference's ROLLUP_DELAY shape, CoreConfig.java:222: its perf number
    * measures the raw Cassandra write with rollups deferred to
    * RollupService): ingest POSTs write raw + catalog + errors only and
    * record their dirty days here, day → a monotone ingest sequence
    * stamp; [[rollNow]] (driven by the background roller every
    * `rollupDelayMs`, or directly by tests/ops) drains them. Serving
    * stays EXACT for every ACKNOWLEDGED ingest meanwhile: the pend lands
    * (with its durable marker) BEFORE the batch's commit rename makes
    * data visible, so every stored read's pending snapshot (`dirtyDays`)
    * covers all acknowledged points, forcing their days through the
    * raw-recompute repair path instead of the stale tier.
    *
    * The seq stamp is what lets the drain run OUTSIDE [[writeLock]]
    * (POSTs never write tiers in deferred mode, so the roller is the sole
    * tier writer and nothing justifies stalling ingest for a multi-second
    * multi-day re-roll): a POST that re-dirties a day mid-roll bumps its
    * stamp, the roller's clear is a compare-and-remove on the stamp it
    * snapshotted, and the re-dirtied day simply stays pending for the
    * next drain — a racing read either sees the day pending (raw
    * recompute) or the freshly published tier, never the stale one.
    *
    * DURABILITY: the in-memory maps mirror persisted
    * [[graft.core.DirtyDayLog]] markers (the reference's
    * metrics_delayed_locator shape) — the marker is written BEFORE the
    * POST's raw write and removed only after the day's re-rolled tier
    * generation is published, so a hard crash between a deferred POST's
    * 200 and the next drain cannot lose the dirty fact; construction
    * reconciles survivors (deferred mode re-pends them, synchronous mode
    * drains them immediately). */
  private val pendingBasicDays =
    new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val pendingPreaggDays =
    new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val dirtySeq = new AtomicLong(0L)

  private def pendingBasic: Set[Long] =
    if (deferRollups) {
      import scala.jdk.CollectionConverters._
      pendingBasicDays.keySet().asScala.toSet
    } else Set.empty
  private def pendingPreagg: Set[Long] =
    if (deferRollups) {
      import scala.jdk.CollectionConverters._
      pendingPreaggDays.keySet().asScala.toSet
    } else Set.empty

  // startup reconciliation of persisted dirty-day markers (a prior
  // facade's hard crash between a deferred POST's 200 and its drain):
  // deferred mode re-pends them (the roller drains, serving repairs from
  // raw meanwhile); synchronous mode rolls them right here, before the
  // listener opens — either way no stale tier is ever served
  locally {
    val persisted = graft.core.DirtyDayLog.list(spark, storeDir)
    val basic = persisted.getOrElse("basic", Set.empty)
    val preagg = persisted.getOrElse("preagg", Set.empty)
    if (deferRollups) {
      basic.foreach(d => pendingBasicDays.put(d, dirtySeq.incrementAndGet()))
      preagg.foreach(d => pendingPreaggDays.put(d, dirtySeq.incrementAndGet()))
      if (basic.nonEmpty || preagg.nonEmpty)
        graft.core.Instrumentation.global
          .inc("ingest.deferred_rollup.reconciled_days",
            (basic.size + preagg.size).toLong)
    } else {
      // a marker is durably written BEFORE its batch's commit rename, so
      // a crash before the store's first-ever visible batch leaves a
      // marker whose raw table holds only a hidden .staging dir — the
      // drain's read would throw and fail CONSTRUCTION. A failed drain
      // leaves its markers pending (retried at the next boot / covered
      // by any later ingest of the same day) instead of refusing to boot.
      def drainOrKeep(kind: String, days: Set[Long])
          (roll: Seq[Long] => Unit): Unit =
        if (days.nonEmpty) try {
          graft.core.WriterLease.withLease(writerLease) { roll(days.toSeq) }
          graft.core.DirtyDayLog.unmark(spark, storeDir, kind, days)
        } catch {
          case scala.util.control.NonFatal(e) =>
            graft.core.Instrumentation.global
              .inc("ingest.deferred_rollup.reconcile_kept_pending",
                days.size.toLong)
            System.err.println(s"[graft-http] boot reconciliation: $kind " +
              s"marker drain failed (kept pending): ${e.getMessage}")
        }
      drainOrKeep("basic", basic)(
        IngestStream.rollDirtyDaysNow(ingestSpark, storeDir, _))
      drainOrKeep("preagg", preagg)(
        IngestStream.rollPreaggDirtyDaysNow(ingestSpark, storeDir, _))
    }
  }

  /** Serializes drains (the background roller, [[stop]]'s final drain,
    * and direct test/ops calls): SnapshotStore is single-writer per
    * table, and two concurrent re-rolls of the same day would race its
    * generation numbering. Deliberately NOT [[writeLock]] — see the
    * pending-map scaladoc. */
  private val rollLock = new Object

  /** Drain the pending dirty days: re-roll the 5m basic tier and the
    * preagg tier-1+cascade for every pending day, then clear exactly the
    * entries whose stamp the drain snapshotted (a day re-dirtied mid-roll
    * keeps its newer stamp AND its durable marker, and re-rolls next
    * drain). The re-roll itself runs OUTSIDE [[writeLock]], so ingest
    * POSTs are never blocked behind a multi-day drain; only the
    * clear+unmark step takes the lock (driver-side map/FS metadata ops).
    * The pending flag flips only AFTER the snapshot publish, so a racing
    * read either sees the day pending (raw recompute) or the freshly
    * published tier — never the stale one. A failed re-roll clears
    * nothing: the days stay pending and the next tick retries. No-op
    * outside deferred mode. */
  def rollNow(): Unit = if (deferRollups) rollLock.synchronized {
   graft.core.WriterLease.withLease(writerLease) {
    import scala.jdk.CollectionConverters._
    // SNAPSHOT under writeLock (a driver-side map copy — microseconds):
    // a POST pends its days INSIDE the lock before its commit rename, so
    // a snapshot taken under the same lock can never observe a pend whose
    // data is still hidden — without this, the drain could roll from the
    // pre-rename store, then clear a seq-matching pend whose points it
    // never saw, leaving visible data with a stale tier and no dirty flag
    val basic = writeLock.synchronized { pendingBasicDays.asScala.toSeq }
    if (basic.nonEmpty) {
      // the drain re-rolls on the PINNED ingest session too — a facade
      // drain is a day-pruned, request-scale recompute by this class's
      // deployment contract (bulk re-rolls belong to the streaming
      // path), and AQE's per-query-stage scheduling rounds plus 32-way
      // exchanges measurably stall concurrent POST probes (r13: drain
      // 4.1 s / POST p99 0.94 s on session defaults vs 1.4 s / 0.33 s
      // pinned). Reads keep the default session — only writes are
      // request-sized.
      IngestStream.rollDirtyDaysNow(ingestSpark, storeDir, basic.map(_._1))
      writeLock.synchronized {
        val cleared = basic.filter { case (d, s) =>
          pendingBasicDays.remove(d, s) }
        graft.core.DirtyDayLog.unmark(spark, storeDir, "basic",
          cleared.map(_._1))
      }
      graft.core.Instrumentation.global
        .inc("ingest.deferred_rollup.basic_days", basic.size.toLong)
    }
    val preagg = writeLock.synchronized { pendingPreaggDays.asScala.toSeq }
    if (preagg.nonEmpty) {
      IngestStream.rollPreaggDirtyDaysNow(ingestSpark, storeDir,
        preagg.map(_._1))
      writeLock.synchronized {
        val cleared = preagg.filter { case (d, s) =>
          pendingPreaggDays.remove(d, s) }
        graft.core.DirtyDayLog.unmark(spark, storeDir, "preagg",
          cleared.map(_._1))
      }
      graft.core.Instrumentation.global
        .inc("ingest.deferred_rollup.preagg_days", preagg.size.toLong)
    }
   }
  }

  /** How many days are awaiting their background re-roll (tests/ops). */
  def pendingRollupDays: Int =
    pendingBasicDays.size() + pendingPreaggDays.size()

  // background roller: the deferred-mode cadence (reference
  // ROLLUP_DELAY); one failed pass logs and retries next tick
  private val roller =
    if (!deferRollups) None
    else Some {
      val ex = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-rollup-roller"); t.setDaemon(true); t
      }
      ex.scheduleWithFixedDelay(() =>
        try rollNow()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[http] deferred re-roll failed " +
              s"(will retry in ${rollupDelayMs} ms): $e")
        }, rollupDelayMs, rollupDelayMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      ex
    }

  /** Per-request uniquifier for the EVENTS route's batch ids (metrics
    * routes stay body-hashed: their overwrite is value-idempotent, events
    * are append-only annotations the reference stores once per POST).
    * The lifetime token keeps the scheme collision-free ACROSS server
    * restarts: a bare counter restarts at 0, so the same body posted at
    * the same nonce position in two lifetimes would hash to the same
    * batch id and the overwrite-mode write would collapse the two
    * annotations. */
  private val eventNonce = new AtomicLong(0L)
  private val lifetimeToken: String =
    s"${ProcessHandle.current.pid}:${System.nanoTime()}"

  /** Monotone fact cache for the ingest hot path: once this facade has
    * PERSISTED a batch with valid rows, the store provably holds locator
    * data, so later requests skip the writer's ~30-table virgin
    * glob probe (a driver-metadata cost paid per synchronous POST).
    * Never reset — "has data" cannot become false while serving (TTL
    * drops whole aged days, never the day just written). Set only under
    * [[writeLock]]. */
  @volatile private var storeKnownNonVirgin = false

  server.setExecutor(pool)
  server.createContext("/v2.0", (ex: HttpExchange) => handle(ex))
  // v1.0 legacy surface (reference HttpMetricDataQueryServer.java:70-73) —
  // same dispatcher; the route match aliases onto the v2.0 handlers
  server.createContext("/v1.0", (ex: HttpExchange) => handle(ex))
  // Graphite render-API wire shape (EXTENSION surface: what
  // Graphite-ecosystem dashboards actually speak when fronting a
  // Blueflood deployment) — same dispatcher, see [[renderView]]
  server.createContext("/render", (ex: HttpExchange) => handle(ex))
  // graphite-web's function-metadata catalog — Grafana's query editor
  // fetches it to populate the function picker (see [[RenderFunctions]])
  server.createContext("/functions", (ex: HttpExchange) => handle(ex))
  // Graphite metric-tree browse (Grafana's picker); the LONGER prefix
  // wins over the bare /metrics counters context below
  server.createContext("/metrics/find", (ex: HttpExchange) => handle(ex))
  // operational counters (reference: Instrumentation.java meters, exposed
  // through its JMX/graphite reporters) — out-of-band of the /v2.0 API
  server.createContext("/metrics", (ex: HttpExchange) =>
    try sendJson(ex, 200, graft.core.Instrumentation.global.snapshotJson())
    finally ex.close())

  def start(): Unit = server.start()

  /** Stop the listener AND the worker pool — the pool's threads are
    * non-daemon, so leaving them running keeps the JVM alive after the
    * caller is done with the server. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    reaper.shutdownNow()
    // drain what's pending so a clean shutdown leaves the tiers rolled
    // (the listener is already down, so no new days can arrive)
    roller.foreach { r =>
      r.shutdownNow()
      try rollNow()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[http] final deferred re-roll failed: $e") }
    }
    // release AFTER the final drain (whose commits ride this lease);
    // a fenced-out zombie's release is a no-op on the file
    graft.core.WriterLease.release(spark, writerLease)
  }

  def boundPort: Int = server.getAddress.getPort

  /** Whether THIS exchange already sent a response — tracked per worker
    * thread (handlers are synchronous, one exchange per thread at a time);
    * HttpExchange.setAttribute would NOT work here: the JDK shares the
    * attribute map across all exchanges of the context, so one response
    * would mark every later request as already-sent. */
  private val sentFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private def handle(ex: HttpExchange): Unit = {
    sentFlag.set(java.lang.Boolean.FALSE)
    try {
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val method = ex.getRequestMethod
      (segs.toList, method) match {
        // root ping (reference DefaultHandler: plain 200 on GET /v2.0)
        case (List("v2.0"), "GET") =>
          sendJson(ex, 200, "{}")
        // CORS preflight on the query routes (reference HttpOptionsHandler:
        // 204 + the configured CORS headers when enabled; bare 204 when not
        // — CORS_ENABLED defaults false, CoreConfig.java:257-261)
        case (("v2.0" | "v1.0") :: _ :: rest, "OPTIONS")
            if rest.headOption.contains("views") ||
              rest.headOption.contains("series") ||
              rest.headOption.contains("experimental") ||
              rest.headOption.contains("alerts") ||
              rest == List("metrics", "search") ||
              rest == List("metric_name", "search") ||
              rest == List("events", "getEvents") =>
          sendPreflight(ex)
        case (List("render"), "OPTIONS") =>
          sendPreflight(ex)
        case (List("render"), "GET") =>
          renderView(ex, Nil)
        case (List("render"), "POST") =>
          // Grafana's graphite datasource POSTs the render request as an
          // URL-encoded form body (queries outgrow URL limits fast);
          // body pairs merge after the query string's, so a form value
          // wins a scalar conflict and target= lists concatenate
          val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .getOrElse("")
          require(ct.toLowerCase.startsWith(
              "application/x-www-form-urlencoded"),
            "POST /render requires application/x-www-form-urlencoded, " +
              s"got '$ct'")
          renderView(ex, parsePairs(readBody(ex)))
        case (List("functions"), "OPTIONS") | (List("functions", _), "OPTIONS") =>
          sendPreflight(ex)
        case (List("functions"), "GET") =>
          sendJson(ex, 200, RenderFunctions.catalogJson)
        case (List("functions", name), "GET") =>
          RenderFunctions.one(name) match {
            case Some(body) => sendJson(ex, 200, body)
            case None => sendJson(ex, 404,
              errJson(s"unknown render function '$name'"))
          }
        case (List("metrics", "find"), "OPTIONS") =>
          sendPreflight(ex)
        case (List("metrics", "find"), "GET") =>
          metricsFind(ex)
        case ("v2.0" :: tenant :: "ingest" :: rest, "POST")
            if rest.isEmpty || rest == List("multi") =>
          ingest(ex, tenant, scoped = rest.nonEmpty)
        case ("v2.0" :: tenant :: "ingest" :: "aggregated" :: rest, "POST")
            if rest.isEmpty || rest == List("multi") =>
          ingestAggregated(ex, tenant, multi = rest.nonEmpty)
        case ("v2.0" :: tenant :: "events" :: Nil, "POST") =>
          ingestEvent(ex, tenant)
        case ("v2.0" :: tenant :: "views" :: name :: Nil, "GET") =>
          views(ex, tenant, Seq(name))
        case ("v2.0" :: tenant :: "views" :: Nil, "POST") =>
          batchViews(ex, tenant)
        case ("v2.0" :: tenant :: "series" :: name :: fn :: Nil, "GET")
            if SeriesFns(fn) =>
          seriesView(ex, tenant, name, fn)
        case ("v2.0" :: tenant :: "alerts" :: "episodes" :: Nil, "GET") =>
          alertEpisodes(ex, tenant)
        // v1.0 legacy/experimental routes (reference
        // HttpMetricDataQueryServer.java:70-73) — deployed Blueflood
        // clients still call these; they alias the v2.0 handlers
        case (List("v1.0"), "GET") =>
          sendJson(ex, 200, "{}")
        case ("v1.0" :: tenant :: "experimental" :: "views" ::
            "metric_data" :: name :: Nil, "GET") =>
          views(ex, tenant, Seq(name))
        case ("v1.0" :: tenant :: "experimental" :: "views" ::
            "metric_data" :: Nil, "POST") =>
          batchViews(ex, tenant)
        case ("v2.0" :: tenant :: "metrics" :: "search" :: Nil, "GET") =>
          metricsSearch(ex, tenant)
        case ("v2.0" :: tenant :: "metric_name" :: "search" :: Nil, "GET") =>
          metricNameSearch(ex, tenant)
        case ("v2.0" :: tenant :: "events" :: "getEvents" :: Nil, "GET") =>
          getEvents(ex, tenant)
        case (_, m) if m != "GET" && m != "POST" =>
          sendJson(ex, 405, errJson("method not allowed"))
        case _ =>
          sendJson(ex, 404, errJson("unknown route"))
      }
    } catch {
      // IAE carries OUR validation messages (routeKind/param checks) — safe
      // to echo. Anything else is an internal failure: clients get a
      // generic body (raw Spark/Hadoop messages can leak filesystem paths),
      // the real exception goes to the server log. If a handler already
      // responded before throwing, don't attempt a second send.
      case e: PayloadTooLarge =>
        if (!responseSent(ex))
          sendJson(ex, 413, errJson(
            s"request body too large: ${e.size} bytes > $maxBodyBytes"))
      case e: IllegalArgumentException =>
        if (!responseSent(ex))
          sendJson(ex, 400, errJson(Option(e.getMessage).getOrElse("bad request")))
        else
          // already responded: the failure would otherwise vanish entirely
          System.err.println(s"[MetricsHttpServer] post-response IAE on " +
            s"${ex.getRequestMethod} ${ex.getRequestURI}: $e")
      case e: Throwable =>
        System.err.println(s"[MetricsHttpServer] 500 on " +
          s"${ex.getRequestMethod} ${ex.getRequestURI}: $e")
        if (!responseSent(ex)) sendJson(ex, 500, errJson("internal error"))
    } finally ex.close()
  }

  // ---- ingest ------------------------------------------------------------

  /** Reference wire shape → canonical engine lines, SPARK-side: the body
    * array parses once with `metricValue` as a VARIANT so the original
    * JSON type survives (a quoted "007" stays a string metric, exactly the
    * reference's Object-typed routing, Metric.java:38-61), then each
    * record re-renders as one canonical JSON line for
    * [[IngestStream.parseJsonTyped]]. */
  private def ingest(ex: HttpExchange, tenant: String, scoped: Boolean): Unit = {
    val body = readBody(ex)
    val lines =
      try {
        // parsed on the DEDICATED ingest session: the whole write
        // (and the sync-mode re-roll) plans on pinned request-sized confs
        // without ever touching the readers' session
        import ingestSpark.implicits._
        val recs = Seq(body).toDF("body")
          .select(explode(from_json(col("body"),
            org.apache.spark.sql.types.DataType.fromDDL(
              "array<struct<tenantId:string, metricName:string, " +
                "metricValue:variant, collectionTime:bigint, " +
                "ttlInSeconds:int, unit:string>>"))).as("r"))
        recs.select(to_json(struct(
          (if (scoped) coalesce(col("r.tenantId"), lit(tenant))
           else lit(tenant)).as("tenant_id"),
          col("r.metricName").as("metric_name"),
          col("r.collectionTime").as("ts_ms"),
          col("r.metricValue").as("value"),
          col("r.ttlInSeconds").as("ttl_seconds"),
          col("r.unit").as("unit"))).as("value"))
      } catch {
        // NonFatal only: the plan building is lazy, so genuinely bad JSON
        // surfaces as zero parsed rows below, and an OOM/VM error here
        // must propagate, not masquerade as a client 400
        case scala.util.control.NonFatal(_) =>
          sendJson(ex, 400, errJson("Cannot parse content")); return
      }
    val parsed = IngestStream.parseJsonTyped(lines)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val now = nowMs()
      val (lo, hi) = IngestStream.batchBounds(0L, Long.MaxValue,
        Some(maxAgeMs), Some(maxFutureMs), now)
      // ONE Spark job per clean numeric POST: the whole accounting
      // (total, error array, per-arm splits, dirty days, catalog
      // locators) rides the staged raw write as observed metrics
      // (processTypedBatchFused); the durable dirty-day markers land via
      // the onDirtyDays callback BEFORE the batch becomes visible, and
      // always before the 200
      var res: IngestStream.IngestResult = null
      writeLock.synchronized {
       graft.core.WriterLease.withLease(writerLease) {
        midIngestProbe()
        // a failed batch needs no compensation here: inside the
        // writer the durable marker write is ordered BEFORE the data
        // commit, so a crash/throw leaves at worst a marker that
        // over-approximates — the next drain/restart reconciles
        res = IngestStream.processTypedBatchFused(parsed, storeDir,
          requestBatchId(tenant, "ingest", body), lo, hi,
          rollup = !deferRollups,
          virginHint = if (storeKnownNonVirgin) Some(false) else None,
          onDirtyDays = days => if (deferRollups && days.nonEmpty) {
            // durable marker AND in-memory pend both land BEFORE the
            // commit rename makes data visible: serving is exact for
            // ACKNOWLEDGED ingests, and even the unacknowledged tail of
            // this POST is never visible-but-unpended (rollNow's snapshot
            // takes writeLock, so it cannot observe the pend without
            // also observing the renamed data)
            graft.core.DirtyDayLog.mark(spark, storeDir, "basic",
              days.filterNot(pendingBasicDays.containsKey))
            days.foreach(d =>
              pendingBasicDays.put(d, dirtySeq.incrementAndGet()))
            onDirtyDaysHook(days)
          })
        if (res.errors.length.toLong < res.nTotal) storeKnownNonVirgin = true
       }
      }
      if (res.nTotal == 0) {
        sendJson(ex, 400, errJson("Cannot parse content")); return
      }
      val errors = res.errors.map { case (t0, n0, source, ts) =>
        val msg = source match {
          case "metricName" => "may not be empty"
          case "metricValue" => "is not a valid number"
          case "collectionTime" =>
            s"out of bounds: must be within [$lo, $hi]"
          case _ => "must be positive"
        }
        (t0, n0, source, msg, ts)
      }
      if (errors.length.toLong == res.nTotal)
        sendJson(ex, 400, errorsJson(errors))
      else if (errors.nonEmpty) sendJson(ex, 207, errorsJson(errors))
      else sendJson(ex, 200, """{}""")
    } finally parsed.unpersist()
  }

  private def ingestAggregated(ex: HttpExchange, tenant: String,
      multi: Boolean): Unit = {
    val body = readBody(ex)
    import ingestSpark.implicits._
    // single payload or an array of payloads — one line each for the
    // engine's statsd parser
    val lines0 = if (multi) parseJsonObjects(body) else Some(Seq(body))
    val lines = lines0 match {
      case Some(ls) if ls.nonEmpty => ls
      case _ => sendJson(ex, 400, errJson("Cannot parse content")); return
    }
    // one partition per request, whatever the payload count: the writer
    // follows its input's partitioning, and a multi-payload body would
    // otherwise scatter into one task and one file per payload
    val parsed = graft.operators.Preaggregated
      .fromAggregatedJson(lines.toDF("value").coalesce(1))
      // the single-tenant route scopes every record to the path tenant
      .withColumn("tenant_id",
        if (multi) coalesce(col("tenant_id"), lit(tenant)) else lit(tenant))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val now = nowMs()
      val (lo, hi) = IngestStream.batchBounds(0L, Long.MaxValue,
        Some(maxAgeMs), Some(maxFutureMs), now)
      // ONE Spark job per clean statsd POST — the typed route's
      // discipline (processAggregatedBatch): accounting + rejects +
      // dirty days + per-kind catalog locators ride the staged
      // preagg_raw write; durable markers land before visibility
      var res: IngestStream.PreaggResult = null
      writeLock.synchronized {
       graft.core.WriterLease.withLease(writerLease) {
        midIngestProbe()
        res = IngestStream.processAggregatedBatch(parsed, storeDir,
          requestBatchId(tenant, "aggregated", body), cascade = true, lo, hi,
          rollup = !deferRollups,
          virginHint = if (storeKnownNonVirgin) Some(false) else None,
          onDirtyDays = days => if (deferRollups && days.nonEmpty) {
            // marker + pend BEFORE the commit rename (see the typed
            // route's callback for the rollNow-snapshot ordering argument)
            graft.core.DirtyDayLog.mark(spark, storeDir, "preagg",
              days.filterNot(pendingPreaggDays.containsKey))
            days.foreach(d =>
              pendingPreaggDays.put(d, dirtySeq.incrementAndGet()))
            onDirtyDaysHook(days)
          })
        if (res.rejects.length.toLong < res.nTotal) storeKnownNonVirgin = true
       }
      }
      if (res.nTotal == 0) {
        sendJson(ex, 400, errJson("Cannot parse content")); return
      }
      val bad = res.rejects.map { case (t0, n0, ts) =>
        (t0, n0, "timestamp", s"out of bounds: must be within [$lo, $hi]", ts)
      }
      if (bad.length.toLong == res.nTotal) sendJson(ex, 400, errorsJson(bad))
      else if (bad.nonEmpty) sendJson(ex, 207, errorsJson(bad))
      else sendJson(ex, 200, """{}""")
    } finally parsed.unpersist()
  }

  private def ingestEvent(ex: HttpExchange, tenant: String): Unit = {
    val body = readBody(ex)
    import ingestSpark.implicits._
    // reference event fields (Event.java): what/when/data/tags → the
    // engine's event store columns
    val lines = Seq(body).toDF("body")
      .select(from_json(col("body"), org.apache.spark.sql.types.DataType
        .fromDDL("struct<what:string, when:bigint, data:string, tags:string>"))
        .as("e"))
      .select(to_json(struct(
        lit(tenant).as("tenant_id"),
        abs(xxhash64(col("e.what"), col("e.when"), coalesce(col("e.data"),
          lit("")))).as("event_id"),
        col("e.when").as("ts_ms"),
        col("e.what").as("event_type"),
        lit(null).cast("double").as("value"),
        concat_ws(" ", coalesce(col("e.data"), lit("")),
          coalesce(col("e.tags"), lit(""))).as("props"))).as("value"))
    val parsed = IngestStream.parseEventsJson(lines)
    val now = nowMs()
    val (lo, hi) = IngestStream.batchBounds(0L, Long.MaxValue,
      Some(maxAgeMs), Some(maxFutureMs), now)
    val validated = IngestStream.withEventValidity(parsed, lo, hi)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE Spark job (the other routes' discipline): the validity
      // counts ride the staged events write; any invalid event discards
      // the hidden staging — the all-or-nothing 400 contract unchanged
      var counts: (Long, Long) = null
      writeLock.synchronized {
       graft.core.WriterLease.withLease(writerLease) {
        midIngestProbe()
        // events are NOT value-idempotent like metric overwrites: the
        // reference's ES-auto-id scheme stores two intentionally repeated
        // identical POSTs as two annotations, so the batch id takes a
        // process-local nonce — hashing on body alone would collapse them
        counts = IngestStream.processEventsBatchFused(validated, storeDir,
          requestBatchId(tenant, "events",
            s"$body|$lifetimeToken|${eventNonce.incrementAndGet()}"))
       }
      }
      if (counts._1 == 0 || counts._2 > 0) {
        sendJson(ex, 400, errJson("invalid event")); return
      }
      sendJson(ex, 200, """{}""")
    } finally validated.unpersist()
  }

  // ---- query -------------------------------------------------------------

  /** Kind-routed stored read — the reference resolves each locator's
    * rollup_type from the metadata cache and reads the matching column
    * family (`MetricsRWDelegator.java:79-113`); here the exact metric
    * names probe the preagg/string catalogs and fall back to basic. A
    * multi-name request joins the names into one `{a,b}` glob (the
    * engine's GlobPattern supports alternation), keeping the read ONE
    * library call under the O2 batch cap. */
  private def views(ex: HttpExchange, tenant: String,
      names: Seq[String]): Unit = {
    val q = queryParams(ex)
    val (from, to, points, resolution) = rangeParams(ex) match {
      case Some(r) => r
      case None => return
    }
    val select = q.get("select").toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)
    // names are EXACT locators here, never patterns: escape them so a
    // metric literally named "lat,p99" or "a*b" resolves to itself, not to
    // an alternation / wildcard over other tenants' luck
    val esc = names.map(graft.core.GlobPattern.escapeLiteral)
    val glob =
      if (esc.size == 1) esc.head
      else s"{${esc.mkString(",")}}"
    val p = MetricsQueryApi.Params(tenant, glob, from, to, points,
      resolution, select)
    val now = nowMs()
    val snap = catalogSnapshot(tenant)
    val kind = routeKind(snap, tenant, names)
    val frame = kind match {
      case "string" =>
        MetricsQueryApi.getStringPoints(spark, storeDir, p, now,
          snapshot = snap)
      case "basic" =>
        MetricsQueryApi.getRollupsStored(spark, storeDir, p, now,
          dirtyDays = pendingBasic, snapshot = snap)
      case k =>
        MetricsQueryApi.getPreaggStored(spark, storeDir, p, k, now,
          dirtyDays = pendingPreagg, snapshot = snap)
    }
    sendJson(ex, 200, MetricsQueryApi.toJsonResponse(frame))
  }

  /** The POST batch-views body handler, shared verbatim by the v2.0
    * `/views` route and its v1.0 experimental alias — one copy of the
    * body-validation and O2 batch-cap contract
    * (HttpMultiRollupsQueryHandler). */
  private def batchViews(ex: HttpExchange, tenant: String): Unit =
    parseStringArray(readBody(ex)) match {
      case None => sendJson(ex, 400,
        errJson("body must be a JSON array of metric names"))
      case Some(Nil) => sendJson(ex, 400,
        errJson("at least one metric name is required"))
      case Some(names)
          if names.size > MetricsQueryApi.MaxMetricsPerBatchQuery =>
        sendJson(ex, 400, errJson(
          s"batch too large: ${names.size} metrics > " +
            s"${MetricsQueryApi.MaxMetricsPerBatchQuery}"))
      case Some(names) => views(ex, tenant, names)
    }

  /** Shared from/to/points|resolution parsing of the GET query surfaces
    * (`views` and the series panel) — None after sending the 400, so both
    * routes keep one copy of the range/granularity contract. */
  private def rangeParams(ex: HttpExchange)
      : Option[(String, String, Option[Int], Option[Granularity])] = {
    val q = queryParams(ex)
    val (from, to) = (q.get("from"), q.get("to")) match {
      case (Some(f), Some(t)) => (f, t)
      case _ =>
        sendJson(ex, 400, errJson("from and to are required")); return None
    }
    val points = q.get("points").map(_.toInt)
    val resolution = q.get("resolution").map(r =>
      Granularity.all.find(_.name.equalsIgnoreCase(r)).getOrElse(
        throw new IllegalArgumentException(s"unknown resolution '$r'")))
    if (points.isEmpty == resolution.isEmpty) {
      sendJson(ex, 400,
        errJson("exactly one of points= or resolution= required"))
      return None
    }
    Some((from, to, points, resolution))
  }

  /** The series/anomaly panel's route names (the facade surface of the
    * Graphite render functions a reference deployment fronts Blueflood
    * with: holtWintersConfidenceBands, the EWMA band family, linear
    * trend/capacity forecast, chart decimation — aesthetic LTTB and
    * error-free M4 — robust outlier flags, and grid alignment). */
  private val SeriesFns = Set("holtwinters", "ewma", "trend", "lttb",
    "m4", "mad", "resample", "agg", "alerts")

  /** `GET /v2.0/:t/series/:metric/<fn>?from&to&points|resolution&…` —
    * reads the metric's numeric series through the SAME kind-routed
    * stored-read path as `views` (per-bucket average), then applies the
    * series operator the route names:
    *
    *  - `holtwinters?season&alpha&beta&gamma&k&minPoints` —
    *    [[graft.operators.Anomaly.holtWintersBands]]
    *  - `ewma?alpha&k&minPoints` — [[graft.operators.Anomaly.ewmaBands]]
    *  - `trend?horizon&threshold` (horizon seconds) —
    *    [[graft.operators.Series.linearTrend]]
    *  - `lttb?buckets` — [[graft.operators.Series.lttbExact]]
    *  - `m4?buckets` — [[graft.operators.Series.m4Downsample]] (error-free
    *    pixel-width decimation; buckets = target pixel columns)
    *  - `mad?k` — [[graft.operators.Series.madOutliers]]
    *  - `resample?step` (step seconds) —
    *    [[graft.operators.Series.resampleLinear]]
    *  - `alerts?alpha&k&minPoints&gap&forPoints` (gap seconds) —
    *    [[graft.operators.Anomaly.ewmaBands]] scoring collapsed to alert
    *    EPISODES by [[graft.operators.Anomaly.alertIntervals]]: one row
    *    per sustained incident (start/end/duration/point count), the
    *    page-deduplicated view an alerting consumer wants
    *  - `agg?stat={mean|sum|max|min|pNN}` — [[graft.operators.Series
    *    .aggregateSeries]] (or [[graft.operators.Series.quantileOfSeries]]
    *    for `pNN`, e.g. `p95` — Graphite's percentileOfSeries): here (and
    *    only here) `:metric` is a GLOB; sumSeries/averageSeries/maxSeries/
    *    minSeries over the matched family, one value per served bucket.
    *    The glob resolves through the discovery catalog for family routing
    *    and inherits the read path's O2 ≤100-locator batch cap; an empty
    *    match serves an empty panel (the views convention), a
    *    family-mixing glob 400s.
    *
    * String metrics 400 (these operators are numeric by definition);
    * parameter parse failures 400 with the offending name. */
  private def seriesView(ex: HttpExchange, tenant: String, name: String,
      fn: String): Unit = {
    val q = queryParams(ex)
    val (from, to, points, resolution) = rangeParams(ex) match {
      case Some(r) => r
      case None => return
    }
    def dbl(k: String, d: Double): Double = q.get(k).fold(d)(v =>
      v.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(s"$k must be a number, got '$v'")))
    def int(k: String, d: Int): Int = q.get(k).fold(d)(v =>
      v.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$k must be an integer, got '$v'")))
    // "agg" treats :metric as a glob; every other panel fn is per-series
    // and takes a literal name. Family routing for the glob case goes
    // through the SAME routeKind ambiguity machinery, on the
    // discovery-resolved names (so a family-mixing glob fails loud instead
    // of aggregating counters into gauges).
    val isGlob = fn == "agg"
    val now = nowMs()
    val pts = numericPoints(tenant, name, isGlob, from, to, points,
      resolution, now)
    val out = fn match {
      case "holtwinters" =>
        val season = int("season", 24)
        require(season >= 1 && season <= 8192,
          s"season must be in [1, 8192], got $season")
        graft.operators.Anomaly.holtWintersBands(pts, season,
          dbl("alpha", 0.1), dbl("beta", 0.0035), dbl("gamma", 0.1),
          dbl("k", 3.0), int("minPoints", season))
      case "ewma" =>
        graft.operators.Anomaly.ewmaBands(pts, dbl("alpha", 0.3),
          dbl("k", 3.0), int("minPoints", 5))
      case "trend" =>
        graft.operators.Series.linearTrend(pts,
          dbl("horizon", 86400.0), dbl("threshold", Double.MaxValue))
      case "lttb" =>
        val buckets = int("buckets", 200)
        require(buckets >= 3, s"buckets must be >= 3, got $buckets")
        graft.operators.Series.lttbExact(pts, buckets)
      case "m4" =>
        val buckets = int("buckets", 200)
        require(buckets >= 1, s"buckets must be >= 1, got $buckets")
        graft.operators.Series.m4Downsample(pts, buckets)
      case "mad" =>
        val k = dbl("k", 3.0)
        require(k > 0, s"k must be positive, got $k")
        graft.operators.Series.madOutliers(pts, k)
      case "resample" =>
        val step = int("step", 300)
        require(step >= 1, s"step must be >= 1 second, got $step")
        // request-level grid cap, enforced BEFORE any query runs: each
        // series' grid spans its own [min ts, max ts] ⊆ [from, to], so
        // bounding (to − from)/step bounds every series' grid by the
        // operator's own fail-loud constant — a client asking for a
        // years-long range at step=1 gets a 400 naming the numbers, not a
        // ~250 MB array materializing in one executor task
        val stepMs = step * 1000L
        val gridN = (graft.core.DateTimeParser.parseMillis(to, now) -
          graft.core.DateTimeParser.parseMillis(from, now)) / stepMs + 1L
        require(gridN <= graft.operators.Series.MaxGridPointsPerSeries,
          s"resample grid too fine: (to - from)/step yields $gridN points > " +
            s"${graft.operators.Series.MaxGridPointsPerSeries} — widen step " +
            s"or narrow the range")
        q.getOrElse("how", "linear") match {
          case "linear" => graft.operators.Series.resampleLinear(pts, stepMs)
          case "hold" => graft.operators.Series.resampleHold(pts, stepMs)
          case other => throw new IllegalArgumentException(
            s"how must be linear or hold, got '$other'")
        }
      case "alerts" =>
        // episodes, not points: EWMA-band scoring then gap-merged alert
        // intervals (gap/minPoints are the page-dedup knobs)
        val gapS = int("gap", 3600)
        require(gapS >= 1, s"gap must be >= 1 second, got $gapS")
        val scored = graft.operators.Anomaly.ewmaBands(pts,
            dbl("alpha", 0.3), dbl("k", 3.0), int("minPoints", 5))
          .withColumnRenamed("is_aberrant", "is_anomaly")
        graft.operators.Anomaly.alertIntervals(scored, gapS * 1000L,
          int("forPoints", 1))
          .withColumnRenamed("start_ms", "ts_ms") // panel orders by ts_ms
      case "agg" =>
        // served buckets are already aligned: bucketMs=1 keeps them as-is
        // (the stat crosses SERIES per bucket, not time within a series)
        val stat = q.getOrElse("stat", "mean")
        val QuantileStat = "p([0-9]{1,3}(?:\\.[0-9]+)?)".r
        stat match {
          case QuantileStat(pct) => // Graphite's percentileOfSeries
            graft.operators.Series.quantileOfSeries(pts, name,
              pct.toDouble / 100.0, bucketMs = 1L)
              .withColumnRenamed("bucket_ms", "ts_ms")
          case s =>
            graft.operators.Series.aggregateSeries(pts, name, s, bucketMs = 1L)
              .withColumnRenamed("bucket_ms", "ts_ms")
        }
    }
    sendJson(ex, 200, seriesJson(name, out))
  }

  /** `GET /v2.0/:tenant/alerts/episodes?from&until[&metric=<glob>]` — the
    * serving side of the ALERT DAEMON lifecycle
    * ([[graft.streaming.AlertStream]]): closed, watermark-proven incident
    * episodes from the standing `alert_episodes` sink, filtered to the
    * tenant and (by episode start) the requested range, optionally to a
    * metric glob. Before any daemon has closed an episode the route serves
    * `[]` — the empty-store contract every reader here follows. */
  private def alertEpisodes(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex)
    val now = nowMs()
    val fromMs = q.get("from")
      .map(graft.core.DateTimeParser.parseMillis(_, now)).getOrElse(0L)
    val untilMs = q.get("until")
      .map(graft.core.DateTimeParser.parseMillis(_, now)).getOrElse(now)
    val metricFilter = q.get("metric").map(g =>
      col("metric_name").rlike(graft.core.GlobPattern.toAnchoredRegex(g)))
      .getOrElse(lit(true))
    val rows = graft.streaming.AlertStream.episodesStore(spark, storeDir)
      .filter(col("tenant_id") === tenant && metricFilter &&
        col("start_ms") >= fromMs && col("start_ms") <= untilMs)
      .orderBy("metric_name", "start_ms")
      .limit(MaxSeriesPanelPoints + 1).collect()
    require(rows.length <= MaxSeriesPanelPoints,
      s"episode result exceeds $MaxSeriesPanelPoints rows — narrow the range")
    val body = rows.map { r =>
      val peak = if (r.isNullAt(r.fieldIndex("peak_abs_z"))) "null"
        else r.getAs[Double]("peak_abs_z").toString
      s"""{"metric": ${jStr(r.getAs[String]("metric_name"))}, """ +
        s""""start_ms": ${r.getAs[Long]("start_ms")}, """ +
        s""""end_ms": ${r.getAs[Long]("end_ms")}, """ +
        s""""duration_ms": ${r.getAs[Long]("duration_ms")}, """ +
        s""""n_points": ${r.getAs[Long]("n_points")}, """ +
        s""""peak_abs_z": $peak}"""
    }.mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  /** `GET|POST /render?target=<expr>&from&until&tenant=:t[&maxDataPoints
    * &format=json]` — the Graphite render-API wire shape (the surface
    * Graphite-ecosystem dashboards speak; a reference deployment fronts
    * Blueflood with a graphite-api finder producing exactly this JSON).
    * POST carries the same parameters as an
    * `application/x-www-form-urlencoded` body — Grafana's default, since
    * dashboard queries outgrow URL limits. Targets repeat; each is one
    * of:
    *
    *  - `<glob>` — raw serve, one response entry per matched series
    *  - `lttb(<glob>[,buckets])` / `m4(<glob>[,buckets])` — per-series
    *    decimation ([[graft.operators.Series.lttbExact]] /
    *    [[graft.operators.Series.m4Downsample]])
    *  - `sumSeries|averageSeries|maxSeries|minSeries|countSeries|
    *    rangeOfSeries|stddevSeries(<glob>)` — cross-series aggregation
    *    ([[graft.operators.Series.aggregateSeries]]); entry named by the
    *    target expression (the Graphite convention)
    *  - `groupByNode(<glob>,n[,"func"])` /
    *    `groupByNodes(<glob>,"func",n1[,n2…])` — aggregate series sharing
    *    the (dot-joined) name token selection, one entry NAMED by it
    *    ([[graft.operators.Series.groupByNode]] / `groupByNodes`)
    *  - `percentileOfSeries(<glob>,N)` —
    *    [[graft.operators.Series.quantileOfSeries]]
    *  - `summarize(<glob>,"<interval>"[,"<func>"])` — per-series
    *    re-bucketing onto the display interval
    *    ([[graft.operators.Series.summarize]]; func sum|avg|max|min|last)
    *  - `derivative|nonNegativeDerivative|perSecond(<glob>)` — per-series
    *    rate views off one lag pass ([[graft.operators.Series.derivatives]])
    *  - `integral(<glob>)` — per-series running total
    *    ([[graft.operators.Series.integral]])
    *  - `movingAverage|movingSum|movingMax|movingMin(<glob>,"<interval>")`
    *    and `movingWindow(<glob>,"<interval>"[,"<func>"])` (func
    *    average|sum|max|min|stddev) — time-window smoothing; mean/sum/
    *    stddev ride the prefix path
    *    ([[graft.operators.Series.movingWindowPrefix]]), extremes the
    *    frame path ([[graft.operators.Series.movingStats]])
    *  - `timeShift(<glob>,"<interval>")` — the shifted window's data drawn
    *    at the requested instants (week-over-week overlays)
    *  - `keepLastValue|resample(<glob>,"<interval>")` — uniform-grid
    *    alignment, forward-fill vs linear
    *    ([[graft.operators.Series.resampleHold]] / `resampleLinear`),
    *    bounded-grid contract enforced at the request level
    *  - `scale|offset(<glob>,k)` / `absolute(<glob>)` — pointwise
    *  - `asPercent(<glob>[,<totalExpr>])` — per-instant share across the
    *    matched series, or of an explicit total expression (compose over
    *    summarize/resample when timestamps are irregular)
    *  - `divideSeries(<expr>,<divisor>)` / `diffSeries(<expr>,<sub>…)` /
    *    `multiplySeries(<expr>,<factor>…)` — per-instant cross-series
    *    arithmetic (error rates, headroom, composites); diff/multiply
    *    REDUCE all matched series into one combined entry (graphite-web's
    *    reduce), divisors must be a single-series single sample per
    *    instant (ambiguity raises in-plan → 400), zero/missing
    *    denominators null (F6)
    *  - `transformNull(<expr>[,default])` — null fill;
    *    `removeAboveValue|removeBelowValue(<expr>,t)` /
    *    `removeAbovePercentile|removeBelowPercentile(<expr>,p)` —
    *    threshold scrub to null datapoints; `nPercentile(<expr>,p)` —
    *    per-series percentile line; `changed(<expr>)` — 0/1 change
    *    indicator; `offsetToZero(<expr>)` — subtract each series' own
    *    minimum
    *  - `grep|exclude(<expr>,"regex")` — series-name filter;
    *    `aliasSub(<expr>,"regex","replacement")` — display-name
    *    substitution ($1 backreferences)
    *  - `events("tags")` — event markers from the events store (value
    *    1.0 at each matching instant; `events("")` for all in range)
    *  - `holtWintersForecast|holtWintersConfidenceBands|
    *    holtWintersAberration(<expr>[,season])` — the forecast family
    *    over [[graft.operators.Anomaly.holtWintersBands]] (bands emit
    *    two entries per series, Upper/Lower)
    *  - `highestMax|highestAverage|highestCurrent|lowestAverage|lowestMax|
    *    lowestCurrent(<glob>,k)` and
    *    `averageAbove|averageBelow|maximumAbove|maximumBelow|currentAbove|
    *    currentBelow(<glob>,t)` — whole-series selection
    *    ([[graft.operators.Series.topSeries]]), the ≤k/<threshold pick
    *    broadcast-joined back onto the points
    *  - `alias(<glob>,"name")` / `aliasByNode(<glob>,n)` /
    *    `aliasByMetric(<glob>)` — display naming (n may be negative,
    *    counting from the end; aliasByMetric ≡ aliasByNode(-1))
    *  - `sortByMaxima|sortByTotal|sortByMinima(<glob>)` — entry-list
    *    ordering by a per-series stat; `limit(<expr>,n)` — first n series
    *    of the (possibly sorted) list
    *  - `sumSeriesWithWildcards|averageSeriesWithWildcards(<glob>,pos…)` —
    *    aggregate series whose names match after dropping the wildcard
    *    nodes ([[graft.operators.Series.aggregateWithWildcards]])
    *  - `constantLine(v)` — reference line at from/mid/until;
    *    `consolidateBy(<expr>,"func")` — pick the final maxDataPoints
    *    consolidation statistic (average|sum|min|max|first|last)
    *
    * Any `<glob>` above may itself be another function expression —
    * targets nest and compose as one lazy plan ([[evalRenderTarget]]).
    *
    * `from`/`until` take the full Graphite datetime grammar and default to
    * `-24h`/`now`; `maxDataPoints` maps onto the points-budget resolution
    * pick (absent → full resolution — decimation is explicit via lttb/m4)
    * AND, because a composed target can out-emit the picked resolution,
    * every finished series is consolidated down to ≤ maxDataPoints via its
    * consolidateBy() statistic ([[consolidatePoints]], default average —
    * real Graphite's final consolidation). Globs resolve under the O2
    * batch cap ([[numericPoints]]);
    * the response is `[{"target", "datapoints": [[value|null, epoch_s]]}]`
    * with the panel row cap applied per target. `format` is json
    * (default) or csv (Graphite's `target,YYYY-MM-DD HH:mm:ss,value`
    * export shape, UTC). */
  private def renderView(ex: HttpExchange,
      formPairs: Seq[(String, String)]): Unit = {
    val pairs = queryPairs(ex) ++ formPairs
    val q = pairs.toMap
    val tenant = q.getOrElse("tenant",
      throw new IllegalArgumentException(
        "tenant= is required (multi-tenant store behind a single-tenant API)"))
    val fmt = q.getOrElse("format", "json")
    require(fmt == "json" || fmt == "csv",
      s"unsupported format '$fmt' — json or csv")
    val now = nowMs()
    val from = q.getOrElse("from", "-24h")
    val until = q.getOrElse("until", "now")
    val points = q.get("maxDataPoints").map(v => v.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"maxDataPoints must be an integer, got '$v'")))
    val noNulls = q.get("noNullPoints")
      .exists(v => v.equalsIgnoreCase("true") || v == "1")
    val resolution = if (points.isEmpty) Some(Granularity.FULL) else None
    val targets = pairs.collect { case ("target", v) => v }
    require(targets.nonEmpty, "at least one target= is required")
    val entries = try {
      targets.flatMap { t0 =>
        val se = evalRenderTarget(t0.trim, tenant, from, until, points,
          resolution, now, depth = 0)
        val collected =
          collectSeries(se.df, "ts_ms", "value", se.singleName, se.nameOf)
        // FINAL maxDataPoints guarantee: the resolution pick bounds the
        // fetch, but a composed target (summarize, resample, full-res
        // fallback) can still emit more points than requested — real
        // Graphite consolidates the finished series down to the budget
        val capped = points.filter(_ > 0) match {
          case Some(mdp) => collected.map { case (n, dps) =>
            n -> consolidatePoints(dps, mdp,
              se.consolidate.getOrElse("average"))
          }
          case None => collected
        }
        // graphite-web's noNullPoints=true: strip null datapoints from the
        // response (sparse-series payload cut; entries may go empty)
        if (noNulls) capped.map { case (n, dps) =>
          n -> dps.filter(_._1.isDefined)
        } else capped
      }
    } catch {
      // an in-plan raise_error() guard (ambiguous divideSeries divisor, a
      // groupByNode index past a series' nodes) is OUR crafted, data-
      // dependent validation message — surface it as the 400 it is; any
      // other failure stays the generic 500 (raw engine messages can leak
      // paths)
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
          .collectFirst {
            case r: org.apache.spark.SparkThrowable
              if r.getCondition == "USER_RAISED_EXCEPTION" =>
              Option(r.asInstanceOf[Throwable].getMessage)
                .getOrElse("render guard failed")
                .replaceFirst("^\\[USER_RAISED_EXCEPTION\\]\\s*", "")
          } match {
            case Some(msg) => throw new IllegalArgumentException(msg)
            case None => throw e
          }
    }
    if (fmt == "csv") {
      // Graphite's csv export shape: `target,YYYY-MM-DD HH:mm:ss,value`
      // (UTC wall time, empty cell for null); names with csv
      // metacharacters are quoted the standard way
      val f = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      def cell(s: String): String =
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      val sb = new StringBuilder
      entries.foreach { case (name, dps) =>
        dps.foreach { case (v, tsSec) =>
          sb.append(cell(name)).append(',')
            .append(f.format(java.time.Instant.ofEpochSecond(tsSec)))
            .append(',')
            .append(v.filter(d => !d.isNaN && !d.isInfinite)
              .map(_.toString).getOrElse(""))
            .append("\r\n")
        }
      }
      sendBody(ex, 200, "text/csv", sb.toString)
    } else {
      val body = entries.map { case (name, dps) =>
        val pts = dps.map { case (v, tsSec) =>
          s"[${v.filter(d => !d.isNaN && !d.isInfinite)
            .map(_.toString).getOrElse("null")}, $tsSec]"
        }.mkString(", ")
        s"""{"target": ${jStr(name)}, "datapoints": [$pts]}"""
      }.mkString("[", ", ", "]")
      sendJson(ex, 200, body)
    }
  }

  /** One evaluated render-target subtree: a standardized
    * `(tenant_id, metric_name, ts_ms, value)` frame plus its naming —
    * `singleName` labels a cross-series aggregate by the subtree's own
    * target text (the Graphite convention); `nameOf` maps a series name to
    * its display name, composed outward by each wrapping function.
    * `consolidate` is the series' consolidateBy() tag — the statistic the
    * FINAL maxDataPoints consolidation uses (None → Graphite's default
    * average). Every PER-SERIES wrapper (transforms, scrubs, selection,
    * naming) threads it through, so Grafana's generated
    * `movingAverage(consolidateBy(x,'max'),…)` nesting keeps the tag;
    * cross-series combiners (sumSeries family, groupBy*, weightedAverage,
    * diff/multiply/divide, percentileOfSeries) produce NEW series and
    * reset it, as graphite-web's reduced series do. */
  private case class SeriesExpr(df: DataFrame,
      singleName: Option[String], nameOf: String => String,
      consolidate: Option[String] = None) {
    /** Total display-name function — what an ENCLOSING wrapper composes
      * over (an aggregate's constant text, else the per-series name). */
    def displayName: String => String = n => singleName.getOrElse(nameOf(n))
  }

  private val RenderFn = """(?s)^(\w+)\((.*)\)$""".r

  /** Recursive render-target evaluator — targets NEST, as Graphite
    * dashboards actually write them (`movingAverage(perSecond(app.*),
    * "5min")`, `derivative(sumSeries(app.*))`): the first argument of any
    * function is either a metric glob (the base fetch through the
    * kind-routed [[numericPoints]] read) or another function expression,
    * evaluated recursively. Every function consumes and produces the
    * standardized frame, so the whole composition stays ONE lazy Catalyst
    * plan — nothing materializes between stages, and the final
    * [[collectSeries]] row cap bounds the only collect.
    *
    * Naming composes outward: per-series wrappers build
    * `fn(<inner display name>[,args])`, cross-series aggregates pin the
    * subtree's own target text, `alias`/`aliasByNode` replace it.
    * `timeShift` re-evaluates its WHOLE subtree under the shifted
    * [from, until] and draws the result at the requested instants.
    * ARITHMETIC transforms (rates, integral, moving, resample,
    * aggregates) drop null input values (Graphite's None-skipping);
    * pointwise transforms (scale/offset/absolute) and whole-series
    * selection take the raw frame — null arithmetic yields null and
    * selection serves points unchanged — so each stage's own null output
    * (a derivative's first point) still renders as null datapoints
    * through them. */
  private def evalRenderTarget(t: String, tenant: String, from: String,
      until: String, points: Option[Int], resolution: Option[Granularity],
      now: Long, depth: Int): SeriesExpr = {
    require(depth <= 8, s"render target nests deeper than 8 functions: '$t'")
    def recurse(sub: String, f: String = from, u: String = until) =
      evalRenderTarget(sub.trim, tenant, f, u, points, resolution, now,
        depth + 1)
    t match {
      case RenderFn(fn, argStr) =>
        // split on commas at depth 0 only: commas inside '{a,b}' glob
        // alternation AND inside nested 'fn(...)' calls stay part of
        // their argument
        val args = splitTargetArgs(argStr)
        // events is the one function whose first argument is NOT a
        // series expression: Graphite's bare events() (all annotations
        // in range) is valid, so the glob requirement must not fire
        require(fn == "events" || (args.nonEmpty && args(0).trim.nonEmpty),
          s"target '$t' needs a metric glob or sub-expression")
        // splitTargetArgs always yields >= 1 element (the trailing
        // buffer), so args(0) is total; events() just never reads it
        val arg0 = args(0).trim
        // transforms consume non-null values only (a wrapped stage's null
        // outputs — e.g. a derivative's first point — must not reach the
        // next operator's arithmetic); the base fetch is already non-null
        def inner: SeriesExpr = {
          val in = recurse(arg0)
          in.copy(df = in.df.filter(col("value").isNotNull))
        }
        def buckets(floor: Int): Int = {
          val b = args.lift(1).map(a => a.trim.toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"buckets must be an integer in '$t'"))).getOrElse(200)
          require(b >= floor, s"buckets must be >= $floor in '$t', got $b")
          b
        }
        def ivlArg(what: String): String = args.lift(1).map(stripQuotes)
          .getOrElse(throw new IllegalArgumentException(
            s"""$fn needs a $what interval (e.g. "5min") in '$t'"""))
        val ser = Seq(col("tenant_id"), col("metric_name"), col("ts_ms"))
        fn match {
          case "lttb" =>
            val in = inner
            in.copy(df = graft.operators.Series.lttbExact(in.df, buckets(3)))
          case "m4" =>
            val in = inner
            in.copy(df = graft.operators.Series.m4Downsample(in.df, buckets(1)))
          case "sumSeries" | "averageSeries" | "maxSeries" | "minSeries" |
               "countSeries" | "rangeOfSeries" | "stddevSeries" =>
            val stat = fn match {
              case "sumSeries" => "sum"
              case "averageSeries" => "mean"
              case "maxSeries" => "max"
              case "minSeries" => "min"
              case "countSeries" => "count"
              case "rangeOfSeries" => "range"
              case _ => "stddev"
            }
            // the input frame is already exactly the matching series (the
            // base fetch resolved the glob), so the operator's own filter
            // runs match-all — which also makes composed inputs with
            // synthetic names aggregate correctly
            SeriesExpr(graft.operators.Series
                .aggregateSeries(inner.df, "*", stat, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms"),
              Some(t), identity)
          case "percentileOfSeries" =>
            val pct = args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
              throw new IllegalArgumentException(
                s"percentileOfSeries needs a percentile in '$t'"))
            require(pct >= 0.0 && pct <= 100.0,
              s"percentile must be in [0, 100] in '$t', got $pct")
            SeriesExpr(graft.operators.Series
                .quantileOfSeries(inner.df, "*", pct / 100.0, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms")
                .withColumnRenamed("qvalue", "value"),
              Some(t), identity)
          case "summarize" =>
            // summarize(<expr>,"<interval>"[,"<func>"]) — per-series
            // re-bucketing onto the dashboard's display interval
            val ivl = ivlArg("display")
            val stat = args.lift(2).map(stripQuotes).getOrElse("sum")
            val in = inner
            in.copy(df = graft.operators.Series
              .summarize(in.df, parseIntervalMs(ivl), stat)
              .withColumnRenamed("bucket_ms", "ts_ms"))
          case "derivative" | "nonNegativeDerivative" | "perSecond" =>
            // one lag pass serves all three Graphite rate views
            // ([[graft.operators.Series.derivatives]]); the first point
            // of each series renders null, as Graphite draws it
            val vCol = fn match {
              case "derivative" => "delta_v"
              case "nonNegativeDerivative" => "nn_delta"
              case _ => "rate_per_s"
            }
            val in = inner
            SeriesExpr(graft.operators.Series.derivatives(in.df)
                .select(ser :+ col(vCol).as("value"): _*),
              None, n => s"$fn(${in.displayName(n)})", in.consolidate)
          case "integral" =>
            val in = inner
            SeriesExpr(graft.operators.Series.integral(in.df)
                .select(ser :+ col("cumsum").as("value"): _*),
              None, n => s"integral(${in.displayName(n)})", in.consolidate)
          case "movingAverage" | "movingMax" | "movingMin" | "movingSum" |
               "movingWindow" =>
            // time-window smoothing (range frame [ts − w, ts]); the
            // window is an interval string — point-count windows are a
            // different frame this store's irregular timestamps would
            // make misleading, so they are rejected loudly
            val ivl = ivlArg("window")
            val windowMs = parseIntervalMs(ivl)
            val func = fn match {
              case "movingWindow" =>
                args.lift(2).map(stripQuotes).getOrElse("average") match {
                  case "avg" | "mean" => "average"
                  case f => f
                }
              case "movingAverage" => "average"
              case "movingSum" => "sum"
              case "movingMax" => "max"
              case _ => "min"
            }
            // Graphite parity: the subtree is fetched with `from` pulled
            // back by the window, so the first REQUESTED instants smooth
            // over full windows instead of partial ones; the warmup rows
            // are dropped from the output
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val in0 = recurse(arg0, s"${(fromMs - windowMs) / 1000}")
            val in = in0.copy(df = in0.df.filter(col("value").isNotNull))
            // mean/sum/stddev take the prefix-sum path (bit-identical to
            // the frame form, flat in window width — a wide window over a
            // dense series through the frame path is the O(points×frame)
            // wall graft.Stress measures); extremes have no prefix form
            // and keep the frame path
            val smoothed = func match {
              // withStd only when stddev is served: the squared-sum
              // prefixes carry their own (narrower) overflow domain that
              // plain average/sum requests must not pay
              case "average" | "sum" | "stddev" => graft.operators.Series
                .movingWindowPrefix(in.df, windowMs,
                  withStd = func == "stddev")
                .select(ser :+ col(func match {
                  case "average" => "mavg"
                  case "sum" => "msum"
                  case _ => "mstd"
                }).as("value"): _*)
              case "max" | "min" => graft.operators.Series
                .movingStats(in.df, windowMs)
                .select(ser :+ col(if (func == "max") "mmax" else "mmin")
                  .as("value"): _*)
              case other => throw new IllegalArgumentException(
                s"movingWindow func must be one of " +
                  s"average|sum|max|min|stddev, got '$other'")
            }
            val shownName: String => String =
              if (fn == "movingWindow") n =>
                s"""movingWindow(${in.displayName(n)},"$ivl","$func")"""
              else n => s"""$fn(${in.displayName(n)},"$ivl")"""
            SeriesExpr(smoothed.filter(col("ts_ms") >= fromMs),
              None, shownName, in.consolidate)
          case "timeShift" =>
            // evaluate the whole subtree under [from − shift,
            // until − shift], draw at the REQUESTED instants — Graphite's
            // semantics (last week's data under this week's cursor)
            val ivl = ivlArg("shift")
            val shiftMs = parseIntervalMs(ivl)
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            val in = recurse(arg0, s"${(fromMs - shiftMs) / 1000}",
              s"${(untilMs - shiftMs) / 1000}")
            SeriesExpr(in.df.withColumn("ts_ms", col("ts_ms") + lit(shiftMs)),
              None, n => s"""timeShift(${in.displayName(n)},"$ivl")""",
              in.consolidate)
          case "keepLastValue" | "resample" =>
            // alignment onto a uniform "<interval>" grid: keepLastValue
            // forward-fills (step), resample interpolates (linear) — both
            // under the bounded-grid contract, enforced at the REQUEST
            // level before any query runs (the panel-route rule)
            val ivl = ivlArg("grid")
            val stepMs = parseIntervalMs(ivl)
            val gridN = (graft.core.DateTimeParser.parseMillis(until, now) -
              graft.core.DateTimeParser.parseMillis(from, now)) / stepMs + 1L
            require(gridN <= graft.operators.Series.MaxGridPointsPerSeries,
              s"$fn grid too fine: (until - from)/interval yields $gridN " +
                s"points > ${graft.operators.Series.MaxGridPointsPerSeries}" +
                " — widen the interval or narrow the range")
            val in = inner
            val rs =
              if (fn == "keepLastValue")
                graft.operators.Series.resampleHold(in.df, stepMs)
              else graft.operators.Series.resampleLinear(in.df, stepMs)
            SeriesExpr(rs, None, n => s"""$fn(${in.displayName(n)},"$ivl")""",
              in.consolidate)
          case "scale" | "offset" =>
            val kStr = args.lift(1).map(_.trim).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a numeric constant in '$t'"))
            val k = kStr.toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"$fn constant must be numeric in '$t', got '$kStr'"))
            // pointwise: RAW inner — null arithmetic yields null, so a
            // wrapped stage's null datapoints (a derivative's first
            // point) still render as nulls instead of disappearing
            val v = if (fn == "scale") col("value") * k else col("value") + k
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value", v),
              None, n => s"$fn(${in.displayName(n)},$kStr)", in.consolidate)
          case "absolute" =>
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value", abs(col("value"))),
              None, n => s"absolute(${in.displayName(n)})", in.consolidate)
          case "asPercent" =>
            // per-INSTANT shares (the stacked-percentage view):
            // one-arg form = value / Σ(matched series at the same ts);
            // two-arg Graphite form asPercent(expr, totalExpr) divides by
            // the TOTAL expression's per-instant sum instead (left join —
            // instants the total lacks yield null). Instants must align
            // for a share to be meaningful; compose over summarize/
            // resample/keepLastValue when timestamps are irregular.
            // Zero/NULL denominators yield null (the F6 safe-div rule).
            val in = recurse(arg0)
            val pct = when(col("__tot") =!= 0.0,
              col("value") / col("__tot") * 100)
            args.lift(1).map(_.trim) match {
              case Some(totArg) =>
                val totByTs = recurse(totArg).df
                  .groupBy(col("tenant_id"), col("ts_ms"))
                  .agg(sum(col("value")).as("__tot"))
                SeriesExpr(in.df
                    .join(totByTs, Seq("tenant_id", "ts_ms"), "left")
                    .withColumn("value", pct).drop("__tot"),
                  None, n => s"asPercent(${in.displayName(n)},$totArg)")
              case None =>
                val wTs = org.apache.spark.sql.expressions.Window
                  .partitionBy(col("tenant_id"), col("ts_ms"))
                SeriesExpr(in.df
                    .withColumn("__tot", sum(col("value")).over(wTs))
                    .withColumn("value", pct).drop("__tot"),
                  None, n => s"asPercent(${in.displayName(n)})")
            }
          case "highestMax" | "highestAverage" | "lowestAverage" |
               "lowestMax" | "highestCurrent" | "lowestCurrent" |
               "highestMin" | "lowestMin" | "mostDeviant" =>
            // series SELECTION (Graphite's highest*/lowest* family): rank
            // whole series by a per-series stat, keep k, serve those
            // series' points unchanged (names pass through). The ≤k
            // selection broadcast-joins back — the per-series stat table
            // is one row per matched series, never the point stream
            val k = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a series count in '$t'"))
            require(k > 0, s"series count must be positive in '$t', got $k")
            val (stat, asc) = fn match {
              case "highestMax" => ("max", false)
              case "highestAverage" => ("mean", false)
              case "lowestAverage" => ("mean", true)
              case "highestCurrent" => ("last", false)
              case "lowestCurrent" => ("last", true)
              case "highestMin" => ("min", false)
              case "lowestMin" => ("min", true)
              // Graphite's mostDeviant: the k series with the highest
              // population sigma over the range
              case "mostDeviant" => ("stddev", false)
              case _ => ("max", true)
            }
            // RAW inner (selection serves points UNCHANGED, nulls
            // included; topSeries' aggregates ignore nulls themselves),
            // materialized once — the frame feeds BOTH the ranking and
            // the join probe side, and an expensive nested subtree must
            // not re-run for each consumer (the CLAUDE.md
            // materialize-once rule; render inputs are panel-bounded)
            val in = recurse(arg0)
            val inDf = in.df.localCheckpoint()
            val sel = graft.operators.Series.topSeries(inDf, k, stat, asc)
              .select(col("tenant_id"), col("metric_name"))
            SeriesExpr(inDf.join(broadcast(sel),
                Seq("tenant_id", "metric_name")),
              in.singleName, in.nameOf, in.consolidate)
          case "averageAbove" | "averageBelow" | "maximumAbove" |
               "maximumBelow" | "minimumAbove" | "minimumBelow" |
               "currentAbove" | "currentBelow" =>
            // threshold SELECTION: keep series whose per-series stat
            // clears the bound (same broadcast-semi-join shape)
            val thr = args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a numeric threshold in '$t'"))
            val stat =
              if (fn.startsWith("average")) "mean"
              else if (fn.startsWith("maximum")) "max"
              else if (fn.startsWith("minimum")) "min"
              else "last"
            // RAW inner + materialize-once, as in the highest*/lowest* arm
            val in = recurse(arg0)
            val inDf = in.df.localCheckpoint()
            val cond =
              if (fn.endsWith("Above")) col("stat_value") > thr
              else col("stat_value") < thr
            val sel = graft.operators.Series
              .topSeries(inDf, Int.MaxValue, stat)
              .filter(cond).select(col("tenant_id"), col("metric_name"))
            SeriesExpr(inDf.join(broadcast(sel),
                Seq("tenant_id", "metric_name")),
              in.singleName, in.nameOf, in.consolidate)
          case "groupByNode" =>
            // groupByNode(<expr>, n[, "func"]) — aggregate series sharing
            // dot-token n, one output series NAMED by the token (the
            // legend-grouping workhorse); bucketMs=1 keeps served instants
            // as-is (the sumSeries-arm convention)
            val idx = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"groupByNode needs a node index in '$t'"))
            val func = args.lift(2).map(stripQuotes).getOrElse("average")
            val stat = func match {
              case "average" | "avg" | "mean" => "mean"
              case f => f
            }
            SeriesExpr(graft.operators.Series
                .groupByNode(inner.df, idx, stat, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms"),
              None, identity)
          case "groupByNodes" =>
            // groupByNodes(<expr>, "func", n1[, n2…]) — Graphite's
            // multi-node form: the grouping key (and entry name) is the
            // dot-joined token selection in the caller's order
            val func = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"groupByNodes needs a callback function in '$t'"))
            val stat = func match {
              case "average" | "avg" | "mean" => "mean"
              case f => f
            }
            val idxs = args.drop(2).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"groupByNodes node indexes must be integers in '$t'")))
            require(idxs.nonEmpty,
              s"groupByNodes needs at least one node index in '$t'")
            SeriesExpr(graft.operators.Series
                .groupByNodes(inner.df, idxs, stat, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms"),
              None, identity)
          case "divideSeries" =>
            // divideSeries(<dividend>, <divisor>) — each dividend series
            // divided by the divisor's per-instant sample (error rates,
            // ratios). The divisor must be ONE sample per instant —
            // ambiguity raises IN-PLAN, never silently sums; zero/missing
            // denominators yield null (the F6 safe-div rule). Instants
            // must align — compose over summarize/keepLastValue when raw
            // timestamps are irregular (the asPercent convention).
            val divArg = args.lift(1).map(_.trim).getOrElse(
              throw new IllegalArgumentException(
                s"divideSeries needs a divisor series in '$t'"))
            // RAW dividend: a wrapped stage's null datapoints render as
            // null through pointwise arithmetic (the scale/offset rule);
            // only the divisor side strips nulls
            val in = recurse(arg0)
            val (den, guarded, denTmp) = perInstantSample(
              recurse(divArg).df, "divideSeries", "divisor", divArg, 0)
            SeriesExpr(in.df
                .join(den, Seq("tenant_id", "ts_ms"), "left")
                .withColumn("value",
                  when(guarded =!= 0.0, col("value") / guarded))
                .drop(denTmp: _*),
              None, n => s"divideSeries(${in.displayName(n)},$divArg)")
          case "diffSeries" =>
            // diffSeries(<expr>, <sub1>[, <sub2>…]) — graphite-web REDUCES
            // the whole matched list to ONE combined series, so a
            // multi-series first argument must not fan out into one entry
            // per series. Minuend = the first argument's per-instant
            // exact-DECIMAL sum (an all-null instant stays null — a
            // DOCUMENTED divergence from safeDiff, whose first-non-null
            // pick would let a subtrahend become the minuend); each
            // subtrahend instant contributes its sum, a missing instant
            // contributes 0 (Graphite's safeDiff). All sums run through
            // DECIMAL(28,2) — the crossSeriesStat recipe —
            // so output is partition-order invariant to the last ulp.
            require(args.length >= 2,
              s"diffSeries needs at least two arguments in '$t'")
            val restArgs = args.drop(1).map(_.trim)
            val dec = DecimalType(28, 2)
            val minuend = recurse(arg0).df
              .groupBy(col("tenant_id"), col("ts_ms"))
              .agg(when(count(col("value")) > 0,
                sum(col("value").cast(dec))).as("__min"))
            val sub = restArgs.map(a => recurse(a).df
                .filter(col("value").isNotNull)
                .select(col("tenant_id"), col("ts_ms"), col("value")))
              .reduce(_ unionByName _)
              .groupBy(col("tenant_id"), col("ts_ms"))
              .agg(sum(col("value").cast(dec)).as("__sub"))
            SeriesExpr(minuend
                .join(sub, Seq("tenant_id", "ts_ms"), "left")
                .withColumn("value", (col("__min") -
                  coalesce(col("__sub"), lit(0).cast(dec))).cast("double"))
                .withColumn("metric_name", lit(t))
                .select("tenant_id", "metric_name", "ts_ms", "value"),
              Some(t), identity)
          case "multiplySeries" =>
            // multiplySeries(<f1>, <f2>[, <f3>…]) — graphite-web reduces
            // ALL matched series (including several matched by one
            // argument) into ONE combined series: per instant the product
            // of every series' sample in flattened (argument, name) order,
            // null whenever ANY of the target's series misses the instant
            // or carries a null there (safeMul: any None → None). A series
            // with two samples at one instant raises IN-PLAN (the
            // divideSeries ambiguity contract — Graphite's normalized
            // timelines cannot express it). The per-instant factor list is
            // bounded by the target's series count, so the sorted fold is
            // a dashboard-sized HOF, not a corpus-scale one.
            require(args.length >= 2,
              s"multiplySeries needs at least two arguments in '$t'")
            val factorArgs = args.map(_.trim)
            val flat = factorArgs.zipWithIndex.map { case (a, i) =>
              recurse(a).df.select(col("tenant_id"), col("metric_name"),
                col("ts_ms"), col("value"), lit(i).as("__arg"))
            }.reduce(_ unionByName _)
            // total distinct factor series per tenant — the presence bar
            // every instant must clear (a series listed twice via two
            // arguments multiplies twice, as Graphite's flattened list does)
            val sTot = flat.groupBy(col("tenant_id"))
              .agg(count_distinct(struct(col("__arg"), col("metric_name")))
                .as("__stot"))
            val perInstant = flat.groupBy(col("tenant_id"), col("ts_ms"))
              .agg(
                count_distinct(struct(col("__arg"), col("metric_name")))
                  .as("__ns"),
                count(lit(1)).as("__n"),
                // left fold from 1.0 in sorted series order = Graphite's
                // left-to-right float product (1.0·v0 is exact), and the
                // sort makes it partition-order invariant
                aggregate(sort_array(collect_list(struct(col("__arg"),
                    col("metric_name"), col("value")))), lit(1.0),
                  (acc, x) => acc * x.getField("value")).as("__prod"))
            SeriesExpr(perInstant.join(broadcast(sTot), Seq("tenant_id"))
                .withColumn("value",
                  when(col("__n") > col("__ns"), raise_error(lit(
                    s"multiplySeries: a factor in '$t' has more than one " +
                      "sample at an instant — aggregate it first " +
                      "(sumSeries)")).cast("double"))
                  .when(col("__ns") === col("__stot"), col("__prod")))
                .withColumn("metric_name", lit(t))
                .select("tenant_id", "metric_name", "ts_ms", "value"),
              Some(t), identity)
          case "events" =>
            // Graphite's events(*tags) target — event markers for chart
            // overlays (drawAsInfinite style): value 1.0 at each matching
            // event instant, ONE entry named by the target text. The
            // arguments are TAGS filters, ANDed (every tag must appear in
            // the event data — the getEvents substring contract), not a
            // series expression; bare events() serves all in range.
            val tags = args.map(a => stripQuotes(a.trim))
              .filter(_.nonEmpty)
            // AND of substring matches as one regex: DOTALL lookaheads
            // from the scan position — rlike's find() accepts at index 0
            // when every tag appears somewhere in the props string
            // (event data may carry newlines); no tags → empty pattern,
            // matches all
            val rx =
              if (tags.isEmpty) ""
              else "(?s)" + tags.map(q =>
                s"(?=.*${java.util.regex.Pattern.quote(q)})").mkString
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            val frame = searchEvents(tenant, fromMs, untilMs, rx)
              .map(_.select(col("tenant_id"), lit(t).as("metric_name"),
                col("ts_ms"), lit(1.0).as("value")))
              .getOrElse(spark.range(0).select(lit("").as("tenant_id"),
                lit(t).as("metric_name"), lit(0L).as("ts_ms"),
                lit(1.0).as("value")))
            SeriesExpr(frame, Some(t), identity)
          case "exclude" | "grep" =>
            // series-NAME regex filter (Graphite's exclude/grep):
            // unanchored search against the stored series name; selection
            // serves points unchanged (RAW inner, nulls included)
            val pat = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a regex in '$t'"))
            try java.util.regex.Pattern.compile(pat) catch {
              case e: java.util.regex.PatternSyntaxException =>
                throw new IllegalArgumentException(
                  s"$fn pattern does not compile: ${e.getMessage}")
            }
            val in = recurse(arg0)
            val m = col("metric_name").rlike(pat)
            SeriesExpr(in.df.filter(if (fn == "grep") m else !m),
              in.singleName, in.nameOf, in.consolidate)
          case "aliasSub" =>
            // display-name regex substitution (Graphite's aliasSub);
            // backreferences use Java's $1 syntax
            val search = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"aliasSub needs a search regex in '$t'"))
            val replace = args.lift(2).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"aliasSub needs a replacement in '$t'"))
            val rx =
              try new scala.util.matching.Regex(search)
              catch {
                case e: java.util.regex.PatternSyntaxException =>
                  throw new IllegalArgumentException(
                    s"aliasSub pattern does not compile: ${e.getMessage}")
              }
            val in = recurse(arg0)
            SeriesExpr(in.df, None, { n =>
              // replacement errors (a $9 with no group 9, a trailing
              // backslash) only surface when a name actually matches —
              // translate them to the 400 every other malformed-argument
              // path reports, not a generic 500
              try rx.replaceAllIn(in.displayName(n), replace)
              catch {
                case e: RuntimeException =>
                  throw new IllegalArgumentException(
                    s"aliasSub replacement '$replace' failed: ${e.getMessage}")
              }
            }, in.consolidate)
          case "changed" =>
            // 1 where a sample differs from its series' previous sample,
            // else 0 (first points 0) — one lag pass, the derivatives
            // ordering convention (ties on ts break by value)
            val in = inner
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("tenant_id"), col("metric_name"))
              .orderBy(col("ts_ms"), col("value"))
            val prev = lag(col("value"), 1).over(w)
            SeriesExpr(in.df.withColumn("value",
                when(prev.isNull || prev === col("value"), lit(0.0))
                  .otherwise(lit(1.0))),
              None, n => s"changed(${in.displayName(n)})", in.consolidate)
          case "offsetToZero" =>
            // subtract each series' own minimum (baseline-to-zero view);
            // RAW inner — null arithmetic keeps null datapoints
            val in = recurse(arg0)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("tenant_id"), col("metric_name"))
            SeriesExpr(in.df.withColumn("value",
                col("value") - min(col("value")).over(w)),
              None, n => s"offsetToZero(${in.displayName(n)})",
              in.consolidate)
          case "transformNull" =>
            // pointwise null fill — RAW inner by definition (this is the
            // one function ABOUT a wrapped stage's nulls)
            val d = args.lift(1).map(a => a.trim.toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"transformNull default must be numeric in '$t'")))
              .getOrElse(0.0)
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value",
                coalesce(col("value"), lit(d))),
              None, n => s"transformNull(${in.displayName(n)},$d)",
              in.consolidate)
          case "removeAbovePercentile" | "removeBelowPercentile" |
               "nPercentile" =>
            // per-series percentile line: scrub past it (remove*) or draw
            // it (nPercentile) — the clampOutliers shape: one per-series
            // exact-percentile aggregation joined back on the identical
            // key. The frame feeds BOTH the aggregate and the probe side,
            // so materialize once (the highest*/lowest* rule).
            val pct = args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a percentile in '$t'"))
            require(pct >= 0.0 && pct <= 100.0,
              s"percentile must be in [0, 100] in '$t', got $pct")
            val in = recurse(arg0) // RAW: null datapoints pass through
            val inDf = in.df.localCheckpoint()
            val q = inDf.filter(col("value").isNotNull)
              .groupBy(col("tenant_id"), col("metric_name"))
              .agg(percentile(col("value"), lit(pct / 100.0)).as("__pv"))
            val joined = inDf.join(broadcast(q),
              Seq("tenant_id", "metric_name"), "left")
            val v = fn match {
              case "nPercentile" => col("__pv")
              case "removeAbovePercentile" =>
                when(col("value") > col("__pv"),
                  lit(null).cast("double")).otherwise(col("value"))
              case _ =>
                when(col("value") < col("__pv"),
                  lit(null).cast("double")).otherwise(col("value"))
            }
            SeriesExpr(joined.withColumn("value", v).drop("__pv"),
              None, n => s"$fn(${in.displayName(n)},$pct)", in.consolidate)
          case "removeAboveValue" | "removeBelowValue" =>
            // pointwise threshold scrub: offending values become null
            // datapoints (the series keeps its instants — Graphite draws
            // the gap); RAW inner, nulls pass through
            val thr = args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
              throw new IllegalArgumentException(
                s"$fn needs a numeric threshold in '$t'"))
            val in = recurse(arg0)
            val offending =
              if (fn == "removeAboveValue") col("value") > thr
              else col("value") < thr
            SeriesExpr(in.df.withColumn("value",
                when(offending, lit(null).cast("double"))
                  .otherwise(col("value"))),
              None, n => s"$fn(${in.displayName(n)},$thr)",
              in.consolidate)
          case "holtWintersForecast" | "holtWintersConfidenceBands" |
               "holtWintersAberration" =>
            // the Holt-Winters render family over the engine's triple-
            // exponential scan ([[graft.operators.Anomaly.holtWintersBands]]):
            // forecast, ±k·dev confidence bands (two series per input),
            // aberration (deviation outside the bands). Optional second
            // arg = season length in points (default 24 — daily seasons
            // over hourly buckets); compose over summarize/keepLastValue
            // first when serving irregular raw points (phases are
            // positional, the operator's documented cadence contract).
            val season = args.lift(1).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"season must be an integer in '$t'"))).getOrElse(24)
            require(season >= 1 && season <= 8192,
              s"season must be in [1, 8192] in '$t', got $season")
            val in = inner
            val hw = graft.operators.Anomaly.holtWintersBands(in.df, season)
            fn match {
              case "holtWintersForecast" =>
                SeriesExpr(hw.select(ser :+ col("forecast").as("value"): _*),
                  None, n => s"holtWintersForecast(${in.displayName(n)})")
              case "holtWintersAberration" =>
                val ab = when(col("value") > col("upper"),
                    col("value") - col("upper"))
                  .when(col("value") < col("lower"),
                    col("value") - col("lower"))
                  .otherwise(lit(0.0))
                SeriesExpr(hw.select(ser :+ ab.as("value"): _*),
                  None, n => s"holtWintersAberration(${in.displayName(n)})")
              case _ =>
                // two series per input, as Graphite draws them; the
                // suffix is stripped back out of the display name
                val up = hw.select(col("tenant_id"),
                  concat(col("metric_name"), lit("#hwupper"))
                    .as("metric_name"),
                  col("ts_ms"), col("upper").as("value"))
                val lo = hw.select(col("tenant_id"),
                  concat(col("metric_name"), lit("#hwlower"))
                    .as("metric_name"),
                  col("ts_ms"), col("lower").as("value"))
                SeriesExpr(up.unionByName(lo), None, { n =>
                  if (n.endsWith("#hwupper"))
                    "holtWintersConfidenceUpper(" +
                      s"${in.displayName(n.stripSuffix("#hwupper"))})"
                  else if (n.endsWith("#hwlower"))
                    "holtWintersConfidenceLower(" +
                      s"${in.displayName(n.stripSuffix("#hwlower"))})"
                  else in.displayName(n)
                })
            }
          case "alias" =>
            val name = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"alias needs a display name in '$t'"))
            val in = recurse(arg0)
            SeriesExpr(in.df, None, _ => name, in.consolidate)
          case "aliasByNode" | "aliasByMetric" =>
            // aliasByMetric is graphite-web's aliasByNode(expr, -1): the
            // display name becomes the last dot-token of the series name
            val idx =
              if (fn == "aliasByMetric") -1
              else args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
                throw new IllegalArgumentException(
                  s"aliasByNode needs a node index in '$t'"))
            val in = recurse(arg0)
            SeriesExpr(in.df, None, { n0 =>
              val n = in.displayName(n0)
              val parts = n.split('.')
              val i = if (idx < 0) parts.length + idx else idx
              require(i >= 0 && i < parts.length,
                s"$fn index $idx out of range for series '$n'")
              parts(i)
            }, in.consolidate)
          case "sortByMaxima" | "sortByTotal" | "sortByMinima" =>
            // series ORDERING (graphite-web's sortBy family): entries
            // leave in per-series-stat order instead of name order. The
            // stat rides along as a per-series __ord window column —
            // [[collectSeries]] orders by it and limit() ranks by it; the
            // whole composition stays one lazy plan, no extra pass.
            // sortByMaxima/sortByTotal sort DESCENDING (largest first);
            // sortByMinima sorts ascending by min and — graphite's own
            // quirk — drops series whose max is not > 0. RAW inner:
            // ordering serves points unchanged, nulls included.
            val in = recurse(arg0)
            val wSer = Window.partitionBy(col("tenant_id"),
              col("metric_name"))
            val dec = DecimalType(28, 2)
            val sorted = fn match {
              case "sortByMaxima" =>
                // negate for descending; an all-null series' max is NULL
                // and -NULL stays NULL → nulls-last in the entry order
                in.df.withColumn("__ord", -max(col("value")).over(wSer))
              case "sortByTotal" =>
                // exact-DECIMAL per-series sum (the crossSeriesStat
                // recipe): an ordering must not flip on partition order
                in.df.withColumn("__ord",
                  -sum(col("value").cast(dec)).over(wSer).cast("double"))
              case _ =>
                in.df
                  .withColumn("__max", max(col("value")).over(wSer))
                  .filter(col("__max") > 0.0).drop("__max")
                  .withColumn("__ord", min(col("value")).over(wSer))
            }
            in.copy(df = sorted)
          case "limit" =>
            // limit(<expr>, n) — keep the FIRST n series of the list, in
            // the list's own order: a preceding sortBy*'s __ord when
            // present, name order (the collectSeries default) otherwise.
            // Rank table is one row per series; broadcast back (the
            // highest*/lowest* selection shape). Materialize-once: the
            // frame feeds both the rank and the probe side.
            val n = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"limit needs a series count in '$t'"))
            require(n > 0, s"series count must be positive in '$t', got $n")
            val in = recurse(arg0)
            val inDf = in.df.localCheckpoint()
            val ordCol =
              if (inDf.columns.contains("__ord")) min(col("__ord"))
              else min(lit(0.0))
            val sel = inDf.groupBy(col("tenant_id"), col("metric_name"))
              .agg(ordCol.as("__o"))
              .withColumn("__rk", row_number().over(
                Window.partitionBy(col("tenant_id"))
                  .orderBy(col("__o").asc_nulls_last, col("metric_name"))))
              .filter(col("__rk") <= n)
              .select(col("tenant_id"), col("metric_name"))
            in.copy(df = inDf.join(broadcast(sel),
              Seq("tenant_id", "metric_name")))
          case "sumSeriesWithWildcards" | "averageSeriesWithWildcards" =>
            // aggregate series whose names match after REMOVING the
            // wildcard node positions; entries named by the collapsed
            // name ([[graft.operators.Series.aggregateWithWildcards]])
            val stat = if (fn.startsWith("sum")) "sum" else "mean"
            val idxs = args.drop(1).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"$fn wildcard positions must be integers in '$t'")))
            require(idxs.nonEmpty,
              s"$fn needs at least one wildcard position in '$t'")
            require(idxs.forall(_ >= 0),
              s"$fn wildcard positions must be non-negative in '$t'")
            SeriesExpr(graft.operators.Series
                .aggregateWithWildcards(inner.df, idxs, stat, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms"),
              None, identity)
          case "constantLine" =>
            // constantLine(value) — a reference line: the value drawn at
            // from, midpoint, and until (graphite-web's three points), as
            // a series NAMED by the value text. The first argument is a
            // NUMBER, not a series expression (the events() exemption
            // covers the glob requirement trivially — a number is
            // non-empty). A three-row literal frame; alias() wraps it for
            // a legend label.
            val name = stripQuotes(arg0)
            val v = name.toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"constantLine needs a numeric value in '$t'"))
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            import spark.implicits._
            SeriesExpr(Seq(fromMs, (fromMs + untilMs) / 2, untilMs).distinct
                .map(ts => (tenant, name, ts, v))
                .toDF("tenant_id", "metric_name", "ts_ms", "value"),
              Some(name), identity)
          case "group" =>
            // group(a, b, ...) — graphite's plain list combiner: the
            // union of every argument's series, points untouched. Each
            // argument's DISPLAY NAMES (a nested scale/alias renames its
            // series) are baked into the frame before the union via a
            // panel-bounded broadcast rename table — one frame cannot
            // carry per-argument nameOf functions
            require(args.nonEmpty && args.head.trim.nonEmpty,
              s"group needs at least one seriesList in '$t'")
            import spark.implicits._
            val frames = args.map { a =>
              val in = recurse(a.trim)
              val tbl = in.df.select("tenant_id", "metric_name").distinct()
                .collect()
                .map(r => (r.getString(0), r.getString(1),
                  in.displayName(r.getString(1)))).toSeq
                .toDF("tenant_id", "metric_name", "__gname")
              in.df.select("tenant_id", "metric_name", "ts_ms", "value")
                .join(broadcast(tbl), Seq("tenant_id", "metric_name"))
                .select(col("tenant_id"),
                  col("__gname").as("metric_name"), col("ts_ms"),
                  col("value"))
            }
            SeriesExpr(frames.reduce(_ unionByName _), None, identity)
          case "fallbackSeries" =>
            // fallbackSeries(series, fallback) — serve the fallback when
            // the primary matches NO series (graphite's dashboard
            // placeholder; the emptiness probe runs on the panel-bounded
            // frame the render path collects anyway)
            val fbArg = args.lift(1).map(_.trim).getOrElse(
              throw new IllegalArgumentException(
                s"fallbackSeries needs a fallback seriesList in '$t'"))
            val a = recurse(arg0)
            if (a.df.isEmpty) recurse(fbArg) else a
          case "round" =>
            // round(series, precision=0) — pointwise rounding. HALF_UP
            // (Spark's round), where graphite-web inherits python's
            // half-even — documented in /functions; exact ties at the
            // precision digit are the only divergence
            val p = args.lift(1).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"round precision must be an integer in '$t'"))).getOrElse(0)
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value", round(col("value"), p)),
              in.singleName, n => s"round(${in.displayName(n)})",
              in.consolidate)
          case "cumulative" =>
            // graphite's cumulative(series) ≡ consolidateBy(series,"sum")
            val in = recurse(arg0)
            SeriesExpr(in.df, None,
              n => s"""consolidateBy(${in.displayName(n)},"sum")""",
              Some("sum"))
          case "consolidateBy" =>
            // consolidateBy(<expr>, "func") — tag the series with the
            // statistic the FINAL maxDataPoints consolidation uses
            // (renderView's post-transform pass; default average). Pure
            // metadata: the frame passes through untouched.
            val func = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"""consolidateBy needs a function (e.g. "max") in '$t'"""))
            val norm = func match {
              case "avg" | "mean" => "average"
              case f => f
            }
            require(Set("average", "sum", "min", "max", "first", "last")
              .contains(norm), "consolidateBy function must be " +
                s"average|sum|min|max|first|last in '$t', got '$func'")
            val in = recurse(arg0)
            SeriesExpr(in.df, None,
              n => s"""consolidateBy(${in.displayName(n)},"$norm")""",
              Some(norm))
          case "hitcount" =>
            // hitcount(<expr>, "interval") — per-second rates converted
            // to absolute hits per display bucket with exact interval
            // proration ([[graft.operators.Series.hitcount]]; gap-capped)
            val ivl = ivlArg("bucket")
            val bMs = parseIntervalMs(ivl)
            val in = inner
            SeriesExpr(graft.operators.Series
                .hitcount(in.df, bMs, maxGapMs = math.max(3600000L, bMs))
                .withColumnRenamed("bucket_ms", "ts_ms")
                .withColumnRenamed("hits", "value"),
              None, n => s"""hitcount(${in.displayName(n)},"$ivl")""",
              in.consolidate)
          case "sortByName" =>
            // name order IS the collectSeries default — sortByName's job
            // is to RESET any earlier sortBy*'s __ord
            val in = recurse(arg0)
            in.copy(df = if (in.df.columns.contains("__ord"))
              in.df.drop("__ord") else in.df)
          case "removeEmptySeries" =>
            // drop series with zero non-null datapoints in the range
            val in = recurse(arg0)
            val wSer = Window.partitionBy(col("tenant_id"),
              col("metric_name"))
            in.copy(df = in.df
              .withColumn("__nn", count(col("value")).over(wSer))
              .filter(col("__nn") > 0).drop("__nn"))
          case "logarithm" | "log" =>
            // log base b (default 10); zero/negative values render null
            // (Graphite's math-domain None)
            val base = args.lift(1).flatMap(_.trim.toDoubleOption)
              .getOrElse(10.0)
            require(base > 0 && base != 1.0,
              s"logarithm base must be > 0 and != 1 in '$t', got $base")
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value",
                when(col("value") > 0, log(base, col("value")))),
              None, n => s"log(${in.displayName(n)},$base)",
              in.consolidate)
          case "invert" =>
            // pointwise 1/x; zero renders null (safeDiv)
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value",
                when(col("value") =!= 0.0, lit(1.0) / col("value"))),
              None, n => s"invert(${in.displayName(n)})", in.consolidate)
          case "minMax" =>
            // per-series [0,1] feature scaling; zero-range series render
            // null (F6 safe-div) — Series.minMaxNormalize
            val in = recurse(arg0)
            SeriesExpr(graft.operators.Series.minMaxNormalize(in.df),
              None, n => s"minMax(${in.displayName(n)})", in.consolidate)
          case "stdev" =>
            // stdev(<expr>, points) — trailing stddev over the last N
            // samples (Series.stdevRows: one incremental prefix-pair
            // WindowExec, never a re-aggregating ROWS frame)
            val nPts = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"stdev needs a points count in '$t'"))
            require(nPts > 0, s"stdev points must be positive in '$t'")
            val in = recurse(arg0)
            SeriesExpr(graft.operators.Series.stdevRows(in.df, nPts),
              None, n => s"stdev(${in.displayName(n)},$nPts)",
              in.consolidate)
          case "movingMedian" =>
            // movingMedian(<expr>, points | "interval") — trailing EXACT
            // median over the last N samples (ROWS) or the last interval
            // (RANGE, graphite's usual form). A rank statistic has no
            // prefix form, so both run the render-sized bounded collect
            // + one codegen'd sorted-buffer scan, never a per-row
            // re-aggregated frame (Series.movingMedianRows/Time)
            val winArg = args.lift(1).map(_.trim).getOrElse(
              throw new IllegalArgumentException(
                s"movingMedian needs a window in '$t'"))
            val in = recurse(arg0)
            winArg.toIntOption match {
              case Some(nPts) =>
                require(nPts > 0,
                  s"movingMedian points must be positive in '$t'")
                SeriesExpr(
                  graft.operators.Series.movingMedianRows(in.df, nPts),
                  None, n => s"movingMedian(${in.displayName(n)},$nPts)",
                  in.consolidate)
              case None =>
                val ivl = stripQuotes(winArg)
                val windowMs = parseIntervalMs(ivl)
                SeriesExpr(
                  graft.operators.Series.movingMedianTime(in.df, windowMs),
                  None, n => s"""movingMedian(${in.displayName(n)},"$ivl")""",
                  in.consolidate)
            }
          case "divideSeriesLists" =>
            // positional pairing of two series lists (both sorted by
            // name); unequal lengths raise IN-PLAN → a 400 here — the
            // graphite contract (Series.divideSeriesLists)
            val divArg = args.lift(1).map(_.trim).getOrElse(
              throw new IllegalArgumentException(
                s"divideSeriesLists needs a divisor seriesList in '$t'"))
            val a = recurse(arg0)
            val b = recurse(divArg)
            // alignOuter: graphite-web None-parity — an instant present
            // on only one side renders a null datapoint, never a silently
            // thinned series (F6 null result either way)
            SeriesExpr(graft.operators.Series.divideSeriesLists(
                a.df.select("tenant_id", "metric_name", "ts_ms", "value"),
                b.df.select("tenant_id", "metric_name", "ts_ms", "value"),
                alignOuter = true),
              None, identity)
          case "timeSlice" =>
            // timeSlice(<expr>, "start"[, "end"]) — values outside the
            // window render null datapoints (Graphite keeps the grid)
            val startArg = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"timeSlice needs a start time in '$t'"))
            val sMs = graft.core.DateTimeParser.parseMillis(startArg, now)
            val eMs = args.lift(2).map(a =>
              graft.core.DateTimeParser.parseMillis(stripQuotes(a), now))
              .getOrElse(now)
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value",
                when(col("ts_ms") >= sMs && col("ts_ms") <= eMs,
                  col("value"))),
              None, n => s"timeSlice(${in.displayName(n)},$startArg)",
              in.consolidate)
          case "averageOutsidePercentile" =>
            // keep series whose mean lies OUTSIDE the [100-n, n]
            // percentile band of all the matched series' means
            // (graphite-web folds n<50 to 100-n)
            val n0 = args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
              throw new IllegalArgumentException(
                s"averageOutsidePercentile needs a percentile in '$t'"))
            require(n0 >= 0 && n0 <= 100,
              s"percentile must be in [0, 100] in '$t', got $n0")
            val nn = if (n0 < 50) 100 - n0 else n0
            val in = recurse(arg0)
            val inDf = in.df.localCheckpoint()
            val means = inDf.groupBy(col("tenant_id"), col("metric_name"))
              .agg((sum(col("value").cast(DecimalType(28, 2))).cast("double")
                / count(col("value"))).as("__m"))
            val bands = means.groupBy(col("tenant_id")).agg(
              expr(s"percentile(__m, ${(100 - nn) / 100.0})").as("__lo"),
              expr(s"percentile(__m, ${nn / 100.0})").as("__hi"))
            val sel = means.join(broadcast(bands), Seq("tenant_id"))
              .filter(!(col("__m") > col("__lo") && col("__m") < col("__hi")))
              .select(col("tenant_id"), col("metric_name"))
            in.copy(df = inDf.join(broadcast(sel),
              Seq("tenant_id", "metric_name")))
          case "linearRegression" =>
            // per-series least-squares fit served AT the input instants —
            // the fit reuses Series.linearTrend's integer-exact
            // accumulators (slope per minute over (ts-min) div 60000
            // offsets), and the drawn line uses the same integer offsets
            val in = inner
            val inDf = in.df.localCheckpoint()
            val fit = graft.operators.Series
              .linearTrend(inDf, horizonS = 0.0, threshold = Double.MaxValue)
              .select(col("tenant_id"), col("metric_name"),
                col("slope_per_s"), col("intercept"))
            val wSer = Window.partitionBy(col("tenant_id"),
              col("metric_name"))
            SeriesExpr(inDf
                .withColumn("__min", min(col("ts_ms")).over(wSer))
                .join(broadcast(fit), Seq("tenant_id", "metric_name"))
                .withColumn("value", col("intercept") +
                  col("slope_per_s") * lit(60.0) *
                  floor((col("ts_ms") - col("__min")) / lit(60000L)))
                .drop("__min", "slope_per_s", "intercept"),
              None, n => s"linearRegression(${in.displayName(n)})",
              in.consolidate)
          case "weightedAverage" =>
            // weightedAverage(<avgExpr>, <weightExpr>, n1[, n2…]) — pair
            // the two lists by node tokens, serve Σ(a·w)/Σ(w) per instant
            // ([[graft.operators.Series.weightedAverage]])
            require(args.length >= 3,
              s"weightedAverage needs two series lists and node indexes in '$t'")
            val idxs = args.drop(2).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"weightedAverage node indexes must be integers in '$t'")))
            val aIn = recurse(arg0).df
            val wIn = recurse(args(1).trim).df
            SeriesExpr(graft.operators.Series
                .weightedAverage(aIn, wIn, idxs, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms")
                .drop("n_keys"),
              Some(t), identity)
          case "smartSummarize" =>
            // smartSummarize(<expr>,"<interval>"[,"<func>"]) — summarize
            // with buckets aligned to the REQUEST'S from instead of the
            // epoch snap (graphite-web's exact difference between the
            // two): bucket k covers [from + k·ivl, from + (k+1)·ivl)
            val ivl = ivlArg("display")
            val ivlMs = parseIntervalMs(ivl)
            val stat = args.lift(2).map(stripQuotes).getOrElse("sum")
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val in = inner
            val shifted = graft.operators.Series
              .smartSummarize(in.df, fromMs, ivlMs, stat)
              .withColumnRenamed("bucket_ms", "ts_ms")
            SeriesExpr(shifted, None,
              n => s"""smartSummarize(${in.displayName(n)},"$ivl","$stat")""",
              in.consolidate)
          case "integralByInterval" =>
            // integralByInterval(<expr>,"<interval>") — running total
            // RESET at each interval boundary (graphite's daily-counter
            // view). Same exact-DECIMAL accumulation as integral(), the
            // window additionally partitioned by the epoch-snapped bucket
            val ivl = ivlArg("reset")
            val ivlMs = parseIntervalMs(ivl)
            val in = inner
            SeriesExpr(graft.operators.Series
                .integralByInterval(in.df, ivlMs),
              None,
              n => s"""integralByInterval(${in.displayName(n)},"$ivl")""",
              in.consolidate)
          case "timeStack" =>
            // timeStack(<expr>,"<shiftUnit>"[,start[,end]]) — one entry
            // per shift i in [start, end]: the subtree evaluated under
            // [from − i·unit, until − i·unit], drawn at the requested
            // instants (this week stacked over the previous N weeks).
            // Each copy re-fetches like timeShift; the copy count is
            // capped — every copy is a full subtree evaluation
            val ivl = ivlArg("shift")
            val unitMs = parseIntervalMs(ivl)
            val start = args.lift(2).flatMap(_.trim.toIntOption).getOrElse(0)
            val end = args.lift(3).flatMap(_.trim.toIntOption).getOrElse(7)
            require(start >= 0 && end >= start,
              s"timeStack needs 0 <= start <= end in '$t'")
            require(end - start + 1 <= 16,
              s"timeStack copies capped at 16 in '$t', got ${end - start + 1}")
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            val copies = (start to end).map { i =>
              val shiftMs = i.toLong * unitMs
              val sub = recurse(arg0, s"${(fromMs - shiftMs) / 1000}",
                s"${(untilMs - shiftMs) / 1000}")
              (i, sub, sub.df
                .withColumn("ts_ms", col("ts_ms") + lit(shiftMs))
                .withColumn("metric_name",
                  concat(col("metric_name"), lit(s"#tstack$i"))))
            }
            val subByI = copies.map(c => c._1 -> c._2).toMap
            SeriesExpr(copies.map(_._3).reduce(_ unionByName _), None, { n =>
              val m = "#tstack(\\d+)$".r.findFirstMatchIn(n)
              m.fold(n) { mm =>
                val i = mm.group(1).toInt
                val base = n.stripSuffix(s"#tstack$i")
                // the shift renders in seconds: "-2·1d" has no single
                // interval literal, "-172800s" always does
                val secs = i.toLong * unitMs / 1000
                s"""timeShift(${subByI(i).displayName(base)},"-${secs}s")"""
              }
            })
          case "applyByNode" =>
            // applyByNode(<glob>, n, "template"[, "newName"]) — for each
            // distinct node-prefix (tokens 0..n) of the matched series,
            // evaluate the template with '%' replaced by the prefix; the
            // per-prefix results union into one entry list. The prefix
            // set is a driver-side distinct over the MATCHED NAMES (one
            // tiny job, bounded by the panel's series count) and capped:
            // each prefix is a full subtree evaluation
            val nodeN = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"applyByNode needs a node index in '$t'"))
            require(nodeN >= 0, s"node index must be >= 0 in '$t'")
            val template = args.lift(2).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"applyByNode needs a template in '$t'"))
            val newName = args.lift(3).map(stripQuotes)
            val prefixes = recurse(arg0).df
              .select(array_join(slice(split(col("metric_name"), "\\."),
                1, nodeN + 1), ".").as("__pre"))
              .distinct().limit(65).collect().map(_.getString(0))
              .sorted.toSeq
            require(prefixes.length <= 64,
              s"applyByNode matches > 64 node prefixes in '$t' — " +
                "narrow the glob")
            require(prefixes.nonEmpty,
              s"applyByNode matched no series in '$t'")
            val subs = prefixes.zipWithIndex.map { case (pre, i) =>
              val sub = recurse(template.replace("%", pre))
              (i, pre, sub, sub.df.withColumn("metric_name",
                concat(lit(s"#abn$i#"), col("metric_name"))))
            }
            val byI = subs.map(s => s._1 -> (s._2, s._3)).toMap
            SeriesExpr(subs.map(_._4).reduce(_ unionByName _), None, { n =>
              "^#abn(\\d+)#".r.findFirstMatchIn(n).fold(n) { mm =>
                val i = mm.group(1).toInt
                val (pre, sub) = byI(i)
                val base = n.stripPrefix(s"#abn$i#")
                newName.fold(sub.displayName(base))(_.replace("%", pre))
              }
            })
          case "mapSeries" =>
            // mapSeries(<expr>, n[, n2…]) — graphite's grouped list; the
            // grouping only MATERIALIZES inside reduceSeries (below),
            // so standalone rendering serves the series unchanged
            val idxs = args.drop(1).map(a => a.trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"mapSeries node indexes must be integers in '$t'")))
            require(idxs.nonEmpty,
              s"mapSeries needs at least one node index in '$t'")
            recurse(arg0)
          case "reduceSeries" =>
            // reduceSeries(mapSeries(<glob>, m), "func", n, "k1", "k2") —
            // pair series that agree on every name token EXCEPT node n
            // (the practical content of the mapSeries grouping), match
            // the two reduce keys at node n, and serve func(k1, k2) per
            // instant; entries named with node n replaced by
            // "reduce.<func>" (graphite-web's output shape). Supported
            // reducers: asPercent, divideSeries, diffSeries — the
            // two-argument reducers graphite ships
            require(args.length == 5, "reduceSeries takes " +
              s"(mapSeries, func, reduceNode, matcher1, matcher2) in '$t'")
            val func = stripQuotes(args(1).trim)
            require(Set("asPercent", "divideSeries", "diffSeries")
              .contains(func),
              s"reduceSeries func must be asPercent|divideSeries|" +
                s"diffSeries in '$t', got '$func'")
            val rn = args(2).trim.toIntOption.getOrElse(
              throw new IllegalArgumentException(
                s"reduceSeries needs a reduce node index in '$t'"))
            require(rn >= 0, s"reduce node must be >= 0 in '$t'")
            val (m1, m2) = (stripQuotes(args(3).trim),
              stripQuotes(args(4).trim))
            // alignOuter: graphite-web None-parity for one-sided instants
            SeriesExpr(graft.operators.Series
                .reduceSeriesPairs(inner.df, rn, m1, m2, func,
                  alignOuter = true),
              None, identity)
          case "stacked" | "secondYAxis" | "drawAsInfinite" | "lineWidth" |
               "dashed" | "color" =>
            // PRESENTATION tags — rendering is the dashboard's job on
            // this JSON API, so the frame passes through untouched; the
            // display name wraps exactly where graphite-web wraps it
            // (stacked/secondYAxis/drawAsInfinite/dashed) and stays bare
            // where graphite-web keeps it (lineWidth/color), so mixed
            // dashboards never 400 on a cosmetic tag
            val in = recurse(arg0)
            val wrapName: String => String = fn match {
              case "lineWidth" | "color" => in.displayName
              case "stacked" if args.length > 1 => in.displayName
              case "dashed" =>
                val d = args.lift(1).flatMap(_.trim.toDoubleOption)
                  .getOrElse(5.0)
                n => s"dashed(${in.displayName(n)}, $d)"
              case _ => n => s"$fn(${in.displayName(n)})"
            }
            SeriesExpr(in.df, None, wrapName, in.consolidate)
          case "aggregate" =>
            // aggregate(<expr>, "func") — graphite 1.1's general combiner
            // (what Grafana's editor emits for sum/avg/... since 1.1);
            // dispatches onto the same aggregateSeries machinery as the
            // sumSeries family
            val func = args.lift(1).map(stripQuotes).getOrElse(
              throw new IllegalArgumentException(
                s"aggregate needs a function name in '$t'"))
            val stat = func match {
              case "sum" | "total" => "sum"
              case "avg" | "average" | "mean" => "mean"
              case "max" => "max"
              case "min" => "min"
              case "count" => "count"
              case "range" | "rangeOf" => "range"
              case "stddev" => "stddev"
              case other => throw new IllegalArgumentException(
                s"aggregate func must be one of sum|avg|max|min|count|" +
                  s"range|stddev in '$t', got '$other'")
            }
            SeriesExpr(graft.operators.Series
                .aggregateSeries(inner.df, "*", stat, bucketMs = 1L)
                .withColumnRenamed("bucket_ms", "ts_ms"),
              Some(t), identity)
          case "exponentialMovingAverage" =>
            // exponentialMovingAverage(<expr>, n) — EMA with smoothing
            // 2/(n+1) over the series' POINTS (graphite's integer form;
            // its interval form assumes fixed-step storage, which this
            // irregular store deliberately rejects — summarize/resample
            // first). Runs the codegen EwmaScan the alert scorers use;
            // seeded at the first sample.
            val n = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                "exponentialMovingAverage needs an integer point count " +
                  s"in '$t' (interval strings assume fixed-step storage " +
                  "— summarize/keepLastValue first)"))
            require(n >= 1, s"point count must be >= 1 in '$t', got $n")
            val in = inner
            SeriesExpr(graft.operators.Anomaly
                .ewmaBands(in.df, alpha = 2.0 / (n + 1))
                .select(ser :+ col("ewma").as("value"): _*),
              None, n0 => s"exponentialMovingAverage(${in.displayName(n0)},$n)",
              in.consolidate)
          case "threshold" =>
            // threshold(value[, "label"[, "color"]]) — a constantLine
            // with a legend label (color is presentation, passed through)
            val v = stripQuotes(arg0).toDoubleOption.getOrElse(
              throw new IllegalArgumentException(
                s"threshold needs a numeric value in '$t'"))
            val name = args.lift(1).map(stripQuotes).filter(_.nonEmpty)
              .getOrElse(stripQuotes(arg0))
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            import spark.implicits._
            SeriesExpr(Seq(fromMs, (fromMs + untilMs) / 2, untilMs).distinct
                .map(ts => (tenant, name, ts, v))
                .toDF("tenant_id", "metric_name", "ts_ms", "value"),
              Some(name), identity)
          case "aggregateLine" =>
            // aggregateLine(<expr>[, "func"]) — per-series horizontal
            // line at the series' own stat, drawn at from/mid/until
            // (graphite's three-point line); per-series stat table is one
            // row per series, cross-joined with the 3 instants
            val func = args.lift(1).map(stripQuotes).getOrElse("avg")
            val stat = func match {
              case "avg" | "average" | "mean" => "mean"
              case "last" | "current" => "last"
              case f => f
            }
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            import spark.implicits._
            val instants = Seq(fromMs, (fromMs + untilMs) / 2, untilMs)
              .distinct.toDF("ts_ms")
            val in = recurse(arg0)
            val statTable = graft.operators.Series
              .topSeries(in.df, Int.MaxValue, stat)
              .select(col("tenant_id"), col("metric_name"),
                col("stat_value").as("value"))
            SeriesExpr(statTable.crossJoin(broadcast(instants))
                .select("tenant_id", "metric_name", "ts_ms", "value"),
              None,
              n => s"""aggregateLine(${in.displayName(n)}, '$func')""")
          case "identity" | "timeFunction" =>
            // identity("name"[, step]) — epoch seconds drawn on a uniform
            // grid (graphite's time ramp; step defaults 60 s), bounded by
            // the panel grid cap like every grid generator here
            val name = stripQuotes(arg0)
            val stepS = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(60)
            require(stepS >= 1, s"step must be >= 1 in '$t', got $stepS")
            val fromMs = graft.core.DateTimeParser.parseMillis(from, now)
            val untilMs = graft.core.DateTimeParser.parseMillis(until, now)
            val n = (untilMs - fromMs) / (stepS * 1000L) + 1L
            require(n <= graft.operators.Series.MaxGridPointsPerSeries,
              s"identity grid too fine: $n points > " +
                s"${graft.operators.Series.MaxGridPointsPerSeries} in '$t'")
            SeriesExpr(spark.range(n).select(
                lit(tenant).as("tenant_id"), lit(name).as("metric_name"),
                (lit(fromMs) + col("id") * (stepS * 1000L)).as("ts_ms"),
                ((lit(fromMs) + col("id") * (stepS * 1000L)) / 1000L)
                  .cast("double").as("value")),
              Some(name), identity)
          case "delay" =>
            // delay(<expr>, steps) — each series' values shifted by N
            // points (negative = forward); vacated points render null.
            // RAW inner: a wrapped stage's nulls shift along
            val steps = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(
              throw new IllegalArgumentException(
                s"delay needs an integer step count in '$t'"))
            val in = recurse(arg0)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("tenant_id"), col("metric_name"))
              .orderBy(col("ts_ms"), col("value"))
            SeriesExpr(in.df.withColumn("value", lag(col("value"), steps).over(w)),
              None, n => s"delay(${in.displayName(n)},$steps)",
              in.consolidate)
          case "isNonNull" =>
            // pointwise presence flag (1.0 where a datapoint exists)
            val in = recurse(arg0)
            SeriesExpr(in.df.withColumn("value",
                when(col("value").isNotNull, lit(1.0)).otherwise(lit(0.0))),
              None, n => s"isNonNull(${in.displayName(n)})", in.consolidate)
          case "pow" | "squareRoot" =>
            // pointwise power; graphite's safePow renders None where the
            // real-valued result is undefined (negative base under a
            // fractional exponent), which Spark's pow signals as NaN
            val k = fn match {
              case "squareRoot" => 0.5
              case _ => args.lift(1).flatMap(_.trim.toDoubleOption).getOrElse(
                throw new IllegalArgumentException(
                  s"pow needs a numeric exponent in '$t'"))
            }
            val in = recurse(arg0)
            val p = pow(col("value"), lit(k))
            SeriesExpr(in.df.withColumn("value", when(!isnan(p), p)),
              None,
              n => if (fn == "squareRoot") s"squareRoot(${in.displayName(n)})"
                   else s"pow(${in.displayName(n)},$k)",
              in.consolidate)
          case "substr" =>
            // substr(<expr>, start[, stop]) — display name sliced to the
            // dot-node range [start, stop), stop 0 = end; negative
            // indexes count from the end (graphite's python slicing)
            val start = args.lift(1).flatMap(_.trim.toIntOption).getOrElse(0)
            val stop = args.lift(2).flatMap(_.trim.toIntOption).getOrElse(0)
            val in = recurse(arg0)
            SeriesExpr(in.df, None, { n0 =>
              // graphite slices the UNDERLYING node list of the fetched
              // series; for composed names the display text slices
              val parts = in.displayName(n0).split('.')
              val s0 = if (start < 0) (parts.length + start) max 0 else start min parts.length
              val s1 = if (stop == 0) parts.length
                       else if (stop < 0) (parts.length + stop) max 0
                       else stop min parts.length
              if (s0 >= s1) "" else parts.slice(s0, s1).mkString(".")
            }, in.consolidate)
          case "verticalLine" =>
            // verticalLine("ts"[, "label"]) — a single marker instant
            // (the JSON API serves the point; drawing the vertical is the
            // dashboard's job, the events() convention)
            val tsArg = stripQuotes(arg0)
            val tsMs = graft.core.DateTimeParser.parseMillis(tsArg, now)
            val name = args.lift(1).map(stripQuotes).filter(_.nonEmpty)
              .getOrElse(t)
            import spark.implicits._
            SeriesExpr(Seq((tenant, name, tsMs, 1.0))
                .toDF("tenant_id", "metric_name", "ts_ms", "value"),
              Some(name), identity)
          case "interpolate" =>
            // interpolate(<expr>) — null datapoints filled linearly
            // between their nearest non-null neighbors WITHIN the series;
            // leading/trailing nulls stay null (graphite's interpolate).
            // Both lookups are incremental [unbounded, current] frames
            // (the resampleImpl reversed-sort trick for the next side) —
            // never a per-row forward re-aggregation
            val in = recurse(arg0)
            val fwd = org.apache.spark.sql.expressions.Window
              .partitionBy(col("tenant_id"), col("metric_name"))
              .orderBy(col("ts_ms"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val bwd = org.apache.spark.sql.expressions.Window
              .partitionBy(col("tenant_id"), col("metric_name"))
              .orderBy(col("ts_ms").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val pv = last(when(col("value").isNotNull, col("value")), true).over(fwd)
            val pt = last(when(col("value").isNotNull, col("ts_ms")), true).over(fwd)
            val nv = last(when(col("value").isNotNull, col("value")), true).over(bwd)
            val nt = last(when(col("value").isNotNull, col("ts_ms")), true).over(bwd)
            SeriesExpr(in.df.withColumn("value",
                when(col("value").isNotNull, col("value"))
                  .when(pv.isNotNull && nv.isNotNull && nt =!= pt,
                    pv + (nv - pv) * (col("ts_ms") - pt) / (nt - pt))),
              None, n => s"interpolate(${in.displayName(n)})",
              in.consolidate)
          case other => throw new IllegalArgumentException(
            s"unknown render function '$other' in target '$t'")
        }
      case glob => // bare glob: raw serve through the kind-routed read
        SeriesExpr(numericPoints(tenant, glob, isGlob = true, from, until,
          points, resolution, now), None, identity)
    }
  }

  /** Row-capped collect of a series frame into render entries:
    * `(target name, [(value, epoch_s)])` — one entry per series when
    * `singleName` is None, else one entry named by the target expression.
    * The limit is pushed INTO the query (the [[seriesJson]] contract), so
    * an over-budget render never reaches the facade heap. */
  private def collectSeries(df: org.apache.spark.sql.DataFrame, tsCol: String,
      vCol: String, singleName: Option[String],
      nameOf: String => String = identity)
      : Seq[(String, Seq[(Option[Double], Long)])] = {
    val cap = MaxSeriesPanelPoints
    // a sortBy*() stage leaves a per-series __ord column: the entry list
    // then orders by it (nulls last — a dataless series never leads),
    // name-then-ts otherwise (the default Graphite list order)
    val ord: Seq[org.apache.spark.sql.Column] =
      if (df.columns.contains("__ord"))
        Seq(col("__ord").asc_nulls_last, col("metric_name"), col("ts"))
      else Seq(col("metric_name"), col("ts"))
    val rows = df.select(Seq(col("metric_name"),
        col(tsCol).cast("long").as("ts"), col(vCol).cast("double").as("v")) ++
        (if (df.columns.contains("__ord")) Seq(col("__ord")) else Nil): _*)
      .orderBy(ord: _*)
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"render result exceeds $cap points — narrow the range, lower " +
        "maxDataPoints, or decimate (lttb/m4)")
    // grouped by the SERIES, renamed only at emit: two series that an
    // alias() maps onto the same display name stay separate entries with
    // their own time-ordered datapoints (the Graphite shape), never one
    // entry with interleaved points
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Option[Double], Long)]]
    rows.foreach { r =>
      val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      out.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty) += ((v, r.getLong(1) / 1000L))
    }
    out.toSeq.map { case (n, b) => singleName.getOrElse(nameOf(n)) -> b.toSeq }
  }

  /** Graphite's final presentation-level consolidation: when a finished
    * series carries more datapoints than maxDataPoints, consecutive runs
    * of ceil(n/maxDataPoints) points collapse to one via the series'
    * consolidateBy statistic (default average, None-skipping — an all-null
    * run stays a null datapoint), timestamped at the run's first instant —
    * graphite-web's exact consolidate() shape. Driver-side ON PURPOSE: it
    * runs on the ALREADY row-capped [[collectSeries]] output (never the
    * point stream), the same place graphite-web consolidates its fetched
    * lists, so the panel cap bounds the work. */
  private def consolidatePoints(dps: Seq[(Option[Double], Long)], maxN: Int,
      func: String): Seq[(Option[Double], Long)] =
    if (dps.length <= maxN) dps
    else {
      val factor = (dps.length + maxN - 1) / maxN
      dps.grouped(factor).map { g =>
        val vs = g.flatMap(_._1)
        val v: Option[Double] =
          if (vs.isEmpty) None
          else Some(func match {
            case "sum" => vs.sum
            case "min" => vs.min
            case "max" => vs.max
            case "first" => vs.head
            case "last" => vs.last
            case _ => vs.sum / vs.size
          })
        (v, g.head._2)
      }.toSeq
    }

  /** One-sample-per-instant pick of a render subexpression — the shared
    * divisor/factor contract of divideSeries/multiplySeries: per
    * (tenant, instant) the single non-null sample, with ambiguity raising
    * IN-PLAN (surfaced as a 400 by renderView's USER_RAISED_EXCEPTION
    * translation — the message shape and the F6 null rules live HERE so
    * the two arms cannot drift). Returns the aggregated frame to
    * left-join on (tenant_id, ts_ms), the guarded value column, and the
    * temp columns to drop after the join. */
  private def perInstantSample(df: org.apache.spark.sql.DataFrame,
      fn: String, what: String, arg: String, idx: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
         Seq[String]) = {
    val v = s"__pis_$idx"
    val c = s"__pisn_$idx"
    val lo = s"__pislo_$idx"
    val hi = s"__pishi_$idx"
    val m = s"__pism_$idx"
    val g0 = df.filter(col("value").isNotNull)
      .groupBy(col("tenant_id"), col("ts_ms"))
      .agg(max(col("value")).as(v), count(lit(1)).as(c),
        min(col("metric_name")).as(lo), max(col("metric_name")).as(hi))
    // FRAME-WIDE multi-series detection: a multi-series divisor whose
    // series have DISJOINT timestamps passes the per-instant count guard
    // yet silently interleaves series into one denominator — graphite-web
    // rejects a multi-series divisor outright. min/max name over the
    // per-tenant window is a cheap exact distinct>1 test on the already
    // instant-grouped (render-sized) frame.
    val g = g0.withColumn(m,
        min(col(lo)).over(Window.partitionBy(col("tenant_id"))) =!=
          max(col(hi)).over(Window.partitionBy(col("tenant_id"))))
      .drop(lo, hi)
    val guarded = when(col(m) || col(c) > 1, raise_error(lit(
        s"$fn: $what '$arg' has more than one sample at an instant or " +
          "matches more than one series — aggregate it first (sumSeries)"))
        .cast("double"))
      .otherwise(col(v))
    (g, guarded, Seq(v, c, m))
  }

  /** Kind-routed NUMERIC point read for one metric spec — the shared data
    * plane of the series panel and the `/render` surface. `isGlob=false`
    * escapes the name to a literal locator (the per-series panel fns);
    * `isGlob=true` resolves through the discovery catalog with the O2
    * batch cap enforced WHILE resolving (a '*' glob on a million-locator
    * store must 400 on the limit without materializing every match —
    * limit+1 distinguishes at-the-cap from over). Family routing uses the
    * routeKind ambiguity machinery; each family serves its OWN per-bucket
    * value (hardcoding "average" would read an all-NULL padding column for
    * gauge/counter/set and silently render a populated series as an empty
    * panel). String metrics 400. */
  private def numericPoints(tenant: String, name: String, isGlob: Boolean,
      from: String, to: String, points: Option[Int],
      resolution: Option[Granularity], now: Long): DataFrame = {
    val snap = catalogSnapshot(tenant)
    val kind =
      if (isGlob) {
        val cap = MetricsQueryApi.MaxMetricsPerBatchQuery
        val resolved = MetricsQueryApi.searchCatalog(spark, storeDir, snap,
          tenant, name, cap + 1).map(_._1)
        require(resolved.length <= cap,
          s"batch query resolves > $cap metrics")
        routeKind(snap, tenant, resolved)
      } else routeKind(snap, tenant, Seq(name))
    require(kind != "string",
      s"series functions require a numeric metric; '$name' is a string metric")
    val (statName, valueCol) = kind match {
      case "gauge" => ("latest", "latest_v")
      case "counter" => ("sum", "sum_v")
      case "set" => ("numPoints", "num_points") // bucket cardinality
      case _ => ("average", "average") // basic, timer
    }
    val p = MetricsQueryApi.Params(tenant,
      if (isGlob) name else graft.core.GlobPattern.escapeLiteral(name),
      from, to, points, resolution, Seq(statName))
    val frame = kind match {
      case "basic" => MetricsQueryApi.getRollupsStored(spark, storeDir, p, now,
        dirtyDays = pendingBasic, snapshot = snap)
      case k => MetricsQueryApi.getPreaggStored(spark, storeDir, p, k, now,
        dirtyDays = pendingPreagg, snapshot = snap)
    }
    frame.select(col("tenant_id"), col("metric_name"),
        col("bucket_ms").cast("long").as("ts_ms"),
        col(valueCol).cast("double").as("value"))
      .filter(col("value").isNotNull)
  }

  /** Generic series-panel JSON: every non-key column verbatim, `ts_ms`
    * surfaced as `timestamp` (the views convention); row order by ts_ms
    * when present. `{"metric": …, "function_values": [{…}], "metadata":
    * {"count": n}}`. The collect is CAPPED at
    * [[MetricsHttpServer.MaxSeriesPanelPoints]] (limit pushed into the
    * query, so an over-budget result never reaches the facade heap): the
    * per-point routes (mad, resample, ewma) at `resolution=full` over a
    * wide range are otherwise the one facade path with no row bound —
    * the batch views path is O2-capped and resolution-budgeted. Over the
    * cap → descriptive 400 (IAE) naming the limit. */
  private[http] def seriesJson(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val cap = MaxSeriesPanelPoints
    val hasTs = df.columns.contains("ts_ms")
    val ordered = if (hasTs) df.orderBy("tenant_id", "metric_name", "ts_ms") else df
    val fields = df.columns.filterNot(Set("tenant_id", "metric_name"))
    def jVal(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case s: String => jStr(s)
      case x => x.toString
    }
    val collected = ordered.limit(cap + 1).collect()
    require(collected.length <= cap,
      s"series result exceeds $cap points — narrow the range, use a coarser " +
        "resolution, or decimate (lttb/m4)")
    val rows = collected.map { r =>
      fields.map {
        case "ts_ms" => s""""timestamp": ${r.getAs[Long]("ts_ms")}"""
        case f => s""""$f": ${jVal(r.getAs[Any](f))}"""
      }.mkString("{", ", ", "}")
    }
    s"""{"metric": ${jStr(name)}, "function_values": [${rows.mkString(", ")}], """ +
      s""""metadata": {"count": ${rows.length}}}"""
  }

  /** The family a views read routes to — the facade's analog of the
    * reference's rollup_type metadata cache: families come from the
    * store's [[graft.core.CatalogSnapshot]] (validated against the
    * catalog's fence on every request, so an ingest by this or any other
    * process routes correctly at the next request). A locator living in
    * MORE THAN ONE family, or a request mixing families, fails loud — the
    * reference serves each locator from its own column family; a single
    * library call cannot, and silently dropping the minority family would
    * be a lying 200. */
  private def routeKind(snap: Option[CatalogSnapshot.Tenant], tenant: String,
      names: Seq[String]): String = {
    val known = probeFamilies(snap, tenant, names)
    known.collectFirst { case (n, fs) if fs.size > 1 =>
      throw new IllegalArgumentException(
        s"metric '$n' has data in multiple families (${fs.mkString(", ")})" +
          "; resolve the ingest conflict before querying")
    }
    val fams = known.values.flatten.toSeq.distinct
    if (fams.size > 1) throw new IllegalArgumentException(
      s"metrics span families (${fams.mkString(", ")}); query them separately")
    // unknown locators ride along with the known family (they serve empty
    // downstream, as in the reference); all-unknown requests read basic
    fams.headOption.getOrElse("basic")
  }

  /** The tenant's catalog snapshot, fence-checked once per request and
    * passed to every catalog lookup the request makes; None for a store
    * without a complete catalog. */
  private def catalogSnapshot(tenant: String): Option[CatalogSnapshot.Tenant] =
    CatalogSnapshot.tenant(spark, storeDir, tenant)

  /** Every family each of `names` is known under (unknown names absent) —
    * multi-membership is the caller's ambiguity signal, not silently
    * collapsed. Served from the catalog snapshot; stores predating the
    * catalog fall back to probing the raw tables themselves (isin
    * pushdown over preagg_raw / metrics_string / metrics_full — correct,
    * but three table scans at 100 TB, which is exactly why the catalog
    * exists). */
  private def probeFamilies(snap: Option[CatalogSnapshot.Tenant],
      tenant: String, names: Seq[String]): Map[String, Set[String]] =
    snap match {
      case Some(snap) =>
        names.map(n => n -> snap.familiesOf(n)).filter(_._2.nonEmpty).toMap
      case None =>
        val nameCol = col("metric_name").isin(names: _*) &&
          col("tenant_id") === tenant
        def hits(table: String, famCol: org.apache.spark.sql.Column) =
          if (!IngestStream.hasParquetData(spark, s"$storeDir/$table")) Nil
          else spark.read.parquet(s"$storeDir/$table").filter(nameCol)
            .select(col("metric_name"), famCol.as("fam")).distinct()
            .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
        val all = hits("preagg_raw", col("kind")) ++
          hits("metrics_string", lit("string")) ++
          hits("metrics_full", lit("basic"))
        all.groupBy(_._1).map { case (n, fs) => n -> fs.map(_._2).toSet }
    }

  private def metricsSearch(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex).get("query") match {
      case Some(v) => v
      case None => sendJson(ex, 400, errJson("query= is required")); return
    }
    val rows = MetricsQueryApi.searchCatalog(spark, storeDir,
      catalogSnapshot(tenant), tenant, q)
    val body = rows.map { case (name, unit) =>
      s"""{"metric": ${jStr(name)}, "unit": ${jStr(
        Option(unit).getOrElse("unknown"))}}""" }.mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  private def metricNameSearch(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex).get("query") match {
      case Some(v) => v
      case None => sendJson(ex, 400, errJson("query= is required")); return
    }
    val body = MetricsQueryApi.browseCatalog(spark, storeDir,
        catalogSnapshot(tenant), tenant, q)
      .map { case (name, complete) => s"""{${jStr(name)}: $complete}""" }
      .mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  /** Tenant-scoped event search over the store, or None when no events
    * have ever been ingested — the ONE definition of "tags filter over
    * props" shared by `GET events/getEvents` and the render `events()`
    * marker target, so the two surfaces cannot drift on the substring
    * contract or range inclusivity. */
  private def searchEvents(tenant: String, fromMs: Long, untilMs: Long,
      tagsRegex: String): Option[org.apache.spark.sql.DataFrame] =
    if (!IngestStream.hasParquetData(spark, s"$storeDir/events")) None
    else Some(Discovery.eventSearch(
      IngestStream.eventsStore(spark, storeDir)
        .filter(col("tenant_id") === tenant),
      fromMs, untilMs, tagsRegex))

  private def getEvents(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex)
    val now = nowMs()
    val fromMs = q.get("from").map(graft.core.DateTimeParser.parseMillis(_, now))
      .getOrElse(0L)
    val untilMs = q.get("until").map(graft.core.DateTimeParser.parseMillis(_, now))
      .getOrElse(now)
    val tags = q.getOrElse("tags", "")
    val rows = searchEvents(tenant, fromMs, untilMs,
        java.util.regex.Pattern.quote(tags))
      .map(_.collect())
      .getOrElse { sendJson(ex, 200, "[]"); return }
    val body = rows.map { r =>
      val props = r.getAs[String]("props")
      s"""{"what": ${jStr(r.getAs[String]("event_type"))}, """ +
        s""""when": ${r.getAs[Long]("ts_ms")}, """ +
        s""""data": ${jStr(Option(props).getOrElse(""))}}"""
    }.mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  // ---- plumbing ----------------------------------------------------------

  /** Bounded, deadline-guarded body read (reference parity: Netty's
    * HttpObjectAggregator maxContentLength + IdleStateHandler,
    * HttpMetricDataQueryServer.java:110-112). A declared Content-Length
    * over the cap 413s before reading a byte; a lying/chunked body is
    * re-checked as the bytes actually arrive; a stalled client is closed
    * by the reaper once `bodyReadTimeoutMs` passes. */
  private def readBody(ex: HttpExchange): String = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.toLongOption)
    declared.filter(_ > maxBodyBytes).foreach(n => throw new PayloadTooLarge(n))
    inflightReads.put(ex, System.currentTimeMillis() + bodyReadTimeoutMs)
    try {
      val in = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > maxBodyBytes) throw new PayloadTooLarge(out.size.toLong)
        // IDLE deadline, not total-transfer (the IdleStateHandler
        // semantics claimed above): each arriving chunk refreshes it, so
        // a slow-but-active uploader of a near-cap body is never reaped —
        // only a client that stops sending for the whole budget is
        inflightReads.put(ex, System.currentTimeMillis() + bodyReadTimeoutMs)
        n = in.read(buf)
      }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally inflightReads.remove(ex)
  }

  /** Render-target argument split: commas inside `{...}` glob alternation,
    * inside nested `fn(...)` sub-expressions, AND inside `"..."` quoted
    * strings stay part of their argument ([[GlobPattern]] braces nest and
    * calls nest, so depth is tracked, not toggled; quoted content is
    * opaque — `alias(a.b,"p99, ms")` keeps its comma and an unbalanced
    * paren inside quotes cannot corrupt the depth). */
  private def splitTargetArgs(argStr: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    // quote char while inside a quoted run, else 0 — BOTH quote styles
    // are opaque to the split (stripQuotes accepts both, so the splitter
    // must too: events('release, hotfix') would otherwise shear at the
    // comma and AND two garbage fragments). A quote only OPENS a run at a
    // token boundary (argument start or right after , ( { or space): an
    // unpaired apostrophe inside an unquoted token (app.o'brien.*) stays
    // literal instead of swallowing commas and parens to the next one.
    var quote: Char = 0
    def atBoundary: Boolean =
      sb.isEmpty || " ,({".contains(sb.charAt(sb.length - 1))
    argStr.foreach {
      case c @ ('"' | '\'') if quote == 0 && atBoundary =>
        quote = c; sb.append(c)
      case c if quote != 0 =>
        if (c == quote) quote = 0
        sb.append(c)
      case c @ ('{' | '(') => depth += 1; sb.append(c)
      case c @ ('}' | ')') => depth -= 1; sb.append(c)
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    out += sb.toString
    out.toArray
  }

  /** Strip one layer of matching quotes — Graphite target args quote
    * interval/func strings (`summarize(a.b,"1hour","sum")`). */
  private def stripQuotes(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && ((s.head == '"' && s.last == '"') ||
        (s.head == '\'' && s.last == '\''))) s.substring(1, s.length - 1)
    else s
  }

  /** Graphite interval grammar → millis: `<n><unit>`, unit one of
    * s/sec/seconds, min/minutes, h/hour/hours, d/day/days, w/week/weeks. */
  private def parseIntervalMs(ivl: String): Long = {
    val Re = """(\d+)\s*(s|sec|seconds?|min|minutes?|h|hours?|d|days?|w|weeks?)""".r
    ivl.trim match {
      case Re(n, u) =>
        val unit = u match {
          case "s" | "sec" | "second" | "seconds" => 1000L
          case "min" | "minute" | "minutes" => 60000L
          case "h" | "hour" | "hours" => 3600000L
          case "d" | "day" | "days" => 86400000L
          case _ => 7L * 86400000L
        }
        n.toLong * unit
      case other => throw new IllegalArgumentException(
        s"bad interval '$other' — expected <n><s|min|h|d|w>")
    }
  }

  /** `GET /metrics/find?query=<glob>&tenant=` — the Graphite metric-tree
    * browse endpoint (what a Grafana graphite datasource calls to expand
    * the picker). One level per call, exactly graphite-web's contract:
    * entries are the next-level nodes under the query, `leaf`/`expandable`
    * merged per node (a prefix can be BOTH a complete name and a parent).
    * Backed by [[MetricsQueryApi.browseCatalog]] — the same browse the
    * v2.0 `metric_name/search` route serves, re-shaped to Graphite
    * treejson. */
  private def metricsFind(ex: HttpExchange): Unit = {
    val q = queryParams(ex)
    val tenant = q.getOrElse("tenant",
      throw new IllegalArgumentException("tenant= is required"))
    val query = q.getOrElse("query",
      throw new IllegalArgumentException("query= is required"))
    // row-capped like every other facade collect (limit pushed into the
    // query): a '*'-ish browse level on a million-locator store must 400
    // on the budget, not pull the level into the facade heap
    val rows = MetricsQueryApi.browseCatalog(spark, storeDir,
      catalogSnapshot(tenant), tenant, query, MaxSeriesPanelPoints + 1)
    require(rows.length <= MaxSeriesPanelPoints,
      s"browse level exceeds $MaxSeriesPanelPoints nodes — narrow the query")
    // merge the (name, is_complete) pairs: leaf = any complete,
    // expandable = any incomplete — preserving name order
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Boolean)]
    rows.foreach { case (name, complete) =>
      val (l, e) = merged.getOrElse(name, (false, false))
      merged(name) = (l || complete, e || !complete)
    }
    val body = merged.map { case (name, (leaf, exp)) =>
      val text = name.substring(name.lastIndexOf('.') + 1)
      s"""{"text": ${jStr(text)}, "id": ${jStr(name)}, """ +
        s""""leaf": ${if (leaf) 1 else 0}, """ +
        s""""expandable": ${if (exp) 1 else 0}, """ +
        s""""allowChildren": ${if (exp) 1 else 0}}"""
    }.mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  /** CORS preflight response (reference HttpOptionsHandler.java:28-41:
    * 204 + the configured CORS headers when `corsEnabled`; bare 204 when
    * not — CORS_ENABLED defaults false, CoreConfig.java:257-261). */
  private def sendPreflight(ex: HttpExchange): Unit = {
    if (corsEnabled) {
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", corsAllowedOrigins)
      h.set("Access-Control-Allow-Methods", "GET, POST")
      h.set("Access-Control-Allow-Headers", "X-Auth-Token, Accept")
      h.set("Access-Control-Max-Age", "1728000")
    }
    sentFlag.set(java.lang.Boolean.TRUE)
    graft.core.Instrumentation.global.inc("http.responses.204")
    ex.sendResponseHeaders(204, -1)
  }

  /** Every value of a repeatable query param, in URI order (`target=` on
    * the render route — [[queryParams]]'s Map keeps only the last). */
  /** URL-encoded `k=v&k=v` pairs — the shared grammar of a query string
    * and an `application/x-www-form-urlencoded` POST body. */
  private def parsePairs(raw: String): Seq[(String, String)] =
    raw.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }

  private def queryPairs(ex: HttpExchange): Seq[(String, String)] =
    Option(ex.getRequestURI.getRawQuery).map(parsePairs).getOrElse(Nil)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    queryPairs(ex).toMap

  private def responseSent(ex: HttpExchange): Boolean =
    sentFlag.get().booleanValue()

  private def sendJson(ex: HttpExchange, status: Int, body: String): Unit =
    sendBody(ex, status, "application/json", body)

  private def sendBody(ex: HttpExchange, status: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    // mark BEFORE the headers go out: a failure mid-send must still count
    // as "responded" so the catch-all never double-sends
    sentFlag.set(java.lang.Boolean.TRUE)
    graft.core.Instrumentation.global.inc(s"http.responses.$status")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}

object MetricsHttpServer {

  /** Row cap on a series-panel response ([[MetricsHttpServer.seriesJson]]):
    * generous for any real chart (500× a 4K pixel width) while bounding
    * the facade-heap collect the per-point routes would otherwise leave
    * unbounded. */
  val MaxSeriesPanelPoints: Int = 100000

  /** Default request-body cap (8 MiB — comfortably above any real ingest
    * batch under the O2 conventions; the reference aggregates Netty chunks
    * under a maxContentLength the same way). Over the cap → 413 with the
    * observed size. */
  val MaxRequestBodyBytes: Long = 8L << 20

  /** Thrown by the bounded body read; carries the size that tripped the
    * cap (declared Content-Length, or bytes counted so far). */
  private[http] final class PayloadTooLarge(val size: Long)
    extends RuntimeException(s"payload too large: $size bytes")

  /** HEADER-phase stall protection: the JDK server's own
    * `sun.net.httpserver.maxReqTime` timer (seconds) closes connections
    * whose REQUEST — headers included — outlives the budget; the body
    * phase is additionally covered per-instance by the read reaper. The
    * property is one-shot per JVM (read when the first HttpServer loads
    * ServerConfig), hence set here at companion init and only when the
    * deployer didn't set their own; a JVM that created some other
    * HttpServer first keeps whatever it loaded — best-effort by JDK
    * design, and the reaper does not depend on it. */
  val headerPhaseTimeoutInstalled: Boolean = {
    if (System.getProperty("sun.net.httpserver.maxReqTime") == null)
      System.setProperty("sun.net.httpserver.maxReqTime", "60")
    if (System.getProperty("sun.net.httpserver.maxRspTime") == null)
      System.setProperty("sun.net.httpserver.maxRspTime", "600")
    true
  }

  /** `{"errors": [...]}` — the reference's per-record error array
    * (`ErrorResponse.java`: tenantId/metricName/source/message/timestamp). */
  private[http] def errorsJson(
      errs: Seq[(String, String, String, String, Option[Long])]): String =
    errs.map { case (t, m, src, msg, ts) =>
      s"""{"tenantId": ${jStr(t)}, "metricName": ${jStr(m)}, """ +
        s""""source": ${jStr(src)}, "message": ${jStr(msg)}, """ +
        s""""timestamp": ${ts.map(_.toString).getOrElse("null")}}"""
    }.mkString("""{"errors": [""", ", ", "]}")

  private[http] def errJson(msg: String): String =
    s"""{"errors": [{"message": ${jStr(msg)}}]}"""

  private[http] def jStr(s: String): String =
    graft.query.MetricsQueryApi.jsonStr(s)

  /** Minimal JSON string-array reader for the multi-views body (names are
    * metric identifiers — quoted strings with standard escapes). */
  private[http] def parseStringArray(body: String): Option[Seq[String]] = {
    val t = body.trim
    if (!t.startsWith("[") || !t.endsWith("]")) return None
    val inner = t.substring(1, t.length - 1).trim
    if (inner.isEmpty) return Some(Nil)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    var ok = true
    while (i < inner.length && ok) {
      val c = inner.charAt(i)
      if (inStr) {
        if (c == '\\') {
          // standard JSON escapes — appending the next char raw would turn
          // a body name containing an escaped newline or a hex-escaped
          // char into the LITERAL 'n' / 'uXXXX', silently querying a
          // nonexistent metric with a 200
          if (i + 1 >= inner.length) ok = false
          else inner.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 1
            case '\\' => sb.append('\\'); i += 1
            case '/' => sb.append('/'); i += 1
            case 'b' => sb.append('\b'); i += 1
            case 'f' => sb.append('\f'); i += 1
            case 'n' => sb.append('\n'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'u' if i + 5 < inner.length =>
              val hex = inner.substring(i + 2, i + 6)
              // ASCII hex only: Character.digit also accepts Unicode
              // digit characters (Arabic-Indic, fullwidth), which every
              // real JSON parser rejects
              if (hex.forall(h => (h >= '0' && h <= '9') ||
                  (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F'))) {
                sb.append(Integer.parseInt(hex, 16).toChar); i += 5
              } else ok = false
            case _ => ok = false // not a legal JSON escape
          }
        } else if (c == '"') {
          out += sb.toString; sb.clear(); inStr = false
        } else sb.append(c)
      } else c match {
        case '"' => inStr = true
        case ',' | ' ' | '\t' | '\n' | '\r' => // separators
        case _ => ok = false
      }
      i += 1
    }
    if (ok && !inStr) Some(out.toSeq) else None
  }

  /** Split a JSON array of OBJECTS into per-object strings (multi
    * aggregated payloads) — depth-tracked, string-aware. */
  private[http] def parseJsonObjects(body: String): Option[Seq[String]] = {
    val t = body.trim
    if (!t.startsWith("[") || !t.endsWith("]")) return None
    val inner = t.substring(1, t.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var start = -1
    var i = 0
    while (i < inner.length) {
      val c = inner.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += inner.substring(start, i + 1); start = -1
          }
        case _ =>
      }
      i += 1
    }
    if (depth == 0 && !inStr) Some(out.toSeq) else None
  }
}

package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{CatalogSnapshot, Granularity}
import graft.operators.Discovery
import graft.query.MetricsQueryApi
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * the store's [[graft.core.CatalogSnapshot]] for metric search and
  * [[Discovery.eventSearch]] for events — so HTTP adds routing,
  * per-record error responses, and status-code semantics, never a second
  * data path.
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
  *    catalog (Grafana's query-editor picker), generated from the render
  *    table ([[Render]])
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

  /** Every read resolves its locators from the store's `_complete`
    * catalog ([[graft.core.CatalogSnapshot]]), so a store whose data no
    * complete catalog covers — written before the catalog existed, or by
    * raw [[IngestStream.writeRaw]] — has its catalog rebuilt here, once,
    * under the lease, before any request is served; counted as
    * `store.catalog.rebuilds`. A store with no data skips it: its first
    * POST writes the catalog and its coverage marker. */
  if (CatalogSnapshot.uncovered(spark, storeDir)) {
    graft.core.WriterLease.withLease(writerLease) {
      IngestStream.rebuildCatalog(spark, storeDir)
    }
    graft.core.Instrumentation.global.inc("store.catalog.rebuilds")
  }

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
  // fetches it to populate the function picker (see [[Render]])
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
          sendJson(ex, 200, Render.catalogJson)
        case (List("functions", name), "GET") =>
          Render.one(name) match {
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
      // responded before throwing, don't attempt a second send. A fatal
      // VM error is not caught: it propagates once `finally` closes the
      // exchange, instead of reading as a 500 from a healthy server.
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
      case scala.util.control.NonFatal(e) =>
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
    val frame = routeKind(snap, names) match {
      case "string" =>
        MetricsQueryApi.getStringPoints(spark, storeDir, p, now,
          snapshot = Some(snap))
      case "basic" =>
        MetricsQueryApi.getRollupsStored(spark, storeDir, p, now,
          dirtyDays = pendingBasic, snapshot = Some(snap))
      case k =>
        MetricsQueryApi.getPreaggStored(spark, storeDir, p, k, now,
          dirtyDays = pendingPreagg, snapshot = Some(snap))
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
    * dashboard queries outgrow URL limits. Targets repeat; each is a
    * metric glob (raw serve, one response entry per matched series) or a
    * call of a function in the render table ([[Render]], listed at
    * `GET /functions`), whose series arguments may themselves be function
    * calls — targets nest and compose as one lazy plan ([[Render.eval]]).
    *
    * `from`/`until` take the full Graphite datetime grammar and default to
    * `-24h`/`now`; `maxDataPoints` maps onto the points-budget resolution
    * pick (absent → full resolution — decimation is explicit via lttb/m4)
    * AND, because a composed target can out-emit the picked resolution,
    * every finished series is consolidated down to ≤ maxDataPoints via its
    * consolidateBy() statistic ([[Render.consolidatePoints]], default average —
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
    val src = Render.Source(spark, tenant, now,
      (glob, f, u) => numericPoints(tenant, glob, isGlob = true, f, u,
        points, resolution, now),
      (fromMs, untilMs, rx) => searchEvents(tenant, fromMs, untilMs, rx))
    val entries = try {
      targets.flatMap { t0 =>
        val se = Render.eval(t0.trim, src, from, until)
        val collected = Render.collectSeries(se)
        // FINAL maxDataPoints guarantee: the resolution pick bounds the
        // fetch, but a composed target (summarize, resample, full-res
        // fallback) can still emit more points than requested — real
        // Graphite consolidates the finished series down to the budget
        val capped = points.filter(_ > 0) match {
          case Some(mdp) => collected.map { case (n, dps) =>
            n -> Render.consolidatePoints(dps, mdp,
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
      // paths; a fatal VM error propagates untouched)
      case scala.util.control.NonFatal(e) =>
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
        val resolved = snap.search(name, cap + 1).map(_.name)
        require(resolved.length <= cap,
          s"batch query resolves > $cap metrics")
        routeKind(snap, resolved)
      } else routeKind(snap, Seq(name))
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
        dirtyDays = pendingBasic, snapshot = Some(snap))
      case k => MetricsQueryApi.getPreaggStored(spark, storeDir, p, k, now,
        dirtyDays = pendingPreagg, snapshot = Some(snap))
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
  private def routeKind(snap: CatalogSnapshot.Tenant,
      names: Seq[String]): String = {
    val known = probeFamilies(snap, names)
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
    * passed to every catalog lookup the request makes. */
  private def catalogSnapshot(tenant: String): CatalogSnapshot.Tenant =
    CatalogSnapshot.tenant(spark, storeDir, tenant)

  /** Every family each of `names` is cataloged under (unknown names
    * absent) — multi-membership is the caller's ambiguity signal, not
    * silently collapsed. A snapshot lookup: no table is opened. */
  private def probeFamilies(snap: CatalogSnapshot.Tenant,
      names: Seq[String]): Map[String, Set[String]] =
    names.map(n => n -> snap.familiesOf(n)).filter(_._2.nonEmpty).toMap

  private def metricsSearch(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex).get("query") match {
      case Some(v) => v
      case None => sendJson(ex, 400, errJson("query= is required")); return
    }
    val body = catalogSnapshot(tenant).search(q).map { l =>
      s"""{"metric": ${jStr(l.name)}, "unit": ${jStr(
        Option(l.unit).getOrElse("unknown"))}}""" }.mkString("[", ", ", "]")
    sendJson(ex, 200, body)
  }

  private def metricNameSearch(ex: HttpExchange, tenant: String): Unit = {
    val q = queryParams(ex).get("query") match {
      case Some(v) => v
      case None => sendJson(ex, 400, errJson("query= is required")); return
    }
    val body = catalogSnapshot(tenant).browse(q)
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

  /** `GET /metrics/find?query=<glob>&tenant=` — the Graphite metric-tree
    * browse endpoint (what a Grafana graphite datasource calls to expand
    * the picker). One level per call, exactly graphite-web's contract:
    * entries are the next-level nodes under the query, `leaf`/`expandable`
    * merged per node (a prefix can be BOTH a complete name and a parent).
    * Backed by the catalog snapshot's browse — the same browse the
    * v2.0 `metric_name/search` route serves, re-shaped to Graphite
    * treejson. */
  private def metricsFind(ex: HttpExchange): Unit = {
    val q = queryParams(ex)
    val tenant = q.getOrElse("tenant",
      throw new IllegalArgumentException("tenant= is required"))
    val query = q.getOrElse("query",
      throw new IllegalArgumentException("query= is required"))
    // row-capped like every other facade response: a '*'-ish browse
    // level on a million-locator store must 400 on the budget, not render
    // the whole level
    val rows = catalogSnapshot(tenant).browse(query)
      .take(MaxSeriesPanelPoints + 1)
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

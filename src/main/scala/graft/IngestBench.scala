package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ingest-path throughput: validate + day-partitioned raw write + dirty-day
  * 5m re-roll over the sf dir's full events table, reported as points/s —
  * comparable to the reference's single-node ingest benchmark
  * (contrib/perf/README.md: ~15.4k metrics/s over HTTP+Cassandra). */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-ingest-bench").getOrCreate()
    def tmp() = java.nio.file.Files.createTempDirectory("graft_ingest_bench").toString
    def points(s: SparkSession) = graft.streaming.IngestStream.withValidity(
      graft.core.Tables.metrics(s, sfDir)
        .withColumn("ttl_seconds", lit(86400)).withColumn("unit", lit("ms")),
      0L, Long.MaxValue)
    val batch = points(spark)
    // numerator = points actually persisted (invalid rows are filtered
    // before the measured write)
    val n = batch.filter(col("valid")).count()
    // warm the write/codegen path against a throwaway store, so the timed
    // arms don't pay cold codegen/planning
    graft.streaming.IngestStream.processBatch(batch, tmp(), batchId = 0L)
    // ingest-only (validate + day-partitioned raw write, the production
    // write path) — the surface the reference's 15.4k/s HTTP+Cassandra
    // number covers (rollup is background there). Fresh store so the
    // measurement isn't polluted by earlier copies.
    val t0 = System.nanoTime()
    graft.streaming.IngestStream.writeRaw(
      batch.filter(col("valid")).drop("valid"), tmp(), batchId = 0L)
    val ingestSecs = (System.nanoTime() - t0) / 1e9
    // full pipeline including the dirty-day 5m re-roll, also on a fresh
    // store (steady-state micro-batches touch 1-2 days, not all 30 — this
    // is the worst case)
    val t1 = System.nanoTime()
    val steadyStore = tmp()
    graft.streaming.IngestStream.processBatch(batch, steadyStore, batchId = 0L)
    val fullSecs = (System.nanoTime() - t1) / 1e9
    // STEADY-STATE arm: the real micro-batch shape — the store is warm
    // (all days rolled above) and one batch re-dirties a single day, so
    // the re-roll recomputes exactly one day. Measured on the busiest
    // day of the corpus so the numerator stays honest.
    val dayMs = 86400000L
    val busiestDay = batch.filter(col("valid"))
      .groupBy((col("ts_ms") - pmod(col("ts_ms"), lit(dayMs))).as("d"))
      .count().orderBy(desc("count")).head()
    val (steadyDay, steadyN) = (busiestDay.getLong(0), busiestDay.getLong(1))
    // the micro-batch is request-sized, so it plans on a request-sized
    // session (AQE off, one shuffle partition) — the facade's ingest floor
    val daySlice = points(graft.streaming.IngestStream.newIngestSession(spark))
      .filter(col("valid") &&
        col("ts_ms") >= steadyDay && col("ts_ms") < steadyDay + dayMs)
      .persist()
    daySlice.count() // materialize outside the timed window
    // warm the steady shape's plans on the ingest session (its AQE-off
    // plans share no generated code with the bulk arms above)
    graft.streaming.IngestStream.processBatch(daySlice, tmp(), batchId = 1L)
    // SPARK_GRAFT_BENCH_DEBUG=1 → per-job timeline of the steady arm on
    // stderr (job count is the steady-state latency lever; this shows
    // where the milliseconds sit when tuning it)
    val dbg = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    val dbgListener = if (!dbg) None else Some {
      val t0 = System.nanoTime()
      val l = new org.apache.spark.scheduler.SparkListener {
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(js: org.apache.spark.scheduler
            .SparkListenerJobStart): Unit = {
          starts.put(js.jobId, System.nanoTime())
          System.err.println(f"[steady-dbg] +${(System.nanoTime() - t0) / 1e6}%.0fms START job ${js.jobId} " +
            js.stageInfos.map(_.name.takeWhile(_ != '\n').take(70)).mkString(";"))
        }
        override def onJobEnd(je: org.apache.spark.scheduler
            .SparkListenerJobEnd): Unit = {
          val d = Option(starts.get(je.jobId))
            .map(s => (System.nanoTime() - s) / 1e6).getOrElse(-1.0)
          System.err.println(f"[steady-dbg] +${(System.nanoTime() - t0) / 1e6}%.0fms END   job ${je.jobId} (${d}%.0fms)")
        }
      }
      spark.sparkContext.addSparkListener(l); l
    }
    val t1b = System.nanoTime()
    // accounting + catalog locators ride the raw write as observed
    // metrics; the 5m tier re-roll runs as its own second action (the
    // measured 2-action steady-state floor, docs/SCALE.md — concurrent
    // tier staging was measured slower and dropped)
    graft.streaming.IngestStream.processBatch(daySlice, steadyStore,
      batchId = 1L)
    val steadySecs = (System.nanoTime() - t1b) / 1e9
    dbgListener.foreach(spark.sparkContext.removeSparkListener)
    daySlice.unpersist()
    // HTTP arm — the apples-to-apples surface for the reference's ONLY
    // published number (contrib/perf/README.md ~15.4k metrics/s over
    // HTTP+Cassandra, raw write only): the same points POSTed through the
    // REST facade in time-ordered chunks, where each request ALSO pays
    // per-record validation, the error-array contract, the locator
    // catalog upsert, and the synchronous dirty-day 5m re-roll (the
    // reference defers rollups to its background service).
    val rows = batch.filter(col("valid"))
      .select("tenant_id", "metric_name", "ts_ms", "value")
      .orderBy("ts_ms").collect()
    val maxTs = rows.last.getLong(2)
    val chunks = rows.grouped(25000).map { chunk =>
      chunk.map { r =>
        s"""{"tenantId":"${r.getString(0)}","metricName":"${r.getString(1)}",""" +
          s""""metricValue":${r.getDouble(3)},"collectionTime":${r.getLong(2)}}"""
      }.mkString("[", ",", "]")
    }.toSeq
    val client = java.net.http.HttpClient.newHttpClient()
    def postAll(port: Int): Double = {
      val t2 = System.nanoTime()
      for (body <- chunks) {
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:$port/v2.0/bench/ingest/multi"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"ingest POST failed: ${resp.statusCode()} ${resp.body().take(200)}")
      }
      (System.nanoTime() - t2) / 1e9
    }
    val httpStore = tmp()
    val srv = new graft.http.MetricsHttpServer(spark, httpStore,
      maxAgeMs = Long.MaxValue / 4, nowMs = () => maxTs + 60000L)
    srv.start()
    val httpSecs = try postAll(srv.boundPort) finally srv.stop()
    require(spark.read.parquet(s"$httpStore/metrics_full").count() == n,
      "HTTP arm must persist every point it was timed on")
    // DEFERRED-ROLLUP HTTP arm — the apples-to-apples surface for the
    // reference's published ~15.4k metrics/s (contrib/perf/README.md:45
    // measures the raw Cassandra write; rollups run later on its
    // background RollupService). Each POST pays parse + validation +
    // error array + catalog + raw write; the dirty-day re-roll drains on
    // the background roller (here: one untimed rollNow after, like the
    // reference's deferred RollupService work).
    val deferStore = tmp()
    val dsrv = new graft.http.MetricsHttpServer(spark, deferStore,
      maxAgeMs = Long.MaxValue / 4, nowMs = () => maxTs + 60000L,
      deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    dsrv.start()
    // POST latency WHILE a multi-day drain is in flight: rollNow() runs
    // off the write lock (snapshot → roll outside → seq-checked clear),
    // so ingest must never stall behind the drain — the p99 here is the
    // proof. The drain covers every day the arm above dirtied (30).
    var drainP99Ms = -1.0
    var drainMaxMs = -1.0
    var drainSecs = -1.0
    val httpDeferSecs =
      try {
        val s = postAll(dsrv.boundPort)
        val drainT0 = System.nanoTime()
        val drain = new Thread(() => dsrv.rollNow(), "bench-drain")
        drain.start()
        val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
        val probeBody = s"""[{"tenantId":"bench","metricName":"drain.probe",""" +
          s""""metricValue":1.0,"collectionTime":$maxTs}]"""
        while (drain.isAlive) {
          val p0 = System.nanoTime()
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${dsrv.boundPort}/v2.0/bench/ingest/multi"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(probeBody))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() == 200, s"probe POST failed: ${resp.body()}")
          lat += (System.nanoTime() - p0) / 1e6
        }
        drain.join()
        drainSecs = (System.nanoTime() - drainT0) / 1e9
        if (lat.nonEmpty) {
          val sorted = lat.sorted
          drainP99Ms = sorted(((sorted.size - 1) * 99) / 100)
          drainMaxMs = sorted.last
        }
        s
      } finally dsrv.stop()
    require(spark.read.parquet(s"$deferStore/metrics_full")
        .filter(col("metric_name") =!= "drain.probe").count() == n,
      "deferred HTTP arm must persist every point it was timed on")
    require(graft.core.SnapshotStore.read(spark, s"$deferStore/metrics_5m")
      .exists(!_.isEmpty), "deferred arm must have rolled after drain")
    // STATSD (aggregated) fused arm — the r12 one-job-per-POST fusion
    // landed on this route after INGEST_MEDIANS_r12 was taken, so it gets
    // its own measured arm: the same corpus points POSTed as gauge
    // payloads (12.5k points per request) to a deferred facade on a
    // fresh store; each clean POST is one Spark job
    // (processAggregatedBatch).
    val gaugeChunks = rows.grouped(12500).map { chunk =>
      val ts = chunk.head.getLong(2)
      chunk.map(r =>
        s"""{"name":"${r.getString(1)}","latest":${r.getDouble(3)}}""")
        .mkString(s"""{"tenantId":"bench","timestamp":$ts,"gauges":[""",
          ",", "]}")
    }.toSeq
    val statsdStore = tmp()
    val ssrv = new graft.http.MetricsHttpServer(spark, statsdStore,
      maxAgeMs = Long.MaxValue / 4, nowMs = () => maxTs + 60000L,
      deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    ssrv.start()
    val statsdSecs =
      try {
        val t3 = System.nanoTime()
        for (body <- gaugeChunks) {
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${ssrv.boundPort}/v2.0/bench/ingest/aggregated"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() == 200,
            s"statsd POST failed: ${resp.statusCode()} ${resp.body().take(200)}")
        }
        (System.nanoTime() - t3) / 1e9
      } finally ssrv.stop()
    require(spark.read.parquet(s"$statsdStore/preagg_raw").count() == n,
      "statsd arm must persist every point it was timed on")
    // EVENTS fused arm (one event per POST — the route's wire shape):
    // per-request fixed cost IS the measurement, one Spark job each
    val eventsStore = tmp()
    val esrv = new graft.http.MetricsHttpServer(spark, eventsStore,
      maxAgeMs = Long.MaxValue / 4, nowMs = () => maxTs + 60000L)
    esrv.start()
    val nEvents = 100
    val eventsSecs =
      try {
        val t4 = System.nanoTime()
        for (i <- 0 until nEvents) {
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${esrv.boundPort}/v2.0/bench/events"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                s"""{"what":"deploy-$i","when":${maxTs - i * 1000L},""" +
                  s""""data":"build $i","tags":"bench"}"""))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() == 200,
            s"event POST failed: ${resp.statusCode()} ${resp.body().take(200)}")
        }
        (System.nanoTime() - t4) / 1e9
      } finally esrv.stop()
    require(spark.read.parquet(s"$eventsStore/events")
      .count() == nEvents.toLong,
      "events arm must persist every event it was timed on")
    println(f"""{"metric":"ingest_points_per_sec","value":${n / ingestSecs}%.0f,"with_reroll":${n / fullSecs}%.0f,"with_reroll_steady":${steadyN / steadySecs}%.0f,"http_full_pipeline":${n / httpSecs}%.0f,"http_deferred":${n / httpDeferSecs}%.0f,"points":$n,"steady_points":$steadyN,"ingest_secs":$ingestSecs%.2f,"full_secs":$fullSecs%.2f,"steady_secs":$steadySecs%.2f,"http_secs":$httpSecs%.2f,"http_defer_secs":$httpDeferSecs%.2f,"drain_secs":$drainSecs%.2f,"post_p99_during_drain_ms":$drainP99Ms%.1f,"post_max_during_drain_ms":$drainMaxMs%.1f,"http_statsd_deferred":${n / statsdSecs}%.0f,"statsd_secs":$statsdSecs%.2f,"http_events_per_sec":${nEvents / eventsSecs}%.1f,"events_secs":$eventsSecs%.2f}""")
    spark.stop()
  }
}

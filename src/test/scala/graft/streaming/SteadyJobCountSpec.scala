package graft.streaming

import graft.SparkSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pins the steady-state micro-batch's Spark JOB COUNT — the measured
  * latency floor on local[32] is ~300 ms fixed per job (docs/SCALE.md), so
  * the ingest writer's whole point is the count: staged raw write (with
  * the accounting riding as observed metrics) + the dirty-day 5m re-roll
  * publish, and nothing else on a warm store. */
class SteadyJobCountSpec extends AnyFunSuite with SparkSuite {
  private val base = 1704067200000L

  /** A request-sized batch planned on `session`. */
  private def mkBatch(session: org.apache.spark.sql.SparkSession, n: Int,
      shift: Long) = IngestStream.withValidity(
    session.createDataFrame((0 until n).map(i => ("t1", s"m${i % 8}",
        base + shift + i * 1000L, i.toDouble, 86400, "ms")))
      .toDF("tenant_id", "metric_name", "ts_ms", "value",
        "ttl_seconds", "unit"),
    1L, Long.MaxValue)

  /** Job stage-name traces for everything `body` runs (AQE shuffle/
    * broadcast materializations included — each carries its action's
    * call site). */
  private def jobSites(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.map(_.name.takeWhile(_ != '\n').take(60))
          .mkString("[", ";", "]"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // listener events drain async
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  test("a steady processBatch on the request-sized ingest session runs " +
    "NO driver collect job: the staged raw write and the 5m re-roll only") {
    val store = Files.createTempDirectory("graft_sjc").toString
    val ingest = IngestStream.newIngestSession(spark)
    // warm: first batch seeds store + catalog memo (cost not under test)
    IngestStream.processBatch(mkBatch(ingest, 64, 0L), store, batchId = 0L)
    val jobs = jobSites {
      IngestStream.processBatch(mkBatch(ingest, 64, 600000L), store,
        batchId = 1L)
    }
    info(s"steady jobs: ${jobs.mkString(" | ")}")
    // no stats/catalog collect anywhere: the accounting and the catalog
    // locators ride the staged write
    assert(!jobs.exists(_.contains("collect at")),
      s"steady batch ran a driver collect: ${jobs.mkString(" | ")}")
    assert(jobs.size === 2,
      s"steady batch ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
  }

  test("a repeat clean deferred HTTP POST costs exactly ONE Spark job " +
    "(the staged raw write carrying the whole accounting)") {
    val store = Files.createTempDirectory("graft_sjc_http").toString
    val now = 1704067200000L
    val srv = new graft.http.MetricsHttpServer(spark, store,
      nowMs = () => now, maxAgeMs = 10L * 86400000L,
      deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/ingest"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def body(v: Double, ts: Long) =
        s"""[{"metricName": "app.one", "metricValue": $v,
           |  "collectionTime": $ts}]""".stripMargin
      // first POST pays the virgin catalog write + warms plans/memos
      assert(post(body(1.0, now - 3600000L)).statusCode() === 200)
      val jobs = jobSites {
        assert(post(body(2.0, now - 3000000L)).statusCode() === 200)
      }
      assert(jobs.size === 1,
        s"deferred POST ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
      // the aggregated (statsd) route holds the same one-job floor
      def postAgg(ts: Long) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/ingest/aggregated"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"tenantId": "t", "timestamp": $ts, "flushInterval": 10000,
               | "counters": [{"name": "agg.c", "value": 1.0,
               |   "rate": 0.1}]}""".stripMargin))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(postAgg(now - 3600000L).statusCode() === 200)
      val aggJobs = jobSites {
        assert(postAgg(now - 3000000L).statusCode() === 200)
      }
      assert(aggJobs.size === 1,
        s"deferred statsd POST ran ${aggJobs.size} jobs: " +
          aggJobs.mkString(" | "))
      // the events route too: EVERY facade ingest route is one job
      def postEvent(ts: Long) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"what": "deploy", "when": $ts, "data": "v1"}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(postEvent(now - 3600000L).statusCode() === 200)
      val evJobs = jobSites {
        assert(postEvent(now - 3000000L).statusCode() === 200)
      }
      assert(evJobs.size === 1,
        s"events POST ran ${evJobs.size} jobs: ${evJobs.mkString(" | ")}")
    } finally srv.stop()
  }
}

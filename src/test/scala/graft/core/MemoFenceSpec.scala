package graft.core

import graft.SparkSuite
import graft.operators.Retention
import graft.query.MetricsQueryApi
import graft.streaming.IngestStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** The read path's three metadata memos — the tier resolution memo
  * ([[SnapshotStore]]), the catalog snapshot ([[CatalogSnapshot]]) and the
  * raw relation ([[MetricsQueryApi.rawTable]]) — are valid exactly while
  * their fence is unchanged: every writer in another process is served at
  * the reader's next request with one re-resolution, a warm request
  * re-resolves nothing, and a writer whose `_version` bump is lost fails
  * loudly instead of leaving the memos stale. */
class MemoFenceSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val day0 = 1704240000000L // 2024-01-03 00:00 UTC
  private val dayMs = 86400000L

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def count(counter: String) = Instrumentation.global.count(counter)

  /** One batch of `names` × `days` × 3 points through the ingest writer. */
  private def batch(store: String, batchId: Long, days: Seq[Int],
      names: Seq[String] = Seq("m.a", "m.b"), bump: Double = 0.0): Unit = {
    val rows = for (m <- names; d <- days; i <- 0 until 3)
      yield ("t1", m, day0 + d * dayMs + i * 60000L, d * 10 + i + bump, 86400, "u")
    IngestStream.processBatch(IngestStream.withValidity(rows.toDF("tenant_id",
      "metric_name", "ts_ms", "value", "ttl_seconds", "unit"), 0L,
      Long.MaxValue), store, batchId)
  }

  /** A memo as a reader sees it: its resolution counter, a memoized read
    * and the same content read with no memo. */
  private case class Memo(counter: String, read: () => Seq[String],
      truth: () => Seq[String])

  test("a foreign writer is served at the reader's next request, with " +
    "exactly one re-resolution of the memo it changed") {
    // a symlinked second store path is a second process: every memo keys
    // on the path, so the writer's in-process invalidations never reach
    // the reader's entries; only the on-disk fences can
    val base = Files.createTempDirectory("graft_memo_fence")
    val real = base.resolve("s")
    Files.createDirectory(real)
    val foreign = Files.createSymbolicLink(base.resolve("s_foreign"), real).toString
    val store = real.toString
    batch(foreign, 1L, Seq(0, 1, 2, 3))

    def tierRows(df: org.apache.spark.sql.DataFrame) =
      df.select("metric_name", "bucket_ms", "sum_v").as[(String, Long, Double)]
        .collect().map { case (m, b, v) => s"$m@$b=$v" }.toSeq.sorted
    def rawRows(df: org.apache.spark.sql.DataFrame) =
      df.select("metric_name", "ts_ms", "value").as[(String, Long, Double)]
        .collect().map { case (m, t, v) => s"$m@$t=$v" }.toSeq.sorted
    val tier = Memo("store.snapshot.resolutions",
      () => SnapshotStore.read(spark, s"$store/metrics_5m", useCache = true)
        .toSeq.flatMap(tierRows),
      () => SnapshotStore.read(spark, s"$store/metrics_5m").toSeq.flatMap(tierRows))
    val raw = Memo("store.raw.resolutions",
      () => rawRows(MetricsQueryApi.rawTable(spark, store, "metrics_full")),
      () => rawRows(spark.read.schema(IngestStream.rawStoreSchema)
        .parquet(s"$store/metrics_full")))
    val catalog = Memo("store.catalog.resolutions",
      () => CatalogSnapshot.tenant(spark, store, "t1").search("*")
        .map(l => s"${l.name}/${l.family}/${l.unit}"),
      () => IngestStream.metricCatalog(spark, store).get
        .filter(col("tenant_id") === "t1").select("metric_name", "family", "unit")
        .as[(String, String, String)].collect()
        .map { case (n, f, u) => s"$n/$f/$u" }.toSeq.sorted)

    // (writer, the memo it changes, whether the served rows change)
    val writers: Seq[(String, Memo, Boolean, () => Unit)] = Seq(
      ("a publish into an existing day", tier, true,
        () => batch(foreign, 2L, Seq(1), names = Seq("m.a"), bump = 0.5)),
      ("a retention day drop on a tier", tier, true, () => assert(
        Retention.enforce(spark, foreign, day0 + 11 * dayMs,
          tables = Map("metrics_5m" -> Granularity.MIN_5),
          fixedTtlTables = Map.empty) === Map("metrics_5m" -> Seq(day0)))),
      ("a retention drop inside a raw batch_id= dir", raw, true, () => assert(
        Retention.enforce(spark, foreign, day0 + 6 * dayMs,
          tables = Map("metrics_full" -> Granularity.FULL),
          fixedTtlTables = Map.empty) === Map("metrics_full" -> Seq(day0)))),
      ("a raw batch append", raw, true, () => batch(foreign, 3L, Seq(3), bump = 0.25)),
      ("a raw batch replay", raw, false, () => batch(foreign, 3L, Seq(3), bump = 0.25)),
      ("compactRaw", raw, false, () => assert(Retention.compactRaw(spark,
        foreign, "metrics_full", assumeQuiesced = true).isDefined)),
      ("a catalog append", catalog, true,
        () => batch(foreign, 4L, Seq(3), names = Seq("m.c"))),
      ("compactCatalog", catalog, false, () => assert(IngestStream
        .compactCatalog(spark, foreign, assumeQuiesced = true).nonEmpty)),
      ("rebuildCatalog", catalog, false,
        () => IngestStream.rebuildCatalog(spark, foreign)))

    for ((name, memo, changes, write) <- writers) {
      val before = memo.read() // warm: builds the entry if it is not yet
      val r0 = count(memo.counter)
      assert(memo.read() === before, name)
      assert(count(memo.counter) === r0, s"$name: a warm read re-resolved")
      write()
      val after = memo.read()
      assert(count(memo.counter) === r0 + 1,
        s"$name: expected exactly one re-resolution at the next request")
      assert(memo.read() === after, name)
      assert(count(memo.counter) === r0 + 1, s"$name: the new entry is not warm")
      assert(after === memo.truth(), s"$name: the memo serves a stale state")
      assert((after != before) === changes, s"$name: before $before, after $after")
    }
  }

  test("a writer whose _version bump fails throws, naming the committed " +
    "write: publish, rebuildCatalog and a retention drop") {
    val store = Files.createTempDirectory("graft_memo_bump").toString
    batch(store, 1L, Seq(0, 1))
    /** Make `root`'s fence file a directory, which no bump can rewrite. */
    def breakFence(root: String): Unit = {
      val v = new Path(root, "_version")
      fs.delete(v, false)
      assert(fs.mkdirs(new Path(v, "blocked")))
    }
    def loud(what: String)(body: => Unit): Unit = {
      val e = intercept[java.io.IOException](body)
      assert(e.getMessage.contains("already committed") &&
        e.getMessage.contains("_version"), s"$what: ${e.getMessage}")
    }

    val t = s"$store/metrics_5m"
    breakFence(t)
    val day1 = day0 + dayMs
    loud("publish")(SnapshotStore.publish(SnapshotStore.read(spark, t).get
      .filter(col("ts_day") === day1).withColumn("sum_v", col("sum_v") + 1), t))
    // the message is true: the new generation serves
    assert(SnapshotStore.read(spark, t, days = Some(Seq(day1))).get
      .select("metric_name", "sum_v").as[(String, Double)].collect().toMap ===
      Map("m.a" -> 34.0, "m.b" -> 34.0))

    breakFence(s"$store/metric_catalog")
    loud("rebuildCatalog")(IngestStream.rebuildCatalog(spark, store))

    loud("retention drop")(Retention.enforce(spark, store, day0 + 11 * dayMs,
      tables = Map("metrics_5m" -> Granularity.MIN_5), fixedTtlTables = Map.empty))
    assert(SnapshotStore.read(spark, t).get.select("ts_day").distinct()
      .as[Long].collect().toSeq === Seq(day1), "the drop is committed")
  }

  test("a repeated warm facade request re-resolves no memo, and a warm " +
    "catalog request runs no Spark job") {
    val now = 1704067200000L
    val day = 86400000L
    val srv = new graft.http.MetricsHttpServer(spark,
      Files.createTempDirectory("graft_memo_http").toString,
      nowMs = () => now, maxAgeMs = 3 * day)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    val client = HttpClient.newHttpClient()
    def send(r: HttpRequest.Builder) =
      client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    def get(u: String) = send(HttpRequest.newBuilder(URI.create(u)).GET())
    try {
      val pts = for (n <- Seq("app.a.x", "app.b.z");
                     ts <- Seq(now - day - 3600000L, now - 600000L))
        yield s"""{"metricName": "$n", "metricValue": 1.5, "collectionTime": $ts}"""
      assert(send(HttpRequest.newBuilder(URI.create(s"$base/v2.0/acme/ingest"))
        .POST(HttpRequest.BodyPublishers.ofString(pts.mkString("[", ",", "]"))))
        .statusCode() === 200)
      val range = s"from=${(now - 2 * day) / 1000}"
      // a render, a 5m views read, a points= views read that gap-fills
      // from raw and a find: between them, every memo
      val views = s"$base/v2.0/acme/views/app.a.x?$range&to=${now / 1000}"
      val requests = Seq(
        s"$base/render?tenant=acme&target=app.a.*&$range&until=${now / 1000}",
        s"$views&resolution=5m", s"$views&points=100",
        s"$base/metrics/find?tenant=acme&query=app.*")
      requests.foreach(u => assert(get(u).statusCode() === 200, u))
      val counters = Seq("store.snapshot.resolutions", "store.raw.resolutions",
        "store.catalog.resolutions")
      val before = counters.map(count)
      requests.foreach(u => assert(get(u).statusCode() === 200, u))
      assert(counters.map(count) === before, counters.zip(before))

      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      Thread.sleep(300) // let earlier requests' listener events drain
      spark.sparkContext.addSparkListener(l)
      try { assert(get(requests.last).statusCode() === 200); Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(l)
      assert(jobs.get() === 0)
      assert(counters.map(count) === before)
    } finally srv.stop()
  }
}

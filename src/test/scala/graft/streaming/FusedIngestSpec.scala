package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The one numeric/statsd ingest writer ([[IngestStream.processBatch]],
  * [[IngestStream.processTypedBatchFused]],
  * [[IngestStream.processAggregatedBatch]]): the per-batch accounting and
  * catalog locators ride the raw write as observed metrics, and the raw
  * batch commits by a staged atomic rename (catalog-before-data). Every
  * store artifact is checked against a direct derivation from the input —
  * raw = the valid rows, errors = the invalid rows, catalog = the distinct
  * (tenant, name, family, max unit) with units compared in UTF-8 order,
  * tiers = the rollup operators over the valid rows — for the caller-
  * validated, typed and statsd entries, and for a bulk batch past the
  * catalog memo's batch cap. */
class FusedIngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01 00:00 UTC

  private def tmp() = Files.createTempDirectory("graft_fused").toString

  private def mkBatch(rows: Seq[(String, String, Long, Double, Integer, String)])
      : DataFrame =
    IngestStream.withValidity(
      rows.toDF("tenant_id", "metric_name", "ts_ms", "value",
        "ttl_seconds", "unit"),
      1L, Long.MaxValue)

  private val mixed = Seq(
    ("t1", "m1", base + 10000L, 1.0, Integer.valueOf(86400), "ms"),
    ("t1", "m1", base + 310000L, 3.0, Integer.valueOf(86400), "ms"),
    ("t1", "m2", base + 86400000L + 20000L, 5.0, Integer.valueOf(86400), "bytes"),
    ("t2", "m3", base + 30000L, 7.0, Integer.valueOf(86400), null),
    ("t1", "", base + 1000L, 9.0, Integer.valueOf(86400), "ms"), // invalid: name
    ("t1", "m1", 0L, 2.0, Integer.valueOf(86400), "ms")) // invalid: ts < lo

  private def rawRows(store: String, table: String, cols: String*) =
    spark.read.parquet(s"$store/$table").select(cols.map(col): _*)
      .collect().map(_.toSeq.toList).toSet

  private def tuples(rows: Seq[(String, String, Long, Double, Integer, String)]) =
    rows.map(r => List(r._1, r._2, r._3, r._4, r._5, r._6)).toSet

  /** The catalog a batch of valid (tenant, name, unit) rows must produce:
    * one row per (tenant, name) with the max unit in UTF-8 (code point)
    * order — never Java's UTF-16 String order. */
  private def expectedCatalog(rows: Seq[(String, String, String)],
      family: String): Set[List[Any]] =
    rows.groupBy(r => (r._1, r._2)).map { case ((t, n), rs) =>
      val units = rs.map(_._3).filter(_ != null)
      List(t, n, family, if (units.isEmpty) null else units.reduce((a, b) =>
        if (graft.core.CatalogSnapshot.compareUtf8(a, b) >= 0) a else b))
    }.toSet

  private def catalog(store: String) =
    IngestStream.metricCatalog(spark, store).get.collect()
      .map(_.toSeq.toList).toSet

  private def fiveMinute(store: String, prefix: String = "metrics") =
    graft.core.SnapshotStore.read(spark, s"$store/${prefix}_5m").get
      .drop("ts_day").collect().map(_.toString).toSet

  private val rawCols = Seq("tenant_id", "metric_name", "ts_ms", "value",
    "ttl_seconds", "unit")

  test("caller-validated batch: raw, errors, catalog, 5m tier and dirty " +
    "days equal a direct derivation from the input") {
    // one locator carries two units whose UTF-8 and UTF-16 orders disagree
    // (U+1F600 encodes above U+FF21 in UTF-8, below it in UTF-16)
    val input = mixed :+
      (("t1", "m2", base + 86400000L + 40000L, 6.0, Integer.valueOf(86400),
        "\uFF21")) :+
      (("t1", "m2", base + 86400000L + 50000L, 8.0, Integer.valueOf(86400),
        "\uD83D\uDE00"))
    val store = tmp()
    val days = IngestStream.processBatch(mkBatch(input), store, batchId = 7L)
    val (good, bad) = input.partition(r => r._2.nonEmpty && r._3 >= 1L)
    assert(days.sorted === good.map(r => r._3 - r._3 % 86400000L)
      .distinct.sorted)
    assert(rawRows(store, "metrics_full", rawCols: _*) === tuples(good))
    assert(rawRows(store, "metrics_errors", rawCols: _*) === tuples(bad))
    assert(catalog(store) === expectedCatalog(
      good.map(r => (r._1, r._2, r._6)), "basic"))
    assert(catalog(store).exists(_(3) == "\uD83D\uDE00"))
    assert(fiveMinute(store) === graft.operators.Rollups.basicFromRaw(
        good.map(r => (r._1, r._2, r._3, r._4))
          .toDF("tenant_id", "metric_name", "ts_ms", "value"),
        graft.core.Granularity.MIN_5)
      .collect().map(_.toString).toSet)
    // catalog coverage marker (virgin first batch); no staging residue
    assert(new java.io.File(s"$store/metric_catalog/_complete").exists())
    val leftovers = new java.io.File(s"$store/metrics_full").listFiles()
      .map(_.getName).filter(_.startsWith("."))
    assert(leftovers.isEmpty, s"staging leaked: ${leftovers.mkString(",")}")
  }

  test("typed batch: numeric and string arms, both errors sinks, and the " +
    "per-record error reasons equal a direct derivation from the input") {
    val t = base + 3600000L
    def line(name: String, v: String, ts: Long = t, ttl: Int = 60) =
      s"""{"tenant_id":"t1","metric_name":"$name","ts_ms":$ts,""" +
        s""""value":$v,"ttl_seconds":$ttl,"unit":"u"}"""
    val lines = Seq(
      line("num", "12.5"),
      line("str", "\"lvl_3\""),
      line("numstr", "\"123\""),              // numeric-looking string
      line("flag", "true"),
      line("", "1.0"),                         // metricName
      line("badnum", "{\"x\":1}"),             // metricValue
      line("late", "2.0", ts = base - 86400000L), // collectionTime
      line("late_str", "\"x\"", ts = base - 86400000L),
      line("ttl", "3.0", ttl = -1))            // ttlInSeconds
    val store = tmp()
    val res = IngestStream.processTypedBatchFused(
      IngestStream.parseJsonTyped(lines.toDF("value")), store, 3L,
      minTs = base, maxTs = base + 86400000L)
    assert(res.nTotal === lines.size.toLong)
    assert(res.dirtyDays === Seq(base))
    assert(res.errors.toSet === Set(
      ("t1", "", "metricName", Some(t)),
      ("t1", "badnum", "metricValue", Some(t)),
      ("t1", "late", "collectionTime", Some(base - 86400000L)),
      ("t1", "late_str", "collectionTime", Some(base - 86400000L)),
      ("t1", "ttl", "ttlInSeconds", Some(t))))
    assert(rawRows(store, "metrics_full", "metric_name", "value") ===
      Set(List("num", 12.5)))
    assert(rawRows(store, "metrics_string", "metric_name", "value_str",
      "is_bool") === Set(List("str", "lvl_3", false),
        List("numstr", "123", false), List("flag", "true", true)))
    assert(rawRows(store, "metrics_errors", "metric_name") ===
      Set(List(""), List("badnum"), List("late"), List("ttl")))
    assert(rawRows(store, "metrics_string_errors", "metric_name") ===
      Set(List("late_str")))
    assert(catalog(store) === Set(List("t1", "num", "basic", "u")) ++
      Seq("str", "numstr", "flag").map(n => List("t1", n, "string", "u")))
  }

  test("statsd batch: per-kind 5m tiers, rejects, raw rows and catalog " +
    "equal a direct derivation from the input") {
    import graft.operators.Preaggregated
    def flush(ts: Long, c: Double) =
      s"""{"tenant_id":"t1","timestamp":$ts,"flushInterval":10000,""" +
        s""""counters":[{"name":"c1","value":$c,"rate":1.0}],""" +
        s""""gauges":[{"name":"g1","latest":$c}],""" +
        """"sets":[{"name":"s1","values":[1,2,3]}]}"""
    val ok = Seq(flush(base + 10000L, 3.0), flush(base + 320000L, 5.0))
    val stale = flush(base - 86400000L, 9.0)
    val parsed = Preaggregated.fromAggregatedJson((ok :+ stale).toDF("value"))
    val store = tmp()
    val res = IngestStream.processAggregatedBatch(parsed, store, 4L,
      cascade = false, minTs = base)
    assert(res.dirtyDays === Seq(base))
    assert(res.nTotal === 9L)
    assert(res.rejects.toSet === Set("c1", "g1", "s1")
      .map(n => ("t1", n, Some(base - 86400000L))))
    val inWindow = Preaggregated.fromAggregatedJson(ok.toDF("value"))
    assert(spark.read.parquet(s"$store/preagg_raw").count() === 6L)
    assert(spark.read.parquet(s"$store/preagg_errors").count() === 3L)
    for ((kind, want) <- Preaggregated.tier1FromParsed(inWindow,
        graft.core.Granularity.MIN_5) if kind != "timer")
      assert(fiveMinute(store, s"preagg_$kind") ===
        want.collect().map(_.toString).toSet, s"$kind 5m tier")
    assert(!new java.io.File(s"$store/preagg_timer_5m").exists())
    assert(catalog(store) === Set(List("t1", "c1", "counter", null),
      List("t1", "g1", "gauge", null), List("t1", "s1", "set", null)))
  }

  test("bulk batch past the catalog memo's batch cap: the executor-side " +
    "catalog holds exactly the batch's distinct locators and max units") {
    val n = 250000L // > CatalogMemoBatchCap rows, by the plan estimate too
    val store = tmp()
    val batch = IngestStream.withValidity(spark.range(n).select(
        lit("t1").as("tenant_id"),
        concat(lit("m_"), (col("id") % 3000).cast("string")).as("metric_name"),
        (lit(base) + col("id") * 100L).as("ts_ms"),
        (col("id") % 97).cast("double").as("value"),
        lit(86400).as("ttl_seconds"),
        concat(lit("u_"), (col("id") % 7).cast("string")).as("unit")),
      0L, Long.MaxValue)
    IngestStream.processBatch(batch, store, batchId = 1L, rollup = false)
    // every name sees 83+ ids, so every residue mod 7 — max unit is u_6
    assert(catalog(store) ===
      (0 until 3000).map(i => List("t1", s"m_$i", "basic", "u_6")).toSet)
    assert(spark.read.parquet(s"$store/metrics_full").count() === n)
  }

  test("a multi-payload statsd POST commits one raw file per day") {
    val store = tmp()
    val srv = new graft.http.MetricsHttpServer(spark, store,
      nowMs = () => base + 86400000L, maxAgeMs = 10L * 86400000L,
      deferRollups = true, rollupDelayMs = Long.MaxValue / 4)
    srv.start()
    try {
      val body = (0 until 6).map(i =>
        s"""{"tenantId":"t1","timestamp":${base + i * 600000L},""" +
          s""""gauges":[{"name":"g$i","latest":$i}]}""").mkString("[", ",", "]")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.boundPort}/v2.0/t1/ingest/aggregated/multi"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
    } finally srv.stop()
    val parts = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$store/preagg_raw"))
      .filter(_.getFileName.toString.startsWith("part-")).count()
    assert(parts === 1L)
    assert(spark.read.parquet(s"$store/preagg_raw").count() === 6L)
  }

  test("all-invalid fused batch writes NO data or catalog, only errors " +
    "(and an empty batch is a clean no-op)") {
    val store = tmp()
    val bad = Seq(
      ("t1", "", base + 1000L, 9.0, Integer.valueOf(86400), "ms"),
      ("t1", "m1", 0L, 2.0, Integer.valueOf(86400), "ms"))
    assert(IngestStream.processBatch(mkBatch(bad), store, batchId = 1L) === Nil)
    assert(!new java.io.File(s"$store/metrics_full/batch_id=1").exists())
    assert(!new java.io.File(s"$store/metric_catalog").exists())
    assert(spark.read.parquet(s"$store/metrics_errors").count() === 2)
    // fully empty batch: nothing at all
    val store2 = tmp()
    assert(IngestStream.processBatch(mkBatch(Nil), store2, batchId = 2L) === Nil)
    assert(!new java.io.File(s"$store2/metrics_errors").exists())
    assert(!new java.io.File(s"$store2/metrics_full").exists())
  }

  test("warm-day update over a second batch id ≡ full-day recompute " +
    "from all batches") {
    val store = tmp()
    val a = Seq(
      ("t1", "m1", base + 10000L, 1.0, Integer.valueOf(86400), "ms"),
      ("t1", "m1", base + 20000L, 4.0, Integer.valueOf(86400), "ms"),
      ("t1", "m1", base + 310000L, 2.0, Integer.valueOf(86400), "ms"))
    val b = Seq(
      ("t1", "m1", base + 30000L, 7.0, Integer.valueOf(86400), "ms"),
      ("t1", "m1", base + 320000L, 9.0, Integer.valueOf(86400), "ms"),
      ("t1", "m2", base + 40000L, 5.0, Integer.valueOf(86400), "ms"))
    IngestStream.processBatch(mkBatch(a), store, batchId = 1L)
    // NEW batch id on the already-rolled day → the incremental merge path
    IngestStream.processBatch(mkBatch(b), store, batchId = 2L)
    val got = graft.core.SnapshotStore.read(spark, s"$store/metrics_5m").get
      .select("tenant_id", "metric_name", "bucket_ms", "num_points",
        "sum_v", "avg_v", "min_v", "max_v", "var_v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7), r.getDouble(8))).toMap
    val want = graft.operators.Rollups.basicFromRaw(
        (a ++ b).map(t => (t._1, t._2, t._3, t._4))
          .toDF("tenant_id", "metric_name", "ts_ms", "value"),
        graft.core.Granularity.MIN_5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7), r.getDouble(8))).toMap
    assert(got.keySet === want.keySet)
    for ((k, (n, s, avg, mn, mx, v)) <- want) {
      val (gn, gs, gavg, gmn, gmx, gv) = got(k)
      assert(gn === n, s"num_points at $k")
      assert(gs === s, s"sum_v at $k") // integer-valued: order-exact
      assert(gmn === mn && gmx === mx, s"min/max at $k")
      assert(gavg === avg, s"avg_v at $k") // same sum/n division
      assert(math.abs(gv - v) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"var_v at $k: merge $gv vs recompute $v")
    }
  }

  test("fused retry of the SAME batch id replaces, never duplicates — " +
    "and reclaims a crashed attempt's leaked staging dir") {
    val store = tmp()
    val rows = mixed.filter(_._2.nonEmpty).filter(_._3 > 0L)
    IngestStream.processBatch(mkBatch(rows), store, batchId = 9L)
    // simulate a crashed prior attempt's leak for the retry to reclaim
    val leak = new java.io.File(s"$store/metrics_full/.staging-9/junk")
    leak.getParentFile.mkdirs()
    java.nio.file.Files.write(leak.toPath, "x".getBytes)
    IngestStream.processBatch(mkBatch(rows), store, batchId = 9L)
    assert(spark.read.parquet(s"$store/metrics_full").count() === rows.size)
    assert(!new java.io.File(s"$store/metrics_full/.staging-9").exists())
  }
}

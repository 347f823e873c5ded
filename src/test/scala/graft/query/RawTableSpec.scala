package graft.query

import graft.SparkSuite
import graft.core.{Granularity, Instrumentation}
import graft.operators.{Preaggregated, Retention}
import graft.streaming.IngestStream
import org.scalatest.funsuite.AnyFunSuite

/** The read path's one raw-table helper, [[MetricsQueryApi.rawTable]]: a
  * warm read reuses the relation built for the table's current fence, and
  * every writer — a new batch, [[Retention.compactRaw]], a retention day
  * drop — is visible at the next read, never a stale file list. */
class RawTableSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val day0 = 1704240000000L // 2024-01-03 00:00 UTC
  private val dayMs = 86400000L
  private val now = 1704931200000L // 2024-01-11

  private def resolutions = Instrumentation.global.count("store.raw.resolutions")
  private def hits = Instrumentation.global.count("store.raw.cache_hits")

  /** `read` twice: the first may build the relation, the second must reuse
    * it. Returns the rows, checked equal across both reads. */
  private def warmTwice(read: => Seq[String]): Seq[String] = {
    val first = read
    val (r0, h0) = (resolutions, hits)
    val second = read
    assert(resolutions === r0, "a warm read rebuilt the raw relation")
    assert(hits === h0 + 1)
    assert(second === first)
    second
  }

  /** `read` once after a writer: exactly one new relation, built over the
    * writer's result. */
  private def afterWrite(read: => Seq[String]): Seq[String] = {
    val r0 = resolutions
    val rows = read
    assert(resolutions === r0 + 1, "a write left the raw relation stale")
    rows
  }

  private def full(g: Granularity = Granularity.FULL) =
    MetricsQueryApi.Params("t1", "m.*", "20240103", "20240108",
      resolution = Some(g), select = Seq("sum"))

  private def numeric(store: String, days: Seq[Int], batchId: Long): Unit = {
    val rows = for (m <- Seq("m.a", "m.b"); d <- days; i <- 0 until 3)
      yield ("t1", m, day0 + d * dayMs + i * 60000L, (d * 10 + i).toDouble,
        86400, "u")
    IngestStream.processBatch(IngestStream.withValidity(rows.toDF("tenant_id",
      "metric_name", "ts_ms", "value", "ttl_seconds", "unit"), 0L,
      Long.MaxValue), store, batchId)
  }

  test("metrics_full: warm FULL reads share one relation; a new batch, " +
    "compactRaw and a retention drop are each visible at the next read") {
    val store = java.nio.file.Files.createTempDirectory("graft_raw_").toString
    numeric(store, Seq(0, 1), 1L)
    numeric(store, Seq(2), 2L)
    def read(): Seq[String] = MetricsQueryApi.getRollupsStored(spark, store,
        full(), now).collect().map(r =>
        s"${r.getAs[String]("metric_name")}@${r.getAs[Long]("bucket_ms")}=" +
          r.getAs[Double]("sum_v")).toSeq.sorted
    assert(warmTwice(read()).size === 2 * 3 * 3)
    // a POSTed batch lands as a new batch dir
    numeric(store, Seq(3), 3L)
    val four = afterWrite(read())
    assert(four.size === 2 * 4 * 3)
    assert(warmTwice(read()) === four)
    // compaction folds the batch dirs into one and deletes the originals:
    // a relation still listing them would fail with FileNotFoundException
    assert(Retention.compactRaw(spark, store, "metrics_full",
      assumeQuiesced = true).isDefined)
    assert(afterWrite(read()) === four)
    assert(warmTwice(read()) === four)
    // retention deletes day 0 (FULL keeps 5 days) inside the compacted dir
    val dropped = Retention.enforce(spark, store, day0 + 6 * dayMs,
      tables = Map("metrics_full" -> Granularity.FULL), fixedTtlTables = Map.empty)
    assert(dropped === Map("metrics_full" -> Seq(day0)))
    val kept = afterWrite(read())
    assert(kept === four.filter(r =>
      r.split('@')(1).takeWhile(_ != '=').toLong >= day0 + dayMs))
    assert(kept.size === 2 * 3 * 3)
    // the tier read's tail repair goes through the same helper
    val tail = MetricsQueryApi.getRollupsStored(spark, store,
      full(Granularity.MIN_5).copy(to = s"${(day0 + 3 * dayMs + 90000L) / 1000}"),
      now).collect()
    assert(tail.map(_.getAs[Long]("bucket_ms")).max === day0 + 3 * dayMs)
  }

  test("preagg_raw and metrics_string: warm FULL reads share one relation " +
    "and a new batch is visible at the next read") {
    val store = java.nio.file.Files.createTempDirectory("graft_raw_pa_").toString
    def flush(ts: Long, batchId: Long): Unit =
      IngestStream.processAggregatedBatch(Preaggregated.fromAggregatedJson(Seq(
        s"""{"tenant_id":"t1","timestamp":$ts,"flushInterval":10000,""" +
          """"counters":[{"name":"m.c","value":100.0,"rate":10.0}]}""")
        .toDF("value")), store, batchId)
    def counters(): Seq[String] = MetricsQueryApi.getPreaggStored(spark, store,
        full().copy(select = Seq("numPoints", "sum")), "counter", now)
      .collect().map(r => s"${r.getAs[Long]("bucket_ms")}=${r.get(r.fieldIndex("sum_v"))}")
      .toSeq.sorted
    flush(day0 + 10000L, 0L)
    assert(warmTwice(counters()) === Seq(s"${day0 + 10000L}=100.0"))
    flush(day0 + 20000L, 1L)
    assert(afterWrite(counters()).size === 2)

    def line(name: String, ts: Long, v: String) =
      s"""{"tenant_id":"t1","metric_name":"$name","ts_ms":$ts,"value":$v,""" +
        """"ttl_seconds":86400,"unit":"u"}"""
    def strings(lines: String*)(batchId: Long): Unit =
      IngestStream.processTypedBatchFused(IngestStream.parseJsonTyped(
        lines.toDF("value")), store, batchId)
    def read(): Seq[String] = MetricsQueryApi.getStringPoints(spark, store,
        full(), now).collect().map(r =>
        s"${r.getAs[String]("metric_name")}@${r.getAs[Long]("bucket_ms")}=" +
          s"${r.getAs[String]("value_str")}/${r.getAs[Boolean]("is_bool")}")
      .toSeq.sorted
    strings(line("m.s", day0 + 1000L, "\"up\""), line("m.s", day0 + 2000L, "true"))(5L)
    assert(warmTwice(read()) ===
      Seq(s"m.s@${day0 + 1000L}=up/false", s"m.s@${day0 + 2000L}=true/true"))
    strings(line("m.s", day0 + 3000L, "\"down\""))(6L)
    val three = afterWrite(read())
    assert(three.size === 3 && three.last === s"m.s@${day0 + 3000L}=down/false")
    assert(Retention.compactRaw(spark, store, "metrics_string",
      assumeQuiesced = true).isDefined)
    assert(afterWrite(read()) === three)
  }

  test("a store with no raw table reads empty through the helper") {
    val store = java.nio.file.Files.createTempDirectory("graft_raw_none_").toString
    for (t <- Seq("metrics_full", "preagg_raw", "metrics_string")) {
      val df = MetricsQueryApi.rawTable(spark, store, t)
      assert(df.isEmpty && df.columns.contains("ts_day"), t)
    }
    assert(MetricsQueryApi.getRollupsStored(spark, store, full(), now,
      catalogOverride = Some(Seq(("t1", "m.a", "u", "basic"))
        .toDF("tenant_id", "metric_name", "unit", "rollup_type")))
      .collect().isEmpty)
  }
}

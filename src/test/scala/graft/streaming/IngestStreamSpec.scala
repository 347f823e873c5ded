package graft.streaming

import graft.SparkSuite
import graft.core.Granularity
import graft.operators.Rollups
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end streaming ingest: JSON lines → validation → full-res store →
  * per-batch 5m re-roll, including a LATE point arriving in a later batch
  * (the reference's delayed-metric re-roll scenario, SURVEY §2.9). The
  * store must equal a batch rollup of all valid input — the recompute-
  * from-source discipline makes late data converge to exactly that. */
class IngestStreamSpec extends AnyFunSuite with SparkSuite {

  private def json(tenant: String, name: String, ts: Long, v: Double): String =
    s"""{"tenant_id":"$tenant","metric_name":"$name","ts_ms":$ts,"value":$v,"ttl_seconds":86400,"unit":"ms"}"""

  test("stream ingest with late data converges to the batch rollup") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val store = Files.createTempDirectory("graft_store").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val base = 1704067200000L

    val mem = MemoryStream[String]
    val q = IngestStream.start(
      mem.toDF().select(col("value")), store, ckpt)

    // batch 1: two windows for t1.m1 + one invalid record (empty name)
    mem.addData(
      json("t1", "m1", base + 10000, 1.0),
      json("t1", "m1", base + 20000, 3.0),
      json("t1", "m1", base + 310000, 5.0),
      json("t1", "", base + 1000, 9.0))
    q.processAllAvailable()

    // batch 2: a LATE point for the first window + a new locator
    mem.addData(
      json("t1", "m1", base + 30000, 7.0),
      json("t2", "m9", base + 600000, 2.0))
    q.processAllAvailable()
    q.stop()

    val rolled = graft.core.SnapshotStore.read(spark, s"$store/metrics_5m")
      .get
      .select("tenant_id", "metric_name", "bucket_ms", "num_points", "sum_v")
      .orderBy("tenant_id", "metric_name", "bucket_ms")
      .collect()

    val expected = Rollups.basicFromRaw(
        Seq(
          ("t1", "m1", base + 10000, 1.0),
          ("t1", "m1", base + 20000, 3.0),
          ("t1", "m1", base + 310000, 5.0),
          ("t1", "m1", base + 30000, 7.0),
          ("t2", "m9", base + 600000, 2.0))
          .toDF("tenant_id", "metric_name", "ts_ms", "value"),
        Granularity.MIN_5)
      .select("tenant_id", "metric_name", "bucket_ms", "num_points", "sum_v")
      .orderBy("tenant_id", "metric_name", "bucket_ms")
      .collect()

    assert(rolled.length === expected.length)
    rolled.zip(expected).foreach { case (a, b) => assert(a === b) }
    // the late point re-rolled its window: first window has 3 points
    assert(rolled(0).getLong(3) === 3L)

    // the invalid record (empty name) landed in the errors sink
    val errors = spark.read.parquet(s"$store/metrics_errors")
    assert(errors.count() === 1)
    assert(errors.collect()(0).getAs[Double]("value") === 9.0)
  }

  test("events stream ingest: search over the resulting store matches batch expectations") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val store = Files.createTempDirectory("graft_estore").toString
    val ckpt = Files.createTempDirectory("graft_eckpt").toString
    val base = 1704844800000L
    def ev(tenant: String, id: Long, ts: Long, typ: String, v: Double, k: Int): String =
      s"""{"tenant_id":"$tenant","event_id":$id,"ts_ms":$ts,"event_type":"$typ","value":$v,"props":"{\\"k\\": $k}"}"""

    val mem = MemoryStream[String]
    val q = IngestStream.startEvents(mem.toDF().select(col("value")), store, ckpt)
    mem.addData(
      ev("t1", 1, base + 1000, "deploy", 1.0, 10),
      ev("t1", 2, base + 2000, "deploy", 2.0, 99), // tag regex must reject
      s"""{"tenant_id":"t1","event_id":3,"ts_ms":${base + 3000},"value":4.0,"props":"{}"}""") // no type → invalid
    q.processAllAvailable()
    // a second batch lands on the NEXT day partition
    mem.addData(ev("t2", 4, base + 86400000L + 5000, "alert", 3.0, 15))
    q.processAllAvailable()
    q.stop()

    val evStore = IngestStream.eventsStore(spark, store)
    // same range+tag search shape as q_event_search
    val hits = graft.operators.Discovery.eventSearch(
        evStore, base, base + 2 * 86400000L, "\"k\": 1[0-9]\\}")
      .select("event_id", "event_type").collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(1L, 4L))
    assert(hits.map(_.getString(1)).toSeq === Seq("deploy", "alert"))
    // range filter excludes day 2 when until is tightened
    assert(graft.operators.Discovery.eventSearch(
      evStore, base, base + 86400000L, "\"k\": 1[0-9]\\}").count() === 1)
    // the type-less record landed in the errors sink, not the store
    assert(spark.read.parquet(s"$store/events_errors").count() === 1)
    assert(evStore.count() === 3)
    // store is day-partitioned for range pruning
    assert(spark.read.parquet(s"$store/events")
      .select("ts_day").distinct().count() === 2)
  }

  test("validation filter drops out-of-range and empty-name records") {
    import spark.implicits._
    val now = 1704067200000L
    val df = IngestStream.withValidity(
      Seq(
        ("t1", "ok", now, 1.0, 300, "ms"),
        ("t1", "", now, 1.0, 300, "ms"),
        ("t1", "old", now - 100L * 86400000L, 1.0, 300, "ms"),
        ("t1", "badttl", now, 1.0, -5, "ms"))
        .toDF("tenant_id", "metric_name", "ts_ms", "value", "ttl_seconds", "unit"),
      minTs = now - 86400000L, maxTs = now + 86400000L)
    val valid = df.filter(col("valid")).select("metric_name").as[String].collect().toSet
    assert(valid === Set("ok"))
  }

  test("NULL fields make a record invalid, not silently dropped") {
    import spark.implicits._
    val now = 1704067200000L
    val df = IngestStream.withValidity(
      Seq(("t1", "nullts", null.asInstanceOf[java.lang.Long], 1.0, 300, "ms"))
        .toDF("tenant_id", "metric_name", "ts_ms", "value", "ttl_seconds", "unit"),
      minTs = now - 86400000L, maxTs = now + 86400000L)
    // valid must be exactly false (not NULL) so the errors split catches it
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Boolean]("valid") === false)
    assert(df.filter(!org.apache.spark.sql.functions.col("valid")).count() === 1)
  }

  test("typed batch routes numerics to the rollup store, strings/booleans to metrics_string") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_typed").toString
    val t = 1704067200000L
    def line(name: String, v: String): String =
      s"""{"tenant_id":"t1","metric_name":"$name","ts_ms":$t,"value":$v,"ttl_seconds":86400,"unit":"u"}"""
    val lines = Seq(
      line("num", "12.5"),            // JSON number → rollup pipeline
      line("str", "\"lvl_3\""),       // string → metrics_string
      line("numstr", "\"123\""),      // numeric-LOOKING string stays a string
      line("boolmetric", "true"),     // boolean → metrics_string, is_bool
      line("late_str", "\"x\"").replace(s""""ts_ms":$t""", s""""ts_ms":${t - 100L * 86400000L}"""))
      .toDF("value")
    IngestStream.processTypedBatchFused(IngestStream.parseJsonTyped(lines), store,
      minTs = t - 86400000L, maxTs = t + 86400000L)
    val full = spark.read.parquet(s"$store/metrics_full")
    assert(full.select("metric_name").as[String].collect().toSet === Set("num"))
    assert(full.select("value").as[Double].head() === 12.5)
    val strs = spark.read.parquet(s"$store/metrics_string")
      .select("metric_name", "value_str", "is_bool")
      .as[(String, String, Boolean)].collect().toSet
    assert(strs === Set(("str", "lvl_3", false), ("numstr", "123", false),
      ("boolmetric", "true", true)))
    // an out-of-window string record lands in the string errors sink
    val errs = spark.read.parquet(s"$store/metrics_string_errors")
      .select("metric_name").as[String].collect().toSet
    assert(errs === Set("late_str"))
    // and the 5m rollup of the numeric arm exists (the pipeline really ran)
    assert(graft.core.SnapshotStore.read(spark, s"$store/metrics_5m")
      .get.count() === 1)
  }

  test("watermarked streaming 5m aggregation emits closed windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L
    val mem = MemoryStream[(String, String, Long, Double)]
    val agg = IngestStream.streaming5m(
      mem.toDF().toDF("tenant_id", "metric_name", "ts_ms", "value"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("s5m").start()
    mem.addData(("t1", "m1", base + 1000, 2.0), ("t1", "m1", base + 2000, 4.0))
    q.processAllAvailable()
    // advance event time far past the watermark so the first window closes
    mem.addData(("t1", "m1", base + 3600000, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("s5m").collect()
    assert(out.exists(r => r.getAs[Long]("bucket_ms") == base &&
      r.getAs[Long]("num_points") == 2L && r.getAs[Double]("sum_v") == 6.0))
  }
}

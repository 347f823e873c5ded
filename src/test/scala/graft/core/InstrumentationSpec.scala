package graft.core

import graft.SparkSuite
import graft.streaming.IngestStream
import org.scalatest.funsuite.AnyFunSuite

/** [[Instrumentation]] — the engine's operational layer (reference:
  * Instrumentation.java meters + RollupEventEmitter): ingest paths meter
  * batches/rows/rejects without adding Spark actions, re-rolls emit
  * granularity-tagged events to registered listeners, and the persisted
  * locator catalog the same batches maintain answers family/unit lookups
  * without touching a data table. */
class InstrumentationSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def mkBatch(rows: Seq[(String, String, Long, java.lang.Double)]) =
    rows.toDF("tenant_id", "metric_name", "ts_ms", "value")
      .withColumn("ttl_seconds",
        org.apache.spark.sql.functions.lit(null).cast("int"))
      .withColumn("unit", org.apache.spark.sql.functions.lit("req"))

  test("registry: counters and listener isolation") {
    val r = new Instrumentation.Registry
    r.inc("a.b"); r.inc("a.b", 4L)
    assert(r.count("a.b") === 5L)
    assert(r.count("never") === 0L)
    assert(r.snapshot() === Map("a.b" -> 5L))
    // a throwing listener must not break emission or the other listeners
    var seen = List.empty[Instrumentation.RollupEvent]
    r.addRollupListener(_ => throw new RuntimeException("boom"))
    r.addRollupListener(e => seen ::= e)
    r.emitRollup(Instrumentation.RollupEvent("s", "basic",
      Granularity.MIN_5, Seq(0L)))
    assert(seen.map(_.family) === List("basic"))
    assert(r.count("rollup.listener.errors") === 1L)
    assert(r.count("rollup.events.basic.5m") === 1L)
    // snapshotJson is valid single-object JSON with sorted keys
    val js = r.snapshotJson()
    assert(js.startsWith("{") && js.endsWith("}"))
    assert(js.contains("\"a.b\": 5"))
  }

  test("emitRollup isolates a listener's ordinary exception but lets a " +
    "fatal error propagate") {
    val r = new Instrumentation.Registry
    val ev = Instrumentation.RollupEvent("s", "basic", Granularity.MIN_5,
      Seq(0L))
    r.addRollupListener(_ => throw new RuntimeException("boom"))
    r.addRollupListener(_ => throw new LinkageError("fatal"))
    val thrown = intercept[LinkageError](r.emitRollup(ev))
    assert(thrown.getMessage === "fatal")
    // the ordinary failure of the first listener was still counted
    assert(r.count("rollup.listener.errors") === 1L)
  }

  test("ingest meters batches/rows/rejects; re-rolls emit events with the " +
    "exact dirty days; the catalog answers family+unit lookups") {
    Instrumentation.global.reset()
    var events = List.empty[Instrumentation.RollupEvent]
    val listener = (e: Instrumentation.RollupEvent) => events ::= e
    Instrumentation.global.addRollupListener(listener)
    try {
      val store = java.nio.file.Files.createTempDirectory("graft_instr").toString
      val day0 = 1704067200000L // 2024-01-01
      val batch = mkBatch(Seq(
        ("t1", "cpu.load", day0 + 1000L, 0.5),
        ("t1", "cpu.load", day0 + 61000L, 0.7),
        ("t1", "mem.used", day0 + 86400000L + 1000L, 10.0),
        ("t1", "bad", -5L, 1.0))) // out of window → errors sink
      IngestStream.processBatch(
        IngestStream.withValidity(batch, 0L, day0 * 2), store)
      assert(Instrumentation.global.count("ingest.batches") === 1L)
      assert(Instrumentation.global.count("ingest.rows.metrics_full") === 3L)
      assert(Instrumentation.global.count("ingest.rows.errors") === 1L)
      // 5m re-roll event carries exactly the two dirty days
      val fiveM = events.filter(e =>
        e.granularity == Granularity.MIN_5 && e.family == "basic")
      assert(fiveM.map(_.tsDays.sorted) ===
        List(Seq(day0, day0 + 86400000L)))
      assert(fiveM.head.store === store)
      // the persisted catalog holds one row per locator with family + unit
      val cat = IngestStream.metricCatalog(spark, store)
      assert(cat.isDefined)
      val rows = cat.get.orderBy("metric_name")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2), r.getString(3)))
      assert(rows.toSeq === Seq(
        ("t1", "cpu.load", "basic", "req"),
        ("t1", "mem.used", "basic", "req")))
      // the store-facing catalog serves from it (no raw-table derivation)
      val sc = graft.query.MetricsQueryApi.storeCatalog(spark, store)
        .orderBy("metric_name").collect()
        .map(r => (r.getAs[String]("metric_name"), r.getAs[String]("unit"),
          r.getAs[String]("rollup_type")))
      assert(sc.toSeq === Seq(("cpu.load", "req", "basic"),
        ("mem.used", "req", "basic")))
    } finally {
      Instrumentation.global.removeRollupListener(listener)
      Instrumentation.global.reset()
    }
  }

  test("string-only typed batches count in ingest.batches; full-ladder " +
    "rebuilds flag fullRebuild instead of claiming zero dirty days") {
    Instrumentation.global.reset()
    var events = List.empty[Instrumentation.RollupEvent]
    val listener = (e: Instrumentation.RollupEvent) => events ::= e
    Instrumentation.global.addRollupListener(listener)
    try {
      val store = java.nio.file.Files.createTempDirectory("graft_instr3").toString
      val day0 = 1704067200000L
      // a STRING-only batch through the typed path must still meter
      val lines = Seq(
        s"""{"tenant_id": "t1", "metric_name": "app.mode",
           | "ts_ms": ${day0 + 1000}, "value": "active"}""".stripMargin
          .replaceAll("\n", ""))
        .toDF("value")
      IngestStream.processTypedBatchFused(IngestStream.parseJsonTyped(lines), store)
      assert(Instrumentation.global.count("ingest.batches") === 1L,
        "string-only batches must not vanish from the batch counter")
      assert(Instrumentation.global.count("ingest.rows.metrics_string") === 1L)
      // seed a numeric day, then a FULL ladder rebuild (dirtyDays = None)
      IngestStream.processBatch(IngestStream.withValidity(
        mkBatch(Seq(("t1", "cpu.load", day0 + 1000L, 0.5))),
        0L, Long.MaxValue), store, batchId = 1L)
      events = Nil
      IngestStream.rollupCascadeFor(spark, store, dirtyDays = None)
      assert(events.nonEmpty)
      assert(events.forall(e => e.fullRebuild && e.tsDays.isEmpty),
        "a full rebuild must announce itself, not claim zero dirty days")
      // and the incremental path never sets the flag
      events = Nil
      IngestStream.rollupCascadeFor(spark, store, dirtyDays = Some(Seq(day0)))
      assert(events.nonEmpty)
      assert(events.forall(e => !e.fullRebuild && e.tsDays === Seq(day0)))
    } finally {
      Instrumentation.global.removeRollupListener(listener)
      Instrumentation.global.reset()
    }
  }

  test("preagg ingest catalogs kinds and emits kind-tagged cascade events") {
    Instrumentation.global.reset()
    var events = List.empty[Instrumentation.RollupEvent]
    val listener = (e: Instrumentation.RollupEvent) => events ::= e
    Instrumentation.global.addRollupListener(listener)
    try {
      val store = java.nio.file.Files.createTempDirectory("graft_instr2").toString
      val day0 = 1704067200000L
      val payload =
        s"""{"tenantId": "t1", "timestamp": ${day0 + 1000}, "flushInterval": 10000,
           | "counters": [{"name": "hits", "value": 3.0, "rate": 0.3}],
           | "gauges": [{"name": "depth", "latest": 7.0}]}""".stripMargin
      val parsed = graft.operators.Preaggregated
        .fromAggregatedJson(Seq(payload).toDF("value"))
      IngestStream.processAggregatedBatch(parsed, store, cascade = true)
      assert(Instrumentation.global.count("ingest.batches.preagg") === 1L)
      assert(Instrumentation.global.count("ingest.rows.preagg_raw") === 2L)
      // tier-1 events for both present kinds, each tagged with the day
      val kinds5m = events.filter(_.granularity == Granularity.MIN_5)
        .map(_.family).sorted
      assert(kinds5m === List("counter", "gauge"))
      assert(events.forall(_.tsDays == Seq(day0)))
      // cascade events climbed the ladder for each kind
      assert(events.exists(e =>
        e.family == "counter" && e.granularity == Granularity.MIN_1440))
      // catalog: kind families recorded, unit absent (statsd carries none)
      val rows = IngestStream.metricCatalog(spark, store).get
        .orderBy("metric_name").collect()
        .map(r => (r.getString(1), r.getString(2)))
      assert(rows.toSeq === Seq(("depth", "gauge"), ("hits", "counter")))
    } finally {
      Instrumentation.global.removeRollupListener(listener)
      Instrumentation.global.reset()
    }
  }
}

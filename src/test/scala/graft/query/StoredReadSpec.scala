package graft.query

import graft.SparkSuite
import graft.core.Granularity
import graft.streaming.IngestStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The store-backed read path (reference: RollupHandler
  * .getRollupByGranularity, RollupHandler.java:126-223 — serve the rollup CF
  * at the chosen granularity, repair gaps from finer data): proves
  * [[MetricsQueryApi.getRollupsStored]] over an ingest-built store equals a
  * pure raw recompute, including a deliberately missing tier day, and that a
  * fully-covered query never touches the raw table. */
class StoredReadSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val day0 = 1704240000000L // 2024-01-03 00:00 UTC
  private val dayMs = 86400000L

  /** Synthetic points: 2 tenants × 2 metrics × 4 days, several points per
    * 5m bucket. INTEGER values — double addition over integers this small is
    * exact in any order, so stored-vs-recomputed comparisons can be
    * hash-exact without decimal plumbing. */
  private def points: DataFrame = {
    val rows = for {
      (tenant, metric) <- Seq(("t1", "app.t1.m1"), ("t1", "app.t1.m2"),
        ("t2", "app.t2.m1"))
      d <- 0 until 4
      i <- 0 until 200
    } yield (tenant, metric, day0 + d * dayMs + i * 397000L,
      ((i * 7 + d * 13) % 101).toDouble, 86400, "count")
    rows.toDF("tenant_id", "metric_name", "ts_ms", "value", "ttl_seconds", "unit")
  }

  /** Build a store through the production ingest path (raw write + dirty-day
    * 5m roll + cascade), and a tier-less twin holding only raw, with the
    * catalog a rebuild derives from it: the raw-recompute reference. */
  private def buildStores(): (String, String) = {
    val store = java.nio.file.Files.createTempDirectory("graft_srs_").toString
    val rawOnly = java.nio.file.Files.createTempDirectory("graft_srs_raw_").toString
    val validated = IngestStream.withValidity(points, 0L, Long.MaxValue)
    IngestStream.processBatch(validated, store)
    IngestStream.rollupCascadeFor(spark, store)
    IngestStream.writeRaw(points, rawOnly, 0L)
    IngestStream.rebuildCatalog(spark, rawOnly)
    (store, rawOnly)
  }

  private def params(to: String = "20240107",
      g: Granularity = Granularity.MIN_5) = MetricsQueryApi.Params(
    "t1", "app.t1.*", from = "20240103", to = to,
    points = None, resolution = Some(g),
    // variance excluded: var_pop's central-moment accumulation is
    // partition-order-dependent even over integers; everything else is exact
    select = Seq("numPoints", "sum", "average", "min", "max"))

  private val now = 1704931200000L // 2024-01-11

  private def run(store: String, to: String = "20240107",
      g: Granularity = Granularity.MIN_5): Array[String] =
    MetricsQueryApi.getRollupsStored(spark, store, params(to, g), nowMillis = now)
      .collect().map(_.toString).sorted

  test("stored path ≡ raw recompute when the tier fully covers the range") {
    val (store, rawOnly) = buildStores()
    assert(run(store) === run(rawOnly))
  }

  test("a missing tier day is repaired from raw, transparently") {
    val (store, rawOnly) = buildStores()
    // drop 2024-01-04 from the 5m tier — the gap the reference's
    // repairMetrics path fills (RollupHandler.java:241-297); recursive:
    // the snapshot layout nests files under ts_day=D/gen=N
    val gone = new org.apache.hadoop.fs.Path(
      s"$store/metrics_5m/ts_day=${day0 + dayMs}")
    val fs = gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(gone))
    assert(fs.delete(gone, true))
    assert(run(store) === run(rawOnly))
  }

  test("tail partial bucket is recomputed, never served stale from the tier") {
    val (store, rawOnly) = buildStores()
    // to = 00:10 into day 4 — mid-20m-bucket, so the tail bucket must come
    // from raw points < to, not the stored full-window bucket
    val to = "00:10 20240106"
    assert(run(store, to, Granularity.MIN_20) ===
      run(rawOnly, to, Granularity.MIN_20))
  }

  test("fully-covered query plans ZERO raw reads (scale contract)") {
    val (store, _) = buildStores()
    val df = MetricsQueryApi.getRollupsStored(spark, store, params(), nowMillis = now)
    val plan = df.queryExecution.executedPlan.toString
    // positive assert guards against path truncation silently passing
    assert(plan.contains("metrics_5m"), s"tier scan missing from plan:\n$plan")
    assert(!plan.contains("metrics_full"),
      s"covered read must not scan raw:\n$plan")
  }

  test("coarser tier (20m) serves from its own table") {
    val (store, rawOnly) = buildStores()
    assert(run(store, g = Granularity.MIN_20) ===
      run(rawOnly, g = Granularity.MIN_20))
    val df = MetricsQueryApi.getRollupsStored(spark, store,
      params(g = Granularity.MIN_20), nowMillis = now)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("metrics_20m") && !plan.contains("metrics_full"))
  }

  test("rawOverride: gaps fill from an external raw view (no ts_day column)") {
    val (store, rawOnly) = buildStores()
    val gone = new org.apache.hadoop.fs.Path(
      s"$store/metrics_5m/ts_day=${day0 + 2 * dayMs}")
    assert(gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gone, true))
    val ext = points.select("tenant_id", "metric_name", "ts_ms", "value", "unit")
    val got = MetricsQueryApi.getRollupsStored(spark, store, params(),
      nowMillis = now, rawOverride = Some(ext))
      .collect().map(_.toString).sorted
    assert(got === run(rawOnly))
  }

  test("tier-only store (raw pruned by retention) serves the tiers and " +
    "degrades gaps to empty, never PATH_NOT_FOUND") {
    val (store, _) = buildStores()
    val covered = run(store) // full coverage baseline
    // retention prunes the whole raw table (its TTL is the shortest)
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/metrics_full"), true)
    // fully-tier-covered range: identical answer without raw
    assert(run(store) === covered)
    // unaligned `to` forces the tail-partial branch — the tail serves
    // empty (no raw to recompute from), everything else from the tier
    val tail = MetricsQueryApi.getRollupsStored(spark, store,
      params(to = "00:10 20240106", g = Granularity.MIN_20), nowMillis = now)
      .collect()
    assert(tail.nonEmpty, "tier buckets before the tail must still serve")
  }

  test("unknown stat names fail loud instead of serving timestamp-only " +
    "buckets; default-union latest from a mixed catalog is tolerated") {
    val (store, _) = buildStores()
    val e = intercept[IllegalArgumentException] {
      MetricsQueryApi.getRollupsStored(spark, store,
        params().copy(select = Seq("mean")), nowMillis = now)
    }
    assert(e.getMessage.contains("unknown stat"))
    // catalog carrying a gauge-family entry + select ABSENT: the computed
    // default union contains `latest`, which the basic path must simply
    // not serve — not reject the whole query
    import spark.implicits._
    val mixedCatalog = Seq(
      ("t1", "app.t1.m1", "count", "basic"),
      ("t1", "app.t1.gauge", "count", "gauge"))
      .toDF("tenant_id", "metric_name", "unit", "rollup_type")
    val got = MetricsQueryApi.getRollupsStored(spark, store,
      params().copy(select = Nil), nowMillis = now,
      catalogOverride = Some(mixedCatalog))
    assert(got.collect().nonEmpty)
    assert(!got.columns.contains("latest_v"))
  }

  test("latest is routed to the gauge family, not the basic store") {
    val (store, _) = buildStores()
    val e = intercept[IllegalArgumentException] {
      MetricsQueryApi.getRollupsStored(spark, store,
        params().copy(select = Seq("latest")), nowMillis = now)
    }
    assert(e.getMessage.contains("gauge"))
  }

  test("FULL resolution serves raw samples from metrics_full (latest allowed)") {
    val (store, _) = buildStores()
    val rows = MetricsQueryApi.getRollupsStored(spark, store,
      params(g = Granularity.FULL)
        .copy(select = Seq("numPoints", "sum", "average", "latest")),
      nowMillis = now).collect()
    // every t1 raw point in [from, to), its own timestamp, stats = value
    val raw = spark.read.parquet(s"$store/metrics_full")
      .filter(col("tenant_id") === "t1" &&
        col("ts_ms") >= day0 && col("ts_ms") < day0 + 4 * dayMs)
      .select("metric_name", "ts_ms", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    assert(rows.length === raw.length)
    val got = rows.map(r => (r.getAs[String]("metric_name"),
      r.getAs[Long]("bucket_ms"), r.getAs[Double]("sum_v"))).sorted
    assert(got === raw)
    rows.foreach { r =>
      assert(r.getAs[Long]("num_points") === 1L)
      assert(r.getAs[Double]("latest_v") === r.getAs[Double]("sum_v"))
      assert(r.getAs[Double]("average") === r.getAs[Double]("sum_v"))
    }
  }
}

package graft.query

import graft.SparkSuite
import graft.core.{CatalogSnapshot, Granularity, SnapshotStore}
import graft.operators.Rollups
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The join-free read: the resolved locators filter the scan as
  * `metric_name IN (…)` and label the rows from literal maps, and the
  * read orders inside one partition. Every case compares
  * the read, row for row and in order, with the join derivation it
  * replaced — the locators as a broadcast frame, semi-joined into the
  * scans, inner-joined back for unit and rollup_type, globally ordered. */
class JoinFreeReadSpec extends AnyFunSuite with SparkSuite
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val day0 = 1704240000000L // 2024-01-03 00:00 UTC
  private val dayMs = 86400000L
  private val now = 1704931200000L // 2024-01-11
  private val fromMs = day0
  private val toMs = day0 + 2 * dayMs
  private val keys = Seq("tenant_id", "metric_name")

  /** t1: two metrics; t3: exactly 100 metrics (a full batch). Integer
    * values, so sums over any partition order are exact. */
  private def points: DataFrame = {
    val names = Seq("app.t1.m1", "app.t1.m2").map(("t1", _)) ++
      (0 until MetricsQueryApi.MaxMetricsPerBatchQuery)
        .map(i => ("t3", f"app.t3.m$i%03d"))
    val rows = for {
      (tenant, metric) <- names
      d <- 0 until 2
      i <- 0 until 12
    } yield (tenant, metric, day0 + d * dayMs + i * 1797000L,
      ((i * 7 + d * 13 + metric.length) % 101).toDouble, 86400, "count")
    rows.toDF("tenant_id", "metric_name", "ts_ms", "value", "ttl_seconds",
      "unit")
  }

  /** A store through the production ingest path (its catalog is complete
    * from birth), and a raw-only twin with no tiers whose catalog a
    * rebuild derives from its raw table. */
  private lazy val stores: (String, String) = {
    val store = java.nio.file.Files.createTempDirectory("graft_jfr_").toString
    val rawOnly = java.nio.file.Files.createTempDirectory("graft_jfr_raw_").toString
    IngestStream.processBatch(IngestStream.withValidity(points, 0L,
      Long.MaxValue), store)
    IngestStream.writeRaw(points, rawOnly, 0L)
    IngestStream.rebuildCatalog(spark, rawOnly)
    (store, rawOnly)
  }

  private val stats = Seq("numPoints", "sum", "average", "min", "max")
  private val statCols = Seq("num_points", "sum_v", "average", "min_v", "max_v")

  private def params(tenant: String, glob: String, to: Long = toMs,
      g: Granularity = Granularity.MIN_5) = MetricsQueryApi.Params(tenant,
    glob, (fromMs / 1000).toString, (to / 1000).toString, None, Some(g),
    stats)

  private def namesFrame(tenant: String,
      resolved: Seq[(String, String, String)]): DataFrame =
    resolved.map { case (n, u, t) => (tenant, n, u, t) }
      .toDF("tenant_id", "metric_name", "unit", "rollup_type")

  /** The join derivation of a stored basic read whose tier (when there is
    * one) covers every day of the range: tier slice below the tail bucket,
    * raw recompute of the tail (of everything, with no tier). */
  private def storedByJoin(store: String, p: MetricsQueryApi.Params,
      resolved: Seq[(String, String, String)], to: Long = toMs): DataFrame = {
    val g = p.resolution.get
    val names = namesFrame(p.tenantId, resolved)
    val nameKeys = names.select(keys.map(col): _*)
    val tier = SnapshotStore.read(spark, s"$store/metrics_${g.name}")
    val tailStart = if (tier.isEmpty) g.snap(fromMs)
      else if (to % g.millis == 0) to else g.snap(to)
    val stored = tier.map(_.filter(col("bucket_ms") >= g.snap(fromMs) &&
        col("bucket_ms") < tailStart && col("tenant_id") === p.tenantId)
      .join(broadcast(nameKeys), keys, "left_semi")
      .select("tenant_id", "metric_name", "bucket_ms", "num_points", "sum_v",
        "avg_v", "min_v", "max_v", "var_v"))
    val repaired = if (tailStart >= to) None else Some(Rollups.basicFromRaw(
      spark.read.parquet(s"$store/metrics_full")
        .filter(col("ts_ms") >= tailStart && col("ts_ms") < to &&
          col("tenant_id") === p.tenantId)
        .join(broadcast(nameKeys), keys, "left_semi")
        .select("tenant_id", "metric_name", "ts_ms", "value"), g))
    (stored.toSeq ++ repaired).reduce(_ unionByName _)
      .join(broadcast(names), keys)
      .withColumnRenamed("avg_v", "average")
      .select((Seq("tenant_id", "metric_name", "unit", "bucket_ms") ++
        statCols).map(col): _*)
      .orderBy("metric_name", "bucket_ms")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def snapshotResolved(store: String, tenant: String,
      glob: String): Seq[(String, String, String)] =
    CatalogSnapshot.tenant(spark, store, tenant)
      .search(glob, MetricsQueryApi.MaxMetricsPerBatchQuery + 1)
      .map(l => (l.name, l.unit, l.family))

  test("stored reads equal the join derivation: an empty resolution, a " +
    "two-metric glob with a raw tail bucket and a 100-name batch") {
    val (store, _) = stores
    val tail = toMs - 600000L - 1L
    for ((tenant, glob, to) <- Seq(("t1", "nomatch.*", toMs),
        ("t1", "app.t1.*", toMs), ("t1", "app.t1.*", tail),
        ("t3", "app.t3.*", toMs))) {
      val p = params(tenant, glob, to)
      val resolved = snapshotResolved(store, tenant, glob)
      val got = MetricsQueryApi.getRollupsStored(spark, store, p,
        nowMillis = now)
      val want = storedByJoin(store, p, resolved, to)
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(rows(got) === rows(want), s"$tenant $glob to=$to")
    }
    assert(snapshotResolved(store, "t3", "app.t3.*").size ===
      MetricsQueryApi.MaxMetricsPerBatchQuery)
    assert(rows(MetricsQueryApi.getRollupsStored(spark, store,
      params("t3", "app.t3.*"), nowMillis = now)).map(_.getString(1))
      .distinct.size === MetricsQueryApi.MaxMetricsPerBatchQuery)
  }

  test("a two-family locator takes its snapshot unit and family, as the " +
    "join derivation does; FULL raw reads equal it too") {
    val (store0, _) = stores
    // a private copy: the extra catalog batch must not leak into the
    // other cases' snapshots
    val store = java.nio.file.Files.createTempDirectory("graft_jfr2_")
      .toString + "/store"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(store0),
      fs, new org.apache.hadoop.fs.Path(store), false, true,
      spark.sparkContext.hadoopConfiguration)
    // app.t1.m1 is also cataloged as a counter with a larger unit
    Seq(("t1", "app.t1.m1", "counter", "zz"))
      .toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
      .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=999")
    val resolved = snapshotResolved(store, "t1", "app.t1.*")
    assert(resolved.contains(("app.t1.m1", "zz", "basic")))
    val p = params("t1", "app.t1.*")
    val got = MetricsQueryApi.getRollupsStored(spark, store, p, nowMillis = now)
    assert(rows(got) === rows(storedByJoin(store, p, resolved)))
    // per-metric defaults: the stat set follows the attached rollup_type
    val dflt = MetricsQueryApi.getRollupsStored(spark, store,
      p.copy(select = Nil), nowMillis = now)
    assert(dflt.select("stat_set").distinct().collect()
      .map(_.getSeq[String](0)).toSeq === Seq(Seq("average", "num_points", "sum_v")))
    // FULL: the raw samples with their own timestamps
    val full = p.copy(resolution = Some(Granularity.FULL),
      select = Seq("average", "numPoints"))
    val fullByJoin = spark.read.parquet(s"$store/metrics_full")
      .filter(col("ts_ms") >= fromMs && col("ts_ms") < toMs &&
        col("tenant_id") === "t1")
      .select("tenant_id", "metric_name", "ts_ms", "value")
      .join(broadcast(namesFrame("t1", resolved)), keys)
      .select(col("tenant_id"), col("metric_name"), col("unit"),
        col("ts_ms").as("bucket_ms"), col("value").cast("double").as("average"),
        lit(1L).as("num_points"))
      .orderBy("metric_name", "bucket_ms")
    assert(rows(MetricsQueryApi.getRollupsStored(spark, store, full,
      nowMillis = now)) === rows(fullByJoin))
  }

  test("a rebuilt raw-only store and a catalogOverride equal the join " +
    "derivation; an override listing a name twice is rejected") {
    val (store, rawOnly) = stores
    val p = params("t1", "app.t1.*")
    // no tiers: the rebuilt catalog resolves the raw store's locators and
    // every bucket recomputes from raw
    val derived = Seq(("app.t1.m1", "count", "basic"),
      ("app.t1.m2", "count", "basic"))
    assert(snapshotResolved(rawOnly, "t1", "app.t1.*") === derived)
    assert(rows(MetricsQueryApi.getRollupsStored(spark, rawOnly, p,
      nowMillis = now)) === rows(storedByJoin(rawOnly, p, derived)))
    // the override's own units label the rows
    val listed = Seq(("app.t1.m1", "zz", "basic"), ("app.t1.m2", "count", "basic"))
    assert(rows(MetricsQueryApi.getRollupsStored(spark, store, p,
      nowMillis = now, catalogOverride = Some(namesFrame("t1", listed)))) ===
      rows(storedByJoin(store, p, listed)))
    // a name listed twice names no one unit for its series (the join
    // served it once per row): the read refuses it
    val twice = listed :+ (("app.t1.m1", "count", "basic"))
    assert(intercept[IllegalArgumentException](MetricsQueryApi
      .getRollupsStored(spark, store, p, nowMillis = now,
        catalogOverride = Some(namesFrame("t1", twice))))
      .getMessage.contains("more than once"))
  }

  test("a read orders inside one partition, whatever the broadcast " +
    "threshold: one coalesce(1), no global sort, the join derivation's rows") {
    val (store, _) = stores
    val p = params("t3", "app.t3.*", toMs - 600000L - 1L)
    val want = rows(storedByJoin(store, p, snapshotResolved(store, "t3",
      "app.t3.*"), toMs - 600000L - 1L))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    for (threshold <- Seq(None, Some("-1"), Some("1"))) {
      threshold.foreach(spark.conf.set(key, _))
      try {
        val got = MetricsQueryApi.getRollupsStored(spark, store, p,
          nowMillis = now)
        val plan = got.queryExecution.sparkPlan
        // the serve's coalesce(1) over the union, and the tail bucket's
        // under its aggregate (`to` is unaligned): no exchange anywhere
        assert(plan.collect { case c: CoalesceExec => c.numPartitions } ===
          Seq(1, 1), s"threshold $threshold")
        assert(collect(got.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e }.isEmpty, s"threshold $threshold")
        assert(plan.collect { case s: SortExec if s.global => s }.isEmpty,
          s"threshold $threshold")
        assert(rows(got) === want, s"threshold $threshold")
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}

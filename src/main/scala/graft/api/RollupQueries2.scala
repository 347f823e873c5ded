package graft.api

import graft.core.{ArtifactCache, Granularity, OracleViews, Tables}
import graft.operators.Rollups
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The specialized rollup kinds (counter / gauge / set / timer), the
  * query-time machinery (rollups-on-read repair, units join, rollup-type
  * routing), and the full single/multi-metric query lifecycle. */
object RollupQueries2 {

  private def sumDec(c: Column): Column = sum(c.cast(DecimalType(28, 2))).cast("double")
  private val sumDecSql = "CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE)"

  private def bucketSql(g: Granularity) = s"(ts_ms // ${g.millis}) * ${g.millis}"

  /** Counter rollup (reference: types/BluefloodCounterRollup.java:87-100):
    * summed count + per-second rate over the observed span; zero-guarded
    * division mirrors utils/Util.safeDiv. */
  private val counter20m = QDef(
    "q_rollup_counter_20m",
    s"""WITH ${OracleViews.metricsCte},
       |agg AS (
       |  SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_20)} AS bucket_ms,
       |         COUNT(value) AS sample_count,
       |         $sumDecSql AS count_sum,
       |         MIN(ts_ms) AS min_ts, MAX(ts_ms) AS max_ts
       |  FROM metrics GROUP BY 1, 2, 3
       |)
       |SELECT tenant_id, metric_name, bucket_ms, sample_count, count_sum,
       |       CASE WHEN max_ts > min_ts
       |            THEN count_sum / ((max_ts - min_ts) / 1000.0)
       |            ELSE 0.0 END AS rate
       |FROM agg
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    Tables.metrics(s, dir)
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_20).as("bucket_ms"))
      .agg(
        count(col("value")).as("sample_count"),
        sumDec(col("value")).as("count_sum"),
        min(col("ts_ms")).as("min_ts"),
        max(col("ts_ms")).as("max_ts"))
      .withColumn("rate",
        when(col("max_ts") > col("min_ts"),
          col("count_sum") / ((col("max_ts") - col("min_ts")) / lit(1000.0)))
          .otherwise(lit(0.0)))
      .drop("min_ts", "max_ts")
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Gauge rollup (reference: types/BluefloodGaugeRollup.java:64-96): basic
    * stats + the latest (max-timestamp) value. The latest pick is the
    * lexicographic max over (ts_ms, value) on BOTH sides — max_by/arg_max
    * choose an arbitrary row on ts_ms ties, which would make a hash-exact
    * comparison flaky the moment two points share a bucket's max timestamp. */
  private val gauge60m = QDef(
    "q_rollup_gauge_60m",
    s"""WITH ${OracleViews.metricsCte}
       |SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_60)} AS bucket_ms,
       |       COUNT(value) AS num_points,
       |       MIN(value) AS min_v, MAX(value) AS max_v,
       |       MAX(ts_ms) AS latest_ts,
       |       (MAX({'ts': ts_ms, 'v': value})).v AS latest_v
       |FROM metrics GROUP BY 1, 2, 3
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    Tables.metrics(s, dir)
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_60).as("bucket_ms"))
      .agg(
        count(col("value")).as("num_points"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        max(col("ts_ms")).as("latest_ts"),
        max(struct(col("ts_ms"), col("value"))).getField("value").as("latest_v"))
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Set rollup (reference: types/BluefloodSetRollup.java:30-70): exact
    * distinct cardinality per (locator, day window). The library also
    * exposes an HLL variant ([[Rollups.setApproxFromRaw]]) as the 100 TB
    * path — an unbounded exact hash set is the reference's design, kept for
    * parity, not for scale. */
  private val set1440m = QDef(
    "q_rollup_set_1440m",
    s"""WITH ${OracleViews.metricsCte}
       |SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_1440)} AS bucket_ms,
       |       COUNT(DISTINCT value) AS distinct_count
       |FROM metrics GROUP BY 1, 2, 3
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    Tables.metrics(s, dir)
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_1440).as("bucket_ms"))
      .agg(countDistinct(col("value")).as("distinct_count"))
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Timer rollup with the two-tier merge (reference:
    * types/BluefloodTimerRollup.java:211-256): 5m tier computes exact
    * interpolated percentiles and a full-span tier-1 rate; the 60m merge
    * adds counts/sums, averages the percentile means UNWEIGHTED — the
    * reference's lossy-by-design semantics (BluefloodTimerRollup.java:
    * 242-254), replicated rather than improved — and recomputes rate over
    * the total OBSERVED time of present partials, Σnᵢ / Σ(nᵢ/rateᵢ)
    * (BluefloodTimerRollup.java:226-228), which differs from count-over-
    * coarser-span whenever a 60m bucket contains empty 5m slots.
    * Percentiles and per-window elapsed times are snapped to DECIMAL(18,6)
    * on both sides so engine-level ulp and summation-order differences
    * cannot surface; sums then run over exact decimals. */
  private val timerMerge60m = QDef(
    "q_rollup_timer_60m",
    s"""WITH ${OracleViews.metricsCte},
       |t5 AS (
       |  SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_5)} AS bucket_ms,
       |         COUNT(value) AS num_points,
       |         SUM(CAST(value AS DECIMAL(28,2))) AS sum_dec,
       |         MIN(value) AS min_v, MAX(value) AS max_v,
       |         CAST(quantile_cont(value, 0.5) AS DECIMAL(18,6)) AS p50_dec,
       |         CAST(quantile_cont(value, 0.95) AS DECIMAL(18,6)) AS p95_dec,
       |         CAST(num_points / (num_points / ${Granularity.MIN_5.millis / 1000.0})
       |              AS DECIMAL(18,6)) AS elapsed_dec
       |  FROM metrics GROUP BY 1, 2, 3
       |)
       |SELECT tenant_id, metric_name,
       |       (bucket_ms // ${Granularity.MIN_60.millis}) * ${Granularity.MIN_60.millis} AS bucket_ms,
       |       CAST(SUM(num_points) AS BIGINT) AS num_points,
       |       CAST(SUM(sum_dec) AS DOUBLE) AS sum_v,
       |       CAST(SUM(sum_dec) AS DOUBLE) / SUM(num_points) AS avg_v,
       |       MIN(min_v) AS min_v, MAX(max_v) AS max_v,
       |       CAST(SUM(p50_dec) AS DOUBLE) / COUNT(p50_dec) AS p50,
       |       CAST(SUM(p95_dec) AS DOUBLE) / COUNT(p95_dec) AS p95,
       |       CAST(SUM(num_points) AS DOUBLE) / CAST(SUM(elapsed_dec) AS DOUBLE) AS rate
       |FROM t5 GROUP BY 1, 2, 3
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    // one percentile buffer for both quantiles (array form), not two
    val t5 = Tables.metrics(s, dir)
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_5).as("bucket_ms"))
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value").cast(DecimalType(28, 2))).as("sum_dec"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        percentile(col("value"), array(lit(0.5), lit(0.95))).as("ps"))
      .withColumn("p50_dec", col("ps").getItem(0).cast(DecimalType(18, 6)))
      .withColumn("p95_dec", col("ps").getItem(1).cast(DecimalType(18, 6)))
      .drop("ps")
      // tier-1 rate = n / 300s (full span); observed time n/rate re-derived
      // and decimal-snapped so the 60m sum is order-independent
      .withColumn("elapsed_dec",
        (col("num_points") /
          (col("num_points") / lit(Granularity.MIN_5.millis / 1000.0)))
          .cast(DecimalType(18, 6)))
    t5.groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("bucket_ms"), Granularity.MIN_60).as("bucket_ms"))
      .agg(
        sum(col("num_points")).as("num_points"),
        sum(col("sum_dec")).cast("double").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        (sum(col("p50_dec")).cast("double") / count(col("p50_dec"))).as("p50"),
        (sum(col("p95_dec")).cast("double") / count(col("p95_dec"))).as("p95"),
        (sum(col("num_points")).cast("double") /
          sum(col("elapsed_dec")).cast("double")).as("rate"))
      .withColumn("avg_v", col("sum_v") / col("num_points"))
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Rollups-on-read repair (reference: RollupHandler.java:241-297 + union
    * at 250-287): a "stored" rollup tier covering only part of the range is
    * completed on the fly — uncovered windows are recomputed from raw via
    * anti-join, then unioned. The oracle aggregates the whole range
    * directly: matching proves the repair plan fills exactly the gaps. */
  private val rollupsOnRead = QDef(
    "q_rollups_on_read",
    s"""WITH ${OracleViews.metricsCte}
       |SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_5)} AS bucket_ms,
       |       COUNT(value) AS num_points,
       |       $sumDecSql AS sum_v,
       |       MIN(value) AS min_v, MAX(value) AS max_v
       |FROM metrics GROUP BY 1, 2, 3
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    val raw = Tables.metrics(s, dir)
    def roll(points: DataFrame): DataFrame =
      points.groupBy(col("tenant_id"), col("metric_name"),
          Tables.bucketMs(col("ts_ms"), Granularity.MIN_5).as("bucket_ms"))
        .agg(
          count(col("value")).as("num_points"),
          sumDec(col("value")).as("sum_v"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"))
    // Simulated stored tier: only windows before Jan 15 were rolled up.
    val splitMs = 1705276800000L
    val stored = roll(raw.filter(col("ts_ms") < splitMs))
    val computed = roll(raw)
    val missing = computed.join(
      stored.select(col("tenant_id"), col("metric_name"), col("bucket_ms")),
      Seq("tenant_id", "metric_name", "bucket_ms"), "left_anti")
    stored.unionByName(missing)
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Units join (reference: RollupHandler.java:146-180 — async ES lookup
    * merged by locator; here a broadcast hash join against the catalog
    * dimension, the scale-correct shape for a small dim at 100 TB). */
  private val unitsJoin = QDef(
    "q_units_join",
    s"""WITH ${OracleViews.metricsCte}, ${OracleViews.catalogCte},
       |agg AS (
       |  SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_1440)} AS bucket_ms,
       |         COUNT(value) AS num_points, $sumDecSql AS sum_v
       |  FROM metrics GROUP BY 1, 2, 3
       |)
       |SELECT a.tenant_id, a.metric_name, a.bucket_ms, a.num_points, a.sum_v, c.unit
       |FROM agg a LEFT JOIN catalog c
       |  ON a.tenant_id = c.tenant_id AND a.metric_name = c.metric_name
       |ORDER BY a.tenant_id, a.metric_name, a.bucket_ms""".stripMargin) { (s, dir) =>
    val agg = Tables.metrics(s, dir)
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_1440).as("bucket_ms"))
      .agg(count(col("value")).as("num_points"), sumDec(col("value")).as("sum_v"))
    agg.join(broadcast(Tables.catalog(s, dir).select("tenant_id", "metric_name", "unit")),
        Seq("tenant_id", "metric_name"), "left")
      .select("tenant_id", "metric_name", "bucket_ms", "num_points", "sum_v", "unit")
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Rollup-type routing (reference: MetricsRWDelegator.java:79-113 + union
    * at 104-116): each locator routes to its kind's scan by catalog
    * rollup_type; results union with a `kind` discriminator. */
  private val typeRouting = QDef(
    "q_type_routing",
    s"""WITH ${OracleViews.metricsCte}, ${OracleViews.catalogCte},
       |joined AS (
       |  SELECT m.*, c.rollup_type FROM metrics m
       |  JOIN catalog c ON m.tenant_id = c.tenant_id AND m.metric_name = c.metric_name
       |),
       |basic AS (
       |  SELECT 'basic' AS kind, tenant_id, metric_name,
       |         ${bucketSql(Granularity.MIN_60)} AS bucket_ms,
       |         COUNT(value) AS num_points, $sumDecSql AS sum_v
       |  FROM joined WHERE rollup_type = 'basic' GROUP BY 2, 3, 4
       |),
       |ctr AS (
       |  SELECT 'counter' AS kind, tenant_id, metric_name,
       |         ${bucketSql(Granularity.MIN_60)} AS bucket_ms,
       |         COUNT(value) AS num_points, $sumDecSql AS sum_v
       |  FROM joined WHERE rollup_type = 'counter' GROUP BY 2, 3, 4
       |)
       |SELECT * FROM basic UNION ALL SELECT * FROM ctr
       |ORDER BY kind, tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    val cat = broadcast(Tables.catalog(s, dir)
      .select("tenant_id", "metric_name", "rollup_type"))
    val joined = Tables.metrics(s, dir).join(cat, Seq("tenant_id", "metric_name"))
    def agg(kind: String): DataFrame =
      joined.filter(col("rollup_type") === kind)
        .groupBy(col("tenant_id"), col("metric_name"),
          Tables.bucketMs(col("ts_ms"), Granularity.MIN_60).as("bucket_ms"))
        .agg(count(col("value")).as("num_points"), sumDec(col("value")).as("sum_v"))
        .select(lit(kind).as("kind"), col("tenant_id"), col("metric_name"),
          col("bucket_ms"), col("num_points"), col("sum_v"))
    agg("basic").unionByName(agg("counter"))
      .orderBy("kind", "tenant_id", "metric_name", "bucket_ms")
  }

  /** The full §3.1 query lifecycle for a batched multi-metric read:
    * points-mode resolution selection (GEOMETRIC with retention skipping,
    * pinned "now" = dataset end ⇒ picks 240m for 200 points over 20 days —
    * reference Granularity.java:298-339), range snap (RollupHandler.java:
    * 164-167), per-type default stat projection (PlotRequestParser.java:
    * 26-33: average, numPoints, sum), units join, time-ordered output. */
  // shared across q_points_query (raw re-aggregation) and
  // q_points_query_stored (read through the materialized tier)
  private val pointsFrom = 1704240000000L // 2024-01-03 00:00 UTC (240m-aligned)
  private val pointsTo = 1705968000000L   // 2024-01-23 00:00 UTC
  private val pointsNow = 1706659200000L  // 2024-01-31: retention clock
  private def pointsOracleSql(g: Granularity): String =
    s"""WITH ${OracleViews.metricsCte}, ${OracleViews.catalogCte},
       |agg AS (
       |  SELECT tenant_id, metric_name, ${bucketSql(g)} AS bucket_ms,
       |         COUNT(value) AS num_points, $sumDecSql AS sum_v
       |  FROM metrics
       |  WHERE tenant_id = 'purchase' AND ts_ms >= $pointsFrom AND ts_ms < $pointsTo
       |  GROUP BY 1, 2, 3
       |)
       |SELECT a.metric_name, a.bucket_ms, a.num_points, a.sum_v,
       |       a.sum_v / a.num_points AS average, c.unit
       |FROM agg a LEFT JOIN catalog c
       |  ON a.tenant_id = c.tenant_id AND a.metric_name = c.metric_name
       |ORDER BY a.metric_name, a.bucket_ms""".stripMargin

  private val pointsQuery = {
    val from = pointsFrom
    val to = pointsTo
    val nowPinned = pointsNow
    val g = Granularity.granularityFromPointsInInterval(from, to, 200, nowMillis = nowPinned)
    require(g == Granularity.MIN_240, s"expected MIN_240, selection gave $g")
    QDef(
      "q_points_query",
      pointsOracleSql(g)) { (s, dir) =>
      val pts = Tables.metricsRange(s, dir, Some((from, to)))
        .filter(col("tenant_id") === "purchase")
        .groupBy(col("tenant_id"), col("metric_name"),
          Tables.bucketMs(col("ts_ms"), g).as("bucket_ms"))
        .agg(count(col("value")).as("num_points"), sumDec(col("value")).as("sum_v"))
        .withColumn("average", col("sum_v") / col("num_points"))
      pts.join(broadcast(Tables.catalog(s, dir).select("tenant_id", "metric_name", "unit")),
          Seq("tenant_id", "metric_name"), "left")
        .select("metric_name", "bucket_ms", "num_points", "sum_v", "average", "unit")
        .orderBy("metric_name", "bucket_ms")
    }
  }

  /** The same points-mode lifecycle as [[pointsQuery]], but THROUGH the
    * materialized rollup store — the reference's actual read path
    * (RollupHandler.getRollupByGranularity, RollupHandler.java:126-223: scan
    * the rollup CF at the chosen granularity, repair only the gaps from finer
    * data, RollupHandler.java:241-297). The query materializes the 240m tier
    * from the canonical view with one day DELIBERATELY left unrolled, then
    * answers via [[graft.query.MetricsQueryApi.getRollupsStored]]: covered
    * days come from the tier (~6 rows/metric/day instead of every raw
    * point), the missing day alone is recomputed from raw. Matching the
    * whole-range oracle proves stored + repair ≡ raw re-aggregation.
    *
    * Oracle-parity: tier sums ride DECIMAL(28,2) exactly like the inline
    * queries (decimal addition is associative, so tier-then-read equals
    * direct aggregation bit-for-bit), and the gap fill uses the same
    * builder. */
  private val pointsQueryStored = {
    val g = Granularity.MIN_240
    val missingDay = 1704844800000L // 2024-01-10: deliberately unrolled day
    val dayMs = 86400000L
    QDef("q_points_query_stored", pointsOracleSql(g)) { (s, dir) =>
      def dayOf(c: Column): Column = (c - pmod(c, lit(dayMs))).cast("long")
      // decimal-exact basic rollup with the stored-tier column contract
      def decBasic(points: DataFrame, gr: Granularity): DataFrame =
        points.groupBy(col("tenant_id"), col("metric_name"),
            Tables.bucketMs(col("ts_ms"), gr).as("bucket_ms"))
          .agg(
            count(col("value")).as("num_points"),
            sumDec(col("value")).as("sum_v"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"),
            sum((col("value") * col("value")).cast(DecimalType(38, 8)))
              .cast("double").as("sum_sq"))
          .withColumn("avg_v", col("sum_v") / col("num_points"))
          .withColumn("var_v",
            (col("sum_sq") - col("sum_v") * col("sum_v") / col("num_points")) /
              col("num_points"))
          .drop("sum_sq")
      // materialize ONLY the tier (the raw table already exists — the view
      // over the driver's events parquet stands in for metrics_full, exactly
      // the reference shape: rollup CFs are derived, raw is the source).
      // ArtifactCache: build once per (sfDir, source mtime), atomically
      // published — reruns and the bench measure the SERVE path, and
      // concurrent Verify/Bench processes can't clobber each other's store
      val store = ArtifactCache.cached("stored_read", dir,
          s"$dir/events.parquet") { buildDir =>
        val raw = Tables.metricsRange(s, dir, Some((pointsFrom, pointsTo)))
        decBasic(raw.filter(col("tenant_id") === "purchase" &&
            !(col("ts_ms") >= missingDay && col("ts_ms") < missingDay + dayMs)), g)
          .withColumn("ts_day", dayOf(col("bucket_ms")))
          .write.mode("overwrite").partitionBy("ts_day")
          .parquet(s"$buildDir/metrics_${g.name}")
      }
      graft.query.MetricsQueryApi.getRollupsStored(s, store,
        graft.query.MetricsQueryApi.Params("purchase", "app.purchase.*",
          from = "20240103", to = "20240123", points = Some(200),
          select = Seq("average", "numPoints", "sum")),
        nowMillis = pointsNow, maxBatch = 1000000,
        catalogOverride = Some(Tables.catalog(s, dir)),
        rollupFromRaw = decBasic,
        // range-pushed view: the gap scan's ts bounds reach the parquet scan
        rawOverride = Some(Tables.metricsRange(s, dir, Some((pointsFrom, pointsTo)))))
        .select("metric_name", "bucket_ms", "num_points", "sum_v", "average", "unit")
        .orderBy("metric_name", "bucket_ms")
    }
  }

  /** FULL-resolution read — raw samples, not buckets (reference:
    * RollupType.classOf returns SimpleNumber at FULL, RollupType.java:73-88,
    * serialized via getFilteredStatsForFullRes,
    * JSONBasicRollupsOutputSerializer.java:101-106/173-183): an explicit
    * resolution=FULL query over a short range returns every raw point with
    * its ACTUAL timestamp; per the reference's raw-sample stat mapping,
    * sum/average = the value itself and numPoints = 1. This is the
    * incident-zoom path — through the [[graft.query.MetricsQueryApi]]
    * facade so datetime parse, glob resolution, stat selection, and the
    * units join are all exercised on the raw-serve branch. */
  private val pointsQueryFull = {
    val from = 1705276800000L // 2024-01-15 00:00 UTC
    val to = 1705363200000L   // 2024-01-16 00:00 UTC
    QDef(
      "q_points_query_full",
      s"""WITH ${OracleViews.metricsCte}, ${OracleViews.catalogCte}
         |SELECT m.metric_name, m.ts_ms AS bucket_ms,
         |       CAST(1 AS BIGINT) AS num_points,
         |       CAST(m.value AS DOUBLE) AS sum_v,
         |       CAST(m.value AS DOUBLE) AS average,
         |       c.unit
         |FROM metrics m LEFT JOIN catalog c
         |  ON m.tenant_id = c.tenant_id AND m.metric_name = c.metric_name
         |WHERE m.tenant_id = 'purchase'
         |  AND m.ts_ms >= $from AND m.ts_ms < $to
         |ORDER BY m.metric_name, bucket_ms, sum_v""".stripMargin) { (s, dir) =>
      graft.query.MetricsQueryApi.getRollups(s, dir,
        graft.query.MetricsQueryApi.Params("purchase", "app.purchase.*",
          from = "20240115", to = "20240116",
          resolution = Some(Granularity.FULL),
          select = Seq("average", "numPoints", "sum")),
        nowMillis = pointsNow, maxBatch = 1000000)
        .select("metric_name", "bucket_ms", "num_points", "sum_v", "average", "unit")
        // raw samples can share (metric, ts): order by the value too, per
        // the ORDER-BY-everything oracle convention
        .orderBy("metric_name", "bucket_ms", "sum_v")
    }
  }

  /** String/boolean metric lifecycle — the reference's metrics_string CF
    * end to end (Metric.java:38-61 accepts Object values;
    * ABasicMetricsRW.java:19 routes strings to their own CF; serialized
    * `{"value": raw}` at JSONBasicRollupsOutputSerializer.java:107-112):
    * a MIXED ingest batch is constructed from the error tenant's points —
    * one third numeric, one third strings (`lvl_N`), the rest booleans —
    * pushed through the real typed parse
    * ([[graft.streaming.IngestStream.parseJsonTyped]] /
    * `processTypedBatchFused`), which must route numerics into the rollup
    * pipeline and ONLY the string/boolean rows into `metrics_string`; the
    * facade ([[graft.query.MetricsQueryApi.getStringPoints]]) then serves
    * them raw. The oracle restates the classification straight off the
    * metrics view — a routing bug in either direction changes the row set
    * and hash-fails. Store build cached per sfDir via
    * [[graft.core.ArtifactCache]]. */
  private val stringPoints = {
    val fromMs = 1704412800000L // 2024-01-05 00:00 UTC
    val toMs = 1704499200000L   // 2024-01-06 00:00 UTC
    QDef(
      "q_string_points",
      s"""WITH ${OracleViews.metricsCte},
         |m AS (
         |  SELECT metric_name, ts_ms,
         |         CAST(round(value * 100, 0) AS BIGINT) AS m
         |  FROM metrics
         |  WHERE tenant_id = 'error' AND ts_ms >= $fromMs AND ts_ms < $toMs
         |)
         |SELECT metric_name, ts_ms AS bucket_ms,
         |       CASE WHEN m % 3 = 1 THEN 'lvl_' || CAST(m % 5 AS VARCHAR)
         |            WHEN m % 2 = 0 THEN 'true' ELSE 'false' END AS value_str,
         |       'label' AS unit
         |FROM m WHERE m % 3 <> 0
         |ORDER BY metric_name, bucket_ms, value_str""".stripMargin) { (s, dir) =>
      val store = graft.core.ArtifactCache.cached("string_store", dir,
          s"$dir/events.parquet") { buildDir =>
        val m = Tables.metricsRange(s, dir, Some((fromMs, toMs)))
          .filter(col("tenant_id") === "error")
          .withColumn("m", round(col("value") * 100, 0).cast("long"))
        // each arm serializes its value as the TRUE JSON type (number /
        // string / boolean) — routing is by JSON type, so a quoted
        // numeric would legitimately land in the string store
        def jsonLines(rows: DataFrame, v: Column) =
          rows.select(to_json(struct(
            col("tenant_id"), col("metric_name"), col("ts_ms"),
            v.as("value"),
            lit(86400).as("ttl_seconds"), lit("label").as("unit"))).as("value"))
        val lines = jsonLines(m.filter(col("m") % 3 === 0), col("value"))
          .unionByName(jsonLines(m.filter(col("m") % 3 === 1),
            concat(lit("lvl_"), (col("m") % 5).cast("string"))))
          .unionByName(jsonLines(
            m.filter(col("m") % 3 =!= 0 && col("m") % 3 =!= 1),
            col("m") % 2 === 0))
        graft.streaming.IngestStream.processTypedBatchFused(
          graft.streaming.IngestStream.parseJsonTyped(lines), buildDir)
      }
      graft.query.MetricsQueryApi.getStringPoints(s, store,
        graft.query.MetricsQueryApi.Params("error", "app.error.*",
          from = "20240105", to = "20240106", points = Some(200)),
        nowMillis = pointsNow, maxBatch = 1000000)
        .select("metric_name", "bucket_ms", "value_str", "unit")
        .orderBy("metric_name", "bucket_ms", "value_str")
    }
  }

  /** "Current value" lookup: the latest point at-or-before a pinned
    * instant per locator — the gauge-style now-endpoint every TSDB exposes
    * (and the as-of shape training pipelines use for feature snapshots).
    * One max_by over the range scan; the time filter pushes to the scan. */
  private val latestAt = {
    val t = 1705276800000L // 2024-01-15 00:00 UTC
    QDef(
      "q_latest_at",
      s"""WITH ${OracleViews.metricsCte}
         |SELECT tenant_id, metric_name,
         |       MAX(ts_ms) AS latest_ts,
         |       (MAX({'ts': ts_ms, 'v': value})).v AS latest_v
         |FROM metrics WHERE ts_ms <= $t
         |GROUP BY 1, 2
         |ORDER BY tenant_id, metric_name""".stripMargin) { (s, dir) =>
      Tables.metricsRange(s, dir, Some((0L, t + 1)))
        .groupBy(col("tenant_id"), col("metric_name"))
        .agg(
          max(col("ts_ms")).as("latest_ts"),
          max(struct(col("ts_ms"), col("value"))).getField("value").as("latest_v"))
        .orderBy("tenant_id", "metric_name")
    }
  }

  /** APPROX-percentile timer rollup ([[Rollups.timerApproxFromRaw]]) — the
    * 100 TB-scale variant of q_rollup_timer_60m's tier-1: approx_percentile
    * is a mergeable digest, so the per-group sort the exact `percentile`
    * needs disappears into algebraic partial aggregation.
    *
    * HASH-PROVEN (r9) via the digest's exactness domain: Spark's
    * Greenwald–Khanna summary at accuracy 10000 (relativeError 1e-4)
    * performs ZERO compression while every per-window count n < 5000 —
    * the head-insert deltas `floor(2e-4·i)` and the merge thresholds
    * `2e-4·n` are all < 1 against g-sums ≥ 2, across partials, merges,
    * and the final compress alike — so the digest IS the sorted multiset
    * and `query(q)` degenerates to the rank-`ceil(q·n)` element (type-1
    * percentile, an input value both engines already hold — the
    * rank-SELECTED statistic pattern, CLAUDE.md #8). Gate windows carry
    * ≤ 3 points; a window beyond the domain would mismatch loudly.
    * RollupSpec pins the domain edge: group sizes up to 4999 equal rank
    * selection under multi-partition layouts, and the operator's digest
    * percentiles are bounded by [min,max] regardless of n. The
    * production caveat stands: BEYOND the exactness domain GK compression
    * is merge-order-dependent by construction — the deterministic
    * scale-path sketch is the HDR histogram ([[timerHdr60m]]).
    *
    * The engine side IS [[Rollups.timerApproxFromRaw]] — the gate
    * exercises the operator's digest, extremes, count, and rate verbatim.
    * Only its plain-double `sum_v`/`avg_v` are replaced by exact-DECIMAL
    * twins (one extra aggregation over the same scan, joined on the
    * window key): a double sum's last ulps are partition-order-dependent
    * and unhashable by design — the repo-wide QDef convention, stated in
    * api/QDef.scala's scaladoc. Rate is one double division by the
    * granularity span on both sides. */
  private val timerApprox60m = {
    val g = Granularity.MIN_60
    QDef(
      "q_rollup_timer_approx_60m",
      s"""WITH ${OracleViews.metricsCte},
         |b AS (
         |  SELECT tenant_id, metric_name, ${bucketSql(g)} AS bucket_ms, value
         |  FROM metrics
         |),
         |rk AS (
         |  SELECT tenant_id, metric_name, bucket_ms, value,
         |         row_number() OVER (PARTITION BY tenant_id, metric_name,
         |           bucket_ms ORDER BY value) AS rn,
         |         count(*) OVER (PARTITION BY tenant_id, metric_name,
         |           bucket_ms) AS n
         |  FROM b
         |),
         |agg AS (
         |  SELECT tenant_id, metric_name, bucket_ms,
         |         COUNT(value) AS num_points,
         |         $sumDecSql AS sum_v,
         |         MIN(value) AS min_v, MAX(value) AS max_v
         |  FROM b GROUP BY 1, 2, 3
         |),
         |q50 AS (SELECT tenant_id, metric_name, bucket_ms, value AS p50
         |        FROM rk WHERE rn = CAST(CEIL(0.5E0 * n) AS BIGINT)),
         |q95 AS (SELECT tenant_id, metric_name, bucket_ms, value AS p95
         |        FROM rk WHERE rn = CAST(CEIL(0.95E0 * n) AS BIGINT))
         |SELECT a.tenant_id, a.metric_name, a.bucket_ms, a.num_points,
         |       a.sum_v, a.sum_v / a.num_points AS avg_v, a.min_v, a.max_v,
         |       q50.p50, q95.p95,
         |       CAST(a.num_points AS DOUBLE) / 3.6E3 AS rate
         |FROM agg a JOIN q50 USING (tenant_id, metric_name, bucket_ms)
         |           JOIN q95 USING (tenant_id, metric_name, bucket_ms)
         |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
      val pts = Tables.metrics(s, dir)
      val key = Seq("tenant_id", "metric_name", "bucket_ms")
      val op = Rollups.timerApproxFromRaw(pts, g)
        .select((key ++ Seq("num_points", "min_v", "max_v", "p50", "p95",
          "rate")).map(col): _*)
      val sums = pts
        .groupBy(col("tenant_id"), col("metric_name"),
          Tables.bucketMs(col("ts_ms"), g).as("bucket_ms"))
        .agg(sumDec(col("value")).as("sum_v"))
      op.join(sums, key)
        .withColumn("avg_v", col("sum_v") / col("num_points"))
        .select("tenant_id", "metric_name", "bucket_ms", "num_points",
          "sum_v", "avg_v", "min_v", "max_v", "p50", "p95", "rate")
        .orderBy("tenant_id", "metric_name", "bucket_ms")
    }
  }

  /** HLL set rollup ([[Rollups.setApproxFromRaw]]) — O(1) sketch state per
    * window instead of the exact path's unbounded hash set. HASH-PROVEN
    * (r8): Spark's HyperLogLog++ restated in DuckDB via [[HllSql]] — IEEE
    * doubleToLongBits in exact SQL arithmetic, XXH64(seed 42) in HUGEINT
    * mulmod algebra, top-9-bit register indices, and the linear-counting
    * estimate as a JVM-literal V→count lookup. Valid across the sketch's
    * linear-counting branch (exact through ≥1,200 distincts/window,
    * measured; gate windows carry ≤ ~30) — a window beyond it mismatches
    * loudly. RollupSpec still bounds the error vs exact at any scale. */
  private val setHll1440m = {
    val g = Granularity.MIN_1440
    QDef(
      "q_rollup_set_hll_1440m",
      s"""WITH ${OracleViews.metricsCte},
         |gv AS (
         |  SELECT DISTINCT tenant_id, metric_name,
         |         ${bucketSql(g)} AS bucket_ms, value
         |  FROM metrics
         |),
         |vals AS (SELECT DISTINCT value FROM gv),
         |${HllSql.powsCte},
         |${HllSql.bitsCte},
         |${HllSql.xxh64Ctes(p = 9)},
         |${HllSql.lcTable(m = 512)},
         |t AS (
         |  SELECT g.tenant_id, g.metric_name, g.bucket_ms,
         |         COUNT(DISTINCT h.idx) AS touched
         |  FROM gv g JOIN hashed h USING (value)
         |  GROUP BY 1, 2, 3
         |)
         |SELECT t.tenant_id, t.metric_name, t.bucket_ms,
         |       CAST(l.cnt AS BIGINT) AS distinct_count
         |FROM t JOIN lctab l ON l.v = 512 - t.touched
         |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
      Rollups.setApproxFromRaw(Tables.metrics(s, dir), g)
        .orderBy("tenant_id", "metric_name", "bucket_ms")
    }
  }

  /** HDR-histogram timer percentiles ([[Rollups.timerHdrFromRaw]]) — the
    * DETERMINISTIC scale-path percentile next to the GK digest variant
    * ([[timerApprox60m]], which stays rows-only because GK compression is
    * merge-order-dependent by construction). Hash-proven end to end: the
    * geometric edges are literals shared verbatim with the oracle, libm
    * log only NOMINATES the bin (the ±1 correction against exact literal
    * edges decides), and the rank/cum-count selection is integer algebra
    * plus one identical double product per quantile. */
  private val timerHdr60m = {
    val g = Granularity.MIN_60
    // E-notation forces DuckDB to parse each literal directly as DOUBLE:
    // a bare decimal literal types as DECIMAL first, and the DECIMAL→
    // DOUBLE cast double-rounds the last ulp off the JVM value
    def dbl(d: Double): String = {
      val s = d.toString; if (s.contains("E")) s else s + "E0"
    }
    val edges = Rollups.hdrEdges.map(dbl)
    val m = edges.length
    val lnR = dbl(math.log(1.05)) // the JVM's value, never DuckDB ln()
    QDef(
      "q_rollup_timer_hdr_60m",
      s"""WITH ${OracleViews.metricsCte},
         |el AS (SELECT CAST([${edges.mkString(", ")}] AS DOUBLE[]) AS edges),
         |b0 AS (
         |  SELECT tenant_id, metric_name, ${bucketSql(g)} AS bucket_ms, value,
         |         CASE WHEN value >= 1e-6 THEN
         |           GREATEST(0, LEAST(${m - 1},
         |             CAST(FLOOR(ln(value * 1e6) / $lnR) AS INT)))
         |         END AS cand
         |  FROM metrics
         |),
         |bins AS (
         |  SELECT tenant_id, metric_name, bucket_ms,
         |         CASE WHEN value < 1e-6 THEN -1
         |              WHEN value < l.edges[cand + 1] THEN cand - 1
         |              WHEN cand < ${m - 1}
         |                   AND value >= l.edges[LEAST(cand + 2, $m)]
         |                THEN cand + 1
         |              ELSE cand END AS bin
         |  FROM b0 CROSS JOIN el l
         |),
         |hist AS (
         |  SELECT tenant_id, metric_name, bucket_ms, bin,
         |         COUNT(*) AS cnt
         |  FROM bins GROUP BY 1, 2, 3, 4
         |),
         |cum AS (
         |  SELECT tenant_id, metric_name, bucket_ms, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY tenant_id, metric_name,
         |             bucket_ms ORDER BY bin
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY tenant_id, metric_name,
         |             bucket_ms) AS BIGINT) AS n
         |  FROM hist
         |),
         |rp AS (
         |  SELECT c.*, CASE WHEN bin = -1 THEN CAST(0.0 AS DOUBLE)
         |                   ELSE l.edges[bin + 1] END AS rep
         |  FROM cum c CROSS JOIN el l
         |)
         |SELECT tenant_id, metric_name, bucket_ms,
         |       MAX(n) AS num_points,
         |       MIN(CASE WHEN cum >= CEIL(CAST(0.5 AS DOUBLE)
         |             * CAST(n AS DOUBLE)) THEN rep END) AS p50_hdr,
         |       MIN(CASE WHEN cum >= CEIL(CAST(0.95 AS DOUBLE)
         |             * CAST(n AS DOUBLE)) THEN rep END) AS p95_hdr
         |FROM rp GROUP BY 1, 2, 3
         |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
      Rollups.timerHdrFromRaw(Tables.metrics(s, dir), g)
        .orderBy("tenant_id", "metric_name", "bucket_ms")
    }
  }

  /** Value-salted EXACT set rollup ([[Rollups.setFromRawSalted]]): every
    * distinct value belongs to exactly one salt sub-group, so per-salt
    * distinct counts are disjoint and their sum is the exact total — a hot
    * locator's distinct set never lands on one reducer. Exact ⇒ shares
    * q_rollup_set_1440m's oracle verbatim. */
  private val setSalted1440m = QDef(
    "q_rollup_set_salted_1440m",
    s"""WITH ${OracleViews.metricsCte}
       |SELECT tenant_id, metric_name, ${bucketSql(Granularity.MIN_1440)} AS bucket_ms,
       |       COUNT(DISTINCT value) AS distinct_count
       |FROM metrics GROUP BY 1, 2, 3
       |ORDER BY tenant_id, metric_name, bucket_ms""".stripMargin) { (s, dir) =>
    Rollups.setFromRawSalted(Tables.metrics(s, dir), Granularity.MIN_1440)
      .orderBy("tenant_id", "metric_name", "bucket_ms")
  }

  /** Rolling z-score anomaly scan ([[graft.operators.Anomaly]]): every
    * purchase-tenant point scored against its series' trailing 7-day
    * window (population mean/std from exact-DECIMAL sums; current point
    * excluded from its own baseline), z and an is_anomaly verdict at
    * 2.5 sigma with a 5-point minimum history. The oracle restates the
    * identical window frame and scalar double math in DuckDB. */
  // the rolling z-score scan's gate parameters and its oracle CTE chain,
  // shared by q_metric_anomaly and q_series_alerts — any correction to the
  // z-score oracle lands on both proofs at once (the OracleViews pattern)
  private val zWinMs = 7L * 86400000L
  private val zTh = 2.5
  private val zMinP = 5

  /** CTEs `z` (decimal window sums over the purchase tenant) and `scz`
    * (mean/std/z/is_anomaly per scored point) — the DuckDB restatement of
    * [[graft.operators.Anomaly.rollingZScores]] at the gate parameters. */
  private def zScanCtes: String =
    s"""z AS (
       |  SELECT tenant_id, metric_name, ts_ms, value,
       |         CAST(count(*) OVER w AS BIGINT) AS n_win,
       |         CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS s,
       |         CAST(SUM(CAST(value * value AS DECIMAL(38,8))) OVER w AS DOUBLE) AS q
       |  FROM metrics WHERE tenant_id = 'purchase'
       |  WINDOW w AS (PARTITION BY tenant_id, metric_name ORDER BY ts_ms
       |               RANGE BETWEEN $zWinMs PRECEDING AND 1 PRECEDING)
       |),
       |scz AS (
       |  SELECT tenant_id, metric_name, ts_ms, value, n_win, mean_win, std_win,
       |         CASE WHEN std_win > 0 THEN (value - mean_win) / std_win END AS z,
       |         (std_win > 0 AND abs(value - mean_win) > $zTh * std_win)
       |           AS is_anomaly
       |  FROM (SELECT tenant_id, metric_name, ts_ms, value, n_win,
       |               s / n_win AS mean_win,
       |               sqrt(greatest(q / n_win - (s / n_win) * (s / n_win),
       |                 0)) AS std_win
       |        FROM z WHERE n_win >= $zMinP)
       |)""".stripMargin

  /** The scored frame both gate queries consume — [[zScanCtes]]' twin. */
  private def zScanFrame(s: SparkSession, dir: String) =
    graft.operators.Anomaly.rollingZScores(
        Tables.metrics(s, dir).filter(col("tenant_id") === "purchase"),
        windowMs = zWinMs, threshold = zTh, minPoints = zMinP)
      .filter(col("n_win") >= zMinP)

  private val metricAnomaly = QDef(
    "q_metric_anomaly",
    s"""WITH ${OracleViews.metricsCte},
       |$zScanCtes
       |SELECT tenant_id, metric_name, ts_ms, value, n_win, mean_win,
       |       std_win, z, is_anomaly
       |FROM scz
       |ORDER BY tenant_id, metric_name, ts_ms, value""".stripMargin) {
    (s, dir) =>
      zScanFrame(s, dir)
        .select("tenant_id", "metric_name", "ts_ms", "value", "n_win",
          "mean_win", "std_win", "z", "is_anomaly")
        .orderBy("tenant_id", "metric_name", "ts_ms", "value")
  }

  /** Alert episodes ([[graft.operators.Anomaly.alertIntervals]]) over the
    * hash-proven rolling z-score scan ([[metricAnomaly]]): gaps-and-islands
    * over the anomaly flags — boundary-inclusive gap merge, min-points
    * suppression, peak |z| per episode. Pure integer gap arithmetic over
    * already-portable flags/z, restated with the identical lag/run-sum
    * windows in DuckDB. */
  private val seriesAlerts = {
    val gapMs = 3L * 86400000L
    QDef(
      "q_series_alerts",
      s"""WITH ${OracleViews.metricsCte},
         |$zScanCtes,
         |a AS (SELECT tenant_id, metric_name, ts_ms, abs(z) AS az
         |      FROM scz WHERE is_anomaly),
         |f AS (
         |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
         |                      OR ts_ms - lag(ts_ms) OVER w > $gapMs
         |                 THEN 1 ELSE 0 END AS nf
         |  FROM a
         |  WINDOW w AS (PARTITION BY tenant_id, metric_name ORDER BY ts_ms)
         |),
         |e AS (
         |  SELECT *, SUM(nf) OVER (PARTITION BY tenant_id, metric_name
         |            ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS ep
         |  FROM f
         |)
         |SELECT tenant_id, metric_name,
         |       MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
         |       MAX(ts_ms) - MIN(ts_ms) AS duration_ms,
         |       CAST(COUNT(*) AS BIGINT) AS n_points,
         |       MAX(az) AS peak_abs_z
         |FROM e GROUP BY tenant_id, metric_name, ep
         |ORDER BY tenant_id, metric_name, start_ms""".stripMargin) { (s, dir) =>
      graft.operators.Anomaly.alertIntervals(zScanFrame(s, dir), gapMs)
        .orderBy("tenant_id", "metric_name", "start_ms")
    }
  }

  /** Per-series derivative / perSecond rate over the counter tenants
    * ([[graft.operators.Series.derivatives]]): Graphite's
    * nonNegativeDerivative family with counter-reset detection, engine-side.
    * Oracle restates the identical lag window and scalar double math. */
  private val seriesRate = QDef(
    "q_series_rate",
    s"""WITH ${OracleViews.metricsCte},
       |d AS (
       |  SELECT tenant_id, metric_name, ts_ms, value,
       |         lag(value) OVER w AS pv, lag(ts_ms) OVER w AS pt
       |  FROM metrics WHERE tenant_id IN ('click', 'view')
       |  WINDOW w AS (PARTITION BY tenant_id, metric_name
       |               ORDER BY ts_ms, value)
       |)
       |SELECT tenant_id, metric_name, ts_ms, value,
       |       CASE WHEN pv IS NOT NULL THEN value - pv END AS delta_v,
       |       COALESCE(value - pv < 0, FALSE) AS is_reset,
       |       CASE WHEN value - pv >= 0 THEN value - pv END AS nn_delta,
       |       CASE WHEN value - pv >= 0 AND ts_ms - pt > 0
       |            THEN (value - pv) / ((ts_ms - pt) / 1000.0) END AS rate_per_s
       |FROM d ORDER BY tenant_id, metric_name, ts_ms, value""".stripMargin) {
    (s, dir) =>
      graft.operators.Series.derivatives(
          Tables.metrics(s, dir)
            .filter(col("tenant_id").isin("click", "view")))
        .orderBy("tenant_id", "metric_name", "ts_ms", "value")
  }

  /** Correlated-metric incident scan ([[graft.operators.Series.correlatedSeries]]):
    * every series Pearson-correlated against the busiest purchase series
    * over aligned 60m bucket means (≥ 5 common buckets). Accumulators are
    * per-term DECIMAL(38,8)-snapped sums on both sides; the r formula and
    * the bucket mean are scalar double. The target pick (most populated
    * buckets, ties to smallest name) is itself relational — no driver
    * collect. Day buckets: the synthetic per-user series are ~13 points
    * over 30 days, so finer buckets share too few to correlate. */
  private val seriesCorr = {
    val bMs = 86400000L
    val minB = 5
    QDef(
      "q_series_corr",
      s"""WITH ${OracleViews.metricsCte},
         |b AS (
         |  SELECT tenant_id, metric_name,
         |         CAST(ts_ms - ts_ms % $bMs AS BIGINT) AS bucket_ms,
         |         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS bx
         |  FROM metrics GROUP BY 1, 2, 3
         |),
         |tgt AS (
         |  SELECT metric_name FROM b WHERE tenant_id = 'purchase'
         |  GROUP BY metric_name ORDER BY COUNT(*) DESC, metric_name LIMIT 1
         |),
         |t AS (
         |  SELECT b.tenant_id, b.metric_name AS tgt_name, bucket_ms, bx AS ty
         |  FROM b JOIN tgt USING (metric_name)
         |),
         |a AS (
         |  SELECT t.tgt_name, b.tenant_id, b.metric_name,
         |         CAST(COUNT(*) AS BIGINT) AS n_common,
         |         CAST(SUM(CAST(b.bx AS DECIMAL(38,8))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(t.ty AS DECIMAL(38,8))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(b.bx * t.ty AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(b.bx * b.bx AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(t.ty * t.ty AS DECIMAL(38,8))) AS DOUBLE) AS syy
         |  FROM b JOIN t USING (bucket_ms, tenant_id)
         |  WHERE b.metric_name <> t.tgt_name
         |  GROUP BY 1, 2, 3
         |)
         |SELECT tgt_name, tenant_id, metric_name, n_common,
         |       CASE WHEN n_common * sxx - sx * sx > 0
         |             AND n_common * syy - sy * sy > 0
         |            THEN (n_common * sxy - sx * sy) /
         |                 sqrt((n_common * sxx - sx * sx) *
         |                      (n_common * syy - sy * sy)) END AS r
         |FROM a WHERE n_common >= $minB
         |ORDER BY tenant_id, metric_name""".stripMargin) { (s, dir) =>
      val pts = Tables.metrics(s, dir)
      val busiest = pts
        .filter(col("tenant_id") === "purchase")
        .groupBy(col("metric_name"),
          (col("ts_ms") - pmod(col("ts_ms"), lit(bMs))).cast("long")
            .as("__bucket"))
        .agg(count(lit(1)).as("__np"))
        .groupBy("metric_name").agg(count(lit(1)).as("__nb"))
        .orderBy(col("__nb").desc, col("metric_name")).limit(1)
        .select("metric_name")
      graft.operators.Series.correlatedSeries(pts, busiest, bMs, minB)
        .orderBy("tenant_id", "metric_name")
    }
  }

  /** Two-series arithmetic ([[graft.operators.Series.seriesRatio]]): the
    * daily click-through rate — click volume over view volume per day
    * bucket, Graphite's divideSeries. Exact DECIMAL(28,2) bucket sums on
    * both sides; the ratio is one scalar double division; buckets missing
    * a side or with a zero denominator emit NULL (full-outer + safe-div,
    * the reference's F6 convention). */
  private val seriesRatioQ = {
    val bMs = 86400000L
    QDef(
      "q_series_ratio",
      s"""WITH ${OracleViews.metricsCte},
         |n AS (
         |  SELECT CAST(ts_ms - ts_ms % $bMs AS BIGINT) AS bucket_ms,
         |         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS num_sum
         |  FROM metrics WHERE tenant_id = 'click' GROUP BY 1
         |),
         |d AS (
         |  SELECT CAST(ts_ms - ts_ms % $bMs AS BIGINT) AS bucket_ms,
         |         CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS den_sum
         |  FROM metrics WHERE tenant_id = 'view' GROUP BY 1
         |)
         |SELECT COALESCE(n.bucket_ms, d.bucket_ms) AS bucket_ms,
         |       n.num_sum, d.den_sum,
         |       CASE WHEN d.den_sum <> 0 THEN n.num_sum / d.den_sum END AS ratio
         |FROM n FULL JOIN d ON n.bucket_ms = d.bucket_ms
         |ORDER BY bucket_ms""".stripMargin) { (s, dir) =>
      graft.operators.Series.seriesRatio(Tables.metrics(s, dir),
          num = col("tenant_id") === "click",
          den = col("tenant_id") === "view",
          bucketMs = bMs)
        .orderBy("bucket_ms")
    }
  }

  val defs: Seq[QDef] = Seq(
    seriesRatioQ,
    counter20m, gauge60m, set1440m, timerMerge60m,
    rollupsOnRead, unitsJoin, typeRouting, pointsQuery, pointsQueryStored,
    pointsQueryFull, stringPoints, latestAt, timerApprox60m, timerHdr60m,
    setHll1440m, setSalted1440m, metricAnomaly, seriesAlerts, seriesRate,
    seriesCorr)
}

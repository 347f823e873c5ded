package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-provided parquet tables and the canonical
  * metric-point view the engine's rollup/query operators run over.
  *
  * The engine's native data model is a metric point
  * `(tenant_id, metric_name, ts_ms, value)` — reference: blueflood-core/...
  * /types/Locator.java:25-101 (tenant + dotted name identity) and
  * types/Metric.java:28-62 (point = locator, value, collectionTime). The
  * driver's synthetic `events` table is adapted to that model with a fixed,
  * deterministic mapping so every rollup operator has a DuckDB-checkable
  * oracle over the same parquet.
  */
object Tables {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive map-phase parallelism guard for CPU-heavy pipelines
    * (r13 opt, guide §2.5 "input skew" / §6 input split size): a parquet
    * scan cannot split below the row-group, so a small-file table (one
    * row group) scans as ONE task — and every expensive projection fused
    * above it (regex normalization, shingle explode, the MinHash signature
    * kernel, media decode) runs single-threaded while the rest of the
    * cluster idles. When the input's scan parallelism is below the
    * session's `defaultParallelism`, redistribute the (narrow, pre-explode)
    * rows round-robin first; the exchange moves only the tiny base table
    * and AQE stage reuse then shares ONE materialized spread across every
    * plan branch that re-derives it. At production scale the input has
    * more splits than cores, the condition is false, and this is the
    * identity — no hard-coded local[32] assumption anywhere.
    * (`repartition(n)` is retry-deterministic: sortBeforeRepartition is on
    * by default and the parquet scan order is stable.)
    *
    * Probe cost (r14, ADVICE item): the original probe was
    * `df.rdd.getNumPartitions`, but with AQE on `Dataset.rdd` FINALIZES the
    * adaptive plan — every exchange stage in the input's lineage runs as a
    * throwaway job before the real query. Composed pipelines (a render
    * function whose own spreadCpu already inserted the round-robin exchange,
    * fed to a decode operator that spreads again) paid a redundant
    * scan+shuffle-write per probe. Now: (1) a shuffling
    * Repartition/RepartitionByExpression already in the plan means a caller
    * (or an inner spreadCpu) chose the distribution — short-circuit to the
    * identity, zero probes (a non-shuffle `coalesce` does NOT short-circuit:
    * it narrows parallelism, exactly what spreading must undo); (2) for
    * exchange-free scan-rooted plans — every call site's shape — the
    * partition count is read off the UNEXECUTED physical plan's file scans,
    * which costs a plan, not a job; (3) only plans with exchanges or
    * non-file leaves fall back to the `.rdd` probe, counted as
    * `tables.spread_cpu.rdd_probes` (no production call site takes it;
    * QueriesSpec pins that). Streaming inputs (where
    * `.rdd` throws) return unchanged. */
  def spreadCpu(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val callerDistributed = df.queryExecution.analyzed.exists {
      case r: Repartition => r.shuffle
      case _: RepartitionByExpression => true
      case _ => false
    }
    if (callerDistributed) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val n = staticPartitionCount(df).getOrElse {
      // the probe may run the input's lineage as jobs: counted, so a call
      // site that slips off the job-free path shows in the registry
      Instrumentation.global.inc("tables.spread_cpu.rdd_probes")
      df.rdd.getNumPartitions
    }
    if (n < target)
      df.repartition(target)
    else df
  }

  /** Partition count of an exchange-free, file-scan-rooted physical plan,
    * without executing anything: every node in such a plan is 1:1
    * partition-preserving (or a Union, which concatenates), so the count is
    * the sum of the leaves' scan splits. None when the plan contains any
    * node NOT known partition-preserving (exchanges, limits, coalesce,
    * in-memory or local leaves) — callers then fall back to a real probe. */
  private def staticPartitionCount(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution._
    val plan = df.queryExecution.sparkPlan
    var preserved = true
    plan.foreach {
      case _: FileSourceScanExec | _: ProjectExec | _: FilterExec |
          _: GenerateExec | _: UnionExec | _: SerializeFromObjectExec |
          _: DeserializeToObjectExec | _: MapPartitionsExec |
          _: MapElementsExec | _: ColumnarToRowExec | _: InputAdapter |
          _: WholeStageCodegenExec => ()
      case _ => preserved = false
    }
    if (!preserved) None
    else {
      val leaves = plan.collectLeaves()
      if (leaves.isEmpty || !leaves.forall(_.isInstanceOf[FileSourceScanExec]))
        None
      else Some(leaves.map {
        case f: FileSourceScanExec => f.inputRDDs().map(_.getNumPartitions).sum
      }.sum)
    }
  }

  /** Epoch-aligned bucket start in millis for a granularity — integer math
    * only, so Spark and the DuckDB oracle agree bit-for-bit
    * (reference snapMillis: Granularity.java:130-133). FULL passes the
    * timestamp through, mirroring Granularity.snap (pmod by 0 would
    * otherwise null out every bucket). */
  def bucketMs(tsMs: Column, g: Granularity): Column =
    if (g.isFull) tsMs.cast("long")
    else (tsMs - pmod(tsMs, lit(g.millis))).cast("long")

  /** The canonical raw metric-point view over `events`:
    *   tenant_id   = event_type
    *   metric_name = 'app.' || event_type || '.user_' || user_id   (3 dotted tokens)
    *   ts_ms       = epoch millis of ts (UTC)
    *   value       = value
    * DuckDB oracle equivalent (see [[OracleViews.metricsCte]]):
    *   SELECT event_type AS tenant_id,
    *          'app.' || event_type || '.user_' || CAST(user_id AS VARCHAR) AS metric_name,
    *          epoch_ms(ts) AS ts_ms, value FROM events
    */
  def metrics(spark: SparkSession, dir: String): DataFrame =
    metricsRange(spark, dir, None)

  /** Metrics view with an optional [fromMs, toMs) range predicate applied to
    * the RAW ts column before projection. `ts_ms = ts div 1e6` is monotonic,
    * so `ts_ms ∈ [f, t)` ⟺ `ts ∈ [f·1e6, t·1e6)` — phrasing the filter on
    * the stored column lets it push into the parquet scan (row-group min/max
    * skipping), which a predicate on the derived column cannot. In a real
    * deployment the store carries ts_ms natively and is day-partitioned
    * (SURVEY §1.4), making this translation unnecessary. */
  def metricsRange(spark: SparkSession, dir: String,
      range: Option[(Long, Long)]): DataFrame = {
    val ev = load(spark, dir, "events")
    // events.ts is parquet TIMESTAMP(NANOS): with
    // spark.sql.legacy.parquet.nanosAsLong=true it arrives as LongType nanos;
    // integer `div` keeps the full 64-bit precision (a double division would
    // lose bits above 2^53).
    val isNanoLong = ev.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val filtered = range match {
      case Some((f, t)) if isNanoLong =>
        ev.filter(col("ts") >= f * 1000000L && col("ts") < t * 1000000L)
      case Some((f, t)) =>
        ev.filter(col("ts").cast("timestamp") >= timestamp_millis(lit(f)) &&
          col("ts").cast("timestamp") < timestamp_millis(lit(t)))
      case None => ev
    }
    filtered.select(
      col("event_type").as("tenant_id"),
      concat(lit("app."), col("event_type"), lit(".user_"),
        col("user_id").cast("string")).as("metric_name"),
      tsMsCol(ev).as("ts_ms"),
      col("value"))
  }

  /** Epoch-millis column for a raw `events` frame, handling the parquet
    * TIMESTAMP(NANOS) → LongType nanos form (integer `div` keeps the full
    * 64-bit precision; a double division would lose bits above 2^53).
    * The single home of this conversion — every events consumer routes
    * through it. */
  def tsMsCol(ev: DataFrame): Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => unix_millis(col("ts").cast("timestamp"))
    }

  /** Derived metric catalog (reference keeps this in a metadata CF + ES
    * discovery index — types/MetricMetadata.java:22-31, ElasticIO.java:49-94;
    * here it is a small dimension meant to be broadcast at query time).
    * unit/rollup_type are deterministic functions of the tenant so the
    * DuckDB oracle can re-derive them. */
  def catalog(spark: SparkSession, dir: String): DataFrame =
    metrics(spark, dir)
      .select(col("tenant_id"), col("metric_name")).distinct()
      .withColumn("unit",
        when(col("tenant_id") === "purchase", lit("dollars"))
          .when(col("tenant_id") === "error", lit("errors"))
          .otherwise(lit("count")))
      .withColumn("rollup_type",
        when(col("tenant_id").isin("click", "view"), lit("counter"))
          .otherwise(lit("basic")))
}

/** DuckDB-side equivalents of the derived views, shared by every oracle SQL
  * string so Spark and the oracle always agree on the mapping. */
object OracleViews {
  /** CTE body defining `metrics` over the driver-registered `events` table. */
  val metricsCte: String =
    """metrics AS (
      |  SELECT event_type AS tenant_id,
      |         'app.' || event_type || '.user_' || CAST(user_id AS VARCHAR) AS metric_name,
      |         epoch_ms(ts) AS ts_ms,
      |         value
      |  FROM events
      |)""".stripMargin

  val catalogCte: String =
    """catalog AS (
      |  SELECT tenant_id, metric_name,
      |         CASE WHEN tenant_id = 'purchase' THEN 'dollars'
      |              WHEN tenant_id = 'error' THEN 'errors'
      |              ELSE 'count' END AS unit,
      |         CASE WHEN tenant_id IN ('click','view') THEN 'counter'
      |              ELSE 'basic' END AS rollup_type
      |  FROM (SELECT DISTINCT tenant_id, metric_name FROM metrics)
      |)""".stripMargin
}

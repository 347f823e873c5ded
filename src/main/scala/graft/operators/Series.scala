package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-series time-derivative operators — the Graphite-family transforms
  * (`derivative`, `nonNegativeDerivative`, `perSecond`) a monitoring UI
  * applies to counter metrics served by the engine. The reference serves
  * cumulative counters and leaves differentiation to the grapher; doing it
  * engine-side turns one full-series client download into a pushed-down
  * relational pass.
  *
  * Scale shape: a single lag window partitioned by locator — series
  * differentiate independently and in parallel, no cross-series shuffle
  * (the same contract as [[Anomaly.rollingZScores]], and it composes:
  * `rollingZScores(perSecondRate(points))` alerts on rate anomalies). */
object Series {

  /** Default cap on [[resampleLinear]]'s per-series grid size — the same
    * render-sized contract constant as [[lttbExact]]'s
    * `maxPointsPerSeries`: a resample is a chart-alignment query by
    * definition, and 2²⁰ grid points is far past any real render while
    * keeping the per-series `sequence` ARRAY (~16 MB of longs) safely
    * inside one task's memory. The facade derives its request-level
    * `(until − from)/step` cap from this same constant so the two
    * enforcement points cannot drift. */
  val MaxGridPointsPerSeries: Int = 1 << 20

  /** Adds per-point deltas against the previous sample of the same series:
    *  - `delta_v`    value − previous value (null for the first point);
    *  - `is_reset`   delta_v < 0 — a counter restart
    *    (nonNegativeDerivative's condition);
    *  - `nn_delta`   delta_v with resets nulled — Graphite's
    *    nonNegativeDerivative;
    *  - `rate_per_s` nn_delta / elapsed seconds — Graphite's perSecond;
    *    null on resets, first points, and zero elapsed (duplicate ts).
    * Ordering ties on ts_ms break by value so the output is total and
    * layout-invariant. */
  def derivatives(points: DataFrame): DataFrame = {
    val w = Window.partitionBy("tenant_id", "metric_name")
      .orderBy(col("ts_ms"), col("value"))
    points
      .select(col("*"),
        lag(col("value"), 1).over(w).as("__pv"),
        lag(col("ts_ms"), 1).over(w).as("__pt"))
      .withColumn("delta_v",
        when(col("__pv").isNotNull, col("value") - col("__pv")))
      .withColumn("is_reset",
        coalesce(col("delta_v") < 0, lit(false)))
      .withColumn("nn_delta",
        when(col("delta_v") >= 0, col("delta_v")))
      .withColumn("rate_per_s",
        when(col("nn_delta").isNotNull && col("ts_ms") - col("__pt") > 0,
          col("nn_delta") / ((col("ts_ms") - col("__pt")) / lit(1000.0))))
      .drop("__pv", "__pt")
  }

  /** Pearson correlation of every series against each target series over
    * aligned time buckets — the "what moved with this metric" incident scan
    * (Graphite leaves this to the dashboard; engine-side it is one
    * aggregation pass instead of downloading every series).
    *
    * `targets` is a small frame with a `metric_name` column (one row per
    * target series — literal names or a computed pick such as the busiest
    * series). Both sides are bucket-averaged at `bucketMs` (exact-DECIMAL
    * sum / count, the rollup mean recipe), then for each (target, series)
    * pair with ≥ `minBuckets` common buckets:
    *
    *   r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy − Sy²))
    *
    * with every accumulator an exact DECIMAL(38,8) sum (per-term snapped,
    * so the result is partition-order invariant) and the final formula
    * scalar double — NULL when either side has zero variance. Self-pairs
    * are excluded.
    *
    * Scale shape: ONE corpus scan and ONE corpus shuffle — the bucket
    * aggregation `b` — which the target branch then REUSES: the target
    * bucket table is `b` broadcast-semi-joined to the target names (its
    * groups for a target metric are exactly the groups the former
    * points-side pre-join aggregated, and the exact-DECIMAL sum is
    * orderless, so the means are bit-identical by construction), and AQE
    * reuses b's exchange for both consumers instead of running a second
    * scan+aggregation over the raw points. The target bucket table is
    * |targets|×|buckets| rows — broadcast, so the per-series pass never
    * shuffles on bucket; the final per-series aggregation combines
    * map-side. Never an all-pairs series join. */
  def correlatedSeries(points: DataFrame, targets: DataFrame, bucketMs: Long,
      minBuckets: Int = 5): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(minBuckets >= 2, s"minBuckets must be at least 2, got $minBuckets")
    val dec = DecimalType(38, 8)
    def bucketMean(pts: DataFrame, keys: Seq[String], out: String) = pts
      .groupBy((keys.map(col) :+
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms")): _*)
      .agg((sum(col("value").cast(DecimalType(28, 2))).cast("double") /
        count(lit(1))).as(out))
    val b = bucketMean(points, Seq("tenant_id", "metric_name"), "bx")
    // The target series is PER TENANT and the correlation join is
    // tenant-scoped (P4): pooling raw points across tenants that share a
    // target name would leak every tenant's data into every correlation.
    // distinct target names: a duplicated target row would duplicate its
    // bucket rows in the join below and inflate n_common
    val t = b
      .join(broadcast(targets.select(col("metric_name").as("tgt_name"))
          .distinct()),
        col("metric_name") === col("tgt_name"))
      .select(col("tenant_id"), col("tgt_name"), col("bucket_ms"),
        col("bx").as("ty"))
    val agg = b.join(broadcast(t), Seq("bucket_ms", "tenant_id"))
      .filter(col("metric_name") =!= col("tgt_name"))
      .groupBy(col("tgt_name"), col("tenant_id"), col("metric_name"))
      .agg(
        count(lit(1)).as("n_common"),
        sum(col("bx").cast(dec)).cast("double").as("sx"),
        sum(col("ty").cast(dec)).cast("double").as("sy"),
        sum((col("bx") * col("ty")).cast(dec)).cast("double").as("sxy"),
        sum((col("bx") * col("bx")).cast(dec)).cast("double").as("sxx"),
        sum((col("ty") * col("ty")).cast(dec)).cast("double").as("syy"))
    val vx = col("n_common") * col("sxx") - col("sx") * col("sx")
    val vy = col("n_common") * col("syy") - col("sy") * col("sy")
    agg.filter(col("n_common") >= minBuckets)
      .withColumn("r", when(vx > 0 && vy > 0,
        (col("n_common") * col("sxy") - col("sx") * col("sy")) /
          sqrt(vx * vy)))
      .select("tgt_name", "tenant_id", "metric_name", "n_common", "r")
  }

  /** Top-k series per tenant by a whole-range statistic — Graphite's
    * `highestAverage` / `highestMax` / `highestCurrent` selector family
    * (and the `lowest*` family via `ascending = true`), engine-side: the
    * dashboard asks "which 10 series matter" without downloading any.
    *
    * `stat`: mean | sum | max | min | count | last (most recent sample —
    * the highestCurrent/lowestCurrent rank). mean/sum accumulate in exact
    * DECIMAL(28,2) then finish as scalar double (the rollup recipe), so
    * ranking is partition-order invariant; ties break by metric_name for a
    * total order. Output: tenant_id, metric_name, stat_value, rk (1-based).
    *
    * Scale shape: one shuffle with map-side partial aggregation, then a
    * per-tenant rank that Catalyst rewrites to WindowGroupLimit — each
    * partition keeps only its local top-k before the window sorts, so no
    * tenant's full series list ever sorts in one place. */
  def topSeries(points: DataFrame, k: Int, stat: String = "mean",
      ascending: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    points.groupBy(col("tenant_id"), col("metric_name"))
      .agg(seriesStat(stat).as("stat_value"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("tenant_id").orderBy(rankOrder(ascending): _*)))
      .filter(col("rk") <= k)
  }

  /** The per-series statistic [[topSeries]] ranks by, over a frame's
    * `value` (and `ts_ms` for `last`), with each aggregate through `agg`
    * (identity under a groupBy, `.over(w)` as a per-series window
    * column). */
  def seriesStat(stat: String, agg: Column => Column = identity): Column =
    stat match {
      // mean of the NON-NULL samples (Graphite's safeAvg): composed
      // render inputs carry null datapoints (a derivative's first point,
      // a removeAboveValue scrub) that the sum already skips — counting
      // them in the denominator would deflate every composed ranking
      case "mean" => agg(sum(col("value").cast(DecimalType(28, 2))))
        .cast("double")./(agg(count(col("value"))))
      case "sum" => agg(sum(col("value").cast(DecimalType(28, 2)))).cast("double")
      case "max" => agg(max(col("value")))
      case "min" => agg(min(col("value")))
      case "count" => agg(count(lit(1))).cast("double")
      // the most recent NON-NULL sample (Graphite's safeLast — a
      // scrubbed trailing point must not turn the rank stat NULL, which
      // asc-sorts FIRST and silently exits every current* threshold);
      // ties on ts_ms break by larger value so the rank input is
      // deterministic
      case "last" => agg(max(when(col("value").isNotNull,
          struct(col("ts_ms"), col("value")))))
        .getField("value")
      // population stddev over the non-null samples (Graphite's
      // mostDeviant ranks by sigma) — the exact-sum/exact-sum-of-squares
      // recipe, 0-clamped where double cancellation goes fractionally
      // negative (the crossSeriesStat convention)
      case "stddev" =>
        val n = agg(count(col("value")))
        val s = agg(sum(col("value").cast(DecimalType(28, 2)))).cast("double")
        val sq = agg(sum((col("value") * col("value"))
          .cast(DecimalType(38, 8)))).cast("double")
        val v = (sq - s * s / n) / n
        when(v.isNull, lit(null).cast("double"))
          .when(v > 0.0, sqrt(v)).otherwise(lit(0.0))
      case other => throw new IllegalArgumentException(
        s"stat must be one of mean|sum|max|min|count|last|stddev, got '$other'")
    }

  /** [[topSeries]]' rank order over `stat_value`: NULLS LAST in both
    * directions — an all-null series (stat_value NULL for
    * last/mean/max/min) would otherwise asc-sort FIRST and consume top-k
    * slots in every lowest (ascending) selection; dataless series must
    * never outrank real ones — with ties broken by metric_name for a
    * total order. */
  def rankOrder(ascending: Boolean): Seq[Column] = Seq(
    if (ascending) col("stat_value").asc_nulls_last
    else col("stat_value").desc_nulls_last,
    col("metric_name"))

  /** Cross-SERIES aggregation under a metric glob — Graphite's
    * `sumSeries`/`averageSeries`/`maxSeries` combinators (one synthetic
    * series from many): series matching `glob` within a tenant collapse
    * per `bucketMs` time bucket into a single output series named
    * `agg.<stat>.<glob>`. Bucketing (rather than exact-ts alignment)
    * is what makes the combinator meaningful over real, slightly-skewed
    * ingest timelines; `n_series` reports how many distinct series fed
    * each bucket, so a dashboard can flag partial coverage.
    *
    * mean/sum accumulate in exact DECIMAL(28,2) and finish as scalar
    * double (the rollup recipe, partition-order invariant).
    *
    * Scale shape: the glob prunes at the scan (a `rlike` on the name —
    * with a stored metric catalog the name set resolves first and
    * semi-joins in, [[graft.operators.Discovery]]'s shape), then ONE
    * map-side-combining aggregation; never a per-series pass. */
  def aggregateSeries(points: DataFrame, glob: String, stat: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val statCol = crossSeriesStat(stat)
    points
      .filter(col("metric_name")
        .rlike(graft.core.GlobPattern.toAnchoredRegex(glob)))
      .groupBy(col("tenant_id"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg(statCol.as("value"),
        count_distinct(col("metric_name")).as("n_series"))
      .withColumn("metric_name", lit(s"agg.$stat.$glob"))
      .select("tenant_id", "metric_name", "bucket_ms", "value", "n_series")
  }

  /** The cross-series per-bucket statistic shared by [[aggregateSeries]]
    * and [[groupByNode]] — Graphite's sumSeries/averageSeries/maxSeries/
    * minSeries/countSeries/rangeOfSeries/stddevSeries combinator family.
    * mean/sum accumulate in exact DECIMAL(28,2) and finish as scalar
    * double (the rollup recipe, partition-order invariant); stddev is the
    * population form over the basic rollup's exact-sum/exact-sum-of-
    * squares recipe ((Σx² − (Σx)²/n)/n as one scalar-double expression,
    * sqrt is IEEE-exact in every engine), clamped at 0 where the expanded
    * form's double cancellation would go fractionally negative — the
    * SAME clamp expression the oracle states, so both engines take the
    * same branch; an all-null bucket yields NULL, not 0. count counts
    * non-null points in the bucket (the n_series column reports distinct
    * contributing series separately). NOTE: the mean/stddev denominators
    * count ALL rows, null values included (the [[movingStats]] frame
    * convention, restated verbatim by the oracles) — feed null-free
    * frames, as the render path does by stripping nulls before every
    * aggregate. */
  private def crossSeriesStat(stat: String): Column = {
    val dec = DecimalType(28, 2)
    stat match {
      case "mean" => sum(col("value").cast(dec)).cast("double") / count(lit(1))
      case "sum" => sum(col("value").cast(dec)).cast("double")
      case "max" => max(col("value"))
      case "min" => min(col("value"))
      case "count" => count(col("value")).cast("double")
      case "range" => max(col("value")) - min(col("value"))
      case "stddev" =>
        val n = count(lit(1))
        val s = sum(col("value").cast(dec)).cast("double")
        val sq = sum((col("value") * col("value"))
          .cast(DecimalType(38, 8))).cast("double")
        val v = (sq - s * s / n) / n
        // null-transparent: an all-null bucket must not report a 0
        // spread it never measured
        when(v.isNull, lit(null).cast("double"))
          .when(v > 0.0, sqrt(v)).otherwise(lit(0.0))
      case other => throw new IllegalArgumentException(
        s"stat must be one of mean|sum|max|min|count|range|stddev, got '$other'")
    }
  }

  /** Graphite's `groupByNode(seriesList, n, callback)` — aggregate series
    * that share the n-th dot-token of their metric name (0-based;
    * negative counts from the end), per time bucket, within a tenant:
    * `groupByNode(app.*.user_*, 1, "sum")` collapses per-user series into
    * one series per application token. The output series is NAMED by the
    * token — the piece dashboards group legends by. A series lacking the
    * node fails loud with its name (Graphite raises there too; silently
    * dropping it would lie about coverage).
    *
    * Scale shape: identical to [[aggregateSeries]] — ONE map-side-
    * combining aggregation keyed by (tenant, token, bucket); the token is
    * a scalar projection, never a per-series pass or a driver loop. */
  def groupByNode(points: DataFrame, nodeIndex: Int, stat: String,
      bucketMs: Long): DataFrame =
    groupByNodes(points, Seq(nodeIndex), stat, bucketMs)

  /** Multi-node form (Graphite's `groupByNodes(seriesList, callback,
    * *nodes)`): the grouping key is the dot-joined selection of name
    * tokens, in the caller's order — `groupByNodes(points, Seq(1, 3),
    * "sum", …)` keys by `<app>.<endpoint>` out of
    * `app.<app>.region.<endpoint>.latency` names. Same single-aggregation
    * scale shape as [[groupByNode]]. */
  /** Dot-joined node-token selection of `metric_name` — the grouping/join
    * key shared by [[groupByNodes]] and [[weightedAverage]]. element_at is
    * 1-based from the front, -1-based from the back; the size guard keeps
    * ANSI element_at from throwing its opaque out-of-range error (CASE
    * branches evaluate lazily, so the element_at only runs when the guard
    * passes). A series lacking a node fails loud with its name (Graphite
    * raises there too). */
  private def nodeKey(nodeIndexes: Seq[Int]): Column = {
    val parts = split(col("metric_name"), "\\.")
    val tokens = nodeIndexes.map { nodeIndex =>
      val needed = if (nodeIndex >= 0) nodeIndex + 1 else -nodeIndex
      val pos = if (nodeIndex >= 0) nodeIndex + 1 else nodeIndex
      when(size(parts) < needed, raise_error(concat(
        lit(s"groupByNode: series '"), col("metric_name"),
        lit(s"' has no node $nodeIndex"))).cast("string"))
        .otherwise(element_at(parts, pos))
    }
    concat_ws(".", tokens: _*)
  }

  def groupByNodes(points: DataFrame, nodeIndexes: Seq[Int], stat: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(nodeIndexes.nonEmpty, "at least one node index is required")
    points
      .withColumn("__node", nodeKey(nodeIndexes))
      .groupBy(col("tenant_id"), col("__node"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg(crossSeriesStat(stat).as("value"),
        count_distinct(col("metric_name")).as("n_series"))
      .select(col("tenant_id"), col("__node").as("metric_name"),
        col("bucket_ms"), col("value"), col("n_series"))
  }

  /** Graphite's `weightedAverage(seriesListAvg, seriesListWeight, *nodes)`
    * (webapp/graphite/render/functions.py): pair the two lists by their
    * dot-token node selection, then per time bucket serve
    * `Σ(avg_k·weight_k) / Σ(weight_k)` over the matched keys — ONE output
    * series (capacity-weighted utilisation, the canonical use). Each side
    * collapses to one mean per (key, bucket) first (exact-DECIMAL mean of
    * its non-null samples); keys present on only one side drop (Graphite
    * pairs by node value the same way). The weights frame may come from a
    * different tenant/table; the output carries the AVERAGED side's tenant.
    *
    * Orderless exactness: the cross-key accumulations run in
    * floor(x·1e10) LONG units — one IEEE product + floor is bit-identical
    * in every engine and integer sums commute (the Similarity.lloyd
    * remedy) — and the served value is the long-ratio
    * `CAST(Σ⌊a·w·1e10⌋ AS DOUBLE) / CAST(Σ⌊w·1e10⌋ AS DOUBLE)`, restated
    * verbatim by the q_series_weighted_avg oracle.
    *
    * Scale shape: two map-side-combining aggregations + one equi-join on
    * (key, bucket) + one final aggregation — no window, no per-series
    * pass; the key space (hosts, shards) is the fan-in bound. */
  def weightedAverage(avgs: DataFrame, weights: DataFrame,
      nodeIndexes: Seq[Int], bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(nodeIndexes.nonEmpty, "at least one node index is required")
    val dec = DecimalType(28, 2)
    def bucket = (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs)))
      .cast("long").as("bucket_ms")
    val a = avgs.filter(col("value").isNotNull)
      .withColumn("__k", nodeKey(nodeIndexes))
      .groupBy(col("tenant_id"), col("__k"), bucket)
      .agg((sum(col("value").cast(dec)).cast("double") /
        count(col("value"))).as("__a"))
    val w = weights.filter(col("value").isNotNull)
      .withColumn("__k", nodeKey(nodeIndexes))
      .groupBy(col("__k"), bucket)
      .agg((sum(col("value").cast(dec)).cast("double") /
        count(col("value"))).as("__w"))
    a.join(w, Seq("__k", "bucket_ms"))
      .withColumn("__pl", floor(col("__a") * col("__w") * lit(1.0e10)).cast("long"))
      .withColumn("__wl", floor(col("__w") * lit(1.0e10)).cast("long"))
      .groupBy(col("tenant_id"), col("bucket_ms"))
      .agg(
        // graphite's safeDiv: a bucket whose weights sum to 0 has no
        // defined average — serve null, never 0/0's NaN or x/0's Infinity
        when(sum(col("__wl")) =!= 0,
          sum(col("__pl")).cast("double") / sum(col("__wl")).cast("double"))
          .as("value"),
        count(lit(1)).as("n_keys"))
      .withColumn("metric_name", lit("weightedAverage"))
      .select("tenant_id", "metric_name", "bucket_ms", "value", "n_keys")
  }

  /** Graphite's `hitcount(seriesList, intervalString)` for an IRREGULAR
    * store (webapp/graphite/render/functions.py hitcount: values are
    * per-second rates; convert to absolute hits per display bucket).
    * Graphite gets proration for free from fixed-step storage; here each
    * sample's rate covers the open interval [ts, next_ts) and its hits
    * prorate EXACTLY across every bucket the interval overlaps
    * (`rate × overlap_ms / 1000`). Two deliberate irregular-store
    * semantics, both documented and oracle-pinned: (1) an interval is
    * capped at `maxGapMs` (default 1 h) — counting hits through an outage
    * gap would invent traffic a fixed-step Graphite would have drawn as
    * nulls; (2) the last sample of a series has no next sample and
    * contributes nothing (its interval is unknown).
    *
    * Orderless exactness: per-bucket accumulation runs in
    * floor(rate · overlap_ms · 1e4) LONG units (one IEEE product + floor,
    * bit-identical cross-engine; integer sums commute), served as the
    * long-ratio `CAST(Σ AS DOUBLE) / 1e7` (ms→s and the 1e4 unit in one
    * scalar step) — restated verbatim by q_series_hitcount.
    *
    * Scale shape: one lag window per series (incremental frame) + a
    * BOUNDED explode — ≤ maxGapMs/bucketMs bucket rows per point
    * (enforced ≤ 4096) — + one map-side-combining aggregation. Ties on
    * ts order by value so the lead is total; identical duplicate rows
    * yield identical (row, next) multisets in every engine. */
  def hitcount(points: DataFrame, bucketMs: Long,
      maxGapMs: Long = 3600000L): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(maxGapMs >= bucketMs,
      s"maxGapMs ($maxGapMs) must be >= bucketMs ($bucketMs)")
    require(maxGapMs / bucketMs <= 4096L,
      s"maxGapMs/bucketMs fan-out ${maxGapMs / bucketMs} exceeds 4096 — " +
        "raise bucketMs or lower maxGapMs")
    val w = Window.partitionBy(col("tenant_id"), col("metric_name"))
      .orderBy(col("ts_ms"), col("value"))
    points
      .filter(col("value").isNotNull)
      // least() skips NULLs in Spark (and DuckDB), which would hand the
      // LAST point a full gap window — gate on the lead explicitly so a
      // series' final sample contributes nothing
      .withColumn("__lead", lead(col("ts_ms"), 1).over(w))
      .withColumn("__nxt", when(col("__lead").isNotNull,
        least(col("__lead"), col("ts_ms") + lit(maxGapMs))))
      .filter(col("__nxt").isNotNull && col("__nxt") > col("ts_ms"))
      .withColumn("__b", explode(sequence(
        expr(s"ts_ms div ${bucketMs}L"),
        expr(s"(__nxt - 1) div ${bucketMs}L"))))
      .withColumn("bucket_ms", col("__b") * lit(bucketMs))
      .withColumn("__ov",
        least(col("__nxt"), col("bucket_ms") + lit(bucketMs)) -
          greatest(col("ts_ms"), col("bucket_ms")))
      .withColumn("__hl",
        floor(col("value") * col("__ov") * lit(1.0e4)).cast("long"))
      .groupBy(col("tenant_id"), col("metric_name"), col("bucket_ms"))
      .agg((sum(col("__hl")).cast("double") / lit(1.0e7)).as("hits"))
  }

  /** Graphite's `sumSeriesWithWildcards` / `averageSeriesWithWildcards`
    * (webapp/graphite/render/functions.py): aggregate series whose names
    * match after REMOVING the dot-tokens at the given positions — the
    * grouping key (and output series name) is the name with those nodes
    * dropped, so `sumSeriesWithWildcards(app.*.req, 1)` collapses
    * `app.<host>.req` into one `app.req` series per tenant. Positions are
    * 0-based and non-negative (graphite-web's contract); a position past a
    * short name's end simply never matches, exactly as graphite-web's
    * `enumerate`-filter behaves — no error, the name passes through
    * unshortened.
    *
    * Scale shape: identical to [[groupByNodes]] — ONE map-side-combining
    * aggregation keyed by (tenant, collapsed name, bucket). The name
    * collapse is a single FLAT higher-order `filter` over the split tokens
    * (a scalar projection, not a nested HOF and never in a per-point hot
    * loop — it runs once per input row pre-shuffle, the same cost class as
    * groupByNodes' per-index when-chain). */
  def aggregateWithWildcards(points: DataFrame, positions: Seq[Int],
      stat: String, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(positions.nonEmpty, "at least one wildcard position is required")
    require(positions.forall(_ >= 0),
      s"wildcard positions must be non-negative, got $positions")
    val parts = split(col("metric_name"), "\\.")
    // functions.filter's index lambda is 0-based, matching graphite's
    // enumerate(); kept tokens re-join in original order
    val kept = filter(parts, (_, i) => !i.isin(positions: _*))
    points
      .withColumn("__g", array_join(kept, "."))
      .groupBy(col("tenant_id"), col("__g"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg(crossSeriesStat(stat).as("value"),
        count_distinct(col("metric_name")).as("n_series"))
      .select(col("tenant_id"), col("__g").as("metric_name"),
        col("bucket_ms"), col("value"), col("n_series"))
  }

  /** Per-point trailing moving statistics over a TIME window — Graphite's
    * `movingAverage(series, 'NNs')` / `movingMax` / `movingMin` family,
    * engine-side and fused: mean (exact-DECIMAL sum / count, the rollup
    * recipe), max, min, and the window population in ONE range-frame
    * Window node per series. The range frame is [ts − windowMs, ts]
    * inclusive of the current point; duplicate-timestamp peers are all in
    * frame (SQL range-frame peer semantics — identical in the oracle), so
    * output needs no tie-break to be deterministic.
    *
    * Scale shape: series smooth independently and in parallel (partition
    * by locator, no cross-series shuffle — the [[derivatives]] /
    * [[Anomaly.rollingZScores]] contract), and all four stats share one
    * sort, one frame scan. Runs equally over raw points or a rollup tier
    * (`value` is whatever stat the tier serves).
    *
    * Precision note: the mean accumulates in DECIMAL(28,2) (the oracle
    * cents convention — exact, partition-order invariant), so inputs
    * quantize to 2 decimals. Smoothing a tiny-magnitude stream (e.g. a
    * composed perSecond of a slow counter) through `mavg` loses the
    * sub-cent signal — scale first, or smooth before the rate view. */
  def movingStats(points: DataFrame, windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val w = Window.partitionBy("tenant_id", "metric_name")
      .orderBy(col("ts_ms")).rangeBetween(-windowMs, 0)
    points.select(col("tenant_id"), col("metric_name"), col("ts_ms"),
      col("value"),
      count(lit(1)).over(w).as("n_window"),
      (sum(col("value").cast(DecimalType(28, 2))).over(w).cast("double") /
        count(lit(1)).over(w)).as("mavg"),
      max(col("value")).over(w).as("mmax"),
      min(col("value")).over(w).as("mmin"))
  }

  /** Prefix-sum twin of [[movingStats]]' mean — the HOT-SERIES scale path.
    *
    * Spark evaluates a trailing RANGE frame by re-aggregating the whole
    * in-frame buffer every time the lower bound moves (no retractable
    * aggregates), so [[movingStats]] on a dense series costs
    * O(points × frame population) inside ONE task — measured at 10⁷
    * points × 3600-row frames it is the slowest wall in `graft.Stress`,
    * dwarfing even the per-series sort. This form never re-aggregates a
    * frame: TWO unbounded-preceding range frames over the SAME sort —
    * `[unbounded, current]` and `[unbounded, −(w+1)]` — and the window
    * mean is their exact DECIMAL difference. Both frame kinds only ever
    * ADD rows as their upper bound advances, so Spark evaluates each
    * incrementally, and sharing the partition/order means ONE exchange,
    * ONE sort, one WindowExec (no probes, no union, no self-join —
    * the first draft's probe+join form re-ran the whole sorted lineage
    * on both join sides).
    *
    * BIT-IDENTICAL to `movingStats.mavg` by construction: the frame's
    * DECIMAL sum equals the exact difference of two DECIMAL prefix sums,
    * and the final cast/divide is the same scalar-double expression —
    * including null-value rows (counted in the denominator, absent from
    * the sum; an all-null window stays NULL, not 0) and duplicate-ts
    * peers (RANGE frames include all peers on both bounds). Output
    * matches [[movingStats]] minus the non-prefixable mmax/mmin (a
    * monotonic deque has no relational form; extremes keep the frame
    * path). */
  def movingAvgPrefix(points: DataFrame, windowMs: Long): DataFrame =
    // delegate to the frame-grouped single projection so the plan is ONE
    // WindowExec over one sort (an interleaved withColumn chain left four
    // Window nodes here — same hazard movingWindowPrefix already fixed);
    // mavg is the identical expression tree, so hash parity is preserved
    movingWindowPrefix(points, windowMs, withStd = false).drop("msum")

  /** [[movingAvgPrefix]] widened to the full prefixable trailing-window
    * stat family — Graphite's `movingSum` and `movingWindow(...,
    * "stddev")` alongside the mean, all riding the SAME sorted pass:
    * THREE prefix pairs (DECIMAL(28,2) value sums, DECIMAL(38,8) squared
    * sums, counts) over the two unbounded-preceding range frames, so the
    * whole family costs one exchange + one sort + one WindowExec and
    * stays flat in window width (the frame form re-aggregates
    * O(points × frame population) per series task — the graft.Stress
    * wall).
    *
    * Outputs per point: `n_window` (frame population), `msum` (exact-
    * DECIMAL window sum as double), `mavg` (≡ [[movingStats]]' mavg
    * bit-for-bit), `mstd` (population stddev over the window — the basic
    * rollup's (Σx² − (Σx)²/n)/n derived-double recipe on exact prefix
    * differences, 0-clamped against expanded-form cancellation; sqrt is
    * IEEE-exact). All-null windows yield NULL stats with `n_window`
    * still counting rows — the [[movingStats]] frame conventions.
    *
    * `withStd = false` drops the squared-sum prefixes (and the `mstd`
    * column): the sq cums are UNBOUNDED-preceding, so their DECIMAL(38,8)
    * headroom (30 integral digits) bounds the whole series' Σx², not one
    * window's — a ~1e13-valued series overflows ANSI after ~10⁴ points
    * even though every bounded window is fine. Callers that only need
    * sum/mean (the render movingAverage/movingSum paths) must not pay
    * that failure mode; the value cums' DECIMAL(28,2) domain (~1e26
    * cumulative) is the same one [[movingAvgPrefix]] already carries. */
  def movingWindowPrefix(points: DataFrame, windowMs: Long,
      withStd: Boolean = true): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val ser = Seq("tenant_id", "metric_name")
    val dec = DecimalType(28, 2)
    val sqDec = DecimalType(38, 8)
    val order = Window.partitionBy(ser.map(col): _*).orderBy(col("ts_ms"))
    val upto = order.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val below = order.rangeBetween(Window.unboundedPreceding, -(windowMs + 1L))
    val sqCol = (col("value") * col("value")).cast(sqDec)
    val n = col("__ccnt") - col("__bcnt")
    val sumD = (coalesce(col("__csum"), lit(0).cast(dec)) -
      coalesce(col("__bsum"), lit(0).cast(dec))).cast("double")
    val sqD = (coalesce(col("__csq"), lit(0).cast(sqDec)) -
      coalesce(col("__bsq"), lit(0).cast(sqDec))).cast("double")
    val hasVals = col("__cvct") - col("__bvct") > 0
    val variance = (sqD - sumD * sumD / n) / n
    val sqUpto =
      if (withStd) Seq(sum(sqCol).over(upto).as("__csq")) else Nil
    val sqBelow =
      if (withStd) Seq(sum(sqCol).over(below).as("__bsq")) else Nil
    val stdOut =
      if (withStd) Seq(when(hasVals,
        when(variance > 0.0, sqrt(variance)).otherwise(lit(0.0)))
        .as("mstd"))
      else Nil
    points
      // one projection, frame-grouped: both frames share the partition/
      // order spec, so ALL the aggregates land in ONE WindowExec over one
      // sort (SeriesSpec pins the node counts; an interleaved withColumn
      // chain left four Window nodes — same sort, extra per-row passes)
      .select(Seq(col("*"),
        sum(col("value").cast(dec)).over(upto).as("__csum")) ++ sqUpto ++
        Seq(count(lit(1)).over(upto).as("__ccnt"),
          count(col("value")).over(upto).as("__cvct"),
          sum(col("value").cast(dec)).over(below).as("__bsum")) ++ sqBelow ++
        Seq(count(lit(1)).over(below).as("__bcnt"),
          count(col("value")).over(below).as("__bvct")): _*)
      .select(ser.map(col) ++ Seq(col("ts_ms"), col("value"),
        n.as("n_window"),
        when(hasVals, sumD).as("msum"),
        when(hasVals, sumD / n).as("mavg")) ++ stdOut: _*)
  }

  /** Fixed-offset self-comparison — Graphite's `timeShift` composed with a
    * delta/ratio panel (the week-over-week dashboard): each series'
    * `bucketMs`-bucket statistic is compared against its own value
    * `shiftMs` earlier. Output per bucket: value, shifted_value (null when
    * the shifted bucket has no data), delta = value − shifted_value, ratio
    * = value / shifted_value (null on missing or zero base).
    *
    * The shifted lookup is NOT a self-join: a range-frame window pinned to
    * exactly [ts − shiftMs, ts − shiftMs] reads the one bucket at the
    * offset (bucket starts are unique per series after the aggregation, so
    * `max` over the frame is a point lookup). The corpus shuffles once for
    * the bucket aggregation; the window's (tenant, metric) exchange then
    * carries only the bucketed table (one row per series-bucket), where
    * the naive self-join would hash-join that table against itself with
    * two more build/probe exchanges and lose the missing-bucket rows
    * without an outer join.
    *
    * mean/sum accumulate in exact DECIMAL(28,2) and finish as scalar
    * double (the rollup recipe, partition-order invariant). */
  def timeShiftCompare(points: DataFrame, bucketMs: Long, shiftMs: Long,
      stat: String = "mean"): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    require(shiftMs > 0 && shiftMs % bucketMs == 0,
      s"shiftMs must be a positive multiple of bucketMs, got $shiftMs")
    val dec = DecimalType(28, 2)
    val statCol = stat match {
      case "mean" => sum(col("value").cast(dec)).cast("double") / count(lit(1))
      case "sum" => sum(col("value").cast(dec)).cast("double")
      case "max" => max(col("value"))
      case "min" => min(col("value"))
      case other => throw new IllegalArgumentException(
        s"stat must be one of mean|sum|max|min, got '$other'")
    }
    val w = Window.partitionBy("tenant_id", "metric_name")
      .orderBy(col("bucket_ms")).rangeBetween(-shiftMs, -shiftMs)
    points
      .groupBy(col("tenant_id"), col("metric_name"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg(statCol.as("value"))
      .select(col("tenant_id"), col("metric_name"), col("bucket_ms"),
        col("value"), max(col("value")).over(w).as("shifted_value"))
      .withColumn("delta", col("value") - col("shifted_value"))
      .withColumn("ratio",
        when(col("shifted_value") =!= 0, col("value") / col("shifted_value")))
  }

  /** Per-series running total — Graphite's `integral()`: the cumulative
    * sum of each series' values in time order (turning a rate series back
    * into a counter, plotting cumulative spend, etc.).
    *
    * The accumulator is an exact DECIMAL(28,2) running sum finished as
    * scalar double, so the prefix at every row is independent of both
    * partition layout AND the tie order among equal-(ts, value) rows
    * (exact addition commutes; a double running sum would not). Ordering
    * ties on ts_ms break by value for a total, layout-invariant frame.
    *
    * Scale shape: one window per series (partition by locator) — series
    * accumulate independently and in parallel, no cross-series shuffle;
    * the running-sum frame is a single forward scan per series. */
  def integral(points: DataFrame): DataFrame = {
    val w = Window.partitionBy("tenant_id", "metric_name")
      .orderBy(col("ts_ms"), col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points.select(col("tenant_id"), col("metric_name"), col("ts_ms"),
      col("value"),
      sum(col("value").cast(DecimalType(28, 2))).over(w).cast("double")
        .as("cumsum"))
  }

  /** Cross-series quantile under a metric glob — Graphite's
    * `percentileOfSeries`: per time bucket, the p-th percentile across the
    * per-series bucket means of every series matching `glob` (the "p95 of
    * all API servers" panel). Output: one synthetic series
    * `quantile.<p>.<glob>` with per-bucket qvalue and the contributing
    * series count.
    *
    * Exact linear-interpolation percentile, snapped to DECIMAL(18,6) on
    * both engine and oracle sides (the [[QDef]] percentile-parity rule).
    * Per-series means use the exact-DECIMAL recipe first, so the
    * percentile's input multiset is bit-identical regardless of layout.
    *
    * Scale shape: the glob prunes at the scan; two map-side-combining
    * aggregations (series-bucket means, then per-bucket percentile). The
    * percentile group fan-in is the matching-series count — bounded by the
    * glob, not the corpus; for a glob matching millions of series swap
    * `percentile` for `approx_percentile` (same shape, sketch merge). */
  def quantileOfSeries(points: DataFrame, glob: String, p: Double,
      bucketMs: Long): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p must be in [0, 1], got $p")
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val dec = DecimalType(28, 2)
    points
      .filter(col("metric_name")
        .rlike(graft.core.GlobPattern.toAnchoredRegex(glob)))
      .groupBy(col("tenant_id"), col("metric_name"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg((sum(col("value").cast(dec)).cast("double") / count(lit(1)))
        .as("v"))
      .groupBy(col("tenant_id"), col("bucket_ms"))
      .agg(
        percentile(col("v"), lit(p)).cast(DecimalType(18, 6)).cast("double")
          .as("qvalue"),
        count(lit(1)).as("n_series"))
      .withColumn("metric_name", lit(s"quantile.$p.$glob"))
      .select("tenant_id", "metric_name", "bucket_ms", "qvalue", "n_series")
  }

  /** Per-series least-squares trend + capacity forecast — Graphite's
    * `linearRegression` and `timeToReach`: fit value = intercept +
    * slope·t (t in seconds since the series' own first point) over the
    * queried range, then project.
    *
    * Output per series: n, t_max_s (last point's offset), slope_per_s,
    * intercept, r2 (null when either t or value has zero variance),
    * forecast_value = intercept + slope·(t_max + horizon), and
    * reach_ts_ms = the absolute epoch-ms (double) at which the fitted
    * line crosses `threshold` (null for a flat fit; in the past when the
    * line already crossed it).
    *
    * Numeric discipline — stricter than the [[correlatedSeries]] recipe,
    * because regression terms defeat per-term snapping: t·value products
    * over ms offsets terminate EXACTLY at the snap scale's tie digit
    * (k·v/86400000 can end "…5" at the 9th decimal), and Spark
    * (exact-value HALF_UP) and DuckDB (scaled-double round) resolve such
    * ties differently. So nothing fractional is ever snapped: every
    * accumulator is an exact INTEGER-valued decimal — whole MINUTES since
    * the series' first point (trend time is minute-truncated; for a
    * multi-day fit that is semantically free), values in cents — products
    * and sums stay exact, every decimal→double cast is scale-0, and all
    * unit scaling (cents→value, per-minute→per-second/day slopes)
    * happens afterward in identical scalar-double expressions.
    * Per-series relative time also keeps epoch² out of every exact type.
    *
    * Magnitude precondition for ulp-exact oracle parity: each accumulator
    * must stay < 2^53 (DuckDB's int128→double cast is off by 1 ulp
    * above). The TIME terms hold by construction (minute units keep
    * n·dt² ≤ ~1e13 for million-point series); the VALUE terms Σvc and
    * Σvc² hold when n·(100·|v|)² < 9e15 — e.g. |v| ≤ 1e3 for a
    * million-point series. Larger regimes stay CORRECT to double
    * precision on the engine side; only the last-ulp hash parity with
    * DuckDB's non-correctly-rounded cast is at stake (remedy there:
    * rescale values before fitting). */
  def linearTrend(points: DataFrame, horizonS: Double,
      threshold: Double): DataFrame = {
    require(horizonS >= 0, s"horizonS must be non-negative, got $horizonS")
    val t0 = points.groupBy(col("tenant_id"), col("metric_name"))
      .agg(min(col("ts_ms")).as("min_ms"))
    val agg = points
      .join(t0, Seq("tenant_id", "metric_name"))
      .groupBy(col("tenant_id"), col("metric_name"))
      .agg(min(col("min_ms")).as("min_ms"), trendSums(identity): _*)
    val varT = col("n") * col("stt") - col("st") * col("st")
    val varV = col("n") * col("svv") - col("sv") * col("sv")
    val cov = col("n") * col("stv") - col("st") * col("sv")
    agg
      .withColumn("slope_per_min", trendSlopePerMin)
      .withColumn("intercept", trendIntercept)
      .withColumn("slope_per_s", col("slope_per_min") / lit(60.0))
      .withColumn("slope_per_d", col("slope_per_min") * lit(1440.0))
      .withColumn("r2", when(varT > 0 && varV > 0,
        (cov * cov) / (varT * varV)))
      .withColumn("forecast_value",
        col("intercept") + col("slope_per_min") *
          (col("t_max_min") + lit(horizonS / 60.0)))
      .withColumn("reach_ts_ms", when(col("slope_per_min") =!= 0,
        col("min_ms") + (lit(threshold) - col("intercept")) /
          col("slope_per_min") * lit(60000.0)))
      .select("tenant_id", "metric_name", "n", "t_max_min", "slope_per_s",
        "slope_per_d", "intercept", "r2", "forecast_value", "reach_ts_ms")
  }

  /** [[linearTrend]]'s exact least-squares accumulators over rows that
    * carry their series' first instant `min_ms`, each aggregate through
    * `agg` (identity under a groupBy, `.over(w)` as per-series window
    * columns): `n`, `t_max_min` and the sums `st`, `sv`, `stt`, `stv`,
    * `svv` of minute offsets `(ts_ms - min_ms) div 60000` and values, in
    * exact DECIMAL cents before the scalar-double finish. */
  private[graft] def trendSums(agg: Column => Column): Seq[Column] = {
    val dtMin = expr("(ts_ms - min_ms) div 60000L")
    val dtDec = dtMin.cast(DecimalType(19, 0))
    val vCents = (col("value").cast(DecimalType(18, 2)) * lit(100))
      .cast(DecimalType(19, 0))
    Seq(
      agg(count(lit(1))).as("n"),
      agg(max(dtMin)).as("t_max_min"),
      agg(sum(dtMin)).cast("double").as("st"),
      (agg(sum(vCents)).cast("double") / lit(100.0)).as("sv"),
      agg(sum(dtDec * dtDec)).cast("double").as("stt"),
      (agg(sum(dtDec * vCents)).cast("double") / lit(100.0)).as("stv"),
      (agg(sum(vCents * vCents)).cast("double") / lit(10000.0)).as("svv"))
  }

  /** The least-squares slope per minute over [[trendSums]]' columns
    * (NULL for a series with one distinct minute). */
  private[graft] def trendSlopePerMin: Column = {
    val varT = col("n") * col("stt") - col("st") * col("st")
    val cov = col("n") * col("stv") - col("st") * col("sv")
    when(varT > 0, cov / varT)
  }

  /** The intercept at `min_ms` over [[trendSums]]' columns and a
    * `slope_per_min` column. */
  private[graft] def trendIntercept: Column =
    (col("sv") - col("slope_per_min") * col("st")) / col("n")

  /** Per-series percentile clamp / outlier filter — Graphite's
    * `removeAbovePercentile` family with the clamped variant kept too:
    * each point is compared against ITS OWN series' exact p-th percentile
    * over the queried range. Output adds p_value (the series percentile,
    * DECIMAL(18,6)-snapped — the [[QDef]] percentile-parity rule),
    * clamped (min(value, p_value)), and is_outlier (value > p_value);
    * callers drop or clamp as policy dictates.
    *
    * Scale shape: one per-series exact-percentile aggregation, then a
    * join back on the identical key — exchange reuse, one corpus shuffle;
    * the percentile group fan-in is one series' range, the same bound as
    * every window operator here. At unbounded fan-in swap `percentile`
    * for `approx_percentile` (sketch merge, same shape). */
  def clampOutliers(points: DataFrame, p: Double): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p must be in [0, 1], got $p")
    val q = points.groupBy(col("tenant_id"), col("metric_name"))
      .agg(percentile(col("value"), lit(p)).cast(DecimalType(18, 6))
        .cast("double").as("p_value"))
    points.join(q, Seq("tenant_id", "metric_name"))
      .withColumn("clamped", least(col("value"), col("p_value")))
      .withColumn("is_outlier", col("value") > col("p_value"))
  }

  /** Per-series completeness report over `bucketMs` buckets — which series
    * have holes, and how big: for each series, the populated-bucket count
    * vs the bucket span between its first and last point. The engine-side
    * answer to the reference's delayed-metric bookkeeping
    * (blueflood-core rollup/SlotKey + delayed-locator tracking): instead
    * of maintaining per-slot dirty state, derive the gap report from the
    * data itself on demand.
    *
    * Output per series: first_ms / last_ms (bucket-aligned), n_expected
    * (span / bucketMs + 1), n_present, n_missing, completeness (double in
    * (0, 1]). Scale shape: per-(series, bucket) distinct collapses
    * map-side, then one tiny per-series aggregate — a single shuffle. */
  def completenessReport(points: DataFrame, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    points
      .select(col("tenant_id"), col("metric_name"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .distinct()
      .groupBy(col("tenant_id"), col("metric_name"))
      .agg(
        min(col("bucket_ms")).as("first_ms"),
        max(col("bucket_ms")).as("last_ms"),
        count(lit(1)).as("n_present"))
      .withColumn("n_expected",
        expr(s"((last_ms - first_ms) div ${bucketMs}L) + 1L"))
      .withColumn("n_missing", col("n_expected") - col("n_present"))
      .withColumn("completeness",
        col("n_present").cast("double") / col("n_expected").cast("double"))
      .select("tenant_id", "metric_name", "first_ms", "last_ms",
        "n_expected", "n_present", "n_missing", "completeness")
  }

  /** Triangle-area downsampling to ≤ `buckets` points per series — the
    * render-side decimation behind "draw this 100k-point series as 800
    * pixels" (the LTTB family, Steinarsson 2013). Endpoints are always
    * kept; the middle points split into `buckets − 2` equal-count
    * buckets, and each bucket keeps the point spanning the LARGEST
    * triangle with its neighbor buckets' centroids (the first/last
    * middle buckets anchor to the exact endpoint, as canonical LTTB
    * does). Anchoring to the neighbor CENTROID instead of the previously
    * SELECTED point removes strict LTTB's sequential bucket chain — every
    * bucket's argmax computes independently, so series AND buckets
    * parallelize, at a selection quality the LTTB literature's parallel
    * variants accept (MinMaxLTTB, plotly-resampler).
    *
    * Oracle-parity: bucket assignment is pure integer math on the
    * row_number; centroids are exact-DECIMAL sums finished as scalar
    * doubles; the area is one fixed double expression over those, so the
    * per-bucket argmax is bit-identical (ties → smallest ts, then value).
    * Scale shape: one shuffle to (series)-partition the windows; the
    * centroid table is B rows per series, its lag/lead window reuses the
    * same exchange, and the argmax rank compiles to WindowGroupLimit.
    * Empty middle buckets (sparse series) are simply absent; their
    * neighbors anchor one centroid further away via the lag/lead over
    * PRESENT buckets. */
  def downsampleTriangle(points: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 3, s"buckets must be >= 3, got $buckets")
    val ser = Seq("tenant_id", "metric_name")
    val wOrd = Window.partitionBy(ser.map(col): _*)
      .orderBy(col("ts_ms"), col("value"))
    val base = points.select(col("tenant_id"), col("metric_name"),
        col("ts_ms"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(ser.map(col): _*)))
    val ends = base
      .filter(col("rn") === 1 || col("rn") === col("n"))
      .withColumn("bucket",
        when(col("rn") === 1, lit(0)).otherwise(lit(buckets - 1)).cast("int"))
    val mid = base.filter(col("rn") > 1 && col("rn") < col("n"))
      // rn is IntegerType (row_number): widen BEFORE the multiply, like the
      // oracle's BIGINT rn — ANSI would overflow on a ~119M-point series
      .withColumn("bucket",
        expr(s"CAST(1 + ((CAST(rn AS BIGINT) - 2) * ${buckets - 2}L)" +
          s" div (n - 2) AS INT)"))
    val fl = base.groupBy(ser.map(col): _*).agg(
      max(when(col("rn") === 1, col("ts_ms"))).as("f_ts"),
      max(when(col("rn") === 1, col("value"))).as("f_v"),
      max(when(col("rn") === col("n"), col("ts_ms"))).as("l_ts"),
      max(when(col("rn") === col("n"), col("value"))).as("l_v"))
    val cent = mid.groupBy((ser :+ "bucket").map(col): _*).agg(
      (sum(col("ts_ms").cast(DecimalType(28, 0))).cast("double") /
        count(lit(1))).as("ct"),
      (sum(col("value").cast(DecimalType(28, 2))).cast("double") /
        count(lit(1))).as("cv"))
    val wB = Window.partitionBy(ser.map(col): _*).orderBy(col("bucket"))
    val anch = cent.join(fl, ser)
      .withColumn("a1_ts",
        coalesce(lag("ct", 1).over(wB), col("f_ts").cast("double")))
      .withColumn("a1_v",
        coalesce(lag("cv", 1).over(wB), col("f_v")))
      .withColumn("a2_ts",
        coalesce(lead("ct", 1).over(wB), col("l_ts").cast("double")))
      .withColumn("a2_v",
        coalesce(lead("cv", 1).over(wB), col("l_v")))
      .select((ser :+ "bucket").map(col) ++
        Seq(col("a1_ts"), col("a1_v"), col("a2_ts"), col("a2_v")): _*)
    val wA = Window.partitionBy((ser :+ "bucket").map(col): _*)
      .orderBy(col("area").desc, col("ts_ms"), col("value"))
    val winners = mid.join(anch, ser :+ "bucket")
      .withColumn("area",
        abs((col("a1_ts") - col("ts_ms").cast("double")) *
            (col("a2_v") - col("value")) -
          (col("a2_ts") - col("ts_ms").cast("double")) *
            (col("a1_v") - col("value"))))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") === 1)
    winners.select((ser ++ Seq("bucket", "ts_ms", "value")).map(col): _*)
      .unionByName(ends.select(
        (ser ++ Seq("bucket", "ts_ms", "value")).map(col): _*))
  }

  /** STRICT canonical LTTB ([[graft.functions.LttbScan]]): the sequential
    * previously-selected-point chain, run as one codegen scan over each
    * series' collected points (the [[Anomaly.ewmaBands]] collect +
    * posexplode shape — one aggregation, zero extra shuffle). Per-series
    * memory is the series length: right for render-sized series or the
    * rollup tiers; for raw corpora beyond that, [[downsampleTriangle]]'s
    * centroid-anchored form is the scale path and this is its quality
    * reference. The render-sized contract is ENFORCED: a series longer
    * than `maxPointsPerSeries` fails with a descriptive error (the check
    * runs after collection, so it converts contract violations into loud
    * failures where collection survives; an LTTB input is a chart query
    * by definition — an unbounded one is a caller bug, and
    * [[downsampleTriangle]] is the scale path).
    * Null-valued points are dropped BEFORE the scan (the
    * expression's whole-array-null contract would otherwise erase the
    * entire series over one bad point). Output: the selected points
    * only, with their bucket. */
  def lttbExact(points: DataFrame, buckets: Int,
      maxPointsPerSeries: Int = 1 << 20): DataFrame = {
    require(buckets >= 3, s"buckets must be >= 3, got $buckets")
    require(maxPointsPerSeries >= 1,
      s"maxPointsPerSeries must be >= 1, got $maxPointsPerSeries")
    import org.apache.spark.sql.graft.ColumnBridge
    val scan = ColumnBridge.column(graft.functions.LttbScan(
      ColumnBridge.expression(col("__pts")), buckets))
    points
      .filter(col("ts_ms").isNotNull && col("value").isNotNull)
      .groupBy(col("tenant_id"), col("metric_name"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("value"))))
        .as("__pts0"))
      .withColumn("__pts",
        when(size(col("__pts0")) <= maxPointsPerSeries, col("__pts0"))
          .otherwise(raise_error(concat(
            lit("lttbExact: series "), col("tenant_id"), lit("."),
            col("metric_name"),
            lit(s" exceeds maxPointsPerSeries=$maxPointsPerSeries — " +
              "decimate a rollup tier, or use downsampleTriangle")))))
      .drop("__pts0")
      .withColumn("__sel", scan)
      .select(col("tenant_id"), col("metric_name"),
        explode(arrays_zip(col("__pts"), col("__sel"))).as("__z"))
      .filter(col("__z.__sel.sel"))
      .select(col("tenant_id"), col("metric_name"),
        col("__z.__sel.bucket").as("bucket"),
        col("__z.__pts.ts_ms").as("ts_ms"),
        col("__z.__pts.value").as("value"))
  }

  /** Aligned two-series arithmetic — the Graphite `divideSeries` /
    * `asPercent` family (the click-through-rate / error-rate query every
    * monitoring user writes): bucket both slices of the point stream,
    * full-outer join on the bucket, safe-divide. `num` / `den` are row
    * predicates selecting each side (a tenant, a metric glob via
    * [[graft.core.GlobPattern]], any column predicate). A bucket present
    * on only one side still emits (its ratio NULL — Graphite's null
    * semantics); a zero denominator yields NULL, never a div-by-zero
    * (reference Util.java safe-division convention, F6).
    *
    * Oracle parity: bucket sums accumulate in DECIMAL(28,2) exactly (the
    * q_series_corr convention); the ratio is one scalar double division
    * of the exact sums. Shape: two map-side-combining aggregations off
    * one scan lineage and a full-outer join on the (already aggregated,
    * one-row-per-bucket) sides — nothing here is wider than the bucket
    * count.
    *
    * Bucketing assumes epoch-positive ts_ms (every store in this engine):
    * `pmod` floors, so a NEGATIVE ts_ms would land one bucket lower here
    * than under the q_series_ratio oracle's truncating `%` — the repo-wide
    * Series bucketing convention, stated here because the divergence is
    * otherwise silent. */
  def seriesRatio(points: DataFrame, num: org.apache.spark.sql.Column,
      den: org.apache.spark.sql.Column, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    def side(p: org.apache.spark.sql.Column, out: String) = points.filter(p)
      .groupBy((col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
        .as("bucket_ms"))
      .agg(sum(col("value").cast(DecimalType(28, 2))).cast("double").as(out))
    side(num, "num_sum")
      .join(side(den, "den_sum"), Seq("bucket_ms"), "full_outer")
      .withColumn("ratio",
        when(col("den_sum") =!= 0.0, col("num_sum") / col("den_sum")))
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per series, split the time
    * span into `buckets` equal-width bins and keep the four extreme points
    * of each — first/last by time, min/max by value. Unlike the
    * triangle-area family ([[downsampleTriangle]], [[lttbExact]]) M4 is
    * ERROR-FREE for line rendering at the target pixel width: the drawn
    * polyline through the kept points is pixel-identical to the full
    * series, which makes it the right default for dashboard range queries
    * (LTTB is the aesthetic choice for overview zoom-outs).
    *
    * Bin assignment is pure integer math — `(ts − t0)·B div (t1 − t0 + 1)`
    * — so Spark and the oracle agree bit-for-bit, every bin lands in
    * [0, B), and a single-point series degenerates to bin 0. The four
    * roles are struct-ordered aggregates whose tie rules restate exactly
    * as oracle row_number orderings: first = min(ts, value),
    * last = max(ts, value), vmin = min(value, ts), vmax = max(value, ts)
    * (NaN sorts larger than every double in BOTH engines). A point filling
    * several roles emits once (DISTINCT on both sides).
    *
    * Scale shape: one join against the per-series extents and ONE
    * partial-aggregating groupBy on (series, bucket) — map-side combine
    * collapses each bin to four structs before any shuffle, so nothing
    * wider than O(series × buckets) ever crosses the wire, and no window
    * over raw rows at all — the cheapest downsampler in the file by
    * construction. The extents join is deliberately UNHINTED: the extents
    * table scales with SERIES COUNT (a forced broadcast pins millions of
    * rows on the driver at 100 TB), its sort-merge exchange on the series
    * key already satisfies the (series, bucket) aggregation's required
    * distribution (key prefix), and AQE broadcasts it at runtime whenever
    * it is actually small. */
  def m4Downsample(points: DataFrame, buckets: Int): DataFrame = {
    // upper bound keeps (ts − t0)·B inside Long under ANSI for any epoch
    // span (2^21 pixel columns is far past any real render) — without it a
    // huge user-supplied B overflows mid-query instead of failing fast
    require(buckets >= 1 && buckets <= (1 << 21),
      s"buckets must be in [1, ${1 << 21}], got $buckets")
    val ser = Seq("tenant_id", "metric_name")
    val ext = points.groupBy(ser.map(col): _*)
      .agg(min(col("ts_ms")).as("t0"), max(col("ts_ms")).as("t1"))
    val binned = points.join(ext, ser)
      .withColumn("bucket",
        expr(s"CAST(((ts_ms - t0) * ${buckets}L) div (t1 - t0 + 1L) AS INT)"))
    val sel = binned.groupBy((ser :+ "bucket").map(col): _*).agg(
      min(struct(col("ts_ms"), col("value"))).as("p_first"),
      max(struct(col("ts_ms"), col("value"))).as("p_last"),
      min(struct(col("value"), col("ts_ms"))).as("p_vmin"),
      max(struct(col("value"), col("ts_ms"))).as("p_vmax"))
    sel.select(ser.map(col) :+ col("bucket") :+ explode(array(
        struct(col("p_first.ts_ms").as("ts_ms"), col("p_first.value").as("value")),
        struct(col("p_last.ts_ms").as("ts_ms"), col("p_last.value").as("value")),
        struct(col("p_vmin.ts_ms").as("ts_ms"), col("p_vmin.value").as("value")),
        struct(col("p_vmax.ts_ms").as("ts_ms"), col("p_vmax.value").as("value"))
      )).as("p"): _*)
      .select(ser.map(col) ++ Seq(col("bucket"),
        col("p.ts_ms").as("ts_ms"), col("p.value").as("value")): _*)
      .distinct()
  }

  /** Robust outlier flags via median absolute deviation — the
    * Graphite-ecosystem `removeOutliers`-style scan a z-score cannot do
    * safely (one huge spike inflates the stddev enough to hide itself;
    * the median and MAD have a 50% breakdown point). Flags
    * |v − median| > k·MAD per series (k = 3 ≈ 4.5σ under normality).
    *
    * Both medians are LOWER medians selected by rank — row_number ordered
    * by (value, ts_ms), position (n+1) div 2 — never interpolated: an
    * interpolated even-count median is an IEEE midpoint two engines can
    * legitimately disagree on, a ranked element is a value both engines
    * already hold. `adev = |v − med|` is one IEEE op over identical
    * operands; the flag compares it to `mad · k`, same expression both
    * sides. All-constant series have MAD 0 and flag nothing (adev > 0
    * is impossible when every deviation is 0).
    *
    * Scale shape: ONE hash exchange on the series key feeding two rank
    * sorts (value-order, then adev-order), with each selected rank
    * BROADCAST BACK by an unordered full-partition window aggregate —
    * `max(when(rn = k, value)) over (partition by series)` — instead of a
    * join: exactly one row per series carries a non-null candidate, so
    * the max IS the ranked element, and an unbounded unordered frame
    * aggregates once per partition (never per row). The former
    * join+localCheckpoint form re-executed the corpus rank window once
    * per checkpoint action and once for the output join (three runs of
    * the scan+exchange+sort pipeline per query, 12 scheduling rounds
    * measured at sf0.1); this form runs it once, needs no med/mad side
    * tables at all, and keeps the same per-series parallelism at any
    * series count. */
  def madOutliers(points: DataFrame, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ser = Seq("tenant_id", "metric_name")
    val wSer = Window.partitionBy(ser.map(col): _*)
    val wv = wSer.orderBy(col("value"), col("ts_ms"))
    // the value at median rank `rank` (each selection names its own rank
    // column: rn_v ranks by value, rn_d by absolute deviation)
    val atMedianRank = (c: Column, rank: String) =>
      max(when(col(rank) === expr("(n + 1L) div 2L"), c)).over(wSer)
    val ranked = points
      .select(ser.map(col) ++ Seq(col("ts_ms"), col("value")): _*)
      .withColumn("rn_v", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(wSer))
    val dev = ranked
      .withColumn("med", atMedianRank(col("value"), "rn_v"))
      .withColumn("adev", abs(col("value") - col("med")))
    val wd = wSer.orderBy(col("adev"), col("ts_ms"))
    dev
      .withColumn("rn_d", row_number().over(wd))
      .withColumn("mad", atMedianRank(col("adev"), "rn_d"))
      .withColumn("is_outlier", col("mad") > 0.0 && col("adev") > col("mad") * k)
      .select(ser.map(col) ++ Seq(col("ts_ms"), col("value"), col("med"),
        col("mad"), col("adev"), col("is_outlier")): _*)
  }

  /** Graphite's `summarize(series, "interval", "func")` — re-bucket each
    * series' served points onto a caller-chosen interval WITHIN the
    * series (where [[aggregateSeries]] crosses series per bucket, this
    * crosses time per series): the ad-hoc rollup a dashboard asks for
    * when the stored tiers don't match its display interval. Bucketing is
    * the epoch-aligned integer snap every rollup here uses; sums/means
    * accumulate in exact DECIMAL (the rollup mean recipe), so results are
    * layout-invariant. One map-side-combining aggregation — shuffle
    * volume is series × buckets, never points. */
  def summarize(points: DataFrame, bucketMs: Long, stat: String): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val dec = DecimalType(28, 2)
    // null samples are ABSENT values (graphite's safe* aggregators skip
    // None): every statistic — including the mean's denominator and
    // n_points — counts only non-null values, so a null-bearing series
    // summarizes exactly as graphite-web would draw it (NullSeriesSpec
    // pins this; the oracles state COUNT(value) identically)
    val statCol = stat match {
      case "sum" => sum(col("value").cast(dec)).cast("double")
      case "avg" | "mean" =>
        sum(col("value").cast(dec)).cast("double") / count(col("value"))
      case "max" => max(col("value"))
      case "min" => min(col("value"))
      case "last" => // last NON-NULL value (graphite safeLast): a trailing
        // null sample must not blank the bucket
        max(when(col("value").isNotNull, struct(col("ts_ms"), col("value"))))
          .getField("value")
      case other => throw new IllegalArgumentException(
        s"summarize func must be one of sum|avg|max|min|last, got '$other'")
    }
    points
      .groupBy(col("tenant_id"), col("metric_name"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs))).cast("long")
          .as("bucket_ms"))
      .agg(statCol.as("value"), count(col("value")).as("n_points"))
  }

  /** Graphite's `smartSummarize(seriesList, interval, func)`: [[summarize]]
    * with buckets aligned to the REQUEST'S from (`anchorMs`) instead of
    * the epoch snap — bucket k covers [anchor + k·ivl, anchor + (k+1)·ivl)
    * and rows before the anchor are excluded (graphite-web re-fetches
    * from the aligned boundary). Implemented as shift → [[summarize]] →
    * unshift, so the bucket algebra is the summarize operator's verbatim
    * (exact-DECIMAL sums; identical scale shape: one map-side-combining
    * aggregation). */
  def smartSummarize(points: DataFrame, anchorMs: Long, bucketMs: Long,
      stat: String): DataFrame =
    summarize(points.filter(col("ts_ms") >= anchorMs)
        .withColumn("ts_ms", col("ts_ms") - anchorMs), bucketMs, stat)
      .withColumn("bucket_ms", col("bucket_ms") + anchorMs)

  /** Graphite's `integralByInterval(seriesList, intervalUnit)`: the
    * running total of [[integral]] RESET at each epoch-snapped interval
    * boundary (the "cumulative today" counter view). Same exact-DECIMAL
    * accumulation, the window additionally partitioned by the bucket —
    * still one incremental [unbounded-preceding, current] frame per
    * series task (the movingWindowPrefix cost class, no re-aggregation).
    * Ties on ts order by value so the running sum is total. */
  def integralByInterval(points: DataFrame, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val w = Window
      .partitionBy(col("tenant_id"), col("metric_name"),
        col("ts_ms") - pmod(col("ts_ms"), lit(bucketMs)))
      .orderBy(col("ts_ms"), col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points.select(col("tenant_id"), col("metric_name"), col("ts_ms"),
      sum(col("value").cast(DecimalType(28, 2))).over(w).cast("double")
        .as("value"))
  }

  /** Graphite's `reduceSeries` pairing (composed with `mapSeries`): pair
    * series that agree on every dot-token EXCEPT `reduceNode`, match the
    * two reduce keys (`m1`, `m2`) at that node, and serve
    * `func(m1-series, m2-series)` per instant. Entries are named with
    * node `reduceNode` replaced by `reduce.<func>` (graphite-web's output
    * shape). Supported reducers — the two-argument ones graphite ships:
    * `asPercent` (a/b·100), `divideSeries` (a/b), `diffSeries` (a−b);
    * zero denominators serve null (the F6 safe-div rule).
    *
    * Instant alignment: the default INNER join drops instants present on
    * only one side; `alignOuter = true` keeps them with a NULL value —
    * graphite-web's None-parity (it emits a point with None when either
    * operand is missing), so sparse series keep their time axis through a
    * division instead of silently thinning. Same value expressions either
    * way: a null operand nulls the result under three-valued logic.
    *
    * Scale shape: one flat token-replace projection (a scalar HOF, once
    * per row) + one equi-join on (tenant, key, ts) — never a cross join;
    * the key is as selective as the series name itself (a full-outer
    * hash join costs the same shuffle as the inner). */
  def reduceSeriesPairs(points: DataFrame, reduceNode: Int,
      m1: String, m2: String, func: String,
      alignOuter: Boolean = false): DataFrame = {
    require(reduceNode >= 0, s"reduceNode must be >= 0, got $reduceNode")
    require(Set("asPercent", "divideSeries", "diffSeries").contains(func),
      s"reduce func must be asPercent|divideSeries|diffSeries, got '$func'")
    // get() is 0-based and null out-of-range (ANSI element_at would throw
    // on shorter names when Catalyst pushes this below an upstream filter)
    val tok = get(split(col("metric_name"), "\\."), lit(reduceNode))
    val keyed = points.withColumn("__key", array_join(
      transform(split(col("metric_name"), "\\."),
        (x, i) => when(i === reduceNode, lit(s"reduce.$func")).otherwise(x)),
      "."))
    val a = keyed.filter(tok === m1)
      .select(col("tenant_id"), col("__key"), col("ts_ms"),
        col("value").as("__a"))
    val b = keyed.filter(tok === m2)
      .select(col("tenant_id"), col("__key"), col("ts_ms"),
        col("value").as("__b"))
    val v = func match {
      case "asPercent" => when(col("__b") =!= 0.0,
        col("__a") / col("__b") * 100)
      case "divideSeries" => when(col("__b") =!= 0.0,
        col("__a") / col("__b"))
      case _ => col("__a") - col("__b")
    }
    a.join(b, Seq("tenant_id", "__key", "ts_ms"),
        if (alignOuter) "full_outer" else "inner")
      .withColumn("value", v)
      .select(col("tenant_id"), col("__key").as("metric_name"),
        col("ts_ms"), col("value"))
  }

  /** [[madOutliers]] with TWO-PHASE SHARDED rank selection — the
    * hot-series scale path: where madOutliers sorts each series in a
    * single task (fine for the render-path/rollup-tier inputs it targets,
    * but a wall for a pathological billion-point series), this form never
    * sorts a series at all. It is the [[Sampling.selectByTokenBudget]]
    * histogram-cutoff pattern applied to per-series medians, with one
    * twist: the cutoff arithmetic is DISTRIBUTED (a tiny per-series
    * bucket-count window), never a driver collect — there can be millions
    * of series.
    *
    * Phase 1: bucket every value by the top `bucketBits` bits of its
    * order-preserving bit image ([[graft.functions.DoubleOrderBits]] —
    * monotone, equal values share a bucket, NO distribution probe needed)
    * and count per (series, bucket) — one map-side-combining aggregation.
    * Phase 2: per series, a cumulative-count window over its OCCUPIED
    * buckets (≤ distinct value-prefixes, not points) finds the bucket
    * holding rank (n+1) div 2 and the rank's offset inside it. Phase 3:
    * only the BOUNDARY bucket's rows sort, per series, to select the
    * median value — a task bounded by the densest single bucket
    * (≈ n / 2⁹ per exponent at the default 20 bits), not by n. The MAD
    * selection repeats the same three phases on |v − med|.
    *
    * Bit-identical to [[madOutliers]] for any input: selection depends
    * only on bucketing monotonicity, which the bit image guarantees —
    * bucket width steers WORK placement, never membership (the
    * selectByTokenBudget exactness argument; SeriesSpec proves ≡ on the
    * gate corpus and adversarial shapes). Degenerate case: a series whose
    * every value is IDENTICAL routes its whole mass into one bucket — and
    * costs one sort of equal keys; the constant-series fast answer
    * (mad = 0) is not special-cased to keep the ≡ proof unconditional. */
  def madOutliersSharded(points: DataFrame, k: Double = 3.0,
      bucketBits: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(bucketBits >= 1 && bucketBits <= 63,
      s"bucketBits must be in [1, 63], got $bucketBits")
    import org.apache.spark.sql.graft.ColumnBridge
    val ser = Seq("tenant_id", "metric_name")
    def bucketOf(c: org.apache.spark.sql.Column) =
      shiftrightunsigned(ColumnBridge.column(
        graft.functions.DoubleOrderBits(ColumnBridge.expression(c))),
        64 - bucketBits)
    // rank-select the per-series LOWER median of `valueCol` as `out`.
    // The boundary sort ties on ts_ms exactly like the global form's rank
    // windows: value ties (incl. the canonicalized ±0.0 pair) must select
    // the SAME ROW as madOutliers or the reported median's representation
    // could differ (-0.0 vs 0.0 renders differently even though the sort
    // ranks them equal).
    def rankSelect(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val cnts = df
        .groupBy(ser.map(col) :+ bucketOf(col(valueCol)).as("__bk"): _*)
        .agg(count(lit(1)).as("__cnt"))
      val wCum = Window.partitionBy(ser.map(col): _*).orderBy(col("__bk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(ser.map(col): _*)
      // one row per series: the boundary bucket + the rank's offset in it
      // (materialize-once: its lineage is the corpus-scale count pass and
      // the boundary join below re-reads it)
      val bounds = cnts
        .withColumn("__cum", sum(col("__cnt")).over(wCum))
        .withColumn("__n", sum(col("__cnt")).over(wAll))
        .withColumn("__k", expr("(__n + 1L) div 2L"))
        .filter(col("__cum") >= col("__k") &&
          col("__cum") - col("__cnt") < col("__k"))
        .select(ser.map(col) ++ Seq(col("__bk"),
          (col("__k") - (col("__cum") - col("__cnt"))).as("__lk")): _*)
        .localCheckpoint()
      val wLoc = Window.partitionBy(ser.map(col): _*)
        .orderBy(col(valueCol), col("ts_ms"))
      df.join(bounds, ser)
        .filter(bucketOf(col(valueCol)) === col("__bk"))
        .withColumn("__rn", row_number().over(wLoc))
        .filter(col("__rn") === col("__lk"))
        .select(ser.map(col) :+ col(valueCol).as(out): _*)
    }
    val base = points
      .select(ser.map(col) ++ Seq(col("ts_ms"), col("value")): _*)
    val med = rankSelect(base, "value", "med")
    val dev = base.join(med, ser)
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = rankSelect(
      dev.select(ser.map(col) ++ Seq(col("ts_ms"), col("adev")): _*),
      "adev", "mad")
    dev.join(mad, ser)
      .withColumn("is_outlier", col("mad") > 0.0 && col("adev") > col("mad") * k)
      .select(ser.map(col) ++ Seq(col("ts_ms"), col("value"), col("med"),
        col("mad"), col("adev"), col("is_outlier")): _*)
  }

  /** Resample each series onto a regular `stepMs` grid by linear
    * interpolation between its neighboring samples — the alignment pass
    * before any cross-series arithmetic over irregularly collected points
    * (Graphite gets this for free from fixed-interval storage; this engine
    * stores points as collected, so alignment is a query operator).
    *
    * Duplicate timestamps first collapse to their exact-DECIMAL mean (an
    * un-collapsed duplicate would make "the previous point" ambiguous and
    * the result layout-dependent). The grid spans the aligned interior of
    * each series' own [min ts, max ts] — no extrapolation, so a previous
    * AND next sample always exist. Interpolation is the fixed expression
    * `vp + (vn − vp)·((t − tp)/(tn − tp))` over exact integer timestamps;
    * an exact grid hit (tn = tp = t) short-circuits to the sample value.
    * The oracle restates prev/next as two DuckDB ASOF joins (the q_asof_*
    * pattern; the "next" side negates the time key to flip the inequality).
    *
    * Scale shape: series parallelize over one window exchange; grid rows
    * are generated per series by `sequence` (never a driver loop), and the
    * prev/next lookups are two INCREMENTAL unbounded-preceding frames
    * over the union (the next side on the reversed sort — a
    * following-frame would re-aggregate per row, O(points²) in a hot
    * series) — no self-join of the point stream. Bound: the grid materializes as one
    * ARRAY per series before exploding, so the render-sized contract is
    * ENFORCED exactly like [[lttbExact]]'s — a series whose own
    * [min ts, max ts] span divided by `stepMs` exceeds
    * `maxGridPointsPerSeries` fails with a descriptive error naming the
    * offending numbers, instead of silently amplifying two points a year
    * apart into a ~250 MB array in one task (a sub-second step over a
    * years-long range wants a pre-aggregated tier as input, exactly like
    * every other render-path operator; the facade additionally caps
    * `(until − from)/step` BEFORE the query runs — same constant). */
  def resampleLinear(points: DataFrame, stepMs: Long,
      maxGridPointsPerSeries: Int = MaxGridPointsPerSeries): DataFrame =
    resampleImpl(points, stepMs, maxGridPointsPerSeries, hold = false)

  /** Step-interpolation twin of [[resampleLinear]] — Graphite's
    * `keepLastValue` realized on the uniform grid: each grid instant
    * carries the LAST sample at-or-before it (forward fill), never a
    * blend of two samples. The right alignment pass for state-like series
    * (gauge readings, config versions, feature flags rendered as metrics)
    * where interpolating between samples would invent values that never
    * existed.
    *
    * Same duplicate-collapse, same interior grid (a previous sample
    * always exists, so the fill is total), same fail-loud bounded-grid
    * contract, same scale shape — minus the next-side window frame: one
    * forward scan per series instead of two directions. The oracle is a
    * single DuckDB ASOF join (the q_series_resample prev arm, served
    * directly). */
  def resampleHold(points: DataFrame, stepMs: Long,
      maxGridPointsPerSeries: Int = MaxGridPointsPerSeries): DataFrame =
    resampleImpl(points, stepMs, maxGridPointsPerSeries, hold = true)

  /** Graphite's `minMax(seriesList)`: per-series feature scaling onto
    * [0, 1] — (v − min) / (max − min) over the series' own served range.
    * A zero-range series (every sample equal) serves null (the F6
    * safe-div rule; graphite's implementation yields 0-division there
    * too). Null samples pass through as null; min/max skip them.
    *
    * Scale shape: ONE unordered per-series window (min+max in the same
    * WindowExec, no sort — the offsetToZero shape) + a scalar
    * projection; the division is the identical IEEE expression either
    * engine states, so the row hashes exactly (q_series_minmax). */
  def minMaxNormalize(points: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tenant_id"), col("metric_name"))
    val mn = min(col("value")).over(w)
    val mx = max(col("value")).over(w)
    // withColumn (not a reshaping select): render pipelines thread extra
    // columns through pointwise transforms
    points.withColumn("value",
      when(mx - mn =!= 0.0, (col("value") - mn) / (mx - mn)))
  }

  /** Graphite's `stdev(seriesList, points)`: trailing population stddev
    * over the last `nPoints` SAMPLES (a ROWS window, where
    * [[movingWindowPrefix]]'s family is time-RANGE) — graphite's draws it
    * alongside the raw series for band-style dashboards.
    *
    * Same prefix discipline as movingWindowPrefix: two unbounded-
    * preceding ROWS frames per statistic ([unbounded, current] minus
    * [unbounded, −nPoints]) sharing one sort, so the whole thing is ONE
    * incremental WindowExec — a direct `rowsBetween(−(n−1), 0)` frame
    * re-aggregates its population per row. Exact DECIMAL(28,2) value
    * sums and DECIMAL(38,8) squared sums (corpus values are 2-decimal,
    * so squares are 4-decimal-exact); the variance/sqrt tail is the
    * identical scalar-double recipe both engines state (sqrt is
    * IEEE-exact, unlike the libm transcendentals), 0-clamped against
    * expanded-form cancellation. Null samples are skipped (graphite's
    * safe stddev): they occupy a frame slot but contribute to no sum and
    * no count; a window with no values serves null. */
  def stdevRows(points: DataFrame, nPoints: Int): DataFrame = {
    require(nPoints > 0, s"nPoints must be positive, got $nPoints")
    val ser = Seq("tenant_id", "metric_name")
    val dec = DecimalType(28, 2)
    val sqDec = DecimalType(38, 8)
    val order = Window.partitionBy(ser.map(col): _*)
      .orderBy(col("ts_ms"), col("value"))
    val upto = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = order.rowsBetween(Window.unboundedPreceding, -nPoints.toLong)
    val sqCol = (col("value") * col("value")).cast(sqDec)
    val n = col("__cvct") - col("__bvct")
    val sumD = (coalesce(col("__csum"), lit(0).cast(dec)) -
      coalesce(col("__bsum"), lit(0).cast(dec))).cast("double")
    val sqD = (coalesce(col("__csq"), lit(0).cast(sqDec)) -
      coalesce(col("__bsq"), lit(0).cast(sqDec))).cast("double")
    val variance = (sqD - sumD * sumD / n) / n
    points
      .select(col("*"),
        sum(col("value").cast(dec)).over(upto).as("__csum"),
        sum(sqCol).over(upto).as("__csq"),
        count(col("value")).over(upto).as("__cvct"),
        sum(col("value").cast(dec)).over(below).as("__bsum"),
        sum(sqCol).over(below).as("__bsq"),
        count(col("value")).over(below).as("__bvct"))
      .withColumn("value",
        when(n > 0,
          when(variance > 0.0, sqrt(variance)).otherwise(lit(0.0))))
      .drop("__csum", "__csq", "__cvct", "__bsum", "__bsq", "__bvct")
  }

  /** Graphite's `movingMedian(seriesList, windowSize)` over the last
    * `nPoints` SAMPLES — the rank-statistic member of the moving family.
    * movingAverage/Sum/Min/Max are prefix-expressible (two unbounded
    * frames, [[movingWindowPrefix]]); an exact median is NOT: Spark
    * re-aggregates a trailing ROWS frame per row (the r9 window cost
    * model), so this runs under the render-sized BOUNDED contract (the
    * [[lttbExact]] shape): one per-series collect (≤ `maxPointsPerSeries`,
    * in-plan raise_error past it), one sequential codegen'd sorted-buffer
    * scan ([[graft.functions.MovingMedianScan]], O(points·window)), one
    * explode — zero extra shuffle. Lower-median rule (rank (c+1) div 2)
    * so the served value is a HELD sample both engines select identically
    * (the madOutliers discipline); null samples occupy a window slot but
    * join no population (graphite's safe median); an all-null window
    * serves null. */
  def movingMedianRows(points: DataFrame, nPoints: Int,
      maxPointsPerSeries: Int = 1 << 20): DataFrame = {
    require(nPoints > 0, s"nPoints must be positive, got $nPoints")
    require(maxPointsPerSeries >= 1,
      s"maxPointsPerSeries must be >= 1, got $maxPointsPerSeries")
    import org.apache.spark.sql.graft.ColumnBridge
    val scan = ColumnBridge.column(graft.functions.MovingMedianScan(
      ColumnBridge.expression(col("__pts")), nPoints))
    points
      .groupBy(col("tenant_id"), col("metric_name"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("value"))))
        .as("__pts0"))
      .withColumn("__pts",
        when(size(col("__pts0")) <= maxPointsPerSeries, col("__pts0"))
          .otherwise(raise_error(concat(
            lit("movingMedian: series "), col("tenant_id"), lit("."),
            col("metric_name"),
            lit(s" exceeds maxPointsPerSeries=$maxPointsPerSeries — " +
              "movingMedian is render-sized; aggregate a coarser tier " +
              "first")))))
      .drop("__pts0")
      .withColumn("__med", scan)
      .select(col("tenant_id"), col("metric_name"),
        explode(arrays_zip(col("__pts"), col("__med"))).as("__z"))
      .select(col("tenant_id"), col("metric_name"),
        col("__z.__pts.ts_ms").as("ts_ms"),
        col("__z.__med").as("value"))
  }

  /** [[movingMedianRows]]'s TIME-window form — Graphite's
    * `movingMedian(series, "5min")`: frame of a point = every sample
    * whose ts lies in [ts − windowMs, ts], PEERS INCLUDED (SQL RANGE
    * semantics, so the oracle restates the frame verbatim as a DuckDB
    * RANGE window). Same bounded contract and lower-median rule; null
    * TIMESTAMPS are filtered (meaningless in a time frame), null values
    * occupy no population. */
  def movingMedianTime(points: DataFrame, windowMs: Long,
      maxPointsPerSeries: Int = 1 << 20): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    require(maxPointsPerSeries >= 1,
      s"maxPointsPerSeries must be >= 1, got $maxPointsPerSeries")
    import org.apache.spark.sql.graft.ColumnBridge
    val scan = ColumnBridge.column(graft.functions.MovingMedianTimeScan(
      ColumnBridge.expression(col("__pts")), windowMs))
    points
      .filter(col("ts_ms").isNotNull)
      .groupBy(col("tenant_id"), col("metric_name"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("value"))))
        .as("__pts0"))
      .withColumn("__pts",
        when(size(col("__pts0")) <= maxPointsPerSeries, col("__pts0"))
          .otherwise(raise_error(concat(
            lit("movingMedian: series "), col("tenant_id"), lit("."),
            col("metric_name"),
            lit(s" exceeds maxPointsPerSeries=$maxPointsPerSeries — " +
              "movingMedian is render-sized; aggregate a coarser tier " +
              "first")))))
      .drop("__pts0")
      .withColumn("__med", scan)
      .select(col("tenant_id"), col("metric_name"),
        explode(arrays_zip(col("__pts"), col("__med"))).as("__z"))
      .select(col("tenant_id"), col("metric_name"),
        col("__z.__pts.ts_ms").as("ts_ms"),
        col("__z.__med").as("value"))
  }

  /** Graphite's `divideSeriesLists(dividendSeriesList, divisorSeriesList)`:
    * pair the two lists POSITIONALLY (both sorted by series name — the
    * graphite contract) and serve dividend/divisor per instant, named
    * `divideSeries(a,b)`. Graphite raises when the lists' lengths differ;
    * here the guard is IN-PLAN (raise_error on an unmatched rank — a 400
    * through the render facade, never a silent drop). Zero denominators
    * serve null (F6); instants present on only one side are dropped by
    * default (the reduceSeriesPairs inner-join convention) or kept with a
    * NULL value under `alignOuter = true` (graphite-web's None-parity for
    * sparse series).
    *
    * Scale shape: the rank tables are per-side DISTINCT NAMES (tiny —
    * broadcast back onto the points), and the pairing is one equi-join on
    * (tenant, rank, ts) — never a cross join. */
  def divideSeriesLists(dividends: DataFrame, divisors: DataFrame,
      alignOuter: Boolean = false): DataFrame = {
    def ranked(df: DataFrame): (DataFrame, DataFrame) = {
      val names = df.select(col("tenant_id"), col("metric_name")).distinct()
        .withColumn("__rank", row_number().over(
          Window.partitionBy(col("tenant_id")).orderBy(col("metric_name"))))
      (names, df.join(broadcast(names), Seq("tenant_id", "metric_name")))
    }
    val (an, a) = ranked(dividends)
    val (bn, b) = ranked(divisors)
    // length guard: every rank must exist on BOTH sides
    val paired = an.withColumnRenamed("metric_name", "__m1")
      .join(bn.withColumnRenamed("metric_name", "__m2"),
        Seq("tenant_id", "__rank"), "full_outer")
      .select(col("tenant_id"), col("__rank"),
        when(col("__m1").isNotNull && col("__m2").isNotNull, col("__m1"))
          .otherwise(raise_error(lit(
            "divideSeriesLists: dividend and divisor lists differ in " +
              "length"))).as("__m1"),
        col("__m2"))
    a.select(col("tenant_id"), col("__rank"), col("ts_ms"),
        col("value").as("__a"))
      .join(b.select(col("tenant_id"), col("__rank"), col("ts_ms"),
        col("value").as("__b")), Seq("tenant_id", "__rank", "ts_ms"),
        if (alignOuter) "full_outer" else "inner")
      .join(broadcast(paired), Seq("tenant_id", "__rank"))
      .select(col("tenant_id"),
        concat(lit("divideSeries("), col("__m1"), lit(","), col("__m2"),
          lit(")")).as("metric_name"),
        col("ts_ms"),
        when(col("__b") =!= 0.0, col("__a") / col("__b")).as("value"))
  }

  private def resampleImpl(points: DataFrame, stepMs: Long,
      maxGridPointsPerSeries: Int, hold: Boolean): DataFrame = {
    require(stepMs > 0, s"stepMs must be positive, got $stepMs")
    require(maxGridPointsPerSeries >= 1,
      s"maxGridPointsPerSeries must be >= 1, got $maxGridPointsPerSeries")
    val ser = Seq("tenant_id", "metric_name")
    // null samples are absent (graphite skips None when interpolating):
    // without this filter a null-valued sample would donate its TIMESTAMP
    // as an interpolation endpoint while ignoreNulls skipped its VALUE —
    // a mismatched (pt, pv) pair (NullSeriesSpec pins the fix; the
    // oracles' pts CTEs state the same filter)
    val pts = points
      .filter(col("value").isNotNull)
      .groupBy(ser.map(col) :+ col("ts_ms"): _*)
      .agg((sum(col("value").cast(DecimalType(28, 2))).cast("double") /
        count(lit(1))).as("value"))
    val grid = pts.groupBy(ser.map(col): _*)
      .agg(min(col("ts_ms")).as("t0"), max(col("ts_ms")).as("t1"))
      .withColumn("g0", expr(s"((t0 + ${stepMs - 1}L) div ${stepMs}L) * ${stepMs}L"))
      .withColumn("g1", expr(s"(t1 div ${stepMs}L) * ${stepMs}L"))
      .filter(col("g0") <= col("g1"))
      // fail-loud BEFORE the sequence materializes: the guard is on the
      // exact grid count the explode would produce, per series
      .withColumn("__n", expr(s"(g1 - g0) div ${stepMs}L + 1L"))
      .withColumn("g0",
        when(col("__n") <= maxGridPointsPerSeries, col("g0"))
          .otherwise(raise_error(concat(
            lit(s"resample${if (hold) "Hold" else "Linear"}: series "),
            col("tenant_id"), lit("."),
            col("metric_name"), lit(" needs "), col("__n").cast("string"),
            lit(s" grid points at stepMs=$stepMs > " +
              s"maxGridPointsPerSeries=$maxGridPointsPerSeries — " +
              "widen the step or resample a pre-aggregated tier")))))
      .select(ser.map(col) :+
        explode(sequence(col("g0"), col("g1"), lit(stepMs))).as("ts_ms"): _*)
    val u = pts.withColumn("is_grid", lit(false))
      .unionByName(grid.withColumn("value", lit(null).cast("double"))
        .withColumn("is_grid", lit(true)))
    // prev: at an equal ts the DATA row sorts before the grid row, so an
    // exact hit is its own previous sample. next: expressed as
    // last-over-preceding on the REVERSED sort order — an equivalent
    // [currentRow, unboundedFollowing] frame would be re-aggregated from
    // scratch per row by Spark (O(points²) per series — the hot-series
    // hang graft.Stress exposed), while unbounded-PRECEDING frames
    // update incrementally; in reversed order the data row still sorts
    // before the grid row at an equal ts, so an exact hit is also its
    // own next sample.
    val wPrev = Window.partitionBy(ser.map(col): _*)
      .orderBy(col("ts_ms"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRev = Window.partitionBy(ser.map(col): _*)
      .orderBy(col("ts_ms").desc, col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dataTs = when(!col("is_grid"), col("ts_ms"))
    val dataV = when(!col("is_grid"), col("value"))
    val withPrev = u
      .withColumn("pt", last(dataTs, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(dataV, ignoreNulls = true).over(wPrev))
    if (hold)
      withPrev.filter(col("is_grid"))
        .select(ser.map(col) ++ Seq(col("ts_ms"), col("pv").as("value")): _*)
    else withPrev
      .withColumn("nt", last(dataTs, ignoreNulls = true).over(wNextRev))
      .withColumn("nv", last(dataV, ignoreNulls = true).over(wNextRev))
      .filter(col("is_grid"))
      .select(ser.map(col) ++ Seq(col("ts_ms"),
        when(col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("ts_ms") - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double"))).as("value")): _*)
  }
}

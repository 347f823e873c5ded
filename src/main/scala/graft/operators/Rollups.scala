package graft.operators

import graft.core.{Granularity, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rollup aggregation operators — the heart of the engine.
  *
  * Each rollup kind carries mergeable state with an explicit partial/final
  * split (reference: blueflood-core/.../types/Rollup.java:21-88, the five
  * concrete kinds under types: BasicRollup, BluefloodCounterRollup,
  * BluefloodTimerRollup, BluefloodGaugeRollup, BluefloodSetRollup). On
  * Spark these are ordinary
  * hash aggregations: Catalyst already plans partial (map-side) + final
  * aggregation for every built-in used here, so the reference's hand-written
  * merge functions (count-weighted mean, grand-mean variance combine, rate
  * recompute) come for free inside `avg`/`var_pop`/... ; the explicit
  * cross-TIER merges (5m → 20m → ...) are expressed with the same algebra as
  * the reference's `buildRollupFromRollups` so a cascade never re-reads raw.
  *
  * All group-bys shuffle on (tenant_id, metric_name, bucket) — at 100 TB the
  * input would be date-partitioned parquet; the bucket key keeps every
  * window's state independent, so partial aggregation bounds shuffle volume
  * by cardinality(locator × bucket), not row count.
  */
object Rollups {

  private val keyCols: Seq[Column] = Seq(col("tenant_id"), col("metric_name"))

  private def grouped(points: DataFrame, g: Granularity): Seq[Column] =
    keyCols :+ Tables.bucketMs(col("ts_ms"), g).as("bucket_ms")

  /** BasicRollup from raw samples: count/avg/var/min/max/sum per
    * (locator, epoch-aligned window)
    * (reference: types/BasicRollup.java:101-106 via BaseRollup.java:131-177;
    * variance is population variance — Variance.java:74 divides M2 by count —
    * hence `var_pop`, not `var_samp`). */
  def basicFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value")).as("sum_v"),
        avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        var_pop(col("value")).as("var_v"))

  /** BasicRollup merge: combine finer-tier rollups into coarser buckets
    * without touching raw data (reference: BasicRollup.java:108-112;
    * count-weighted mean Average.java:113-120; grand-mean variance combine
    * Variance.java:90-145 — algebraically
    * var = [Σ nᵢσᵢ² + Σ nᵢμᵢ² − (Σ sᵢ)²/N] / N). */
  def basicMerge(finerRollups: DataFrame, g: Granularity): DataFrame = {
    val n = sum(col("num_points"))
    finerRollups
      .groupBy(keyCols :+ Tables.bucketMs(col("bucket_ms"), g).as("bucket_ms"): _*)
      .agg(
        sum(col("num_points")).as("num_points"),
        sum(col("sum_v")).as("sum_v"),
        (sum(col("sum_v")) / n).as("avg_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        ((sum(col("num_points") * col("var_v")) +
          sum(col("num_points") * col("avg_v") * col("avg_v")) -
          (sum(col("sum_v")) * sum(col("sum_v")) / n)) / n).as("var_v"))
  }

  /** Numerically stable variant of [[basicMerge]] using the reference's
    * grand-mean combine (Variance.java:90-145):
    * var = [Σ nᵢσᵢ² + Σ nᵢ(μᵢ−μ)²] / N. The algebraically equivalent
    * expanded form in basicMerge (Σx² − (Σx)²/N shape) cancels
    * catastrophically when |mean| ≫ stddev (e.g. values ≈ 1e8 ± 0.01);
    * this form needs the merged mean first, so it costs a second
    * aggregation pass + a co-partitioned join — worth it whenever value
    * magnitudes dwarf their spread. */
  def basicMergeStable(finerRollups: DataFrame, g: Granularity): DataFrame = {
    val keyed = finerRollups
      .withColumn("bucket_coarse", Tables.bucketMs(col("bucket_ms"), g))
    val totals = keyed
      .groupBy(col("tenant_id"), col("metric_name"), col("bucket_coarse"))
      .agg(
        sum(col("num_points")).as("num_points"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
      .withColumn("mu", col("sum_v") / col("num_points"))
    // One join (for mu), then ONE wider aggregation carrying all output
    // stats — a second join back to totals would re-execute its subtree.
    keyed
      .join(totals.select(col("tenant_id"), col("metric_name"),
          col("bucket_coarse"), col("mu")),
        Seq("tenant_id", "metric_name", "bucket_coarse"))
      .groupBy(col("tenant_id"), col("metric_name"), col("bucket_coarse"))
      .agg(
        sum(col("num_points")).as("num_points"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        first(col("mu")).as("avg_v"),
        ((sum(col("num_points") * col("var_v")) +
          sum(col("num_points") *
            (col("avg_v") - col("mu")) * (col("avg_v") - col("mu")))) /
          sum(col("num_points"))).as("var_v"))
      .withColumnRenamed("bucket_coarse", "bucket_ms")
  }

  /** Counter rollup: summed count plus per-second rate over the observed
    * span (reference: types/BluefloodCounterRollup.java:87-100; safe-div
    * guard mirrors utils/Util.safeDiv). */
  def counterFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(
        count(col("value")).as("sample_count"),
        sum(col("value")).as("count_sum"),
        min(col("ts_ms")).as("min_ts"),
        max(col("ts_ms")).as("max_ts"))
      .withColumn("rate",
        when(col("max_ts") > col("min_ts"),
          col("count_sum") / ((col("max_ts") - col("min_ts")) / lit(1000.0)))
          .otherwise(lit(0.0)))
      .drop("min_ts", "max_ts")

  /** Gauge rollup: basic stats + the latest (max-timestamp) point
    * (reference: types/BluefloodGaugeRollup.java:64-96). The "latest" pick
    * is totalized as max over (ts_ms, value) pairs — max_by alone picks an
    * ARBITRARY row when two points share the max timestamp, which would
    * make results partition-order-dependent (and any hash-exact comparison
    * flaky); the lexicographic struct max is deterministic and identical to
    * max_by whenever timestamps are unique. */
  def gaugeFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(
        count(col("value")).as("num_points"),
        avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        max(col("ts_ms")).as("latest_ts"),
        max(struct(col("ts_ms"), col("value"))).getField("value").as("latest_v"))

  /** Set rollup: exact distinct count per window (reference:
    * types/BluefloodSetRollup.java:30-70 keeps a Set of value hashes; count
    * is its size — distinct-over-values is the same cardinality for numeric
    * inputs). For 100 TB-scale use [[setApproxFromRaw]]. */
  def setFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(countDistinct(col("value")).as("distinct_count"))

  /** HLL variant of the set rollup — the scale path: O(1) state per window
    * instead of an unbounded hash set. */
  def setApproxFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(approx_count_distinct(col("value")).as("distinct_count"))

  /** Timer tier-1: pre-aggregated timer state per 5m window, including the
    * percentile means (reference: types/BluefloodTimerRollup.java state;
    * ingest conversion PreaggregateConversions.java:93-117). Spark's
    * `percentile` is the exact interpolated percentile. */
  def timerFromRaw(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g): _*)
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value")).as("sum_v"),
        avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        // one sort buffer for both quantiles
        percentile(col("value"), array(lit(0.5), lit(0.95))).as("ps"))
      .withColumn("p50", col("ps").getItem(0))
      .withColumn("p95", col("ps").getItem(1))
      .drop("ps")
      .withColumn("rate", col("num_points") / lit(g.millis / 1000.0))

  /** [[timerFromRaw]] with APPROXIMATE percentiles — the scale-deployment
    * variant: `approx_percentile` (a mergeable KLL-style digest) keeps the
    * aggregation algebraic, so partial aggregation absorbs the per-group
    * sort that makes the exact form the most expensive rollup at 100 TB.
    * `accuracy` is the standard inverse-error knob (10000 ≈ ±0.01%%-ile).
    * Exact [[timerFromRaw]] stays the stored/oracle semantics; this is the
    * interactive/ad-hoc path.
    *
    * EXACTNESS DOMAIN: while every window's count stays BELOW accuracy/2
    * the GK digest performs zero compression and the percentiles are the
    * exact rank-selected elements (RollupSpec pins the edge at 4999 for
    * accuracy 10000); beyond it the digest compresses and its output is
    * MERGE-ORDER DEPENDENT — two identical runs can differ in the last
    * rank. `failBeyondExactDomain = true` makes that regime LOUD: any
    * window whose count reaches accuracy/2 raises in-plan, so
    * nondeterministic output can never masquerade as the deterministic
    * HDR/exact paths in a pipeline that assumed the domain. */
  def timerApproxFromRaw(points: DataFrame, g: Granularity,
      accuracy: Int = 10000, failBeyondExactDomain: Boolean = false)
      : DataFrame = {
    val agg = points
      .groupBy(grouped(points, g): _*)
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value")).as("sum_v"),
        avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        approx_percentile(col("value"), array(lit(0.5), lit(0.95)),
          lit(accuracy)).as("ps"))
      .withColumn("p50", col("ps").getItem(0))
      .withColumn("p95", col("ps").getItem(1))
      .drop("ps")
      .withColumn("rate", col("num_points") / lit(g.millis / 1000.0))
    // the guard needs the per-WINDOW count, which only exists post-agg;
    // threading it through num_points keeps the check one in-plan scalar
    if (!failBeyondExactDomain) agg
    else agg.withColumn("num_points",
      when(col("num_points") >= lit(accuracy.toLong / 2), raise_error(
        concat(lit("timerApproxFromRaw: window "),
          col("metric_name"), lit("@"), col("bucket_ms").cast("string"),
          lit(s" has count >= ${accuracy / 2} — beyond the GK exactness " +
            "domain the digest output is merge-order dependent; use the " +
            "HDR/exact timer path or raise accuracy"))).cast("long"))
        .otherwise(col("num_points")))
  }

  /** Timer merge to a coarser tier: counts/sums added, mean count-weighted,
    * percentile means — deliberately — merged by UNWEIGHTED average,
    * replicating the reference's lossy-by-design semantics
    * (BluefloodTimerRollup.java:242-254), and rate over the total OBSERVED
    * time of the present partials, rate = Σnᵢ / Σ(nᵢ/rateᵢ)
    * (BluefloodTimerRollup.java:226-228) — NOT count over the full coarser
    * span: finer windows with no data contribute no time, so the two
    * diverge whenever a coarser bucket has empty 5m slots inside it. */
  def timerMerge(finerRollups: DataFrame, g: Granularity): DataFrame =
    finerRollups
      .groupBy(keyCols :+ Tables.bucketMs(col("bucket_ms"), g).as("bucket_ms"): _*)
      .agg(
        sum(col("num_points")).as("num_points"),
        sum(col("sum_v")).as("sum_v"),
        (sum(col("sum_v")) / sum(col("num_points"))).as("avg_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        avg(col("p50")).as("p50"),
        avg(col("p95")).as("p95"),
        sum(when(col("rate") =!= 0.0, col("num_points") / col("rate"))
          .otherwise(lit(0.0))).as("elapsed_s"))
      .withColumn("rate",
        when(col("elapsed_s") =!= 0.0, col("num_points") / col("elapsed_s"))
          .otherwise(lit(0.0)))
      .drop("elapsed_s")

  /** Skew-resistant EXACT set rollup. Algebraic aggregates (count/sum/
    * min/max/avg/var) don't need salting — map-side partial aggregation
    * already bounds what a hot key's reducer receives. The holistic
    * exact-distinct state is different: `countDistinct` keeps per-key
    * distinct sets, and a hot locator's set lands on one reducer. Salting
    * by the VALUE hash splits it exactly: every distinct value belongs to
    * exactly one salt sub-group, so the per-salt distinct counts are
    * disjoint and their sum is the exact total — two narrow shuffles, no
    * single reducer ever holds the full hot set. */
  def setFromRawSalted(points: DataFrame, g: Granularity, salt: Int = 16): DataFrame =
    points
      .groupBy(keyCols ++ Seq(
        Tables.bucketMs(col("ts_ms"), g).as("bucket_ms"),
        pmod(hash(col("value")), lit(salt)).as("salt_k")): _*)
      .agg(countDistinct(col("value")).as("partial_distinct"))
      .groupBy(col("tenant_id"), col("metric_name"), col("bucket_ms"))
      .agg(sum(col("partial_distinct")).as("distinct_count"))

  /** Stat projection (`select=` query param): keep only requested stats
    * (reference: PlotRequestParser.java:26-59 defaults, 127-145 parsing). */
  def statProjection(rollups: DataFrame, stats: Seq[String]): DataFrame = {
    val keep = Seq("tenant_id", "metric_name", "bucket_ms") ++ stats
    rollups.select(keep.map(col): _*)
  }

  /** Geometric bin edges of the HDR-style timer histogram
    * ([[timerHdrHist]]): e₀ = 10⁻⁶, ratio 1.05 (≤5% relative bin width),
    * up to 10⁹ — ~709 exact double literals shared VERBATIM with the
    * DuckDB oracle (both engines parse the shortest round-trip decimal to
    * the identical double, so edge comparisons agree bit-for-bit no matter
    * how the generator rounded). */
  val hdrEdges: Array[Double] = {
    val b = Array.newBuilder[Double]
    var e = 1e-6
    while (e < 1e9) { b += e; e *= 1.05 }
    b.result()
  }

  /** Histogram bin of a nonnegative value: −1 for [0, e₀) (representative
    * 0), i for [eᵢ, eᵢ₊₁), topmost bin open-ended. The libm log only
    * NOMINATES a candidate (each engine's log may differ by ulps); the
    * DECISION is the ±1 correction against the exact literal edges, so the
    * assignment is engine-portable even where the logs disagree. Negative
    * values fail loud — a negative duration is an upstream bug, and
    * binning it would silently corrupt percentiles. */
  private def hdrBin(v: Column): Column = {
    val m = hdrEdges.length
    val edgesLit = array(hdrEdges.map(lit): _*)
    val cand = greatest(lit(0), least(lit(m - 1),
      floor(log(v * lit(1e6)) / lit(math.log(1.05))).cast("int")))
    // the +2 lookup index is least-clamped to the array length: ANSI
    // element_at errors on out-of-range, and `&&` is not guaranteed to
    // short-circuit expression evaluation — the clamped slot (the last
    // edge) is then neutralized by the cand < m-1 guard
    val corrected =
      when(v < element_at(edgesLit, cand + 1), cand - 1)
        .when(cand < lit(m - 1) &&
          v >= element_at(edgesLit, least(cand + lit(2), lit(m))), cand + 1)
        .otherwise(cand)
    // NaN first: it slips past both ordered guards (NaN < x is false) and
    // would otherwise die in the ANSI floor(log(NaN))→int cast with an
    // opaque CAST_INVALID_INPUT instead of this diagnostic
    when(isnan(v), raise_error(
        lit("timerHdr: NaN value — a NaN duration is an upstream bug"))
        .cast("int"))
      .when(v < 0, raise_error(concat(
        lit("timerHdr: negative value "), v.cast("string"))).cast("int"))
      .when(v < hdrEdges(0), lit(-1))
      .otherwise(corrected)
  }

  /** HDR-histogram timer state: per (locator, window, bin) counts — the
    * DETERMINISTIC mergeable percentile sketch (HdrHistogram / Prometheus
    * classic-histogram family). Where [[timerApproxFromRaw]]'s
    * Greenwald–Khanna digest compresses by MERGE ORDER (two runs of the
    * same job can serve different p95s), this state is a pure count table:
    * orderless, rerun-stable, and mergeable to any coarser tier by adding
    * counts ([[timerHdrMergeHist]]) — which is why it is also the variant
    * a DuckDB oracle can hash-prove. State per window is ≤709 longs; ≤5%
    * relative error by construction.
    *
    * Scale shape: one map-side-combining aggregation; the shuffle carries
    * O(windows × occupied bins), never raw points. */
  def timerHdrHist(points: DataFrame, g: Granularity): DataFrame =
    points
      .groupBy(grouped(points, g) :+ hdrBin(col("value")).as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge histogram state to a coarser tier: add counts — orderless and
    * exact (the merged histogram IS the histogram of the union), unlike
    * the reference's lossy mean-of-percentiles timer merge. */
  def timerHdrMergeHist(hist: DataFrame, g: Granularity): DataFrame =
    hist
      .groupBy(keyCols ++ Seq(
        Tables.bucketMs(col("bucket_ms"), g).as("bucket_ms"), col("bin")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Percentiles from histogram state: rank ceil(q·n) over the cumulative
    * bin counts; the estimate is the chosen bin's LOWER edge (exact
    * literal — at most one bin width ≈ 5% below the true rank value,
    * never above it). All decision arithmetic is integer/rank plus one
    * identical double product per q, so the report is hash-provable.
    * Scale shape: the cum-sum window partitions by window key — the
    * aggregation's own exchange, reused. */
  def timerHdrPercentiles(hist: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    // names derive from the UNROUNDED quantile (0.995 → p99_5_hdr), so
    // near-neighbors like 0.995 and 1.0 cannot silently collide into one
    // rounded p100_hdr; a residual duplicate (caller passed the same q
    // twice) still fails loud here, not as an ambiguous-column analysis
    // error downstream
    // BigDecimal(q) parses the double's shortest decimal form, so the
    // ×100 is exact decimal math (q*100 in IEEE would name 0.29's column
    // p28_999999999999996_hdr)
    val names = qs.map(q => s"p${(BigDecimal(q) * 100).underlying
      .stripTrailingZeros.toPlainString.replace(".", "_")}_hdr")
    require(names.distinct.size == names.size,
      s"duplicate quantiles: $qs yield columns $names")
    val keys = Seq("tenant_id", "metric_name", "bucket_ms")
    val wCum = Window.partitionBy(keys.map(col): _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val edgesLit = array(hdrEdges.map(lit): _*)
    val rep = when(col("bin") === -1, lit(0.0))
      .otherwise(element_at(edgesLit, col("bin") + 1))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("rep", rep)
    val qAggs = qs.zip(names).map { case (q, name) =>
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("rep"))).as(name)
    }
    cum.groupBy(keys.map(col): _*)
      .agg(max(col("n")).as("num_points"), qAggs: _*)
  }

  /** The one-call form: histogram + percentiles
    * (raw → deterministic p50/p95 per window). */
  def timerHdrFromRaw(points: DataFrame, g: Granularity,
      qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    timerHdrPercentiles(timerHdrHist(points, g), qs)
}

package graft.query

import graft.core.{CatalogSnapshot, DateTimeParser, Granularity, GlobPattern,
  Instrumentation, SnapshotStore, Tables}
import graft.operators.Rollups
import graft.streaming.IngestStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.util.concurrent.ConcurrentHashMap

/** The user-facing query API — the §3.1 lifecycle as one facade
  * (reference: HttpRollupsQueryHandler.java:115-161 +
  * HttpMultiRollupsQueryHandler + RollupHandler.getRollupByGranularity):
  * parse graphite-style from/to, resolve the metric set by glob, pick the
  * resolution (points-mode or explicit), aggregate the range, attach units,
  * project requested stats, return time-ordered buckets.
  */
object MetricsQueryApi {

  /** Reference default MAX_METRICS_PER_BATCH_QUERY (HttpConfig.java:36,
    * enforced HttpMultiRollupsQueryHandler.java:110-114). */
  val MaxMetricsPerBatchQuery = 100

  /** The ONE JSON string escaper — shared by the serializer, the HTTP
    * facade and Verify's `oracle_sql.json`, so a future escaping fix cannot
    * land on one and not the other. It escapes backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored oracle SQL
    * would otherwise make the correctness gate's `json.load` fail and
    * silently zero the whole oracle comparison. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class Params(
      tenantId: String,
      metricGlob: String,
      from: String,
      to: String,
      points: Option[Int] = None,
      resolution: Option[Granularity] = None,
      select: Seq[String] = Nil)

  /** Per-type default stat lists when `select=` is absent (reference:
    * PlotRequestParser.java:26-59). */
  val defaultStats: Map[String, Seq[String]] = Map(
    "basic" -> Seq("average", "numPoints", "sum"),
    "counter" -> Seq("numPoints", "sum"),
    "gauge" -> Seq("numPoints", "latest"),
    "timer" -> Seq("rate", "numPoints", "average"),
    "set" -> Seq("numPoints"))

  private val statCols: Map[String, String] = Map(
    "average" -> "average", "numPoints" -> "num_points", "sum" -> "sum_v",
    "min" -> "min_v", "max" -> "max_v", "variance" -> "var_v",
    "latest" -> "latest_v", "rate" -> "rate",
    // the reference's MetricStat.PERCENTILE ("percentiles"), flattened to
    // the two labels the statsd ingest carries — timer family only
    "p50" -> "p50", "p95" -> "p95")

  /** Full read path. `nowMillis` pins both datetime parsing and the
    * retention clock (injectable for tests); `catalogOverride` injects a
    * discovery source other than the derived catalog (the reference's
    * discovery backend is pluggable the same way, DiscoveryIO).
    *
    * When `select=` is absent, defaults apply PER METRIC from its catalog
    * rollup_type (PlotRequestParser.java:26-59 +
    * BasicRollupsOutputSerializer — a mixed basic+counter glob returns each
    * metric its own default stat set, not the first metric's): the frame
    * keeps the union of the needed stat columns plus a per-row `stat_set`
    * listing the metric's own stats, which [[toJsonResponse]] uses to emit
    * exactly that metric's fields.
    *
    * Result schema contract: with `select=` given, the frame holds exactly
    * `(tenant_id, metric_name, unit, bucket_ms)` + the selected stat
    * columns. With `select=` ABSENT the frame instead carries the UNION of
    * every resolved rollup_type's default stat columns plus a `stat_set`
    * array naming each row's own stats (reference parity: per-metric
    * defaults, PlotRequestParser.java:26-59) — consumers doing positional
    * or fixed-column access must request an explicit `select=` or filter by
    * `stat_set`, as [[toJsonResponse]] does. */
  def getRollups(spark: SparkSession, dir: String, p: Params,
      nowMillis: Long = System.currentTimeMillis(),
      maxBatch: Int = MaxMetricsPerBatchQuery,
      catalogOverride: Option[DataFrame] = None): DataFrame = {
    val r = resolveQuery(p, nowMillis, maxBatch,
      frameResolver(catalogOverride.getOrElse(Tables.catalog(spark, dir)), p))
    if (r.g.isFull) {
      // FULL serves the RAW SAMPLES themselves, not buckets (reference:
      // RollupType.classOf → SimpleNumber at FULL, RollupType.java:73-88;
      // serialized via getFilteredStatsForFullRes,
      // JSONBasicRollupsOutputSerializer.java:101-106, 173-183) — a user
      // zooming into an incident window gets actual points with their
      // actual timestamps. No snapping: samples in [from, to) as-is.
      val raw = Tables.metricsRange(spark, dir, Some((r.fromMs, r.toMs)))
        .filter(r.keep)
      return r.serve(raw, derived = rawStats, bucket = col("ts_ms"))
    }
    val gEff = r.g
    // snap so an unaligned start doesn't truncate the first window
    val snappedFrom = gEff.snap(r.fromMs)
    val pts = Tables.metricsRange(spark, dir, Some((snappedFrom, r.toMs)))
      .filter(r.keep)
    val agged = pts
      .groupBy(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), gEff).as("bucket_ms"))
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value")).as("sum_v"),
        avg(col("value")).as("average"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        var_pop(col("value")).as("var_v"),
        max(struct(col("ts_ms"), col("value"))).getField("value").as("latest_v"))
    r.serve(agged, derived = Map("rate" -> rateOf(gEff)))
  }

  /** The resolved prelude every read-path variant shares: datetime parse,
    * §4.1 resolution selection, glob → locator resolution with the O2 batch
    * guard, and the stat-selection rules (explicit `select=` vs per-metric
    * defaults by rollup_type). */
  private final case class ResolvedQuery(
      fromMs: Long, toMs: Long, g: Granularity, tenantId: String,
      locators: Seq[(String, String, String)], select: Seq[String],
      perMetricDefaults: Boolean) {

    /** The in-scan filter for the resolved locators: the query's tenant
      * and `metric_name IN (…)` over at most [[MaxMetricsPerBatchQuery]]
      * names, already on the driver — no join, so no broadcast job, and
      * the parquet scan can skip row groups by it. */
    def keep: Column = col("tenant_id") === tenantId &&
      col("metric_name").isin(locators.map(_._1): _*)

    /** The read's output in ONE projection over `rows` (narrowed by
      * [[keep]]): `tenant_id`, `metric_name`, each name's `unit` looked up
      * from literal arrays, `bucket` as `bucket_ms`, then `values`,
      * ordered by (metric_name, bucket_ms) inside ONE partition — the same
      * total order as a global sort without its range-sampling job and
      * shuffle, and an output every downstream window, aggregate or sort
      * plans over without an exchange. On a 10⁶-locator store it is no
      * slower than a parallel scan under a global sort (docs/SCALE.md,
      * "Where a warm read's driver time goes"). */
    def project(rows: DataFrame, values: Seq[Column],
        bucket: Column = col("bucket_ms")): DataFrame =
      rows.select(Seq(col("tenant_id"), col("metric_name"),
          // a cataloged unit may be null: the cast keeps the column a
          // string when every resolved unit is
          byName(locators.map(l => lit(l._2)), lit(null)).cast("string")
            .as("unit"), bucket.as("bucket_ms")) ++ values: _*)
        .coalesce(1).sortWithinPartitions("metric_name", "bucket_ms")

    /** [[project]] of the stat columns `stats` name: each is `derived`'s
      * expression when it has one, else the rows' own column, else NULL —
      * a selected stat the serving path doesn't carry (p50 on the basic
      * store, say) degrades to a NULL column, never an unresolved-column
      * analysis error. Per-metric defaults add the `stat_set` array naming
      * each row's own stats (see the schema contract on [[getRollups]]). */
    def serve(rows: DataFrame, stats: Seq[String] = select,
        derived: Map[String, Column] = Map.empty,
        bucket: Column = col("bucket_ms")): DataFrame = {
      val values = stats.flatMap(statCols.get).distinct.map(c =>
        derived.getOrElse(c,
          if (rows.columns.contains(c)) col(c) else lit(null).cast("double"))
          .as(c))
      def statsOf(t: String) = array(defaultStats.getOrElse(t,
        defaultStats("basic")).flatMap(statCols.get).map(lit): _*)
      val statSet =
        if (!perMetricDefaults) Nil
        else Seq(byName(locators.map(l => statsOf(l._3)), statsOf("basic"))
          .as("stat_set"))
      project(rows, values ++ statSet, bucket)
    }

    /** Per-row pick from `values`, one per resolved locator in order: the
      * entry of the row's `metric_name` from literal arrays (a typed map
      * literal would pay Scala reflection per request), `orElse` when
      * none resolved. */
    private def byName(values: Seq[Column], orElse: Column): Column =
      if (locators.isEmpty) orElse
      else get(array(values: _*), array_position(
        array(locators.map(l => lit(l._1)): _*), col("metric_name"))
        .cast("int") - 1)
  }

  /** Glob → at most `n` cataloged (name, unit, rollup_type) rows of the
    * query's tenant. */
  private type Resolver = Int => Seq[(String, String, String)]

  /** Resolution over a catalog frame (tenant_id, metric_name, unit,
    * rollup_type) that lists each name once: one filtered, limited
    * collect. A frame listing a name twice is rejected — it names no one
    * unit or rollup_type for the series. */
  private def frameResolver(catalog: DataFrame, p: Params): Resolver = { n =>
    val rows = catalog
      .filter(col("tenant_id") === p.tenantId &&
        col("metric_name").rlike(GlobPattern.toAnchoredRegex(p.metricGlob)))
      .limit(n)
      .collect().toSeq
      .map(r => (r.getAs[String]("metric_name"), r.getAs[String]("unit"),
        r.getAs[String]("rollup_type")))
    require(rows.map(_._1).distinct.size == rows.size,
      "catalog lists a metric name more than once")
    rows
  }

  /** Resolution over the store's catalog snapshot (zero Spark jobs once
    * the tenant is loaded). `snapshot` is the one the caller already took
    * for this request, if any; `family` narrows to one family's locators
    * (its name is their rollup_type); `unit` replaces the cataloged unit. */
  private def storeResolver(spark: SparkSession, storeDir: String, p: Params,
      snapshot: Option[CatalogSnapshot.Tenant], family: Option[String] = None,
      unit: Option[String] = None): Resolver = {
    val snap = snapshot.getOrElse(
      CatalogSnapshot.tenant(spark, storeDir, p.tenantId))
    n => snap.search(p.metricGlob, n, family)
      .map(l => (l.name, unit.getOrElse(l.unit), l.family))
  }

  private def resolveQuery(p: Params, nowMillis: Long, maxBatch: Int,
      resolve: Resolver): ResolvedQuery = {
    require(p.points.isDefined ^ p.resolution.isDefined,
      "exactly one of points= or resolution= required")
    // fail loud on unknown stat names: silently dropping a typo'd
    // `select=mean` would serve timestamp-only buckets with a 200 (the
    // known-but-uncarried case still degrades to NULL columns)
    p.select.foreach(s => require(statCols.contains(s),
      s"unknown stat '$s' (one of ${statCols.keys.toSeq.sorted.mkString(", ")})"))
    val fromMs = DateTimeParser.parseMillis(p.from, nowMillis)
    val toMs = DateTimeParser.parseMillis(p.to, nowMillis)
    require(fromMs < toMs, "from must precede to")

    val g = p.resolution.getOrElse(
      Granularity.granularityFromPointsInInterval(fromMs, toMs, p.points.get,
        nowMillis = nowMillis))

    // resolve locators via discovery, then guard the batch width (O2).
    // The guard caps the set at maxBatch rows, so resolve once and keep
    // the rows on the driver: the read filters and labels by them
    // (ResolvedQuery.keep/serve) instead of re-running the
    // catalog-derivation pipeline or joining against it.
    val resolved = resolve(maxBatch + 1)
    require(resolved.length <= maxBatch,
      s"batch query resolves > $maxBatch metrics")

    // select= given → one uniform stat set; absent → per-metric defaults
    // by rollup_type, so keep the union of every resolved type's columns
    val perMetricDefaults = p.select.isEmpty
    val select =
      if (!perMetricDefaults) p.select
      else resolved.map(_._3).distinct
        .flatMap(t => defaultStats.getOrElse(t, defaultStats("basic")))
        .distinct match {
          case Nil => defaultStats("basic")
          case u => u
        }
    ResolvedQuery(fromMs, toMs, g, p.tenantId, resolved, select,
      perMetricDefaults)
  }

  /** A raw sample as a one-point pseudo-rollup row, per the reference's
    * FULL-resolution stat mapping (BasicRollupsOutputSerializer.MetricStat
    * .convertRawSampleToObject, each enum arm): average/min/max/latest/
    * rate/sum → the sample value, variance → 0, numPoints → 1; the sample's
    * own timestamp is the row's `bucket_ms` (the caller's `bucket`). Stat
    * columns over a frame carrying (tenant_id, metric_name, ts_ms,
    * value). */
  private val rawStats: Map[String, Column] = {
    val v = col("value").cast("double")
    Map("num_points" -> lit(1L), "sum_v" -> v, "average" -> v, "min_v" -> v,
      "max_v" -> v, "var_v" -> lit(0.0), "latest_v" -> v, "rate" -> v)
  }

  /** The per-second rate of a bucket at granularity `g`. */
  private def rateOf(g: Granularity): Column =
    col("num_points") / lit(g.millis / 1000.0)

  /** Catalog over an engine store (a directory produced by
    * [[graft.streaming.IngestStream]]) as a frame: one row per locator
    * (tenant_id, metric_name, unit, rollup_type), read from the PERSISTED
    * catalog dimension the ingest path maintains
    * ([[graft.streaming.IngestStream.metricCatalog]] — the reference's
    * metrics_metadata CF + ES discovery index, SURVEY §1.1): a metadata
    * read of O(distinct locators) rows, covering ALL ingested families
    * like the reference's ES index (one row per locator even when it
    * spans families — `rollup_type` takes the lexicographic min,
    * ambiguity being the read path's problem to flag,
    * [[graft.http.MetricsHttpServer]] routeKind). The read path resolves
    * from the same rows through [[CatalogSnapshot]]; like it, this is
    * empty for a store with no data and fails for one whose data no
    * complete catalog covers ([[CatalogSnapshot.requireCovered]]). */
  def storeCatalog(spark: SparkSession, storeDir: String): DataFrame = {
    CatalogSnapshot.requireCovered(spark, storeDir)
    IngestStream.metricCatalog(spark, storeDir)
      .map(_.groupBy(col("tenant_id"), col("metric_name"))
        .agg(max(col("unit")).as("unit"),
          min(col("family")).as("rollup_type")))
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq("tenant_id", "metric_name", "unit", "rollup_type")
          .map(StructField(_, StringType)))))
  }

  private val DayMs = 86400000L

  /** STORE-BACKED read path — the reference's core read: scan the rollup
    * table for the planner-selected granularity and recompute only the gaps
    * from raw (RollupHandler.getRollupByGranularity, RollupHandler.java:
    * 126-223 → MetricsRWDelegator.getDatapointsForRange; repair union
    * RollupHandler.java:241-297). [[getRollups]] re-aggregates the raw view
    * on every call — correct, but a scale-killer for a long-range query; this
    * variant reads ~range/granularity rows per metric from the materialized
    * tier the ingest cascade maintains, touching `metrics_full` only for:
    *
    *  - days ABSENT from the tier (never rolled, or deliberately dropped).
    *    Coverage is day-atomic by construction: the ingest writer
    *    recomputes whole dirty days and publishes each as one snapshot day
    *    swap ([[IngestStream.processBatch]], [[graft.core.SnapshotStore]]),
    *    so a `ts_day` present in a tier is fully rolled —
    *    the gap test is the tier's day set as the snapshot resolution
    *    listed it (no Spark job), never a per-bucket anti-join against a
    *    full raw scan;
    *  - the tail PARTIAL bucket when `to` is not bucket-aligned: a stored
    *    bucket covers its whole window, so serving it would include points
    *    past `to`; it is recomputed from raw instead (the reference serves
    *    the full stored bucket here — we keep raw-path equivalence instead).
    *
    * `rollupFromRaw` computes the gap fill and must use the same algebra the
    * stored tiers were built with (the reference dispatches repair per rollup
    * type the same way, RollupRunnable.getRollupComputer). The basic store
    * serves BasicRollup stats (+ derived rate); `latest` belongs to the gauge
    * pre-aggregated family ([[graft.operators.Preaggregated]] tiers), as in
    * the reference where BasicRollup carries no latest value.
    *
    * `rawOverride` points the gap fill at a raw source other than the
    * store's own `metrics_full` — e.g. a view over an external full-
    * resolution table when only the rollup tiers are materialized in
    * `storeDir` (the reference's pluggable MetricsRW the same way). It
    * feeds only the gap fill: locators still resolve from the store's
    * catalog, or from `catalogOverride`. A source without a `ts_day`
    * column gets per-day `ts_ms` range predicates instead of partition
    * pruning.
    *
    * `dirtyDays` names days the caller KNOWS hold raw points newer than
    * the stored tier (the facade's deferred-rollup pending set — the
    * reference's ROLLUP_DELAY window): those days are served from the raw
    * recompute path even when the tier covers them, so a query between an
    * ingest and its background re-roll never reads a stale day. */
  def getRollupsStored(spark: SparkSession, storeDir: String, p: Params,
      nowMillis: Long = System.currentTimeMillis(),
      maxBatch: Int = MaxMetricsPerBatchQuery,
      catalogOverride: Option[DataFrame] = None,
      rollupFromRaw: (DataFrame, Granularity) => DataFrame = Rollups.basicFromRaw,
      rawOverride: Option[DataFrame] = None,
      dirtyDays: Set[Long] = Set.empty,
      snapshot: Option[CatalogSnapshot.Tenant] = None): DataFrame = {
    graft.core.Instrumentation.global.inc("query.reads.basic")
    val r = resolveQuery(p, nowMillis, maxBatch,
      catalogOverride.map(frameResolver(_, p))
        .getOrElse(storeResolver(spark, storeDir, p, snapshot)))
    if (r.g.isFull) {
      // FULL reads the full-resolution store itself — raw samples with
      // their own timestamps (the reference's FULL read targets the
      // full-res CF the same way, RollupType.classOf → SimpleNumber). The
      // tier/gap machinery below is moot: raw IS the source. `latest` is
      // legitimate here — a raw sample is its own latest value. A
      // tier-only store (no metrics_full, no rawOverride) serves empty,
      // not a schema-inference crash.
      val raw = rawOverride.getOrElse(rawTable(spark, storeDir, "metrics_full"))
        .filter(col("ts_ms") >= r.fromMs && col("ts_ms") < r.toMs && r.keep)
      return r.serve(raw, derived = rawStats, bucket = col("ts_ms"))
    }
    // only an EXPLICIT latest request is an error — with select= absent the
    // computed per-metric default union may carry `latest` merely because
    // the glob matched a gauge-family catalog entry; the basic store just
    // serves without it (the gauge locator's rows come from its own family)
    require(!p.select.contains("latest"),
      "latest is served by the gauge preagg tiers, not the basic rollup store")
    val selEff = r.select.filterNot(_ == "latest")
    val gEff = r.g
    val snappedFrom = gEff.snap(r.fromMs)
    val toMs = r.toMs
    // tail partial bucket: when `to` is not bucket-aligned the stored bucket
    // at floor(to) covers points past `to`; recompute it from raw
    val tailStart = if (toMs % gEff.millis == 0) toMs else gEff.snap(toMs)
    val rangeDays: Seq[Long] =
      (snappedFrom - math.floorMod(snappedFrom, DayMs)) to (toMs - 1) by DayMs

    val tierPath = s"$storeDir/metrics_${gEff.name}"
    // snapshot-resolved read (graft.core.SnapshotStore): the file set is
    // pinned per-day at planning time, so a concurrent dirty-day re-roll
    // can never serve this query a missing or partial day. Resolution is
    // range-pruned (only rangeDays' dirs are listed — planning cost
    // scales with the query, not the tier's retention age) and memoized
    // per fence. useCache is safe for MULTI-process deployments too (a
    // separate ingest JVM feeding the same store): the memo's fence is the
    // tier root's mtime and the _version file every publish and retention
    // drop bumps, so any writer's change is visible at this reader's NEXT
    // request
    // dirty (pending re-roll) days are excluded from BOTH the covered set
    // and the served slice: they fall into missingDays below and recompute
    // from raw — the repair that keeps deferred-rollup serving exact. The
    // covered set comes from the resolution's own listing: no Spark job
    val servedDays = rangeDays.filterNot(dirtyDays)
    val (coveredDays, stored) =
      graft.core.SnapshotStore.readCovered(spark, tierPath,
          days = Some(servedDays), useCache = true) match {
        case None => (Set.empty[Long], None)
        case Some((tier0, covered)) =>
        val slice = tier0
          .filter(col("ts_day").isin(servedDays: _*) &&
            col("bucket_ms") >= snappedFrom &&
            col("bucket_ms") < tailStart && r.keep)
          .select(col("tenant_id"), col("metric_name"), col("bucket_ms"),
            col("num_points"), col("sum_v"), col("avg_v"),
            col("min_v"), col("max_v"), col("var_v"))
        (covered, Some(slice))
      }

    val missingDays = rangeDays.filterNot(coveredDays)
    val gapFilled =
      if (missingDays.isEmpty && tailStart >= toMs) None
      else {
        // raw is touched ONLY for uncovered days and the tail partial
        // bucket; a raw store wholly pruned by retention (tier-only store)
        // reads as EMPTY — the tiers serve what they cover, gaps serve
        // nothing, never a PATH_NOT_FOUND crash
        val rawSrc = rawOverride.getOrElse(rawTable(spark, storeDir, "metrics_full"))
        val hasDay = rawSrc.columns.contains("ts_day")
        val dayCond =
          if (missingDays.isEmpty) lit(false)
          else if (hasDay) col("ts_day").isin(missingDays: _*)
          else missingDays
            .map(d => col("ts_ms") >= d && col("ts_ms") < d + DayMs)
            .reduce(_ || _)
        // the tail read prunes to its own day partitions too — without the
        // ts_day bound a fully tier-covered `to=now` query would list every
        // raw day directory to recompute one bucket
        val tailCond =
          if (tailStart >= toMs) lit(false)
          else if (hasDay) col("ts_ms") >= tailStart &&
            col("ts_day").between(tailStart - math.floorMod(tailStart, DayMs),
              (toMs - 1) - math.floorMod(toMs - 1, DayMs))
          else col("ts_ms") >= tailStart
        val raw = rawSrc
          .filter(col("ts_ms") >= snappedFrom && col("ts_ms") < toMs &&
            (dayCond || tailCond) && r.keep)
          .select("tenant_id", "metric_name", "ts_ms", "value")
        Some(rollupFromRaw(tailOnly(raw, missingDays), gEff))
      }

    // stored buckets and gap-filled buckets are disjoint by construction
    // (every tier window is day-contained and gap days exclude covered days),
    // so plain union — no anti-join needed
    val combined = (stored.toSeq ++ gapFilled.toSeq).reduce(_ unionByName _)
    r.serve(combined, selEff,
      derived = Map("average" -> col("avg_v"), "rate" -> rateOf(gEff)))
  }

  /** A gap fill's raw input, in ONE partition when no day is missing: the
    * fill is then the tail bucket alone, whose aggregate plans over one
    * partition without an exchange — so no shuffle map stage runs as a
    * job of its own, and the read stays one job. Missing days keep the
    * parallel aggregate. */
  private def tailOnly(raw: DataFrame, missingDays: Seq[Long]): DataFrame =
    if (missingDays.isEmpty) raw.coalesce(1) else raw

  /** The raw tables the read path serves from, each with its writer's
    * schema (the `batch_id`/`ts_day` path levels included). */
  private val rawSchemas: Map[String, StructType] = Map(
    "metrics_full" -> IngestStream.rawStoreSchema,
    "preagg_raw" -> IngestStream.preaggRawSchema,
    "metrics_string" -> IngestStream.stringStoreSchema)

  private final case class RawRelation(spark: SparkSession,
      fence: (Seq[(String, Long)], Long), df: DataFrame)
  private val rawRelations = new ConcurrentHashMap[String, RawRelation]()

  /** The ONE way the read path opens a raw table (`metrics_full`,
    * `preagg_raw`, `metrics_string`): a relation with the writer's schema
    * (no footer-sampling inference job), or an EMPTY frame of that schema
    * when the table holds no batch — retention pruned it, or the store
    * never ingested that kind — so the reads degrade to tiers-only service
    * instead of PATH_NOT_FOUND.
    *
    * The relation is built once per (session, table fence) and reused, so
    * a warm read pays one listing of the table root and one stat instead
    * of a data-source lookup, a listing of every batch and day dir and the
    * visible-parquet probes. The fence is the root's visible `batch_id=*`
    * dirs with their mtimes plus the table's `_version` stamp: every
    * writer changes it (a batch commit or replay renames a batch dir in,
    * compaction swaps the dir set, retention deletes day dirs inside a
    * batch dir, prunes emptied ones and bumps `_version`), and it is read
    * BEFORE a relation is built, so a relation is never older than its
    * fence. A relation is valid exactly while its fence is unchanged
    * ([[SnapshotStore]]'s "Memo fences"). Counted as
    * `store.raw.resolutions` / `store.raw.cache_hits`. */
  private[graft] def rawTable(spark: SparkSession, storeDir: String,
      table: String): DataFrame = {
    val schema = rawSchemas(table)
    val root = new Path(s"$storeDir/$table")
    val key = root.toString
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches =
      try fs.listStatus(root).toSeq.collect {
          case st if st.isDirectory &&
              st.getPath.getName.startsWith("batch_id=") =>
            st.getPath.getName -> st.getModificationTime
        }.sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    val fence = (batches, SnapshotStore.versionStamp(fs, root))
    Option(rawRelations.get(key))
        .filter(e => (e.spark eq spark) && e.fence == fence) match {
      case Some(e) =>
        Instrumentation.global.inc("store.raw.cache_hits")
        e.df
      case None =>
        Instrumentation.global.inc("store.raw.resolutions")
        val df =
          if (batches.isEmpty)
            spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
          else spark.read.schema(schema).parquet(key)
        rawRelations.put(key, RawRelation(spark, fence, df))
        df
    }
  }

  /** String/boolean metric read — the reference's metrics_string CF serve
    * path (ABasicMetricsRW.java:19; serialized as `{"value": <raw>}` via
    * getFilteredStatsForString/Boolean,
    * JSONBasicRollupsOutputSerializer.java:107-112, 185-197): strings have
    * NO rollups, so every read returns the raw values with their own
    * timestamps regardless of the points/resolution request — granularity
    * selection is a numeric concept the reference never applies here.
    * Result schema: (tenant_id, metric_name, unit, bucket_ms, value_str);
    * [[toJsonResponse]] renders value_str as a JSON string, with bare
    * `true`/`false` passed through as JSON booleans exactly like the
    * reference's Boolean points. */
  def getStringPoints(spark: SparkSession, storeDir: String, p: Params,
      nowMillis: Long = System.currentTimeMillis(),
      maxBatch: Int = MaxMetricsPerBatchQuery,
      catalogOverride: Option[DataFrame] = None,
      snapshot: Option[CatalogSnapshot.Tenant] = None): DataFrame = {
    graft.core.Instrumentation.global.inc("query.reads.string")
    val r = resolveQuery(p, nowMillis, maxBatch,
      catalogOverride.map(frameResolver(_, p)).getOrElse(
        storeResolver(spark, storeDir, p, snapshot, Some("string"))))
    r.project(
      rawTable(spark, storeDir, "metrics_string").filter(col("ts_ms") >= r.fromMs && col("ts_ms") < r.toMs && r.keep),
      Seq(col("value_str"), col("is_bool")), bucket = col("ts_ms"))
  }

  // single source of truth with the cascade's dispatch — see
  // Preaggregated.merges (gap repair must agree with what the cascade
  // stored, which only holds if both use the same map)
  private def preaggMerges = graft.operators.Preaggregated.merges

  /** Recompute a pre-aggregated tier slice from parsed flush rows by
    * replicating the STORED LADDER hop-by-hop (5m tier-1, then each
    * cascade tier's kind merge up to `gEff`). A direct single-hop
    * aggregation at `gEff` would NOT match the store for path-dependent
    * algebra — the timer percentile merge is an unweighted mean-of-means
    * per hop (reference-lossy by design, BluefloodTimerRollup.java:242-254),
    * so 5m→20m→60m differs from 5m→60m. Gap repair must agree with what
    * the cascade would have stored, hence the ladder walk. */
  private def preaggLadder(parsed: DataFrame, kind: String,
      gEff: Granularity): DataFrame = {
    val tier1 = graft.operators.Preaggregated
      .tier1FromParsed(parsed, Granularity.MIN_5)(kind)
    Granularity.rollupTiers.filter(g =>
        g.millis > Granularity.MIN_5.millis && g.millis <= gEff.millis)
      .foldLeft(tier1)((finer, g) => preaggMerges(kind)(finer, g))
  }

  /** Map one family's stored state columns onto the facade's stat-column
    * contract (reference serializer dispatch,
    * JSONBasicRollupsOutputSerializer.java:55-151: counter numPoints =
    * sampleCount and sum = accumulated count; timer scalars; gauge latest;
    * set cardinality), as [[ResolvedQuery.serve]]'s `derived` columns.
    * Stats a family doesn't carry surface as NULL columns, so an explicit
    * cross-family `select=` degrades to nulls instead of an analysis
    * error. */
  private def preaggStats(kind: String): Map[String, Column] = {
    val mapped: Map[String, Column] = kind match {
      case "counter" => Map("num_points" -> col("sample_count"),
        "sum_v" -> col("count"), "rate" -> col("rate"))
      case "gauge" => Seq("num_points", "latest_v", "min_v", "max_v")
        .map(c => c -> col(c)).toMap
      case "timer" => Map("num_points" -> col("count"),
        "sum_v" -> col("sum"),
        "average" -> when(col("count") =!= 0, col("sum") / col("count")),
        "min_v" -> col("min"), "max_v" -> col("max"), "rate" -> col("rate"),
        "p50" -> element_at(col("percentiles"), "50"),
        "p95" -> element_at(col("percentiles"), "95"))
      case "set" => Map("num_points" -> col("distinct_count").cast("long"))
    }
    statCols.values.map(c =>
      c -> mapped.getOrElse(c, lit(null).cast("double"))).toMap
  }

  /** STORE-BACKED read for a pre-aggregated family — the kind-dispatched
    * arm of the reference's read path (RollupHandler routes a locator's
    * read to its rollup_type's column family the same way,
    * MetricsRWDelegator.java:79-113): scan `preagg_<kind>_<g>` for the
    * planner-selected granularity, recompute only tier-absent days and the
    * tail partial bucket from the `preagg_raw` parsed-flush store via the
    * SAME ladder algebra the cascade used ([[preaggLadder]]). Day-atomic
    * coverage holds for the preagg tiers exactly as for the basic ones
    * (dirty-day snapshot swap, [[IngestStream.processAggregatedBatch]]).
    * This serves `latest` (gauge family) — the stat [[getRollupsStored]]
    * refuses because BasicRollup does not carry it. */
  def getPreaggStored(spark: SparkSession, storeDir: String, p: Params,
      kind: String,
      nowMillis: Long = System.currentTimeMillis(),
      maxBatch: Int = MaxMetricsPerBatchQuery,
      catalogOverride: Option[DataFrame] = None,
      dirtyDays: Set[Long] = Set.empty,
      snapshot: Option[CatalogSnapshot.Tenant] = None): DataFrame = {
    require(preaggMerges.contains(kind),
      s"unknown pre-aggregated kind '$kind' (one of ${preaggMerges.keys.mkString(", ")})")
    graft.core.Instrumentation.global.inc(s"query.reads.$kind")
    // statsd payloads carry no unit: the kind's locators read "unknown"
    val r = resolveQuery(p, nowMillis, maxBatch,
      catalogOverride.map(frameResolver(_, p)).getOrElse(
        storeResolver(spark, storeDir, p, snapshot, Some(kind), Some("unknown"))))
    if (r.g.isFull) {
      // FULL serves each ingested flush as its own point (the reference's
      // RollupType.classOf returns the preagg rollup class itself at FULL —
      // statsd rollups are stored full-resolution and served as ingested).
      // tier1FromParsed at FULL is the identity bucketing (bucket_ms =
      // ts_ms), merging only exact-timestamp duplicate flushes — the same
      // single-slot merge the reference applies on write.
      val parsed = rawTable(spark, storeDir, "preagg_raw")
        .filter(col("ts_ms") >= r.fromMs && col("ts_ms") < r.toMs &&
          r.keep && col("kind") === kind)
      val tier = graft.operators.Preaggregated
        .tier1FromParsed(parsed, Granularity.FULL)(kind)
      return r.serve(tier, derived = preaggStats(kind))
    }
    val gEff = r.g
    val snappedFrom = gEff.snap(r.fromMs)
    val toMs = r.toMs
    val tailStart = if (toMs % gEff.millis == 0) toMs else gEff.snap(toMs)
    val rangeDays: Seq[Long] =
      (snappedFrom - math.floorMod(snappedFrom, DayMs)) to (toMs - 1) by DayMs

    val tierPath = s"$storeDir/preagg_${kind}_${gEff.name}"
    // snapshot-resolved read — the getRollupsStored reader-isolation,
    // range-pruning and memoization notes all apply
    // dirty (pending re-roll) days recompute from preagg_raw — see the
    // getRollupsStored deferred-rollup and coverage notes
    val servedDays = rangeDays.filterNot(dirtyDays)
    val (coveredDays, stored) =
      graft.core.SnapshotStore.readCovered(spark, tierPath,
          days = Some(servedDays), useCache = true) match {
        case None => (Set.empty[Long], None)
        case Some((tier0, covered)) =>
        val slice = tier0
          .filter(col("ts_day").isin(servedDays: _*) &&
            col("bucket_ms") >= snappedFrom &&
            col("bucket_ms") < tailStart && r.keep)
          .drop("ts_day")
        (covered, Some(slice))
      }

    val missingDays = rangeDays.filterNot(coveredDays)
    val gapFilled =
      if (missingDays.isEmpty && tailStart >= toMs) None
      else {
        val dayCond =
          if (missingDays.isEmpty) lit(false)
          else col("ts_day").isin(missingDays: _*)
        // tail read pruned to its own day partitions (see getRollupsStored)
        val tailCond =
          if (tailStart >= toMs) lit(false)
          else col("ts_ms") >= tailStart &&
            col("ts_day").between(tailStart - math.floorMod(tailStart, DayMs),
              (toMs - 1) - math.floorMod(toMs - 1, DayMs))
        val parsed = rawTable(spark, storeDir, "preagg_raw")
          .filter(col("ts_ms") >= snappedFrom && col("ts_ms") < toMs &&
            (dayCond || tailCond) && r.keep && col("kind") === kind)
        Some(preaggLadder(tailOnly(parsed, missingDays), kind, gEff))
      }

    val combined = (stored.toSeq ++ gapFilled.toSeq).reduce(_ unionByName _)
    r.serve(combined, derived = preaggStats(kind))
  }

  /** The reference's JSON response shape (S13,
    * JSONBasicRollupsOutputSerializer.java:55-151 /
    * BatchedMetricsJSONOutputSerializer: per metric
    * `{unit, values: [{timestamp, <stats>}...], metadata: {count, limit,
    * marker, next_href}}`). Driver-side by design — this is the API
    * serialization step, bounded by MaxMetricsPerBatchQuery. */
  def toJsonResponse(rollups: DataFrame): String = {
    val statFields = rollups.columns
      .filterNot(Set("tenant_id", "metric_name", "unit", "bucket_ms",
        "stat_set", "is_bool"))
    val hasStatSet = rollups.columns.contains("stat_set")
    val byMetric = rollups.collect()
      .groupBy(r => (r.getAs[String]("metric_name"), r.getAs[String]("unit")))
      .toSeq.sortBy(_._1)
    def jNum(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    }
    // metric names/units are arbitrary ingested strings — escape them
    def jStr(s: String): String = jsonStr(s)
    val metrics = byMetric.map { case ((name, unit), rows) =>
      val values = rows.sortBy(_.getAs[Long]("bucket_ms")).map { r =>
        // per-metric default stat sets: emit only this metric's own stats
        val fields =
          if (hasStatSet) {
            val own = r.getSeq[String](r.fieldIndex("stat_set"))
            statFields.filter(own.contains)
          } else statFields
        val stats = fields.map {
          // string/boolean points (metrics_string): the reference emits the
          // raw value under "value" — strings quoted, booleans bare
          // (getFilteredStatsForString/Boolean). is_bool carries the
          // ORIGINAL JSON type: a string metric whose text is "true" stays
          // a quoted string
          case "value_str" =>
            val isBool = rollups.columns.contains("is_bool") &&
              r.getAs[Boolean]("is_bool")
            val s = r.getAs[String]("value_str")
            s""""value": ${if (isBool) s else jStr(s)}"""
          case f => s""""$f": ${jNum(r.getAs[Any](f))}"""
        }
        (Seq(s""""timestamp": ${r.getAs[Long]("bucket_ms")}""") ++ stats)
          .mkString("{", ", ", "}")
      }
      s"""{"metric": ${jStr(name)}, "unit": ${jStr(Option(unit).getOrElse("unknown"))}, """ +
        s""""values": [${values.mkString(", ")}], """ +
        s""""metadata": {"count": ${rows.length}, "limit": null, "marker": null, "next_href": null}}"""
    }
    s"""{"metrics": [${metrics.mkString(", ")}]}"""
  }
}

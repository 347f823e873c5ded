package graft.streaming

import graft.core.{Granularity, Instrumentation, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Structured-Streaming ingest: the Spark-native replacement for the
  * reference's ingest service + shard/slot rollup scheduling
  * (HttpMetricsIngestionServer → BatchWriter → ScheduleContext →
  * RollupService; SURVEY §3.2-§3.3).
  *
  * Design:
  *  - JSON batches stream in, are validated (the P3 predicate set:
  *    non-empty name, epoch bounds, TTL range — reference
  *    JSONMetric.java:28-39), split valid/invalid;
  *  - valid points commit to the full-resolution store, partitioned by
  *    day, through ONE writer per family ([[processBatch]] /
  *    [[processTypedBatchFused]], [[processAggregatedBatch]]) whatever the
  *    caller — facade request, stream micro-batch or bulk load;
  *  - each batch recomputes the 5m rollup for exactly the day partitions
  *    it touched and swaps them in as a snapshot
  *    ([[graft.core.SnapshotStore]]). Recompute-from-source is the
  *    reference's own idempotent re-roll discipline (rollups never
  *    read-modify-write — SURVEY §7.4#3), and it makes late data a
  *    non-event: a late point simply makes its day dirty again. This
  *    replaces the entire delayed-locator/re-roll state machine
  *    (ShardStateManager, ScheduleContext) with checkpointed streaming
  *    offsets + day swaps.
  *  - coarser tiers (20m…1440m) roll from the 5m table in the same
  *    incremental-batch fashion via [[rollupCascadeFor]].
  */
object IngestStream {

  /** A dedicated session for REQUEST-SIZED ingest writes — same
    * SparkContext/catalog as `parent`, its OWN SQLConf, with the
    * request-sized planning confs pinned for life: AQE off (each query-
    * stage materialization is a full extra scheduling round, ~100-300 ms
    * on request-scale data) and ONE shuffle partition. The facade binds
    * one of these at construction and parses every ingest body into it,
    * so concurrent readers and the deferred drain — which share the
    * PARENT session — always plan with the session defaults. The writers
    * never touch a session's confs: size policy belongs to the caller's
    * session and frame (a bulk caller keeps its parallelism, a request-
    * sized caller plans here).
    *
    * `newSession()` starts from builder-time options only, dropping
    * post-hoc `conf.set` values, so the parent's MODIFIABLE runtime confs
    * (parquet reader flags, session timezone) are copied over first;
    * static confs throw on set and are skipped. */
  def newIngestSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => }
    }
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    // partition discovery past 32 paths launches a whole Spark JOB per
    // read — the r13 steady-arm timeline showed it as a third hidden
    // action (one scheduling round + ~40 ms) on every dirty-day re-roll's
    // raw-store read. Request-scale stores list faster on the driver.
    s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      "4096")
    s
  }

  val inputSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("metric_name", StringType),
    StructField("ts_ms", LongType),
    StructField("value", DoubleType),
    StructField("ttl_seconds", IntegerType),
    StructField("unit", StringType)))

  /** Ingest validation (reference: JSONMetric.java:28-39,
    * EpochRangeValidator; epoch window of ±3h around processing time by
    * default in the reference — here parameterized): the predicate over an
    * explicit value column, shared by [[withValidity]] and both arms of
    * [[processTypedBatchFused]]. */
  private[graft] def validExpr(value: org.apache.spark.sql.Column,
      minTs: Long, maxTs: Long): org.apache.spark.sql.Column =
    // coalesce: a NULL field (e.g. missing ts_ms) must yield valid=false,
    // not NULL — under three-valued logic a NULL flag would drop the
    // record from BOTH the valid store and the errors sink
    coalesce(
      col("metric_name").isNotNull && length(col("metric_name")) > 0 &&
        value.isNotNull &&
        col("ts_ms").between(minTs, maxTs) &&
        (col("ttl_seconds").isNull || col("ttl_seconds") > 0),
      lit(false))

  def withValidity(points: DataFrame, minTs: Long, maxTs: Long): DataFrame =
    points.withColumn("valid", validExpr(col("value"), minTs, maxTs))

  /** Parse a stream/batch of JSON lines into typed points. */
  def parseJson(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value").cast("string"), inputSchema).as("m"))
      .select("m.*")

  /** `inputSchema` with an untyped value: the reference accepts numeric,
    * string, AND boolean metric values in one ingest batch
    * (Metric.java:38-61 takes Object; the serializer renders String/Boolean
    * points at JSONBasicRollupsOutputSerializer.java:107-112). `from_json`
    * coerces JSON numbers/booleans to their literal text, so one parse
    * serves all three; [[processTypedBatchFused]] routes on the original
    * JSON type recovered by [[parseJsonTyped]]'s variant reading. */
  val typedInputSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("metric_name", StringType),
    StructField("ts_ms", LongType),
    StructField("value", StringType),
    StructField("ttl_seconds", IntegerType),
    StructField("unit", StringType)))

  /** Parse mixed-type JSON lines. Routing must follow the JSON TYPE, not
    * castability — the reference keeps a string metric whose text happens
    * to be numeric ("123", "007") a string (Metric.java routes on the
    * parsed Object's class), and `from_json` into StringType erases that
    * distinction. The VARIANT reading recovers it:
    * `schema_of_variant(variant_get(parse_json(line), '$.value'))` is
    * 'STRING' / 'BOOLEAN' / a numeric type per the original JSON token.
    * `value_num` is the ANSI-safe numeric reading (try_cast, never a
    * throw); `is_bool` survives into the string store so the serializer
    * can render booleans bare and strings quoted. */
  def parseJsonTyped(lines: DataFrame): DataFrame =
    lines
      .select(
        from_json(col("value").cast("string"), typedInputSchema).as("m"),
        expr("schema_of_variant(variant_get(try_parse_json(cast(value AS STRING)), '$.value'))")
          .as("vtype"))
      .select(col("m.*"), col("vtype"))
      .withColumn("value_num", expr("try_cast(value AS DOUBLE)"))
      .withColumn("is_string_typed",
        coalesce(col("vtype") === "STRING", lit(false)))
      .withColumn("is_bool", coalesce(col("vtype") === "BOOLEAN", lit(false)))
      .drop("vtype")

  private def dayOf(c: Column) = c - pmod(c, lit(86400000L))

  /** What a numeric/typed ingest call hands back: the dirty days, the
    * per-record error rows (tenant, name, failing source field, ts — the
    * reference's bean-validation array, ErrorResponse.java), and the batch
    * total. */
  final case class IngestResult(
      dirtyDays: Seq[Long],
      errors: Array[(String, String, String, Option[Long])],
      nTotal: Long)

  /** One mixed-type batch, routed by value type exactly as the reference
    * splits the basic CFs from metrics_string (ABasicMetricsRW.java:19 —
    * "metrics_{granularity} & metrics_string column families"): numeric
    * values take the rollup pipeline (staged raw write + dirty-day re-roll
    * + errors sink); string/boolean values append to the day-partitioned
    * `metrics_string` store — never rolled (the reference computes no
    * rollups for strings; they serve at full resolution only, see
    * [[graft.query.MetricsQueryApi.getStringPoints]]). Validity is
    * [[validExpr]] over `[minTs, maxTs]` per arm; invalid records of
    * either arm land in that arm's errors sink, and the returned error
    * rows name each record's first failing constraint in the reference's
    * bean-validation order (JSONMetric.java:24-41). Both derive from the
    * SAME predicates, so the response and the audit trail cannot
    * disagree. The write protocol is [[writeBatch]]'s. */
  def processTypedBatchFused(batch: DataFrame, storeDir: String,
      batchId: Long = 0L, minTs: Long = 0L, maxTs: Long = Long.MaxValue,
      rollup: Boolean = true,
      virginHint: Option[Boolean] = None,
      onDirtyDays: Seq[Long] => Unit = _ => ()): IngestResult = {
    val isStr = coalesce(col("is_string_typed") || col("is_bool"), lit(false))
    val reason = when(col("metric_name").isNull ||
        length(col("metric_name")) === 0, lit("metricName"))
      .when(col("value").isNull ||
        (!isStr && col("value_num").isNull), lit("metricValue"))
      .when(col("ts_ms").isNull || !col("ts_ms").between(minTs, maxTs),
        lit("collectionTime"))
      .when(col("ttl_seconds").isNotNull && col("ttl_seconds") <= 0,
        lit("ttlInSeconds"))
    writeBatch(batch, storeDir, batchId, isStr = isStr,
      numValue = col("value_num"),
      validNum = validExpr(col("value_num"), minTs, maxTs),
      validStr = validExpr(col("value"), minTs, maxTs),
      reason = Some(reason), rollup = rollup, virginHint = virginHint,
      onDirtyDays = onDirtyDays)
  }

  /** One numeric micro-batch whose validity the caller already decided
    * (a `valid` column, e.g. from [[withValidity]]): the same protocol as
    * [[processTypedBatchFused]] with every row in the numeric arm and no
    * per-record error rows. Returns the valid dirty-day list.
    *
    * Idempotent under foreachBatch's at-least-once retries: the raw batch
    * commits into a batch-id dir that a replay replaces rather than
    * duplicates, and the re-roll (which always recomputes from the store)
    * converges to the same state.
    *
    * `rollup = false` DEFERS the dirty-day re-roll (the reference's
    * ROLLUP_DELAY shape, CoreConfig.java:222: ingest writes raw fast,
    * rollups run on a background cadence): only raw + catalog + errors
    * are written. A deferring caller owns running [[rollDirtyDaysNow]]
    * for the returned days later and serving them via the raw-recompute
    * repair meanwhile ([[graft.query.MetricsQueryApi.getRollupsStored]]
    * `dirtyDays`). */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long = 0L,
      rollup: Boolean = true,
      virginHint: Option[Boolean] = None): Seq[Long] =
    writeBatch(batch, storeDir, batchId, isStr = lit(false),
      numValue = col("value"), validNum = col("valid"), validStr = lit(false),
      reason = None, rollup = rollup, virginHint = virginHint,
      onDirtyDays = _ => ()).dirtyDays

  /** The one numeric ingest protocol. The whole per-batch accounting —
    * batch total, per-arm valid/invalid splits, dirty-day set, catalog
    * locator sets and (when `reason` is given) the per-record error rows —
    * rides the staged raw write as `Dataset.observe` metrics, so a clean
    * numeric batch costs ONE Spark action plus the dirty-day re-roll
    * (none when deferred). Additional actions run only when their data
    * exists: an errors-sink write per arm with rejects, the
    * `metrics_string` write when the batch carries string/bool values, a
    * tiny catalog write when the memo sees new locators — or, for a bulk
    * batch past [[locatorsFitDriver]], the executor-side catalog
    * aggregate in place of the observed locator sets.
    *
    * Ordering (the crash contract): staged raw write into a hidden
    * `metrics_full/.staging-<id>` dir → `onDirtyDays` (the facade's
    * durable marker write) → catalog commit → ONE atomic rename unhides
    * the batch → re-roll. A crash anywhere leaves either nothing visible,
    * or markers/catalog that over-approximate — never visible data
    * without its marker or catalog. A crashed attempt's leaked staging
    * dir is invisible and is reclaimed by the next retry of the same
    * batch id (the facade's body-hashed ids and streaming's checkpoint
    * ids both replay stably).
    *
    * The writer sets no conf and forces no partitioning: output files
    * follow the caller's frame (the facade parses each body into one
    * partition on its [[newIngestSession]]; a bulk load keeps its full
    * parallelism). */
  private def writeBatch(batch: DataFrame, storeDir: String, batchId: Long,
      isStr: Column, numValue: Column, validNum: Column, validStr: Column,
      reason: Option[Column], rollup: Boolean,
      virginHint: Option[Boolean],
      onDirtyDays: Seq[Long] => Unit): IngestResult = {
    val spark = batch.sparkSession
    // probed BEFORE any write: a first batch on an empty store makes the
    // catalog complete-from-birth. The hint lets a caller that KNOWS the
    // store state (the facade after its first persisted batch) skip the
    // ~30-table glob probe per request.
    val virgin = virginHint.getOrElse(!storeHasData(spark, storeDir))
    val (cached, owned) = cachedFor(batch)
    try {
      val unitCol = if (cached.columns.contains("unit")) col("unit")
                    else lit(null).cast("string")
      val locator = struct(col("tenant_id"), col("metric_name"),
        unitCol.as("unit"))
      val isNum = !isStr
      val numericRows = Seq(col("tenant_id"), col("metric_name"),
        col("ts_ms"), numValue.as("value"), col("ttl_seconds"),
        unitCol.as("unit"))
      val stringRows = Seq(col("tenant_id"), col("metric_name"),
        col("ts_ms"), col("value").as("value_str"), col("ttl_seconds"),
        unitCol.as("unit"), col("is_bool"))
      val observeLocators = locatorsFitDriver(cached)
      val obs = Observation(s"ingest_${batchId}_${java.util.UUID.randomUUID()}")
      val accounting = Seq(
        count(when(isNum && validNum, lit(1))).as("n_valid_num"),
        count(when(isNum && !validNum, lit(1))).as("n_invalid_num"),
        count(when(isStr && validStr, lit(1))).as("n_valid_str"),
        count(when(isStr && !validStr, lit(1))).as("n_invalid_str"),
        collect_set(when(isNum && validNum, dayOf(col("ts_ms")))).as("days")) ++
        (if (!observeLocators) Nil else Seq(
          collect_set(when(isNum && validNum, locator)).as("num_locs"),
          collect_set(when(isStr && validStr, locator)).as("str_locs"))) ++
        reason.map(r => collect_list(when(r.isNotNull, struct(
          col("tenant_id"), col("metric_name"), r.as("src"),
          col("ts_ms")))).as("errs"))
      val stage = new Stage(spark, storeDir, "metrics_full", batchId)
      stage.write(cached.observe(obs, count(lit(1)).as("n_total"),
          accounting: _*)
        .filter(isNum && validNum).select(numericRows: _*))
      val m = obs.get
      def n(k: String) = m(k).asInstanceOf[Long]
      def rows(k: String) = m(k).asInstanceOf[scala.collection.Seq[Row]]
      // one arm's catalog upsert, from its observed locators when they
      // fit the driver, else from the arm's rows
      def armCatalog(src: String, k: String, family: String, arm: Column,
          markComplete: Boolean) = writeCatalog(storeDir, batchId, src,
        if (!observeLocators) None
        else Some(dedupLocators(family, rows(k).map(r => (r.getString(0),
          r.getString(1), if (r.isNullAt(2)) null else r.getString(2))))),
        cached.filter(arm).select(col("tenant_id"), col("metric_name"),
          lit(family).as("family"), unitCol.as("unit")),
        markComplete)
      val nTotal = n("n_total")
      if (nTotal == 0) {
        stage.discard(); return IngestResult(Nil, Array.empty, 0L)
      }
      Instrumentation.global.inc("ingest.batches")
      val errors = reason.fold(
          Array.empty[(String, String, String, Option[Long])])(_ =>
        rows("errs").map(r => (Option(r.getString(0)).getOrElse(""),
          Option(r.getString(1)).getOrElse(""), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toArray)
      // errors sinks per arm, written only when rejects exist (an empty
      // parquet dir per healthy batch would break the sinks' schema
      // inference)
      if (n("n_invalid_num") > 0) {
        Instrumentation.global.inc("ingest.rows.errors", n("n_invalid_num"))
        cached.filter(isNum && !validNum).select(numericRows: _*)
          .write.mode("overwrite")
          .parquet(s"$storeDir/metrics_errors/batch_id=$batchId")
      }
      if (n("n_invalid_str") > 0) {
        Instrumentation.global.inc("ingest.rows.errors.string",
          n("n_invalid_str"))
        cached.filter(isStr && !validStr).select(stringRows: _*)
          .write.mode("overwrite")
          .parquet(s"$storeDir/metrics_string_errors/batch_id=$batchId")
      }
      // string arm (rare on metric POSTs): catalog before data
      if (n("n_valid_str") > 0) {
        Instrumentation.global.inc("ingest.rows.metrics_string",
          n("n_valid_str"))
        armCatalog("string", "str_locs", "string", isStr && validStr,
          markComplete = virgin)
        cached.filter(isStr && validStr).select(stringRows: _*)
          .withColumn("ts_day", dayOf(col("ts_ms")))
          .write.mode("overwrite").partitionBy("ts_day")
          .parquet(s"$storeDir/metrics_string/batch_id=$batchId")
      }
      // an all-invalid (or all-string) batch writes no raw data: an empty
      // batch_id partition would be dead weight
      if (n("n_valid_num") == 0) {
        stage.discard(); return IngestResult(Nil, errors, nTotal)
      }
      val days = m("days").asInstanceOf[scala.collection.Seq[Long]].toSeq
      // durable dirty-day markers BEFORE anything becomes visible
      onDirtyDays(days)
      // catalog BEFORE the data unhides: a crash between the two leaves a
      // stale-but-safe catalog superset, never a _complete-marked catalog
      // missing a live locator. The string arm (when present) already
      // wrote the coverage marker for a virgin store.
      armCatalog("numeric", "num_locs", "basic", isNum && validNum,
        markComplete = virgin && n("n_valid_str") == 0)
      stage.commit()
      Instrumentation.global.inc("ingest.rows.metrics_full", n("n_valid_num"))
      if (rollup) rollDirtyDays(spark, storeDir, days.toArray)
      IngestResult(days, errors, nTotal)
    } finally if (owned) cached.unpersist()
  }

  /** The batch cached for a writer's passes, and whether the writer owns
    * that cache: a frame the caller already cached is used as it is and
    * stays cached (a writer never drops a cache it did not make). */
  private def cachedFor(batch: DataFrame): (DataFrame, Boolean) =
    if (batch.storageLevel != StorageLevel.NONE) (batch, false)
    else (batch.persist(StorageLevel.MEMORY_AND_DISK), true)

  /** One batch's staged commit into `storeDir/table`: [[write]] lands the
    * rows day-partitioned in a hidden `.staging-<id>` dir (invisible to
    * every reader — the dot prefix), with committer v2 and no `_SUCCESS`
    * (the SnapshotStore.stageOnly discipline); [[commit]] unhides it with
    * ONE atomic rename, a replayed batch id first reclaiming its previous
    * dir (replace, never duplicate); [[discard]] drops a stage that must
    * not publish, and the table dir too when the staging write created
    * it (an empty or all-invalid batch leaves NO trace in the table). */
  private final class Stage(spark: SparkSession, storeDir: String,
      table: String, batchId: Long) {
    private val stage = new Path(s"$storeDir/$table/.staging-$batchId")
    private val target = new Path(s"$storeDir/$table/batch_id=$batchId")
    private val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def write(rows: DataFrame): Unit =
      rows.withColumn("ts_day", dayOf(col("ts_ms")))
        .write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("ts_day").parquet(stage.toString)

    def commit(): Unit = {
      if (fs.exists(target)) fs.delete(target, true)
      require(fs.rename(stage, target),
        s"$table batch commit rename failed for $target")
    }

    def discard(): Unit = {
      fs.delete(stage, true)
      val parent = stage.getParent
      if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
        fs.delete(parent, false)
      ()
    }
  }

  /** Maintain the persisted locator catalog — the reference's
    * `metrics_metadata` CF + ES discovery index, written by the ingest
    * path's metadata analyzer (IncomingMetricMetadataAnalyzer.java:36-121)
    * rather than derived by scanning the data tables: one tiny parquet dir
    * per (source, batch) holding the batch's DISTINCT
    * (tenant_id, metric_name, family, unit) rows. At 100 TB this is what
    * makes "which family/unit is this locator" a metadata read instead of
    * three raw-table scans; per batch it costs nothing beyond the distinct
    * locator set the writer's observed accounting already collects (and a
    * tiny write when that set holds new locators). The `src=` level keeps
    * concurrently running typed/preagg streams' batch ids from colliding.
    * Like the reference's locator index, entries outlive retention-pruned
    * data (a name stays discoverable until the catalog is rebuilt). */
  /** Process-wide seen-locator memo per store — the reference's
    * MetadataCache shape (IncomingMetricMetadataAnalyzer checks its cache
    * BEFORE writing metrics_metadata): a request-sized batch whose every
    * (tenant, name, family, unit) was already committed to the catalog by
    * this process skips the per-batch catalog write entirely; only NEW
    * locators are written (the catalog is a union of batch dirs, readers
    * dedup). Entries are recorded AFTER their write commits, so a crash
    * can only under-record (extra writes, never a missing locator).
    * Bounded: at [[CatalogMemoCap]] entries the memo stops admitting
    * (all-new batches keep writing normally); batches past
    * [[CatalogMemoBatchCap]] rows bypass it (see [[locatorsFitDriver]]).
    * A catalog REBUILD drops what retention aged out — it must
    * [[invalidateCatalogMemo]] so a re-ingested locator is re-written. */
  private val catalogSeen = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[(String, String, String, String)]]()
  private val CatalogMemoCap = 500000
  private val CatalogMemoBatchCap = 100000L

  private[graft] def invalidateCatalogMemo(storeDir: String): Unit = {
    catalogSeen.remove(storeDir)
    ()
  }

  /** Cross-process catalog-memo fence: [[rebuildCatalog]] bumps the
    * catalog root's `_version` ([[graft.core.SnapshotStore.bumpVersion]]);
    * [[writeCatalogLocators]] reads its stamp before trusting
    * [[catalogSeen]], so a rebuild from a separate ops JVM invalidates
    * THIS process's memo at its next ingest rather than at restart. The
    * stamp the memo was built against, per store root; 0 = no fence file
    * yet (pre-fence store — in-process [[invalidateCatalogMemo]] still
    * covers the common case). */
  private val catalogSeenFence =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Whether a batch's distinct locators may travel to the driver as
    * observed metrics: at most [[CatalogMemoBatchCap]] rows, read off the
    * optimized plan's statistics without a Spark job — the row count when
    * the plan knows it (a materialized cache, a local relation), else its
    * size over the row width (a plan with no size estimate reads as
    * bulk). A bulk batch past the cap (the 10⁶-locator stress shape) keeps
    * its locators on the executors instead: collecting and re-
    * parallelizing a million locator rows through the driver doubled that
    * batch's whole ingest time (docs/SCALE.md). */
  private def locatorsFitDriver(batch: DataFrame): Boolean = {
    val plan = batch.queryExecution.optimizedPlan
    val stats = plan.stats
    stats.rowCount.getOrElse(stats.sizeInBytes /
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation
        .EstimationUtils.getSizePerRow(plan.output)) <= CatalogMemoBatchCap
  }

  /** The per-batch catalog upsert: the batch's observed distinct
    * locators (tenant, name, family, unit), when [[locatorsFitDriver]]
    * held, go through the memo ([[writeCatalogLocators]], usually no write
    * at all); otherwise its (tenant, name, family, unit) `rows` aggregate
    * to their distinct locators on the executors and land whole in the
    * batch's catalog dir. */
  private def writeCatalog(storeDir: String, batchId: Long, src: String,
      observed: Option[Array[(String, String, String, String)]],
      rows: DataFrame, markComplete: Boolean): Unit = {
    val spark = rows.sparkSession
    observed match {
      case Some(locs) =>
        writeCatalogLocators(spark, storeDir, batchId, src, locs, markComplete)
      case None =>
        rows.groupBy("tenant_id", "metric_name", "family")
          .agg(max("unit").as("unit"))
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$storeDir/metric_catalog/src=$src/batch_id=$batchId")
        if (markComplete) markCatalogComplete(spark, storeDir)
    }
  }

  /** Memo-filtered catalog upsert from the batch's driver-held distinct
    * locator rows (tenant, name, family, unit). */
  private def writeCatalogLocators(spark: SparkSession, storeDir: String,
      batchId: Long, src: String,
      locs: Array[(String, String, String, String)],
      markComplete: Boolean): Unit = {
    // cross-process fence check BEFORE trusting the memo (one metadata
    // stat per batch — the SnapshotStore `_version` discipline): a
    // rebuildCatalog in a SEPARATE ops JVM may have dropped aged-out
    // locators this memo still believes written; trusting it would skip
    // the catalog row of a re-ingested locator until facade restart
    val catalog = new org.apache.hadoop.fs.Path(s"$storeDir/metric_catalog")
    val fence = graft.core.SnapshotStore.versionStamp(
      catalog.getFileSystem(spark.sparkContext.hadoopConfiguration), catalog)
    val prevFence = catalogSeenFence.put(storeDir, fence)
    if (prevFence != null && prevFence.longValue() != fence)
      catalogSeen.remove(storeDir)
    val seen = catalogSeen.computeIfAbsent(storeDir,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet())
    val fresh = locs.filterNot(seen.contains)
    if (fresh.nonEmpty) {
      import spark.implicits._
      fresh.toSeq.toDF("tenant_id", "metric_name", "family", "unit")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$storeDir/metric_catalog/src=$src/batch_id=$batchId")
      // record ONLY after the commit; stop admitting at the cap
      fresh.iterator.takeWhile(_ => seen.size() < CatalogMemoCap)
        .foreach(seen.add)
    }
    if (markComplete) markCatalogComplete(spark, storeDir)
  }

  /** The catalog's distinct-locator aggregate (groupBy(tenant, name,
    * family).agg(max(unit)), the one [[metricCatalog]] applies on read)
    * over driver-held (tenant, name, unit) triples — content is identical
    * to the relational form for any unit string the triples carry (they
    * come out of Spark, so they are well-formed): Spark's string max orders
    * by unsigned UTF-8 bytes (code-point order), while Java's String
    * ordering compares UTF-16 code units (surrogates sort BELOW
    * U+E000..U+FFFF), so the winner is picked in code point order
    * ([[graft.core.CatalogSnapshot.compareUtf8]]), never String.max. */
  private def utf8Max(a: String, b: String): String =
    if (graft.core.CatalogSnapshot.compareUtf8(a, b) >= 0) a else b

  private def dedupLocators(family: String,
      locs: Iterable[(String, String, String)])
      : Array[(String, String, String, String)] =
    locs.groupBy(l => (l._1, l._2)).map { case ((t, n), vs) =>
      val units = vs.map(_._3).filter(_ != null)
      (t, n, family, if (units.isEmpty) null else units.reduce(utf8Max))
    }.toArray

  /** COVERAGE marker for the catalog: present only when every locator the
    * data tables hold is also cataloged — written when the catalog is born
    * WITH the store (the first batch found no pre-existing data) or by
    * [[rebuildCatalog]] (complete by construction). [[metricCatalog]]
    * refuses to serve an unmarked catalog: a pre-catalog store that gains
    * a partial catalog from its first post-upgrade batch would otherwise
    * silently hide every older locator from discovery and misroute their
    * views reads — mere existence is not coverage. */
  private def markCatalogComplete(spark: SparkSession, storeDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$storeDir/metric_catalog/_complete")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  private val preaggKinds = Seq("counter", "gauge", "timer", "set")

  /** Every table whose rows name a servable locator: the raw stores PLUS
    * the rollup tiers — retention prunes raw days long before the coarser
    * tiers' TTLs expire, so a store can hold tier-only locators with no
    * raw trace (the exact state after [[graft.operators.Retention
    * .enforce]] on an idle metric). Raw tables lead so the common
    * non-empty probe short-circuits on the first glob. */
  private def locatorTables: Seq[String] =
    Seq("metrics_full", "metrics_string", "preagg_raw") ++
      Granularity.rollupTiers.map(g => s"metrics_${g.name}") ++
      (for (k <- preaggKinds; g <- Granularity.rollupTiers)
        yield s"preagg_${k}_${g.name}")

  /** Whether any locator-bearing table already holds data — probed at
    * batch START (before this batch's writes) to decide if a first
    * catalog write covers the whole store. Memoized process-wide once
    * TRUE (the facade's storeKnownNonVirgin cache, generalized): "has
    * data" is monotone while serving — retention drops aged days, never
    * the day just written — so every steady batch after the first skips
    * the ~30-table glob probe. */
  private val storeNonVirgin =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def storeHasData(spark: SparkSession, storeDir: String): Boolean =
    storeNonVirgin.contains(storeDir) || {
      val r = locatorTables.exists(t => hasParquetData(spark, s"$storeDir/$t"))
      if (r) storeNonVirgin.add(storeDir)
      r
    }

  /** The persisted locator catalog, deduplicated across batches: one row
    * per (tenant_id, metric_name, family) with the max ingested unit —
    * None when the store predates the catalog OR the catalog lacks its
    * `_complete` coverage marker (a catalog born mid-life covers only the
    * batches since the upgrade; serving it would hide every older locator,
    * so reads of such a store fail until [[rebuildCatalog]] closes the gap
    * and writes the marker). Size is O(distinct locators), broadcastable. */
  def metricCatalog(spark: SparkSession, storeDir: String): Option[DataFrame] = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$storeDir/metric_catalog/_complete")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker) ||
        !hasParquetData(spark, s"$storeDir/metric_catalog")) None
    else Some(spark.read.parquet(s"$storeDir/metric_catalog")
      .groupBy("tenant_id", "metric_name", "family")
      .agg(max("unit").as("unit")))
  }

  /** Fold the catalog's per-micro-batch dirs — a 5-second-trigger stream
    * writes one tiny dir per batch (~17k/day), the same small-file growth
    * [[graft.operators.Retention.compactRaw]] exists for, but worse per
    * byte because every dir is a few rows. Each `src=` subtree folds
    * independently into ONE distinct-row dir (id ≥
    * [[graft.operators.Retention.CompactIdBase]]); the fold is the same
    * aggregation [[metricCatalog]] applies on read, so the reader's view
    * is unchanged. Crash safety reuses the raw-compaction discipline
    * verbatim (per-src `_compact_manifest` +
    * [[graft.operators.Retention.recoverCompaction]], which is layout-
    * agnostic below the batch_id level). Non-quiesced mode spares each
    * src's newest small dir — its stream may still be committing. Returns
    * the new id per folded src. */
  def compactCatalog(spark: SparkSession, storeDir: String,
      minBatchDirs: Int = 2, assumeQuiesced: Boolean = false): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Retention
    require(minBatchDirs >= 2, s"minBatchDirs must be >= 2, got $minBatchDirs")
    val root = new Path(s"$storeDir/metric_catalog")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    fs.globStatus(new Path(root, "src=*")).toSeq.flatMap { srcSt =>
      val srcPath = srcSt.getPath
      val srcTable = s"metric_catalog/${srcPath.getName}"
      Retention.recoverCompaction(spark, storeDir, srcTable)
      val all = fs.globStatus(new Path(srcPath, "batch_id=*")).toSeq
        .flatMap(st => st.getPath.getName.stripPrefix("batch_id=")
          .toLongOption.map(id => (id, st.getPath, st.getModificationTime)))
        .sortBy(_._1)
      val small = all.filter(_._1 < Retention.CompactIdBase)
      // newest = most recently MODIFIED (facade ids are hashes, unordered;
      // see Retention.compactRaw) — that dir's stream may still be writing
      val batches =
        (if (assumeQuiesced || small.isEmpty) small
         else {
           val spare = small.filter(_._3 == small.map(_._3).max).maxBy(_._1)
           small.filterNot(_._1 == spare._1)
         }).map(t => (t._1, t._2))
      if (batches.size < minBatchDirs) None
      else {
        val newId = math.max(Retention.CompactIdBase, all.map(_._1).max + 1)
        val manifest = new Path(srcPath, "_compact_manifest")
        val out = fs.create(manifest, true)
        out.write((newId +: batches.map(_._2.getName))
          .mkString("\n").getBytes("UTF-8"))
        out.close()
        val tmp = new Path(srcPath, s".compact_tmp_$newId")
        spark.read.option("basePath", srcPath.toString)
          .parquet(batches.map(_._2.toString): _*)
          .groupBy("tenant_id", "metric_name", "family")
          .agg(max("unit").as("unit"))
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        require(fs.rename(tmp, new Path(srcPath, s"batch_id=$newId")),
          s"catalog compaction rename failed: $tmp")
        batches.foreach { case (_, p) => fs.delete(p, true) }
        fs.delete(manifest, false)
        Some(srcPath.getName.stripPrefix("src=") -> newId)
      }
    }.toMap
  }

  /** Re-derive the catalog from the data tables themselves — the remedy
    * for the catalog's two designed-in staleness modes: entries outliving
    * retention-pruned data (the reference's locator index has the same
    * property, aged by its own TTL), and stores written before the catalog
    * existed (or via raw [[writeRaw]]) that have no catalog at all. One
    * scan of the name/unit/kind columns of every locator-bearing table —
    * the O(table) cost the per-batch catalog exists to amortize away,
    * paid deliberately: in an offline maintenance window (schedule with
    * [[graft.operators.Retention.enforce]], whose partition drops create
    * the staleness), and once when [[graft.http.MetricsHttpServer]] opens
    * a store whose data no `_complete` catalog covers — every store read
    * resolves locators from the catalog alone
    * ([[graft.core.CatalogSnapshot]]), so such a store fails reads until
    * this has run.
    *
    * Crash contract: the rebuilt rows land under `src=rebuild` with an id
    * above every existing dir BEFORE any old dir is deleted, so every
    * intermediate state serves a SUPERSET of the live locators (readers
    * dedup); a crash mid-delete leaves stale-but-safe entries and a
    * re-run converges. No manifest needed — unlike a fold, nothing here
    * destroys information the data tables don't still hold. */
  def rebuildCatalog(spark: SparkSession, storeDir: String): Unit =
    rebuildCatalog(spark, storeDir, () => ())

  /** [[rebuildCatalog]] with a test seam fired between the coverage marker
    * and the retire loop — the window where a concurrent ingest's catalog
    * dir must SURVIVE retirement (it is not in the snapshot). */
  private[graft] def rebuildCatalog(spark: SparkSession, storeDir: String,
      beforeRetire: () => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$storeDir/metric_catalog")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def derived(table: String, famCol: org.apache.spark.sql.Column) =
      // SnapshotStore.read resolves gen'd tiers to their current snapshot
      // and falls back to plain discovery for the batch-dir tables
      graft.core.SnapshotStore.read(spark, s"$storeDir/$table").map { t =>
        val unitCol = if (t.columns.contains("unit")) col("unit")
                      else lit(null).cast("string")
        t.select(col("tenant_id"), col("metric_name"),
          famCol.as("family"), unitCol.as("unit"))
      }
    // every locator-bearing table, tiers included: retention prunes raw
    // days before the coarser tiers' TTLs, so a tier-only locator is still
    // SERVABLE (the kind-routed stored reads hit the tier directly) and
    // must stay discoverable/routable after a rebuild
    val parts =
      derived("metrics_full", lit("basic")) ++
        derived("metrics_string", lit("string")) ++
        derived("preagg_raw", col("kind")) ++
        Granularity.rollupTiers.flatMap(g =>
          derived(s"metrics_${g.name}", lit("basic"))) ++
        (for (k <- preaggKinds; g <- Granularity.rollupTiers)
          yield derived(s"preagg_${k}_${g.name}", lit(k))).flatten
    if (parts.isEmpty) {
      // no data left: the store is virgin again, and its next batch's
      // catalog is complete from birth
      fs.delete(root, true)
      storeNonVirgin.remove(storeDir)
      return
    }
    val rows = parts.reduce(_ unionByName _)
      .groupBy("tenant_id", "metric_name", "family")
      .agg(max("unit").as("unit"))
    // SNAPSHOT the retireable dirs BEFORE the derive scan materializes
    // (the write below runs it): a concurrent ingest that lands its
    // catalog dir after this point — possibly between the derive scan and
    // the retire loop — is NOT retired. Its entries survive as a superset
    // duplicate readers dedup, instead of being deleted while its data
    // rows land, which would leave a marked-complete catalog missing a
    // live locator (the exact misrouting the _complete marker prevents).
    val retireable: Seq[Path] =
      if (!fs.exists(root)) Seq.empty
      else fs.globStatus(new Path(root, "src=*/batch_id=*")).toSeq.map(_.getPath)
    val newId = math.max(graft.operators.Retention.CompactIdBase,
      retireable
        .flatMap(_.getName.stripPrefix("batch_id=").toLongOption)
        .foldLeft(0L)(math.max) + 1)
    rows.coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/metric_catalog/src=rebuild/batch_id=$newId")
    // the rebuild dir alone covers every live locator — mark coverage NOW
    // so a crash mid-retire still leaves a servable (superset) catalog
    markCatalogComplete(spark, storeDir)
    beforeRetire()
    // retire ONLY the snapshotted dirs the rebuild supersedes (older
    // rebuilds included); compare by path NAME — globStatus returns
    // scheme-qualified paths, so a string compare against a locally built
    // Path never matches
    for (b <- retireable
         if !(b.getParent.getName == "src=rebuild" &&
           b.getName == s"batch_id=$newId")) {
      fs.delete(b, true)
      if (fs.globStatus(new Path(b.getParent, "batch_id=*")).isEmpty &&
          b.getParent.getName != "src=rebuild")
        fs.delete(b.getParent, true)
    }
    // the rebuild derives from LIVE data, so locators whose every row
    // aged out just left the catalog — the seen-locator memo must forget
    // them or a later re-ingest would skip re-writing a live locator.
    // In-process: direct invalidation; OTHER processes' memos (and every
    // CatalogSnapshot): the fence bump below
    invalidateCatalogMemo(storeDir)
    graft.core.SnapshotStore.bumpVersion(fs, root)
  }

  /** The raw-store write: day-partitioned parquet under an overwrite
    * batch-id partition (shared by processBatch and IngestBench so the
    * benchmark measures the production write path). */
  def writeRaw(validPoints: DataFrame, storeDir: String, batchId: Long): Unit =
    validPoints.withColumn("ts_day", dayOf(col("ts_ms")))
      .write.mode("overwrite").partitionBy("ts_day")
      .parquet(s"$storeDir/metrics_full/batch_id=$batchId")

  /** Re-roll the 5m tier for `days` from the raw store — the background
    * arm of the deferred-rollup mode ([[processBatch]] `rollup = false`):
    * same recompute-from-source + snapshot-publish as the synchronous
    * path, so draining a pending set converges to exactly the state the
    * synchronous mode would have produced. */
  def rollDirtyDaysNow(spark: SparkSession, storeDir: String,
      days: Seq[Long]): Unit =
    if (days.nonEmpty) rollDirtyDays(spark, storeDir, days.toArray)

  /** `metrics_full`'s on-disk schema, stated explicitly where the re-roll
    * hot path reads it: an unschema'd parquet read runs a whole Spark JOB
    * just to sample footers — the r13 steady-arm timeline's third action
    * (one scheduling round per re-roll) — and this store's layout is
    * fixed by [[writeRaw]]/[[processTypedBatchFused]] (the two path
    * levels `batch_id`/`ts_day` included; parquet files missing `unit`
    * read as null, which the re-roll never touches). */
  private[graft] val rawStoreSchema = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("metric_name", StringType),
    StructField("ts_ms", LongType),
    StructField("value", DoubleType),
    StructField("ttl_seconds", IntegerType),
    StructField("unit", StringType),
    StructField("batch_id", LongType),
    StructField("ts_day", LongType)))

  /** `metrics_string`'s on-disk schema, fixed by
    * [[processTypedBatchFused]]'s string arm: the read path states it for
    * the same reason as [[rawStoreSchema]]. */
  private[graft] val stringStoreSchema = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("metric_name", StringType),
    StructField("ts_ms", LongType),
    StructField("value_str", StringType),
    StructField("ttl_seconds", IntegerType),
    StructField("unit", StringType),
    StructField("is_bool", BooleanType),
    StructField("batch_id", LongType),
    StructField("ts_day", LongType)))

  private def rollDirtyDays(spark: SparkSession, storeDir: String,
      dirtyDays: Array[Long]): Unit = {
    val full = spark.read.schema(rawStoreSchema)
      .parquet(s"$storeDir/metrics_full")
      .filter(col("ts_day").isin(dirtyDays.toSeq: _*))
    val rolled = graft.operators.Rollups.basicFromRaw(
        full.select("tenant_id", "metric_name", "ts_ms", "value"), Granularity.MIN_5)
      .withColumn("ts_day", dayOf(col("bucket_ms")))
    // snapshot-committed day swap (NOT dynamic partition overwrite, whose
    // delete-then-rename commit lets a racing read see a missing/partial
    // day) — graft.core.SnapshotStore's reader-isolation contract
    graft.core.SnapshotStore.publish(rolled, s"$storeDir/metrics_5m")
    Instrumentation.global.emitRollup(Instrumentation.RollupEvent(
      storeDir, "basic", Granularity.MIN_5, dirtyDays.toSeq))
  }

  /** Effective epoch window for one micro-batch: the static `[minTs,
    * maxTs]` bounds tightened by the RELATIVE window when one is
    * configured. Relative bounds re-evaluate against `now` at EVERY batch —
    * the reference checks each payload against its own processing time
    * (JSONMetric.java:28-39 BEFORE/AFTER_CURRENT_COLLECTIONTIME), and a
    * static lower bound captured at stream start silently ages out: once
    * the stream outlives `retention - (now₀ - minTs)`, a stale flush can
    * pass the frozen check yet land on a retention-pruned day. */
  private[graft] def batchBounds(minTs: Long, maxTs: Long,
      maxAgeMs: Option[Long], maxFutureMs: Option[Long], now: Long): (Long, Long) =
    (maxAgeMs.fold(minTs)(a => math.max(minTs, now - a)),
      maxFutureMs.fold(maxTs)(f => math.min(maxTs, now + f)))

  /** Start the ingest stream over a source of JSON lines (file/socket/Kafka
    * — anything exposing a `value` column). `maxAgeMs`/`maxFutureMs` bound
    * record timestamps RELATIVE to each batch's processing time (see
    * [[batchBounds]]); `nowMs` is injectable for tests. Each micro-batch
    * goes through [[processBatch]], planned on the stream's own session
    * and partitioning. */
  def start(lines: DataFrame, storeDir: String, checkpointDir: String,
      minTs: Long = 0L, maxTs: Long = Long.MaxValue,
      maxAgeMs: Option[Long] = None, maxFutureMs: Option[Long] = None,
      nowMs: () => Long = () => System.currentTimeMillis()): StreamingQuery =
    parseJson(lines)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (lo, hi) = batchBounds(minTs, maxTs, maxAgeMs, maxFutureMs, nowMs())
        processBatch(withValidity(batch, lo, hi), storeDir, id)
        ()
      }
      .start()

  /** Watermarked streaming 5m aggregation — the pure-streaming shape
    * (append mode emits a window once the watermark passes; the reference's
    * ROLLUP_DELAY quiet period ≡ the watermark delay, SURVEY §2.9). Used
    * where a push-based rollup feed is wanted instead of the store-and-
    * recompute path above. */
  def streaming5m(points: DataFrame, watermarkDelay: String = "5 minutes"): DataFrame =
    points
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("tenant_id"), col("metric_name"), window(col("ts"), "5 minutes"))
      .agg(
        count(col("value")).as("num_points"),
        sum(col("value")).as("sum_v"),
        avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        var_pop(col("value")).as("var_v"))
      .select(col("tenant_id"), col("metric_name"),
        unix_millis(col("window.start")).as("bucket_ms"),
        col("num_points"), col("sum_v"), col("avg_v"),
        col("min_v"), col("max_v"), col("var_v"))

  /** Event/annotation ingest schema (reference: the events ingest surface
    * HttpEventsIngestionHandler.java → Event.java what/when/tags/data,
    * persisted by EventElasticSearchIO.java:46-58): the engine's event row
    * is (tenant_id, event_id, ts_ms, event_type, value, props) — the same
    * shape [[graft.operators.Discovery.eventSearch]] queries. */
  val eventSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("event_id", LongType),
    StructField("ts_ms", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Parse a stream/batch of event JSON lines into typed event rows. */
  def parseEventsJson(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .select("e.*")

  /** Event validity: an id, a type, and an in-window timestamp (same
    * null-safe 3VL discipline as [[withValidity]]). */
  def withEventValidity(events: DataFrame, minTs: Long, maxTs: Long): DataFrame =
    events.withColumn("valid",
      coalesce(
        col("event_id").isNotNull &&
          col("event_type").isNotNull && length(col("event_type")) > 0 &&
          col("ts_ms").between(minTs, maxTs),
        lit(false)))

  /** ONE-JOB events ingest for the facade's all-or-nothing contract
    * (HttpEventsIngestionHandler rejects the whole POST on any invalid
    * event): the validity counts ride the staged events write as
    * observed metrics; any invalid row (or an empty parse) discards the
    * hidden stage and nothing becomes visible. Returns (total, invalid)
    * for the response decision. */
  def processEventsBatchFused(batch: DataFrame, storeDir: String,
      batchId: Long): (Long, Long) = {
    val (cached, owned) = cachedFor(batch)
    try {
      val obs = Observation(s"events_${batchId}_${java.util.UUID.randomUUID()}")
      val stage = new Stage(batch.sparkSession, storeDir, "events", batchId)
      stage.write(cached.observe(obs,
          count(lit(1)).as("n_total"),
          count(when(!col("valid"), lit(1))).as("n_invalid"))
        .filter(col("valid")).drop("valid"))
      val m = obs.get
      val nTotal = m("n_total").asInstanceOf[Long]
      val nInvalid = m("n_invalid").asInstanceOf[Long]
      if (nTotal == 0 || nInvalid > 0) {
        stage.discard(); return (nTotal, nInvalid)
      }
      stage.commit()
      Instrumentation.global.inc("ingest.rows.events", nTotal)
      (nTotal, 0L)
    } finally if (owned) cached.unpersist()
  }

  /** One events micro-batch — the same idempotence discipline as
    * [[processBatch]]: day-partitioned parquet under an overwrite batch-id
    * partition, so a replayed batch replaces rather than duplicates its own
    * rows; invalid records go to an errors sink instead of vanishing (the
    * streaming contract accepts partially, unlike the facade's
    * [[processEventsBatchFused]]). Events are immutable annotations with
    * no rollup ladder, so ingest is append-only — no re-roll step. */
  def processEventsBatch(batch: DataFrame, storeDir: String, batchId: Long = 0L): Unit = {
    val (cached, owned) = cachedFor(batch)
    try {
      // one accounting aggregate, emptiness included
      val estats = cached.groupBy(col("valid")).count().collect()
        .map(r => (r.getBoolean(0), r.getLong(1))).toMap
      if (estats.isEmpty) return
      val nInvalid = estats.getOrElse(false, 0L)
      if (nInvalid > 0) {
        Instrumentation.global.inc("ingest.rows.errors.events", nInvalid)
        cached.filter(!col("valid")).drop("valid")
          .write.mode("overwrite")
          .parquet(s"$storeDir/events_errors/batch_id=$batchId")
      }
      val valid = cached.filter(col("valid")).drop("valid")
      val nValid = estats.getOrElse(true, 0L)
      if (nValid == 0) return
      Instrumentation.global.inc("ingest.rows.events", nValid)
      valid.withColumn("ts_day", dayOf(col("ts_ms")))
        .write.mode("overwrite").partitionBy("ts_day")
        .parquet(s"$storeDir/events/batch_id=$batchId")
    } finally if (owned) cached.unpersist()
  }

  /** Start the events ingest stream over a source of JSON lines. Epoch
    * bounds as in [[start]] (static and/or per-batch relative). */
  def startEvents(lines: DataFrame, storeDir: String, checkpointDir: String,
      minTs: Long = 0L, maxTs: Long = Long.MaxValue,
      maxAgeMs: Option[Long] = None, maxFutureMs: Option[Long] = None,
      nowMs: () => Long = () => System.currentTimeMillis()): StreamingQuery =
    parseEventsJson(lines)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (lo, hi) = batchBounds(minTs, maxTs, maxAgeMs, maxFutureMs, nowMs())
        processEventsBatch(withEventValidity(batch, lo, hi), storeDir, id)
      }
      .start()

  /** The ingested events store as the query surface for
    * [[graft.operators.Discovery.eventSearch]] — day partitions push the
    * search's time-range filter into partition pruning. */
  def eventsStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/events").drop("batch_id", "ts_day")

  private val cascadeTiers = Seq(
    Granularity.MIN_20, Granularity.MIN_60, Granularity.MIN_240, Granularity.MIN_1440)

  /** True when `path` exists and holds at least one parquet data file
    * (directly or up to two partition levels down). A tier directory with no
    * data files — a batch that carried no metrics of some kind, or retention
    * having dropped every remaining day — must read as "absent", not crash
    * `spark.read.parquet`'s schema inference. */
  private[graft] def hasParquetData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file under a hidden component (a crashed POST's leaked
    // `.staging-*`) must not make an otherwise-empty table read as "has
    // data" — the guarded read would fail schema inference on zero
    // visible files, and the virgin probe would skip the catalog coverage
    // marker (the SnapshotStore.resolve husk-guard rule, shared)
    fs.exists(p) && graft.core.SnapshotStore.hasVisibleParquet(fs, p)
  }

  /** Kinds actually present in a parsed statsd frame — real statsd traffic
    * routinely omits whole sections (a flush with no sets, say), and writing
    * an empty per-kind tier would poison later reads. Tiny collect (≤4 rows). */
  private def presentKinds(parsed: DataFrame): Set[String] =
    parsed.select("kind").distinct().collect().map(_.getString(0)).toSet

  /** Incremental cascade tiers: each coarser tier recomputes from the tier
    * below (reference §3.3: 5m slots roll from FULL, 20m from 5m, ...).
    *
    * With `dirtyDays` given, only those `ts_day` partitions are read from
    * the finer tier and only they are overwritten in the coarser one
    * (dynamic partition overwrite) — the same discipline as
    * [[rollDirtyDays]], and the per-slot (not whole-table) re-roll of the
    * reference's LocatorFetchRunnable.java:92-129. Every tier here is
    * day-contained (20m…1440m all divide a day, epoch-aligned), so a dirty
    * finer day maps to exactly the same dirty day at every coarser tier.
    * With `dirtyDays = None` the whole ladder rebuilds (static overwrite, so
    * days deleted from the finer tier also vanish from the coarser ones).
    *
    * Merges use [[graft.operators.Rollups.basicMergeStable]]: the expanded
    * variance form cancels catastrophically when |mean| ≫ stddev, which a
    * stored production tier must not risk. */
  def rollupCascadeFor(spark: SparkSession, storeDir: String,
      dirtyDays: Option[Seq[Long]] = None): Unit = {
    // nothing at 5m (never rolled, or retention dropped every day) → no-op
    if (!hasParquetData(spark, s"$storeDir/metrics_5m")) return
    var finerName = "metrics_5m"
    for (g <- cascadeTiers) {
      val finerAll = graft.core.SnapshotStore
        .read(spark, s"$storeDir/$finerName").getOrElse(return)
      val finer = dirtyDays.fold(finerAll)(d => finerAll.filter(col("ts_day").isin(d: _*)))
      // empty dirty-day slice → every coarser slice is empty too; writing it
      // anyway would create a parquet-less dir (when the coarser tier doesn't
      // exist yet) that the next hop's schema inference chokes on — the same
      // husk class hasParquetData guards against. Break the whole ladder.
      if (dirtyDays.isDefined && finer.isEmpty) return
      val merged = graft.operators.Rollups.basicMergeStable(finer.drop("ts_day"), g)
        .select(col("tenant_id"), col("metric_name"), col("bucket_ms"),
          col("num_points"), col("sum_v"), col("avg_v"),
          col("min_v"), col("max_v"), col("var_v"))
        .withColumn("ts_day", dayOf(col("bucket_ms")))
      // dirty-day mode swaps only the touched days; full rebuild also
      // drops days absent from the new data (the old static-overwrite
      // semantics) — both through the snapshot commit protocol
      graft.core.SnapshotStore.publish(merged,
        s"$storeDir/metrics_${g.name}", replaceAll = dirtyDays.isEmpty)
      Instrumentation.global.emitRollup(Instrumentation.RollupEvent(
        storeDir, "basic", g, dirtyDays.getOrElse(Nil),
        fullRebuild = dirtyDays.isEmpty))
      finerName = s"metrics_${g.name}"
    }
  }

  /** OPTIONAL bucketed arm of the cascade for the 5m tier — the
    * dashboard-facing hot read path (the reference's most-read table,
    * CassandraModel.java metrics_5m): mirror the freshly rolled 5m days
    * into a day-partitioned, hash-clustered catalog table
    * ([[graft.core.BucketedStore.registerPartitioned]]), so every
    * per-series aggregation / window / self-join a fleet of dashboards
    * runs against the tier plans with ZERO shuffle Exchange — the series
    * co-location is paid once here, at write time, instead of per query.
    *
    * Same dirty-day discipline as the plain tier: with `dirtyDays` given
    * only those partitions rewrite (dynamic overwrite THROUGH the bucket
    * spec); None mirrors the whole tier. Call after [[rollDirtyDays]] /
    * [[rollupCascadeFor]] with the same day list. The plain parquet tier
    * remains the source of truth (and the cascade's input); this is a
    * serving layout, rebuildable from it at any time. */
  def mirrorBucketed5m(spark: SparkSession, storeDir: String,
      tableName: String, path: String, nBuckets: Int = 64,
      dirtyDays: Option[Seq[Long]] = None): Unit = {
    val tier = graft.core.SnapshotStore
      .read(spark, s"$storeDir/metrics_5m").getOrElse(return)
    graft.core.BucketedStore.registerPartitioned(
      spark, tableName, path, tier.schema, nBuckets)
    val slice = dirtyDays.fold(tier)(d => tier.filter(col("ts_day").isin(d: _*)))
    graft.core.BucketedStore.overwriteDays(spark, slice, tableName)
  }

  /** Persist the per-kind tier-1 (5m) pre-aggregated state tables from
    * parsed statsd payload rows ([[graft.operators.Preaggregated
    * .fromAggregatedJson]]), day-partitioned like the basic tiers.
    * ONE-SHOT/batch form: a day partition is overwritten with THIS input's
    * aggregation — for continuous ingest, where several batches touch the
    * same day, use [[processAggregatedBatch]], which appends the parsed
    * rows and recomputes dirty days from the full store. */
  def writePreaggTier1(parsed: DataFrame, storeDir: String): Unit = {
    val present = presentKinds(parsed)
    graft.operators.Preaggregated.tier1FromParsed(parsed, Granularity.MIN_5)
      .foreach { case (kind, df) =>
        if (present(kind))
          graft.core.SnapshotStore.publish(
            df.withColumn("ts_day", dayOf(col("bucket_ms"))),
            s"$storeDir/preagg_${kind}_5m")
      }
  }

  /** What a statsd ingest call hands back: dirty days, the rejected
    * records (tenant, name, ts — the aggregated route's only constraint
    * is the collection-time window), and the batch total. */
  final case class PreaggResult(
      dirtyDays: Seq[Long],
      rejects: Array[(String, String, Option[Long])],
      nTotal: Long)

  /** One statsd batch — the numeric writer's protocol ([[writeBatch]]) on
    * the preagg route: the PARSED payload rows stage into a hidden
    * `preagg_raw/.staging-<id>` dir with the accounting (total, reject
    * rows, dirty days, per-kind catalog locators) riding the write as
    * observed metrics; the rejects sink runs only when rejects exist;
    * `onDirtyDays` (the facade's durable marker) lands before the catalog
    * and the commit rename; then the per-kind 5m tier recomputes for
    * exactly the touched days from the FULL parsed store —
    * recompute-from-source, never read-modify-write, so a late flush
    * simply re-dirties its day — and, with `cascade`, the coarser kind
    * ladders roll for the same days. `rollup = false` defers both to the
    * caller's drain ([[rollPreaggDirtyDaysNow]]). This is the stored-
    * cascade analog of the reference's /ingest/aggregated → preaggregated
    * CF → per-slot rollup pipeline.
    *
    * `[minTs, maxTs]` bounds the accepted flush timestamps — the epoch
    * validation the basic path gets from [[validExpr]] (reference:
    * JSONMetric.java:28-39 bean validation applies to the aggregated
    * handler's payloads too). Without it a flush carrying a stale ts_ms
    * older than the preagg_raw TTL horizon re-dirties a retention-pruned
    * day: the recompute rebuilds that day's 5m tier from ONLY the late
    * flush and the cascade overwrites the day in the 20m-1440m tiers,
    * silently destroying history their longer TTLs were meant to keep.
    * Streaming callers get this bound from [[startAggregated]]'s
    * `maxAgeMs` (re-evaluated per batch); direct batch callers pass
    * `minTs = now - Granularity.MIN_5.retentionMillis` (the preagg_raw TTL
    * horizon) computed at call time. Rejects land in `preagg_errors`. */
  def processAggregatedBatch(parsed: DataFrame, storeDir: String,
      batchId: Long = 0L, cascade: Boolean = true,
      minTs: Long = 0L, maxTs: Long = Long.MaxValue,
      rollup: Boolean = true,
      virginHint: Option[Boolean] = None,
      onDirtyDays: Seq[Long] => Unit = _ => ()): PreaggResult = {
    val spark = parsed.sparkSession
    // probed BEFORE any write (see writeBatch's catalog marker)
    val virgin = virginHint.getOrElse(!storeHasData(spark, storeDir))
    val (cached, owned) = cachedFor(parsed)
    try {
      // 3VL-safe: a null ts_ms reads as out-of-window, never NULL (which
      // would vanish from both the store and the errors sink)
      val inWindow = coalesce(col("ts_ms").between(minTs, maxTs), lit(false))
      val observeLocators = locatorsFitDriver(cached)
      val obs = Observation(s"preagg_${batchId}_${java.util.UUID.randomUUID()}")
      val stage = new Stage(spark, storeDir, "preagg_raw", batchId)
      stage.write(cached.observe(obs,
          count(lit(1)).as("n_total"), Seq(
          count(when(inWindow, lit(1))).as("n_ok"),
          collect_set(when(inWindow, dayOf(col("ts_ms")))).as("days"),
          collect_list(when(!inWindow, struct(col("tenant_id"),
            col("metric_name"), col("ts_ms")))).as("rejects")) ++
          (if (!observeLocators) Nil else Seq(
            collect_set(when(inWindow, struct(col("tenant_id"),
              col("metric_name"), col("kind")))).as("locs"))): _*)
        .filter(inWindow))
      val m = obs.get
      def rows(k: String) = m(k).asInstanceOf[scala.collection.Seq[Row]]
      val nTotal = m("n_total").asInstanceOf[Long]
      val nOk = m("n_ok").asInstanceOf[Long]
      if (nTotal == 0) {
        stage.discard(); return PreaggResult(Nil, Array.empty, 0L)
      }
      Instrumentation.global.inc("ingest.batches.preagg")
      val rejects = rows("rejects").map(r =>
        (Option(r.getString(0)).getOrElse(""),
          Option(r.getString(1)).getOrElse(""),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toArray
      if (rejects.nonEmpty) {
        Instrumentation.global.inc("ingest.rows.errors.preagg",
          rejects.length.toLong)
        cached.filter(!inWindow).write.mode("overwrite")
          .parquet(s"$storeDir/preagg_errors/batch_id=$batchId")
      }
      if (nOk == 0) {
        stage.discard(); return PreaggResult(Nil, rejects, nTotal)
      }
      val days = m("days").asInstanceOf[scala.collection.Seq[Long]].toSeq
      onDirtyDays(days)
      // catalog BEFORE the data unhides; per-row kind IS the family, and
      // the aggregated wire shape carries no unit (max(unit) over all-null
      // is null)
      writeCatalog(storeDir, batchId, "preagg",
        if (!observeLocators) None
        else Some(rows("locs").map(r => (r.getString(0), r.getString(1),
          r.getString(2), null: String)).toArray),
        cached.filter(inWindow).select(col("tenant_id"), col("metric_name"),
          col("kind").as("family"), lit(null).cast("string").as("unit")),
        markComplete = virgin)
      stage.commit()
      Instrumentation.global.inc("ingest.rows.preagg_raw", nOk)
      if (rollup) rollPreaggDirtyDaysNow(spark, storeDir, days, cascade)
      PreaggResult(days, rejects, nTotal)
    } finally if (owned) cached.unpersist()
  }

  /** `preagg_raw`'s on-disk schema, explicit for the same reason as
    * [[rawStoreSchema]]: the drain's read must not pay a footer-sampling
    * job per re-roll. Fixed by [[graft.operators.Preaggregated]]'s parsed
    * shape. */
  private[graft] val preaggRawSchema = StructType(Seq(
    StructField("tenant_id", StringType),
    StructField("metric_name", StringType),
    StructField("ts_ms", LongType),
    StructField("kind", StringType),
    StructField("counter", StructType(Seq(
      StructField("count", DoubleType), StructField("rate", DoubleType),
      StructField("sample_count", LongType)))),
    StructField("gauge", StructType(Seq(
      StructField("latest_ts", LongType), StructField("latest", DoubleType)))),
    StructField("timer", StructType(Seq(
      StructField("count", LongType), StructField("sum", DoubleType),
      StructField("min", DoubleType), StructField("max", DoubleType),
      StructField("rate", DoubleType),
      StructField("percentiles", MapType(StringType, DoubleType))))),
    StructField("set", ArrayType(IntegerType)),
    StructField("batch_id", LongType),
    StructField("ts_day", LongType)))

  /** Re-roll the per-kind 5m preagg tiers (and optionally the coarser
    * ladders) for `days` from the parsed-flush store — the preagg twin of
    * [[rollDirtyDaysNow]], both the synchronous tail of
    * [[processAggregatedBatch]] and the background arm of its deferred
    * mode (`rollup = false`). */
  def rollPreaggDirtyDaysNow(spark: SparkSession, storeDir: String,
      days: Seq[Long], cascade: Boolean = true): Unit = {
    if (days.isEmpty) return
    val raw = spark.read.schema(preaggRawSchema)
      .parquet(s"$storeDir/preagg_raw")
      .filter(col("ts_day").isin(days: _*))
    // presence is judged on the dirty-day slice of the FULL store, not on
    // this batch: a day whose sets arrived in an earlier flush must still
    // re-roll its set tier when a later counters-only flush re-dirties it
    val present = presentKinds(raw)
    graft.operators.Preaggregated.tier1FromParsed(raw, Granularity.MIN_5)
      .foreach { case (kind, df) =>
        if (present(kind)) {
          graft.core.SnapshotStore.publish(
            df.withColumn("ts_day", dayOf(col("bucket_ms"))),
            s"$storeDir/preagg_${kind}_5m")
          Instrumentation.global.emitRollup(Instrumentation.RollupEvent(
            storeDir, kind, Granularity.MIN_5, days))
        }
      }
    if (cascade) preaggCascadeFor(spark, storeDir, dirtyDays = Some(days))
  }

  /** Start the statsd aggregated-payload ingest stream over JSON lines —
    * the streaming S3 surface (reference: POST /v2.0/:t/ingest/aggregated,
    * HttpAggregatedIngestionHandler → PreaggregateConversions →
    * preaggregated CFs → RollupService cascade).
    *
    * Production callers should pass
    * `maxAgeMs = Some(Granularity.MIN_5.retentionMillis)` (the preagg_raw
    * TTL horizon) rather than a static `minTs`: the relative bound
    * re-evaluates at every batch ([[batchBounds]]), so the stale-flush
    * guard keeps tracking retention however long the stream runs. */
  def startAggregated(lines: DataFrame, storeDir: String, checkpointDir: String,
      cascade: Boolean = true,
      minTs: Long = 0L, maxTs: Long = Long.MaxValue,
      maxAgeMs: Option[Long] = None, maxFutureMs: Option[Long] = None,
      nowMs: () => Long = () => System.currentTimeMillis()): StreamingQuery =
    graft.operators.Preaggregated.fromAggregatedJson(lines)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (lo, hi) = batchBounds(minTs, maxTs, maxAgeMs, maxFutureMs, nowMs())
        processAggregatedBatch(batch, storeDir, id, cascade, lo, hi)
        ()
      }
      .start()

  /** Kind-routed stored cascade for the pre-aggregated families — the
    * dispatch the reference does per locator in
    * RollupRunnable.getRollupComputer (service/RollupRunnable.java:162-178):
    * each kind's tier-1 table rolls 20m → … → 1440m with its OWN merge
    * algebra (counter total-time rate, gauge latest-by-ts, timer
    * scalar+percentile-map, set hash-union), under the same dirty-day
    * dynamic-overwrite discipline as the basic cascade. */
  def preaggCascadeFor(spark: SparkSession, storeDir: String,
      kinds: Seq[String] = Seq("counter", "gauge", "timer", "set"),
      dirtyDays: Option[Seq[Long]] = None): Unit = {
    import graft.operators.Preaggregated
    val merges = Preaggregated.merges
    // a kind with no tier-1 data (statsd traffic without that section, or a
    // fully-aged-out ladder) is a no-op, not a schema-inference crash
    for (kind <- kinds if hasParquetData(spark, s"$storeDir/preagg_${kind}_5m")) {
      val merge = merges(kind)
      var finerName = s"preagg_${kind}_5m"
      var ladderLive = true
      for (g <- cascadeTiers if ladderLive) {
        // a vanished finer tier (retention dropped every day mid-ladder)
        // ends this kind's ladder the same way an empty slice does
        val finer = graft.core.SnapshotStore
          .read(spark, s"$storeDir/$finerName")
          .map(all => dirtyDays.fold(all)(d =>
            all.filter(col("ts_day").isin(d: _*))))
        // a kind's dirty-day slice can be empty even when its 5m tier has
        // data (the dirty days came from a flush missing this kind); an
        // empty write would husk a not-yet-existing coarser dir — skip and
        // break this kind's ladder (coarser slices are empty a fortiori)
        if (finer.isEmpty || (dirtyDays.isDefined && finer.get.isEmpty))
          ladderLive = false
        else {
          val merged = merge(finer.get.drop("ts_day", "distinct_count"), g)
            .withColumn("ts_day", dayOf(col("bucket_ms")))
          graft.core.SnapshotStore.publish(merged,
            s"$storeDir/preagg_${kind}_${g.name}",
            replaceAll = dirtyDays.isEmpty)
          Instrumentation.global.emitRollup(Instrumentation.RollupEvent(
            storeDir, kind, g, dirtyDays.getOrElse(Nil),
            fullRebuild = dirtyDays.isEmpty))
          finerName = s"preagg_${kind}_${g.name}"
        }
      }
    }
  }
}

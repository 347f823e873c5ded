package graft.streaming

import graft.SparkSuite
import graft.operators.Retention
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The persisted locator catalog's maintenance lifecycle
  * ([[IngestStream.compactCatalog]] / [[IngestStream.rebuildCatalog]]):
  * folding per-micro-batch dirs must not change the reader's view, crashes
  * recover under the shared manifest discipline, and a rebuild re-derives
  * exactly the locators the data tables still hold — including for stores
  * that never had a catalog. */
class CatalogSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val day0 = 1704067200000L // 2024-01-01

  private def ingestNumeric(store: String, batchId: Long, name: String,
      tsMs: Long, unit: String = "req"): Unit = {
    val batch = Seq(("t1", name, tsMs, 1.5)).toDF(
        "tenant_id", "metric_name", "ts_ms", "value")
      .withColumn("ttl_seconds", lit(null).cast("int"))
      .withColumn("unit", lit(unit))
    IngestStream.processBatch(
      IngestStream.withValidity(batch, 0L, Long.MaxValue), store, batchId)
  }

  private def ingestPreagg(store: String, batchId: Long, name: String,
      tsMs: Long): Unit = {
    val payload =
      s"""{"tenantId": "t1", "timestamp": $tsMs, "flushInterval": 10000,
         | "counters": [{"name": "$name", "value": 2.0, "rate": 0.2}]}""".stripMargin
    IngestStream.processAggregatedBatch(
      graft.operators.Preaggregated.fromAggregatedJson(
        Seq(payload).toDF("value")), store, batchId, cascade = false)
  }

  private def catalogRows(store: String): Seq[(String, String, String)] =
    IngestStream.metricCatalog(spark, store).get
      .orderBy("metric_name", "family").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq

  private def batchDirs(store: String, src: String): Seq[String] =
    fs.globStatus(new Path(s"$store/metric_catalog/src=$src", "batch_id=*"))
      .map(_.getPath.getName).toSeq.sorted

  test("hasParquetData ignores files under hidden/meta components: a " +
    "crashed POST's leaked .staging dir neither makes the store " +
    "non-virgin nor flips a guarded read onto zero visible files") {
    val store = java.nio.file.Files.createTempDirectory("graft_hpd").toString
    val staged = new Path(
      s"$store/metrics_full/.staging-42/ts_day=$day0")
    fs.mkdirs(staged)
    fs.create(new Path(staged, "part-0.parquet"), true).close()
    assert(!IngestStream.hasParquetData(spark, s"$store/metrics_full"),
      "staging-only table must read as absent")
    // the same file made visible by the commit rename flips it
    assert(fs.rename(new Path(s"$store/metrics_full/.staging-42"),
      new Path(s"$store/metrics_full/batch_id=42")))
    assert(IngestStream.hasParquetData(spark, s"$store/metrics_full"))
  }

  test("a store under a `_`-prefixed ancestor, named by an unqualified " +
    "path, is not empty: its reads and its catalog serve") {
    val parent = java.nio.file.Files.createTempDirectory("_graft_hidden")
    val store = parent.resolve("store").toString
    assert(!store.contains(":") && parent.getFileName.toString.startsWith("_"))
    ingestNumeric(store, 0L, "app.req", day0 + 60000L)
    assert(IngestStream.hasParquetData(spark, s"$store/metrics_full"))
    assert(graft.core.SnapshotStore.read(spark, s"$store/metrics_full")
      .map(_.count()) === Some(1L))
    assert(catalogRows(store) === Seq(("app.req", "basic", "req")))
    val full = graft.query.MetricsQueryApi.getRollupsStored(spark, store,
      graft.query.MetricsQueryApi.Params("t1", "app.*",
        s"${day0 / 1000}", s"${(day0 + 3600000L) / 1000}",
        resolution = Some(graft.core.Granularity.FULL)),
      nowMillis = day0 + 3600000L)
    assert(full.collect().map(_.getAs[String]("metric_name")).toSeq ===
      Seq("app.req"))
  }

  test("cross-process memo fence: a foreign rebuild that bumped " +
    "metric_catalog/_version invalidates THIS process's seen-locator " +
    "memo — a re-ingested dropped locator re-writes its catalog row " +
    "without restart") {
    val store = java.nio.file.Files.createTempDirectory("graft_catf").toString
    ingestNumeric(store, 0L, "cpu.load", day0 + 1000L)
    assert(catalogRows(store).exists(_._1 == "cpu.load"))
    // memo control: an all-repeat batch with an UNCHANGED fence writes no
    // catalog dir (proves the memo is active and the fence stat alone
    // doesn't defeat it)
    ingestNumeric(store, 1L, "cpu.load", day0 + 2000L)
    assert(batchDirs(store, "numeric") === Seq("batch_id=0"))
    // simulate a FOREIGN ops JVM's rebuild-after-retention: its memo and
    // invalidateCatalogMemo are its own — what this process observes is
    // the retired catalog dirs and the bumped fence file. Drop the
    // locator's rows (as a rebuild deriving from aged-out data would) and
    // rewrite _version with a strictly newer mtime.
    fs.delete(new Path(s"$store/metric_catalog/src=numeric"), true)
    val fence = new Path(s"$store/metric_catalog/_version")
    val out = fs.create(fence, true)
    out.write("foreign-rebuild".getBytes("UTF-8"))
    out.close()
    fs.setTimes(fence, System.currentTimeMillis() + 10000L, -1L)
    // with every row dir retired the catalog serves nothing (None) —
    // either way cpu.load is gone
    assert(IngestStream.metricCatalog(spark, store).forall(df =>
      !df.collect().exists(_.getString(1) == "cpu.load")))
    // re-ingest of the dropped locator: the fence mtime changed, so the
    // memo must NOT be trusted — the catalog row comes back
    ingestNumeric(store, 2L, "cpu.load", day0 + 3000L)
    assert(catalogRows(store).exists(_._1 == "cpu.load"),
      "re-ingested locator must re-write its catalog row after a foreign " +
        "rebuild bumped the fence")
  }

  test("compaction folds per-batch dirs src by src; reader view unchanged; " +
    "non-quiesced spares each src's newest dir") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat1").toString
    // distinct locators per batch: the seen-locator memo (the reference's
    // MetadataCache shape) skips the catalog write for an all-repeat
    // batch, so only NEW locators produce per-batch dirs
    ingestNumeric(store, 0L, "cpu.load", day0 + 1000L)
    ingestNumeric(store, 1L, "mem.used", day0 + 2000L)
    ingestNumeric(store, 2L, "disk.io", day0 + 3000L)
    ingestPreagg(store, 0L, "hits", day0 + 1000L)
    ingestPreagg(store, 1L, "miss", day0 + 2000L)
    // an all-repeat batch writes NO catalog dir (memo hit) — and still
    // writes its data rows
    ingestNumeric(store, 3L, "cpu.load", day0 + 4000L)
    assert(batchDirs(store, "numeric") ===
      Seq("batch_id=0", "batch_id=1", "batch_id=2"),
      "a repeat-locator batch must not add a catalog dir")
    val before = catalogRows(store)
    // non-quiesced: numeric has 3 small dirs -> folds 2, spares batch_id=2
    val folded = IngestStream.compactCatalog(spark, store)
    assert(folded.keySet === Set("numeric"),
      "preagg has only 2 dirs, one spared -> below minBatchDirs")
    assert(batchDirs(store, "numeric") ===
      Seq("batch_id=2", s"batch_id=${Retention.CompactIdBase}").sorted)
    assert(catalogRows(store) === before)
    // quiesced: preagg's two dirs fold; numeric's lone small dir stays
    // (a prior compaction is never re-folded, so one small dir is below
    // minBatchDirs — the same O(new files) discipline as compactRaw)
    val folded2 = IngestStream.compactCatalog(spark, store,
      assumeQuiesced = true)
    assert(folded2.keySet === Set("preagg"))
    assert(batchDirs(store, "preagg") ===
      Seq(s"batch_id=${folded2("preagg")}"))
    assert(folded2("preagg") >= Retention.CompactIdBase)
    assert(catalogRows(store) === before)
    // nothing foldable left
    assert(IngestStream.compactCatalog(spark, store,
      assumeQuiesced = true) === Map.empty)
  }

  test("a crash between rename and deletes completes on the next run " +
    "(manifest discipline shared with compactRaw)") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat2").toString
    ingestNumeric(store, 0L, "a.one", day0 + 1000L)
    ingestNumeric(store, 1L, "a.two", day0 + 2000L)
    val before = catalogRows(store)
    val srcRoot = new Path(s"$store/metric_catalog/src=numeric")
    // craft the committed-but-undeleted state: the folded dir landed (the
    // union of both batches re-written under the compact id), manifest
    // still lists the originals
    val newId = Retention.CompactIdBase
    spark.read.option("basePath", srcRoot.toString)
      .parquet(s"$srcRoot/batch_id=0", s"$srcRoot/batch_id=1")
      .groupBy("tenant_id", "metric_name", "family")
      .agg(max("unit").as("unit"))
      .coalesce(1).write.parquet(s"$srcRoot/batch_id=$newId")
    val out = fs.create(new Path(srcRoot, "_compact_manifest"), true)
    out.write(s"$newId\nbatch_id=0\nbatch_id=1".getBytes("UTF-8"))
    out.close()
    // next maintenance run recovers first: originals deleted, view intact
    IngestStream.compactCatalog(spark, store, assumeQuiesced = true)
    assert(batchDirs(store, "numeric") === Seq(s"batch_id=$newId"))
    assert(!fs.exists(new Path(srcRoot, "_compact_manifest")))
    assert(catalogRows(store) === before)
  }

  test("tier-only locators survive a rebuild and block a false " +
    "complete-from-birth marker (raw ages out before the tiers)") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat7").toString
    ingestNumeric(store, 0L, "tiered.metric", day0 + 1000L)
    // age out the RAW day while the 5m tier keeps it (the tier-TTL ladder:
    // coarser tiers outlive raw by design)
    Retention.enforce(spark, store,
      nowMillis = day0 + 86400000L +
        graft.core.Granularity.FULL.retentionMillis + 1000L,
      tables = Map("metrics_full" -> graft.core.Granularity.FULL))
    assert(!fs.exists(new Path(s"$store/metrics_full")))
    assert(fs.exists(new Path(s"$store/metrics_5m")))
    // rebuild derives the locator from the TIER, not just raw tables
    IngestStream.rebuildCatalog(spark, store)
    assert(catalogRows(store).map(_._1) === Seq("tiered.metric"))
    // a fresh catalog on this store must NOT claim complete-from-birth:
    // the tier still names a locator the new catalog has never seen
    fs.delete(new Path(s"$store/metric_catalog"), true)
    ingestNumeric(store, 1L, "new.metric", day0 + 86400000L + 1000L)
    assert(IngestStream.metricCatalog(spark, store).isEmpty,
      "tier-only data must block the virgin-store coverage marker")
  }

  test("a catalog born mid-life is NOT served: reads fail naming " +
    "rebuildCatalog until a rebuild marks coverage") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat5").toString
    // pre-upgrade shape: raw data with no catalog (direct writeRaw)
    val old = Seq(("t1", "old.metric", day0 + 1000L, 1.0))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
      .withColumn("ttl_seconds", lit(null).cast("int"))
      .withColumn("unit", lit("req"))
    IngestStream.writeRaw(old, store, batchId = 0L)
    // post-upgrade ingest creates a catalog that covers ONLY the new batch
    ingestNumeric(store, 1L, "new.metric", day0 + 2000L)
    assert(fs.exists(new Path(s"$store/metric_catalog")),
      "the batch wrote catalog rows")
    assert(IngestStream.metricCatalog(spark, store).isEmpty,
      "an unmarked (partial) catalog must not be served")
    // no read derives the pre-catalog locator: each fails, naming the fix
    val e = intercept[IllegalStateException](
      graft.query.MetricsQueryApi.storeCatalog(spark, store))
    assert(e.getMessage.contains("rebuildCatalog"), e.getMessage)
    assert(intercept[IllegalStateException](graft.core.CatalogSnapshot
      .tenant(spark, store, "t1")).getMessage.contains("rebuildCatalog"))
    // rebuild closes the gap and marks coverage; catalog now serves
    IngestStream.rebuildCatalog(spark, store)
    assert(IngestStream.metricCatalog(spark, store).isDefined)
    assert(catalogRows(store).map(_._1).toSet ===
      Set("old.metric", "new.metric"))
    val names = graft.query.MetricsQueryApi.storeCatalog(spark, store)
      .select("metric_name").collect().map(_.getString(0)).toSet
    assert(names === Set("old.metric", "new.metric"))
    assert(graft.core.CatalogSnapshot.tenant(spark, store, "t1")
      .search("*").map(_.name) === Seq("new.metric", "old.metric"))
  }

  test("facade-style epoch-seeded batch ids fold like any other small dir") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat6").toString
    // the HTTP facade seeds its batch counter at epoch millis (~1.7e12);
    // those dirs must still sit BELOW CompactIdBase or compaction would
    // silently skip every facade-written dir forever
    val epochId = 1723651200000L
    ingestNumeric(store, epochId, "a.one", day0 + 1000L)
    ingestNumeric(store, epochId + 1L, "a.two", day0 + 2000L)
    assert(epochId < Retention.CompactIdBase)
    val before = catalogRows(store)
    val folded = IngestStream.compactCatalog(spark, store,
      assumeQuiesced = true)
    assert(folded.keySet === Set("numeric"))
    assert(batchDirs(store, "numeric") ===
      Seq(s"batch_id=${folded("numeric")}"))
    assert(catalogRows(store) === before)
  }

  test("rebuild re-derives from the data tables: stale locators drop, " +
    "catalog-less stores gain one, kinds and units survive") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat3").toString
    val day1 = day0 + 86400000L
    ingestNumeric(store, 0L, "old.gone", day0 + 1000L)
    ingestNumeric(store, 1L, "live.kept", day1 + 1000L, unit = "ms")
    ingestPreagg(store, 0L, "hits", day1 + 1000L)
    // retention drops old.gone's only day from the data tables; the
    // catalog still lists it (the documented staleness mode)
    Retention.enforce(spark, store,
      nowMillis = day0 + 86400000L +
        graft.core.Granularity.FULL.retentionMillis + 1000L,
      tables = Map("metrics_full" -> graft.core.Granularity.FULL,
        "metrics_5m" -> graft.core.Granularity.FULL))
    assert(catalogRows(store).exists(_._1 == "old.gone"))
    IngestStream.rebuildCatalog(spark, store)
    assert(catalogRows(store) === Seq(
      ("hits", "counter", null),
      ("live.kept", "basic", "ms")))
    // only the rebuild dir remains
    assert(fs.globStatus(
      new Path(s"$store/metric_catalog", "src=*")).map(_.getPath.getName)
      .toSeq === Seq("src=rebuild"))
    // a store that never had a catalog gains one (migration path)
    fs.delete(new Path(s"$store/metric_catalog"), true)
    assert(IngestStream.metricCatalog(spark, store).isEmpty)
    IngestStream.rebuildCatalog(spark, store)
    assert(catalogRows(store).map(_._1) === Seq("hits", "live.kept"))
    // storeCatalog serves from the rebuilt dimension
    val sc = graft.query.MetricsQueryApi.storeCatalog(spark, store)
      .orderBy("metric_name").collect()
      .map(r => (r.getAs[String]("metric_name"), r.getAs[String]("rollup_type")))
    assert(sc.toSeq === Seq(("hits", "counter"), ("live.kept", "basic")))
    // an empty store's rebuild empties the catalog instead of lying
    val empty = java.nio.file.Files.createTempDirectory("graft_cat4").toString
    IngestStream.rebuildCatalog(spark, empty)
    assert(IngestStream.metricCatalog(spark, empty).isEmpty)
  }
}

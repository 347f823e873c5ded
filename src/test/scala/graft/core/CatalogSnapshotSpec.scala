package graft.core

import graft.SparkSuite
import graft.operators.Discovery
import graft.query.MetricsQueryApi
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[CatalogSnapshot]] to the relational discovery it replaces on the
  * read path: over generated catalogs, snapshot glob resolution equals
  * `Discovery.globSearch(storeCatalog(...))` row for row (order included)
  * and browse equals `Discovery.metricNameBrowse` — across `{a,b}`
  * alternation, escaped metacharacters, astral and U+E000+ characters
  * (where UTF-16 and UTF-8 order differ), multi-family locators and the
  * O2 batch-cap boundary. */
class CatalogSnapshotSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // astral (U+1F600, a surrogate pair) vs private-use U+E000 / U+FFFD:
  // Java's String order puts the astral char first, Spark's puts it last
  private val astral = new String(Character.toChars(0x1F600))
  private val tokens = Seq("a", "ab", "b", "svc", "x*y", "p,q", "c{d",
    "café", "", "\uE000", "\uFFFD", astral, s"z$astral", "a-b", "7")
  private val units = Seq[String](null, "ms", "req", "\uE000u", s"${astral}u",
    "\uFFFDu")
  private val families = Seq("basic", "counter", "gauge", "string")

  /** A catalog written batch by batch in the ingest layout, with the
    * `_complete` coverage marker: every (tenant, name, family, unit) row
    * generated from `seed`, some names under two families, some rows
    * repeated across batches with other units. */
  private def generatedStore(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val names = Seq.fill(120)(
      Seq.fill(1 + rnd.nextInt(3))(pick(tokens)).mkString(".")).distinct
    val rows = names.flatMap { n =>
      val fams = if (rnd.nextInt(5) == 0) Seq(pick(families), pick(families))
                 else Seq(pick(families))
      fams.flatMap(f => Seq.fill(1 + rnd.nextInt(2))(
        (pick(Seq("t1", "t1", "t2")), n, f, pick(units))))
    }
    val store = java.nio.file.Files.createTempDirectory("graft_csnap").toString
    rows.grouped(40).zipWithIndex.foreach { case (batch, i) =>
      batch.toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
        .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=$i")
    }
    fs.create(new Path(s"$store/metric_catalog/_complete"), true).close()
    store
  }

  private def globsFor(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed * 31)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val esc = tokens.map(GlobPattern.escapeLiteral)
    Seq("*", "*.*", "a*", "?", "?.*", "[ab]*", "[!a]*", "*b", "svc.*",
      "{a,b}.*", "{a,ab}", "{a,{b,ab}}.*", "{[ab],svc}*", "a{,b}", "{}*",
      s"$astral*", "\uE000*", "*\uFFFD*") ++
      Seq.fill(12)(pick(esc) + pick(Seq("", "*", ".*", "?", "*.*"))) ++
      Seq.fill(8)(s"{${pick(esc)},${pick(esc)}}" + pick(Seq("", ".*", "*"))) ++
      Seq.fill(6)(Seq.fill(2)(pick(esc)).mkString("\\."))
  }

  test("snapshot glob search equals Discovery.globSearch(storeCatalog) " +
    "row for row, order, units and min family included") {
    for (seed <- Seq(1L, 2L)) {
      val store = generatedStore(seed)
      val catalog = MetricsQueryApi.storeCatalog(spark, store).cache()
      val rollupType = catalog.collect().map(r =>
        (r.getAs[String]("tenant_id"), r.getAs[String]("metric_name")) ->
          r.getAs[String]("rollup_type")).toMap
      for (tenant <- Seq("t1", "t2", "nobody");
           glob <- globsFor(seed)) {
        val want = Discovery.globSearch(catalog, tenant, glob).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        val snap = CatalogSnapshot.tenant(spark, store, tenant)
        val got = snap.search(glob)
        assert(got.map(l => (l.name, l.unit)) === want,
          s"seed $seed tenant $tenant glob '$glob'")
        assert(got.forall(l => rollupType((tenant, l.name)) == l.family),
          s"min(family) differs for glob '$glob'")
        // the limit keeps the first rows in name order
        assert(snap.search(glob, 3) === got.take(3))
      }
      catalog.unpersist()
    }
  }

  test("snapshot browse equals Discovery.metricNameBrowse") {
    for (seed <- Seq(3L, 4L)) {
      val store = generatedStore(seed)
      val catalog = MetricsQueryApi.storeCatalog(spark, store)
      val queries = Seq("*", "a.*", "*.*", "a*.*", "{a,ab}.*", "svc.*.*",
        s"$astral.*", "\uE000.*", GlobPattern.escapeLiteral("x*y") + ".*",
        GlobPattern.escapeLiteral("p,q") + ".*", "?", "*.*.*")
      for (tenant <- Seq("t1", "t2"); q <- queries) {
        val want = Discovery.metricNameBrowse(catalog, tenant, q).collect()
          .map(r => (r.getString(0), r.getBoolean(1))).toSeq
        val got = CatalogSnapshot.tenant(spark, store, tenant).browse(q)
        // Spark orders by name only, so a name that is both complete and a
        // parent may come in either order: compare names in order, and rows
        assert(got.map(_._1) === want.map(_._1), s"tenant $tenant query '$q'")
        assert(got.toSet === want.toSet, s"tenant $tenant query '$q'")
      }
    }
  }

  test("a locator cataloged under two families: search keeps min(family) " +
    "and max(unit); the family view and familiesOf see both") {
    val store = java.nio.file.Files.createTempDirectory("graft_csnap2").toString
    Seq(("t1", "svc.lat", "gauge", "ms"), ("t1", "svc.lat", "counter", "s"),
      ("t1", "svc.lat", "counter", null))
      .toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
      .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=0")
    fs.create(new Path(s"$store/metric_catalog/_complete"), true).close()
    val snap = CatalogSnapshot.tenant(spark, store, "t1")
    assert(snap.search("svc.*") ===
      Seq(CatalogSnapshot.Locator("svc.lat", "s", "counter")))
    assert(snap.search("svc.*", family = Some("gauge")) ===
      Seq(CatalogSnapshot.Locator("svc.lat", "ms", "gauge")))
    assert(snap.familiesOf("svc.lat") === Set("counter", "gauge"))
    assert(snap.familiesOf("svc.la") === Set.empty)
    val want = Discovery.globSearch(MetricsQueryApi.storeCatalog(spark, store),
      "t1", "svc.*").collect().map(r => (r.getString(0), r.getString(1)))
    assert(want.toSeq === Seq(("svc.lat", "s")))
  }

  test("the O2 cap boundary: maxBatch names resolve, maxBatch + 1 refuse") {
    val cap = MetricsQueryApi.MaxMetricsPerBatchQuery
    val store = java.nio.file.Files.createTempDirectory("graft_csnap3").toString
    (0 to cap).map(i => ("t1", f"cap.n$i%03d", "basic", "ms"))
      .toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
      .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=0")
    fs.create(new Path(s"$store/metric_catalog/_complete"), true).close()
    val snap = CatalogSnapshot.tenant(spark, store, "t1")
    assert(snap.search("cap.*", cap + 1).size === cap + 1)
    assert(snap.search("cap.n0*", cap + 1).size === cap)
    assert(Discovery.globSearch(MetricsQueryApi.storeCatalog(spark, store),
      "t1", "cap.*").count() === cap + 1)
    def read(glob: String) = MetricsQueryApi.getRollupsStored(spark, store,
      MetricsQueryApi.Params("t1", glob, "1704067200", "1704070800",
        resolution = Some(Granularity.MIN_5)), nowMillis = 1704070800000L)
    val e = intercept[IllegalArgumentException](read("cap.*"))
    assert(e.getMessage.contains(s"resolves > $cap metrics"))
    // exactly at the cap resolves (the store has no data: an empty frame)
    assert(read("cap.n0*").collect().isEmpty)
  }

  test("without a _complete catalog, a store with no data serves empty " +
    "and a store with data fails naming rebuildCatalog") {
    val store = java.nio.file.Files.createTempDirectory("graft_csnap4").toString
    def read() = MetricsQueryApi.getRollupsStored(spark, store,
      MetricsQueryApi.Params("t1", "*", "1704067200", "1704070800",
        resolution = Some(Granularity.MIN_5)), nowMillis = 1704070800000L)
    // empty store: an empty tenant, an empty catalog, an empty read
    assert(CatalogSnapshot.tenant(spark, store, "t1").size === 0)
    assert(MetricsQueryApi.storeCatalog(spark, store).collect().isEmpty)
    assert(read().collect().isEmpty)
    // unmarked catalog rows over no data: still nothing to cover
    Seq(("t1", "a", "basic", "ms"))
      .toDF("tenant_id", "metric_name", "family", "unit").coalesce(1)
      .write.parquet(s"$store/metric_catalog/src=numeric/batch_id=0")
    assert(CatalogSnapshot.tenant(spark, store, "t1").size === 0)
    // data the catalog does not cover: every library read fails loudly
    graft.streaming.IngestStream.writeRaw(
      Seq(("t1", "a", 1704067200000L, 1.0, 86400, "ms")).toDF("tenant_id",
        "metric_name", "ts_ms", "value", "ttl_seconds", "unit"), store, 0L)
    for (e <- Seq(
        intercept[IllegalStateException](CatalogSnapshot.tenant(spark, store, "t1")),
        intercept[IllegalStateException](MetricsQueryApi.storeCatalog(spark, store)),
        intercept[IllegalStateException](read())))
      assert(e.getMessage.contains("IngestStream.rebuildCatalog"), e.getMessage)
    fs.create(new Path(s"$store/metric_catalog/_complete"), true).close()
    assert(CatalogSnapshot.tenant(spark, store, "t1").size === 1)
    assert(read().collect().map(_.getAs[String]("metric_name")).toSet ===
      Set("a"))
  }
}

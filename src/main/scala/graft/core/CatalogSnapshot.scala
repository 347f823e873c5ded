package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.util.concurrent.ConcurrentHashMap

/** Process-local, per-(store, tenant) snapshot of the persisted locator
  * catalog (`<store>/metric_catalog`, written by
  * [[graft.streaming.IngestStream]]) — the facade's analog of the
  * reference's in-memory locator cache in front of its discovery index.
  * A dashboard refresh resolves the same globs against a catalog that has
  * not changed since the last refresh; with the snapshot, glob resolution,
  * the O2 batch cap, per-metric default stats, family routing and browse
  * all run driver-side with ZERO Spark jobs once a tenant is loaded.
  *
  * Content: one row per distinct (metric_name, family) with the max
  * ingested unit — exactly `IngestStream.metricCatalog`'s aggregate —
  * sorted by name then family in Spark's string order (unsigned UTF-8
  * bytes, [[compareUtf8]]). The `storeCatalog` view (one row per name,
  * `max(unit)`, `min(family)`) is derived per name from consecutive rows.
  *
  * Generation: the catalog's FENCE is the set of `src=<s>/batch_id=<n>` leaf
  * dirs with their mtimes, the `_complete` file's mtime and the root's
  * `_version` stamp — stat'd on EVERY request (one glob + two stats, the
  * listing a `hasParquetData(metric_catalog)` probe already makes). Any
  * catalog write adds a leaf dir or rewrites one (moving its mtime);
  * compaction and rebuild add and delete leaves; rebuild also bumps
  * `_version`. So an append, compaction or rebuild by ANY process —
  * through the facade's lock or not — is visible at the next request. A
  * generation is valid exactly while its fence is unchanged
  * ([[SnapshotStore]]'s "Memo fences" gives the argument); a fence change
  * starts a new generation whose tenants load lazily: the first request
  * for a tenant runs one tenant-filtered Spark read.
  *
  * This is the ONE locator source of every store read: a store with no
  * `_complete` catalog holding parquet data serves an empty tenant while
  * it holds no locator-bearing data (a virgin store — its first batch
  * writes the catalog and the marker), and fails loudly once it does
  * ([[requireCovered]]; the facade runs [[graft.streaming.IngestStream
  * .rebuildCatalog]] at open, so it never reaches that state). */
object CatalogSnapshot {

  /** One resolved locator as discovery and the read path see it. */
  final case class Locator(name: String, unit: String, family: String)

  /** Spark's string order — unsigned UTF-8 bytes, i.e. code point order —
    * without encoding. Java's `String.compareTo` compares UTF-16 code
    * units, where surrogates (astral code points) sort BELOW
    * U+E000..U+FFFF; shifting both ranges restores code point order.
    * Exact for well-formed strings, which every string Spark hands back
    * is (it stores UTF-8). */
  private[graft] def compareUtf8(a: String, b: String): Int = {
    def cp(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x != y) return cp(x) - cp(y)
      i += 1
    }
    a.length - b.length
  }

  /** Spark's `max` over a string column: nulls ignored, UTF-8 order. */
  private def maxUtf8(a: String, b: String): String =
    if (a == null) b else if (b == null || compareUtf8(a, b) >= 0) a else b

  /** A tenant's catalog rows, sorted by (name, family) in UTF-8 order. */
  final class Tenant private[CatalogSnapshot] (names: Array[String],
      families: Array[String], units: Array[String]) {

    def size: Int = names.length

    /** Index of the first row whose name is not below `name`. */
    private def lowerBound(name: String): Int = {
      var lo = 0
      var hi = names.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareUtf8(names(mid), name) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Spark's `rlike`: an unanchored `find` of the anchored regex. */
    private def matcher(glob: String): String => Boolean = {
      val re = java.util.regex.Pattern.compile(GlobPattern.toAnchoredRegex(glob))
      s => re.matcher(s).find()
    }

    /** Names matching `glob`, in name order, at most `limit` of them.
      * `family = None` is the `storeCatalog` view — one locator per name
      * with `max(unit)` and `min(family)`; `Some(f)` keeps only the
      * names cataloged under `f`, with that family's unit. Equals
      * `Discovery.globSearch(storeCatalog(...))` row for row. */
    def search(glob: String, limit: Int = Int.MaxValue,
        family: Option[String] = None): IndexedSeq[Locator] = {
      val hit = matcher(glob)
      val out = IndexedSeq.newBuilder[Locator]
      var n = 0
      var i = 0
      // one linear pass over the sorted names, stopping at `limit` matches;
      // a name's rows are consecutive: group them, then match once
      while (i < names.length && n < limit) {
        var j = i + 1
        while (j < names.length && names(j) == names(i)) j += 1
        if (hit(names(i))) {
          val loc = family match {
            case None =>
              Some(Locator(names(i), (i until j).map(units(_)).reduce(maxUtf8),
                families(i)))
            case Some(f) =>
              (i until j).find(families(_) == f)
                .map(k => Locator(names(i), units(k), f))
          }
          loc.foreach { l => out += l; n += 1 }
        }
        i = j
      }
      out.result()
    }

    /** Every family `name` is cataloged under. */
    def familiesOf(name: String): Set[String] = {
      val from = lowerBound(name)
      (from until names.length).takeWhile(names(_) == name)
        .map(families(_)).toSet
    }

    /** Next-level browse — `Discovery.metricNameBrowse`'s rows: the
      * distinct (first baseLevel+1 tokens, is that the whole name) pairs
      * whose token prefix matches `query`, ordered by name (then
      * incomplete before complete). */
    def browse(query: String): IndexedSeq[(String, Boolean)] = {
      val level = query.count(_ == '.') + 1
      val hit = matcher(query)
      val seen = scala.collection.mutable.HashSet.empty[(String, Boolean)]
      names.indices.foreach { i =>
        if (i == 0 || names(i) != names(i - 1)) {
          val parts = names(i).split("\\.", -1)
          if (parts.length >= level) {
            val prefix = parts.iterator.take(level).mkString(".")
            if (hit(prefix)) seen += (prefix -> (parts.length == level))
          }
        }
      }
      seen.toIndexedSeq.sortWith { case ((a, x), (b, y)) =>
        val c = compareUtf8(a, b)
        c < 0 || (c == 0 && !x && y)
      }
    }
  }

  private val CatalogSchema = StructType(Seq("tenant_id", "metric_name",
    "family", "unit").map(StructField(_, StringType)))

  /** One catalog generation: the fence it was taken at and its tenants,
    * each loaded on first use. `servable = false` marks a store whose
    * catalog lacks coverage or data — no tenant ever loads. */
  private final class Generation(val fence: (Seq[(String, Long)], Long),
      val servable: Boolean) {
    val tenants = new ConcurrentHashMap[String, Tenant]()
  }
  private val generations = new ConcurrentHashMap[String, Generation]()

  /** The catalog's fence: every `src=<s>/batch_id=<n>` leaf dir and the
    * `_complete` file, each with its mtime (an absent marker is simply
    * missing from the list), and the root's `_version` stamp. */
  private def fenceOf(fs: FileSystem, root: Path): (Seq[(String, Long)], Long) = {
    val leaves = Option(fs.globStatus(new Path(root, "src=*/batch_id=*")))
      .getOrElse(Array.empty).toSeq
      .map(s => s.getPath.toString -> s.getModificationTime)
    val complete =
      try Seq("_complete" ->
        fs.getFileStatus(new Path(root, "_complete")).getModificationTime)
      catch { case _: java.io.FileNotFoundException => Nil }
    (leaves.sorted ++ complete, SnapshotStore.versionStamp(fs, root))
  }

  private val emptyTenant = new Tenant(Array.empty, Array.empty, Array.empty)

  /** `storeDir`'s current catalog generation, keyed by the qualified
    * catalog root; a fence change starts a new one. */
  private def generation(spark: SparkSession,
      storeDir: String): (String, Generation) = {
    val root0 = new Path(s"$storeDir/metric_catalog")
    val fs = root0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(root0)
    val key = root.toString
    val fence = fenceOf(fs, root)
    key -> Option(generations.get(key)).filter(_.fence == fence)
      .getOrElse {
        val g = new Generation(fence,
          fence._1.exists(_._1 == "_complete") &&
            SnapshotStore.hasVisibleParquet(fs, root))
        generations.put(key, g)
        g
      }
  }

  /** Whether `storeDir` holds locator-bearing data that no servable
    * `_complete` catalog covers — a store written before the catalog
    * existed, or by raw [[graft.streaming.IngestStream.writeRaw]]. */
  def uncovered(spark: SparkSession, storeDir: String): Boolean =
    !generation(spark, storeDir)._2.servable &&
      graft.streaming.IngestStream.storeHasData(spark, storeDir)

  /** Fails, naming the remedy, when `storeDir` is [[uncovered]]. */
  def requireCovered(spark: SparkSession, storeDir: String): Unit =
    if (uncovered(spark, storeDir)) throw notCovered(storeDir)

  private def notCovered(storeDir: String) = new IllegalStateException(
    s"store $storeDir holds data its metric_catalog does not cover " +
      "(no _complete marker): run IngestStream.rebuildCatalog on it " +
      "once before serving it")

  /** The tenant's snapshot of `storeDir`'s catalog — empty for a store
    * that holds no data yet; fails ([[requireCovered]]) for one whose
    * data no complete catalog covers. Validates the fence first, so the
    * result reflects every catalog write committed before this call. */
  def tenant(spark: SparkSession, storeDir: String,
      tenantId: String): Tenant = {
    val (key, gen) = generation(spark, storeDir)
    if (!gen.servable) {
      if (graft.streaming.IngestStream.storeHasData(spark, storeDir))
        throw notCovered(storeDir)
      return emptyTenant
    }
    Option(gen.tenants.get(tenantId)) match {
      case Some(t) =>
        Instrumentation.global.inc("store.catalog.cache_hits")
        t
      case None =>
        // computed outside the map: a racing request may load the same
        // tenant twice, never block other tenants behind a Spark read
        val t = load(spark, key, tenantId)
        Instrumentation.global.inc("store.catalog.resolutions")
        Option(gen.tenants.putIfAbsent(tenantId, t)).getOrElse(t)
    }
  }

  /** One tenant-filtered read of the catalog (the explicit schema skips
    * the schema-inference job), aggregated driver-side exactly as
    * `metricCatalog` does: `max(unit)` per (name, family). */
  private def load(spark: SparkSession, root: String,
      tenantId: String): Tenant = {
    val rows = spark.read.schema(CatalogSchema).parquet(root)
      .filter(col("tenant_id") === tenantId && col("metric_name").isNotNull)
      .select("metric_name", "family", "unit")
      .collect()
    // share one String per distinct family/unit value across rows
    val pool = new java.util.HashMap[String, String]()
    def intern(s: String): String =
      if (s == null) null else { val p = pool.putIfAbsent(s, s); if (p == null) s else p }
    val byKey = new java.util.HashMap[(String, String), String]()
    rows.foreach { r =>
      val k = (r.getString(0), intern(r.getString(1)))
      byKey.put(k, maxUtf8(byKey.get(k), intern(r.getString(2))))
    }
    val keys = new Array[(String, String)](byKey.size)
    byKey.keySet.toArray(keys)
    java.util.Arrays.sort(keys, (a: (String, String), b: (String, String)) => {
      // a null family sorts last, so a name's first row carries Spark's
      // min(family), which skips nulls
      val c = compareUtf8(a._1, b._1)
      if (c != 0) c
      else if (a._2 == null) (if (b._2 == null) 0 else 1)
      else if (b._2 == null) -1
      else compareUtf8(a._2, b._2)
    })
    new Tenant(keys.map(_._1), keys.map(_._2), keys.map(byKey.get))
  }
}

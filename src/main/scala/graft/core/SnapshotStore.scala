package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Reader-vs-rewrite atomicity for day-partitioned serving tables — the
  * generation/manifest gate the compaction subsystem's discipline
  * ([[graft.operators.Retention.compactRaw]]'s crash-safe manifest)
  * applied to the rollup tiers that dirty-day re-rolls rewrite IN PLACE.
  *
  * Why: Spark's dynamic partition overwrite commits by DELETING each
  * touched `ts_day=` directory and renaming the staged one in. A
  * concurrent read (a `/render` panel racing the ingest cascade) that
  * lists the table in that window sees a missing or partial day — silently
  * — and one that listed before the delete fails on vanished files. The
  * reference never had this failure mode: its Cassandra writes are
  * row-atomic (io/datastax/DMetricsCFPreparedStatements.java:39 in
  * rax-maas/blueflood), so a slot re-roll replaced values cell by cell
  * under reader isolation. A plain-parquet store needs an explicit commit
  * protocol instead. (Production deployments on object stores typically
  * reach for a table format — Delta/Iceberg — whose manifests give the
  * same guarantee; this is the same idea reduced to the two properties the
  * ladder needs: per-day atomic swap, bounded reader grace.)
  *
  * Layout: `<root>/ts_day=<D>/gen=<N>/part-*.parquet`. Both levels are
  * ordinary `key=value` partition directories, so `ts_day` stays a
  * partition column with full pruning; `gen` is resolved AT PLANNING TIME
  * and never reaches query schemas.
  *
  * Write protocol ([[publish]]): the new slice lands fully in a hidden
  * `.staging-<uuid>` dir (invisible to discovery), then each day COMMITS
  * by ONE atomic directory rename to `ts_day=D/gen=<max+1>` — no live file
  * is ever deleted or replaced by the commit itself. Superseded
  * generations are retained for a READER GRACE window (below) before GC,
  * so a reader that resolved its snapshot just before the swap keeps
  * reading intact files.
  *
  * Read protocol ([[read]]): list each day's generations (driver-side
  * metadata, one listing per day), pick the highest generation that
  * actually holds a parquet file (a parquet-less husk from a crash falls
  * back to the previous complete generation), and plan over exactly those
  * leaf directories (`basePath` keeps `ts_day` a partition column). The
  * resolved file set is immutable for the lifetime of the plan. Callers
  * that know their day range pass it (`days`) so resolution lists ONLY the
  * overlapping day dirs — planning cost scales with the QUERY, not the
  * table's retention age (the 1440m tier retains ~1825 days; a 1-hour
  * dashboard panel must not pay thousands of metadata RPCs). A serving hot
  * loop additionally opts into the process-local resolution memo
  * (`useCache = true`): one full resolution is cached per fence — the root
  * dir's mtime and the `_version` file every publish rewrites — and is
  * valid exactly while that fence is unchanged (see "Memo fences" below).
  * [[invalidate]] drops it in process.
  *
  * Guarantees (stated precisely; AtomicServeSpec races them):
  *  - a read NEVER sees a torn day: every day it serves is one complete
  *    generation — the unit of consistency is the day, matching the
  *    reference's per-row (per-slot) atomicity;
  *  - a multi-day read may span generations across DAYS (day A new, day B
  *    old) while a publish is in flight — each day still self-consistent,
  *    exactly the guarantee concurrent Cassandra slot rewrites gave;
  *  - an in-flight read survives ANY number of subsequent publishes of
  *    the days it touches for `readerGraceMs` (default 15 min,
  *    `SPARK_GRAFT_SNAPSHOT_GRACE_MS`) after its generation is
  *    superseded: GC deletes a generation only when its SUCCESSOR was
  *    committed at least the grace ago, and the immediately previous
  *    generation is retained unconditionally. A read slower than the
  *    grace can still fail LOUDLY (FileNotFound on the GC'd generation)
  *    — never silently;
  *  - single writer per table (the ingest stream's sequential
  *    foreachBatch / the facade's write lock); generation numbering is not
  *    CAS-protected against concurrent publishers;
  *  - a crash mid-publish leaves committed days at the new generation and
  *    the rest at the old (each self-consistent) plus a leaked staging dir
  *    that the next publish clears before writing.
  *
  * Tables never published through here (a fresh store, or the raw
  * batch-dir tables, which only ever gain whole new `batch_id=` dirs and
  * need no swap) read through the plain-layout fallback unchanged. A
  * pre-existing PLAIN table is migrated by the first publish
  * ([[ensureGenLayout]] wraps loose day files into `gen=0` — metadata-only
  * renames, to be run with serving paused, once).
  *
  * Memo fences. The read path's three metadata memos — this resolution
  * memo, [[graft.core.CatalogSnapshot]] and
  * [[graft.query.MetricsQueryApi.rawTable]] — each keep an entry exactly
  * while its fence is unchanged, with no clock. Each fence is a listing
  * plus the root's `_version` stamp ([[versionStamp]]): a tier's root dir
  * mtime; the catalog's `src=<s>/batch_id=<n>` leaves with their mtimes and
  * its `_complete` marker; a raw table's `batch_id=*` dirs with their
  * mtimes. No backstop is needed, because every write moves a fence:
  *  - every writer of a store is serialized under its writer lease;
  *  - a compaction, catalog rebuild, batch commit or replay changes the
  *    leaf path set or a leaf's mtime;
  *  - every other change — a publish into an existing day, a retention
  *    drop ([[graft.operators.Retention.enforce]]), a catalog rebuild —
  *    bumps `_version` ([[bumpVersion]]), and a failed bump throws;
  *  - successive bumps of one table are separated by a parquet write or a
  *    retention pass, so they never share a millisecond mtime;
  *  - a replay rewrites identical rows.
  * The one change no fence sees is an in-place rewrite within the
  * millisecond of the previous one, which the single-writer rule
  * excludes. Object stores with fake dir mtimes need their own committer
  * anyway (docs/SCALE.md). */
object SnapshotStore {

  private val GenRe = "^gen=(\\d+)$".r

  /** How long a superseded generation stays on disk before GC — the
    * reader grace. Must exceed the slowest expected read (a heavy render
    * panel); publishes faster than the grace simply accumulate
    * generations until they age out. */
  def defaultReaderGraceMs: Long =
    sys.env.get("SPARK_GRAFT_SNAPSHOT_GRACE_MS").map(_.toLong)
      .getOrElse(15L * 60 * 1000)

  // ---- process-local resolution memo ---------------------------------
  // a cached resolution is valid exactly while its fence is unchanged
  private final case class Resolved(fence: (Long, Long), state: State)
  private val memo = new ConcurrentHashMap[String, Resolved]()
  // the constructed full-winners DataFrame per (resolution, session):
  // reusing the frame reuses its file index, so a cache hit pays ZERO
  // listings at plan time (a fresh spark.read would re-list every leaf
  // dir's files per query — the dominant planning cost on object
  // stores). The frame is immutable for the resolution's lifetime, which
  // is exactly the snapshot guarantee.
  private val dfMemo =
    new ConcurrentHashMap[String, (Resolved, SparkSession, DataFrame)]()

  // per-root resolution tally (tests assert "one resolution per publish
  // generation" without racing the process-global Instrumentation keys)
  private val resolutionCounts = new ConcurrentHashMap[String, AtomicLong]()
  private def countResolution(k: String): Unit = {
    resolutionCounts.computeIfAbsent(k, _ => new AtomicLong(0L)).incrementAndGet()
    Instrumentation.global.inc("store.snapshot.resolutions")
  }
  private[graft] def resolutionsOf(root: String): Long =
    Option(resolutionCounts.get(rootKey(root))).map(_.get()).getOrElse(0L)

  private sealed trait State
  /** Plain (never-published) layout: ordinary discovery read; `days` are
    * the `ts_day=` dirs holding data files (empty when the table is not
    * day-partitioned). */
  private final case class Plain(days: Set[Long]) extends State
  /** No data files at all. */
  private case object Absent extends State
  /** Winning generation dir per day (dayName → leaf dir path). */
  private final case class Winners(byDay: Seq[(String, String)]) extends State

  private def rootKey(root: String): String = new Path(root).toString

  /** Drop this process's cached resolution for `root`, so the next
    * memoized read resolves afresh — called by every [[publish]] and by
    * retention's day drops, which also bump the cross-process fence. */
  def invalidate(root: String): Unit = {
    val k = rootKey(root)
    memo.remove(k)
    dfMemo.remove(k)
    ()
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Cross-process fence file: a tiny `_version` file at a table or
    * catalog root, rewritten after every write no listing shows (see the
    * class doc). Dir mtimes move only on direct-child creation/deletion (a
    * publish into an EXISTING day creates no direct child) and are
    * fake/zero on object stores, while a freshly PUT object carries a
    * real timestamp everywhere. */
  private def versionFile(root: Path) = new Path(root, "_version")

  /** Rewrite `root`'s `_version` file, so every memo fenced on it sees the
    * write at its next request — the one writer of a `_version` file.
    * Runs after the write it announces is committed, and throws if it
    * cannot: with no clock behind the fences, a lost bump would leave
    * other processes' memos on the old state until the table's next
    * write. */
  private[graft] def bumpVersion(fs: FileSystem, root: Path): Unit =
    try {
      val out = fs.create(versionFile(root), true)
      try out.write(java.util.UUID.randomUUID().toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: java.io.IOException => throw new java.io.IOException(
        s"$root: the write is already committed, but its _version fence " +
          "could not be bumped, so other processes' read memos will not " +
          "see it until the next write", e)
    }

  /** `root`'s `_version` file mtime; 0 while it has none. */
  private[graft] def versionStamp(fs: FileSystem, root: Path): Long =
    try fs.getFileStatus(versionFile(root)).getModificationTime
    catch { case _: java.io.FileNotFoundException => 0L }

  /** The memo fence for a tier `root`: (root DIR mtime, `_version`
    * stamp). The dir mtime catches direct-child mutations (a day dir
    * deleted or created without [[publish]] — the PreaggStoredReadSpec
    * shape); the stamp catches publishes into EXISTING days, which move
    * no dir mtime at all. */
  private def fenceOf(fs: FileSystem, root: Path): (Long, Long) =
    (fs.getFileStatus(root).getModificationTime, versionStamp(fs, root))

  private def dayDirs(fs: FileSystem, root: Path) =
    if (!fs.exists(root)) Array.empty[Path]
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ts_day="))
      .map(_.getPath)

  /** (generation number, dir) pairs under one day dir, unsorted. */
  private def gens(fs: FileSystem, dayDir: Path): Array[(Long, Path)] =
    fs.listStatus(dayDir).flatMap { s =>
      s.getPath.getName match {
        case GenRe(n) if s.isDirectory => Some((n.toLong, s.getPath))
        case _ => None
      }
    }

  private def hasParquetFile(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** Whether `root` holds a parquet file Spark's discovery would read, up
    * to two partition levels down. Hadoop globs MATCH dot-dirs while
    * Spark's discovery ignores them, so a file under a hidden (`.`/`_`)
    * component BELOW the root — a `.staging-*` leaked by a crashed or
    * lease-rejected publish — does not count. Globs return qualified
    * paths, so the root's own components are stripped in QUALIFIED form:
    * a store under a `_`-prefixed ancestor still has data. */
  private[graft] def hasVisibleParquet(fs: FileSystem, root: Path): Boolean = {
    val rootStr = fs.makeQualified(root).toString
    Seq("*.parquet", "*/*.parquet", "*/*/*.parquet").exists(g =>
      Option(fs.globStatus(new Path(root, g))).exists(_.exists { st =>
        !st.getPath.toString.stripPrefix(rootStr).split("/").exists(c =>
          c.startsWith(".") || c.startsWith("_"))
      }))
  }

  /** Wrap any plain (pre-generation) day dirs into `gen=0` so the table
    * never mixes layouts (partition discovery cannot span depths). Loose
    * files are MOVED (metadata-only renames); this is the one non-atomic
    * step in the protocol and only ever runs on a table written before the
    * snapshot discipline existed — run the first publish against such a
    * table with serving paused. */
  private def ensureGenLayout(fs: FileSystem, root: Path): Unit =
    for (day <- dayDirs(fs, root) if gens(fs, day).isEmpty) {
      val loose = fs.listStatus(day).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      if (loose.nonEmpty) {
        val g0 = new Path(day, "gen=0")
        fs.mkdirs(g0)
        loose.foreach(f => fs.rename(f.getPath, new Path(g0, f.getPath.getName)))
      }
    }

  /** Publish `df` (which must carry a non-null `ts_day` column) into
    * `root`: stage fully, then commit each day by one atomic rename to its
    * next generation, retaining superseded generations for
    * `readerGraceMs` (see class doc). Only days PRESENT in `df` are
    * touched (dynamic-overwrite semantics); `replaceAll = true`
    * additionally deletes live days absent from `df` (static full-rebuild
    * semantics). Returns the committed day values. */
  def publish(df: DataFrame, root: String, replaceAll: Boolean = false,
      readerGraceMs: Long = defaultReaderGraceMs): Seq[Long] =
    commitStaged(df.sparkSession, stageOnly(df, root), root, replaceAll,
      readerGraceMs)

  /** Phase 1 of [[publish]]: write `df` fully into a hidden staging dir
    * under `root` and validate its day names — the EXPENSIVE part (the
    * Spark job), with zero visibility to readers. Returns the staging
    * path for [[commitStaged]]/[[abortStaged]]. The split is [[publish]]'s
    * own internal two-phase structure, exposed so tests can exercise crash
    * points between the phases; no production caller overlaps staging with
    * other work — a fused-ingest design that staged the re-rolled tier
    * concurrently with the raw write was MEASURED SLOWER (extra AQE
    * scheduling rounds, unpruned store read) and dropped (docs/SCALE.md,
    * r12 failed levers). */
  def stageOnly(df: DataFrame, root: String): Path = {
    val spark = df.sparkSession
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    fs.mkdirs(rootPath)
    // a crashed prior publish can only have leaked staging (commits are
    // per-day renames that either happened or didn't) — clear it first;
    // single-writer, so nothing live is ever named .staging-*
    Option(fs.globStatus(new Path(rootPath, ".staging-*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, true))
    val staging =
      new Path(rootPath, s".staging-${java.util.UUID.randomUUID().toString}")
    // the staging dir is committed by ONE rename afterwards, so the
    // file-committer's own crash guarantees are redundant here: v2
    // (direct task commit) + no _SUCCESS marker skip a whole
    // rename-per-partition pass — measured ~100 ms per publish locally,
    // more on object stores
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy("ts_day").parquet(staging.toString)
    // validate EVERY staged day name BEFORE the first commit rename: a
    // null ts_day stages as ts_day=__HIVE_DEFAULT_PARTITION__ and must be
    // an input-validation failure, not a partial publish
    val badDays = dayDirs(fs, staging).map(_.getName)
      .filter(_.stripPrefix("ts_day=").toLongOption.isEmpty)
    if (badDays.nonEmpty) {
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"publish to $root: non-numeric ts_day partition(s) " +
          s"${badDays.mkString(", ")} — ts_day must be a non-null day " +
          "epoch-ms; nothing was committed")
    }
    staging
  }

  /** Drop an un-committed staging dir (phase-1 output whose commit was
    * abandoned — e.g. the raw write it was ordered behind failed). */
  def abortStaged(spark: SparkSession, staging: Path): Unit = {
    val fs = fsOf(spark, staging)
    fs.delete(staging, true)
    ()
  }

  /** Phase 2 of [[publish]]: commit a [[stageOnly]] staging dir — one
    * atomic rename per day plus reader-grace GC, all metadata-cheap. */
  def commitStaged(spark: SparkSession, staging: Path, root: String,
      replaceAll: Boolean = false,
      readerGraceMs: Long = defaultReaderGraceMs): Seq[Long] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    // multi-writer fencing: if the table's parent store carries a
    // _writer_lock, this process must hold the live lease whose token
    // matches the file — a superseded writer fails HERE, before any
    // rename, never silently interleaving generations (WriterLease doc)
    WriterLease.verifyForTable(spark, rootPath)
    val staged = dayDirs(fs, staging)
    ensureGenLayout(fs, rootPath)
    val nowMs = System.currentTimeMillis()
    val committed = staged.map { sd =>
      val dayName = sd.getName
      val dayDir = new Path(rootPath, dayName)
      fs.mkdirs(dayDir)
      val existing = gens(fs, dayDir).sortBy(_._1)
      val g = if (existing.isEmpty) 0L else existing.last._1 + 1L
      // COMMIT POINT for this day: one atomic directory rename — no live
      // file is deleted or replaced
      val genDir = new Path(dayDir, s"gen=$g")
      require(fs.rename(sd, genDir),
        s"snapshot commit rename failed for $dayDir gen=$g")
      // stamp COMMIT time on the gen dir: rename preserves the staged
      // dir's own mtime (set when its write FINISHED), so a publish with
      // a long staging phase would otherwise date the supersede early and
      // shorten the grace slow readers were promised. Best-effort — a
      // filesystem without setTimes falls back to the staging-finish
      // mtime, which only ever under-approximates the supersede time by
      // this publish's own staging duration.
      try fs.setTimes(genDir, nowMs, -1L)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => }
      // reader-grace GC: generation k was superseded when k's SUCCESSOR
      // committed (the successor dir's commit-stamped mtime); delete k
      // only once that is at least the grace ago. The newest pre-existing
      // generation was superseded just now by `g` and is always retained
      // this pass.
      for (i <- 0 until existing.length - 1) {
        val supersededAt =
          fs.getFileStatus(existing(i + 1)._2).getModificationTime
        if (supersededAt < nowMs - readerGraceMs)
          fs.delete(existing(i)._2, true)
      }
      dayName.stripPrefix("ts_day=").toLong
    }.toSeq
    if (replaceAll) {
      val keep = staged.map(_.getName).toSet
      dayDirs(fs, rootPath).filterNot(d => keep.contains(d.getName))
        .foreach(d => fs.delete(d, true))
    }
    fs.delete(staging, true)
    invalidate(root)
    bumpVersion(fs, rootPath)
    Instrumentation.global.inc("store.snapshot.publishes")
    Instrumentation.global.inc("store.snapshot.days", committed.size.toLong)
    committed
  }

  /** List-and-pick the winning state for `root`, inspecting only day dirs
    * whose parsed day value passes `days` (unparseable names are never
    * pruned — conservative). `days = None` inspects everything. */
  private def resolve(fs: FileSystem, rootPath: Path,
      days: Option[Set[Long]]): State = {
    val all = dayDirs(fs, rootPath)
    if (all.isEmpty) {
      // not day-partitioned (or empty): one ordinary discovery read,
      // guarded against parquet-less husks — a hidden leaked staging dir
      // must not flip an otherwise-empty table to Plain, or the read
      // would fail schema inference on zero visible files
      return if (hasVisibleParquet(fs, rootPath)) Plain(Set.empty) else Absent
    }
    val selected = days match {
      case None => all
      case Some(ds) => all.filter(
        _.getName.stripPrefix("ts_day=").toLongOption.forall(ds.contains))
    }
    // day dirs exist but none overlap the requested range: no data IN
    // RANGE — callers gap-fill from raw exactly as for a missing day
    if (selected.isEmpty) return Absent
    val inspected = selected.map(d => d -> gens(fs, d))
    val genned = inspected.filter(_._2.nonEmpty)
    // a day dir with neither generations nor loose files (a crash between
    // publish's mkdirs and its commit rename) holds no data: ignore it —
    // it must neither trip the mixed-layout guard nor hide the table
    val plainDays = inspected.filter { case (d, gs) =>
      gs.isEmpty && fs.listStatus(d).exists(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    }
    if (genned.isEmpty)
      return if (plainDays.isEmpty) Absent
        else Plain(plainDays.flatMap(_._1.getName.stripPrefix("ts_day=")
          .toLongOption).toSet)
    require(plainDays.isEmpty,
      s"mixed plain/generation day layout under $rootPath — the first " +
        "snapshot publish migrates a plain table; rerun it with serving " +
        "paused")
    // per day: the HIGHEST generation that actually holds a parquet file
    // (a husk newest gen — crash after rename of an empty slice — falls
    // back to the previous complete generation still on disk)
    val winners = genned.flatMap { case (day, gs) =>
      gs.sortBy(-_._1).collectFirst {
        case (_, p) if hasParquetFile(fs, p) => day.getName -> p.toString
      }
    }
    if (winners.isEmpty) Absent else Winners(winners.toSeq)
  }

  private def buildDf(spark: SparkSession, root: String, state: State,
      days: Option[Set[Long]]): Option[DataFrame] = state match {
    case Absent => None
    case Plain(_) => Some(spark.read.parquet(root))
    case Winners(byDay) =>
      val kept = days match {
        case None => byDay
        case Some(ds) => byDay.filter { case (dayName, _) =>
          dayName.stripPrefix("ts_day=").toLongOption.forall(ds.contains) }
      }
      if (kept.isEmpty) None
      else Some(spark.read.option("basePath", root)
        .parquet(kept.map(_._2).toIndexedSeq: _*)
        .drop("gen"))
  }

  /** Resolve the table's current snapshot and return a DataFrame over
    * exactly the winning generation directories (schema identical to the
    * pre-snapshot layout: data columns + `ts_day` partition column; `gen`
    * never escapes). None when the table is absent, holds no data files,
    * or (with `days` given) has no day overlapping the range — the
    * callers' `hasParquetData` guard discipline, folded in. Plain
    * (never-published) tables fall back to ordinary discovery.
    *
    * `days`: restrict resolution to these ts_day values — planning lists
    * only the overlapping day dirs. `useCache = true` additionally serves
    * from the process-local memo, which sees every writer's next commit,
    * in any process (class doc, "Memo fences"). */
  def read(spark: SparkSession, root: String,
      days: Option[Seq[Long]] = None,
      useCache: Boolean = false): Option[DataFrame] =
    readCovered(spark, root, days, useCache).map(_._1)

  /** [[read]] plus the DAYS the returned frame covers, taken from the
    * resolution's own listing — the winning generations' day dirs, or a
    * Plain table's `ts_day=` dirs holding data files — restricted to
    * `days` when given. A caller learns a tier's coverage without a Spark
    * job over its partition column. */
  def readCovered(spark: SparkSession, root: String,
      days: Option[Seq[Long]] = None,
      useCache: Boolean = false): Option[(DataFrame, Set[Long])] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    if (!fs.exists(rootPath)) return None
    val daySet = days.map(_.toSet)
    def covered(state: State): Set[Long] = {
      val all = state match {
        case Winners(byDay) =>
          byDay.flatMap(_._1.stripPrefix("ts_day=").toLongOption).toSet
        case Plain(ds) => ds
        case Absent => Set.empty[Long]
      }
      daySet.fold(all)(all.intersect)
    }
    if (!useCache) {
      countResolution(rootKey(root))
      val state = resolve(fs, rootPath, daySet)
      return buildDf(spark, root, state, None).map(_ -> covered(state))
    }
    val k = rootKey(root)
    val fence = fenceOf(fs, rootPath)
    val cached = Option(memo.get(k)).filter(_.fence == fence)
    val entry = cached.getOrElse {
      countResolution(k)
      // cache the FULL resolution so every later range prunes from memory
      val e = Resolved(fence, resolve(fs, rootPath, None))
      memo.put(k, e)
      e
    }
    if (cached.isDefined)
      Instrumentation.global.inc("store.snapshot.cache_hits")
    entry.state match {
      case Winners(byDay) =>
        // with the full winners set in hand, the range check is a map
        // lookup; the FRAME is built once per (resolution, session) over
        // all winners — a cache hit reuses its file index (zero plan-time
        // listings) and the caller's ts_day filter prunes partitions
        val overlaps = daySet.fold(true)(ds => byDay.exists { case (d, _) =>
          d.stripPrefix("ts_day=").toLongOption.forall(ds.contains) })
        if (!overlaps) return None
        val full = Option(dfMemo.get(k)) match {
          case Some((res, sess, df)) if (res eq entry) && (sess eq spark) => df
          case _ =>
            val df = buildDf(spark, root, entry.state, None).get
            dfMemo.put(k, (entry, spark, df))
            df
        }
        Some(daySet.fold(full)(ds =>
          full.filter(org.apache.spark.sql.functions.col("ts_day")
            .isin(ds.toSeq: _*))) -> covered(entry.state))
      case other => buildDf(spark, root, other, daySet).map(_ -> covered(other))
    }
  }
}

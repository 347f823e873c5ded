package graft.operators

import graft.core.Granularity
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Retention enforcement: per-tier TTL as partition drops.
  *
  * The reference ages data out per resolution via Cassandra column-family
  * TTLs (io/CassandraModel.java:47-59: full 5d, 5m 10d, 20m 20d, 60m 155d,
  * 240m 300d, 1440m 1825d — the same ladder carried by
  * [[Granularity.retentionDays]]). On a parquet lake the equivalent is
  * dropping whole `ts_day=` partitions once every record in them has
  * exceeded the tier's TTL — a metadata/file operation, O(number of
  * partition directories), with no data rewrite; exactly how production
  * table formats (Hive/Delta/Iceberg `DROP PARTITION`) implement retention
  * at 100 TB. The query planner's geometric TTL skip
  * ([[Granularity]] geometric selection) already refuses tiers whose
  * retention has expired a range — this job makes the store agree with the
  * plan, so "retention" changes storage, not just plans.
  */
object Retention {

  /** Store-relative table name for a basic tier. */
  def tableFor(g: Granularity): String =
    if (g.isFull) "metrics_full" else s"metrics_${g.name}"

  private val preaggKinds = Seq("counter", "gauge", "timer", "set")

  /** Every tiered table a store may hold, with its governing granularity:
    * the basic ladder plus the per-kind pre-aggregated ladders (the
    * reference applies the same per-gran TTLs to its preaggregated column
    * families, CassandraModel.java:61-72). `preagg_raw` — the parsed-flush
    * store the statsd writer ([[graft.streaming.IngestStream
    * .processAggregatedBatch]]) commits each batch into and re-rolls tier 1
    * from — ages with the finest stored tier's TTL: once
    * a day can no longer appear in any 5m tier, its raw flushes are dead
    * weight (without this it grows without bound while everything derived
    * from it ages out). */
  def defaultTables: Map[String, Granularity] =
    Granularity.all.map(g => tableFor(g) -> g).toMap ++
      (for (k <- preaggKinds; g <- Granularity.rollupTiers)
        yield s"preagg_${k}_${g.name}" -> g) +
      ("preagg_raw" -> Granularity.rollupTiers.head) +
      // events are annotations on the data, not samples of it: they age
      // with the COARSEST tier (1825d) so an annotation outlives every
      // rollup it annotates (the reference keeps events in a separate
      // long-retention ES index for the same reason). Same two-level
      // batch_id/ts_day layout as metrics_full, handled by enforce as-is.
      ("events" -> Granularity.rollupTiers.last)

  /** A day partition is expired only when its whole day lies beyond the
    * TTL horizon — the conservative reading of the reference's per-record
    * TTL (no surviving record may be dropped early). The ONE expiry rule:
    * [[enforce]] applies this same predicate, so a boundary-semantics
    * change lands everywhere at once. */
  def isExpired(tsDay: Long, retentionMillis: Long, nowMillis: Long): Boolean =
    tsDay + 86400000L <= nowMillis - retentionMillis

  def isExpired(tsDay: Long, g: Granularity, nowMillis: Long): Boolean =
    isExpired(tsDay, g.retentionMillis, nowMillis)

  /** String/boolean metrics age on their own clock, not the rollup ladder:
    * the reference's STRING_METRICS_TTL is 365 days (TtlConfig.java:21) —
    * strings have no coarser tier to graduate into. */
  val StringMetricsTtlMillis: Long = 365L * 86400000L

  /** Drop expired `ts_day=` partitions of every present table; returns the
    * dropped day values per table. Handles both flat day partitioning
    * (`table/ts_day=D`) and the raw store's batch-then-day layout
    * (`metrics_full/batch_id=B/ts_day=D`). Driver-side by design: the work
    * is proportional to the number of partition DIRECTORIES (≤ retention
    * window in days × batches), never to data volume. `fixedTtlTables`
    * carries the tables that age on their own clock rather than a
    * granularity's (default: `metrics_string` at 365d) — a caller scoping
    * the sweep can scope or clear it the same way as `tables`. */
  def enforce(spark: SparkSession, storeDir: String, nowMillis: Long,
      tables: Map[String, Granularity] = defaultTables,
      fixedTtlTables: Map[String, Long] =
        Map("metrics_string" -> StringMetricsTtlMillis)): Map[String, Seq[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ladder = tables.toSeq
      .map { case (t, g) => (t, g.retentionMillis) }
    (ladder ++ fixedTtlTables.toSeq).sortBy(_._1).flatMap {
      case (table, retentionMillis) =>
        val root = new Path(s"$storeDir/$table")
        val fs = root.getFileSystem(conf)
        if (!fs.exists(root)) None
        else {
          val parts =
            (fs.globStatus(new Path(root, "ts_day=*")) ++
              fs.globStatus(new Path(root, "*/ts_day=*")))
              // Hadoop's `*` matches dot-dirs: without this filter the
              // sweep would delete an expired day INSIDE a publish's live
              // `.staging-*` dir — racing the writer the staging
              // discipline isolates. Leaked staging is swept whole by
              // sweepStaleStaging after its grace, never day-by-day here.
              .filter { st =>
                val par = st.getPath.getParent.getName
                !(par.startsWith(".") || par.startsWith("_"))
              }
          val dropped = parts.toSeq.flatMap { st =>
            // parse first, skip what doesn't parse: a stray ts_day=tmp dir
            // must not throw mid-sweep with earlier deletions applied
            st.getPath.getName.stripPrefix("ts_day=").toLongOption
              .filter(day => isExpired(day, retentionMillis, nowMillis))
              .map { day => fs.delete(st.getPath, true); day }
          }
          // unconditional: a crash between a prior run's partition deletes
          // and its prune leaves a _SUCCESS-only husk that a dropped-gated
          // prune would never revisit (later runs find nothing to drop).
          // O(partition dirs), so running it every enforce costs nothing.
          pruneEmptied(fs, root)
          // day drops mutate the served day set out of band of publish():
          // drop this process's resolution memo for the table and bump
          // its _version fence for every other process's memos (a pruned
          // root needs no bump: its absence is the change)
          if (dropped.nonEmpty) {
            graft.core.SnapshotStore.invalidate(s"$storeDir/$table")
            if (fs.exists(root)) graft.core.SnapshotStore.bumpVersion(fs, root)
          }
          if (dropped.isEmpty) None else Some(table -> dropped.distinct.sorted)
        }
    }.toMap
  }

  /** The error/reject sinks ([[graft.streaming.IngestStream]] writes
    * `metrics_errors`, `events_errors`, `preagg_errors`): `batch_id=`-only
    * layout — invalid records can carry null or garbage timestamps, so day
    * partitioning is impossible and [[enforce]]'s ts_day drops never visit
    * them. */
  val errorTables: Seq[String] =
    Seq("metrics_errors", "events_errors", "preagg_errors",
      "metrics_string_errors")

  /** Age out error-sink batch directories by WRITE time (directory
    * modification time — the only timestamp an invalid record reliably
    * has). Default TTL = the finest tier's (diagnostics age with the
    * rawest data they explain). Without this a deployment with persistent
    * bad traffic grows one small batch dir per unhealthy micro-batch
    * forever — the same unbounded-growth class the preagg_raw TTL exists
    * to prevent. Driver-side, O(batch dirs); schedule it alongside
    * [[enforce]] (separate entry point because its clock is wall time,
    * while enforce's `nowMillis` is compared against partition-name days —
    * specs drive the latter with synthetic epochs that must not touch
    * freshly written error dirs). Returns dropped batch ids per table. */
  def enforceErrorSinks(spark: SparkSession, storeDir: String,
      nowMillis: Long = System.currentTimeMillis(),
      ttlMillis: Long = Granularity.rollupTiers.head.retentionMillis,
      tables: Seq[String] = errorTables): Map[String, Seq[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.sorted.flatMap { table =>
      val root = new Path(s"$storeDir/$table")
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) None
      else {
        val dropped = fs.globStatus(new Path(root, "batch_id=*")).toSeq.flatMap { st =>
          // parse BEFORE deleting: a stray non-numeric dir (batch_id=tmp)
          // must be skipped, not throw mid-sweep with the run half-applied
          val id = st.getPath.getName.stripPrefix("batch_id=").toLongOption
          id.filter(_ => st.getModificationTime <= nowMillis - ttlMillis)
            .map { batchId => fs.delete(st.getPath, true); batchId }
        }
        if (fs.globStatus(new Path(root, "batch_id=*")).isEmpty)
          fs.delete(root, true) // no parquet-less husk for readers to trip on
        if (dropped.isEmpty) None else Some(table -> dropped.sorted)
      }
    }.toMap
  }

  /** Compacted batch dirs get ids offset far above any ingest batch id, so
    * a future ingest batch can never collide with — and silently
    * overwrite — a compaction. Must clear BOTH id regimes writers use:
    * streaming checkpoint ids count micro-batches from 0, and the HTTP
    * facade derives request-hash ids in [2^58, 2^59)
    * (MetricsHttpServer.requestBatchId — an earlier epoch-millis scheme
    * sat ABOVE the original 2^40 base, silently excluding every
    * facade-written dir from compaction as a false "prior compaction").
    * 2^60 clears the hash range with headroom for monotonic compaction
    * ids. NOTE ids below the base are NOT time-ordered (hash ids aren't):
    * "which dir is a live writer still filling" is judged by modification
    * time, never by max id.
    *
    * MIGRATION (base raised 2^40 → 2^60): on a store compacted under the
    * OLD base, prior-compaction dirs (ids in [2^40, 2^60)) now classify
    * as foldable small dirs — the first maintenance pass after upgrading
    * re-reads and rewrites the whole compacted table once (an O(full
    * table) cost, converging correctly), and mtime-based live-writer
    * sparing may spare an old compaction dir for one pass. Run that first
    * pass in a quiesced window; see docs/SCALE.md "Compaction id-base
    * migration". */
  val CompactIdBase: Long = 1L << 60

  /** Compact a two-level raw table (`<table>/batch_id=B/ts_day=D`): one
    * small batch dir per micro-batch is the write-optimized shape, but
    * after months of streaming a day's data is smeared across thousands
    * of tiny files — the classic small-file problem that kills scan
    * throughput at 100 TB. This folds every numeric batch dir into ONE
    * new `batch_id=` dir (id ≥ [[CompactIdBase]]), repartitioned by
    * ts_day with `maxRecordsPerFile` bounding file sizes, then deletes
    * the originals. Readers' union view is unchanged.
    *
    * Crash safety (plain-FS multi-dir ops cannot be atomic): a
    * `_compact_manifest` written BEFORE any destructive step records the
    * new id and the dirs to be replaced; [[recoverCompaction]] — also run
    * at the start of every compact — completes a crashed run whose new
    * dir landed (deletes the listed originals) or rolls back one that
    * didn't (removes the temp). Like [[enforce]], this is a driver-side
    * offline maintenance pass: run it (or at least recovery) before
    * serving reads, since the post-rename pre-delete window shows both
    * copies. Prior compactions (id ≥ [[CompactIdBase]]) are never
    * re-folded — each run is O(new small files), not O(table) — and by
    * default the newest small dir is also skipped (a live streaming
    * commit may still be filling it; set `assumeQuiesced = true` from an
    * offline window to fold it too). Returns the new batch id, or None
    * when fewer than `minBatchDirs` foldable dirs remain (non-numeric
    * strays are left untouched). */
  /** Delete crashed ingest attempts' hidden `.staging-*` dirs under a
    * batch-dir table once older than `graceMs` (default 24 h by dir
    * mtime against wall time). The ingest writers commit a staged
    * write by one rename ([[graft.streaming.IngestStream
    * .processTypedBatchFused]]) and a retried batch id reclaims its own
    * leak; this sweeps the leaks whose request never retried. Invisible
    * to every reader (dot prefix), so the sweep is always safe — the
    * grace only protects a LIVE writer's in-flight staging. Returns the
    * number of dirs removed. */
  def sweepStaleStaging(spark: SparkSession, storeDir: String,
      table: String, nowMillis: Long = System.currentTimeMillis(),
      graceMs: Long = 24L * 3600 * 1000): Int = {
    val root = new Path(s"$storeDir/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val stale = Option(fs.globStatus(new Path(root, ".staging-*")))
      .getOrElse(Array.empty)
      .filter(_.getModificationTime < nowMillis - graceMs)
    stale.foreach(s => fs.delete(s.getPath, true))
    if (stale.nonEmpty)
      graft.core.Instrumentation.global
        .inc("maintain.stale_staging_swept", stale.length.toLong)
    stale.length
  }

  def compactRaw(spark: SparkSession, storeDir: String, table: String,
      maxRecordsPerFile: Long = 5000000L, minBatchDirs: Int = 2,
      assumeQuiesced: Boolean = false): Option[Long] = {
    require(minBatchDirs >= 2, s"minBatchDirs must be >= 2, got $minBatchDirs")
    val root = new Path(s"$storeDir/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    recoverCompaction(spark, storeDir, table)
    val allSt = fs.globStatus(new Path(root, "batch_id=*")).toSeq
      .flatMap { st =>
        st.getPath.getName.stripPrefix("batch_id=").toLongOption
          .map(id => (id, st.getPath, st.getModificationTime))
      }.sortBy(_._1)
    val all = allSt.map(t => (t._1, t._2))
    // Fold only the per-micro-batch dirs (id < CompactIdBase): re-reading
    // a prior compaction would make every maintenance run an O(full
    // table) rewrite instead of an O(new small files) fold. Unless the
    // caller asserts the writer is quiesced, also leave the most recently
    // MODIFIED small dir alone — it is the one a live commit may still be
    // filling, and deleting it after a partial read would lose the
    // writer's later files silently. Recency is judged by mtime, NOT max
    // id: facade batch ids are request hashes with no time order.
    val small = allSt.filter(_._1 < CompactIdBase)
    val batches =
      (if (assumeQuiesced || small.isEmpty) small
       else {
         val newestMtime = small.map(_._3).max
         // drop ONE newest-mtime dir (ties: highest id wins as "newest")
         val spare = small.filter(_._3 == newestMtime).maxBy(_._1)
         small.filterNot(t => t._1 == spare._1)
       }).map(t => (t._1, t._2))
    if (batches.size < minBatchDirs) return None
    val newId = math.max(CompactIdBase, all.map(_._1).max + 1)
    val manifest = new Path(root, "_compact_manifest")
    val out = fs.create(manifest, true)
    out.write((newId +: batches.map(_._2.getName))
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    val tmp = new Path(root, s".compact_tmp_$newId")
    // basePath keeps partition discovery rooted at the table (multiple
    // batch dirs otherwise trip CONFLICTING_DIRECTORY_STRUCTURES); the
    // batch_id partition column that brings along is dropped on rewrite
    spark.read.option("basePath", root.toString)
      .parquet(batches.map(_._2.toString): _*)
      .drop("batch_id")
      .repartition(org.apache.spark.sql.functions.col("ts_day"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("ts_day")
      .parquet(tmp.toString)
    // a failed rename must NOT fall through to deleting the originals
    require(fs.rename(tmp, new Path(root, s"batch_id=$newId")),
      s"compaction rename failed: $tmp -> batch_id=$newId")
    batches.foreach { case (_, p) => fs.delete(p, true) }
    fs.delete(manifest, false)
    Some(newId)
  }

  /** Finish or undo a crashed [[compactRaw]]: with a manifest present,
    * either the new batch dir landed (→ delete the listed originals, the
    * compaction is effectively done) or it didn't (→ drop the temp dir;
    * the originals are untouched). Either way the manifest is consumed.
    * No-op without a manifest. */
  def recoverCompaction(spark: SparkSession, storeDir: String,
      table: String): Unit = {
    val root = new Path(s"$storeDir/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(root, "_compact_manifest")
    if (!fs.exists(manifest)) return
    val in = fs.open(manifest)
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    in.close()
    lines match {
      case idLine :: oldDirs if idLine.toLongOption.isDefined =>
        val newId = idLine.toLong
        val newDir = new Path(root, s"batch_id=$newId")
        val tmp = new Path(root, s".compact_tmp_$newId")
        if (fs.exists(newDir))
          oldDirs.foreach(d => fs.delete(new Path(root, d), true))
        else if (fs.exists(tmp)) fs.delete(tmp, true)
      case _ => // unreadable manifest: nothing destructive without a plan
    }
    fs.delete(manifest, false)
  }

  /** After partition drops, remove dirs that no longer hold any partition:
    * first emptied `batch_id=` subdirs (the raw stores' two-level layout),
    * then the table root itself if every partition is gone. A directory of
    * nothing but `_SUCCESS` markers would fail `spark.read.parquet` schema
    * inference; absence is the state readers (and [[graft.streaming
    * .IngestStream.hasParquetData]] guards) handle cleanly. */
  private def pruneEmptied(fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit = {
    def partitionDirs(p: Path) =
      fs.globStatus(new Path(p, "ts_day=*")) ++ fs.globStatus(new Path(p, "*/ts_day=*"))
    for (batch <- fs.globStatus(new Path(root, "batch_id=*"))
         if fs.globStatus(new Path(batch.getPath, "ts_day=*")).isEmpty)
      fs.delete(batch.getPath, true)
    if (partitionDirs(root).isEmpty) fs.delete(root, true)
  }
}

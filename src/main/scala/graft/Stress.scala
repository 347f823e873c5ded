package graft

import graft.core.Sessions
import graft.operators.{Anomaly, Dedup, Series, TimeJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-shape stress harness — the skew evidence the gate corpus
  * cannot produce (its densest series carries ~750 points; its hottest
  * 60m window 3). Fabricates the three classic killers deterministically
  * (hash-derived values, no RNG) and times the operators whose scale
  * story depends on them:
  *
  *  - HOT SERIES: one series, 10⁷ points — the per-series window wall.
  *    Times [[Series.madOutliers]] (single-task sort by design) against
  *    [[Series.madOutliersSharded]] (two-phase rank selection, no
  *    per-series sort), plus [[Series.m4Downsample]],
  *    [[Anomaly.alertIntervals]] and the bucket-sharded
  *    [[TimeJoin.asOf]] on the same series.
  *  - WIDE STORE: 10⁶ single-point series — the per-series-DIMENSION
  *    direction (catalog-scale joins, millions of tiny windows).
  *  - DEGENERATE CLIQUE: 10⁶ identical 64-bit fingerprints among 10⁵
  *    organic ones — quadratic in clique size without
  *    [[Dedup.hammingNearDups]]'s hot-bucket cap; the run proves the
  *    capped join completes and what it costs.
  *
  * `runMain graft.Stress [scale]` — scale (default 1.0) multiplies every
  * shape size; 0.01 gives a seconds-long smoke run. Prints one table row
  * per (shape, operator): rows out, seconds. Single-run timings on a
  * shared box — treat as order-of-magnitude evidence (the CLAUDE.md ±40%
  * caveat), the SHAPE of the comparison (sharded vs single-task sort) is
  * the result, not the third digit. */
object Stress {

  private def time[A](label: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[stress] $label%-28s ${s}%8.2f s")
    (a, s)
  }

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toDouble).getOrElse(1.0)
    require(scale > 0, s"scale must be positive, got $scale")
    // NOTE: driver heap cannot be set here (the JVM is already running
    // under sbt) — size it via the launcher (build.sbt run / javaOptions
    // or SBT_OPTS) if a shape OOMs
    val spark = Sessions.local("graft-stress").getOrCreate()
    try {
      val results = run(spark, scale)
      println("[stress] | shape/op | rows out | seconds |")
      println("[stress] |---|---|---|")
      results.foreach { case (l, n, s) =>
        println(f"[stress] | $l | $n | ${s}%.2f |")
      }
      // one machine-readable line (the committed STRESS_r{N}.json artifact
      // is this, verbatim) + optional file target as the second arg
      val json = s"""{"scale":$scale,"results":[""" + results.map {
        case (l, n, s) => f"""{"op":"$l","rows":$n,"secs":$s%.2f}"""
      }.mkString(",") + "]}"
      println(json)
      args.lift(1).foreach { path =>
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (json + "\n").getBytes("UTF-8"))
      }
    } finally spark.stop()
  }

  /** The measured arms, callable from CI (StressSmokeSpec runs scale 0.001
    * as a regression tripwire for reintroduced O(points²) frames — the
    * resampleLinear bug the r9 harness caught would fail the suite here
    * instead of waiting for the next manual full-scale run). Returns one
    * (label, rows out, seconds) row per arm. */
  def run(spark: SparkSession, scale: Double): Seq[(String, Long, Double)] = {
    import spark.implicits._
    {
      val nHot = (1e7 * scale).toLong max 10L
      val nWide = (1e6 * scale).toLong max 10L
      val nClique = (1e6 * scale).toLong max 10L
      val nOrganic = (1e5 * scale).toLong max 10L

      // ---- hot series: one locator, nHot points, values hash-derived ----
      val hot = spark.range(nHot).select(
        lit("t").as("tenant_id"), lit("hot").as("metric_name"),
        (col("id") * 1000L).as("ts_ms"),
        (pmod(xxhash64(col("id")), lit(1000000L)) / 1000.0).as("value"))
      println(s"[stress] shapes: hot=$nHot wide=$nWide clique=$nClique")

      val results = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      def run(label: String)(df: => DataFrame): Unit = {
        // hash-reduce EVERY output column — a bare count() lets Catalyst
        // prune a cardinality-preserving Window (derivatives, movingStats)
        // entirely and time an empty plan
        val (n, s) = time(label) {
          val d = df
          d.select(xxhash64(struct(d.columns.map(col): _*)).as("__h"))
            .agg(count(lit(1)), expr("bit_xor(__h)")) // xor: no ANSI overflow
            .collect()(0).getLong(0)
        }
        results += ((label, n, s))
      }

      run("mad_hot_global")(Series.madOutliers(hot))
      run("mad_hot_sharded")(Series.madOutliersSharded(hot))
      run("m4_hot_b1000")(Series.m4Downsample(hot, 1000))
      run("alert_hot_1pct")(Anomaly.alertIntervals(
        hot.withColumn("is_anomaly", col("value") > 990.0), gapMs = 60000L))
      // as-of: every 1000th point is a "baseline" right row; the bounded
      // 1h lookback shards the hot series' window by time bucket
      run("asof_hot_1h")(TimeJoin.asOf(
        hot, "ts_ms",
        hot.filter(col("id") % 1000 === 0)
          .select(col("tenant_id"), col("metric_name"),
            col("ts_ms").as("rts"), col("value").as("baseline")),
        "rts", Seq("tenant_id", "metric_name"), withinMs = Some(3600000L)))

      // render-path transforms on the same hot series. derivatives is one
      // incremental window pass; the resample pair runs at a step sized
      // to the 2^20 bounded-grid contract (10^10 ms span / 10^4 ms step
      // ≈ 10^6 grid rows). The moving trio is the headline: Spark
      // re-aggregates a trailing RANGE frame from scratch every time its
      // lower bound moves, so frame-based movingStats costs
      // O(points × frame population) in ONE task — at 60 s (60-row
      // frames) it is already minutes here, and at 1 h (3600-row frames)
      // a single measurement exceeded 18 MINUTES before being aborted;
      // movingAvgPrefix (running DECIMAL prefix sums minus an as-of
      // boundary, bit-identical mean by q_series_moving_avg_prefix) is
      // flat in the window because no frame ever re-aggregates.
      run("deriv_hot")(Series.derivatives(hot))
      run("moving_frame_hot_60s")(Series.movingStats(hot, 60000L))
      run("moving_prefix_hot_60s")(Series.movingAvgPrefix(hot, 60000L))
      run("moving_prefix_hot_1h")(Series.movingAvgPrefix(hot, 3600000L))
      // the widened prefix family (sum/mean/stddev, three prefix pairs in
      // ONE WindowExec) must stay flat in width like the mean-only form
      run("moving_window_std_hot_1h")(
        Series.movingWindowPrefix(hot, 3600000L))
      run("resample_hold_hot")(Series.resampleHold(hot, 10000L))
      run("resample_linear_hot")(Series.resampleLinear(hot, 10000L))

      // ---- wide store: nWide single-point series ----
      val wide = spark.range(nWide).select(
        lit("t").as("tenant_id"),
        concat(lit("m_"), col("id")).as("metric_name"),
        lit(0L).as("ts_ms"),
        (pmod(xxhash64(col("id"), lit(7)), lit(1000L)) / 10.0).as("value"))
      run("mad_wide_global")(Series.madOutliers(wide))
      run("mad_wide_sharded")(Series.madOutliersSharded(wide))
      run("m4_wide_b4")(Series.m4Downsample(wide, 4))

      // ---- degenerate clique: nClique identical hashes + organic tail +
      // planted hamming-2 twins. The cap DROPS hot buckets (candidate
      // recall trades away only for degenerate-clique members, the
      // documented semantics) — the planted twins prove organic near-dup
      // recall survives beside a million-member clique, and the run
      // completing at all is the point: uncapped, the clique alone is
      // ~5·10¹¹ candidate pairs.
      val nPlanted = (1000 * scale).toLong max 5L
      val clique = spark.range(nClique)
        .select(col("id"), lit(0L).as("h"))
        .unionByName(spark.range(nOrganic)
          .select((col("id") + nClique).as("id"),
            xxhash64(col("id"), lit(3)).as("h")))
        .unionByName(spark.range(nPlanted)
          .select((col("id") + nClique + nOrganic).as("id"),
            xxhash64(col("id"), lit(3)).bitwiseXOR(lit(3L)).as("h")))
      run("hamming_clique_cap64")(Dedup.hammingNearDups(
        clique, "id", "h", maxDist = 3, maxBucket = Some(64L)))

      // ---- cascade arm: the production hot path — a wide-locator batch
      // through processBatch (validate + raw write + dirty-day 5m
      // snapshot publish) and the full 4-hop ladder. Shapes the 100 TB
      // question directly: nWide locators × 2 points landing in ONE day,
      // every tier rewritten through the SnapshotStore commit. File
      // counts per tier are the fragmentation evidence (the bucketed
      // mirror discipline's plain-tier counterpart).
      val store = java.nio.file.Files
        .createTempDirectory("graft_stress_casc").toString
      val day0 = 1704067200000L
      val batch = graft.streaming.IngestStream.withValidity(
        spark.range(nWide).select(
            lit("t").as("tenant_id"),
            concat(lit("m_"), col("id")).as("metric_name"),
            (lit(day0) + pmod(col("id"), lit(86400L)) * 1000L).as("ts_ms"),
            (pmod(xxhash64(col("id"), lit(11)), lit(1000L)) / 10.0).as("value"))
          .unionByName(spark.range(nWide).select(
            lit("t").as("tenant_id"),
            concat(lit("m_"), col("id")).as("metric_name"),
            (lit(day0) + pmod(col("id"), lit(86400L)) * 1000L + 400000L)
              .as("ts_ms"),
            (pmod(xxhash64(col("id"), lit(13)), lit(1000L)) / 10.0).as("value")))
          .withColumn("ttl_seconds", lit(86400))
          .withColumn("unit", lit("ms")),
        0L, Long.MaxValue)
      val (_, ingestSecs) = time("cascade_ingest_wide") {
        graft.streaming.IngestStream.processBatch(batch, store, batchId = 0L)
      }
      results += (("cascade_ingest_wide", nWide * 2, ingestSecs))
      val (_, ladderSecs) = time("cascade_ladder_wide") {
        graft.streaming.IngestStream.rollupCascadeFor(spark, store,
          dirtyDays = Some(Seq(day0)))
      }
      results += (("cascade_ladder_wide", nWide, ladderSecs))
      // fragmentation evidence: part files per tier after the dirty-day
      // publish (rows = file count; one snapshot generation per day)
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (tier <- Seq("metrics_5m", "metrics_20m", "metrics_60m",
          "metrics_240m", "metrics_1440m")) {
        val p = new org.apache.hadoop.fs.Path(s"$store/$tier")
        val nFiles =
          if (!fs.exists(p)) 0L
          else {
            val it = fs.listFiles(p, true)
            var c = 0L
            while (it.hasNext) {
              if (it.next().getPath.getName.startsWith("part-")) c += 1
            }
            c
          }
        println(f"[stress] files $tier%-18s $nFiles")
        results += ((s"cascade_files_$tier", nFiles, 0.0))
      }

      // ---- deferred-drain arm: the worst-case rollNow() — a facade that
      // deferred for a whole retention-window backlog drains 30 pending
      // days in one pass. IngestBench's post_p99_during_drain_ms proves
      // POSTs don't stall behind this (the drain runs off the write
      // lock); this arm records what the drain itself costs and the file
      // shape it leaves (one generation, ≤ a handful of files per day).
      val dstore = java.nio.file.Files
        .createTempDirectory("graft_stress_drain").toString
      val drainDays = (0 until 30).map(day0 + _ * 86400000L)
      graft.streaming.IngestStream.writeRaw(
        spark.range(nWide * 2).select(
          lit("t").as("tenant_id"),
          concat(lit("d_"), pmod(col("id"), lit(nWide / 30 max 1L)))
            .as("metric_name"),
          (lit(day0) + pmod(col("id"), lit(30L)) * 86400000L +
            pmod(xxhash64(col("id"), lit(17)), lit(86400L)) * 1000L)
            .as("ts_ms"),
          (pmod(xxhash64(col("id"), lit(19)), lit(1000L)) / 10.0).as("value"),
          lit(86400).as("ttl_seconds"), lit("ms").as("unit")),
        dstore, batchId = 0L)
      val (_, drainSecs) = time("deferred_drain_30d") {
        graft.streaming.IngestStream.rollDirtyDaysNow(spark, dstore,
          drainDays)
      }
      results += (("deferred_drain_30d", 30L, drainSecs))
      locally {
        val p = new org.apache.hadoop.fs.Path(s"$dstore/metrics_5m")
        val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        var c = 0L
        if (dfs.exists(p)) {
          val it = dfs.listFiles(p, true)
          while (it.hasNext) {
            if (it.next().getPath.getName.startsWith("part-")) c += 1
          }
        }
        println(f"[stress] files drain metrics_5m $c")
        results += (("deferred_drain_files_5m", c, 0.0))
      }

      // ---- snapshot-resolution arm: a 1440m-tier shape at full
      // retention (~1825 day dirs, one generation each). The planning
      // cost under test is DRIVER METADATA (listings per day dir):
      // full resolution pays O(retention-days), the range-pruned read
      // (a 1-hour dashboard panel = 1 day) pays O(query-days), and the
      // memoized read pays one getFileStatus. Resolution time only —
      // read() lists eagerly; no job runs.
      val nDays = math.max(50L, (1825 * scale).toLong)
      val snapRoot = java.nio.file.Files
        .createTempDirectory("graft_stress_snap").toString + "/metrics_1440m"
      graft.core.SnapshotStore.publish(
        spark.range(nDays).select(
          lit("t").as("tenant_id"), lit("m").as("metric_name"),
          (lit(day0) + col("id") * 86400000L).as("bucket_ms"),
          lit(1L).as("num_points"),
          (lit(day0) + col("id") * 86400000L).as("ts_day")),
        snapRoot)
      val (_, fullRes) = time("snap_resolve_full") {
        graft.core.SnapshotStore.read(spark, snapRoot).isDefined
      }
      results += (("snap_resolve_full", nDays, fullRes))
      val lastDay = day0 + (nDays - 1) * 86400000L
      val (_, prunedRes) = time("snap_resolve_pruned") {
        graft.core.SnapshotStore.read(spark, snapRoot,
          days = Some(Seq(lastDay))).isDefined
      }
      results += (("snap_resolve_pruned", 1L, prunedRes))
      // warm the memo, then time the cached hit
      graft.core.SnapshotStore.read(spark, snapRoot, useCache = true)
      val (_, cachedRes) = time("snap_resolve_cached") {
        graft.core.SnapshotStore.read(spark, snapRoot,
          days = Some(Seq(lastDay)), useCache = true).isDefined
      }
      results += (("snap_resolve_cached", 1L, cachedRes))

      results.toSeq
    }
  }
}

package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one `local[nproc]` process that builds what
  * its workload needs, warms up with fixed work, runs the timed phase and
  * writes everything it measured to a result file for `perfbench/run.py`.
  *
  * `usage: graftbench.Main <config.json>` — the config is written by
  * perfbench/settings.py (workload, inputs dir, work dir, seconds, trace
  * flag, warm-up amounts, result path). */
object Main {

  final case class Config(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] =
      node.get(k).elements().asScala.map(_.asText()).toSeq
    /** This config with `inputs` replaced by the dir under key `k`. */
    def withInputs(k: String): Config = {
      val n = node.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      n.put("inputs", str(k))
      Config(n)
    }
  }

  /** Everything one run hands back: the end-to-end readings of the timed
    * phase, the per-layer readings of a traced run, and the outputs the
    * checker compares against DuckDB. */
  final class Result {
    val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
    val layers = scala.collection.mutable.LinkedHashMap[String, Any]()
    val checks = scala.collection.mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = synchronized {
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
      checks += msg
    }

    /** The end-to-end readings of one phase between snapshots `a` and `b`,
      * under `prefix` ("" for the timed phase). `cycleMs` are the per-cycle
      * (rotation, pass, op) times the drift reading compares. */
    def report(prefix: String, ops: Seq[Op], a: Snap, b: Snap, cycleMs: Seq[Double]): Unit = {
      val good = ops.filter(_.ok)
      val wallS = (b.wallNs - a.wallNs) / 1e9
      fields(prefix + "attempted") = ops.size
      fields(prefix + "failed") = ops.size - good.size
      fields(prefix + "timed_s") = wallS
      fields(prefix + "ops_per_s") = good.size / wallS
      fields(prefix + "p50_ms") = median(good.map(_.ms))
      fields(prefix + "samples") = good.size
      fields(prefix + "cpu_ms_per_op") = (b.cpuNs - a.cpuNs) / 1e6 / good.size.max(1)
      fields(prefix + "jit_ms") = b.jitMs - a.jitMs
      fields(prefix + "gc_ms") = b.gcMs - a.gcMs
      fields(prefix + "steal_s") = (b.stealTicks - a.stealTicks) / Snap.TicksPerSecond
      fields(prefix + "drift_pct") = driftPct(cycleMs)
      fields(prefix + "by_kind_p50_ms") = good.groupBy(_.kind)
        .map { case (k, xs) => k -> median(xs.map(_.ms)) }
    }

    /** The traced window's `jvm`, `host`, `timed` and `trace` layers; the untraced timed phase (one client too) is the overhead
      * baseline. */
    def windowLayers(a: Snap, b: Snap): Unit = {
      layers("jvm.jit_ms") = (b.jitMs - a.jitMs).toDouble
      layers("jvm.gc_ms") = (b.gcMs - a.gcMs).toDouble
      layers("host.steal_s") = (b.stealTicks - a.stealTicks) / Snap.TicksPerSecond
      layers("timed.drift_pct") = fields("traced1_drift_pct")
      layers("trace.overhead_pct") = (fields("traced1_p50_ms").asInstanceOf[Double] /
        fields("p50_ms").asInstanceOf[Double] - 1.0) * 100.0
    }

    /** The `spark.*` layer: per-op job, stage and task counts, task time,
      * driver time (op wall minus the union of its jobs' intervals) and
      * bytes, over the ops' root spans. */
    def sparkLayers(opSpans: Seq[Span], jobs: Seq[JobRec]): Unit = {
      val n = opSpans.size.max(1).toDouble
      val mine = opSpans.flatMap(s => Trace.jobsIn(s, jobs)).distinct
      layers("spark.jobs_per_op") = mine.size / n
      layers("spark.stages_per_op") = mine.map(_.stages).sum / n
      layers("spark.tasks_per_op") = mine.map(_.tasks).sum / n
      layers("spark.task_ms_per_op") = mine.map(_.taskMs).sum / n
      layers("spark.driver_ms_per_op") =
        opSpans.map(s => s.ms - Trace.coveredMs(s, Trace.jobsIn(s, jobs))).sum / n
      layers("spark.shuffle_write_kb_per_op") = mine.map(_.shuffleWriteBytes).sum / 1024.0 / n
      layers("spark.input_kb_per_op") = mine.map(_.inputBytes).sum / 1024.0 / n
      layers("spark.spill_kb") = mine.map(_.spillBytes).sum / 1024.0
      fields("unattributed_jobs") = jobs.size - mine.size
    }
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run's jvm.log), stamped with seconds
    * since the harness started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%7.2fs jit ${
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime}%6d ms classes ${
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount}%6d codegen ${
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount}%5d code-cache ${
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.contains("Code"))
        .map(_.getUsage.getUsed).sum / 1048576}%4d MB snapshot-resolutions ${
      graft.core.Instrumentation.global.snapshot().getOrElse("store.snapshot.resolutions", 0L)}%4d] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Second-half vs first-half median of per-cycle times, in percent: a
    * window still on a warm-up slope reads clearly negative. */
  def driftPct(cycleMs: Seq[Double]): Double =
    if (cycleMs.size < 2) 0.0
    else {
      val (a, b) = cycleMs.splitAt(cycleMs.size / 2)
      (median(b) / median(a) - 1.0) * 100.0
    }

  /** Runs the timed phase `body`, and runs it again (up to `max_windows`
    * in all) while the hypervisor stole more than `steal_share` of the
    * window's vCPU time: such a window measures the noisy neighbour, not
    * graft. Returns the window with the least steal, with its edge
    * snapshots, and records how many windows ran. */
  def quietWindow[T](res: Result, cfg: Config)(body: => T): (T, Snap, Snap) = {
    def share(a: Snap, b: Snap): Double =
      (b.stealTicks - a.stealTicks) / Snap.TicksPerSecond /
        ((b.wallNs - a.wallNs) / 1e9 * cfg.int("cpus"))
    var best: (T, Snap, Snap) = null
    var n = 0
    while (n == 0 || (n < cfg.int("max_windows") &&
        share(best._2, best._3) > cfg.node.get("steal_share").asDouble())) {
      val a = Snap.now()
      val v = body
      val b = Snap.now()
      n += 1
      log(f"timed window $n: steal ${share(a, b) * 100}%.1f%% of vCPU time")
      if (best == null || share(a, b) < share(best._2, best._3)) best = (v, a, b)
    }
    res.fields("windows") = n
    best
  }

  /** Runs `body` with the Spark job meter on; returns its value, its edge
    * snapshots, and the spans and jobs it produced. (All spans of the run
    * stay in memory until the run ends.) */
  def traced[T](meter: Meter)(body: => T): (T, Snap, Snap, Seq[Span], Seq[JobRec]) = {
    val before = Trace.spans.size
    meter.reset()
    meter.recording = true
    val a = Snap.now()
    val v = body
    val b = Snap.now()
    meter.recording = false
    (v, a, b, Trace.spans.asScala.toSeq.drop(before), meter.drain())
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config(new ObjectMapper().readTree(
      new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8)))
    val cpus = cfg.int("cpus")
    // the graft.Serve session configuration
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val res = new Result
    try {
      cfg.str("workload") match {
        case "dashboard_read" => new MetricsWorkloads(spark, cfg, meter, res).dashboardRead()
        case "ingest_fresh" => new MetricsWorkloads(spark, cfg, meter, res).ingestFresh()
        case "batch_dedup" => new BatchDedup(spark, cfg, meter, res).run()
        case "train" =>
          // the build's class-list run: both workloads, small, so the
          // class-data-sharing archive holds the classes every run loads
          new MetricsWorkloads(spark, cfg, meter, res).dashboardRead()
          new BatchDedup(spark, cfg.withInputs("batch_inputs"), meter, res).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        res.fail(s"workload aborted: $e")
    } finally {
      res.fields("checks_failed") = res.checks.toSeq
      res.fields("layers") = res.layers
      val out = Json(res.fields)
      Files.write(Paths.get(cfg.str("result")), out.getBytes(StandardCharsets.UTF_8))
      if (cfg.bool("trace")) {
        val all = Trace.spans.asScala.toSeq.sortBy(_.startNs)
        val rows = all.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> s.startMs, "dur_ms" -> s.ms,
          "self_ms" -> Trace.selfMs(s, all), "ok" -> s.ok))
        Files.write(Paths.get(cfg.str("spans")), Json(rows).getBytes(StandardCharsets.UTF_8))
      }
      spark.stop()
    }
  }
}


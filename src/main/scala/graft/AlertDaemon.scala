package graft

import graft.core.Sessions
import graft.core.Sessions.flag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The alerting daemon CLI — the no-Scala-required entry to the
  * watermark-correct streaming alert pipeline
  * ([[graft.streaming.AlertStream]] around
  * [[graft.operators.Anomaly.streamingAlertIntervals]]): tail a parquet
  * directory of points as a file stream, close incident episodes as the
  * event-time watermark proves their gaps elapsed, and fold them into the
  * `alert_episodes` sink table the HTTP facade serves
  * (`GET /v2.0/:tenant/alerts/episodes`).
  *
  * Two input modes:
  *  - SCORED stream (default): rows carry
  *    `tenant_id, metric_name, ts_ms, is_anomaly, z` — produced by any
  *    upstream scorer (the EWMA/HW band passes over rollup tiers).
  *  - RAW stream + `--threshold <v>`: rows carry
  *    `tenant_id, metric_name, ts_ms, value`; a static band scores
  *    `is_anomaly = value > v` inline (the simplest paging rule; peak_abs_z
  *    is null — a threshold has no z). The scoring runs INSIDE the stream,
  *    before the watermark, which is safe precisely because it maps rows —
  *    it never filters them, so healthy traffic still advances the
  *    watermark (the starvation trap CLAUDE.md records).
  *
  * `runMain graft.AlertDaemon <inputDir> <storeDir> <checkpointDir>
  *   [--gap seconds] [--watermark "10 minutes"] [--min-points n]
  *   [--threshold v] [--once]`
  *
  * `--once` processes everything currently in the input dir and exits
  * (the Trigger.AvailableNow batch-catchup mode — also what the spec
  * drives); without it the daemon runs until killed. Checkpoint and sink
  * share one lifetime, exactly like [[graft.streaming.DocumentStream]]. */
object AlertDaemon {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.AlertDaemon <inputDir> <storeDir> <checkpointDir> " +
        "[--gap s] [--watermark d] [--min-points n] [--threshold v] [--once]")
    val Seq(inputDir, storeDir, checkpointDir) = args.take(3).toSeq
    val gapMs = flag(args, "--gap").map(_.toLong).getOrElse(3600L) * 1000L
    val watermark = flag(args, "--watermark").getOrElse("10 minutes")
    val minPoints = flag(args, "--min-points").map(_.toInt).getOrElse(1)
    val threshold = flag(args, "--threshold").map(_.toDouble)
    val spark = Sessions.local("graft-alert-daemon").getOrCreate()
    try {
      val schema = StructType.fromDDL(threshold match {
        case Some(_) =>
          "tenant_id string, metric_name string, ts_ms long, value double"
        case None =>
          "tenant_id string, metric_name string, ts_ms long, " +
            "is_anomaly boolean, z double"
      })
      val in = spark.readStream.schema(schema).parquet(inputDir)
      val scored = threshold match {
        case Some(t) => in.withColumn("is_anomaly", col("value") > t)
        case None => in
      }
      val q = graft.streaming.AlertStream.start(scored, storeDir,
        checkpointDir, gapMs, watermark, minPoints,
        availableNow = args.contains("--once"))
      q.awaitTermination()
      val n = graft.streaming.AlertStream
        .episodesStore(spark, storeDir).count()
      println(s"[alert-daemon] episodes closed so far: $n")
    } finally spark.stop()
  }
}

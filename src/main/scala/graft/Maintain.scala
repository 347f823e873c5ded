package graft

import graft.core.Sessions
import graft.core.Sessions.flag
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The unified maintenance pass — ops parity with the reference's
  * background services (its rollup service aging columns by TTL, the
  * index maintainers) in ONE scheduled entry point instead of eight
  * separate calls: retention enforcement (tiered tables + error sinks),
  * small-file compaction of every raw batch-dir table, the locator
  * catalog, the text inverted index and the ANN index artifacts, and the
  * IVF/PQ recall-drift probes that signal when an append-under-frozen-
  * model index needs a rebuild.
  *
  * Each sub-pass is individually crash-safe (manifest/recover discipline
  * on its own store — see the respective operators); this orchestrator
  * adds NO new state, so a crash mid-run leaves every artifact in a state
  * its own next run repairs. Order matters only softly: retention first
  * (compaction then never rewrites doomed days), compaction second,
  * probes last (they read the compacted stores).
  *
  * `assumeQuiesced = false` (the default) keeps every live-writer spare:
  * the pass is safe to run beside active streams, at the cost of leaving
  * each table's newest small dir unfolded. A scheduled offline window
  * passes `true` to fold everything. */
object Maintain {

  /** Raw batch-dir tables with the two-level `batch_id=B/ts_day=D`
    * layout that [[graft.operators.Retention.compactRaw]] folds. */
  val rawTables: Seq[String] =
    Seq("metrics_full", "metrics_string", "preagg_raw", "events")

  final case class Report(
      droppedDays: Map[String, Seq[Long]],
      droppedErrorBatches: Map[String, Seq[Long]],
      compactedRaw: Map[String, Long],
      compactedCatalog: Map[String, Long],
      compactedTextIndex: Option[Long],
      compactedAnn: Map[String, Long],
      ivfRecall: Option[Double],
      pqRecall: Option[Double]) {

    /** True when every executed probe met `floor` (vacuously true when no
      * probe ran). */
    def probesHealthy(floor: Double): Boolean =
      ivfRecall.forall(_ >= floor) && pqRecall.forall(_ >= floor)

    def summary: String = {
      def m(kv: Map[String, _]) =
        if (kv.isEmpty) "-" else kv.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(",")
      Seq(
        s"retention.days_dropped: ${m(droppedDays.filter(_._2.nonEmpty).map { case (k, v) => k -> v.size })}",
        s"retention.error_batches_dropped: ${m(droppedErrorBatches.filter(_._2.nonEmpty).map { case (k, v) => k -> v.size })}",
        s"compact.raw: ${m(compactedRaw)}",
        s"compact.catalog: ${m(compactedCatalog)}",
        s"compact.text_index: ${compactedTextIndex.getOrElse("-")}",
        s"compact.ann: ${m(compactedAnn)}",
        s"probe.ivf_recall: ${ivfRecall.getOrElse("-")}",
        s"probe.pq_recall: ${pqRecall.getOrElse("-")}"
      ).mkString("[maintain] ", "\n[maintain] ", "")
    }
  }

  /** One full maintenance pass over `storeDir` (+ optional index
    * artifacts living outside it). `pqProbe` carries (indexPath, corpus)
    * — the PQ probe reranks against true embeddings, which the codes
    * artifact deliberately does not hold. Probes run only when
    * `recallQueries` is given. */
  def run(spark: SparkSession, storeDir: String,
      nowMillis: Long = System.currentTimeMillis(),
      assumeQuiesced: Boolean = false,
      textIndexPath: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      pqProbe: Option[(String, DataFrame)] = None,
      recallQueries: Option[DataFrame] = None,
      errorSinkNowMillis: Long = System.currentTimeMillis()): Report = {
    import graft.operators.{Retention, Similarity, TextScoring}

    val droppedDays = Retention.enforce(spark, storeDir, nowMillis)
    // DELIBERATELY a separate clock (Retention.enforceErrorSinks
    // scaladoc): `nowMillis` is the partition-day retention epoch —
    // passing a future/backdated epoch (a preview run) into the
    // mtime-based error-sink sweep would delete every fresh sink or
    // silently disable their aging; dir age is always judged against
    // wall time unless a caller overrides it explicitly
    val droppedErr =
      Retention.enforceErrorSinks(spark, storeDir, errorSinkNowMillis)

    // crashed ingest attempts leak hidden .staging-* dirs a same-id
    // retry would reclaim; sweep the ones no retry ever came for (wall
    // clock, same reasoning as the error-sink sweep)
    rawTables.foreach(t =>
      Retention.sweepStaleStaging(spark, storeDir, t, errorSinkNowMillis))

    val compactedRaw = rawTables.flatMap { t =>
      Retention.compactRaw(spark, storeDir, t,
        assumeQuiesced = assumeQuiesced).map(t -> _)
    }.toMap
    val compactedCatalog = graft.streaming.IngestStream.compactCatalog(
      spark, storeDir, assumeQuiesced = assumeQuiesced)
    val compactedText = textIndexPath.flatMap(p =>
      TextScoring.compactTextIndex(spark, p, assumeQuiesced = assumeQuiesced))
    val compactedAnn =
      (ivfIndexPath.toSeq.flatMap(p =>
        Similarity.compactAnnIndex(spark, p, "assignments",
          assumeQuiesced = assumeQuiesced).map(s"$p/assignments" -> _)) ++
       pqProbe.toSeq.flatMap { case (p, _) =>
        Similarity.compactAnnIndex(spark, p, "codes",
          assumeQuiesced = assumeQuiesced).map(s"$p/codes" -> _)
      }).toMap

    val ivfRecall = for (p <- ivfIndexPath; q <- recallQueries)
      yield Similarity.ivfRecallProbe(spark, p, q)
    val pqRecall = for ((p, corpus) <- pqProbe; q <- recallQueries)
      yield Similarity.pqRecallProbe(spark, p, corpus, q)

    Report(droppedDays, droppedErr, compactedRaw, compactedCatalog,
      compactedText, compactedAnn, ivfRecall, pqRecall)
  }

  /** CLI: `runMain graft.Maintain <storeDir> [--quiesced]
    * [--text-index <path>] [--ivf <path>] [--now <epochMs>]`. Prints the
    * summary report. (The PQ probe needs the true-embedding corpus and is
    * a library call — see [[run]].) */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Maintain <storeDir> [--quiesced] [--text-index p] " +
        "[--ivf p] [--now ms]")
    val storeDir = args(0)
    val spark = Sessions.local("graft-maintain").getOrCreate()
    try {
      val report = run(spark, storeDir,
        nowMillis = flag(args, "--now").map(_.toLong)
          .getOrElse(System.currentTimeMillis()),
        assumeQuiesced = args.contains("--quiesced"),
        textIndexPath = flag(args, "--text-index"),
        ivfIndexPath = flag(args, "--ivf"))
      println(report.summary)
    } finally spark.stop()
  }
}

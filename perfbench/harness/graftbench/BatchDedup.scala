package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `batch_dedup`: one caller runs whole passes of a fixed list of
  * [[SparkEntry.queries]] over the seeded documents/embeddings corpus.
  * An op is one query, forced to completion with `collect()`; its row
  * count must equal the first pass's, and run.py checks that count
  * against `count(*)` over the query's [[SparkEntry.oracleSql]] in DuckDB. */
final class BatchDedup(spark: SparkSession, cfg: Main.Config, meter: Meter,
    res: Main.Result) {
  import Main.median

  private val dir = cfg.str("inputs")
  private val queries = cfg.strs("queries")
  private val rows = scala.collection.mutable.LinkedHashMap[String, Long]()

  private def runQuery(q: String): Boolean =
    try {
      val n = SparkEntry.queries(q)(spark, dir).collect().length.toLong
      rows.get(q) match {
        case None => rows(q) = n; true
        case Some(first) =>
          if (n != first) res.fail(s"$q returned $n rows, first pass $first")
          n == first
      }
    } catch { case scala.util.control.NonFatal(e) =>
      res.fail(s"$q threw $e"); false
    }

  /** `passes` whole passes. Returns the ops and the per-pass times. */
  private def passes(passes: Int, traced: Boolean): (Seq[Op], Seq[Double]) = {
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    val passMs = scala.collection.mutable.ArrayBuffer[Double]()
    (0 until passes).foreach { p =>
      val p0 = System.nanoTime()
      queries.foreach { q =>
        val t0 = System.nanoTime()
        val ok =
          if (traced) Trace.span(Trace.nextId(), s"op.$q")(_ => runQuery(q))
          else runQuery(q)
        ops += Op(0, p, q, (System.nanoTime() - t0) / 1e6, ok)
      }
      passMs += (System.nanoTime() - p0) / 1e6
    }
    (ops.toSeq, passMs.toSeq)
  }

  private def operatorTimes(spans: Seq[Span]): Unit = queries.foreach { q =>
    res.layers(s"operators.$q.s") = median(spans.filter(_.name == s"op.$q").map(_.ms)) / 1000.0
  }

  /** The `operators` layer for a traced `dashboard_read` run: one pass. */
  def operatorLayers(): Unit =
    operatorTimes(Main.traced(meter)(passes(1, traced = true))._4)

  def run(): Unit = {
    val timed = cfg.int("timed_passes")
    passes(cfg.int("warm_passes"), traced = false)
    res.fields("timed_start_ms") = System.currentTimeMillis()
    val ((ops, passMs), a, b) = Main.quietWindow(res, cfg)(passes(timed, traced = false))
    res.report("", ops, a, b, passMs)
    if (cfg.bool("trace")) {
      val ((tops, tpass), ta, tb, spans, jobs) = Main.traced(meter)(passes(timed, traced = true))
      res.report("traced1_", tops, ta, tb, tpass)
      res.sparkLayers(spans, jobs)
      res.windowLayers(ta, tb)
      operatorTimes(spans)
      new MetricsWorkloads(spark, cfg.withInputs("metric_inputs"), meter, res).serveLayers()
    }
    res.fields("rows") = rows
    res.fields("oracle_sql") = queries.map(q => q -> SparkEntry.oracleSql.get(q)).toMap
  }
}

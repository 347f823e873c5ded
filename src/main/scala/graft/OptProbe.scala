package graft

import graft.core.Sessions

/** Optimization-round instrumentation: run the named queries to completion
  * (same timed action as Bench — `count()`), then print the EXECUTED plan.
  * Unlike [[Explain]] (pre-execution `explain("formatted")`, where AQE shows
  * `isFinalPlan=false` and runtime exchange/stage reuse is invisible), the
  * executed-plan string shows the final adaptive plan with `ReusedExchange`/
  * reused query stages — the ground truth for "is this subtree computed
  * twice" questions. Checkpoint-based queries (minhash family) execute their
  * eager lineage during construction, so the wall time printed here covers
  * construction + count, matching the bench's timed region. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = args.drop(1).toSeq
    val spark = Sessions.local("graft-optprobe")
      .config("spark.log.level", "ERROR").getOrCreate()
    // Synthetic probes for pipelines whose bench queries checkpoint their
    // expensive lineage away before the final plan (minhash/span families):
    // these run the INNER stage as a plain uncheckpointed DataFrame so the
    // executed plan shows whether AQE reuses the self-join's exchanges.
    def docs = graft.core.Tables.load(spark, sfDir, "documents")
    val synthetic: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "p_minhash_sig" -> (() =>
        graft.operators.Dedup.minhashSignatures(
          graft.core.Tables.spreadCpu(docs))),
      "p_minhash_cands" -> (() =>
        graft.operators.Dedup.minhashCandidates(
          graft.operators.Dedup.minhashSignatures(
            graft.core.Tables.spreadCpu(docs)))),
      "p_shared_spans" -> (() =>
        graft.operators.Dedup.sharedSpans(docs, 3, 20, 50L)))
    // Per-query job/stage dissection: counts jobs and sums task time so a
    // slow query can be attributed to sequential job rounds vs actual work.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null) {
            taskTimeMs.addAndGet(t.taskInfo.duration)
            maxTaskMs.getAndUpdate(new java.util.function.LongUnaryOperator {
              def applyAsLong(c: Long): Long = math.max(c, t.taskInfo.duration)
            })
          }
      })
    val verbose = sys.env.get("SPARK_GRAFT_PROBE_PLAN").contains("1")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // absolute start time so external logs (e.g. -Xlog:gc* via
      // SPARK_GRAFT_JAVA_OPTS) can be correlated per query
      println(s"-- start_ms=${System.currentTimeMillis} --")
      jobs.set(0); stages.set(0); taskTimeMs.set(0L); maxTaskMs.set(0L)
      val t0 = System.nanoTime()
      // full-sweep resilience: OptProbe evaluates EVERY column (unlike the
      // bench's count(), which prunes), so a data-dependent in-plan guard
      // (e.g. divideSeriesLists' length raise at an SF where a series has
      // no even-hour divisor buckets) must not kill the remaining sweep
      try {
        val df = synthetic.get(n).map(_())
          .getOrElse(SparkEntry.queries(n)(spark, sfDir))
        // execute the df's OWN physical plan (not a derived count() plan) so
        // AdaptiveSparkPlan finalizes and the print shows runtime stage reuse
        val rows = df.queryExecution.executedPlan.execute().count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain before reading counters
        println(f"-- wall: $dt%.3f s rows=$rows jobs=${jobs.get} " +
          f"stages=${stages.get} taskTime=${taskTimeMs.get / 1000.0}%.2f s " +
          f"maxTask=${maxTaskMs.get / 1000.0}%.2f s --")
        if (verbose) println(df.queryExecution.executedPlan.toString)
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"-- FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString} --")
      }
    }
    spark.stop()
  }
}

package graft.api

import graft.SparkSuite
import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs and returns rows at sf0.001, and the
  * flagship entry is non-empty — mirrors the driver's smoke check. */
class QueriesSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("no duplicate query names; every oracle key has a query") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  /** [[graft.core.Tables.spreadCpu]]'s fallbacks to its job-running
    * `.rdd` probe, process-wide. */
  private def rddProbes: Long =
    graft.core.Instrumentation.global.count("tables.spread_cpu.rdd_probes")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val probes0 = rddProbes
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      // near-dup / similarity queries may legitimately return 0 rows at
      // this tiny scale; everything else must produce rows
      val n = df.count()
      if (!Set("q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
          "q_dedup_embed", "q_sim_range").contains(name))
        assert(n > 0, s"$name returned no rows")
      // every spreadCpu call the query makes sizes its input from the
      // unexecuted plan (staticPartitionCount), never by running it
      assert(rddProbes === probes0,
        s"$name: Tables.spreadCpu fell back to its .rdd probe")
    }
  }

  test("OptProbe's spreadCpu input sizes from the plan, never the .rdd " +
    "probe") {
    val probes0 = rddProbes
    val docs = graft.core.Tables.load(spark, dir, "documents")
    // the one-row-group documents file scans below the parallelism: the
    // spread applies, so the static count was really consulted
    assert(!(graft.core.Tables.spreadCpu(docs) eq docs))
    assert(rddProbes === probes0)
  }

  test("entry() smoke: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

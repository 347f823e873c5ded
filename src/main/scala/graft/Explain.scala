package graft

import graft.core.Sessions

/** Plan inspection entry point: prints the formatted physical plan of the
  * named queries (or a default set) at the given sf dir — used to audit
  * pushdown, broadcast choice, partial aggregation, and codegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_range_scan", "q_rollup_basic_5m", "q_tpch_q5", "q_units_join",
        "q_sim_topk", "q_pipeline_select", "q_decontaminate")
    val spark = Sessions.local("graft-explain")
      .config("spark.log.level", "ERROR").getOrCreate()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** The one definition of a graft SparkSession: every entry point (Bench,
  * Verify, Explain, OptProbe, IngestBench, Serve, Maintain, AlertDaemon,
  * Demo, Stress) and the test suite build theirs from [[local]], so the
  * settings every read and every oracle comparison depends on live here
  * and nowhere else. */
object Sessions {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the JVM's available
    * processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local-mode builder with graft's required settings, returned
    * unbuilt so a caller can add `.withExtensions(...)` or override a conf
    * (Explain's `spark.log.level=ERROR`) before `getOrCreate()`.
    *
    *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`: one
    *    shuffle partition per core. AQE (on by default in Spark 4) then
    *    coalesces small stages, and its default `parallelismFirst`
    *    coalesce also aims at the core count.
    *  - `spark.sql.session.timeZone = UTC`: the DuckDB oracle reads
    *    timestamps as naive UTC, so day and bucket arithmetic must too.
    *  - `spark.sql.parquet.inferTimestampNTZ.enabled = false`: parquet
    *    timestamps read as TimestampType (UTC), so epoch-millis math
    *    matches the oracle's naive-UTC interpretation.
    *  - `spark.sql.legacy.parquet.nanosAsLong = true`: `events.ts` is
    *    parquet TIMESTAMP(NANOS), which vanilla Spark rejects; it reads as
    *    a long of nanos (use integer `ts div 1000000`).
    *  - `spark.ui.enabled = false`: nothing inspects a live UI, and each
    *    JVM would otherwise start a web server and probe for a free port.
    *  - `spark.log.level = WARN`: applied when the context starts, in place
    *    of a `setLogLevel` after it.
    *
    * `getOrCreate()` returns an already active session and applies only
    * the modifiable SQL confs to it; master, UI, log level and extensions
    * take effect only for the session that starts the context.
    *
    * The benchmark harness (perfbench/harness/graftbench/Main.scala)
    * builds its own session with these same settings, at log level ERROR;
    * keep the two equal, key for key, so the benchmark measures this
    * configuration. */
  def local(app: String, cpus: Int = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  /** The value following `name` in a CLI's arguments (`--port 20000`);
    * None when the flag is absent, an error when it has no value. */
  def flag(args: Array[String], name: String): Option[String] =
    args.indexOf(name) match {
      case -1 => None
      case i =>
        require(i + 1 < args.length, s"$name needs a value")
        Some(args(i + 1))
    }
}

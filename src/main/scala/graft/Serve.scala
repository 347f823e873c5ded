package graft

import graft.core.Sessions
import graft.core.Sessions.flag
import graft.http.MetricsHttpServer
import org.apache.spark.sql.SparkSession

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

/** The production entry point — the reference's single-daemon deployment
  * shape (blueflood boots ingestion + rollup + query services in ONE
  * process from blueflood-all; cite: blueflood-core/src/main/java/com/
  * rackspacecloud/blueflood/service/BluefloodServiceStarter.java): boots
  * a SparkSession, starts the HTTP facade (ingest + views + discovery +
  * events + Graphite /render + /metrics instrumentation + alert
  * episodes) and a background MAINTENANCE loop ([[Maintain.run]]:
  * retention enforcement + raw/batch-dir compaction + catalog folding at
  * a fixed cadence). There is no separate rollup service to start: by
  * default rollups run synchronously per ingest batch through the
  * facade's dirty-day snapshot-publish discipline; `--defer-rollups`
  * switches to the reference's ROLLUP_DELAY shape (POSTs return after
  * the raw write, a background roller drains the dirty-day set every
  * `--rollup-delay` ms, and stored reads repair pending days from raw —
  * serving stays exact either way). Statsd (aggregated) POSTs cascade
  * through every preagg tier. Numeric POSTs re-roll only the 5m tier
  * (`IngestStream.rollDirtyDays`), and nothing here cascades it further
  * ([[Maintain.run]] does not call `rollupCascadeFor`): a numeric read
  * at 20m or coarser recomputes its days from raw, and once retention
  * drops a day's raw (5 days) and 5m rows (10 days), no coarser numeric
  * tier holds that day.
  *
  * `usage: runMain graft.Serve <storeDir> [--port n] [--maintain-every s]
  * [--max-age ms] [--max-future ms] [--cors] [--once]
  * [--defer-rollups [--rollup-delay ms]]`
  *
  * `--once` runs a single maintenance pass and exits (the offline-window
  * mode, quiesced compaction enabled); without it the process serves
  * until SIGTERM, where a shutdown hook stops the listener and lets the
  * in-flight maintenance tick finish (each sub-pass is individually
  * crash-safe, so even a hard kill leaves every store in a state its own
  * next run repairs). */
object Serve {

  /** A running daemon: the facade plus its maintenance scheduler.
    * [[maintainNow]] runs one pass inline (tests; ops can also SIGUSR-
    * style poke by running `graft.Maintain` beside the live server — the
    * passes are live-writer-safe by default). */
  final class Handle private[Serve] (val server: MetricsHttpServer,
      spark: SparkSession, storeDir: String, everySec: Long) {
    private val stopped = new AtomicBoolean(false)
    private[Serve] val done = new CountDownLatch(1)
    private val ticker = new Thread(() => {
      while (!stopped.get()) {
        val deadline = System.nanoTime() + everySec * 1000L * 1000 * 1000
        while (!stopped.get() && System.nanoTime() < deadline)
          Thread.sleep(200)
        // one failed pass (transient FS error, racing writer) must not
        // kill the daemon thread — log and retry at the next tick; every
        // sub-pass is individually crash-safe so a retry repairs
        if (!stopped.get())
          try maintainNow()
          catch {
            case e: InterruptedException => throw e
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[serve] maintenance pass failed (will retry next tick): $e")
          }
      }
    }, "graft-maintain")
    ticker.setDaemon(true)

    private[Serve] def startTicker(): Unit = ticker.start()

    def maintainNow(): Maintain.Report = {
      val report = Maintain.run(spark, storeDir)
      println(report.summary)
      report
    }

    def port: Int = server.boundPort

    def stop(): Unit = if (stopped.compareAndSet(false, true)) {
      server.stop()
      done.countDown()
    }
  }

  /** Boot the facade + maintenance loop on an existing session (the
    * testable core of [[main]]). `port = 0` binds an ephemeral port. */
  def start(spark: SparkSession, storeDir: String, port: Int = 0,
      maintainEverySec: Long = 3600L,
      maxAgeMs: Long = 3L * 3600 * 1000,
      maxFutureMs: Long = 10L * 60 * 1000,
      corsEnabled: Boolean = false,
      deferRollups: Boolean = false,
      rollupDelayMs: Long = 30000L): Handle = {
    val srv = new MetricsHttpServer(spark, storeDir, port,
      maxAgeMs = maxAgeMs, maxFutureMs = maxFutureMs,
      corsEnabled = corsEnabled,
      deferRollups = deferRollups, rollupDelayMs = rollupDelayMs)
    srv.start()
    val h = new Handle(srv, spark, storeDir, maintainEverySec)
    h.startTicker()
    h
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Serve <storeDir> [--port n] [--maintain-every s] " +
        "[--max-age ms] [--max-future ms] [--cors] [--once]")
    val storeDir = args(0)
    val spark = Sessions.local("graft-serve").getOrCreate()
    try {
      if (args.contains("--once")) {
        // offline maintenance window: quiesced compaction, one pass, exit
        val report = Maintain.run(spark, storeDir, assumeQuiesced = true)
        println(report.summary)
        return
      }
      val h = start(spark, storeDir,
        port = flag(args, "--port").map(_.toInt).getOrElse(20000),
        maintainEverySec =
          flag(args, "--maintain-every").map(_.toLong).getOrElse(3600L),
        maxAgeMs = flag(args, "--max-age").map(_.toLong)
          .getOrElse(3L * 3600 * 1000),
        maxFutureMs = flag(args, "--max-future").map(_.toLong)
          .getOrElse(10L * 60 * 1000),
        corsEnabled = args.contains("--cors"),
        // the reference's ROLLUP_DELAY deployment shape: POSTs return
        // after the raw write; a background roller re-rolls dirty days
        // every --rollup-delay ms (serving repairs from raw meanwhile)
        deferRollups = args.contains("--defer-rollups"),
        rollupDelayMs =
          flag(args, "--rollup-delay").map(_.toLong).getOrElse(30000L))
      println(s"[serve] listening on :${h.port}, store $storeDir " +
        s"(maintenance every ${flag(args, "--maintain-every").getOrElse("3600")} s)")
      Runtime.getRuntime.addShutdownHook(new Thread(() => h.stop()))
      h.done.await()
    } finally spark.stop()
  }
}

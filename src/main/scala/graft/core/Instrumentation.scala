package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Engine-level operational counters — the reference instruments every
  * read/write path with per-column-family meters and timers
  * (`blueflood-core/src/main/java/com/rackspacecloud/blueflood/utils/
  * Instrumentation.java:37-135`: fullResMetricWritten, read/write timers
  * keyed by CF name, error/miss counters) and publishes rollup completions
  * to external consumers through an event bus
  * (`blueflood-core/.../eventemitter/RollupEventEmitter.java:16-60`). Here
  * the same two capabilities are a dependency-free registry:
  *
  *  - **Counters** keyed by dotted name (`ingest.rows.metrics_full`,
  *    `query.reads.basic`, `http.responses.200`), incremented from the
  *    ingest/query/HTTP paths. [[LongAdder]]-backed so hot-path increments
  *    are wait-free under the server's worker pool; zero cost to Spark
  *    jobs (all counts come from numbers the paths already computed —
  *    instrumentation never adds a Spark action).
  *  - **Rollup events**: listeners receive one [[RollupEvent]] per
  *    (family, granularity) re-roll with the exact dirty days recomputed —
  *    the hook an external indexer/cache-invalidator subscribes to, as the
  *    reference's ES consumer does on `RollupEventEmitter.ROLLUP_EVENT`.
  *
  * Counters are process-local by design (one registry per driver JVM, like
  * the reference's per-process Metrics registry); on a cluster each
  * driver/streaming app reports its own ingest/query plane. The DATA plane's
  * per-stage numbers stay in the Spark UI/metrics system — this registry is
  * the ENGINE's semantic layer (batches, records, rejects, re-rolled days)
  * that Spark cannot know. */
object Instrumentation {

  /** One rollup completion: `store` is the store directory, `family` is
    * `basic` or a preagg kind, `granularity` the re-rolled tier, `tsDays`
    * the exact day partitions recomputed (epoch-ms midnights). A
    * FULL-LADDER rebuild recomputes every day without enumerating them:
    * it sets `fullRebuild = true` with `tsDays` empty — a listener
    * invalidating per-day state must treat that as "everything changed",
    * never as "nothing did". */
  final case class RollupEvent(store: String, family: String,
      granularity: Granularity, tsDays: Seq[Long],
      fullRebuild: Boolean = false)

  final class Registry {
    private val counters = new ConcurrentHashMap[String, LongAdder]()
    private val listeners =
      new java.util.concurrent.CopyOnWriteArrayList[RollupEvent => Unit]()

    def inc(name: String, delta: Long = 1L): Unit =
      counters.computeIfAbsent(name, _ => new LongAdder).add(delta)

    def count(name: String): Long =
      Option(counters.get(name)).map(_.sum()).getOrElse(0L)

    /** Point-in-time snapshot of every counter. */
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
    }

    def snapshotJson(): String =
      snapshot().toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")

    def addRollupListener(l: RollupEvent => Unit): Unit = listeners.add(l)
    def removeRollupListener(l: RollupEvent => Unit): Unit = listeners.remove(l)

    /** Fire-and-forget: a throwing listener must not fail the ingest that
      * emitted the event (the reference's emitter executes handlers on a
      * separate thread pool for the same isolation; here emission is
      * synchronous but exception-isolated). Fatal errors (VM errors,
      * linkage errors, interrupts) propagate. */
    def emitRollup(e: RollupEvent): Unit = {
      inc(s"rollup.events.${e.family}.${e.granularity.name}")
      listeners.forEach { l =>
        try l(e)
        catch {
          case scala.util.control.NonFatal(_) => inc("rollup.listener.errors")
        }
      }
    }

    /** Test isolation: drop all counts and listeners. */
    def reset(): Unit = {
      counters.clear(); listeners.clear()
    }
  }

  /** The process-wide registry every engine path reports to (the
    * reference's static `Metrics.getRegistry()`). */
  val global: Registry = new Registry
}

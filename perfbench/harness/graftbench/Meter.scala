package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Process-level readings taken at the edges of a timed phase: wall clock,
  * this process's CPU time, cumulative JIT and GC time, and the host's
  * hypervisor steal ticks from `/proc/stat`. */
final case class Snap(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long,
    stealTicks: Long)

object Snap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** USER_HZ: the unit of every `/proc/stat` counter on Linux. */
  val TicksPerSecond = 100.0

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: java.io.IOException => 0L }

  def now(): Snap = Snap(System.nanoTime(), os.getProcessCpuTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    stealTicks())
}

/** One finished Spark job as the listener saw it. Times are the scheduler's
  * own event stamps (epoch ms), so attribution does not depend on how late
  * the listener bus delivered the event. */
final class JobRec(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's own SparkListener: records every job, its submitted
  * stages, its tasks, task run time and input/shuffle-write/spill bytes
  * while `recording` is on. Jobs are tied to the op that was in flight
  * when they started ([[Trace.jobsIn]]), by the op's wall-clock interval. */
final class Meter extends SparkListener {
  @volatile var recording = false
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val byStage = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) {
      val r = new JobRec(e.jobId, e.time)
      jobs.add(r)
      e.stageIds.foreach(s => byStage.put(s, r))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val r = byStage.get(e.stageInfo.stageId)
    if (r != null) r.synchronized { r.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.taskMs += m.executorRunTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)

  /** Every recorded job, once the listener bus has delivered all their end
    * events (a job's task-end events precede its job-end event). */
  def drain(timeoutMs: Long = 20000L): Seq[JobRec] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    val done = jobs.asScala.toVector
    require(done.forall(_.endMs >= 0),
      s"listener bus never delivered ${done.count(_.endMs < 0)} job-end events")
    done
  }

  def reset(): Unit = { jobs.clear(); byStage.clear() }
}

/** One completed op. `cycle` numbers the client's rotation, the batch
  * pass, or the ingest op itself, for the drift reading. */
final case class Op(client: Int, cycle: Int, kind: String, ms: Double, ok: Boolean)

/** One timed call: an op's HTTP request, or a layer call made by a traced
  * run's probes. Spans of one op share `op`; `parent` is the enclosing
  * span's id (0 at the root). */
final case class Span(id: Long, op: Long, name: String, parent: Long,
    startMs: Long, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

object Trace {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  /** Time `f` as one span and keep it in memory. */
  def span[T](op: Long, name: String, parent: Long = 0L)(f: Long => T): T = {
    val id = nextId()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { val v = f(id); ok = true; v }
    finally spans.add(Span(id, op, name, parent, startMs, t0, System.nanoTime(), ok))
  }

  /** Jobs whose start falls inside the span's wall interval. With one
    * client (the traced runs) intervals never overlap. */
  def jobsIn(s: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)

  /** Milliseconds of `s` covered by the union of the given jobs' intervals. */
  def coveredMs(s: Span, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (j.startMs.max(s.startMs), j.endMs.min(s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, cur._2.max(b))
    }
    (total + cur._2 - cur._1).toDouble
  }

  /** Self time: the span minus the part its direct children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = a.max(end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }
}

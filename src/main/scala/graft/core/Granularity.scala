package graft.core

/** The six-level resolution ladder of the engine.
  *
  * Semantics follow the reference engine's granularity system
  * (reference: blueflood-core/.../rollup/Granularity.java:46-53 ladder,
  * 130-145 snap arithmetic, 185-339 by-points selection; per-tier retention
  * from io/CassandraModel.java:47-59). Buckets are epoch-aligned multiples of
  * the window width, so Spark's tumbling `window(ts, d)` — and the integer
  * floor `ts - ts % millis` we use — produce identical bucket boundaries.
  *
  * NOT ported: the 4032-slot wrapping shard arithmetic
  * (Granularity.java:341-344, SlotKey) — real timestamps + tumbling windows
  * make slot bookkeeping unnecessary on Spark; shuffle partitioning replaces
  * shard distribution.
  */
sealed abstract class Granularity(
    val name: String,
    val millis: Long,
    val retentionDays: Int
) extends Serializable {
  def isFull: Boolean = millis == 0L

  /** Epoch-aligned floor of a millisecond timestamp to this granularity's
    * bucket start (reference: Granularity.java:130-133 snapMillis). */
  def snap(ts: Long): Long = if (isFull) ts else ts - math.floorMod(ts, millis)

  def retentionMillis: Long = retentionDays * 86400000L

  def coarser: Option[Granularity] = {
    val ld = Granularity.all
    val i = ld.indexOf(this)
    if (i < 0 || i + 1 >= ld.size) None else Some(ld(i + 1))
  }

  def finer: Option[Granularity] = {
    val ld = Granularity.all
    val i = ld.indexOf(this)
    if (i <= 0) None else Some(ld(i - 1))
  }

  override def toString: String = name
}

object Granularity {
  case object FULL extends Granularity("full", 0L, 5)
  case object MIN_5 extends Granularity("5m", 5L * 60 * 1000, 10)
  case object MIN_20 extends Granularity("20m", 20L * 60 * 1000, 20)
  case object MIN_60 extends Granularity("60m", 60L * 60 * 1000, 155)
  case object MIN_240 extends Granularity("240m", 240L * 60 * 1000, 300)
  case object MIN_1440 extends Granularity("1440m", 1440L * 60 * 1000, 1825)

  /** Finest → coarsest, FULL included (reference: Granularity.java:53). */
  val all: Seq[Granularity] = Seq(FULL, MIN_5, MIN_20, MIN_60, MIN_240, MIN_1440)

  /** The rollup tiers (everything but FULL). */
  val rollupTiers: Seq[Granularity] = all.tail

  val LAST: Granularity = MIN_1440

  /** Default interval assumed for FULL-resolution data when estimating point
    * counts (reference: Granularity.java GET_BY_POINTS_ASSUME_INTERVAL,
    * CoreConfig default 30000 ms). */
  val AssumedIntervalMillis: Long = 30000L

  sealed trait SelectionAlgorithm
  case object Geometric extends SelectionAlgorithm
  case object Linear extends SelectionAlgorithm
  case object LessThanEqual extends SelectionAlgorithm

  /** Pick the granularity whose point density best matches `points` for the
    * interval [from, to) — the engine's "planner" (reference:
    * Granularity.java:185-339). `nowMillis` feeds the retention (TTL) skip in
    * the geometric variant (reference skips tiers whose TTL already expired
    * the range start, Granularity.java:305-310). */
  def granularityFromPointsInInterval(
      from: Long,
      to: Long,
      points: Int,
      algorithm: SelectionAlgorithm = Geometric,
      assumedIntervalMillis: Long = AssumedIntervalMillis,
      nowMillis: Long = System.currentTimeMillis()
  ): Granularity = {
    require(from < to, "invalid interval for granularityFromPointsInInterval")
    val duration = (to - from).toDouble
    algorithm match {
      case Geometric     => geometric(from, duration, points, assumedIntervalMillis, nowMillis)
      case Linear        => linear(duration, points, assumedIntervalMillis)
      case LessThanEqual => lessThanEqual(duration, points, assumedIntervalMillis)
    }
  }

  /** Minimize the >=1 ratio between provided and requested point counts,
    * skipping tiers whose retention has already expired `from`
    * (reference: Granularity.java:298-339). */
  private def geometric(
      from: Long,
      duration: Double,
      points: Int,
      assumedInterval: Long,
      now: Long
  ): Granularity = {
    var best: Option[Granularity] = None
    var bestRatio = Double.MaxValue
    var continueScan = true
    for (g <- all if continueScan) {
      if (from < now - g.retentionMillis) {
        // retention-expired tier: skip without breaking the scan
      } else {
        val period = if (g.isFull) assumedInterval else g.millis
        val providable = duration / period
        val ratio = if (providable > points) providable / points else points / providable
        if (ratio < bestRatio) { bestRatio = ratio; best = Some(g) }
        else continueScan = false // ratios are unimodal over the ladder
      }
    }
    best.getOrElse(LAST)
  }

  /** Minimize |points - provided| (reference: Granularity.java:268-287).
    * Note the reference truncates the diff to int before comparing — kept. */
  private def linear(duration: Double, points: Int, assumedInterval: Long): Granularity = {
    var closest = Int.MaxValue
    var best: Option[Granularity] = None
    var continueScan = true
    for (g <- all if continueScan) {
      val period = if (g.isFull) assumedInterval else g.millis
      val diff = math.abs(points - duration / period).toInt
      if (diff < closest) { closest = diff; best = Some(g) }
      else continueScan = false
    }
    best.getOrElse(LAST)
  }

  /** Coarsest granularity yielding <= `points` points
    * (reference: Granularity.java:248-258). */
  private def lessThanEqual(duration: Double, points: Int, assumedInterval: Long): Granularity = {
    val g = linear(duration, points, assumedInterval)
    if (duration / math.max(g.millis, 1L) > points) g.coarser.getOrElse(g) else g
  }
}

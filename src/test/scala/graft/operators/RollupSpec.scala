package graft.operators

import graft.SparkSuite
import graft.core.{Granularity, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's core invariant on real data: rolling up rollups equals
  * rolling up raw (BasicRollup.buildRollupFromRollups ≡
  * buildRollupFromRawSamples — SURVEY §5 property opportunity). */
class RollupSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("tenant_id", "metric_name", "bucket_ms").collect()

  test("basicMerge(5m→60m) ≡ basicFromRaw(60m) on real points") {
    val pts = Tables.metrics(spark, dir)
    val direct = Rollups.basicFromRaw(pts, Granularity.MIN_60)
    val merged = Rollups.basicMerge(
      Rollups.basicFromRaw(pts, Granularity.MIN_5), Granularity.MIN_60)
    val d = collectSorted(direct)
    val m = collectSorted(merged)
    assert(d.length === m.length)
    d.zip(m).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getString(1) === b.getString(1))
      assert(a.getLong(2) === b.getLong(2))
      assert(a.getLong(3) === b.getLong(3)) // num_points
      assert(math.abs(a.getDouble(4) - b.getDouble(4)) < 1e-6) // sum
      assert(math.abs(a.getDouble(5) - b.getDouble(5)) < 1e-9) // avg
      assert(a.getDouble(6) === b.getDouble(6)) // min
      assert(a.getDouble(7) === b.getDouble(7)) // max
      assert(math.abs(a.getDouble(8) - b.getDouble(8)) < 1e-6) // var
    }
  }

  test("salted exact-distinct set rollup equals the plain one") {
    val pts = Tables.metrics(spark, dir)
    val plain = Rollups.setFromRaw(pts, Granularity.MIN_1440)
      .orderBy("tenant_id", "metric_name", "bucket_ms").collect()
    val salted = Rollups.setFromRawSalted(pts, Granularity.MIN_1440, salt = 7)
      .orderBy("tenant_id", "metric_name", "bucket_ms").collect()
    assert(plain.length === salted.length)
    plain.zip(salted).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getString(1) === b.getString(1))
      assert(a.getLong(2) === b.getLong(2))
      assert(a.getLong(3) === b.getLong(3)) // exact distinct count
    }
  }

  test("stable variance merge survives huge-mean/small-spread data where expanded form cancels") {
    import spark.implicits._
    // values 1e8 + offsets {-1.5,-0.5,0.5,1.5}×2 ⇒ var_pop = 1.25; the
    // expanded Σx²−(Σx)²/N form loses ~16 digits to cancellation at 1e8
    val base = 1704067200000L
    val raw = (0 until 8).map { i =>
      ("t", "m", base + i * 60000L, 1e8 + (i % 4) - 1.5)
    }.toDF("tenant_id", "metric_name", "ts_ms", "value")
    val tier5 = Rollups.basicFromRaw(raw, Granularity.MIN_5)
    val stable = Rollups.basicMergeStable(tier5, Granularity.MIN_60)
      .select("var_v").collect()(0).getDouble(0)
    val truth = raw.agg(org.apache.spark.sql.functions.var_pop($"value"))
      .collect()(0).getDouble(0)
    assert(math.abs(stable - truth) < 1e-6, s"stable=$stable truth=$truth")
  }

  test("gauge latest picks max-ts value") {
    val pts = Tables.metrics(spark, dir)
    val g = Rollups.gaugeFromRaw(pts, Granularity.MIN_1440)
    // cross-check one group against a manual computation
    val row = g.orderBy("tenant_id", "metric_name", "bucket_ms").limit(1).collect()(0)
    val manual = pts
      .filter(col("tenant_id") === row.getString(0) &&
        col("metric_name") === row.getString(1) &&
        col("ts_ms") >= row.getLong(2) && col("ts_ms") < row.getLong(2) + 86400000L)
      .orderBy(col("ts_ms").desc).limit(1).collect()(0)
    assert(row.getAs[Double]("latest_v") === manual.getAs[Double]("value"))
  }

  test("set exact vs approx distinct within HLL error") {
    val pts = Tables.metrics(spark, dir)
    val exact = Rollups.setFromRaw(pts, Granularity.MIN_1440)
      .agg(sum("distinct_count")).collect()(0).getLong(0)
    val approx = Rollups.setApproxFromRaw(pts, Granularity.MIN_1440)
      .agg(sum("distinct_count")).collect()(0).getLong(0)
    assert(math.abs(exact - approx).toDouble / exact < 0.15)
  }

  test("timer approx percentiles track exact within digest error; scalars identical") {
    val pts = Tables.metrics(spark, dir)
    val key = Seq("tenant_id", "metric_name", "bucket_ms")
    val exact = Rollups.timerFromRaw(pts, Granularity.MIN_60)
    val approx = Rollups.timerApproxFromRaw(pts, Granularity.MIN_60)
    val joined = exact.as("e").join(approx.as("a"), key)
      .select(col("e.num_points").as("en"), col("a.num_points").as("an"),
        col("e.min_v").as("emin"), col("a.min_v").as("amin"),
        col("e.max_v").as("emax"), col("a.max_v").as("amax"),
        col("e.p50").as("ep50"), col("a.p50").as("ap50"),
        col("e.p95").as("ep95"), col("a.p95").as("ap95"))
      .collect()
    assert(joined.length === exact.count())
    joined.foreach { r =>
      // algebraic stats are the same aggregation — must match exactly
      assert(r.getAs[Long]("en") === r.getAs[Long]("an"))
      assert(r.getAs[Double]("emin") === r.getAs[Double]("amin"))
      assert(r.getAs[Double]("emax") === r.getAs[Double]("amax"))
      // percentiles: approx returns an actual element (rank-exact at this
      // accuracy, no interpolation) — always inside the group's range; for
      // small groups the exact INTERPOLATED value can sit mid-gap between
      // two elements, so the closeness bound applies to populated groups
      val span = math.max(r.getAs[Double]("emax") - r.getAs[Double]("emin"), 1e-9)
      for (p <- Seq("p50", "p95")) {
        val e = r.getAs[Double](s"e$p"); val a = r.getAs[Double](s"a$p")
        assert(a >= r.getAs[Double]("emin") && a <= r.getAs[Double]("emax"))
        if (r.getAs[Long]("en") >= 20)
          assert(math.abs(e - a) / span <= 0.25, s"$p exact=$e approx=$a span=$span")
      }
    }
  }

  test("GK digest exactness domain: approx_percentile at accuracy 10000 " +
    "equals rank selection for group sizes < 5000, any partition layout") {
    import spark.implicits._
    // one synthetic window per size, duplicate-heavy values, shuffled
    // layout: deltas floor(2e-4·i) and merge thresholds 2e-4·n are all < 1
    // below n=5000, so the digest is the sorted multiset and query(q)
    // returns the element at rank ceil(q·n) — the q_rollup_timer_approx_60m
    // oracle's exact claim, pinned here at the domain edge (4999)
    val rnd = new scala.util.Random(41)
    val rows = Seq(1, 2, 3, 10, 137, 1000, 4999).flatMap { n =>
      (0 until n).map(i => ("t", s"m_$n", i.toLong,
        math.floor(rnd.nextDouble() * 50) / 2.0)) // many exact duplicates
    }
    val pts = rows.toDF("tenant_id", "metric_name", "ts_ms", "value")
      .repartition(13)
    // ts_ms all inside one 1440m bucket -> one window per metric
    val approx = Rollups.timerApproxFromRaw(pts, Granularity.MIN_1440)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("metric_name").orderBy("value")
    val ranked = pts.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("metric_name")))
    def rankVal(q: Double, out: String) = ranked
      .filter(col("rn") === ceil(lit(q) * col("n")))
      .select(col("metric_name"), col("value").as(out))
    val joined = approx.join(rankVal(0.5, "v50"), "metric_name")
      .join(rankVal(0.95, "v95"), "metric_name").collect()
    assert(joined.length === 7)
    joined.foreach { r =>
      assert(r.getAs[Double]("p50") === r.getAs[Double]("v50"),
        s"${r.getAs[String]("metric_name")} p50")
      assert(r.getAs[Double]("p95") === r.getAs[Double]("v95"),
        s"${r.getAs[String]("metric_name")} p95")
    }
  }

  test("timerApproxFromRaw failBeyondExactDomain: a window at/over " +
    "accuracy/2 raises in-plan; the edge window (4999) still serves") {
    import spark.implicits._
    def pts(n: Int, name: String) = (0 until n)
      .map(i => ("t", name, i.toLong, i.toDouble))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
    // 4999 points: inside the exactness domain — loud mode passes through
    val edge = Rollups.timerApproxFromRaw(pts(4999, "edge"),
      Granularity.MIN_1440, failBeyondExactDomain = true)
    assert(edge.select("num_points").as[Long].collect() === Array(4999L))
    // 5000 points: merge-order-dependent regime — loud mode raises with
    // the window named, instead of silently serving nondeterminism
    val over = Rollups.timerApproxFromRaw(pts(5000, "hot"),
      Granularity.MIN_1440, failBeyondExactDomain = true)
    val ex = intercept[Exception](over.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("GK exactness domain") &&
      m.contains("hot")), ex.toString)
    // default stays quiet: the ad-hoc path is approximate by contract
    assert(Rollups.timerApproxFromRaw(pts(5000, "hot"), Granularity.MIN_1440)
      .count() === 1L)
  }

  test("timerHdr: percentile within one bin width below the rank value; " +
    "bin routing at edges; negatives fail loud") {
    import spark.implicits._
    val pts = Tables.metrics(spark, dir)
    val hdr = Rollups.timerHdrFromRaw(pts, Granularity.MIN_60)
    // rank-exact reference (type-1 percentile, no interpolation)
    val key = Seq("tenant_id", "metric_name", "bucket_ms")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*).orderBy(col("value"))
    val ranked = pts
      .select(col("tenant_id"), col("metric_name"),
        Tables.bucketMs(col("ts_ms"), Granularity.MIN_60).as("bucket_ms"),
        col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(key.map(col): _*)))
    def rankVal(q: Double, out: String) = ranked
      .filter(col("rn") === ceil(lit(q) * col("n")))
      .select(key.map(col) :+ col("value").as(out): _*)
    val joined = hdr.join(rankVal(0.5, "v50"), key).join(rankVal(0.95, "v95"), key)
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      for ((est, tru) <- Seq("p50_hdr" -> "v50", "p95_hdr" -> "v95")) {
        val a = r.getAs[Double](est); val t = r.getAs[Double](tru)
        // the estimate is the chosen bin's lower edge: never above the
        // rank value, at most one geometric bin width (5%) below it
        assert(a <= t, s"$est=$a above rank value $t")
        if (t >= 1e-6) assert(a >= t / 1.05 * 0.999999,
          s"$est=$a more than a bin below rank value $t")
      }
    }
    // merge property: 5m histograms merged to 60m == 60m histograms
    val h5 = Rollups.timerHdrHist(pts, Granularity.MIN_5)
    val merged = Rollups.timerHdrMergeHist(h5, Granularity.MIN_60)
      .orderBy("tenant_id", "metric_name", "bucket_ms", "bin").collect()
    val direct = Rollups.timerHdrHist(pts, Granularity.MIN_60)
      .orderBy("tenant_id", "metric_name", "bucket_ms", "bin").collect()
    assert(merged.toSeq === direct.toSeq,
      "histogram merge must be exact (the merged histogram IS the union's)")
    // exact-edge value lands in ITS bin (closed-left), sub-resolution in -1
    val e10 = Rollups.hdrEdges(10)
    val edgePts = Seq(("t", "m", 0L, e10), ("t", "m", 1L, 0.0),
      ("t", "m", 2L, 5e-7)).toDF("tenant_id", "metric_name", "ts_ms", "value")
    val bins = Rollups.timerHdrHist(edgePts, Granularity.FULL)
      .select("bin").collect().map(_.getInt(0)).sorted
    assert(bins === Array(-1, -1, 10))
    // negative values raise, never bin silently
    val neg = Seq(("t", "m", 0L, -1.0)).toDF("tenant_id", "metric_name", "ts_ms", "value")
    val ex = intercept[Exception] {
      Rollups.timerHdrHist(neg, Granularity.FULL).collect()
    }
    assert(ex.getMessage.contains("negative value") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative value")))
    // NaN raises the SAME intended diagnostic, not an opaque ANSI cast
    // failure (NaN < 0 and NaN < 1e-6 are both false, so it would
    // otherwise reach floor(log(NaN))::int)
    val nan = Seq(("t", "m", 0L, Double.NaN))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
    val exNan = intercept[Exception] {
      Rollups.timerHdrHist(nan, Granularity.FULL).collect()
    }
    val nanMsgs = Iterator.iterate(exNan: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(nanMsgs.exists(_.contains("NaN value")), nanMsgs)
  }

  test("timerHdrPercentiles: fractional quantiles name unambiguously; " +
    "duplicates fail loud") {
    import spark.implicits._
    val one = Seq(("t", "m", 0L, 1.0))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
    val hist = Rollups.timerHdrHist(one, Granularity.FULL)
    // 0.995 and 1.0 must NOT both round to p100_hdr
    val cols = Rollups.timerHdrPercentiles(hist, Seq(0.995, 1.0, 0.29)).columns
    assert(cols.contains("p99_5_hdr") && cols.contains("p100_hdr") &&
      cols.contains("p29_hdr"), cols.toSeq)
    val dup = intercept[IllegalArgumentException] {
      Rollups.timerHdrPercentiles(hist, Seq(0.95, 0.95))
    }
    assert(dup.getMessage.contains("duplicate quantiles"))
  }
}

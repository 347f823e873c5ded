package graft.http

import graft.core.DateTimeParser
import graft.operators.{Anomaly, Series}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The render-function table: one entry per function name `/render`
  * serves, holding both graphite-web's function metadata and the
  * implementation. `GET /functions[/<name>]` — graphite-web's
  * function-metadata endpoint (webapp/graphite/functions/views.py in the
  * graphite-web project), which Grafana's graphite datasource fetches to
  * populate its query-editor function picker — is generated from the same
  * entries in the graphite-web JSON shape: `{name: {name, function,
  * description, group, params: [{name, type, required}]}}`. A name is
  * therefore either served and listed or neither, and adding a function
  * is one entry.
  *
  * Targets NEST, as Graphite dashboards actually write them
  * (`movingAverage(perSecond(app.*), "5min")`, `derivative(sumSeries(app.*))`):
  * the first argument of any function is either a metric glob (the base
  * fetch through the facade's kind-routed read, [[Source.fetch]]) or
  * another function expression, evaluated recursively. Every function
  * consumes and produces the standardized frame, so the whole composition
  * stays ONE lazy Catalyst plan — nothing materializes between stages, and
  * the final [[collectSeries]] row cap bounds the only collect.
  *
  * Naming composes outward: per-series wrappers build
  * `fn(<inner display name>[,args])`, cross-series aggregates pin the
  * subtree's own target text, `alias`/`aliasByNode` replace it.
  * `timeShift` re-evaluates its WHOLE subtree under the shifted
  * [from, until] and draws the result at the requested instants.
  * ARITHMETIC transforms (rates, integral, moving, resample, aggregates)
  * drop null input values (Graphite's None-skipping, [[Call.inner]]);
  * pointwise transforms (scale/offset/absolute) and whole-series selection
  * take the raw frame ([[Call.raw]]) — null arithmetic yields null and
  * selection serves points unchanged — so each stage's own null output (a
  * derivative's first point) still renders as null datapoints through
  * them. */
private[http] object Render {

  /** One evaluated render-target subtree: a standardized
    * `(tenant_id, metric_name, ts_ms, value)` frame plus its naming —
    * `singleName` labels a cross-series aggregate by the subtree's own
    * target text (the Graphite convention); `nameOf` maps a series name to
    * its display name, composed outward by each wrapping function.
    * `consolidate` is the series' consolidateBy() tag — the statistic the
    * FINAL maxDataPoints consolidation uses (None → Graphite's default
    * average). Every PER-SERIES wrapper (transforms, scrubs, selection,
    * naming) threads it through, so Grafana's generated
    * `movingAverage(consolidateBy(x,'max'),…)` nesting keeps the tag;
    * cross-series combiners (sumSeries family, groupBy*, weightedAverage,
    * diff/multiply/divide, percentileOfSeries) produce NEW series and
    * reset it, as graphite-web's reduced series do. */
  final case class SeriesExpr(df: DataFrame,
      singleName: Option[String], nameOf: String => String,
      consolidate: Option[String] = None) {
    /** Total display-name function — what an ENCLOSING wrapper composes
      * over (an aggregate's constant text, else the per-series name). */
    def displayName: String => String = n => singleName.getOrElse(nameOf(n))

    /** A per-series stage over this subtree: `out` replaces the frame,
      * the display name wraps as `shown(<this series' name>)`, and the
      * consolidateBy tag carries through. */
    def wrap(out: DataFrame)(shown: String => String): SeriesExpr =
      SeriesExpr(out, None, n => shown(displayName(n)), consolidate)
  }

  /** What one render request evaluates against: the readers' session, the
    * request's tenant and clock, the kind-routed base fetch of a metric
    * glob over `(glob, from, until)` (bound to the request's points
    * budget), and the tenant's event search over
    * `(fromMs, untilMs, tagsRegex)`. */
  final case class Source(spark: SparkSession, tenant: String, now: Long,
      fetch: (String, String, String) => DataFrame,
      events: (Long, Long, String) => Option[DataFrame])

  /** One function call inside a target: its text, split arguments and the
    * [from, until] it evaluates under, plus the argument readers every
    * entry shares. A required argument that is missing, and any argument
    * that is present but does not parse, is a 400 naming the target; an
    * omitted optional argument takes the entry's default. */
  final class Call private[Render] (val t: String, val fn: String,
      val args: IndexedSeq[String], val src: Source, val from: String,
      val until: String, depth: Int) {
    def arg0: String = args(0).trim
    def recurse(sub: String, f: String = from, u: String = until): SeriesExpr =
      eval(sub.trim, src, f, u, depth + 1)
    /** The first argument's series, null datapoints included. */
    def raw: SeriesExpr = recurse(arg0)
    /** The first argument's non-null points: transforms consume non-null
      * values only (a wrapped stage's null outputs — e.g. a derivative's
      * first point — must not reach the next operator's arithmetic); the
      * base fetch is already non-null. */
    def inner: SeriesExpr = {
      val in = raw
      in.copy(df = in.df.filter(col("value").isNotNull))
    }
    def fromMs: Long = DateTimeParser.parseMillis(from, src.now)
    def untilMs: Long = DateTimeParser.parseMillis(until, src.now)
    /** The first argument evaluated `ms` earlier: under
      * [from − ms, until − ms]. */
    def shifted(ms: Long): SeriesExpr = recurse(arg0,
      s"${(fromMs - ms) / 1000}", s"${(untilMs - ms) / 1000}")

    /** Argument `i`, trimmed (a sub-expression or a number's text). */
    def arg(i: Int): Option[String] = args.lift(i).map(_.trim)
    def need(i: Int, what: String): String = arg(i).getOrElse(missing(what))
    /** Argument `i` with one layer of quotes stripped. */
    def optStr(i: Int): Option[String] = args.lift(i).map(stripQuotes)
    def str(i: Int, what: String): String = optStr(i).getOrElse(missing(what))
    def optNum(i: Int, what: String): Option[Double] =
      parsed(i, what)(_.toDoubleOption)
    def num(i: Int, what: String): Double = optNum(i, what).getOrElse(missing(what))
    def optInt(i: Int, what: String): Option[Int] = parsed(i, what)(_.toIntOption)
    def int(i: Int, what: String): Int = optInt(i, what).getOrElse(missing(what))
    /** Every argument from `i` on, at least one, each an integer (node
      * indexes, wildcard positions). */
    def ints(i: Int, what: String): Seq[Int] = {
      val vs = args.drop(i).map { a =>
        a.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$fn $what must be an integer in '$t', got '${a.trim}'"))
      }
      require(vs.nonEmpty, s"$fn needs at least one $what in '$t'")
      vs
    }
    /** Argument 1 as a Graphite interval string. */
    def ivl(what: String): String = str(1, s"""a $what interval (e.g. "5min")""")
    def pct(i: Int): Double = {
      val v = num(i, "a percentile")
      require(v >= 0.0 && v <= 100.0,
        s"percentile must be in [0, 100] in '$t', got $v")
      v
    }
    def count(i: Int): Int = {
      val k = int(i, "a series count")
      require(k > 0, s"series count must be positive in '$t', got $k")
      k
    }

    private def parsed[A](i: Int, what: String)(p: String => Option[A]) =
      arg(i).map(a => p(a).getOrElse(throw new IllegalArgumentException(
        s"$fn needs $what in '$t', got '$a'")))
    private def missing(what: String): Nothing =
      throw new IllegalArgumentException(s"$fn needs $what in '$t'")
  }

  final case class P(name: String, ptype: String, required: Boolean)
  final case class Fn(name: String, group: String, desc: String,
      params: Seq[P])(val eval: Call => SeriesExpr)

  private def p(n: String, t: String) = P(n, t, required = true)
  private def opt(n: String, t: String) = P(n, t, required = false)
  private val series = p("seriesList", "seriesList")
  private def ser = Seq(col("tenant_id"), col("metric_name"), col("ts_ms"))
  private def perSeries = Window.partitionBy(col("tenant_id"), col("metric_name"))

  /** The `average|avg|mean` spellings of the mean, as `mean`. */
  private def normStat(f: String, mean: String = "mean"): String = f match {
    case "average" | "avg" | "mean" => mean
    case other => other
  }

  // ---- family builders: one per family, parameterised per name ----------

  /** A cross-series combiner: the input frame is already exactly the
    * matching series (the base fetch resolved the glob), so the operator's
    * own filter runs match-all — which also makes composed inputs with
    * synthetic names aggregate correctly. One entry named by the target
    * expression (the Graphite convention); bucketMs=1 keeps the served
    * instants as-is. */
  private def combined(c: Call, stat: String): SeriesExpr =
    SeriesExpr(Series
        .aggregateSeries(c.inner.df, "*", stat, bucketMs = 1L)
        .withColumnRenamed("bucket_ms", "ts_ms"),
      Some(c.t), identity)

  private def combiner(name: String, stat: String, desc: String) =
    Fn(name, "Combine", desc, Seq(series))(combined(_, stat))

  /** A per-series transform over the RAW first argument: null arithmetic
    * yields null, so a wrapped stage's null datapoints (a derivative's
    * first point) still render as nulls instead of disappearing. `v`
    * reads the call's arguments and returns the new value column and the
    * argument text of the display name `name(<inner>[,args])`. */
  private def pointwise(name: String, group: String, desc: String,
      params: Seq[P] = Seq(series))(v: Call => (Column, String)) =
    Fn(name, group, desc, params) { c =>
      val (value, args) = v(c)
      val in = c.raw
      in.wrap(in.df.withColumn("value", value))(d => s"$name($d$args)")
    }

  /** One lag pass serves all three Graphite rate views
    * ([[graft.operators.Series.derivatives]]); the first point of each
    * series renders null, as Graphite draws it. */
  private def derivative(name: String, vCol: String, desc: String) =
    Fn(name, "Transform", desc, Seq(series)) { c =>
      val in = c.inner
      in.wrap(Series.derivatives(in.df)
        .select(ser :+ col(vCol).as("value"): _*))(d => s"$name($d)")
    }

  /** Pointwise arithmetic with a constant, drawn with the constant's
    * text as written. */
  private def constant(name: String, desc: String)(op: (Column, Double) => Column) =
    pointwise(name, "Transform", desc, Seq(series, p("factor", "float"))) { c =>
      val k = c.num(1, "a numeric constant")
      (op(col("value"), k), "," + c.need(1, "a numeric constant"))
    }

  /** Pointwise threshold scrub: offending values become null datapoints
    * (the series keeps its instants — Graphite draws the gap); RAW inner,
    * nulls pass through. */
  private def valueScrub(name: String, desc: String)(offending: Double => Column) =
    pointwise(name, "Transform", desc, Seq(series, p("n", "float"))) { c =>
      val thr = c.num(1, "a numeric threshold")
      (when(offending(thr), lit(null).cast("double")).otherwise(col("value")),
        s",$thr")
    }

  /** Per-series percentile line: scrub past it (remove*) or draw it
    * (nPercentile) — each point against its series' exact percentile of
    * the non-null values (`__pv`, NULL for an all-null series), a
    * [[perSeries]] window column: the subtree is evaluated once, inside
    * the render's one job (the [[keepSeries]] rule). */
  private def percentileScrub(name: String, desc: String)(v: => Column) =
    Fn(name, "Transform", desc, Seq(series, p("n", "float"))) { c =>
      val pct = c.pct(1)
      val in = c.raw // RAW: null datapoints pass through
      in.wrap(in.df
          .withColumn("__pv",
            percentile(col("value"), lit(pct / 100.0)).over(perSeries))
          .withColumn("value", v).drop("__pv"))(
        d => s"$name($d,$pct)")
    }

  /** Alignment onto a uniform "<interval>" grid: keepLastValue
    * forward-fills (step), resample interpolates (linear) — both under the
    * bounded-grid contract, enforced at the REQUEST level before any query
    * runs (the panel-route rule). */
  private def grid(name: String, desc: String)(align: (DataFrame, Long) => DataFrame) =
    Fn(name, "Transform", desc, Seq(series, p("interval", "string"))) { c =>
      val ivl = c.ivl("grid")
      val stepMs = parseIntervalMs(ivl)
      val gridN = (c.untilMs - c.fromMs) / stepMs + 1L
      require(gridN <= Series.MaxGridPointsPerSeries,
        s"$name grid too fine: (until - from)/interval yields $gridN " +
          s"points > ${Series.MaxGridPointsPerSeries}" +
          " — widen the interval or narrow the range")
      val in = c.inner
      in.wrap(align(in.df, stepMs))(d => s"""$name($d,"$ivl")""")
    }

  /** Time-window smoothing (range frame [ts − w, ts]); the window is an
    * interval string — point-count windows are a different frame this
    * store's irregular timestamps would make misleading, so they are
    * rejected loudly. `func` None reads it from argument 2
    * (movingWindow). */
  private def moving(name: String, func: Option[String], desc: String) =
    Fn(name, "Calculate", desc, Seq(series, p("windowSize", "string")) ++
        (if (func.isEmpty) Seq(opt("func", "string")) else Nil)) { c =>
      val ivl = c.ivl("window")
      val windowMs = parseIntervalMs(ivl)
      val f = func.getOrElse(
        normStat(c.optStr(2).getOrElse("average"), mean = "average"))
      // Graphite parity: the subtree is fetched with `from` pulled
      // back by the window, so the first REQUESTED instants smooth
      // over full windows instead of partial ones; the warmup rows
      // are dropped from the output
      val fromMs = c.fromMs
      val in0 = c.recurse(c.arg0, s"${(fromMs - windowMs) / 1000}")
      val in = in0.copy(df = in0.df.filter(col("value").isNotNull))
      // mean/sum/stddev take the prefix-sum path (bit-identical to
      // the frame form, flat in window width — a wide window over a
      // dense series through the frame path is the O(points×frame)
      // wall graft.Stress measures); extremes have no prefix form
      // and keep the frame path
      val smoothed = f match {
        // withStd only when stddev is served: the squared-sum
        // prefixes carry their own (narrower) overflow domain that
        // plain average/sum requests must not pay
        case "average" | "sum" | "stddev" => Series
          .movingWindowPrefix(in.df, windowMs, withStd = f == "stddev")
          .select(ser :+ col(f match {
            case "average" => "mavg"
            case "sum" => "msum"
            case _ => "mstd"
          }).as("value"): _*)
        case "max" | "min" => Series
          .movingStats(in.df, windowMs)
          .select(ser :+ col(if (f == "max") "mmax" else "mmin")
            .as("value"): _*)
        case other => throw new IllegalArgumentException(
          s"movingWindow func must be one of " +
            s"average|sum|max|min|stddev, got '$other'")
      }
      in.wrap(smoothed.filter(col("ts_ms") >= fromMs))(d =>
        if (func.isEmpty) s"""movingWindow($d,"$ivl","$f")"""
        else s"""$name($d,"$ivl")""")
    }

  /** The Holt-Winters render family over the engine's triple-exponential
    * scan ([[graft.operators.Anomaly.holtWintersBands]]): forecast, ±k·dev
    * confidence bands (two series per input), aberration (deviation
    * outside the bands). Optional second arg = season length in points
    * (default 24 — daily seasons over hourly buckets); compose over
    * summarize/keepLastValue first when serving irregular raw points
    * (phases are positional, the operator's documented cadence
    * contract). */
  private def holtWinters(name: String, desc: String)(
      draw: (SeriesExpr, DataFrame) => SeriesExpr) =
    Fn(name, "Calculate", desc, Seq(series, opt("season", "integer"))) { c =>
      val season = c.optInt(1, "an integer season").getOrElse(24)
      require(season >= 1 && season <= 8192,
        s"season must be in [1, 8192] in '${c.t}', got $season")
      val in = c.inner
      draw(in, Anomaly.holtWintersBands(in.df, season))
    }

  private def decimate(name: String, desc: String, minBuckets: Int)(
      op: (DataFrame, Int) => DataFrame) =
    Fn(name, "Calculate", desc, Seq(series, opt("buckets", "integer"))) { c =>
      val in = c.inner
      val b = c.optInt(1, "an integer bucket count").getOrElse(200)
      require(b >= minBuckets,
        s"buckets must be >= $minBuckets in '${c.t}', got $b")
      in.copy(df = op(in.df, b))
    }

  /** Series SELECTION (Graphite's highest* and lowest* family): rank whole
    * series by a per-series stat, keep k, serve those series' points
    * unchanged (names pass through). */
  private def selector(name: String, stat: String, asc: Boolean, desc: String) =
    Fn(name, "Filter Series", desc, Seq(series, p("n", "integer"))) { c =>
      val k = c.count(1)
      // seriesStat's aggregates ignore nulls themselves
      keepSeries(c)(topK(_, k, Series.seriesStat(stat, _.over(perSeries)), asc))
    }

  /** Whole-series selection: the RAW first argument's points that `pick`
    * keeps, served UNCHANGED (nulls included). `pick` filters the points
    * by window columns — [[perSeries]] aggregates, then a per-tenant rank
    * where it ranks — and drops them again. The subtree is evaluated
    * ONCE and the pick runs inside the render's one job: the read under
    * it is one partition, which every window plans over without an
    * exchange — no checkpoint job, no broadcast job. */
  private def keepSeries(c: Call)(pick: DataFrame => DataFrame): SeriesExpr = {
    val in = c.raw
    in.copy(df = pick(in.df))
  }

  /** The points of each tenant's first `k` series by `stat`, a
    * per-series window column, in [[Series.topSeries]]' order
    * ([[Series.rankOrder]]: nulls last, ties by name): every point of a
    * series shares its (stat, name), so the dense rank of a point is its
    * series' rank. */
  private def topK(df: DataFrame, k: Int, stat: Column,
      ascending: Boolean): DataFrame =
    df.withColumn("stat_value", stat)
      .withColumn("__rk", dense_rank().over(Window.partitionBy(col("tenant_id"))
        .orderBy(Series.rankOrder(ascending): _*)))
      .filter(col("__rk") <= k).drop("stat_value", "__rk")

  /** Threshold SELECTION: keep series whose per-series stat clears the
    * bound. */
  private def statFilter(name: String, stat: String, above: Boolean,
      desc: String) =
    Fn(name, "Filter Series", desc, Seq(series, p("n", "float"))) { c =>
      val thr = c.num(1, "a numeric threshold")
      val cond =
        if (above) col("__stat") > thr
        else col("__stat") < thr
      keepSeries(c)(_.withColumn("__stat",
        Series.seriesStat(stat, _.over(perSeries))).filter(cond).drop("__stat"))
    }

  /** Series-NAME regex filter (Graphite's exclude/grep): unanchored search
    * against the stored series name; selection serves points unchanged
    * (RAW inner, nulls included). */
  private def nameFilter(name: String, keep: Boolean, desc: String) =
    Fn(name, "Filter Series", desc, Seq(series, p("pattern", "string"))) { c =>
      val pat = c.str(1, "a regex")
      try java.util.regex.Pattern.compile(pat) catch {
        case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"$name pattern does not compile: ${e.getMessage}")
      }
      val in = c.raw
      val m = col("metric_name").rlike(pat)
      in.copy(df = in.df.filter(if (keep) m else !m))
    }

  /** The display name becomes one dot-token of the series name (a
    * negative index counts from the end); `fixed` pins the index
    * (aliasByMetric is graphite-web's aliasByNode(expr, -1): the last
    * token). */
  private def aliasNode(name: String, desc: String, params: Seq[P],
      fixed: Option[Int]) = Fn(name, "Alias", desc, params) { c =>
    val idx = fixed.getOrElse(c.int(1, "a node index"))
    val in = c.raw
    SeriesExpr(in.df, None, { n0 =>
      val n = in.displayName(n0)
      val parts = n.split('.')
      val i = if (idx < 0) parts.length + idx else idx
      require(i >= 0 && i < parts.length,
        s"$name index $idx out of range for series '$n'")
      parts(i)
    }, in.consolidate)
  }

  /** Series ORDERING (graphite-web's sortBy family): entries leave in
    * per-series-stat order instead of name order. The stat rides along as
    * a per-series __ord window column — [[collectSeries]] orders by it and
    * limit() ranks by it; the whole composition stays one lazy plan, no
    * extra pass. RAW inner: ordering serves points unchanged, nulls
    * included. */
  private def sortBy(name: String, desc: String)(
      sorted: (DataFrame, WindowSpec) => DataFrame) =
    Fn(name, "Sorting", desc, Seq(series)) { c =>
      val in = c.raw
      in.copy(df = sorted(in.df, perSeries))
    }

  /** Aggregate series whose names match after REMOVING the wildcard node
    * positions; entries named by the collapsed name
    * ([[graft.operators.Series.aggregateWithWildcards]]). */
  private def wildcards(name: String, stat: String, desc: String) =
    Fn(name, "Combine", desc, Seq(series, p("position", "node"))) { c =>
      val idxs = c.ints(1, "wildcard position")
      require(idxs.forall(_ >= 0),
        s"$name wildcard positions must be non-negative in '${c.t}'")
      SeriesExpr(Series
          .aggregateWithWildcards(c.inner.df, idxs, stat, bucketMs = 1L)
          .withColumnRenamed("bucket_ms", "ts_ms"),
        None, identity)
    }

  /** PRESENTATION tags — rendering is the dashboard's job on this JSON
    * API, so the frame passes through untouched; the display name wraps
    * exactly where graphite-web wraps it (stacked/secondYAxis/
    * drawAsInfinite/dashed) and stays bare where graphite-web keeps it
    * (lineWidth/color), so mixed dashboards never 400 on a cosmetic tag. */
  private def presentation(name: String, desc: String, params: Seq[P])(
      shown: (Call, String => String) => String => String) =
    Fn(name, "Graph", desc, params) { c =>
      val in = c.raw
      SeriesExpr(in.df, None, shown(c, in.displayName), in.consolidate)
    }
  private def wrapped(name: String): (Call, String => String) => String => String =
    (_, d) => n => s"$name(${d(n)})"

  /** Tag a series with the statistic the FINAL maxDataPoints
    * consolidation uses (renderView's post-transform pass; default
    * average). Pure metadata: the frame passes through untouched. */
  private def consolidated(in: SeriesExpr, func: String): SeriesExpr =
    SeriesExpr(in.df, None,
      n => s"""consolidateBy(${in.displayName(n)},"$func")""", Some(func))

  /** from, midpoint and until: graphite-web's three points of a drawn
    * line. */
  private def lineInstants(c: Call): Seq[Long] = {
    val (fromMs, untilMs) = (c.fromMs, c.untilMs)
    Seq(fromMs, (fromMs + untilMs) / 2, untilMs).distinct
  }

  /** A literal series named `name`: `v` at each of `instants`. */
  private def literal(c: Call, name: String, instants: Seq[Long],
      v: Double): SeriesExpr = {
    val spark = c.src.spark
    import spark.implicits._
    SeriesExpr(instants.map(ts => (c.src.tenant, name, ts, v))
        .toDF("tenant_id", "metric_name", "ts_ms", "value"),
      Some(name), identity)
  }

  private def logarithm(name: String, desc: String) =
    Fn(name, "Transform", desc, Seq(series, opt("base", "float"))) { c =>
      // log base b (default 10); zero/negative values render null
      // (Graphite's math-domain None)
      val base = c.optNum(1, "a numeric base").getOrElse(10.0)
      require(base > 0 && base != 1.0,
        s"logarithm base must be > 0 and != 1 in '${c.t}', got $base")
      val in = c.raw
      in.wrap(in.df.withColumn("value",
        when(col("value") > 0, log(base, col("value")))))(d => s"log($d,$base)")
    }

  /** identity("name"[, step]) — epoch seconds drawn on a uniform grid
    * (graphite's time ramp; step defaults 60 s), bounded by the panel grid
    * cap like every grid generator here. */
  private def ramp(name: String, desc: String) =
    Fn(name, "Special", desc, Seq(p("name", "string"), opt("step", "integer"))) { c =>
      val label = stripQuotes(c.arg0)
      val stepS = c.optInt(1, "an integer step").getOrElse(60)
      require(stepS >= 1, s"step must be >= 1 in '${c.t}', got $stepS")
      val (fromMs, untilMs) = (c.fromMs, c.untilMs)
      val n = (untilMs - fromMs) / (stepS * 1000L) + 1L
      require(n <= Series.MaxGridPointsPerSeries,
        s"identity grid too fine: $n points > " +
          s"${Series.MaxGridPointsPerSeries} in '${c.t}'")
      SeriesExpr(c.src.spark.range(n).select(
          lit(c.src.tenant).as("tenant_id"), lit(label).as("metric_name"),
          (lit(fromMs) + col("id") * (stepS * 1000L)).as("ts_ms"),
          ((lit(fromMs) + col("id") * (stepS * 1000L)) / 1000L)
            .cast("double").as("value")),
        Some(label), identity)
    }

  /** Pointwise power; graphite's safePow renders None where the
    * real-valued result is undefined (negative base under a fractional
    * exponent), which Spark's pow signals as NaN. */
  private def safePow(k: Double): Column = {
    val p = pow(col("value"), lit(k))
    when(!isnan(p), p)
  }

  // ---- the table ---------------------------------------------------------

  /** Every render function, grouped the way graphite-web groups its
    * pickers; `/functions` lists them in this order. */
  val table: Seq[Fn] = Seq(
    // Combine
    combiner("sumSeries", "sum", "per-instant sum across matched series"),
    combiner("averageSeries", "mean", "per-instant mean across matched series"),
    combiner("maxSeries", "max", "per-instant max across matched series"),
    combiner("minSeries", "min", "per-instant min across matched series"),
    combiner("countSeries", "count", "per-instant sample count across matched series"),
    combiner("rangeOfSeries", "range", "per-instant max minus min across matched series"),
    combiner("stddevSeries", "stddev", "per-instant population stddev across matched series"),
    Fn("percentileOfSeries", "Combine", "per-instant percentile across matched series",
        Seq(series, p("n", "float"))) { c =>
      val pct = c.pct(1)
      SeriesExpr(Series
          .quantileOfSeries(c.inner.df, "*", pct / 100.0, bucketMs = 1L)
          .withColumnRenamed("bucket_ms", "ts_ms")
          .withColumnRenamed("qvalue", "value"),
        Some(c.t), identity)
    },
    Fn("group", "Combine", "plain union of every argument's series (names/points untouched)",
        Seq(p("seriesLists", "seriesList"))) { c =>
      // group(a, b, ...) — graphite's plain list combiner: the
      // union of every argument's series, points untouched. Each
      // argument's DISPLAY NAMES (a nested scale/alias renames its
      // series) are baked into the frame before the union via a
      // panel-bounded broadcast rename table — one frame cannot
      // carry per-argument nameOf functions
      val spark = c.src.spark
      import spark.implicits._
      val frames = c.args.map { a =>
        val in = c.recurse(a)
        val tbl = in.df.select("tenant_id", "metric_name").distinct()
          .collect()
          .map(r => (r.getString(0), r.getString(1),
            in.displayName(r.getString(1)))).toSeq
          .toDF("tenant_id", "metric_name", "__gname")
        in.df.select("tenant_id", "metric_name", "ts_ms", "value")
          .join(broadcast(tbl), Seq("tenant_id", "metric_name"))
          .select(col("tenant_id"),
            col("__gname").as("metric_name"), col("ts_ms"),
            col("value"))
      }
      SeriesExpr(frames.reduce(_ unionByName _), None, identity)
    },
    Fn("fallbackSeries", "Special", "serve the fallback list when the primary matches no series",
        Seq(series, p("fallback", "seriesList"))) { c =>
      // serve the fallback when the primary matches NO series
      // (graphite's dashboard placeholder; the emptiness probe runs on
      // the panel-bounded frame the render path collects anyway)
      val fbArg = c.need(1, "a fallback seriesList")
      val a = c.raw
      if (a.df.isEmpty) c.recurse(fbArg) else a
    },
    Fn("groupByNode", "Combine", "aggregate series sharing name node n; entries named by the token",
        Seq(series, p("nodeNum", "node"), opt("callback", "string"))) { c =>
      // groupByNode(<expr>, n[, "func"]) — aggregate series sharing
      // dot-token n, one output series NAMED by the token (the
      // legend-grouping workhorse); bucketMs=1 keeps served instants
      // as-is (the sumSeries-arm convention)
      val idx = c.int(1, "a node index")
      val stat = normStat(c.optStr(2).getOrElse("average"))
      SeriesExpr(Series
          .groupByNode(c.inner.df, idx, stat, bucketMs = 1L)
          .withColumnRenamed("bucket_ms", "ts_ms"),
        None, identity)
    },
    Fn("groupByNodes", "Combine", "aggregate series sharing the dot-joined node selection",
        Seq(series, p("callback", "string"), p("nodes", "node"))) { c =>
      // groupByNodes(<expr>, "func", n1[, n2…]) — Graphite's
      // multi-node form: the grouping key (and entry name) is the
      // dot-joined token selection in the caller's order
      val stat = normStat(c.str(1, "a callback function"))
      val idxs = c.ints(2, "node index")
      SeriesExpr(Series
          .groupByNodes(c.inner.df, idxs, stat, bucketMs = 1L)
          .withColumnRenamed("bucket_ms", "ts_ms"),
        None, identity)
    },
    Fn("asPercent", "Combine", "per-instant share of the matched series' total, or of an explicit total expression",
        Seq(series, opt("total", "seriesList"))) { c =>
      // per-INSTANT shares (the stacked-percentage view):
      // one-arg form = value / Σ(matched series at the same ts);
      // two-arg Graphite form asPercent(expr, totalExpr) divides by
      // the TOTAL expression's per-instant sum instead (left join —
      // instants the total lacks yield null). Instants must align
      // for a share to be meaningful; compose over summarize/
      // resample/keepLastValue when timestamps are irregular.
      // Zero/NULL denominators yield null (the F6 safe-div rule).
      val in = c.raw
      val pct = when(col("__tot") =!= 0.0,
        col("value") / col("__tot") * 100)
      c.arg(1) match {
        case Some(totArg) =>
          val totByTs = c.recurse(totArg).df
            .groupBy(col("tenant_id"), col("ts_ms"))
            .agg(sum(col("value")).as("__tot"))
          SeriesExpr(in.df
              .join(totByTs, Seq("tenant_id", "ts_ms"), "left")
              .withColumn("value", pct).drop("__tot"),
            None, n => s"asPercent(${in.displayName(n)},$totArg)")
        case None =>
          val wTs = Window.partitionBy(col("tenant_id"), col("ts_ms"))
          SeriesExpr(in.df
              .withColumn("__tot", sum(col("value")).over(wTs))
              .withColumn("value", pct).drop("__tot"),
            None, n => s"asPercent(${in.displayName(n)})")
      }
    },
    Fn("divideSeries", "Combine", "each series divided by the divisor's per-instant sample",
        Seq(p("dividendSeriesList", "seriesList"), p("divisorSeries", "seriesList"))) { c =>
      // divideSeries(<dividend>, <divisor>) — each dividend series
      // divided by the divisor's per-instant sample (error rates,
      // ratios). The divisor must be ONE sample per instant —
      // ambiguity raises IN-PLAN, never silently sums; zero/missing
      // denominators yield null (the F6 safe-div rule). Instants
      // must align — compose over summarize/keepLastValue when raw
      // timestamps are irregular (the asPercent convention).
      val divArg = c.need(1, "a divisor series")
      // RAW dividend: a wrapped stage's null datapoints render as
      // null through pointwise arithmetic (the scale/offset rule);
      // only the divisor side strips nulls
      val in = c.raw
      val (den, guarded, denTmp) = perInstantSample(
        c.recurse(divArg).df, "divideSeries", "divisor", divArg, 0)
      SeriesExpr(in.df
          .join(den, Seq("tenant_id", "ts_ms"), "left")
          .withColumn("value",
            when(guarded =!= 0.0, col("value") / guarded))
          .drop(denTmp: _*),
        None, n => s"divideSeries(${in.displayName(n)},$divArg)")
    },
    Fn("diffSeries", "Combine", "ONE combined series: the first argument's per-instant sum minus the per-instant sum of the rest (unlike graphite-web's safeDiff, an all-null minuend instant stays null and never adopts a subtrahend)",
        Seq(series, p("seriesLists", "seriesList"))) { c =>
      // diffSeries(<expr>, <sub1>[, <sub2>…]) — graphite-web REDUCES
      // the whole matched list to ONE combined series, so a
      // multi-series first argument must not fan out into one entry
      // per series. Minuend = the first argument's per-instant
      // exact-DECIMAL sum (an all-null instant stays null — a
      // DOCUMENTED divergence from safeDiff, whose first-non-null
      // pick would let a subtrahend become the minuend); each
      // subtrahend instant contributes its sum, a missing instant
      // contributes 0 (Graphite's safeDiff). All sums run through
      // DECIMAL(28,2) — the crossSeriesStat recipe —
      // so output is partition-order invariant to the last ulp.
      require(c.args.length >= 2,
        s"diffSeries needs at least two arguments in '${c.t}'")
      val dec = DecimalType(28, 2)
      val minuend = c.raw.df
        .groupBy(col("tenant_id"), col("ts_ms"))
        .agg(when(count(col("value")) > 0,
          sum(col("value").cast(dec))).as("__min"))
      val sub = c.args.drop(1).map(a => c.recurse(a).df
          .filter(col("value").isNotNull)
          .select(col("tenant_id"), col("ts_ms"), col("value")))
        .reduce(_ unionByName _)
        .groupBy(col("tenant_id"), col("ts_ms"))
        .agg(sum(col("value").cast(dec)).as("__sub"))
      SeriesExpr(minuend
          .join(sub, Seq("tenant_id", "ts_ms"), "left")
          .withColumn("value", (col("__min") -
            coalesce(col("__sub"), lit(0).cast(dec))).cast("double"))
          .withColumn("metric_name", lit(c.t))
          .select("tenant_id", "metric_name", "ts_ms", "value"),
        Some(c.t), identity)
    },
    Fn("multiplySeries", "Combine", "ONE combined series: per-instant product over every matched series; null when any series misses the instant",
        Seq(series, p("seriesLists", "seriesList"))) { c =>
      // multiplySeries(<f1>, <f2>[, <f3>…]) — graphite-web reduces
      // ALL matched series (including several matched by one
      // argument) into ONE combined series: per instant the product
      // of every series' sample in flattened (argument, name) order,
      // null whenever ANY of the target's series misses the instant
      // or carries a null there (safeMul: any None → None). A series
      // with two samples at one instant raises IN-PLAN (the
      // divideSeries ambiguity contract — Graphite's normalized
      // timelines cannot express it). The per-instant factor list is
      // bounded by the target's series count, so the sorted fold is
      // a dashboard-sized HOF, not a corpus-scale one.
      require(c.args.length >= 2,
        s"multiplySeries needs at least two arguments in '${c.t}'")
      val flat = c.args.zipWithIndex.map { case (a, i) =>
        c.recurse(a).df.select(col("tenant_id"), col("metric_name"),
          col("ts_ms"), col("value"), lit(i).as("__arg"))
      }.reduce(_ unionByName _)
      // total distinct factor series per tenant — the presence bar
      // every instant must clear (a series listed twice via two
      // arguments multiplies twice, as Graphite's flattened list does)
      val sTot = flat.groupBy(col("tenant_id"))
        .agg(count_distinct(struct(col("__arg"), col("metric_name")))
          .as("__stot"))
      val perInstant = flat.groupBy(col("tenant_id"), col("ts_ms"))
        .agg(
          count_distinct(struct(col("__arg"), col("metric_name")))
            .as("__ns"),
          count(lit(1)).as("__n"),
          // left fold from 1.0 in sorted series order = Graphite's
          // left-to-right float product (1.0·v0 is exact), and the
          // sort makes it partition-order invariant
          aggregate(sort_array(collect_list(struct(col("__arg"),
              col("metric_name"), col("value")))), lit(1.0),
            (acc, x) => acc * x.getField("value")).as("__prod"))
      SeriesExpr(perInstant.join(broadcast(sTot), Seq("tenant_id"))
          .withColumn("value",
            when(col("__n") > col("__ns"), raise_error(lit(
              s"multiplySeries: a factor in '${c.t}' has more than one " +
                "sample at an instant — aggregate it first " +
                "(sumSeries)")).cast("double"))
            .when(col("__ns") === col("__stot"), col("__prod")))
          .withColumn("metric_name", lit(c.t))
          .select("tenant_id", "metric_name", "ts_ms", "value"),
        Some(c.t), identity)
    },
    // Transform
    derivative("derivative", "delta_v", "per-point delta against the previous sample"),
    derivative("nonNegativeDerivative", "nn_delta", "delta with counter resets nulled"),
    derivative("perSecond", "rate_per_s", "delta per elapsed second"),
    Fn("integral", "Transform", "running total per series", Seq(series)) { c =>
      val in = c.inner
      in.wrap(Series.integral(in.df)
        .select(ser :+ col("cumsum").as("value"): _*))(d => s"integral($d)")
    },
    constant("scale", "multiply every value by a constant")(_ * _),
    constant("offset", "add a constant to every value")(_ + _),
    pointwise("absolute", "Transform", "absolute value pointwise")(
      _ => (abs(col("value")), "")),
    pointwise("transformNull", "Transform", "replace null datapoints with a default",
        Seq(series, opt("default", "float"))) { c =>
      // pointwise null fill — RAW inner by definition (this is the
      // one function ABOUT a wrapped stage's nulls)
      val dflt = c.optNum(1, "a numeric default").getOrElse(0.0)
      (coalesce(col("value"), lit(dflt)), s",$dflt")
    },
    valueScrub("removeAboveValue", "values above the threshold become null datapoints")(col("value") > _),
    valueScrub("removeBelowValue", "values below the threshold become null datapoints")(col("value") < _),
    percentileScrub("removeAbovePercentile", "values above the series' nth percentile become null")(
      when(col("value") > col("__pv"), lit(null).cast("double")).otherwise(col("value"))),
    percentileScrub("removeBelowPercentile", "values below the series' nth percentile become null")(
      when(col("value") < col("__pv"), lit(null).cast("double")).otherwise(col("value"))),
    percentileScrub("nPercentile", "draw each series' nth-percentile line")(col("__pv")),
    Fn("changed", "Transform", "1 where a sample differs from its predecessor, else 0", Seq(series)) { c =>
      // 1 where a sample differs from its series' previous sample,
      // else 0 (first points 0) — one lag pass, the derivatives
      // ordering convention (ties on ts break by value)
      val in = c.inner
      val prev = lag(col("value"), 1).over(perSeries.orderBy(col("ts_ms"), col("value")))
      in.wrap(in.df.withColumn("value",
          when(prev.isNull || prev === col("value"), lit(0.0))
            .otherwise(lit(1.0))))(d => s"changed($d)")
    },
    // subtract each series' own minimum (baseline-to-zero view)
    pointwise("offsetToZero", "Transform", "subtract each series' own minimum")(
      _ => (col("value") - min(col("value")).over(perSeries), "")),
    logarithm("logarithm", "log base b pointwise (default 10); non-positive values render null"),
    logarithm("log", "alias of logarithm"),
    // pointwise 1/x; zero renders null (safeDiv)
    pointwise("invert", "Transform", "pointwise 1/x; zero renders null")(
      _ => (when(col("value") =!= 0.0, lit(1.0) / col("value")), "")),
    Fn("round", "Transform", "pointwise rounding to a precision (HALF_UP, vs graphite-web's half-even — divergence only on exact ties at the precision digit)",
        Seq(series, opt("precision", "integer"))) { c =>
      // round(series, precision=0) — pointwise rounding. HALF_UP
      // (Spark's round), where graphite-web inherits python's
      // half-even — documented in /functions; exact ties at the
      // precision digit are the only divergence
      val prec = c.optInt(1, "an integer precision").getOrElse(0)
      val in = c.raw
      SeriesExpr(in.df.withColumn("value", round(col("value"), prec)),
        in.singleName, n => s"round(${in.displayName(n)})",
        in.consolidate)
    },
    // graphite's cumulative(series) ≡ consolidateBy(series,"sum")
    Fn("cumulative", "Special", "alias of consolidateBy(series, \"sum\")",
        Seq(series))(c => consolidated(c.raw, "sum")),
    Fn("minMax", "Transform", "per-series min-max scaling onto [0,1]; zero-range series render null",
        Seq(series)) { c =>
      // per-series [0,1] feature scaling; zero-range series render
      // null (F6 safe-div) — Series.minMaxNormalize
      val in = c.raw
      in.wrap(Series.minMaxNormalize(in.df))(d => s"minMax($d)")
    },
    Fn("stdev", "Calculate", "trailing population stddev over the last N samples per series",
        Seq(series, p("points", "integer"))) { c =>
      // stdev(<expr>, points) — trailing stddev over the last N
      // samples (Series.stdevRows: one incremental prefix-pair
      // WindowExec, never a re-aggregating ROWS frame)
      val nPts = c.int(1, "a points count")
      require(nPts > 0, s"stdev points must be positive in '${c.t}'")
      val in = c.raw
      in.wrap(Series.stdevRows(in.df, nPts))(d => s"stdev($d,$nPts)")
    },
    Fn("divideSeriesLists", "Combine", "pair two equal-length series lists positionally (sorted by name) and divide; unequal lengths error; one-sided instants serve null (graphite-web None-parity)",
        Seq(p("dividendSeriesList", "seriesList"), p("divisorSeriesList", "seriesList"))) { c =>
      // positional pairing of two series lists (both sorted by
      // name); unequal lengths raise IN-PLAN → a 400 here — the
      // graphite contract (Series.divideSeriesLists)
      val divArg = c.need(1, "a divisor seriesList")
      val a = c.raw
      val b = c.recurse(divArg)
      // alignOuter: graphite-web None-parity — an instant present
      // on only one side renders a null datapoint, never a silently
      // thinned series (F6 null result either way)
      SeriesExpr(Series.divideSeriesLists(
          a.df.select("tenant_id", "metric_name", "ts_ms", "value"),
          b.df.select("tenant_id", "metric_name", "ts_ms", "value"),
          alignOuter = true),
        None, identity)
    },
    pointwise("timeSlice", "Transform", "values outside [start, end] render null datapoints",
        Seq(series, p("startSliceAt", "string"), opt("endSliceAt", "string"))) { c =>
      // timeSlice(<expr>, "start"[, "end"]) — values outside the
      // window render null datapoints (Graphite keeps the grid)
      val startArg = c.str(1, "a start time")
      val sMs = DateTimeParser.parseMillis(startArg, c.src.now)
      val eMs = c.optStr(2).map(DateTimeParser.parseMillis(_, c.src.now))
        .getOrElse(c.src.now)
      (when(col("ts_ms") >= sMs && col("ts_ms") <= eMs, col("value")),
        s",$startArg")
    },
    Fn("linearRegression", "Transform", "per-series least-squares fit drawn at the input instants",
        Seq(series)) { c =>
      // per-series least-squares fit served AT the input instants —
      // Series.linearTrend's integer-exact accumulators (slope per
      // minute over (ts-min) div 60000 offsets) as perSeries window
      // columns, so the fit runs inside the render's one job; the drawn
      // line uses the same integer offsets
      val in = c.inner
      val fitted = in.df
        .withColumn("min_ms", min(col("ts_ms")).over(perSeries))
        .select(col("*") +: Series.trendSums(_.over(perSeries)): _*)
        .withColumn("slope_per_min", Series.trendSlopePerMin)
        .withColumn("value", Series.trendIntercept +
          col("slope_per_min") / lit(60.0) * lit(60.0) *
          floor((col("ts_ms") - col("min_ms")) / lit(60000L)))
      in.wrap(fitted.select(in.df.columns.map(col).toIndexedSeq: _*))(
        d => s"linearRegression($d)")
    },
    grid("keepLastValue", "forward-fill onto a uniform grid")(
      (df, stepMs) => Series.resampleHold(df, stepMs)),
    grid("resample", "linear interpolation onto a uniform grid")(
      (df, stepMs) => Series.resampleLinear(df, stepMs)),
    Fn("timeShift", "Transform", "evaluate the subtree shifted back, drawn at the requested instants",
        Seq(series, p("timeShift", "string"))) { c =>
      // evaluate the whole subtree under [from − shift,
      // until − shift], draw at the REQUESTED instants — Graphite's
      // semantics (last week's data under this week's cursor)
      val ivl = c.ivl("shift")
      val shiftMs = parseIntervalMs(ivl)
      val in = c.shifted(shiftMs)
      in.wrap(in.df.withColumn("ts_ms", col("ts_ms") + lit(shiftMs)))(
        d => s"""timeShift($d,"$ivl")""")
    },
    Fn("summarize", "Transform", "re-bucket each series onto a display interval",
        Seq(series, p("intervalString", "string"), opt("func", "string"))) { c =>
      // summarize(<expr>,"<interval>"[,"<func>"]) — per-series
      // re-bucketing onto the dashboard's display interval
      // (func sum|avg|max|min|last)
      val ivl = c.ivl("display")
      val stat = c.optStr(2).getOrElse("sum")
      val in = c.inner
      in.copy(df = Series
        .summarize(in.df, parseIntervalMs(ivl), stat)
        .withColumnRenamed("bucket_ms", "ts_ms"))
    },
    Fn("hitcount", "Transform", "per-second rates converted to absolute hits per bucket, intervals prorated exactly across bucket boundaries (gap-capped)",
        Seq(series, p("intervalString", "string"))) { c =>
      // hitcount(<expr>, "interval") — per-second rates converted
      // to absolute hits per display bucket with exact interval
      // proration ([[graft.operators.Series.hitcount]]; gap-capped)
      val ivl = c.ivl("bucket")
      val bMs = parseIntervalMs(ivl)
      val in = c.inner
      in.wrap(Series
          .hitcount(in.df, bMs, maxGapMs = math.max(3600000L, bMs))
          .withColumnRenamed("bucket_ms", "ts_ms")
          .withColumnRenamed("hits", "value"))(d => s"""hitcount($d,"$ivl")""")
    },
    // Calculate (window smoothing)
    moving("movingAverage", Some("average"), "trailing time-window mean"),
    moving("movingSum", Some("sum"), "trailing time-window sum"),
    moving("movingMax", Some("max"), "trailing time-window max"),
    moving("movingMin", Some("min"), "trailing time-window min"),
    Fn("movingMedian", "Calculate", "trailing exact median over the last N samples (int) or time interval (string) — lower-median rank selection; render-sized bounded",
        Seq(series, p("windowSize", "string"))) { c =>
      // movingMedian(<expr>, points | "interval") — trailing EXACT
      // median over the last N samples (ROWS) or the last interval
      // (RANGE, graphite's usual form). A rank statistic has no
      // prefix form, so both run the render-sized bounded collect
      // + one codegen'd sorted-buffer scan, never a per-row
      // re-aggregated frame (Series.movingMedianRows/Time)
      val winArg = c.need(1, "a window")
      val in = c.raw
      winArg.toIntOption match {
        case Some(nPts) =>
          require(nPts > 0,
            s"movingMedian points must be positive in '${c.t}'")
          in.wrap(Series.movingMedianRows(in.df, nPts))(
            d => s"movingMedian($d,$nPts)")
        case None =>
          val ivl = stripQuotes(winArg)
          in.wrap(Series.movingMedianTime(in.df, parseIntervalMs(ivl)))(
            d => s"""movingMedian($d,"$ivl")""")
      }
    },
    moving("movingWindow", None, "trailing time-window statistic (average|sum|max|min|stddev)"),
    holtWinters("holtWintersForecast", "triple-exponential forecast") { (in, hw) =>
      SeriesExpr(hw.select(ser :+ col("forecast").as("value"): _*),
        None, n => s"holtWintersForecast(${in.displayName(n)})")
    },
    holtWinters("holtWintersConfidenceBands", "forecast ± k·deviation bands (two entries per series)") { (in, hw) =>
      // two series per input, as Graphite draws them; the
      // suffix is stripped back out of the display name
      val up = hw.select(col("tenant_id"),
        concat(col("metric_name"), lit("#hwupper")).as("metric_name"),
        col("ts_ms"), col("upper").as("value"))
      val lo = hw.select(col("tenant_id"),
        concat(col("metric_name"), lit("#hwlower")).as("metric_name"),
        col("ts_ms"), col("lower").as("value"))
      SeriesExpr(up.unionByName(lo), None, { n =>
        if (n.endsWith("#hwupper"))
          "holtWintersConfidenceUpper(" +
            s"${in.displayName(n.stripSuffix("#hwupper"))})"
        else if (n.endsWith("#hwlower"))
          "holtWintersConfidenceLower(" +
            s"${in.displayName(n.stripSuffix("#hwlower"))})"
        else in.displayName(n)
      })
    },
    holtWinters("holtWintersAberration", "deviation outside the confidence bands") { (in, hw) =>
      val ab = when(col("value") > col("upper"), col("value") - col("upper"))
        .when(col("value") < col("lower"), col("value") - col("lower"))
        .otherwise(lit(0.0))
      SeriesExpr(hw.select(ser :+ ab.as("value"): _*),
        None, n => s"holtWintersAberration(${in.displayName(n)})")
    },
    decimate("lttb", "largest-triangle-three-buckets decimation", 3)(
      (df, b) => Series.lttbExact(df, b)),
    decimate("m4", "M4 min/max/first/last decimation", 1)(Series.m4Downsample),
    // Filter Series
    selector("highestMin", "min", asc = false, "keep the k series with the highest per-series min"),
    selector("lowestMin", "min", asc = true, "keep the k series with the lowest per-series min"),
    selector("highestMax", "max", asc = false, "keep the k series with the highest max"),
    selector("highestAverage", "mean", asc = false, "keep the k series with the highest mean"),
    selector("highestCurrent", "last", asc = false, "keep the k series with the highest last sample"),
    selector("lowestAverage", "mean", asc = true, "keep the k series with the lowest mean"),
    selector("lowestMax", "max", asc = true, "keep the k series with the lowest max"),
    selector("lowestCurrent", "last", asc = true, "keep the k series with the lowest last sample"),
    statFilter("averageAbove", "mean", above = true, "keep series whose mean exceeds the threshold"),
    statFilter("averageBelow", "mean", above = false, "keep series whose mean is below the threshold"),
    statFilter("maximumAbove", "max", above = true, "keep series whose max exceeds the threshold"),
    statFilter("maximumBelow", "max", above = false, "keep series whose max is below the threshold"),
    statFilter("currentAbove", "last", above = true, "keep series whose last sample exceeds the threshold"),
    statFilter("currentBelow", "last", above = false, "keep series whose last sample is below the threshold"),
    statFilter("minimumAbove", "min", above = true, "keep series whose min exceeds the threshold"),
    statFilter("minimumBelow", "min", above = false, "keep series whose min is below the threshold"),
    // Graphite's mostDeviant: the k series with the highest
    // population sigma over the range
    selector("mostDeviant", "stddev", asc = false, "keep the k series with the highest population stddev"),
    Fn("averageOutsidePercentile", "Filter Series", "keep series whose mean lies outside the [100-n, n] percentile band of the matched means",
        Seq(series, p("n", "float"))) { c =>
      // keep series whose mean lies OUTSIDE the [100-n, n]
      // percentile band of all the matched series' means
      // (graphite-web folds n<50 to 100-n)
      val n0 = c.pct(1)
      val nn = if (n0 < 50) 100 - n0 else n0
      // the band is over the SERIES' means, one value each: the mean
      // rides on one point per series into the per-tenant percentiles
      val byTenant = Window.partitionBy(col("tenant_id"))
      keepSeries(c)(_
        .withColumn("__m", Series.seriesStat("mean", _.over(perSeries)))
        .withColumn("__m1", when(row_number().over(
          perSeries.orderBy(col("ts_ms"))) === 1, col("__m")))
        .withColumn("__lo",
          percentile(col("__m1"), lit((100 - nn) / 100.0)).over(byTenant))
        .withColumn("__hi",
          percentile(col("__m1"), lit(nn / 100.0)).over(byTenant))
        .filter(!(col("__m") > col("__lo") && col("__m") < col("__hi")))
        .drop("__m", "__m1", "__lo", "__hi"))
    },
    Fn("removeEmptySeries", "Filter Series", "drop series with zero non-null datapoints in range",
        Seq(series)) { c =>
      val in = c.raw
      in.copy(df = in.df
        .withColumn("__nn", count(col("value")).over(perSeries))
        .filter(col("__nn") > 0).drop("__nn"))
    },
    nameFilter("grep", keep = true, "keep series whose name matches the regex"),
    nameFilter("exclude", keep = false, "drop series whose name matches the regex"),
    // Alias
    Fn("alias", "Alias", "replace the display name", Seq(series, p("newName", "string"))) { c =>
      val name = c.str(1, "a display name")
      val in = c.raw
      SeriesExpr(in.df, None, _ => name, in.consolidate)
    },
    aliasNode("aliasByNode", "display name from a dot-node of the series name",
      Seq(series, p("nodes", "node")), fixed = None),
    aliasNode("aliasByMetric", "display name from the last dot-node of the series name",
      Seq(series), fixed = Some(-1)),
    Fn("aliasSub", "Alias", "regex substitution on the display name ($1 backreferences)",
        Seq(series, p("search", "string"), p("replace", "string"))) { c =>
      // display-name regex substitution (Graphite's aliasSub);
      // backreferences use Java's $1 syntax
      val search = c.str(1, "a search regex")
      val replace = c.str(2, "a replacement")
      val rx =
        try new scala.util.matching.Regex(search)
        catch {
          case e: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"aliasSub pattern does not compile: ${e.getMessage}")
        }
      val in = c.raw
      SeriesExpr(in.df, None, { n =>
        // replacement errors (a $9 with no group 9, a trailing
        // backslash) only surface when a name actually matches —
        // translate them to the 400 every other malformed-argument
        // path reports, not a generic 500
        try rx.replaceAllIn(in.displayName(n), replace)
        catch {
          case e: RuntimeException =>
            throw new IllegalArgumentException(
              s"aliasSub replacement '$replace' failed: ${e.getMessage}")
        }
      }, in.consolidate)
    },
    Fn("weightedAverage", "Combine", "node-paired weighted average of two series lists: sum(avg*w)/sum(w) per instant",
        Seq(p("seriesListAvg", "seriesList"), p("seriesListWeight", "seriesList"), p("nodes", "node"))) { c =>
      // weightedAverage(<avgExpr>, <weightExpr>, n1[, n2…]) — pair
      // the two lists by node tokens, serve Σ(a·w)/Σ(w) per instant
      // ([[graft.operators.Series.weightedAverage]])
      require(c.args.length >= 3,
        s"weightedAverage needs two series lists and node indexes in '${c.t}'")
      val idxs = c.ints(2, "node index")
      val aIn = c.raw.df
      val wIn = c.recurse(c.args(1)).df
      SeriesExpr(Series
          .weightedAverage(aIn, wIn, idxs, bucketMs = 1L)
          .withColumnRenamed("bucket_ms", "ts_ms")
          .drop("n_keys"),
        Some(c.t), identity)
    },
    // Sorting
    Fn("sortByName", "Sorting", "reset the entry list to name order (drops an earlier sortBy ordering)",
        Seq(series)) { c =>
      // name order IS the collectSeries default — sortByName's job
      // is to RESET any earlier sortBy*'s __ord
      val in = c.raw
      in.copy(df = if (in.df.columns.contains("__ord"))
        in.df.drop("__ord") else in.df)
    },
    // sortByMaxima/sortByTotal sort DESCENDING (largest first); negate
    // for descending — an all-null series' max is NULL and -NULL stays
    // NULL → nulls-last in the entry order
    sortBy("sortByMaxima", "order the entry list by each series' max, largest first")(
      (df, w) => df.withColumn("__ord", -max(col("value")).over(w))),
    // exact-DECIMAL per-series sum (the crossSeriesStat recipe): an
    // ordering must not flip on partition order
    sortBy("sortByTotal", "order the entry list by each series' sum, largest first")(
      (df, w) => df.withColumn("__ord",
        -sum(col("value").cast(DecimalType(28, 2))).over(w).cast("double"))),
    // sortByMinima sorts ascending by min and — graphite's own quirk —
    // drops series whose max is not > 0
    sortBy("sortByMinima", "order ascending by each series' min; series with max <= 0 are dropped")(
      (df, w) => df
        .withColumn("__max", max(col("value")).over(w))
        .filter(col("__max") > 0.0).drop("__max")
        .withColumn("__ord", min(col("value")).over(w))),
    Fn("limit", "Filter Series", "keep the first n series of the (possibly sorted) list",
        Seq(series, p("n", "integer"))) { c =>
      // limit(<expr>, n) — keep the FIRST n series of the list, in
      // the list's own order: a preceding sortBy*'s __ord when
      // present (ascending, nulls last), name order (the collectSeries
      // default) otherwise
      val n = c.count(1)
      keepSeries(c)(df => topK(df, n,
        if (df.columns.contains("__ord")) min(col("__ord")).over(perSeries)
        else lit(0.0), ascending = true))
    },
    // Combine (wildcard collapse)
    wildcards("sumSeriesWithWildcards", "sum", "sum series whose names match after dropping the wildcard node positions"),
    wildcards("averageSeriesWithWildcards", "mean", "average series whose names match after dropping the wildcard node positions"),
    // Transform (batch 3)
    Fn("smartSummarize", "Transform", "summarize with buckets aligned to the request's from instead of the epoch snap",
        Seq(series, p("intervalString", "string"), opt("func", "string"))) { c =>
      // smartSummarize(<expr>,"<interval>"[,"<func>"]) — summarize
      // with buckets aligned to the REQUEST'S from instead of the
      // epoch snap (graphite-web's exact difference between the
      // two): bucket k covers [from + k·ivl, from + (k+1)·ivl)
      val ivl = c.ivl("display")
      val ivlMs = parseIntervalMs(ivl)
      val stat = c.optStr(2).getOrElse("sum")
      val fromMs = c.fromMs
      val in = c.inner
      in.wrap(Series
          .smartSummarize(in.df, fromMs, ivlMs, stat)
          .withColumnRenamed("bucket_ms", "ts_ms"))(
        d => s"""smartSummarize($d,"$ivl","$stat")""")
    },
    Fn("integralByInterval", "Transform", "running total reset at each interval boundary",
        Seq(series, p("intervalUnit", "string"))) { c =>
      // integralByInterval(<expr>,"<interval>") — running total
      // RESET at each interval boundary (graphite's daily-counter
      // view). Same exact-DECIMAL accumulation as integral(), the
      // window additionally partitioned by the epoch-snapped bucket
      val ivl = c.ivl("reset")
      val ivlMs = parseIntervalMs(ivl)
      val in = c.inner
      in.wrap(Series.integralByInterval(in.df, ivlMs))(
        d => s"""integralByInterval($d,"$ivl")""")
    },
    Fn("timeStack", "Transform", "one entry per shift i in [start, end]: the subtree evaluated i shift-units back, drawn at the requested instants",
        Seq(series, p("timeShiftUnit", "string"), opt("timeShiftStart", "integer"), opt("timeShiftEnd", "integer"))) { c =>
      // timeStack(<expr>,"<shiftUnit>"[,start[,end]]) — one entry
      // per shift i in [start, end]: the subtree evaluated under
      // [from − i·unit, until − i·unit], drawn at the requested
      // instants (this week stacked over the previous N weeks).
      // Each copy re-fetches like timeShift; the copy count is
      // capped — every copy is a full subtree evaluation
      val ivl = c.ivl("shift")
      val unitMs = parseIntervalMs(ivl)
      val start = c.optInt(2, "an integer start").getOrElse(0)
      val end = c.optInt(3, "an integer end").getOrElse(7)
      require(start >= 0 && end >= start,
        s"timeStack needs 0 <= start <= end in '${c.t}'")
      require(end - start + 1 <= 16,
        s"timeStack copies capped at 16 in '${c.t}', got ${end - start + 1}")
      val copies = (start to end).map { i =>
        val shiftMs = i.toLong * unitMs
        val sub = c.shifted(shiftMs)
        (i, sub, sub.df
          .withColumn("ts_ms", col("ts_ms") + lit(shiftMs))
          .withColumn("metric_name",
            concat(col("metric_name"), lit(s"#tstack$i"))))
      }
      val subByI = copies.map(s => s._1 -> s._2).toMap
      SeriesExpr(copies.map(_._3).reduce(_ unionByName _), None, { n =>
        val m = "#tstack(\\d+)$".r.findFirstMatchIn(n)
        m.fold(n) { mm =>
          val i = mm.group(1).toInt
          val base = n.stripSuffix(s"#tstack$i")
          // the shift renders in seconds: "-2·1d" has no single
          // interval literal, "-172800s" always does
          val secs = i.toLong * unitMs / 1000
          s"""timeShift(${subByI(i).displayName(base)},"-${secs}s")"""
        }
      })
    },
    // Combine (structured)
    Fn("applyByNode", "Combine", "evaluate the template per distinct node prefix ('%' substitutes the prefix); results union",
        Seq(series, p("nodeNum", "node"), p("templateFunction", "string"), opt("newName", "string"))) { c =>
      // applyByNode(<glob>, n, "template"[, "newName"]) — for each
      // distinct node-prefix (tokens 0..n) of the matched series,
      // evaluate the template with '%' replaced by the prefix; the
      // per-prefix results union into one entry list. The prefix
      // set is a driver-side distinct over the MATCHED NAMES (one
      // tiny job, bounded by the panel's series count) and capped:
      // each prefix is a full subtree evaluation
      val nodeN = c.int(1, "a node index")
      require(nodeN >= 0, s"node index must be >= 0 in '${c.t}'")
      val template = c.str(2, "a template")
      val newName = c.optStr(3)
      val prefixes = c.raw.df
        .select(array_join(slice(split(col("metric_name"), "\\."),
          1, nodeN + 1), ".").as("__pre"))
        .distinct().limit(65).collect().map(_.getString(0))
        .sorted.toSeq
      require(prefixes.length <= 64,
        s"applyByNode matches > 64 node prefixes in '${c.t}' — " +
          "narrow the glob")
      require(prefixes.nonEmpty,
        s"applyByNode matched no series in '${c.t}'")
      val subs = prefixes.zipWithIndex.map { case (pre, i) =>
        val sub = c.recurse(template.replace("%", pre))
        (i, pre, sub, sub.df.withColumn("metric_name",
          concat(lit(s"#abn$i#"), col("metric_name"))))
      }
      val byI = subs.map(s => s._1 -> (s._2, s._3)).toMap
      SeriesExpr(subs.map(_._4).reduce(_ unionByName _), None, { n =>
        "^#abn(\\d+)#".r.findFirstMatchIn(n).fold(n) { mm =>
          val i = mm.group(1).toInt
          val (pre, sub) = byI(i)
          val base = n.stripPrefix(s"#abn$i#")
          newName.fold(sub.displayName(base))(_.replace("%", pre))
        }
      })
    },
    Fn("mapSeries", "Combine", "graphite's grouped list; grouping materializes inside reduceSeries (standalone rendering passes through)",
        Seq(series, p("mapNodes", "node"))) { c =>
      // mapSeries(<expr>, n[, n2…]) — graphite's grouped list; the
      // grouping only MATERIALIZES inside reduceSeries (below),
      // so standalone rendering serves the series unchanged
      c.ints(1, "node index") // validated; reduceSeries reads the nodes
      c.raw
    },
    Fn("reduceSeries", "Combine", "pair series agreeing on every node but reduceNode, apply asPercent|divideSeries|diffSeries to the two matched keys; instants present on only one side serve a null datapoint (graphite-web None-parity)",
        Seq(p("seriesLists", "seriesList"), p("reduceFunction", "string"), p("reduceNode", "node"), p("reduceMatchers", "string"))) { c =>
      // reduceSeries(mapSeries(<glob>, m), "func", n, "k1", "k2") —
      // pair series that agree on every name token EXCEPT node n
      // (the practical content of the mapSeries grouping), match
      // the two reduce keys at node n, and serve func(k1, k2) per
      // instant; entries named with node n replaced by
      // "reduce.<func>" (graphite-web's output shape). Supported
      // reducers: asPercent, divideSeries, diffSeries — the
      // two-argument reducers graphite ships
      require(c.args.length == 5, "reduceSeries takes " +
        s"(mapSeries, func, reduceNode, matcher1, matcher2) in '${c.t}'")
      val func = c.str(1, "a reduce function")
      require(Set("asPercent", "divideSeries", "diffSeries").contains(func),
        s"reduceSeries func must be asPercent|divideSeries|" +
          s"diffSeries in '${c.t}', got '$func'")
      val rn = c.int(2, "a reduce node index")
      require(rn >= 0, s"reduce node must be >= 0 in '${c.t}'")
      // alignOuter: graphite-web None-parity for one-sided instants
      SeriesExpr(Series
          .reduceSeriesPairs(c.inner.df, rn, c.str(3, "a matcher"),
            c.str(4, "a matcher"), func, alignOuter = true),
        None, identity)
    },
    // Graph (presentation passthroughs — rendering is the dashboard's job)
    presentation("stacked", "presentation tag (stacked draw mode); data passes through",
      Seq(series, opt("stackName", "string"))) { (c, d) =>
      if (c.args.length > 1) d else wrapped("stacked")(c, d)
    },
    presentation("secondYAxis", "presentation tag (right-hand axis); data passes through",
      Seq(series))(wrapped("secondYAxis")),
    presentation("drawAsInfinite", "presentation tag (vertical-line draw mode); data passes through",
      Seq(series))(wrapped("drawAsInfinite")),
    presentation("lineWidth", "presentation tag (line width); data passes through",
      Seq(series, p("width", "float")))((_, d) => d),
    presentation("dashed", "presentation tag (dashed line); data passes through",
      Seq(series, opt("dashLength", "float"))) { (c, d) =>
      val w = c.optNum(1, "a numeric dash length").getOrElse(5.0)
      n => s"dashed(${d(n)}, $w)"
    },
    presentation("color", "presentation tag (series color); data passes through",
      Seq(series, p("theColor", "string")))((_, d) => d),
    // Batch 4
    Fn("aggregate", "Combine", "general per-instant combiner (sum|avg|max|min|count|range|stddev) — graphite 1.1's editor default",
        Seq(series, p("func", "string"))) { c =>
      // aggregate(<expr>, "func") — graphite 1.1's general combiner
      // (what Grafana's editor emits for sum/avg/... since 1.1);
      // dispatches onto the same aggregateSeries machinery as the
      // sumSeries family
      combined(c, normStat(c.str(1, "a function name")) match {
        case "sum" | "total" => "sum"
        case s @ ("mean" | "max" | "min" | "count" | "stddev") => s
        case "range" | "rangeOf" => "range"
        case other => throw new IllegalArgumentException(
          s"aggregate func must be one of sum|avg|max|min|count|" +
            s"range|stddev in '${c.t}', got '$other'")
      })
    },
    Fn("exponentialMovingAverage", "Calculate", "EMA with smoothing 2/(n+1) over each series' points (integer form; interval form needs fixed-step — summarize first)",
        Seq(series, p("windowSize", "integer"))) { c =>
      // exponentialMovingAverage(<expr>, n) — EMA with smoothing
      // 2/(n+1) over the series' POINTS (graphite's integer form;
      // its interval form assumes fixed-step storage, which this
      // irregular store deliberately rejects — summarize/resample
      // first). Runs the codegen EwmaScan the alert scorers use;
      // seeded at the first sample.
      val n = c.int(1, "an integer point count (interval strings assume " +
        "fixed-step storage — summarize/keepLastValue first)")
      require(n >= 1, s"point count must be >= 1 in '${c.t}', got $n")
      val in = c.inner
      in.wrap(Anomaly.ewmaBands(in.df, alpha = 2.0 / (n + 1))
          .select(ser :+ col("ewma").as("value"): _*))(
        d => s"exponentialMovingAverage($d,$n)")
    },
    Fn("aggregateLine", "Calculate", "per-series horizontal line at the series' own stat (avg|sum|max|min|last|stddev)",
        Seq(series, opt("func", "string"))) { c =>
      // aggregateLine(<expr>[, "func"]) — per-series horizontal
      // line at the series' own stat, drawn at from/mid/until
      // (graphite's three-point line); per-series stat table is one
      // row per series, cross-joined with the 3 instants
      val func = c.optStr(1).getOrElse("avg")
      val stat = normStat(func) match {
        case "current" => "last"
        case f => f
      }
      val spark = c.src.spark
      import spark.implicits._
      val instants = lineInstants(c).toDF("ts_ms")
      val in = c.raw
      val statTable = Series.topSeries(in.df, Int.MaxValue, stat)
        .select(col("tenant_id"), col("metric_name"),
          col("stat_value").as("value"))
      SeriesExpr(statTable.crossJoin(broadcast(instants))
          .select("tenant_id", "metric_name", "ts_ms", "value"),
        None,
        n => s"""aggregateLine(${in.displayName(n)}, '$func')""")
    },
    pointwise("delay", "Transform", "shift each series' values by N points (negative = forward); vacated points render null",
        Seq(series, p("steps", "integer"))) { c =>
      // delay(<expr>, steps) — each series' values shifted by N
      // points (negative = forward); vacated points render null.
      // RAW inner: a wrapped stage's nulls shift along
      val steps = c.int(1, "an integer step count")
      (lag(col("value"), steps)
        .over(perSeries.orderBy(col("ts_ms"), col("value"))), s",$steps")
    },
    // pointwise presence flag (1.0 where a datapoint exists)
    pointwise("isNonNull", "Transform", "1 where a datapoint exists, 0 where null")(
      _ => (when(col("value").isNotNull, lit(1.0)).otherwise(lit(0.0)), "")),
    pointwise("pow", "Transform", "pointwise x^n; undefined real results render null",
        Seq(series, p("factor", "float"))) { c =>
      val k = c.num(1, "a numeric exponent")
      (safePow(k), s",$k")
    },
    pointwise("squareRoot", "Transform", "pointwise square root; negative values render null")(
      _ => (safePow(0.5), "")),
    // interpolate(<expr>) — null datapoints filled linearly between their
    // nearest non-null neighbors WITHIN the series; leading/trailing nulls
    // stay null (graphite's interpolate). Both lookups are incremental
    // [unbounded, current] frames (the resampleImpl reversed-sort trick
    // for the next side) — never a per-row forward re-aggregation
    pointwise("interpolate", "Transform", "fill null datapoints linearly between nearest non-null neighbors; edges stay null") { _ =>
      val fwd = perSeries.orderBy(col("ts_ms"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bwd = perSeries.orderBy(col("ts_ms").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pv = last(when(col("value").isNotNull, col("value")), true).over(fwd)
      val pt = last(when(col("value").isNotNull, col("ts_ms")), true).over(fwd)
      val nv = last(when(col("value").isNotNull, col("value")), true).over(bwd)
      val nt = last(when(col("value").isNotNull, col("ts_ms")), true).over(bwd)
      (when(col("value").isNotNull, col("value"))
        .when(pv.isNotNull && nv.isNotNull && nt =!= pt,
          pv + (nv - pv) * (col("ts_ms") - pt) / (nt - pt)), "")
    },
    Fn("substr", "Alias", "display name sliced to the dot-node range [start, stop); python-style negative indexes",
        Seq(series, opt("start", "node"), opt("stop", "node"))) { c =>
      // substr(<expr>, start[, stop]) — display name sliced to the
      // dot-node range [start, stop), stop 0 = end; negative
      // indexes count from the end (graphite's python slicing)
      val start = c.optInt(1, "an integer start node").getOrElse(0)
      val stop = c.optInt(2, "an integer stop node").getOrElse(0)
      val in = c.raw
      SeriesExpr(in.df, None, { n0 =>
        // graphite slices the UNDERLYING node list of the fetched
        // series; for composed names the display text slices
        val parts = in.displayName(n0).split('.')
        val s0 = if (start < 0) (parts.length + start) max 0 else start min parts.length
        val s1 = if (stop == 0) parts.length
                 else if (stop < 0) (parts.length + stop) max 0
                 else stop min parts.length
        if (s0 >= s1) "" else parts.slice(s0, s1).mkString(".")
      }, in.consolidate)
    },
    Fn("threshold", "Special", "constantLine with a legend label (color is presentation)",
        Seq(p("value", "float"), opt("label", "string"), opt("color", "string"))) { c =>
      // threshold(value[, "label"[, "color"]]) — a constantLine
      // with a legend label (color is presentation, passed through)
      val v = stripQuotes(c.arg0).toDoubleOption.getOrElse(
        throw new IllegalArgumentException(
          s"threshold needs a numeric value in '${c.t}'"))
      literal(c, c.optStr(1).filter(_.nonEmpty).getOrElse(stripQuotes(c.arg0)),
        lineInstants(c), v)
    },
    Fn("verticalLine", "Special", "a single marker instant (drawing the vertical is the dashboard's job)",
        Seq(p("ts", "string"), opt("label", "string"))) { c =>
      // verticalLine("ts"[, "label"]) — a single marker instant
      // (the JSON API serves the point; drawing the vertical is the
      // dashboard's job, the events() convention)
      val tsMs = DateTimeParser.parseMillis(stripQuotes(c.arg0), c.src.now)
      literal(c, c.optStr(1).filter(_.nonEmpty).getOrElse(c.t), Seq(tsMs), 1.0)
    },
    ramp("identity", "epoch seconds on a uniform grid (default 60 s step)"),
    ramp("timeFunction", "alias of identity"),
    // Special
    Fn("constantLine", "Special", "reference line: the value drawn at from, midpoint, and until",
        Seq(p("value", "float"))) { c =>
      // constantLine(value) — a reference line as a series NAMED by the
      // value text. The first argument is a NUMBER, not a series
      // expression (a number is non-empty, so the glob requirement
      // holds trivially); alias() wraps it for a legend label.
      val name = stripQuotes(c.arg0)
      literal(c, name, lineInstants(c), name.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(
          s"constantLine needs a numeric value in '${c.t}'")))
    },
    Fn("consolidateBy", "Special", "pick the final maxDataPoints consolidation statistic (average|sum|min|max|first|last)",
        Seq(series, p("consolidationFunc", "string"))) { c =>
      val func = c.str(1, """a function (e.g. "max")""")
      val norm = normStat(func, mean = "average")
      require(Set("average", "sum", "min", "max", "first", "last")
        .contains(norm), "consolidateBy function must be " +
          s"average|sum|min|max|first|last in '${c.t}', got '$func'")
      consolidated(c.raw, norm)
    },
    Fn("events", "Special", "event markers from the events store (tags ANDed; bare form serves all)",
        Seq(opt("tags", "string"))) { c =>
      // Graphite's events(*tags) target — event markers for chart
      // overlays (drawAsInfinite style): value 1.0 at each matching
      // event instant, ONE entry named by the target text. The
      // arguments are TAGS filters, ANDed (every tag must appear in
      // the event data — the getEvents substring contract), not a
      // series expression; bare events() serves all in range.
      val tags = c.args.map(stripQuotes).filter(_.nonEmpty)
      // AND of substring matches as one regex: DOTALL lookaheads
      // from the scan position — rlike's find() accepts at index 0
      // when every tag appears somewhere in the props string
      // (event data may carry newlines); no tags → empty pattern,
      // matches all
      val rx =
        if (tags.isEmpty) ""
        else "(?s)" + tags.map(q =>
          s"(?=.*${java.util.regex.Pattern.quote(q)})").mkString
      val frame = c.src.events(c.fromMs, c.untilMs, rx)
        .map(_.select(col("tenant_id"), lit(c.t).as("metric_name"),
          col("ts_ms"), lit(1.0).as("value")))
        .getOrElse(c.src.spark.range(0).select(lit("").as("tenant_id"),
          lit(c.t).as("metric_name"), lit(0L).as("ts_ms"),
          lit(1.0).as("value")))
      SeriesExpr(frame, Some(c.t), identity)
    })

  private val byName: Map[String, Fn] = table.map(f => f.name -> f).toMap
  require(byName.size == table.size, "render function names must be unique")

  // ---- evaluation --------------------------------------------------------

  private val RenderFn = """(?s)^(\w+)\((.*)\)$""".r

  /** Evaluate one (trimmed) render target: a function call dispatches
    * through [[table]]; anything else is a metric glob, served raw through
    * the kind-routed read. */
  def eval(t: String, src: Source, from: String, until: String,
      depth: Int = 0): SeriesExpr = {
    require(depth <= 8, s"render target nests deeper than 8 functions: '$t'")
    t match {
      case RenderFn(name, argStr) =>
        val f = byName.getOrElse(name, throw new IllegalArgumentException(
          s"unknown render function '$name' in target '$t'"))
        // split on commas at depth 0 only: commas inside '{a,b}' glob
        // alternation AND inside nested 'fn(...)' calls stay part of
        // their argument
        val args = splitTargetArgs(argStr)
        // a function whose first parameter is optional may be called
        // bare — Graphite's events() (all annotations in range) is valid
        // — so the glob requirement must not fire for it; splitTargetArgs
        // always yields >= 1 element (the trailing buffer), so args(0) is
        // total
        require(!f.params.head.required || args(0).trim.nonEmpty,
          s"target '$t' needs a metric glob or sub-expression")
        f.eval(new Call(t, name, args, src, from, until, depth))
      case glob => // bare glob: raw serve through the kind-routed read
        SeriesExpr(src.fetch(glob, from, until), None, identity)
    }
  }

  // ---- the /functions catalog --------------------------------------------

  private def fObj(f: Fn): String = {
    import MetricsHttpServer.jStr
    val params = f.params.map(pp =>
      s"""{"name": ${jStr(pp.name)}, "type": ${jStr(pp.ptype)}, """ +
        s""""required": ${pp.required}}""").mkString("[", ", ", "]")
    val sig = f.name + f.params.map(_.name).mkString("(", ", ", ")")
    s"""{"name": ${jStr(f.name)}, """ +
      s""""function": ${jStr(sig)}, "description": ${jStr(f.desc)}, """ +
      s""""group": ${jStr(f.group)}, "module": "graft.render", """ +
      s""""params": $params}"""
  }

  /** The full catalog body (graphite-web serves an OBJECT keyed by name). */
  lazy val catalogJson: String = table
    .map(f => s"${MetricsHttpServer.jStr(f.name)}: ${fObj(f)}")
    .mkString("{", ", ", "}")

  /** One function's body, for `GET /functions/<name>`. */
  def one(name: String): Option[String] = byName.get(name).map(fObj)

  // ---- collection and argument grammar ----------------------------------

  /** Row-capped collect of a series frame into render entries:
    * `(target name, [(value, epoch_s)])` — one entry per series when
    * `singleName` is None, else one entry named by the target expression.
    * The limit is pushed INTO the query (the [[MetricsHttpServer.seriesJson]] contract), so
    * an over-budget render never reaches the facade heap. */
  def collectSeries(se: SeriesExpr): Seq[(String, Seq[(Option[Double], Long)])] = {
    val df = se.df
    val cap = MetricsHttpServer.MaxSeriesPanelPoints
    // a sortBy*() stage leaves a per-series __ord column: the entry list
    // then orders by it (nulls last — a dataless series never leads),
    // name-then-ts otherwise (the default Graphite list order)
    val ord: Seq[org.apache.spark.sql.Column] =
      if (df.columns.contains("__ord"))
        Seq(col("__ord").asc_nulls_last, col("metric_name"), col("ts"))
      else Seq(col("metric_name"), col("ts"))
    val rows = df.select(Seq(col("metric_name"),
        col("ts_ms").cast("long").as("ts"), col("value").cast("double").as("v")) ++
        (if (df.columns.contains("__ord")) Seq(col("__ord")) else Nil): _*)
      .orderBy(ord: _*)
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"render result exceeds $cap points — narrow the range, lower " +
        "maxDataPoints, or decimate (lttb/m4)")
    // grouped by the SERIES, renamed only at emit: two series that an
    // alias() maps onto the same display name stay separate entries with
    // their own time-ordered datapoints (the Graphite shape), never one
    // entry with interleaved points
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Option[Double], Long)]]
    rows.foreach { r =>
      val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      out.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty) += ((v, r.getLong(1) / 1000L))
    }
    out.toSeq.map { case (n, b) => se.displayName(n) -> b.toSeq }
  }

  /** Graphite's final presentation-level consolidation: when a finished
    * series carries more datapoints than maxDataPoints, consecutive runs
    * of ceil(n/maxDataPoints) points collapse to one via the series'
    * consolidateBy statistic (default average, None-skipping — an all-null
    * run stays a null datapoint), timestamped at the run's first instant —
    * graphite-web's exact consolidate() shape. Driver-side ON PURPOSE: it
    * runs on the ALREADY row-capped [[collectSeries]] output (never the
    * point stream), the same place graphite-web consolidates its fetched
    * lists, so the panel cap bounds the work. */
  def consolidatePoints(dps: Seq[(Option[Double], Long)], maxN: Int,
      func: String): Seq[(Option[Double], Long)] =
    if (dps.length <= maxN) dps
    else {
      val factor = (dps.length + maxN - 1) / maxN
      dps.grouped(factor).map { g =>
        val vs = g.flatMap(_._1)
        val v: Option[Double] =
          if (vs.isEmpty) None
          else Some(func match {
            case "sum" => vs.sum
            case "min" => vs.min
            case "max" => vs.max
            case "first" => vs.head
            case "last" => vs.last
            case _ => vs.sum / vs.size
          })
        (v, g.head._2)
      }.toSeq
    }

  /** One-sample-per-instant pick of a render subexpression — the shared
    * divisor/factor contract of divideSeries/multiplySeries: per
    * (tenant, instant) the single non-null sample, with ambiguity raising
    * IN-PLAN (surfaced as a 400 by renderView's USER_RAISED_EXCEPTION
    * translation — the message shape and the F6 null rules live HERE so
    * the two arms cannot drift). Returns the aggregated frame to
    * left-join on (tenant_id, ts_ms), the guarded value column, and the
    * temp columns to drop after the join. */
  private def perInstantSample(df: DataFrame,
      fn: String, what: String, arg: String, idx: Int)
      : (DataFrame, Column, Seq[String]) = {
    val v = s"__pis_$idx"
    val c = s"__pisn_$idx"
    val lo = s"__pislo_$idx"
    val hi = s"__pishi_$idx"
    val m = s"__pism_$idx"
    val g0 = df.filter(col("value").isNotNull)
      .groupBy(col("tenant_id"), col("ts_ms"))
      .agg(max(col("value")).as(v), count(lit(1)).as(c),
        min(col("metric_name")).as(lo), max(col("metric_name")).as(hi))
    // FRAME-WIDE multi-series detection: a multi-series divisor whose
    // series have DISJOINT timestamps passes the per-instant count guard
    // yet silently interleaves series into one denominator — graphite-web
    // rejects a multi-series divisor outright. min/max name over the
    // per-tenant window is a cheap exact distinct>1 test on the already
    // instant-grouped (render-sized) frame.
    val g = g0.withColumn(m,
        min(col(lo)).over(Window.partitionBy(col("tenant_id"))) =!=
          max(col(hi)).over(Window.partitionBy(col("tenant_id"))))
      .drop(lo, hi)
    val guarded = when(col(m) || col(c) > 1, raise_error(lit(
        s"$fn: $what '$arg' has more than one sample at an instant or " +
          "matches more than one series — aggregate it first (sumSeries)"))
        .cast("double"))
      .otherwise(col(v))
    (g, guarded, Seq(v, c, m))
  }

  /** Render-target argument split: commas inside `{...}` glob alternation,
    * inside nested `fn(...)` sub-expressions, AND inside `"..."` quoted
    * strings stay part of their argument ([[graft.core.GlobPattern]] braces nest and
    * calls nest, so depth is tracked, not toggled; quoted content is
    * opaque — `alias(a.b,"p99, ms")` keeps its comma and an unbalanced
    * paren inside quotes cannot corrupt the depth). */
  private def splitTargetArgs(argStr: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    // quote char while inside a quoted run, else 0 — BOTH quote styles
    // are opaque to the split (stripQuotes accepts both, so the splitter
    // must too: events('release, hotfix') would otherwise shear at the
    // comma and AND two garbage fragments). A quote only OPENS a run at a
    // token boundary (argument start or right after , ( { or space): an
    // unpaired apostrophe inside an unquoted token (app.o'brien.*) stays
    // literal instead of swallowing commas and parens to the next one.
    var quote: Char = 0
    def atBoundary: Boolean =
      sb.isEmpty || " ,({".contains(sb.charAt(sb.length - 1))
    argStr.foreach {
      case c @ ('"' | '\'') if quote == 0 && atBoundary =>
        quote = c; sb.append(c)
      case c if quote != 0 =>
        if (c == quote) quote = 0
        sb.append(c)
      case c @ ('{' | '(') => depth += 1; sb.append(c)
      case c @ ('}' | ')') => depth -= 1; sb.append(c)
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    out += sb.toString
    out.toIndexedSeq
  }

  /** Strip one layer of matching quotes — Graphite target args quote
    * interval/func strings (`summarize(a.b,"1hour","sum")`). */
  private def stripQuotes(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && ((s.head == '"' && s.last == '"') ||
        (s.head == '\'' && s.last == '\''))) s.substring(1, s.length - 1)
    else s
  }

  /** Graphite interval grammar → millis: `<n><unit>`, unit one of
    * s/sec/seconds, min/minutes, h/hour/hours, d/day/days, w/week/weeks. */
  private def parseIntervalMs(ivl: String): Long = {
    val Re = """(\d+)\s*(s|sec|seconds?|min|minutes?|h|hours?|d|days?|w|weeks?)""".r
    ivl.trim match {
      case Re(n, u) =>
        val unit = u match {
          case "s" | "sec" | "second" | "seconds" => 1000L
          case "min" | "minute" | "minutes" => 60000L
          case "h" | "hour" | "hours" => 3600000L
          case "d" | "day" | "days" => 86400000L
          case _ => 7L * 86400000L
        }
        n.toLong * unit
      case other => throw new IllegalArgumentException(
        s"bad interval '$other' — expected <n><s|min|h|d|w>")
    }
  }
}

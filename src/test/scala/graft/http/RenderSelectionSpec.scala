package graft.http

import graft.SparkSuite
import graft.operators.Series
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Whole-series selection ranks by window columns inside the render's one
  * job; these pin that it keeps [[Series.topSeries]]' picks — its order,
  * the name tie-break and nulls last — on tied and all-null series, over
  * the one-partition frame a read serves and over a scattered one. */
class RenderSelectionSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val t0 = 1704067200000L

  /** a and b tie on max, min and sum; c is all null; d and e are plain. */
  private def frame: DataFrame = Seq(
      ("a", Some(1.0)), ("a", Some(5.0)), ("b", Some(5.0)), ("b", Some(1.0)),
      ("c", None), ("c", None), ("d", Some(3.0)), ("d", Some(4.0)),
      ("e", Some(0.0)), ("e", Some(9.0)))
    .zipWithIndex.map { case ((m, v), i) => ("acme", m, t0 + (i % 2) * 60000L, v) }
    .toDF("tenant_id", "metric_name", "ts_ms", "value")

  private def render(target: String, df: DataFrame): Seq[(String, Int)] = {
    val src = Render.Source(spark, "acme", t0 + 3600000L,
      (_, _, _) => df, (_, _, _) => None)
    Render.collectSeries(Render.eval(target, src, s"${t0 / 1000}",
        s"${t0 / 1000 + 3600}"))
      .map { case (n, dps) => n -> dps.size }
  }

  private def topNames(df: DataFrame, k: Int, stat: String, asc: Boolean) =
    Series.topSeries(df, k, stat, asc).orderBy("metric_name")
      .select("metric_name").as[String].collect().toSeq

  for ((shape, df) <- Seq(
      "one partition" -> (() => frame.coalesce(1)),
      "scattered" -> (() => frame.repartition(3)))) {
    test(s"highestMax, lowestMin and limit keep topSeries' picks on ties " +
      s"and all-null series ($shape)") {
      val in = df()
      for ((fn, stat, asc) <- Seq(("highestMax", "max", false),
          ("lowestMin", "min", true)); k <- 1 to 5) {
        val got = render(s"$fn(x.*,$k)", in)
        assert(got.map(_._1) === topNames(in, k, stat, asc), s"$fn k=$k")
        // the kept series' points pass through unchanged, nulls included
        assert(got.forall(_._2 == 2), s"$fn k=$k: $got")
      }
      // the tie a/b breaks by name; the all-null c ranks last both ways
      assert(render("highestMax(x.*,2)", in).map(_._1) === Seq("a", "e"))
      assert(render("lowestMin(x.*,2)", in).map(_._1) === Seq("a", "e"))
      assert(render("highestMax(x.*,4)", in).map(_._1) === Seq("a", "b", "d", "e"))
      assert(render("lowestMin(x.*,4)", in).map(_._1) === Seq("a", "b", "d", "e"))
      // limit keeps the first n of the list: name order, or a sortBy
      // order (nulls last, ties by name)
      assert(render("limit(x.*,2)", in).map(_._1) === Seq("a", "b"))
      assert(render("limit(sortByTotal(x.*),3)", in).map(_._1) ===
        Seq("e", "d", "a"))
      assert(render("limit(sortByMaxima(x.*),5)", in).map(_._1) ===
        Seq("e", "a", "b", "d", "c"))
    }
  }
}

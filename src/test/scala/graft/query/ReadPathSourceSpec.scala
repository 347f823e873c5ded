package graft.query

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source checks on the warm read path's fixed costs: no checkpoint job in
  * the render table, no reflective map literal in the read's projection,
  * one place that opens the raw tables, and one locator source — the
  * catalog snapshot, with no discovery job and no raw-table derivation. */
class ReadPathSourceSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala",
    "graft")
  private def lines(rel: String): Seq[String] =
    Files.readAllLines(main.resolve(rel)).asScala.toSeq

  // needles are split so this file does not match its own text
  test("the render table runs no checkpoint job") {
    assert(!lines("http/Render.scala").exists(_.contains("local" + "Checkpoint")))
  }

  test("the read's projection builds no reflective map literal") {
    assert(!lines("query/MetricsQueryApi.scala").exists(_.contains("typed" + "Lit")))
  }

  test("the read path opens a raw table only through MetricsQueryApi.rawTable") {
    val needles = Seq("spark" + ".read", "hasParquet" + "Data(")
    val hits = Seq("query/MetricsQueryApi.scala", "http/MetricsHttpServer.scala",
        "http/Render.scala").flatMap { f =>
      lines(f).map(_.trim).filter(l => needles.exists(l.contains)).map(f -> _)
    }
    assert(hits === Seq(
      "query/MetricsQueryApi.scala" ->
        "else spark.read.schema(schema).parquet(key)",
      // the events table is no raw metrics table
      "http/MetricsHttpServer.scala" ->
        """if (!IngestStream.hasParquetData(spark, s"$storeDir/events")) None"""))
    // and the helper serves exactly the three raw tables
    val schemas = lines("query/MetricsQueryApi.scala")
      .map(_.trim).filter(_.matches("\"\\w+\" -> IngestStream\\.\\w+Schema.*"))
    assert(schemas === Seq(
      "\"metrics_full\" -> IngestStream.rawStoreSchema,",
      "\"preagg_raw\" -> IngestStream.preaggRawSchema,",
      "\"metrics_string\" -> IngestStream.stringStoreSchema)"))
  }

  test("the read path resolves locators only from the catalog snapshot") {
    val files = Seq("query/MetricsQueryApi.scala", "http/MetricsHttpServer.scala")
    // no discovery job: the one Discovery call left is the event search,
    // over the events table, which names no locator
    val discovery = files.flatMap(f => lines(f).flatMap(l =>
      ("Discovery" + "\\.\\w+").r.findAllIn(l)).map(f -> _))
    assert(discovery.distinct === Seq("http/MetricsHttpServer.scala" -> ("Discovery" +
      ".eventSearch")))
    // no locator derivation from a raw table
    assert(files.forall(f => !lines(f).exists(_.contains("catalog" + "FromRaw"))))
    // the family probe is a snapshot lookup: its body opens no table
    val server = lines("http/MetricsHttpServer.scala")
    val start = server.indexWhere(_.contains("def probe" + "Families("))
    assert(start >= 0)
    val body = server.drop(start).takeWhile(l => !l.trim.isEmpty)
    assert(body.exists(_.contains("familiesOf")), body.mkString("\n"))
    assert(!body.exists(l => Seq("raw" + "Table", "spark" + ".read",
      "hasParquet" + "Data").exists(l.contains)), body.mkString("\n"))
  }
}

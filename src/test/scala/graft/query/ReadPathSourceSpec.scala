package graft.query

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source checks on the warm read path's fixed costs: no checkpoint job in
  * the render table, no reflective map literal in the read's projection,
  * and one place that opens the raw tables. */
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
}

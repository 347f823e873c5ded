package graft.query

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source checks on the warm read path's fixed costs: no checkpoint job in
  * the render table, no reflective map literal in the read's projection,
  * one place that opens the raw tables, one locator source — the catalog
  * snapshot, with no discovery job and no raw-table derivation — and
  * metadata memos that no clock expires, fenced by one `_version` writer. */
class ReadPathSourceSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala",
    "graft")
  private def lines(rel: String): Seq[String] =
    Files.readAllLines(main.resolve(rel)).asScala.toSeq

  /** Every `.scala` file under `dir`, relative to `main`, sorted. */
  private def scalaFiles(dir: java.nio.file.Path): Seq[String] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString).toSeq.sorted

  /** A line's code, without its comment. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else t.split(" // ", 2)(0)
  }

  /** `def name(`'s lines in `rel`: up to the next line indented no deeper
    * than the def, that line included when it is the closing brace. */
  private def method(rel: String, name: String): Seq[String] = {
    val ls = lines(rel)
    val start = ls.indexWhere(_.contains(s"def $name("))
    assert(start >= 0, s"$rel has no def $name")
    val indent = ls(start).takeWhile(_ == ' ').length
    val end = ls.indexWhere(l => l.trim.nonEmpty &&
      l.takeWhile(_ == ' ').length <= indent, start + 1)
    assert(end > start, s"$rel: def $name never ends")
    ls.slice(start, if (ls(end).trim == "}") end + 1 else end)
  }

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

  test("no read-path memo reads a clock in its validity check") {
    val clocks = Seq("currentTime" + "Millis", "nano" + "Time")
    val checked = Seq(
      "SnapshotStore.readCovered" -> method("core/SnapshotStore.scala", "readCovered"),
      "SnapshotStore.fenceOf" -> method("core/SnapshotStore.scala", "fenceOf"),
      "CatalogSnapshot" -> lines("core/CatalogSnapshot.scala"),
      "MetricsQueryApi.rawTable" -> method("query/MetricsQueryApi.scala", "rawTable"))
    for ((what, body) <- checked)
      assert(!body.exists(l => clocks.exists(l.contains)), what)
    // and no staleness knob is left anywhere in the sources
    val knob = "SPARK_GRAFT_SNAPSHOT_" + "TTL_MS"
    val src = main.getParent.getParent.getParent
    val hits = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(knob)).toSeq
    assert(hits.isEmpty, hits)
  }

  test("exactly one method under src/main writes a _version file") {
    // the file's name ends a string literal in one place: its path helper
    val fence = "_" + "version"
    val spelled = scalaFiles(main).flatMap(f =>
      lines(f).map(code).filter(_.contains(fence + "\"")).map(f -> _))
    assert(spelled === Seq("core/SnapshotStore.scala" ->
      ("private def versionFile(root: Path) = new Path(root, \"" + fence + "\")")))
    val writers = scalaFiles(main).flatMap(f =>
      lines(f).map(code).filter(_.contains("create(" + "versionFile(")).map(f -> _))
    assert(writers === Seq("core/SnapshotStore.scala" ->
      "val out = fs.create(versionFile(root), true)"))
    assert(method("core/SnapshotStore.scala", "bumpVersion")
      .exists(_.contains("create(" + "versionFile(")))
  }
}

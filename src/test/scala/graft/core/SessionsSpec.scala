package graft.core

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SessionsSpec extends AnyFunSuite with SparkSuite {

  test("every session under src/ is built by Sessions.local: the only " +
    "SparkSession builder call is in Sessions.scala") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder()"
    val root = Paths.get(sys.props("user.dir"), "src")
    val hits = Seq("main", "test").flatMap { tree =>
      val walk = Files.walk(root.resolve(tree))
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    }
    assert(hits === Seq("main/scala/graft/core/Sessions.scala"))
  }

  test("the suite's session carries the parquet/timezone settings and one " +
    "shuffle partition per core of its fixed 4") {
    val conf = spark.conf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("flag reads the value after a CLI flag; a trailing flag is an error") {
    val args = Array("store", "--port", "8080", "--once")
    assert(Sessions.flag(args, "--port") === Some("8080"))
    assert(Sessions.flag(args, "--max-age") === None)
    val e = intercept[IllegalArgumentException](Sessions.flag(args, "--once"))
    assert(e.getMessage.contains("--once needs a value"))
  }
}

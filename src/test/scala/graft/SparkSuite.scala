package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** Shared session for specs: graft's [[graft.core.Sessions.local]] at a
  * fixed 4 cores, so no spec depends on the host's core count. */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  lazy val session: SparkSession =
    Sessions.local("graft-test", cpus = 4).getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

import graft.core.Session

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
}

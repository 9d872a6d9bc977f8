package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{Scratch, Session}

/** One shared local session for all suites, and one scratch root per
  * test JVM that Scratch's shutdown hook removes. */
object TestSpark {
  private lazy val root = Paths.get(Scratch.dir("graft_test_"))

  /** A fresh empty directory under this JVM's scratch root. */
  def tmpDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  lazy val spark: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> tmpDir("graft_warehouse_").toString)
}

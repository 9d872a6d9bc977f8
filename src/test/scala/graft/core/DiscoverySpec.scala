package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixture B7: discovery + smart-batch semantics (FIXTURES.md). */
class DiscoverySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root: String = {
    val r = TestSpark.tmpDir("graft_discspec_").toString
    def writeSingle(dest: String): Unit =
      Merge.writeSingleFile(Seq((1L, "x")).toDF("id", "t"), dest)
    writeSingle(s"$r/folderA/sales.parquet")
    writeSingle(s"$r/folderA/misc.parquet")
    writeSingle(s"$r/folderB/sales.parquet")
    writeSingle(s"$r/folderC/SALES.PARQUET")
    Files.write(java.nio.file.Paths.get(s"$r/folderA/notes.txt"), "x".getBytes)
    r
  }

  test("scan: case-insensitive .parquet extension; non-parquet skipped; sorted display path") {
    val files = Discovery.scanFolders(spark,
      Seq(s"$root/folderA", s"$root/folderB", s"$root/folderC"))
    assert(files.map(_.displayPath) == Seq("SALES.PARQUET", "misc.parquet", "sales.parquet", "sales.parquet"))
  }

  test("scan: duplicate roots deduped (main.rs:118-124)") {
    val once = Discovery.scanFolders(spark, Seq(s"$root/folderA"))
    val twice = Discovery.scanFolders(spark, Seq(s"$root/folderA", s"$root/folderA", s"$root/folderA/"))
    assert(once.size == twice.size)
  }

  test("scan: missing root yields nothing, no error") {
    assert(Discovery.scanFolders(spark, Seq(s"$root/nope")).isEmpty)
  }

  test("smart-batch: case-SENSITIVE name grouping; singletons excluded; sorted groups") {
    val files = Discovery.scanFolders(spark,
      Seq(s"$root/folderA", s"$root/folderB", s"$root/folderC"))
    val (groups, singles) = Discovery.smartBatch(files)
    // sales.parquet x2 groups; SALES.PARQUET and misc.parquet are singletons
    assert(groups.map(_._1) == Seq("sales"))
    assert(groups.head._2.size == 2)
    assert(singles == 2)
  }

  test("filterFiles: case-insensitive substring search; empty keeps all (P4)") {
    val files = Seq(
      ParquetFileRef("/x/folderA/sales.parquet", "folderA/sales.parquet"),
      ParquetFileRef("/x/folderC/SALES.PARQUET", "SALES.PARQUET"),
      ParquetFileRef("/x/folderA/misc.parquet", "folderA/misc.parquet"))
    assert(Discovery.filterFiles(files, "sales").map(_.displayPath) ==
      Seq("folderA/sales.parquet", "SALES.PARQUET"))
    assert(Discovery.filterFiles(files, "FOLDERA").size == 2)
    assert(Discovery.filterFiles(files, "") == files)
    assert(Discovery.filterFiles(files, "zzz").isEmpty)
  }

  test("display path is relative to its scan root") {
    val files = Discovery.scanFolders(spark, Seq(root))
    assert(files.map(_.displayPath).contains("folderA/sales.parquet"))
  }

  test("fullPath keeps the filesystem scheme so non-default FS paths stay addressable") {
    val files = Discovery.scanFolders(spark, Seq(root))
    assert(files.nonEmpty)
    // local FS qualifies to file: — an hdfs:// or s3a:// root would keep
    // its own scheme/authority the same way
    assert(files.forall(_.fullPath.startsWith("file:")))
    // and the scheme-qualified paths are directly readable
    assert(spark.read.parquet(files.head.fullPath).count() == 1)
  }
}

package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
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

  /** The listing `scanFolders` made with `listFiles(root, recursive =
    * true)`, before it walked directories itself. */
  private def listFilesWalk(roots: Seq[String]): Seq[ParquetFileRef] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out  = ArrayBuffer.empty[ParquetFileRef]
    roots.map(new Path(_)).map(p => p.getFileSystem(conf).makeQualified(p)).distinct.foreach { root =>
      val fs     = root.getFileSystem(conf)
      val prefix = root.toString.stripSuffix("/") + "/"
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.toLowerCase.endsWith(".parquet")) {
            val full = st.getPath.toString
            out += ParquetFileRef(full,
              if (full.startsWith(prefix)) full.substring(prefix.length) else st.getPath.getName)
          }
        }
      }
    }
    out.sortBy(_.displayPath).toSeq
  }

  /** A three-level tree of same-named and distinct parquet files, with
    * non-parquet files and an empty directory mixed in. */
  private lazy val tree: String = {
    val r = TestSpark.tmpDir("graft_disctree_").toString
    for (a <- 0 until 3; b <- 0 until 2; c <- 0 until 2) {
      val d = s"$r/a$a/b$b/c$c"
      Merge.writeSingleFile(Seq((a * 100L + b * 10 + c, "x")).toDF("id", "t"), s"$d/part.parquet")
      if (c == 0) Files.write(Paths.get(s"$d/notes.txt"), "x".getBytes)
    }
    Merge.writeSingleFile(Seq((7L, "x")).toDF("id", "t"), s"$r/a1/Top.PARQUET")
    Files.createDirectories(Paths.get(s"$r/a2/empty"))
    r
  }

  test("scan: a three-level tree lists what listFiles(recursive) listed, in the same order") {
    val roots = Seq(tree, s"$tree/a1", s"$tree/a0/b1")
    val files = Discovery.scanFolders(spark, roots)
    assert(files.size == 12 + 1 + 5 + 2)
    assert(files == listFilesWalk(roots))
  }

  test("scan: symlinked directories and files are followed, like follow_links(true)") {
    val r = TestSpark.tmpDir("graft_disclinks_")
    Merge.writeSingleFile(Seq((1L, "x")).toDF("id", "t"), s"$r/real/sub/a.parquet")
    Merge.writeSingleFile(Seq((2L, "x")).toDF("id", "t"), s"$r/real/b.parquet")
    val links = Files.createDirectories(r.resolve("links"))
    Files.createSymbolicLink(links.resolve("dirlink"), r.resolve("real/sub"))
    Files.createSymbolicLink(links.resolve("filelink.parquet"), r.resolve("real/b.parquet"))
    val files = Discovery.scanFolders(spark, Seq(links.toString))
    assert(files.map(_.displayPath) == Seq("dirlink/a.parquet", "filelink.parquet"))
    assert(files.map(f => spark.read.parquet(f.fullPath).as[(Long, String)].head()._1) == Seq(1L, 2L))
  }

  test("scan: a root that is a file lists that file") {
    val file = s"$root/folderA/sales.parquet"
    val files = Discovery.scanFolders(spark, Seq(file))
    assert(files == Seq(ParquetFileRef(s"file:$file", "sales.parquet")))
    assert(files == listFilesWalk(Seq(file)))
  }

  test("scan: no located status and no block location is looked up") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countls.impl", classOf[CountingListingFs].getName)
    conf.setBoolean("fs.countls.impl.disable.cache", true)
    try {
      CountingListingFs.reset()
      val files = Discovery.scanFolders(spark, Seq(s"countls://$tree"))
      // one directory listing per directory of the tree, through this file
      // system, and no LocatedFileStatus: without native IO, building one
      // here throws, since the permission lookup wants a file: URI
      assert(CountingListingFs.calls == (0, 0, 1 + 3 + 3 * 2 + 3 * 2 * 2 + 1))
      assert(files.map(_.displayPath) == listFilesWalk(Seq(tree)).map(_.displayPath))
      assert(files.forall(_.fullPath.startsWith("countls:/")))
    } finally {
      conf.unset("fs.countls.impl")
      conf.unset("fs.countls.impl.disable.cache")
    }
  }
}

/** The local file system under its own `countls:` scheme, counting the
  * calls through which `listFiles` builds a `LocatedFileStatus`. */
class CountingListingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countls:///")
  override def getScheme: String = "countls"
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingListingFs.located.incrementAndGet()
    super.listLocatedStatus(f)
  }
  override def getFileBlockLocations(file: FileStatus, start: Long, len: Long): Array[BlockLocation] = {
    CountingListingFs.blocks.incrementAndGet()
    super.getFileBlockLocations(file, start, len)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    CountingListingFs.listings.incrementAndGet()
    super.listStatusIterator(f)
  }
}

object CountingListingFs {
  val located  = new AtomicInteger
  val blocks   = new AtomicInteger
  val listings = new AtomicInteger
  def reset(): Unit = Seq(located, blocks, listings).foreach(_.set(0))
  /** (`listLocatedStatus`, `getFileBlockLocations`, `listStatusIterator`)
    * calls since the last reset. */
  def calls: (Int, Int, Int) = (located.get, blocks.get, listings.get)
}

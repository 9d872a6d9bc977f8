package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge fixtures B1-B9 (FIXTURES.md §B): the reference's schema
  * alignment semantics exercised through the real file-based pipeline. */
class MergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft_mergespec_").toString

  /** Plain single parquet FILE (the reference's unit of merge). */
  private def writeSingle(df: DataFrame, dest: String): Unit =
    Merge.writeSingleFile(df, dest)

  private def ref(path: String) = ParquetFileRef(path, Discovery.fileName(path))

  test("B1 identical: positional union, row count = sum of inputs") {
    writeSingle(Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "score"), s"$root/b1/f1.parquet")
    writeSingle(Seq((3L, "z", 3.5)).toDF("id", "name", "score"), s"$root/b1/f2.parquet")
    val out = Merge.alignedUnion(spark, Seq(s"$root/b1/f1.parquet", s"$root/b1/f2.parquet"))
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.count() == 3)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("B2 drift: intersection in first file's order; extras dropped") {
    writeSingle(Seq((1L, "p", 7)).toDF("id", "name", "extra1"), s"$root/b2/p1.parquet")
    writeSingle(Seq((9.9, 2L, "q")).toDF("extra2", "id", "name"), s"$root/b2/p2.parquet")
    writeSingle(Seq(("r", 3L)).toDF("name", "id"), s"$root/b2/p3.parquet")
    val out = Merge.alignedUnion(spark,
      Seq(s"$root/b2/p1.parquet", s"$root/b2/p2.parquet", s"$root/b2/p3.parquet"))
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.count() == 3)
    // the drifted batch is read by one scan, not one union leg per file
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan.treeString)
    assert(plan.collect { case u: UnionExec => u }.isEmpty, plan.treeString)
  }

  test("drift: one scan reads the same rows as a per-file select + unionByName") {
    // reordered columns, an extra column, type conflicts (v int vs
    // double, id int32 vs int64) and NULLs in the common columns
    writeSingle(Seq((1L, Option("a"), 10, Option(100L)), (2L, None, 20, None))
      .toDF("id", "name", "v", "n"), s"$root/proof/p1.parquet")
    writeSingle(Seq((Option(300L), 3.5, Option("c"), 9, 3), (None, 4.5, Option("a"), 8, 4))
      .toDF("n", "v", "name", "extra", "id"), s"$root/proof/p2.parquet")
    writeSingle(Seq((None: Option[String], 5L, Option(100L), 50), (Option("e"), 6L, None, 60))
      .toDF("name", "id", "n", "v"), s"$root/proof/p3.parquet")
    val files = Seq("p1", "p2", "p3").map(f => s"$root/proof/$f.parquet")
    val out = Merge.alignedUnion(spark, files)
    val common = Seq("name", "n")
    assert(out.columns.toSeq == common)
    val reference = files
      .map(f => spark.read.parquet(f).select(common.map(col): _*))
      .reduce(_ unionByName _)
    assert(out.count() == 6)
    assert(out.exceptAll(reference).isEmpty)
    assert(reference.exceptAll(out).isEmpty)
  }

  test("B3 type conflict: column with differing type excluded") {
    writeSingle(Seq((1L, 5L)).toDF("id", "v"), s"$root/b3/p1.parquet")
    writeSingle(Seq((2L, "s")).toDF("id", "v"), s"$root/b3/p2.parquet")
    val out = Merge.alignedUnion(spark, Seq(s"$root/b3/p1.parquet", s"$root/b3/p2.parquet"))
    assert(out.columns.toSeq == Seq("id"))
    assert(out.count() == 2)
  }

  test("B3b disjoint: merge error, reference message") {
    writeSingle(Seq(Tuple1(1L)).toDF("a"), s"$root/b3b/p1.parquet")
    writeSingle(Seq(Tuple1(2L)).toDF("b"), s"$root/b3b/p2.parquet")
    val e = intercept[MergeException] {
      Merge.alignedUnion(spark, Seq(s"$root/b3b/p1.parquet", s"$root/b3b/p2.parquet"))
    }
    assert(e.getMessage == "No common columns found across all files")
  }

  test("B4 duplicates: union keeps bag semantics; dedup removes") {
    val rows = Seq((1L, "same"), (2L, "other"))
    writeSingle(rows.toDF("id", "t"), s"$root/b4/p1.parquet")
    writeSingle(rows.toDF("id", "t"), s"$root/b4/p2.parquet")
    val u = Merge.alignedUnion(spark, Seq(s"$root/b4/p1.parquet", s"$root/b4/p2.parquet"))
    assert(u.count() == 4)
    assert(u.distinct().count() == 2)
  }

  test("B5 pandas index: kept in parquet merge, dropped from CSV") {
    writeSingle(Seq((0L, 1L, "k")).toDF("__index_level_0__", "id", "name"), s"$root/b5/p1.parquet")
    val rows = Merge.merge(Merge.alignedUnion(spark, Seq(s"$root/b5/p1.parquet")),
      s"$root/b5/out.parquet", csvPath = Some(s"$root/b5/out.csv"))
    assert(rows == 1)
    assert(spark.read.parquet(s"$root/b5/out.parquet").columns.contains("__index_level_0__"))
    val csv = spark.read.option("header", "true").csv(s"$root/b5/out.csv")
    assert(csv.columns.toSeq.sorted == Seq("id", "name"))
  }

  test("B9 unreadable: probe raises reference error; mismatch probe true") {
    val bad = s"$root/b9/bad.parquet"
    new java.io.File(s"$root/b9").mkdirs()
    Files.write(java.nio.file.Paths.get(bad), "not parquet".getBytes)
    val e = intercept[MergeException](Merge.probeSchema(spark, bad))
    assert(e.getMessage.startsWith("Cannot read schema from:"))
    writeSingle(Seq(Tuple1(1L)).toDF("a"), s"$root/b9/ok.parquet")
    assert(MergeJobs.buildJob(spark, Seq(bad, s"$root/b9/ok.parquet").map(ref), 1).hasSchemaMismatch)
    assert(!MergeJobs.buildJob(spark, Seq(ref(s"$root/b9/ok.parquet")), 1).hasSchemaMismatch)
  }

  test("merge row count equals sum of input counts (property, multiple shapes)") {
    val rnd = new scala.util.Random(7)
    val sizes = Seq(1, 3, 5)
    val files = sizes.zipWithIndex.map { case (n, i) =>
      val df = (1 to n).map(j => (j.toLong + i * 100, rnd.nextDouble())).toDF("id", "v")
      val p = s"$root/prop/f$i.parquet"
      writeSingle(df, p)
      p
    }
    assert(Merge.alignedUnion(spark, files).count() == sizes.sum)
  }

  test("W3 runAll: partial failure keeps going; auto-remove keeps failures only") {
    writeSingle(Seq((1L, "a")).toDF("id", "t"), s"$root/w3/x/same.parquet")
    writeSingle(Seq((2L, "b")).toDF("id", "t"), s"$root/w3/y/same.parquet")
    writeSingle(Seq(Tuple1(1L)).toDF("a"), s"$root/w3/x/clash.parquet")
    writeSingle(Seq(Tuple1(2.0)).toDF("b"), s"$root/w3/y/clash.parquet")
    val files = Discovery.scanFolders(spark, Seq(s"$root/w3/x", s"$root/w3/y"))
    val (groups, _) = Discovery.smartBatch(files)
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    val (outcomes, remaining) = MergeJobs.runAll(spark, jobs, s"$root/w3/out")
    assert(outcomes.count(_.isRight) == 1)
    assert(outcomes.count(_.isLeft) == 1)
    assert(remaining.map(_.name) == Seq("clash"))
    assert(spark.read.parquet(s"$root/w3/out/merged/same.parquet").count() == 2)
  }

  test("runAll: a file changed since buildJob fails its batch and writes nothing") {
    writeSingle(Seq((1L, "a")).toDF("id", "t"), s"$root/stale/x/same.parquet")
    writeSingle(Seq((2L, "b")).toDF("id", "t"), s"$root/stale/y/same.parquet")
    val files = Discovery.scanFolders(spark, Seq(s"$root/stale/x", s"$root/stale/y"))
    val job = MergeJobs.buildJob(spark, files, 1)
    // rewritten without the common column `t`: read under the stored
    // schema it would come back as NULLs
    writeSingle(Seq((3L, 4L)).toDF("id", "u"), s"$root/stale/y/same.parquet")
    val (outcomes, _) = MergeJobs.runAll(spark, Seq(job), s"$root/stale/out", exportCsv = true)
    val changed = files.find(_.fullPath.contains("/stale/y/")).get.fullPath
    assert(outcomes == Seq(Left((job, s"File changed since its batch was built: $changed"))))
    val merged = new java.io.File(s"$root/stale/out/merged")
    assert(!new java.io.File(merged, "same.parquet").exists())
    assert(!new java.io.File(merged, "same.csv").exists())
  }

  test("runAll: a batch whose output name an earlier batch used fails instead of overwriting") {
    val paths = Seq("sales_2023", "sales_2024", "sales_2025", "sales_2026").zipWithIndex.map {
      case (stem, i) =>
        val p = s"$root/dup/$stem.parquet"
        writeSingle(Seq((i.toLong + 1, stem)).toDF("id", "t"), p)
        p
    }
    // different stems: trailing digits are stripped, so both are "sales"
    val jobs = paths.grouped(2).zipWithIndex
      .map { case (ps, i) => MergeJobs.buildJob(spark, ps.map(ref), i + 1) }.toSeq
    assert(jobs.map(_.name) == Seq("sales", "sales"))
    val (outcomes, remaining) = MergeJobs.runAll(spark, jobs, s"$root/dup/out")
    val dest = s"$root/dup/out/merged/sales.parquet"
    assert(outcomes.head.isRight)
    assert(outcomes(1) == Left((jobs(1), s"Output name already used in this run: $dest")))
    assert(remaining == Seq(jobs(1)))
    // the first (sales_2023 + sales_2024) batch's rows are intact
    assert(spark.read.parquet(dest).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("runAll: smart batches keep their file stem, so sales_2023 and sales_2024 both merge") {
    writeSingle(Seq((1L, "a")).toDF("id", "t"), s"$root/stems/x/sales_2023.parquet")
    writeSingle(Seq((2L, "b")).toDF("id", "t"), s"$root/stems/y/sales_2023.parquet")
    writeSingle(Seq((3L, "c")).toDF("id", "t"), s"$root/stems/x/sales_2024.parquet")
    writeSingle(Seq((4L, "d")).toDF("id", "t"), s"$root/stems/y/sales_2024.parquet")
    val files = Discovery.scanFolders(spark, Seq(s"$root/stems/x", s"$root/stems/y"))
    val (groups, _) = Discovery.smartBatch(files)
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    assert(jobs.map(_.name) == Seq("sales_2023", "sales_2024"))
    val (outcomes, remaining) = MergeJobs.runAll(spark, jobs, s"$root/stems/out")
    assert(outcomes.forall(_.isRight))
    assert(remaining.isEmpty)
    def ids(name: String) = spark.read.parquet(s"$root/stems/out/merged/$name.parquet")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids("sales_2023") == Seq(1L, 2L))
    assert(ids("sales_2024") == Seq(3L, 4L))
  }

  test("writeSingleFile: failed write leaves no staging/tmp litter and keeps prior output") {
    val dest = s"$root/cleanup/out.parquet"
    writeSingle(Seq((1L, "keep")).toDF("id", "t"), dest)
    // CSV cannot serialize an array column -> the staged write throws
    val bad = Seq((1L, Seq(1, 2))).toDF("id", "arr")
    intercept[Exception] {
      Merge.writeSingleFile(bad, dest, "csv", Map("header" -> "true"))
    }
    // ignore LocalFileSystem .crc sidecars
    def visible(d: java.io.File) = d.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    val dir = new java.io.File(s"$root/cleanup")
    assert(visible(dir) == Set("out.parquet"), s"leftover files: ${visible(dir).mkString(", ")}")
    // prior output untouched (failure happened before the swap)
    assert(spark.read.parquet(dest).count() == 1)
  }

  test("writeSingleFile: overwrite replaces an existing single-file output") {
    val dest = s"$root/overwrite/out.parquet"
    writeSingle(Seq((1L, "old")).toDF("id", "t"), dest)
    writeSingle(Seq((2L, "new"), (3L, "new")).toDF("id", "t"), dest)
    assert(spark.read.parquet(dest).count() == 2)
    val names = new java.io.File(s"$root/overwrite")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names == Set("out.parquet"))
  }
}

package graft.core

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge fixtures B1-B9 (FIXTURES.md §B): the reference's schema
  * alignment semantics exercised through the real file-based pipeline. */
class MergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = TestSpark.tmpDir("graft_mergespec_").toString

  /** Plain single parquet FILE (the reference's unit of merge). */
  private def writeSingle(df: DataFrame, dest: String): Unit =
    Merge.writeSingleFile(df, dest)

  private def ref(path: String) = ParquetFileRef(path, Discovery.fileName(path))

  /** The file format a job's command line writes, or the line itself. */
  private def writeKind(line: String): String =
    if (!line.startsWith("Execute InsertIntoHadoopFsRelationCommand")) line
    else line.split(", ").find(Set("Parquet", "CSV")).getOrElse(line)

  /** The batch whose `merged/<batch>.<ext>` output a job's command line
    * writes, or the line itself. */
  private def batchOf(line: String): String =
    """/merged/([^/]+)\.(parquet|csv)\.__staging__""".r.findFirstMatchIn(line).fold(line)(_.group(1))

  /** `n` plain parquet files of `df`'s rows, written by one job. */
  private def writeParts(df: DataFrame, n: Int, dir: String): Seq[String] = {
    df.repartition(n).write.parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
  }

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

  test("probed schemas equal spark.read.parquet(f).schema for every footer type") {
    val spec = StructType(Seq(
      StructField("req", LongType, nullable = false),
      StructField("tagged", StringType, nullable = true,
        new MetadataBuilder().putString("comment", "kept").putLong("width", 7).build())))
    val frames = Seq(
      "numbers" -> Seq((1, 2L, 3.5, BigDecimal("1.25"), BigDecimal("123456789012345678.9")))
        .toDF("i32", "i64", "dbl", "dec", "wide")
        .select(col("i32"), col("i64"), col("dbl"), col("dec").cast("decimal(10,2)"),
          col("wide").cast("decimal(38,10)"), lit(1.toByte).as("i8"), lit(2.toShort).as("i16"),
          lit(1.5f).as("f32")),
      "text" -> Seq(("s", Array[Byte](1, 2), true)).toDF("str", "bin", "flag"),
      "times" -> Seq((java.sql.Date.valueOf("2024-02-29"),
          java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
          java.time.LocalDateTime.parse("2024-02-29T12:34:56.789")))
        .toDF("d", "ts", "ntz"),
      "nested" -> Seq((1L, (2, "x"), Seq(1.0, 2.0), Map("k" -> Seq(3L))))
        .toDF("id", "st", "arr", "mp"),
      "required" -> spark.createDataFrame(java.util.List.of(Row(1L, "m")), spec))
    val files = frames.map { case (name, df) =>
      val p = s"$root/types/$name.parquet"
      writeSingle(df, p)
      p
    }
    val int96 = s"$root/types/int96.parquet"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try writeSingle(Seq(java.sql.Timestamp.valueOf("2024-02-29 12:34:56")).toDF("ts96"), int96)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // written by another parquet writer: no Spark schema in the footer
    val foreign = getClass.getResource("/uint_fixture.parquet").getPath
    val all = files :+ int96 :+ foreign
    val expected = all.map(spark.read.parquet(_).schema)
    assert(expected.last.nonEmpty)
    assert(expected(4).fields.map(_.metadata.contains("comment")).toSeq == Seq(false, true))
    assert(Merge.probeSchemas(spark, all) == expected)
    all.zip(expected).foreach { case (f, schema) =>
      assert(MergeJobs.buildJob(spark, Seq(ref(f)), 1).readSchema == Right(schema), f)
    }
    // a batch of several files: the read schema (or its error) of
    // aligning the per-file schemas
    def aligned(schemas: Seq[StructType]) =
      Try(Merge.readSchema(schemas)).toEither.left.map(_.getMessage)
    assert(MergeJobs.buildJob(spark, all.map(ref), 1).readSchema == aligned(expected))
    val same = Seq(files(3), s"$root/types/nested2.parquet")
    writeSingle(frames(3)._2, same(1))
    val sameJob = MergeJobs.buildJob(spark, same.map(ref), 1)
    assert(sameJob.readSchema.isRight)
    assert(sameJob.readSchema == aligned(same.map(spark.read.parquet(_).schema)))
  }

  test("buildJob: an unreadable or deleted file is a Left naming it, and a mismatch") {
    writeSingle(Seq((1L, "a")).toDF("id", "t"), s"$root/unread/ok.parquet")
    val ok   = s"$root/unread/ok.parquet"
    val bad  = s"$root/unread/bad.parquet"
    val gone = s"$root/unread/gone.parquet"
    Files.write(java.nio.file.Paths.get(bad), "not parquet".getBytes)
    writeSingle(Seq((2L, "b")).toDF("id", "t"), gone)
    new java.io.File(gone).delete()
    for (f <- Seq(bad, gone)) {
      val job = MergeJobs.buildJob(spark, Seq(ref(f), ref(ok)), 1)
      assert(job.readSchema == Left(s"Cannot read schema from: $f"))
      assert(job.hasSchemaMismatch)
      val e = intercept[MergeException](Merge.probeSchemas(spark, Seq(ok, f)))
      assert(e.getMessage == s"Cannot read schema from: $f")
    }
  }

  test("buildJob over 50 files starts no Spark job") {
    val plain = writeParts((1 to 500).map(i => (i.toLong, s"r$i")).toDF("id", "t"), 25,
      s"$root/nojobs/plain")
    val wide = writeParts((1 to 500).map(i => (s"w$i", i.toLong, i * 0.5)).toDF("t", "id", "x"), 25,
      s"$root/nojobs/wide")
    val files = plain ++ wide
    assert(files.size == 50)
    val (job, jobs) = TestSpark.jobsOf(MergeJobs.buildJob(spark, files.map(ref), 1))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(job.hasSchemaMismatch)
    assert(job.readSchema == Right(Merge.readSchema(job.files.map(f => spark.read.parquet(f.fullPath).schema))))
    assert(job.readSchema.map(_.fieldNames.toSet) == Right(Set("id", "t")))
  }

  test("runAll(exportCsv) starts one parquet-write and one CSV-write job per batch") {
    writeSingle(Seq((1L, "a"), (2L, "b")).toDF("id", "t"), s"$root/onejob/x/same.parquet")
    writeSingle(Seq((3L, "c")).toDF("id", "t"), s"$root/onejob/y/same.parquet")
    writeSingle(Seq((1L, "p", 7)).toDF("id", "t", "extra"), s"$root/onejob/x/drift.parquet")
    writeSingle(Seq(("q", 2L)).toDF("t", "id"), s"$root/onejob/y/drift.parquet")
    val files = Discovery.scanFolders(spark, Seq(s"$root/onejob/x", s"$root/onejob/y"))
    val (groups, _) = Discovery.smartBatch(files)
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    assert(jobs.map(_.hasSchemaMismatch) == Seq(true, false))
    val ((outcomes, _), started) =
      TestSpark.jobsOf(MergeJobs.runAll(spark, jobs, s"$root/onejob/out", exportCsv = true))
    assert(outcomes.map(_.map(_.rows)) == Seq(Right(2L), Right(3L)))
    // the batches run concurrently, so their jobs interleave; within a
    // batch the parquet write precedes the CSV export that reads it back
    val perBatch = started.groupBy(batchOf).map { case (b, lines) => b -> lines.map(writeKind) }
    assert(perBatch == Map("drift" -> Seq("Parquet", "CSV"), "same" -> Seq("Parquet", "CSV")),
      started.mkString("\n"))
  }

  test("MergeResult.rows equals the written output's count") {
    val dir = s"$root/rows"
    writeSingle(Seq((1L, "a"), (2L, "b")).toDF("id", "t"), s"$dir/x/fast.parquet")
    writeSingle(Seq((3L, "c")).toDF("id", "t"), s"$dir/y/fast.parquet")
    writeSingle(Seq((1L, "p", 7), (2L, "q", 8)).toDF("id", "t", "extra"), s"$dir/x/drift.parquet")
    writeSingle(Seq(("r", 3L), ("s", 4L), ("t", 5L)).toDF("t", "id"), s"$dir/y/drift.parquet")
    writeSingle(Seq.empty[(Long, String)].toDF("id", "t"), s"$dir/x/empty.parquet")
    writeSingle(Seq.empty[(Long, String)].toDF("id", "t"), s"$dir/y/empty.parquet")
    val files = Discovery.scanFolders(spark, Seq(s"$dir/x", s"$dir/y"))
    val (groups, _) = Discovery.smartBatch(files)
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    assert(jobs.map(_.name) == Seq("drift", "empty", "fast"))
    for (single <- Seq(true, false)) {
      val out = s"$dir/out-$single"
      val (outcomes, _) = MergeJobs.runAll(spark, jobs, out, exportCsv = true, singleFile = single)
      val rows = outcomes.map(_.fold(l => fail(l._2), r => r.job.name -> r.rows)).toMap
      assert(rows == Map("drift" -> 5L, "empty" -> 0L, "fast" -> 3L))
      rows.foreach { case (name, n) =>
        assert(spark.read.parquet(s"$out/merged/$name.parquet").count() == n, name)
        assert(spark.read.option("header", "true").csv(s"$out/merged/$name.csv").count() == n, name)
      }
    }
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

  test("runAll: batches merge concurrently; outcomes keep job order and each batch fails alone") {
    val dir = s"$root/concurrent"
    def batch(stem: String, rows: Seq[(Long, String)], folders: String*): Seq[ParquetFileRef] =
      folders.zip(rows).map { case (folder, row) =>
        val p = s"$dir/$folder/$stem.parquet"
        writeSingle(Seq(row).toDF("id", "t"), p)
        ref(p)
      }
    val one   = batch("one", Seq((1L, "a"), (2L, "b")), "x", "y")
    val two   = batch("two", Seq((3L, "c"), (4L, "d")), "x", "y")
    val three = batch("three", Seq((5L, "e"), (6L, "f")), "x", "y")
    val again = batch("one", Seq((7L, "g"), (8L, "h")), "z", "w")
    val jobs = Seq(one, two, three, again).zipWithIndex
      .map { case (fs, i) => MergeJobs.buildJob(spark, fs, i + 1) }
    assert(jobs.map(_.name) == Seq("one", "two", "three", "one"))
    writeSingle(Seq((9L, "changed")).toDF("id", "t"), two(1).fullPath)
    val (outcomes, remaining) = MergeJobs.runAll(spark, jobs, s"$dir/out", exportCsv = true)
    val merged = s"$dir/out/merged"
    assert(outcomes == Seq(
      Right(MergeResult(jobs(0), 2L)),
      Left((jobs(1), s"File changed since its batch was built: ${two(1).fullPath}")),
      Right(MergeResult(jobs(2), 2L)),
      Left((jobs(3), s"Output name already used in this run: $merged/one.parquet"))))
    assert(remaining == Seq(jobs(1), jobs(3)))
    def rows(name: String) = spark.read.parquet(s"$merged/$name.parquet").as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows("one") == Seq((1L, "a"), (2L, "b")))
    assert(rows("three") == Seq((5L, "e"), (6L, "f")))
    assert(!new java.io.File(s"$merged/two.parquet").exists())
  }

  test("runAll: every write job carries the caller's Spark local properties") {
    val dir = s"$root/props"
    Seq("p", "q").foreach { stem =>
      writeSingle(Seq((1L, stem)).toDF("id", "t"), s"$dir/x/$stem.parquet")
      writeSingle(Seq((2L, stem)).toDF("id", "t"), s"$dir/y/$stem.parquet")
    }
    val (groups, _) = Discovery.smartBatch(Discovery.scanFolders(spark, Seq(s"$dir/x", s"$dir/y")))
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    val out  = s"$dir/out"
    val tag  = java.util.UUID.randomUUID().toString
    // every job started while runAll runs, from any thread, with its
    // SQL execution's command line
    val plans  = new ConcurrentHashMap[Long, String]
    val tagged = new ConcurrentLinkedQueue[(Option[Long], String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tagged.add((Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong),
          String.valueOf(e.properties.getProperty("graft.test.caller"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo.simpleString)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.caller", tag)
    try {
      val (outcomes, _) = MergeJobs.runAll(spark, jobs, out, exportCsv = true)
      assert(outcomes.forall(_.isRight), outcomes)
      Bridge.drainListenerBus(spark)
    } finally {
      sc.setLocalProperty("graft.test.caller", null)
      sc.removeSparkListener(listener)
    }
    val writes = tagged.asScala.toSeq.collect {
      case (Some(id), caller) if Option(plans.get(id)).exists(_.contains(s"$out/merged/")) =>
        (batchOf(plans.get(id)), writeKind(plans.get(id)), caller)
    }
    assert(writes.sorted == Seq(("p", "CSV", tag), ("p", "Parquet", tag),
      ("q", "CSV", tag), ("q", "Parquet", tag)), writes)
  }

  test("runAll inside a QueryScope leaves no pool thread and no staging entry behind") {
    val dir = s"$root/scoped"
    Seq("m", "n", "o").foreach { stem =>
      writeSingle(Seq((1L, stem)).toDF("id", "t"), s"$dir/x/$stem.parquet")
      writeSingle(Seq((2L, stem)).toDF("id", "t"), s"$dir/y/$stem.parquet")
    }
    val (groups, _) = Discovery.smartBatch(Discovery.scanFolders(spark, Seq(s"$dir/x", s"$dir/y")))
    val (outcomes, _) = QueryScope {
      val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
      MergeJobs.runAll(spark, jobs, s"$dir/out", exportCsv = true)
    }
    assert(outcomes.map(_.map(_.rows)) == Seq(Right(2L), Right(2L), Right(2L)))
    // a pool left running keeps idle workers alive for good; a shut-down
    // one's workers are gone or exiting
    val pool = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-merge-"))
    pool.foreach(_.join(10000))
    assert(pool.forall(!_.isAlive), pool.map(_.getName))
    val names = new java.io.File(s"$dir/out/merged").listFiles().map(_.getName).toSet
    assert(names.filterNot(_.startsWith(".")) == Set("m", "n", "o").flatMap(b => Set(s"$b.parquet", s"$b.csv")))
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

  test("writeSingleFile: a failed final rename keeps the previous output at dest") {
    val dir = s"$root/failmv"
    writeSingle(Seq((1L, "old"), (2L, "old")).toDF("id", "t"), s"$dir/out.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failmv.impl", classOf[FailingCommitFs].getName)
    val e = try intercept[MergeException] {
      writeSingle(Seq((3L, "new")).toDF("id", "t"), s"failmv://$dir/out.parquet")
    } finally conf.unset("fs.failmv.impl")
    assert(spark.read.parquet(s"$dir/out.parquet").as[(Long, String)].collect().toSet ==
      Set((1L, "old"), (2L, "old")))
    val names = new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names == Set("out.parquet"), s"leftover files: ${names.mkString(", ")}")
    assert(e.getMessage.contains("out.parquet") && e.getMessage.contains("previous output is kept"),
      e.getMessage)
  }
}

/** The local file system under its own `failmv:` scheme, whose rename of
  * a `*.__tmp__` file fails: the last step of a single-file commit. */
class FailingCommitFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failmv:///")
  override def getScheme: String = "failmv"
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith(".__tmp__") && super.rename(src, dst)
}

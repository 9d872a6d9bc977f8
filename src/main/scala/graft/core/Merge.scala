package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemas
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** A merge failed in a way the reference surfaces as a per-batch error
  * (unreadable footer, empty column intersection, empty batch). */
final class MergeException(msg: String) extends RuntimeException(msg)

/** The reference's whole data path — scan → schema-align → UNION ALL →
  * sink (shanytc/parquet-merger `src/main.rs:549-613`) — re-expressed as
  * a declarative Spark plan.
  *
  * Scale notes (the part the reference gets wrong, main.rs:580-601: it
  * buffers every record batch in RAM, single-threaded):
  *  - Each file's footer is probed once, on the driver, and the probed
  *    schemas decide the one schema the batch is read with
  *    ([[readSchema]]), before any row is read (main.rs:549-578). A
  *    batch's footers are read together by Spark's parallel footer
  *    reader ([[probeSchemas]]), with no Spark job.
  *  - Every batch, identical or drifted, is then read by ONE multi-path
  *    parquet scan under that schema (one `FileSourceScanExec` that
  *    bin-packs splits across executors), never by N union legs: the
  *    parquet reader resolves columns by name, so a drifted file's
  *    reordered and extra columns fall away in the scan itself.
  *  - The union is never materialized on the driver; it is a lazy
  *    `DataFrame` that Spark executes as one pipelined scan→write stage
  *    with one task per file split. No shuffle.
  *  - `singleFile = true` mirrors the reference's one-output-file
  *    contract via `coalesce(1)` (narrow, no shuffle). At 100 TB pass
  *    `singleFile = false` and the write stays fully parallel.
  *  - The sink runs one job per output: the row count is observed
  *    inside the parquet write, and the CSV export reads the merged
  *    output back under the schema it was written with.
  */
object Merge {

  /** One file's schema (main.rs:433-437) through Spark's data source, as
    * `spark.read.parquet(file).schema`; raises the reference's "Cannot
    * read schema from" error (main.rs:557-561) on failure. Batches go
    * through [[probeSchemas]], which falls back to this per file. */
  def probeSchema(spark: SparkSession, file: String): StructType =
    try spark.read.parquet(file).schema
    catch { case _: Exception => throw new MergeException(s"Cannot read schema from: $file") }

  /** The schemas of `files`, in order, each equal to [[probeSchema]]'s,
    * read from their footers in one parallel pass on the driver with no
    * Spark job. When a file cannot be stat-ed or a footer cannot be read,
    * the files are probed one by one instead, so the error names the
    * first unreadable file. */
  def probeSchemas(spark: SparkSession, files: Seq[String]): Seq[StructType] =
    probeSchemas(spark, files, files.map(status(spark, _)))

  /** [[probeSchemas]] over `statuses` the caller already took (None for a
    * file that could not be stat-ed), one per file of `files`. */
  private[core] def probeSchemas(
      spark: SparkSession,
      files: Seq[String],
      statuses: Seq[Option[FileStatus]]): Seq[StructType] = {
    val footers =
      if (statuses.exists(_.isEmpty)) None
      else Try(FooterSchemas.read(spark, statuses.flatten)).toOption
    footers.getOrElse(files.map(probeSchema(spark, _)))
  }

  /** The file's status, or None when it cannot be stat-ed (e.g. gone). */
  private[core] def status(spark: SparkSession, file: String): Option[FileStatus] = Try {
    val p = new Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
  }.toOption

  /** The schema a batch is read with: the first schema when all are
    * compatible (positional UNION ALL, main.rs:564-569), otherwise the
    * common columns in the first file's order (main.rs:570-577). */
  def readSchema(schemas: Seq[StructType]): StructType = {
    if (schemas.isEmpty) throw new MergeException("No files in batch")
    if (SchemaAlign.allCompatible(schemas)) schemas.head
    else {
      val common = SchemaAlign.commonColumns(schemas)
      if (common.isEmpty)
        throw new MergeException("No common columns found across all files")
      SchemaAlign.projectedSchema(schemas.head, common)
    }
  }

  /** Aligned UNION ALL over parquet `files` as a lazy DataFrame: one
    * scan of every file under [[readSchema]] of their footers. */
  def alignedUnion(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(readSchema(probeSchemas(spark, files))).parquet(files: _*)

  /** Aligned UNION ALL over already-loaded DataFrames — same alignment
    * as [[alignedUnion]] for in-memory composition: compatible inputs
    * union positionally, drifted ones are projected to the first
    * input's common-column order first. */
  def alignedUnionOf(dfs: Seq[DataFrame]): DataFrame = {
    val schemas = dfs.map(_.schema)
    val aligned = readSchema(schemas)
    if (SchemaAlign.allCompatible(schemas)) dfs.reduce(_ union _)
    else {
      val cols = aligned.fieldNames.toSeq.map(col)
      dfs.map(_.select(cols: _*)).reduce(_ union _)
    }
  }

  /** OUTER-union drift mode — the complement of the reference's
    * intersection semantics: keep the UNION of all columns, padding
    * inputs that lack one with NULL (`unionByName(allowMissingColumns)`
    * — Spark's analog of parquet `mergeSchema`). Data is never dropped;
    * downstream must tolerate nulls. The reference only implements
    * intersection (main.rs:617-642); both modes are offered because a
    * lake ingesting evolving schemas usually wants widening, not
    * silent column loss. */
  def alignedUnionOuter(dfs: Seq[DataFrame]): DataFrame = {
    if (dfs.isEmpty) throw new MergeException("No files in batch")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Write `df` as ONE plain file at `dest` — the reference's output
    * layout (`merged/<name>.parquet` is a file, not a directory):
    * coalesce(1) into a staging dir, then rename the part file.
    * Rename is atomic-cheap on HDFS/local; on object stores prefer
    * `singleFile=false` directory output. */
  def writeSingleFile(
      df: DataFrame,
      dest: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    val spark   = df.sparkSession
    val staging = new Path(dest + ".__staging__")
    val tmp     = new Path(dest + ".__tmp__")
    val old     = new Path(dest + ".__old__")
    val target  = new Path(dest)
    val fs      = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hadoop rename/delete report failure via return value (or throw)
    def moved(from: Path, to: Path) =
      try fs.rename(from, to) catch { case _: java.io.IOException => false }
    // Staging (and the temp sibling) are cleaned up on EVERY exit path.
    // An existing target is renamed aside, not deleted, before the new
    // file moves in, and moved back if that fails: `dest` always holds
    // either the previous output or the new one.
    try {
      df.coalesce(1).write.mode("overwrite").format(format).options(options)
        .save(staging.toString)
      val part = fs.listStatus(staging)
        .map(_.getPath)
        .find(p => p.getName.startsWith("part-"))
        .getOrElse(throw new MergeException(s"No part file written under $staging"))
      if (!fs.mkdirs(target.getParent))
        throw new MergeException(s"Cannot create output directory: ${target.getParent}")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (!moved(part, tmp))
        throw new MergeException(s"Cannot move $part to $tmp")
      val replacing = fs.exists(target)
      if (replacing) {
        if (fs.exists(old)) fs.delete(old, true)
        if (!moved(target, old))
          throw new MergeException(s"Cannot move existing output $dest aside to $old")
      }
      if (!moved(tmp, target)) {
        val kept = replacing && moved(old, target)
        throw new MergeException(s"Cannot move $tmp to $dest" +
          (if (kept) "; the previous output is kept"
           else if (replacing) s"; the previous output is at $old" else ""))
      }
      if (replacing) fs.delete(old, true)
    } finally {
      fs.delete(staging, true)
      fs.delete(tmp, true)
    }
  }

  /** Full merge job: writes the aligned batch `df` (see [[alignedUnion]])
    * to the parquet sink and returns rows written (main.rs:601-613
    * returns the same count), as counted by an `Observation` inside the
    * write's own job. `singleFile = true` produces one plain parquet FILE
    * like the reference; `false` keeps Spark's fully parallel directory
    * output for scale. The CSV export reads the output back under
    * `df`'s schema, so it infers nothing. */
  def merge(
      df: DataFrame,
      outPath: String,
      singleFile: Boolean = true,
      csvPath: Option[String] = None): Long = {
    val spark    = df.sparkSession
    val rows     = Observation()
    val observed = df.observe(rows, count(lit(1)).as("rows"))
    if (singleFile) writeSingleFile(observed, outPath)
    else observed.write.mode("overwrite").parquet(outPath)
    csvPath.foreach(p => writeCsv(spark.read.schema(df.schema).parquet(outPath), p, singleFile))
    // the observed row arrives through the listener bus once the write is done
    Await.result(rows.future, 10.minutes).getAs[Long]("rows")
  }

  /** Small-file compaction — the reference's merge workflow stated as
    * the maintenance operation a 100 TB lake actually runs. Instead of
    * the reference's one-output-file contract (main.rs:603-611, which
    * cannot scale past a single writer), the merged data is rewritten
    * into ~`targetBytes` output files, sized from the inputs' real
    * on-disk footprint:
    *
    *  - file count = ceil(totalInputBytes / targetBytes), so output
    *    sizes track the target regardless of input fragmentation;
    *  - `coalesce` (narrow, no shuffle) when reducing file count —
    *    each output task concatenates whole input splits;
    *  - `repartition` (round-robin shuffle) only when asked to *grow*
    *    the file count, where a shuffle is unavoidable for balance.
    *
    * Returns (rows, outputFiles). */
  def compact(
      spark: SparkSession,
      files: Seq[String],
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val totalBytes = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = alignedUnion(spark, files)
    val sized =
      if (nOut <= df.rdd.getNumPartitions) df.coalesce(nOut)
      else df.repartition(nOut)
    sized.write.mode("overwrite").parquet(outPath)
    val out = spark.read.parquet(outPath)
    val parts = out.inputFiles.length
    (out.count(), parts)
  }

  /** CSV export of a merged parquet (main.rs:693-729): drop `__...__`
    * internal columns (main.rs:689-691, 702-708); header on; NULL -> ""
    * and RFC-4180 quoting are Spark CSV defaults, matching the
    * reference's `escape_csv_field` (main.rs:731-737). Dates/timestamps
    * emit ISO-8601 — a deliberate deviation from the reference's
    * `Some(...)` Debug-format quirk (SURVEY §7.5.1). */
  def exportCsv(
      spark: SparkSession,
      parquetPath: String,
      csvPath: String,
      singleFile: Boolean = true): Unit =
    writeCsv(spark.read.parquet(parquetPath), csvPath, singleFile)

  /** [[exportCsv]] of an already-read merged parquet `df`. */
  private def writeCsv(df: DataFrame, csvPath: String, singleFile: Boolean): Unit = {
    val internal = df.columns.filter(SchemaAlign.isInternalColumn)
    val clean    = df.drop(internal.toIndexedSeq: _*)
    // RFC-4180 quote doubling like the reference's escape_csv_field
    // (Spark's default is backslash-escaping)
    val opts = Map("header" -> "true", "escape" -> "\"")
    if (singleFile) writeSingleFile(clean, csvPath, "csv", opts)
    else clean.write.mode("overwrite").options(opts).csv(csvPath)
  }
}

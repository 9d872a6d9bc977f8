package graft.core

import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** A file's length and modification time, as stat-ed when its batch was
  * built. */
final case class FileStamp(length: Long, modificationTime: Long)

object FileStamp {
  def of(status: FileStatus): FileStamp = FileStamp(status.getLen, status.getModificationTime)
}

/** A planned merge batch (reference `Batch`, main.rs:46-54) and the
  * snapshot [[MergeJobs.buildJob]] took of it: the schema the batch will
  * be read with, decided from every file's footer on the driver, or the
  * probe's error (`readSchema`), and each file's stamp in `files` order
  * (`stamps`; None for a file that could not be stat-ed).
  *
  * The snapshot is the contract [[MergeJobs.runAll]] merges under: it
  * reads the files with `readSchema` without probing them again, so it
  * first re-stats every file and fails the job with "File changed since
  * its batch was built: <path>" when any differs from its stamp (or is
  * gone) — a file rewritten without one of the read columns would
  * otherwise read as NULLs. */
final case class MergeJob(
    name: String,
    files: Seq[ParquetFileRef],
    hasSchemaMismatch: Boolean,
    readSchema: Either[String, StructType],
    stamps: Seq[Option[FileStamp]])

final case class MergeResult(job: MergeJob, rows: Long)

/** Driver-side workflow around [[Merge]] — batch construction, schema
  * probing, and the merge loop with error accumulation
  * (shanytc/parquet-merger `src/main.rs:184-228, 298-404, 408-430`).
  */
object MergeJobs {

  /** W1 `add_batch` (main.rs:184-228): sort files (main.rs:190-191),
    * stat every file once, read all their footers in one parallel pass
    * on the driver with no Spark job ([[Merge.probeSchemas]]), generate a
    * name from the file stems. `hasSchemaMismatch` follows W4
    * `check_schema_mismatch` (main.rs:408-430): fewer than 2 files is
    * never a mismatch; every file is compared against the first; an
    * unreadable footer counts as a mismatch. */
  def buildJob(spark: SparkSession, files: Seq[ParquetFileRef], batchNumber: Int): MergeJob = {
    val sorted = files.sortBy(_.displayPath)
    val paths  = sorted.map(_.fullPath)
    val stems  = sorted.map(f => Naming.stem(Discovery.fileName(f.fullPath)))
    // stat before the footer read, so a rewrite in between shows at merge time
    val statuses = paths.map(Merge.status(spark, _))
    val stamps   = statuses.map(_.map(FileStamp.of))
    val schemas  = Try(Merge.probeSchemas(spark, paths, statuses))
    val mismatch = paths.size >= 2 && schemas.fold(_ => true, s => !SchemaAlign.allCompatible(s))
    val read     = schemas.flatMap(s => Try(Merge.readSchema(s))).toEither.left.map(_.getMessage)
    MergeJob(Naming.generateBatchName(stems, batchNumber), sorted, mismatch, read, stamps)
  }

  /** W3 `merge_batches` loop (main.rs:298-404): outputs land under
    * `outDir/merged/<sanitized-name>.parquet` (dir main.rs:322-329, path
    * main.rs:351-352); each job is tried independently and failures are
    * accumulated, not fatal (main.rs:355-375); a job whose output path
    * an earlier job of the same call already used fails before it
    * writes (two batches can get one name: `sales_2023` and
    * `sales_2024` both become `sales`); when
    * `autoRemoveCompleted` (reference default ON, main.rs:108, 380-385)
    * the returned remaining-job list keeps only the failures. */
  def runAll(
      spark: SparkSession,
      jobs: Seq[MergeJob],
      outDir: String,
      exportCsv: Boolean = false,
      singleFile: Boolean = true,
      autoRemoveCompleted: Boolean = true)
      : (Seq[Either[(MergeJob, String), MergeResult]], Seq[MergeJob]) = {
    val usedDests = scala.collection.mutable.Set.empty[String]
    val outcomes = jobs.map { job =>
      try {
        if (job.files.isEmpty) throw new MergeException(s"No files found for batch: ${job.name}")
        val safe = Naming.sanitizeFilename(job.name)
        val dest = s"$outDir/merged/$safe.parquet"
        if (usedDests.contains(dest))
          throw new MergeException(s"Output name already used in this run: $dest")
        val schema = job.readSchema.fold(e => throw new MergeException(e), identity)
        val paths  = job.files.map(_.fullPath)
        paths.zip(job.stamps).foreach { case (p, s) =>
          if (Merge.status(spark, p).map(FileStamp.of) != s)
            throw new MergeException(s"File changed since its batch was built: $p")
        }
        usedDests += dest
        val csv  = if (exportCsv) Some(s"$outDir/merged/$safe.csv") else None
        val df   = spark.read.schema(schema).parquet(paths: _*)
        Right(MergeResult(job, Merge.merge(df, dest, singleFile, csv)))
      } catch {
        case e: Exception => Left((job, Option(e.getMessage).getOrElse(e.toString)))
      }
    }
    val remaining = if (autoRemoveCompleted) outcomes.collect { case Left((j, _)) => j } else jobs
    (outcomes, remaining)
  }
}

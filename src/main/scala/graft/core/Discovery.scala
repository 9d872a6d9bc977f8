package graft.core

import java.io.FileNotFoundException

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** A discovered parquet file: absolute path plus the path relative to
  * its scan root (reference `ParquetFile`, main.rs:37-43; relativization
  * main.rs:153-160 with file-name fallback). */
final case class ParquetFileRef(fullPath: String, displayPath: String)

/** File discovery + smart batching (shanytc/parquet-merger
  * `src/main.rs:138-182, 237-296`), on the Hadoop FileSystem API so the
  * same code lists local disks, HDFS, or object stores — the driver-side
  * metadata half of the engine (no Spark job is launched here).
  */
object Discovery {

  /** Recursive scan of `roots` for files whose name ends in ".parquet"
    * case-INsensitively (main.rs:151-152). Duplicate roots are dropped
    * (main.rs:118-124); a root that is a file lists itself. Result sorted
    * lexicographically by displayPath (main.rs:172).
    *
    * Each directory is read with `listStatusIterator` and walked here,
    * not with `listFiles(root, recursive = true)`: `listFiles` builds a
    * `LocatedFileStatus` per file, which copies the file's permission,
    * owner and group and looks up its block locations. On the local file
    * system, without native IO, Hadoop forks a shell command per file for
    * the permission (6-9 ms a file on a 4-cpu box), and discovery needs
    * only the path. Spark's own `HadoopFSUtils` leaves the permission and
    * owner null for the same reason. `isDirectory` follows symlinks, so
    * symlinked directories and files are listed like the reference's
    * `WalkDir::follow_links(true)` (main.rs:144-146). */
  def scanFolders(spark: SparkSession, roots: Seq[String]): Seq[ParquetFileRef] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out  = ArrayBuffer.empty[ParquetFileRef]
    // Full URI strings (scheme + authority preserved): hdfs://nn/a/b
    // stays addressable on its own filesystem instead of silently
    // resolving against the default FS downstream. Qualified paths also
    // dedup `/x/a` and `/x/a/` as one root.
    val qualified = roots.map(new Path(_)).map(p => p.getFileSystem(conf).makeQualified(p))
    qualified.distinct.foreach { rootPath =>
      val fs      = rootPath.getFileSystem(conf)
      val rootDir = rootPath.toString
      def visit(st: FileStatus): Unit =
        if (st.isDirectory) {
          val it = fs.listStatusIterator(st.getPath)
          while (it.hasNext) visit(it.next())
        } else if (st.isFile && st.getPath.getName.toLowerCase.endsWith(".parquet")) {
          val full = st.getPath.toString
          out += ParquetFileRef(full, relativize(rootDir, full, st.getPath.getName))
        }
      val root = try Some(fs.getFileStatus(rootPath)) catch { case _: FileNotFoundException => None }
      root.foreach(visit)
    }
    out.sortBy(_.displayPath).toSeq
  }

  private def relativize(rootDir: String, full: String, fileName: String): String = {
    val prefix = if (rootDir.endsWith("/")) rootDir else rootDir + "/"
    if (full.startsWith(prefix)) full.substring(prefix.length) else fileName
  }

  /** Smart batch (main.rs:237-296): group files by exact file name —
    * case-SENSITIVE, path ignored (main.rs:248-254); only groups with
    * more than one file become batches (main.rs:261-262); batch name is
    * the file stem (main.rs:272-275). Returns (batches sorted by name,
    * singleton count). Sorting the groups is a deliberate deviation: the
    * reference iterates a HashMap, so its batch order is nondeterministic
    * (SURVEY §7.5.4). */
  def smartBatch(files: Seq[ParquetFileRef]): (Seq[(String, Seq[ParquetFileRef])], Int) = {
    val groups = files.groupBy(f => fileName(f.fullPath))
    val multi = groups.iterator
      .filter(_._2.size > 1)
      .map { case (fname, fs) => (Naming.stem(fname), fs) }
      .toSeq
      .sortBy(_._1)
    (multi, groups.count(_._2.size == 1))
  }

  /** P4 file-list search (main.rs:1035-1044): case-insensitive
    * substring match against displayPath; empty query keeps all. */
  def filterFiles(files: Seq[ParquetFileRef], query: String): Seq[ParquetFileRef] =
    if (query.isEmpty) files
    else {
      // Locale.ROOT: default-locale lowercasing breaks under tr_TR (I->ı)
      val q = query.toLowerCase(java.util.Locale.ROOT)
      files.filter(_.displayPath.toLowerCase(java.util.Locale.ROOT).contains(q))
    }

  def fileName(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i >= 0) path.substring(i + 1) else path
  }
}

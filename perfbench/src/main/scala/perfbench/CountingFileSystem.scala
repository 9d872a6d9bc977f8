package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}

/** The local file system with counters, installed as `fs.file.impl` in
  * traced runs only: Hadoop's own statistics count bytes read on the
  * local file system but no read operations. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.opens.incrementAndGet()
    if (f.getName.endsWith(".parquet")) FsCounters.parquetOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.metadata.incrementAndGet()
    super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.metadata.incrementAndGet()
    super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.metadata.incrementAndGet()
    super.listLocatedStatus(f)
  }
}

object FsCounters {
  val opens        = new AtomicLong
  val parquetOpens = new AtomicLong
  val metadata     = new AtomicLong
}

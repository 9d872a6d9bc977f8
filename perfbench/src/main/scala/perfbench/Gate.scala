package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._

import graft.core.{MergeJob, MergeResult, Naming}

/** Correctness checks. A content hash is order-independent: the sum of
  * per-row 64-bit hashes, kept as two sums of 32-bit halves so that no
  * sum overflows, plus the row count. */
object Gate {

  private def render(n: Long, lo: Long, hi: Long): String = f"$n%d:$lo%x:$hi%x"

  /** Content hash of `df` through Spark's `xxhash64` over its columns in
    * the given order. Used for fixture manifests and merged outputs. */
  def contentHash(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    (r.getLong(0), render(r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  /** Forces every output column of `df` through `queryExecution.toRdd`
    * and hashes the rows on the way (one execution, no second pass).
    * Returns (rows, hash). */
  def forceAndHash(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, lo, hi) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, lo, hi = 0L
      it.foreach { r =>
        val u = proj(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        lo += h & 0xffffffffL
        hi += h >>> 32
        n += 1
      }
      Iterator((n, lo, hi))
    }.fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    (n, render(n, lo, hi))
  }

  /** Checks one merge pass against the manifest. Returns one failure
    * message per bad batch (empty when everything holds). */
  def checkMerge(
      spark: org.apache.spark.sql.SparkSession,
      fx: MergeFixture,
      outcomes: Seq[Either[(MergeJob, String), MergeResult]],
      outRoot: File): Seq[String] = {
    val merged = new File(outRoot, "merged")
    val failures = Seq.newBuilder[String]
    val expectedNames = Seq.newBuilder[String]
    val byFile = outcomes.map {
      case Right(r)     => graft.core.Discovery.fileName(r.job.files.head.fullPath) -> Right(r)
      case Left((j, m)) => graft.core.Discovery.fileName(j.files.head.fullPath) -> Left(m)
    }.toMap
    if (byFile.size != outcomes.size || outcomes.size != fx.batches.size)
      failures += s"expected ${fx.batches.size} batches, got ${outcomes.size}"
    fx.batches.foreach { b =>
      byFile.get(b.fileName) match {
        case None              => failures += s"${b.fileName}: no batch"
        case Some(Left(m))     => failures += s"${b.fileName}: merge failed: $m"
        case Some(Right(res))  =>
          val safe    = Naming.sanitizeFilename(res.job.name)
          val parquet = new File(merged, s"$safe.parquet")
          expectedNames += parquet.getName
          val csv     = new File(merged, s"$safe.csv")
          expectedNames += csv.getName
          val problems =
            try checkBatch(spark, b, res.rows, parquet, csv)
            catch { case e: Exception => Seq(s"unreadable output: ${e.getMessage}") }
          problems.foreach(p => failures += s"${b.fileName}: $p")
      }
    }
    // one plain file per batch (plus its CSV), no staging leftovers
    val present = Option(merged.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(f => f.getName.startsWith(".") && f.getName.endsWith(".crc"))
    val extra = present.map(_.getName).toSet -- expectedNames.result()
    if (extra.nonEmpty) failures += s"unexpected entries in merged/: ${extra.toSeq.sorted.mkString(", ")}"
    present.filterNot(_.isFile).foreach(d => failures += s"not a plain file: ${d.getName}")
    failures.result()
  }

  def checkBatch(
      spark: org.apache.spark.sql.SparkSession,
      b: ExpectedBatch,
      reportedRows: Long,
      parquet: File,
      csv: File): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (!parquet.isFile) return Seq(s"missing output file ${parquet.getName}")
    if (reportedRows != b.rows) out += s"runAll reported $reportedRows rows, expected ${b.rows}"
    val df = spark.read.parquet(parquet.getPath)
    if (df.columns.toSeq != b.columns)
      out += s"columns ${df.columns.mkString(",")} != expected ${b.columns.mkString(",")}"
    else {
      val (n, hash) = contentHash(df)
      if (n != b.rows) out += s"$n rows written, expected ${b.rows}"
      if (hash != b.hash) out += s"content hash $hash != expected ${b.hash}"
    }
    if (!csv.isFile) out += s"missing CSV ${csv.getName}"
    else {
      val (header, lines) = csvShape(csv)
      if (header != b.columns.mkString(",")) out += s"CSV header '$header' is wrong"
      if (lines - 1 != b.rows) out += s"CSV has ${lines - 1} data rows, expected ${b.rows}"
    }
    out.result()
  }

  /** (first line, number of lines) of a CSV file without quoted newlines. */
  def csvShape(f: File): (String, Long) = {
    val in = new java.io.BufferedInputStream(Files.newInputStream(f.toPath), 1 << 20)
    try {
      val first = new StringBuilder
      var inFirst = true
      var lines = 0L
      var last = -1
      val buf = new Array[Byte](1 << 20)
      var k = in.read(buf)
      while (k > 0) {
        var i = 0
        while (i < k) {
          val c = buf(i)
          if (c == '\n') { lines += 1; inFirst = false }
          else if (inFirst && c != '\r') first.append(c.toChar)
          last = c
          i += 1
        }
        k = in.read(buf)
      }
      if (last != -1 && last != '\n') lines += 1
      (first.toString, lines)
    } finally in.close()
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.core.{Discovery, Merge, MergeException, MergeJobs, ParquetFileRef, Scratch, Session}
import graft.streaming.EventStream

/** End-to-end smoke driver for the merge pipeline surface: generates
  * fixture folders in one scratch dir (removed when the JVM exits), then
  * exercises discovery → smart batch → schema probe → merge → CSV
  * export, plus the error paths (disjoint schemas, unreadable file). Run:
  *   sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    import spark.implicits._

    val root = Scratch.fixture("smoke_root")(identity)
    println(s"[smoke] fixtures under $root")
    val events = Paths.get("/root/testdata/sf0.001/events.parquet")

    // The reference merges plain single parquet FILES, so fixtures must
    // be files, not Spark's part-file directories.
    def writeSingle(df: DataFrame, dest: String): Unit =
      Merge.writeSingleFile(df, dest)

    // B1 identical schemas: a/daily.parquet + b/daily.parquet
    writeSingle(Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "score"), s"$root/a/daily.parquet")
    writeSingle(Seq((3L, "z", 3.5)).toDF("id", "name", "score"), s"$root/b/daily.parquet")
    // B2 drift: extra columns differ, order differs
    writeSingle(Seq((1L, "p", 7)).toDF("id", "name", "extra1"), s"$root/a/drift.parquet")
    writeSingle(Seq((9.9, 2L, "q")).toDF("extra2", "id", "name"), s"$root/b/drift.parquet")
    // B5 pandas-style internal column
    writeSingle(Seq((0L, 1L, "k")).toDF("__index_level_0__", "id", "name"), s"$root/a/indexed.parquet")
    // B3b disjoint schemas
    writeSingle(Seq(Tuple1(1L)).toDF("a"), s"$root/a/disjoint.parquet")
    writeSingle(Seq(Tuple1(2L)).toDF("b"), s"$root/b/disjoint.parquet")
    // B9 unreadable: not a parquet file
    Files.write(Paths.get(s"$root/a/bad.parquet"), "not parquet".getBytes)

    // 1. discovery (case-insensitive ext, recursive, sorted display path)
    val files = Discovery.scanFolders(spark, Seq(s"$root/a", s"$root/b"))
    println(s"[smoke] discovered ${files.size} parquet paths:")
    files.foreach(f => println(s"  ${f.displayPath}"))

    // 1b. file-list search (P4): case-insensitive substring
    println(s"[smoke] search 'DAILY' -> ${Discovery.filterFiles(files, "DAILY").map(_.displayPath).mkString(", ")}")

    // 2. smart batch (group by file name across folders)
    val (groups, singles) = Discovery.smartBatch(files)
    println(s"[smoke] smart-batch: ${groups.map(_._1).mkString(", ")} (+$singles singletons)")

    // 3. build + run merge jobs, with CSV export
    val jobs = groups.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    jobs.foreach(j => println(s"[smoke] job '${j.name}' files=${j.files.size} mismatch=${j.hasSchemaMismatch}"))
    val out = s"$root/out"
    val (outcomes, remaining) = MergeJobs.runAll(spark, jobs, out, exportCsv = true)
    outcomes.foreach {
      case Right(r)          => println(s"[smoke] merged '${r.job.name}' -> ${r.rows} rows")
      case Left((job, err))  => println(s"[smoke] FAILED '${job.name}': $err")
    }
    println(s"[smoke] remaining after auto-remove: ${remaining.map(_.name).mkString(", ")}")

    // 4. inspect merged daily + its CSV (internal column drop check)
    val daily = spark.read.parquet(s"$out/merged/daily.parquet")
    println(s"[smoke] merged daily: ${daily.count()} rows, cols=${daily.columns.mkString(",")}")
    val indexedCsv = spark.read.option("header", "true").csv(s"$out/merged/drift.csv")
    println(s"[smoke] drift csv cols=${indexedCsv.columns.mkString(",")} rows=${indexedCsv.count()}")

    // 5. error paths
    try { Merge.alignedUnion(spark, Seq(s"$root/a/disjoint.parquet", s"$root/b/disjoint.parquet")); println("[smoke] ERROR: disjoint did not fail") }
    catch { case e: MergeException => println(s"[smoke] disjoint error ok: ${e.getMessage}") }
    try { Merge.probeSchema(spark, s"$root/a/bad.parquet"); println("[smoke] ERROR: bad file did not fail") }
    catch { case e: MergeException => println(s"[smoke] unreadable error ok: ${e.getMessage}") }
    val badPair = Seq(s"$root/a/bad.parquet", s"$root/a/daily.parquet")
    val badJob  = MergeJobs.buildJob(spark, badPair.map(p => ParquetFileRef(p, Discovery.fileName(p))), 1)
    println(s"[smoke] mismatch probe on bad file: ${badJob.hasSchemaMismatch}")

    // 6. internal column kept in parquet merge, dropped in CSV
    Merge.merge(Merge.alignedUnion(spark, Seq(s"$root/a/indexed.parquet")), s"$out/merged/indexed.parquet",
      csvPath = Some(s"$out/merged/indexed.csv"))
    val mergedIdx = spark.read.parquet(s"$out/merged/indexed.parquet")
    val csvIdx = spark.read.option("header", "true").csv(s"$out/merged/indexed.csv")
    println(s"[smoke] indexed parquet cols=${mergedIdx.columns.sorted.mkString(",")}")
    println(s"[smoke] indexed csv cols=${csvIdx.columns.sorted.mkString(",")}")

    // 7. flagship entry
    val e = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${e.count()}")
    e.show(5, truncate = false)

    // 8. streaming surface: windowed agg + stateful sessionization over
    // the events table staged as a file-source directory
    val streamDir = Files.createDirectory(Paths.get(root, "stream"))
    Files.copy(events, streamDir.resolve("events.parquet"))
    // runs `ds` into the memory table `table` until its input is drained
    def drain(ds: Dataset[_], table: String): Long = {
      val q = ds.writeStream.outputMode("append").format("memory").queryName(table).start()
      q.processAllAvailable(); q.stop()
      spark.table(table).count()
    }
    val src = EventStream.readEvents(spark, streamDir.toString)
    val hourly = drain(EventStream.hourlyCounts(src), "smoke_hourly")
    println(s"[smoke] streaming hourly windows emitted: $hourly")
    val sessions = drain(EventStream.sessionize(src, gapMinutes = 30), "smoke_sessions")
    println(s"[smoke] streaming sessions closed: $sessions")
    spark.table("smoke_sessions").show(3, truncate = false)
    Files.copy(events, streamDir.resolve("events_copy.parquet"))
    val kept = drain(EventStream.dedupStream(
      EventStream.readEvents(spark, streamDir.toString), Seq("event_id")), "smoke_dedup")
    val attributed = drain(EventStream.clickToPurchase(
      EventStream.readEvents(spark, streamDir.toString), windowMinutes = 60), "smoke_attr")
    println(s"[smoke] streaming click->purchase attributions: $attributed")
    println(s"[smoke] streaming dedup kept: $kept of " +
      s"${2 * spark.read.parquet(events.toString).count()} duplicated events")

    // 9. persisted IVF index: cluster-partitioned write + pruned probes
    import org.apache.spark.sql.functions.{col, broadcast}
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val ivfPath = s"$root/ivf_index"
    graft.ops.VectorOps.writeIvfIndex(vecs, cents, ivfPath)
    val cells = new java.io.File(ivfPath).listFiles().count(_.getName.startsWith("cid="))
    val probes = graft.ops.VectorOps.assignClusters(vecs, cents)
      .filter(col("vec_id").between(100, 102))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))
    val nn = graft.ops.VectorOps.probeIvfIndex(spark, ivfPath, probes, k = 3)
    println(s"[smoke] ivf index cells=$cells probe results=${nn.count()}")
    nn.show(3, truncate = false)

    // 10. compaction: many small files -> target-sized files
    {
      val files = (0 until 6).map { i =>
        val dst = s"$root/compact_in/f$i.parquet"
        writeSingle((0 until 200).map(r => i.toLong * 1000 + r).toDF("id"), dst)
        dst
      }
      val bytes = files.map(f => new java.io.File(f).length()).sum
      val (rows, nOut) = graft.core.Merge.compact(
        spark, files, s"$root/compacted", bytes / 2)
      println(s"[smoke] compacted 6 files -> $nOut files, $rows rows")
    }

    // 11. continuous merge: checkpointed exactly-once folder ingest
    {
      val inDir = Files.createDirectory(Paths.get(root, "cm_in"))
      Files.copy(events, inDir.resolve("events.parquet"))
      val schema = graft.core.Merge.probeSchema(
        spark, inDir.resolve("events.parquet").toString)
      val q = graft.streaming.MergeStream.continuousMerge(
        spark, inDir.toString, s"$root/cm_out", s"$root/cm_ckpt", schema)
      q.awaitTermination()
      println(s"[smoke] continuous merge ingested rows=" +
        spark.read.parquet(s"$root/cm_out").count())
    }

    // 12. Z-order clustered layout: bounded per-file key rectangles
    {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val zdir = s"$root/zorder"
      graft.ops.Layout.zorderWrite(li,
        graft.ops.Layout.zvalue(col("l_partkey"), col("l_suppkey") * 16, 8), zdir, 8)
      import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
      val touched = spark.read.parquet(zdir)
        .groupBy(input_file_name().as("f"))
        .agg(fmin(col("l_suppkey")).as("mn"), fmax(col("l_suppkey")).as("mx"))
        .where(col("mn") <= 1 && col("mx") >= 0).count()
      println(s"[smoke] zorder layout: suppkey<=1 intersects $touched of 8 files")
    }

    // 13. streaming keyed upsert (CDC apply)
    {
      val in = s"$root/ups_in"
      val table = s"$root/ups_table"
      val base = (1L to 20L).map(i => (i, 0L, s"v$i")).toDF("id", "version", "payload")
      graft.ops.Upsert.writeBucketed(base, table, "id", nBuckets = 4)
      writeSingle(Seq((5L, 1L, "updated"), (21L, 1L, "inserted"))
        .toDF("id", "version", "payload"), s"$in/c1.parquet")
      val schema = graft.core.Merge.probeSchema(spark, s"$in/c1.parquet")
      val q = graft.streaming.MergeStream.upsertStream(
        spark, in, schema, table, "id", "version", 4, s"$root/ups_ckpt")
      q.awaitTermination()
      println(s"[smoke] streaming upsert: table now ${spark.read.parquet(table).count()} rows")
    }

    spark.stop()
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a pure function of
  * (seed, salt, row id) through `xxhash64`, so one seed gives the same
  * rows whatever the partitioning, and the same bytes on disk. Schemas
  * and value domains follow the TPC-H-ish tables the registry queries
  * were written against (FIXTURES.md, family A). */
object Gen {
  private def h(seed: Long, salt: Int, id: Column): Column = xxhash64(lit(seed), lit(salt), id)

  /** Uniform long in [0, n). */
  def u(seed: Long, salt: Int, id: Column, n: Long): Column = pmod(h(seed, salt, id), lit(n))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, salt: Int, id: Column): Column =
    u(seed, salt, id, 1L << 30).cast("double") / lit((1L << 30).toDouble)

  def pick(seed: Long, salt: Int, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(seed, salt, id, values.size.toLong) + 1).cast("int"))

  def money(seed: Long, salt: Int, id: Column, lo: Long, hi: Long): Column =
    ((u(seed, salt, id, (hi - lo) * 100) + lit(lo * 100)).cast("double") / 100.0)

  /** Midnight timestamps (no zone) from `start` plus [0, days) days. */
  def day(seed: Long, salt: Int, id: Column, start: String, days: Long): Column =
    date_add(to_date(lit(start)), u(seed, salt, id, days).cast("int")).cast("timestamp_ntz")

  private val id = col("id")

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 11, id, 25).cast("int").as("c_nationkey"),
      (money(seed, 12, id, 0, 10999) - 999.0).as("c_acctbal"),
      pick(seed, 13, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))

  def supplier(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(seed, 21, id, 25).cast("int").as("s_nationkey"),
      (money(seed, 22, id, 0, 10999) - 999.0).as("s_acctbal"))

  def part(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val adj  = Seq("small", "red", "blue", "hot", "cold", "green", "large", "shiny")
    val noun = Seq("ring", "widget", "bolt", "gear", "spring", "valve", "nut", "pipe")
    spark.range(n).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, 31, id, adj), pick(seed, 32, id, noun)).as("p_name"),
      concat(lit("Brand#"), (u(seed, 33, id, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 34, id, Seq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO")).as("p_type"),
      (u(seed, 35, id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10.0).as("p_retailprice"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(id.as("o_orderkey"),
      u(seed, 41, id, customers).as("o_custkey"),
      pick(seed, 42, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 43, id, 1000, 500000).as("o_totalprice"),
      day(seed, 44, id, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, 45, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** `lineitem` over row ids `ids` (a column of longs). */
  def lineitemOf(df: DataFrame, seed: Long, orders: Long, parts: Long, suppliers: Long): DataFrame = {
    val q = (u(seed, 55, id, 50) + 1).cast("double")
    df.select(col("*"),
      u(seed, 51, id, orders).as("l_orderkey"),
      u(seed, 52, id, parts).as("l_partkey"),
      u(seed, 53, id, suppliers).as("l_suppkey"),
      (u(seed, 54, id, 7) + 1).cast("int").as("l_linenumber"),
      q.as("l_quantity"),
      round(q * (lit(900.0) + u(seed, 56, id, 110000).cast("double") / 100.0) / 50.0 * 50.0, 2)
        .as("l_extendedprice"),
      (u(seed, 57, id, 11).cast("double") / 100.0).as("l_discount"),
      (u(seed, 58, id, 9).cast("double") / 100.0).as("l_tax"),
      pick(seed, 59, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 60, id, Seq("F", "O")).as("l_linestatus"),
      day(seed, 61, id, "1995-01-02", 2499).as("l_shipdate"))
  }

  val lineitemColumns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long, parts: Long, suppliers: Long)
      : DataFrame =
    lineitemOf(spark.range(n).toDF(), seed, orders, parts, suppliers).select(lineitemColumns.map(col): _*)

  def events(spark: SparkSession, seed: Long, n: Long, users: Long): DataFrame = {
    // ~26 s mean gap from 2024-01-01; monotone in event_id with jitter
    val micros = id * lit(25920000L) + u(seed, 71, id, 25000000L)
    spark.range(n).select(id.as("event_id"),
      (lit(java.time.LocalDateTime.parse("2024-01-01T00:00:00")) +
        make_dt_interval(lit(0), lit(0), lit(0), micros.cast("decimal(18,6)") / 1000000)).as("ts"),
      u(seed, 72, id, users).as("user_id"),
      pick(seed, 73, id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round((lit(1.0) - sqrt(unit(seed, 74, id))) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", u(seed, 75, id, 100)).as("props"))
  }

  private val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "a", "the", "batch", "window", "spark", "order", "data", "column", "join", "small",
    "line", "customer", "query", "merge", "big", "filter", "sort", "index", "file", "stream")

  /** Row id whose content row `id` copies: itself, or for about one row
    * in `every`, one of the 20 rows before it. */
  private def source(seed: Long, salt: Int, every: Long): Column =
    when(u(seed, salt, id, every) === 0, greatest(lit(0L), id - lit(1L) - u(seed, salt + 1, id, 20)))
      .otherwise(id)

  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    // about one document in ten repeats an earlier one's text
    val sid  = source(seed, 84, 10)
    val text = concat_ws(" ", transform(sequence(lit(0), (u(seed, 81, sid, 90) + 8).cast("int")),
      j => element_at(array(words.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(82), sid, j), lit(words.size.toLong)) + 1).cast("int"))))
    spark.range(n).select(id.as("doc_id"), text.as("text"),
      pick(seed, 83, id, Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    // 64 approximately normal components (sum of 4 uniforms), unit-normalised;
    // about one vector in twenty is an exact copy of an earlier one (the
    // sign-LSH near-duplicate query is exact for exact copies only)
    val sid = source(seed, 97, 20)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      Seq(0, 1, 2, 3).map(k => pmod(xxhash64(lit(seed), lit(91 + k), sid, j), lit(1L << 20))
        .cast("double") / (1L << 20).toDouble).reduce(_ + _) - 2.0)
    spark.range(n).select(id.as("vec_id"), raw.as("raw"), u(seed, 96, id, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label"))
  }

  /** Write `df` as ONE plain parquet file at `dest` (not a part-file
    * directory): single task into a staging dir, then move the part. */
  def writeSingle(df: DataFrame, dest: File): Unit = {
    val staging = new File(dest.getPath + ".staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val part = staging.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $staging"))
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    IO.deleteTree(staging)
  }

  /** Write `df` (which carries an int `fid` column) as one plain parquet
    * file per fid, at `path(fid)`, rows sorted by `order` within a file. */
  def writeSplit(df: DataFrame, files: Int, order: Column, stage: File, path: Int => File): Unit = {
    df.repartition(math.min(files, 64), col("fid"))
      .sortWithinPartitions(col("fid"), order)
      .drop("__order")
      .write.mode("overwrite").partitionBy("fid").parquet(stage.getPath)
    stage.listFiles().filter(_.getName.startsWith("fid=")).foreach { d =>
      val fid   = d.getName.stripPrefix("fid=").toInt
      val parts = d.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"expected one part file under $d, found ${parts.length}")
      val dest = path(fid)
      dest.getParentFile.mkdirs()
      Files.move(parts.head.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    IO.deleteTree(stage)
  }
}

/** Expected outcome of one merge batch, as the gate checks it. */
final case class ExpectedBatch(fileName: String, rows: Long, hash: String, columns: Seq[String])

/** A generated merge input tree plus its manifest. */
final case class MergeFixture(root: String, batches: Seq[ExpectedBatch], inputRows: Long,
    inputBytes: Long, files: Int)

object MergeFixtures {

  /** Sizes of a merge fixture: many small same-named files in nested
    * folders, one fast-path batch (lineitem) and one drifted batch
    * (orders). */
  final case class Shape(lineitemFiles: Int, lineitemRows: Long, ordersFiles: Int, ordersRows: Long)

  /** merge_many_files: ~2000 rows per lineitem file, ~1000 per orders
    * file, so that per-file driver work dominates the row work. */
  val manyFiles: Shape = Shape(lineitemFiles = 15, lineitemRows = 30000, ordersFiles = 9, ordersRows = 9000)

  /** Orders column set per file variant: 0 unchanged, 1 o_orderpriority
    * dropped, 2 an extra column, 3 o_custkey stored as int32. */
  private def ordersVariant(df: DataFrame, v: Int): DataFrame = v match {
    case 0 => df
    case 1 => df.drop("o_orderpriority")
    case 2 => df.withColumn("o_comment", concat(lit("note-"), col("o_orderkey").cast("string")))
    case 3 => df.withColumn("o_custkey", col("o_custkey").cast("int"))
  }

  /** The merge fixture for `seed`, generated under `dir` on first use and
    * reused afterwards; the manifest is computed once. */
  def load(spark: SparkSession, shape: Shape, seed: Long, dir: File): MergeFixture = {
    val manifest = new File(dir, "manifest.json")
    if (!manifest.isFile) {
      IO.deleteTree(dir)
      val building = new File(dir.getPath + ".building")
      IO.deleteTree(building)
      generate(spark, shape, seed, building)
      Files.move(building.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    read(manifest, dir)
  }

  /** Writes the inputs under `dir/input` and the manifest at `dir/manifest.json`. */
  def generate(spark: SparkSession, s: Shape, seed: Long, dir: File): Unit = {
    val input   = new File(dir, "input")
    val stage   = new File(dir, "stage")
    val batches = Seq.newBuilder[ExpectedBatch]
    val rows = spark.range(s.lineitemRows).toDF()
      .withColumn("fid", pmod(col("id") + lit(seed), lit(s.lineitemFiles.toLong)).cast("int"))
      .withColumn("__order", xxhash64(lit(seed), lit(1), col("id")))
    val li = Gen.lineitemOf(rows, seed, s.lineitemRows / 4, 20000, 1000)
      .select((Seq("fid", "__order") ++ Gen.lineitemColumns).map(col): _*)
    Gen.writeSplit(li, s.lineitemFiles, col("__order"), new File(stage, "li"),
      f => new File(input, f"lineitem/g${f % 8}%d/f$f%04d/lineitem.parquet"))
    val (liRows, liHash) = Gate.contentHash(li.select(Gen.lineitemColumns.map(col): _*))
    batches += ExpectedBatch("lineitem.parquet", liRows, liHash, Gen.lineitemColumns)
    val base = Gen.orders(spark, seed, s.ordersRows, 15000)
      .withColumn("fid", pmod(col("o_orderkey") + lit(seed), lit(s.ordersFiles.toLong)).cast("int"))
      .withColumn("__order", xxhash64(lit(seed), lit(2), col("o_orderkey")))
    // The same mix for every seed (each variant at least once, so the
    // batch always drifts); the seed only places it. A seeded mix made the
    // pass time differ by ~10% between seeds with the variant they favoured.
    val variantOf = new scala.util.Random(seed).shuffle((0 until s.ordersFiles).map(_ % 4))
    (0 until 4).foreach { v =>
      val fids = variantOf.zipWithIndex.collect { case (`v`, f) => f }
      Gen.writeSplit(ordersVariant(base.filter(col("fid").isin(fids: _*)), v), s.ordersFiles,
        col("__order"), new File(stage, s"o$v"),
        f => new File(input, f"orders/g${f % 4}%d/f$f%04d/orders.parquet"))
    }
    val common = base.columns.filterNot(Set("fid", "__order", "o_orderpriority", "o_custkey"))
    val (oRows, oHash) = Gate.contentHash(base.select(common.map(col).toIndexedSeq: _*))
    batches += ExpectedBatch("orders.parquet", oRows, oHash, common.toIndexedSeq)
    val parquet = IO.listFiles(input).filter(_.getName.endsWith(".parquet"))
    val m = new ObjectMapper().createObjectNode()
    m.put("seed", seed)
    m.put("files", parquet.size)
    m.put("input_rows", batches.result().map(_.rows).sum)
    m.put("input_bytes", parquet.map(_.length).sum)
    val arr = m.putArray("batches")
    batches.result().foreach { b =>
      val o = arr.addObject()
      o.put("file_name", b.fileName); o.put("rows", b.rows); o.put("hash", b.hash)
      val cs = o.putArray("columns"); b.columns.foreach(cs.add)
    }
    // Hadoop's local FS leaves .crc siblings; the tree holds parquet only
    IO.listFiles(input).filter(_.getName.endsWith(".crc")).foreach(_.delete())
    IO.deleteTree(stage)
    Files.writeString(new File(dir, "manifest.json").toPath,
      new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(m))
  }

  def read(manifest: File, dir: File): MergeFixture = {
    val m = new ObjectMapper().readTree(manifest)
    val batches = m.get("batches").elements().asScala.map { b =>
      ExpectedBatch(b.get("file_name").asText, b.get("rows").asLong, b.get("hash").asText,
        b.get("columns").elements().asScala.map(_.asText).toSeq)
    }.toSeq
    MergeFixture(new File(dir, "input").getAbsolutePath, batches, m.get("input_rows").asLong,
      m.get("input_bytes").asLong, m.get("files").asInt)
  }
}

/** The fixed tables the registry queries read (one plain parquet file
  * per table, as the queries expect). Fixed seed: the registry workload's
  * seed only permutes query order, so the frozen result hashes hold. */
object RegistryFixtures {
  val Seed = 42L
  /** Row counts at one tenth of the TPC-H-ish sf0.1 layout. */
  val version = "v3-sf0.01"

  def load(spark: SparkSession, dir: File): String = {
    val done = new File(dir, "_DONE")
    if (!done.isFile) {
      IO.deleteTree(dir)
      val building = new File(dir.getPath + ".building")
      IO.deleteTree(building)
      generate(spark, building)
      Files.writeString(new File(building, "_DONE").toPath, version)
      Files.move(building.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.getAbsolutePath
  }

  def generate(spark: SparkSession, dir: File): Unit = {
    val s = Seed
    val tables: Seq[(String, DataFrame)] = Seq(
      "region"     -> Gen.region(spark),
      "nation"     -> Gen.nation(spark),
      "customer"   -> Gen.customer(spark, s, 1500),
      "supplier"   -> Gen.supplier(spark, s, 100),
      "part"       -> Gen.part(spark, s, 2000),
      "orders"     -> Gen.orders(spark, s, 15000, 1500),
      "lineitem"   -> Gen.lineitem(spark, s, 60000, 15000, 2000, 100),
      "events"     -> Gen.events(spark, s, 10000, 150),
      "documents"  -> Gen.documents(spark, s, 500),
      "embeddings" -> Gen.embeddings(spark, s, 500))
    tables.foreach { case (name, df) => Gen.writeSingle(df, new File(dir, s"$name.parquet")) }
    IO.listFiles(dir).filter(_.getName.endsWith(".crc")).foreach(_.delete())
  }
}

object IO {
  def deleteTree(f: File): Unit = if (f.exists()) {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def listFiles(root: File): Seq[File] =
    if (!root.exists()) Nil
    else {
      val s = Files.walk(root.toPath)
      try s.iterator().asScala.map(_.toFile).filter(_.isFile).toSeq.sortBy(_.getPath)
      finally s.close()
    }
}

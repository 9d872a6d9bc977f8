package graft.core

import org.apache.spark.sql.SparkSession

/** What a graft session is. Every oracle hash depends on two settings:
  * the UTC session zone, in which `Tables.normalizeTs` reinterprets
  * TIMESTAMP_NTZ, and parquet TIMESTAMP(NANOS) read as a nanos Long. */
object Session {

  /** A `local[cores]` session with the contract settings, one shuffle
    * partition per core, no UI and log level WARN. `extra` adds
    * deployment settings, such as an app name or a warehouse dir. */
  def local(cores: Int, extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fails unless `spark` still holds the contract settings of [[local]]. */
  def requireContract(spark: SparkSession): Unit = {
    val tz = spark.conf.getOption("spark.sql.session.timeZone")
    val nanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    require(tz.contains("UTC") && nanos.contains("true"),
      s"session breaks the oracle contract: timeZone=${tz.orNull} (needs UTC), " +
        s"legacy.parquet.nanosAsLong=${nanos.orNull} (needs true)")
  }

  /** Cores to run on: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), 4)

  /** Saturating every core with task threads starves the JVM's JIT
    * compiler threads: whole queries then run interpreted, showing up
    * as random 5-15x per-query spikes run-to-run. Leave 2 cores of
    * headroom for JIT/GC once the box is big enough to afford it. */
  def withJitHeadroom(cpus: Int): Int = if (cpus >= 16) cpus - 2 else cpus

  /** The launch setting `variable` (value `raw`) as a positive integer,
    * `default` when unset; any other value fails, naming the variable. */
  def positiveInt(variable: String, raw: Option[String], default: Int): Int =
    raw.fold(default)(s => s.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"$variable must be a positive integer, got '$s'")))
}

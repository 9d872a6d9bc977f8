package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operation: a Spark implementation plus, when the
  * semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle query
  * over the same parquet tables (driver contract, SURVEY §5.2). Output
  * column names MUST match between `fn` and `oracle` — the driver sorts
  * columns by name before hashing. Ops whose semantics SQL cannot express
  * (LSH internals, file-sink pipelines) leave `oracle` empty and get the
  * driver's weaker rows-only check.
  *
  * `fn` is allowed to be EAGER: queries built on the two-phase selectors
  * (PrefixSum, GridQuantile.rankKeys*) execute bounded driver-side jobs
  * (checkpoint, stats, O(buckets|ranks) collects) while CONSTRUCTING the
  * returned DataFrame — callers must not assume `fn` is free until an
  * action. Such queries short-circuit to an empty frame on empty input
  * rather than throwing (the byLongKey pattern). */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object Tables {
  /** Read one driver testdata table under the given scale-factor dir. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Smallest Long accepted as a NANOSECONDS timestamp: 1e16 ns ≈
    * 1970-04-26. Any modern date in micros (~2e15 for 2033) or millis
    * sits BELOW it, so a mis-encoded column trips the guard on its
    * first row instead of silently shifting 1000×. */
  private val MinPlausibleNanos = 10000000000000000L

  /** Normalize a physical event-time column to TIMESTAMP (LTZ), the type
    * every downstream op (unix_micros, watermarks, window()) was written
    * against, regardless of how the file encodes it:
    *  - TIMESTAMP(NANOS) surfaced as a nanos Long (legacy nanosAsLong
    *    reader): integer-truncate to micros — exactly DuckDB's ns→µs cast.
    *    CONTRACT: a LongType `c` is always NANOSECONDS; enforced per row
    *    with a magnitude guard (`assert_true(c >= 1e16)`) so a source
    *    holding micros- or millis-as-INT64 fails LOUDLY at read time
    *    instead of silently shifting 1000×. Such a source must convert
    *    to nanos (or to a proper timestamp type) before calling this.
    *    Pre-1970-04-26 nanos also trip the guard — out of contract for
    *    event data by design;
    *  - TIMESTAMP_NTZ (micros, no zone): reinterpret in the session zone
    *    — only oracle-exact when the session zone is UTC (the same
    *    wall-clock DuckDB reads). `graft.core.Session` sets that pin;
    *    a frame from any other session is checked here;
    *  - TIMESTAMP: already canonical. */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, col, concat, expr, lit, timestamp_micros, when}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType         =>
        val guard = assert_true(
          col(c).isNull || col(c) >= lit(MinPlausibleNanos),
          concat(lit(s"normalizeTs: LongType `$c` contract is NANOSECONDS but value "),
            col(c).cast("string"),
            lit(" < 1e16 (~1970-04-26 in ns) — looks like micros/millis; convert before normalizeTs")))
        df.withColumn(c, timestamp_micros(when(guard.isNull, expr(s"`$c` DIV 1000"))))
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        require(tz == "UTC",
          s"normalizeTs reinterprets TIMESTAMP_NTZ in the session zone; " +
            s"session timeZone is '$tz' but the oracle contract requires UTC")
        df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }
  }

  /** The `events` table with `ts` normalized via [[normalizeTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(apply(spark, dir, "events"))
}

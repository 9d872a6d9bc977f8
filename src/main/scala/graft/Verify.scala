package graft
import java.nio.file.{Files, Paths}
import graft.core.Session
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex over query names, for spot checks; the
    // listing below then names only the queries this run attempted.
    val selected = Runner.select(args.lift(2))
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    selected.foreach { d =>
      Runner.run("verify", spark, sfDir, d)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // listing of every attempted query (the whole registry unless
    // filtered) so checkers can flag queries that failed to produce
    // output (a missing dir must read as FAIL, not absence)
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      selected.map(d => q(d.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}

package graft.core

/** Batch-naming string utilities of the reference engine
  * (shanytc/parquet-merger `src/main.rs:440-547`). Pure driver-side
  * Scala — these name merge outputs; they never touch row data.
  */
object Naming {

  /** File stem à la Rust `Path::file_stem`: drop the extension after the
    * LAST dot, but a leading dot alone does not start an extension
    * (".hidden" -> ".hidden", "a.tar.gz" -> "a.tar"). */
  def stem(fileName: String): String = {
    val i = fileName.lastIndexOf('.')
    if (i > 0) fileName.substring(0, i) else fileName
  }

  /** Longest common prefix, char-wise (main.rs:482-500). */
  def commonPrefix(strings: Seq[String]): String = {
    if (strings.isEmpty) return ""
    val first = strings.head
    var len = first.length
    for (s <- strings.tail)
      len = first.iterator.zip(s.iterator).take(len).takeWhile { case (a, b) => a == b }.size
    first.take(len)
  }

  /** Longest common suffix = reverse -> LCP -> reverse (main.rs:502-510). */
  def commonSuffix(strings: Seq[String]): String =
    commonPrefix(strings.map(_.reverse)).reverse

  /** Longest common substring: substrings of the first string by
    * decreasing length (min 3), skipped unless they contain >= 2 letters,
    * first one contained in all strings wins (main.rs:512-534). Brute
    * force is fine at batch-name scale. */
  def commonSubstring(strings: Seq[String]): Option[String] = {
    if (strings.isEmpty || strings.head.isEmpty) return None
    val first = strings.head
    for (len <- first.length to 3 by -1; start <- 0 to (first.length - len)) {
      val sub = first.substring(start, start + len)
      if (sub.count(_.isLetter) >= 2 && strings.forall(_.contains(sub)))
        return Some(sub)
    }
    None
  }

  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Batch-name ladder (main.rs:440-480): a single name, or names that
    * are all the same, -> that name; else cleaned common prefix (>= 3
    * chars before AND after trimming trailing `_`/`-`/digits) -> cleaned
    * common suffix -> common substring -> "batch_N".
    *
    * The all-same rule keeps a smart batch's file stem, as the reference
    * names it (main.rs:272-275): `sales_2023.parquet` x2 is `sales_2023`,
    * where the prefix rule would strip the digits and give `sales_2024`
    * x2 the same name. A manual batch of identically named files keeps
    * its stem too. */
  def generateBatchName(fileNames: Seq[String], batchNumber: Int): String = {
    if (fileNames.isEmpty) return s"batch_$batchNumber"
    if (fileNames.distinct.size == 1) return fileNames.head

    val prefix = commonPrefix(fileNames)
    if (prefix.length >= 3) {
      val cleaned = prefix
        .reverse.dropWhile(c => c == '_' || c == '-' || isAsciiDigit(c))
        .dropWhile(c => c == '_' || c == '-')
        .reverse
      if (cleaned.length >= 3) return cleaned
    }

    val suffix = commonSuffix(fileNames)
    if (suffix.length >= 3) {
      val cleaned = suffix
        .dropWhile(c => c == '_' || c == '-' || isAsciiDigit(c))
        .dropWhile(c => c == '_' || c == '-')
      if (cleaned.length >= 3) return cleaned
    }

    commonSubstring(fileNames).getOrElse(s"batch_$batchNumber")
  }

  /** Output-filename sanitizer (main.rs:536-547): any char that is not
    * Unicode-alphanumeric, `_`, `-`, or `.` becomes `_`. */
  def sanitizeFilename(name: String): String =
    name.map(c => if (c.isLetterOrDigit || c == '_' || c == '-' || c == '.') c else '_')
}

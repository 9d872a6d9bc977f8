package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Per-tag scratch directories with bounded lifetime.
  *
  * Several queries materialize a throwaway on-disk artifact per
  * execution (a re-versioned index, a format-roundtrip file, a
  * streaming landing dir). `Files.createTempDirectory` alone leaks
  * one directory per execution — under the warmed min-of-3 bench
  * that's 4 copies per query per run, unbounded across rounds
  * (ADVICE r7). This keeps the last TWO directories per tag:
  * requesting generation k+2 of a tag deletes its generation k, and a
  * JVM shutdown hook removes the survivors.
  *
  * Why two (ADVICE r8): queries return lazy plans over scratch paths
  * that are normally collected before the same query re-executes, but
  * nothing enforces that sequencing — a harness that builds several
  * runs' plans before collecting any would read a deleted path if the
  * previous generation were deleted at once. By the time generation k
  * goes, the tag's OWN next plan has been built over k+1.
  *
  * Thread-safety: the eviction runs inside the map's per-key compute,
  * so concurrent requests for the same tag cannot double-delete.
  */
object Scratch {
  private val live = new ConcurrentHashMap[String, List[Path]]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    live.values.forEach(ps => ps.foreach(deleteRecursively))
    live.clear()
  }))

  private def retag(tag: String, fresh: Path): String = {
    var evicted: List[Path] = Nil
    live.compute(tag, (_, prev) => {
      val old = if (prev == null) Nil else prev
      evicted = old.drop(1)
      fresh :: old.take(1)
    })
    evicted.foreach(deleteRecursively)
    fresh.toString
  }

  /** A fresh empty scratch directory for `tag`, retiring the tag's
    * grandparent generation (last-2 retention — see the class note).
    * Returns its absolute path as a string. */
  def dir(tag: String): String =
    retag(tag, Files.createTempDirectory(tag))

  /** Like [[dir]] but rooted at `base` when writable (e.g. /dev/shm
    * for streaming checkpoints), falling back to java.io.tmpdir. */
  def dirAt(base: String, tag: String): String = {
    val root = Paths.get(base)
    val fresh =
      if (Files.isWritable(root)) Files.createTempDirectory(root, tag)
      else Files.createTempDirectory(tag)
    retag(tag, fresh)
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.util.Try
    Try {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.forEach(deleteRecursively(_)) finally s.close()
      }
      Files.deleteIfExists(p)
    }
  }
}

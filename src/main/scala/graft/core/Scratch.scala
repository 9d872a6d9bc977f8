package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Scratch directories and per-JVM fixtures.
  *
  * Several queries materialize a throwaway on-disk artifact per
  * execution (a re-versioned index, a format-roundtrip file, a
  * streaming checkpoint). [[dir]] and [[dirAt]] make one and hand its
  * deletion to the [[QueryScope]] open at the time, so it is removed
  * once the query that reads it has been consumed; with no scope open
  * it lives until JVM exit.
  *
  * A fixture is input state that a query reads but does not measure —
  * a base index or a landing dir built once from an sf dir's tables.
  * [[fixture]] builds each key once per JVM, into a directory under one
  * root that lives until JVM exit, whatever scope is open when it is
  * first asked for.
  */
object Scratch {

  /** A fresh empty directory in java.io.tmpdir, owned by the open
    * scope. Returns its absolute path. */
  def dir(tag: String): String = owned(Files.createTempDirectory(tag))

  /** Like [[dir]] but rooted at `base` when writable (e.g. /dev/shm
    * for streaming checkpoints), falling back to java.io.tmpdir. */
  def dirAt(base: String, tag: String): String = {
    val root = Paths.get(base)
    owned(
      if (Files.isWritable(root)) Files.createTempDirectory(root, tag)
      else Files.createTempDirectory(tag))
  }

  private def owned(p: Path): String = {
    QueryScope.onClose(deleteRecursively(p))
    p.toString
  }

  private lazy val fixtureRoot: Path = {
    val root = Files.createTempDirectory("graft_fixtures_")
    QueryScope.atExit(deleteRecursively(root))
    root
  }

  /** One fixture's value, built on first use. A build that throws leaves
    * the cell empty, so the next caller builds again. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }
  private val fixtures = new ConcurrentHashMap[String, Cell]()

  /** The fixture `key`, built by `build` on the first call in this JVM
    * and shared by every later one; concurrent first callers wait for
    * one build. `build` gets a fresh directory under the fixture root to
    * write into and runs in its own scope, so what it pins or makes with
    * [[dir]] is released when it returns: the fixture's value must be
    * self-contained (paths under its directory, table names, schemas). */
  def fixture[A](key: String)(build: String => A): A =
    fixtures.computeIfAbsent(key, _ => new Cell(() => QueryScope {
      build(Files.createTempDirectory(fixtureRoot, "f").toString)
    })).value.asInstanceOf[A]

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

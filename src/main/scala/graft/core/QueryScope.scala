package graft.core

import scala.util.control.NonFatal

/** The lifetime of what one query makes: its pins, checkpoints and
  * scratch directories.
  *
  * A scope is a list of release actions. [[graft.ops.Pin]] and
  * [[Scratch]] register theirs with the scope open on the calling
  * thread; `QueryScope { body }` opens a scope around `body` and, on
  * every exit path, runs its actions in reverse order of registration,
  * every one of them even when an earlier one throws. A thread started
  * inside a scope (the stream thread `writeStream.start()` creates, say)
  * inherits it, so what that thread makes belongs to the same query.
  *
  * What is made with no scope open, or on a thread whose inherited scope
  * has already closed, belongs to one process scope, which a shutdown hook
  * closes. That is the library contract for a caller that opens no
  * scope: what its calls create lives until JVM exit. A caller that
  * wants it released earlier wraps its calls in `QueryScope { ... }`.
  *
  * Scopes isolate releases, not data: two scopes that pin the same plan
  * share Spark's one cache entry, and the first to close unpersists it
  * (the other recomputes, by determinism the same rows).
  */
final class QueryScope private () {
  private var actions: List[() => Unit] = Nil
  private var closed = false

  /** Adds `release` unless this scope has closed; false if it has. */
  private def register(release: () => Unit): Boolean = synchronized {
    if (!closed) actions = release :: actions
    !closed
  }

  /** Runs every registered action, newest first. The first failure is
    * rethrown after all have run, with later ones suppressed into it. */
  private def close(): Unit = {
    val todo = synchronized { closed = true; val a = actions; actions = Nil; a }
    var failure: Throwable = null
    todo.foreach { release =>
      try release()
      catch { case NonFatal(e) =>
        if (failure == null) failure = e else failure.addSuppressed(e)
      }
    }
    if (failure != null) throw failure
  }
}

object QueryScope {
  private val open = new InheritableThreadLocal[QueryScope]

  /** The scope of everything made outside any query scope; closed at
    * JVM exit. */
  private val process: QueryScope = {
    val s = new QueryScope
    Runtime.getRuntime.addShutdownHook(new Thread(() => s.close()))
    s
  }

  /** Runs `body` in a fresh scope and closes it afterwards. A failure of
    * `body` wins over a failure to release, which is attached to it as
    * suppressed. */
  def apply[A](body: => A): A = {
    val scope = new QueryScope
    val outer = open.get
    open.set(scope)
    var failed: Throwable = null
    try body
    catch { case t: Throwable => failed = t; throw t }
    finally {
      open.set(outer)
      try scope.close()
      catch { case NonFatal(e) if failed != null => failed.addSuppressed(e) }
    }
  }

  /** Registers `release` with the scope open on this thread, or with
    * [[process]] when there is none. */
  def onClose(release: => Unit): Unit = {
    val scope = open.get
    if (scope == null || !scope.register(() => release)) atExit(release)
  }

  /** Registers `release` with [[process]], whatever scope is open. */
  private[core] def atExit(release: => Unit): Unit = process.register(() => release)
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.core.QueryScope

/** Shared row-pinning for multi-pass operators (PrefixSum phases,
  * dd06's three shingle uses, tx09's tf reuse, ev30/ev31's selector
  * passes): the input must show the SAME rows to every pass without
  * recomputing its upstream plan.
  *
  * A DETERMINISTIC plan is `persist`ed lazily — the first real pass
  * computes its result AND populates the cache in ONE job (no separate
  * materialization job), and an eviction-forced recompute is
  * value-identical by determinism. Only a NONDETERMINISTIC plan pays
  * an eager `localCheckpoint` job, because its recompute could change
  * rows between passes.
  *
  * Lifetime: every pin and checkpoint belongs to the [[QueryScope]]
  * open when it is made and is released when that scope closes — after
  * the query that made it has been consumed, never while it still
  * reads it. Spark's CacheManager keys cache entries by plan, so a
  * re-pin of an identical plan inside the same scope shares the first
  * pin's entry and stays cached until the scope closes. Bench's timed
  * runs each open their own scope, so none of them reads an
  * intermediate that the warm-up run cached.
  */
object Pin {

  /** Pin `df`'s rows across multiple consuming passes. */
  def once(df: DataFrame): DataFrame = {
    val nondet = df.queryExecution.analyzed.exists(
      _.expressions.exists(_.exists(!_.deterministic)))
    if (nondet) checkpointed(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val sc = df.sparkSession.sparkContext
      QueryScope.onClose(if (!sc.isStopped) p.unpersist(false))
      p
    }
  }

  /** The block-holding RDD of a localCheckpoint'ed frame. A
    * checkpointed Dataset's plan is a [[LogicalRDD]] leaf over the
    * internal row RDD that actually owns the stored blocks;
    * `df.rdd.unpersist()` builds a NEW deserializing wrapper RDD and
    * unpersists THAT (no blocks, so it is a silent no-op — the bug the
    * pre-r11 connectedComponents release had). Extracting the leaf RDD
    * is the only handle that really frees the blocks. */
  private def checkpointRdd(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Free the blocks of a frame produced by [[checkpointed]] (or any
    * `localCheckpoint`) now. Loop kernels (connectedComponents,
    * Bpe.train) free each superseded round this way instead of holding
    * every round until their scope closes. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(false))

  /** Hand the release of `c`, a `localCheckpoint` its caller made, to
    * the open scope. Returns `c`. */
  private[graft] def scoped(c: DataFrame): DataFrame = {
    checkpointRdd(c).foreach { r =>
      QueryScope.onClose(if (!r.sparkContext.isStopped) r.unpersist(false))
    }
    c
  }

  /** Eagerly `localCheckpoint` a deterministic-or-not plan, owned by the
    * open scope. Unlike a persist, a lost checkpoint block cannot be
    * recomputed (the lineage is truncated), which is why its release
    * waits for the scope: the query that reads it has been consumed by
    * then. Without a release, every kernel invocation would leak its
    * blocks until a JVM GC lets the ContextCleaner find them — across a
    * 298-query bench pass the leaked blocks fill the storage pool and
    * evict the LIVE frames (the r11-baseline dd19/dd20 4-6x
    * full-run-only spikes). */
  def checkpointed(df: DataFrame): DataFrame = scoped(df.localCheckpoint(true))
}

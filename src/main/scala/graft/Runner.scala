package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryScope, Session}

/** The registry loop of every main: which queries a run takes, and how
  * one is built, consumed and reported when it fails. */
object Runner {

  /** The registered queries whose name the regex `filter` finds (all when
    * unset), in name order, without the enclosing quotes sbt's `runMain`
    * passes through. A filter that matches nothing is refused. */
  def select(filter: Option[String]): Seq[QueryDef] = {
    val re = filter.map(f =>
      (if (f.length >= 2 && f.head == '\'' && f.last == '\'') f.drop(1).dropRight(1) else f).r)
    val selected = SparkEntry.defs.sortBy(_.name)
      .filter(q => re.forall(_.findFirstIn(q.name).isDefined))
    require(selected.nonEmpty, s"no registered query matches ${re.mkString}")
    selected
  }

  /** Checks the session contract, builds `q` and consumes its frame in
    * one [[QueryScope]]: what the query pins, checkpoints or stages is
    * released before this returns, also when it fails. A failure prints
    * `[tag] name failed: message` and is returned on the left. `q.fn`
    * may be eager (see [[QueryDef]]): time this whole call. */
  def run[A](tag: String, spark: SparkSession, sfDir: String, q: QueryDef)
      (consume: DataFrame => A): Either[Throwable, A] = {
    Session.requireContract(spark)
    try Right(QueryScope(consume(q.fn(spark, sfDir))))
    catch { case e: Throwable =>
      System.err.println(s"[$tag] ${q.name} failed: ${e.getMessage}")
      Left(e)
    }
  }

  /** Computes every output column of `df`; a plain `count()` would let
    * Catalyst prune the projections away. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
}

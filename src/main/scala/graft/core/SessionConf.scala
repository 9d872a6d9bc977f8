package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session settings: the one place library code changes the
  * session's SQL conf. Settings are session-wide and are NOT isolated
  * between concurrent query scopes: a change made here is seen by every
  * query the session runs until the scope ends, including queries
  * running on other threads at the same time. */
object SessionConf {

  /** Run `body` with each `key -> value` set on `spark`'s conf. On every
    * exit path, normal or thrown, each key gets back the value it had
    * before, or is unset if it had none. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

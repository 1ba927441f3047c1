package graft.core

import org.apache.spark.sql.SparkSession

/** Session confs set for the duration of `body`, then restored — or
  * unset, where they were unset before. For confs a plan or a streaming
  * query reads once, when it is built, so the session keeps its own
  * values for everything else.
  */
object ScopedConf {
  def apply[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Session-conf overrides that last exactly as long as a block.
  *
  * Every temporary conf change in the library goes through [[conf]], so
  * there is one place that sets and restores session settings. The scope
  * is session-global, not per thread: a concurrent block on the same
  * session sees the override while it lasts.
  */
object Scoped {
  /** Run `f` with each `key -> value` set on the session, then put every
    * key back as it was: its prior value if it had one, `unset` if not.
    * Restores on normal and exceptional exit alike. */
  def conf[T](spark: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

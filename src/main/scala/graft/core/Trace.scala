package graft.core

import org.apache.spark.sql.SparkSession

/** Job labels: the one place the library names the Spark jobs it
  * starts, so `graft.tools.Trace` and the UI attribute cost by phase. */
object Trace {

  /** Run `f` with `label` as the `spark.job.description` of every job
    * it starts on this thread (a thread-local property, so concurrent
    * lanes keep their own labels); the previous description is restored
    * on exit. */
  def phase[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }
}

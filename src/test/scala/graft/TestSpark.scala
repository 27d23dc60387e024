package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM-wide; Spark session
  * startup dominates test wall-time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // GRAFT_FENCE_MODE=table runs the whole suite in Fence's
      // persisted-table mode (the production flag; default checkpoint)
      .config("spark.graft.fence.mode",
        sys.env.getOrElse("GRAFT_FENCE_MODE", "checkpoint"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A suite over the shared session. Each test runs inside its own
  * [[graft.core.Scratch.scope]], so the warehouses and staging
  * directories it makes with `Scratch.dir` are deleted when it ends. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  override def withFixture(test: NoArgTest): Outcome =
    graft.core.Scratch.scope(super.withFixture(test))

  /** The `spark.job.description` of every job `body` starts, in job
    * id order ([[graft.core.Trace.record]]). */
  def jobsStartedBy(body: => Unit): Seq[String] =
    graft.core.Trace.record(spark)(body)._2.jobs.map(_.label)
}

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

  /** (spark.job.description, stage names) of every job `body` starts:
    * a listener drained by a labelled sentinel job — one queue delivers
    * a listener's events in order, so once the sentinel's start arrives
    * every earlier job's start has too. */
  def jobsStartedBy(body: => Unit): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") -> e.stageInfos.map(_.name).mkString("; "))
    }
    val sc = spark.sparkContext
    val sentinel = "job-label-sentinel"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!started.asScala.exists(_._1 == sentinel) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    val jobs = started.asScala.toSeq
    assert(jobs.exists(_._1 == sentinel), "listener never drained")
    jobs.filter(_._1 != sentinel)
  }
}

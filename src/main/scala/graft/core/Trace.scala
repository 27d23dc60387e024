package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job labels and the job recorder: the one place the library names the
  * Spark jobs it starts ([[phase]]) and records the jobs a block starts
  * ([[record]]), so `graft.tools.Trace`, the specs and the UI attribute
  * cost by phase. */
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

  final case class Stage(id: Int, name: String, start: Long, end: Long,
                         tasks: Int)
  final case class Job(id: Int, label: String, start: Long, end: Long,
                       stages: Seq[Stage])
  final case class Totals(jobs: Int, stages: Int, tasks: Int,
                          seconds: Double)

  /** Jobs started during a recorded block, by job id. */
  final case class Recording(jobs: Seq[Job]) {
    /** Totals per `spark.job.description`; seconds sum job durations. */
    def byLabel: Map[String, Totals] =
      jobs.groupBy(_.label).map { case (l, js) =>
        l -> Totals(js.size, js.map(_.stages.size).sum,
          js.flatMap(_.stages).map(_.tasks).sum,
          js.map(j => j.end - j.start).sum / 1000.0)
      }
  }

  /** Run `f`, recording every job Spark starts while it runs. Jobs from
    * before or after the block are not counted. */
  def record[T](spark: SparkSession)(f: => T): (T, Recording) = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e)
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        stages.add(Stage(s.stageId, s.name.takeWhile(_ != '\n'),
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
          s.numTasks))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis()
      val r = f
      val t1 = System.currentTimeMillis()
      // one queue delivers a listener's events in order: once the
      // start of a job submitted after the block arrives, every event
      // of the block's jobs has arrived too
      val drain = s"$Drain ${System.nanoTime()}"
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(drain)
      try spark.range(1).count() finally sc.setJobDescription(prev)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!starts.asScala.exists(label(_) == drain) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      if (!starts.asScala.exists(label(_) == drain))
        throw new IllegalStateException(
          "Trace.record: the listener bus never delivered the drain job")
      val end = ends.asScala.map(e => e.jobId -> e.time).toMap
      val byId = stages.asScala.map(s => s.id -> s).toMap
      val seen = scala.collection.mutable.Set[Int]()
      val jobs = starts.asScala.toSeq
        .filter(j => j.time >= t0 && j.time <= t1 &&
          !label(j).startsWith(Drain))
        .sortBy(_.jobId).map { j =>
          // a stage belongs to the first job that lists it; later jobs
          // reuse its shuffle output and skip it
          val own = j.stageIds.filter(seen.add).flatMap(byId.get)
          Job(j.jobId, label(j), j.time, end.getOrElse(j.jobId, j.time),
            own.sortBy(_.id))
        }
      (r, Recording(jobs))
    } finally sc.removeSparkListener(listener)
  }

  private val Drain = "Trace: drain"

  private def label(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("(none)")
}

package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.Bench

/** Where a query's time goes, in the configuration Bench times.
  *
  * Each named query runs in Bench's own session (size-derived shuffle
  * width, UTC, UI off): one warm-up pass at Bench's warm-up scale, then
  * two scrubbed, timed passes at `SPARK_GRAFT_SF_DIR` on
  * `local[SPARK_GRAFT_CPUS]`. For the faster pass it prints every job
  * and its completed stages, then one row per `spark.job.description`
  * (jobs, stages, tasks, job-seconds) — the CorpusStream phase labels
  * (`compact <table>`, `seen state`, `signatures`, ...) become a
  * per-phase table.
  *
  * Usage: `runMain graft.tools.Trace <query>...`. For a conf A/B, pass
  * the conf as a system property, which SparkConf picks up:
  * `SPARK_GRAFT_JVM_EXTRA="-Dspark.sql.adaptive.enabled=false"`.
  */
object Trace {
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

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val spark = Bench.session(sfDir, Bench.cpus)
    args.foreach { name =>
      Bench.run(spark, name, Bench.WarmDir)
      val passes = Seq.fill(2) {
        Bench.scrub(spark)
        record(spark)(Bench.run(spark, name, sfDir))
      }
      val (best, rec) = passes.minBy(_._1)
      val base = rec.jobs.headOption.map(_.start).getOrElse(0L)
      def at(ms: Long) = (ms - base) / 1000.0
      println(s"=== $name ===")
      rec.jobs.foreach { j =>
        println(f"JOB ${j.id}%4d [${at(j.start)}%7.2f -> " +
          f"${at(j.end)}%7.2f] ${(j.end - j.start) / 1000.0}%6.2f s  " +
          j.label)
        j.stages.foreach { s =>
          println(f"  STG ${s.id}%4d [${at(s.start)}%7.2f -> " +
            f"${at(s.end)}%7.2f] tasks=${s.tasks}%4d  ${s.name}")
        }
      }
      println(f"${"label"}%-48s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s" +
        f" ${"job-s"}%8s")
      rec.byLabel.toSeq.sortBy(-_._2.seconds).foreach { case (l, t) =>
        println(f"${l.take(48)}%-48s ${t.jobs}%5d ${t.stages}%6d " +
          f"${t.tasks}%6d ${t.seconds}%8.2f")
      }
      println(f"TIMED $name min=$best%.2f s (${passes.head._1}%.2f, " +
        f"${passes(1)._1}%.2f)  jobs=${rec.jobs.size}")
    }
    spark.stop()
  }
}

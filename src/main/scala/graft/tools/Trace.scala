package graft.tools

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
  import graft.core.Trace.record

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

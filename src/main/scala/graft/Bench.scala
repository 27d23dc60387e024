package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR on
  * local[cpus] and prints one JSON line.
  *
  * Methodology (per round-1/2 findings): a warmup pass at the smallest
  * scale factor absorbs JVM/session/codegen startup; timing forces full
  * materialization through a noop write (`.count()` lets Catalyst prune
  * every column, so a scan query would bench parquet footer reads only);
  * failures propagate — a broken query must fail the bench run, not report
  * a fake timing. Between measurements the session is scrubbed (cache
  * clear + an explicit GC cycle so the ContextCleaner reclaims broadcast/
  * shuffle blocks): 168 back-to-back query runs in one JVM otherwise
  * accumulate enough heap pressure that late queries measure GC stalls,
  * not plans (round-2 bench: q01 46 s after the dedup queries vs 0.7 s
  * in a fresh session).
  */
object Bench {
  /** Scale-factor dir the bench times (`SPARK_GRAFT_SF_DIR`). */
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  // default to the machine's cores (driver contract: local[32]);
  // SPARK_GRAFT_CPUS stays as the explicit override for experiments
  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Smallest scale factor: one pass here absorbs JVM/session/codegen
    * start-up before anything is timed. */
  private[graft] val WarmDir = "/root/testdata/sf0.001"

  /** The session every bench measurement runs in. */
  private[graft] def session(sfDir: String, cpus: String): SparkSession = {
    // Scale-adaptive shuffle width (round 17, guide §2.2): derived from
    // the INPUT SIZE, not the core count — `partitions = cpus` made
    // every reduce stage and streaming state store scale with the
    // machine instead of the data (the r16 scaling inversion: 32 cores
    // 28% slower than 8 end-to-end at bench SF). Core count still
    // comes from SPARK_GRAFT_CPUS (master unchanged); kernels keep
    // their core-wide spread through Par.fanOut/ensure. See
    // graft.core.ShuffleWidth for the derivation, knobs and evidence.
    val width = graft.core.ShuffleWidth.forInput(sfDir)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // The ContextCleaner race "Failed to update accumulator (Unknown
    // class)" — a task finishing after its query's SQL metrics were
    // reclaimed by the between-query scrub — is logged at ERROR with a
    // full stack per task and can flood the harness's output capture
    // (round 10's bench record lost its JSON line to exactly this
    // noise). Benign by definition (the metrics' query is already
    // done). A message-targeted filter drops exactly that flood while
    // GENUINE DAGScheduler errors (stage failures, task-set aborts)
    // still reach the bench output — raising the whole logger to FATAL
    // (the previous fix) hid those too (ADVICE r11).
    try {
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val filter = RegexFilter.createFilter(
        ".*Failed to update accumulator.*", null,
        java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL)
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val name = "org.apache.spark.scheduler.DAGScheduler"
      val lc = new LoggerConfig(name,
        org.apache.logging.log4j.Level.ERROR, /* additive = */ true)
      lc.addFilter(filter)
      ctx.getConfiguration.addLogger(name, lc)
      ctx.updateLoggers()
    } catch { case _: Throwable =>
      // filter plumbing unavailable: fall back to silencing the logger
      // (the pre-round-12 behavior — noisy-flood protection wins)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        org.apache.logging.log4j.Level.FATAL)
    }
    spark
  }

  /** Materialize one query through a noop write, inside its own
    * [[graft.core.Scratch.scope]]; returns the seconds the query took.
    * The gate's scratch is deleted after the clock stops. */
  private[graft] def run(spark: SparkSession, name: String,
                         dir: String): Double =
    graft.core.Scratch.scope {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        throw new RuntimeException(s"bench: query $name failed on $dir", e)
      }
      (System.nanoTime() - t0) / 1e9
    }

  /** Drop cached frames and Fence checkpoint blocks synchronously, then
    * GC so the ContextCleaner reclaims broadcast/shuffle blocks too. */
  private[graft] def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val cpus = Bench.cpus
    val spark = session(sfDir, cpus)

    // AMBIENT CANARY (frozen from round 12 — do not change this job):
    // a graft-independent workload (range -> string hash -> shuffle agg
    // -> broadcast-joinable self-lookup) with zero library code in its
    // path, timed at the START, MIDDLE and END of the timed section.
    // Because the canary's code is identical across rounds, its
    // round-over-round drift measures THE BOX, not the library: a 1.15×
    // driver read with the canary up 1.15× is ambient; flat canary +
    // slow queries is a real regression. The three positions also expose
    // within-run load swings that a single sample would hide. (Verdict
    // r11: the bench artifact must settle ambient itself.)
    def canaryPass(): Double = {
      scrub(spark)
      // the canary's ENVIRONMENT is frozen with its code: it has run
      // with shuffle width = cpus since round 12, and its round-over-
      // round drift is the box-ambient meter — so it keeps that width
      // even now that the queries run size-derived (scoped, restored)
      graft.core.Scoped.conf(spark,
        "spark.sql.shuffle.partitions" -> cpus)(canaryBody())
    }
    def canaryBody(): Double = {
      val t0 = System.nanoTime()
      val base = spark.range(0L, 24000000L, 1L, 32)
        .selectExpr("id", "xxhash64(concat('canary-', id)) AS h")
      val aggd = base
        .selectExpr("pmod(h, 4096) AS k", "h")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.expr("count(1) AS c"),
             // bit_xor, not sum: full-range xxhash64 values overflow an
             // ANSI-mode Int64 sum
             org.apache.spark.sql.functions.expr("bit_xor(h) AS s"))
      val dim = spark.range(0L, 4096L)
        .selectExpr("id AS k", "cast(id % 7 AS string) AS tag")
      aggd.join(org.apache.spark.sql.functions.broadcast(dim), "k")
        .selectExpr("tag", "c", "s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(run(spark, _, WarmDir))
    canaryPass() // warmup: absorb the canary's own codegen/plan cost
    var canaryMid = 0.0

    def timedPass(name: String): Double = {
      // clearCache only drops the SQL cache — the localCheckpoint blocks
      // every Fence persists stay in the BlockManager until the async
      // ContextCleaner reclaims them, and 99 queries of backlog turns
      // late measurements into block-eviction benchmarks (dd03 measured
      // 73 s mid-run vs 5.3 s in a fresh JVM). Unpersist them
      // synchronously, then GC so the cleaner drops broadcasts too.
      scrub(spark)
      run(spark, name, sfDir)
    }
    // TWO timed passes per query, report the MIN: the same-HEAD spread
    // on this box (dp01 measured 16.45 s then 9.84 s back-to-back under
    // ambient load) had become the dominant round-over-round noise —
    // min-of-two rejects the one-sided load spikes while leaving a true
    // regression (which slows both passes) fully visible. Both raw
    // passes land in a side file for COVERAGE; the stdout line carries
    // only the min, keeping it inside the driver's ~2000-char tail.
    val mid = names.size / 2
    val canaryStart = canaryPass()
    val results = names.zipWithIndex.map { case (name, i) =>
      if (i == mid) canaryMid = canaryPass()
      val p1 = timedPass(name); val p2 = timedPass(name)
      (name, math.min(p1, p2), p1, p2)
    }
    val canaryEnd = canaryPass()
    // SERVING section (round 16): per-operation serving numbers —
    // what a LIVE deployment pays per operation on a persisted index,
    // as opposed to the gates' in-gate build+probe chains — emitted as
    // a named dict so round-over-round serving regressions are
    // machine-comparable (bench_compare.py diffs it). One SQ8 index at
    // the bench SF; each op timed once after a scrub (single-sample:
    // these are sub-second ops whose regressions of interest are
    // multiples, not percents). Failures propagate — a broken serving
    // path must fail the bench run, not report a fake timing.
    val serving = graft.core.Scratch.scope {
      import org.apache.spark.sql.functions._
      scrub(spark)
      val cat = new graft.catalog.TableCatalog(spark,
        graft.core.Scratch.dir("graft_bench_srv_"))
      val e = graft.core.Tables.load(spark, sfDir, "embeddings")
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val q = e.filter(col("vec_id") < 5)
      def probe(allowed: Option[org.apache.spark.sql.DataFrame]): Unit =
        graft.ann.AnnIndex.sq8TopKFromIndex(cat, "srv", q, "vec_id",
            "embedding", 10, allowedIds = allowed,
            allowedIdCol = "vec_id")
          .write.format("noop").mode("overwrite").save()
      val tBuild = timed { graft.ann.AnnIndex.buildSq8(cat, e,
        "vec_id", "embedding", "srv") }
      val tProbe = timed { probe(None) }
      val tFiltered = timed { probe(Some(e.filter(col("label") === 0)
        .select(col("vec_id")))) }
      val tDelete = timed { graft.ann.AnnIndex.deleteIds(cat,
        e.filter(pmod(col("vec_id"), lit(7)) === 0)
          .select(col("vec_id")), "vec_id", "srv") }
      val tMasked = timed { probe(None) }
      val tCompact = timed { graft.ann.AnnIndex.compactSegs(cat, "srv") }
      val tAfter = timed { probe(None) }
      def n3s(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      s""""build":${n3s(tBuild)},"probe":${n3s(tProbe)},""" +
        s""""probe_filtered":${n3s(tFiltered)},"delete":${n3s(tDelete)},""" +
        s""""probe_masked":${n3s(tMasked)},"compact":${n3s(tCompact)},""" +
        s""""probe_compacted":${n3s(tAfter)}"""
    }
    // The driver keeps only the LAST ~2000 chars of this process's
    // output: round-8's full-name full-precision line (~4.5 KB) came
    // back head-truncated and unparseable, hiding the a*/ann*/dd*/dp*
    // families from the round artifact. Emit a compact line instead —
    // keys shortened to their gate prefix (collisions keep the full
    // name), values at millisecond precision — so the whole line plus
    // sbt's [success] trailer fits inside the tail window.
    val shortKeys = {
      val prefixes = results.map(_._1).groupBy(_.takeWhile(_ != '_'))
      results.map { case (k, _, _, _) =>
        val p = k.takeWhile(_ != '_')
        k -> (if (prefixes(p).size == 1) p
              else if (prefixes(p).head == k) p else k)
      }.toMap
    }
    def n3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _, _) =>
      "\"" + shortKeys(k) + "\":" + n3(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // full-name both-passes record for COVERAGE (not stdout: doubling
    // the line would re-trigger the tail truncation the short keys fixed)
    try {
      val passes = results.map { case (k, _, p1, p2) =>
        s""""$k":[${n3(p1)},${n3(p2)}]""" }.mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
          "graft_bench_passes.json"),
        (s"""{"sf":"$sfDir","canary":[${n3(canaryStart)},""" +
         s"""${n3(canaryMid)},${n3(canaryEnd)}],"passes":$passes}""")
          .getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () } // diagnostics only
    // JVM-inheritance evidence (round-8/9 drift forensics): the code
    // cache reserve is THE fix for the JDK-17 sweeper churn, and it only
    // helps if the driver's invocation path actually forks with
    // build.sbt's javaOptions — record what this JVM really got
    val rccMb = try {
      java.lang.management.ManagementFactory
        .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
        .getVMOption("ReservedCodeCacheSize").getValue.toLong / (1 << 20)
    } catch { case _: Throwable => -1L }
    val heapMb = Runtime.getRuntime.maxMemory() / (1 << 20)
    val canary =
      s"[${n3(canaryStart)},${n3(canaryMid)},${n3(canaryEnd)}]"
    // "serving" sits AFTER "queries": the driver keeps only the last
    // ~2000 chars of output, so the line's TAIL is what survives —
    // the named section must not be the part that truncates away
    println(s"""{"metric":"total","value":${n3(total)},"unit":"sec","passes":2,"canary":$canary,"rccMb":$rccMb,"heapMb":$heapMb,"queries":$qs,"serving":{$serving},"sf":"$sfDir"}""")
    spark.stop()
  }
}

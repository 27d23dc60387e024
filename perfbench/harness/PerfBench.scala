package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{Ann, AnnIndex}
import graft.catalog.TableCatalog
import graft.streaming.CorpusStream

/** Thread-safe JSON-lines sink shared by the op loop and the listener. */
final class Emitter(path: String) {
  private val out = new PrintWriter(path, "UTF-8")
  def line(s: String): Unit = synchronized { out.println(s) }
  def close(): Unit = synchronized { out.close() }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Records every job and completed stage. Jobs are attributed to op
  * spans afterwards, by start time: the op loop is single-threaded, so
  * every job that starts inside a span belongs to that span's call. */
final class JobRecorder(out: Emitter) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    out.line(s"""{"t":"job_start","job":${e.jobId},"ms":${e.time},""" +
      s""""stages":[${e.stageIds.mkString(",")}]}""")

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    out.line(s"""{"t":"job_end","job":${e.jobId},"ms":${e.time}}""")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val shuffle = if (m == null) 0L
      else m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
    val spill = if (m == null) 0L
      else m.memoryBytesSpilled + m.diskBytesSpilled
    def v(f: => Long): Long = if (m == null) 0L else f
    out.line(s"""{"t":"stage","stage":${s.stageId},"tasks":${s.numTasks},""" +
      s""""run_ms":${v(m.executorRunTime)},"cpu_ns":${v(m.executorCpuTime)},""" +
      s""""gc_ms":${v(m.jvmGCTime)},"shuffle_bytes":$shuffle,""" +
      s""""spill_bytes":$spill}""")
  }
}

/** One benchmark process: runs a workload's plan, timing each call. */
final class Harness(val spark: SparkSession, val work: String,
                    val out: Emitter, val trace: Boolean,
                    walkRoot: String) {
  private var spans = 0

  /** Time `f` as one span. `kind` is op / write / build / check / warm;
    * `layer` names the library call (`<module>.<call>`). */
  def span[T](kind: String, layer: String, name: String)(f: => T): T = {
    val ms0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try f catch {
      case e: Throwable =>
        emitSpan(kind, layer, name, ms0, n0, ok = false)
        throw e
    }
    emitSpan(kind, layer, name, ms0, n0, ok = true)
    if (trace && (kind == "op" || kind == "write" || kind == "build"))
      walk(s"after:${spans - 1}")
    r
  }

  private def emitSpan(kind: String, layer: String, name: String,
                       ms0: Long, n0: Long, ok: Boolean): Unit = {
    val ns = System.nanoTime() - n0
    val ms1 = System.currentTimeMillis()
    out.line(s"""{"t":"span","i":$spans,"kind":"$kind","layer":"$layer",""" +
      s""""name":${Json.str(name)},"ms0":$ms0,"ms1":$ms1,"n0":$n0,""" +
      s""""ns":$ns,""" +
      s""""ok":$ok}""")
    spans += 1
  }

  /** CPU time of the whole JVM (every thread), in nanoseconds. */
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def mark(name: String): Unit = {
    out.line(s"""{"t":"mark","name":"$name","ms":${System.currentTimeMillis()},""" +
      s""""cpu_ns":${os.getProcessCpuTime}}""")
    if (trace && name == "first_op") walk("start")
  }

  /** Per top-level table of the warehouse: partition directories at the
    * first level, partition directories at any depth, data files (names
    * not starting with `.` or `_`) and bytes of every file. */
  def walk(tag: String): Unit = {
    val root = Paths.get(walkRoot)
    val tables = if (!Files.isDirectory(root)) Seq.empty[Path]
      else Files.list(root).iterator().asScala.toSeq
        .filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
    val parts = tables.map { t =>
      var top = 0L; var dirs = 0L; var files = 0L; var bytes = 0L
      val it = Files.walk(t).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) {
          if (n.contains("=")) {
            dirs += 1
            if (p.getParent == t) top += 1
          }
        } else {
          bytes += Files.size(p)
          if (!n.startsWith(".") && !n.startsWith("_")) files += 1
        }
      }
      s"""${Json.str(t.getFileName.toString)}:[$top,$dirs,$files,$bytes]"""
    }
    out.line(s"""{"t":"walk","tag":"$tag","tables":{${parts.mkString(",")}}}""")
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    out.line(s"""{"t":"check","name":${Json.str(name)},"ok":$ok,""" +
      s""""detail":${Json.str(detail)}}""")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def save(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")
}

object PerfBench {
  /** `queries.<module>` for every gate, by the module map that holds it. */
  def gateModules: Map[String, String] = {
    import graft.queries._
    val mods = Seq(
      "string" -> StringQueries.queries, "date" -> DateQueries.queries,
      "cond" -> CondQueries.queries, "filter" -> FilterQueries.queries,
      "join" -> JoinQueries.queries, "agg_window" -> AggWindowQueries.queries,
      "llm" -> LlmQueries.queries, "event" -> EventQueries.queries,
      "io" -> IoQueries.queries, "connector" -> ConnectorQueries.queries)
    val owned = mods.flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
    graft.SparkEntry.queries.keys.map(k => k -> owned.getOrElse(k, "base"))
      .toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      Files.writeString(Paths.get(args(1)), gateModules.toSeq.sorted
        .map { case (g, m) => s"$g\t$m\n" }.mkString)
      return
    }
    val Array(workload, dataDir, work, planFile, eventsFile, traceArg,
      warmDir, cores) = args
    val trace = traceArg == "1"
    val out = new Emitter(eventsFile)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        graft.core.ShuffleWidth.forInput(dataDir).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val walkRoot = if (workload == "etl_gates") s"$work/tmp" else s"$work/wh"
    val h = new Harness(spark, work, out, trace, walkRoot)
    h.mark("session")
    if (trace) spark.sparkContext.addSparkListener(new JobRecorder(out))
    val plan = scala.io.Source.fromFile(planFile, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toSeq).toSeq
    var code = 0
    try {
      workload match {
        case "etl_gates" => Etl.run(h, plan, dataDir, warmDir)
        case "corpus_chain" => Chain.run(h, plan, dataDir, warmDir,
          prebuild = false)
        case "chain_prebuild" => Chain.run(h, plan, dataDir, warmDir,
          prebuild = true)
        case "ann_serve" => Serve.run(h, plan, dataDir, warmDir)
        case other => throw new IllegalArgumentException(
          s"unknown workload '$other'")
      }
      h.walk("end")
    } catch {
      case e: Throwable =>
        out.line(s"""{"t":"error","msg":${Json.str(e.toString)}}""")
        e.printStackTrace()
        code = 1
    } finally {
      org.apache.spark.BusDrain(spark.sparkContext)
      val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
        .getOrElse(0L)
      out.line(s"""{"t":"rss","kb":$rss}""")
      out.close()
      spark.stop()
    }
    sys.exit(code)
  }
}

/** `etl_gates`: each plan line `gate <name>` is one op, materialized
  * through a `noop` write. The frames are then written to parquet,
  * outside the timed spans, for the DuckDB oracle compare. */
object Etl {
  def run(h: Harness, plan: Seq[Seq[String]], dataDir: String,
          warmDir: String): Unit = {
    val spark = h.spark
    val modules = PerfBench.gateModules
    warm(h, warmDir)
    h.mark("first_op")
    val frames = plan.map { case Seq("gate", name) =>
      val layer = s"queries.${modules(name)}"
      val kind = if (name.startsWith("k")) "write" else "op"
      name -> h.span(kind, layer, name) {
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        h.noop(df)
        df
      }
    }
    h.mark("last_op")
    h.span("check", "check", "outputs") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(frames.map { case (name, df) =>
        Future(h.save(df, name)) }), Duration.Inf)
      finally pool.shutdown()
    }
    val oracle = frames.map { case (n, _) =>
      s"${Json.str(n)}:${Json.str(graft.SparkEntry.oracleSql(n))}" }
    Files.writeString(Paths.get(s"${h.work}/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
  }

  /** Library-free warm-up over the tiny tables: scans, a join, an
    * aggregate, a window, a sort and a parquet round trip. Without it the
    * gates pay Spark's own JIT warm-up: on a 4-core box the timed calls
    * took 18 s instead of 13 s, and warming with four cheap gates instead
    * was as slow. */
  def warm(h: Harness, dir: String): Unit = h.span("warm", "warm", "etl") {
    val spark = h.spark
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach(n => h.noop(t(n)))
    val j = t("lineitem").join(t("orders"), col("l_orderkey") ===
      col("o_orderkey")).groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice")), count(lit(1)))
    h.noop(j.orderBy(col("o_orderstatus")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    h.noop(t("events").withColumn("rn", row_number().over(w))
      .withColumn("u", upper(col("event_type")))
      .withColumn("d", to_date(col("ts"))).filter(col("rn") < 3))
    val p = s"${h.work}/warm_parquet"
    t("customer").write.mode("overwrite").parquet(p)
    h.noop(spark.read.parquet(p).filter(col("c_acctbal") > 0))
  }
}

/** `corpus_chain`: plan lines `batch <id> <lo> <hi>` (one
  * `processBatch` of doc ids lo..hi, an op) and `remove <ids>` (one
  * `removeDocs` takedown, a write). */
object Chain {
  val State = "cc_seen"
  val Output = "cc_out"

  def run(h: Harness, plan: Seq[Seq[String]], dataDir: String,
          warmDir: String, prebuild: Boolean): Unit = {
    val spark = h.spark
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val cat = new TableCatalog(spark, s"${h.work}/wh")
    if (!prebuild) warm(h, warmDir)
    h.mark("first_op")
    plan.foreach {
      case Seq("batch", id, lo, hi) =>
        h.span("op", "streaming.process_batch", s"batch $id") {
          CorpusStream.processBatch(
            docs.filter(col("doc_id").between(lo.toLong, hi.toLong)),
            cat, State, Output, id.toLong)
        }
      case Seq("remove", ids) =>
        val doomed = ids.split(',').map(_.toLong).toSeq
        h.span("write", "streaming.remove_docs", s"remove ${doomed.size}") {
          CorpusStream.removeDocs(cat, State, Output,
            spark.createDataFrame(doomed.map(Tuple1(_))).toDF("doc_id"))
        }
    }
    h.mark("last_op")
    if (!prebuild) {
      h.span("check", "check", "read_output") {
        h.save(CorpusStream.readOutput(cat, Output)
          .select(col("doc_id"), col("lang"), col("n_toks"))
          .orderBy(col("doc_id")), "chain")
      }
      Files.writeString(Paths.get(s"${h.work}/oracle_sql.json"),
        s"""{"dp03_incremental_corpus":${Json.str(graft.SparkEntry
          .oracleSql("dp03_incremental_corpus"))}}""")
    }
  }

  /** The code paths of the timed calls, over the tiny corpus in a
    * catalog of its own: a batch, a compaction (a cadence of 1 instead of
    * the default, so it comes with the second batch) and a takedown. */
  def warm(h: Harness, dir: String): Unit = h.span("warm", "warm", "chain") {
    val docs = h.spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val cat = new TableCatalog(h.spark, s"${h.work}/warm_wh")
    (0 until 2).foreach { b =>
      CorpusStream.processBatch(
        docs.filter(col("doc_id").between(b * 20L, b * 20L + 19L)), cat,
        "w_seen", "w_out", b.toLong, compactEvery = 1)
    }
    CorpusStream.removeDocs(cat, "w_seen", "w_out",
      docs.filter(col("doc_id") === 3L).select(col("doc_id")))
  }
}

/** `ann_serve`: one SQ8 index over a generated corpus. Plan lines:
  * `build <hi>` (ids 0..hi), `probe <qids>`, `probe_filtered <qids>
  * <labels>` (ops), `append <lo> <hi>`, `delete <ids>` and `compact`
  * (writes). A negative query id `-1-x` is an echo: a copy of vector `x`
  * under a query id of its own, whose top hit must be `x` itself while
  * `x` is live. Every probe is then compared with the fit-inline
  * `Ann.sq8TopK` over the live set at its moment. */
object Serve {
  val Index = "srv"
  val K = 10

  final case class Probe(qids: Seq[Long], labels: Option[Seq[Int]],
                         liveHi: Long, deleted: Set[Long], rows: Seq[Row])

  /** The query frame of `qids`: corpus rows, plus re-keyed copies for
    * echoes (a vector may be asked for both plainly and as an echo). */
  def queries(corpus: DataFrame, qids: Seq[Long]): DataFrame = {
    val (echo, plain) = qids.partition(_ < 0)
    val id = col("vec_id")
    val rows = corpus.filter(id.isin(plain: _*))
      .select(id, col("embedding"))
    if (echo.isEmpty) rows
    else rows.unionByName(corpus.filter(id.isin(echo.map(-1 - _): _*))
      .select((lit(-1L) - id).as("vec_id"), col("embedding")))
  }

  def run(h: Harness, plan: Seq[Seq[String]], dataDir: String,
          warmDir: String): Unit = {
    val spark = h.spark
    val corpus = spark.read.parquet(s"$dataDir/embeddings.parquet").cache()
    corpus.count()
    val cat = new TableCatalog(spark, s"${h.work}/wh")
    warm(h, warmDir)
    def ids(s: String) = s.split(',').map(_.toLong).toSeq
    def allowed(labels: Seq[Int]) =
      corpus.filter(col("label").isin(labels: _*)).select(col("vec_id"))
    var liveHi = -1L
    var deleted = Set.empty[Long]
    val probes = mutable.ArrayBuffer.empty[Probe]
    def probe(layer: String, q: Seq[Long], labels: Option[Seq[Int]]) = {
      val rows = h.span("op", layer, s"probe ${q.mkString(",")}") {
        AnnIndex.sq8TopKFromIndex(cat, Index, queries(corpus, q), "vec_id",
          "embedding", K, allowedIds = labels.map(allowed),
          allowedIdCol = "vec_id").collect().toSeq
      }
      probes += Probe(q, labels, liveHi, deleted, rows)
    }
    h.mark("first_op")
    plan.foreach {
      case Seq("build", hi) =>
        h.span("build", "ann.build", "build") {
          AnnIndex.buildSq8(cat, corpus.filter(col("vec_id") <= hi.toLong),
            "vec_id", "embedding", Index)
        }
        liveHi = hi.toLong
      case Seq("probe", q) => probe("ann.probe", ids(q), None)
      case Seq("probe_filtered", q, labels) =>
        probe("ann.probe_filtered", ids(q),
          Some(labels.split(',').map(_.toInt).toSeq))
      case Seq("append", lo, hi) =>
        h.span("write", "ann.append", s"append $lo-$hi") {
          AnnIndex.appendSq8(cat,
            corpus.filter(col("vec_id").between(lo.toLong, hi.toLong)),
            "vec_id", "embedding", Index)
        }
        liveHi = hi.toLong
      case Seq("delete", d) =>
        h.span("write", "ann.delete", "delete") {
          AnnIndex.deleteIds(cat,
            spark.createDataFrame(ids(d).map(Tuple1(_))).toDF("vec_id"),
            "vec_id", Index)
        }
        deleted ++= ids(d)
      case Seq("compact") =>
        h.span("write", "ann.compact", "compact") {
          AnnIndex.compactSegs(cat, Index)
        }
    }
    h.mark("last_op")
    verify(h, corpus, probes.toSeq)
  }

  /** The ann12 contract, per probe: bit-identical to the fit-inline
    * top-k over the live set (built + appended - deleted) at that
    * moment, restricted to the allowed ids for a filtered probe. Probes
    * that saw the same live set and filter share one reference call;
    * the calls run side by side. Deleted ids must never be returned,
    * and an echo of a live id must find that id first. */
  def verify(h: Harness, corpus: DataFrame, probes: Seq[Probe]): Unit =
    h.span("check", "check", "probes") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val groups = probes.groupBy(p => (p.liveHi, p.deleted, p.labels)).toSeq
      val refs = try Await.result(Future.sequence(groups.map {
        case ((liveHi, deleted, labels), ps) => Future {
          var live = corpus.filter(col("vec_id") <= liveHi)
          if (deleted.nonEmpty)
            live = live.filter(!col("vec_id").isin(deleted.toSeq: _*))
          labels.foreach(l => live = live.filter(col("label").isin(l: _*)))
          Ann.sq8TopK(live, queries(corpus, ps.flatMap(_.qids).distinct),
            "vec_id", "embedding", K).collect().toSeq.groupBy(_.getLong(0))
        }
      }), Duration.Inf) finally pool.shutdown()
      groups.zip(refs).foreach { case ((_, ps), ref) =>
        ps.foreach { p =>
          val want = p.qids.sorted.flatMap(q =>
            ref.getOrElse(q, Seq.empty).sortBy(_.getInt(1)))
          val got = p.rows.sortBy(r => (r.getLong(0), r.getInt(1)))
          val name = s"probe ${p.qids.mkString(",")}"
          val diff = got.zipAll(want, null, null).filter { case (a, b) =>
            a != b }.take(4).map { case (a, b) => s"got $a want $b" }
          h.check(name, got == want, diff.mkString("; "))
          val hits = got.map(_.getLong(2)).toSet
          h.check(s"$name deleted-absent", (hits & p.deleted).isEmpty)
          val echoes = p.qids.filter(_ < 0).map(q => -1 - q)
            .filter(x => x <= p.liveHi && !p.deleted(x))
          val firsts = got.filter(_.getInt(1) == 1)
            .map(r => r.getLong(0) -> r.getLong(2)).toMap
          if (p.labels.isEmpty)
            h.check(s"$name live-echo-first",
              echoes.forall(x => firsts.get(-1 - x).contains(x)))
        }
      }
    }

  /** Build a tiny index of its own and probe it with the same query
    * shapes as the timed probes, plain and filtered. */
  def warm(h: Harness, dir: String): Unit = h.span("warm", "warm", "serve") {
    val e = h.spark.read.parquet(s"$dir/embeddings.parquet")
    val cat = new TableCatalog(h.spark, s"${h.work}/warm_wh")
    AnnIndex.buildSq8(cat, e, "vec_id", "embedding", "w")
    AnnIndex.sq8TopKFromIndex(cat, "w", queries(e, Seq(-4L, 1L, 2L)),
      "vec_id", "embedding", K).collect()
    AnnIndex.sq8TopKFromIndex(cat, "w", queries(e, Seq(-6L, 3L, 4L)),
      "vec_id", "embedding", K,
      allowedIds = Some(e.filter(col("label") < 5).select(col("vec_id"))),
      allowedIdCol = "vec_id").collect()
  }
}

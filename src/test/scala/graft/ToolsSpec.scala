package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Trace

class ToolsSpec extends SparkSpec {
  test("the library's entry points are exactly Bench, Verify, Trace and " +
       "ExplainDump") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src)
          .map(_.group(1)).getOrElse("")
        "def main\\(".r.findAllMatchIn(src).map { m =>
          val obj = "object (\\w+)".r.findAllMatchIn(src.take(m.start))
            .map(_.group(1)).toSeq.last
          s"$pkg.$obj"
        }
      }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.tools.Trace",
      "graft.tools.ExplainDump"))
  }

  test("Trace.record counts the block's jobs under their label, and " +
       "nothing run before or after it") {
    val sc = spark.sparkContext
    def labelled(label: String)(f: => Unit): Unit = {
      sc.setJobDescription(label)
      try f finally sc.setJobDescription(null)
    }
    labelled("trace-before")(spark.range(1000).count())
    val (_, rec) = Trace.record(spark) {
      labelled("trace-inside") {
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
          .groupBy("k").count().collect()
      }
    }
    labelled("trace-after")(spark.range(1000).count())
    val byLabel = rec.byLabel
    assert(!byLabel.contains("trace-before"), byLabel)
    assert(!byLabel.contains("trace-after"), byLabel)
    assert(!byLabel.keys.exists(_.startsWith("Trace: drain")), byLabel)
    val inside = byLabel("trace-inside")
    assert(inside.jobs >= 1 && inside.stages >= 1 && inside.tasks > 0,
      inside)
  }

  test("every Par.concurrently lane in the library is a site with a " +
       "recorded verdict (ROADMAP item 6)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    // each lane site named by its file and the nearest object member
    // `def` above it
    val owner = "(?m)^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val file = p.getFileName.toString.stripSuffix(".scala")
        "Par\\.concurrently\\(".r.findAllMatchIn(src).map { m =>
          val o = owner.findAllMatchIn(src.take(m.start)).toSeq.last
          s"$file.${o.group(1)}"
        }
      }.toSeq.sorted
    assert(sites == Seq(
      "CorpusStream.compactStateLocked", // fold lanes
      "CorpusStream.processBatchInner", // write lanes
      "LlmQueries.servingComposition", // dp06/dp12 three feeds
      "ShardExport.exportJsonl", // JSONL beside the membership index
      "ShardExport.purgeAll"), // per-export purges
      sites)
  }
}

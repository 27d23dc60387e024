package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{SchemaRegistry, TableCatalog}
import graft.io.{CsvSink, ExcelSource, ExcelXlsx, FileFetcher,
  HttpCsvSource, ZipCsvSource}
import graft.io.Connectors
import graft.ops.Enrich

class CatalogIoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = graft.core.Scratch.dir(p)

  test("SchemaRegistry parses the BigQuery-JSON format") {
    val json =
      """[{"name": "titre", "type": "STRING", "mode": "NULLABLE"},
          {"name": "rank", "type": "FLOAT", "mode": "NULLABLE"},
          {"name": "count", "type": "INTEGER", "mode": "REQUIRED"},
          {"name": "date_extract", "type": "DATE", "mode": "NULLABLE"}]"""
    val st = SchemaRegistry.fromJson(json)
    assert(st == StructType(Seq(
      StructField("titre", StringType, true),
      StructField("rank", DoubleType, true),
      StructField("count", LongType, false),
      StructField("date_extract", DateType, true))))
    val aligned = SchemaRegistry.align(
      Seq(("a", 1, 2, "2020-01-01")).toDF("titre", "rank", "count",
        "date_extract"), st)
    assert(aligned.schema.map(_.dataType) ==
      Seq(StringType, DoubleType, LongType, DateType))
  }

  test("TableCatalog partition overwrite is idempotent") {
    val cat = new TableCatalog(spark, tmp("cat_"))
    val df = Seq(("2020-01-01", 1), ("2020-01-01", 2), ("2020-01-02", 3))
      .toDF("d", "v")
    cat.writePartition(df, "t", "d", "2020-01-01")
    cat.writePartition(df, "t", "d", "2020-01-02")
    cat.writePartition(df, "t", "d", "2020-01-01") // rerun same day
    assert(cat.read("t").count() == 3)
    assert(cat.listPartitions("t", "d").map(_.toString) ==
      Seq("2020-01-01", "2020-01-02"))
  }

  test("createFromSchema yields an empty table with zero partitions") {
    val cat = new TableCatalog(spark, tmp("cat3_"))
    val schema = StructType(Seq(
      StructField("titre", StringType, true),
      StructField("rank", DoubleType, true),
      StructField("date_extract", StringType, true)))
    cat.createFromSchema("t", schema)
    assert(cat.listPartitions("t", "date_extract").isEmpty)
    val fresh = cat.read("t")
    assert(fresh.schema == schema)
    assert(fresh.count() == 0)
    // first real partition write then behaves like any other table
    val df = Seq(("a", 1.0, "2020-01-01")).toDF(
      "titre", "rank", "date_extract")
    cat.writePartition(df, "t", "date_extract", "2020-01-01")
    assert(cat.read("t").count() == 1)
    assert(cat.listPartitions("t", "date_extract").map(_.toString) ==
      Seq("2020-01-01"))
  }

  test("ZipCsvSource rejects zip-slip entry names") {
    val stage = tmp("zipslip_")
    val zipPath = s"$stage/evil.zip"
    val z = new ZipOutputStream(new FileOutputStream(zipPath))
    z.putNextEntry(new ZipEntry("../../escape.csv"))
    z.write("k;v\n1;a".getBytes("UTF-8"))
    z.closeEntry(); z.close()
    intercept[SecurityException] {
      new ZipCsvSource(FileFetcher).read(spark, zipPath)
    }
  }

  test("ZipCsvSource reads nested entry paths") {
    val stage = tmp("zipnest_")
    val zipPath = s"$stage/n.zip"
    val z = new ZipOutputStream(new FileOutputStream(zipPath))
    z.putNextEntry(new ZipEntry("sub/dir/a.csv"))
    z.write("k;v\n7;n".getBytes("UTF-8"))
    z.closeEntry(); z.close()
    val df = new ZipCsvSource(FileFetcher).read(spark, zipPath)
    assert(df.as[(Int, String)].collect().toSeq == Seq((7, "n")))
  }

  test("writeIfAbsent is a no-op when the table exists") {
    val cat = new TableCatalog(spark, tmp("cat2_"))
    assert(cat.writeIfAbsent(Seq(1, 2, 3).toDF("v"), "t"))
    assert(!cat.writeIfAbsent(Seq(9).toDF("v"), "t"))
    assert(cat.read("t").count() == 3)
  }

  test("CsvSink writes ';' CSV with a pandas-style index column") {
    val dir = tmp("sink_") + "/out"
    CsvSink.write(Seq(("b", 2), ("a", 1)).toDF("name", "v"), dir,
      Seq(col("name")))
    val back = spark.read.option("header", "true").option("sep", ";")
      .option("inferSchema", "true").csv(dir)
      .orderBy($"index").as[(Int, String, Int)].collect()
    assert(back.toSeq == Seq((0, "a", 1), (1, "b", 2)))
  }

  test("ZipCsvSource concatenates all members") {
    val stage = tmp("zip_")
    def csvBytes(rows: Seq[String]) =
      ("k;v" +: rows).mkString("\n").getBytes("UTF-8")
    val zipPath = s"$stage/x.zip"
    val z = new ZipOutputStream(new FileOutputStream(zipPath))
    z.putNextEntry(new ZipEntry("a.csv")); z.write(csvBytes(Seq("1;a")))
    z.closeEntry()
    z.putNextEntry(new ZipEntry("b.csv")); z.write(csvBytes(Seq("2;b")))
    z.closeEntry(); z.close()
    val df = new ZipCsvSource(FileFetcher).read(spark, zipPath)
    assert(df.orderBy($"k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("HttpCsvSource drops malformed lines under a declared schema") {
    val p = java.nio.file.Paths.get(tmp("csv_"), "in.csv")
    Files.write(p, "a;b\n1;x\nnot-an-int;y\n2;z".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("a", IntegerType, true),
      StructField("b", StringType, true)))
    val df = new HttpCsvSource(FileFetcher)
      .read(spark, p.toString, schema = Some(schema))
    // note: count() alone parses no columns (CSV column pruning), so
    // malformed rows are only dropped when fields are actually read
    assert(df.select($"a", $"b").collect().length == 2)
  }

  test("JSONL round-trip preserves newlines, quotes, tabs and non-BMP " +
       "text under an explicit schema (the s11 scan path)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val stage = tmp("graft_s11t_")
    val nasty = Seq(
      (1L, "line one\nline two\t\"quoted\" back\\slash"),
      (2L, "unicode: café 中文 😀 end"),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    nasty.coalesce(1).write.mode("overwrite").json(s"$stage/out")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val back = spark.read.schema(schema).json(s"$stage/out")
      .orderBy($"doc_id")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // Spark's JSON writer drops null fields; the read surfaces them as
    // null again — the round-trip is value-identical
    assert(back == Seq(
      (1L, "line one\nline two\t\"quoted\" back\\slash"),
      (2L, "unicode: café 中文 😀 end"),
      (3L, ""), (4L, null)))
  }

  test("ExcelSource round-trips a written xlsx with type inference") {
    val p = s"${tmp("xlsx_")}/t.xlsx"
    ExcelXlsx.write(p, "Feuil1", Seq("Code Objet Social", "famille", "w"),
      Seq(Seq(9220L, "culture", 1.5), Seq(9240L, "chant & \"choral\"", 2.0),
          Seq(11235L, null, 3.5)))
    val df = new ExcelSource(FileFetcher).read(spark, p)
    assert(df.schema.map(_.dataType) ==
      Seq(LongType, StringType, DoubleType))
    assert(df.columns.toSeq == Seq("Code Objet Social", "famille", "w"))
    val rows = df.orderBy($"`Code Objet Social`")
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(rows == Seq((9220L, "culture", 1.5),
      (9240L, "chant & \"choral\"", 2.0), (11235L, null, 3.5)))
  }

  test("ExcelSource handles sparse cells, inline strings, sheet names") {
    // hand-built workbook: the writer only emits the dense shared-string
    // layout, so craft the parts Excel itself can produce — a second
    // sheet, inlineStr cells, and a row that skips column B entirely
    val dir = tmp("xlsx_raw_")
    val z = new ZipOutputStream(new FileOutputStream(s"$dir/r.xlsx"))
    def put(n: String, s: String): Unit = {
      z.putNextEntry(new ZipEntry(n)); z.write(s.getBytes("UTF-8"))
      z.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="x"><sheets>
        |<sheet name="first" sheetId="1" r:id="rId1"/>
        |<sheet name="second" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin)
    put("xl/worksheets/sheet1.xml", "<worksheet><sheetData/></worksheet>")
    put("xl/worksheets/sheet2.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>
        |  <c r="B1" t="inlineStr"><is><t>b</t></is></c></row>
        |<row r="2"><c r="A2"><v>7</v></c></row>
        |<row r="3"><c r="B3" t="inlineStr"><is><t>only-b</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.close()
    val df = new ExcelSource(FileFetcher)
      .read(spark, s"$dir/r.xlsx", sheet = Some("second"))
    val rows = df.collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(rows == Seq((7L, null), (null, "only-b")))
  }

  test("TableCatalog runs entirely over an explicit file: URI " +
       "(no raw-local-path leakage in the metadata layer)") {
    // a java.io.File-based catalog would treat "file:/..." as a relative
    // path named "file:" and every metadata op would silently miss; the
    // Hadoop FileSystem port must resolve the scheme end-to-end
    val cat = new TableCatalog(spark, "file:" + tmp("caturi_"))
    val df = Seq(("2020-01-01", 1L, "x"), ("2020-01-02", 2L, "y"))
      .toDF("d", "pk", "v")
    assert(!cat.tableExists("t"))
    cat.writePartition(df, "t", "d", "2020-01-01")
    cat.writePartition(df, "t", "d", "2020-01-02")
    cat.writeSubPartitioned(df, "t2", "d", "2020-01-02", "pk")
    assert(cat.tableExists("t") && cat.tableExists("t2"))
    assert(cat.listPartitions("t", "d") ==
      Seq("2020-01-01", "2020-01-02"))
    assert(cat.listSubPartitions("t", "d", "2020-01-01", "pk").isEmpty)
    assert(cat.listSubPartitions("t2", "d", "2020-01-02", "pk") == Seq("2"))
    assert(cat.partitionHasDataFiles("t", "d", "2020-01-01"))
    assert(!cat.partitionHasDataFiles("t2", "d", "2020-01-02")) // pk= dirs only
    assert(cat.partitionCommitted("t", "d", "2020-01-01"))
    assert(cat.partitionCommitted("t2", "d", "2020-01-02"))
    assert(cat.read("t").count() == 2)
    assert(cat.read("t2").count() == 1)
    cat.deletePartition("t", "d", "2020-01-01")
    assert(cat.listPartitions("t", "d") == Seq("2020-01-02"))
    assert(cat.read("t").count() == 1)
  }

  test("partitionRowCount sums the footers under a sub-partitioned " +
       "partition and of a plain one, skipping what reads skip") {
    val wh = tmp("catrows_")
    val cat = new TableCatalog(spark, wh)
    val df = (0 until 40).map(i => ("a", i.toLong % 5, i))
      .toDF("d", "pk", "v")
    cat.writeSubPartitioned(df.repartition(3), "t2", "d", "a", "pk")
    assert(cat.listSubPartitions("t2", "d", "a", "pk").size == 5)
    assert(cat.partitionRowCount("t2", "d", "a") ==
      spark.read.parquet(cat.partitionPath("t2", "d", "a")).count())
    assert(cat.partitionRowCount("t2", "d", "a") == 40)
    cat.writePartition(df.repartition(2), "t", "d", "a")
    assert(!cat.partitionHasDataFiles("t2", "d", "a"))
    assert(cat.partitionHasDataFiles("t", "d", "a"))
    assert(cat.partitionRowCount("t", "d", "a") == 40)
    // a half-copied upload is invisible to reads and counts alike
    val dir = new File(cat.partitionPath("t", "d", "a"))
    val part = dir.listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(part.toPath, new File(dir, part.getName + "._COPYING_")
      .toPath)
    assert(cat.partitionRowCount("t", "d", "a") ==
      cat.read("t").count())
    assert(cat.partitionRowCount("t", "d", "a") == 40)
    assert(cat.partitionRowCount("t", "d", "absent") == 0)
  }

  test("partitionCommitted rejects a crashed half-write") {
    val cat = new TableCatalog(spark, tmp("catcommit_"))
    cat.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    assert(cat.partitionCommitted("t", "d", "a"))
    // a JVM death mid-write leaves the dir without _SUCCESS (and
    // possibly with a _temporary staging dir) — both must fail the probe
    val dir = java.nio.file.Paths.get(cat.partitionPath("t", "d", "b"))
    java.nio.file.Files.createDirectories(dir)
    assert(!cat.partitionCommitted("t", "d", "b"))
    val cdir = java.nio.file.Paths.get(cat.partitionPath("t", "d", "a"))
    java.nio.file.Files.createDirectories(cdir.resolve("_temporary"))
    assert(!cat.partitionCommitted("t", "d", "a"))
  }

  test("table lease lock: a second writer is rejected while held, a " +
       "stale lock is broken, and compactState skips instead of " +
       "corrupting") {
    val cat = new TableCatalog(spark, tmp("catlock_"))
    cat.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    // first writer holds the lock; a second writer must be refused
    assert(cat.tryAcquireTableLock("t", owner = "w1"))
    assert(!cat.tryAcquireTableLock("t", owner = "w2"))
    intercept[java.util.ConcurrentModificationException] {
      cat.withTableLock("t") { fail("must not enter the locked section") }
    }
    // the table stays readable under someone else's lock (the lock
    // file is underscore-invisible to discovery)
    assert(cat.read("t").count() == 1)
    cat.releaseTableLock("t")
    // released: the next writer proceeds and releases on exit
    assert(cat.withTableLock("t") { 42 } == 42)
    assert(cat.tryAcquireTableLock("t", owner = "w3"))
    // a crashed writer's lock (older than the lease) is broken
    cat.releaseTableLock("t")
    assert(cat.tryAcquireTableLock("t", owner = "crashed"))
    val lockFile = new File(cat.tablePath("t"), "_lock")
    assert(lockFile.setLastModified(
      System.currentTimeMillis() - cat.DefaultLeaseMs - 1000))
    assert(cat.tryAcquireTableLock("t", owner = "w4"))
    cat.releaseTableLock("t")
    // a live foreign lock on a CorpusStream state table makes the
    // periodic compaction SKIP (returns false, moves nothing) rather
    // than interleave with the holder's deletes
    val wh2 = tmp("catlock2_")
    val cat2 = new TableCatalog(spark, wh2)
    // sketch rows in the current state format: (id, sh, sb)
    def skRow(b: String, id: Long) =
      Seq((b, id, Seq(id, id + 1), Seq(id, id + 1)))
        .toDF("batch_id", "id", "sh", "sb")
    cat2.writePartition(skRow("0", 1L), "s", "batch_id", "0")
    cat2.writePartition(skRow("1", 2L), "s", "batch_id", "1")
    assert(cat2.tryAcquireTableLock("s", owner = "other-pipeline"))
    assert(!graft.streaming.CorpusStream.compactState(cat2, "s", "99"))
    assert(cat2.listPartitions("s", "batch_id") == Seq("0", "1"))
    cat2.releaseTableLock("s")
    assert(graft.streaming.CorpusStream.compactState(cat2, "s", "99"))
    assert(cat2.listPartitions("s", "batch_id") == Seq("c1"))
    // and the compaction released its own lock on the way out
    assert(cat2.tryAcquireTableLock("s"))
    cat2.releaseTableLock("s")
  }

  test("stale-lease break race: N concurrent waiters on one expired " +
       "lock yield exactly ONE holder (break-intent arbitration)") {
    val wh = tmp("catlock_race_")
    val boot = new TableCatalog(spark, wh)
    boot.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    assert(boot.tryAcquireTableLock("t", owner = "crashed"))
    val lockFile = new File(boot.tablePath("t"), "_lock")
    assert(lockFile.setLastModified(
      System.currentTimeMillis() - boot.DefaultLeaseMs - 60000))
    // separate catalog instances = separate writer processes: no
    // shared token state between the racers
    val n = 8
    val gate = new java.util.concurrent.CyclicBarrier(n)
    val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        val cat = new TableCatalog(spark, wh)
        gate.await()
        if (cat.tryAcquireTableLock("t", owner = s"w$i"))
          wins.add(s"w$i")
      })
      t.start(); t
    }
    threads.foreach(_.join(30000))
    assert(wins.size == 1, s"winners: $wins")
    // the surviving lock is the winner's (its owner prefixes the
    // token) and it is LIVE: a late waiter is refused
    val content = boot.readMarker("t", "_lock").getOrElse("")
    assert(content.startsWith(wins.peek() + ":"), content)
    assert(!boot.tryAcquireTableLock("t", owner = "late"))
  }

  test("an overrun holder's release cannot delete the successor's " +
       "lock, and a crashed breaker's intent file ages out") {
    val wh = tmp("catlock_fence_")
    val a = new TableCatalog(spark, wh)
    val b = new TableCatalog(spark, wh)
    a.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    // A takes the lock with a tiny lease and overruns it
    assert(a.tryAcquireTableLock("t", owner = "A", leaseMs = 100))
    Thread.sleep(150)
    // B breaks the expired lock and holds
    assert(b.tryAcquireTableLock("t", owner = "B", leaseMs = 100))
    // A's (fenced) release sees B's token and must NOT delete it
    a.releaseTableLock("t")
    val c = new TableCatalog(spark, wh)
    assert(!c.tryAcquireTableLock("t", owner = "C", leaseMs = 60000))
    b.releaseTableLock("t")
    assert(c.tryAcquireTableLock("t", owner = "C", leaseMs = 60000))
    c.releaseTableLock("t")
    // a crashed breaker's leftover _lock.break blocks one attempt
    // (cleanup), then the next proceeds
    assert(a.tryAcquireTableLock("t", owner = "dead", leaseMs = 100))
    val root = new File(a.tablePath("t"))
    assert(new File(root, "_lock").setLastModified(
      System.currentTimeMillis() - 60000))
    val intent = new File(root, "_lock.break")
    val out = new FileOutputStream(intent)
    try out.write("dead-breaker:x".getBytes("UTF-8")) finally out.close()
    assert(intent.setLastModified(System.currentTimeMillis() - 60000))
    assert(!b.tryAcquireTableLock("t", owner = "B2", leaseMs = 100))
    assert(!intent.exists(), "stale intent must have been cleared")
    assert(b.tryAcquireTableLock("t", owner = "B2", leaseMs = 100))
    b.releaseTableLock("t")
  }

  test("withTableLock heartbeats: a section LONGER than the lease " +
       "keeps its lock; a lock broken mid-section fails loudly") {
    val wh = tmp("catlock_beat_")
    val a = new TableCatalog(spark, wh)
    val b = new TableCatalog(spark, wh)
    a.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    // the section runs 3x the lease; the heartbeat (lease/3) keeps
    // the mtime fresh, so B can never break in
    val r = a.withTableLock("t", owner = "A", leaseMs = 400) {
      Thread.sleep(600)
      val mid = b.tryAcquireTableLock("t", owner = "B", leaseMs = 400)
      Thread.sleep(600)
      val late = b.tryAcquireTableLock("t", owner = "B", leaseMs = 400)
      (mid, late)
    }
    assert(r == (false, false))
    // lock released on exit
    assert(b.tryAcquireTableLock("t", owner = "B", leaseMs = 400))
    b.releaseTableLock("t")
    // pathological store: the lock is replaced under a live section
    // (simulating a heartbeat that could not reach the store for a
    // full lease) — the section must fail loudly at its end
    val lockFile = new File(a.tablePath("t"), "_lock")
    intercept[java.util.ConcurrentModificationException] {
      a.withTableLock("t", owner = "A", leaseMs = 300) {
        val out2 = new FileOutputStream(lockFile) // truncate + replace
        try out2.write("usurper:y".getBytes("UTF-8")) finally out2.close()
        // drop the local ChecksumFileSystem's sidecar so the replaced
        // content reads back (a real usurper writes both)
        new File(a.tablePath("t"), "._lock.crc").delete()
        Thread.sleep(400) // > one heartbeat period (100 ms)
        "completed"
      }
    }
    // the foreign lock survives A's fenced release
    assert(a.readMarker("t", "_lock").contains("usurper:y"))
    new TableCatalog(spark, wh).releaseTableLock("t") // admin cleanup
  }

  test("withTableLockIfFree: skips (None) under a foreign lock, and a " +
       "section LONGER than the lease keeps its heartbeated hold") {
    val wh = tmp("catlock_iffree_")
    val a = new TableCatalog(spark, wh)
    val b = new TableCatalog(spark, wh)
    a.writePartition(Seq(("a", 1)).toDF("d", "v"), "t", "d", "a")
    // foreign holder: the if-free form defers instead of throwing
    assert(a.tryAcquireTableLock("t", owner = "holder"))
    assert(b.withTableLockIfFree("t", owner = "B") {
      fail("must not enter under a foreign lock") }.isEmpty)
    a.releaseTableLock("t")
    // free: the section runs past the lease (the compaction shape)
    // and the heartbeat keeps B out throughout
    val r = a.withTableLockIfFree("t", owner = "A", leaseMs = 400) {
      Thread.sleep(600)
      val mid = b.tryAcquireTableLock("t", owner = "B", leaseMs = 400)
      Thread.sleep(600)
      val late = b.tryAcquireTableLock("t", owner = "B", leaseMs = 400)
      (mid, late)
    }
    assert(r.contains((false, false)))
    // released on exit
    assert(b.tryAcquireTableLock("t", owner = "B", leaseMs = 400))
    b.releaseTableLock("t")
  }

  test("Enrich.viaService appends a service column per partition") {
    val df = Seq((1, "addr one"), (2, "")).toDF("id", "addr")
    val out = Enrich.viaService(df, "addr", "geo")(
      () => Connectors.StubGeocoder.geocode _)
      .orderBy($"id").select($"geo").as[String].collect()
    assert(out(0).nonEmpty && out(0).contains(","))
    assert(out(1) == "")
  }

  test("Versioned tables: snapshots commit pointer-last, orphaned " +
       "crash dirs stay invisible and are overwritten convergently, " +
       "vacuum keeps the newest and refusals are loud") {
    import graft.catalog.Versioned
    val cat = new TableCatalog(spark, tmp("ver_"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k").as[(Int, String)].collect().toSeq
    assert(Versioned.currentVersion(cat, "t").isEmpty)
    assert(Versioned.versions(cat, "t").isEmpty)
    intercept[IllegalArgumentException](Versioned.read(cat, "t"))
    assert(Versioned.write(cat,
      Seq((1, "a"), (2, "b")).toDF("k", "s"), "t") == 1L)
    assert(Versioned.write(cat,
      Seq((1, "a2")).toDF("k", "s"), "t") == 2L)
    assert(Versioned.versions(cat, "t") == Seq(1L, 2L))
    assert(rows(Versioned.read(cat, "t")) == Seq((1, "a2")))
    assert(rows(Versioned.readAsOf(cat, "t", 1)) ==
      Seq((1, "a"), (2, "b")))
    // crash window: a data dir written WITHOUT the pointer flip (the
    // job finished, the commit didn't) — invisible to every read path
    Seq((9, "orphan")).toDF("k", "s").write.mode("overwrite")
      .parquet(cat.partitionPath("t", "v", "3"))
    assert(Versioned.versions(cat, "t") == Seq(1L, 2L))
    assert(rows(Versioned.read(cat, "t")) == Seq((1, "a2")))
    intercept[IllegalArgumentException](Versioned.readAsOf(cat, "t", 3))
    // ...and the next committed write overwrites the orphan in place
    assert(Versioned.write(cat,
      Seq((3, "c")).toDF("k", "s"), "t") == 3L)
    assert(rows(Versioned.readAsOf(cat, "t", 3)) == Seq((3, "c")))
    // vacuum drops the oldest, never the current; a dropped version
    // is refused naming the retention
    assert(Versioned.vacuum(cat, "t", keepLast = 2) == Seq(1L))
    assert(Versioned.versions(cat, "t") == Seq(2L, 3L))
    val ex = intercept[IllegalArgumentException](
      Versioned.readAsOf(cat, "t", 1))
    assert(ex.getMessage.contains("vacuum"), ex.getMessage)
    assert(rows(Versioned.readAsOf(cat, "t", 2)) == Seq((1, "a2")))
    intercept[IllegalArgumentException](
      Versioned.vacuum(cat, "t", keepLast = 0))
    // beyond-current and damaged-pointer reads fail loudly
    intercept[IllegalArgumentException](Versioned.readAsOf(cat, "t", 9))
    cat.writeMarker("t", "_current", "not-a-number")
    intercept[IllegalStateException](Versioned.read(cat, "t"))
  }

  test("Versioned.diff: adds/removes/changes by key, null-safe, " +
       "keys-only tables diff by presence, schema drift refused") {
    import graft.catalog.Versioned
    val cat = new TableCatalog(spark, tmp("vdiff_"))
    Versioned.write(cat, Seq((1, Some("a")), (2, Some("b")),
      (3, None: Option[String]), (4, Some("d"))).toDF("k", "s"), "t")
    Versioned.write(cat, Seq((1, Some("a")), (2, Some("B")),
      (3, Some("now")), (5, Some("e"))).toDF("k", "s"), "t")
    val d = Versioned.diff(cat, "t", 1, 2, Seq("k"))
      .orderBy($"k").as[(Int, String)].collect().toSeq
    // 1 unchanged (dropped), 2 changed, 3 null->value = changed
    // (null-safe), 4 removed, 5 added
    assert(d == Seq((2, "changed"), (3, "changed"), (4, "removed"),
      (5, "added")))
    // keys-only: presence diff, never 'changed'
    Versioned.write(cat, Seq(1, 2, 3).toDF("k"), "ko")
    Versioned.write(cat, Seq(2, 3, 4).toDF("k"), "ko")
    assert(Versioned.diff(cat, "ko", 1, 2, Seq("k"))
      .orderBy($"k").as[(Int, String)].collect().toSeq ==
      Seq((1, "removed"), (4, "added")))
    // a snapshot written with a different schema refuses to diff
    Versioned.write(cat, Seq((9, "x", 1.0)).toDF("k", "s", "extra"),
      "t")
    intercept[IllegalArgumentException](
      Versioned.diff(cat, "t", 1, 3, Seq("k")))
  }

  test("Versioned.restore rolls back as a NEW version — history " +
       "preserved, vacuumed targets refused") {
    import graft.catalog.Versioned
    val cat = new TableCatalog(spark, tmp("vrest_"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k").as[(Int, String)].collect().toSeq
    Versioned.write(cat, Seq((1, "good"), (2, "good")).toDF("k", "s"),
      "t")
    Versioned.write(cat, Seq((1, "bad")).toDF("k", "s"), "t")
    assert(Versioned.restore(cat, "t", 1) == 3L)
    // current content is v1's; the bad v2 stays inspectable
    assert(rows(Versioned.read(cat, "t")) ==
      Seq((1, "good"), (2, "good")))
    assert(rows(Versioned.readAsOf(cat, "t", 2)) == Seq((1, "bad")))
    assert(Versioned.versions(cat, "t") == Seq(1L, 2L, 3L))
    // a vacuumed target cannot be restored
    Versioned.vacuum(cat, "t", keepLast = 2)
    val ex = intercept[IllegalArgumentException](
      Versioned.restore(cat, "t", 1))
    assert(ex.getMessage.contains("vacuum"), ex.getMessage)
  }

  test("Versioned.merge: upsert/delete by key commits a new version, " +
       "pre-merge snapshot unchanged; ambiguous, NULL-key, NULL-op " +
       "and misaligned-schema batches refused loudly") {
    import graft.catalog.Versioned
    val cat = new TableCatalog(spark, tmp("vmerge_"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k").as[(Int, String)].collect().toSeq
    Versioned.write(cat,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"), "t")
    // update 1, delete 2, insert 4, unmatched delete 9 (no-op)
    val batch = Seq((1, "A", "upsert"), (2, "x", "delete"),
      (4, "d", "upsert"), (9, "x", "delete")).toDF("k", "s", "op")
    assert(Versioned.merge(cat, "t", batch, Seq("k"),
      opCol = Some("op")) == 2L)
    assert(rows(Versioned.read(cat, "t")) ==
      Seq((1, "A"), (3, "c"), (4, "d")))
    // the pre-merge snapshot still time-travels byte-identically
    assert(rows(Versioned.readAsOf(cat, "t", 1)) ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    // no op column: every row upserts
    assert(Versioned.merge(cat, "t",
      Seq((3, "C"), (5, "e")).toDF("k", "s"), Seq("k")) == 3L)
    assert(rows(Versioned.read(cat, "t")) ==
      Seq((1, "A"), (3, "C"), (4, "d"), (5, "e")))
    // ambiguous: same key twice in one batch
    val exDup = intercept[IllegalArgumentException](
      Versioned.merge(cat, "t",
        Seq((7, "x"), (7, "y")).toDF("k", "s"), Seq("k")))
    assert(exDup.getMessage.contains("multiple rows"), exDup.getMessage)
    // NULL key raises per row at evaluation
    val exNull = intercept[Exception](
      Versioned.merge(cat, "t",
        Seq((Some(8), "x"), (None: Option[Int], "y")).toDF("k", "s"),
        Seq("k")))
    assert(exNull.getMessage.contains("NULL"), exNull.getMessage)
    // NULL / unknown op refused before anything applies
    val exOp = intercept[IllegalArgumentException](
      Versioned.merge(cat, "t",
        Seq((8, "x", null: String)).toDF("k", "s", "op"), Seq("k"),
        opCol = Some("op")))
    assert(exOp.getMessage.contains("op column"), exOp.getMessage)
    intercept[IllegalArgumentException](
      Versioned.merge(cat, "t",
        Seq((8, "x", "replace")).toDF("k", "s", "op"), Seq("k"),
        opCol = Some("op")))
    // schema drift in the upsert payload refused
    intercept[IllegalArgumentException](
      Versioned.merge(cat, "t",
        Seq((8, "x", 1.0)).toDF("k", "s", "extra"), Seq("k")))
    // merging into nothing refused
    intercept[IllegalArgumentException](
      Versioned.merge(cat, "nope", Seq((1, "a")).toDF("k", "s"),
        Seq("k")))
    // nothing above committed: still at v3
    assert(Versioned.currentVersion(cat, "t").contains(3L))
  }

  test("Versioned.readHistory: all retained versions under the " +
       "unified schema — added columns NULL for older rows, type " +
       "drift refused, vacuumed versions skipped") {
    import graft.catalog.Versioned
    val cat = new TableCatalog(spark, tmp("vhist_"))
    Versioned.write(cat, Seq((1, "a"), (2, "b")).toDF("k", "s"), "t")
    Versioned.write(cat, Seq((1, "a2", 10.0)).toDF("k", "s", "extra"),
      "t")
    val h = Versioned.readHistory(cat, "t")
    assert(h.columns.toSeq == Seq("version", "k", "s", "extra"))
    assert(h.orderBy($"version", $"k")
      .as[(Long, Int, String, Option[Double])].collect().toSeq ==
      Seq((1L, 1, "a", None), (1L, 2, "b", None),
        (2L, 1, "a2", Some(10.0))))
    // vacuumed versions drop out instead of failing the whole read
    Versioned.write(cat, Seq((9, "z", 1.0)).toDF("k", "s", "extra"), "t")
    Versioned.vacuum(cat, "t", keepLast = 2)
    assert(Versioned.readHistory(cat, "t")
      .select($"version").distinct().as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    // same column name, different type: refused loudly
    Versioned.write(cat, Seq((1, 5, 1.0)).toDF("k", "s", "extra"), "t")
    val ex = intercept[IllegalArgumentException](
      Versioned.readHistory(cat, "t"))
    assert(ex.getMessage.contains("changed type"), ex.getMessage)
  }
}

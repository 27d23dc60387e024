package graft

import org.apache.spark.sql.functions._

import graft.core.{Fence, Par, Scoped, Tables}

class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("Fence preserves schema and rows") {
    val df = Seq((1L, Seq("a", "b")), (2L, Seq("c")))
      .toDF("id", "arr")
      .withColumn("n", size($"arr"))
    val fenced = Fence(df)
    if (spark.conf.get("spark.graft.fence.mode", "checkpoint") == "table") {
      // table mode: names/types/values exact; nullability widens to
      // file-scan semantics (Spark relaxes every file-source column)
      assert(fenced.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
      assert(fenced.schema.map(_.dataType) == df.schema.map(_.dataType))
    } else assert(fenced.schema == df.schema)
    assert(fenced.orderBy($"id").collect().toSeq ==
      df.orderBy($"id").collect().toSeq)
  }

  test("Par.fanOut pins the configured shuffle parallelism") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = Par.fanOut(Seq(1, 2, 3).toDF("v"))
    assert(df.rdd.getNumPartitions == n)
  }

  test("Fence block loss is recoverable by rerunning the stage, and a " +
       "stale fenced handle is never silently wrong") {
    // the documented executor-loss contract (core/Fence.scala): fenced
    // frames are cheap per-doc derivations, recomputable by re-applying
    // the fence to the same lineage. Simulate block loss by unpersisting
    // the checkpointed RDD under a materialized fence.
    val src = Seq.tabulate(100)(i => (i.toLong, s"doc $i"))
      .toDF("id", "t").withColumn("h", md5($"t"))
    val expected = src.orderBy($"id").collect().toSeq
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val fenced = Fence(src)
    assert(fenced.orderBy($"id").collect().toSeq == expected)
    // unpersist only the blocks this test created (the session is
    // shared suite-wide; other suites' fences must keep their blocks)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    // the recovery path: re-fencing the SOURCE lineage recomputes the
    // identical data (this is what an operator re-run does)
    assert(Fence(src).orderBy($"id").collect().toSeq == expected)
    // the stale handle either recomputes correctly or fails loudly —
    // local checkpoints may not survive block loss, but they must
    // never return partial/wrong data
    scala.util.Try(fenced.orderBy($"id").collect().toSeq) match {
      case scala.util.Success(rows) => assert(rows == expected)
      case scala.util.Failure(_) => // loud failure: acceptable per docs
    }
  }

  test("Fence table mode: a fenced chain computes identical results " +
       "in both modes, both fence forms spill through parquet, and " +
       "the flag is session-scoped") {
    // a chain shaped like the operators' real fences: a per-row
    // derivation (apply) feeding a shuffle-bearing aggregate (soft),
    // both referenced twice downstream
    def chain(): Seq[(String, Long, Long)] = {
      val src = Seq.tabulate(60)(i => (i.toLong, s"w${i % 7} doc $i"))
        .toDF("id", "t")
      val derived = Fence(src.withColumn("h",
        conv(substring(md5($"t"), 1, 8), 16, 10).cast("long")))
      val agg = Fence.soft(derived.groupBy(($"id" % 5).as("g"))
        .agg(sum($"h").as("sh"), count(lit(1)).as("n")))
      agg.join(agg.select($"g", $"sh".as("sh2")), Seq("g"))
        .select(concat(lit("g"), $"g").as("k"), $"sh" + $"sh2", $"n")
        .orderBy($"k").as[(String, Long, Long)].collect().toSeq
    }
    val viaCheckpoint = chain()
    spark.conf.set("spark.graft.fence.mode", "table")
    try {
      val viaTable = chain()
      assert(viaTable == viaCheckpoint)
    } finally spark.conf.set("spark.graft.fence.mode", "checkpoint")
    assert(chain() == viaCheckpoint) // flag restored, mode follows it
  }

  test("Fence table mode on a non-local master requires a configured " +
       "spill dir, loudly naming the conf (driver-local temp would be " +
       "unreadable by executors)") {
    // unconfigured + cluster master: loud, names the conf
    for (master <- Seq("yarn", "k8s://https://host:6443",
        "spark://host:7077")) {
      val ex = intercept[IllegalArgumentException] {
        Fence.requireSpillDirConfigured(master, None)
      }
      assert(ex.getMessage.contains("spark.graft.fence.dir"),
        ex.getMessage)
      assert(ex.getMessage.contains(master), ex.getMessage)
    }
    // configured dir, or any local master: fine
    Fence.requireSpillDirConfigured("yarn", Some("/shared/fences"))
    Fence.requireSpillDirConfigured("local[4]", None)
    Fence.requireSpillDirConfigured("local[*]", None)
    // and the guard is actually on the table-mode write path: the
    // suite's local master + unconfigured dir must keep working
    spark.conf.set("spark.graft.fence.mode", "table")
    try {
      assert(Fence(Seq((1L, "a")).toDF("id", "t")).count() == 1L)
    } finally spark.conf.set("spark.graft.fence.mode", "checkpoint")
  }

  test("events loader lands in the corpus era regardless of the " +
       "producer's timestamp encoding (round-8 postmortem pin)") {
    // the real testdata, whatever encoding the driver last wrote: the
    // loaded frame must be TimestampType and sit in a plausible era — a
    // silent re-encode (the r8 NANOS→MICROS incident compressed 30 days
    // into 1970) fails here loudly instead of only at the oracle gates
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // >0, not an exact count: the driver regenerates testdata between
    // rounds and this test must only fail on DECODE faults, not on a
    // resized corpus
    assert(ev.count() > 0)
    val yr = ev.agg(min(year($"ts"))).head().getInt(0)
    assert(yr > 2000, s"events.ts decoded into the wrong era: year $yr")
    // the legacy nanos flag is scoped to the events read, not the session
    assert(spark.conf.getOption(
      "spark.sql.legacy.parquet.nanosAsLong").forall(_ == "false"))
  }

  test("events loader decodes a raw-INT64-nanos producer via the footer " +
       "probe (the other legal encoding)") {
    // synthesize the nanos-producer shape: a bare INT64 ts column (no
    // logical type annotation) holding epoch nanos
    val dir = java.nio.file.Files.createTempDirectory("graft-ev").toString
    val nanos0 = 1709251200L * 1000000000L // 2024-03-01T00:00:00Z
    Seq((1L, nanos0, 7L, "click", 1.0, "{}"),
        (2L, nanos0 + 3600L * 1000000000L, 8L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.tsEncodingOf(spark, s"$dir/events.parquet") ==
      Tables.TsEncoding.RawNanos)
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val got = ev.orderBy($"event_id")
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss"))
      .as[String].collect().toSeq
    assert(got == Seq("2024-03-01 00:00:00", "2024-03-01 01:00:00"))
    // the not-nanos negative case on a SYNTHESIZED annotated-MICROS
    // fixture, not the live testdata: the loader must accept whichever
    // legal encoding the driver regenerates, so the suite must not
    // re-pin the current corpus's encoding (ADVICE r9)
    val mdir = java.nio.file.Files.createTempDirectory("graft-evm").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 7L,
        "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$mdir/events.parquet")
    assert(Tables.tsEncodingOf(spark, s"$mdir/events.parquet") !=
      Tables.TsEncoding.RawNanos)
    assert(Tables.load(spark, mdir, "events")
      .select(date_format($"ts", "yyyy-MM-dd")).as[String].collect()
      .toSeq == Seq("2024-03-01"))
  }

  test("unannotated INT64 ts infers its unit from footer stats and " +
       "refuses an implausible era (ADVICE r9: no silent 1000x)") {
    // a producer dumping PLAIN EPOCH MICROS as bare INT64: the nanos
    // guess would silently divide into 1970 — the stats band must pick
    // micros and land in the right era
    def write(dir: String, ts: Long): String = {
      Seq((1L, ts, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val micros = write(java.nio.file.Files
      .createTempDirectory("graft-evu").toString, 1709251200L * 1000000L)
    assert(Tables.tsEncodingOf(spark, s"$micros/events.parquet") !=
      Tables.TsEncoding.RawNanos)
    assert(Tables.load(spark, micros, "events")
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss")).as[String]
      .collect().toSeq == Seq("2024-03-01 00:00:00"))
    // plain epoch millis
    val millis = write(java.nio.file.Files
      .createTempDirectory("graft-evl").toString, 1709251200L * 1000L)
    assert(Tables.load(spark, millis, "events")
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss")).as[String]
      .collect().toSeq == Seq("2024-03-01 00:00:00"))
    // a magnitude outside every plausible band fails loudly instead of
    // decoding into the wrong century
    val junk = write(java.nio.file.Files
      .createTempDirectory("graft-evj").toString, 12345L)
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, junk, "events").count()
    }
    assert(e.getMessage.contains("refusing to guess"))
  }

  test("Scoped.conf restores a set key, unsets an unset key, and " +
       "restores both when the body throws") {
    val set = "spark.graft.test.scoped.set"
    val unset = "spark.graft.test.scoped.unset"
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
    try {
      val r = Scoped.conf(spark, set -> "inside", unset -> "inside") {
        assert(spark.conf.get(set) == "inside")
        assert(spark.conf.get(unset) == "inside")
        42
      }
      assert(r == 42)
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
      val e = intercept[IllegalStateException] {
        Scoped.conf(spark, set -> "thrown", unset -> "thrown") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.ops.{Availability, CondOps, DateOps, StringOps}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Raw-scalacheck property loop (the scalatest bridge artifact is not
    * in the offline cache). */
  def forAllSamples[T](gen: Gen[T], n: Int = 200)(f: T => Unit): Unit =
    (1 to n).foreach(_ => gen.sample.foreach(f))

  test("slugify matches the reference normalization chain") {
    assert(StringOps.slugify("Coordonnées géographiques") ==
      "Coordonnees_geographiques")
    assert(StringOps.slugify("Date de début") == "Date_de_debut")
    assert(StringOps.slugify("a:b-c'd") == "a_b_c_d")
  }

  test("slugify is idempotent (property)") {
    forAllSamples(Gen.asciiPrintableStr) { s =>
      val once = StringOps.slugify(s)
      assert(StringOps.slugify(once) == once)
    }
  }

  test("normalizeColumns renames via slugify") {
    val df = Seq((1, "x")).toDF("Date de début", "Titre é")
    assert(StringOps.normalizeColumns(df).columns.toSeq ==
      Seq("Date_de_debut", "Titre_e"))
  }

  test("capitalizeFirst is python capitalize, not initcap") {
    val out = Seq("two words", "ABC").toDF("s")
      .select(StringOps.capitalizeFirst($"s")).as[String].collect()
    assert(out.toSeq == Seq("Two words", "Abc"))
  }

  test("cleanImage reproduces the reference chain") {
    // update_open_data.py:32-47: first image, no extension, basename,
    // storage prefix dropped at first dash
    val out = Seq(
      "https://s.example/b/abc123-my_image.png,second.jpg",
      "plain-name.jpg").toDF("s")
      .select(StringOps.cleanImage($"s")).as[String].collect()
    assert(out.toSeq == Seq("my_image", "name"))
  }

  test("frenchLongDate expression matches the Locale.FRENCH formatter") {
    val dates = Seq("2026-08-12", "1995-01-01", "2000-02-29", "2019-12-31")
    val df = dates.toDF("s").select(to_date($"s").as("d"))
    val expr = df.select(DateOps.frenchLongDate($"d")).as[String].collect()
    val viaUdf = df.select(DateOps.frenchLongDateUdf($"d"))
      .as[String].collect()
    assert(expr.toSeq == viaUdf.toSeq)
    assert(expr(0) == "mercredi 12 août 2026")
  }

  test("wpDateKey pads month but not day (SURVEY §7.4(5))") {
    val out = Seq("2026-08-03").toDF("s")
      .select(DateOps.wpDateKey(to_date($"s"))).as[String].collect()
    assert(out.head == "3-08-2026")
  }

  test("band3 checks ==100 before >=70, null falls through") {
    val out = Seq(Some(100), Some(70), Some(69), None).toDF("s")
      .select(CondOps.band3($"s", "fb", "maybe", "no")).as[String].collect()
    assert(out.toSeq == Seq("fb", "maybe", "no", "no"))
  }

  test("availability: unique / consecutive / sparse branches") {
    val df = Seq(
      Seq("2019-01-02"),
      Seq("2019-01-02", "2019-01-03", "2019-01-04"),
      Seq("2019-01-02", "2019-01-05")).toDF("ss")
      .select(transform($"ss", s => to_date(s)).as("dates"))
    val cal = Availability.calendar("2019-01-01", "2019-01-06")
    val avail = df.select(Availability.availability(cal, $"dates"))
      .as[String].collect()
    assert(avail(0) == "1-01-2019|3-01-2019|4-01-2019|5-01-2019|6-01-2019")
    assert(avail(1) == "1-01-2019|5-01-2019|6-01-2019")
    val span = df.select(Availability.dateSpanPretty($"dates"))
      .as[String].collect()
    assert(span(0) == "mercredi 02 janvier 2019")
    assert(span(1) ==
      "Du mercredi 02 janvier 2019 au vendredi 04 janvier 2019")
    assert(span(2) ==
      "mercredi 02 janvier 2019, samedi 05 janvier 2019")
    val dur = df.select(Availability.durationPretty($"dates"))
      .as[String].collect()
    assert(dur.toSeq == Seq("1 jour", "3 jours", "2 jours"))
  }

  test("RangeJoin equals the naive theta join: inclusive bounds, " +
       "multi-bucket intervals, negative domain, inverted interval") {
    val points = Seq(-31L, -30L, -1L, 0L, 5L, 29L, 30L, 61L, 100L)
      .toDF("p_val")
    val intervals = Seq(
      (1L, 0L, 29L),    // exactly one bucket at w=30
      (2L, -30L, 30L),  // spans three buckets, crosses the origin
      (3L, 29L, 30L),   // straddles a bucket boundary
      (4L, 50L, 40L),   // inverted: matches nothing
      (5L, 100L, 100L)) // single-point interval
      .toDF("iv_id", "lo_v", "hi_v")
    val got = graft.ops.RangeJoin.pointInInterval(
        points, col("p_val"), intervals, col("lo_v"), col("hi_v"), 30L)
      .select($"iv_id", $"p_val").as[(Long, Long)].collect().toSet
    val naive = (for {
      p <- Seq(-31L, -30L, -1L, 0L, 5L, 29L, 30L, 61L, 100L)
      (id, lo, hi) <- Seq((1L, 0L, 29L), (2L, -30L, 30L),
        (3L, 29L, 30L), (4L, 50L, 40L), (5L, 100L, 100L))
      if lo <= p && p <= hi
    } yield (id, p)).toSet
    assert(got == naive, s"got $got expected $naive")
    // duplicate-free by construction: multi-bucket interval 2 emits
    // each matching point exactly once
    val rows = graft.ops.RangeJoin.pointInInterval(
        points, col("p_val"), intervals, col("lo_v"), col("hi_v"), 30L)
      .collect()
    assert(rows.length == naive.size)
  }

  test("RangeJoin.intervalOverlap equals the naive theta join with " +
       "no duplicates, including pairs whose overlap spans buckets") {
    val as = Seq((1L, 0L, 100L), (2L, -50L, -10L), (3L, 200L, 210L))
    val bs = Seq((10L, 90L, 150L),  // overlaps a1 across buckets
      (20L, -20L, 5L),              // overlaps a1 and a2, crosses 0
      (30L, 300L, 400L),            // overlaps nothing
      (40L, 205L, 205L))            // point-interval inside a3
    val aDf = as.toDF("a_id", "a_lo", "a_hi")
    val bDf = bs.toDF("b_id", "b_lo", "b_hi")
    val got = graft.ops.RangeJoin.intervalOverlap(aDf, col("a_lo"),
        col("a_hi"), bDf, col("b_lo"), col("b_hi"), 30L)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val naive = for {
      (ai, alo, ahi) <- as; (bi, blo, bhi) <- bs
      if math.max(alo, blo) <= math.min(ahi, bhi)
    } yield (ai, bi)
    assert(got.toSet == naive.toSet, s"${got.toSeq} vs $naive")
    assert(got.length == naive.size) // exactly-once per pair
  }

  test("Kmv: merged half-sketches equal the whole-corpus sketch " +
       "exactly, estimates track truth, small groups report exact") {
    import graft.ops.Kmv
    val k = 16
    // group a: 400 distinct values (sketch saturates); group b: 5
    // distinct (below k — the sketch IS the set, estimate exact)
    val rows = (0 until 400).map(i => ("a", s"va$i")) ++
      (0 until 5).flatMap(i => Seq(("b", s"vb$i"), ("b", s"vb$i")))
    val df = rows.toDF("grp", "v")
    val whole = Kmv.sketchAgg(df, Seq("grp"), $"v", k)
      .as[(String, Seq[Long])].collect().toMap
    // sketch two arbitrary halves, merge per group
    val h1 = Kmv.sketchAgg(df.filter(length($"v") % 2 === 0),
      Seq("grp"), $"v", k).withColumnRenamed("kmin", "kmin1")
    val h2 = Kmv.sketchAgg(df.filter(length($"v") % 2 === 1),
      Seq("grp"), $"v", k).withColumnRenamed("kmin", "kmin2")
    val none = typedLit(Array.empty[Long])
    val merged = h1.join(h2, Seq("grp"), "full_outer")
      .select($"grp", Kmv.mergeSketches(coalesce($"kmin1", none),
        coalesce($"kmin2", none), k).as("kmin"))
      .as[(String, Seq[Long])].collect().toMap
    assert(merged == whole) // lossless merge, element for element
    val est = Kmv.withEstimate(
        Kmv.sketchAgg(df, Seq("grp"), $"v", k), k)
      .select($"grp", $"k", $"est_distinct")
      .as[(String, Int, Double)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(est("b") == ((5, 5.0))) // below k: exact by construction
    assert(est("a")._1 == k)
    assert(est("a")._2 > 200 && est("a")._2 < 800, // KMV @ k=16 is
      s"estimate ${est("a")._2} implausible for 400") // ~±25% 1σ
    // sketches are arrival-order-free: reversed input, same sketch
    val rev = Kmv.sketchAgg(df.orderBy($"v".desc), Seq("grp"), $"v", k)
      .as[(String, Seq[Long])].collect().toMap
    assert(rev == whole)
    // an EMPTY sketch — legal via mergeSketches of two empty arrays —
    // estimates 0.0 with a NULL kth_u instead of tripping element_at
    val empty = Seq(("e", Array.empty[Long])).toDF("grp", "kmin")
      .select($"grp", Kmv.mergeSketches($"kmin", $"kmin", k).as("kmin"))
    val eRow = Kmv.withEstimate(empty, k)
      .select($"grp", $"k", $"kth_u", $"est_distinct").collect()(0)
    assert(eRow.getInt(1) == 0 && eRow.isNullAt(2) &&
      eRow.getDouble(3) == 0.0)
  }

  test("CountMin: merged half-sketches equal the whole-corpus sketch " +
       "exactly, estimates upper-bound truth, order-free") {
    import graft.ops.CountMin
    val d = 2; val w = 64
    // group a: zipfish counts (v0 ×100, v1 ×50, 30 singletons — far
    // more distinct values than one bucket row can hold exactly);
    // group b: one value, count 3
    val rows = Seq.fill(100)(("a", "v0")) ++ Seq.fill(50)(("a", "v1")) ++
      (0 until 30).map(i => ("a", s"t$i")) ++ Seq.fill(3)(("b", "x"))
    val df = rows.toDF("grp", "v")
    val whole = CountMin.sketchAgg(df, Seq("grp"), $"v", d, w)
      .as[(String, Seq[Long])].collect().toMap
    // state is bounded at d*w counters regardless of cardinality
    assert(whole("a").length == d * w)
    // sum of each depth row = group row count (counters are sums)
    (0 until d).foreach { r =>
      assert(whole("a").slice(r * w, (r + 1) * w).sum == 180L)
      assert(whole("b").slice(r * w, (r + 1) * w).sum == 3L)
    }
    // merged halves == whole, element for element (lossless merge)
    val h1 = CountMin.sketchAgg(df.filter(length($"v") % 2 === 0),
      Seq("grp"), $"v", d, w).withColumnRenamed("cms", "cms1")
    val h2 = CountMin.sketchAgg(df.filter(length($"v") % 2 === 1),
      Seq("grp"), $"v", d, w).withColumnRenamed("cms", "cms2")
    val none = typedLit(Array.fill(d * w)(0L))
    val merged = h1.join(h2, Seq("grp"), "full_outer")
      .select($"grp", CountMin.mergeSketches(coalesce($"cms1", none),
        coalesce($"cms2", none)).as("cms"))
      .as[(String, Seq[Long])].collect().toMap
    assert(merged == whole)
    // estimates: est >= exact always; heavy hitters stay sharp at
    // w=64 over 32 distinct values (collision inflation is bounded by
    // the residual mass, 80 here)
    val sk = CountMin.sketchAgg(df.filter($"grp" === "a"), Nil, $"v",
      d, w)
    val est = Seq("v0", "v1", "t5").toDF("v")
      .crossJoin(sk)
      .select($"v", CountMin.estimate($"cms", $"v", d, w).as("e"))
      .as[(String, Long)].collect().toMap
    assert(est("v0") >= 100L && est("v0") <= 180L)
    assert(est("v1") >= 50L && est("v1") <= 130L)
    assert(est("t5") >= 1L)
    // arrival-order-free: reversed input, identical sketch
    val rev = CountMin.sketchAgg(df.orderBy($"v".desc), Seq("grp"),
      $"v", d, w).as[(String, Seq[Long])].collect().toMap
    assert(rev == whole)
    // geometry mismatches fail loudly instead of null-padding (merge)
    // or reading garbage buckets (estimate)
    val wrong = Seq((Array.fill(d * w)(1L), Array.fill(d * w / 2)(1L)))
      .toDF("a", "b")
    val e1 = intercept[Exception] {
      wrong.select(CountMin.mergeSketches($"a", $"b")).collect()
    }
    assert(e1.getMessage.contains("geometries differ"), e1.getMessage)
    val e2 = intercept[Exception] {
      wrong.select(CountMin.estimate($"b", lit("x"), d, w)).collect()
    }
    assert(e2.getMessage.contains("built under"), e2.getMessage)
  }

  test("Funnel: ordering is enforced (stage events BEFORE the prior " +
       "reach time don't count), first-touch attribution, duplicate " +
       "stages refused") {
    import graft.ops.Funnel
    // u1 completes in order; u2 has the view BEFORE the signup (never
    // reaches stage 2); u3 signs up only; u4 purchases before viewing
    // (reaches stage 2, not 3); timestamps are seconds
    def ts(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$n%02d")
    val ev = Seq(
      (1L, "signup", ts(1)), (1L, "view", ts(2)), (1L, "purchase", ts(3)),
      (2L, "view", ts(1)), (2L, "signup", ts(2)),
      (3L, "signup", ts(1)),
      (4L, "signup", ts(1)), (4L, "purchase", ts(2)), (4L, "view", ts(3))
    ).toDF("user_id", "event_type", "ts")
    val r = Funnel.report(ev, "user_id", "event_type", "ts",
        Seq("signup", "view", "purchase"))
      .orderBy($"stage_ord").as[(Int, String, Long)].collect().toSeq
    assert(r == Seq((1, "signup", 4L), (2, "view", 2L),
      (3, "purchase", 1L)))
    // first-touch: u1's purchase counts against the FIRST qualifying
    // view — a second earlier signup must not resurrect u2
    intercept[IllegalArgumentException](
      Funnel.report(ev, "user_id", "event_type", "ts",
        Seq("signup", "signup")))
    intercept[IllegalArgumentException](
      Funnel.report(ev, "user_id", "event_type", "ts", Nil))
  }

  test("SkewJoin.saltedEquiJoin equals the plain join on a skewed " +
       "fixture (inner and left), refuses corrupting join types, " +
       "NULL salts and reserved names") {
    import graft.core.SkewJoin
    // one hot key (k=1, 50 rows), some cold keys, an unmatched probe
    // row and an unmatched build row
    val left = ((0 until 50).map(i => (1, i.toLong)) ++
      Seq((2, 100L), (3, 101L), (9, 102L))).toDF("k", "rid")
    val right = Seq((1, "hot"), (2, "cold"), (7, "lonely"))
      .toDF("k", "tag")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"rid", $"tag").as[(Int, Long, Option[String])]
        .collect().sortBy(r => (r._1, r._2, r._3)).toSeq
    val plainInner = sortedRows(left.join(right, Seq("k")))
    assert(sortedRows(SkewJoin.saltedEquiJoin(left, right, Seq("k"),
      $"rid", 8)) == plainInner)
    val plainLeft = sortedRows(left.join(right, Seq("k"), "left"))
    assert(sortedRows(SkewJoin.saltedEquiJoin(left, right, Seq("k"),
      $"rid", 8, "left")) == plainLeft)
    // buckets=1 degenerates to the plain join
    assert(sortedRows(SkewJoin.saltedEquiJoin(left, right, Seq("k"),
      $"rid", 1)) == plainInner)
    Seq("right", "full", "left_semi", "left_anti").foreach { jt =>
      intercept[IllegalArgumentException](
        SkewJoin.saltedEquiJoin(left, right, Seq("k"), $"rid", 8, jt))
    }
    val exNull = intercept[Exception](
      SkewJoin.saltedEquiJoin(
        Seq((Some(1L), 1)).toDF("rid", "k")
          .select($"k", when($"rid" === 2L, $"rid").as("rid")),
        right, Seq("k"), $"rid", 8).collect())
    assert(exNull.getMessage.contains("NULL salt"), exNull.getMessage)
    intercept[IllegalArgumentException](
      SkewJoin.saltedEquiJoin(left.withColumn("__salt", lit(1)),
        right, Seq("k"), $"rid", 8))
  }

  test("CountMin streaming state: batch-sliced ingestion equals the " +
       "whole-corpus sketch, replay is idempotent, compaction bounds " +
       "partitions and preserves estimates, a crashed compaction's " +
       "orphan is invisible, geometry drift refused") {
    import graft.ops.CountMin
    import graft.catalog.TableCatalog
    val d = 2; val w = 64
    val cat = new TableCatalog(spark,
      graft.core.Scratch.dir("cmsst_"))
    val rows = Seq.fill(40)("v0") ++ Seq.fill(20)("v1") ++
      (0 until 10).map(i => s"t$i")
    val df = rows.toDF("v")
    def est(t: String, v: String) = CountMin
      .readSketch(cat, t, d, w).select(
        CountMin.estimate($"cms", lit(v), d, w)).as[Long].collect()(0)
    // three "micro-batches" land the sliced corpus
    val slices = Seq(df.limit(0), df.filter(length($"v") === 2),
      df.filter(length($"v") =!= 2)) // empty batch included
    slices.zipWithIndex.foreach { case (b, i) =>
      CountMin.ingestSketchBatch(cat, b, $"v", "t", i.toLong, d, w) }
    val whole = CountMin.sketchAgg(df, Nil, $"v", d, w)
      .as[Seq[Long]].collect()(0)
    def served(t: String) = CountMin.readSketch(cat, t, d, w)
      .as[Seq[Long]].collect()(0)
    assert(served("t") == whole)
    // latest-batch replay: re-ingesting batch 2 changes nothing
    CountMin.ingestSketchBatch(cat, slices(2), $"v", "t", 2L, d, w)
    assert(served("t") == whole)
    // compaction folds to one partition, estimates identical
    CountMin.compactSketch(cat, "t", d, w)
    assert(cat.listPartitions("t", "seg").size == 1)
    assert(served("t") == whole)
    // post-compaction ingestion lands under the new generation
    CountMin.ingestSketchBatch(cat, df.limit(5), $"v", "t", 3L, d, w)
    assert(est("t", "v0") >= 40L)
    // a crashed compaction: next-generation partition written but the
    // pointer never flipped — invisible to reads
    CountMin.compactSketch(cat, "t", d, w)
    val before = served("t")
    cat.writePartition(
      CountMin.sketchAgg(df, Nil, $"v", d, w)
        .withColumn("seg", lit("g3-c")), "t", "seg", "g3-c")
    assert(served("t") == before)
    // geometry drift and missing state are refused loudly
    val eGeom = intercept[IllegalArgumentException](
      CountMin.ingestSketchBatch(cat, df, $"v", "t", 9L, d, w * 2))
    assert(eGeom.getMessage.contains("recorded geometry"),
      eGeom.getMessage)
    intercept[IllegalArgumentException](
      CountMin.readSketch(cat, "t", d + 1, w))
    intercept[IllegalArgumentException](
      CountMin.readSketch(cat, "nope", d, w))
  }

  test("Hll: merged half-sketches equal the whole-corpus registers " +
       "exactly, state bounded at m rows per group, estimates track " +
       "truth in the operating zone, non-power-of-two m refused") {
    import graft.ops.Hll
    val m = 64
    // group a: 2000 distinct (well above 2.5·m — the raw-estimator
    // zone); group b: 300 distinct, each value seen twice
    val rows = (0 until 2000).map(i => ("a", s"va$i")) ++
      (0 until 300).flatMap(i => Seq(("b", s"vb$i"), ("b", s"vb$i")))
    val df = rows.toDF("grp", "v")
    def regMap(r: org.apache.spark.sql.DataFrame) =
      r.as[(String, Int, Int)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val whole = regMap(Hll.registers(df, Seq("grp"), $"v", m))
    // state bounded: at most m occupied registers per group
    assert(whole.keys.count(_._1 == "a") <= m)
    assert(whole.keys.count(_._1 == "b") <= m)
    // merged halves == whole, register for register (max is lossless)
    val h1 = Hll.registers(df.filter(length($"v") % 2 === 0),
      Seq("grp"), $"v", m)
    val h2 = Hll.registers(df.filter(length($"v") % 2 === 1),
      Seq("grp"), $"v", m)
    assert(regMap(Hll.mergeRegisters(h1, h2, Seq("grp"))) == whole)
    // arrival-order-free
    assert(regMap(Hll.registers(df.orderBy($"v".desc), Seq("grp"),
      $"v", m)) == whole)
    // estimates inside a generous 3σ band (σ ≈ 1.04/√64 = 13%)
    val est = Hll.estimate(Hll.registers(df, Seq("grp"), $"v", m),
        Seq("grp"), m)
      .select($"grp", $"est_distinct").as[(String, Double)]
      .collect().toMap
    assert(est("a") > 1200 && est("a") < 2800, s"est ${est("a")}")
    assert(est("b") > 180 && est("b") < 420, s"est ${est("b")}")
    // geometry discipline: m must be a power of two >= 4
    intercept[IllegalArgumentException](
      Hll.registers(df, Seq("grp"), $"v", 48))
    intercept[IllegalArgumentException](
      Hll.estimate(h1, Seq("grp"), 0))
  }

  test("RangeJoin is exact past 2^53 (integral bucket division) and " +
       "guards reserved names and runaway replication") {
    // epoch-nanos-scale values: double division would mis-bucket these
    val big = (1L << 60) + 7L
    val pts = Seq(big, big + 1L, big - 1L).toDF("p_val")
    val ivs = Seq((1L, big, big)).toDF("iv_id", "lo_v", "hi_v")
    val got = graft.ops.RangeJoin.pointInInterval(
        pts, col("p_val"), ivs, col("lo_v"), col("hi_v"), 1000L)
      .select($"p_val").as[Long].collect().toSeq
    assert(got == Seq(big), s"got $got")
    // reserved helper names rejected up front, not silently dropped
    val bad = Seq((1L, 2L)).toDF("__rj_p", "x")
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.pointInInterval(
        bad, col("x"), ivs, col("lo_v"), col("hi_v"), 10L)
    }
    // an interval spanning > MaxBucketsPerInterval buckets fails
    // loudly instead of exploding an unbounded sequence
    val wide = Seq((1L, 0L, (1L << 40))).toDF("iv_id", "lo_v", "hi_v")
    val ex = intercept[Exception] {
      graft.ops.RangeJoin.pointInInterval(
        pts, col("p_val"), wide, col("lo_v"), col("hi_v"), 1L)
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("intervalOverlapStream: an interval wider than maxSpan fails " +
       "loudly (batch and stream) instead of silently losing overlaps") {
    def winDf(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("id", "lo", "hi")
      .withColumn("ts", timestamp_seconds(col("lo") * 86400))
    // batch plan of the streaming operator: a 10-day-wide interval
    // under maxSpan="5 days" raises at evaluation, naming the span
    val a = winDf(Seq((1L, 1000L, 1010L)))
      .toDF("a_id", "a_lo", "a_hi", "a_ts")
    val b = winDf(Seq((2L, 1001L, 1002L)))
      .toDF("b_id", "b_lo", "b_hi", "b_ts")
    val exB = intercept[Exception] {
      graft.ops.RangeJoin.intervalOverlapStream(
        a, col("a_lo"), col("a_hi"), "a_ts",
        b, col("b_lo"), col("b_hi"), "b_ts",
        bucketWidth = 30L, maxSpan = "5 days", unitSeconds = 86400L)
        .collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n')
        c = c.getCause }
      sb.toString
    }
    assert(rootMsg(exB).contains("wider than maxSpan"), rootMsg(exB))
    // inverted intervals still pass through (filtered, never raised),
    // and compliant spans join as before
    val okA = winDf(Seq((1L, 1000L, 1003L), (9L, 900L, 800L)))
      .toDF("a_id", "a_lo", "a_hi", "a_ts")
    val okGot = graft.ops.RangeJoin.intervalOverlapStream(
        okA, col("a_lo"), col("a_hi"), "a_ts",
        b, col("b_lo"), col("b_hi"), "b_ts",
        bucketWidth = 30L, maxSpan = "5 days", unitSeconds = 86400L)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(okGot == Set((1L, 2L)))
    // the same guard fires on a REAL stream: the micro-batch fails
    // instead of emitting a partial result
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val memA = MemoryStream[(Long, Long, Long)]
    val memB = MemoryStream[(Long, Long, Long)]
    def stream(mem: MemoryStream[(Long, Long, Long)], p: String) =
      mem.toDF().toDF(s"${p}_id", s"${p}_lo", s"${p}_hi")
        .withColumn(s"${p}_ts",
          timestamp_seconds(col(s"${p}_lo") * 86400))
        .withWatermark(s"${p}_ts", "30 days")
    val q = graft.ops.RangeJoin.intervalOverlapStream(
        stream(memA, "a"), col("a_lo"), col("a_hi"), "a_ts",
        stream(memB, "b"), col("b_lo"), col("b_hi"), "b_ts",
        bucketWidth = 30L, maxSpan = "5 days", unitSeconds = 86400L)
      .writeStream.format("memory")
      .queryName("ops_span_guard").outputMode("append").start()
    try {
      val exS = intercept[Exception] {
        memA.addData((1L, 1000L, 1010L))
        memB.addData((2L, 1001L, 1002L))
        q.processAllAvailable()
      }
      assert(rootMsg(exS).contains("wider than maxSpan"), rootMsg(exS))
    } finally q.stop()
    // month-bearing spans have no fixed width — rejected up front
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.intervalOverlapStream(
        a, col("a_lo"), col("a_hi"), "a_ts",
        b, col("b_lo"), col("b_hi"), "b_ts",
        bucketWidth = 30L, maxSpan = "1 month", unitSeconds = 86400L)
    }
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CorpusStream, EventsStream}
import graft.streaming.EventsStream.{Ev, SessOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourlyAgg over a MemoryStream matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.hourlyAgg(events)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.5),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0),
        (ts("2024-01-01 10:30:00"), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("hourly")
        .orderBy($"event_type", $"hour")
        .select($"event_type", $"n", $"total")
        .as[(String, Long, Double)].collect()
      assert(got.toSeq == Seq(
        ("click", 2L, 3.5), ("click", 1L, 4.0),
        ("view", 1L, 1.0)))
    } finally q.stop()
  }

  test("append-mode hourlyAgg merges in-allowance late rows, finalizes " +
       "on watermark advance, and reclaims the finalized state (the " +
       "ev05 gate's machinery)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.hourlyAgg(events)
      .writeStream.format("memory").queryName("hourly_app")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.5),
        (ts("2024-01-01 11:20:00"), "click", 2.0))
      q.processAllAvailable()
      // nothing finalized yet: the watermark (11:20 − 2h) has not
      // passed any window's end
      assert(spark.table("hourly_app").isEmpty)
      // a late row INSIDE the allowance merges into the open window
      mem.addData((ts("2024-01-01 10:45:00"), "click", 1.0))
      q.processAllAvailable()
      // watermark-advancing row: every real window finalizes
      mem.addData((ts("2024-01-02 00:00:00"), "flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("hourly_app").orderBy($"hour")
        .select($"event_type", $"n", $"total")
        .as[(String, Long, Double)].collect().toSeq
      assert(got == Seq(("click", 2L, 2.5), ("click", 1L, 2.0)))
      // only the flush row's own (never-finalizable) window remains in
      // state — the reclaim that bounds state on an unbounded stream
      val st = q.lastProgress.stateOperators(0)
      assert(st.numRowsTotal == 1, s"state rows: ${st.numRowsTotal}")
    } finally q.stop()
  }

  test("stream-stream interval join: cross-batch pairs match while " +
       "state lives, and the watermark ACTUALLY evicts it (the ev10 " +
       "gate's machinery)") {
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long)] // (a_id, lo-day)
    val memB = MemoryStream[(Long, Long)]
    def winDf(mem: MemoryStream[(Long, Long)], id: String, lo: String,
              hi: String, tsN: String) =
      mem.toDF().toDF(id, lo)
        .withColumn(hi, col(lo) + 9)
        .withColumn(tsN, timestamp_seconds(col(lo) * 86400))
        .withWatermark(tsN, "0 seconds")
    val joined = graft.ops.RangeJoin.intervalOverlapStream(
      winDf(memA, "a_id", "a_lo", "a_hi", "a_ts"), $"a_lo", $"a_hi",
      "a_ts",
      winDf(memB, "b_id", "b_lo", "b_hi", "b_ts"), $"b_lo", $"b_hi",
      "b_ts",
      bucketWidth = 10L, maxSpan = "10 days", unitSeconds = 86400L)
    val q = joined.writeStream.format("memory").queryName("ss_iv")
      .outputMode("append").start()
    try {
      // batch 1: one overlap within the batch
      memA.addData((1L, 1000L)); memB.addData((10L, 1005L))
      q.processAllAvailable()
      // batch 2: a CROSS-BATCH match against a(1) still in state
      // (day 1008 >= the day-1000 watermark), plus a far jump that
      // advances the watermark past batch 1's eviction horizon
      memA.addData((2L, 1100L)); memB.addData((11L, 1008L), (20L, 1103L))
      q.processAllAvailable()
      // batch 3: watermark is now ~day 1100 — batch-1 state must be
      // GONE, and the new in-batch overlap still emits
      memA.addData((3L, 1200L)); memB.addData((30L, 1206L))
      q.processAllAvailable()
      val got = spark.table("ss_iv").select($"a_id", $"b_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L)))
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed > 0, "watermark never evicted any join state")
      val live = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // only the recent windows' exploded rows remain, not the history
      assert(live <= 8, s"join state not bounded: $live rows")
      // plan pin: the REAL stream-stream join operator, not a
      // stream-static or broadcast fallback
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming
          .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan.toString
      assert(plan.contains("StreamingSymmetricHashJoin"),
        s"expected a symmetric hash join, plan:\n$plan")
    } finally q.stop()
  }

  test("stateful sessionize over a MemoryStream spans micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(1L, 1L, ts("2024-01-01 10:00:00")),
        Ev(1L, 2L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // second batch: within gap continues session 1; then a >30min gap
      mem.addData(
        Ev(1L, 3L, ts("2024-01-01 10:20:00")),
        Ev(1L, 4L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val got = spark.table("sessions").orderBy($"event_id")
        .as[SessOut].collect().map(s => (s.event_id, s.session_id))
      assert(got.toSeq ==
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = EventsStream.dedupEvents(events)
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:01:00"), 1L, "click"), // dup within batch
        (ts("2024-01-01 10:02:00"), 2L, "view"))
      q.processAllAvailable()
      // re-delivery in a later micro-batch, still inside the watermark
      mem.addData(
        (ts("2024-01-01 10:03:00"), 1L, "click"),
        (ts("2024-01-01 10:04:00"), 2L, "click"))
      q.processAllAvailable()
      val got = spark.table("deduped")
        .select($"user_id", $"event_type").as[(Long, String)]
        .collect().toSeq
      assert(got.size == got.distinct.size) // no key emitted twice
      assert(got.toSet ==
        Set((1L, "click"), (2L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("streaming dedup on a batch frame equals plain dropDuplicates") {
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    val viaStream = EventsStream.dedupEvents(ev)
      .select($"user_id", $"event_type").as[(Long, String)]
      .collect().toSet
    val viaBatch = ev.dropDuplicates(Seq("user_id", "event_type"))
      .select($"user_id", $"event_type").as[(Long, String)]
      .collect().toSet
    assert(viaStream == viaBatch)
  }

  test("streaming and batch sessionize agree on the events table") {
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    val batch = graft.queries.EventQueries
      .queries("ev02_sessionize")(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"session_id").as[(Long, Long)].collect().toMap
    val typed = ev.select($"user_id", $"event_id", $"ts").as[Ev]
    val viaState = EventsStream.sessionize(typed)
      .collect().map(s => s.event_id -> s.session_id).toMap
    assert(viaState == batch)
  }

  test("incremental corpus pipeline over ascending micro-batches " +
       "equals batch dp01") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
      .orderBy($"doc_id").as[(Long, String, String)].collect()
    val wh = graft.core.Scratch.dir("corpus_wh_")
    val cp = graft.core.Scratch.dir("corpus_cp_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.CorpusStream.incremental(
      mem.toDF().toDF("doc_id", "text", "lang"), cat, cp)
    try {
      docs.grouped((docs.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(cat.listPartitions("corpus_sampled", "batch_id").size == 3)
    val got = cat.read("corpus_sampled")
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet
    val want = graft.queries.LlmQueries
      .queries("dp01_corpus_pipeline")(spark, dir)
      .as[(Long, String, Int)].collect().toSet
    assert(got == want)
  }

  test("incremental corpus pipeline over small micro-batches (the " +
       "driver cascade) with compaction equals batch dp01") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_sm_"))
    // 40-doc batches sit under DriverVerifyIdCap; a cadence of 4 folds
    // the state into a `c` partition several times on the way
    (0 until 500 by 40).zipWithIndex.foreach { case (lo, b) =>
      CorpusStream.processBatch(
        docs.filter($"doc_id" >= lo && $"doc_id" < lo + 40), cat,
        "sm_seen", "sm_out", b.toLong, compactEvery = 4)
    }
    val got = CorpusStream.readOutput(cat, "sm_out")
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet
    val want = graft.queries.LlmQueries
      .queries("dp01_corpus_pipeline")(spark, dir)
      .as[(Long, String, Int)].collect().toSet
    assert(got == want)
  }

  test("the driver near-dup cascade equals the distributed one: band " +
       "keys, pk buckets, internal and new-vs-stored pairs at t=0.7 " +
       "(sample prune on) and t=0.8 (off)") {
    import graft.sim.MinHashLSH
    // 12 seeded families of 4 variants each, the variants drifting from
    // their base by 0-30% of words, so pairs straddle every stage's
    // cut; plus an exact twin, null texts and texts under 3 chars (empty
    // shingle sets, all-null signatures, one shared "" band key)
    val rnd = new scala.util.Random(17)
    val vocab = Vector.fill(80)((0 until 5)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val fams = (0 until 12).flatMap { f =>
      val base = Vector.fill(40)(vocab(rnd.nextInt(vocab.size)))
      (0 until 4).map { v =>
        val words = base.map(w =>
          if (rnd.nextDouble() < v * 0.1) vocab(rnd.nextInt(vocab.size))
          else w)
        ((f * 4 + v).toLong, words.mkString(" "))
      }
    }
    val odd = Seq((100L, fams(0)._2), (101L, null), (102L, null),
      (103L, ""), (104L, "a"), (105L, "ab"), (106L, "ab"))
    val all = (fams ++ odd).toDF("doc_id", "text")
    // new side: the even variants of every family and half the odd
    // rows; stored side: the rest — every family straddles the two
    val isNew = $"doc_id" % 2 === 0 || $"doc_id" >= 103
    Seq(0.7, 0.8).foreach { t =>
      val geom = MinHashLSH.geometryFor(t)
      def signed(df: org.apache.spark.sql.DataFrame) = graft.core.Fence(
        MinHashLSH.signatureFrame(df, "doc_id", "text", 3, geom)
          .withColumn("sb", MinHashLSH.bottomKCol($"sh")))
        .select($"id", $"sh", $"n", $"sig", $"sb")
      val (newSk, seenSk) = (signed(all.filter(isNew)),
        signed(all.filter(!isNew)))
      val (newBands, seenBands) = (MinHashLSH.bandFrameWithSig(newSk, geom),
        MinHashLSH.bandFrameWithSig(seenSk, geom))
      assert(MinHashLSH.sigWidthOf(newSk) == Some(geom.numPerm))
      val newRows = newSk.collect().toSeq
      val driverNew = newRows.flatMap(r => MinHashLSH.driverBands(
        r.getLong(0), CorpusStream.intOf(r, 2), CorpusStream.sigOf(r, 3),
        geom))
      // band keys and their pk buckets, against the frame and the
      // state layout's own pk columns
      assert(driverNew.map(b => (b.id, b.idx, b.key, CorpusStream
          .bandKeyPk(b.key))).toSet ==
        newBands.select($"id", $"band_idx", $"band_key",
            CorpusStream.pkCol.as("pk"))
          .as[(Long, Int, String, Long)].collect().toSet)
      assert(newRows.map(r => (r.getLong(0), CorpusStream
          .idPk(r.getLong(0)))).toSet ==
        newSk.select($"id", CorpusStream.emitPkCol($"id"))
          .as[(Long, Long)].collect().toSet)
      assert(driverNew.exists(_.key.isEmpty))
      val driverSeen = seenBands.collect().toSeq.map(r =>
        MinHashLSH.BandRow(r.getLong(0), CorpusStream.intOf(r, 1),
          CorpusStream.sigOf(r, 2), r.getInt(3), r.getString(4)))
      def sketches(rows: Seq[org.apache.spark.sql.Row]) =
        rows.map(r => r.getLong(0) -> CorpusStream.sketchOf(r, 1, 4)).toMap
      val (skNew, skSeen) = (sketches(newRows), sketches(seenSk.collect()))
      def distributed(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame, self: Boolean,
          sk: org.apache.spark.sql.DataFrame) =
        MinHashLSH.verifySurvivors(
            MinHashLSH.collidedSurvivors(a, b, t, geom, selfJoin = self),
            sk, t, sb = Some(sk.select($"id", $"sb")))
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      // internal: new×new
      val candIn = MinHashLSH.driverSurvivors(driverNew, driverNew, t,
        geom, selfJoin = true)
      val gotIn = MinHashLSH.driverVerify(candIn, skNew.get, skNew.get, t)
      assert(candIn.toSet == MinHashLSH.collidedSurvivors(newBands,
          newBands, t, geom, selfJoin = true)
        .as[(Long, Long)].collect().toSet)
      assert(gotIn.toSet == distributed(newBands, newBands, true, newSk))
      // cross: new×stored
      val candX = MinHashLSH.driverSurvivors(driverNew, driverSeen, t,
        geom, selfJoin = false)
      val gotX = MinHashLSH.driverVerify(candX, skNew.get, skSeen.get, t)
      assert(gotX.toSet == distributed(newBands, seenBands, false,
        newSk.unionByName(seenSk)))
      // the fixture exercises every stage: pairs verify, and some
      // floor survivors fail the verify tail
      assert(gotIn.nonEmpty && gotX.nonEmpty, s"t=$t")
      assert(candIn.size + candX.size > gotIn.size + gotX.size, s"t=$t")
    }
  }

  // ---- convergent-merge (retraction) fixtures: word families with
  // controlled TRIGRAM Jaccard overlap. Each family draws from its own
  // two-letter alphabet (family f uses only letters 2f and 2f+1),
  // words encode their index in those letters — so cross-family
  // trigram collisions are impossible and word-count overlap IS the
  // shingle overlap (a digit-suffix scheme failed here: shared "001"
  // trigrams inflated cross-family J past the threshold). Every doc
  // opens with a UNIQUE word so the 60-char exact-dedup fingerprints
  // never collide, and ids pass the en sample predicate (md5 < "c0").
  private def fam(f: Int, n: Int): Seq[String] = {
    require(n <= 64 && f <= 12)
    val a = ('a' + 2 * f).toChar; val b = ('a' + 2 * f + 1).toChar
    (0 until n).map { i =>
      (0 until 6).map(j => if (((i >> j) & 1) == 1) b else a).mkString
    }
  }
  private def txt(uid: String, parts: Seq[String]*): String =
    (uid +: parts.flatten).mkString(" ")

  test("late bridge RETRACTS the dethroned canonical: output converges " +
       "to batch clusterDedup, and replaying the bridge batch is a " +
       "no-op") {
    val S = fam(0, 40); val X = fam(1, 30); val Y = fam(2, 30)
    val wh = graft.core.Scratch.dir("corpus_rt_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val b0 = Seq((11L, txt("docA", S, X), "en"),
                 (20L, txt("docB", S, Y), "en"))
      .toDF("doc_id", "text", "lang")
    val b1 = Seq((30L, txt("docC", S, X, Y), "en"))
      .toDF("doc_id", "text", "lang")
    def out() = cat.read("rt_out").select($"doc_id")
      .as[Long].collect().toSet
    // J(A,B) ~ 0.4 < 0.45: separate components, both emitted
    CorpusStream.processBatch(b0, cat, "rt_seen", "rt_out", 0L,
      threshold = 0.45, admit = df => df)
    assert(out() == Set(11L, 20L))
    // C bridges A and B (J ~ 0.7 to each): merged canonical is 11,
    // C dies, and 20 — already emitted — is retracted
    CorpusStream.processBatch(b1, cat, "rt_seen", "rt_out", 1L,
      threshold = 0.45, admit = df => df)
    assert(out() == Set(11L))
    // replay of the bridge batch re-derives the same retraction set;
    // the anti-join is a no-op the second time
    CorpusStream.processBatch(b1, cat, "rt_seen", "rt_out", 1L,
      threshold = 0.45, admit = df => df)
    assert(out() == Set(11L))
  }

  test("out-of-order arrival elects the smaller-id near-dup and " +
       "retracts the earlier doc") {
    val T = fam(4, 60)
    val wh = graft.core.Scratch.dir("corpus_oo_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    CorpusStream.processBatch(
      Seq((21L, txt("docT", T), "en")).toDF("doc_id", "text", "lang"),
      cat, "oo_seen", "oo_out", 0L, threshold = 0.45, admit = df => df)
    assert(cat.read("oo_out").select($"doc_id").as[Long].collect()
      .toSet == Set(21L))
    // doc 14 (smaller id, J ~ 0.9 vs doc 21) arrives later: the merged
    // canonical is now 14 — it is emitted and 21 is retracted
    CorpusStream.processBatch(
      Seq((14L, txt("docU", T.drop(5)), "en"))
        .toDF("doc_id", "text", "lang"),
      cat, "oo_seen", "oo_out", 1L, threshold = 0.45, admit = df => df)
    assert(cat.read("oo_out").select($"doc_id").as[Long].collect()
      .toSet == Set(14L))
  }

  test("out-of-order EXACT re-delivery (same text, smaller id) " +
       "converges: the smaller id wins and the stored copy is " +
       "retracted; a larger-id re-delivery still drops at the gate") {
    val T = fam(5, 40)
    val wh = graft.core.Scratch.dir("corpus_oe_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val text = txt("docX", T)
    def run(id: Long, b: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, text, "en")).toDF("doc_id", "text", "lang"),
        cat, "oe_seen", "oe_out", b, threshold = 0.45, admit = df => df)
    def out() = cat.read("oe_out").select($"doc_id")
      .as[Long].collect().toSet
    run(33L, 0L)
    assert(out() == Set(33L))
    // identical text, SMALLER id: must not be dropped at the fp gate —
    // it flows to the near-dup stage (J=1.0), wins the merged
    // component, and the stored 33 is retracted
    run(14L, 1L)
    assert(out() == Set(14L))
    // identical text, id BETWEEN the stored copies: the gate drops it
    // (stored 14 is smaller), nothing changes
    run(20L, 2L)
    assert(out() == Set(14L))
    // the label state records the dethroned copy's new canonical
    val lbls = cat.read("oe_seen_lbl")
      .select($"id", $"lbl", $"b").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.maxBy(_._3)._2 }
    assert(lbls.get(33L).contains(14L))
  }

  test("fp-equal but TEXT-DIVERGENT smaller-id re-delivery retracts " +
       "the stored copy: the merge edge is forced, not routed through " +
       "the LSH verify (which would reject J < t)") {
    // two docs sharing the 60-char fingerprint prefix whose bodies
    // come from disjoint trigram alphabets: same fp, J ~ 0.08 << 0.45
    val P = fam(10, 12); val A = fam(11, 60); val B = fam(12, 60)
    val tA = txt("docF", P, A); val tB = txt("docF", P, B)
    assert(tA.take(60) == tB.take(60)) // identical fingerprint
    val wh = graft.core.Scratch.dir("corpus_fd_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(id: Long, t: String, b: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
        cat, "fd_seen", "fd_out", b, threshold = 0.45, admit = df => df)
    def out() = cat.read("fd_out").select($"doc_id")
      .as[Long].collect().toSet
    run(33L, tA, 0L)
    assert(out() == Set(33L))
    // same fp, smaller id, divergent body: before round 12 this doc
    // passed the gate but never verified, so BOTH docs stayed emitted
    run(14L, tB, 1L)
    assert(out() == Set(14L))
    val lbls = cat.read("fd_seen_lbl")
      .select($"id", $"lbl", $"b").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.maxBy(_._3)._2 }
    assert(lbls.get(33L).contains(14L))
    // a larger-id fp twin still drops at the gate
    run(20L, tA, 2L)
    assert(out() == Set(14L))
  }

  test("the fp gate reads only the colliding pk buckets of the fp " +
       "index: a junk file planted in another bucket is never touched") {
    val P = fam(10, 12); val A = fam(11, 40)
    val tA = txt("docF", P, A)
    val wh = graft.core.Scratch.dir("corpus_fq_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(id: Long, t: String, b: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
        cat, "fq_seen", "fq_out", b, threshold = 0.45,
        admit = df => df, pkSplitMinRows = 1L) // force the pk-split layout
    run(33L, tA, 0L)
    val subs = cat.listSubPartitions("fq_seen_fp", "batch_id", "0", "pk")
    assert(subs.nonEmpty) // split layout in effect
    val other = (subs.head.toLong + 1) % CorpusStream.StatePartitions
    val junkDir = java.nio.file.Paths.get(
      cat.partitionPath("fq_seen_fp", "batch_id", "0"), s"pk=$other")
    java.nio.file.Files.createDirectories(junkDir)
    java.nio.file.Files.write(
      junkDir.resolve("part-00000-junk.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // the re-delivery's fp hashes into subs.head, not `other`: the
    // pruned read must skip the junk bucket (a full fp read chokes)
    run(40L, tA, 1L)
    assert(cat.read("fq_out").select($"doc_id").as[Long].collect()
      .toSet == Set(33L))
  }

  test("retraction rewrites only the affected partition: survivors " +
       "stay and an untouched output partition is preserved") {
    val S = fam(0, 40); val X = fam(1, 30); val Y = fam(2, 30)
    val U = fam(6, 40)
    val wh = graft.core.Scratch.dir("corpus_sp_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def part(p: String) = spark.read
      .parquet(cat.partitionPath("sp_out", "batch_id", p))
      .select($"doc_id").as[Long].collect().toSet
    CorpusStream.processBatch(
      Seq((11L, txt("dA", S, X), "en"), (20L, txt("dB", S, Y), "en"))
        .toDF("doc_id", "text", "lang"),
      cat, "sp_seen", "sp_out", 0L, threshold = 0.45, admit = df => df)
    CorpusStream.processBatch(
      Seq((22L, txt("dC", U), "en")).toDF("doc_id", "text", "lang"),
      cat, "sp_seen", "sp_out", 1L, threshold = 0.45, admit = df => df)
    assert(cat.read("sp_out").select($"doc_id").as[Long].collect()
      .toSet == Set(11L, 20L, 22L))
    // 30 bridges {11} and {20}: canonical 11 survives, 20 (emitted in
    // partition 0, next to survivor 11) is retracted
    CorpusStream.processBatch(
      Seq((30L, txt("dD", S, X, Y), "en")).toDF("doc_id", "text", "lang"),
      cat, "sp_seen", "sp_out", 2L, threshold = 0.45, admit = df => df)
    // partition 0 rewritten around its survivor; partition 1 must be
    // UNTOUCHED — a regression to static whole-table overwrite (which
    // deletes partitions absent from the frame) fails here
    assert(cat.listPartitions("sp_out", "batch_id").toSet ==
      Set("0", "1", "2"))
    assert(part("0") == Set(11L))
    assert(part("1") == Set(22L))
    assert(cat.read("sp_out").select($"doc_id").as[Long].collect()
      .toSet == Set(11L, 22L))
  }

  test("emit-index lookup locates affected partitions without reading " +
       "the rest of the output table, in both emit layouts") {
    for (minRows <- Seq(CorpusStream.PkSplitMinRows, 1L)) {
      val T = fam(7, 60); val U = fam(8, 40)
      val wh = graft.core.Scratch.dir("corpus_ei_")
      val cat = new graft.catalog.TableCatalog(spark, wh)
      def run(id: Long, t: String, b: Long): Unit =
        CorpusStream.processBatch(
          Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
          cat, "ei_seen", "ei_out", b, threshold = 0.45,
          admit = df => df, pkSplitMinRows = minRows)
      run(21L, txt("docT", T), 0L)
      run(22L, txt("docV", U), 1L) // unrelated — zero-cross fast path
      // plant an UNREADABLE data file in the unaffected partition: a
      // full-output semi-join would scan (and choke on) it; the
      // emit-index path must never touch that partition
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          cat.partitionPath("ei_out", "batch_id", "1"),
          "part-00000-junk.snappy.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      // 14 near-dups 21 → merged canonical 14, 21 retracted; its
      // partition (0) is found via the pk-pruned index
      run(14L, txt("docU", T.drop(5)), 2L)
      assert(cat.listPartitions("ei_out", "batch_id").toSet ==
        Set("1", "2"), s"minRows=$minRows")
      assert(spark.read
        .parquet(cat.partitionPath("ei_out", "batch_id", "2"))
        .select($"doc_id").as[Long].collect().toSet == Set(14L),
        s"minRows=$minRows")
    }
  }

  test("coverage survives emit-table compaction via the folded-keys " +
       "marker, and the retraction still resolves through the " +
       "compacted emit rows") {
    val T = fam(9, 60); val U = fam(8, 40)
    val wh = graft.core.Scratch.dir("corpus_ck_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(id: Long, t: String, b: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
        cat, "ck_seen", "ck_out", b, threshold = 0.45,
        admit = df => df, compactEvery = 2)
    run(21L, txt("docT", T), 0L)
    run(22L, txt("docV", U), 1L)
    // batch 2 first compacts (2 committed batches >= compactEvery):
    // emit partitions 0 and 1 fold into c1; the retraction of 21 then
    // resolves through the folded emit rows (eb rides as a data column)
    run(14L, txt("docU", T.drop(5)), 2L)
    assert(cat.listPartitions("ck_seen_emit", "batch_id")
      .forall(k => k == "c1" || k == "2"))
    assert(cat.read("ck_out").select($"doc_id").as[Long].collect()
      .toSet == Set(14L, 22L))
    assert(cat.listPartitions("ck_out", "batch_id").toSet == Set("1", "2"))
  }

  test("output-epoch roll: full epochs roll to new tables, retraction " +
       "reaches across the boundary, and a replayed batch rewrites " +
       "its own epoch in place") {
    val T = fam(9, 60); val U = fam(8, 40); val V = fam(7, 40)
    val W = fam(6, 40)
    val wh = graft.core.Scratch.dir("corpus_ep_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(id: Long, t: String, b: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
        cat, "ep_seen", "ep_out", b, threshold = 0.45,
        admit = df => df, epochEvery = 2)
    run(21L, txt("docT", T), 0L)
    run(22L, txt("docV", U), 1L)
    // base epoch is full (2 partitions): batch 2 rolls to ep_out__e1
    run(20L, txt("docW", V), 2L)
    assert(cat.listPartitions("ep_out", "batch_id").toSet ==
      Set("0", "1"))
    assert(cat.listPartitions("ep_out__e1", "batch_id").toSet ==
      Set("2"))
    // cross-epoch retraction: 14 dethrones 21, whose partition lives
    // in the BASE epoch while the new batch writes into e1 — the emit
    // index's eb addressing must reach back across the roll
    run(14L, txt("docU", T.drop(5)), 3L)
    assert(cat.listPartitions("ep_out", "batch_id").toSet == Set("1"))
    assert(cat.listPartitions("ep_out__e1", "batch_id").toSet ==
      Set("2", "3"))
    // the new batch's emit rows address their epoch explicitly
    assert(spark.read
      .parquet(cat.partitionPath("ep_seen_emit", "batch_id", "3"))
      .select($"eb").as[String].collect().toSet == Set("e1:3"))
    // e1 full: batch 4 rolls again
    run(11L, txt("docX", W), 4L)
    assert(cat.listPartitions("ep_out__e2", "batch_id").toSet ==
      Set("4"))
    def allOut = CorpusStream.readOutput(cat, "ep_out")
      .select($"doc_id").as[Long].collect().toSet
    assert(allOut == Set(11L, 14L, 20L, 22L))
    // replaying batch 3 (a restart re-delivery) binds to the epoch
    // already holding its partition — e1, NOT the current e2 — and
    // converges to the same state
    run(14L, txt("docU", T.drop(5)), 3L)
    assert(cat.listPartitions("ep_out__e1", "batch_id").toSet ==
      Set("2", "3"))
    assert(cat.listPartitions("ep_out__e2", "batch_id").toSet ==
      Set("4"))
    assert(allOut == Set(11L, 14L, 20L, 22L))
  }

  test("member-level bridges resolve through the label state across " +
       "merges and label-table compaction") {
    val S = fam(0, 40); val X = fam(1, 30); val Y = fam(2, 30)
    val P = fam(3, 8)
    val wh = graft.core.Scratch.dir("corpus_ml_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(id: Long, t: String, batch: Long): Unit =
      CorpusStream.processBatch(
        Seq((id, t, "en")).toDF("doc_id", "text", "lang"),
        cat, "ml_seen", "ml_out", batch, threshold = 0.45,
        admit = df => df, compactEvery = 2)
    // batch 0: 11 and 15 are near-dups (J ~ 0.88) -> component {11,15},
    // canonical 11, label row 15 -> 11; batch 1: 20 is separate
    CorpusStream.processBatch(
      Seq((11L, txt("dA", S, X, P), "en"),
          (15L, txt("dB", S, X), "en")).toDF("doc_id", "text", "lang"),
      cat, "ml_seen", "ml_out", 0L, threshold = 0.45,
      admit = df => df, compactEvery = 2)
    run(20L, txt("dC", S, Y), 1L)
    assert(cat.read("ml_out").select($"doc_id").as[Long].collect()
      .toSet == Set(11L, 20L))
    // batch 2 (compaction fires first): 30 verifies against member 15
    // AND 20 — the label state must resolve 15 to canonical 11, so the
    // merge is {11, 20, 30} with canonical 11 and 20 retracts
    run(30L, txt("dD", S, X, Y), 2L)
    assert(cat.read("ml_out").select($"doc_id").as[Long].collect()
      .toSet == Set(11L))
    // batch 3: 32 is near 20's text only; 20's label must NOW read 11
    // (the member update written at the merge), so 32 just dies
    run(32L, txt("dE", S, Y.drop(3)), 3L)
    assert(cat.read("ml_out").select($"doc_id").as[Long].collect()
      .toSet == Set(11L))
    // the label table's latest-wins view maps every member and every
    // dethroned canonical to 11
    val lbls = cat.read("ml_seen_lbl")
      .select($"id", $"lbl", $"b").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.maxBy(_._3)._2 }
    assert(lbls == Map(15L -> 11L, 20L -> 11L, 30L -> 11L, 32L -> 11L))
  }

  test("incremental corpus pipeline: replaying a micro-batch " +
       "overwrites its partition (idempotent)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val first = docs.filter($"doc_id" < 250)
    val second = docs.filter($"doc_id" >= 250)
    val wh = graft.core.Scratch.dir("corpus_rp_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    graft.streaming.CorpusStream.processBatch(first, cat,
      "corpus_seen", "corpus_sampled", 0L)
    graft.streaming.CorpusStream.processBatch(second, cat,
      "corpus_seen", "corpus_sampled", 1L)
    val before = cat.read("corpus_sampled")
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet
    // replay batch 1 (e.g. after a failure past the seen-table write):
    // its own partitions are excluded from `seen`, then overwritten
    graft.streaming.CorpusStream.processBatch(second, cat,
      "corpus_seen", "corpus_sampled", 1L)
    val after = cat.read("corpus_sampled")
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet
    assert(after == before)
  }

  test("removeDocs takedown: removed ids leave the output (epoch " +
       "tables included), suppressed near-dupes stay suppressed, " +
       "re-ingested removed content stays out, unknown ids are no-ops") {
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val wh = graft.core.Scratch.dir("corpus_td_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    Seq(docs.filter($"doc_id" < 250), docs.filter($"doc_id" >= 250))
      .zipWithIndex.foreach { case (b, i) =>
        CorpusStream.processBatch(b, cat, "td_seen", "td_out",
          i.toLong, epochEvery = 1)
      }
    def out = CorpusStream.readOutput(cat, "td_out")
      .select($"doc_id").as[Long].collect().toSet
    val before = out
    // remove two emitted docs (one per epoch generation) + an id the
    // corpus never held
    val doomed = (before.min :: before.max :: 999999L :: Nil)
    CorpusStream.removeDocs(cat, "td_seen", "td_out",
      doomed.toDF("doc_id"))
    val after = out
    assert(after == before - before.min - before.max)
    // suppressed docs did NOT reappear: output only shrank
    assert(after.subsetOf(before))
    // the removed docs' state remains, so re-ingesting the same
    // content dies against the seen state instead of resurrecting
    CorpusStream.processBatch(
      docs.filter($"doc_id".isin(before.min, before.max)), cat,
      "td_seen", "td_out", 2L, epochEvery = 1)
    assert(out == after)
    // idempotent: a second takedown run changes nothing
    CorpusStream.removeDocs(cat, "td_seen", "td_out",
      doomed.toDF("doc_id"))
    assert(out == after)
    // a non-long id fails loudly — a silent null cast would be a
    // takedown that silently misses the doc
    val ex = intercept[Exception] {
      CorpusStream.removeDocs(cat, "td_seen", "td_out",
        Seq("oops").toDF("doc_id"))
    }
    assert(ex.getMessage.contains("not a long"), ex.getMessage)
  }

  test("corpus CDC: interleaved add/delete batches serve the chain " +
       "minus the deletions, add+delete in one batch nets deleted, a " +
       "replay converges, and NULL/unknown ops are refused loudly") {
    import graft.streaming.CorpusStream
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val wh = graft.core.Scratch.dir("corpus_cdc_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def adds(df: org.apache.spark.sql.DataFrame) =
      df.select(lit("add").as("op"), $"doc_id", $"text", $"lang")
    def dels(ids: Seq[Long]) =
      ids.toDF("doc_id").select(lit("delete").as("op"), $"doc_id",
        lit(null).cast("string").as("text"),
        lit(null).cast("string").as("lang"))
    // reference: same two add batches, takedown applied at the end
    val whR = graft.core.Scratch.dir("corpus_cdcr_")
    val catR = new graft.catalog.TableCatalog(spark, whR)
    Seq(docs.filter($"doc_id" < 250), docs.filter($"doc_id" >= 250))
      .zipWithIndex.foreach { case (b, i) =>
        CorpusStream.processBatch(b, catR, "r_seen", "r_out", i.toLong)
      }
    val emitted = CorpusStream.readOutput(catR, "r_out")
      .select($"doc_id").as[Long].collect().sorted
    val (d1, d2) = (emitted.head, emitted.last) // one per batch window
    CorpusStream.removeDocs(catR, "r_seen", "r_out",
      Seq(d1, d2).toDF("doc_id"))
    def outOf(c: graft.catalog.TableCatalog, t: String) =
      CorpusStream.readOutput(c, t)
        .select($"doc_id", $"lang", $"n_toks")
        .as[(Long, String, Int)].collect().toSet
    val want = outOf(catR, "r_out")
    // CDC run: batch 1's deletes name an earlier-batch doc AND a doc
    // added in batch 1 itself (add+delete nets deleted), plus a
    // never-arrived id (no-op)
    CorpusStream.processCdcBatch(adds(docs.filter($"doc_id" < 250)),
      cat, "c_seen", "c_out", "op", 0L)
    CorpusStream.processCdcBatch(
      adds(docs.filter($"doc_id" >= 250))
        .unionByName(dels(Seq(d1, d2, 999999L))),
      cat, "c_seen", "c_out", "op", 1L)
    assert(outOf(cat, "c_out") == want)
    // replay of the latest batch converges (idempotent add partitions
    // + idempotent rewrite)
    CorpusStream.processCdcBatch(
      adds(docs.filter($"doc_id" >= 250))
        .unionByName(dels(Seq(d1, d2, 999999L))),
      cat, "c_seen", "c_out", "op", 1L)
    assert(outOf(cat, "c_out") == want)
    // malformed and NULL ops are refused before anything lands
    val ex = intercept[IllegalArgumentException] {
      CorpusStream.processCdcBatch(
        docs.limit(1).select(lit("upsert").as("op"), $"doc_id",
          $"text", $"lang"), cat, "c_seen", "c_out", "op", 2L)
    }
    assert(ex.getMessage.contains("'add' or 'delete'"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      CorpusStream.processCdcBatch(
        docs.limit(1).select(lit(null).cast("string").as("op"),
          $"doc_id", $"text", $"lang"), cat, "c_seen", "c_out", "op", 2L)
    }
    assert(ex2.getMessage.contains("'add' or 'delete'"), ex2.getMessage)
  }

  test("shard export manifest + purge: takedown reaches the shipped " +
       "JSONL (affected shards rewritten, emptied shards deleted, " +
       "membership dropped), is idempotent, no-ops on unknown ids, " +
       "and fails loudly on a stale export or bad id") {
    import graft.text.ShardExport
    val docs = (0L until 40L).map(i =>
      (i, i / 10, s"doc-$i body ${i * 31}")).toDF("id", "chunk", "text")
    val out = graft.core.Scratch.dir("shexp_")
    val wh = graft.core.Scratch.dir("shexp_wh_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    ShardExport.exportJsonl(cat, docs, "exp", out)
    val meta = cat.read("exp").collect()(0)
    assert(meta.getString(meta.fieldIndex("dir")) == out)
    assert(meta.getLong(meta.fieldIndex("n_shards")) == 4L)
    assert(meta.getLong(meta.fieldIndex("n_docs")) == 40L)
    def readIds = spark.read.json(out).select($"id").as[Long]
      .collect().toSet
    assert(readIds == (0L until 40L).toSet)
    // purge a slice spanning two shards + the WHOLE of shard 3 + an
    // unknown id
    val doomed = (Seq(3L, 7L, 15L) ++ (30L until 40L) ++ Seq(777L))
    ShardExport.purge(cat, "exp", doomed.toDF("id"))
    val wantLeft = (0L until 30L).toSet -- Set(3L, 7L, 15L)
    assert(readIds == wantLeft)
    // the meta now describes the artifact as it IS, not as exported
    val metaAfter = cat.read("exp").collect()(0)
    assert(metaAfter.getLong(metaAfter.fieldIndex("n_docs"))
      == wantLeft.size.toLong)
    assert(metaAfter.getLong(metaAfter.fieldIndex("n_shards")) == 3L)
    // the fully-purged shard DIRECTORY is gone, untouched shards stand
    assert(!new java.io.File(s"$out/chunk=3").exists)
    assert(new java.io.File(s"$out/chunk=2").exists)
    // membership shrank to the survivors
    assert(cat.read("exp_members").count() == wantLeft.size)
    // idempotent
    ShardExport.purge(cat, "exp", doomed.toDF("id"))
    assert(readIds == wantLeft)
    // unknown ids alone: a pure no-op
    ShardExport.purge(cat, "exp", Seq(888L).toDF("id"))
    assert(readIds == wantLeft)
    // the registry recorded the export at write time: one purgeAll
    // sweep reaches it WITHOUT the operator naming it
    assert(cat.listPartitions(ShardExport.RegistryTable, "name")
      == Seq("exp"))
    assert(ShardExport.purgeAll(cat, Seq(16L).toDF("id")) == Seq("exp"))
    assert(readIds == wantLeft - 16L)
    // no registry at all (fresh warehouse): purgeAll is an empty no-op
    val whE = graft.core.Scratch.dir("shexp_e_")
    assert(ShardExport.purgeAll(
      new graft.catalog.TableCatalog(spark, whE),
      Seq(1L).toDF("id")).isEmpty)
    // a NULL or non-long id would silently miss — refused loudly
    val exN = intercept[Exception] {
      ShardExport.purge(cat, "exp",
        Seq[java.lang.Long](5L, null).toDF("id"))
    }
    assert(exN.getMessage.contains("NULL"), exN.getMessage)
    // a purge against a GONE export directory names the stale artifact
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val exS = intercept[IllegalArgumentException] {
      ShardExport.purge(cat, "exp", Seq(1L).toDF("id"))
    }
    assert(exS.getMessage.contains("STALE"), exS.getMessage)
    // missing meta = no export to purge
    val exM = intercept[IllegalArgumentException] {
      ShardExport.purge(cat, "nope", Seq(1L).toDF("id"))
    }
    assert(exM.getMessage.contains("no export meta"), exM.getMessage)
  }

  test("incremental corpus pipeline: state compaction every K batches " +
       "yields identical output and identical seen-state, with the " +
       "directory count bounded") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    // 5 batches so compactEvery=2 fires multiple times, including over
    // an already-compacted partition (c-key + fresh numeric keys)
    val slices = Seq(
      docs.filter($"doc_id" < 100),
      docs.filter($"doc_id" >= 100 && $"doc_id" < 200),
      docs.filter($"doc_id" >= 200 && $"doc_id" < 300),
      docs.filter($"doc_id" >= 300 && $"doc_id" < 400),
      docs.filter($"doc_id" >= 400))
    def run(every: Int): (Set[(Long, String, Int)], Set[(Long, String)],
        Int, graft.catalog.TableCatalog) = {
      val wh = graft.core.Scratch.dir("corpus_cm_")
      val cat = new graft.catalog.TableCatalog(spark, wh)
      slices.zipWithIndex.foreach { case (b, i) =>
        CorpusStream.processBatch(b, cat, "cm_seen", "cm_out", i.toLong,
          compactEvery = every)
      }
      val out = cat.read("cm_out").select($"doc_id", $"lang", $"n_toks")
        .as[(Long, String, Int)].collect().toSet
      val state = CorpusStream.readState(cat, "cm_seen").select($"id", $"fp")
        .as[(Long, String)].collect().toSet
      (out, state, cat.listPartitions("cm_seen", "batch_id").size, cat)
    }
    val (plainOut, plainState, plainDirs, plainCat) = run(every = 0)
    val (compOut, compState, compDirs, compCat) = run(every = 2)
    assert(compOut == plainOut)
    assert(compOut.nonEmpty)
    assert(compState == plainState)
    assert(plainDirs == 5)
    // trigger-at-2 keeps at most (compacted + current + one fresh) dirs
    assert(compDirs <= 3, s"expected <=3 state dirs, got $compDirs")
    // a further compaction over the final state is idempotent
    assert(CorpusStream.compactState(compCat, "cm_seen", "99"))
    val again = CorpusStream.readState(compCat, "cm_seen").select($"id", $"fp")
      .as[(Long, String)].collect().toSet
    assert(again == plainState)
    assert(compCat.listPartitions("cm_seen", "batch_id").size == 1)
    assert(compCat.listPartitions("cm_seen_bands", "batch_id").size == 1)
    // a default-threshold fold of small batches takes the live writes'
    // plain layout: one data file and no pk= directories per table
    for (t <- pkTables("cm_seen")) {
      val Seq(c) = compCat.listPartitions(t, "batch_id")
      assert(pkDirs(compCat, t, c).isEmpty, t)
      assert(dataFiles(compCat, t, c) == 1, t)
    }
    // the same small state folded with pkSplitMinRows = 1 (the footer
    // row count of its plain sources reaches it) takes pk= directories,
    // row-identically
    assert(CorpusStream.compactState(plainCat, "cm_seen", "99",
      pkSplitMinRows = 1L))
    for (t <- pkTables("cm_seen")) {
      val Seq(c) = plainCat.listPartitions(t, "batch_id")
      assert(pkDirs(plainCat, t, c).nonEmpty, t)
    }
    assert(CorpusStream.readState(plainCat, "cm_seen").select($"id", $"fp")
      .as[(Long, String)].collect().toSet == plainState)
  }

  private def pkTables(state: String): Seq[String] =
    Seq(state, s"${state}_bands", s"${state}_fp", s"${state}_emit")

  private def pkDirs(cat: graft.catalog.TableCatalog, table: String,
                     key: String): Seq[String] =
    cat.listSubPartitions(table, "batch_id", key, "pk")

  private def dataFiles(cat: graft.catalog.TableCatalog, table: String,
                        key: String): Int =
    new java.io.File(cat.partitionPath(table, "batch_id", key)).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  test("a plain compacted partition re-folds with later batches into " +
       "one plain file, and reaching pkSplitMinRows splits the next " +
       "fold; state and output identical to the uncompacted run") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val slices = (0 until 5).map(i =>
      docs.filter($"doc_id" >= i * 100 && $"doc_id" < (i + 1) * 100))
    def catalog() = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_rf_"))
    def batch(cat: graft.catalog.TableCatalog, i: Int): Unit =
      CorpusStream.processBatch(slices(i), cat, "rf_seen", "rf_out",
        i.toLong, compactEvery = 0)
    def rowsOf(cat: graft.catalog.TableCatalog) = (
      cat.read("rf_out").select($"doc_id").as[Long].collect().toSet,
      CorpusStream.readState(cat, "rf_seen").select($"id", $"fp")
        .as[(Long, String)].collect().toSet,
      cat.read("rf_seen_bands").select($"id", $"band_idx", $"band_key")
        .as[(Long, Int, String)].collect().toSet,
      cat.read("rf_seen_fp").select($"id", $"fp")
        .as[(Long, String)].collect().toSet,
      cat.read("rf_seen_emit").select($"id", $"eb")
        .as[(Long, String)].collect().toSet)
    val ref = catalog()
    (0 until 4).foreach(batch(ref, _))
    val cat = catalog()
    batch(cat, 0); batch(cat, 1)
    assert(CorpusStream.compactState(cat, "rf_seen", "99"))
    batch(cat, 2); batch(cat, 3)
    // c1 (plain) + batches 2, 3 fold into one plain c3
    assert(CorpusStream.compactState(cat, "rf_seen", "99"))
    for (t <- pkTables("rf_seen")) {
      assert(cat.listPartitions(t, "batch_id") == Seq("c3"), t)
      assert(pkDirs(cat, t, "c3").isEmpty, t)
      assert(dataFiles(cat, t, "c3") == 1, t)
    }
    assert(rowsOf(cat) == rowsOf(ref))
    // one more batch over the re-folded state, then a fold whose
    // threshold the plain c3 + batch 4 footers reach: pk-split c4
    batch(ref, 4); batch(cat, 4)
    assert(CorpusStream.compactState(cat, "rf_seen", "99",
      pkSplitMinRows = 1L))
    for (t <- pkTables("rf_seen")) {
      assert(cat.listPartitions(t, "batch_id") == Seq("c4"), t)
      assert(pkDirs(cat, t, "c4").nonEmpty, t)
    }
    assert(rowsOf(cat) == rowsOf(ref))
  }

  test("every job a chain batch starts carries its phase label, not " +
       "only the batch-wide one") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_jl_"))
    val jobs = jobsStartedBy {
      // three batches with a cadence of 2: the third compacts first
      (0 until 3).foreach { i =>
        CorpusStream.processBatch(
          docs.filter($"doc_id" >= i * 150 && $"doc_id" < (i + 1) * 150),
          cat, "jl_seen", "jl_out", i.toLong, compactEvery = 2)
      }
    }
    assert(jobs.exists(_._1.startsWith("CorpusStream: compact ")))
    val bare = jobs.filter(_._1.matches("CorpusStream: b\\d+ chain"))
    assert(bare.isEmpty, bare.mkString("\n"))
  }

  test("a small merge-free batch over a compacted state runs its " +
       "near-dup cascade on the driver: a bounded job count, no " +
       "distributed cascade or state-width jobs") {
    // 40 seeded random words per doc: trigram Jaccard between any two
    // docs is ~0.01, so no near-dup pairs inside a batch or across
    // batches and no merge bookkeeping runs
    def batch(ids: Range) = ids.map { i =>
        val rnd = new scala.util.Random(i)
        (i.toLong, Seq.fill(40)((0 until 6)
          .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
          .mkString(" "), "en")
      }.toDF("doc_id", "text", "lang")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_jb_"))
    // batch 2 compacts batches 0-1 first: the measured batch reads a
    // compacted `c` partition beside one live partition
    (0 until 3).foreach { b =>
      CorpusStream.processBatch(batch(b * 20 until b * 20 + 20), cat,
        "jb_seen", "jb_out", b.toLong, admit = df => df, compactEvery = 2)
    }
    assert(cat.listPartitions("jb_seen", "batch_id")
      .exists(_.startsWith("c")))
    val jobs = jobsStartedBy {
      CorpusStream.processBatch(batch(60 until 80), cat, "jb_seen",
        "jb_out", 3L, admit = df => df, compactEvery = 0)
    }
    val labels = jobs.map(_._1)
    Seq("internal pairs + components", "cross candidates", "state width",
        "merge components", "retract", "new docs", "cross verify",
        "signatures collect").foreach { l =>
      assert(!labels.exists(_.endsWith(l)),
        s"$l in\n${labels.mkString("\n")}")
    }
    assert(labels.exists(_.endsWith("b3 batch collect")))
    assert(labels.exists(_.endsWith("b3 seen state")))
    assert(!labels.exists(_.endsWith("]")), labels.mkString("\n"))
    assert(jobs.size <= MergeFreeBatchJobs, labels.mkString("\n"))
    assert(CorpusStream.readState(cat, "jb_seen").count() == 80)
    // the driver-path sketch partitions (batches 2 and 3) carry the sig
    // width in their footers — the read restores it from every footer,
    // so the width guard runs no Spark job
    assert(cat.listPartitions("jb_seen", "batch_id").toSet ==
      Set("c1", "2", "3"))
    // and the batch's output partition is one file, as a distributed
    // small batch's is
    assert(new java.io.File(cat.partitionPath("jb_out", "batch_id", "3"))
      .list().count(_.endsWith(".parquet")) == 1)
    assert(graft.sim.MinHashLSH.sigWidthOf(
      CorpusStream.readState(cat, "jb_seen")) ==
      Some(graft.sim.MinHashLSH.geometryFor(
        graft.text.CorpusPipeline.NearDupThreshold).numPerm))
  }

  /** Jobs a merge-free 20-doc batch over a compacted state starts
    * (measured: 7 — batch collect, seen state and the five writes). */
  private val MergeFreeBatchJobs = 7

  /** The batch dp01 chain (gate, exact dedup, near-dup clustering,
    * sample, project) under the stream's admission and threshold: what
    * a streamed run must converge to. */
  private def batchChain(docs: org.apache.spark.sql.DataFrame,
      admit: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, String, Int)] = {
    import graft.text.CorpusPipeline
    val deduped = graft.core.Fence(graft.ops.Dedup.exactDedup(admit(docs),
      CorpusPipeline.fingerprintPrefix, $"doc_id"))
    val pairs = graft.sim.MinHashLSH.nearDupPairs(deduped, "doc_id", "text",
      threshold = threshold)
    graft.ops.Dedup.clusterDedup(deduped, "doc_id", pairs, "doc_a", "doc_b")
      .filter(CorpusPipeline.samplePredicate)
      .select($"doc_id", $"lang",
        size(graft.text.TextHash.tokens($"text")).as("n_toks"))
      .as[(Long, String, Int)].collect().toSet
  }

  test("the driver path equals the distributed path row for row: an " +
       "out-of-order feed with exact re-arrivals both ways, null and " +
       "sub-3-char texts, run as <= 64-doc batches and as > 64-doc " +
       "batches, writes identical sketch, _bands, _fp, _emit and _lbl " +
       "rows and converges to batch dp01") {
    import graft.text.CorpusPipeline
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSeq
    // dp01's gate, plus null and sub-3-char texts (which it rejects), so
    // they reach the chain: one null (a null fp never matches, so a
    // second one would survive beside it in the stream but not in a
    // batch), and "ab" twice, an exact re-arrival under its threshold
    val admit = (df: org.apache.spark.sql.DataFrame) =>
      CorpusPipeline.gate(df).unionByName(
        df.filter($"text".isNull || length($"text") < 3))
    val rnd = new scala.util.Random(23)
    val shuffled = rnd.shuffle(docs)
    // batch 0: 300 docs, over the id cap on both runs; the rest in
    // 40-doc batches of an out-of-order feed
    val (first, rest) = shuffled.splitAt(300)
    // one admitted batch-0 doc per 60-char fingerprint prefix
    val admitted = spark.createDataset(first).toDF("doc_id", "text", "lang")
      .transform(admit).as[(Long, String, String)].collect().toSeq
      .filter(_._2 != null).groupBy(_._2.take(60)).values.map(_.minBy(_._1))
      .toSeq.sortBy(_._1)
    val kept = admitted.head
    val dethroned = admitted(1)
    // the smaller-id twin shares only the stored copy's 60-char
    // fingerprint prefix; its body is another doc's, so only the forced
    // pair (never the LSH verify) can dethrone the stored copy
    val divergent = dethroned._2.take(60) + admitted(2)._2.drop(60)
    val planted = Seq(
      (kept._1 + 2000L, kept._2, kept._3), // stored id smaller: dropped
      (-1L - dethroned._1, divergent, dethroned._3), // larger: forced
      (3000L, null, "en"), (3001L, "", "en"), (3002L, "a", "en"),
      (3003L, "ab", "en"), (3004L, "ab", "en"))
    val feed = first +: (rest ++ planted.take(1)).grouped(40).toSeq
      .zipWithIndex.map { case (b, i) =>
        b ++ (if (i == 1) planted.slice(1, 6) else Nil) ++
          (if (i == 3) planted.drop(6) else Nil) }
    assert(feed.tail.forall(_.size <= CorpusStream.DriverVerifyIdCap))
    assert(Seq((0L, divergent, dethroned._3)).toDF("doc_id", "text", "lang")
      .transform(admit).count() == 1)
    // the distributed run pads each later batch with 65 exact
    // re-deliveries of batch-0 docs under larger ids: the gate drops
    // them (no row written), but they lift the batch over the id cap
    // while every batch keeps its id, so b and eb match too
    val pads = admitted.take(65).map { case (id, t, l) =>
      (id + 1000000L, t, l) }
    assert(pads.size == 65)
    def run(name: String, padded: Boolean) = {
      val cat = new graft.catalog.TableCatalog(spark,
        graft.core.Scratch.dir(s"corpus_${name}_"))
      val jobs = jobsStartedBy {
        feed.zipWithIndex.foreach { case (b, i) =>
          val rows = if (padded && i > 0) b ++ pads else b
          CorpusStream.processBatch(
            rows.toDF("doc_id", "text", "lang"), cat, "eq_seen", "eq_out",
            i.toLong, admit = admit, compactEvery = 4)
        }
      }
      (cat, jobs.map(_._1))
    }
    val (dCat, dLabels) = run("dp", padded = false)
    val (xCat, xLabels) = run("dx", padded = true)
    assert(dLabels.count(_.endsWith("[over id cap]")) > 0)
    assert(!dLabels.exists(l => l.contains("[") && !l.contains(" b0 ")),
      dLabels.mkString("\n"))
    assert(xLabels.exists(_.endsWith("new docs [over id cap]")))
    def rowsOf(cat: graft.catalog.TableCatalog, t: String) =
      cat.read(t).collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    Seq("eq_seen", "eq_seen_bands", "eq_seen_fp", "eq_seen_emit",
        "eq_seen_lbl").foreach { t =>
      val d = rowsOf(dCat, t)
      assert(d.nonEmpty, t)
      assert(d == rowsOf(xCat, t), t)
    }
    // the forced merge dethroned the stored copy: it holds a label row
    // naming the smaller-id re-arrival
    val lbls = dCat.read("eq_seen_lbl").select($"id", $"lbl", $"b")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.maxBy(_._3)._2 }
    assert(lbls.get(dethroned._1).contains(-1L - dethroned._1))
    val want = batchChain(feed.flatten.toDF("doc_id", "text", "lang"),
      admit, CorpusPipeline.NearDupThreshold)
    Seq(dCat, xCat).foreach { cat =>
      assert(CorpusStream.readOutput(cat, "eq_out")
        .select($"doc_id", $"lang", $"n_toks")
        .as[(Long, String, Int)].collect().toSet == want)
    }
  }

  test("a batch whose band keys collide with more than " +
       "DriverVerifyPairCap stored rows runs distributed, its jobs " +
       "labelled `over pair cap`, and converges to batch dp01") {
    // 60 near-identical docs (distinct fingerprints, one shared body of
    // 40 random words): at t = 0.45 (120 bands) every stored doc
    // collides with a new one in most bands
    val rnd = new scala.util.Random(5)
    val body = Seq.fill(40)((0 until 6)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    def doc(id: Long) = (id, s"u$id $body", "en")
    val stored = (0L until 60L).map(doc)
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_pc_"))
    def run(rows: Seq[(Long, String, String)], b: Long) =
      CorpusStream.processBatch(rows.toDF("doc_id", "text", "lang"), cat,
        "pc_seen", "pc_out", b, threshold = 0.45, admit = df => df)
    run(stored, 0L)
    val labels = jobsStartedBy(run(Seq(doc(100L), doc(101L)), 1L)).map(_._1)
    assert(labels.exists(_.endsWith("b1 seen state")))
    assert(labels.exists(_.endsWith("b1 new docs [over pair cap]")),
      labels.mkString("\n"))
    val want = batchChain((stored :+ doc(100L) :+ doc(101L))
      .toDF("doc_id", "text", "lang"), df => df, 0.45)
    assert(CorpusStream.readOutput(cat, "pc_out")
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet == want)
    assert(want.map(_._1).subsetOf(Set(0L)))
  }

  /** Four batches of 40-seeded-random-word docs (no near-dups among
    * them), plus batch 3's doc 95: doc 5's text behind one more word
    * (another fingerprint), a near-dup the cascade finds only through
    * the stored band rows. Batches 0-2 run with a compaction cadence of
    * 3; then a compaction is killed between its sketch and `_bands`
    * folds: the sketch fold committed (`c2`), the `_bands` fold did not
    * (its pre-fold partitions 0-2 remain). Returns the warehouse, its
    * catalog, the batch runner and batch dp01's result over all four
    * batches. */
  private def killedBandsFold(name: String): (String,
      graft.catalog.TableCatalog, Int => Unit, Set[(Long, String, Int)]) = {
    def rows(ids: Range) = ids.map(i => (i.toLong, randomWords(i), "en"))
    val batches = Seq(rows(0 until 10), rows(10 until 20), rows(20 until 30),
      rows(30 until 39) :+ ((95L, "extra " + randomWords(5), "en")))
    val wh = graft.core.Scratch.dir(s"corpus_${name}_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def run(b: Int) = CorpusStream.processBatch(
      batches(b).toDF("doc_id", "text", "lang"), cat, s"${name}_seen",
      s"${name}_out", b.toLong, admit = df => df, compactEvery = 3)
    (0 until 3).foreach(run)
    val bandsDir =
      java.nio.file.Paths.get(cat.tablePath(s"${name}_seen_bands"))
    val saved =
      java.nio.file.Paths.get(
        graft.core.Scratch.dir(s"corpus_${name}_saved_"))
    org.apache.commons.io.FileUtils.copyDirectory(bandsDir.toFile,
      saved.toFile)
    assert(CorpusStream.compactState(cat, s"${name}_seen", "3"))
    org.apache.commons.io.FileUtils.deleteDirectory(bandsDir.toFile)
    org.apache.commons.io.FileUtils.copyDirectory(saved.toFile,
      bandsDir.toFile)
    assert(cat.listPartitions(s"${name}_seen", "batch_id") == Seq("c2"))
    assert(cat.listPartitions(s"${name}_seen_bands", "batch_id").toSet ==
      Set("0", "1", "2"))
    val want = batchChain(batches.flatten.toDF("doc_id", "text", "lang"),
      df => df, graft.text.CorpusPipeline.NearDupThreshold)
    assert(!want.exists(_._1 == 95L))
    (wh, cat, run, want)
  }

  /** 40 random six-letter words seeded by `i`: trigram Jaccard between
    * two such docs is ~0.01. */
  private def randomWords(i: Int): String = {
    val rnd = new scala.util.Random(i)
    Seq.fill(40)((0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar)
      .mkString).mkString(" ")
  }

  private def streamedOutput(cat: graft.catalog.TableCatalog,
      outTable: String): Set[(Long, String, Int)] =
    CorpusStream.readOutput(cat, outTable)
      .select($"doc_id", $"lang", $"n_toks")
      .as[(Long, String, Int)].collect().toSet

  test("a compaction killed between its sketch and _bands folds: the " +
       "next batch reads _bands under their pre-fold keys on the driver " +
       "path, converges to batch dp01, and the next compaction aligns " +
       "the keys") {
    val (_, cat, run, want) = killedBandsFold("bf")
    val labels = jobsStartedBy(run(3)).map(_._1)
    assert(!labels.exists(_.contains("backfill")), labels.mkString("\n"))
    assert(!labels.exists(_.endsWith("]")), labels.mkString("\n"))
    assert(labels.exists(_.endsWith("b3 seen state")), labels.mkString("\n"))
    assert(streamedOutput(cat, "bf_out") == want)
    assert(CorpusStream.compactState(cat, "bf_seen", "4"))
    assert(cat.listPartitions("bf_seen", "batch_id") ==
      cat.listPartitions("bf_seen_bands", "batch_id"))
    assert(cat.listPartitions("bf_seen", "batch_id") == Seq("c3"))
  }

  test("a batch after a killed compaction stays on the driver path while " +
       "another owner holds the state's lock, and converges") {
    val (wh, cat, run, want) = killedBandsFold("bl")
    val other = new graft.catalog.TableCatalog(spark, wh)
    assert(other.tryAcquireTableLock("bl_seen", owner = "other"))
    try {
      val labels = jobsStartedBy(run(3)).map(_._1)
      assert(!labels.exists(_.endsWith("]")), labels.mkString("\n"))
      assert(labels.exists(_.endsWith("b3 seen state")),
        labels.mkString("\n"))
    } finally other.releaseTableLock("bl_seen")
    assert(streamedOutput(cat, "bl_out") == want)
  }

  test("a sketch partition in an older format — no sig width in its " +
       "footer, or no sb column — makes processBatch and removeDocs " +
       "raise, naming the table, with no output partition changed") {
    import org.apache.spark.sql.types.Metadata
    import scala.jdk.CollectionConverters._
    def batch(ids: Range) = ids.map(i => (i.toLong, randomWords(i), "en"))
      .toDF("doc_id", "text", "lang")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("corpus_of_"))
    def run(ids: Range, b: Long) = CorpusStream.processBatch(batch(ids),
      cat, "of_seen", "of_out", b, admit = df => df)
    run(0 until 10, 0L)
    run(10 until 20, 1L)
    val part = cat.partitionPath("of_seen", "batch_id", "1")
    val read = spark.read.parquet(part)
    // a local copy: the rewrites below replace the files `read` lists
    val current = spark.createDataFrame(
      java.util.Arrays.asList(read.collect(): _*), read.schema)
    assert(graft.sim.MinHashLSH.sigWidthOf(current).nonEmpty)
    assert(current.columns.contains("sb"))
    def rewrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(part)
    def outFiles() = {
      val root = java.nio.file.Paths.get(cat.tablePath("of_out"))
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString ->
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toSet
      finally files.close()
    }
    val before = outFiles()
    val emitted = streamedOutput(cat, "of_out")
    assert(emitted.nonEmpty)
    val older = Seq(
      "records no `sig` width" -> current.withColumn("sig",
        $"sig".as("sig", Metadata.empty)),
      "has no `sb` column" -> current.drop("sb"))
    for ((why, df) <- older) {
      rewrite(df)
      val exBatch = intercept[IllegalStateException](run(20 until 30, 2L))
      val exRemove = intercept[IllegalStateException](
        CorpusStream.removeDocs(cat, "of_seen", "of_out",
          emitted.map(_._1).toSeq.toDF("doc_id")))
      for (ex <- Seq(exBatch, exRemove)) {
        assert(ex.getMessage.contains("'of_seen'"), ex.getMessage)
        assert(ex.getMessage.contains("batch_id=1"), ex.getMessage)
        assert(ex.getMessage.contains(why), ex.getMessage)
      }
      assert(outFiles() == before, why)
      assert(streamedOutput(cat, "of_out") == emitted, why)
    }
    // the current format reads again
    rewrite(current)
    run(20 until 30, 2L)
    assert(streamedOutput(cat, "of_out").size > emitted.size)
  }

  // three-batch seeded warehouse + the expected post-compaction state,
  // shared by the crash-recovery tests below
  private def seedCompactionState(): (graft.catalog.TableCatalog,
      Set[(Long, String)], Set[(Long, Int, String)]) = {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val slices = Seq(
      docs.filter($"doc_id" < 150),
      docs.filter($"doc_id" >= 150 && $"doc_id" < 300),
      docs.filter($"doc_id" >= 300))
    val wh = graft.core.Scratch.dir("corpus_cr_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    slices.zipWithIndex.foreach { case (b, i) =>
      CorpusStream.processBatch(b, cat, "cr_seen", "cr_out", i.toLong,
        compactEvery = 0)
    }
    val state = CorpusStream.readState(cat, "cr_seen").select($"id", $"fp")
      .as[(Long, String)].collect().toSet
    val bands = cat.read("cr_seen_bands")
      .select($"id", $"band_idx", $"band_key")
      .as[(Long, Int, String)].collect().toSet
    (cat, state, bands)
  }

  test("streaming ANN ingestion with compactEvery bounds the segment " +
       "directory count; probes and indexed_n identical to the " +
       "uncompacted run, and a post-compaction replay converges") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    def batchOf(i: Int) =
      vecs.filter($"vec_id" >= 10 + 10 * i && $"vec_id" < 20 + 10 * i)
    def run(every: Int) = {
      val wh = graft.core.Scratch.dir("ann_ing_")
      val cat = new graft.catalog.TableCatalog(spark, wh)
      AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 10), "vec_id",
        "embedding", "ing")
      (0 until 5).foreach { i =>
        AnnIndex.ingestBatch(cat, batchOf(i), "vec_id", "embedding",
          "ing", i.toLong, compactEvery = every)
      }
      def indexedN = {
        val r = cat.read("ing").collect()(0)
        r.getLong(r.fieldIndex("indexed_n"))
      }
      (canon(AnnIndex.sq8TopKFromIndex(cat, "ing", q, "vec_id",
         "embedding", 5)),
       cat.listPartitions("ing_assign", "seg").size,
       indexedN, cat)
    }
    val (p0, segs0, n0, _) = run(0)
    val (p2, segs2, n2, cat2) = run(2)
    assert(p0 == p2)          // compaction is pure re-layout
    assert(n0 == 60 && n2 == 60)
    assert(segs0 == 6)        // no cadence: one directory per batch
    assert(segs2 <= 3, s"cadence failed to bound segments: $segs2")
    // replay a batch the cadence already folded into seg 0: the
    // re-append duplicates rows seg 0 holds, and the in-loop
    // compaction that fires in the same call collapses them —
    // converged by the end of the replayed batch
    AnnIndex.ingestBatch(cat2, batchOf(3), "vec_id", "embedding",
      "ing", 3L, compactEvery = 2)
    assert(cat2.listPartitions("ing_assign", "seg") == Seq("0"))
    val r2 = cat2.read("ing").collect()(0)
    assert(r2.getLong(r2.fieldIndex("indexed_n")) == 60)
    assert(canon(AnnIndex.sq8TopKFromIndex(cat2, "ing", q, "vec_id",
      "embedding", 5)) == p0)
  }

  test("CDC ingestion: adds and deletes in one feed serve exactly the " +
       "surviving corpus, a latest-batch replay converges even after " +
       "its compaction, and ambiguous or malformed batches fail loudly") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(61)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    val wh = graft.core.Scratch.dir("ann_cdc_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 10), "vec_id",
      "embedding", "cdc")
    def cdc(adds: org.apache.spark.sql.DataFrame, delIds: Seq[Long]) =
      adds.select(lit("add").as("op"), $"vec_id", $"embedding")
        .union(delIds.toDF("vec_id")
          .select(lit("delete").as("op"), $"vec_id",
            typedLit(Array.empty[Float]).as("embedding")))
    // batch 0: add 10-19; batch 1: add 20-29, delete {3, 12};
    // batch 2: add 30-39, delete {25}
    AnnIndex.ingestCdcBatch(cat,
      cdc(vecs.filter($"vec_id" >= 10 && $"vec_id" < 20), Nil),
      "vec_id", "embedding", "op", "cdc", 0L, compactEvery = 2)
    AnnIndex.ingestCdcBatch(cat,
      cdc(vecs.filter($"vec_id" >= 20 && $"vec_id" < 30), Seq(3L, 12L)),
      "vec_id", "embedding", "op", "cdc", 1L, compactEvery = 2)
    AnnIndex.ingestCdcBatch(cat,
      cdc(vecs.filter($"vec_id" >= 30), Seq(25L)),
      "vec_id", "embedding", "op", "cdc", 2L, compactEvery = 2)
    // truth: an index that never held the deleted ids
    val live = vecs.filter(!$"vec_id".isin(3L, 12L, 25L))
    AnnIndex.buildSq8(cat, live, "vec_id", "embedding", "cdcref")
    val want = canon(AnnIndex.sq8TopKFromIndex(cat, "cdcref", q,
      "vec_id", "embedding", 5))
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "cdc", q, "vec_id",
      "embedding", 5)) == want)
    // latest-batch replay: force the cadence to fold batch 2 and
    // drain its tombstone first, then replay it — re-created
    // tombstones are no-ops against purged rows, duplicate adds
    // collapse in the in-loop compaction; converged at the end
    AnnIndex.compactSegs(cat, "cdc")
    assert(cat.listPartitions("cdc_dels", "dseg").isEmpty)
    AnnIndex.ingestCdcBatch(cat,
      cdc(vecs.filter($"vec_id" >= 30), Seq(25L)),
      "vec_id", "embedding", "op", "cdc", 2L, compactEvery = 1)
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "cdc", q, "vec_id",
      "embedding", 5)) == want)
    // a batch that deletes and re-adds the same id is ambiguous under
    // id-level tombstones: the add half's re-insert guard refuses it
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.ingestCdcBatch(cat,
        cdc(vecs.filter($"vec_id" === 30L), Seq(30L)),
        "vec_id", "embedding", "op", "cdc", 3L)
    }
    assert(ex.getMessage.contains("compactSegs"), ex.getMessage)
    // malformed op values fail loudly before anything lands
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.ingestCdcBatch(cat,
        vecs.filter($"vec_id" === 31L)
          .select(lit("upsert").as("op"), $"vec_id", $"embedding"),
        "vec_id", "embedding", "op", "cdc", 4L)
    }
    assert(ex2.getMessage.contains("'add' or 'delete'"), ex2.getMessage)
    // a NULL op matches neither half — it must be refused just as
    // loudly, not silently dropped (the filter-drops-NULL trap)
    val ex3 = intercept[IllegalArgumentException] {
      AnnIndex.ingestCdcBatch(cat,
        vecs.filter($"vec_id" === 31L)
          .select(lit(null).cast("string").as("op"), $"vec_id",
            $"embedding"),
        "vec_id", "embedding", "op", "cdc", 4L)
    }
    assert(ex3.getMessage.contains("'add' or 'delete'"), ex3.getMessage)
    // delete-free batches write NO tombstone partition: marker-only
    // dseg= directories must not accumulate one per micro-batch
    // (the ambiguous batch 3 above landed its delete half before its
    // add half was refused, so exactly b3 stands here)
    val delsBefore = cat.listPartitions("cdc_dels", "dseg")
    AnnIndex.ingestCdcBatch(cat,
      cdc(vecs.filter($"vec_id" === 25L), Nil), // 25: purged, re-usable
      "vec_id", "embedding", "op", "cdc", 5L)
    assert(cat.listPartitions("cdc_dels", "dseg") == delsBefore)
  }

  test("kind-generic ingestion: the residual IVF-PQ index streams " +
       "through the same sink (frozen fits, bounded directories) and " +
       "probes equal the bulk-built index") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(61)
    val vecs = (0 until 48).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"score").collect().toSeq
    def probe(cat: graft.catalog.TableCatalog, t: String) =
      canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, t, vecs, q,
        "vec_id", "embedding", 5, nprobe = 2, refine = 8))
    // reference: everything bulk-loaded under fits trained on the
    // full corpus
    val whA = graft.core.Scratch.dir("ing_a_")
    val catA = new graft.catalog.TableCatalog(spark, whA)
    AnnIndex.buildIvfPq(catA, vecs, "vec_id", "embedding", "r",
      numCells = 4, trainIters = 1, pqIters = 1)
    // streamed: seed-build a quarter (fits still trained on the full
    // corpus — the planned-capacity production shape), then 3
    // micro-batches through the generic sink with the cadence
    val whB = graft.core.Scratch.dir("ing_b_")
    val catB = new graft.catalog.TableCatalog(spark, whB)
    AnnIndex.buildIvfPq(catB, vecs.filter($"vec_id" < 12), "vec_id",
      "embedding", "r", numCells = 4, trainIters = 1, pqIters = 1,
      trainData = Some(vecs))
    (0 until 3).foreach { i =>
      AnnIndex.ingestBatch(catB,
        vecs.filter($"vec_id" >= 12 * (i + 1) && $"vec_id" < 12 * (i + 2)),
        "vec_id", "embedding", "r", i.toLong, compactEvery = 2)
    }
    // codes are pure functions of vector x frozen fits: probes equal
    assert(probe(catB, "r") == probe(catA, "r"))
    // the cadence bounded the directories
    assert(catB.listPartitions("r_assign", "seg").size <= 3)
    // dispatch reads the stored kind — pointing the sink at a missing
    // index fails with the seed-build story
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.ingestBatch(catB, q, "vec_id", "embedding", "nope", 0L)
    }
    assert(ex.getMessage.contains("seed-build"), ex.getMessage)
  }

  // both target layouts: the default threshold folds this small state
  // into plain files, pkSplitMinRows = 1 into pk= directories
  private val crashLayouts = Seq(CorpusStream.PkSplitMinRows, 1L)

  test("compactState crash recovery: a kill between a target write and " +
       "its source deletes heals on the next trigger") {
    for (minRows <- crashLayouts) {
      val (control, wantState, wantBands) = seedCompactionState()
      CorpusStream.compactState(control, "cr_seen", "99",
        pkSplitMinRows = minRows)
      for (window <- Seq("sketch-target-written", "bands-target-written")) {
        val (cat, _, _) = seedCompactionState()
        intercept[RuntimeException] {
          CorpusStream.compactState(cat, "cr_seen", "99",
            failpoint = l => if (l == window)
              throw new RuntimeException(s"injected crash at $l"),
            pkSplitMinRows = minRows)
        }
        // pre-heal: duplicated rows (committed target + undeleted sources)
        // must not change any consumer's semantics — a batch processed
        // before the healing pass sees the same seen-corpus
        assert(CorpusStream.readState(cat, "cr_seen").select($"id", $"fp")
          .as[(Long, String)].collect().toSet == wantState,
          s"$window: set-of-rows state changed by the crash")
        // heal: rerun skips the committed target's rewrite, finishes the
        // deletes, and ends bit-identical to the never-crashed run
        CorpusStream.compactState(cat, "cr_seen", "99",
          pkSplitMinRows = minRows)
        assert(CorpusStream.readState(cat, "cr_seen").select($"id", $"fp")
          .as[(Long, String)].collect().toSet == wantState, window)
        assert(cat.read("cr_seen_bands")
          .select($"id", $"band_idx", $"band_key")
          .as[(Long, Int, String)].collect().toSet == wantBands, window)
        // one-row-per-doc invariant restored (no duplicate ids survive)
        val ids = CorpusStream.readState(cat, "cr_seen").select($"id").as[Long].collect()
        assert(ids.length == ids.distinct.length, window)
        assert(cat.listPartitions("cr_seen", "batch_id") ==
          control.listPartitions("cr_seen", "batch_id"), window)
        assert(cat.listPartitions("cr_seen_bands", "batch_id") ==
          control.listPartitions("cr_seen_bands", "batch_id"), window)
        for (t <- Seq("cr_seen", "cr_seen_bands"))
          assert(pkDirs(cat, t, "c2").nonEmpty == (minRows == 1L),
            s"$window $t minRows=$minRows")
      }
    }
  }

  test("compactState crash recovery: a half-written (uncommitted) " +
       "target is rewritten from the sources, never trusted") {
    for (minRows <- crashLayouts) {
      val (control, wantState, wantBands) = seedCompactionState()
      CorpusStream.compactState(control, "cr_seen", "99",
        pkSplitMinRows = minRows)
      val (cat, _, _) = seedCompactionState()
      // fabricate the ADVICE-r9 crash: the JVM died DURING the compacted-
      // target write, leaving batch_id=c2 as a directory with a
      // _temporary staging dir and no _SUCCESS marker. The pre-fix code
      // saw the key in listPartitions, skipped the rewrite, and deleted
      // every complete source — permanently losing committed seen-state.
      for (t <- Seq("cr_seen", "cr_seen_bands")) {
        val dir = java.nio.file.Paths.get(cat.partitionPath(t, "batch_id", "c2"))
        java.nio.file.Files.createDirectories(dir.resolve("_temporary"))
      }
      CorpusStream.compactState(cat, "cr_seen", "99",
        pkSplitMinRows = minRows)
      assert(CorpusStream.readState(cat, "cr_seen").select($"id", $"fp")
        .as[(Long, String)].collect().toSet == wantState)
      assert(cat.read("cr_seen_bands")
        .select($"id", $"band_idx", $"band_key")
        .as[(Long, Int, String)].collect().toSet == wantBands)
      assert(cat.listPartitions("cr_seen", "batch_id") == Seq("c2"))
      assert(cat.partitionCommitted("cr_seen", "batch_id", "c2"))
      assert(cat.partitionCommitted("cr_seen_bands", "batch_id", "c2"))
      for (t <- Seq("cr_seen", "cr_seen_bands"))
        assert(pkDirs(cat, t, "c2").nonEmpty == (minRows == 1L),
          s"$t minRows=$minRows")
    }
  }

  test("incremental corpus pipeline: the pk-split band layout produces " +
       "the same output as the plain small-batch layout") {
    // pkSplitMinRows=1 forces every batch's band rows into pk= dirs;
    // the default leaves these small batches as one plain file — the
    // cross-batch dedup must not care which layout the seen bands use
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    def run(split: Boolean): (Set[(Long, String, Int)], String) = {
      val wh = graft.core.Scratch.dir("corpus_pk_")
      val cat = new graft.catalog.TableCatalog(spark, wh)
      val minRows = if (split) 1L else CorpusStream.PkSplitMinRows
      Seq(docs.filter($"doc_id" < 200),
          docs.filter($"doc_id" >= 200 && $"doc_id" < 400),
          docs.filter($"doc_id" >= 400)).zipWithIndex.foreach {
        case (b, i) => CorpusStream.processBatch(b, cat, "pk_seen",
          "pk_out", i.toLong, pkSplitMinRows = minRows)
      }
      (cat.read("pk_out").select($"doc_id", $"lang", $"n_toks")
        .as[(Long, String, Int)].collect().toSet, wh)
    }
    val (splitOut, splitWh) = run(split = true)
    val (plainOut, _) = run(split = false)
    assert(splitOut == plainOut)
    assert(splitOut.nonEmpty)
    // and the forced run really did lay bands out as pk= dirs
    val b0 = new java.io.File(s"$splitWh/pk_seen_bands/batch_id=0")
    assert(b0.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("pk=")))
    // ... and the SKETCH table too (round 12): the cross-verify sh
    // fetch of batches 1/2 ran against pk-pruned directory reads
    val s0 = new java.io.File(s"$splitWh/pk_seen/batch_id=0")
    assert(s0.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("pk=")))
  }

  test("mixed sketch layouts (plain + pk-split) interoperate: " +
       "cross-batch near-dups verify across shapes and compaction " +
       "heals to one pk-split partition") {
    val T = fam(6, 60)
    val wh = graft.core.Scratch.dir("corpus_mx_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    // batch 0 PLAIN (default threshold), batch 1 SPLIT (forced): the
    // split batch's near-dup (J ~ 0.9) must still verify against the
    // plain stored sketch — the pruned fetch reads the plain partition
    // through the computed-pk filter, no stored pk column needed
    CorpusStream.processBatch(
      Seq((41L, txt("docM", T), "en")).toDF("doc_id", "text", "lang"),
      cat, "mx_seen", "mx_out", 0L, threshold = 0.45, admit = df => df)
    CorpusStream.processBatch(
      Seq((51L, txt("docN", T.drop(5)), "en"),
          (52L, txt("docO", fam(7, 40)), "en"))
        .toDF("doc_id", "text", "lang"),
      cat, "mx_seen", "mx_out", 1L, threshold = 0.45, admit = df => df,
      pkSplitMinRows = 1L)
    def out() = cat.read("mx_out").select($"doc_id")
      .as[Long].collect().toSet
    // 51 verified against stored 41 (across shapes) and died; 52 is a
    // different family and survived
    assert(out() == Set(41L, 52L))
    // now the reverse direction: a PLAIN batch verifying against a
    // SPLIT stored partition (and a smaller id, so 41 is retracted)
    CorpusStream.processBatch(
      Seq((33L, txt("docP", T.drop(10)), "en"))
        .toDF("doc_id", "text", "lang"),
      cat, "mx_seen", "mx_out", 2L, threshold = 0.45, admit = df => df)
    assert(out() == Set(33L, 52L))
    val preCompact = CorpusStream.readState(cat, "mx_seen")
      .select($"id", $"fp").as[(Long, String)].collect().toSet
    assert(preCompact.map(_._1) == Set(33L, 41L, 51L, 52L))
    // compaction folds both shapes into ONE partition, row-identically;
    // the pk-split source alone held >= its threshold, so the target
    // stays pk-split even at the default threshold
    assert(CorpusStream.compactState(cat, "mx_seen", "99"))
    assert(cat.listPartitions("mx_seen", "batch_id") == Seq("c2"))
    val cdir = new java.io.File(s"$wh/mx_seen/batch_id=c2")
    assert(cdir.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("pk=")))
    for (t <- Seq("mx_seen_bands", "mx_seen_fp"))
      assert(pkDirs(cat, t, "c2").nonEmpty, t)
    assert(CorpusStream.readState(cat, "mx_seen")
      .select($"id", $"fp").as[(Long, String)].collect().toSet
      == preCompact)
    // and the healed state still serves the pruned fetch: one more
    // near-dup arrival dies against the compacted pk-split partition
    CorpusStream.processBatch(
      Seq((60L, txt("docQ", T.drop(15)), "en"))
        .toDF("doc_id", "text", "lang"),
      cat, "mx_seen", "mx_out", 3L, threshold = 0.45, admit = df => df)
    assert(out() == Set(33L, 52L))
  }

  test("incremental corpus pipeline fails fast when the state table's " +
       "signature width disagrees with the threshold's geometry") {
    // the ADVICE-r7 scenario: a state written at one threshold's
    // geometry reused at another would null-pad zip_with, cap the
    // agreement floor, and silently drop every cross-batch candidate
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val wh = graft.core.Scratch.dir("corpus_gw_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    // t=0.7 → 8x6 = 48-perm state
    graft.streaming.CorpusStream.processBatch(
      docs.filter($"doc_id" < 250), cat, "geo_seen", "geo_out", 0L)
    val e = intercept[IllegalArgumentException] {
      // t=0.8 derives 4x6 = 24 perms over the stored 48-perm sketches
      graft.streaming.CorpusStream.processBatch(
        docs.filter($"doc_id" >= 250), cat, "geo_seen", "geo_out", 1L,
        threshold = 0.8)
    }
    assert(e.getMessage.contains("geo_seen"))
    assert(e.getMessage.contains("NEW state table"))
    // same threshold still proceeds (the guard only fires on mismatch)
    graft.streaming.CorpusStream.processBatch(
      docs.filter($"doc_id" >= 250), cat, "geo_seen", "geo_out", 1L)
    assert(cat.listPartitions("geo_out", "batch_id").size == 2)
    // a state whose only partition is a compacted `c`: the fold keeps
    // the width in its footer, so the guard reads it driver-side —
    // no head-row probe job
    Seq(0L, 1L).foreach { b =>
      CorpusStream.processBatch(
        docs.filter($"doc_id" >= b * 150 && $"doc_id" < (b + 1) * 150),
        cat, "geo_c", "geo_c_out", b, compactEvery = 0)
    }
    assert(CorpusStream.compactState(cat, "geo_c", "2"))
    assert(cat.listPartitions("geo_c", "batch_id") == Seq("c1"))
    assert(graft.sim.MinHashLSH.sigWidthOf(
      CorpusStream.readState(cat, "geo_c")) == Some(48))
    val jobs = jobsStartedBy {
      val e2 = intercept[IllegalArgumentException] {
        CorpusStream.processBatch(docs.filter($"doc_id" >= 300), cat,
          "geo_c", "geo_c_out", 2L, threshold = 0.8)
      }
      assert(e2.getMessage.contains("geo_c"))
    }
    assert(!jobs.exists(_._1.endsWith("state width")),
      jobs.map(_._1).mkString("\n"))
  }

  test("incremental corpus pipeline decontaminates each batch against " +
       "a benchmark set before state is written") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    // held-out set = the same slice dd08 uses
    val bench = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val wh = graft.core.Scratch.dir("corpus_dc_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    graft.streaming.CorpusStream.processBatch(corpus, cat,
      "corpus_state", "corpus_sampled", 0L, benchmark = Some(bench))
    val streamed = cat.read("corpus_sampled")
      .select($"doc_id").as[Long].collect().toSet
    // no contaminated doc may appear in the output OR the sketch state
    val contaminated = corpus.join(
        graft.text.Decontaminate.decontaminate(corpus, "doc_id", "text",
          bench, "text"),
        Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(contaminated.nonEmpty, "degenerate fixture: nothing overlaps")
    assert(streamed.intersect(contaminated).isEmpty)
    val state = CorpusStream.readState(cat, "corpus_state")
      .select($"id").as[Long].collect().toSet
    assert(state.intersect(contaminated).isEmpty)
  }

  test("stateful as-of enrichment spans micro-batches") {
    import graft.streaming.EventsStream.AsOfEv
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AsOfEv]
    val q = EventsStream.asOfEnrich(mem.toDS())
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").start()
    try {
      // batch 1: a click at 10:00 and a purchase at 10:30 (matches it)
      mem.addData(
        AsOfEv(1L, 900L, ts("2024-01-01 10:00:00"), 0, 5.0),
        AsOfEv(1L, 100L, ts("2024-01-01 10:30:00"), 1, 0.0))
      q.processAllAvailable()
      // batch 2: a purchase with no new click — state carries the match
      mem.addData(AsOfEv(1L, 101L, ts("2024-01-01 11:00:00"), 1, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof").orderBy($"event_id")
        .select($"event_id", $"asof_value")
        .as[(Long, Option[Double])].collect().toSeq
      assert(got == Seq((100L, Some(5.0)), (101L, Some(5.0))))
    } finally q.stop()
  }

  test("stateful as-of enrichment agrees with the batch operator " +
       "on the events table") {
    import graft.streaming.EventsStream.AsOfEv
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.EventQueries
      .queries("ev03_asof_join")(spark, dir)
      .select($"event_id", $"asof_ts", $"asof_value")
      .as[(Long, Option[Timestamp], Option[Double])].collect()
      .map(r => r._1 -> ((r._2.map(_.getTime), r._3))).toMap
    val typed = graft.core.Tables.load(spark, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"ts",
        when($"event_type" === "click", 0).otherwise(1).as("side"),
        $"value")
      .as[AsOfEv]
    val viaState = EventsStream.asOfEnrich(typed)
      .collect().map(o => o.event_id -> ((o.asof_ms, o.asof_value))).toMap
    assert(viaState == batch)
  }
}

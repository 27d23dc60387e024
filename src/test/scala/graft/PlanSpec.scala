package graft

import org.apache.spark.sql.functions.col

/** Plan-shape regression guards for the scale-critical queries: the
  * properties that make these operators 100-TB-viable (pushdown, pruning,
  * broadcast dimension joins, equi-join candidate generation, map-side
  * partial aggregation) asserted on the physical plan, so a refactor that
  * silently degrades a plan fails the suite, not just the bench.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def sparkPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString

  test("s06: predicate and projection are pushed to the parquet scan") {
    val p = sparkPlan("s06_param_scan")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), " +
      "EqualTo(o_orderstatus,O)]"), p.take(800))
    // column pruning: untouched wide columns never leave the scan
    assert(!p.contains("o_comment") && !p.contains("o_clerk"))
  }

  test("s06 template path keeps the same pushdown as the DataFrame form") {
    val p = sparkPlan("s06_template_scan")
    assert(p.contains("EqualTo(o_orderstatus,O)"))
    assert(!p.contains("o_comment"))
  }

  test("j01: dimension lookup is a broadcast hash join") {
    assert(sparkPlan("j01_broadcast_lookup").contains("BroadcastHashJoin"))
  }

  test("q01: aggregation has a map-side partial stage") {
    // partial + final HashAggregate pair around the exchange
    val p = sparkPlan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("dedup/similarity candidate generation is never a cartesian") {
    Seq("dd03_minhash_lsh", "dd04_simhash", "dd06_embedding_neardup_lsh",
        "j05_fuzzy_top1", "ann03_ivf_topk", "dd07_cluster_dedup",
        "dd08_decontaminate", "dp01_corpus_pipeline",
        "dd09_span_stats").foreach { q =>
      val p = sparkPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
  }

  test("dd09: duplicated-gram detection is a partial-aggregated " +
       "equi-semi-join — no cartesian, no window, no driver table") {
    val p = sparkPlan("dd09_span_stats")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("LocalTableScan"), p.take(800))
    assert(p.contains("LeftSemi"), p.take(1200))
    // global gram counting gets a map-side partial stage
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("dd10: semantic decontamination removes by anti-join, never a " +
       "cartesian in the gated plan (the guarded band join rides the " +
       "verify kernel's RDD boundary, SMJ-pinned by the ann02 test)") {
    val p = sparkPlan("dd10_semantic_decon")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("ts09: tf-idf ranking aggregates partially and windows per doc " +
       "over distinct terms; the only unconditioned join is the " +
       "one-row n_docs broadcast") {
    val p = sparkPlan("ts09_tfidf_terms")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1200))
    assert(p.contains("Window"), p.take(1200))
  }

  test("the fused band-join floor upstream of the verify kernels is an " +
       "equi-join, never a cartesian (the kernel's RDD boundary hides " +
       "it from the gated query's plan)") {
    // the verify kernels consume `queryExecution.toRdd` of an upstream
    // frame, so the gated query's own plan string stops at
    // `Scan ExistingRDD` — assert on the operator's upstream pieces
    // directly, at both gate geometries
    import graft.sim.MinHashLSH
    val docs = graft.core.Tables.load(spark, sf, "documents")
    Seq(0.8, 0.7).foreach { t =>
      val geom = MinHashLSH.geometryFor(t)
      val bands = MinHashLSH.bandFrameWithSig(
        MinHashLSH.signatureFrame(docs, "doc_id", "text", 3, geom), geom)
      val p = MinHashLSH.collidedSurvivors(bands, bands, t, geom,
        selfJoin = true).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"t=$t plans a cartesian")
      assert(p.contains("band_idx") && p.contains("band_key"),
        s"t=$t: band keys missing from the join\n" + p.take(800))
    }
  }

  test("ann02: the guarded bucket self-join is a sort-merge join (the " +
       "salting guarantee requires the join to distribute by (bucket, " +
       "salt) — a broadcast join would keep the stream side's " +
       "partitioning and collapse a hot bucket into one task)") {
    val p = sparkPlan("ann02_lsh_neighbors")
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
    // and the per-vector top-1 stays a max-struct aggregate (commutes
    // with the salt spread), never a window over the pair volume
    assert(!p.contains("Window"), p.take(1200))
  }

  test("dd07: cluster resolution ships no driver-side table — the " +
       "removal is an anti-join") {
    val p = sparkPlan("dd07_cluster_dedup")
    assert(!p.contains("LocalTableScan"), p.take(800))
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("j05: the bounded levenshtein is evaluated once per pair — " +
       "never inside a join condition") {
    // the dd02/dd03 double-evaluation trap: a threshold filter over the
    // scored projection gets pushed into the band join's condition and
    // the DP runs twice per candidate (BENCH r3: j05 at 21 s)
    val qe = SparkEntry.queries("j05_fuzzy_top1")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    joins.foreach { j =>
      val cond = j.condition.map(_.toString).getOrElse("")
      assert(!cond.toLowerCase.contains("levenshtein"),
        s"scoring leaked into a join condition: $cond")
    }
    // and no Filter node evaluates the DP either (threshold is applied
    // post-aggregate on the arg-max struct, not per pair)
    qe.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.foreach { f =>
      assert(!f.condition.toString.toLowerCase.contains("levenshtein"),
        s"per-pair threshold filter resurfaced: ${f.condition}")
    }
  }

  test("dd06: the LSH near-dup verify is join-based — no driver-side " +
       "vector table in the plan") {
    // scorePairs must attach vectors via id-equi-joins; a
    // LocalTableScan/LocalRelation would mean a collect()ed copy of the
    // vector table was shipped from the driver (OOM at corpus scale)
    val p = sparkPlan("dd06_embedding_neardup_lsh")
    assert(!p.contains("LocalTableScan"), p.take(800))
  }

  test("ev03: the as-of join is the window encoding, not a range join") {
    // the union + running-window form must not plan any join at all —
    // a BroadcastNestedLoop/Cartesian would mean the range predicate
    // regressed to an O(|L|·|R|)-per-key pair explosion
    val p = sparkPlan("ev03_asof_join")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("Window"), p.take(800))
  }

  test("ts07: corpus top-k n-grams is a partial agg + ordered take") {
    val p = sparkPlan("ts07_topk_ngrams")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("TakeOrdered"), p.take(800))
  }

  test("ann04: the centroid reduction has a map-side partial stage") {
    val p = sparkPlan("ann04_centroids")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("the collected merge-pair set joins as a BROADCAST build side " +
       "against the batch frame (CorpusStream round-11 shape: the " +
       "label joins must never shuffle the big side)") {
    import spark.implicits._
    val labeled = graft.core.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("doc_id").as("label"))
    val pairsDf = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val la = pairsDf
      .join(labeled.select(col("doc_id").as("__na"), col("label")),
        col("doc_a") === col("__na"))
    val p = la.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("s07: the partition-metadata scan reads no parquet data") {
    // S7's contract (the $__PARTITIONS_SUMMARY__ scan): directory names
    // only — the plan must not contain a parquet file scan
    val p = sparkPlan("s07_partitions")
    assert(!p.contains("FileScan parquet"), p.take(800))
  }

  test("the fp gate and forced-pair lookup are EQUI joins on the " +
       "fingerprint — the id inequality rides as a residual condition, " +
       "never a nested loop (CorpusStream round-12 fpForced shape)") {
    import org.apache.spark.sql.functions.md5
    val fp = md5(graft.text.CorpusPipeline.fingerprintPrefix)
    val docs = graft.core.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val seen = graft.core.Tables.load(spark, sf, "documents")
      .select(md5(graft.text.CorpusPipeline.fingerprintPrefix)
          .as("__seen_fp"),
        col("doc_id").as("__seen_id"))
    val anti = docs.join(seen,
      fp === col("__seen_fp") && col("__seen_id") <= col("doc_id"),
      "left_anti")
    val forced = docs.join(seen,
      fp === col("__seen_fp") && col("__seen_id") > col("doc_id"))
    Seq(("anti", anti), ("forced", forced)).foreach { case (n, df) =>
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"),
        s"$n join degraded to a nested loop: ${p.take(800)}")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$n join lost the fp equi-key: ${p.take(800)}")
    }
  }

  test("readOutput across epoch tables is a plain UNION of scans — no " +
       "shuffle, no join, however many epochs the stream has rolled") {
    import spark.implicits._
    // the rolled layout directly (the real roll + cross-epoch
    // retraction runs under the dp04 oracle gate; this pin is about
    // the READ plan): base epoch + two rolled tables
    val wh = graft.core.Scratch.dir("plan_epoch_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    Seq(0, 1, 2).foreach { k =>
      cat.writePartition(
        Seq((k.toLong * 10 + 1, "en", 4L, k.toString))
          .toDF("doc_id", "lang", "n_toks", "batch_id"),
        graft.streaming.CorpusStream.epochTableName("pe_out", k),
        "batch_id", k.toString)
    }
    val out = graft.streaming.CorpusStream.readOutput(cat, "pe_out")
    val p = out.queryExecution.sparkPlan.toString
    assert(p.contains("Union"), p.take(800))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(800))
    assert(out.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 11L, 21L))
    // fresh warehouse (no epoch table yet): the empty-table fallback,
    // not an empty-reduce crash (ADVICE r12)
    val cat2 = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("plan_epoch2_"))
    cat2.createFromSchema("fresh_out", out.schema)
    assert(graft.streaming.CorpusStream.readOutput(cat2, "fresh_out")
      .isEmpty)
  }

  test("j09: the range join is an equi-bucket join — never the " +
       "nested loop Spark's planner gives a raw theta join") {
    val p = sparkPlan("j09_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("Join"), p.take(1200))
  }

  test("ann15: IVF-PQ candidate generation is a cell EQUI-join and " +
       "the codebook lookups are broadcast hash joins — no cartesian") {
    val p = sparkPlan("ann15_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("ann11: the SQ8 scoring join broadcasts the quantized query " +
       "side and never degrades to a cartesian over the corpus") {
    val p = sparkPlan("ann11_sq8_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("ts16: the KMV sketch plans as TakeOrdered over a map-side " +
       "partially-deduped distinct — never a global sort") {
    val p = sparkPlan("ts16_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Sort ["), p.take(1200))
    // the distinct gets a partial stage before its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("ts17: the grouped KMV sketch is a bounded-state aggregation " +
       "with a PARTIAL stage — no window, no per-group global sort, " +
       "no cartesian") {
    val p = sparkPlan("ts17_kmv_grouped")
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the Aggregator-based sketch plans as ObjectHashAggregate with a
    // partial mode before the group exchange (map-side combine is the
    // O(k)-per-partition shuffle bound)
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(p.contains("partial_kminagg") || p.contains("partial_KMinAgg")
      || "ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1600))
  }

  test("ts19: the count-min sketch is a bounded-state aggregation " +
       "with a PARTIAL stage, the probe side broadcasts — no window, " +
       "no cartesian, no per-group sort") {
    val p = sparkPlan("ts19_cms_heavy")
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the d×w counter array aggregates as ObjectHashAggregate with a
    // map-side partial stage (shuffle volume d·w longs per group per
    // partition, never per-distinct-token rows)
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1600))
    // the 1-row merged sketch rides a broadcast to the candidates
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1600))
    // exact top-20 candidates plan as TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(1600))
  }

  test("ann16/ann17: residual IVF-PQ probes are cell equi-joins + " +
       "broadcast lookups with an equi-join refine — no cartesian " +
       "anywhere in the two-stage path") {
    for (name <- Seq("ann16_ivfpq_refine", "ann17_ivfpq_index")) {
      val p = sparkPlan(name)
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1200)}")
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(1200)}")
    }
  }

  test("ann18: the bulk neighbor join never plans a cartesian and " +
       "carries no query-side broadcast HINT (the planner may still " +
       "pick broadcast at gate scale from size stats — the pin is " +
       "that correctness never depends on the query side fitting)") {
    val df = SparkEntry.queries("ann18_ivfpq_bulk")(spark, sf)
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the logical plan (pre-strategy) carries no ResolvedHint from the
    // probe path — broadcastQueries=false removed them
    val lp = df.queryExecution.optimizedPlan.toString
    assert(!lp.contains("ResolvedHint"), lp.take(1200))
  }

  test("ev10's batch twin (j10) stays the equi-bucket overlap join — " +
       "the property that makes the STREAM form plannable at all") {
    val p = sparkPlan("j10_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(1200))
  }

  test("dp06's decon probe reads the live index CODES only (no float " +
       "column in the scan) and broadcasts the benchmark side") {
    import graft.ann.AnnIndex
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("plandc_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    AnnIndex.buildSq8(cat, vecs.filter(col("vec_id") >= 5), "vec_id",
      "embedding", "dc")
    val df = AnnIndex.sq8MatchesFromIndex(cat, "dc",
      vecs.filter(col("vec_id") < 5), "vec_id", "embedding", 0.45)
    val p = df.queryExecution.sparkPlan.toString
    // the corpus side is the stored byte codes + integer self-dot; a
    // float vector column in the index ReadSchema would defeat the
    // 4x-cheaper-scan point of serving decon off the SQ8 artifact
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(read.nonEmpty && !read.contains("embedding"), p.take(1500))
    // benchmark side broadcast (the accepted sq8TopKFrom scan class);
    // the corpus side never shuffles for the scoring scan
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("ts22: temperature weights are one partial-aggregated group " +
       "agg + a broadcast 1-row total join — no window, no corpus " +
       "cartesian") {
    val p = sparkPlan("ts22_temperature_mix")
    assert(!p.contains("Window"), p.take(1200))
    // per-group token totals get a map-side partial stage
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    // the only nested-loop join is the broadcast 1-row totals frame —
    // group-count-sized sides, never corpus rows
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("k09: the snapshot diff is ONE full-outer equi-join on the " +
       "keys — no cartesian, no window, no second pass over either " +
       "snapshot") {
    val p = sparkPlan("k09_snapshot_diff")
    assert(p.contains("FullOuter"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(1200))
    // each snapshot is scanned once: one join, two parquet scans
    assert("SortMergeJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size +
      "BroadcastHashJoin".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("dd13: the leakage-safe split never plans a cartesian") {
    val p = sparkPlan("dd13_leakage_split")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("dd16: containment candidates come from the prefix-postings " +
       "equi-join — never a cartesian; the verify joins only actual " +
       "collisions") {
    val p = sparkPlan("dd16_containment")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("a11: the pinned-values pivot is ONE aggregation pass — a " +
       "single events scan with a map-side partial, no value-discovery " +
       "scan, no join") {
    val p = sparkPlan("a11_pivot")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("a13: rollup is one pass — Expand feeding a partial-aggregated " +
       "HashAggregate, one orders scan, no union of per-level scans") {
    val p = sparkPlan("a13_rollup")
    assert(p.contains("Expand"), p.take(1500))
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("dp15: the funnel's stage counts are partial-aggregated " +
       "count(1)s over fenced stages — the dropped window is " +
       "funnel-sized, never corpus-sized") {
    val df = SparkEntry.queries("dp15_funnel")(spark, sf)
    val p = df.queryExecution.sparkPlan.toString
    // every aggregation in the final plan has a partial stage
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(df.count() == 5)
  }
}

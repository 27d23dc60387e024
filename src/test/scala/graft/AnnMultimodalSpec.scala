package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.multimodal.Multimodal

class AnnMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by exact cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Ann.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 2)
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("mmrTopK diversifies: near-copies of the top hit are deferred " +
       "in favor of a relevant-but-different direction; step 1 equals " +
       "brute top-1; λ=10 degenerates to plain top-k; knobs refused") {
    // query q along x; a,b,c near-copies along x (plain top-3 = all
    // three); d a distinct direction still relevant to q
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.05f)),         // the query
      (1L, Array(1.0f, 0.01f, 0.0f)),         // a
      (2L, Array(1.0f, 0.02f, 0.0f)),         // b (near-copy of a)
      (3L, Array(1.0f, 0.03f, 0.0f)),         // c (near-copy of a)
      (4L, Array(0.3f, 0.0f, 0.95f))          // d (different direction:
        // shares the query's z-tilt, so its relevance to q exceeds
        // its similarity to a — the redundancy penalty favors it)
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val mmr = Ann.mmrTopK(vecs, q, "vec_id", "embedding",
        k = 3, poolSize = 4, lambdaNum = 5)
      .orderBy($"step").select($"step", $"vec_id")
      .as[(Int, Long)].collect().toSeq
    val brute = Ann.bruteForceTopK(vecs, q, "vec_id", "embedding", 3)
      .orderBy($"rank").select($"vec_id").as[Long].collect().toSeq
    // plain top-3 is the redundant trio; MMR keeps the top hit, then
    // jumps to the different direction before any near-copy
    assert(brute == Seq(1L, 2L, 3L))
    assert(mmr.head == ((1, 1L)))
    assert(mmr(1)._2 == 4L, mmr.toString)
    // λ=1.0 (lambdaNum=10) ignores redundancy: identical to brute
    val flat = Ann.mmrTopK(vecs, q, "vec_id", "embedding",
        k = 3, poolSize = 4, lambdaNum = 10)
      .orderBy($"step").select($"vec_id").as[Long].collect().toSeq
    assert(flat == brute)
    intercept[IllegalArgumentException](
      Ann.mmrTopK(vecs, q, "vec_id", "embedding", 5, 3))
    intercept[IllegalArgumentException](
      Ann.mmrTopK(vecs, q, "vec_id", "embedding", 2, 3, lambdaNum = 11))
  }

  test("sq8TopK: quantized cosine tracks exact cosine and preserves " +
       "the exact ranking on separated vectors") {
    // directions far enough apart that int8 rounding (≤ 1/254 per
    // component) cannot reorder them
    def v(seed: Int): Array[Float] =
      Array.tabulate(4)(i => (((seed * 31 + i * 7) % 13) - 6) / 6.0f)
    val vecs = Seq((0L, v(1)), (1L, v(1).map(x => x * 0.3f)),
        (2L, v(5)), (3L, v(9)))
      .toDF("vec_id", "embedding")
    val q = Ann.sq8TopK(vecs, vecs.filter($"vec_id" === 0), "vec_id",
        "embedding", 3, dim = 4)
      .orderBy($"rank")
      .select($"vec_id", $"qcos").as[(Long, Double)].collect()
    // the scaled copy of v(1) must rank first with qcos ≈ 1: the
    // per-vector scales cancel, so quantized cosine is scale-free
    assert(q.head._1 == 1L && q.head._2 > 0.999, q.toSeq)
    val exact = Ann.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 3)
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    assert(q.map(_._1).toSeq == exact.toSeq, s"${q.toSeq} vs ${exact.toSeq}")
  }

  test("sq8TopK: the all-zero vector quantizes to zeros and scores 0, " +
       "not NaN") {
    val vecs = Seq((0L, Array.fill(4)(0.0f)), (1L, Array.fill(4)(1.0f)),
        (2L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val out = Ann.sq8TopK(vecs, vecs.filter($"vec_id" === 0), "vec_id",
        "embedding", 2, dim = 4)
      .select($"qcos").as[Double].collect()
    assert(out.forall(c => c == 0.0 && !c.isNaN), out.toSeq)
  }

  test("lshBucketNeighbors: same-direction vectors share a bucket") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.51f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.lshBucketNeighbors(vecs, "vec_id", "embedding")
      .orderBy($"vec_id")
      .select($"vec_id", $"neighbor").as[(Long, Long)].collect()
    // 0 and 1 are near-parallel -> same bucket, mutual neighbors
    assert(out.toSeq.contains((0L, 1L)) && out.toSeq.contains((1L, 0L)))
  }

  test("embedding near-dup: LSH pairs are a subset of exact; planted " +
      "near-identical pair found by both") {
    val rnd = new scala.util.Random(7)
    val noise = (0 until 20).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val planted = Seq(
      (100L, base),
      (101L, base.map(x => x * 1.01f + 0.001f))) // cosine ≈ 1
    val vecs = (noise ++ planted).toDF("vec_id", "embedding")
    val t = 460.0 / 1024.0
    val exact = Ann.embeddingNearDupExact(vecs, "vec_id", "embedding", t)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Ann.embeddingNearDupLsh(vecs, "vec_id", "embedding", t)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact verify ⇒ precision 1
    assert(exact.contains((100L, 101L)))
    // near-parallel vectors agree on every hyperplane sign ⇒ every band
    assert(lsh.contains((100L, 101L)))
  }

  test("semanticDecontaminate removes exactly the corpus rows with an " +
      "eval near-twin; colliding id spaces cannot alias vectors") {
    val rnd = new scala.util.Random(13)
    def noiseVec() = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val vContaminated = noiseVec()
    val vClean = noiseVec()
    // corpus ids 1..5; eval REUSES ids 1 and 2 with UNRELATED vectors —
    // the per-side verify caches must not hand one side the other's
    // vector (same-id, different-table collision)
    val corpus = Seq(
      (1L, vContaminated),
      (2L, vClean),
      (3L, noiseVec()), (4L, noiseVec()),
      // exact duplicate direction of the contaminated vector, scaled:
      // identical sign buckets in every band, cosine exactly 1.0
      (5L, vContaminated.map(x => x * 3.0f)))
      .toDF("vec_id", "embedding")
    val eval = Seq(
      (1L, noiseVec()), (2L, noiseVec()),
      (9L, vContaminated.map(x => x * 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Ann.semanticDecontaminate(corpus, "vec_id", "embedding",
        eval, "vec_id", "embedding", 0.95)
      .select($"vec_id").as[Long].collect().toSet
    // 1 and 5 match eval id 9 (cosine 1.0); random 64-dim directions
    // sit far below 0.95, including the eval rows reusing ids 1/2
    assert(out == Set(2L, 3L, 4L))
  }

  test("semanticDecontaminate with an empty eval set is the identity") {
    val rnd = new scala.util.Random(5)
    val corpus = Seq.tabulate(6)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val eval = corpus.filter($"vec_id" < 0)
    val out = Ann.semanticDecontaminate(corpus, "vec_id", "embedding",
        eval, "vec_id", "embedding", 0.5)
      .select($"vec_id").as[Long].collect().toSet
    assert(out == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("ivfTopK with one cell equals the brute-force baseline") {
    // numCells=1, nprobe=1 degenerates to scanning the full corpus —
    // the output (ranks, ids, bit-exact cosines) must equal bruteForce
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q = e.filter($"vec_id" < 3)
    val ivf = Ann.ivfTopK(e, q, "vec_id", "embedding", 5,
        numCells = 1, nprobe = 1)
      .select($"q_id", $"rank", $"vec_id", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select($"q_id", $"rank", $"vec_id", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(ivf == bf)
  }

  test("ivfTopK: contiguous ranks and exact cosines on probed cells") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q = e.filter($"vec_id" < 3)
    val ivf = Ann.ivfTopK(e, q, "vec_id", "embedding", 10,
        numCells = 8, nprobe = 2)
      .select($"q_id", $"rank", $"vec_id", $"cos")
      .as[(Long, Int, Long, Double)].collect()
    // per query: ranks are 1..n with no gaps
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
    // every reported cosine equals the exact brute-force cosine for
    // that (query, neighbor) pair — probing narrows candidates, never
    // perturbs scores
    val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 1000000)
      .select($"q_id", $"vec_id", $"cos")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    ivf.foreach { case (qid, _, vid, cos) =>
      assert(exact((qid, vid)) == cos, s"cos mismatch for ($qid,$vid)")
    }
  }

  test("kmeansCentroids: each Lloyd round improves the quantizer " +
       "objective, deterministically") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val d = e.select($"vec_id".as("id"),
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, x) => a + x)))
    def objective(cents: Array[(Seq[Double], Double)]): Double = {
      val best = greatest(cents.map { case (c, n) =>
        aggregate(zip_with($"v", typedLit(c), (x, y) => x * y),
          lit(0.0), (a, x) => a + x) / ($"nrm" * lit(n))
      }: _*)
      d.select(avg(best)).as[Double].head()
    }
    val rounds = (0 to 2).map(i => Ann.kmeansCentroids(d, 8, i))
    val objs = rounds.map(objective)
    assert(objs(1) > objs(0) && objs(2) >= objs(1),
      s"objective did not improve: $objs")
    // fixed seed + fixed iterations => bit-identical reruns
    val again = Ann.kmeansCentroids(d, 8, 2)
    assert(rounds(2).map(_._1) sameElements again.map(_._1))
  }

  test("trained IVF recall on planted clusters is at least the " +
       "untrained quantizer's (the ann05 quality pin)") {
    // four well-separated direction clusters, but ids 0..3 — the
    // untrained quantizer's deterministic seed — all drawn from
    // cluster 0, so the untrained cells slice the space by seed noise
    // and scatter each cluster across cells; two Lloyd rounds must
    // recover (or at least never regress) nprobe=1 recall vs the
    // brute-force ground truth
    val rnd = new scala.util.Random(42)
    val dim = 64
    def member(c: Int): Array[Float] = Array.tabulate(dim)(j =>
      (if (j == c * 16) 4.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.4f)
    val vecs = ((0L until 4L).map(i => (i, member(0))) ++
      (4L until 44L).map(i => (i, member((i % 4).toInt))))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 4 && $"vec_id" < 12)
    val k = 5
    val bf = Ann.bruteForceTopK(vecs, queries, "vec_id", "embedding", k)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int): Double = {
      val got = Ann.ivfTopK(vecs, queries, "vec_id", "embedding", k,
          numCells = 4, nprobe = 1, trainIters = iters)
        .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val r0 = recall(0)
    val r2 = recall(2)
    info(f"nprobe=1 recall@5: untrained $r0%.3f, trained $r2%.3f")
    assert(r2 >= r0, s"training regressed recall: $r0 -> $r2")
    assert(r2 > 0.5, s"trained recall implausibly low: $r2 (untrained $r0)")
  }

  test("persisted ANN index: probes off the loaded artifact are " +
       "bit-identical to the fresh fit, and a missing or mismatched " +
       "index fails loudly") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annidx_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    // LSH: fitted planes persist; the from-index result equals the
    // fit-inline form row for row (scores bit-exact)
    val planes = AnnIndex.buildLsh(cat, vecs, "vec_id", "embedding",
      "ix", targetBucketRows = 1)
    assert(planes == Ann.autoPlanes(40, 1))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"vec_id")
        .select($"vec_id".cast("long"), $"bucket".cast("long"),
          $"neighbor".cast("long"), $"cos")
        .collect().toSeq
    assert(canon(AnnIndex.lshNeighborsFromIndex(cat, "ix")) ==
      canon(Ann.lshBucketNeighborsAuto(vecs, "vec_id", "embedding", 1)))
    // IVF: trained centroids + assignments persist; probe equals
    // ivfTopK with the same training
    AnnIndex.buildIvf(cat, vecs, "vec_id", "embedding", "ivf",
      numCells = 4, trainIters = 2)
    val q = vecs.filter($"vec_id" < 3)
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"cos").collect().toSeq
    assert(canon2(AnnIndex.ivfTopKFromIndex(cat, "ivf", q, "vec_id",
        "embedding", 5)) ==
      canon2(Ann.ivfTopK(vecs, q, "vec_id", "embedding", 5,
        numCells = 4, trainIters = 2)))
    // guard rails: absent meta and kind mismatch
    intercept[IllegalArgumentException] {
      AnnIndex.lshNeighborsFromIndex(cat, "nope")
    }
    intercept[IllegalArgumentException] {
      AnnIndex.ivfTopKFromIndex(cat, "ix", q, "vec_id", "embedding", 5)
    }
  }

  test("quantized-family recall@10 vs exact cosine on the gate corpus " +
       "stays above pinned floors (sq8 ~exact, pq/ivfpq lossy-bounded)") {
    // the real embeddings table at gate scale: quality regressions in
    // the quantizers (bad scale, broken codebook training, wrong cell
    // probe) show up here as recall collapse long before a user does
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    def top10(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"q_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, v) => (k, v.map(_._2).toSet) }
    val exact = top10(Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10))
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.map { case (k, ex) =>
        m.getOrElse(k, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact.size
    val sq8 = recall(top10(
      Ann.sq8TopK(e, q, "vec_id", "embedding", 10)))
    val pq = recall(top10(
      Ann.pqTopK(e, q, "vec_id", "embedding", 10)))
    val ivfpq = recall(top10(
      Ann.ivfPqTopK(e, q, "vec_id", "embedding", 10)))
    val refined = recall(top10(
      Ann.ivfPqResidualTopK(e, q, "vec_id", "embedding", 10,
        refine = 64)))
    val unrefined = recall(top10(
      Ann.ivfPqResidualTopK(e, q, "vec_id", "embedding", 10,
        refine = 0)))
    info(f"recall@10 sq8=$sq8%.2f pq=$pq%.2f ivfpq=$ivfpq%.2f " +
      f"residual+refine=$refined%.2f residual-only=$unrefined%.2f")
    assert(sq8 >= 0.9, s"sq8 recall $sq8 — int8 rounding should be " +
      "nearly lossless at 64 dims (measured 1.00 at pin time)")
    // this corpus is near-uniform synthetic — the hardest case for a
    // 4x8 codebook (measured 0.20 at pin time = 10x the 10/500 ~ 0.02
    // random floor; real clustered corpora fare far better, see the
    // planted-cluster test)
    assert(pq >= 0.1, s"pq recall $pq collapsed toward random")
    // ivfpq EXCEEDS plain pq here (measured 0.40): the cell filter
    // removes candidates the lossy codes over-rank
    assert(ivfpq >= 0.2, s"ivfpq recall $ivfpq — cell pruning may " +
      "drop true neighbors but must stay far above random")
    // residual encoding alone beats the raw-vector codes (measured
    // 0.52 vs 0.40): the codebook budget models what the coarse
    // quantizer did NOT explain
    assert(unrefined >= 0.3, s"residual ADC recall $unrefined — " +
      "should clearly beat the raw-vector ivfpq form")
    // the two-stage probe (top-64 by code score, exact re-rank) is the
    // serving-quality shape: recall is capped only by cell pruning
    // (measured 0.82 at pin time on this worst-case uniform corpus)
    assert(refined >= 0.7, s"residual+refine recall $refined — exact " +
      "re-rank over 64 candidates must recover most of the cell " +
      "pruning ceiling")
  }

  test("PQ/ADC recovers planted clusters: a query's top neighbors are " +
       "its own cluster's members, and the whole procedure is " +
       "deterministic across runs") {
    // 3 tight clusters of 8 vectors around orthogonal-ish directions;
    // ADC over 4x8 codebooks must rank same-cluster vectors first
    val rnd = new scala.util.Random(7)
    def base(c: Int): Array[Float] =
      Array.tabulate(64)(i => if (i % 3 == c) 1.0f else 0.1f)
    val vecs = (0 until 24).map { i =>
      val b = base(i % 3)
      (i.toLong, b.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    def run() = Ann.pqTopK(vecs, q, "vec_id", "embedding", 7)
      .orderBy($"q_id", $"rank")
      .select($"q_id", $"rank", $"vec_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val out = run()
    (0L until 3L).foreach { qid =>
      val neigh = out.filter(_._1 == qid).map(_._3)
      assert(neigh.size == 7 &&
        neigh.forall(n => n % 3 == qid % 3),
        s"q$qid neighbors $neigh not all from its cluster")
    }
    assert(run() == out) // fit + encode + probe fully deterministic
  }

  test("PQ index lifecycle: probe off stored codes equals fit-inline " +
       "bit for bit; replayed append idempotent; drift past the bound " +
       "fails loudly (codebooks ARE a corpus-level fit)") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annpq_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"score").collect().toSeq
    val first = vecs.filter($"vec_id" % 2 === 0)
    val rest = vecs.filter($"vec_id" % 2 === 1)
    AnnIndex.buildPq(cat, first, "vec_id", "embedding", "pq",
      trainIters = 2, trainData = Some(vecs))
    AnnIndex.appendPq(cat, rest, "vec_id", "embedding", "pq")
    val q = vecs.filter($"vec_id" < 3)
    val once = canon(AnnIndex.pqTopKFromIndex(cat, "pq", q,
      "vec_id", "embedding", 5))
    assert(once == canon(Ann.pqTopK(vecs, q, "vec_id", "embedding", 5)))
    AnnIndex.appendPq(cat, rest, "vec_id", "embedding", "pq",
      segKey = Some("1"))
    assert(canon(AnnIndex.pqTopKFromIndex(cat, "pq", q,
      "vec_id", "embedding", 5)) == once)
    // codebooks fitted on 10 vectors refuse to index 30 (3x > 2x)
    // without allowStale, and the probe refuses too
    AnnIndex.buildPq(cat, vecs.filter($"vec_id" < 10), "vec_id",
      "embedding", "pqsmall", trainIters = 1)
    val ex = intercept[Exception] {
      AnnIndex.appendPq(cat, vecs.filter($"vec_id" >= 10), "vec_id",
        "embedding", "pqsmall")
    }
    assert(ex.getMessage.contains("drift"), ex.getMessage)
    AnnIndex.appendPq(cat, vecs.filter($"vec_id" >= 10), "vec_id",
      "embedding", "pqsmall", allowStale = true)
    intercept[Exception] {
      AnnIndex.pqTopKFromIndex(cat, "pqsmall", q, "vec_id",
        "embedding", 5)
    }
    assert(canon(AnnIndex.pqTopKFromIndex(cat, "pqsmall", q, "vec_id",
      "embedding", 5, allowStale = true)).nonEmpty)
  }

  test("residual IVF-PQ index lifecycle: two-stage probe off stored " +
       "codes + primary-store refine equals fit-inline bit for bit; " +
       "replayed append idempotent; drift fails loudly") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annivfpq_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"score").collect().toSeq
    val first = vecs.filter($"vec_id" % 2 === 0)
    val rest = vecs.filter($"vec_id" % 2 === 1)
    AnnIndex.buildIvfPq(cat, first, "vec_id", "embedding", "rq",
      numCells = 4, trainData = Some(vecs))
    AnnIndex.appendIvfPq(cat, rest, "vec_id", "embedding", "rq")
    val q = vecs.filter($"vec_id" < 3)
    val once = canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "rq", vecs,
      q, "vec_id", "embedding", 5, refine = 8))
    assert(once == canon(Ann.ivfPqResidualTopK(vecs, q, "vec_id",
      "embedding", 5, numCells = 4, refine = 8)))
    // replayed append (same segKey): no duplicates, same answer
    AnnIndex.appendIvfPq(cat, rest, "vec_id", "embedding", "rq",
      segKey = Some("1"))
    assert(canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "rq", vecs,
      q, "vec_id", "embedding", 5, refine = 8)) == once)
    // refine=0 returns the pure code ranking (different scores, same
    // plumbing) — also off the artifact
    assert(canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "rq", vecs,
        q, "vec_id", "embedding", 5, refine = 0)) ==
      canon(Ann.ivfPqResidualTopK(vecs, q, "vec_id", "embedding", 5,
        numCells = 4, refine = 0)))
    // drift: fits over 10 vectors refuse 30 (3x > 2x) and name the
    // right rebuild entry point
    AnnIndex.buildIvfPq(cat, vecs.filter($"vec_id" < 10), "vec_id",
      "embedding", "rqsmall", numCells = 4)
    val ex = intercept[Exception] {
      AnnIndex.appendIvfPq(cat, vecs.filter($"vec_id" >= 10), "vec_id",
        "embedding", "rqsmall")
    }
    assert(ex.getMessage.contains("buildIvfPq"), ex.getMessage)
    intercept[IllegalArgumentException] {
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "nope", vecs, q,
        "vec_id", "embedding", 5)
    }
  }

  test("SQ8 index lifecycle: probe off stored byte codes equals the " +
       "fit-inline form bit for bit; replayed append is idempotent; " +
       "drift never blocks (per-vector scales have no fit to go stale)") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annsq8_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 5), "vec_id",
      "embedding", "sq8")
    AnnIndex.appendSq8(cat, vecs.filter($"vec_id" >= 5), "vec_id",
      "embedding", "sq8")
    val q = vecs.filter($"vec_id" < 3)
    val once = canon(AnnIndex.sq8TopKFromIndex(cat, "sq8", q,
      "vec_id", "embedding", 5))
    assert(once ==
      canon(Ann.sq8TopK(vecs, q, "vec_id", "embedding", 5)))
    // replay the append (same segKey): no duplicates, same answer —
    // and the 5->30 growth (6x the built size) never trips a
    // staleness guard, because there is no corpus-level fit
    AnnIndex.appendSq8(cat, vecs.filter($"vec_id" >= 5), "vec_id",
      "embedding", "sq8", segKey = Some("1"))
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "sq8", q,
      "vec_id", "embedding", 5)) == once)
  }

  test("ANN append bookkeeping is O(batch): footer counts keep " +
       "indexed_n exact under replay and after a crash between the " +
       "segment write and the meta write") {
    import graft.ann.AnnIndex
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 24).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annsm_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def indexedN: Long = {
      val r = cat.read("sm").collect()(0)
      r.getLong(r.fieldIndex("indexed_n"))
    }
    def assignN: Long = spark.read.parquet(s"$wh/sm_assign").count()
    def exact(n: Long): Unit = {
      assert(indexedN == n)
      assert(assignN == n)
    }
    def ids(lo: Int, hi: Int) = vecs.filter($"vec_id" >= lo && $"vec_id" < hi)
    def append(lo: Int, hi: Int, seg: String): Unit =
      AnnIndex.appendSq8(cat, ids(lo, hi), "vec_id", "embedding", "sm",
        segKey = Some(seg))
    AnnIndex.buildSq8(cat, ids(0, 10), "vec_id", "embedding", "sm")
    exact(10)
    append(10, 15, "1")
    exact(15)
    // re-delivered segKey: the old seg-1 rows drop out of the sum, the
    // overwrite lands, indexed_n stays exact (not 20)
    append(10, 15, "1")
    exact(15)
    // the crash window between the segment write and the meta write:
    // the append commits its segment, then the meta it wrote is put
    // back to the one before it, as if the meta write never landed
    def tree(p: java.nio.file.Path) =
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
    def copyTree(src: java.nio.file.Path,
                 dst: java.nio.file.Path): Unit =
      tree(src).foreach(f => java.nio.file.Files.copy(f,
        dst.resolve(src.relativize(f).toString)))
    def crashedAppend(lo: Int, hi: Int, seg: String): Unit = {
      val meta = java.nio.file.Paths.get(wh, "sm")
      val aside = java.nio.file.Paths.get(
        graft.core.Scratch.dir("annsm_meta_"), "sm")
      copyTree(meta, aside)
      append(lo, hi, seg)
      tree(meta).reverse.foreach(java.nio.file.Files.delete)
      copyTree(aside, meta)
    }
    crashedAppend(15, 18, "2")
    assert(indexedN == 15 && assignN == 18)
    // a replay of the crashed append counts the other segments from
    // their footers and overwrites its own: exact
    append(15, 18, "2")
    exact(18)
    crashedAppend(18, 21, "3")
    assert(indexedN == 18 && assignN == 21)
    // the next append counts the committed-but-unrecorded seg 3 from
    // its footers: exact without a replay of seg 3
    append(21, 24, "4")
    exact(24)
    append(21, 24, "4")
    exact(24)
  }

  test("crashed overwrites stay honest: a replayed append that dies " +
       "mid-write routes its segment through the recount path, and a " +
       "crashed REBUILD leaves a loud 'rebuilding' marker") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anncw_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def indexedN: Long = {
      val r = cat.read("cw").collect()(0)
      r.getLong(r.fieldIndex("indexed_n"))
    }
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 6), "vec_id",
      "embedding", "cw")
    val batch = vecs.filter($"vec_id" >= 6 && $"vec_id" < 10)
    AnnIndex.appendSq8(cat, batch, "vec_id", "embedding", "cw",
      segKey = Some("b1"))
    assert(indexedN == 10)
    // a REPLAY of b1 that crashes mid-write: one row carries a
    // wrong-length vector, so the up-front data.count() passes
    // (column-pruned) and the failure lands INSIDE the segment
    // rewrite (ANSI element_at past the array end raises in the
    // quantizer)
    def poisoned(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", when($"vec_id" === 7L,
          array(lit(0.25f))).otherwise($"embedding"))
    intercept[Exception] {
      AnnIndex.appendSq8(cat, poisoned(batch), "vec_id", "embedding",
        "cw", segKey = Some("b1"))
    }
    // the failed job never committed, so probes still see the
    // pre-crash b1 rows, and the NEXT append counts b1 from its
    // footers: indexed_n lands exact without the batch being replayed
    AnnIndex.appendSq8(cat, vecs.filter($"vec_id" >= 10), "vec_id",
      "embedding", "cw", segKey = Some("b2"))
    assert(indexedN == 12)
    assert(spark.read.parquet(s"$wh/cw_assign").count() == 12)
    // replaying b1 for real keeps the total exact
    AnnIndex.appendSq8(cat, batch, "vec_id", "embedding", "cw",
      segKey = Some("b1"))
    assert(indexedN == 12)
    assert(spark.read.parquet(s"$wh/cw_assign").count() == 12)
    // a crashed REBUILD over the live index: the meta was flipped to
    // the 'rebuilding' marker first, so every read path fails loudly
    // instead of serving mixed-fit rows under the stale meta
    intercept[Exception] {
      AnnIndex.buildSq8(cat, poisoned(vecs), "vec_id", "embedding", "cw")
    }
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.sq8TopKFromIndex(cat, "cw", vecs.filter($"vec_id" < 2),
        "vec_id", "embedding", 3)
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
    // re-running the build repairs the artifact end to end
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "cw")
    assert(indexedN == 12)
    assert(AnnIndex.sq8TopKFromIndex(cat, "cw",
      vecs.filter($"vec_id" < 2), "vec_id", "embedding", 3).count() > 0)
  }

  test("ANN index compaction folds every appended segment into one, " +
       "probes stay bit-identical, and a crashed compaction's leftover " +
       "duplicates converge on re-run") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 24).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anncp_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    val q = vecs.filter($"vec_id" < 3)
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 6), "vec_id",
      "embedding", "cp")
    (1 to 3).foreach { i =>
      AnnIndex.appendSq8(cat,
        vecs.filter($"vec_id" >= 6 * i && $"vec_id" < 6 * (i + 1)),
        "vec_id", "embedding", "cp")
    }
    assert(cat.listPartitions("cp_assign", "seg").size == 4)
    val before = canon(AnnIndex.sq8TopKFromIndex(cat, "cp", q,
      "vec_id", "embedding", 5))
    def indexedN: Long = {
      val r = cat.read("cp").collect()(0)
      r.getLong(r.fieldIndex("indexed_n"))
    }
    assert(indexedN == 24)
    AnnIndex.compactSegs(cat, "cp")
    assert(cat.listPartitions("cp_assign", "seg") == Seq("0"))
    assert(indexedN == 24)
    assert(spark.read.parquet(s"$wh/cp_assign").count() == 24)
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "cp", q,
      "vec_id", "embedding", 5)) == before)
    // simulate the crash window: a leftover pre-compaction segment
    // still on disk duplicates rows seg 0 already holds — the re-run's
    // full-row distinct collapses them back to the exact set
    val src = java.nio.file.Paths.get(wh, "cp_assign", "seg=0")
    val dst = java.nio.file.Paths.get(wh, "cp_assign", "seg=9")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      java.nio.file.Files.copy(p,
        dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(cat.listPartitions("cp_assign", "seg").size == 2)
    AnnIndex.compactSegs(cat, "cp")
    assert(cat.listPartitions("cp_assign", "seg") == Seq("0"))
    assert(indexedN == 24) // duplicates collapsed, count self-healed
    assert(spark.read.parquet(s"$wh/cp_assign").count() == 24)
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "cp", q,
      "vec_id", "embedding", 5)) == before)
  }

  test("ANN index writes keep no side table: an SQ8 append onto a " +
       "built index starts 6 jobs, a compaction 10, and they leave " +
       "only the meta, _assign and _dels") {
    import graft.ann.AnnIndex
    val vecs = kindVecs(61)
    val wh = graft.core.Scratch.dir("annjobs_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 12), "vec_id",
      "embedding", "jb")
    val append = jobsStartedBy {
      AnnIndex.appendSq8(cat, vecs.filter($"vec_id" >= 12), "vec_id",
        "embedding", "jb")
    }
    AnnIndex.deleteIds(cat, Seq(3L).toDF("vec_id"), "vec_id", "jb")
    val compact = jobsStartedBy(AnnIndex.compactSegs(cat, "jb"))
    // neither write reads or writes a row-count table: the append sums
    // the other segments' footers on the driver, and the compaction's
    // count of its live set is the new seg 0's count
    assert(append.size == 6, append)
    assert(compact.size == 10, compact)
    assert(cat.listTablesWithPrefix("jb").toSet ==
      Set("jb", "jb_assign", "jb_dels"))
    val r = cat.read("jb").collect()(0)
    assert(r.getLong(r.fieldIndex("indexed_n")) == 23)
    assert(spark.read.parquet(s"$wh/jb_assign").count() == 23)
  }

  test("ANN index deletion: tombstoned ids vanish from every probe " +
       "(equal to an index of the live subset), compaction physically " +
       "purges and drains, re-insert is refused until the purge and " +
       "serves again after it") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 24).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anndel_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    def probe(idx: String) = canon(AnnIndex.sq8TopKFromIndex(cat, idx,
      vecs.filter($"vec_id" < 2), "vec_id", "embedding", 5))
    def indexedN(idx: String): Long = {
      val r = cat.read(idx).collect()(0)
      r.getLong(r.fieldIndex("indexed_n"))
    }
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "dx")
    // the post-delete truth: an index that never held the doomed ids
    val live = vecs.filter($"vec_id" % 5 =!= 0)
    AnnIndex.buildSq8(cat, live, "vec_id", "embedding", "dref")
    val want = probe("dref")
    // two tombstone batches + an exact replay of the first (idempotent)
    val doomed = vecs.filter($"vec_id" % 5 === 0).select($"vec_id")
    AnnIndex.deleteIds(cat, doomed.filter($"vec_id" < 12), "vec_id",
      "dx", segKey = Some("d1"))
    AnnIndex.deleteIds(cat, doomed.filter($"vec_id" >= 12), "vec_id",
      "dx")
    AnnIndex.deleteIds(cat, doomed.filter($"vec_id" < 12), "vec_id",
      "dx", segKey = Some("d1"))
    assert(probe("dx") == want) // read-time masking, before any purge
    assert(indexedN("dx") == 24) // stored rows until the purge
    // re-inserting a tombstoned id is refused loudly, naming the purge
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.appendSq8(cat, vecs.filter($"vec_id" === 0L), "vec_id",
        "embedding", "dx", segKey = Some("r1"))
    }
    assert(ex.getMessage.contains("compactSegs"), ex.getMessage)
    // ...and the refused append left nothing behind
    assert(probe("dx") == want)
    assert(indexedN("dx") == 24)
    // compaction = physical purge + tombstone drain; probes unchanged
    AnnIndex.compactSegs(cat, "dx")
    assert(cat.read("dx_assign").count() == live.count())
    assert(cat.listPartitions("dx_dels", "dseg").isEmpty)
    assert(probe("dx") == want)
    assert(indexedN("dx") == live.count())
    // after the purge the id is free again and serves like a fresh row
    AnnIndex.appendSq8(cat, vecs.filter($"vec_id" === 0L), "vec_id",
      "embedding", "dx", segKey = Some("r1"))
    AnnIndex.buildSq8(cat, live.union(vecs.filter($"vec_id" === 0L)),
      "vec_id", "embedding", "dref2")
    assert(probe("dx") == probe("dref2"))
    // an id that can't be the index's long id fails loudly — a silent
    // null cast would be a delete that doesn't delete
    val exId = intercept[Exception] {
      AnnIndex.deleteIds(cat, Seq("not-an-id").toDF("vec_id"),
        "vec_id", "dx")
    }
    assert(exId.getMessage.contains("not a long"), exId.getMessage)
    // deleting an id the index never held is a harmless no-op
    // tombstone, drained by the next compaction
    AnnIndex.deleteIds(cat, Seq(999L).toDF("vec_id"), "vec_id", "dx")
    assert(probe("dx") == probe("dref2"))
    AnnIndex.compactSegs(cat, "dx")
    assert(cat.listPartitions("dx_dels", "dseg").isEmpty)
    assert(probe("dx") == probe("dref2"))
  }

  test("rebuild after delete without compaction drains the previous " +
       "generation's tombstones (a rebuilt corpus may legitimately " +
       "re-use a deleted id), and NULL delete ids are refused loudly") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(53)
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annreb_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    def probe(idx: String) = canon(AnnIndex.sq8TopKFromIndex(cat, idx,
      vecs.filter($"vec_id" < 2), "vec_id", "embedding", 5))
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "rb")
    AnnIndex.deleteIds(cat, Seq(7L, 11L).toDF("vec_id"), "vec_id", "rb")
    assert(cat.listPartitions("rb_dels", "dseg").nonEmpty)
    // REBUILD without ever compacting: the new generation includes the
    // previously-deleted ids, and its probes must serve them — stale
    // tombstones from the old generation must not silently hide them
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "rb")
    assert(cat.listPartitions("rb_dels", "dseg").isEmpty)
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "rbref")
    assert(probe("rb") == probe("rbref"))
    assert(probe("rb").exists(r => r.getLong(2) == 7L || r.getLong(2) == 11L)
      || canon(AnnIndex.sq8TopKFromIndex(cat, "rb",
           vecs.filter($"vec_id" === 7L), "vec_id", "embedding", 19))
         .nonEmpty) // 7/11 serve again (probe from 7 returns rows)
    // a NULL id is a delete that would silently anti-join nothing
    val exNull = intercept[Exception] {
      AnnIndex.deleteIds(cat,
        Seq[java.lang.Long](5L, null).toDF("vec_id"), "vec_id", "rb")
    }
    assert(exNull.getMessage.contains("NULL"), exNull.getMessage)
  }

  test("residual IVF-PQ deletion: the two-stage refine probe serves " +
       "the live set exactly (codes AND refine candidates)") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anndel2_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val q = vecs.filter($"vec_id" < 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"))
        .collect().toSeq
    // both indexes share the SAME fits (trainData = full corpus), so
    // codes are pure per-vector functions and probe equality is exact
    val live = vecs.filter($"vec_id" % 4 =!= 1)
    AnnIndex.buildIvfPq(cat, vecs, "vec_id", "embedding", "pqd",
      numCells = 4, trainData = Some(vecs))
    AnnIndex.buildIvfPq(cat, live, "vec_id", "embedding", "pqref",
      numCells = 4, trainData = Some(vecs))
    AnnIndex.deleteIds(cat, vecs.filter($"vec_id" % 4 === 1)
      .select($"vec_id"), "vec_id", "pqd")
    val got = canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "pqd",
      vecs, q, "vec_id", "embedding", 5, nprobe = 2, refine = 8))
    val want = canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "pqref",
      live, q, "vec_id", "embedding", 5, nprobe = 2, refine = 8))
    assert(got == want)
    assert(!got.exists(_.getLong(2) % 4 == 1)) // no tombstoned id
  }

  test("filtered search: top-k fills from the allowed subset exactly " +
       "(equals an index holding only those ids), composes with " +
       "deletion, and adds no join when unrestricted") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(43)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annfil_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val q = vecs.filter($"vec_id" < 2)
    val even = vecs.filter($"vec_id" % 2 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"qcos").collect().toSeq
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "fx")
    AnnIndex.buildSq8(cat, even, "vec_id", "embedding", "fref")
    val filtered = AnnIndex.sq8TopKFromIndex(cat, "fx", q, "vec_id",
      "embedding", 5, allowedIds = Some(even.select($"vec_id")),
      allowedIdCol = "vec_id")
    // pre-filter semantics: identical to an index that only ever held
    // the allowed ids — k FILLS from the subset, ranks contiguous
    assert(canon(filtered) == canon(AnnIndex.sq8TopKFromIndex(cat,
      "fref", q, "vec_id", "embedding", 5)))
    assert(filtered.filter($"vec_id" % 2 =!= 0).isEmpty)
    // plan contract: unrestricted probes carry NO semi-join; the
    // filtered probe's restriction is an equi semi-join, no cartesian
    // (the distributed plan: these probes are over the query cap)
    val p0 = AnnIndex.sq8TopKFromIndex(cat, "fx", overQueryCap(q),
      "vec_id", "embedding", 5).queryExecution.executedPlan.toString
    val p1 = AnnIndex.sq8TopKFromIndex(cat, "fx", overQueryCap(q),
        "vec_id", "embedding", 5, allowedIds = Some(even.select($"vec_id")),
        allowedIdCol = "vec_id")
      .queryExecution.executedPlan.toString
    assert(!p0.contains("LeftSemi"), p0.take(800))
    assert(p1.contains("LeftSemi"), p1.take(800))
    assert(!p1.contains("CartesianProduct"), p1.take(800))
    // composes with deletion: a deleted id leaves the filtered top-k
    // too (tombstone anti-join AND allowed semi-join both apply)
    val victim = canon(filtered).head.getLong(2)
    AnnIndex.deleteIds(cat, Seq(victim).toDF("vec_id"), "vec_id", "fx")
    assert(AnnIndex.sq8TopKFromIndex(cat, "fx", q, "vec_id",
        "embedding", 5, allowedIds = Some(even.select($"vec_id")),
        allowedIdCol = "vec_id")
      .filter($"vec_id" === victim).isEmpty)
    // the residual IVF-PQ refine path: same contract under shared fits
    AnnIndex.buildIvfPq(cat, vecs, "vec_id", "embedding", "fpq",
      numCells = 4, trainData = Some(vecs))
    AnnIndex.buildIvfPq(cat, even, "vec_id", "embedding", "fpqref",
      numCells = 4, trainData = Some(vecs))
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"))
        .collect().toSeq
    assert(canon2(AnnIndex.ivfPqRefineTopKFromIndex(cat, "fpq", vecs,
        q, "vec_id", "embedding", 5, nprobe = 2, refine = 8,
        allowedIds = Some(even.select($"vec_id")),
        allowedIdCol = "vec_id")) ==
      canon2(AnnIndex.ivfPqRefineTopKFromIndex(cat, "fpqref", even,
        q, "vec_id", "embedding", 5, nprobe = 2, refine = 8)))
  }

  // ---- the SQ8 probe's driver path ---------------------------------------
  //
  // A probe within AnnIndex.DriverProbeRowCap / DriverProbeQueryCap is
  // scored on the driver; each test below compares it with the
  // distributed plan, reached through the caps themselves.

  /** `q` plus DriverProbeQueryCap more query rows (copies of one of its
    * vectors under ids from [[PadId]] up): a probe with it is over the
    * query cap, and its rows for `q`'s ids are those `q` alone gets. */
  private def overQueryCap(q: org.apache.spark.sql.DataFrame) = {
    import graft.ann.AnnIndex
    q.unionByName(q.limit(1).select($"embedding")
      .crossJoin(spark.range(AnnIndex.DriverProbeQueryCap.toLong))
      .select(($"id" + PadId).cast(q.schema("vec_id").dataType)
        .as("vec_id"), $"embedding"))
  }
  private val PadId = 1000000L

  /** The rows of a probe result in (q_id, rank) order, without the
    * padding queries of [[overQueryCap]]. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.filter($"q_id" < PadId).orderBy($"q_id", $"rank").collect().toSeq

  /** A probe on both paths: the driver path's result (asserting it
    * started only unlabelled-by-fallback jobs) and the distributed
    * plan's over the same index, queries and filter. */
  private def bothPaths(cat: graft.catalog.TableCatalog, index: String,
      q: org.apache.spark.sql.DataFrame, k: Int,
      allowed: Option[org.apache.spark.sql.DataFrame] = None) = {
    import graft.ann.AnnIndex
    def probe(qs: org.apache.spark.sql.DataFrame) =
      AnnIndex.sq8TopKFromIndex(cat, index, qs, "vec_id", "embedding", k,
        allowedIds = allowed, allowedIdCol = "vec_id")
    var local: org.apache.spark.sql.DataFrame = null
    val labels = jobsStartedBy { local = probe(q); local.collect() }
    assert(labels.nonEmpty && labels.forall(_ == "AnnIndex: probe"),
      labels)
    val dist = probe(overQueryCap(q))
    assert(dist.schema == local.schema,
      s"${dist.schema.treeString} vs ${local.schema.treeString}")
    assert(rowsOf(local) == rowsOf(dist))
    (rowsOf(local), rowsOf(dist))
  }

  test("driver-path SQ8 probes equal the distributed plan row for row " +
       "and in schema under each metric, with duplicate query ids, a " +
       "query id equal to an indexed id, tied scores and k past the " +
       "live set") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(71)
    // ids 20-23 repeat vector 3 (tied scores for every query), 24 is
    // the zero vector (score 0 against every query under cosine) and 25
    // is orthogonal to the query it copies the sign pattern of
    val base = (0 until 20).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * (1 + i % 3))))
    val vecs = (base ++ (20 until 24).map(i => (i.toLong, base(3)._2)) ++
        Seq((24L, Array.fill(64)(0f)),
          (25L, Array.tabulate(64)(j => if (j % 2 == 0) 1f else -1f)),
          (26L, Array.tabulate(64)(j => if (j < 32) 1f else 0f))))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anndrv_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    // query 0 and query 3 are indexed ids; query 7 comes twice, with
    // two different vectors, and pools both rows' pairs; query 26
    // (all ones then zeros) is orthogonal to 25
    val q = vecs.filter($"vec_id".isin(0L, 3L, 26L))
      .unionByName(Seq((7L, base(7)._2), (7L, base(9)._2))
        .toDF("vec_id", "embedding"))
    for (metric <- Seq("cosine", "ip", "l2")) {
      AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", s"d_$metric",
        metric = metric)
      for (k <- Seq(5, 40)) {
        val (local, _) = bothPaths(cat, s"d_$metric", q, k)
        val byQ = local.groupBy(_.getLong(0))
        // the self-match is excluded: 26 scored vectors per query row
        // (both rows of the duplicated query id pool), cut at k
        assert(byQ(0L).size == math.min(k, 26) &&
          byQ(7L).size == math.min(k, 52), s"$metric $k")
        assert(!byQ(3L).exists(_.getLong(2) == 3L))
      }
    }
    // the ties: 3 and its four copies score alike for every query, so
    // they rank in vec_id order wherever they fall in query 0's list
    val cos = bothPaths(cat, "d_cosine", q, 40)._1
      .filter(_.getLong(0) == 0L)
    val tied = cos.filter(r => Set(3L, 20L, 21L, 22L, 23L)(r.getLong(2)))
    assert(tied.map(_.getLong(2)) == Seq(3L, 20L, 21L, 22L, 23L))
    assert(tied.map(_.getDouble(3)).distinct.size == 1)
    assert(tied.map(_.getInt(1)) == (tied.head.getInt(1) until
      tied.head.getInt(1) + 5))
    // query 26 against 24 (zero vector) and 25 (orthogonal): both 0.0
    val zeros = bothPaths(cat, "d_cosine", q, 40)._1
      .filter(r => r.getLong(0) == 26L && r.getDouble(3) == 0.0)
    assert(zeros.map(_.getLong(2)) == Seq(24L, 25L))
  }

  test("driver-path SQ8 probes equal the distributed plan over two " +
       "segments with tombstones, filtered, with an empty allowed set, " +
       "and in the compactSegs crash shape (duplicate rows come back " +
       "twice); a plain probe of a compacted index is at most 2 jobs") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(73)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("anndrv2_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val q = vecs.filter($"vec_id".isin(1L, 2L, 30L))
    val even = Some(vecs.filter($"vec_id" % 2 === 0).select($"vec_id"))
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 24), "vec_id",
      "embedding", "t2")
    AnnIndex.appendSq8(cat, vecs.filter($"vec_id" >= 24), "vec_id",
      "embedding", "t2")
    AnnIndex.deleteIds(cat, Seq(4L, 6L, 31L).toDF("vec_id"), "vec_id",
      "t2")
    AnnIndex.deleteIds(cat, Seq(8L, 33L).toDF("vec_id"), "vec_id", "t2")
    assert(cat.listPartitions("t2_assign", "seg").size == 2)
    val (plain, _) = bothPaths(cat, "t2", q, 10)
    assert(!plain.exists(r => Set(4L, 6L, 8L, 31L, 33L)(r.getLong(2))))
    val (filtered, _) = bothPaths(cat, "t2", q, 10, even)
    assert(filtered.nonEmpty && filtered.forall(_.getLong(2) % 2 == 0))
    assert(!filtered.exists(r => Set(4L, 6L, 8L)(r.getLong(2))))
    val (none, _) = bothPaths(cat, "t2", q, 10,
      Some(vecs.filter($"vec_id" < 0).select($"vec_id")))
    assert(none.isEmpty)
    // compacted: the plain probe is the meta read and one collect
    AnnIndex.compactSegs(cat, "t2")
    var compacted = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsStartedBy {
      compacted = AnnIndex.sq8TopKFromIndex(cat, "t2", q, "vec_id",
        "embedding", 10).collect().toSeq
    }
    assert(jobs.size <= 2, jobs)
    assert(compacted.sortBy(r => (r.getLong(0), r.getInt(1))) == plain)
    // the crash shape: a leftover copy of seg 0 duplicates every row
    val src = java.nio.file.Paths.get(wh, "t2_assign", "seg=0")
    val dst = java.nio.file.Paths.get(wh, "t2_assign", "seg=9")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val (dup, _) = bothPaths(cat, "t2", q, 10)
    val byQ = dup.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(_.getLong(2)).grouped(2).forall(p => p.size == 2 &&
        p.head == p(1))), dup)
  }

  test("driver-path SQ8 probes raise what the distributed plan raises " +
       "on a NULL allowed id, a non-long allowed id and a wrong-width " +
       "query") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(79)
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("anndrv3_"))
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "e")
    val q = vecs.filter($"vec_id" < 2)
    def root(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
        .getMessage
    def raised(qs: org.apache.spark.sql.DataFrame,
               allowed: Option[org.apache.spark.sql.DataFrame]) =
      root(intercept[Exception](AnnIndex.sq8TopKFromIndex(cat, "e", qs,
        "vec_id", "embedding", 3, allowedIds = allowed,
        allowedIdCol = "vec_id").collect()))
    val nullId = Some(Seq[java.lang.Long](1L, null).toDF("vec_id"))
    val notLong = Some(Seq("5", "x").toDF("vec_id"))
    val wide = Seq((1L, Array.fill(65)(0.1f))).toDF("vec_id", "embedding")
    for ((qs, allowed, msg) <- Seq((q, nullId, "allowed id is NULL"),
        (q, notLong, "'x' is not a long"), (wide, None, "expected 64-dim"))) {
      val local = raised(qs, allowed)
      assert(local.contains(msg), local)
      assert(raised(overQueryCap(qs), allowed) == local)
    }
  }

  test("SQ8 probes over a cap run the distributed plan and label its " +
       "jobs with why: an index over the row cap equals the fit-inline " +
       "top-k; a query frame over the query cap, or with a string id, " +
       "says so") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(83)
    val n = AnnIndex.DriverProbeRowCap + 1
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cat = new graft.catalog.TableCatalog(spark,
      graft.core.Scratch.dir("annover_"))
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "big", dim = 4)
    val q = vecs.filter($"vec_id" < 3)
    var got = Seq.empty[org.apache.spark.sql.Row]
    val labels = jobsStartedBy {
      got = rowsOf(AnnIndex.sq8TopKFromIndex(cat, "big", q, "vec_id",
        "embedding", 5))
    }
    assert(labels.contains("AnnIndex: probe [over row cap]"), labels)
    assert(got == rowsOf(Ann.sq8TopK(vecs, q, "vec_id", "embedding", 5,
      dim = 4)))
    AnnIndex.buildSq8(cat, vecs.filter($"vec_id" < 50), "vec_id",
      "embedding", "small", dim = 4)
    val overQ = jobsStartedBy {
      AnnIndex.sq8TopKFromIndex(cat, "small", overQueryCap(q), "vec_id",
        "embedding", 5).collect()
    }
    assert(overQ.contains("AnnIndex: probe [over query cap]"), overQ)
    // a query id that is not an integral type compares under Spark's
    // coercion rules, which the distributed plan keeps
    val byString = jobsStartedBy {
      AnnIndex.sq8TopKFromIndex(cat, "small",
        q.select($"vec_id".cast("string").as("vec_id"), $"embedding"),
        "vec_id", "embedding", 5).collect()
    }
    assert(byString.contains("AnnIndex: probe [query id type]"), byString)
  }

  test("filtered search on the IVF / PQ / LSH paths: each equals an " +
       "index of the allowed subset under shared fits, adds no join " +
       "when unrestricted, and composes with deletion") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(47)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val wh = graft.core.Scratch.dir("annfil2_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val q = vecs.filter($"vec_id" < 2)
    val even = vecs.filter($"vec_id" % 2 === 0)
    val allowed = Some(even.select($"vec_id"))
    def canonQ(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"))
        .collect().toSeq
    // IVF — shared quantizer (trainData = full corpus), so the
    // subset-only index assigns identically and probes are exact
    AnnIndex.buildIvf(cat, vecs, "vec_id", "embedding", "gi",
      numCells = 4, trainIters = 2, trainData = Some(vecs))
    AnnIndex.buildIvf(cat, even, "vec_id", "embedding", "giref",
      numCells = 4, trainIters = 2, trainData = Some(vecs))
    val fi = AnnIndex.ivfTopKFromIndex(cat, "gi", q, "vec_id",
      "embedding", 5, allowedIds = allowed, allowedIdCol = "vec_id")
    assert(canonQ(fi) == canonQ(AnnIndex.ivfTopKFromIndex(cat, "giref",
      q, "vec_id", "embedding", 5)))
    val pi0 = AnnIndex.ivfTopKFromIndex(cat, "gi", q, "vec_id",
      "embedding", 5).queryExecution.executedPlan.toString
    assert(!pi0.contains("LeftSemi"), pi0.take(800))
    assert(fi.queryExecution.executedPlan.toString.contains("LeftSemi"))
    // ...composes with deletion
    val vic = canonQ(fi).head.getLong(2)
    AnnIndex.deleteIds(cat, Seq(vic).toDF("vec_id"), "vec_id", "gi")
    assert(AnnIndex.ivfTopKFromIndex(cat, "gi", q, "vec_id",
        "embedding", 5, allowedIds = allowed, allowedIdCol = "vec_id")
      .filter($"vec_id" === vic).isEmpty)
    // PQ — shared codebooks
    AnnIndex.buildPq(cat, vecs, "vec_id", "embedding", "gp",
      trainIters = 2, trainData = Some(vecs))
    AnnIndex.buildPq(cat, even, "vec_id", "embedding", "gpref",
      trainIters = 2, trainData = Some(vecs))
    val fp = AnnIndex.pqTopKFromIndex(cat, "gp", q, "vec_id",
      "embedding", 5, allowedIds = allowed, allowedIdCol = "vec_id")
    assert(canonQ(fp) == canonQ(AnnIndex.pqTopKFromIndex(cat, "gpref",
      q, "vec_id", "embedding", 5)))
    val pp0 = AnnIndex.pqTopKFromIndex(cat, "gp", q, "vec_id",
      "embedding", 5).queryExecution.executedPlan.toString
    assert(!pp0.contains("LeftSemi"), pp0.take(800))
    assert(fp.queryExecution.executedPlan.toString.contains("LeftSemi"))
    val vicP = canonQ(fp).head.getLong(2)
    AnnIndex.deleteIds(cat, Seq(vicP).toDF("vec_id"), "vec_id", "gp")
    assert(AnnIndex.pqTopKFromIndex(cat, "gp", q, "vec_id",
        "embedding", 5, allowedIds = allowed, allowedIdCol = "vec_id")
      .filter($"vec_id" === vicP).isEmpty)
    // LSH — geometry sized to the SAME capacity on both, so bucketing
    // (a pure function of vector x planes) is identical
    AnnIndex.buildLsh(cat, vecs, "vec_id", "embedding", "gl",
      targetBucketRows = 1)
    AnnIndex.buildLsh(cat, even, "vec_id", "embedding", "glref",
      targetBucketRows = 1, capacityRows = Some(vecs.count()))
    def canonN(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"vec_id")
        .select($"vec_id".cast("long"), $"neighbor".cast("long"))
        .collect().toSeq
    assert(canonN(AnnIndex.lshNeighborsFromIndex(cat, "gl",
        allowedIds = allowed, allowedIdCol = "vec_id")) ==
      canonN(AnnIndex.lshNeighborsFromIndex(cat, "glref")))
  }

  test("metric in the index meta: an ip-built SQ8 index serves " +
       "dequantized inner-product ranks, l2 serves negative distance, " +
       "mismatched explicit probes and non-cosine decon are refused") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(67)
    // magnitudes VARY by an id-dependent factor, so ip ranks must
    // diverge from cosine ranks (magnitude is the signal ip keeps)
    val vecs = (0 until 24).map { i =>
      val scale = 0.2f + (i % 5).toFloat
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * scale))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 2)
    val wh = graft.core.Scratch.dir("annmet_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"))
        .collect().toSeq
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "mip",
      metric = "ip")
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "ml2",
      metric = "l2")
    AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "mcos")
    // probes serve the RECORDED metric, equal to the fit-inline form
    val ipGot = canon(AnnIndex.sq8TopKFromIndex(cat, "mip", q,
      "vec_id", "embedding", 5))
    assert(ipGot == canon(Ann.sq8TopK(vecs, q, "vec_id", "embedding",
      5, metric = "ip")))
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "ml2", q, "vec_id",
        "embedding", 5)) ==
      canon(Ann.sq8TopK(vecs, q, "vec_id", "embedding", 5,
        metric = "l2")))
    val cosGot = canon(AnnIndex.sq8TopKFromIndex(cat, "mcos", q,
      "vec_id", "embedding", 5))
    assert(ipGot != cosGot) // magnitude signal really changes ranks
    // appends inherit the recorded metric (per-vector scales, no fit)
    // ... and an explicit metric request must MATCH the recorded one
    assert(canon(AnnIndex.sq8TopKFromIndex(cat, "mip", q, "vec_id",
      "embedding", 5, metric = Some("ip"))) == ipGot)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.sq8TopKFromIndex(cat, "mip", q, "vec_id", "embedding",
        5, metric = Some("cosine"))
    }
    assert(ex.getMessage.contains("RECORDED"), ex.getMessage)
    // decon thresholds are cosine — an ip index is refused
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.sq8MatchesFromIndex(cat, "mip", q, "vec_id",
        "embedding", 0.5)
    }
    assert(ex2.getMessage.contains("cosine"), ex2.getMessage)
    // unknown metrics are refused at build time
    val ex3 = intercept[IllegalArgumentException] {
      AnnIndex.buildSq8(cat, vecs, "vec_id", "embedding", "mx",
        metric = "dotproduct")
    }
    assert(ex3.getMessage.contains("metric"), ex3.getMessage)
  }

  test("raw-L2 residual IVF-PQ: the persisted index equals the " +
       "fit-inline form, appends inherit the recorded metric, l2 " +
       "ranks diverge from cosine, and mismatched probes / ip are " +
       "refused") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(68)
    // magnitude-varied corpus: raw-L2 ranks must diverge from cosine's
    val vecs = (0 until 24).map { i =>
      val scale = 0.2f + (i % 5).toFloat
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * scale))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 2)
    val wh = graft.core.Scratch.dir("annl2_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"score")
        .collect().toSeq
    AnnIndex.buildIvfPq(cat, vecs, "vec_id", "embedding", "rl2",
      numCells = 4, metric = "l2")
    val got = canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "rl2",
      vecs, q, "vec_id", "embedding", 5, nprobe = 2, refine = 16))
    // bit-identical to the fit-inline l2 form (codes and cells are
    // pure functions of vector x frozen fits; raw vectors recompute
    // exactly from the store)
    assert(got == canon(Ann.ivfPqResidualTopK(vecs, q, "vec_id",
      "embedding", 5, numCells = 4, nprobe = 2, refine = 16,
      metric = "l2")))
    // build-half + append-half under the LOADED fits == the full
    // build (the metric travels in the meta, never re-specified)
    AnnIndex.buildIvfPq(cat, vecs.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", "rl2h", numCells = 4, metric = "l2",
      trainData = Some(vecs))
    AnnIndex.appendIvfPq(cat, vecs.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", "rl2h")
    assert(canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "rl2h",
      vecs, q, "vec_id", "embedding", 5, nprobe = 2,
      refine = 16)) == got)
    // raw-L2 really uses the magnitudes: ranks differ from cosine's
    AnnIndex.buildIvfPq(cat, vecs, "vec_id", "embedding", "rcos",
      numCells = 4)
    def ranksOnly(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(ranksOnly(got) != ranksOnly(canon(
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "rcos", vecs, q,
        "vec_id", "embedding", 5, nprobe = 2, refine = 16))))
    // an explicit probe for a metric the index was not built for is
    // refused loudly
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "rl2", vecs, q, "vec_id",
        "embedding", 5, metric = Some("cosine"))
    }
    assert(ex.getMessage.contains("RECORDED"), ex.getMessage)
    // ip on the residual path is refused with a pointer at SQ8 (an
    // L2 code rank would silently mis-rank an ip corpus)
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.buildIvfPq(cat, vecs, "vec_id", "embedding", "rip",
        numCells = 4, metric = "ip")
    }
    assert(ex2.getMessage.toLowerCase.contains("sq8"), ex2.getMessage)
  }

  test("ANN index lifecycle: build-half + append-half equals the full " +
       "build bit for bit, a replayed append is idempotent, and " +
       "staleness past the drift bound fails loudly") {
    import graft.ann.AnnIndex
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val first = vecs.filter($"vec_id" % 2 === 0)
    val rest = vecs.filter($"vec_id" % 2 === 1)
    val wh = graft.core.Scratch.dir("annlc_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"vec_id")
        .select($"vec_id".cast("long"), $"bucket".cast("long"),
          $"neighbor".cast("long"), $"cos")
        .collect().toSeq
    // LSH: geometry sized to the planned capacity, append under it
    AnnIndex.buildLsh(cat, first, "vec_id", "embedding", "lc",
      targetBucketRows = 1, capacityRows = Some(40L))
    AnnIndex.appendLsh(cat, rest, "vec_id", "embedding", "lc")
    val once = canon(AnnIndex.lshNeighborsFromIndex(cat, "lc"))
    assert(once ==
      canon(Ann.lshBucketNeighborsAuto(vecs, "vec_id", "embedding", 1)))
    // replayed append (same segKey) overwrites its own segment
    AnnIndex.appendLsh(cat, rest, "vec_id", "embedding", "lc",
      segKey = Some("1"))
    assert(canon(AnnIndex.lshNeighborsFromIndex(cat, "lc")) == once)
    // IVF: quantizer trained once on the full corpus, appended vectors
    // assigned under the PERSISTED centroids
    AnnIndex.buildIvf(cat, first, "vec_id", "embedding", "lcivf",
      numCells = 4, trainIters = 2, trainData = Some(vecs))
    AnnIndex.appendIvf(cat, rest, "vec_id", "embedding", "lcivf")
    val q = vecs.filter($"vec_id" < 3)
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"cos").collect().toSeq
    assert(canon2(AnnIndex.ivfTopKFromIndex(cat, "lcivf", q, "vec_id",
        "embedding", 5)) ==
      canon2(Ann.ivfTopK(vecs, q, "vec_id", "embedding", 5,
        numCells = 4, trainIters = 2)))
    // staleness: a capacity-10 index holds 10 appended past the bound
    // (10 -> 30 > 2x) only under allowStale; then both probes refuse
    // without it and serve with it
    val small = vecs.filter($"vec_id" < 10)
    AnnIndex.buildLsh(cat, small, "vec_id", "embedding", "st",
      targetBucketRows = 1)
    val more = vecs.filter($"vec_id" >= 10)
    val exAppend = intercept[IllegalArgumentException] {
      AnnIndex.appendLsh(cat, more, "vec_id", "embedding", "st")
    }
    assert(exAppend.getMessage.contains("rebuild with AnnIndex.buildLsh"))
    // the refused append left no orphan rows: the index still serves
    assert(canon(AnnIndex.lshNeighborsFromIndex(cat, "st")) ==
      canon(Ann.lshBucketNeighborsAuto(small, "vec_id", "embedding", 1)))
    AnnIndex.appendLsh(cat, more, "vec_id", "embedding", "st",
      allowStale = true)
    val exProbe = intercept[IllegalArgumentException] {
      AnnIndex.lshNeighborsFromIndex(cat, "st")
    }
    assert(exProbe.getMessage.contains("drift"))
    // the stale geometry still buckets correctly (pure function of v):
    // the override serves the full corpus — identical to the inline
    // fit, which at 40 rows lands on the same 8-plane floor geometry
    assert(canon(AnnIndex.lshNeighborsFromIndex(cat, "st",
        allowStale = true)) ==
      canon(Ann.lshBucketNeighborsAuto(vecs, "vec_id", "embedding", 1)))
  }

  test("ANN geometry is per-call: a non-default index records its " +
       "shape in the meta, serves under it, and a mismatched-dim " +
       "probe fails loudly") {
    import graft.ann.{Ann, AnnIndex}
    val rnd = new scala.util.Random(41)
    def mk(dim: Int, n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val v32 = mk(32, 40)
    val wh = graft.core.Scratch.dir("anngm_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val g = Ann.Geom(32, 8, 16)
    AnnIndex.buildIvfPq(cat, v32, "vec_id", "embedding", "g32",
      numCells = 4, trainIters = 1, pqIters = 1, geom = g)
    // the meta records the full shape
    val row = cat.read("g32").collect()(0)
    assert(row.getInt(row.fieldIndex("dim")) == 32)
    assert(row.getInt(row.fieldIndex("pq_m")) == 8)
    assert(row.getInt(row.fieldIndex("pq_k")) == 16)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank")
        .select($"q_id".cast("long"), $"rank", $"vec_id".cast("long"),
          $"score").collect().toSeq
    // the probe serves under the RECORDED geometry (no geom argument)
    val fromIndex = canon(AnnIndex.ivfPqRefineTopKFromIndex(cat, "g32",
      v32, v32.filter($"vec_id" < 2), "vec_id", "embedding", 5,
      nprobe = 2, refine = 8))
    assert(fromIndex.size == 10)
    // ... and is bit-identical to the fit-inline residual form at the
    // same non-default shape (the ann17 equivalence, off-default)
    val inline = canon(Ann.ivfPqResidualTopK(v32,
      v32.filter($"vec_id" < 2), "vec_id", "embedding", 5,
      numCells = 4, nprobe = 2, trainIters = 1, pqIters = 1,
      refine = 8, geom = g))
    assert(inline == fromIndex)
    // a 64-dim query vector against the 32-dim index raises at
    // evaluation, naming the expected width
    def root(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n')
        c = c.getCause }
      sb.toString
    }
    val ex = intercept[Exception] {
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "g32", v32, mk(64, 2),
        "vec_id", "embedding", 5, nprobe = 2, refine = 8).collect()
    }
    assert(root(ex).contains("expected 32-dim"), root(ex))
    // the geometry validates its own shape up front
    intercept[IllegalArgumentException] { Ann.Geom(33, 8, 16) }
    intercept[IllegalArgumentException] { Ann.Geom(32, 8, 300) }
  }

  // ---- the persisted format, pinned per index kind ----------------------
  //
  // One case per kind: how to build it and how to probe it. Every kind
  // is built over ids 0..15, appended 16..23 and has one id deleted, so
  // each table the lifecycle writes exists on disk.
  private case class KindCase(kind: String, sub: String,
      fits: Map[String, String], assign: String,
      build: (graft.catalog.TableCatalog,
        org.apache.spark.sql.DataFrame, String) => Unit,
      probe: (graft.catalog.TableCatalog, String,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)

  private lazy val kindCases: Seq[KindCase] = {
    import graft.ann.AnnIndex
    val cent = "struct<cell:int,pos:int,val:double>"
    val book = "struct<m:int,cell:int,pos:int,val:double>"
    def q(v: org.apache.spark.sql.DataFrame) = v.filter($"vec_id" < 3)
    Seq(
      KindCase("lsh", "pk", Map.empty,
        "struct<id:bigint,v:array<double>,nrm:double,bucket:bigint>",
        (c, v, t) => AnnIndex.buildLsh(c, v, "vec_id", "embedding", t,
          targetBucketRows = 4),
        (c, t, _) => AnnIndex.lshNeighborsFromIndex(c, t)),
      KindCase("ivf", "cell", Map("_cent" -> cent),
        "struct<id:bigint,v:array<double>,nrm:double>",
        (c, v, t) => AnnIndex.buildIvf(c, v, "vec_id", "embedding", t,
          numCells = 4, trainIters = 1),
        (c, t, v) => AnnIndex.ivfTopKFromIndex(c, t, q(v), "vec_id",
          "embedding", 5)),
      KindCase("sq8", "pk", Map.empty,
        "struct<id:bigint,q:array<tinyint>,qq:bigint,sc:double>",
        (c, v, t) => AnnIndex.buildSq8(c, v, "vec_id", "embedding", t),
        (c, t, v) => AnnIndex.sq8TopKFromIndex(c, t, q(v), "vec_id",
          "embedding", 5)),
      KindCase("pq", "pk", Map("_pqcent" -> book),
        "struct<id:bigint,c0:int,c1:int,c2:int,c3:int>",
        (c, v, t) => AnnIndex.buildPq(c, v, "vec_id", "embedding", t,
          trainIters = 1),
        (c, t, v) => AnnIndex.pqTopKFromIndex(c, t, q(v), "vec_id",
          "embedding", 5)),
      KindCase("ivfpq", "cell", Map("_cent" -> cent, "_pqcent" -> book),
        "struct<id:bigint,c0:int,c1:int,c2:int,c3:int>",
        (c, v, t) => AnnIndex.buildIvfPq(c, v, "vec_id", "embedding", t,
          numCells = 4, trainIters = 1, pqIters = 1),
        (c, t, v) => AnnIndex.ivfPqRefineTopKFromIndex(c, t, v, q(v),
          "vec_id", "embedding", 5, refine = 8)))
  }

  private def kindVecs(seed: Int, dim: Int = 64) = {
    val rnd = new scala.util.Random(seed)
    (0 until 24).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  /** Every message in a throwable's cause chain. */
  private def causes(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")

  for (kc <- kindCases) test(s"persisted ${kc.kind} index format: " +
      "table set, partition columns, assign/meta columns and types; " +
      "a probe is unchanged under a legacy meta row") {
    import graft.ann.AnnIndex
    val vecs = kindVecs(53)
    val wh = graft.core.Scratch.dir("annfmt_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val t = "fx"
    kc.build(cat, vecs.filter($"vec_id" < 16), t)
    AnnIndex.ingestBatch(cat, vecs.filter($"vec_id" >= 16), "vec_id",
      "embedding", t, 1L)
    AnnIndex.deleteIds(cat, Seq(5L).toDF("vec_id"), "vec_id", t)
    // the table set
    assert(cat.listTablesWithPrefix(t).toSet ==
      (Set("", "_assign", "_dels") ++ kc.fits.keySet)
        .map(t + _))
    // partition directories: seg, then the kind's sub-layout; dseg
    assert(cat.listPartitions(t + "_assign", "seg") == Seq("0", "b1"))
    Seq("0", "b1").foreach { s =>
      assert(cat.listSubPartitions(t + "_assign", "seg", s, kc.sub)
        .nonEmpty, s"seg=$s has no ${kc.sub}= directories")
    }
    assert(cat.listPartitions(t + "_dels", "dseg") == Seq("1"))
    // column names and types: data columns, then partition columns
    def dataCols(table: String, parts: Set[String]) =
      org.apache.spark.sql.types.StructType(
        cat.read(table).schema.filterNot(f => parts(f.name)))
        .simpleString
    val assignRead = cat.read(t + "_assign").schema.fieldNames.toSeq
    assert(assignRead.takeRight(2) == Seq("seg", kc.sub), assignRead)
    assert(dataCols(t + "_assign", Set("seg", kc.sub)) == kc.assign)
    assert(dataCols(t + "_dels", Set("dseg")) == "struct<id:bigint>")
    kc.fits.foreach { case (suffix, schema) =>
      assert(dataCols(t + suffix, Set.empty) == schema, suffix)
    }
    assert(dataCols(t, Set.empty) == "struct<kind:string," +
      "geometry:int,dim:int,pq_m:int,pq_k:int,fitted_n:bigint," +
      "indexed_n:bigint,metric:string>")
    val meta = cat.read(t).collect()(0)
    assert(meta.getString(0) == kc.kind)
    assert(meta.getLong(meta.fieldIndex("indexed_n")) == 24L)
    // older meta shapes (no indexed_n, no pq_m/pq_k, no metric) are
    // refused by name, and the current row serves again once restored
    def canon() = kc.probe(cat, t, vecs).collect().map(_.toString)
      .sorted.toSeq
    val before = canon()
    assert(before.nonEmpty)
    // (a local copy: each rewrite replaces the files the read lists)
    val read = cat.read(t)
    val current = spark.createDataFrame(
      java.util.Arrays.asList(read.collect(): _*), read.schema)
    for (missing <- Seq("indexed_n", "pq_m", "pq_k", "metric")) {
      cat.writeFull(current.drop(missing), t)
      assert(!cat.read(t).columns.contains(missing))
      val ex = intercept[Exception](canon())
      assert(causes(ex).contains(s"no '$missing' column"), causes(ex))
    }
    cat.writeFull(current, t)
    assert(canon() == before)
  }

  for (kc <- kindCases) test(s"${kc.kind} index refuses bad build and " +
      "append input: a wrong-width vector and a NULL id raise, and " +
      "the index is unchanged") {
    import graft.ann.AnnIndex
    val vecs = kindVecs(59)
    val wh = graft.core.Scratch.dir("annbad_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    kc.build(cat, vecs.filter($"vec_id" < 16), "bx")
    val before = kc.probe(cat, "bx", vecs).collect().map(_.toString)
      .sorted.toSeq
    val wide = Seq((100L, Array.fill(65)(0.1f))).toDF("vec_id", "embedding")
    val nullId = Seq[(java.lang.Long, Array[Float])](
      (null, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val exWide = intercept[Exception] {
      AnnIndex.ingestBatch(cat, wide, "vec_id", "embedding", "bx", 1L)
    }
    assert(causes(exWide).contains("expected 64-dim"), causes(exWide))
    val exNull = intercept[Exception] {
      AnnIndex.ingestBatch(cat, nullId, "vec_id", "embedding", "bx", 2L)
    }
    assert(causes(exNull).contains("NULL"), causes(exNull))
    assert(cat.read("bx_assign").count() == 16L)
    assert(kc.probe(cat, "bx", vecs).collect().map(_.toString)
      .sorted.toSeq == before)
    // a build refuses the same input (the shared front covers both)
    val exBuild = intercept[Exception] {
      kc.build(cat, vecs.filter($"vec_id" < 16).unionByName(nullId),
        "bx2")
    }
    assert(causes(exBuild).contains("NULL"), causes(exBuild))
  }

  test("kmeansCentroids: a cell that loses all members keeps its " +
       "previous centroid") {
    // two identical vectors seed both cells; assignment ties to the
    // larger cell id, so cell 0 empties after round 1
    val d = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)))
      .toDF("id", "v")
      .withColumn("nrm", lit(1.0))
    val cents = Ann.kmeansCentroids(d, 2, 2)
    assert(cents.length == 2)
    assert(cents(0)._1 == Seq(1.0, 0.0) && cents(1)._1 == Seq(1.0, 0.0))
    cents.foreach { case (v, n) =>
      assert(!v.exists(_.isNaN) && !n.isNaN)
    }
  }

  test("Bmp codec round-trips pixels through a real stride-padded " +
       "stream and rejects corrupt headers") {
    val gray = Array.tabulate(48)(i => (i * 5 % 256).toByte)
    val bmp = Multimodal.Bmp.encode(6, 8, gray)
    // real file structure: magic, stride 6*3=18 padded to 20, 24 bpp
    assert(bmp(0) == 'B' && bmp(1) == 'M')
    assert(bmp.length == 54 + 20 * 8)
    assert(bmp(28) == 24)
    val (w, h, back) = Multimodal.Bmp.decode(bmp)
    assert(w == 6 && h == 8 && back.sameElements(gray))
    val notBmp = bmp.clone(); notBmp(0) = 'X'
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(notBmp))
    val badBpp = bmp.clone(); badBpp(28) = 8
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(badBpp))
    val truncated = bmp.take(54 + 19)
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(truncated))
    // forged 65536x65536 dims: stride*height wraps Int to 0, so a
    // 32-bit bounds check would pass and crash past the validation
    val forged = bmp.clone()
    forged(18) = 0; forged(19) = 0; forged(20) = 1; forged(21) = 0
    forged(22) = 0; forged(23) = 0; forged(24) = 1; forged(25) = 0
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(forged))
    // forged width=715827883, height=1: width*3 wraps the STRIDE
    // itself negative in Int, so 'offset + stride*height <= length'
    // would pass and decode would allocate width*height then crash
    val wideForged = bmp.clone()
    wideForged(18) = 0xab.toByte; wideForged(19) = 0xaa.toByte
    wideForged(20) = 0xaa.toByte; wideForged(21) = 0x2a.toByte
    wideForged(22) = 1; wideForged(23) = 0
    wideForged(24) = 0; wideForged(25) = 0
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(wideForged))
    // forged negative pixel-array offset: Long bounds math with a
    // negative base would accept huge dims
    val negOffset = bmp.clone()
    negOffset(13) = 0x80.toByte
    intercept[IllegalArgumentException](Multimodal.Bmp.decode(negOffset))
  }

  test("Png codec round-trips gray/RGB/RGBA pixels through every " +
       "scanline filter type") {
    import graft.multimodal.Png
    // height 10 > 5 rows: the y%5 filter cycle covers None/Sub/Up/
    // Average/Paeth at least twice, including Paeth rows with real
    // upper-left context; pixel values sweep the byte range so the
    // modular filter arithmetic wraps (the case naive math corrupts)
    for (colorType <- Seq(0, 2, 6)) {
      val ch = Png.channelsOf(colorType)
      val px = Array.tabulate(7 * 10 * ch)(i => ((i * 37 + 11) % 256).toByte)
      val png = Png.encode(7, 10, colorType, px)
      // real file structure: signature + IHDR first
      assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N')
      val (w, h, ct, back) = Png.decode(png)
      assert(w == 7 && h == 10 && ct == colorType, s"colorType=$colorType")
      assert(back.sameElements(px), s"colorType=$colorType")
    }
  }

  test("Png decode rejects corrupt, truncated, and forged streams") {
    import graft.multimodal.Png
    val good = Png.encode(4, 4, 2, Array.tabulate(48)(_.toByte))
    // bad signature
    val notPng = good.clone(); notPng(0) = 'X'
    intercept[IllegalArgumentException](Png.decode(notPng))
    // flipped pixel byte inside IDAT: the chunk CRC must catch it
    val corrupt = good.clone()
    corrupt(good.length - 13) = (corrupt(good.length - 13) ^ 0x5a).toByte
    intercept[IllegalArgumentException](Png.decode(corrupt))
    // truncated mid-chunk
    intercept[IllegalArgumentException](Png.decode(good.take(good.length - 7)))
    // unsupported shapes: 16-bit depth, palette color type, interlaced.
    // IHDR data starts at byte 16 (8 sig + 4 len + 4 type); re-CRC the
    // chunk so the shape check itself fires, not the CRC guard
    def withIhdrByte(off: Int, v: Byte): Array[Byte] = {
      val a = good.clone(); a(16 + off) = v
      val crc = new java.util.zip.CRC32
      crc.update(a, 12, 17) // type + 13 data bytes
      val c = crc.getValue.toInt
      a(29) = (c >>> 24).toByte; a(30) = (c >>> 16).toByte
      a(31) = (c >>> 8).toByte; a(32) = c.toByte
      a
    }
    intercept[IllegalArgumentException](Png.decode(withIhdrByte(8, 16)))
    intercept[IllegalArgumentException](Png.decode(withIhdrByte(9, 3)))
    intercept[IllegalArgumentException](Png.decode(withIhdrByte(12, 1)))
    // forged 2^16 x 2^16 dims: raw length wraps a 32-bit check; the
    // Long guard must reject before any allocation
    val forged = withIhdrByte(1, 1)
    val forged2 = { val a = forged.clone(); a(16 + 5) = 1; a(16 + 0) = 0
      a(16 + 4) = 0
      val crc = new java.util.zip.CRC32
      crc.update(a, 12, 17)
      val c = crc.getValue.toInt
      a(29) = (c >>> 24).toByte; a(30) = (c >>> 16).toByte
      a(31) = (c >>> 8).toByte; a(32) = c.toByte
      a }
    intercept[IllegalArgumentException](Png.decode(forged2))
    // declared dims larger than the actual payload: inflate comes up
    // short and the exact-length check fires
    val bigger = withIhdrByte(3, 8) // width 4 -> 8, payload unchanged
    intercept[IllegalArgumentException](Png.decode(bigger))
  }

  test("Wav codec round-trips PCM16 through a real chunk walk and " +
       "rejects corrupt streams") {
    import graft.multimodal.Wav
    val samples = Array.tabulate(40)(i => (i * 1723 - 20000).toShort)
    val wav = Wav.encode(16000, samples)
    assert(wav.length == 44 + 80)
    val (rate, ch, back) = Wav.decode(wav)
    assert(rate == 16000 && ch == 1 && back.sameElements(samples))
    // chunk walking: splice an ancillary LIST chunk with an ODD size
    // between fmt and data — the decoder must skip it with RIFF word
    // alignment, not land mid-chunk
    val oddInfo = Array[Byte]('L', 'I', 'S', 'T', 5, 0, 0, 0,
      'I', 'N', 'F', 'O', 7, /* pad */ 0)
    val spliced = wav.take(36) ++ oddInfo ++ wav.drop(36)
    // fix the RIFF size field for the inserted bytes
    val rs = 36 + 80 + oddInfo.length
    spliced(4) = (rs & 0xff).toByte; spliced(5) = ((rs >> 8) & 0xff).toByte
    spliced(6) = ((rs >> 16) & 0xff).toByte
    spliced(7) = ((rs >> 24) & 0xff).toByte
    val (r2, _, b2) = Wav.decode(spliced)
    assert(r2 == 16000 && b2.sameElements(samples))
    // rejections: bad magic, non-PCM codec tag, a chunk declaring more
    // bytes than the stream holds, data before fmt
    val notWav = wav.clone(); notWav(0) = 'X'
    intercept[IllegalArgumentException](Wav.decode(notWav))
    val nonPcm = wav.clone(); nonPcm(20) = 2
    intercept[IllegalArgumentException](Wav.decode(nonPcm))
    val forged = wav.clone()
    forged(40) = 0xff.toByte; forged(41) = 0xff.toByte
    forged(42) = 0xff.toByte; forged(43) = 0x7f.toByte
    intercept[IllegalArgumentException](Wav.decode(forged))
    intercept[IllegalArgumentException](
      Wav.decode(wav.take(12) ++ wav.drop(36))) // data chunk, no fmt
  }

  test("hand-written codecs are spec-compliant against the JDK's own " +
       "javax.imageio, both directions") {
    import graft.multimodal.Png
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // our PNG encode -> ImageIO decode: a third-party reader must see
    // the same pixels (catches a self-consistent-but-wrong stream that
    // a roundtrip through our own decoder cannot)
    val w = 5; val h = 7
    val px = Array.tabulate(w * h * 3)(i => ((i * 53 + 17) % 256).toByte)
    val img = ImageIO.read(
      new java.io.ByteArrayInputStream(Png.encode(w, h, 2, px)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      val want = ((px(o) & 0xff) << 16) | ((px(o + 1) & 0xff) << 8) |
        (px(o + 2) & 0xff)
      assert((img.getRGB(x, y) & 0xffffff) == want, s"($x,$y)")
    }
    // ImageIO PNG encode -> our decode: our decoder must read a
    // third-party encoder's stream (filter choices, chunk layout)
    val src = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      src.setRGB(x, y, ((px(o) & 0xff) << 16) | ((px(o + 1) & 0xff) << 8) |
        (px(o + 2) & 0xff))
    }
    val buf = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(src, "png", buf))
    val (dw, dh, ct, dpx) = Png.decode(buf.toByteArray)
    assert(dw == w && dh == h && ct == 2)
    assert(dpx.sameElements(px))
    // our BMP encode -> ImageIO decode (gray as B=G=R)
    val gray = Array.tabulate(48)(i => (i * 5 % 256).toByte)
    val bimg = ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.Bmp.encode(6, 8, gray)))
    assert(bimg.getWidth == 6 && bimg.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 6) {
      val g = gray(y * 6 + x) & 0xff
      assert((bimg.getRGB(x, y) & 0xffffff) == ((g << 16) | (g << 8) | g),
        s"($x,$y)")
    }
  }

  test("ImageIoDecoder reads the lossy wild formats (JPEG) with dims " +
       "exact and pixels near") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // a smooth gradient (JPEG's favorable case) keeps the error small;
    // dims and channel layout must be exact, pixels within tolerance
    val w = 16; val h = 16
    val src = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 8 + y * 4) & 0xff
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(src, "jpg", buf))
    val feats = Multimodal.ImageIoDecoder.decode(buf.toByteArray)
    assert(feats(0) == w.toFloat && feats(1) == h.toFloat &&
      feats(2) == 3f)
    assert(feats.length == 3 + w * h * 3)
    var maxErr = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 8 + y * 4) & 0xff).toDouble
      val o = 3 + (y * w + x) * 3
      maxErr = math.max(maxErr, math.abs(feats(o) - v))
    }
    assert(maxErr <= 16.0, s"JPEG error too large: $maxErr")
    // and garbage is rejected, not NPE'd
    intercept[IllegalArgumentException](
      Multimodal.ImageIoDecoder.decode(Array[Byte](1, 2, 3, 4)))
  }

  test("PngDecoder drives batchFeaturize; zero-padded tails intact") {
    import graft.multimodal.Png
    // the mm03 short-text contract: only 10 of 96 RGB bytes carry data,
    // the rest must come back as genuine zero bytes
    val px = new Array[Byte](4 * 8 * 3)
    (0 until 10).foreach(i => px(i) = (100 + i).toByte)
    val ds = Seq((1L, Png.encode(4, 8, 2, px))).toDS()
    val out = Multimodal.batchFeaturize(ds, Multimodal.PngDecoder)
      .collect()
    val feats = out.head._2
    assert(feats(0) == 4.0f && feats(1) == 8.0f && feats(2) == 3.0f)
    assert(feats.drop(3).map(_.toInt).sameElements(px.map(_ & 0xff)))
    assert(feats.drop(13).forall(_ == 0.0f))
  }

  test("BmpDecoder drives batchFeaturize with real decoding, " +
       "zero-padded tails intact") {
    // short content: only 10 of 48 pixels carry data, the rest must
    // come back as genuine zero bytes (the mm02 short-text contract)
    val gray = new Array[Byte](48)
    (0 until 10).foreach(i => gray(i) = (100 + i).toByte)
    val ds = Seq((1L, Multimodal.Bmp.encode(6, 8, gray))).toDS()
    val out = Multimodal.batchFeaturize(ds, Multimodal.BmpDecoder)
      .collect()
    val feats = out.head._2
    assert(feats(0) == 6.0f && feats(1) == 8.0f)
    assert(feats.drop(2).map(_.toInt).sameElements(gray.map(_ & 0xff)))
    assert(feats.drop(12).forall(_ == 0.0f))
  }

  test("multimodal fake features + frame sampling are deterministic") {
    val df = Seq((1L, "abcdefgh" * 8)).toDF("doc_id", "text")
    val bin = Multimodal.toBinary($"text")
    val (nb, dig, h8) = Multimodal.fakeFeatures(bin)
    val row = df.select(nb, dig, h8,
      Multimodal.frameSample(bin, 2, 4).as("frames")).collect()(0)
    assert(row.getInt(0) == 64)
    assert(row.getString(2) == "6162636465666768") // 'abcdefgh' hex
    assert(row.getSeq[String](3) ==
      Seq("61626364", "65666768"))
  }

  test("batchFeaturize runs the decoder once per row, partition-preserving") {
    import spark.implicits._
    val ds = Seq((1L, "ab".getBytes("UTF-8")),
                 (2L, Array.empty[Byte])).toDS()
    val out = Multimodal.batchFeaturize(ds, Multimodal.FakeDecoder)
      .collect().toMap
    assert(out(1L).toSeq == Seq(2.0f, (97 + 98) / 2.0f,
      (97 * 97 + 98 * 98) / 2.0f))
    assert(out(2L).toSeq == Seq(0.0f, 0.0f, 0.0f))
  }
}

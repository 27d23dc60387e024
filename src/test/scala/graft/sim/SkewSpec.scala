package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.SkewJoin

/** Round-8 hot-bucket containment: the salted bucket join and the
  * group-collapse of set-identical docs / identical vectors must be
  * row-for-row equivalent to the plain forms they guard. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("SkewJoin.guardedPairs: forcing buckets hot leaves the pair set " +
       "unchanged (self-join, cross join, and mixed hot/cold)") {
    val rnd = new scala.util.Random(11)
    // key 0 is heavily loaded so a mid cap splits hot and cold branches
    val left = ((0L until 60L).map(i => (i, 0)) ++
      (100L until 240L).map(i => (i, 1 + rnd.nextInt(7)))).toDF("id", "k")
    val right = ((1000L until 1040L).map(i => (i, 0)) ++
      (1100L until 1200L).map(i => (i, 1 + rnd.nextInt(7))))
      .toDF("id", "k")
    def selfPairs(cap: Int, salts: Int) =
      SkewJoin.guardedPairs(left, left, Seq("k"), selfJoin = true,
          cap, salts) { j =>
        j.select($"a.id".as("x"), $"b.id".as("y"))
      }.as[(Long, Long)].collect().sorted.toSeq
    def crossPairs(cap: Int, salts: Int) =
      SkewJoin.guardedPairs(left, right, Seq("k"), selfJoin = false,
          cap, salts) { j =>
        j.select($"a.id".as("x"), $"b.id".as("y"))
      }.as[(Long, Long)].collect().sorted.toSeq
    // cap high enough that nothing is hot = the plain join baseline
    val selfBase = selfPairs(10000, 4)
    val crossBase = crossPairs(10000, 4)
    assert(selfBase.nonEmpty && crossBase.nonEmpty)
    assert(selfBase == selfBase.distinct, "self pairs must be unique")
    for ((cap, salts) <- Seq((1, 2), (1, 7), (30, 4))) {
      assert(selfPairs(cap, salts) == selfBase, s"self cap=$cap")
      assert(crossPairs(cap, salts) == crossBase, s"cross cap=$cap")
    }
  }

  test("collidedSurvivors with every bucket forced hot equals the cold " +
       "plain band join on a real corpus slice") {
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents").limit(400)
    val t = 0.8
    val geom = MinHashLSH.geometryFor(t)
    val bands = MinHashLSH.bandFrameWithSig(graft.core.Fence(
      MinHashLSH.signatureFrame(docs, "doc_id", "text", 3, geom)), geom)
    def run(cap: Int) = MinHashLSH
      .collidedSurvivors(bands, bands, t, geom, selfJoin = true,
        hotCap = cap, hotSalts = 5)
      .as[(Long, Long)].collect().sorted.toSeq
    val cold = run(1000000)
    assert(cold.nonEmpty, "degenerate fixture: no collisions")
    assert(run(1) == cold)
  }

  test("nearDupPairs on a planted boilerplate group: the set-identical " +
       "docs collapse to one banded representative yet every member " +
       "pair is emitted with jacc 1.0, and satellites pair with ALL " +
       "members at the group-invariant score") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank at dawn while birds are singing in the trees"
    val group = (0L until 60L).map(i => (i, base))
    val satellite = Seq((200L, base + " y"))
    val distractors = (300L until 320L).map(i =>
      (i, s"totally unrelated document number $i about catalyst rule " +
        s"execution order and shuffle partition coalescing internals"))
    val docs = (group ++ satellite ++ distractors).toDF("doc_id", "text")
    val out = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.size == out.distinct.size, "duplicate pairs emitted")
    val within = out.filter { case (a, b, _) => a < 60 && b < 60 }
    assert(within.size == 60 * 59 / 2,
      s"expected all C(60,2) within-group pairs, got ${within.size}")
    assert(within.forall(_._3 == 1.0))
    assert(within.forall { case (a, b, _) => a < b })
    val sat = out.filter { case (a, b, _) => a == 200 || b == 200 }
    // the satellite's jacc against every member is the same number (its
    // similarity to the shared set) — and if banding surfaced one
    // member pair it must have surfaced all 60, via the representative
    assert(sat.size == 60, s"satellite paired with ${sat.size} members")
    assert(sat.map(_._3).distinct.size == 1)
    assert(sat.forall { case (a, b, _) => a < b })
    // distractors legitimately near-dup each other (template texts);
    // what must not happen is a distractor pairing into the group
    val crossFamily = out.exists { case (a, b, _) =>
      b >= 300 && a < 300 }
    assert(!crossFamily)
  }

  test("JaccardJoin on a planted boilerplate group: prefix join runs " +
       "on representatives, member pairs recovered exactly") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val group = (0L until 40L).map(i => (i, base))
    val near = Seq((100L, base + " phi"))
    val other = (200L until 210L).map(i =>
      (i, s"cat$i dog$i bird$i fish$i lion$i wolf$i bear$i deer$i " +
        s"hawk$i crow$i"))
    val docs = (group ++ near ++ other).toDF("doc_id", "text")
    val out = JaccardJoin.selfJoinWords(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.size == out.distinct.size)
    val within = out.filter { case (a, b, _) => a < 40 && b < 40 }
    assert(within.size == 40 * 39 / 2)
    assert(within.forall(_._3 == 1.0))
    // the near doc's 18/19-shingle overlap (J ≈ 0.947) pairs with ALL
    // members at the identical group-invariant score — exact operator,
    // so unlike LSH this is guaranteed, not banding-dependent
    val sat = out.filter { case (a, b, _) => a == 100 || b == 100 }
    assert(sat.size == 40)
    assert(sat.map(_._3).distinct.size == 1)
    assert(!out.exists { case (a, b, _) => b >= 200 && a < 200 })
  }

  test("JaccardJoin enforces its one-decimal threshold contract") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      JaccardJoin.selfJoinWords(docs, "doc_id", "text", 2, 0.75)
    }
    assert(e.getMessage.contains("one decimal"))
  }

  test("lshBucketNeighbors guarded ≡ plain: forcing every bucket hot " +
       "leaves the per-vector top-1 unchanged, and planted duplicate " +
       "vectors all neighbor within the group") {
    import graft.ann.Ann
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(Ann.Dim)((rnd.nextInt(2048) - 1024) / 1024f)
    val dup = vec()
    // 30 identical vectors land in one bucket (every projection sign
    // agrees) — the hot-bucket shape ann02 was missing a guard for
    val vecs = ((0L until 30L).map(i => (i, dup)) ++
      (100L until 140L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    def run(cap: Int, salts: Int) =
      Ann.lshBucketNeighbors(vecs, "vec_id", "embedding",
          hotCap = cap, hotSalts = salts)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val plain = run(1000000, 2) // nothing hot: the unguarded baseline
    assert(plain.nonEmpty)
    for ((cap, salts) <- Seq((1, 2), (1, 7), (8, 3)))
      assert(run(cap, salts) == plain, s"cap=$cap salts=$salts")
    // every planted duplicate neighbors a fellow duplicate at cos ≈ 1
    // (not exactly 1.0: nrm·nrm reassociates dot(v,v) by one rounding)
    val dups = plain.filter(_._1 < 30)
    assert(dups.size == 30)
    assert(dups.forall { case (_, _, n, c) => n < 30 && c > 0.999999 })
  }

  test("autoPlanes scales bucket cardinality with the corpus and never " +
       "shrinks below the gate geometry") {
    import graft.ann.Ann
    assert(Ann.autoPlanes(100L, 1024) == Ann.Planes)
    assert(Ann.autoPlanes(1L << 20, 1024) == math.max(Ann.Planes, 10))
    assert(Ann.autoPlanes(1L << 40, 1024) == 30)
    assert(Ann.autoPlanes(Long.MaxValue, 1) == 62)
    // prefix stability: a wider matrix starts with the default one
    val wide = Ann.projectionMatrix(40)
    assert(wide.take(Ann.projections.length) == Ann.projections)
    // the Auto entry point wires through: below the scaling knee it is
    // exactly the fixed-geometry operator
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 50L)
      .map(i => (i, Seq.fill(Ann.Dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val auto = Ann.lshBucketNeighborsAuto(vecs, "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val fixed = Ann.lshBucketNeighbors(vecs, "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(auto == fixed && auto.nonEmpty)
  }

  test("embeddingNearDupLsh on planted duplicate vectors equals the " +
       "exact quadratic baseline, pair for pair and bit for bit") {
    import graft.ann.Ann
    val v1 = Seq.tabulate(Ann.Dim)(i => ((i % 7) + 1).toFloat / 7f)
    val v2 = Seq.tabulate(Ann.Dim)(i => -((i % 5) + 1).toFloat / 5f)
    // 40 > GroupCollapse.CollapseCap so the collapse machinery (not
    // the plain passthrough) is what must match the exact baseline
    val vecs = ((0L until 40L).map(i => (i, v1)) ++
      (100L until 105L).map(i => (i, v2))).toDF("vec_id", "embedding")
    val minCos = 0.9
    val lsh = Ann.embeddingNearDupLsh(vecs, "vec_id", "embedding", minCos)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Ann
      .embeddingNearDupExact(vecs, "vec_id", "embedding", minCos)
      .as[(Long, Long, Double)].collect().toSet
    // identical vectors collide in every band, so LSH loses nothing
    // here and the recovered within-group cosines must carry the exact
    // kernel's arithmetic (same left-to-right fold) bit for bit
    assert(lsh == exact)
    assert(lsh.count { case (a, b, _) => a < 40 && b < 40 } == 40 * 39 / 2)
    assert(lsh.count { case (a, b, _) => a >= 100 && b >= 100 } == 5 * 4 / 2)
    assert(lsh.forall(_._3 > 0.999999))
  }

  test("embeddingNearDupLsh: a duplicate group whose self-cosine fails " +
       "minCos emits no within-group pair and matches the exact baseline") {
    import graft.ann.Ann
    val rnd = new scala.util.Random(5)
    def randVec() = Seq.fill(Ann.Dim)(rnd.nextFloat() - 0.5f)
    val base = randVec()
    // 40 all-zero vectors > GroupCollapse.CollapseCap: the collapse is
    // active, and the group's self-cosine dot(v,v)/(nrm·nrm) is 0/0 =
    // NaN, which never reaches minCos — a literal 1.0 would emit all
    // 40·39/2 member pairs
    val vecs = ((0L until 40L).map(i => (i, Seq.fill(Ann.Dim)(0f))) ++
      Seq((100L, base), (101L, base.map(_ * 2f)), (102L, randVec())))
      .toDF("vec_id", "embedding")
    val minCos = 0.9
    val lsh = Ann.embeddingNearDupLsh(vecs, "vec_id", "embedding", minCos)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Ann
      .embeddingNearDupExact(vecs, "vec_id", "embedding", minCos)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.forall { case (a, b, _) => a >= 100 && b >= 100 }, lsh)
    assert(lsh.nonEmpty && lsh == exact)
  }
}

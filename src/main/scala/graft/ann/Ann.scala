package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.GroupCollapse

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine is computed in double with a strict left-to-right fold —
  * verified to match DuckDB's sequential list accumulation bit-for-bit,
  * so scores gate exactly. Brute-force top-k is the correctness baseline;
  * [[lshBucketNeighbors]] is the scale path: sign-of-random-projection
  * bucketing (projection matrix from a fixed public LCG, shared with the
  * oracle), candidates confined to a bucket.
  */
object Ann {

  /** Element-wise double cast. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-to-right dot product of two double-array columns. Generic in
    * length, but an interpreted higher-order aggregate (CodegenFallback,
    * ~30 µs per 64-dim evaluation) — fine per row, ruinous per pair. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** [[dot]] statically unrolled for fixed-dimension vectors:
    * `0.0 + a₁b₁ + … + a_dim·b_dim` is the *identical left fold* (and so
    * bit-identical under IEEE evaluation) but compiles into whole-stage
    * codegen — three orders of magnitude faster in pair-quadratic
    * positions. Requires every vector to carry exactly `dim` elements. */
  def dotUnrolled(a: Column, b: Column, dim: Int = Dim): Column =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i))
      .foldLeft(lit(0.0))(_ + _)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB twins (list_zip + sequential list_aggregate sum). */
  def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), s -> s[1] * s[2]), 'sum')"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Brute-force cosine top-k: for each query row (small side, broadcast)
    * the k nearest data rows. Output: (q_id, rank, vec_id, cos). */
  def bruteForceTopK(data: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val d = data.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      toDouble(col(vecCol)).as("qv")))
    topKPerQuery(d.join(q, col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosine(col("qv"), col("v"))), "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Each query's top `k` rows of `scored` — the one per-query rank
    * window every top-k path ends in: `score` descending, ties to the
    * smaller `id`, numbered 1..k in a `rank` column (replacing any
    * column of that name). */
  private[ann] def topKPerQuery(scored: DataFrame, score: String,
                                id: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window
        .partitionBy(col("q_id")).orderBy(col(score).desc, col(id).asc)))
      .filter(col("rank") <= k)

  /** Σ vᵢ² by the 0.0-seeded left fold [[dotUnrolled]] and the oracle's
    * `list_aggregate` run — the driver-side self-dot (and, under a
    * sqrt, the norm) of centroid and codebook constants. */
  private[ann] def selfDot(v: collection.Seq[Double]): Double = {
    var t = 0.0; var i = 0
    while (i < v.length) { t += v(i) * v(i); i += 1 }
    t
  }

  /** Maximal-marginal-relevance diversified top-k: re-rank each
    * query's exact-cosine candidate pool so the k results are relevant
    * AND unlike each other — the standard serving answer to "my top-10
    * are ten near-copies of the same document". Greedy MMR: step 1
    * takes the most relevant candidate; step i takes
    * argmax λ·cos(q,c) − (1−λ)·max_{s∈selected} cos(c,s). λ carries
    * the repo's one-decimal contract (`lambdaNum`/10, integer-scaled
    * so both engines evaluate the identical multiply/subtract chain);
    * ties break by vec_id.
    *
    * Scale shape: the greedy recurrence is sequential in k BY
    * DEFINITION, so the loop is bounded at k plan stages — but each
    * stage is fully distributed ACROSS queries: one anti-join trims
    * the pool, one equi-join against the (≤ k-row-per-query, fenced)
    * selected set computes max-similarity, one per-query rank window
    * picks the winner. Candidate vectors are fetched ONCE by id into
    * the pool (the two-stage serving fetch); nothing grows with the
    * corpus after the pool cut. Output: (q_id, step, vec_id, cos,
    * mmr), step 1..k, mmr = cos at step 1. */
  def mmrTopK(data: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, poolSize: Int,
              lambdaNum: Int = 7): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need 1 <= k <= poolSize, got k=$k poolSize=$poolSize")
    require(lambdaNum >= 0 && lambdaNum <= 10,
      s"lambdaNum is tenths in [0, 10], got $lambdaNum")
    val d = data.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("__v"))
    val pool = graft.core.Fence(
      bruteForceTopK(data, queries, idCol, vecCol, poolSize)
        .join(d, "vec_id")
        .select(col("q_id"), col("vec_id"), col("rank"), col("cos"),
          col("__v")))
    var sel = pool.filter(col("rank") === 1)
      .select(col("q_id"), col("vec_id"), lit(1).as("step"),
        col("cos"), col("cos").as("mmr"), col("__v"))
    for (i <- 2 to k) {
      val remaining = pool
        .join(sel.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
      val maxSim = remaining.as("c")
        .join(sel.as("s"), col("c.q_id") === col("s.q_id"))
        .select(col("c.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
          cosine(col("c.__v"), col("s.__v")).as("__sim"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(max(col("__sim")).as("__m"))
      val scored = remaining.join(maxSim, Seq("q_id", "vec_id"))
        .withColumn("__mmr",
          (lit(lambdaNum) * col("cos") -
            lit(10 - lambdaNum) * col("__m")) / lit(10.0))
      val pick = topKPerQuery(scored, "__mmr", "vec_id", 1)
        .select(col("q_id"), col("vec_id"), lit(i).as("step"),
          col("cos"), col("__mmr").as("mmr"), col("__v"))
      sel = graft.core.Fence(sel.unionByName(pick))
    }
    sel.select(col("q_id"), col("step"), col("vec_id"), col("cos"),
      col("mmr"))
  }

  /** Number of random hyperplanes = bucket bits. */
  val Planes = 8
  val Dim = 64

  /** Near-dup banding geometry: 8 bands × 4 planes over the same
    * projection stream. Fewer planes per band than the ANN bucket (4 vs
    * 8) because the near-dup threshold sits low on the cosine scale
    * (t≈0.45 → per-plane collision ≈ 0.65, so 0.65⁴ per band × 8 bands
    * ≈ 0.79 expected recall; 8-plane bands would collapse it to ~0.1). */
  val NearDupBands = 8
  val NearDupPlanes = 4

  /** Hot-bucket containment knobs for the near-dup band join
    * ([[graft.core.SkewJoin]]). 4 planes per band give only 16 bucket
    * values, so bucket population grows linearly with the corpus —
    * the cap is set where one cold task's pair scoring stays around a
    * second (4096² ≈ 16M 64-dim dots), higher than MinHash's
    * fine-grained band keys warrant. The gated corpora sit under it,
    * so gate plans take the cold branch. */
  val NearDupHotCap = 4096
  val NearDupHotSalts = 16

  /** First `rows` rows of the fixed projection stream — a public LCG
    * (x' = (1103515245x + 12345) mod 2^31), quantized to multiples of
    * 1/1024 in [-0.5, 0.5) so every value has an exact finite decimal
    * form — the SQL literal the oracle parses round-trips to the
    * identical double. The stream is prefix-stable: asking for more rows
    * never changes the earlier ones, so scaled-up plane counts extend
    * the geometry without moving any existing bucket. */
  def projectionMatrix(rows: Int,
                       dim: Int = Dim): IndexedSeq[IndexedSeq[Double]] = {
    var x = 42L
    def next(): Double = {
      x = (1103515245L * x + 12345L) % 2147483648L
      ((x >> 4) % 1024).toDouble / 1024.0 - 0.5
    }
    IndexedSeq.fill(rows)(IndexedSeq.fill(dim)(next()))
  }

  /** The default matrix: the first [[Planes]] rows are the ANN bucket
    * planes; the full NearDupBands×NearDupPlanes prefix feeds the
    * near-dup bands (same stream — see [[projectionMatrix]]). */
  val projections: IndexedSeq[IndexedSeq[Double]] =
    projectionMatrix(math.max(Planes, NearDupBands * NearDupPlanes))

  /** LSH bucket id: sign bits of the first `planes` projections. The
    * gate geometry is the fixed [[Planes]] = 8 (256 buckets — fine at
    * gate scale, shared with the oracle SQL); a corpus-sized run wants
    * [[autoPlanes]] so bucket cardinality grows with the data instead
    * of staying a 256-value constant. ≤62 keeps the id in a BIGINT. */
  def bucket(v: Column, planes: Int = Planes,
             dim: Int = Dim): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62]: $planes")
    signBits(v, planeRows(planes, dim))
  }

  /** The first `n` projection rows: the shared default matrix when it
    * covers them, else a fresh prefix of the same stream. */
  private def planeRows(n: Int, dim: Int = Dim): IndexedSeq[IndexedSeq[Double]] =
    (if (dim == Dim && n <= projections.length) projections
     else projectionMatrix(n, dim)).take(n)

  /** The one sign-bit bucketing kernel: Σ 2^j over the planes whose
    * [[dot]] with `v` is positive. */
  private def signBits(v: Column, planes: Seq[IndexedSeq[Double]]): Column =
    planes.indices.map { j =>
      when(dot(v, typedLit(planes(j))) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[signBits]]' DuckDB twin; `guard` (a plane-count expression) makes
    * bit j contribute only while `j < guard`. */
  private def signBitsSql(v: String, planes: Seq[IndexedSeq[Double]],
                          guard: Option[String] = None): String =
    planes.indices.map { j =>
      val lits = planes(j).map(d => s"$d").mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN ${guard.fold("")(p => s"$j < ($p) AND ")}" +
        s"${dotSql(v, lits)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Plane count that targets `targetBucketRows` expected rows per
    * bucket at a given corpus size (each plane halves the expected
    * population): ceil(log2(n / target)), floored at the gate's
    * [[Planes]]. With this, the within-bucket pair work per bucket is
    * ~target² regardless of corpus scale — the knob that keeps
    * [[lshBucketNeighbors]]'s self-join linear-ish instead of
    * quadratic as n grows past Planes=8's 256-bucket ceiling. */
  def autoPlanes(corpusRows: Long, targetBucketRows: Int = 1024,
                 minPlanes: Int = Planes): Int = {
    require(targetBucketRows >= 1)
    require(minPlanes >= 1 && minPlanes <= 62,
      s"minPlanes must be in [1,62]: $minPlanes")
    val needed = math.ceil(math.log(math.max(1.0,
      corpusRows.toDouble / targetBucketRows)) / math.log(2.0)).toInt
    math.min(62, math.max(minPlanes, needed))
  }

  def bucketSql(v: String): String = signBitsSql(v, planeRows(Planes))

  /** SQL twin of [[autoPlanes]] over a corpus-count expression — the
    * identical floor/cap/ceil-log2 formula, so an oracle can fit the
    * same geometry to the same corpus at query time. (The two engines'
    * log2 could only disagree where n/target lands exactly on a power
    * of two; no gate corpus does, and a production caller uses the
    * Scala form on both sides anyway.) */
  def autoPlanesSql(nExpr: String, targetBucketRows: Int,
                    minPlanes: Int = Planes): String =
    s"GREATEST($minPlanes, LEAST(62, CAST(CEIL(LOG2(GREATEST(1.0, " +
      s"($nExpr) / $targetBucketRows.0))) AS INT)))"

  /** [[bucketSql]] with the plane count chosen at QUERY time: `pExpr`
    * names a column/expression holding the fitted plane count (from
    * [[autoPlanesSql]]), and bit j contributes only while `j < p`. The
    * SQL carries `maxPlanes` plane literals — the projection stream is
    * prefix-stable, so the emitted geometry equals the Scala side's for
    * any fitted count up to `maxPlanes`. */
  def bucketSqlDynamic(v: String, maxPlanes: Int, pExpr: String): String = {
    require(maxPlanes >= 1 && maxPlanes <= 62)
    signBitsSql(v, planeRows(maxPlanes), Some(pExpr))
  }

  /** Band `b`'s planes: NearDupPlanes consecutive projection rows. */
  private def bandPlanes(band: Int): IndexedSeq[IndexedSeq[Double]] =
    projections.slice(band * NearDupPlanes, (band + 1) * NearDupPlanes)

  /** Band-`b` near-dup bucket: sign bits of NearDupPlanes projections.
    * Deliberately the compact higher-order [[dot]]: unrolling all 32
    * plane dots in one projection (2048 terms) overflows Janino's 64 KB
    * method limit and knocks the whole stage out of codegen — measured
    * slower than the interpreted-by-design HOF, which runs once per row
    * (not per pair) and is O(rows · planes · dim), never the hot path. */
  def nearDupBandBucket(v: Column, band: Int): Column =
    signBits(v, bandPlanes(band))

  def nearDupBandBucketSql(v: String, band: Int): String =
    signBitsSql(v, bandPlanes(band))

  /** Fail-fast dimension guard: [[dotUnrolled]] silently truncates longer
    * vectors and null-poisons shorter ones, so any frame feeding it gets
    * this check — a wrong-width embedding raises at evaluation instead of
    * corrupting scores. */
  private[ann] def checkedVec(v: Column, dim: Int = Dim): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"Ann: expected $dim-dim embedding, got "),
      size(v).cast("string"), lit(" elements"))))

  /** (id, `name`) with the vector width-checked and cast to double. */
  private[ann] def checkedFrame(data: DataFrame, idCol: String,
      vecCol: String, dim: Int, name: String = "v"): DataFrame =
    data.select(col(idCol).as("id"),
      checkedVec(toDouble(col(vecCol)), dim).as(name))

  /** √(v·v) by the [[dotUnrolled]] fold. */
  private[ann] def norm(v: String, dim: Int): Column =
    sqrt(dotUnrolled(col(v), col(v), dim))

  /** Vectors + per-row norms, fenced so downstream references reuse the
    * computed columns. */
  private[ann] def withNorms(data: DataFrame, idCol: String,
                             vecCol: String,
                             dim: Int = Dim): DataFrame =
    graft.core.Fence(graft.core.Par.ensure(
        checkedFrame(data, idCol, vecCol, dim))
      .withColumn("nrm", norm("v", dim)))

  /** Exact-cosine scoring kernel over any frame shaped
    * (id_a LONG, id_b LONG, va, na, vb, nb) — the band-join pairs of
    * [[embeddingNearDupLsh]] and [[semanticDecontaminate]].
    *
    * Why not SQL expressions: a 64-term dot in a join condition runs
    * interpreted (~60 µs/pair); in a projection it still falls out of
    * whole-stage codegen (Janino 64 KB limit) — measured 50-100× slower
    * than this kernel. */
  private def scoreJoined(joined: DataFrame,
                          minCos: Double): DataFrame = {
    val spark = joined.sparkSession
    // Iterate the join's raw InternalRows (same pattern as the MinHash
    // verify kernel): UnsafeRow array fields are zero-copy views and
    // each doc's vector is materialized once per partition (memoized
    // by id) — the earlier typed-Dataset form deserialized both
    // vectors per pair through boxed Seq[Double], whose garbage
    // GC-coupled dd06 to full-run JVM pressure. The accumulation is
    // the identical left-to-right 0.0-seeded fold as [[dot]] and the
    // oracle's list_aggregate, so scores stay bit-exact.
    val scored = joined.queryExecution.toRdd.mapPartitions { it =>
      // one cache PER SIDE: a bipartite caller (semanticDecontaminate)
      // joins two different tables whose id spaces may collide — a
      // shared map would then hand side B a vector cached from side A.
      // For the self-join callers the only cost is a vector materialized
      // at most twice per partition instead of once.
      val cacheA = new java.util.HashMap[Long, Array[Double]]()
      val cacheB = new java.util.HashMap[Long, Array[Double]]()
      it.flatMap { row =>
        // spelled-out null tests: a Range+closure here would allocate
        // per pair, in the kernel that exists to not allocate per pair
        if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2) ||
            row.isNullAt(3) || row.isNullAt(4) || row.isNullAt(5))
          Iterator.empty
        else {
          val idA = row.getLong(0); val idB = row.getLong(1)
          def vecOf(cache: java.util.HashMap[Long, Array[Double]],
                    id: Long, ord: Int): Array[Double] = {
            var v = cache.get(id)
            if (v == null) {
              v = row.getArray(ord).toDoubleArray()
              cache.put(id, v)
            }
            v
          }
          val va = vecOf(cacheA, idA, 2); val na = row.getDouble(3)
          val vb = vecOf(cacheB, idB, 4); val nb = row.getDouble(5)
          val cos = cosOf(va, na, vb, nb)
          if (cos >= minCos)
            Iterator.single(org.apache.spark.sql.Row(idA, idB, cos))
          else Iterator.empty
        }
      }
    }
    import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
    spark.createDataFrame(scored, new StructType().add("id_a", LongType,
      false).add("id_b", LongType, false).add("cos", DoubleType, false))
  }

  /** The kernels' pair cosine: the 0.0-seeded left-to-right dot of `a`
    * and `b` (the [[dot]] fold) over the norm product. */
  private def cosOf(a: Array[Double], na: Double, b: Array[Double],
                    nb: Double): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s / (na * nb)
  }

  /** Exact brute-force near-dup: the full (id, vector, norm) table is
    * broadcast and every partition scores its rows against all greater
    * ids in a JIT'd loop — the standard Spark brute-force shape. The
    * broadcast bound is not a cheat: the exact form is O(n²) by
    * definition, so any corpus too big to broadcast is a corpus the
    * exact form can't process anyway — that's what [[embeddingNearDupLsh]]
    * is for. The accumulation is the identical left-to-right 0.0-seeded
    * fold as [[dot]]/the oracle's `list_aggregate`, so scores stay
    * bit-exact. SQL-expression scoring was 50× slower here: per-pair
    * array expressions this wide fall out of whole-stage codegen
    * (165 s → 43 s via join-shape fixes → ~2 s with the kernel, sf0.1). */
  def embeddingNearDupExact(data: DataFrame, idCol: String, vecCol: String,
                            minCos: Double): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val ds = data.select(col(idCol).cast("long").as("id"),
      toDouble(col(vecCol)).as("v")).as[(Long, Seq[Double])]
    val ref = ds.collect().sortBy(_._1)
      .map { case (id, v) => (id, v.toArray, math.sqrt(selfDot(v))) }
    val bc = spark.sparkContext.broadcast(ref)
    ds.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (idA, vSeq) =>
        val va = vSeq.toArray
        val na = math.sqrt(selfDot(va))
        all.iterator.filter(_._1 > idA).flatMap { case (idB, vb, nb) =>
          val cos = cosOf(va, na, vb, nb)
          if (cos >= minCos) Some((idA, idB, cos)) else None
        }
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Embedding-cosine near-dup, scale path: candidates restricted to
    * pairs sharing any of the NearDupBands band buckets (a plain
    * (band, bucket) equi-join — sort-merge-able at any scale), scored
    * in the join's own stage, then deduped. Deterministic and
    * oracle-replicable; approximate in recall by construction (the
    * banding geometry above).
    *
    * The band frame carries each vector and its norm (the
    * MinHashLSH.collidedSurvivors shape): the verify cosine runs on
    * the collision rows directly, and the only post-join shuffle is
    * the distinct over (id_a, id_b, cos) — 24 bytes a row. The
    * alternative (distinct the id pairs, then two id-equi-joins to
    * fetch vectors) re-shuffles every candidate with a vector
    * attached once the vector table outgrows broadcast. A pair
    * colliding in several bands is scored once per collision — the
    * dot is 64 fused multiply-adds on a memoized array, and repeat
    * collisions concentrate on near-identical vectors, which are
    * exactly the pairs that must be verified anyway; the duplicate
    * (id_a, id_b, cos) rows are bit-identical and collapse in the
    * distinct. */
  def embeddingNearDupLsh(data: DataFrame, idCol: String, vecCol: String,
                          minCos: Double): DataFrame = {
    val d = withNorms(data, idCol, vecCol)
    // GROUP-COLLAPSE (skew containment, exact — [[GroupCollapse]] keyed
    // on the vector): identical vectors share every band bucket and
    // every pairwise cosine, so a group of g duplicates would make the
    // band self-join enumerate O(g²) pairs inside one task. Only each
    // group's smallest-id representative is banded; a cross-group pair
    // inherits its representatives' cosine verbatim (the kernel reads the
    // identical arrays), and a within-group pair's cosine is
    // dot(v,v)/(nrm·nrm) — computed once per distinct vector with
    // [[dotUnrolled]], the same left-to-right fold the kernel runs, and
    // held to the kernel's `cos >= minCos` test: the kernel's 0/0 = NaN
    // for a zero vector fails it, so a zero-norm group (null here — an
    // ANSI division by zero would raise) or a NaN one emits no pair.
    // Null vectors stay ungrouped.
    val v = col("v")
    val c = GroupCollapse.collapse(d, GroupCollapse.Key(v.isNotNull,
      xxhash64(v), struct(xxhash64(v).as("h1"), xxhash64(v, lit(1)).as("h2"))))
    GroupCollapse.expand(bandPairs(c.reps, None, minCos)
        .distinct(), c, "cos", ("id_a", "id_b"), NearDupHotCap,
        NearDupHotSalts, Some(multi => multi
          .join(d.select(col("id").cast("long").as("rep_id"), v, col("nrm")),
            Seq("rep_id"))
          .select(col("gk"), when(col("nrm") * col("nrm") =!= 0.0,
            dotUnrolled(v, v) / (col("nrm") * col("nrm"))).as("cos"))
          .filter(col("cos") >= minCos && !isnan(col("cos")))))
  }

  /** (id, v, nrm, band, bucket): one row per near-dup band, fenced. */
  private def bandFrame(d: DataFrame): DataFrame =
    graft.core.Fence(d.select(col("id"), col("v"), col("nrm"),
        explode(array((0 until NearDupBands).map(b =>
          struct(lit(b).as("band"),
            nearDupBandBucket(col("v"), b).as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("v"), col("nrm"),
              col("bb.band").as("band"), col("bb.bucket").as("bucket")))

  /** Verified (id_a, id_b, cos) pairs sharing a (band, bucket): the
    * band self-join of `a` when `b` is None (id_a < id_b), else the
    * bipartite `a` × `b` join with both ids cast to long. Hot buckets
    * (16 values per band — population is linear in the corpus) run
    * salted so no single task owns a whole bucket's pairs. */
  private def bandPairs(a: DataFrame, b: Option[DataFrame],
                        minCos: Double): DataFrame = {
    val ba = bandFrame(a)
    def id(side: String) =
      if (b.isEmpty) col(s"$side.id") else col(s"$side.id").cast("long")
    scoreJoined(graft.core.SkewJoin.guardedPairs(ba, b.fold(ba)(bandFrame),
        Seq("band", "bucket"), selfJoin = b.isEmpty,
        NearDupHotCap, NearDupHotSalts) { j =>
      j.select(id("a").as("id_a"), id("b").as("id_b"),
              col("a.v").as("va"), col("a.nrm").as("na"),
              col("b.v").as("vb"), col("b.nrm").as("nb"))
    }, minCos)
  }

  /** Embedding-space decontamination — the SEMANTIC twin of
    * [[graft.text.Decontaminate]]: remove every corpus row whose
    * embedding has cosine >= `minCos` against ANY eval-set embedding
    * (paraphrased benchmark leakage that n-gram overlap cannot see).
    *
    * Scale shape, the bipartite version of [[embeddingNearDupLsh]]:
    * both sides band once with the SHARED near-dup projections
    * (NearDupBands × NearDupPlanes sign bits — per-row expressions, no
    * shuffle), candidates are the (band, bucket) equi-join through
    * [[graft.core.SkewJoin.guardedPairs]] (hot buckets salt across
    * tasks; for the bipartite case a bucket is hot when the PRODUCT of
    * its sides exceeds the pair budget), survivors verify exact cosine
    * in the shared zero-copy kernel, and removal is one distinct +
    * anti-join. Never a cross join, no driver state; the typical
    * eval side is tiny, so AQE broadcasts its banded rows.
    *
    * Both id columns must be Long-castable; the two id SPACES may
    * overlap (the verify kernel caches each side separately). */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
                            vecCol: String, evalSet: DataFrame,
                            evalIdCol: String, evalVecCol: String,
                            minCos: Double): DataFrame = {
    val contaminated = bandPairs(withNorms(corpus, idCol, vecCol),
      Some(withNorms(evalSet, evalIdCol, evalVecCol)), minCos)
      .select(col("id_a")).distinct()
    corpus.join(contaminated,
      corpus(idCol).cast("long") === contaminated("id_a"), "left_anti")
  }

  /** IVF-Flat ANN — the inverted-file scale path beside the LSH one:
    * `numCells` deterministic coarse centroids (the smallest-id vectors,
    * a deterministic data sample standing in for trained k-means means —
    * training iterations would not be oracle-replicable), every vector
    * assigned to its nearest centroid by cosine, and each query probing
    * only its `nprobe` nearest cells' members.
    *
    * Scale shape: centroids are a numCells-row driver-side constant (the
    * same bound as any broadcast build side); assignment is one linear
    * scan with no shuffle; the probe is a plain (cell) equi-join, so
    * per-query work is ~nprobe/numCells of the corpus — the IVF
    * contract. Assignment/probe dots use the interpreted HOF [[dot]]
    * deliberately: numCells×Dim unrolled terms in one projection
    * overflows Janino's 64 KB limit (see [[nearDupBandBucket]]), and
    * they run once per ROW, never per pair. Pair scoring inside the
    * probed cells is the codegen [[dotUnrolled]] + precomputed norms.
    * Ties: cell assignment/probing to the larger cell id, neighbor
    * ranking to the smaller vec_id (mirrored in the oracle).
    * Output: (q_id, rank, vec_id, cos) as [[bruteForceTopK]]. */
  def ivfTopK(data: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int = 16,
              nprobe: Int = 2, trainIters: Int = 0,
              dim: Int = Dim): DataFrame = {
    require(numCells >= 1 && nprobe >= 1 && k >= 1 && trainIters >= 0)
    val d = withNorms(data, idCol, vecCol, dim)
    val cents = kmeansCentroids(d, numCells, trainIters)
    val assigned = graft.core.Fence(d.withColumn("cell", cosineCell(cents)))
    ivfProbe(assigned, cents, queries, idCol, vecCol, k, nprobe, dim)
  }

  /** The probe half of [[ivfTopK]] over an ALREADY-ASSIGNED frame
    * (id, v, nrm, cell) and centroid constants — shared with the
    * persisted-index path ([[AnnIndex.ivfTopKFromIndex]]), which loads
    * both from catalog tables instead of re-fitting per query. */
  private[ann] def ivfProbe(assigned: DataFrame,
      cents: Array[(Seq[Double], Double)], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      dim: Int = Dim): DataFrame = {
    val probes = graft.core.Fence(cosineProbes(queries, idCol, vecCol,
        cents, nprobe, dim)
      .select(col("q_id"), col("qv"), col("qnrm"),
              col("probe").getField("cell").as("cell")))
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("vec_id"),
        (dotUnrolled(col("qv"), col("v"), dim) /
          (col("qnrm") * col("nrm"))).as("cos"))
    topKPerQuery(cand, "cos", "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Per-cell (cos, cell) score array against a centroid constant —
    * `array_max` over it is the argmax assignment, ties to the larger
    * cell id (struct ordering). Deliberately the interpreted HOF [[dot]]:
    * numCells×Dim unrolled terms in one projection overflows Janino's
    * 64 KB limit (see [[nearDupBandBucket]]), and assignment runs once
    * per ROW, never per pair. */
  private[ann] def centroidScores(cents: Array[(Seq[Double], Double)],
                                  v: Column, nrm: Column): Column =
    array(cents.indices.map(j => struct(
      (dot(v, typedLit(cents(j)._1)) / (nrm * lit(cents(j)._2)))
        .as("cos"),
      lit(j).as("cell"))): _*)

  /** The argmax cell of a per-cell score array. */
  private[ann] def bestCell(scores: Column): Column =
    array_max(scores).getField("cell")

  /** The cosine cell of a (v, nrm) row against `cents`. */
  private[ann] def cosineCell(cents: Array[(Seq[Double], Double)]): Column =
    bestCell(centroidScores(cents, col("v"), col("nrm")))

  /** One `probe` row per probed cell: the top `nprobe` of a per-cell
    * score array, score descending, ties to the larger cell. */
  private def probeCells(scores: Column, nprobe: Int): Column =
    explode(slice(reverse(array_sort(scores)), 1, nprobe))

  /** (q_id, qv, qnrm, probe) — each query's `nprobe` nearest cosine
    * cells. */
  private def cosineProbes(queries: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Seq[Double], Double)], nprobe: Int,
      dim: Int): DataFrame =
    withNorms(queries, idCol, vecCol, dim)
      .select(col("id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qnrm"))
      .withColumn("probe", probeCells(
        centroidScores(cents, col("qv"), col("qnrm")), nprobe))

  /** Deterministic spherical k-means for the IVF coarse quantizer:
    * centroids start as the `numCells` smallest-id vectors (the
    * oracle-replicable seed) and run exactly `iters` Lloyd rounds —
    * cosine argmax assignment (ties to the larger cell), element-wise
    * mean recomputation. The mean is the ann04 reduction: values sum as
    * `floor(v·2^20 + 0.5)` integers so the per-cell sum is order-free
    * (double addition is not associative — a shuffled double sum would
    * not replicate), divided back out as DOUBLE; a cell that loses all
    * members keeps its previous centroid. Fixed iterations instead of a
    * convergence test keep the whole procedure a closed formula both
    * engines evaluate bit-identically.
    *
    * Scale shape: each round is one linear assignment pass (no shuffle)
    * + one partial-aggregated mean (`numCells·Dim` output rows — a
    * driver-side constant, the same bound as the centroid broadcast
    * itself). `iters` = 0 degrades to the untrained sample, so ann03's
    * plan is unchanged. */
  def kmeansCentroids(dWithNorms: DataFrame, numCells: Int,
                      iters: Int): Array[(Seq[Double], Double)] =
    lloydFit(dWithNorms, "v", Some("nrm"), numCells, iters,
      v => math.sqrt(selfDot(v)))(cosineCell)

  /** The k-means loop behind [[kmeansCentroids]] and
    * [[kmeansCentroidsL2]]: seeds are the `numCells` smallest-id `vec`
    * values, each paired with the frame's `seedAux` column when given,
    * else with `aux` of its values; then `iters` [[lloydUpdate]] rounds
    * under the `cell` assignment. */
  private def lloydFit(frame: DataFrame, vec: String,
      seedAux: Option[String], numCells: Int, iters: Int,
      aux: Seq[Double] => Double)(
      cell: Array[(Seq[Double], Double)] => Column)
      : Array[(Seq[Double], Double)] = {
    val seeds = frame.orderBy(col("id")).limit(numCells)
      .select(col(vec) +: seedAux.map(col).toSeq: _*).collect().map { r =>
        val v = r.getSeq[Double](0)
        (v, if (seedAux.isDefined) r.getDouble(1) else aux(v))
      }
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      lloydUpdate(frame.withColumn("cell", cell(cents))
          .select(col("cell"), posexplode(col(vec)).as(Seq("pos", "val"))),
        Array(cents), aux).head
    }
  }

  /** One deterministic Lloyd mean update, shared by every k-means here.
    * `exploded` carries (m?, cell, pos, val) — each assigned member's
    * components, keyed by subspace `m` when present (PQ codebooks),
    * else one group. The mean is the ann04 reduction: values sum as
    * `floor(v·2^20 + 0.5)` longs so the per-cell sum is order-free
    * (double addition is not associative — a shuffled double sum
    * would not replicate), divided back out as DOUBLE. Returns `prev`
    * with every re-fitted cell replaced by (mean, `aux` of it); a cell
    * that lost all members keeps its previous centroid. */
  private def lloydUpdate(exploded: DataFrame,
      prev: Array[Array[(Seq[Double], Double)]],
      aux: Seq[Double] => Double): Array[Array[(Seq[Double], Double)]] = {
    val g = if (exploded.columns.contains("m")) 1 else 0
    val byGroup = exploded
      .groupBy(((if (g == 1) Seq("m") else Nil) :+ "cell" :+ "pos")
        .map(col): _*)
      .agg((sum(floor(col("val") * lit(1048576.0) + lit(0.5))
          .cast("long")).cast("double") / 1048576.0 /
        count(lit(1)).cast("double")).as("mean"))
      .collect().groupBy(r => if (g == 1) r.getInt(0) else 0)
    prev.indices.map { m =>
      val byCell = byGroup.getOrElse(m, Array.empty[Row])
        .groupBy(_.getInt(g))
      prev(m).indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val v: Seq[Double] = rows.sortBy(_.getInt(g + 1))
              .map(_.getDouble(g + 2)).toSeq
            (v, aux(v))
          case None => prev(m)(c)
        }
      }.toArray
    }.toArray
  }

  /** Within-bucket nearest neighbor (top-1 by cosine, ties to the
    * greatest vec_id) — the bucketed ANN scale path. Vectors alone in
    * their bucket drop out. Output: (vec_id, bucket, neighbor, cos).
    *
    * The bucket self-join runs through [[graft.core.SkewJoin
    * .guardedPairs]]: with a fixed plane count the bucket key space is a
    * constant (2^planes values), so bucket population — and the single
    * task that would otherwise enumerate a hot bucket's |bucket|² pairs
    * — grows linearly with the corpus. The guard enumerates each
    * unordered pair once (a.id < b.id, salted when hot) and a mirror
    * explode restores both directions before the per-vector top-1, so
    * the result is row-for-row the plain directed join's: the cosine
    * kernel is symmetric under IEEE (aᵢbᵢ = bᵢaᵢ termwise, same fold
    * order, nrm product commutes), and the top-1 max-struct aggregate
    * commutes with the salt spread. Pinned guarded ≡ plain in SkewSpec.
    *
    * Per-pair scoring via the unrolled dot + precomputed norms: the
    * identical left fold as [[cosine]] (bit-exact vs the oracle) but it
    * stays inside whole-stage codegen — the HOF [[dot]] is interpreted
    * (~30 µs per evaluation), ruinous in this pair-quadratic position. */
  def lshBucketNeighbors(data: DataFrame, idCol: String, vecCol: String,
                         planes: Int = Planes,
                         hotCap: Int = NearDupHotCap,
                         hotSalts: Int = NearDupHotSalts,
                         dim: Int = Dim): DataFrame =
    bucketNeighborsFrom(
      graft.core.Fence(checkedFrame(data, idCol, vecCol, dim)
        .withColumn("bucket", bucket(col("v"), planes, dim))
        .withColumn("nrm", norm("v", dim))),
      hotCap, hotSalts, dim)

  /** The within-bucket top-1 core over an already-bucketed frame
    * (id, v, nrm, bucket) — shared with the persisted-index path
    * ([[AnnIndex.lshNeighborsFromIndex]]), which loads the frame from
    * a catalog table instead of re-fitting/re-bucketing per query. */
  private[ann] def bucketNeighborsFrom(d: DataFrame, hotCap: Int,
                                       hotSalts: Int,
                                       dim: Int = Dim): DataFrame = {
    val mirrored = graft.core.SkewJoin.guardedPairs(d, d, Seq("bucket"),
        selfJoin = true, hotCap, hotSalts) { j =>
      // cos is computed once per unordered pair (projection below the
      // generator); the explode only duplicates the finished row
      j.select(col("a.bucket").as("bucket"),
          (dotUnrolled(col("a.v"), col("b.v"), dim) /
            (col("a.nrm") * col("b.nrm"))).as("cos"),
          explode(array(
            struct(col("a.id").as("vec_id"), col("b.id").as("other")),
            struct(col("b.id").as("vec_id"), col("a.id").as("other"))))
            .as("pr"))
        .select(col("pr.vec_id").as("vec_id"), col("bucket"),
                col("pr.other").as("other"), col("cos"))
    }
    mirrored.groupBy(col("vec_id"), col("bucket"))
      .agg(max(struct(col("cos"), col("other"))).as("best"))
      .select(col("vec_id"), col("bucket"),
              col("best.other").as("neighbor"), col("best.cos").as("cos"))
  }

  /** [[lshBucketNeighbors]] with the plane count fitted to the corpus
    * ([[autoPlanes]]) — the form a corpus-sized run should call. Costs
    * one count() of the input (a column-less scan, the same bound as
    * any size-aware planner decision) before the bucketing pass. */
  def lshBucketNeighborsAuto(data: DataFrame, idCol: String,
                             vecCol: String,
                             targetBucketRows: Int = 1024,
                             minPlanes: Int = Planes,
                             dim: Int = Dim): DataFrame =
    lshBucketNeighbors(data, idCol, vecCol,
      autoPlanes(data.count(), targetBucketRows, minPlanes), dim = dim)

  // ----- Int8 scalar quantization (SQ8) -----
  //
  // The memory-bandwidth scale path: a 100 TB float corpus scanned for
  // brute-force or IVF-cell scoring is 4× cheaper read as int8 codes,
  // and the integer dot is SIMD-trivial. Symmetric per-vector
  // quantization (q_i = round(x_i·127 / max|x|)) keeps cosine
  // SCALE-FREE: the per-vector scales cancel in
  // dot(q_a,q_b)/(|q_a||q_b|), so quantized cosine approximates true
  // cosine with no dequantization step and ranks identically across
  // engines — every op below (array_max, the round, integer sums, one
  // sqrt+division on integer-valued doubles) is IEEE-deterministic, so
  // the DuckDB oracle gates bit-exact.

  /** Per-vector symmetric quantization scale max|x_i| — array_max is
    * order-free, so no float-fold reproducibility concern. */
  def sqScale(v: Column): Column = array_max(transform(v, x => abs(x)))

  /** Int8 codes floor(x·127/m + 0.5) as `array<int>` (conceptually
    * int8: values lie in [-127, 127]; a production table layout packs
    * them into a 1-byte-per-dim binary column — the 4× scan saving —
    * while this transient form keeps the gate declarative). `m` MUST
    * be a materialized column, not an inline [[sqScale]] subtree:
    * higher-order lambdas are interpreted and re-evaluate referenced
    * subtrees per element, which would turn the O(dim) transform into
    * O(dim²). The all-zero vector (m=0) quantizes to zeros. */
  def sq8Codes(v: Column, m: Column): Column =
    when(m === lit(0.0), transform(v, _ => lit(0)))
      .otherwise(transform(v, x =>
        floor(x * lit(127.0) / m + lit(0.5)).cast("int")))

  /** [[dotUnrolled]] over integer code arrays, accumulated in LONG —
    * exact (order-free integer sum) and whole-stage-codegen friendly. */
  def dotUnrolledLong(a: Column, b: Column, dim: Int = Dim): Column =
    (1 to dim).map(i => element_at(a, i).cast("long") * element_at(b, i))
      .foldLeft(lit(0L))(_ + _)

  /** Quantize a vector frame to `(<id>, <id>_q, <id>_qq, <id>_sc)` —
    * the code array, integer self-dot and quantization SCALE (max|x|,
    * round 16) an SQ8 index stores per row. The scale is what
    * dequantizes a code dot back to float units — cosine scoring
    * never touches it (scales cancel in the ratio), but the
    * inner-product and L2 metrics need it. */
  def sq8Quantized(df: DataFrame, idCol: String, vecCol: String,
                   id: String, dim: Int = Dim): DataFrame =
    df.select(col(idCol).as(id),
        checkedVec(toDouble(col(vecCol)), dim).as("__v"))
      .withColumn(s"${id}_sc", sqScale(col("__v")))
      .withColumn(s"${id}_q", sq8Codes(col("__v"), col(s"${id}_sc")))
      .withColumn(s"${id}_qq",
        dotUnrolledLong(col(s"${id}_q"), col(s"${id}_q"), dim))
      .drop("__v")

  /** The quantized score under a named metric — every term is an
    * integer-valued long or a stored double scale, combined with a
    * FIXED association both engines replay literally:
    *   cosine  dot / (sqrt(dqq)·sqrt(qqq))          (scales cancel)
    *   ip      (dot·(d_sc·q_sc)) / 127²              (dequantized dot)
    *   l2      −((dqq·d_sc² + qqq·q_sc²) − dot·(2·(d_sc·q_sc))) / 127²
    *           (negative squared dequantized distance — larger is
    *           closer, so the same rank ordering applies) */
  private[ann] def sq8Score(metric: String, dim: Int): Column = {
    val dot = dotUnrolledLong(col("q_id_q"), col("vec_id_q"), dim)
      .cast("double")
    metric match {
      case "cosine" =>
        when(col("vec_id_qq") === lit(0L) || col("q_id_qq") === lit(0L),
            lit(0.0))
          .otherwise(dot /
            (sqrt(col("vec_id_qq").cast("double")) *
              sqrt(col("q_id_qq").cast("double"))))
      case "ip" =>
        (dot * (col("vec_id_sc") * col("q_id_sc"))) / lit(16129.0)
      case "l2" =>
        -((col("vec_id_qq").cast("double") *
              (col("vec_id_sc") * col("vec_id_sc")) +
            col("q_id_qq").cast("double") *
              (col("q_id_sc") * col("q_id_sc"))) -
          dot * (lit(2.0) * (col("vec_id_sc") * col("q_id_sc")))) /
          lit(16129.0)
      case other => throw new IllegalArgumentException(
        s"Ann: unknown metric '$other' — use 'cosine', 'ip' or 'l2'")
    }
  }

  /** The score column name a metric emits: the cosine family keeps its
    * historical `qcos`; the dequantized metrics emit `score`. */
  private[ann] def sq8ScoreName(metric: String): String =
    if (metric == "cosine") "qcos" else "score"

  /** Scoring core over ALREADY-quantized sides — shared with the
    * persisted-index probe ([[AnnIndex.sq8TopKFromIndex]]), which
    * loads `d` from a catalog table instead of quantizing per query.
    * Expects [[sq8Quantized]] column names (`vec_id`/`q_id`); the
    * non-cosine metrics additionally need the `_sc` scales on both
    * sides. */
  private[ann] def sq8TopKFrom(d: DataFrame, q: DataFrame, k: Int,
                               dim: Int,
                               metric: String = "cosine"): DataFrame = {
    val sn = sq8ScoreName(metric)
    topKPerQuery(d.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn(sn, sq8Score(metric, dim)), sn, "vec_id", k)
      .select(col("q_id"), col("rank"), col("vec_id"), col(sn))
  }

  /** Threshold form of [[sq8TopKFrom]] — the semantic-decontamination
    * hit list: DISTINCT ids of `d` rows whose quantized cosine against
    * ANY `q` row reaches `minCos`. Every (corpus, query) pair is
    * scored (the same broadcast-nested-loop class as the top-k scan —
    * the query side is a benchmark set, broadcast-small by contract;
    * a corpus-sized query side wants the banded float path,
    * [[semanticDecontaminate]]). An id equal on both sides still
    * matches itself (cos 1.0) — a benchmark row in the corpus MUST
    * drop, so no self-exclusion here, unlike the top-k form. */
  private[ann] def sq8Matches(d: DataFrame, q: DataFrame,
                              minCos: Double, dim: Int): DataFrame =
    d.join(broadcast(q), lit(true))
      .withColumn("qcos", sq8Score("cosine", dim))
      .filter(col("qcos") >= lit(minCos))
      .select(col("vec_id").as("id")).distinct()

  /** Brute-force top-k over SQ8-quantized vectors: quantize both sides
    * once (codes + integer self-dot materialized per row — the columns
    * a quantized index stores), broadcast the query side, rank by the
    * quantized score under `metric` (cosine | ip | l2). Output:
    * (q_id, rank, vec_id, qcos|score). */
  def sq8TopK(data: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int = Dim,
              metric: String = "cosine"): DataFrame =
    sq8TopKFrom(sq8Quantized(data, idCol, vecCol, "vec_id", dim),
      sq8Quantized(queries, idCol, vecCol, "q_id", dim), k, dim, metric)

  /** Recall@k evaluation report — the index-quality measurement every
    * ANN deployment tunes against (nprobe/numCells/refine trade
    * recall for scan cost; without the number the knobs are blind).
    * `exact` and `approx` are any two (q_id, rank, vec_id, …) rank
    * frames (brute force vs an index probe, or two index
    * configurations); the report is, per query, how many of the exact
    * top-k the approximate ranking recovered: (q_id, hits,
    * recall_at_k = hits/k). Queries the approximate side missed
    * entirely report 0, not absence.
    *
    * Scale: one equi-join on (q_id, vec_id) + one partial-aggregated
    * count — both sides are top-k frames (|queries|·k rows), tiny
    * next to the probes that produced them. */
  def recallReport(exact: DataFrame, approx: DataFrame,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = exact.filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"))
    val a = approx.filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"))
    val hits = e.join(a, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("__h"))
    e.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__h"), lit(0L)).cast("int").as("hits"),
        (coalesce(col("__h"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("recall_at_k"))
  }

  // ----- Product quantization (PQ / ADC) -----
  //
  // The extreme-compression ANN path: each unit-normalized vector is
  // cut into M subvectors and each subvector replaced by the id of its
  // nearest codebook centroid (per-subspace L2 k-means) — M small ints
  // per vector (here 4×3 bits; 64 floats → 4 bytes in a packed
  // production layout, 64× smaller than the corpus). A query scores a
  // candidate WITHOUT touching its floats: asymmetric distance
  // computation (ADC) sums the query-subvector · assigned-centroid
  // dots, approximating the cosine of the originals (inputs are unit
  // vectors). Every step is engine-mirrored: the division by the norm,
  // the L2 argmin (as argmax of 2·s·c − c·c, a tie-identical
  // reformulation that drops the per-row constant s·s), the
  // integer-cents Lloyd means of [[kmeansCentroids]], and the fixed
  // left-fold of the M partial scores — so the DuckDB oracle replays
  // the identical fit and gates bit-exact.

  val PqSubspaces = 4
  val PqSubDim = Dim / PqSubspaces
  val PqCodebook = 8

  /** Per-call ANN geometry: vector dimension plus the PQ shape
    * (M subspaces x K codewords). Every index-family entry point
    * takes one (defaulting to the gate geometry [[DefaultGeom]] =
    * 64/4/8), so a corpus of real 768-dim embeddings — or the
    * standard M=96, K=256 PQ operating point — runs without
    * recompiling; [[AnnIndex]] records the geometry in the index meta
    * and probes serve under the RECORDED one, so a mismatched query
    * vector fails loudly at evaluation ([[checkedVec]]). The fixed
    * 64-dim near-dup band family ([[nearDupBandBucket]] and the dd
    * operators over it) is the deliberate exception: its banding
    * thresholds are calibrated to the document-embedding corpus. */
  case class Geom(dim: Int, pqM: Int, pqK: Int) {
    require(dim >= 1 && dim <= 8192, s"dim must be in [1,8192]: $dim")
    require(pqM >= 1 && pqM <= dim && dim % pqM == 0,
      s"pqM must divide dim: dim=$dim, pqM=$pqM")
    require(pqK >= 1 && pqK <= 256, s"pqK must be in [1,256]: $pqK")
    /** Subvector width each codebook quantizes. */
    val subDim: Int = dim / pqM
  }

  /** The gate geometry — and the compiled-in default everywhere. */
  val DefaultGeom: Geom = Geom(Dim, PqSubspaces, PqCodebook)

  /** Unit-normalize against a MATERIALIZED norm column (the zero
    * vector stays as-is rather than dividing by zero). */
  private[ann] def unitVec(v: Column, nrm: Column): Column =
    when(nrm === lit(0.0), v).otherwise(transform(v, x => x / nrm))

  /** Per-cell (score, cell) array for L2 assignment of subvector `s`
    * against centroid constants carried as (values, self-dot):
    * argmin ‖s−c‖² = argmax 2·s·c − c·c (the s·s term is constant per
    * row, and equal distances give equal scores, so ties break
    * identically — to the larger cell, like the cosine form).
    *
    * Deliberately the interpreted HOF [[dot]], like [[centroidScores]]:
    * assignment runs once per ROW, never per pair. Re-measured in r17:
    * 16 cells × 64 dim unrolled (1024 terms) overflows Janino's 64 KB
    * method limit inside hashAgg codegen (logged
    * InternalCompilerException per stage, interpreted fallback), and
    * even the in-budget 8×16 PQ case ran ~2× SLOWER end-to-end at gate
    * scale — each Lloyd round carries fresh centroid literals, so every
    * round pays a full whole-stage recompile that dwarfs the per-row
    * win. */
  private[ann] def centroidScoresL2(cents: Array[(Seq[Double], Double)],
                                    s: Column): Column =
    array(cents.indices.map(j => struct(
      (lit(2.0) * dot(s, typedLit(cents(j)._1)) - lit(cents(j)._2))
        .as("score"),
      lit(j).as("cell"))): _*)

  /** Deterministic L2 k-means over a subvector frame (id, s) — the
    * [[kmeansCentroids]] procedure with the L2 scorer: smallest-id
    * seeds, fixed `iters` Lloyd rounds, integer-cents means, empty
    * cells keep their previous centroid. Returns (values, self-dot)
    * pairs (the self-dot is the assignment constant, computed with the
    * same left fold as the oracle's `list_aggregate`). */
  def kmeansCentroidsL2(dSub: DataFrame, numCells: Int,
                        iters: Int): Array[(Seq[Double], Double)] =
    lloydFit(dSub, "s", None, numCells, iters, selfDot(_))(
      cents => bestCell(centroidScoresL2(cents, col("s"))))

  /** Train the M per-subspace codebooks over the unit-normalized
    * corpus. Scale shape: each Lloyd round per subspace is one linear
    * assignment pass + one partial-aggregated mean (numCells·subDim
    * output rows); production trains on a sample — pass it as `data`
    * and encode the full corpus separately. */
  def pqTrain(data: DataFrame, idCol: String, vecCol: String,
              iters: Int = 2, geom: Geom = DefaultGeom)
      : Array[Array[(Seq[Double], Double)]] =
    pqTrainOn(graft.core.Fence(withUnit(data, idCol, vecCol, geom.dim)),
      iters, geom)

  /** [[pqTrain]] over a prepared frame carrying the vector PQ should
    * encode as a materialized `u` column — the unit vectors for the
    * plain form, the coarse-cell RESIDUALS for the IVFADC form.
    *
    * The M subspace fits are independent, but each is a chain of tiny
    * driver-latency-bound Lloyd jobs over the SAME rows — so instead
    * of M per-subspace chains (or M concurrent lanes fighting for
    * cores), every Lloyd round is ONE job covering all M subspaces:
    * assign each subvector to its own codebook's cell in a single
    * projection, explode to (m, cell, pos, val), and partial-aggregate
    * the means grouped by (m, cell, pos). Seeds come from one pass
    * (the smallest-id pqK rows, sliced locally). Per (m, cell, pos)
    * the grouped sum/count sees exactly the rows the per-subspace fit
    * saw, with the same integer-scaled terms, so the codebooks are
    * positionally identical to the sequential fold. */
  def pqTrainOn(frame: DataFrame, iters: Int,
                geom: Geom = DefaultGeom)
      : Array[Array[(Seq[Double], Double)]] = {
    val sliced = slices(frame.select(col("id"), col("u")), "u", "__s", geom)
    // seeds: the same smallest-id pqK rows for every subspace — one
    // job, sliced locally (identical to per-subspace orderBy/limit)
    val seedRows = frame.orderBy(col("id")).limit(geom.pqK)
      .select(col("u")).collect()
    val seeds: Array[Array[(Seq[Double], Double)]] =
      Array.tabulate(geom.pqM) { m =>
        seedRows.map { r =>
          val v: Seq[Double] = r.getSeq[Double](0)
            .slice(m * geom.subDim, (m + 1) * geom.subDim)
          (v, selfDot(v))
        }
      }
    (0 until iters).foldLeft(seeds) { (books, _) =>
      lloydUpdate(subspaceCells(sliced, books, "__c", geom)
          .select(explode(array((0 until geom.pqM).map(m =>
            struct(lit(m).as("m"), col(s"__c$m").as("cell"),
              col(s"__s$m").as("s"))): _*)).as("e"))
          .select(col("e.m").as("m"), col("e.cell").as("cell"),
            posexplode(col("e.s")).as(Seq("pos", "val"))),
        books, selfDot)
    }
  }

  /** Encode every vector to its M codebook cells — the rows a PQ index
    * stores: (id, c0 … c_{M−1}), M small ints per vector. One pass;
    * subvector slices materialized before the interpreted assignment
    * scorer so nothing re-derives per cell. */
  def pqEncode(data: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[(Seq[Double], Double)]],
               geom: Geom = DefaultGeom): DataFrame =
    pqEncodeOn(withUnit(data, idCol, vecCol, geom.dim), books,
      keep = Seq("id"), geom)

  /** [[pqEncode]] over a prepared frame (materialized `u` = the vector
    * to encode), keeping `keep` alongside the code columns — the
    * IVFADC form keeps the coarse cell so probes stay an equi-join. */
  def pqEncodeOn(frame: DataFrame,
                 books: Array[Array[(Seq[Double], Double)]],
                 keep: Seq[String],
                 geom: Geom = DefaultGeom): DataFrame =
    subspaceCells(slices(frame, "u", "__s", geom), books, "c", geom)
      .select(keep.map(col) ++ (0 until geom.pqM).map(m => col(s"c$m")): _*)

  /** `prefix`0 … `prefix`{M−1}: the M subvector slices of `from`. */
  private def slices(df: DataFrame, from: String, prefix: String,
                     geom: Geom): DataFrame =
    (0 until geom.pqM).foldLeft(df) { (d, m) =>
      d.withColumn(s"$prefix$m",
        slice(col(from), m * geom.subDim + 1, geom.subDim))
    }

  /** `prefix`m = the L2 cell of slice `__s`m under codebook m. */
  private def subspaceCells(sliced: DataFrame,
      books: Array[Array[(Seq[Double], Double)]], prefix: String,
      geom: Geom): DataFrame =
    (0 until geom.pqM).foldLeft(sliced) { (d, m) =>
      d.withColumn(s"$prefix$m",
        bestCell(centroidScoresL2(books(m), col(s"__s$m"))))
    }

  /** Query side of ADC: (q_id, qs0 … qs_{M−1}) — the unit-normalized
    * query subvector slices, fenced and broadcast-sized. */
  private[ann] def pqQuerySlices(queries: DataFrame, idCol: String,
                                 vecCol: String,
                                 geom: Geom = DefaultGeom): DataFrame =
    graft.core.Fence(slices(withUnit(queries, idCol, vecCol, geom.dim)
      .select(col("id").as("q_id"), col("u")), "u", "qs", geom).drop("u"))

  /** ADC scoring + rank over a candidate frame carrying the code
    * columns (id, c0 …) and the query slices (q_id, qs0 …): M
    * broadcast equi-joins against the K-row codebook frames — map-side
    * only, no shuffle until the per-query rank — summing the partial
    * dots in a fixed left fold. Shared by the brute-force, persisted-
    * index, and IVF-pruned probes.
    *
    * `residual` is the IVFADC scoring: under a shared coarse cell,
    * ‖qu − u‖² = ‖qr − r‖² exactly (the centroid cancels), so the
    * code-approximated score is
    * `−‖qr − r̂‖² = Σ_m (2·qr_m·cb_m − ‖cb_m‖²) − qr·qr` — comparable
    * ACROSS a query's probed cells, unlike the plain cross term (fine
    * there: the plain form has one global codebook space). The
    * residual `cand` also carries the residual self-dot `qq`. */
  private[ann] def pqAdcRank(cand: DataFrame,
      books: Array[Array[(Seq[Double], Double)]], k: Int,
      geom: Geom = DefaultGeom, residual: Boolean = false): DataFrame = {
    val joined = (0 until geom.pqM).foldLeft(cand) { (df, m) =>
      df.join(centsToDf(cand.sparkSession, books(m), s"$m", residual),
        col(s"c$m") === col(s"cell$m"))
    }
    val sum = (0 until geom.pqM).map { m =>
      val d = dotUnrolled(col(s"qs$m"), col(s"cv$m"), geom.subDim)
      if (residual) lit(2.0) * d - col(s"cc$m") else d
    }.reduceLeft(_ + _)
    topKPerQuery(joined.withColumn("score",
        if (residual) sum - col("qq") else sum), "score", "id", k)
      .select(col("q_id"), col("rank"), col("id").as("vec_id"),
        col("score"))
  }

  /** ADC top-k: score every encoded row against each query from the
    * codes alone. Output: (q_id, rank, vec_id, score). */
  def pqTopKFromCodes(codes: DataFrame, books:
      Array[Array[(Seq[Double], Double)]], queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      geom: Geom = DefaultGeom): DataFrame = {
    val qWide = broadcast(pqQuerySlices(queries, idCol, vecCol, geom))
    pqAdcRank(codes.join(qWide, col("id") =!= col("q_id")), books, k,
      geom)
  }

  /** Train + encode + ADC-probe in one call (the fit-inline gate form;
    * a serving deployment persists the codebooks and codes — see the
    * SQ8/LSH/IVF index artifacts for the pattern). */
  def pqTopK(data: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, iters: Int = 2,
             geom: Geom = DefaultGeom): DataFrame = {
    val books = pqTrain(data, idCol, vecCol, iters, geom)
    pqTopKFromCodes(
      graft.core.Fence(pqEncode(data, idCol, vecCol, books, geom)),
      books, queries, idCol, vecCol, k, geom)
  }

  /** IVF-PQ: the production serving shape — an IVF coarse quantizer
    * prunes to nprobe/numCells of the corpus (the [[ivfTopK]]
    * machinery, cell partition pruning at the storage layer in the
    * persisted form) and PQ/ADC scores the survivors from their codes
    * alone. Candidate generation is a cell EQUI-join (never all
    * pairs); scoring reads M code ints per candidate. Both fits are
    * the established deterministic procedures, so the oracle replays
    * them and gates bit-exact. Output: (q_id, rank, vec_id, score). */
  def ivfPqTopK(data: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, numCells: Int = 16,
                nprobe: Int = 2, trainIters: Int = 2,
                pqIters: Int = 2, geom: Geom = DefaultGeom): DataFrame = {
    // coarse: ann05's spherical k-means cells over the raw vectors
    val d = withNorms(data, idCol, vecCol, geom.dim)
    val cents = kmeansCentroids(d, numCells, trainIters)
    val assigned = d.withColumn("cell", cosineCell(cents))
      .select(col("id"), col("cell"))
    // fine: PQ codebooks + codes over the unit vectors
    val books = pqTrain(data, idCol, vecCol, pqIters, geom)
    val codes = graft.core.Fence(
      pqEncode(data, idCol, vecCol, books, geom)
        .join(assigned, Seq("id")))
    // query probe cells (cos desc, cell desc — the ann05 order) joined
    // to the query's ADC slices
    val probes = cosineProbes(queries, idCol, vecCol, cents, nprobe,
        geom.dim)
      .select(col("q_id"), col("probe").getField("cell").as("cell"))
    val qWide = broadcast(graft.core.Fence(probes.join(
      pqQuerySlices(queries, idCol, vecCol, geom), Seq("q_id"))))
    pqAdcRank(
      codes.join(qWide, Seq("cell")).filter(col("id") =!= col("q_id")),
      books, k, geom)
  }

  // ---- residual IVF-PQ (IVFADC) + exact re-rank -------------------------
  //
  // The classic two fixes for [[ivfPqTopK]]'s recall loss (Jégou et
  // al.'s IVFADC shape, both public): (1) PQ-encode the RESIDUAL
  // u − centroid(cell) instead of the raw unit vector — residuals are
  // smaller and better centered, so the same 4×8 codebook budget spends
  // its cells on the part of the vector the coarse quantizer did NOT
  // explain; (2) re-score the top-R code-ranked candidates EXACTLY from
  // the float vectors — the universal two-stage serving shape (code
  // scan narrows the corpus to R, floats are touched for R rows only).
  // Every step is the established deterministic procedure, so the
  // DuckDB oracle replays the whole fit and ann16 gates bit-exact.

  /** Elementwise difference of two materialized double-array columns
    * (IEEE subtraction — exact and engine-identical given identical
    * inputs). */
  private[ann] def vecSub(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** [[withNorms]] plus the unit vector `u`. */
  private def withUnit(data: DataFrame, idCol: String, vecCol: String,
                       dim: Int): DataFrame =
    withNorms(data, idCol, vecCol, dim)
      .withColumn("u", unitVec(col("v"), col("nrm")))

  /** (id, u) unit-vector frame, fenced — the shared front of the
    * residual family (and the refine stage's exact-score source). */
  private[ann] def unitFrame(data: DataFrame, idCol: String,
                             vecCol: String,
                             dim: Int = Dim): DataFrame =
    graft.core.Fence(withUnit(data, idCol, vecCol, dim)
      .select(col("id"), col("u")))

  /** (id, u) frame under a named residual-family metric: the cosine
    * family's unit normalization, or the RAW double vectors for l2 —
    * everything past this point (coarse L2 cells, residuals, codebook
    * fits, ADC) is metric-blind, because the residual identity
    * ‖q − v‖² = ‖qr − r‖² holds for raw vectors exactly as it does for
    * unit ones (the shared cell centroid cancels). Inner-product
    * corpora are served by the SQ8 family ([[sq8TopK]] /
    * [[AnnIndex.buildSq8]] metric="ip"), where the dequantized dot is
    * the native score — an L2-residual code rank is not ip-faithful,
    * so the residual path refuses it loudly rather than mis-rank. */
  private[ann] def metricFrame(data: DataFrame, idCol: String,
                               vecCol: String, dim: Int,
                               metric: String): DataFrame =
    metric match {
      case "cosine" => unitFrame(data, idCol, vecCol, dim)
      case "l2" => graft.core.Fence(graft.core.Par.ensure(
        checkedFrame(data, idCol, vecCol, dim, "u")))
      case other => throw new IllegalArgumentException(
        s"Ann: residual IVF-PQ supports metrics 'cosine' and 'l2', " +
          s"got '$other' — inner-product corpora are served by the " +
          "SQ8 family (buildSq8 metric=\"ip\")")
    }

  /** The refine stage's exact score under a metric — a FIXED
    * association both engines replay literally:
    *   cosine  qu · u                      (unit vectors — the dot IS
    *                                        the cosine)
    *   l2      −((qu·qu + u·u) − 2·(qu·u)) (negative squared distance
    *                                        over the raw vectors —
    *                                        larger is closer) */
  private[ann] def refineScore(metric: String, dim: Int): Column =
    metric match {
      case "cosine" => dotUnrolled(col("qu"), col("u"), dim)
      case "l2" =>
        -((dotUnrolled(col("qu"), col("qu"), dim) +
            dotUnrolled(col("u"), col("u"), dim)) -
          lit(2.0) * dotUnrolled(col("qu"), col("u"), dim))
      case other => throw new IllegalArgumentException(
        s"Ann: residual IVF-PQ supports metrics 'cosine' and 'l2', " +
          s"got '$other'")
    }

  /** Broadcastable (cell, cv) frame of centroid values, the columns
    * suffixed by `sfx`; `withAux` adds each centroid's constant `cc`. */
  private[ann] def centsToDf(spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Seq[Double], Double)], sfx: String = "",
      withAux: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows = cents.zipWithIndex.map { case ((v, cc), j) => (j, v, cc) }
      .toSeq
    broadcast(if (withAux) rows.toDF(s"cell$sfx", s"cv$sfx", s"cc$sfx")
      else rows.map(r => (r._1, r._2)).toDF(s"cell$sfx", s"cv$sfx"))
  }

  /** Assign each unit vector to its L2 cell and subtract the cell
    * centroid: (id, cell, u = RESIDUAL), fenced. The frame PQ trains
    * and encodes over in the IVFADC family. */
  private[ann] def residualFrame(un: DataFrame,
      cents: Array[(Seq[Double], Double)]): DataFrame = {
    val centDf = centsToDf(un.sparkSession, cents)
    graft.core.Fence(un.withColumn("cell",
        bestCell(centroidScoresL2(cents, col("u"))))
      .join(centDf, Seq("cell"))
      .withColumn("ru", vecSub(col("u"), col("cv")))
      .select(col("id"), col("cell"), col("ru").as("u")))
  }

  /** Residual IVF-PQ with exact top-R re-rank. Candidate generation is
    * the IVF cell equi-join (nprobe/numCells of the corpus), scoring is
    * ADC over residual codes (M ints per candidate), and `refine > 0`
    * re-scores the top-`refine` code-ranked rows per query with the
    * exact float dot — floats touched for `refine` rows per query, not
    * the corpus. `refine <= 0` returns the pure code ranking. The
    * coarse quantizer is a deterministic L2 k-means over the UNIT
    * vectors ([[kmeansCentroidsL2]] on the full dim), so the residual
    * decomposition ‖qu−u‖² = ‖qr−r‖² holds exactly per shared cell.
    * Output: (q_id, rank, vec_id, score) — score is the exact unit dot
    * (= cosine) when refining, the negative squared ADC distance
    * otherwise. Default `refine` sized for serving (~4k floats per
    * query is noise next to the code scan it replaces). */
  def ivfPqResidualTopK(data: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        numCells: Int = 16, nprobe: Int = 2,
                        trainIters: Int = 2, pqIters: Int = 2,
                        refine: Int = 4096,
                        geom: Geom = DefaultGeom,
                        metric: String = "cosine"): DataFrame = {
    val un = metricFrame(data, idCol, vecCol, geom.dim, metric)
    // coarse: L2 cells over the unit vectors, full dim
    val cents = kmeansCentroidsL2(
      un.select(col("id"), col("u").as("s")), numCells, trainIters)
    val resid = residualFrame(un, cents)
    // fine: books + codes over the residuals, cell kept for the probe
    val books = pqTrainOn(resid, pqIters, geom)
    val codes = graft.core.Fence(
      pqEncodeOn(resid, books, keep = Seq("id", "cell"), geom))
    ivfPqRefineProbe(codes, cents, books, un, queries, idCol, vecCol,
      k, nprobe, refine, geom = geom, metric = metric)
  }

  /** The probe half of the residual family, shared by the fit-inline
    * form and the persisted index: probed cells per query, per-cell
    * query residual slices + self-dot, the L2 ADC rank, and (when
    * `refine > 0`) the exact re-rank against `un` — the (id, u)
    * unit-vector store, which the persisted form reads from the
    * PRIMARY vector table (the index keeps codes only; the two-stage
    * fetch touches floats for `refine` rows per query).
    *
    * `broadcastQueries = false` is the BULK-join shape — queries ≈ the
    * corpus ("attach top-k neighbors to every document"): the query
    * side sheds its broadcast hints, the cell join and the refine
    * joins plan as shuffle equi-joins, and the per-query rank window
    * shuffles by q_id — nothing is required to fit in one executor.
    * Results are identical either way (join strategy never changes
    * values; ranking is totally ordered). */
  private[ann] def ivfPqRefineProbe(codes: DataFrame,
      cents: Array[(Seq[Double], Double)],
      books: Array[Array[(Seq[Double], Double)]], un: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int, refine: Int,
      broadcastQueries: Boolean = true,
      geom: Geom = DefaultGeom,
      metric: String = "cosine"): DataFrame = {
    def maybeBcast(df: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(df) else df
    val centDf = centsToDf(codes.sparkSession, cents)
    val qUn = metricFrame(queries, idCol, vecCol, geom.dim, metric)
      .select(col("id").as("q_id"), col("u").as("qu"))
    val probes = qUn.withColumn("probe",
        probeCells(centroidScoresL2(cents, col("qu")), nprobe))
      .select(col("q_id"),
        col("probe").getField("cell").as("cell"), col("qu"))
    val qRes = probes.join(centDf, Seq("cell"))
      .withColumn("qr", vecSub(col("qu"), col("cv")))
    val qWide = maybeBcast(graft.core.Fence(slices(qRes, "qr", "qs", geom)
      .withColumn("qq", (0 until geom.pqM)
        .map(m => dotUnrolled(col(s"qs$m"), col(s"qs$m"), geom.subDim))
        .reduceLeft(_ + _))
      .select(col("q_id") +: col("cell") +:
        (0 until geom.pqM).map(m => col(s"qs$m")) :+ col("qq"): _*)))
    val adc = pqAdcRank(
      codes.join(qWide, Seq("cell")).filter(col("id") =!= col("q_id")),
      books, if (refine > 0) refine else k, geom, residual = true)
    if (refine <= 0) adc
    else {
      val exact = adc.select(col("q_id"), col("vec_id"))
        .join(un.select(col("id").as("vec_id"), col("u")), Seq("vec_id"))
        .join(maybeBcast(qUn), Seq("q_id"))
        .withColumn("score", refineScore(metric, geom.dim))
      topKPerQuery(exact, "score", "vec_id", k)
        .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
    }
  }
}

package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Fence
import graft.text.TextHash

/** Banded-LSH geometry: `bands` bands of `rows` minhashes each
  * (`numPerm = bands * rows` permutations total). The S-curve
  * `P[collide] = 1-(1-J^rows)^bands` has its 50%-collision point at
  * `J ≈ (1/bands)^(1/rows)` — [[MinHashLSH.geometryFor]] picks the
  * geometry so that point brackets the requested threshold. */
final case class LshGeometry(bands: Int, rows: Int) {
  require(bands >= 1 && rows >= 1, s"bad LSH geometry ($bands x $rows)")
  def numPerm: Int = bands * rows
}

/** MinHash + banded LSH near-duplicate detection over a text column
  * (shingle → minhash → band → bucket-join → exact-Jaccard verify).
  *
  * Permutations are `(a*h + b) mod p` over the exact base-31 shingle
  * hashes ([[TextHash]]), with fixed public constants — fully
  * deterministic, so the DuckDB oracle replicates the *entire* pipeline
  * (including banding) and the gate checks candidate generation, not just
  * the verified tail.
  *
  * Scale shape: shingling/signatures are per-row expressions; the only
  * shuffles are the band-key self-join (equi-join on (band, key) — the
  * standard LSH bucket join) and the final pair dedup. No driver
  * collection, no quadratic stage: quadratic work is confined inside a
  * bucket, which banding keeps small.
  */
object MinHashLSH {
  val P: Long = 2147483647L

  /** Band rows are fixed at 6: the per-band selectivity J^6 is steep
    * enough that mid-similarity collisions stay bounded, while the band
    * key remains 6 longs — cheap to concat and shuffle. Band COUNT is
    * the threshold-adaptive knob ([[geometryFor]]). */
  val Rows = 6

  /** The t=0.8 geometry (= `geometryFor(0.8)`), kept as named constants
    * because dd03's oracle and the default operator setting are frozen
    * to it: 4 bands × 6 rows, collision probability 1-(1-J^6)^4 keeps
    * ~98% recall at J=0.93 (the planted-near-dup scale) while halving
    * mid-similarity (J≈0.5) band collisions vs 5-row bands. */
  private val Bands = 4
  val NumPerm: Int = Bands * Rows
  val DefaultGeometry: LshGeometry = LshGeometry(Bands, Rows)

  /** Threshold-fitted geometry: bands = round((1/t)^rows), the bands
    * count whose S-curve 50%-collision point `(1/bands)^(1/rows)`
    * brackets the requested threshold. t=0.8 → 4×6 (the frozen dd03
    * default, reproduced by the formula, not special-cased); t=0.7 →
    * 8×6 (t50≈0.707); t=0.9 → 2×6. Without the fit, running the t≥0.8
    * geometry at a lower threshold lets the signature-agreement floor
    * collapse: at t=0.7 on a template-correlated corpus the 24-perm
    * floor passed ~81% of band candidates to the exact verify
    * (measured, COVERAGE); the fitted 48-perm floor concentrates the
    * agreement estimate and restores the prune. Clamped to [2, 32]
    * bands (t≲0.56 saturates the clamp — below that, banded MinHash
    * stops being the right tool and [[SimHash]]/embedding operators
    * take over). */
  def geometryFor(threshold: Double): LshGeometry = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val b = math.round(math.pow(1.0 / threshold, Rows.toDouble))
    LshGeometry(math.max(2L, math.min(32L, b)).toInt, Rows)
  }

  /** Fixed LCG-derived permutation constants (public, shared with the
    * oracle SQL); `j` is 0-based, values identical to the original
    * 24-element tables for j < 24, defined for any geometry width. */
  def permA(j: Int): Long = {
    val a = (1103515245L * (j + 1) + 1013904223L) % P
    if (a == 0L) 1L else a
  }
  def permB(j: Int): Long = (2654435761L * (j + 1) + 12345L) % P

  /** MinHash value for permutation j over a shingle-hash array column. */
  def minhash(sh: Column, j: Int): Column =
    array_min(transform(sh, h => (lit(permA(j)) * h + lit(permB(j))) % P))

  /** Signature-agreement floor for the estimated-Jaccard pre-filter:
    * candidates whose signatures agree on fewer than
    * ceil((threshold − 0.05)·numPerm) of the numPerm minhashes skip the
    * exact verify. A band collision already fixes `Rows` agreeing
    * permutations, so the prune bites on the rest: at t=0.8 (n=24) the
    * floor is 18/24, a true J=0.8 pair fails with
    * P[6 + Binom(18,.8) < 18] ≈ 4% (on top of LSH's own ~30% miss rate
    * at exactly t — this is an approximate operator), a planted J≈0.93
    * near-dup with ≈0.1%, while ~85% of the J≈0.55 collision tail (the
    * verify cost driver on correlated corpora) is dropped before
    * touching full shingle arrays. The floor's discriminating power
    * grows with numPerm (the estimator std is √(J(1−J)/n)), which is
    * why [[geometryFor]] widens the signature as the threshold drops.
    * The oracle SQL applies the identical integer count, so the gate
    * stays exact. */
  def minAgree(threshold: Double, numPerm: Int = NumPerm): Int =
    math.ceil((threshold - 0.05) * numPerm).toInt

  /** Bottom-k sketch width for the sampled-Jaccard cascade stage
    * ([[SetVerify.samplePrune]]): each doc's 128 smallest shingle
    * hashes. 128 keeps the per-pair prune an O(128) merge while the
    * estimator std √(J(1−J)/128) (≤0.045, further shrunk by the
    * finite-population factor, exact for unions ≤ 128) separates a
    * correlated corpus's below-threshold shoulder from true pairs. */
  val BottomK = 128

  /** The sampled-Jaccard cascade stage engages below this threshold.
    * At t ≥ 0.8 the signature-agreement floor alone already passes only
    * ~2% of band candidates (dd03's measured profile) — adding the
    * sample stage there would change dd03's frozen oracle for no
    * pruning gain. Below it, the floor's estimator (a few dozen
    * permutations, std ≈ 0.07) cannot separate a shoulder sitting
    * 0.05–0.10 under the threshold, and the bottom-k stage carries the
    * pruning contract (measured: COVERAGE, dp01 profile). */
  val SampleCutoff = 0.75

  /** Hot-bucket containment knobs for the band joins
    * ([[graft.core.SkewJoin]]): a band bucket over [[HotBucketCap]]
    * rows runs salted over [[HotBucketSalts]] tasks instead of
    * enumerating its pairs in one. cap=1024 bounds a cold bucket's
    * single-task pair work at ~1M floor evaluations (sub-second); no
    * bucket in the gated corpora comes near it, so gate plans take the
    * cold branch end-to-end. */
  val HotBucketCap = 1024
  val HotBucketSalts = 32

  /** Integer numerator of the provably-safe size prune
    * (`10·min(n) >= tNum·max(n)` keeps a pair only when its best-case
    * Jaccard `min/max` can still reach `tNum/10`). FLOOR, not round:
    * the prune is only provably safe while `tNum/10 <= threshold`, and
    * `round(t*10)` breaks that off the 0.1 grid (t=0.75 → 8 silently
    * drops pairs with true J in [0.75, 0.8)). The 1e-9 nudge only
    * cancels binary representation error (0.7*10 = 6.999…96 must stay
    * 7, on both engines' identical doubles), six orders below any
    * meaningful threshold distinction. */
  private[graft] def tNumOf(threshold: Double): Long =
    math.floor(threshold * 10 + 1e-9).toLong

  /** Metadata key [[signatureFrame]] stamps on its `sig` field: the
    * geometry width the signatures were computed at. Survives selects,
    * fences, unions and parquet round-trips, so downstream stages can
    * fail fast on a frame/geometry mismatch instead of silently
    * zero-padding agreement counts. */
  val NumPermMetaKey = "graft.numPerm"

  /** The signature width recorded in a frame's `sig` field metadata,
    * when the frame (or the parquet table it was read from) came from
    * [[signatureFrame]]. */
  def sigWidthOf(df: DataFrame): Option[Int] = sigWidthOf(df.schema)

  def sigWidthOf(schema: org.apache.spark.sql.types.StructType)
      : Option[Int] =
    schema.fields.find(_.name == "sig")
      .filter(_.metadata.contains(NumPermMetaKey))
      .map(_.metadata.getLong(NumPermMetaKey).toInt)

  /** Fail fast (plan time) when a signature-carrying frame's recorded
    * width disagrees with the geometry a stage is about to apply —
    * zip_with over mismatched widths null-pads, agreement caps below
    * the floor, and the stage silently emits nothing (the
    * requireIntegralIds precedent). Frames without the metadata (hand-
    * built fixtures, legacy tables) pass unchecked. */
  private def requireGeom(df: DataFrame, geom: LshGeometry,
                          where: String): Unit =
    sigWidthOf(df).foreach { w =>
      require(w == geom.numPerm,
        s"$where: frame carries $w-perm signatures but the supplied " +
          s"geometry expects ${geom.numPerm} (${geom.bands}x${geom.rows})" +
          " — derive the geometry once with MinHashLSH.geometryFor(" +
          "threshold) and pass the same value to every stage; a " +
          "threshold change over stored signatures requires recomputing " +
          "them")
    }

  /** Shingles that appear in more than `maxDfFrac` of the corpus's
    * docs — the template boilerplate whose argmin wins are corpus-
    * globally correlated (the COVERAGE "Known limits" finding: which
    * common shingle wins a permutation is shared across every doc, so
    * single-corpus banding recall has a wide distribution; measured
    * 404-vs-267 verified pairs on structurally identical corpora).
    * The returned set is SMALL by construction: a shingle over the df
    * cut occurs in > maxDfFrac·N docs, so there are at most
    * avgShinglesPerDoc / maxDfFrac of them — bounded by document
    * length, never by corpus size, which is what makes the driver-side
    * collect safe at any scale. One aggregate job + one count job. */
  def commonShingles(docs: DataFrame, idCol: String, textCol: String,
                     q: Int = 3, maxDfFrac: Double = 0.5): Array[Long] = {
    require(maxDfFrac > 0.0 && maxDfFrac < 1.0,
      s"maxDfFrac must be in (0,1): $maxDfFrac")
    val sh = Fence(shingleSets(docs, idCol, textCol, q))
    val n = sh.filter(col("sh").isNotNull).count()
    if (n == 0) Array.emptyLongArray
    else sh.select(explode(col("sh")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(maxDfFrac) * lit(n))
      .select(col("h")).collect().map(_.getLong(0)).sorted
  }

  /** Near-duplicate pairs (idA < idB) with exact Jaccard >= threshold
    * among LSH band-collision candidates, at the threshold-fitted
    * [[geometryFor]] band geometry. Output: (doc_a, doc_b, jacc).
    *
    * Verify is two-staged for scale: candidates first meet over the
    * numPerm-element signatures (a fixed few dozen longs/row — cheap to
    * shuffle at any corpus size) and only signature-agreement survivors
    * join the full shingle arrays for the exact intersect. This keeps
    * the wide arrays out of the candidate-volume join entirely.
    *
    * `maxDfFrac = Some(f)` enables doc-frequency-weighted shingle
    * filtering (the PPJoin rarest-first idea applied to MinHash):
    * shingles present in more than `f` of the docs are dropped before
    * signing, so argmin wins come from the informative tail instead of
    * the corpus-global boilerplate — decorrelating per-corpus banding
    * recall. Sizes, signatures, banding, the floor AND the verified
    * Jaccard all operate on the filtered shingle space consistently.
    * Loss bound, exact: removing x shingles common to a pair moves
    * J = I/U to (I−x)/(U−x) ≥ (I−C)/(U−C) where C is the pair's
    * common-shingle mass, so any pair with unfiltered J ≥ t+m
    * still verifies at t while C ≤ m/(1−t)·U (t=0.8, m=0.1 → half
    * the union may be boilerplate) — pinned by TextSimSpec's property
    * test. Default None: byte-identical to the frozen dd03/dp01
    * oracles. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   q: Int = 3, threshold: Double = 0.8,
                   maxDfFrac: Option[Double] = None): DataFrame = {
    val geom = geometryFor(threshold)
    val drop = maxDfFrac
      .map(f => commonShingles(docs, idCol, textCol, q, f))
      .filter(_.nonEmpty)
    // Shingles + all numPerm signatures in one JIT mapPartitions pass
    // (the ts04/ts05 precedent): the Column form runs numPerm
    // interpreted HOF transforms over ~n-element shingle arrays per row
    // — the dominant cost of the whole query (~40% at sf0.1). Identical
    // integer math: codepoint mod 257, base-31 q-gram polynomial,
    // first-occurrence distinct, (a*h+b) mod P minima; null text → null
    // row, short text → empty shingles and null signature elements,
    // exactly like [[TextHash.shingleHashesFromCodes]] + [[minhash]]
    // (pinned by TextSimSpec). The oracle SQL is unchanged.
    val all = Fence(signatureFrame(docs, idCol, textCol, q, geom, drop))
    // the verify kernels and the group-collapse id casts both need
    // integral ids — fail at plan time, before any job runs
    SetVerify.requireIntegralIds(all, "id")
    // GROUP-COLLAPSE (skew containment, exact — see [[GroupCollapse]]):
    // set-identical docs would all land in the SAME band buckets and
    // the self-join enumerates O(group²) pairs inside one task — the
    // one shuffle in the engine that can go quadratic per task. Band
    // one smallest-id representative per group; recover member pairs
    // exactly afterwards.
    val collapsed = GroupCollapse.collapse(all)
    val reps = collapsed.reps
    // The size prune + agreement floor are FUSED into the band join:
    // the band frame carries each doc's fixed-width (n, sig), so
    // collided pairs are filtered in the join's own stage and only
    // floor survivors (measured 22–53% at t=0.7) reach the distinct
    // shuffle, carrying two ids. The alternative — distinct all
    // collided pairs, then equi-join the signature frame back on —
    // re-shuffles every candidate with both 48-long signatures
    // attached (a sort-merge join once the signature side outgrows
    // broadcast, measured at ~50k docs); the fused shuffle is
    // docs × bands signature-carrying band rows instead, linear in
    // the corpus. Floor evaluation repeats per colliding band for
    // multi-band pairs (a cheap codegen zip_with; only near-exact
    // dups collide in several bands) — pair semantics are identical
    // because the floor is deterministic per pair, and the oracle SQL
    // (floor before DISTINCT, same integer math) is equivalent.
    // deliberately UNFENCED: the guarded join's three references to
    // the band frame (count aggregate + both tagged sides) are
    // identical subtrees, so ReuseExchange shares the fan-out shuffle
    // inside bandFrameWithSig across them. Both fence flavors measure
    // WORSE here: persist() pays a columnar encode of the sig arrays
    // and hands AQE a small, accurate size stat that flips the guarded
    // join to a broadcast (defeating the salt spread — see SkewJoin);
    // localCheckpoint on a plan containing the fan-out repartition
    // executes that exchange eagerly as serialized driver jobs at plan
    // time (the Fence.soft scaladoc's failure mode, measured 2-3x on
    // the probe's control).
    val bands = bandFrameWithSig(reps, geom)
    val survivors =
      collidedSurvivors(bands, bands, threshold, geom, selfJoin = true)
    val repPairs = verifySurvivors(survivors, reps, threshold)
    GroupCollapse.expand(repPairs, collapsed, "jacc")
  }

  /** Floor-filtered collided pairs between two sig-carrying band
    * frames ([[bandFrameWithSig]]): the band equi-join with the size
    * prune + signature-agreement floor applied inside the join's own
    * stage, deduplicated to (doc_a, doc_b) afterwards — the fused
    * shape whose shuffle is linear in band rows, never in candidates.
    * `selfJoin = true` orders pairs (a.id < b.id) for a frame joined
    * with itself; `false` takes every (a, b) combination — the
    * incremental pipeline's new-vs-seen cross join, where the two
    * sides are disjoint by construction. */
  def collidedSurvivors(bandsA: DataFrame, bandsB: DataFrame,
                        threshold: Double, geom: LshGeometry,
                        selfJoin: Boolean,
                        hotCap: Int = HotBucketCap,
                        hotSalts: Int = HotBucketSalts): DataFrame = {
    requireGeom(bandsA, geom, "collidedSurvivors")
    requireGeom(bandsB, geom, "collidedSurvivors")
    val agree = size(filter(zip_with(col("a.sig"), col("b.sig"),
      (x, y) => x === y), v => v))
    val tNum = tNumOf(threshold)
    graft.core.SkewJoin.guardedPairs(bandsA, bandsB,
        Seq("band_idx", "band_key"), selfJoin,
        hotCap, hotSalts) { j =>
      j.filter(lit(10) * least(col("a.n"), col("b.n")) >=
          lit(tNum) * greatest(col("a.n"), col("b.n")))
        .filter(agree >= minAgree(threshold, geom.numPerm))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    }.distinct()
  }

  /** The post-floor verify tail shared by the batch and incremental
    * operators: bottom-k sampled-Jaccard prune (below [[SampleCutoff]])
    * then the exact full-array kernel, over a [[signatureFrame]]. */
  def verifySurvivors(survivors: DataFrame, sigFrame: DataFrame,
                      threshold: Double,
                      sb: Option[DataFrame] = None): DataFrame = {
    val toVerify =
      if (threshold < SampleCutoff)
        SetVerify.samplePrune(survivors,
          sb.getOrElse(bottomKFrame(sigFrame)), threshold - 0.05, BottomK)
      else survivors
    SetVerify.jaccard(toVerify,
      sigFrame.select(col("id"), col("sh")), threshold)
  }

  /** [[bandFrame]] with the verify floor's fixed-width columns riding
    * along: (id, n, sig, band_idx, band_key) — lets [[nearDupPairs]]
    * filter collided pairs inside the band join's stage instead of
    * re-joining signatures onto the candidate volume. */
  def bandFrameWithSig(sigFrame: DataFrame,
                       geom: LshGeometry = DefaultGeometry): DataFrame = {
    requireGeom(sigFrame, geom, "bandFrameWithSig")
    def bandKey(b: Int): Column = concat_ws("_",
      (0 until geom.rows).map(r =>
        element_at(col("sig"), b * geom.rows + r + 1).cast("string")): _*)
    graft.core.Par.fanOut(sigFrame.select(col("id"), col("n"), col("sig"),
      posexplode(array((0 until geom.bands).map(bandKey): _*))
        .as(Seq("band_idx", "band_key"))))
  }

  /** Banding stage over a [[signatureFrame]] of the same geometry:
    * (id, band_idx, band_key). Exposed so incremental pipelines can
    * band new docs against STORED band frames instead of recomputing
    * the seen corpus's signatures per batch
    * ([[graft.streaming.CorpusStream]]). Parallelism is pinned: the
    * band frame is tiny in bytes but fans out into the bucket join
    * (graft.core.Par scaladoc). */
  def bandFrame(sigFrame: DataFrame,
                geom: LshGeometry = DefaultGeometry): DataFrame = {
    requireGeom(sigFrame, geom, "bandFrame")
    def bandKey(b: Int): Column = concat_ws("_",
      (0 until geom.rows).map(r =>
        element_at(col("sig"), b * geom.rows + r + 1).cast("string")): _*)
    graft.core.Par.fanOut(sigFrame.select(col("id"),
      posexplode(array((0 until geom.bands).map(bandKey): _*))
        .as(Seq("band_idx", "band_key"))))
  }

  /** Cascaded exact verify over an ALREADY-MATERIALIZED candidate
    * pair list — the compositional form for callers that obtain
    * candidates some other way. When the candidates come from a band
    * join you control, prefer [[collidedSurvivors]] +
    * [[verifySurvivors]] (as [[nearDupPairs]] and the incremental
    * pipeline do): this form re-joins the signature frame onto the
    * full candidate volume for the floor, which degrades to a
    * candidate-row sort-merge join once the signature side outgrows
    * broadcast. Stages ordered by cost:
    *  1. the provably-safe size prune and the signature-agreement floor
    *     over the fixed-width (n, sig) columns (cheap to shuffle at any
    *     corpus size);
    *  2. below [[SampleCutoff]], the bottom-[[BottomK]] sampled-Jaccard
    *     prune ([[SetVerify.samplePrune]]) — an O(k) merge per pair
    *     whose estimate is sharp enough to drop a correlated corpus's
    *     just-below-threshold shoulder before the full arrays move;
    *  3. the full shingle-array exact intersect in the shared
    *     [[SetVerify]] merge kernel.
    * Every stage is deterministic integer/double math mirrored in the
    * oracle SQL, so the two sides can never disagree on which pairs
    * are emitted. `geom` must match the signature frame's width. */
  def verifyCandidates(cand: DataFrame, sigFrame: DataFrame,
                       threshold: Double,
                       geom: LshGeometry = DefaultGeometry): DataFrame = {
    requireGeom(sigFrame, geom, "verifyCandidates")
    val sh = sigFrame.select(col("id"), col("sh"))
    val sig = sigFrame.select(col("id"), col("n"), col("sig"))
    val tNum = tNumOf(threshold)
    val ga = sig.select(col("id").as("doc_a"), col("n").as("n_a"),
      col("sig").as("sig_a"))
    val gb = sig.select(col("id").as("doc_b"), col("n").as("n_b"),
      col("sig").as("sig_b"))
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
    val survivors = cand.join(ga, Seq("doc_a")).join(gb, Seq("doc_b"))
      // provably-safe size prune: a size ratio below the threshold
      // already bounds Jaccard below it
      .filter(lit(10) * least(col("n_a"), col("n_b")) >=
        lit(tNum) * greatest(col("n_a"), col("n_b")))
      .filter(agree >= minAgree(threshold, geom.numPerm))
      .select(col("doc_a"), col("doc_b"))
    val toVerify =
      if (threshold < SampleCutoff)
        SetVerify.samplePrune(survivors, bottomKFrame(sigFrame),
          threshold - 0.05, BottomK)
      else survivors
    SetVerify.jaccard(toVerify, sh, threshold)
  }

  // ---- driver twins of the cascade ------------------------------------
  //
  // For metadata-scale inputs (the incremental pipeline's small
  // micro-batches) the band join, floor and verify run on the driver
  // over collected rows: the same integer math as [[bandFrameWithSig]],
  // [[collidedSurvivors]] and [[verifySurvivors]] with the same null
  // rules, so the two forms give the same pairs (pinned by StreamingSpec).

  /** One band row on the driver — a [[bandFrameWithSig]] row: `n` and
    * `sig` (and `sig`'s elements) may be null, as in the frame. */
  private[graft] final case class BandRow(id: Long, n: java.lang.Integer,
      sig: Array[java.lang.Long], idx: Int, key: String)

  /** [[bandFrameWithSig]]'s rows for one doc: band `b`'s key is the
    * `concat_ws("_")` of its `rows` signature elements as strings, a
    * null element (or a null signature) skipped. */
  private[graft] def driverBands(id: Long, n: java.lang.Integer,
      sig: Array[java.lang.Long], geom: LshGeometry): Seq[BandRow] =
    (0 until geom.bands).map { b =>
      val key = (0 until geom.rows).iterator
        .map(r => b * geom.rows + r)
        .flatMap(i => if (sig == null || i >= sig.length) None
                      else Option(sig(i)))
        .mkString("_")
      BandRow(id, n, sig, b, key)
    }

  /** [[collidedSurvivors]] over driver band rows: the (band, key)
    * equi-join (`a.id < b.id` with `selfJoin`), the size prune with
    * `least`/`greatest`'s skip-null semantics and the agreement floor
    * (a null signature never passes: its agreement is null, or -1
    * without ANSI — below the floor of any threshold >= 0.05). Distinct
    * (doc_a, doc_b) pairs in first-found order. */
  private[graft] def driverSurvivors(bandsA: Seq[BandRow],
      bandsB: Seq[BandRow], threshold: Double, geom: LshGeometry,
      selfJoin: Boolean): Seq[(Long, Long)] = {
    val tNum = tNumOf(threshold)
    val floor = minAgree(threshold, geom.numPerm)
    def sizeOk(x: java.lang.Integer, y: java.lang.Integer): Boolean =
      (Option(x) ++ Option(y)).map(_.toLong) match {
        case Nil => false
        case ns => 10L * ns.min >= tNum * ns.max
      }
    def agree(x: Array[java.lang.Long], y: Array[java.lang.Long]): Int = {
      var k = 0; var i = 0
      while (i < math.min(x.length, y.length)) {
        if (x(i) != null && y(i) != null && x(i).longValue == y(i).longValue)
          k += 1
        i += 1
      }
      k
    }
    val byBucket = bandsB.groupBy(r => (r.idx, r.key))
    val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    for {
      a <- bandsA
      b <- byBucket.getOrElse((a.idx, a.key), Nil)
      if !selfJoin || a.id < b.id
      if sizeOk(a.n, b.n) && a.sig != null && b.sig != null &&
        agree(a.sig, b.sig) >= floor
    } out += ((a.id, b.id))
    out.toSeq
  }

  /** One doc's verify-side arrays on the driver: `sh` SORTED ascending
    * and the bottom-k sketch `sb`; either is null where the frame's is. */
  private[graft] final case class DriverSketch(sh: Array[Long],
                                               sb: Array[Long])

  private[graft] def driverSketch(sh: scala.collection.Seq[Long],
      sb: scala.collection.Seq[Long]): DriverSketch =
    DriverSketch(
      if (sh == null) null
      else { val s = sh.toArray; java.util.Arrays.sort(s); s },
      if (sb == null) null else sb.toArray)

  /** The one per-pair check of [[verifySurvivors]] on the driver: below
    * [[SampleCutoff]] the bottom-k floor ([[SetVerify.samplePrune]]:
    * a null sketch drops the pair, `taken > 0 && inter/taken >= t −
    * 0.05`), then the exact Jaccard ([[SetVerify.jaccard]]: a null
    * array drops the pair, two empty arrays give 0/0 and fail). */
  private[graft] def pairVerifies(a: DriverSketch, b: DriverSketch,
                                  threshold: Double): Boolean = {
    val sampled = threshold >= SampleCutoff || (
      a.sb != null && b.sb != null && {
        val (inter, taken) = SetVerify.bottomKInterTaken(a.sb, b.sb, BottomK)
        taken > 0 && inter.toDouble / taken >= threshold - 0.05
      })
    sampled && a.sh != null && b.sh != null && {
      val inter = SetVerify.sortedIntersect(a.sh, b.sh)
      inter.toDouble / (a.sh.length + b.sh.length - inter) >= threshold
    }
  }

  /** [[verifySurvivors]] over driver pairs, `doc_a`'s sketch from `skA`
    * and `doc_b`'s from `skB`: a pair missing either drops, as the inner
    * joins drop it. */
  private[graft] def driverVerify(pairs: Seq[(Long, Long)],
      skA: Long => Option[DriverSketch], skB: Long => Option[DriverSketch],
      threshold: Double): Seq[(Long, Long)] =
    pairs.filter { case (a, b) =>
      (skA(a), skB(b)) match {
        case (Some(x), Some(y)) => pairVerifies(x, y, threshold)
        case _ => false
      }
    }

  /** Per-doc bottom-[[BottomK]] sketch over a [[signatureFrame]]:
    * (id, sb) with `sb` the k smallest shingle hashes sorted ascending
    * — a per-DOC projection (one sort per row, never per pair), so the
    * sample stage's candidate join ships 128 longs instead of the full
    * array. */
  private def bottomKFrame(sigFrame: DataFrame): DataFrame =
    sigFrame.select(col("id"), bottomKCol(col("sh")).as("sb"))

  /** The bottom-[[BottomK]] sketch as a column expression — exposed so
    * incremental pipelines can compute each doc's sketch ONCE on
    * arrival and persist it next to the signature, instead of
    * re-sorting every stored doc's shingle array per batch. */
  def bottomKCol(sh: Column): Column =
    slice(array_sort(sh), 1, BottomK)

  /** Shingling only — (id, sh): the light one-pass kernel the
    * doc-frequency pass ([[commonShingles]]) runs, identical integer
    * math to [[signatureFrame]] without paying for signatures. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  q: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField,
      StructType}
    val base = graft.core.Par.ensure(docs.select(col(idCol).as("id"),
      col(textCol).cast("string").as("__t")))
    val schema = StructType(Seq(base.schema.head,
      StructField("sh", ArrayType(LongType, true), true)))
    val signer = new Signer(q, 0, Array.emptyLongArray)
    base.mapPartitions { rows =>
      rows.map { r =>
        org.apache.spark.sql.Row(r.get(0),
          if (r.isNullAt(1)) null else signer.shingles(r.getString(1)))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** One doc's [[signatureFrame]] row: `sh` in the kernel's first-seen
    * order, and `sig` (each element null when `sh` is empty, as the
    * Column form's `array_min([])`); both null for a null text. */
  private[graft] final case class Signed(sh: Array[Long],
                                         sig: Array[java.lang.Long]) {
    def n: java.lang.Integer =
      if (sh == null) null else Int.box(sh.length)
  }

  /** The per-row kernel [[signatureFrame]]'s partitions and the
    * incremental pipeline's driver both run, so the two cannot drift:
    * the distinct q-gram shingle hashes of a text's code points (base-31
    * over `code % CodeMod`, [[TextHash]]), minus `drop`, and their
    * `numPerm` minhash signature. Serializable: the frame form ships it
    * to the executors. */
  private[graft] final class Signer(q: Int, numPerm: Int,
      drop: Array[Long]) extends Serializable {
    private val pow = TextHash.pow31.toArray
    private val cm = TextHash.CodeMod
    private val pa = Array.tabulate(numPerm)(permA)
    private val pb = Array.tabulate(numPerm)(permB)
    @transient private lazy val dropSet = {
      val d = new java.util.HashSet[java.lang.Long](
        math.max(16, drop.length * 2))
      drop.foreach(d.add(_))
      d
    }

    def shingles(txt: String): Array[Long] = {
      val cps = txt.codePoints().toArray
      val drops = dropSet
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i + q <= cps.length) {
        var h = 0L; var j = 0
        while (j < q) {
          h += cps(i + j).toLong % cm * pow(q - 1 - j); j += 1
        }
        if (!drops.contains(h)) seen.add(h)
        i += 1
      }
      val sh = new Array[Long](seen.size)
      val it = seen.iterator(); var k = 0
      while (it.hasNext) { sh(k) = it.next(); k += 1 }
      sh
    }

    def apply(txt: String): Signed =
      if (txt == null) Signed(null, null)
      else {
        val sh = shingles(txt)
        // minhash of an empty shingle set is null (array_min([]))
        val sig: Array[java.lang.Long] =
          if (sh.isEmpty) Array.fill[java.lang.Long](numPerm)(null)
          else {
            val out = new Array[java.lang.Long](numPerm)
            var jj = 0
            while (jj < numPerm) {
              var m = Long.MaxValue; var x = 0
              while (x < sh.length) {
                val v = (pa(jj) * sh(x) + pb(jj)) % P
                if (v < m) m = v
                x += 1
              }
              out(jj) = m; jj += 1
            }
            out
          }
        Signed(sh, sig)
      }
  }

  /** [[bottomKCol]] of one shingle array on the driver: its
    * [[BottomK]] smallest values ascending; null for null. */
  private[graft] def driverBottomK(sh: Array[Long]): Array[Long] =
    if (sh == null) null
    else { val s = sh.clone(); java.util.Arrays.sort(s); s.take(BottomK) }

  /** The field metadata [[signatureFrame]] stamps on `sig`. */
  private[graft] def sigMeta(numPerm: Int)
      : org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(NumPermMetaKey, numPerm.toLong).build()

  /** Kernel twin of shingling + [[minhash]]: one pass per row computing
    * (id, distinct q-gram shingle hashes, their count, the numPerm
    * minhash signature) through [[Signer]]. Exposed for the TextSimSpec
    * pin against the Column form. `dropShingles` (the df-filter path —
    * see [[nearDupPairs]]) removes the given hashes from every doc's
    * shingle set before counting or signing, as if the q-grams were
    * never in the text. */
  def signatureFrame(docs: DataFrame, idCol: String, textCol: String,
                     q: Int,
                     geom: LshGeometry = DefaultGeometry,
                     dropShingles: Option[Array[Long]] = None): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
      StructField, StructType}
    // spread the kernel (and the fence blocks every downstream
    // reference scans) across the configured parallelism: a small
    // local parquet plans as ONE split, serializing the signature
    // compute AND each of the ~10 downstream checkpoint scans into
    // single 0.6 s tasks (measured); on a cluster the scan is already
    // wide and this is a no-op
    val base = graft.core.Par.ensure(docs.select(col(idCol).as("id"),
      col(textCol).cast("string").as("__t")))
    val meta = sigMeta(geom.numPerm)
    val schema = StructType(Seq(base.schema.head,
      StructField("sh", ArrayType(LongType, true), true),
      StructField("n", IntegerType, true),
      StructField("sig", ArrayType(LongType, true), true, meta)))
    val signer = new Signer(q, geom.numPerm,
      dropShingles.getOrElse(Array.emptyLongArray))
    base.mapPartitions { rows =>
      rows.map { r =>
        val s = signer(if (r.isNullAt(1)) null else r.getString(1))
        org.apache.spark.sql.Row(r.get(0), s.sh, s.n, s.sig)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      // the row encoder's serializer drops field metadata: stamp the
      // width on the output column itself, where selects, joins,
      // fences and parquet writes carry it
      .withColumn("sig", col("sig").as("sig", meta))
  }

  /** Oracle SQL for [[nearDupPairs]] over table `tbl`, generated from
    * the same constants and the same threshold-fitted geometry — the
    * two sides can never disagree on (bands, rows, floor). */
  def nearDupPairsSql(tbl: String, idCol: String, textCol: String,
                      q: Int = 3, threshold: Double = 0.8): String = {
    val geom = geometryFor(threshold)
    val numPerm = geom.numPerm
    val sigExprs = (0 until numPerm).map { j =>
      s"list_min(list_transform(sh, h -> (${permA(j)} * h + ${permB(j)}) % $P)) AS s$j"
    }.mkString(",\n            ")
    val bandSelects = (0 until geom.bands).map { b =>
      val key = (0 until geom.rows)
        .map(r => s"CAST(s${b * geom.rows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT id, $b AS band_idx, $key AS band_key FROM sig"
    }.mkString("\n            UNION ALL ")
    val tNum = tNumOf(threshold)
    val agreeSum = (0 until numPerm)
      .map(j => s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // the bottom-k sampled-Jaccard cascade stage (threshold <
    // SampleCutoff only — see [[SampleCutoff]]): the k smallest
    // distinct values of the two sketches' union are the k smallest of
    // the full shingle union, and membership in both sketches decides
    // intersection membership for them — identical math to
    // [[SetVerify.samplePrune]]'s merge, including the double division
    // and the interpolated floor constant
    val sampleStage =
      if (threshold < SampleCutoff) {
        val unionK =
          s"list_sort(list_distinct(x.sb || y.sb))[1:$BottomK]"
        s"""ss AS (SELECT id, list_sort(sh)[1:$BottomK] AS sb FROM sh),
          samp AS (SELECT doc_a, doc_b
            FROM est JOIN ss x ON est.doc_a = x.id
                     JOIN ss y ON est.doc_b = y.id
            WHERE CAST(len(list_intersect(list_intersect(
                  $unionK, x.sb), y.sb)) AS DOUBLE)
                / CAST(len($unionK) AS DOUBLE) >= ${threshold - 0.05}),
          """
      } else ""
    val verifyInput = if (threshold < SampleCutoff) "samp" else "est"
    s"""WITH sh AS (SELECT $idCol AS id,
            ${TextHash.shingleHashesSql(textCol, q)} AS sh FROM $tbl),
          sig AS (SELECT id, sh, $sigExprs FROM sh),
          bands AS ($bandSelects),
          cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                AND a.id < b.id),
          est AS (SELECT doc_a, doc_b
            FROM cand JOIN sig x ON cand.doc_a = x.id
                      JOIN sig y ON cand.doc_b = y.id
            WHERE 10 * least(len(x.sh), len(y.sh)) >=
                    $tNum * greatest(len(x.sh), len(y.sh))
              AND ($agreeSum) >= ${minAgree(threshold, numPerm)}),
          ${sampleStage}v AS (SELECT doc_a, doc_b,
              len(list_intersect(x.sh, y.sh)) AS inter,
              len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS un
            FROM $verifyInput JOIN sh x ON $verifyInput.doc_a = x.id
                     JOIN sh y ON $verifyInput.doc_b = y.id)
        SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / un AS jacc FROM v
        WHERE CAST(inter AS DOUBLE) / un >= $threshold
        ORDER BY doc_a, doc_b"""
  }
}

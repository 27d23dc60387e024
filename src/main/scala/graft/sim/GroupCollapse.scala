package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Fence, SkewJoin}

/** Exact group-collapse of identical rows — the shared skew containment
  * of the set-similarity self-joins ([[MinHashLSH]], [[JaccardJoin]],
  * keyed on the shingle set) and of the embedding near-dup band join
  * ([[graft.ann.Ann.embeddingNearDupLsh]], keyed on the vector, scoring
  * each group by its self-cosine).
  *
  * Docs with the same shingle SET are indistinguishable to every stage
  * of a set-similarity pipeline: signatures, band keys, prefix tokens,
  * sizes, sketches and the exact Jaccard against any third doc are all
  * functions of the set alone. A crawl corpus's boilerplate/mirror
  * groups (thousands of set-identical docs) would otherwise all land in
  * the same band/prefix buckets, and a bucket self-join enumerates
  * O(group²) pairs inside one task. Running the pipeline on one
  * representative per group makes the degenerate case O(groups), and
  * recovery is EXACT: a member pair across two groups inherits its
  * representatives' verified score verbatim, and within-group pairs
  * have J = 1.0 ≥ t by definition (identical non-empty sets).
  *
  * THE COLLAPSE IS CONDITIONAL. Collapse + expand is pair-for-pair
  * equivalent to the plain pipeline (pinned by SkewSpec), so it is pure
  * overhead until some group is big enough to matter: its key/group/
  * member/recovery joins cost a measured ~2 s per operator at sf0.1 —
  * on a corpus whose largest duplicate group is TWO. [[collapse]]
  * therefore first measures the largest duplicate-group size with one
  * narrow aggregate (hashing the precomputed signature when the frame
  * carries one — no sort — else the sorted shingle array; collisions
  * only ever ACTIVATE the machinery, never skip it, so a 64-bit key is
  * enough for the trigger). At or under [[CollapseCap]] the collapse is
  * the identity and the operator runs the plain plan verbatim; above it
  * the full machinery engages. The cap is sized so the worst skipped
  * group enumerates at most cap² = [[MinHashLSH.HotBucketCap]] pairs
  * inside one band bucket — the same per-task pair budget the salted
  * band join already accepts.
  *
  * The active path's group key is two independent xxhash64 values over
  * the sorted shingle hashes — 128 combined bits, the dd01 fingerprint
  * contract (collisions below operational probability). Docs with
  * null/empty shingle sets stay ungrouped and flow through the pipeline
  * unchanged (they can never verify at any t > 0, exactly as before).
  * Its cost shape: narrow (gk, id) aggregates, reps = the input minus a
  * broadcast anti-join against the non-representative duplicate ids
  * (the caller's own rows, schema untouched), all driver-action-free
  * and cache-shared ([[Fence.soft]] — a hard fence on a shuffled plan
  * would run the shuffle eagerly at plan-construction time).
  */
private[graft] object GroupCollapse {

  /** Largest duplicate-group size the plain pipeline absorbs without
    * the collapse: cap² = the [[MinHashLSH.HotBucketCap]] per-task
    * pair budget. */
  val CollapseCap = 32

  /** What makes rows duplicates of each other: `groupable` selects the
    * rows that can group at all (the rest stay ungrouped and flow
    * through unchanged), `probe` is the 64-bit hash the trigger
    * aggregate groups by (collisions only ever ACTIVATE the machinery),
    * and `exact` the 128-bit group key of the active path. */
  final case class Key(groupable: Column, probe: Column, exact: Column)

  /** Shingle-set identity over an `sh` column: null/empty sets stay
    * ungrouped; the trigger hashes the precomputed signature when the
    * frame carries one (no per-row sort; set-identical ⇒
    * signature-identical, so it can only over-trigger), else the
    * sorted shingle array. */
  def setKey(frame: DataFrame): Key = Key(
    col("sh").isNotNull && size(col("sh")) > 0,
    if (frame.columns.contains("sig")) xxhash64(col("sig"))
    else xxhash64(array_sort(col("sh"))),
    struct(xxhash64(array_sort(col("sh"))).as("h1"),
           xxhash64(array_sort(col("sh")), lit(1)).as("h2")))

  /** The collapse of one input frame. Inactive (largest duplicate
    * group at or under [[CollapseCap]]): `reps` IS the input and
    * [[expand]] is the identity. Active: the cached narrow
    * (gk, rep_id, g_n) group table, the input minus non-representative
    * duplicate members, and the cached (gk, id) members of multi-member
    * groups. */
  final case class Collapsed(groups: DataFrame, reps: DataFrame,
                             memMulti: DataFrame, active: Boolean)

  /** Collapse an (id, sh, …) frame by shingle set ([[setKey]]). */
  def collapse(frame: DataFrame): Collapsed = collapse(frame, setKey(frame))

  /** Collapse an (id, …) frame under `k`. The largest duplicate-group
    * size is measured first by one narrow aggregate over the caller's
    * frame, which should already be fenced (every call site fences
    * it). Ids must be integral ([[SetVerify.requireIntegralIds]] —
    * enforced by callers). */
  def collapse(frame: DataFrame, k: Key): Collapsed = {
    val m = frame.filter(k.groupable)
      .groupBy(k.probe.as("dk")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("m")).collect()(0)
    if (m.isNullAt(0) || m.getLong(0) <= CollapseCap)
      return Collapsed(null, frame, null, active = false)
    val keyed = Fence.soft(frame.select(col("id").cast("long").as("id"),
      when(k.groupable, k.exact).as("gk")))
    val groups = Fence.soft(keyed.filter(col("gk").isNotNull)
      .groupBy(col("gk"))
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("g_n")))
    val multi = groups.filter(col("g_n") > 1)
    val memMulti = Fence.soft(
      keyed.join(multi.select(col("gk")), Seq("gk"), "left_semi"))
    val dropIds = memMulti
      .join(multi.select(col("gk"), col("rep_id")), Seq("gk"))
      .filter(col("id") =!= col("rep_id"))
      .select(col("id").as("__did"))
    val reps = frame.join(dropIds,
      col("id").cast("long") === col("__did"), "left_anti")
    Collapsed(groups, reps, memMulti, active = true)
  }

  /** Exact recovery: expand rep-level verified pairs
    * (`pair._1`, `pair._2`, `scoreCol`) to member level — the identity
    * when the collapse is inactive. Active: ONE lazy join chain (no
    * branch split, so the verify plan upstream executes once) — each
    * side left-tags its multi-group key (null for the untouched common
    * case, and a null gk equi-matches no member), then left-joins the
    * members per side, replicating by group size, never by pair volume
    * squared; `coalesce` passes untouched ids through verbatim.
    * Within-group pairs ride the guarded gk self-join (salted past
    * `hotCap`), so a huge duplicate group emits its inherent O(g²)
    * OUTPUT rows across salted tasks. Their score is 1.0 (identical
    * non-empty sets) unless `groupScore` maps the multi-member groups
    * (gk, rep_id, g_n) to (gk, `scoreCol`) rows — a group it drops
    * emits no within-group pair. */
  def expand(repPairs: DataFrame, c: Collapsed, scoreCol: String,
             pair: (String, String) = ("doc_a", "doc_b"),
             hotCap: Int = MinHashLSH.HotBucketCap,
             hotSalts: Int = MinHashLSH.HotBucketSalts,
             groupScore: Option[DataFrame => DataFrame] = None)
      : DataFrame = {
    val (pa, pb) = pair
    val asLong = repPairs.select(col(pa).cast("long").as(pa),
      col(pb).cast("long").as(pb), col(scoreCol))
    if (!c.active) return asLong
    val multi = c.groups.filter(col("g_n") > 1)
    val cross = asLong
      .join(multi.select(col("rep_id").as(pa), col("gk").as("gk_a")),
        Seq(pa), "left")
      .join(multi.select(col("rep_id").as(pb), col("gk").as("gk_b")),
        Seq(pb), "left")
      .join(c.memMulti.select(col("gk").as("gk_a"), col("id").as("__ma")),
        Seq("gk_a"), "left")
      .join(c.memMulti.select(col("gk").as("gk_b"), col("id").as("__mb")),
        Seq("gk_b"), "left")
      .select(
        least(coalesce(col("__ma"), col(pa)),
              coalesce(col("__mb"), col(pb))).as(pa),
        greatest(coalesce(col("__ma"), col(pa)),
                 coalesce(col("__mb"), col(pb))).as(pb),
        col(scoreCol))
    val members = groupScore.fold(c.memMulti)(f =>
      c.memMulti.join(f(multi), Seq("gk")))
    val within = SkewJoin.guardedPairs(members, members, Seq("gk"),
        selfJoin = true, hotCap, hotSalts) { j =>
      j.select(col("a.id").as(pa), col("b.id").as(pb),
        groupScore.fold(lit(1.0))(_ => col(s"a.$scoreCol")).as(scoreCol))
    }
    cross.unionByName(within)
  }
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The salted-join rewrites: [[guardedPairs]] for bucket equi-joins
  * whose OUTPUT goes quadratic in one task, [[saltedEquiJoin]] for a
  * plain equi-join whose INPUT has one dominant key.
  *
  * Hot-bucket containment for bucket equi-joins whose OUTPUT (not input)
  * can go quadratic in a single task.
  *
  * An LSH band/bucket self-join produces `|bucket|²` pairs per bucket in
  * the one task that owns the bucket's key. AQE's skew-join splitting
  * cannot catch this: it triggers on shuffle-partition INPUT bytes, and
  * a 10k-row bucket is a few MB of input that explodes into 10⁸ pairs
  * only inside the join operator. On crawl-scale corpora (boilerplate,
  * mirrored pages) such buckets are the normal case, so the guard has to
  * live in the join shape itself.
  *
  * [[guardedPairs]] splits buckets by measured size: buckets at or under
  * `cap` rows join exactly as before (on the common no-hot-bucket corpus
  * the cold branch IS the plain equi-join and the salted branch is
  * empty; the whole plan stays lazy — the count aggregate and the tag
  * join run as broadcast stages inside the operator's own job, never as
  * serialized driver actions before it, and AQE broadcasts the empty
  * hot list at runtime), buckets over it run salted — each left row takes a deterministic salt
  * `xxhash64(id) mod salts`, each right row is replicated across all
  * `salts` values, and the join adds the salt to its keys. Every pair
  * still meets exactly once (the left row's salt is a function of its
  * id; the replicated right side covers every salt), so the guarded
  * join is row-for-row equivalent to the plain one — oracle SQL and
  * gates are untouched — while a hot bucket's pair enumeration spreads
  * over `salts` tasks at the price of replicating only the hot rows.
  *
  * Requirements: both frames carry the `keys` columns and an `id`
  * column (any orderable type; `a.id < b.id` orders self-join pairs and
  * feeds the salt hash). Hot-key detection is a count aggregate per
  * side — for a cross join (selfJoin = false, e.g. the incremental
  * pipeline's new-vs-seen band join) a bucket is hot when the PRODUCT
  * of its two sides' counts exceeds `cap²`, the same per-task pair
  * bound. The hot-key list is broadcast: its size is bounded by
  * `rows / cap`, a 1000× reduction of the key space by construction.
  */
object SkewJoin {

  /** Pair generation over `dfA ⋈ dfB` on `keys` with hot buckets salted.
    * `project` receives the join aliased `a`/`b` (reference columns as
    * `col("a.x")` / `col("b.x")`). For `selfJoin = true` the condition
    * `a.id < b.id` is added so each unordered pair appears once.
    *
    * ONE join, not a cold/salted branch union: each side is tagged with
    * the broadcast hot list exactly once, left rows in a hot bucket take
    * the deterministic salt `xxhash64(id) mod salts` while cold rows ride
    * salt 0, and right rows replicate across all `salts` values when hot
    * (a one-element explode when cold). A pair still meets exactly once
    * — cold buckets agree on salt 0, and a hot pair meets only at the
    * left row's salt. The earlier two-branch form referenced each input
    * ~5× (count aggregate, two tagged splits, both branch sides); when
    * the caller's band frame is an unfenced explode that re-executed the
    * whole producing pipeline per reference — measured at ~2× full-query
    * cost on the non-skewed cluster family. Now each input is read once
    * by the tag join plus once by the count aggregate, and the plan has
    * a single join stage for AQE to size. */
  def guardedPairs(dfA: DataFrame, dfB: DataFrame, keys: Seq[String],
                   selfJoin: Boolean, cap: Int, salts: Int)
                  (project: DataFrame => DataFrame): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(salts >= 2, s"salts must be >= 2, got $salts")
    val kc = keys.map(col)
    val cA = dfA.groupBy(kc: _*).agg(count(lit(1)).as("__ca"))
    val hot = (if (selfJoin) cA.filter(col("__ca") > cap)
      else {
        val cB = dfB.groupBy(kc: _*).agg(count(lit(1)).as("__cb"))
        // inner join: a bucket missing on either side produces no pairs
        cA.join(cB, keys)
          .filter(col("__ca") * col("__cb") > cap.toLong * cap)
      }).select(kc: _*).withColumn("__hot", lit(true))
    def tag(df: DataFrame): DataFrame =
      df.join(broadcast(hot), keys, "left")
    val left = tag(dfA).withColumn("__salt",
        when(col("__hot").isNotNull,
          pmod(xxhash64(col("id")), lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("__hot")
    val right = (if (selfJoin) tag(dfA) else tag(dfB))
      .withColumn("__salt", explode(
        when(col("__hot").isNotNull,
          sequence(lit(0L), lit(salts.toLong - 1)))
          .otherwise(array(lit(0L)))))
      .drop("__hot")
    val keyCond = (keys :+ "__salt")
      .map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val cond = if (selfJoin) keyCond && col("a.id") < col("b.id")
      else keyCond
    // merge hint: the salting guarantee REQUIRES the join itself to
    // distribute pair enumeration by (keys, __salt). A broadcast join
    // (which AQE picks whenever one side carries a small size stat,
    // e.g. a cached member table) keeps the stream side's upstream
    // partitioning instead — a hot bucket's pairs then collapse into
    // however few partitions hold its left rows, and the salt spread
    // never happens (measured: 12.6 s max task vs 0.7 s salted on the
    // 10k planted group). Forcing the sort-merge strategy costs one
    // shuffle of narrow band rows — the stage this operator budgets
    // for anyway.
    project(left.as("a").hint("merge").join(right.as("b"), cond))
  }

  /** Salted equi-join — the manual skew defense for when ONE key
    * dominates a join's shuffle (the hot-customer / empty-string /
    * default-value key): AQE's skew-join split handles sort-merge
    * spills, but a key so hot that a single task cannot hold its build
    * side needs the classic salting rewrite, and having it as a named
    * operator keeps the rewrite CORRECT (the subtle bugs live in the
    * join-type and null handling).
    *
    * Equi-joins `left` (probe side) with `right` (build side) on
    * `keys`: each `left` row gets the salt bucket `saltExpr mod
    * buckets`, each `right` row is replicated once per bucket, and the
    * join keys grow the salt column, so the hot key's rows spread over
    * `buckets` tasks instead of one. Row-for-row equal to the plain
    * join BY CONSTRUCTION: each probe row carries exactly one salt
    * value and meets exactly one replica of every matching build row.
    * `saltExpr` must be a deterministic NON-NULL expression over
    * `left`'s columns (a row id, a hash of one) — a NULL salt would
    * silently drop the row from an inner join, so it raises per row
    * instead. Join types are restricted to the ones replication cannot
    * corrupt: `inner` and `left` (an unmatched probe row still appears
    * exactly once; `right`/`full`/`semi`/`anti` would see build-side
    * replicas as distinct unmatched rows — refused). */
  def saltedEquiJoin(left: DataFrame, right: DataFrame,
                     keys: Seq[String], saltExpr: Column,
                     buckets: Int,
                     joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "saltedEquiJoin: need at least one key")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val jt = joinType.toLowerCase
    require(jt == "inner" || jt == "left" || jt == "left_outer",
      s"saltedEquiJoin: join type '$joinType' cannot be salted — " +
        "build-side replication corrupts right/full/semi/anti joins; " +
        "use inner or left")
    require(!left.columns.contains("__salt") &&
      !right.columns.contains("__salt"),
      "saltedEquiJoin: reserved column name '__salt' already present")
    val salted = left.withColumn("__salt",
      when(saltExpr.isNull, raise_error(lit(
        "saltedEquiJoin: NULL salt expression — a null salt would " +
          "silently drop the row")).cast("int"))
        .otherwise(pmod(saltExpr, lit(buckets)).cast("int")))
    val replicated = right.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", jt).drop("__salt")
  }
}

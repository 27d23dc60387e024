package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.CondOps

/** Oracle-checked queries for the join family (SURVEY §2.3 J2-J4,
  * J6-J8; J1/J5 live in the base set).
  */
object JoinQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J2 plain left join on a key column (get_similarity.py:179-180) —
    // Catalyst picks broadcast vs sort-merge from stats/AQE
    "j02_left_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
                col("c_mktsegment"))
        .orderBy(col("o_orderkey"))),

    // J3 left join + exists flag (update_open_data.py:71-81)
    "j03_join_exists_flag" -> ((s, dir) => {
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_name"))
      t(s, dir, "orders")
        .join(rich, col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name"),
                CondOps.flagYesNo(col("c_custkey").isNotNull)
                  .as("flag_already_exist"))
        .orderBy(col("o_orderkey"))
    }),

    // J4 left join on an aggregated frame + zero-fill
    // (wp_export_data.py:39-49). Sum over floor(x*100+0.5) integer
    // cents (IEEE-exact in every engine), emitted as DOUBLE — decimal
    // renderings differ across engines even when values agree, so gate
    // outputs stay in binary floating point (see q01 in SparkEntry).
    "j04_join_on_agg" -> ((s, dir) => {
      val perCust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("nb_orders"),
             (sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
                  .cast("long")).cast("double") / 100.0)
               .as("total_spent"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
                coalesce(col("nb_orders"), lit(0L)).as("nb_orders"),
                coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // J6 union-append with missing columns
    // (assos_validation_retreatment.py:101 append(sort=False))
    "j06_union_append" -> ((s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
                col("c_acctbal").as("acctbal"), lit("cust").as("src"))
      val b = t(s, dir, "supplier")
        .select(col("s_suppkey").as("key"), col("s_name").as("name"),
                lit("supp").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("src"), col("key"))
    }),

    // J7 multi-file concat — one native scan over several files
    // (custom_search_extraction.py:83-87 pd.concat over zip members)
    "j07_multifile_concat" -> ((s, dir) => {
      val p = s"$dir/region.parquet"
      s.read.parquet(p, p).orderBy(col("r_regionkey"))
    }),

    // J8 column-wise concat after split (process_open_data.py:72-73)
    "j08_columnwise_concat" -> ((s, dir) => {
      val geo = concat_ws(",", col("p_size").cast("string"),
                          round(col("p_retailprice"), 2).cast("string"))
      t(s, dir, "part")
        .withColumn("lat", split(geo, ",").getItem(0))
        .withColumn("lon", split(geo, ",").getItem(1))
        .select(col("p_partkey"), col("p_name"), col("lat"), col("lon"))
        .orderBy(col("p_partkey"))
    }),

    // Beyond the reference: distributed RANGE join (point-in-interval
    // as an equi-bucketed join — see ops/RangeJoin.scala). Lineitems
    // shipped inside each sampled order's 30-day window, aggregated
    // per window; the oracle is the plain theta join, which the
    // bucket join must reproduce row-exactly.
    "j09_range_join" -> ((s, dir) => {
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("win_id"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .as("lo"))
        .withColumn("hi", col("lo") + 29)
      val pts = t(s, dir, "lineitem")
        .select(datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .as("p"),
          col("l_quantity"))
      graft.ops.RangeJoin.pointInInterval(pts, col("p"),
          iv, col("lo"), col("hi"), bucketWidth = 30L)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("win_id"))
    }),

    // Interval × interval overlap join (two sampled order-window
    // sets; per left window: how many right windows overlap it and
    // the longest overlap) — the bucketed join keeps each pair only
    // in the overlap's start bucket, so it reproduces the theta join
    // with no dedup pass.
    "j10_interval_overlap" -> ((s, dir) => {
      def wins(m: Int, id: String, lo: String, hi: String) =
        t(s, dir, "orders").filter(col("o_orderkey") % m === 0)
          .select(col("o_orderkey").as(id),
            datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
              .as(lo))
          .withColumn(hi, col(lo) + 59)
      val a = wins(97, "a_id", "a_lo", "a_hi")
      val b = wins(101, "b_id", "b_lo", "b_hi")
      graft.ops.RangeJoin.intervalOverlap(a, col("a_lo"), col("a_hi"),
          b, col("b_lo"), col("b_hi"), bucketWidth = 60L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          max(least(col("a_hi"), col("b_hi")) -
              greatest(col("a_lo"), col("b_lo")) + 1).cast("long")
            .as("max_overlap_days"))
        .orderBy(col("a_id"))
    }),

    // Salted skew join: the manual hot-key defense run through the
    // named operator — lineitem (probe, salted by order key) joins
    // supplier (build, replicated ×8) on the supp key, then aggregates
    // revenue per nation. Row-for-row equal to the plain join BY
    // CONSTRUCTION (each probe row carries one salt and meets one
    // replica of each matching build row), so the oracle IS the plain
    // join; a replication that duplicates matches or a salt that
    // drops one breaks the hash. Join-type and NULL-salt refusals are
    // OpsSpec-pinned.
    "j11_salted_join" -> ((s, dir) =>
      graft.core.SkewJoin.saltedEquiJoin(
          t(s, dir, "lineitem")
            .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
              col("l_extendedprice")),
          t(s, dir, "supplier")
            .select(col("s_suppkey").as("suppkey"), col("s_nationkey")),
          Seq("suppkey"), saltExpr = col("l_orderkey"), buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
            .cast("long")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("s_nationkey")))
  )

  val oracle: Map[String, String] = Map(
    "j02_left_join" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "j03_join_exists_flag" ->
      """WITH rich AS (SELECT c_custkey, c_name FROM customer
                       WHERE c_acctbal > 5000.0)
         SELECT o_orderkey, c_name,
           CASE WHEN c_custkey IS NOT NULL THEN 'yes' ELSE 'no' END
             AS flag_already_exist
         FROM orders LEFT JOIN rich ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "j04_join_on_agg" ->
      """WITH agg AS (SELECT o_custkey, COUNT(*) AS nb_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total_spent
           FROM orders GROUP BY o_custkey)
         SELECT c_custkey, c_name,
           COALESCE(nb_orders, 0) AS nb_orders,
           COALESCE(total_spent, CAST(0 AS DOUBLE)) AS total_spent
         FROM customer LEFT JOIN agg ON c_custkey = o_custkey
         ORDER BY c_custkey""",
    "j06_union_append" ->
      """SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal,
                'cust' AS src FROM customer
         UNION ALL BY NAME
         SELECT s_suppkey AS key, s_name AS name, 'supp' AS src
         FROM supplier
         ORDER BY src, key""",
    "j07_multifile_concat" ->
      """SELECT * FROM (SELECT * FROM region UNION ALL SELECT * FROM region)
         ORDER BY r_regionkey""",
    "j08_columnwise_concat" ->
      """WITH b AS (SELECT p_partkey, p_name,
           CAST(p_size AS VARCHAR) || ',' ||
           CAST(round(p_retailprice, 2) AS VARCHAR) AS geo FROM part)
         SELECT p_partkey, p_name, string_split(geo, ',')[1] AS lat,
                string_split(geo, ',')[2] AS lon
         FROM b ORDER BY p_partkey""",
    // day-granular on both sides (DATE casts; DATE + 29 = days)
    "j09_range_join" ->
      """SELECT o_orderkey AS win_id, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM orders JOIN lineitem
           ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
          AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 29
         WHERE o_orderkey % 997 = 0
         GROUP BY 1 ORDER BY 1""",
    "j10_interval_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_id,
             CAST(o_orderdate AS DATE) AS alo,
             CAST(o_orderdate AS DATE) + 59 AS ahi
           FROM orders WHERE o_orderkey % 97 = 0),
         b AS (SELECT o_orderkey AS b_id,
             CAST(o_orderdate AS DATE) AS blo,
             CAST(o_orderdate AS DATE) + 59 AS bhi
           FROM orders WHERE o_orderkey % 101 = 0)
         SELECT a_id, COUNT(*) AS n_overlaps,
           CAST(MAX(datediff('day', greatest(alo, blo),
             least(ahi, bhi)) + 1) AS BIGINT) AS max_overlap_days
         FROM a JOIN b ON greatest(alo, blo) <= least(ahi, bhi)
         GROUP BY 1 ORDER BY 1""",
    "j11_salted_join" ->
      """SELECT s_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT))
           AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey"""
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Scoped, Tables}
import graft.ops.AsOfJoin

/** Oracle-checked queries over the `events` stream table: tumbling-window
  * aggregation and gap-based sessionization — the batch forms of the
  * Structured Streaming operators in graft.streaming (same logical
  * plans; the streaming variants add watermarks/state).
  */
object EventQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Run a streaming section under a reduced state-partition count: a
    * stateful stream allocates, commits and checkpoints one state
    * store per shuffle partition PER micro-batch, so the ev05–ev08
    * gates' 3–4 tiny batches under the session's 32 partitions pay
    * ~130 state-store commits of pure overhead. 8 is ample at gate
    * scale; the partition count is pinned into the query at start and
    * the conf is restored afterwards, so nothing planned later is
    * affected. Results are partition-count-invariant (the oracles
    * prove it). */
  private def withStatePartitions[T](s: SparkSession, n: Int)
                                    (f: => T): T =
    Scoped.conf(s, "spark.sql.shuffle.partitions" -> n.toString)(f)

  /** Scope `spark.sql.streaming.noDataMicroBatches.enabled=false`
    * around a stream whose sink does NOT depend on no-data batches —
    * i.e. an append-mode stream-stream INNER join, which emits a pair
    * in the data batch that completes it; its trailing watermark-only
    * batches exist purely to evict state, which a bounded gate feed
    * tears down at stop() anyway. Halves the micro-batch count (each
    * processAllAvailable otherwise runs data batch + watermark batch)
    * without changing a single emitted row. NOT safe for the
    * append-mode AGGREGATION gates (ev05…): those emit a window only
    * when a later batch's watermark passes it, so they keep the
    * default. */
  private def withoutNoDataBatches[T](s: SparkSession)(f: => T): T =
    Scoped.conf(s,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(f)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling one-hour window per event type: count + value sum
    "ev01_hourly_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
                 date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
             // floor(x*100+0.5) cents keep the sum IEEE-exact in every
             // engine; emitted as DOUBLE — decimal renderings differ
             // across engines even when values agree (see q01)
             (sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
                .cast("double") / 100.0)
               .as("total"))
        .orderBy(col("event_type"), col("hour"))),

    // Gap-based sessionization (30-minute inactivity, per user):
    // session index via cumulative count of gap-opens
    "ev02_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val prev = lag(col("ts"), 1).over(byUser)
      val isNew = when(prev.isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(prev) > 1800, 1L)
        .otherwise(0L)
      t(s, dir, "events")
        .withColumn("session_id",
          sum(isNew).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("ts"),
                col("session_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // As-of join: each purchase picks up the latest preceding click of
    // the same user (point-in-time enrichment; DuckDB's ASOF LEFT JOIN
    // is the oracle). Union + running-window encoding: one shuffle on
    // user_id, no per-key pair explosion.
    "ev03_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "event_id",
          Seq("ts", "value"))
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // The FORWARD as-of direction (pandas merge_asof completeness):
    // each purchase picks up the EARLIEST click at or after it — the
    // "what happened next" enrichment. Same union + running-window
    // encoding scanned in descending time; DuckDB's ASOF with l.ts <=
    // r.ts is the oracle.
    "ev11_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "event_id",
          Seq("ts", "value"), direction = "forward")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // ...and NEAREST: whichever of the backward/forward matches is
    // closer in time, exact ties to backward (the pandas rule). Both
    // windows evaluate over the one unioned frame — still a single
    // shuffle on the key; the oracle composes DuckDB's two ASOF joins
    // with the identical epoch-seconds distance comparison.
    "ev12_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "event_id",
          Seq("ts", "value"), direction = "nearest")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // ev01's streaming twin executed AS A STREAM under the same oracle
    // (round 11): the events table is fed through a MemoryStream in
    // three chronological micro-batches with controlled LATE arrivals —
    // boundary rows demoted one batch later, within the 2h watermark
    // allowance, so the engine must merge them into still-open windows
    // rather than drop them — and a far-future sentinel row advances
    // the watermark so append mode finalizes (and state-reclaims)
    // every real window. The sentinel's own window can never finalize
    // and is filtered defensively. This gates the watermark/state
    // machinery itself, not just the aggregation logic the batch-frame
    // equality test covers.
    "ev05_stream_hourly" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"),
          col("event_id"))
        .orderBy(col("ts"), col("event_id"))
        .as[(java.sql.Timestamp, String, Double, Long)].collect()
      val n = rows.length
      val cut1 = n / 3; val cut2 = 2 * n / 3
      def batchOf(i: Int): Int = {
        val base = if (i < cut1) 0 else if (i < cut2) 1 else 2
        // one row in 7 near a batch boundary arrives LATE (next
        // batch) — at most 1h behind the closed batch's max event
        // time, inside the 2h allowance, so it must be merged
        val cutTs = rows(if (base == 0) cut1 - 1 else cut2 - 1)._1.getTime
        if (base < 2 && rows(i)._4 % 7 == 0 &&
            rows(i)._1.getTime >= cutTs - 3600000L) base + 1
        else base
      }
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val sink = "ev05_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withStatePartitions(s, 8) {
        val q = graft.streaming.EventsStream.hourlyAgg(
            mem.toDF().toDF("ts", "event_type", "value"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          (0 to 2).foreach { b =>
            mem.addData(rows.iterator.zipWithIndex.collect {
              case ((ts, et, v, _), i) if batchOf(i) == b => (ts, et, v)
            }.toSeq)
            q.processAllAvailable()
          }
          val far = rows.last._1.getTime + 10L * 24 * 3600 * 1000
          mem.addData(Seq(
            (new java.sql.Timestamp(far), "zz_sentinel", 0.0)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sink)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(col("hour"), col("event_type"), col("n"), col("total"))
        .orderBy(col("event_type"), col("hour"))
    }),

    // ev02's stateful streaming twin (flatMapGroupsWithState) executed
    // as a real 3-micro-batch stream: per-user session state must
    // carry across batch boundaries. Batches are strict chronological
    // terciles — the operator's contract is per-key in-order delivery
    // (its own intra-batch sort handles ties), which the feed honors.
    "ev06_stream_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      import graft.streaming.EventsStream
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .orderBy(col("ts"), col("event_id"))
        .as[EventsStream.Ev].collect()
      val n = rows.length
      val mem = MemoryStream[EventsStream.Ev]
      val sink = "ev06_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withStatePartitions(s, 8) {
        val q = EventsStream.sessionize(mem.toDS())
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
              rows.slice(2 * n / 3, n)).foreach { chunk =>
            mem.addData(chunk.toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table(sink)
        .select(col("user_id"), col("event_id"), col("session_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ev03's stateful streaming twin (asOfEnrich) as a real 3-batch
    // stream: per-user "latest preceding click" state must carry
    // across micro-batches. Feed order (ts, side, event_id) — right
    // rows before left at equal ts — honors the operator's per-key
    // in-order contract at batch boundaries, so the output equals the
    // batch as-of join the DuckDB ASOF oracle computes.
    "ev07_stream_asof" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      import graft.streaming.EventsStream
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "click", 0).otherwise(1).as("side"),
          col("value"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .as[EventsStream.AsOfEv].collect()
      val n = rows.length
      val mem = MemoryStream[EventsStream.AsOfEv]
      val sink = "ev07_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      // no-data batches skipped: flatMapGroupsWithState with NoTimeout
      // emits only on data batches, so the watermark-only batches are
      // pure per-batch overhead here (see withoutNoDataBatches)
      withStatePartitions(s, 8) { withoutNoDataBatches(s) {
        val q = EventsStream.asOfEnrich(mem.toDS())
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
              rows.slice(2 * n / 3, n)).foreach { chunk =>
            mem.addData(chunk.toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      } }
      s.table(sink)
        .select(col("user_id"), col("event_id"), col("asof_ms"),
          col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Streaming watermark-bounded exact dedup executed as a stream:
    // with the lateness horizon wider than the table's time span the
    // state never expires, so every (user, event_type) key is emitted
    // exactly once — the DISTINCT oracle. (The 2h-horizon reclaim
    // behavior, where a long-silent key re-emits by design and no
    // batch SQL equals it, is pinned by StreamingSpec instead.)
    "ev08_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events")
        .select(col("ts"), col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("user_id"), col("event_type"))
        .as[(java.sql.Timestamp, Long, String)].collect()
      val n = rows.length
      val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
      val sink = "ev08_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      // no-data batches skipped: streaming dedup emits a key's first
      // arrival in its own data batch; watermark-only batches only
      // evict state, which this gate's 90-day lateness never reaches
      withStatePartitions(s, 8) { withoutNoDataBatches(s) {
        val q = graft.streaming.EventsStream.dedupEvents(
            mem.toDF().toDF("ts", "user_id", "event_type"),
            lateness = "90 days")
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
              rows.slice(2 * n / 3, n)).foreach { chunk =>
            mem.addData(chunk.toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      } }
      s.table(sink)
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Stream-static RANGE join: the bucketed form is an EQUI join,
    // which is exactly why it STREAMS — Structured Streaming supports
    // stream-static equi joins per micro-batch but has no theta-join
    // path at all (a raw `p BETWEEN lo AND hi` join is unplannable on
    // a stream). Points arrive in 3 micro-batches, join the static
    // interval table (append mode, stateless for stream-static
    // inner), and the materialized sink must aggregate to the batch
    // j09 answer restricted to the streamed 1/7 subset.
    "ev09_stream_range" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("win_id"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .as("lo"))
        .withColumn("hi", col("lo") + 29)
      val rows = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .as("p"),
          col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .as[(Int, Double, Long, Int)].collect()
      val n = rows.length
      val mem = MemoryStream[(Int, Double)]
      val sink = "ev09_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withStatePartitions(s, 8) {
        val q = graft.ops.RangeJoin.pointInInterval(
            mem.toDF().toDF("p", "l_quantity"), col("p"),
            iv, col("lo"), col("hi"), bucketWidth = 30L)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
              rows.slice(2 * n / 3, n)).foreach { chunk =>
            mem.addData(chunk.map(r => (r._1, r._2)).toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s.table(sink).groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("win_id"))
    }),

    // STREAM-STREAM interval-overlap join: both window feeds are live
    // (3 interleaved micro-batches each), joined on the bucketed
    // equi-key with an event-time bound between the two watermarked
    // start timestamps — the shape Structured Streaming needs to plan
    // a stream-stream join AND evict its state (pinned in
    // StreamingSpec; the gate's watermark delay is sized so nothing is
    // late and the sink aggregates to the batch j10 answer exactly).
    "ev10_stream_interval" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      def winRows(m: Int) = t(s, dir, "orders")
        .filter(col("o_orderkey") % m === 0)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
        .orderBy(col("o_orderkey"))
        .as[(Long, Int)].collect()
      val (aRows, bRows) = (winRows(97), winRows(101))
      val memA = MemoryStream[(Long, Int)]
      val memB = MemoryStream[(Long, Int)]
      def winDf(mem: MemoryStream[(Long, Int)], id: String, lo: String,
                hi: String, ts: String) =
        mem.toDF().toDF(id, lo)
          .withColumn(hi, col(lo) + 59)
          .withColumn(ts, timestamp_seconds(col(lo).cast("long") * 86400))
          .withWatermark(ts, "3650 days")
      val a = winDf(memA, "a_id", "a_lo", "a_hi", "a_ts")
      val b = winDf(memB, "b_id", "b_lo", "b_hi", "b_ts")
      val sink = "ev10_mem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withStatePartitions(s, 4) { withoutNoDataBatches(s) {
        val q = graft.ops.RangeJoin.intervalOverlapStream(
            a, col("a_lo"), col("a_hi"), "a_ts",
            b, col("b_lo"), col("b_hi"), "b_ts",
            bucketWidth = 60L, maxSpan = "60 days",
            unitSeconds = 86400L)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          def third[T](rows: Array[T], i: Int): Seq[T] = {
            val n = rows.length
            rows.slice(i * n / 3, (i + 1) * n / 3).toSeq
          }
          (0 until 3).foreach { i =>
            memA.addData(third(aRows, i))
            memB.addData(third(bRows, i))
            q.processAllAvailable()
          }
        } finally q.stop()
      } }
      s.table(sink).groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          max(least(col("a_hi"), col("b_hi")) -
              greatest(col("a_lo"), col("b_lo")) + 1).cast("long")
            .as("max_overlap_days"))
        .orderBy(col("a_id"))
    }),

    // Typed JSON extraction from the props payload column (schema-on-read
    // over a semi-structured field), rolled up per event type. from_json
    // with an explicit schema, not a UDF — stays in codegen.
    // Ordered event-sequence funnel: how many users signed up, then
    // viewed AFTER their first signup, then purchased AFTER that first
    // qualifying view — the product-analytics stage report. Each stage
    // is one user-keyed equi-join + partial-aggregated min (first-touch
    // attribution), every stage reusing the same hash partitioning; a
    // funnel that ignores ordering (plain type counts) or attributes to
    // a later touch breaks the hash. The event_id % 7 slice thins the
    // feed so every stage shows real attrition at gate scale (13→8→2
    // at sf0.001 — the dense feed converts everyone).
    "ev13_funnel" -> ((s, dir) =>
      graft.ops.Funnel.report(
          t(s, dir, "events").filter(col("event_id") % 7 === 0),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "purchase"))
        .orderBy(col("stage_ord"))),

    // Cohort retention: users grouped by signup week, counted in each
    // later week they were active — the companion report to ev13's
    // funnel (weekly grid instead of ordered stages). Weeks are
    // integer day-offsets / 7 from a fixed epoch (never engine
    // week-truncation, whose start-of-week conventions differ); one
    // distinct (user, week) pass + one cohort join + one partial
    // aggregation. The event_id % 11 slice thins the feed so cohorts
    // spread across weeks and retention decays at gate scale (the
    // dense feed puts everyone in cohort 0 at full retention).
    "ev14_retention" -> ((s, dir) => {
      val week = floor(datediff(to_date(col("ts")), lit("2024-01-01"))
        / lit(7.0)).cast("int")
      val ev = t(s, dir, "events").filter(col("event_id") % 11 === 0)
      val cohorts = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), week.as("w"))
        .groupBy(col("user_id")).agg(min(col("w")).as("cohort_w"))
      ev.select(col("user_id"), week.as("w")).distinct()
        .join(cohorts, "user_id")
        .filter(col("w") >= col("cohort_w"))
        .groupBy(col("cohort_w"),
          (col("w") - col("cohort_w")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_w"), col("week_offset"))
    }),

    "ev04_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             max(col("k")).as("max_k"))
        .orderBy(col("event_type")))
  )

  val oracle: Map[String, String] = Map(
    "ev01_hourly_agg" ->
      """SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hour,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
              AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total
         FROM events GROUP BY event_type, hour
         ORDER BY event_type, hour""",
    "ev02_sessionize" ->
      """WITH b AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
           lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
             ORDER BY ts::TIMESTAMP ASC, event_id ASC) AS prev
           FROM events),
         m AS (SELECT user_id, event_id, ts,
           CASE WHEN prev IS NULL
                  OR date_diff('second', prev, ts) > 1800
                THEN 1 ELSE 0 END AS is_new FROM b)
         SELECT user_id, event_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM m ORDER BY user_id, event_id""",
    // the stream must land exactly where the batch aggregation lands
    "ev05_stream_hourly" ->
      """SELECT date_trunc('hour', ts::TIMESTAMP) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
              AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total
         FROM events GROUP BY event_type, hour
         ORDER BY event_type, hour""",
    "ev06_stream_sessionize" ->
      """WITH b AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
           lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
             ORDER BY ts::TIMESTAMP ASC, event_id ASC) AS prev
           FROM events),
         m AS (SELECT user_id, event_id, ts,
           CASE WHEN prev IS NULL
                  OR date_diff('second', prev, ts) > 1800
                THEN 1 ELSE 0 END AS is_new FROM b)
         SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM m ORDER BY user_id, event_id""",
    "ev03_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts
           FROM events WHERE event_type = 'purchase'),
         r0 AS (SELECT user_id, ts::TIMESTAMP AS ts, value,
             row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1)
         SELECT l.event_id, l.user_id, l.ts,
                r.ts AS asof_ts, r.value AS asof_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "ev11_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts
           FROM events WHERE event_type = 'purchase'),
         r0 AS (SELECT user_id, ts::TIMESTAMP AS ts, value,
             row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1)
         SELECT l.event_id, l.user_id, l.ts,
                r.ts AS asof_ts, r.value AS asof_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
    "ev12_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts
           FROM events WHERE event_type = 'purchase'),
         r0 AS (SELECT user_id, ts::TIMESTAMP AS ts, value,
             row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
         b AS (SELECT l.event_id, r.ts AS bts, r.value AS bval
           FROM l ASOF LEFT JOIN r
             ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS fts, r.value AS fval
           FROM l ASOF LEFT JOIN r
             ON l.user_id = r.user_id AND l.ts <= r.ts)
         SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN bts IS NULL THEN fts WHEN fts IS NULL THEN bts
                WHEN (epoch(l.ts) - epoch(bts))
                  <= (epoch(fts) - epoch(l.ts)) THEN bts
                ELSE fts END AS asof_ts,
           CASE WHEN bts IS NULL THEN fval WHEN fts IS NULL THEN bval
                WHEN (epoch(l.ts) - epoch(bts))
                  <= (epoch(fts) - epoch(l.ts)) THEN bval
                ELSE fval END AS asof_value
         FROM l JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY l.event_id""",
    "ev07_stream_asof" ->
      """WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts
           FROM events WHERE event_type = 'purchase'),
         r0 AS (SELECT user_id, ts::TIMESTAMP AS ts, value,
             row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1)
         SELECT l.user_id, l.event_id,
                CAST(epoch_ms(r.ts) AS BIGINT) AS asof_ms,
                r.value AS asof_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "ev08_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // the j09 theta-join oracle restricted to the streamed 1/7 subset
    "ev09_stream_range" ->
      """SELECT o_orderkey AS win_id, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM orders JOIN lineitem
           ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
          AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 29
         WHERE o_orderkey % 997 = 0 AND l_orderkey % 7 = 0
         GROUP BY 1 ORDER BY 1""",
    // the j10 theta-join oracle verbatim — ev10 streams BOTH window
    // sets in full, so the streamed answer must equal the batch one
    "ev10_stream_interval" ->
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
    "ev04_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
           AS BIGINT) AS sum_k,
         MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "ev14_retention" ->
      """WITH wk AS (SELECT user_id,
             CAST(FLOOR(datediff('day', DATE '2024-01-01', ts::DATE)
               / 7.0) AS INT) AS w, event_type
           FROM events WHERE event_id % 11 = 0),
           cohorts AS (SELECT user_id, MIN(w) AS cohort_w FROM wk
             WHERE event_type = 'signup' GROUP BY user_id),
           act AS (SELECT DISTINCT user_id, w FROM wk)
         SELECT cohort_w, w - cohort_w AS week_offset,
           COUNT(*) AS n_users
         FROM act JOIN cohorts USING (user_id)
         WHERE w >= cohort_w
         GROUP BY cohort_w, week_offset
         ORDER BY cohort_w, week_offset""",
    "ev13_funnel" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 7 = 0),
           s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
             WHERE event_type = 'signup' GROUP BY user_id),
           s2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM e
             JOIN s1 USING (user_id)
             WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
           s3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM e
             JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND ts > t2
             GROUP BY e.user_id)
         SELECT * FROM (
           SELECT 1 AS stage_ord, 'signup' AS stage,
             (SELECT COUNT(*) FROM s1) AS users
           UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
           UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
         ORDER BY stage_ord"""
  )
}

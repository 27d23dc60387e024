package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.io.Connectors
import graft.io.Connectors.{CsvSheetIO, StubFbResolver, StubGeocoder,
  StubSearchApi}
import graft.ops.Enrich
import graft.runner.Runner
import graft.text.TextHash

/** Oracle-checked queries for the connector layer (SURVEY §2.1 S8/S9,
  * §2.2 K5-K7, §2.8 U1-U3) — the ops that round 2 covered only via the
  * test suite. Each gate drives the *real* connector plumbing (sheet IO
  * round-trips through a temp dir, enrichment through `mapPartitions`
  * service batching, the runner's trigger loop) against deterministic
  * stubs whose outputs the DuckDB oracle recomputes from the same parquet
  * tables: the stub hash is [[TextHash.charHashStr]], whose SQL twin is
  * generated from the same constants.
  *
  * Scale notes: sheet upload/download is driver-scale by contract
  * (a worksheet is small by nature); enrichment is partition-batched
  * with one client per partition (no shuffle, no driver loop); the
  * search fan-out distributes keywords across partitions. The only
  * collects are the ≤2-element day list (k07) and the notifier/trigger
  * buffers — bounded side-channels, mirroring DiscoveryPipeline.
  */
object ConnectorQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S8 sheet scan: a worksheet backed by header-CSV under the stub's
    // directory layout, read through the SheetIO interface
    // (assos_validation_retreatment.py g2d download).
    "s08_sheet_scan" -> ((s, dir) => {
      val store = Scratch.dir("graft_s08_")
      t(s, dir, "region").coalesce(1).orderBy(col("r_regionkey"))
        .write.option("header", "true").csv(s"$store/book/region")
      new CsvSheetIO(store).download(s, "book", "region")
        .orderBy(col("r_regionkey"))
    }),

    // K5 sheet sink: upload, re-download, then re-upload the frame
    // derived from its own download (the reference's clean=True replace
    // semantics) — a broken replace would duplicate or drop rows.
    "k05_sheet_sink" -> ((s, dir) => {
      val io = new CsvSheetIO(Scratch.dir("graft_k05_"))
      io.upload(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
        "book", "sup")
      io.upload(io.download(s, "book", "sup"), "book", "sup")
      io.download(s, "book", "sup").orderBy(col("s_suppkey"))
    }),

    // S9 search-API source: keyword fan-out through the connector, one
    // client per partition (custom_search_extraction.py:186-190). The
    // stub's results are pure functions of the query text, so the oracle
    // rebuilds them with string SQL.
    "s09_search_source" -> ((s, dir) => {
      import s.implicits._
      val api = StubSearchApi
      t(s, dir, "nation").select(lower(col("n_name")).as("kw")).distinct()
        .as[String]
        .mapPartitions(_.flatMap(kw => api.search(kw, 3).map(r =>
          (kw, r.rank, r.title, r.snippet, r.link))))
        .toDF("searchTerms", "rank", "title", "snippet", "link")
        .orderBy(col("searchTerms"), col("rank"))
    }),

    // K6 notifier sink (Slack postMessage, process_open_data.py:278-289):
    // the message text is derived from the data, so a format drift or a
    // wrong count fails the gate.
    "k06_notifier" -> ((s, dir) => {
      import s.implicits._
      val notifier = new Connectors.CollectingNotifier
      val n = t(s, dir, "nation")
        .select(lower(col("n_name"))).distinct().count()
      notifier.notify("#scripts", s"Custom search updated $n queries")
      notifier.messages.toSeq.toDF("channel", "message")
    }),

    // K7 HTTP trigger sink (processing_launch.py:16-54): fire one URL per
    // pending day, replaying the runner's daily loop over the first two
    // event days.
    "k07_trigger" -> ((s, dir) => {
      import s.implicits._
      val trig = new Runner.CollectingTrigger
      val days = t(s, dir, "events")
        .select(col("ts").cast("date").cast("string").as("d"))
        .distinct().orderBy(col("d")).limit(2)
        .collect().map(_.getString(0))
      days.foreach(d => trig.fire(s"https://processing/launch?day=$d"))
      trig.fired.toSeq.toDF("url").orderBy(col("url"))
    }),

    // U1 FB id resolution over partition-batched service calls
    // (get_similarity.py:44-52): handle = URL slug, id = stub charHash.
    "u01_fb_id" -> ((s, dir) => {
      val handles = t(s, dir, "nation")
        .select(col("n_nationkey"),
          regexp_replace(lower(col("n_name")), "[^a-z0-9]+", "-")
            .as("handle"))
      val resolver = StubFbResolver
      Enrich.viaService(handles, "handle", "fb_id")(
        () => resolver.resolveId _)
        .orderBy(col("n_nationkey"))
    }),

    // U2 FB URL resolution (get_similarity.py:54-60): id "0" maps to the
    // empty URL, anything else to the canonical page URL.
    "u02_fb_url" -> ((s, dir) => {
      val ids = t(s, dir, "nation")
        .select(col("n_nationkey"),
          col("n_nationkey").cast("string").as("fb_id"))
      val resolver = StubFbResolver
      Enrich.viaService(ids, "fb_id", "page_url")(
        () => resolver.resolveUrl _)
        .orderBy(col("n_nationkey"))
    }),

    // U3 geocode enrichment (assos_validation_retreatment.py:32-39):
    // "lat,lon" string from the stub's charHash coordinates.
    "u03_geocode" -> ((s, dir) => {
      val geocoder = StubGeocoder
      Enrich.viaService(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "c_name", "geo")(() => geocoder.geocode _)
        .orderBy(col("c_custkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "s08_sheet_scan" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "k05_sheet_sink" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         ORDER BY s_suppkey""",
    "s09_search_source" -> {
      // VALUES-generated ranks 1..3 replicate StubSearchApi.search(kw, 3)
      """SELECT kw AS searchTerms, CAST(i AS DOUBLE) AS rank,
           kw || ' — result ' || i AS title,
           'snippet ' || i || ' for ' || kw AS snippet,
           'https://example.org/' ||
             regexp_replace(kw, '[^a-z0-9]+', '-', 'g') || '/' || i AS link
         FROM (SELECT DISTINCT lower(n_name) AS kw FROM nation)
         CROSS JOIN (VALUES (1), (2), (3)) AS gen(i)
         ORDER BY searchTerms, rank"""
    },
    "k06_notifier" ->
      """SELECT '#scripts' AS channel,
           'Custom search updated ' ||
             CAST(COUNT(DISTINCT lower(n_name)) AS VARCHAR) ||
             ' queries' AS message
         FROM nation""",
    "k07_trigger" ->
      """SELECT 'https://processing/launch?day=' || d AS url FROM (
           SELECT DISTINCT CAST(ts::DATE AS VARCHAR) AS d FROM events
           ORDER BY d LIMIT 2)
         ORDER BY url""",
    "u01_fb_id" -> {
      val h = TextHash.charHashSql("handle")
      s"""SELECT n_nationkey, handle,
            CASE WHEN handle IS NULL OR handle = '' THEN '0'
                 ELSE CAST($h AS VARCHAR) END AS fb_id
          FROM (SELECT n_nationkey,
                  regexp_replace(lower(n_name), '[^a-z0-9]+', '-', 'g')
                    AS handle
                FROM nation)
          ORDER BY n_nationkey"""
    },
    "u02_fb_url" ->
      """SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS fb_id,
           CASE WHEN n_nationkey = 0 THEN ''
                ELSE 'https://facebook.com/page-' ||
                     CAST(n_nationkey AS VARCHAR) END AS page_url
         FROM nation ORDER BY n_nationkey""",
    "u03_geocode" -> {
      val h = TextHash.charHashSql("c_name")
      s"""SELECT c_custkey, c_name,
            CASE WHEN c_name IS NULL OR c_name = '' THEN ''
                 ELSE '48.8' || lpad(CAST(h % 100 AS VARCHAR), 2, '0') ||
                      ',2.3' || lpad(CAST((h // 100) % 100 AS VARCHAR),
                                     2, '0')
            END AS geo
          FROM (SELECT c_custkey, c_name, $h AS h FROM customer)
          ORDER BY c_custkey"""
    }
  )
}

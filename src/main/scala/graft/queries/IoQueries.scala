package graft.queries

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{TableCatalog, Versioned}
import graft.core.{Scratch, Tables}
import graft.io.{CsvSink, ExcelSource, ExcelXlsx, FileFetcher,
  HttpCsvSource, ZipCsvSource}

/** Oracle-checked queries for the source/sink layer (SURVEY §2.1 S1/S2/
  * S4/S7, K1-K4). Each query round-trips testdata through the IO path
  * under a fresh Scratch dir; the oracle reads the original parquet — so a
  * lossy parse, a broken partition overwrite, or a non-idempotent write
  * fails the gate.
  */
object IoQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 staged (HTTP-shaped) CSV scan: fetch → stage → `;`-CSV parse
    "s01_http_csv" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s01_")
      t(s, dir, "region").coalesce(1).orderBy(col("r_regionkey"))
        .write.mode("overwrite").option("header", "true").option("sep", ";")
        .csv(s"$stage/out")
      val part = new File(s"$stage/out").listFiles()
        .filter(_.getName.endsWith(".csv")).head
      new HttpCsvSource(FileFetcher)
        .read(s, part.getAbsolutePath)
        .orderBy(col("r_regionkey"))
    }),

    // S2 zip multi-CSV scan: two members, concatenated natively
    "s02_zip_csv" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s02_")
      val nation = t(s, dir, "nation")
      def dump(df: DataFrame, name: String): File = {
        df.coalesce(1).orderBy(col("n_nationkey"))
          .write.mode("overwrite").option("header", "true")
          .option("sep", ";").csv(s"$stage/$name")
        new File(s"$stage/$name").listFiles()
          .filter(_.getName.endsWith(".csv")).head
      }
      val a = dump(nation.filter(col("n_nationkey") < 12), "a")
      val b = dump(nation.filter(col("n_nationkey") >= 12), "b")
      val zipPath = s"$stage/nations.zip"
      val zout = new ZipOutputStream(new FileOutputStream(zipPath))
      Seq("a.csv" -> a, "b.csv" -> b).foreach { case (name, f) =>
        zout.putNextEntry(new ZipEntry(name))
        zout.write(Files.readAllBytes(f.toPath)); zout.closeEntry()
      }
      zout.close()
      new ZipCsvSource(FileFetcher).read(s, zipPath)
        .orderBy(col("n_nationkey"))
    }),

    // S3 Excel scan: region staged as a real .xlsx (shared strings +
    // numeric cells), read back through ExcelSource. The collect is the
    // fixture writer's, dim-table-bounded — the reader itself is the op
    // under test (custom_search_extraction.py:92-94).
    "s03_excel_scan" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s03_")
      val rows = t(s, dir, "region").orderBy(col("r_regionkey")).collect()
        .map(r => Seq[Any](r.getInt(0).toLong, r.getString(1))).toSeq
      ExcelXlsx.write(s"$stage/nomenclature.xlsx", "Feuil1",
        Seq("r_regionkey", "r_name"), rows)
      new ExcelSource(FileFetcher).read(s, s"$stage/nomenclature.xlsx")
        .orderBy(col("r_regionkey"))
    }),

    // S4 local CSV scan (update_open_data.py:68)
    "s04_local_csv" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s04_")
      t(s, dir, "supplier").coalesce(1).orderBy(col("s_suppkey"))
        .write.mode("overwrite").option("header", "true").csv(s"$stage/out")
      s.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$stage/out").orderBy(col("s_suppkey"))
    }),

    // S7 partition-metadata scan over a partitioned catalog table
    // (bulk-partitioned backfill write, then directory-only listing)
    "s07_partitions" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_s07_"))
      val ev = t(s, dir, "events")
        .withColumn("date_extract", col("ts").cast("date").cast("string"))
      cat.writePartitioned(ev, "events_p", "date_extract")
      import s.implicits._
      cat.listPartitions("events_p", "date_extract")
        .toDF("date_extract")
        .select(col("date_extract").cast("date").as("d"))
        .orderBy(col("d"))
    }),

    // K1 full-table overwrite write, read back
    "k01_overwrite_write" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k01_"))
      cat.writeFull(t(s, dir, "region"), "region_copy")
      cat.writeFull(t(s, dir, "region"), "region_copy") // overwrite = idempotent
      cat.read("region_copy").orderBy(col("r_regionkey"))
    }),

    // K2 partitioned idempotent write: same partition written twice must
    // not duplicate rows
    "k02_partitioned_write" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k02_"))
      val ev = t(s, dir, "events")
        .withColumn("date_extract", col("ts").cast("date").cast("string"))
      val days = ev.select(col("date_extract")).distinct().collect()
        .map(_.getString(0)).sorted.take(2)
      days.foreach(d => cat.writePartition(ev, "ev_p", "date_extract", d))
      cat.writePartition(ev, "ev_p", "date_extract", days.head) // rerun
      cat.read("ev_p")
        .groupBy(col("date_extract").cast("string").as("d"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("d"))
    }),

    // K3 conditional write: second write must be a no-op
    "k03_conditional_write" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k03_"))
      cat.writeIfAbsent(t(s, dir, "region"), "cond_tbl")
      cat.writeIfAbsent(t(s, dir, "region").limit(1), "cond_tbl")
      cat.read("cond_tbl").orderBy(col("r_regionkey"))
    }),

    // K4 `;`-CSV sink with pandas-style index column, read back
    "k04_csv_sink" -> ((s, dir) => {
      val stage = Scratch.dir("graft_k04_")
      CsvSink.write(t(s, dir, "supplier"), s"$stage/out",
        Seq(col("s_suppkey")))
      s.read.option("header", "true").option("sep", ";")
        .option("inferSchema", "true").csv(s"$stage/out")
        .orderBy(col("index"))
    }),

    // S11 JSONL scan — THE interchange format of LLM training corpora
    // (one JSON object per line). The gate round-trips the documents
    // table through a .jsonl stage and reads it back with an EXPLICIT
    // schema (schema-on-read like ev04, not inference — an inferred
    // LongType-vs-DoubleType flip on a sparse column would silently
    // desync a real corpus); a lossy escape (newlines/quotes/unicode in
    // text) or type drift fails the hash against the parquet oracle.
    "s11_jsonl_scan" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s11_")
      t(s, dir, "documents").coalesce(1)
        .write.mode("overwrite").json(s"$stage/out")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).json(s"$stage/out")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // S12 ORC round-trip: the columnar interchange format beside
    // parquet — documents written as ORC (Spark's native writer) and
    // read back with an explicit schema must hash-match the parquet
    // oracle byte for byte, proving the format conversion is lossless
    // for the corpus column types (long/string). The same scan-side
    // capabilities (pushdown, pruning) apply; the gate is the
    // fidelity check.
    "s12_orc_roundtrip" -> ((s, dir) => {
      val stage = Scratch.dir("graft_s12_")
      t(s, dir, "documents").coalesce(1)
        .write.mode("overwrite").orc(s"$stage/out")
      s.read.orc(s"$stage/out")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // K8 versioned writes + time travel: every write is an immutable
    // snapshot committed by flipping a pointer LAST (data job first,
    // bytes-sized pointer second — readers never observe a partial
    // snapshot), and any retained version re-reads exactly as written
    // — the reproducibility primitive for "train run X read corpus
    // snapshot N". The gate commits two snapshots with different
    // content, then reads v1 BY TIME TRAVEL (after v2 became current)
    // and v2 as the current table: a pointer that moved early, a
    // snapshot that leaked into another, or a time-travel read served
    // from the wrong directory all break the hash. Crash-window and
    // vacuum semantics are CatalogIoSpec-pinned.
    "k08_versioned_tt" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k08_"))
      val nation = t(s, dir, "nation")
      val v1 = nation.select(col("n_nationkey").as("key"),
        col("n_name").as("name"))
      val v2 = nation.filter(col("n_regionkey") < 3)
        .select(col("n_nationkey").as("key"),
          upper(col("n_name")).as("name"))
      Versioned.write(cat, v1, "corpus_v")
      Versioned.write(cat, v2, "corpus_v")
      Versioned.readAsOf(cat, "corpus_v", 1)
        .withColumn("version", lit(1))
        .unionAll(Versioned.read(cat, "corpus_v")
          .withColumn("version", lit(2)))
        .select(col("version"), col("key"), col("name"))
        .orderBy(col("version"), col("key"))
    }),

    // K9 snapshot diff: what moved between two committed versions, by
    // key — adds, removals and (null-safe) changes from ONE full-outer
    // equi-join; unchanged keys drop out. v2 removes every 7th key,
    // lowercases every 3rd name (TPC-H names are uppercase, so the
    // change is real) and appends shifted-key rows — all three ops
    // appear and any mis-classification breaks the hash.
    "k09_snapshot_diff" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k09_"))
      val nation = t(s, dir, "nation")
      val v1 = nation.select(col("n_nationkey").as("key"),
        col("n_name").as("name"))
      val v2 = nation.filter(col("n_nationkey") % 7 =!= 0)
        .select(col("n_nationkey").as("key"),
          when(col("n_nationkey") % 3 === 0, lower(col("n_name")))
            .otherwise(col("n_name")).as("name"))
        .unionAll(nation.filter(col("n_regionkey") === 0)
          .select((col("n_nationkey") + 1000).as("key"),
            col("n_name").as("name")))
      Versioned.write(cat, v1, "diff_v")
      Versioned.write(cat, v2, "diff_v")
      Versioned.diff(cat, "diff_v", 1, 2, Seq("key"))
        .orderBy(col("key"))
    }),

    // K10 restore: roll back to an older snapshot AS A NEW VERSION
    // (the public RESTORE shape — history preserved, the rollback
    // itself an auditable commit). A bad v2 lands, restore(1) commits
    // v3 = v1's content; the gate emits the current read tagged with
    // the current version — a restore that repointed instead of
    // re-committing (current_version 1), rewrote history, or served
    // v2 breaks the hash.
    "k10_restore" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k10_"))
      val nation = t(s, dir, "nation")
      val v1 = nation.select(col("n_nationkey").as("key"),
        col("n_name").as("name"))
      Versioned.write(cat, v1, "rest_v")
      Versioned.write(cat, v1.limit(3), "rest_v") // the bad deploy
      val v3 = Versioned.restore(cat, "rest_v", 1)
      Versioned.read(cat, "rest_v")
        .withColumn("current_version", lit(v3).cast("int"))
        .orderBy(col("key"))
    }),

    // K11 MERGE INTO a versioned table: one change batch carries
    // updates (every 3rd name lowercased), inserts (region-0 keys
    // shifted +1000), deletes (every 7th key not already an update)
    // and one unmatched delete (key 9999 — the WHEN-MATCHED no-op),
    // applied by op column and committed as v2. A dropped delete, a
    // doubled upsert, a delete that inserted its placeholder row, or
    // a merge that repointed instead of committing a new version all
    // break the hash. Ambiguous/NULL-key/NULL-op refusals and the
    // pre-merge snapshot's unchanged time-travel read are
    // CatalogIoSpec-pinned.
    "k11_merge_upsert" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k11_"))
      val nation = t(s, dir, "nation")
      Versioned.write(cat, nation.select(col("n_nationkey").as("key"),
        col("n_name").as("name")), "merge_v")
      val source = nation.filter(col("n_nationkey") % 3 === 0)
        .select(col("n_nationkey").as("key"),
          lower(col("n_name")).as("name"), lit("upsert").as("op"))
        .unionAll(nation.filter(col("n_regionkey") === 0)
          .select((col("n_nationkey") + 1000).as("key"),
            col("n_name").as("name"), lit("upsert").as("op")))
        .unionAll(nation
          .filter(col("n_nationkey") % 7 === 1 &&
            col("n_nationkey") % 3 =!= 0)
          .select(col("n_nationkey").as("key"),
            lit("ignored").as("name"), lit("delete").as("op")))
        .unionAll(s.range(1).select(lit(9999).as("key"),
          lit("ghost").as("name"), lit("delete").as("op")))
      val v2 = Versioned.merge(cat, "merge_v", source, Seq("key"),
        opCol = Some("op"))
      Versioned.read(cat, "merge_v")
        .withColumn("version", lit(v2).cast("int"))
        .orderBy(col("key"))
    }),

    // K12 schema evolution across snapshots: v2 adds a column v1 never
    // had (snapshots are immutable directories, each keeping the
    // schema it was written with), and readHistory serves ALL versions
    // under the unified schema — the added column reads as NULL for
    // v1 rows, never a dropped row or a silently-cast value. Type
    // drift refusal is CatalogIoSpec-pinned.
    "k12_schema_evolution" -> ((s, dir) => {
      val cat = new TableCatalog(s, Scratch.dir("graft_k12_"))
      val nation = t(s, dir, "nation")
      Versioned.write(cat, nation.select(col("n_nationkey").as("key"),
        col("n_name").as("name")), "evo_v")
      Versioned.write(cat, nation.filter(col("n_regionkey") < 3)
        .select(col("n_nationkey").as("key"),
          upper(col("n_name")).as("name"),
          col("n_regionkey").as("region")), "evo_v")
      Versioned.readHistory(cat, "evo_v")
        .orderBy(col("version"), col("key"))
    })
  )

  val oracle: Map[String, String] = Map(
    "s11_jsonl_scan" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         ORDER BY doc_id""",
    "s12_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         ORDER BY doc_id""",
    "s01_http_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "s02_zip_csv" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         ORDER BY n_nationkey""",
    "s03_excel_scan" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "s04_local_csv" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
         ORDER BY s_suppkey""",
    "s07_partitions" ->
      """SELECT DISTINCT ts::DATE AS d FROM events ORDER BY d""",
    "k01_overwrite_write" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "k02_partitioned_write" ->
      """SELECT d, COUNT(*) AS n FROM (
           SELECT CAST(ts::DATE AS VARCHAR) AS d FROM events)
         WHERE d IN (SELECT DISTINCT CAST(ts::DATE AS VARCHAR) AS dd
                     FROM events ORDER BY dd LIMIT 2)
         GROUP BY d ORDER BY d""",
    "k03_conditional_write" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "k04_csv_sink" ->
      """SELECT CAST(row_number() OVER (ORDER BY s_suppkey) - 1 AS INT)
           AS "index", s_suppkey, s_name, s_nationkey, s_acctbal
         FROM supplier ORDER BY "index"""",
    "k08_versioned_tt" ->
      """SELECT * FROM (
           SELECT 1 AS version, n_nationkey AS key, n_name AS name
           FROM nation
           UNION ALL
           SELECT 2, n_nationkey, upper(n_name) FROM nation
           WHERE n_regionkey < 3)
         ORDER BY version, key""",
    "k09_snapshot_diff" ->
      """WITH v1 AS (SELECT n_nationkey AS key, n_name AS name
             FROM nation),
           v2 AS (SELECT n_nationkey AS key,
               CASE WHEN n_nationkey % 3 = 0 THEN lower(n_name)
                 ELSE n_name END AS name
             FROM nation WHERE n_nationkey % 7 <> 0
             UNION ALL
             SELECT n_nationkey + 1000, n_name FROM nation
             WHERE n_regionkey = 0)
         SELECT key, op FROM (
           SELECT COALESCE(a.key, b.key) AS key,
             CASE WHEN a.key IS NULL THEN 'added'
                  WHEN b.key IS NULL THEN 'removed'
                  WHEN a.name IS DISTINCT FROM b.name THEN 'changed'
             END AS op
           FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key)
         WHERE op IS NOT NULL ORDER BY key""",
    "k10_restore" ->
      """SELECT n_nationkey AS key, n_name AS name,
           3 AS current_version
         FROM nation ORDER BY key""",
    "k11_merge_upsert" ->
      """WITH upd AS (SELECT n_nationkey AS key, lower(n_name) AS name
             FROM nation WHERE n_nationkey % 3 = 0),
           ins AS (SELECT n_nationkey + 1000 AS key, n_name AS name
             FROM nation WHERE n_regionkey = 0),
           del AS (SELECT n_nationkey AS key FROM nation
             WHERE n_nationkey % 7 = 1 AND n_nationkey % 3 <> 0
             UNION ALL SELECT 9999),
           srckeys AS (SELECT key FROM upd UNION
             SELECT key FROM ins UNION SELECT key FROM del)
         SELECT key, name, 2 AS version FROM (
           SELECT n_nationkey AS key, n_name AS name FROM nation
           WHERE n_nationkey NOT IN (SELECT key FROM srckeys)
           UNION ALL SELECT key, name FROM upd
           UNION ALL SELECT key, name FROM ins)
         ORDER BY key""",
    "k12_schema_evolution" ->
      """SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS version, n_nationkey AS key,
             n_name AS name, CAST(NULL AS INTEGER) AS region
           FROM nation
           UNION ALL
           SELECT 2, n_nationkey, upper(n_name), n_regionkey
           FROM nation WHERE n_regionkey < 3)
         ORDER BY version, key"""
  )
}

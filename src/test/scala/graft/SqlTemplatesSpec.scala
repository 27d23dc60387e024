package graft

import java.nio.file.{Files, Paths}

import graft.catalog.TableCatalog
import graft.sql.SqlTemplates

class SqlTemplatesSpec extends SparkSpec {
  import spark.implicits._

  test("readSql substitutes positional params") {
    val dir = java.nio.file.Paths.get(graft.core.Scratch.dir("sqlt_"))
    val p = dir.resolve("q.sql")
    Files.write(p, "SELECT * FROM t WHERE a = '{0}' AND b = '{1}'"
      .getBytes("UTF-8"))
    assert(SqlTemplates.readSql(p.toString, "x", "y") ==
      "SELECT * FROM t WHERE a = 'x' AND b = 'y'")
  }

  test("translate maps warehouse ids, partition scans and PARSE_DATE") {
    assert(SqlTemplates.translate(
      "SELECT * FROM `graft.main.custom_search`") ==
      "SELECT * FROM custom_search")
    assert(SqlTemplates.translate(
      "SELECT partition_id FROM [graft:main.similarity$__PARTITIONS_SUMMARY__]") ==
      "SELECT partition_id FROM similarity__partitions_summary")
    assert(SqlTemplates.translate(
      "WHERE date_extract = PARSE_DATE('%Y%m%d', '20210601')") ==
      "WHERE date_extract = to_date('20210601', 'yyyyMMdd')")
  }

  test("template path equals the DataFrame form over a catalog") {
    val wh = graft.core.Scratch.dir("sqlt_wh_")
    val cat = new TableCatalog(spark, wh)
    val df = Seq(("a", "2021-06-01", 1), ("b", "2021-06-01", 2),
      ("c", "2021-06-02", 3)).toDF("k", "date_extract", "v")
    Seq("2021-06-01", "2021-06-02").foreach(d =>
      cat.writePartition(df, "custom_search", "date_extract", d))
    SqlTemplates.registerCatalog(spark, cat, wh)

    val dir = java.nio.file.Paths.get(graft.core.Scratch.dir("sqlt_q_"))
    Files.write(dir.resolve("get_data.sql"),
      """SELECT k, v
        |FROM `graft.main.custom_search`
        |WHERE date_extract = '{0}'""".stripMargin.getBytes("UTF-8"))
    val viaTemplate = SqlTemplates
      .runFile(spark, dir.resolve("get_data.sql").toString, "2021-06-01")
      .orderBy($"k").collect().toSeq
    val viaDf = cat.read("custom_search")
      .filter($"date_extract" === "2021-06-01")
      .select($"k", $"v").orderBy($"k").collect().toSeq
    assert(viaTemplate == viaDf)

    // the legacy partitions scan sees the metadata-only listing
    val parts = SqlTemplates.run(spark,
      "SELECT partition_id FROM [graft:main.custom_search$__PARTITIONS_SUMMARY__]")
      .orderBy($"partition_id").as[String].collect().toSeq
    assert(parts == Seq("2021-06-01", "2021-06-02"))
  }

  test("vendored template fixture matches the reference byte-for-byte " +
       "and resolves without the reference tree") {
    val name = "get_rna_waldec_filtered_data.sql"
    // fallback path: a bogus root forces the vendored classpath copy
    val vendored = SqlTemplates.referenceTemplate(name, "/nonexistent")
    assert(vendored.contains("rna_waldec_filtered"))
    // when the reference checkout exists, the two sources must agree —
    // resolved through the same GRAFT_REFERENCE_ROOT default the s10
    // gate uses, so the copy actually being served is the one checked
    val root = sys.env.getOrElse("GRAFT_REFERENCE_ROOT", "/root/reference")
    val ref = Paths.get(root, "sql", name)
    if (Files.isReadable(ref)) {
      val live = new String(Files.readAllBytes(ref), "UTF-8")
      assert(live == vendored,
        s"vendored fixture for $name diverged from the reference copy")
      assert(SqlTemplates.referenceTemplate(name) == live)
    }
  }

  test("the reference's full .sql template corpus runs verbatim") {
    import org.apache.spark.sql.functions.{col, date_format, lit, when}
    // the whole point of the template layer: every template asset from
    // /root/reference/sql/*.sql parses, translates, and executes
    // UNMODIFIED over temp views named as the templates expect
    val refSql = new java.io.File("/root/reference/sql")
    assume(refSql.isDirectory)
    val files = refSql.listFiles().map(_.getName)
      .filter(_.endsWith(".sql")).sorted.toSeq
    assert(files.size == 9, s"expected the 9-file corpus, got $files")

    val dir = "/root/testdata/sf0.001"
    val orders = graft.core.Tables.load(spark, dir, "orders")
    val customer = graft.core.Tables.load(spark, dir, "customer")

    // warehouse-backed custom_search/similarity so the two legacy
    // [p:d.t$__PARTITIONS_SUMMARY__] scans hit real metadata-only listings
    val wh = graft.core.Scratch.dir("sqlt_refwh_")
    val cat = new TableCatalog(spark, wh)
    val cs = orders.select(col("o_orderkey").as("k"),
      col("o_totalprice").as("v"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_extract"))
    val days = cs.select($"date_extract").distinct()
      .orderBy($"date_extract").limit(2).as[String].collect().toSeq
    days.foreach(d =>
      cat.writePartition(cs, "custom_search", "date_extract", d))
    val sim = customer.select(col("c_custkey").as("id"),
      col("c_name").as("name"),
      when(col("c_custkey") % 2 === 0, days.head).otherwise(days.last)
        .as("date_extract"))
    days.foreach(d => cat.writePartition(sim, "similarity", "date_extract", d))
    SqlTemplates.registerCatalog(spark, cat, wh)

    // plain views carrying the column surface the other templates expect
    SqlTemplates.registerTable(spark, "associations_raw",
      customer.select(col("c_custkey"), col("c_name")))
    SqlTemplates.registerTable(spark, "associations_validation",
      customer.select(col("c_custkey"), col("c_mktsegment")))
    SqlTemplates.registerTable(spark, "rna_waldec_filtered",
      customer.withColumn("filtered_cat",
        when(col("c_mktsegment") === "BUILDING", "yes").otherwise("no")))
    SqlTemplates.registerTable(spark, "wp_export_associations",
      orders.select(
        col("o_orderpriority").as("Title"),
        col("o_orderkey").as("product_id"),
        col("o_orderdate").cast("string").as("_dates_event_user"),
        lit("content").as("Content"),
        lit("1").as("_wp_import"),
        lit("addr").as("_address"),
        lit("addr").as("_friendly_address"),
        lit(null).cast("string").as("Image_Featured"),
        lit(null).cast("string").as("Image_URL"),
        lit(null).cast("string").as("_gallery_unserialized"),
        lit("cat").as("Categories"),
        lit("feat").as("Features"),
        col("o_custkey").as("Author_ID"),
        col("o_orderstatus").as("_listing_type")))

    val params = Map(
      "get_date_custom_search_data.sql" -> Seq(days.head.replace("-", "")),
      "get_products_id.sql" -> Seq("O"))
    val rows = files.map { f =>
      val ps = params.getOrElse(f, Seq.empty)
      f -> SqlTemplates.runFile(spark, s"$refSql/$f", ps: _*).count()
    }.toMap
    rows.foreach { case (f, n) => assert(n > 0, s"$f returned no rows") }
    // the PARSE_DATE('%Y%m%d','{0}') scan returns exactly day 1
    assert(rows("get_date_custom_search_data.sql") ==
      cs.filter($"date_extract" === days.head).count())
    // the parameterized product scan matches the direct filter
    assert(rows("get_products_id.sql") ==
      orders.filter($"o_orderstatus" === "O").count())
    // both legacy partition scans see the 2-day metadata listings
    assert(rows("get_partitions_custom_search.sql") == 2L)
    assert(rows("get_partitions_similarity.sql") == 2L)
    // the filtered-category scan matches the direct filter
    assert(rows("get_rna_waldec_filtered_data.sql") ==
      customer.filter($"c_mktsegment" === "BUILDING").count())
  }
}

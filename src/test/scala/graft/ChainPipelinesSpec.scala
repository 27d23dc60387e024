package graft

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog
import graft.io.Connectors._
import graft.io.FileFetcher
import graft.pipelines.{DiscoveryPipeline, ExportPipeline,
  ValidationPipeline}
import graft.runner.Runner

class ChainPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Paths.get(graft.core.Scratch.dir(p))

  private def writeZip(path: String, members: (String, String)*): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(path))
    members.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
  }

  test("discovery chain: extraction -> similarity -> associations_raw") {
    val stage = tmp("disc_")
    val cat = new TableCatalog(spark, stage.resolve("wh").toString)
    val rnaCsv =
      """titre;objet_social1;objet_social;adrg_codepostal
        |THEATRE DES AMIS;9220;théâtre;75011
        |CLUB FOOT BANLIEUE;11235;football;93100
        |CHORALE DE PARIS;9240;chant choral;75005""".stripMargin
    val zipPath = stage.resolve("rna.zip").toString
    writeZip(zipPath, "rna1.csv" -> rnaCsv)
    // the nomenclature lookup travels as a real .xlsx, as in the
    // reference (custom_search_extraction.py:92-94)
    val xlsxPath = stage.resolve("nomenclature.xlsx").toString
    graft.io.ExcelXlsx.write(xlsxPath, "Feuil1",
      Seq("Code Objet Social", "famille"),
      Seq(Seq(9220L, "culture"), Seq(9240L, "culture")))
    val notifier = new CollectingNotifier
    val pipe = new DiscoveryPipeline(cat, StubSearchApi, StubFbResolver,
      notifier, today = "2021-06-01",
      categories = Seq("théâtre", "chant choral"))

    pipe.runExtraction(spark, zipPath, xlsxPath, FileFetcher)
    assert(cat.tableExists("rna_waldec_filtered"))
    // Paris filter dropped the 93100 row; both Paris rows flagged yes
    val rna = cat.read("rna_waldec_filtered")
    assert(rna.count() == 2)
    assert(rna.filter($"filtered_cat" === "yes").count() == 2)
    // search ran for both candidate keywords
    val cs = cat.read("custom_search")
    assert(cs.select($"searchTerms").distinct().count() == 2)
    assert(cat.listPartitions("custom_search", "date_extract") ==
      Seq("2021-06-01"))

    // idempotency guard: a second run for the same day is skipped
    val ran = Runner.runDailyPartition(cat, notifier, "custom_search",
      "date_extract", "2021-06-01") { fail("must not rerun") }
    assert(!ran)

    pipe.runSimilarity(spark)
    assert(cat.listPartitions("similarity", "date_extract") ==
      Seq("2021-06-01"))
    val sim = cat.read("similarity")
    assert(sim.columns.contains("levenshtein_similarity"))

    val assoc = pipe.runAssociationsRaw(spark)
    assert(assoc.filter($"check_levenshtein_similarity_facebook".isin(
      "fb_account", "potential_fb_account", "no_fb_account")).count() ==
      assoc.count())
  }

  test("validation round-trip: push -> human edit -> retreat") {
    val stage = tmp("val_")
    val cat = new TableCatalog(spark, stage.resolve("wh").toString)
    val sheets = new CsvSheetIO(stage.resolve("sheets").toString)
    val notifier = new CollectingNotifier

    // associations_raw fixture: one good candidate, one no-account, one
    // blocked by the negative regex
    Seq(
      ("THEATRE DES AMIS", "potential_fb_account", "75011", "2021-06-01"),
      ("CHORALE SANS FB", "no_fb_account", "75005", "2021-06-01"),
      ("LYCEE VOLTAIRE", "fb_account", "75011", "2021-06-01"))
      .toDF("titre", "check_levenshtein_similarity_facebook",
        "adrs_codepostal", "date_extract")
      .write.mode("overwrite")
      .parquet(cat.tablePath("associations_raw"))

    Seq("THEATRE DES AMIS", "CHORALE SANS FB", "LYCEE VOLTAIRE")
      .toDF("titre").coalesce(1).write.option("header", "true")
      .csv(stage.resolve("sheets/val/to_add").toString)
    Seq.empty[String].toDF("titre").coalesce(1).write
      .option("header", "true")
      .csv(stage.resolve("sheets/val/validated").toString)

    val pipe = new ValidationPipeline(cat, sheets, StubGeocoder,
      notifier, today = "2021-06-02")
    val pushed = pipe.pushCandidates(spark, "val")
    assert(pushed.select($"titre").as[String].collect().toSeq ==
      Seq("THEATRE DES AMIS"))

    // simulate the human validating in the sheet
    val validated = sheets.download(spark, "val", "to_validate")
      .withColumn("fb_validation", lit("yes"))
      .withColumn("main_category", lit("Culture"))
    sheets.upload(validated, "val", "to_validate")
    // history holds an older upload of the same titre (keep-last dedup
    // must prefer the new one) and the removal list is non-matching
    Seq(("Theatre Des Amis", "2020-01-01", "75011", "48.1", "2.1"))
      .toDF("titre", "date_upload", "adrs_codepostal", "Lattitude",
        "Longitude")
      .coalesce(1).write.option("header", "true")
      .csv(stage.resolve("sheets/val/history").toString)
    Seq("Removed Asso").toDF("titre").coalesce(1).write
      .option("header", "true")
      .csv(stage.resolve("sheets/val/to_remove").toString)

    val out = pipe.retreat(spark, "val",
      stage.resolve("wp.csv").toString)
    val rows = out.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("titre") == "Theatre Des Amis") // title-cased
    assert(r.getAs[String]("arrondissement") == "Paris 11")
    assert(cat.listPartitions("associations_validation", "date_extract")
      == Seq("2021-06-02"))
    // history sheet updated + WP CSV shipped with index col
    assert(sheets.download(spark, "val", "history").count() == 1)
    val wp = spark.read.option("header", "true").option("sep", ";")
      .csv(stage.resolve("wp.csv").toString)
    assert(wp.count() == 1 && wp.columns.contains("index"))
  }

  test("export pipeline: per-author aggregate from the unfiltered frame") {
    val stage = tmp("exp_")
    val cat = new TableCatalog(spark, stage.resolve("wh").toString)
    def csv(name: String, content: String): String = {
      val p = stage.resolve(name)
      Files.write(p, content.getBytes("UTF-8")); p.toString
    }
    val usersCsv = csv("users.csv",
      "ID;User_Email\n10;a@x.org\n11;b@x.org\n12;c@x.org")
    val listingsCsv = csv("listings.csv",
      """Author_ID;Title;Categories;_listing_type
        |10;Listing A;;service
        |10;Listing B;Assos;event
        |11;Listing C;Assos;service""".stripMargin)
    val (users, _) = new ExportPipeline(cat)
      .run(spark, usersCsv, listingsCsv, FileFetcher)
    val got = users.orderBy($"Author_ID")
      .select($"Author_ID", $"nb_listing_owned", $"listing_owned")
      .as[(Int, Long, String)].collect()
    // author 10 counts BOTH listings (unfiltered-aggregate quirk)
    assert(got.toSeq == Seq((10, 2L, "yes"), (11, 1L, "yes"),
      (12, 0L, "no")))
    assert(cat.tableExists("wp_users") && cat.tableExists("wp_listings"))
  }
}

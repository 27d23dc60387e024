package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog
import graft.io.Connectors.CollectingNotifier
import graft.io.FileFetcher
import graft.pipelines.EventsPipeline

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Fixture CSV shaped like the Paris open-data export (reference
    * column names before slugify). */
  private val fixtureCsv =
    Seq(
      "Titre;Occurrences;Coordonnées géographiques;Description;" +
        "Date de début;Date de fin;Ville;Code postal;Adresse du lieu;" +
        "Catégorie;Type de prix",
      "Concert Jazz;2021-06-01T20:00;48.86,2.35;Un concert <div " +
        "class=\"component\"><iframe src=\"https://www.youtube.com/" +
        "embed/abc?feature=oembed\"></iframe></div></div>;" +
        "2021-06-01T20:00;2021-06-03T23:00;Paris;75011;12 rue de la Paix;" +
        "Concerts -> Jazz;payant",
      "Vieux spectacle;2019-01-05T10:00;48.80,2.30;desc;" +
        "2019-01-05T10:00;2019-01-05T12:00;Paris;75001;1 rue A;" +
        "Spectacles -> Théâtre;gratuit",
      "Banlieue expo;2021-07-01T10:00;48.90,2.50;desc;" +
        "2021-07-01T10:00;2021-07-02T10:00;Montreuil;93100;2 rue B;" +
        "Expositions -> Autre expo;gratuit"
    ).mkString("\n")

  test("events pipeline end-to-end on a fixture (SURVEY §7.2 slice)") {
    val stage = java.nio.file.Paths.get(graft.core.Scratch.dir("pipe_"))
    val csv = stage.resolve("events.csv")
    Files.write(csv, fixtureCsv.getBytes("UTF-8"))
    val cat = new TableCatalog(spark, stage.resolve("wh").toString)
    val notifier = new CollectingNotifier
    val pipeline = new EventsPipeline(cat, FileFetcher, notifier,
      today = "2021-01-01", calendarFrom = "2021-06-01",
      calendarTo = "2021-06-05")
    val out = pipeline.run(spark, csv.toString,
      stage.resolve("wp_csv").toString)

    // the 2019 event is dropped by the as-of filter
    val rows = out.orderBy($"Titre").collect()
    assert(rows.map(_.getAs[String]("Titre")).toSeq ==
      Seq("Banlieue expo", "Concert Jazz"))

    val jazz = out.filter($"Titre" === "Concert Jazz").collect()(0)
    assert(jazz.getAs[String]("calendar_availability") ==
      "2-06-2021|3-06-2021|4-06-2021|5-06-2021")
    assert(jazz.getAs[String]("Lattitude") == "48.86")
    assert(jazz.getAs[String]("video_link") ==
      "https://www.youtube.com/watch?v=abc")
    assert(!jazz.getAs[String]("Description").contains("iframe"))
    assert(jazz.getAs[Int]("Duree_evenement") == 2)
    assert(jazz.getAs[String]("Date_de_debut_clean") ==
      "mardi 01 juin 2021")
    assert(jazz.getAs[String]("arrondissement") == "Paris 11")
    assert(jazz.getAs[String]("combined_address") ==
      "12 rue de la Paix, 75011, Paris")
    assert(jazz.getAs[String]("flag_categories_to_import") == "yes")
    assert(jazz.getAs[String]("main_category") == "Musique")
    assert(jazz.getAs[String]("Type_de_prix") == "Payant")

    val banlieue = out.filter($"Titre" === "Banlieue expo").collect()(0)
    assert(banlieue.getAs[String]("arrondissement") == null)

    // table written; WP CSV kill-switched to header-only
    assert(cat.tableExists("crm_events"))
    assert(cat.read("crm_events").count() == 2)
    val wp = spark.read.option("header", "true").option("sep", ";")
      .csv(stage.resolve("wp_csv").toString)
    assert(wp.count() == 0)
    assert(wp.columns.contains("Titre"))
    assert(notifier.messages.nonEmpty)
  }
}

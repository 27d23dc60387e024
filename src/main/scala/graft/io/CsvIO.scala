package graft.io

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Scratch

/** CSV sources and sinks (SURVEY §2.1 S1/S2/S4, K4).
  *
  * Remote fetch is behind [[Fetcher]] so tests stay hermetic
  * ([[FileFetcher]]) while production uses [[UrlFetcher]]. Fetched bytes
  * are staged to a local file and read with the normal Spark CSV reader,
  * so schema inference, malformed-line dropping and encoding all behave
  * identically to a direct read — and at cluster scale the staging
  * target would be shared storage, everything after unchanged. The
  * staged copy is [[Scratch]] space: the returned frame reads it
  * lazily, so it lives until the caller's [[Scratch.scope]] closes.
  */
trait Fetcher extends Serializable {
  def fetch(url: String): Array[Byte]
}

/** file:// and plain-path fetch — the hermetic test implementation. */
object FileFetcher extends Fetcher {
  def fetch(url: String): Array[Byte] = {
    val p = if (url.startsWith("file:")) Paths.get(new java.net.URI(url))
            else Paths.get(url)
    Files.readAllBytes(p)
  }
}

/** HTTP(S) fetch via the JDK client (production; not exercised in the
  * zero-egress test environment). */
object UrlFetcher extends Fetcher {
  def fetch(url: String): Array[Byte] = {
    val in = new java.net.URI(url).toURL.openStream()
    try in.readAllBytes() finally in.close()
  }
}

/** S1: HTTP CSV scan (process_open_data.py:34-36 — `;`-separated UTF-8,
  * bad lines dropped). */
class HttpCsvSource(fetcher: Fetcher) {
  /** Without `schema` the types are inferred; note DROPMALFORMED only
    * drops type-unparseable rows under an explicit schema (Spark CSV
    * semantics — extra/missing tokens are truncated/null-filled). */
  def read(spark: SparkSession, url: String, sep: String = ";",
           encoding: String = "UTF-8",
           schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val staged = Paths.get(Scratch.dir("graft_csv_"), "staged.csv")
    Files.write(staged, fetcher.fetch(url))
    val base = spark.read
      .option("header", "true").option("sep", sep)
      .option("encoding", encoding).option("mode", "DROPMALFORMED")
    schema.fold(base.option("inferSchema", "true"))(base.schema)
      .csv(staged.toString)
  }
}

/** S2: HTTP zip multi-CSV scan (custom_search_extraction.py:69-87 —
  * every member parsed and concatenated; the multi-file union is native
  * to the Spark reader). */
class ZipCsvSource(fetcher: Fetcher) {
  def read(spark: SparkSession, url: String, sep: String = ";",
           encoding: String = "UTF-8",
           columns: Seq[String] = Nil): DataFrame = {
    val dir = Scratch.dir("graft_zip_")
    val dirPath = Paths.get(dir).toAbsolutePath.normalize()
    val zin = new ZipInputStream(
      new java.io.ByteArrayInputStream(fetcher.fetch(url)))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // zip-slip guard: a crafted archive can carry '../' entry names
          // that would escape the staging dir — resolve and verify before
          // writing; nested entry paths need their parents created
          val target = dirPath.resolve(e.getName).normalize()
          if (!target.startsWith(dirPath))
            throw new SecurityException(
              s"zip entry escapes staging dir: ${e.getName}")
          Files.createDirectories(target.getParent)
          val out = new FileOutputStream(target.toFile)
          try out.write(zin.readAllBytes()) finally out.close()
        }
        zin.closeEntry(); e = zin.getNextEntry
      }
    } finally zin.close()
    val df = spark.read
      .option("header", "true").option("sep", sep)
      .option("encoding", encoding).option("mode", "DROPMALFORMED")
      .option("inferSchema", "true")
      .option("recursiveFileLookup", "true") // nested zip entries
      .csv(dir)
    if (columns.isEmpty) df else df.select(columns.map(col).toIndexedSeq: _*)
  }
}

/** K4: WP-import CSV sink — `;`-separated UTF-8 with a leading
  * materialized index column, matching pandas to_csv's index
  * (process_open_data.py:273). The caller names the row order; a global
  * index implies a total order, so this sink is for the reference's
  * small export frames (SURVEY §7.4(1)). */
object CsvSink {
  def write(df: DataFrame, path: String, orderCols: Seq[Column]): Unit = {
    val w = Window.orderBy(orderCols: _*)
    df.withColumn("index", row_number().over(w) - 1)
      .select((col("index") +: df.columns.map(col)).toIndexedSeq: _*)
      .orderBy(col("index"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("header", "true").option("sep", ";")
      .csv(path)
  }
}

package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.core.{Par, Scratch}
import graft.io.{FileFetcher, HttpCsvSource, ZipCsvSource}

class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private def exists(d: String) = new File(d).exists()

  /** `graft_*` entries of the temp dir. */
  private def graftEntries(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith("graft_")).toSet)

  /** The `graft_*` entries `body` leaves behind. */
  private def leftBy(body: => Unit): Set[String] = {
    val before = graftEntries()
    body
    graftEntries() -- before
  }

  test("a scope deletes its directories on return and on throw") {
    var made = Seq.empty[String]
    val r = Scratch.scope {
      made = Seq(Scratch.dir("graft_sc_a_"), Scratch.dir("graft_sc_b_"))
      Files.write(Paths.get(made.head, "f.txt"), "x".getBytes("UTF-8"))
      Files.createDirectories(Paths.get(made(1), "nested", "deeper"))
      assert(made.forall(exists))
      42
    }
    assert(r == 42)
    assert(!made.exists(exists), made)
    var thrown = ""
    intercept[IllegalStateException] {
      Scratch.scope {
        thrown = Scratch.dir("graft_sc_t_")
        throw new IllegalStateException("boom")
      }
    }
    assert(thrown.nonEmpty && !exists(thrown))
  }

  test("a directory made in a Par.concurrently lane goes with the " +
       "lane's parent scope; an inner scope deletes only its own") {
    var lanes = Seq.empty[String]
    var outer = ""
    Scratch.scope {
      outer = Scratch.dir("graft_sc_o_")
      lanes = Par.concurrently(Seq(
        () => Scratch.dir("graft_sc_l1_"),
        () => Scratch.dir("graft_sc_l2_")))
      val inner = Scratch.scope(Scratch.dir("graft_sc_i_"))
      assert(!exists(inner))
      assert((outer +: lanes).forall(exists))
    }
    assert(!(outer +: lanes).exists(exists), outer +: lanes)
  }

  test("a directory made outside any scope survives scope exits") {
    val loose = Scratch.dir("graft_sc_loose_")
    try {
      Scratch.scope(Scratch.dir("graft_sc_x_"))
      intercept[RuntimeException](Scratch.scope {
        Scratch.dir("graft_sc_y_"); throw new RuntimeException("x")
      })
      assert(exists(loose))
    } finally new File(loose).delete()
  }

  test("HttpCsvSource and ZipCsvSource read inside a scope return the " +
       "staged rows and leave no staging entry behind") {
    val src = Files.createTempFile("csvsrc_", ".csv")
    Files.write(src, "a;b\n1;x\n2;y\n".getBytes("UTF-8"))
    val zipPath = Files.createTempFile("zipsrc_", ".zip")
    val bytes = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bytes)
    Seq("m1.csv" -> "a;b\n1;x\n", "sub/m2.csv" -> "a;b\n2;y\n").foreach {
      case (n, body) =>
        z.putNextEntry(new ZipEntry(n)); z.write(body.getBytes("UTF-8"))
        z.closeEntry()
    }
    z.close()
    Files.write(zipPath, bytes.toByteArray)
    try {
      var csvRows = Seq.empty[(Int, String)]
      var zipRows = Seq.empty[(Int, String)]
      val left = leftBy(Scratch.scope {
        csvRows = new HttpCsvSource(FileFetcher).read(spark, src.toString)
          .orderBy($"a").as[(Int, String)].collect().toSeq
        zipRows = new ZipCsvSource(FileFetcher).read(spark, zipPath.toString)
          .orderBy($"a").as[(Int, String)].collect().toSeq
      })
      assert(csvRows == Seq((1, "x"), (2, "y")))
      assert(zipRows == Seq((1, "x"), (2, "y")))
      assert(left.isEmpty, left)
    } finally { Files.delete(src); Files.delete(zipPath) }
  }

  test("gates run through the bench runner's scope leave no directory " +
       "behind, also when the gate throws") {
    val gates = Seq("ann07_index_probe", "s02_zip_csv", "dp11_purge_all")
    val ok = leftBy(gates.foreach(Bench.run(spark, _, Bench.WarmDir)))
    assert(ok.isEmpty, ok)
    // an sf dir without tables: each gate makes its scratch first, then
    // fails loading its input
    val empty = Files.createTempDirectory("sf_empty_").toString
    try {
      val failed = leftBy(gates.foreach { g =>
        val e = intercept[RuntimeException](Bench.run(spark, g, empty))
        assert(e.getMessage.contains(s"query $g failed"), e.getMessage)
      })
      assert(failed.isEmpty, failed)
    } finally new File(empty).delete()
  }
}

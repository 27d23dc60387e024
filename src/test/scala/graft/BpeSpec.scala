package graft

import org.apache.spark.sql.functions._

import graft.text.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("mergeTokens is greedy left-to-right non-overlapping") {
    def m(t: Seq[String], l: String, r: String) =
      Bpe.mergeTokens(t.toArray, l, r).toSeq
    assert(m(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(m(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq("x", "a", "a", "a"), "a", "a") == Seq("x", "aa", "a"))
    assert(m(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    // a fused symbol never re-fuses with the next token in the same
    // pass (it is strictly longer than l)
    assert(m(Seq("a", "a", "aa"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq.empty, "a", "a") == Seq.empty)
  }

  test("encodeWord is lossless: subword concatenation reproduces the " +
       "word under any merge list") {
    val merges = Seq(("e", "r"), ("er", "s"), ("a", "n"), ("t", "h"))
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val w = (0 until (1 + rnd.nextInt(12)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      val enc = Bpe.encodeWord(w, merges)
      assert(enc.mkString == w, s"lossy encode of '$w': $enc")
      assert(enc.forall(_.nonEmpty))
    }
  }

  test("re-encoding the training corpus reproduces the merge order " +
       "deterministically (each rank is the argmax of the corpus " +
       "re-encoded under the earlier merges)") {
    val wc = Array(("banana", 30L), ("bandana", 20L), ("ananas", 10L),
      ("cabana", 7L), ("nab", 5L))
    val merges = Bpe.trainOnCounts(wc, 8)
    assert(merges.map(_.rank) == (1 to merges.length))
    merges.indices.foreach { i =>
      val prior = merges.take(i).map(m => (m.left, m.right))
      // re-encode every training word under merges 1..i, recount
      // pairs, and check merge i+1 is exactly the (count desc, left,
      // right) argmax — training is a pure function of the corpus
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      wc.foreach { case (w, c) =>
        val t = Bpe.encodeWord(w, prior)
        (0 until t.length - 1).foreach { j =>
          pc((t(j), t(j + 1))) = pc.getOrElse((t(j), t(j + 1)), 0L) + c
        }
      }
      val ((l, r), n) = pc.minBy { case ((pl, pr), c) => (-c, pl, pr) }
      val m = merges(i)
      assert((m.left, m.right, m.count) == (l, r, n),
        s"rank ${i + 1}: trained ${(m.left, m.right, m.count)} vs " +
          s"re-derived ${(l, r, n)}")
    }
    // and the whole train is reproducible
    assert(Bpe.trainOnCounts(wc, 8) == merges)
    // early stop: single-char words have no pairs to merge
    assert(Bpe.trainOnCounts(Array(("a", 5L), ("b", 3L)), 4).isEmpty)
  }

  test("distributed train equals the driver loop on hand counts, and " +
       "encodeStats sums per-doc subwords") {
    val docs = Seq(
      (1L, "Banana banana BANDANA!"),
      (2L, "ananas & bandana"),
      (3L, "nab nab banana"),
      (4L, ""),             // no words: no encodeStats row
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val wc = Array(("banana", 3L), ("bandana", 2L), ("nab", 2L),
      ("ananas", 1L))
    val expect = Bpe.trainOnCounts(wc, 6)
    assert(Bpe.train(docs, "text", numMerges = 6) == expect)
    // truncation: maxWords=1 trains on the top word only (count desc,
    // word asc is a total order)
    assert(Bpe.train(docs, "text", numMerges = 2, maxWords = 1) ==
      Bpe.trainOnCounts(Array(("banana", 3L)), 2))
    val stats = Bpe.encodeStats(docs, "doc_id", "text", expect)
      .orderBy($"doc_id")
      .as[(Long, Long, Long)].collect()
    val ms = expect.map(m => (m.left, m.right))
    def nsub(ws: Seq[String]) =
      ws.map(w => Bpe.encodeWord(w, ms).length.toLong).sum
    assert(stats.toSeq == Seq(
      (1L, 3L, nsub(Seq("banana", "banana", "bandana"))),
      (2L, 2L, nsub(Seq("ananas", "bandana"))),
      (3L, 3L, nsub(Seq("nab", "nab", "banana")))))
  }

  test("BpeIndex round-trips the persisted merge table and encodes " +
       "identically under the loaded artifact; missing meta fails " +
       "loudly") {
    import graft.text.BpeIndex
    val docs = Seq(
      (1L, "banana banana bandana"),
      (2L, "ananas bandana nab"),
      (3L, "nab nab banana banana")
    ).toDF("doc_id", "text")
    val wh = graft.core.Scratch.dir("bpeidx_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val trained = BpeIndex.build(cat, docs, "text", "voc",
      numMerges = 6, maxWords = 8)
    // the persisted table loads back to the exact same merge list
    assert(BpeIndex.loadMerges(cat, "voc") == trained)
    // encode under the loaded artifact == encode under the fresh fit
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(canon(BpeIndex.encodeStatsFromIndex(cat, "voc", docs,
        "doc_id", "text")) ==
      canon(Bpe.encodeStats(docs, "doc_id", "text", trained)))
    // a rebuild overwrites cleanly (different knobs, new meta)
    val retrained = BpeIndex.build(cat, docs, "text", "voc",
      numMerges = 2, maxWords = 8)
    assert(BpeIndex.loadMerges(cat, "voc") == retrained)
    assert(retrained.length == 2)
    intercept[IllegalArgumentException] {
      BpeIndex.loadMerges(cat, "nope")
    }
  }

  test("byte-level BPE: accented and non-Latin text survives training " +
       "and encoding losslessly (hex-pair symbols, whitespace words)") {
    // é = C3 A9, α = CE B1 — multi-byte codepoints the [a-z] alphabet
    // destroys; here they ARE the signal
    val docs = Seq(
      (1L, "éé éé αβ"),
      (2L, "éé αβ αβ"),
      (3L, "Tab\tand\nnewline éé")
    ).toDF("doc_id", "text")
    // hand word counts: "éé"x4, "αβ"x3, "Tab"x1, "and"x1, "newline"x1
    val top = Bpe.trainBytes(docs, "text", numMerges = 4, maxWords = 16)
    // round 1 pairs (weighted): éé = C3 A9 C3 A9 → (C3,A9)x2/word = 8,
    // (A9,C3)x1/word = 4; αβ = CE B1 CE B2 → (CE,B1)=3, (B1,CE)=3,
    // (CE,B2)=3; so merge 1 = (C3,A9) with 8
    assert(top.head.left == "C3" && top.head.right == "A9" &&
      top.head.count == 8L, top.head.toString)
    // losslessness: subword concatenation hex-decodes to the word's
    // exact UTF-8 bytes, for ASCII and multi-byte alike
    val ms = top.map(m => (m.left, m.right))
    for (w <- Seq("éé", "αβ", "Tab", "newline", "déjà-vu €5")) {
      val joined = Bpe.encodeByteWord(w, ms).mkString
      val bytes = joined.grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") == w, w)
    }
    // whitespace-only pre-tokenization: tab/newline split, case kept
    val stats = Bpe.encodeStatsBytes(docs, "doc_id", "text", top)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    def nsub(ws: Seq[String]) =
      ws.map(w => Bpe.encodeByteWord(w, ms).length.toLong).sum
    assert(stats == Seq(
      (1L, 3L, nsub(Seq("éé", "éé", "αβ"))),
      (2L, 3L, nsub(Seq("éé", "αβ", "αβ"))),
      (3L, 4L, nsub(Seq("Tab", "and", "newline", "éé")))))
  }

  test("property: byte-level encoding is lossless for ARBITRARY " +
       "unicode strings under any trained merge list") {
    import org.scalacheck.Gen
    def forAllSamples[T](gen: Gen[T], n: Int = 200)(f: T => Unit): Unit =
      (1 to n).foreach(_ => gen.sample.foreach(f))
    // strings drawn from a deliberately nasty pool: ASCII, accented
    // Latin, Greek, CJK, a surrogate-PAIR emoji (drawn as a whole
    // codepoint - splitting it would make an invalid string no
    // charset can round-trip), 1-to-4-byte UTF-8 widths
    val pool = Seq("a", "\u00e9", " ", "\u03b1", "\u6f22", "\u5b57",
      "\ud83d\ude42", "\u00df", "\u20ac", "-", "Z", "g", "9")
    val strs = Gen.nonEmptyListOf(Gen.oneOf(pool)).map(_.mkString)
    forAllSamples(strs) { w =>
      // merges trained on the word itself exercise real fusions over
      // its own byte pairs — the adversarial case for losslessness
      val merges = Bpe.trainOnSymbols(
        Array((Bpe.hexPairs(w), 1L)), numMerges = 6)
        .map(m => (m.left, m.right))
      for (ms <- Seq(Seq.empty[(String, String)], merges)) {
        val joined = Bpe.encodeByteWord(w, ms).mkString
        val bytes = joined.grouped(2)
          .map(h => Integer.parseInt(h, 16).toByte).toArray
        assert(new String(bytes, "UTF-8") == w,
          s"lossy for '$w' under $ms")
      }
    }
  }

  test("BpeIndex records the alphabet and serves encodes under the " +
       "RECORDED tokenization; unknown alphabets are refused") {
    import graft.text.BpeIndex
    val docs = Seq(
      (1L, "éé éé banana"),
      (2L, "banana αβ αβ"),
      (3L, "éé αβ banana banana")
    ).toDF("doc_id", "text")
    val wh = graft.core.Scratch.dir("bbpeidx_")
    val cat = new graft.catalog.TableCatalog(spark, wh)
    val trained = BpeIndex.build(cat, docs, "text", "bvoc",
      numMerges = 6, maxWords = 16, alphabet = "bytes")
    assert(BpeIndex.loadAlphabet(cat, "bvoc") == "bytes")
    assert(BpeIndex.loadMerges(cat, "bvoc") == trained)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    // the loaded-artifact encode dispatches to the BYTE encoder — the
    // [a-z] encoder over hex-pair merges would differ (it sees only
    // "banana"); equality against the fresh byte fit pins the dispatch
    assert(canon(BpeIndex.encodeStatsFromIndex(cat, "bvoc", docs,
        "doc_id", "text")) ==
      canon(Bpe.encodeStatsBytes(docs, "doc_id", "text", trained)))
    // an az-built artifact (the default) still serves the az encoder
    val az = BpeIndex.build(cat, docs, "text", "avoc", numMerges = 4)
    assert(BpeIndex.loadAlphabet(cat, "avoc") == "az")
    assert(canon(BpeIndex.encodeStatsFromIndex(cat, "avoc", docs,
        "doc_id", "text")) ==
      canon(Bpe.encodeStats(docs, "doc_id", "text", az)))
    val ex = intercept[IllegalArgumentException] {
      BpeIndex.build(cat, docs, "text", "xvoc", alphabet = "utf16")
    }
    assert(ex.getMessage.contains("alphabet"), ex.getMessage)
  }
}

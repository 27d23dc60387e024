package graft

import org.apache.spark.sql.functions._

import graft.sim.{JaccardJoin, MinHashLSH, SimHash}
import graft.text.{TextAnalysis, TextHash}

class TextSimSpec extends SparkSpec {
  import spark.implicits._

  /** Naive Scala twin of the expression-side shingle hash. */
  private def naiveShingles(s: String, q: Int): Set[Long] =
    if (s.length < q) Set.empty
    else (0 to s.length - q).map { i =>
      (0 until q).map(j => (s.charAt(i + j).toLong % TextHash.CodeMod) *
        TextHash.pow31(q - 1 - j)).sum
    }.toSet

  test("shingleHashes matches a naive Scala implementation") {
    val texts = Seq("key agg row scan", "ab", "abcd")
    val out = texts.toDF("text")
      .withColumn("c", TextHash.charCodes($"text"))
      .select(TextHash.shingleHashesFromCodes($"c", 3))
      .as[Seq[Long]].collect()
    texts.zip(out).foreach { case (t, sh) =>
      assert(sh.toSet == naiveShingles(t, 3), s"for '$t'")
    }
  }

  test("hashes stay within Int64 on non-Latin codepoints") {
    // CJK + emoji codepoints are far above 255; unreduced they would
    // overflow Long in the 31^11 term (silent wrap in Spark, error in
    // DuckDB). charHash must stay positive and match charHashSql's math.
    val texts = Seq("你好世界😀abc",
      "café résumé über")
    val out = texts.toDF("t")
      .select(TextHash.charHash($"t"), TextHash.shingleHashes($"t", 5))
      .as[(Long, Seq[Long])].collect()
    out.foreach { case (h, sh) =>
      assert(h >= 0L && h < Long.MaxValue)
      assert(sh.forall(v => v >= 0L))
    }
  }

  test("planted near-dups are found by all three dedup paths") {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the cat sleeps near the warm fire in winter evenings"
    val nearDup = base.replace("winter", "summer")
    val other = "completely different content about spark catalyst " +
      "optimizer rules and whole stage code generation internals"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")

    val jac = JaccardJoin.selfJoinWords(docs, "doc_id", "text",
      threshold = 0.7).select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(jac.toSeq == Seq((1L, 2L)))

    val mh = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      threshold = 0.7).select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(mh.toSeq == Seq((1L, 2L)))

    val sh = SimHash.nearDupPairs(docs, "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(sh.toSeq.contains((1L, 2L)))
    assert(!sh.toSeq.exists(p => p._2 == 3L))
  }

  // randomized template corpus for the df-filter property tests:
  // every doc opens with the same boilerplate (~20% of its shingle
  // mass — inside the provable m/(1−t) loss bound), followed by random
  // content; consecutive id pairs (2i, 2i+1) are planted near-dups
  private def templateCorpus(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // vocabulary wide enough that CONTENT trigrams stay under the df
    // cut (each word lands in ~14% of docs) while the boilerplate's sit
    // at 100% — the regime the loss bound assumes; a 30-word vocab
    // would push the whole content space over the cut and the filter
    // would (correctly, per the bound) no longer owe recall
    val vocab = Vector.fill(400)(
      (0 until (5 + rnd.nextInt(4)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val boiler = "subscribe to our weekly newsletter full terms of " +
      "service apply all rights reserved worldwide"
    def content(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    (0 until 30).flatMap { i =>
      val words = content(60).split(" ")
      val perturbed = words.zipWithIndex.map { case (w, j) =>
        if (j % 15 == 7) vocab(rnd.nextInt(vocab.size)) else w
      }.mkString(" ")
      Seq((2L * i, s"$boiler ${words.mkString(" ")}"),
          (2L * i + 1, s"$boiler $perturbed"))
    }.toDF("doc_id", "text")
  }

  test("commonShingles returns exactly the over-df-cut shingles and " +
       "the filtered kernel signs the reduced sets") {
    val docs = templateCorpus(1)
    val common = MinHashLSH.commonShingles(docs, "doc_id", "text",
      maxDfFrac = 0.5)
    assert(common.nonEmpty) // the boilerplate must be detected
    // recompute df independently: every returned shingle is over the
    // cut, every omitted one under it
    val df = MinHashLSH.shingleSets(docs, "doc_id", "text", 3)
      .select(explode($"sh").as("h")).groupBy($"h").count()
      .as[(Long, Long)].collect().toMap
    val n = docs.count()
    assert(common.forall(h => df(h) > 0.5 * n))
    assert(df.filter(_._2 > 0.5 * n).keySet == common.toSet)
    // the filtered kernel = the plain kernel minus the dropped hashes,
    // re-signed over the reduced set (Column-form minhash as the
    // independent reference)
    val full = MinHashLSH.signatureFrame(docs, "doc_id", "text", 3)
      .select($"id", $"sh").withColumnRenamed("sh", "sh_full")
    val filt = MinHashLSH.signatureFrame(docs, "doc_id", "text", 3,
      dropShingles = Some(common))
    val cSet = common.toSet
    filt.join(full, Seq("id")).collect().foreach { r =>
      val fsh = r.getSeq[Long](r.fieldIndex("sh"))
      val fullSh = r.getSeq[Long](r.fieldIndex("sh_full"))
      assert(fsh == fullSh.filterNot(cSet), s"id=${r.get(0)}")
      assert(r.getInt(r.fieldIndex("n")) == fsh.size)
    }
    val sigCheck = filt.select($"id", $"sig",
      array((0 until MinHashLSH.NumPerm)
        .map(j => MinHashLSH.minhash($"sh", j)): _*).as("want"))
    assert(sigCheck.filter(not($"sig" <=> $"want")).count() == 0)
  }

  test("df-weighted filtering never loses a pair above threshold+margin " +
       "(and keeps gates byte-identical when off)") {
    for (seed <- Seq(1, 2, 3)) {
      val docs = templateCorpus(seed)
      val plain = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect()
      val weighted = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
          maxDfFrac = Some(0.5))
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      // the provable bound: boilerplate ≤ m/(1−t)·union (here ~20% vs
      // the 50% bound at t=0.8, m=0.1), so every pair with unfiltered
      // J ≥ 0.9 keeps filtered J ≥ 0.8 — asserted DETERMINISTICALLY on
      // the filtered exact Jaccard (the verify stage's accept set);
      // whether banding re-SURFACES a given pair stays the S-curve
      // lottery on both paths, which is variance, not loss
      val mustKeep = plain.filter(_._3 >= 0.9).map(p => (p._1, p._2))
      val common = MinHashLSH.commonShingles(docs, "doc_id", "text",
        maxDfFrac = 0.5)
      val filtSh = MinHashLSH.signatureFrame(docs, "doc_id", "text", 3,
        dropShingles = Some(common)).select($"id", $"sh")
      val inter = size(array_intersect($"sh_a", $"sh_b"))
      val filteredVerified = mustKeep.toSeq.toDF("doc_a", "doc_b")
        .join(filtSh.select($"id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
        .join(filtSh.select($"id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
        .filter(inter.cast("double") /
          (size($"sh_a") + size($"sh_b") - inter) >= 0.8)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val lost = mustKeep.filterNot(filteredVerified.contains)
      assert(lost.isEmpty,
        s"seed=$seed: df filtering pushed ${lost.length} pairs with " +
          s"unfiltered J >= t+0.1 below the verify threshold: " +
          lost.take(5).mkString(", "))
      // sanity floor, not the bound: planted pairs in the (t, t+m)
      // strip are allowed to drop (removing all-shared boilerplate
      // lowers J — (I−x)/(U−x) < I/U), but the filter must still find
      // a clear majority of the planted structure
      val planted = (0 until 30).map(i => (2L * i, 2L * i + 1)).toSet
      assert(weighted.count(planted.contains) >= 20, s"seed=$seed")
    }
    // flag off → byte-identical path (the frozen dd03/dp01 contract):
    // same plan, same rows
    val docs = templateCorpus(1)
    val a = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val b = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        maxDfFrac = None)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("decontaminate removes exactly the corpus docs sharing a " +
       "benchmark word n-gram") {
    import graft.text.Decontaminate
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 5-gram "alpha beta gamma delta epsilon"
      (1L, "alpha beta gamma delta epsilon other tail words here"),
      (2L, "completely different words with no overlap at all"),
      // shares the shifted 5-gram "beta gamma delta epsilon zeta"
      (3L, "prefix beta gamma delta epsilon zeta trailing"),
      (4L, "tiny doc")) // shorter than n: no grams, always survives
      .toDF("doc_id", "text")
    val out = Decontaminate
      .decontaminate(corpus, "doc_id", "text", bench, "text", 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 4L))
  }

  test("ContainmentJoin finds the short-doc-inside-long-doc relation " +
       "symmetric Jaccard misses; no self-pairs; gram-less docs " +
       "pair with nothing; bad thresholds refused") {
    import graft.sim.{ContainmentJoin, JaccardJoin}
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                    // the short doc
      (2L, s"$filler $quote"),        // quotes 1 whole inside filler
      (3L, "totally unrelated words that overlap with nothing else"),
      (4L, "tiny")                    // < n tokens: no grams
    ).toDF("doc_id", "text")
    val c = ContainmentJoin.containedIn(docs, "doc_id", "text", 5, 0.8)
      .select($"inner_id", $"outer_id", $"containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(c == Seq((1L, 2L, 1.0)), c.toString) // 1 fully inside 2, once
    // symmetric Jaccard at the same bar misses it: the union is
    // dominated by doc 2's filler
    assert(JaccardJoin.selfJoinWords(docs, "doc_id", "text", 5, 0.8)
      .count() == 0)
    intercept[IllegalArgumentException](
      ContainmentJoin.containedIn(docs, "doc_id", "text", 5, 0.85))
  }

  test("bloomDecontaminate's error is one-sided: every exact removal " +
       "is removed, survivors are a subset of the exact survivors; " +
       "bounded bits; short docs survive; bad geometry refused") {
    import graft.text.Decontaminate
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon other tail words here"),
      (2L, "completely different words with no overlap at all"),
      (3L, "prefix beta gamma delta epsilon zeta trailing"),
      (4L, "tiny doc")) // shorter than n: no grams, always survives
      .toDF("doc_id", "text")
    val d = 3; val m = 4096
    val bits = Decontaminate.bloomBits(bench, "text", 5, d, m)
    // the filter is bounded: at most min(m, d * #grams) positions
    assert(bits.count() <= d * 2) // bench has 2 distinct 5-grams
    val out = Decontaminate
      .bloomDecontaminate(corpus, "doc_id", "text", bits, 5, d, m)
      .select($"doc_id").as[Long].collect().toSet
    // one-sided: truly-contaminated 1 and 3 are ALWAYS removed; at
    // this fill ratio (≤6 bits of 4096) false positives are
    // vanishingly unlikely, so the clean docs survive
    assert(out == Set(2L, 4L))
    // a saturated filter still never under-removes — with every bit
    // set, everything WITH grams is flagged, gram-less docs survive
    val full = spark.range(m).select($"id".cast("int").as("pos"))
    val sat = Decontaminate
      .bloomDecontaminate(corpus, "doc_id", "text", full, 5, d, m)
      .select($"doc_id").as[Long].collect().toSet
    assert(sat == Set(4L))
    intercept[IllegalArgumentException](
      Decontaminate.bloomBits(bench, "text", 5, 0, m))
    intercept[IllegalArgumentException](
      Decontaminate.bloomDecontaminate(corpus, "doc_id", "text", bits,
        5, d, 0))
  }

  test("tokenBudgetSample keeps exactly the per-language best-quality " +
       "prefix within budget (boundary bucket, fits-whole, tie cases)") {
    import graft.text.Mixture
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // lang a: distinct buckets; budget 12 keeps ids 1,2 (cum 5,10),
      // id 3 (cum 15) crosses
      (1L, "a", 5L, 0.9), (2L, "a", 5L, 0.8), (3L, "a", 5L, 0.7),
      // lang b fits entirely -> keep-all path (boundary -1)
      (4L, "b", 3L, 0.5), (5L, "b", 4L, 0.4),
      // lang c: identical quality -> ONE bucket, id ASC decides; 6,7
      // fit (6, 12), 8 (18) crosses
      (6L, "c", 6L, 0.5), (7L, "c", 6L, 0.5), (8L, "c", 6L, 0.5))
      .toDF("doc_id", "lang", "nt", "q")
    val out = Mixture.tokenBudgetSample(docs, "doc_id", "lang",
        col("nt"), col("q"), 12L)
      .select($"id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 4L, 5L, 6L, 7L))
  }

  test("temperatureWeights: halvings=0 reduces to raw shares, α=0.5 " +
       "flattens head vs tail, shares sum to ~1, refusals are loud") {
    import graft.text.Mixture
    import org.apache.spark.sql.functions.col
    val docs = Seq(("en", 9000L), ("en", 7000L), ("fr", 2500L),
      ("de", 1500L)).toDF("lang", "nt")
    val flat = Mixture.temperatureWeights(docs, "lang", col("nt"),
        budget = 10000L, halvings = 0)
      .orderBy($"grp")
      .select($"grp", $"n_toks", $"raw_share", $"adj_share",
        $"repeat_factor")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // α = 1: adjusted == raw (quantization is sub-1e-6 on these
    // magnitudes and the denominators quantize IDENTICALLY)
    flat.foreach { case (_, _, raw, adj, _) =>
      assert(math.abs(raw - adj) < 1e-6, flat.toString) }
    assert(math.abs(flat.map(_._4).sum - 1.0) < 1e-9)
    val t05 = Mixture.temperatureWeights(docs, "lang", col("nt"),
        budget = 10000L, halvings = 1)
      .orderBy($"grp")
      .select($"grp", $"raw_share", $"adj_share", $"repeat_factor")
      .as[(String, Double, Double, Double)].collect().toSeq
    val byG = t05.map(r => r._1 -> r).toMap
    // the head language's share shrinks, the tail languages' grow
    assert(byG("en")._3 < byG("en")._2)
    assert(byG("fr")._3 > byG("fr")._2 && byG("de")._3 > byG("de")._2)
    assert(math.abs(t05.map(_._3).sum - 1.0) < 1e-9)
    // repeat_factor = adj·B/n exactly
    t05.foreach { case (g, _, adj, rf) =>
      val n = flat.find(_._1 == g).get._2.toDouble
      assert(rf == ((adj * 10000.0) / n), s"$g: $rf") }
    intercept[IllegalArgumentException](
      Mixture.temperatureWeights(docs, "lang", col("nt"), 0L))
    intercept[IllegalArgumentException](
      Mixture.temperatureWeights(docs, "lang", col("nt"), 10L,
        halvings = 9))
  }

  test("qualityTiles equals the one-window reference form (random " +
       "scores, all-equal scores, empty input) and tile sizes differ " +
       "by at most one") {
    import graft.text.Mixture
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val rnd = new scala.util.Random(23)
    def ref(docs: org.apache.spark.sql.DataFrame, tiles: Int) = {
      val n = docs.count()
      val w = Window.orderBy(col("q").desc, col("doc_id").asc)
      docs.withColumn("rank", row_number().over(w).cast("long"))
        .selectExpr("doc_id AS id", "rank",
          s"CAST(((rank - 1) * $tiles) DIV $n AS INT) + 1 AS tile")
        .as[(Long, Long, Int)].collect().toSet
    }
    val docs = (1L to 200L).map(i => (i, rnd.nextInt(1000) / 1000.0))
      .toDF("doc_id", "q")
    val got = Mixture.qualityTiles(docs, "doc_id", col("q"), 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == ref(docs, 4))
    // tile sizes within 1 of each other (exact integer quantiles)
    val sizes = got.groupBy(_._3).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, sizes.toString)
    // all-equal scores: ONE slab — the degenerate whole-corpus window
    // path — ranks fall back to pure id order
    val flat = (1L to 50L).map(i => (i, 0.5)).toDF("doc_id", "q")
    assert(Mixture.qualityTiles(flat, "doc_id", col("q"), 5)
      .as[(Long, Long, Int)].collect().toSet == ref(flat, 5))
    // empty input: empty output, not a division by zero
    assert(Mixture.qualityTiles(docs.filter(col("q") < -1), "doc_id",
      col("q"), 4).isEmpty)
    intercept[IllegalArgumentException](
      Mixture.qualityTiles(docs, "doc_id", col("q"), 0))
  }

  test("tokenBudgetSample equals the one-window reference form on a " +
       "random corpus with a null language") {
    import graft.text.Mixture
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      val lang = if (i % 37 == 0) null
        else s"l${rnd.nextInt(4)}"
      (i.toLong, lang, (1 + rnd.nextInt(50)).toLong,
        rnd.nextInt(1000) / 1000.0)
    }
    val docs = rows.toDF("doc_id", "lang", "nt", "q")
    val out = Mixture.tokenBudgetSample(docs, "doc_id", "lang",
        col("nt"), col("q"), 200L)
      .select($"id").as[Long].collect().toSet
    val w = Window.partitionBy($"lang")
      .orderBy($"q".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = docs.withColumn("cum", fsum($"nt").over(w))
      .filter($"cum" <= 200L).select($"doc_id").as[Long].collect().toSet
    assert(out == ref && ref.nonEmpty)
  }

  test("tokenChunks equals the global one-window form, including " +
       "degenerate id layouts (dense single range, sparse huge ids)") {
    import graft.text.Packing
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val rnd = new scala.util.Random(11)
    def ref(docs: org.apache.spark.sql.DataFrame, cap: Long) = {
      val w = Window.orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", fsum(col("nt")).over(w) - col("nt"))
        .select(col("doc_id"), ((col("cum") - col("cum") % cap) / cap)
          .cast("long").as("chunk"))
        .as[(Long, Long)].collect().toMap
    }
    // uniform ids; few buckets so ranges genuinely split the order
    val uniform = (1 to 500)
      .map(i => (i.toLong, (1 + rnd.nextInt(30)).toLong))
      .toDF("doc_id", "nt")
    val got = Packing.tokenChunks(uniform, "doc_id", col("nt"), 100L,
        buckets = 7)
      .select($"id", $"chunk").as[(Long, Long)].collect().toMap
    assert(got == ref(uniform, 100L) && got.values.toSet.size > 3)
    // pathological: all ids inside one range width (plus one far
    // outlier) — the collapsed range must still window correctly
    val skewed = ((1 to 60).map(i => (1000000L + i, 5L)) :+
        (9000000000L, 5L))
      .toDF("doc_id", "nt")
    val got2 = Packing.tokenChunks(skewed, "doc_id", col("nt"), 40L,
        buckets = 4)
      .select($"id", $"chunk").as[(Long, Long)].collect().toMap
    assert(got2 == ref(skewed, 40L))
    // empty input keeps the schema
    assert(Packing.tokenChunks(uniform.limit(0), "doc_id", col("nt"),
      10L).columns.toSeq == Seq("id", "n_toks", "chunk"))
  }

  test("tokenChunks detects a degenerate id layout and re-buckets by " +
       "id quantiles, row-identically") {
    import graft.text.Packing
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, sum => fsum}
    // the detection rule itself: scale-free fair-share multiple
    assert(Packing.isSkewed(Seq(60L, 1L), buckets = 32))
    assert(!Packing.isSkewed(Seq.fill(32)(10L), buckets = 32))
    assert(!Packing.isSkewed(Seq.empty, buckets = 32))
    // one range holds all but one row at buckets=32 — >8x fair share,
    // so the quantile re-cut engages; the output must not move a row
    // (boundaries only steer parallelism)
    val skewed = ((1 to 200).map(i => (1000000L + i, 5L)) :+
        (9000000000L, 5L))
      .toDF("doc_id", "nt")
    val w = Window.orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = skewed.withColumn("cum", fsum(col("nt")).over(w) - col("nt"))
      .select(col("doc_id"), ((col("cum") - col("cum") % 40L) / 40L)
        .cast("long").as("chunk"))
      .as[(Long, Long)].collect().toMap
    val got = Packing.tokenChunks(skewed, "doc_id", col("nt"), 40L,
        buckets = 32)
      .select($"id", $"chunk").as[(Long, Long)].collect().toMap
    assert(got == ref && got.values.toSet.size > 10)
  }

  test("bigramFluency equals a naive single-node bigram LM on a tiny " +
       "corpus, including the zero-bigram row") {
    import graft.text.LmScore
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "cat sat on a mat"),
      (4L, "zz")) // single token: no bigrams, null fluency
      .toDF("doc_id", "text")
    // naive model over every doc's adjacent word pairs
    val corpus = docs.as[(Long, String)].collect()
    val allBg = corpus.flatMap { case (_, t) =>
      val w = t.split(" "); w.zip(w.drop(1)) }
    val c12 = allBg.groupBy(identity).view.mapValues(_.length).toMap
    val c1 = allBg.groupBy(_._1).view.mapValues(_.length).toMap
    def p6(bg: (String, String)): Long =
      math.floor(1000000.0 * c12(bg).toDouble /
        c1(bg._1).toDouble + 0.5).toLong
    val want = corpus.map { case (id, t) =>
      val w = t.split(" "); val bgs = w.zip(w.drop(1))
      if (bgs.isEmpty) (id, 0, None)
      else (id, bgs.length, Some(
        bgs.map(p6).sum.toDouble / 1000000.0 / bgs.length.toDouble))
    }.toSet
    val got = LmScore.bigramFluency(docs, "doc_id", "text")
      .as[(Long, Int, Option[Double])].collect().toSet
    assert(got == want)
  }

  test("tfidfTopTerms ranks per-doc terms by (tf desc, df asc, term)") {
    val docs = Seq(
      (1L, "apple apple banana common common common"),
      (2L, "banana cherry common"),
      (3L, "common only")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 2)
      .orderBy($"id", $"rank")
      .select($"id", $"rank", $"term", $"tf", $"df", $"n_docs")
      .as[(Long, Int, String, Long, Long, Long)].collect().toSeq
    // doc 1: common tf=3 beats apple tf=2 on tf alone; doc 2: banana
    // (df=2) outranks cherry (df=1)? no — df ASC prefers the RARER
    // term: cherry df=1 before banana df=2; doc 3: common then only
    assert(out == Seq(
      (1L, 1, "common", 3L, 3L, 3L), (1L, 2, "apple", 2L, 1L, 3L),
      (2L, 1, "cherry", 1L, 1L, 3L), (2L, 2, "banana", 1L, 2L, 3L),
      (3L, 1, "only", 1L, 1L, 3L), (3L, 2, "common", 1L, 3L, 3L)))
  }

  test("spanStats: hand-computed duplicated-gram counts and coverage") {
    import graft.text.SpanDedup
    val docs = Seq(
      (1L, "a b c d e"),   // "a b c" shared with doc 2 at pos 0
      (2L, "a b c x y"),
      (3L, "z z z z"),     // within-doc repeat: gram (z,z,z) at pos 0,1
      (4L, "q"))           // shorter than n: zeros
      .toDF("doc_id", "text")
    val out = SpanDedup.spanStats(docs, "doc_id", "text", 3)
      .orderBy($"id")
      .select($"id", $"n_tokens", $"dup_grams", $"covered_tokens",
        $"dup_frac")
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 5, 1L, 3L, 0.6),
      (2L, 5, 1L, 3L, 0.6),
      (3L, 4, 2L, 4L, 1.0),
      (4L, 1, 0L, 0L, 0.0)))
  }

  test("stripDuplicatedSpans keeps the globally-first copy of a " +
       "duplicated span and strips the others token-wise") {
    import graft.text.SpanDedup
    val docs = Seq(
      // doc 1 holds the canonical (smallest doc, pos) copy of "a b c"
      (1L, "a b c d e"),
      (2L, "a b c x y"),     // its "a b c" window (pos 0-2) drops
      (3L, "u v w q r"),     // untouched: no duplicated grams
      (4L, "z z z z"))       // within-doc repeat: pos 0 canonical,
                             // covered 0..3, protected 0..2 -> drop 3
      .toDF("doc_id", "text")
    val out = SpanDedup
      .stripDuplicatedSpans(docs, "doc_id", "text", 3)
      .orderBy($"id")
      .select($"id", $"text", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e", 5L, 0L),
      (2L, "x y", 2L, 3L),
      (3L, "u v w q r", 5L, 0L),
      (4L, "z z z", 3L, 1L)))
  }

  test("spanStats equals a naive single-node computation on a " +
       "template corpus") {
    import graft.text.SpanDedup
    val n = 4
    val rnd = new scala.util.Random(11)
    val vocab = Vector.fill(80)(
      (0 until (3 + rnd.nextInt(4)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val boiler = "all rights reserved worldwide terms apply"
    val corpus: Seq[(Long, String)] = (0 until 40).map { i =>
      val content = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      // half the docs share the boilerplate head -> real cross-doc spans
      (i.toLong, if (i % 2 == 0) s"$boiler $content" else content)
    }
    val df = corpus.toDF("doc_id", "text")
    // naive twin over the same tokenizer/hash convention
    val p = 2147483647L
    val grams = corpus.flatMap { case (id, text) =>
      val th = text.split(" ", -1).map(TextHash.charHashStr)
      (0 to th.length - n).map { i =>
        val h = (0 until n).map(j =>
          th(i + j) % p * TextHash.pow31(n - 1 - j)).sum
        (id, i, h)
      }
    }
    val dup = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    val expected = corpus.map { case (id, text) =>
      val nTok = text.split(" ", -1).length
      val occ = grams.filter(g => g._1 == id && dup.contains(g._3))
      val covered = occ.flatMap(g => g._2 until g._2 + n).toSet.size
      (id, nTok, occ.size.toLong, covered.toLong,
        covered.toDouble / nTok.toDouble)
    }.sortBy(_._1)
    val out = SpanDedup.spanStats(df, "doc_id", "text", n)
      .orderBy($"id")
      .select($"id", $"n_tokens", $"dup_grams", $"covered_tokens",
        $"dup_frac")
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    assert(out == expected)
    assert(expected.exists(_._3 > 0),
      "fixture must actually contain duplicated spans")
  }

  test("piiRedact masks emails, IPs and phone runs; clean text is " +
       "untouched") {
    val df = Seq(
      "write to jane.doe+x@corp.example.org today",
      "server at 10.0.42.7 responded",
      "call +331425512 now",
      "two hits a@b.io and 1.2.3.4 together",
      "mixed case John.Doe@Corp.Example.COM leaks otherwise",
      "nothing sensitive here").toDF("t")
    val out = df.select(TextAnalysis.piiRedact($"t")).as[String].collect()
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "server at <IP> responded")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "two hits <EMAIL> and <IP> together")
    assert(out(4) == "mixed case <EMAIL> leaks otherwise")
    assert(out(5) == "nothing sensitive here")
  }

  test("langId discriminates real sentences") {
    val df = Seq(
      "the cat is on the roof of the house",
      "le chat est sur le toit et la maison des amis",
      "el gato y los perros de las casas",
      "der hund und die katze das haus",
      "xyzzy plugh").toDF("text")
    val out = df.select(TextAnalysis.langId(TextHash.tokens($"text")))
      .as[String].collect()
    assert(out.toSeq == Seq("en", "fr", "es", "de", "und"))
  }

  test("qualityScore is in [0,1] and rewards stopword-rich text") {
    val out = Seq(
      "the cat is on the mat and the dog is in the house",
      "zz yy xx ww vv").toDF("text")
      .select(TextAnalysis.qualityScore(TextHash.tokens($"text")))
      .as[Double].collect()
    assert(out.forall(s => s >= 0.0 && s <= 1.0))
    assert(out(0) > out(1))
  }

  test("bigrams and modeCount compute the repetition signals") {
    // "a b a b a": bigrams = [a b, b a, a b, b a] → mode count 2;
    // distinct tokens 2 of 5 → dup_tok_frac 0.6
    val df = Seq("a b a b a", "x", "p q r").toDF("text")
    val toks = TextHash.tokens($"text")
    val out = df.select(
        TextAnalysis.bigrams(toks).as("bg"),
        TextAnalysis.modeCount(TextAnalysis.bigrams(toks)).as("top"),
        (lit(1.0) - size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")).as("dup"))
      .as[(Seq[String], Option[Int], Double)].collect()
    assert(out(0) == ((Seq("a b", "b a", "a b", "b a"), Some(2), 0.6)))
    // single token: no bigrams, null mode, all tokens distinct
    assert(out(1) == ((Seq.empty, None, 0.0)))
    assert(out(2) == ((Seq("p q", "q r"), Some(1), 0.0)))
  }

  test("minhash signature kernel equals the Column form") {
    val texts = Seq("key agg row scan slow fast table value part",
      "ab",                       // shorter than q: empty shingles
      "aaaaaa",                   // heavy duplicate grams
      "the quick brown fox jumps over the lazy dog")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaKernel = MinHashLSH.signatureFrame(docs, "doc_id", "text", 3)
      .orderBy($"id")
      .as[(Long, Seq[Long], Int, Seq[Option[Long]])].collect().toSeq
    val sh = TextHash.shingleHashesFromCodes(
      TextHash.charCodes($"text"), 3)
    val viaColumns = docs.select($"doc_id", sh.as("sh"))
      .select($"doc_id", $"sh", size($"sh").as("n"),
        array((0 until MinHashLSH.NumPerm)
          .map(j => MinHashLSH.minhash($"sh", j)): _*).as("sig"))
      .orderBy($"doc_id")
      .as[(Long, Seq[Long], Int, Seq[Option[Long]])].collect().toSeq
    assert(viaKernel == viaColumns)
  }

  test("the driver signature kernel equals signatureFrame's rows and " +
       "its bottom-k equals bottomKCol, with and without dropShingles") {
    val texts = Seq[String](null, "", "a", "ab",
      "\uD83D\uDE00\uD83D\uDE00 x\uD834\uDD1E\uD834\uDD1Ey", // surrogate pairs
      "the quick brown fox jumps over the lazy dog and the quick cat")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val geom = MinHashLSH.geometryFor(0.7)
    // the normal text's first shingles, so the filtered form differs
    val drop = MinHashLSH.signatureFrame(docs.filter($"doc_id" === 5L),
      "doc_id", "text", 3, geom).head().getSeq[Long](1).take(4).toArray
    Seq(None, Some(drop)).foreach { d =>
      val frame = MinHashLSH.signatureFrame(docs, "doc_id", "text", 3,
          geom, d)
        .withColumn("sb", MinHashLSH.bottomKCol($"sh"))
        .orderBy($"id").collect().toSeq
      val signer = new MinHashLSH.Signer(3, geom.numPerm,
        d.getOrElse(Array.emptyLongArray))
      def seq(a: Array[_]) = Option(a).map(_.toSeq).orNull
      texts.zip(frame).foreach { case (t, r) =>
        val s = signer(t)
        val want = (Option(r.getSeq[Long](1)).map(_.toSeq).orNull,
          r.get(2), Option(r.getSeq[Any](3)).map(_.toSeq).orNull,
          Option(r.getSeq[Long](4)).map(_.toSeq).orNull)
        assert((seq(s.sh), s.n, seq(s.sig),
          seq(MinHashLSH.driverBottomK(s.sh))) == want, s"text=$t d=$d")
      }
      // the fixture reaches every branch: null, empty, surrogate pairs
      assert(signer(null).sh == null && signer("ab").sh.isEmpty)
      assert(signer(texts(4)).sh.length == 5)
    }
  }

  test("the shared verify kernel equals the Column array_intersect " +
       "form on random doc sets (property)") {
    val rnd = new scala.util.Random(11)
    // random texts with heavy shared vocabulary so candidates span the
    // whole jaccard range, including exact threshold hits
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val base = (0L until 30L).map { i =>
      val words = Seq.fill(6 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size)))
      (i, words.mkString(" "))
    }
    // planted near-dups: clones with one appended word land across the
    // whole mid-to-high jaccard range, including >= 0.5 hits
    val clones = (0L until 10L).map { i =>
      (100L + i, base(i.toInt)._2 + " " + vocab(rnd.nextInt(vocab.size)))
    }
    val docs = (base ++ clones).toDF("doc_id", "text")
    val viaKernel = JaccardJoin
      .selfJoinWords(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // independent Column-form twin of the verify over ALL pairs —
    // no prefix filter, so it also re-checks filter losslessness
    val sh = docs.select($"doc_id".as("id"),
      TextHash.wordShingleHashesFromTokenHashes(
        TextHash.tokenHashes($"text"), 2).as("sh"))
    val a = sh.select($"id".as("doc_a"), $"sh".as("sh_a"))
    val b = sh.select($"id".as("doc_b"), $"sh".as("sh_b"))
    val inter = size(array_intersect($"sh_a", $"sh_b"))
    val union = size($"sh_a") + size($"sh_b") - inter
    val viaColumns = a.join(b, $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (inter.cast("double") / union).as("jacc"))
      .filter($"jacc" >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaKernel == viaColumns)
    assert(viaColumns.nonEmpty, "degenerate fixture: no pairs at all")
  }

  test("word-shingle kernel equals the Column form") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "two words",                    // under n: empty gram array
      "dup dup dup dup dup",          // collapses to one distinct gram
      "trailing space  double",       // empty token from the double space
      null.asInstanceOf[String])      // null text -> null grams
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaKernel = JaccardJoin.wordShingleFrame(docs, "doc_id", "text", 3)
      .orderBy($"id").as[(Long, Option[Seq[Long]])].collect().toSeq
    val viaColumns = docs.select($"doc_id".as("id"),
        TextHash.wordShingleHashesFromTokenHashes(
          TextHash.tokenHashes($"text"), 3).as("sh"))
      .orderBy($"id").as[(Long, Option[Seq[Long]])].collect().toSeq
    assert(viaKernel == viaColumns)
  }

  test("simhash kernel equals the Column form") {
    val texts = Seq("key agg row scan slow fast table value part",
      "", "a", "the quick brown fox jumps over the lazy dog again")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaKernel = SimHash.simhashFrame(docs, "doc_id", "text")
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    val viaColumns = docs
      .select($"doc_id", SimHash.simhash($"text").as("sim"))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(viaKernel == viaColumns)
  }

  test("ts05 kernel equals the bigrams/modeCount Column form") {
    val dir = "/root/testdata/sf0.001"
    val viaKernel = graft.queries.LlmQueries
      .queries("ts05_repetition")(spark, dir)
      .as[(Long, Option[Int], Option[Double], Option[Int], Option[Double])]
      .collect().toSeq
    val toks = TextHash.tokens($"text")
    val staged = graft.core.Fence(spark.read
      .parquet(s"$dir/documents.parquet")
      .select($"doc_id", toks.as("toks"),
        TextAnalysis.bigrams(toks).as("bg")))
    val n = size($"toks").cast("double")
    val top = TextAnalysis.modeCount($"bg")
    val viaColumns = staged.select($"doc_id",
        size($"toks").as("n_toks"),
        (lit(1.0) - size(array_distinct($"toks")).cast("double") / n)
          .as("dup_tok_frac"),
        top.as("top_bigram_n"),
        (top.cast("double") * lit(2.0) / n).as("top_bigram_frac"))
      .orderBy($"doc_id")
      .as[(Long, Option[Int], Option[Double], Option[Int], Option[Double])]
      .collect().toSeq
    assert(viaKernel == viaColumns)
  }

  test("dp02 corpus report keeps a language whose docs are all under " +
       "3 tokens: NULL shingle estimate, never a dropped row") {
    val dir = graft.core.Scratch.dir("graft_dp02fix_")
    Seq(
      (1L, "alpha beta gamma delta", "en", "web", 22L),
      (2L, "one two three four five six", "en", "web", 27L),
      // the zero-shingle slice: every 'xx' doc has < 3 tokens, so the
      // lang contributes NO 3-gram shingle to the KMV frame at all
      (3L, "hi", "xx", "web", 2L),
      (4L, "ok go", "xx", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.LlmQueries
      .queries("dp02_corpus_report")(spark, dir)
      .select($"lang", $"n_docs", $"est_distinct_shingles")
      .as[(String, Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) == Seq("en", "xx"), s"langs: $got")
    val (en, xx) = (got(0), got(1))
    assert(en._3.exists(_ > 0.0), s"en estimate missing: $en")
    assert(xx._2 == 2L && xx._3.isEmpty,
      s"zero-shingle lang must report NULL, got $xx")
  }

  test("KMV distinct-count estimator lands within its statistical band " +
       "on a known cardinality (and is exactly reproducible)") {
    // 40k distinct values; k=256 gives relative std error ~1/sqrt(k-2)
    // ≈ 6.3%, so a 25% band is a ~4-sigma assertion
    val n = 40000
    val k = 256
    val u = conv(substring(
        md5(col("g").cast("string").cast("binary")), 1, 15),
        16, 10).cast("long")
    def estimate(): (Long, Double) = {
      val hashes = spark.range(n).toDF("g").select(u.as("u")).distinct()
      val r = hashes.orderBy(col("u").asc).limit(k)
        .agg(max(col("u")).as("kth"), count(lit(1)).cast("int").as("ka"))
        .select(col("kth"),
          ((col("ka") - lit(1)).cast("double") *
            lit(1152921504606846976.0) / col("kth").cast("double"))
            .as("est"))
        .as[(Long, Double)].head()
      r
    }
    val (kth1, est1) = estimate()
    assert(math.abs(est1 - n) / n < 0.25, s"est $est1 vs $n")
    // deterministic: the sketch is a pure function of the value set
    val (kth2, est2) = estimate()
    assert(kth1 == kth2 && est1 == est2)
  }
}

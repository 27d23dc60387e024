package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.core.{Scratch, Tables}
import graft.multimodal.{Multimodal, Png, Wav}
import graft.ops.Dedup
import graft.sim.{JaccardJoin, MinHashLSH, SimHash}
import graft.text.{Decontaminate, SpanDedup, TextAnalysis, TextHash}

/** Oracle-checked queries for the LLM-training-data operators (dedup,
  * similarity search, text analysis, multimodal plumbing) over the
  * `documents` and `embeddings` tables. Every oracle is generated from
  * the same constants/formulas as the Spark expressions, so even the
  * approximate structures (MinHash bands, SimHash chunks, LSH buckets)
  * gate exactly.
  */
object LlmQueries {
  /** A catalog over a fresh [[Scratch]] warehouse. */
  private def scratchCatalog(s: SparkSession, prefix: String)
      : graft.catalog.TableCatalog =
    new graft.catalog.TableCatalog(s, Scratch.dir(prefix))

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** dp06's and dp12's gate body: three feeds — the corpus chain, an
    * SQ8 index and a BPE vocabulary trained with `alphabet` — run as
    * concurrent lanes into one [[Scratch]] catalog whose tables carry
    * the `tag` prefix, then the serving composition over them. */
  private def servingComposition(s: SparkSession, dir: String,
      tag: String, alphabet: String): DataFrame = {
    import graft.streaming.CorpusStream
    import graft.ann.AnnIndex
    import graft.text.BpeIndex
    val emb = t(s, dir, "embeddings")
    val docs = t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val evalVecs = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
    val corpusVecs = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
    val b = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")),
      org.apache.spark.sql.functions.max(col("doc_id"))).head()
    val lo = b.getLong(0); val hi = b.getLong(1)
    val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
    val cat = scratchCatalog(s, s"graft_${tag}_")
    val preds: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(c => c <= cut1, c => c > cut1 && c <= cut2, c => c > cut2)
    // the three feeds are independent until the decon/encode joins
    // below (disjoint tables: corpus state/out, ANN index, BPE
    // vocabulary), and each is a chain of many small jobs — run them
    // as concurrent lanes so each lane's driver latency and stage
    // tails back-fill the others' idle slots (identical final
    // tables; ordering within each lane is unchanged)
    graft.core.Par.concurrently(Seq(
      () => preds.zipWithIndex.foreach { case (p, i) =>
        CorpusStream.processBatch(docs.filter(p(col("doc_id"))), cat,
          s"${tag}_seen", s"${tag}_out", i.toLong, compactEvery = 2)
      },
      () => preds.zipWithIndex.foreach { case (p, i) =>
        val vb = corpusVecs.filter(p(col("vec_id")))
        if (i == 0)
          AnnIndex.buildSq8(cat, vb, "vec_id", "embedding", s"${tag}_ann")
        else
          AnnIndex.ingestBatch(cat, vb, "vec_id", "embedding",
            s"${tag}_ann", i.toLong, compactEvery = 2)
      },
      // vocabulary: trained once on the first batch, persisted;
      // every doc after that only ever encodes off the loaded
      // artifact
      () => BpeIndex.build(cat, docs.filter(col("doc_id") <= cut1),
        "text", s"${tag}_bpe", alphabet = alphabet)))
    // decon hit list probed off the live index codes
    val bad = AnnIndex.sq8MatchesFromIndex(cat, s"${tag}_ann", evalVecs,
      "vec_id", "embedding", 460.0 / 1024.0)
    val surv = cat.read(s"${tag}_out")
      .select(col("doc_id"), col("lang"), col("n_toks"))
      .join(bad.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_anti")
    val enc = BpeIndex.encodeStatsFromIndex(cat, s"${tag}_bpe",
      surv.select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
      "doc_id", "text")
    val withSub = graft.core.Fence(surv.join(
      enc.select(col("doc_id"), col("n_sub")), Seq("doc_id")))
    graft.text.Packing
      .tokenChunks(withSub, "doc_id", col("n_sub"), 8000L)
      .select(col("id").as("doc_id"), col("n_toks").as("n_sub"),
        col("chunk"))
      .join(withSub.select(col("doc_id"), col("lang"), col("n_toks")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        col("n_sub"), col("chunk"))
      .orderBy(col("doc_id"))
  }

  /** The byte-BPE gates' derived UNICODE corpus: e→é (2-byte Latin),
    * a→α (2-byte Greek), i→€ (3-byte symbol) — real multi-byte UTF-8
    * content derived deterministically from the documents table, the
    * identical literal replacements on both engines. */
  private def uniDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        "e", "é"), "a", "α"), "i", "€").as("text"))

  /** [[uniDocs]] as the oracle-side source subquery. */
  private val uniSrcSql: String =
    "(SELECT doc_id, replace(replace(replace(text, 'e', 'é'), " +
      "'a', 'α'), 'i', '€') AS text FROM documents)"

  /** The dp08 trainer-handoff frame — (id, chunk, text), the chunked
    * survivors of the corpus chain joined back to their text — shared
    * by the plain export gate (dp08) and the manifest+purge gate
    * (dp09). A wider budget and tighter chunk size than dp05's frozen
    * knobs, so the export spans MANY shard directories at gate scale
    * (the multi-shard layout is what's being proven). */
  /** The dp08/dp09/dp11 export chains' shared prefix: the corpus
    * pipeline down to the token-budget survivor set. Fenced — dp11
    * consumes it for TWO chunk assignments, so the fence makes the
    * chain compute once per gate rather than once per export (`soft`:
    * the chunkers reference it from concurrent export lanes, and a
    * persisted InMemoryRelation is the thread-safe shared form). */
  private def dp08Kept(s: SparkSession, dir: String): DataFrame = {
    val cp = graft.text.CorpusPipeline
    val gated = cp.gate(t(s, dir, "documents"))
    val deduped = graft.core.Fence(Dedup.exactDedup(gated,
      cp.fingerprintPrefix, col("doc_id")))
    val pairs = MinHashLSH.nearDupPairs(deduped, "doc_id", "text",
      threshold = cp.NearDupThreshold)
    val clustered = Dedup.clusterDedup(deduped, "doc_id", pairs,
      "doc_a", "doc_b")
    val surv = clustered.filter(cp.samplePredicate)
    val toks = TextHash.tokens(col("text"))
    graft.core.Fence.soft(graft.text.Mixture.tokenBudgetSample(
      surv, "doc_id", "lang", size(toks).cast("long"),
      TextAnalysis.qualityScore(toks), 200000L))
  }

  /** Chunk-assign a [[dp08Kept]] survivor set and attach the doc text
    * — the per-export suffix (cheap: one within-range window over the
    * fenced survivors + one join back to the source). */
  private def dp08AssignedFrom(s: SparkSession, dir: String,
                               kept: DataFrame,
                               chunkTokens: Long): DataFrame =
    graft.text.Packing.tokenChunks(kept, "id", col("n_toks"),
        chunkTokens)
      .select(col("id"), col("chunk"))
      .join(t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text")), Seq("id"))

  private def dp08Assigned(s: SparkSession, dir: String,
                           chunkTokens: Long = 500L): DataFrame =
    dp08AssignedFrom(s, dir, dp08Kept(s, dir), chunkTokens)

  /** Read an exported shard directory back and checksum per shard —
    * the dp08/dp09 gate output proving the JSON round-trip byte-exact
    * per shard, not just row counts. */
  private def dp08ReadBack(s: SparkSession, out: String): DataFrame =
    s.read.json(out)
      .groupBy(col("chunk").cast("long").as("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(pmod(graft.ops.Kmv.uniformHash(col("text")),
          lit(1000000007L))).as("content_sum"))
      .orderBy(col("chunk"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: md5 fingerprint of a content key, keep-lowest-id
    "dd01_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"),
          substring(col("text"), 1, 60), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Exact n-gram Jaccard self-join (word trigrams, prefix-filtered;
    // naive oracle)
    "dd02_ngram_jaccard" -> ((s, dir) =>
      JaccardJoin.selfJoinWords(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // Asymmetric containment join: documents whose word-5-gram set is
    // >= 80% contained in another's — the quote-expansion /
    // article-inside-digest near-dup relation symmetric Jaccard misses
    // (the long side's union crushes the ratio). Inner-side prefix
    // filter under the canonical rarest-first order + full outer-side
    // postings + exact intersect verify on actual collisions; no
    // size-ratio cut (the asymmetry IS the point). 56 pairs here vs
    // dd02's 25 symmetric ones — the extra 31 are exactly the
    // short-inside-long cases.
    "dd16_containment" -> ((s, dir) =>
      graft.sim.ContainmentJoin.containedIn(t(s, dir, "documents"),
          "doc_id", "text", n = 5, threshold = 0.8)
        .orderBy(col("inner_id"), col("outer_id"))),

    // MinHash-LSH near-dup (bands replicated exactly in the oracle)
    "dd03_minhash_lsh" -> ((s, dir) =>
      MinHashLSH.nearDupPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // SimHash near-dup (pigeonhole chunk join; naive oracle)
    "dd04_simhash" -> ((s, dir) =>
      SimHash.nearDupPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // Cluster resolution — the dedup end-game: near-dup PAIRS (dd03's
    // MinHash-LSH output) resolved to connected components, keeping one
    // canonical doc (smallest id) per cluster plus every unpaired doc.
    // Without this, A~B and B~C leaves C alive whenever A!~C. The oracle
    // reaches the same fixpoint through a recursive CTE.
    "dd07_cluster_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
      Dedup.clusterDedup(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-safe train/eval split: a plain per-doc hash split puts
    // near-duplicates on OPPOSITE sides of the holdout boundary — the
    // model trains on its own eval set. The split unit here is the
    // near-dup component (dd07's machinery): every doc takes its
    // component's min id as `cluster` (own id when unpaired) and the
    // side is a hash bucket of the CLUSTER, so no near-dup pair ever
    // straddles (DedupFuzzySpec pins the property corpus-wide).
    "dd13_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
      Dedup.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select(col("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: corpus docs sharing any word 5-gram
    // with the eval set (the doc_id % 97 slice stands in for a held-out
    // benchmark) are removed — the test-set-leak hygiene step of every
    // training-data pipeline, here as one gram-hash semi-join.
    "dd08_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      Decontaminate.decontaminate(corpus, "doc_id", "text", bench,
          "text", 5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter decontamination: dd08's removal rule probed through
    // an m-bit approximate-membership filter instead of the exact gram
    // set — the shape for when even the distinct benchmark grams are
    // too large to ship (the filter is m bits however big the
    // benchmark; error is ONE-SIDED: every true contamination is still
    // removed, a clean doc is falsely removed at (fill)^d). The gate
    // uses the dd08 split and a filter sized so false positives are
    // rare-but-possible; the oracle replays every bit position, the
    // probe semi-join and the all-d-bits hit rule literally, so a
    // post-filter that under-removes or a mis-salted bit breaks the
    // hash.
    "dd15_bloom_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val bits = Decontaminate.bloomBits(bench, "text", n = 5, d = 3,
        m = 262144)
      Decontaminate.bloomDecontaminate(corpus, "doc_id", "text", bits,
          n = 5, d = 3, m = 262144)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Decontamination provenance: the audit record dd08's removal
    // drops silently — (corpus doc, benchmark doc, distinct shared
    // 5-gram count) for every colliding pair, the row a removal review
    // or overlap-threshold tuning reads. Same shingle frames as the
    // removal path; pairs exist only where grams actually collide.
    "dd14_decon_provenance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.provenance(
          docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 5)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Token-budget data mixing: per language, keep the best-quality
    // document prefix whose running token total fits the budget — the
    // mixture-assembly step between filtering and training. The
    // operator finds the cut via bucketed aggregation (no corpus-wide
    // window; see text/Mixture.scala); the oracle is the one-window
    // reference form it is row-identical to.
    "ts10_token_budget" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      graft.text.Mixture.tokenBudgetSample(t(s, dir, "documents"),
          "doc_id", "lang", size(toks).cast("long"),
          TextAnalysis.qualityScore(toks), 25000L)
        .orderBy(col("id"))
    }),

    // Curriculum tiles: every doc's exact global quality rank and its
    // quartile (tile 1 = best) — the "clean data first" training order
    // and the strata quality-stratified evals sample by. Computed via
    // the bucketed two-stage pattern (no corpus-wide single-task
    // window; see Mixture.qualityTiles); the oracle is the one-window
    // reference form it must be row-identical to.
    "ts23_quality_tiles" -> ((s, dir) =>
      graft.text.Mixture.qualityTiles(t(s, dir, "documents"), "doc_id",
          TextAnalysis.qualityScore(TextHash.tokens(col("text"))), 4)
        .orderBy(col("id"))),

    // Recall-vs-nprobe tuning table off the PERSISTED residual index:
    // the serving-knob workflow ann29's measurement enables — the same
    // artifact probed at nprobe 1 and 2, each scored against the exact
    // ranking, in one comparison frame. The index is built ONCE; only
    // the probes differ, exactly how a deployment tunes a live store.
    "ann30_recall_tuning" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann30_")
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      AnnIndex.buildIvfPq(cat, e, "vec_id", "embedding", "ann_tune",
        numCells = 16, trainIters = 2, pqIters = 2)
      val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      def at(nprobe: Int) = Ann.recallReport(exact,
          AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_tune", e, q,
            "vec_id", "embedding", 10, nprobe = nprobe, refine = 64),
          10)
        .withColumn("nprobe", lit(nprobe))
        .select(col("nprobe"), col("q_id"), col("hits"),
          col("recall_at_k"))
      at(1).unionAll(at(2)).orderBy(col("nprobe"), col("q_id"))
    }),

    // Temperature-reweighted mixture (α = 0.5): raw per-language token
    // shares flattened to p ∝ n^α so the head language stops swamping
    // the tail, plus the repeat factor a 100k-token budget implies per
    // language — the sampling-weights table every multilingual mixture
    // reports. α restricted to exact sqrt chains and share
    // denominators integer-quantized, so the doubles gate hash-exact.
    "ts22_temperature_mix" -> ((s, dir) =>
      graft.text.Mixture.temperatureWeights(t(s, dir, "documents"),
          "lang", size(TextHash.tokens(col("text"))), 100000L)
        .orderBy(col("grp"))),

    // Token-budget sequence chunking: deal docs, in id order, into
    // fixed ~10k-token training shards (the step between a filtered
    // corpus and a tokenizer fleet). The operator computes the global
    // running total WITHOUT a corpus-wide single-task window — id
    // ranges bucket the order, a driver-bounded aggregate supplies
    // each range's offset, and only within-range windows run (see
    // text/Packing.scala); the oracle is the one-window reference
    // form it is row-identical to.
    "ts11_token_chunks" -> ((s, dir) =>
      graft.text.Packing.tokenChunks(t(s, dir, "documents"), "doc_id",
          size(TextHash.tokens(col("text"))).cast("long"), 10000L)
        .orderBy(col("id"))),

    // Deterministic WEIGHTED sampling (priority sampling,
    // Duffield–Lund–Thorup): each doc draws priority w/u from a
    // seeded md5 uniform and the top-k priorities win — longer docs
    // proportionally more likely, yet exactly reproducible across
    // engines (u is an integer hash; the one division is
    // IEEE-deterministic, unlike ln-based A-ES keys). The weighted
    // complement of a08's uniform seeded sample; top-k plans as
    // TakeOrdered, never a full sort.
    "ts12_weighted_sample" -> ((s, dir) => {
      val u = conv(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") + lit(1L)
      t(s, dir, "documents")
        .withColumn("__prio",
          col("n_chars").cast("double") / u.cast("double"))
        .orderBy(col("__prio").desc, col("doc_id").asc)
        .limit(150)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-trained bigram fluency (the CCNet perplexity-proxy
    // quality signal, self-trained — see text/LmScore.scala for the
    // engine-exact numerics and the distributed LM-count topology).
    "ts13_bigram_fluency" -> ((s, dir) =>
      graft.text.LmScore.bigramFluency(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("id"))),

    // Corpus-trained subword vocabulary (BPE-style greedy pair
    // merging — see text/Bpe.scala for the distribution topology:
    // ONE corpus-sized word-count aggregate, a TakeOrdered top-V
    // driver fetch, driver merge loop). ts14 gates the TRAINED merge
    // table; ts15 gates the ENCODING of every document under it
    // (distinct words encode once, docs re-join). Both integer-exact;
    // the oracles replay the identical algorithm as unrolled
    // materialized CTE stages.
    "ts14_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      graft.text.Bpe.train(t(s, dir, "documents"), "text")
        .map(m => (m.rank, m.left, m.right, m.left + m.right, m.count))
        .toDF("rank", "l_sym", "r_sym", "merged", "pair_n")
        .orderBy(col("rank"))
    }),

    "ts15_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.train(docs, "text")
      graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    // Persisted BPE artifact, full lifecycle in one gate: train on the
    // even-doc_id half of the corpus, persist the merge table
    // (meta-last, the AnnIndex pattern), then encode the WHOLE corpus
    // under the LOADED merges — never the in-memory list. The merge
    // table is integer/string-exact, so the loaded-path encode is
    // bit-identical to the fresh-fit one; the oracle replays the
    // half-corpus training and the full-corpus encode.
    "ts18_bpe_index" -> ((s, dir) => {
      import graft.text.BpeIndex
      val cat = scratchCatalog(s, "graft_ts18_")
      val docs = t(s, dir, "documents")
      BpeIndex.build(cat, docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "bpe")
      BpeIndex.encodeStatsFromIndex(cat, "bpe", docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // BYTE-level BPE (round 16) — the multilingual tokenizer the [a-z]
    // alphabet above cannot be: merges run over each word's UTF-8
    // bytes as hex-pair symbols, so accented and non-Latin text
    // survives training and encoding losslessly. The gates run over a
    // DERIVED unicode corpus (e→é, a→α, i→€ — 2-byte Latin, 2-byte
    // Greek and 3-byte symbol codepoints, the same deterministic
    // derivation on both engines), so real multi-byte content is what
    // is being trained on and hash-gated. ts20 gates the trained merge
    // table; ts21 gates the full persisted-artifact lifecycle (build
    // with alphabet="bytes", encode every doc off the LOADED
    // vocabulary under the RECORDED alphabet). The oracles replay the
    // identical byte merges as unrolled CTE stages — symbols are hex
    // strings, so the sentinel-replace re-encode and every tie-break
    // order are pure-ASCII on both engines.
    "ts20_bbpe_vocab" -> ((s, dir) => {
      import s.implicits._
      graft.text.Bpe.trainBytes(uniDocs(t(s, dir, "documents")), "text")
        .map(m => (m.rank, m.left, m.right, m.left + m.right, m.count))
        .toDF("rank", "l_sym", "r_sym", "merged", "pair_n")
        .orderBy(col("rank"))
    }),

    "ts21_bbpe_encode" -> ((s, dir) => {
      import graft.text.BpeIndex
      val cat = scratchCatalog(s, "graft_ts21_")
      val docs = uniDocs(t(s, dir, "documents"))
      BpeIndex.build(cat, docs, "text", "bbpe", alphabet = "bytes")
      BpeIndex.encodeStatsFromIndex(cat, "bbpe", docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // KMV (k-minimum-values) distinct-count sketch over the corpus's
    // word-trigram shingles — the cardinality estimate that sizes a
    // dedup/decontamination run without counting. Each distinct gram
    // re-hashes to a uniform 60-bit value (md5, like ts12's priority
    // draw — the base-31 shingle hashes themselves are NOT uniform);
    // the k smallest survive and (k−1)·2⁶⁰/u₍ₖ₎ estimates the
    // cardinality. The distinct dedups map-side (partial hash
    // aggregate), so shuffle volume is per-partition-distinct, and the
    // top-k plans as TakeOrdered — never a global sort. The
    // exact_distinct column is the gate-scale demonstrator of
    // estimator quality; a production run emits the estimate only.
    "ts16_kmv_distinct" -> ((s, dir) => {
      val k = 256
      val grams = t(s, dir, "documents")
        .withColumn("__th", TextHash.tokenHashes(col("text")))
        .select(explode(TextHash
          .wordShingleHashesFromTokenHashes(col("__th"), 3)).as("g"))
      val u = conv(substring(
          md5(col("g").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long")
      // soft-fenced: the distinct feeds BOTH the sketch and the
      // exact-count demonstrator — one shingle+dedup pass, not two
      val hashes = graft.core.Fence.soft(grams.select(u.as("u")).distinct())
      val sk = hashes.orderBy(col("u").asc).limit(k)
        .agg(max(col("u")).as("kth_u"),
          count(lit(1)).cast("int").as("k"))
      // 2^60 and (k-1)·2^60 are exactly representable doubles, so the
      // single division is the only rounding step — IEEE-identical in
      // both engines.
      sk.crossJoin(hashes.agg(count(lit(1)).as("exact_distinct")))
        .select(col("k"), col("kth_u"),
          ((col("k") - lit(1)).cast("double") *
            lit(1152921504606846976.0) / col("kth_u").cast("double"))
            .as("est_distinct"),
          col("exact_distinct"))
    }),

    // Grouped KMV + exact sketch merge: per-language distinct-shingle
    // estimates — what sizes PER-SLICE dedup runs — computed through
    // the MERGE path: each half of the corpus sketches independently
    // (one bounded-state aggregation each, O(k) per group per
    // partition), the per-group k-min sets union exactly, and the
    // oracle computes the whole-corpus per-group sketch directly —
    // equality IS the lossless-merge proof, at all three SFs.
    "ts17_kmv_grouped" -> ((s, dir) => {
      import graft.ops.Kmv
      val k = 128
      val grams = graft.core.Fence.soft(t(s, dir, "documents")
        .withColumn("__th", TextHash.tokenHashes(col("text")))
        .select(col("doc_id"), col("lang"), explode(TextHash
          .wordShingleHashesFromTokenHashes(col("__th"), 3)).as("g")))
      val s0 = Kmv.sketchAgg(grams.filter(pmod(col("doc_id"),
          lit(2)) === 0), Seq("lang"), col("g"), k)
        .withColumnRenamed("kmin", "kmin0")
      val s1 = Kmv.sketchAgg(grams.filter(pmod(col("doc_id"),
          lit(2)) === 1), Seq("lang"), col("g"), k)
        .withColumnRenamed("kmin", "kmin1")
      val none = typedLit(Array.empty[Long])
      val merged = s0.join(s1, Seq("lang"), "full_outer")
        .select(col("lang"), Kmv.mergeSketches(
          coalesce(col("kmin0"), none), coalesce(col("kmin1"), none),
          k).as("kmin"))
      val exact = grams
        .select(col("lang"), Kmv.uniformHash(col("g")).as("u"))
        .distinct()
        .groupBy(col("lang")).agg(count(lit(1)).as("exact_distinct"))
      Kmv.withEstimate(merged, k)
        .join(exact, Seq("lang"))
        .select(col("lang"), col("k"), col("kth_u"),
          col("est_distinct"), col("exact_distinct"))
        .orderBy(col("lang"))
    }),

    // Count-min heavy hitters + exact sketch merge: token-frequency
    // upper bounds from BOUNDED state — the counting complement to
    // ts17's distinct sketches. Each half of the corpus sketches
    // independently (one d×w counter array per aggregation, map-side
    // combine); the sketches merge by elementwise addition (counters
    // are plain sums, so the merge is LOSSLESS by construction) and
    // the gate estimates counts for the exact top-20 tokens. The
    // oracle replays every probed counter as a whole-corpus
    // GROUP-BY-bucket sum — matching the merged-halves estimates
    // proves the merge exact, and est_count >= exact_count holds by
    // the CM overcount bound.
    "ts19_cms_heavy" -> ((s, dir) => {
      import graft.ops.CountMin
      val d = 2; val w = 1024
      val toks = graft.core.Fence.soft(t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextHash.tokens(col("text"))).as("tok")))
      val sk0 = CountMin.sketchAgg(
        toks.filter(pmod(col("doc_id"), lit(2)) === 0), Nil,
        col("tok"), d, w).withColumnRenamed("cms", "cms0")
      val sk1 = CountMin.sketchAgg(
        toks.filter(pmod(col("doc_id"), lit(2)) === 1), Nil,
        col("tok"), d, w).withColumnRenamed("cms", "cms1")
      val merged = sk0.crossJoin(sk1)
        .select(CountMin.mergeSketches(col("cms0"), col("cms1"))
          .as("cms"))
      val cand = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("tok").asc)
        .limit(20)
      cand.crossJoin(broadcast(merged))
        .select(col("tok"), col("exact_count"),
          CountMin.estimate(col("cms"), col("tok"), d, w)
            .as("est_count"))
        .orderBy(col("exact_count").desc, col("tok").asc)
    }),

    // Streaming count-min maintenance: the ts19 sketch kept as LIVE
    // STATE over a document feed — each micro-batch lands its own d×w
    // sketch partition (O(batch) work, replay overwrites its own
    // partition), a mid-stream compaction folds them under a
    // generation pointer flipped last (bounded read fan-in however
    // long the stream runs), and the served sketch is the elementwise
    // sum of the live partitions. Estimates off the streamed state
    // must equal the whole-corpus sketch — counters are sums, so
    // batch-sliced ingestion is exactly the ts19 merge proof — and the
    // gate shares ts19's oracle verbatim.
    "ts25_cms_stream" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.ops.CountMin
      val d = 2; val w = 1024
      val cat = scratchCatalog(s, "graft_ts25_")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).as[(Long, String)].collect()
      val n = docs.length
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.option("checkpointLocation", cat.tablePath("_ckpt"))
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          CountMin.ingestSketchBatch(cat,
            df.select(explode(TextHash.tokens(col("text"))).as("tok")),
            col("tok"), "cms_state", batchId, d, w)
        }.start()
      try {
        Seq(docs.slice(0, n / 3), docs.slice(n / 3, 2 * n / 3))
          .foreach { chunk =>
            mem.addData(chunk.toSeq); q.processAllAvailable()
          }
        // quiescent between batches: fold the first two partitions
        CountMin.compactSketch(cat, "cms_state", d, w)
        mem.addData(docs.slice(2 * n / 3, n).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val sk = CountMin.readSketch(cat, "cms_state", d, w)
      val toks = t(s, dir, "documents")
        .select(explode(TextHash.tokens(col("text"))).as("tok"))
      val cand = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("tok").asc)
        .limit(20)
      cand.crossJoin(broadcast(sk))
        .select(col("tok"), col("exact_count"),
          CountMin.estimate(col("cms"), col("tok"), d, w)
            .as("est_count"))
        .orderBy(col("exact_count").desc, col("tok").asc)
    }),

    // HyperLogLog distinct sketches + exact register merge: per-lang
    // distinct-BIGRAM estimates from m=64 one-byte registers — the
    // fixed-size complement to ts17's KMV sketches (the
    // approx_count_distinct shape, built from first principles so the
    // oracle replays it). Bigrams put the cardinality (hundreds per
    // language) in HLL's operating zone above ~2.5·m, where the raw
    // estimator's ~1.04/√64 ≈ 13% band holds (the ln()-based
    // small-range correction is deliberately not served — see Hll).
    // Each corpus half builds its register table independently (one
    // hash aggregation keyed (lang, bucket) with a map-side partial —
    // at most m rows per group whatever the cardinality); the merge is
    // the SAME aggregation over the union (registers merge by max —
    // lossless by construction), and the oracle computes every
    // register from the whole corpus directly: equality IS the merge
    // proof. exact_distinct rides along to show the band on real data.
    "ts24_hll_distinct" -> ((s, dir) => {
      import graft.ops.Hll
      val m = 64
      val grams = graft.core.Fence.soft(t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.bigrams(TextHash.tokens(col("text"))))
            .as("gram")))
      val r0 = Hll.registers(
        grams.filter(pmod(col("doc_id"), lit(2)) === 0), Seq("lang"),
        col("gram"), m)
      val r1 = Hll.registers(
        grams.filter(pmod(col("doc_id"), lit(2)) === 1), Seq("lang"),
        col("gram"), m)
      val merged = Hll.mergeRegisters(r0, r1, Seq("lang"))
      val exact = grams.groupBy(col("lang"))
        .agg(countDistinct(col("gram")).as("exact_distinct"))
      Hll.estimate(merged, Seq("lang"), m)
        .join(exact, Seq("lang"))
        .select(col("lang"), col("n_buckets"), col("est_distinct"),
          col("exact_distinct"))
        .orderBy(col("lang"))
    }),

    // TF-IDF keyword extraction: top-3 distinctive terms per document,
    // integer-ordered (tf DESC, df ASC, term ASC) so the ranking is
    // engine-exact; (tf, df, n_docs) ride along for a float idf
    // downstream.
    "ts09_tfidf_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id",
          "text", 3)
        .orderBy(col("id"), col("rank"))),

    // Repeated-span statistics: word 5-grams occurring >= 2 times
    // corpus-wide mark their token windows as duplicated; per doc the
    // gate reports token count, duplicated-gram occurrences, covered
    // tokens and the coverage fraction — the exact-substring
    // (boilerplate-inside-documents) complement to whole-doc dedup
    // (arXiv:2107.06499 at distributed n-gram grain).
    "dd09_span_stats" -> ((s, dir) =>
      SpanDedup.spanStats(t(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy(col("id"))),

    // Duplicated-span REMOVAL — the transform dd09 only measures:
    // rewrite every document with corpus-duplicated 5-gram spans
    // stripped, keeping the globally-first occurrence of each span
    // (token-wise: kept = not covered by a duplicate window, or
    // claimed by a canonical one).
    "dd11_span_strip" -> ((s, dir) =>
      SpanDedup.stripDuplicatedSpans(t(s, dir, "documents"), "doc_id",
          "text", 5)
        .orderBy(col("id"))),

    // PII redaction: emails / dotted-quad IPs / phone digit runs become
    // typed placeholders. The corpus carries no PII, so the gate plants
    // a deterministic contact string per doc (identically on both
    // engines) and redacts it — the redaction rules are what's tested.
    "ts08_pii_redact" -> ((s, dir) => {
      val synth = concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 call +331"), (col("doc_id") % 100).cast("string"),
        lit("5512 done"))
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.piiRedact(synth).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Language ID: stopword-marker argmax
    "ts01_langid" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.markerCount(toks, "en").as("n_en"),
          TextAnalysis.markerCount(toks, "fr").as("n_fr"),
          TextAnalysis.langId(toks).as("detected"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length prior + stopword ratio + type-token ratio
    "ts02_quality" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          size(toks).as("n_tokens"),
          TextAnalysis.qualityScore(toks).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace + regex word + BPE-ish subword chunks
    "ts03_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))")
            .as("n_words"),
          expr("size(regexp_extract_all(text, '[a-z]{1,4}', 0))")
            .as("n_subwords"))
        .orderBy(col("doc_id"))),

    // Document fingerprinting: content digest + min-8-gram rolling hash.
    // The rolling min runs as a JIT'd kernel, not the charCodes +
    // shingleHashesFromCodes Column form: ~1000 interpreted higher-order
    // gram evaluations per row made this the bench's second-slowest
    // query (~4 s at sf0.1 → ~0.5 s). Identical integer math — codepoint
    // mod 257, base-31 polynomial, min over every 8-window, null when
    // the text is shorter than 8 — so the oracle SQL is unchanged.
    "ts04_fingerprint" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType,
        StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, true),
        StructField("fp", StringType, true),
        StructField("win8", LongType, true)))
      val pow = TextHash.pow31.toArray
      val cm = TextHash.CodeMod
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"), col("text"))
        .mapPartitions { rows =>
          rows.map { r =>
            // null text → null fingerprint window, matching both the
            // Column form (charCodes of null is null) and the oracle SQL
            val txt = r.getString(2)
            val codes =
              if (txt == null) Array.empty[Int] else txt.codePoints().toArray
            val win: java.lang.Long =
              if (txt == null || codes.length < 8) null
              else {
                var m = Long.MaxValue; var i = 0
                while (i + 8 <= codes.length) {
                  var h = 0L; var j = 0
                  while (j < 8) {
                    h += codes(i + j).toLong % cm * pow(7 - j); j += 1
                  }
                  if (h < m) m = h
                  i += 1
                }
                m
              }
            // id passes through untyped so a null doc_id survives the
            // kernel (getLong would NPE in the executor)
            org.apache.spark.sql.Row(r.get(0), r.getString(1), win)
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .orderBy(col("doc_id"))
    }),

    // Repetition signals (the Gopher-style quality filters, adapted to
    // token granularity): duplicate-token fraction and the share of the
    // document covered by its most frequent word bigram. Runs as a JIT
    // mapPartitions kernel, not the bigrams/modeCount Column form: the
    // interpreted nested-HOF mode count is O(distinct·n) per row
    // (~3 s at sf0.1 → ~0.3 s); one hash pass per row computes the same
    // values — split/distinct/mode identical, same IEEE op order — so
    // the oracle SQL and the Column twins (TextSimSpec) are unchanged.
    "ts05_repetition" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, IntegerType,
        LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, true),
        StructField("n_toks", IntegerType, true),
        StructField("dup_tok_frac", DoubleType, true),
        StructField("top_bigram_n", IntegerType, true),
        StructField("top_bigram_frac", DoubleType, true)))
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .mapPartitions { rows =>
          rows.map { r =>
            val txt = if (r.isNullAt(1)) null else r.getString(1)
            if (txt == null)
              org.apache.spark.sql.Row(r.get(0), null, null, null, null)
            else {
              val toks = txt.split(" ", -1)
              val n = toks.length
              val dup = 1.0 - toks.distinct.length.toDouble / n.toDouble
              // n < 2 → no bigrams → null mode, like array_max([])
              var top: Integer = null
              var frac: java.lang.Double = null
              if (n >= 2) {
                val counts = new java.util.HashMap[String, Int]()
                var i = 0; var best = 0
                while (i < n - 1) {
                  val g = toks(i) + " " + toks(i + 1)
                  val c = counts.getOrDefault(g, 0) + 1
                  counts.put(g, c)
                  if (c > best) best = c
                  i += 1
                }
                top = best
                frac = best.toDouble * 2.0 / n.toDouble
              }
              org.apache.spark.sql.Row(r.get(0), n, dup, top, frac)
            }
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .orderBy(col("doc_id"))
    }),

    // Stratified deterministic sampling: per-language keep rates driven
    // by an md5 bucket of the document id — reproducible on any engine,
    // no shuffle, no RNG state (the corpus rebalancing step of
    // training-data pipelines).
    "ts06_stratified_sample" -> ((s, dir) => {
      val bucket =
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val threshold = when(col("lang") === "en", "80")
        .when(col("lang") === "fr", "40").otherwise("1a")
      t(s, dir, "documents")
        .filter(bucket < threshold)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level top-k n-gram terms: explode word bigrams, partial-agg
    // count, global ordered limit (TakeOrdered — no full sort). The
    // vocabulary-statistics pass of corpus analysis.
    "ts07_topk_ngrams" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.bigrams(TextHash.tokens(col("text"))))
          .as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(20)),

    // Composite corpus pipeline — the operators above chained the way a
    // training-data run uses them: language + quality gate, exact dedup,
    // near-dup CLUSTER dedup (MinHash pairs → connected components →
    // canonical doc), stratified downsample, token stats. One oracle
    // over the whole chain proves the stages compose without
    // re-materialization.
    "dp01_corpus_pipeline" -> ((s, dir) => {
      // every stage definition (gate, fingerprint, threshold, sample)
      // comes from graft.text.CorpusPipeline — the same object the
      // incremental CorpusStream twin reads, so the two cannot drift
      val gated = graft.text.CorpusPipeline.gate(t(s, dir, "documents"))
      // fenced: the gate+dedup subtree feeds BOTH the minhash signature
      // pass and the cluster anti-join — unfenced, the interpreted
      // langId/quality HOFs re-evaluate per reference
      val deduped = graft.core.Fence(Dedup.exactDedup(gated,
        graft.text.CorpusPipeline.fingerprintPrefix, col("doc_id")))
      val pairs = MinHashLSH.nearDupPairs(deduped, "doc_id", "text",
        threshold = graft.text.CorpusPipeline.NearDupThreshold)
      val clustered = Dedup.clusterDedup(deduped, "doc_id", pairs,
        "doc_a", "doc_b")
      clustered.filter(graft.text.CorpusPipeline.samplePredicate)
        .select(col("doc_id"), col("lang"),
          size(TextHash.tokens(col("text"))).as("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Corpus snapshots with an audited takedown republish (round 16,
    // second pass): the dp01 survivor chain PUBLISHED through the
    // versioned catalog — epoch N commits as snapshot v1, a takedown
    // republish (minus the doc_id % 31 = 5 slice) as v2 — and the
    // gate emits Versioned.diff(v1, v2): exactly the removed slice,
    // every op 'removed', nothing else. This is the reproducibility
    // story end to end: the training run that read v1 can re-read v1
    // byte-identically after the republish (k08's pointer contract),
    // and the diff IS the takedown audit record. The survivor frame
    // is fenced once so the two snapshot writes share the computed
    // chain instead of re-running it.
    "dp13_corpus_snapshots" -> ((s, dir) => {
      import graft.catalog.Versioned
      val cat = scratchCatalog(s, "graft_dp13_")
      val gated = graft.text.CorpusPipeline.gate(t(s, dir, "documents"))
      val deduped = graft.core.Fence(Dedup.exactDedup(gated,
        graft.text.CorpusPipeline.fingerprintPrefix, col("doc_id")))
      val pairs = MinHashLSH.nearDupPairs(deduped, "doc_id", "text",
        threshold = graft.text.CorpusPipeline.NearDupThreshold)
      val survivors = graft.core.Fence(
        Dedup.clusterDedup(deduped, "doc_id", pairs, "doc_a", "doc_b")
          .filter(graft.text.CorpusPipeline.samplePredicate)
          .select(col("doc_id"), col("lang"),
            size(TextHash.tokens(col("text"))).as("n_toks")))
      Versioned.write(cat, survivors, "corpus_snap")
      Versioned.write(cat,
        survivors.filter(!(col("doc_id") % 31 === 5)), "corpus_snap")
      Versioned.diff(cat, "corpus_snap", 1, 2, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Dataset datasheet: the per-(lang, source) documentation table a
    // published corpus ships with — doc/token counts, order-free mean
    // quality, exact-duplicate rate at the pipeline fingerprint. The
    // audit view of the raw corpus BEFORE the dp01 gates, so a mixture
    // designer sees what the filters are about to spend.
    "dp14_datasheet" -> ((s, dir) =>
      graft.text.CorpusPipeline.datasheet(t(s, dir, "documents"))
        .orderBy(col("lang"), col("source"))),

    // Stage-attrition funnel over the dp01 chain: per stage, how many
    // documents survive and how many the stage dropped — the "where
    // did my data go" report, computed from the SAME CorpusPipeline
    // stage definitions dp01 runs (fenced once per stage, counted with
    // partial aggregation). A stage counted against the wrong subtree,
    // a mis-ordered funnel, or a drop attributed to the wrong stage
    // all break the hash.
    "dp15_funnel" -> ((s, dir) =>
      graft.text.CorpusPipeline.funnel(t(s, dir, "documents"))
        .orderBy(col("stage_ord"))),

    // The FULL training-shard path — dp01's survivor chain extended
    // the way a real corpus build finishes: per-language token-budget
    // mixture cut (ts10's operator, the "keep the best N tokens per
    // language" step) then token-budget sequence chunking into
    // training shards (ts11's operator). One oracle over the whole
    // chain: a user gets filtered, deduped, budgeted, shard-assigned
    // training data from one composition of gated operators.
    "dp05_training_shards" -> ((s, dir) => {
      val cp = graft.text.CorpusPipeline
      val gated = cp.gate(t(s, dir, "documents"))
      val deduped = graft.core.Fence(Dedup.exactDedup(gated,
        cp.fingerprintPrefix, col("doc_id")))
      val pairs = MinHashLSH.nearDupPairs(deduped, "doc_id", "text",
        threshold = cp.NearDupThreshold)
      val clustered = Dedup.clusterDedup(deduped, "doc_id", pairs,
        "doc_a", "doc_b")
      val surv = clustered.filter(cp.samplePredicate)
      val toks = TextHash.tokens(col("text"))
      val kept = graft.core.Fence(graft.text.Mixture.tokenBudgetSample(
        surv, "doc_id", "lang", size(toks).cast("long"),
        TextAnalysis.qualityScore(toks), 20000L))
      val chunked = graft.text.Packing.tokenChunks(kept, "id",
        col("n_toks"), 8000L)
      chunked.join(kept.select(col("id"), col("lang")), Seq("id"))
        .select(col("id"), col("lang"), col("n_toks"), col("chunk"))
        .orderBy(col("id"))
    }),

    // Shard EXPORT — the trainer handoff dp05's manifest stops short
    // of: the chunk-assigned documents are written as JSONL files
    // partitioned by shard (one `chunk=` directory per shard — the
    // layout a training job reads shard-at-a-time), read BACK off
    // disk, and re-aggregated per shard with an md5-derived content
    // checksum, so the gate proves the JSON round-trip byte-exact per
    // shard, not just row counts. One partitioned write job; no
    // driver-side loop over shards.
    "dp08_shard_export" -> ((s, dir) => {
      val out = Scratch.dir("graft_dp08_")
      dp08Assigned(s, dir)
        .write.partitionBy("chunk").mode("overwrite").json(out)
      dp08ReadBack(s, out)
    }),

    // Export MANIFEST + takedown propagation (round 16 — closing the
    // "takedown does not reach exported shards" hole): the same
    // trainer handoff as dp08, but recorded in the catalog at write
    // time (ShardExport — pk-bucketed (id, chunk) membership + a
    // meta-last export row), then a takedown slice PURGED from the
    // shipped JSONL: affected shards located through the pruned
    // membership index and rewritten in ONE dynamic-overwrite job,
    // fully-purged shards deleted, membership updated last. Run twice
    // (idempotent); the slice includes never-exported ids (no-ops).
    // The oracle is dp08's chain with the purged slice excluded AFTER
    // chunk assignment — shards keep their identity, docs leave them.
    "dp09_export_purge" -> ((s, dir) => {
      import graft.text.ShardExport
      val out = Scratch.dir("graft_dp09_")
      val cat = scratchCatalog(s, "graft_dp09w_")
      ShardExport.exportJsonl(cat, dp08Assigned(s, dir), "dp09_exp",
        out)
      val doomed = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id").as("id"))
      ShardExport.purge(cat, "dp09_exp", doomed)
      ShardExport.purge(cat, "dp09_exp", doomed) // second run: no-op
      dp08ReadBack(s, out)
    }),

    // Registry-wide purge (round 16): TWO exports of the same corpus
    // at different shard sizes, registered at write time; ONE
    // purgeAll call removes the takedown slice from BOTH shipped
    // artifacts (run twice — idempotent). This is the compliance flow
    // end to end: the operator does not need to remember what was
    // ever exported. The oracle unions the two chunk-size replays of
    // the dp09 arithmetic, tagged per export.
    "dp11_purge_all" -> ((s, dir) => {
      import graft.text.ShardExport
      val cat = scratchCatalog(s, "graft_dp11w_")
      val outA = Scratch.dir("graft_dp11a_")
      val outB = Scratch.dir("graft_dp11b_")
      // the two exports differ only in chunk size: the heavy corpus
      // prefix (gate → dedup → near-dup cluster → token budget) is
      // computed ONCE (dp08Kept's fence). They run one after the other:
      // as concurrent lanes they measured no faster (ROADMAP item 6)
      val kept = dp08Kept(s, dir)
      ShardExport.exportJsonl(cat,
        dp08AssignedFrom(s, dir, kept, 500L), "dp11_a", outA)
      ShardExport.exportJsonl(cat,
        dp08AssignedFrom(s, dir, kept, 900L), "dp11_b", outB)
      val doomed = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id").as("id"))
      ShardExport.purgeAll(cat, doomed)
      ShardExport.purgeAll(cat, doomed) // second sweep: no-op
      dp08ReadBack(s, outA).withColumn("exp", lit("a"))
        .unionByName(dp08ReadBack(s, outB).withColumn("exp", lit("b")))
        .select(col("exp"), col("chunk"), col("n_docs"),
          col("content_sum"))
        .orderBy(col("exp"), col("chunk"))
    }),

    // The INCREMENTAL corpus pipeline under the dp01 oracle: three
    // ascending-id micro-batches through CorpusStream.processBatch
    // (fresh temp warehouse per invocation — replaying over stale
    // state would let later batches' fingerprints reach earlier docs),
    // with compactEvery=2 so a live state-compaction pass (including
    // its crash-safe commit probe) runs UNDER the oracle, not only
    // under the suite. Ascending arrival order makes the stream's
    // keep-first semantics equal dp01's global keep-smallest-id, so
    // the recursive-CTE oracle gates the whole streaming chain:
    // stored-sketch reuse, pk-pruned band state, cross-batch
    // component kills, idempotent partition writes.
    "dp03_incremental_corpus" -> ((s, dir) => {
      import graft.streaming.CorpusStream
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val b = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
      val lo = b.getLong(0); val hi = b.getLong(1)
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
      val cat = scratchCatalog(s, "graft_dp03_")
      Seq(docs.filter(col("doc_id") <= cut1),
          docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
          docs.filter(col("doc_id") > cut2))
        .zipWithIndex.foreach { case (batch, i) =>
          CorpusStream.processBatch(batch, cat, "dp03_seen", "dp03_out",
            i.toLong, compactEvery = 2)
        }
      cat.read("dp03_out")
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Takedown over the streamed corpus: after the dp03 run commits,
    // an operator removes a modular slice of doc ids
    // (CorpusStream.removeDocs) — the content-removal path (GDPR
    // takedowns, licensing pulls) a served corpus needs between
    // rebuilds. The rewrite locates affected partitions through the
    // pk-pruned emit index (epochEvery=1 forces the removals to cross
    // EPOCH tables) and rewrites only those; state deliberately
    // remains, so the removed docs keep suppressing their
    // near-duplicates — the oracle is the dp01 chain minus the removed
    // slice, NOT a re-deduped corpus.
    "dp07_takedown" -> ((s, dir) => {
      import graft.streaming.CorpusStream
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val b = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
      val lo = b.getLong(0); val hi = b.getLong(1)
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
      val cat = scratchCatalog(s, "graft_dp07_")
      Seq(docs.filter(col("doc_id") <= cut1),
          docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
          docs.filter(col("doc_id") > cut2))
        .zipWithIndex.foreach { case (batch, i) =>
          CorpusStream.processBatch(batch, cat, "dp07_seen", "dp07_out",
            i.toLong, compactEvery = 2, epochEvery = 1)
        }
      // the takedown set spans emitted docs, dropped duplicates
      // (no-ops), and both epoch generations; run it twice — the
      // second pass must be a no-op (idempotent)
      val doomed = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .select(col("doc_id"))
      CorpusStream.removeDocs(cat, "dp07_seen", "dp07_out", doomed)
      CorpusStream.removeDocs(cat, "dp07_seen", "dp07_out", doomed)
      CorpusStream.readOutput(cat, "dp07_out")
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // IN-STREAM corpus takedown (round 16 — the ann22 shape on the
    // corpus side): one CDC feed interleaves document arrivals with
    // takedown requests, and each micro-batch's deletes apply through
    // the removeDocs partition-scoped rewrite right after its adds run
    // the chain (CorpusStream.processCdcBatch). Batches 2 and 3 delete
    // modular slices of ALREADY-ARRIVED ids (a delete for a
    // never-emitted or duplicate-dropped id is a no-op); removed docs'
    // state remains, so their near-duplicates stay suppressed — the
    // oracle is the dp01 chain minus exactly the deleted slices, the
    // dp07 contract under streaming interleave.
    "dp10_stream_takedown" -> ((s, dir) => {
      import graft.streaming.CorpusStream
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val b = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
      val lo = b.getLong(0); val hi = b.getLong(1)
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
      val cat = scratchCatalog(s, "graft_dp10_")
      def adds(p: org.apache.spark.sql.Column): DataFrame =
        docs.filter(p).select(lit("add").as("op"), col("doc_id"),
          col("text"), col("lang"))
      def dels(p: org.apache.spark.sql.Column): DataFrame =
        docs.filter(p).select(lit("delete").as("op"), col("doc_id"),
          lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang"))
      val batches = Seq(
        adds(col("doc_id") <= cut1),
        adds(col("doc_id") > cut1 && col("doc_id") <= cut2)
          .unionByName(dels(col("doc_id") <= cut1 &&
            pmod(col("doc_id"), lit(9)) === 4)),
        adds(col("doc_id") > cut2)
          .unionByName(dels(col("doc_id") <= cut2 &&
            pmod(col("doc_id"), lit(9)) === 7)))
      batches.zipWithIndex.foreach { case (batch, i) =>
        CorpusStream.processCdcBatch(batch, cat, "dp10_seen",
          "dp10_out", "op", i.toLong, compactEvery = 2)
      }
      CorpusStream.readOutput(cat, "dp10_out")
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // dp03 with the OUTPUT-EPOCH ROLL forced on at its most aggressive
    // setting (epochEvery = 1: every batch rolls to a fresh epoch
    // table), under the same dp01 oracle — the long-lived-stream
    // mechanism (bounded per-table directory counts, retraction
    // addressed across epoch boundaries through the emit index's
    // e<k>:<batch> keys, readOutput unioning every epoch) runs under
    // the hard correctness signal, not only under StreamingSpec.
    "dp04_epoch_roll" -> ((s, dir) => {
      import graft.streaming.CorpusStream
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val b = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
      val lo = b.getLong(0); val hi = b.getLong(1)
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
      val cat = scratchCatalog(s, "graft_dp04_")
      Seq(docs.filter(col("doc_id") <= cut1),
          docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
          docs.filter(col("doc_id") > cut2))
        .zipWithIndex.foreach { case (batch, i) =>
          CorpusStream.processBatch(batch, cat, "dp04_seen", "dp04_out",
            i.toLong, compactEvery = 2, epochEvery = 1)
        }
      CorpusStream.readOutput(cat, "dp04_out")
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // The SERVING COMPOSITION — every production artifact the engine
    // grew, held together in one run the way a live training-data
    // deployment holds them. Three ascending-id micro-batches drive
    // BOTH feeds: documents through the incremental corpus pipeline
    // (seen-state + emit tables, compactEvery = 2) and the corpus
    // embeddings through the streaming ANN ingestion sink into a
    // persisted SQ8 index (seed build + ingestBatch, its own
    // compaction cadence). Then the finish: a BPE vocabulary trained
    // ONCE on the first batch and persisted (BpeIndex), semantic
    // decontamination of the survivors probed OFF THE LIVE INDEX
    // codes against the benchmark split (doc_id % 97 — the dd08/dd10
    // convention; floats never touched), survivor docs encoded off
    // the LOADED vocabulary, and token-budget training shards cut
    // over the subword counts (ts11's operator). The oracle replays
    // the composition: the dp01 chain over the corpus split, ann11's
    // quantization for the decon hit list, ts18's train-once/
    // encode-all BPE replay, ts11's running-sum chunk formula.
    // Ascending arrival keeps stream == batch exactly (the dp03
    // argument); quantization and encoding are per-row functions
    // under frozen fits — so the whole composition gates hash-exact.
    "dp06_serving_pipeline" -> ((s, dir) =>
      servingComposition(s, dir, "dp06", alphabet = "az")),

    // The serving composition under the BYTE tokenizer (round 16 —
    // closing "the serving story inherits the ASCII-only alphabet"):
    // dp06's exact pipeline with the persisted vocabulary built
    // alphabet="bytes", so survivors encode off byte-level merges
    // served under the RECORDED alphabet (case and punctuation bytes
    // kept, whitespace-only words) and the token-budget shards cut
    // over the byte subword counts. The unicode-survival proof itself
    // is ts20/ts21; this gate proves the byte path THROUGH the full
    // serving composition. Oracle = dp06's replay with the encode
    // stages swapped to the byte CTEs (same train-slice restriction).
    "dp12_serving_bytes" -> ((s, dir) =>
      servingComposition(s, dir, "dp12", alphabet = "bytes")),

    // Corpus quality report — the per-language summary artifact every
    // corpus build emits: doc/token volumes, mean quality (scaled to
    // integer micro-units so the double sum is order-free) and exact
    // char-count percentiles (percentile_disc picks an element, so the
    // result is bit-exact and the aggregate distributes sort-based —
    // the a09 rule applied to corpus reporting). Round 14: the a10
    // hash-sample pattern rides along — percentile ESTIMATES from a
    // deterministic 1/8 md5 sample of doc_ids (the 100 TB path, where
    // the exact columns' full sort is the cost; production shrinks the
    // fraction and computes only the sample side). Same bit-exact
    // discipline: the sample membership is a pure function of doc_id,
    // and percentile_disc picks elements, so even the estimates gate
    // hash-exact. Languages with no sampled docs report NULL estimates
    // (LEFT JOIN), never a dropped row. A per-language KMV
    // distinct-shingle estimate (ts17's sketch, k=128) rides along
    // too — the number that sizes a per-slice dedup run, straight off
    // the report; a language with no 3-token shingle at all (every doc
    // under 3 tokens) reports NULL there under the same LEFT-JOIN
    // discipline instead of vanishing from the report.
    "dp02_corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = TextHash.tokens(col("text"))
      // soft-fenced: the per-doc projection (incl. the HOF quality
      // score) feeds BOTH the exact and the sampled aggregates — one
      // scoring pass, not two
      graft.core.Fence.soft(docs.select(col("doc_id"), col("lang"),
          col("n_chars"), size(toks).as("n_toks"),
          floor(TextAnalysis.qualityScore(toks) * lit(1000000.0) +
            lit(0.5)).cast("long").as("q6")))
        .createOrReplaceTempView("graft_dp02")
      val shingles = graft.ops.Kmv.withEstimate(
        graft.ops.Kmv.sketchAgg(
          docs.withColumn("__th", TextHash.tokenHashes(col("text")))
            .select(col("lang"), explode(TextHash
              .wordShingleHashesFromTokenHashes(col("__th"), 3))
              .as("g")),
          Seq("lang"), col("g"), 128), 128)
        .select(col("lang"),
          col("est_distinct").as("est_distinct_shingles"))
      s.sql("""WITH base AS (SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
          CAST(SUM(q6) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
            AS mean_quality,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
            AS BIGINT) AS p50_chars,
          CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)
            AS BIGINT) AS p95_chars
          FROM graft_dp02 GROUP BY lang),
        samp AS (SELECT lang, COUNT(*) AS n_sampled,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
            AS BIGINT) AS p50_chars_est,
          CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)
            AS BIGINT) AS p95_chars_est
          FROM graft_dp02
          WHERE substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),
            1, 2) < '20'
          GROUP BY lang)
        SELECT base.lang, n_docs, total_tokens, mean_quality,
          p50_chars, p95_chars,
          COALESCE(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
          p50_chars_est, p95_chars_est
        FROM base LEFT JOIN samp ON base.lang = samp.lang""")
        .join(shingles, Seq("lang"), "left")
        .orderBy(col("lang"))
    }),

    // Brute-force cosine top-k (correctness baseline for ANN)
    "ann01_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // MMR diversified retrieval: each query's exact top-20 pool
    // greedily re-ranked to 5 results that are relevant AND unlike
    // each other (step i maximizes λ·cos(q,c) − (1−λ)·max cos(c,
    // selected), λ=0.7 under the one-decimal contract). The greedy
    // recurrence is sequential in k by definition, so the plan is k
    // bounded stages — each distributed ACROSS queries (anti-join
    // trim, equi-join max-sim against the fenced ≤k-row selected set,
    // per-query rank window). The oracle unrolls the identical five
    // steps as CTE stages; a pick that ignores redundancy (plain
    // top-5) or attributes the wrong max-sim breaks the hash.
    "ann31_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.mmrTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 5, poolSize = 20, lambdaNum = 7)
        .orderBy(col("q_id"), col("step"))
    }),

    // Random-projection LSH bucketing + within-bucket top-1 (scale path)
    "ann02_lsh_neighbors" -> ((s, dir) =>
      Ann.lshBucketNeighbors(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // The corpus-fitted Auto form of ann02: autoPlanes picks the plane
    // count from the corpus size (here targetBucketRows=1, the value
    // that pushes every gate SF above the fixed-8 floor — 9 planes at
    // 500 rows, 11 at 2000 — so the gate exercises the SCALING rule,
    // not the floor). The oracle recomputes the identical fitted
    // geometry from its own count(*) via autoPlanesSql/bucketSqlDynamic.
    "ann06_lsh_auto" -> ((s, dir) =>
      Ann.lshBucketNeighborsAuto(t(s, dir, "embeddings"), "vec_id",
          "embedding", targetBucketRows = 1)
        .orderBy(col("vec_id"))),

    // IVF-Flat: 16 sampled centroids, nprobe=2 — the inverted-file ANN
    // scale path beside LSH; same query set as ann01 so recall is
    // directly comparable
    "ann03_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF-Flat with a TRAINED coarse quantizer: two deterministic
    // spherical-k-means rounds (smallest-id seed, integer-cents means —
    // the ann04 reduction) before assignment/probing. Same query set as
    // ann01/ann03, so recall is directly comparable; the oracle
    // recomputes the identical fixed iterations.
    "ann05_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          10, trainIters = 2)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Per-label embedding centroids: posexplode to (label, pos, value),
    // map-side partial aggregate, element-wise mean — the distributed
    // centroid reduction of k-means / IVF training. Values are summed as
    // floor(v·2^20 + 0.5) integers so the sum is order-free (float
    // addition is not associative; a shuffled double sum would not
    // reproduce), then divided back out as DOUBLE on both sides.
    // Persisted-index probes: build the index artifact into a scratch
    // warehouse (the fit paid once — plane count / trained centroids +
    // bucket assignments as catalog tables), then answer the query
    // from the LOADED index with no refit. Results must be
    // bit-identical to the fit-inline forms, so the oracles are
    // ann06's / ann05's verbatim.
    "ann07_index_probe" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann07_")
      AnnIndex.buildLsh(cat, t(s, dir, "embeddings"), "vec_id",
        "embedding", "ann_idx", targetBucketRows = 1)
      AnnIndex.lshNeighborsFromIndex(cat, "ann_idx")
        .orderBy(col("vec_id"))
    }),

    "ann08_ivf_index" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann08_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildIvf(cat, e, "vec_id", "embedding", "ann_ivf",
        numCells = 16, trainIters = 2)
      AnnIndex.ivfTopKFromIndex(cat, "ann_ivf",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Index LIFECYCLE (round 13): bulk-load HALF the corpus, APPEND
    // the other half under the frozen fit, probe — must be
    // bit-identical to the full build (and so to the fit-inline
    // oracle). For LSH the geometry is sized to the PLANNED capacity
    // (the production sizing knob: autoPlanes over the corpus you
    // intend to ingest, not the slice you load first), so bucketing —
    // a pure function of (vector, planes) — is identical however the
    // vectors arrive. For IVF the quantizer trains once on the full
    // corpus and appended vectors are assigned under the PERSISTED
    // centroids loaded back from the `_cent` table — bit-equality
    // proves the parquet round-trip and the frozen-fit assignment,
    // the two things a serving append must not drift on.
    "ann09_lsh_append" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann09_")
      val e = t(s, dir, "embeddings")
      val (first, rest) = (e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      AnnIndex.buildLsh(cat, first, "vec_id", "embedding", "ann_idx",
        targetBucketRows = 1, capacityRows = Some(e.count()))
      AnnIndex.appendLsh(cat, rest, "vec_id", "embedding", "ann_idx")
      AnnIndex.lshNeighborsFromIndex(cat, "ann_idx")
        .orderBy(col("vec_id"))
    }),

    "ann10_ivf_append" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann10_")
      val e = t(s, dir, "embeddings")
      val (first, rest) = (e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      AnnIndex.buildIvf(cat, first, "vec_id", "embedding", "ann_ivf",
        numCells = 16, trainIters = 2, trainData = Some(e))
      AnnIndex.appendIvf(cat, rest, "vec_id", "embedding", "ann_ivf")
      AnnIndex.ivfTopKFromIndex(cat, "ann_ivf",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Persisted SQ8 code index, full lifecycle in one gate: build on
    // half the corpus, append the other half, answer off the stored
    // 1-byte codes (no float vectors touched on the corpus side).
    // Quantization is per-vector, so the result is bit-identical to
    // fit-inline ann11 — its oracle verbatim.
    "ann12_sq8_index" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann12_")
      val e = t(s, dir, "embeddings")
      val (first, rest) = (e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      AnnIndex.buildSq8(cat, first, "vec_id", "embedding", "ann_sq8")
      AnnIndex.appendSq8(cat, rest, "vec_id", "embedding", "ann_sq8")
      AnnIndex.sq8TopKFromIndex(cat, "ann_sq8",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF-PQ combined probe — the production serving shape: IVF cells
    // prune candidates to nprobe/numCells of the corpus, PQ/ADC
    // scores the survivors from 4 code ints each. Same query set as
    // ann01/ann03/ann13, so the pruning+quantization recall stack is
    // directly comparable.
    "ann15_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfPqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Residual IVF-PQ + exact re-rank (the IVFADC serving shape):
    // codes encode u − centroid(cell), ADC scores the negative squared
    // residual distance (comparable across probed cells), and the
    // top-64 code-ranked candidates per query are re-scored EXACTLY
    // from the unit vectors — recall@10 0.82 vs 0.40 for the
    // raw-vector ann15 form on the same corpus (spec-pinned floors
    // 0.7 / 0.3). Candidate generation stays the cell equi-join.
    "ann16_ivfpq_refine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfPqResidualTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", 10, numCells = 16, nprobe = 2, trainIters = 2,
          pqIters = 2, refine = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Persisted residual IVF-PQ index, full lifecycle: both fits
    // trained once on the full corpus, half bulk-loaded, half appended
    // as codes under the LOADED fits, then the TWO-STAGE probe — cell
    // pruning × residual ADC off the stored codes, exact re-rank
    // fetching floats from the primary table for the top-64 per query.
    // Cells and codes are pure functions of vector × frozen fits, so
    // the result is bit-identical to fit-inline ann16 — its oracle
    // verbatim.
    // Streaming ingestion into a persisted ANN index: the corpus's
    // embedding feed arrives as 3 micro-batches through the reusable
    // foreachBatch sink (AnnIndex.ingestBatch) — segKey = batchId
    // makes a replayed micro-batch overwrite its own segment
    // (idempotent end to end), and compactEvery = 2 exercises the
    // in-loop compaction cadence that bounds the segment-directory
    // count under continuous ingestion (the production shape for a
    // live embedding store; compaction is pure re-layout, so results
    // are unchanged). Quantization is per-vector, so seed + streamed
    // appends are bit-identical to quantizing the whole corpus —
    // ann11's oracle.
    "ann19_stream_append" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann19_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e.filter(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", "ann_s")
      val rows = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .as[(Long, Array[Float])].collect()
      val n = rows.length
      val mem = MemoryStream[(Long, Array[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding")
        .writeStream
        .option("checkpointLocation", cat.tablePath("_ckpt"))
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          AnnIndex.ingestBatch(cat, df, "vec_id", "embedding",
            "ann_s", batchId, compactEvery = 2)
        }.start()
      try {
        Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
            rows.slice(2 * n / 3, n)).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      AnnIndex.sq8TopKFromIndex(cat, "ann_s",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Deletion from a persisted index — the takedown path a live
    // training-data store needs between rebuilds: every seventh
    // vector is deleted in two O(batch) tombstone batches (no corpus
    // rewrite), and the probe serves the LIVE set through the
    // read-time tombstone anti-join — the oracle is the ann11
    // arithmetic restricted to the surviving corpus. Physical purge +
    // tombstone drain (compactSegs) is spec-pinned probe-identical,
    // so the gate exercises the masked-read path that serves BETWEEN
    // compactions.
    "ann21_delete" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann21_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e, "vec_id", "embedding", "ann_del")
      val doomed = e.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id"))
      AnnIndex.deleteIds(cat,
        doomed.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "ann_del")
      AnnIndex.deleteIds(cat,
        doomed.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
        "ann_del")
      AnnIndex.sq8TopKFromIndex(cat, "ann_del",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Change-data streaming into a persisted index: the live feed
    // carries REMOVALS alongside inserts (takedowns arriving while new
    // embeddings land — the real upstream of a serving store), and one
    // foreachBatch sink (AnnIndex.ingestCdcBatch) applies each
    // micro-batch's deletes as a tombstone batch and its adds through
    // the kind-generic append, both keyed b<batchId> so a replayed
    // batch is idempotent end to end. Seed = the vec_id%4==0 quarter;
    // batches add the %4==1/2/3 slices while batches 2 and 3 delete
    // modular slices of ALREADY-INGESTED ids; the final probe serves
    // exactly the surviving corpus — the ann11 oracle restricted to
    // the live predicate.
    "ann22_stream_cdc" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann22_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e.filter(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", "ann_c")
      def adds(m: Int): Seq[(String, Long, Array[Float])] =
        e.filter(pmod(col("vec_id"), lit(4)) === m)
          .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
          .as[(Long, Array[Float])].collect().toSeq
          .map { case (id, v) => ("add", id, v) }
      def dels(cond: Column): Seq[(String, Long, Array[Float])] =
        e.filter(cond).select(col("vec_id")).orderBy(col("vec_id"))
          .as[Long].collect().toSeq
          .map(id => ("delete", id, Array.empty[Float]))
      val del2 = dels(pmod(col("vec_id"), lit(4)).isin(0, 1) &&
        pmod(col("vec_id"), lit(5)) === 2)
      val del3 = dels(pmod(col("vec_id"), lit(4)) === 2 &&
        pmod(col("vec_id"), lit(5)) === 3)
      val mem = MemoryStream[(String, Long, Array[Float])]
      val q = mem.toDF().toDF("op", "vec_id", "embedding")
        .writeStream
        .option("checkpointLocation", cat.tablePath("_ckpt"))
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          AnnIndex.ingestCdcBatch(cat, df, "vec_id", "embedding", "op",
            "ann_c", batchId, compactEvery = 2)
        }.start()
      try {
        Seq(adds(1), adds(2) ++ del2, adds(3) ++ del3).foreach { chunk =>
          mem.addData(chunk)
          q.processAllAvailable()
        }
      } finally q.stop()
      AnnIndex.sq8TopKFromIndex(cat, "ann_c",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Filtered search off the persisted index — "top-k among the
    // vectors matching a metadata predicate" (here: label = 0, the
    // table's cluster tag; in production: language, source, license).
    // The allowed-id set PRE-filters the code scan by semi-join, so
    // every returned rank is from the allowed subset and k always
    // fills from it — a post-filtered unfiltered top-k would
    // under-return, the classic filtered-ANN mistake. The oracle is
    // the ann11 arithmetic with the same predicate on the corpus side.
    "ann23_filtered_topk" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann23_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e, "vec_id", "embedding", "ann_f")
      AnnIndex.sq8TopKFromIndex(cat, "ann_f",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          allowedIds = Some(e.filter(col("label") === 0)
            .select(col("vec_id"))),
          allowedIdCol = "vec_id")
        .orderBy(col("q_id"), col("rank"))
    }),

    // Filtered search on the QUALITY serving shape: the two-stage
    // residual IVF-PQ probe restricted to the label-0 vectors. The
    // allowed-id semi-join lands before the ADC scoring AND before
    // the code-rank cut, so the refine budget is spent inside the
    // allowed subset — the oracle replays the identical fit with the
    // same predicate on its candidate set.
    "ann24_filtered_refine" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann24_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildIvfPq(cat, e, "vec_id", "embedding", "ann_fr",
        numCells = 16, trainIters = 2, pqIters = 2)
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_fr", e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 2, refine = 64,
          allowedIds = Some(e.filter(col("label") === 0)
            .select(col("vec_id"))),
          allowedIdCol = "vec_id")
        .orderBy(col("q_id"), col("rank"))
    }),

    // Filtered search on the IVF path (round 16 — closing the "three
    // of five kinds lack allowedIds" gap): the cell-pruned probe
    // restricted to the label-0 vectors, with the semi-join landing on
    // the assignment scan BEFORE the cell equi-join and scoring — same
    // pre-filter contract as ann23/ann24, so k fills from the allowed
    // subset. The oracle is the ann05 arithmetic (identical fit over
    // the FULL corpus — the index was built unrestricted) with the
    // predicate on its candidate set only.
    "ann25_filtered_ivf" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann25_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildIvf(cat, e, "vec_id", "embedding", "ann_fi",
        numCells = 16, trainIters = 2)
      AnnIndex.ivfTopKFromIndex(cat, "ann_fi",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          allowedIds = Some(e.filter(col("label") === 0)
            .select(col("vec_id"))),
          allowedIdCol = "vec_id")
        .orderBy(col("q_id"), col("rank"))
    }),

    // Metric in the index meta (round 16 — the Geom pattern applied to
    // the SCORE function): an inner-product SQ8 index — the
    // learned-retrieval contract where vector magnitude carries signal
    // and unit-normalizing would destroy it. buildSq8 records
    // metric="ip" beside the geometry; the probe serves under the
    // RECORDED metric (scores = dequantized code dots via the stored
    // per-vector scales), and an explicit probe for a different metric
    // is refused loudly (spec-pinned). The oracle replays the same
    // quantization with the ip scoring formula; all cosine gates are
    // byte-identical (scales cancel there and are never read).
    "ann26_sq8_ip" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann26_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e, "vec_id", "embedding", "ann_ip",
        metric = "ip")
      AnnIndex.sq8TopKFromIndex(cat, "ann_ip",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // ...and the l2 metric under the same contract: negative squared
    // dequantized distance (larger = closer). Completes the recorded-
    // metric triple — all three now oracle-gated, not just spec-pinned.
    "ann27_sq8_l2" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann27_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildSq8(cat, e, "vec_id", "embedding", "ann_l2",
        metric = "l2")
      AnnIndex.sq8TopKFromIndex(cat, "ann_l2",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Bulk neighbor join off the persisted residual index: EVERY
    // corpus vector is a query ("attach top-3 neighbors to each
    // document"), probed with broadcastQueries = false — the query
    // side plans as shuffle equi-joins and the rank window shuffles
    // by q_id, so nothing must fit in one executor. Same fits, same
    // arithmetic — the oracle is the ann16 builder at corpus width.
    "ann18_ivfpq_bulk" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann18_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildIvfPq(cat, e, "vec_id", "embedding", "ann_bulk",
        numCells = 16, trainIters = 2, pqIters = 2)
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_bulk", e, e,
          "vec_id", "embedding", 3, nprobe = 2, refine = 16,
          broadcastQueries = false)
        .orderBy(col("q_id"), col("rank"))
    }),

    "ann17_ivfpq_index" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann17_")
      val e = t(s, dir, "embeddings")
      val (first, rest) = (e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      AnnIndex.buildIvfPq(cat, first, "vec_id", "embedding", "ann_ivfpq",
        numCells = 16, trainIters = 2, pqIters = 2, trainData = Some(e))
      AnnIndex.appendIvfPq(cat, rest, "vec_id", "embedding", "ann_ivfpq")
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_ivfpq", e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 2, refine = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // NON-DEFAULT geometry end-to-end (the r14 headline gap): the same
    // residual IVF-PQ artifact over 32-dim embedding slices with M=8
    // subspaces x K=16 codewords and 8 coarse cells — nothing
    // recompiled, the geometry travels as a per-call parameter, is
    // recorded in the index meta, and the probe serves under the
    // RECORDED shape (a mismatched query vector fails loudly —
    // AnnMultimodalSpec pins it). The oracle replays the identical fit
    // at the same shape, so ranks and scores gate bit-exact.
    "ann20_ivfpq_geom" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann20_")
      val g = Ann.Geom(32, 8, 16)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding"), 1, 32).as("embedding"))
      AnnIndex.buildIvfPq(cat, e, "vec_id", "embedding", "ann_g",
        numCells = 8, trainIters = 2, pqIters = 2, geom = g)
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_g", e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 2, refine = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // The residual serving shape under a RAW-L2 metric (round 16,
    // second pass): learned-retrieval corpora whose distances are
    // meant over the raw embeddings — no unit normalization anywhere.
    // The metric is recorded in the index meta beside the geometry
    // (the ann26 contract on the flagship index kind); the whole fit
    // (coarse L2 cells, residuals, codebooks, ADC) is metric-blind
    // because ‖q − v‖² = ‖qr − r‖² holds for raw vectors exactly as
    // for unit ones, so only the (un)normalization and the refine
    // stage's exact score change: −((q·q + v·v) − 2·(q·v)), larger =
    // closer. The probe serves the recorded metric; an explicit
    // cosine request against this index is refused loudly
    // (spec-pinned), and ip points at the SQ8 family whose
    // dequantized dot is ip-native — an L2 code rank would mis-rank
    // an ip corpus silently.
    "ann28_ivfpq_l2" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann28_")
      val e = t(s, dir, "embeddings")
      AnnIndex.buildIvfPq(cat, e, "vec_id", "embedding", "ann_rawl2",
        numCells = 16, trainIters = 2, pqIters = 2, metric = "l2")
      AnnIndex.ivfPqRefineTopKFromIndex(cat, "ann_rawl2", e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          nprobe = 2, refine = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Recall@10 evaluation report: the measurement the ANN knobs
    // (nprobe, numCells, refine) are tuned against, as a first-class
    // operator — per query, how many of the exact top-10 the trained
    // IVF probe (the ann05 configuration) recovered. Both sides are
    // deterministic replays, so the recall numbers themselves gate
    // hash-exact against the oracle computing the same join.
    "ann29_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Ann.recallReport(
          Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10),
          Ann.ivfTopK(e, q, "vec_id", "embedding", 10, trainIters = 2),
          10)
        .orderBy(col("q_id"))
    }),

    // Persisted PQ index, full lifecycle: codebooks trained once on
    // the full corpus, half bulk-loaded, half appended as codes under
    // the LOADED (never re-derived) codebooks, ADC probe off the
    // stored code columns alone. Codes are a pure function of
    // vector × frozen codebooks, so the result is bit-identical to
    // fit-inline ann13 — its oracle verbatim.
    "ann14_pq_index" -> ((s, dir) => {
      import graft.ann.AnnIndex
      val cat = scratchCatalog(s, "graft_ann14_")
      val e = t(s, dir, "embeddings")
      val (first, rest) = (e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1))
      AnnIndex.buildPq(cat, first, "vec_id", "embedding", "ann_pq",
        trainIters = 2, trainData = Some(e))
      AnnIndex.appendPq(cat, rest, "vec_id", "embedding", "ann_pq")
      AnnIndex.pqTopKFromIndex(cat, "ann_pq",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // SQ8-quantized brute-force top-k (the memory-bandwidth scale
    // path: int8 codes are a 4× cheaper scan than floats and the score
    // is an integer dot) — same query set as ann01, so quantization
    // recall is directly comparable against the exact baseline.
    "ann11_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.sq8TopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Product quantization + ADC (the extreme-compression ANN path:
    // 4 codebook cells per vector — 64× smaller than the floats in a
    // packed layout; queries score candidates from the codes alone).
    // Deterministic per-subspace L2 k-means (2 Lloyd rounds, the
    // ann05 reduction) — the oracle replays the identical fit per
    // subspace. Same query set as ann01 for recall comparison.
    "ann13_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.pqTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    "ann04_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("v").cast("double") * lit(1048576.0) + lit(0.5))
              .cast("long")).cast("double") / 1048576.0 /
            count(lit(1)).cast("double")).as("centroid"))
        .orderBy(col("label"), col("pos"))),

    // Embedding-cosine near-dup, exact baseline: all pairs >= t. The
    // threshold 460/1024 sits at this corpus's near-dup tail (max
    // observed cosine ≈ 0.51) and is an exact binary fraction, so both
    // engines compare identical doubles.
    "dd05_embedding_neardup" -> ((s, dir) =>
      Ann.embeddingNearDupExact(t(s, dir, "embeddings"), "vec_id",
          "embedding", 460.0 / 1024.0)
        .orderBy(col("id_a"), col("id_b"))),

    // Embedding-cosine near-dup, scale path: banded random-projection
    // candidates (8 bands × 4 planes) + exact-cosine verify; the oracle
    // replicates the banding from the same projection constants.
    "dd06_embedding_neardup_lsh" -> ((s, dir) =>
      Ann.embeddingNearDupLsh(t(s, dir, "embeddings"), "vec_id",
          "embedding", 460.0 / 1024.0)
        .orderBy(col("id_a"), col("id_b"))),

    // Semantic decontamination: corpus embeddings with cosine >= t
    // against ANY eval-set embedding (the vec_id % 97 slice stands in
    // for the benchmark, as in dd08) are removed — the embedding-space
    // twin of n-gram decontamination, catching paraphrased leakage.
    // Bipartite banded LSH + exact-cosine verify + anti-join.
    "dd10_semantic_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val eval = emb.filter(col("vec_id") % 97 === 0)
      val corpus = emb.filter(col("vec_id") % 97 =!= 0)
      Ann.semanticDecontaminate(corpus, "vec_id", "embedding",
          eval, "vec_id", "embedding", 460.0 / 1024.0)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // U5 token-sort ratio: word-order permutations score 100 where the
    // plain ratio does not (fuzzywuzzy WRatio fidelity, SURVEY §7.4(6))
    "u05_token_sort" -> ((s, dir) => {
      val scrambled = array_join(reverse(split(col("p_name"), " ")), " ")
      t(s, dir, "part").select(col("p_partkey"),
          graft.sim.Fuzzy.levenshteinRatio(col("p_name"), scrambled)
            .as("plain_ratio"),
          graft.sim.Fuzzy.tokenSortRatio(col("p_name"), scrambled)
            .as("token_sort_ratio"))
        .orderBy(col("p_partkey"))
    }),

    // U8 WRatio end-to-end — the full fuzzywuzzy decision tree
    // (get_similarity.py:148-152) gated against an oracle that
    // replicates every branch (0.95/0.9/0.6 scales, partial family on
    // >1.5× length gap). Runs as the staged form: token/sorted
    // components projected once and fenced, then the blended formula
    // over materialized fields (wRatioStaged ≡ wRatio, pinned by
    // DedupFuzzySpec — the inline form's cloned interpreted pipelines
    // cost ~10 ms/row plus seconds of plan compilation).
    "u08_wratio" -> ((s, dir) => {
      import graft.sim.Fuzzy
      def srt(c: org.apache.spark.sql.Column) =
        array_join(sort_array(split(c, " +")), " ")
      val short = split(col("p_type"), " ").getItem(0)
      val staged = graft.core.Fence(t(s, dir, "part")
        .filter(col("p_partkey") <= 2000)
        .select(col("p_partkey"),
          col("p_name").as("c_a"), col("p_type").as("c_b"),
          srt(col("p_name")).as("c_sa"), srt(col("p_type")).as("c_sb"),
          Fuzzy.tokenSetTriple(col("p_name"), col("p_type")).as("c_t"),
          short.as("s_b"), srt(short).as("s_sb"),
          Fuzzy.tokenSetTriple(col("p_name"), short).as("s_t")))
      staged.select(col("p_partkey"),
          Fuzzy.wRatioStaged(col("c_a"), col("c_b"), col("c_sa"),
            col("c_sb"), col("c_t")).as("wr_cross"),
          Fuzzy.wRatioStaged(col("c_a"), col("s_b"), col("c_sa"),
            col("s_sb"), col("s_t")).as("wr_short"))
        .orderBy(col("p_partkey"))
    }),

    // U7 token-set + partial ratios — the two remaining WRatio components
    // (get_similarity.py:148-152): scored between unrelated columns for
    // real variance, plus a word-subset pair (token_set must say 100)
    // and a substring pair (partial must say 100). The token triples are
    // projected once and fenced: inlining tokenSetRatio clones its
    // interpreted HOF token pipeline ~20× per row (measured 17 s → ~1 s
    // at sf0.1).
    "u07_tokenset_partial" -> ((s, dir) => {
      import graft.sim.Fuzzy
      val subset = array_join(slice(split(col("p_name"), " "), 1, 2), " ")
      val staged = graft.core.Fence(t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_type"),
          Fuzzy.tokenSetTriple(col("p_name"), col("p_type")).as("ct"),
          Fuzzy.tokenSetTriple(col("p_name"), subset).as("st"),
          substring(col("p_name"), 3, 8).as("sub8")))
      staged.select(col("p_partkey"),
          Fuzzy.tokenSetScore(col("ct")).as("ts_cross"),
          Fuzzy.partialRatio(col("p_name"), col("p_type")).as("pr_cross"),
          Fuzzy.tokenSetScore(col("st")).as("ts_subset"),
          Fuzzy.partialRatio(col("p_name"), col("sub8")).as("pr_substr"))
        .orderBy(col("p_partkey"))
    }),

    // Multimodal plumbing: binary payload + typed meta + fake decode +
    // frame sampling. The struct/array forms stay covered in OpsSpec;
    // the gate serializes them (pandas canonicalization cannot sort
    // struct/array cells): meta → its scalar fields, frames → '|'-join.
    "mm01_multimodal" -> ((s, dir) => {
      val bin = Multimodal.toBinary(col("text"))
      val (nb, dig, h8) = Multimodal.fakeFeatures(bin)
      val meta = Multimodal.metaStruct(col("lang"), col("n_chars"))
      t(s, dir, "documents").select(col("doc_id"), nb, dig, h8,
          meta.getField("lang").as("meta_lang"),
          meta.getField("n_chars").as("meta_n_chars"),
          array_join(Multimodal.frameSample(bin, 3, 16), "|").as("frames"))
        .orderBy(col("doc_id"))
    }),

    // Real codec through the multimodal path: text bytes become the
    // pixels of an actual 24-bit BMP (6×8, stride-padded rows — w*3=18
    // pads to 20, so the codec's stride logic is exercised, not
    // bypassed), the stream is decoded back by the header-validating
    // BmpDecoder, and the gate emits the RECONSTRUCTED pixels. The
    // oracle computes the expected pixels from the text directly, so a
    // decode that mis-walks the header, the bottom-up rows, or the
    // padding hash-fails. Texts shorter than w*h zero-pad (pinned in
    // AnnMultimodalSpec; absent at this gate's SF).
    "mm02_bmp_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, LongType,
        StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, true),
        StructField("width", IntegerType, true),
        StructField("height", IntegerType, true),
        StructField("px", StringType, true)))
      val (w, h) = (6, 8)
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .mapPartitions { rows =>
          val hexDigits = "0123456789abcdef"
          rows.map { r =>
            val txt = if (r.isNullAt(1)) null else r.getString(1)
            if (txt == null)
              org.apache.spark.sql.Row(r.get(0), null, null, null)
            else {
              val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val gray = new Array[Byte](w * h)
              System.arraycopy(bytes, 0, gray, 0,
                math.min(bytes.length, gray.length))
              val feats = Multimodal.BmpDecoder.decode(
                Multimodal.Bmp.encode(w, h, gray))
              val sb = new java.lang.StringBuilder(2 * (feats.length - 2))
              var i = 2
              while (i < feats.length) {
                val v = feats(i).toInt
                sb.append(hexDigits.charAt(v >> 4))
                  .append(hexDigits.charAt(v & 0xf))
                i += 1
              }
              org.apache.spark.sql.Row(r.get(0), feats(0).toInt,
                feats(1).toInt, sb.toString)
            }
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .orderBy(col("doc_id"))
    }),

    // Second real codec through the multimodal path: text bytes become
    // the channel-interleaved pixels of a 4×8 RGB PNG (96 bytes,
    // zero-padded — both real content and the pad path are present at
    // every gate SF since min doc length is ~44). The encoder cycles
    // all five scanline filters (row y uses y mod 5), so the decode
    // exercises Sub/Up/Average/Paeth unfiltering plus zlib inflate and
    // per-chunk CRC checks — not just a header echo. The oracle
    // computes the expected pixel bytes from the text directly, so any
    // mis-unfiltered row hash-fails.
    "mm03_png_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, LongType,
        StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, true),
        StructField("width", IntegerType, true),
        StructField("height", IntegerType, true),
        StructField("channels", IntegerType, true),
        StructField("px", StringType, true)))
      val (w, h, colorType) = (4, 8, 2) // RGB
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .mapPartitions { rows =>
          val hexDigits = "0123456789abcdef"
          rows.map { r =>
            val txt = if (r.isNullAt(1)) null else r.getString(1)
            if (txt == null)
              org.apache.spark.sql.Row(r.get(0), null, null, null, null)
            else {
              val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val px = new Array[Byte](w * h * 3)
              System.arraycopy(bytes, 0, px, 0,
                math.min(bytes.length, px.length))
              val feats = Multimodal.PngDecoder.decode(
                Png.encode(w, h, colorType, px))
              val sb = new java.lang.StringBuilder(2 * (feats.length - 3))
              var i = 3
              while (i < feats.length) {
                val v = feats(i).toInt
                sb.append(hexDigits.charAt(v >> 4))
                  .append(hexDigits.charAt(v & 0xf))
                i += 1
              }
              org.apache.spark.sql.Row(r.get(0), feats(0).toInt,
                feats(1).toInt, feats(2).toInt, sb.toString)
            }
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .orderBy(col("doc_id"))
    }),

    // Audio through the multimodal path: text bytes become 32 LE PCM16
    // samples of a real RIFF/WAVE stream (64 bytes, zero-padded), the
    // stream is decoded back by the chunk-walking, header-validating
    // Wav codec, and the gate emits the RECONSTRUCTED little-endian
    // PCM bytes — which must equal the original text bytes, so the
    // oracle computes them from the text directly and any mis-walked
    // chunk, endianness slip, or alignment fault hash-fails.
    "mm04_wav_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, LongType,
        StringType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("doc_id", LongType, true),
        StructField("sample_rate", IntegerType, true),
        StructField("n_samples", IntegerType, true),
        StructField("pcm", StringType, true)))
      val nSamples = 32
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .mapPartitions { rows =>
          val hexDigits = "0123456789abcdef"
          rows.map { r =>
            val txt = if (r.isNullAt(1)) null else r.getString(1)
            if (txt == null)
              org.apache.spark.sql.Row(r.get(0), null, null, null)
            else {
              val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val pcm = new Array[Byte](nSamples * 2)
              System.arraycopy(bytes, 0, pcm, 0,
                math.min(bytes.length, pcm.length))
              val samples = Array.tabulate(nSamples) { i =>
                ((pcm(2 * i) & 0xff) | ((pcm(2 * i + 1) & 0xff) << 8)).toShort
              }
              val feats = Multimodal.WavDecoder.decode(
                Wav.encode(8000, samples))
              val back = feats.drop(2).map(_.toInt.toShort)
              val sb = new java.lang.StringBuilder(4 * back.length)
              back.foreach { v =>
                val lo = v & 0xff; val hi = (v >> 8) & 0xff
                sb.append(hexDigits.charAt(lo >> 4))
                  .append(hexDigits.charAt(lo & 0xf))
                  .append(hexDigits.charAt(hi >> 4))
                  .append(hexDigits.charAt(hi & 0xf))
              }
              org.apache.spark.sql.Row(r.get(0), feats(0).toInt,
                back.length, sb.toString)
            }
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .orderBy(col("doc_id"))
    })
  )

  /** The dp01 chain's CTE body (gate → exact dedup → near-dup pairs →
    * cluster losers) and the survivor predicate — shared by the
    * dp01/dp03/dp04 oracles and dp05's extension of the chain. */
  private val dp01ChainCtes: String = dp01ChainCtesFrom("documents")

  /** The dp01 survivor-chain CTEs over an arbitrary source CTE/table —
    * dp06 runs the identical chain over the benchmark-excluded corpus
    * split instead of the whole table. */
  private def dp01ChainCtesFrom(src: String): String = {
    val toks = "string_split(text, ' ')"
    val cp = graft.text.CorpusPipeline
    s"""gated AS (SELECT * FROM $src
          WHERE ${TextAnalysis.langIdSql(toks)} <> 'und'
            AND ${TextAnalysis.qualityScoreSql(toks)} >=
              ${cp.QualityFloor}),
        deduped AS (SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY md5(substring(text, 1,
              ${cp.FingerprintPrefixLen}))
            ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
        pairs AS (
          ${MinHashLSH.nearDupPairsSql("deduped", "doc_id", "text",
            threshold = cp.NearDupThreshold)}),
        ${Dedup.clusterLosersSql("pairs", "doc_a", "doc_b")}"""
  }

  /** The count-min heavy-hitter oracle (ts19/ts25): every probed
    * counter recomputed as a whole-corpus GROUP-BY-bucket sum —
    * counters are sums, so this equals any batch- or half-sliced
    * sketch assembly. */
  private val cmsHeavyOracleSql: String = {
    import graft.ops.CountMin
    val w = 1024
    val b0 = CountMin.bucketSql("tok", 0, w)
    val b1 = CountMin.bucketSql("tok", 1, w)
    s"""WITH toks AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok FROM documents),
        b AS (SELECT $b0 AS b0, $b1 AS b1 FROM toks),
        s0 AS (SELECT b0 AS b, COUNT(*) AS n FROM b GROUP BY b0),
        s1 AS (SELECT b1 AS b, COUNT(*) AS n FROM b GROUP BY b1),
        cand AS (SELECT tok, COUNT(*) AS exact_count FROM toks
          GROUP BY tok ORDER BY exact_count DESC, tok LIMIT 20),
        cb AS (SELECT tok, exact_count, $b0 AS b0, $b1 AS b1
          FROM cand)
        SELECT cb.tok, cb.exact_count, LEAST(s0.n, s1.n) AS est_count
        FROM cb JOIN s0 ON s0.b = cb.b0 JOIN s1 ON s1.b = cb.b1
        ORDER BY exact_count DESC, tok"""
  }

  private val dp01ClusterSurvivorCond: String =
    """NOT EXISTS (SELECT 1 FROM losers
          WHERE losers.id = deduped.doc_id)"""

  private val dp01SampleCond: String = {
    val cp = graft.text.CorpusPipeline
    s"""substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          (CASE WHEN lang = 'en' THEN '${cp.SampleBucketEn}'
            ELSE '${cp.SampleBucketOther}' END)"""
  }

  private val dp01SurvivorPredicate: String =
    s"$dp01ClusterSurvivorCond AND $dp01SampleCond"

  /** The dp01 chain's survivor set, with an optional extra exclusion
    * (`AND ...`) — the dp07 takedown gate removes a modular id slice
    * from the emitted corpus and replays the chain minus that slice. */
  private def dp01OracleWhere(extraCond: String): String = {
    val toks = "string_split(text, ' ')"
    s"""WITH RECURSIVE $dp01ChainCtes
        SELECT doc_id, lang,
          CAST(len($toks) AS INT) AS n_toks
        FROM deduped
        WHERE $dp01SurvivorPredicate$extraCond
        ORDER BY doc_id"""
  }

  private val dp01OracleSql: String = dp01OracleWhere("")

  /** Oracle builder for the residual IVF-PQ + refine family:
    * `queryWhere` restricts the query set (over `un.vec_id`), `k` the
    * emitted ranks, `nprobe` the probed cells, `refine` the code-rank
    * cut. The FIT knobs are parameters too — `numCells`/`coarseIters`/
    * `pqIters` and the geometry (dim via `vecExpr`, M x K via `geom`)
    * — and every gate passes them EXPLICITLY, mirroring the values it
    * hands the engine, so changing an engine default desynchronizes
    * nothing silently. ann16 instantiates the 5-query serving form;
    * ann18 the corpus-scale bulk-join form (every vector a query);
    * ann20 a non-default geometry (32-dim slices, M=8, K=16). */
  private def ivfPqRefineOracle(queryWhere: String, k: Int,
                                nprobe: Int, refine: Int,
                                numCells: Int = 16,
                                coarseIters: Int = 2, pqIters: Int = 2,
                                geom: Ann.Geom = Ann.DefaultGeom,
                                vecExpr: String = "embedding",
                                candCond: String = "",
                                metric: String = "cosine"): String = {
      def dt(a: String, b: String) = Ann.dotSql(a, b)
      val M = geom.pqM
      val sd = geom.subDim
      val K = geom.pqK
      def l2(s: String, c: String) =
        s"2.0 * ${dt(s, c + ".cv")} - ${dt(c + ".cv", c + ".cv")}"
      // coarse chain: kmeansCentroidsL2 over the FULL unit vector
      def coarseRound(i: Int): String = {
        val prev = s"cw${i - 1}"
        s"""ca$i AS (SELECT vec_id, u, cell FROM (
              SELECT un.vec_id, un.u, c.cell,
                row_number() OVER (PARTITION BY un.vec_id
                  ORDER BY ${l2("un.u", "c")} DESC, c.cell DESC) AS rn
              FROM un CROSS JOIN $prev c) WHERE rn = 1),
            cn$i AS (SELECT cell, CAST(pos AS INT) AS pos,
                CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE)
                  AS mm
              FROM (SELECT cell, CAST(unnest(u) AS DOUBLE) AS val,
                      unnest(generate_series(1, len(u))) - 1 AS pos
                    FROM ca$i)
              GROUP BY cell, pos),
            cg$i AS (SELECT cell, list(mm ORDER BY pos) AS cv
              FROM cn$i GROUP BY cell),
            cw$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
              FROM $prev p LEFT JOIN cg$i n USING (cell))"""
      }
      // fine chains: the ann13 pattern sourced from the RESIDUALS
      def chain(m: Int): String = {
        val lo = m * sd + 1
        val hi = (m + 1) * sd
        def round(i: Int): String = {
          val prev = s"c${m}_${i - 1}"
          s"""a${m}_$i AS (SELECT vec_id, s, cell FROM (
                SELECT sv.vec_id, sv.s, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN $prev c) WHERE rn = 1),
              n${m}_$i AS (SELECT cell, CAST(pos AS INT) AS pos,
                  CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE)
                    AS mm
                FROM (SELECT cell, CAST(unnest(s) AS DOUBLE) AS val,
                        unnest(generate_series(1, len(s))) - 1 AS pos
                      FROM a${m}_$i)
                GROUP BY cell, pos),
              g${m}_$i AS (SELECT cell, list(mm ORDER BY pos) AS cv
                FROM n${m}_$i GROUP BY cell),
              c${m}_$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
                FROM $prev p LEFT JOIN g${m}_$i n USING (cell))"""
        }
        s"""sv$m AS (SELECT vec_id, r[$lo:$hi] AS s FROM cres),
            c${m}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                  AS INT) - 1 AS cell, s AS cv
              FROM (SELECT vec_id, s FROM sv$m
                    ORDER BY vec_id LIMIT $K)),
            ${(1 to pqIters).map(round).mkString(",\n")},
            k$m AS (SELECT vec_id, cell FROM (
                SELECT sv.vec_id, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN c${m}_$pqIters c) WHERE rn = 1),
            p$m AS (SELECT cd.q_id, cd.vec_id,
                2.0 * ${dt(s"q.qs$m", "c.cv")} - ${dt("c.cv", "c.cv")}
                  AS sp
              FROM cand cd
              JOIN k$m kk ON kk.vec_id = cd.vec_id
              JOIN c${m}_$pqIters c ON kk.cell = c.cell
              JOIN qs q ON q.q_id = cd.q_id AND q.cell = cd.cell)"""
      }
      // the metric decides the vector frame the whole replay runs
      // over (unit-normalized for cosine, RAW for l2 — the residual
      // identity holds for both) and the refine stage's exact score
      val unCte =
        if (metric == "cosine")
          s"""vn AS (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS nrm
                FROM v),
              un AS (SELECT vec_id, CASE WHEN nrm = 0 THEN v
                  ELSE list_transform(v, x -> x / nrm) END AS u
                FROM vn)"""
        else "un AS (SELECT vec_id, v AS u FROM v)"
      val refineExpr =
        if (metric == "cosine") dt("qu.u", "du.u")
        else s"""-((${dt("qu.u", "qu.u")} + ${dt("du.u", "du.u")})
              - 2.0 * ${dt("qu.u", "du.u")})"""
      s"""WITH v AS (SELECT vec_id,
            list_transform($vecExpr, x -> x::DOUBLE) AS v
            FROM embeddings),
          $unCte,
          cw0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                AS INT) - 1 AS cell, u AS cv
            FROM (SELECT vec_id, u FROM un
                  ORDER BY vec_id LIMIT $numCells)),
          ${(1 to coarseIters).map(coarseRound).mkString(",\n")},
          casg AS (SELECT vec_id, cell FROM (
            SELECT un.vec_id, c.cell,
              row_number() OVER (PARTITION BY un.vec_id
                ORDER BY ${l2("un.u", "c")} DESC, c.cell DESC) AS rn
            FROM un CROSS JOIN cw$coarseIters c) WHERE rn = 1),
          cres AS (SELECT a.vec_id, a.cell,
              list_transform(list_zip(un.u, c.cv), s -> s[1] - s[2])
                AS r
            FROM casg a JOIN un USING (vec_id)
            JOIN cw$coarseIters c ON a.cell = c.cell),
          qp AS (SELECT vec_id AS q_id, cell FROM (
            SELECT un.vec_id, c.cell,
              row_number() OVER (PARTITION BY un.vec_id
                ORDER BY ${l2("un.u", "c")} DESC, c.cell DESC) AS rn
            FROM un CROSS JOIN cw$coarseIters c $queryWhere)
            WHERE rn <= $nprobe),
          qres AS (SELECT qp.q_id, qp.cell,
              list_transform(list_zip(un.u, c.cv), s -> s[1] - s[2])
                AS qr
            FROM qp JOIN un ON un.vec_id = qp.q_id
            JOIN cw$coarseIters c ON qp.cell = c.cell),
          qsl AS (SELECT q_id, cell,
              ${(0 until M).map(m =>
                s"qr[${m * sd + 1}:${(m + 1) * sd}] AS qs$m")
                .mkString(", ")}
            FROM qres),
          qs AS (SELECT q_id, cell,
              ${(0 until M).map(m => s"qs$m").mkString(", ")},
              ${(0 until M).map(m => dt(s"qs$m", s"qs$m"))
                .mkString(" + ")} AS qq
            FROM qsl),
          cand AS (SELECT q.q_id, cr.vec_id, q.cell, q.qq
            FROM qs q JOIN cres cr USING (cell)
            WHERE cr.vec_id <> q.q_id$candCond),
          ${(0 until M).map(chain).mkString(",\n")},
          scored AS (SELECT cd.q_id, cd.vec_id,
              ${(0 until M).map(m => s"p$m.sp").mkString(" + ")}
                - cd.qq AS score
            FROM cand cd
              ${(0 until M).map(m => s"JOIN p$m USING (q_id, vec_id)")
                .mkString("\n              ")}),
          topr AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
              row_number() OVER (PARTITION BY q_id
                ORDER BY score DESC, vec_id ASC) AS crn
            FROM scored) WHERE crn <= $refine),
          refined AS (SELECT t.q_id, t.vec_id,
              $refineExpr AS score
            FROM topr t JOIN un qu ON qu.vec_id = t.q_id
            JOIN un du ON du.vec_id = t.vec_id),
          ranked AS (SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id ASC) AS INT) AS rank
            FROM refined)
        SELECT q_id, rank, vec_id, score FROM ranked
        WHERE rank <= $k ORDER BY q_id, rank"""
  }

  /** The serving composition's batch-1 cut as a scalar subquery (the
    * dp06/dp12 gates' `cut1` over the benchmark-excluded split). */
  private val servingCutSql: String =
    """(SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id))
        // 3 FROM documents WHERE doc_id % 97 <> 0)"""

  /** The dp06 serving-composition oracle — the dp01 chain over the
    * benchmark-excluded corpus split, ann11's SQ8 quantization as the
    * decon hit list, the given per-doc ENCODE replay (az for dp06,
    * byte-level for dp12 — an embedded subquery emitting
    * (doc_id, n_sub)), and ts11's running-sum chunk formula. */
  private def servingOracleSql(encodeSubSql: String): String = {
    def idot(a: String, b: String) =
      s"list_aggregate(list_transform(list_zip($a, $b), " +
        s"s -> s[1] * s[2]), 'sum')"
    s"""WITH RECURSIVE corpus AS (
          SELECT * FROM documents WHERE doc_id % 97 <> 0),
        ${dp01ChainCtesFrom("corpus")},
        surv0 AS (SELECT doc_id, lang, text,
            CAST(len(string_split(text, ' ')) AS INT) AS n_toks
          FROM deduped WHERE $dp01SurvivorPredicate),
        v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        mq AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS m FROM v),
        qz AS (SELECT vec_id,
          CASE WHEN m = 0
            THEN list_transform(v, x -> CAST(0 AS BIGINT))
            ELSE list_transform(v,
              x -> CAST(FLOOR(x * 127.0 / m + 0.5) AS BIGINT)) END AS q
          FROM mq),
        qn AS (SELECT vec_id, q, ${idot("q", "q")} AS qq FROM qz),
        eq AS (SELECT vec_id, q, qq FROM qn WHERE vec_id % 97 = 0),
        cq AS (SELECT vec_id, q, qq FROM qn WHERE vec_id % 97 <> 0),
        bad AS (SELECT DISTINCT c.vec_id FROM cq c JOIN eq e ON TRUE
          WHERE (CASE WHEN c.qq = 0 OR e.qq = 0 THEN 0.0
            ELSE CAST(${idot("e.q", "c.q")} AS DOUBLE)
              / (sqrt(CAST(c.qq AS DOUBLE))
                 * sqrt(CAST(e.qq AS DOUBLE))) END)
            >= (460::DOUBLE / 1024::DOUBLE)),
        enc AS (SELECT doc_id, n_sub FROM (
          $encodeSubSql)),
        sv AS (SELECT s.doc_id, s.lang, s.n_toks, e.n_sub
          FROM surv0 s JOIN enc e USING (doc_id)
          WHERE NOT EXISTS (SELECT 1 FROM bad
            WHERE bad.vec_id = s.doc_id)),
        chunked AS (SELECT doc_id, lang, n_toks, n_sub,
            CAST((SUM(n_sub) OVER (ORDER BY doc_id ASC
                ROWS UNBOUNDED PRECEDING) - n_sub) // 8000
              AS BIGINT) AS chunk
          FROM sv)
        SELECT doc_id, lang, n_toks, n_sub, chunk FROM chunked
        ORDER BY doc_id"""
  }

  /** The dp08 trainer-handoff oracle, parameterized on a post-chunking
    * exclusion (`WHERE ...` against alias `c` in the text join) so the
    * purge gate (dp09) replays the identical chunk assignment with the
    * purged docs excluded from the final per-shard aggregation only.
    * Empty condition = the dp08 text. */
  private def dp08OracleSql(postCond: String = "",
                            chunkTokens: Long = 500L): String = {
    val toks = "string_split(text, ' ')"
    val fold = """(list_reduce(list_transform(
        string_split_regex(substr(md5(text), 1, 15), ''),
        c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                  ELSE ascii(c) - 87 END AS BIGINT)),
        (a, b) -> a * 16 + b))"""
    s"""WITH RECURSIVE $dp01ChainCtes,
        surv AS (SELECT doc_id, lang, text FROM deduped
          WHERE $dp01SurvivorPredicate),
        scored AS (SELECT doc_id AS id, lang,
            CAST(len($toks) AS BIGINT) AS n_toks,
            ${TextAnalysis.qualityScoreSql(toks)} AS q
          FROM surv),
        cum AS (SELECT id, lang, n_toks,
            SUM(n_toks) OVER (PARTITION BY lang
              ORDER BY q DESC, id ASC
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM scored),
        kept AS (SELECT id, lang, n_toks FROM cum WHERE cum <= 200000),
        chunked AS (SELECT id,
            CAST((SUM(n_toks) OVER (ORDER BY id ASC
                ROWS UNBOUNDED PRECEDING) - n_toks) // $chunkTokens
              AS BIGINT) AS chunk
          FROM kept),
        jt AS (SELECT c.chunk, d.text FROM chunked c
          JOIN documents d ON d.doc_id = c.id$postCond)
        SELECT chunk, COUNT(*) AS n_docs,
          CAST(SUM($fold % 1000000007) AS BIGINT) AS content_sum
        FROM jt GROUP BY chunk ORDER BY chunk"""
  }

  /** The ann05 trained-IVF oracle (two deterministic spherical-k-means
    * rounds, cell-pruned cosine probe), parameterized on an extra
    * candidate-side predicate (`AND ...` against alias `a`) so the
    * filtered-search gate (ann25) replays the identical FULL-corpus
    * fit with the restriction on its candidate set only — the
    * pre-filter contract. Empty condition = the ann05/ann08/ann10
    * text. */
  /** The ann01 exact-cosine top-10 replay — also the "exact" side of
    * the ann29 recall report. */
  private def bruteTopKOracleSql: String = {
    val cos = Ann.cosineSql("q.v", "d.v")
    s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v FROM v WHERE q_id < 5),
        scored AS (SELECT q.q_id, d.vec_id, $cos AS cos
          FROM q JOIN v d ON d.vec_id <> q.q_id),
        ranked AS (SELECT q_id, vec_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM scored)
      SELECT q_id, rank, vec_id, cos FROM ranked
      WHERE rank <= 10 ORDER BY q_id, rank"""
  }

  private def ivfKmeansOracle(candCond: String = ""): String = {
    def dt(a: String, b: String) = Ann.dotSql(a, b)
    // one Lloyd round: argmax-cosine assignment against cent{i-1}
    // (ties to the larger cell, like array_max over (cos, cell)),
    // then the integer-cents element-wise mean; empty cells keep
    // their previous centroid
    def round(i: Int): String = {
      val prev = s"cent${i - 1}"
      s"""asg$i AS (SELECT vec_id, v, nrm, cell FROM (
            SELECT vn.vec_id, vn.v, vn.nrm, c.cell,
              row_number() OVER (PARTITION BY vn.vec_id
                ORDER BY ${dt("vn.v", "c.cv")} / (vn.nrm * c.cnrm)
                  DESC, c.cell DESC) AS rn
            FROM vn CROSS JOIN $prev c) WHERE rn = 1),
          mean$i AS (SELECT cell, CAST(pos AS INT) AS pos,
              CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE) AS m
            FROM (SELECT cell, CAST(unnest(v) AS DOUBLE) AS val,
                    unnest(generate_series(1, len(v))) - 1 AS pos
                  FROM asg$i)
            GROUP BY cell, pos),
          cm$i AS (SELECT cell, list(m ORDER BY pos) AS cv
            FROM mean$i GROUP BY cell),
          cent$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv,
              CASE WHEN n.cv IS NULL THEN p.cnrm
                   ELSE sqrt(${dt("n.cv", "n.cv")}) END AS cnrm
            FROM $prev p LEFT JOIN cm$i n USING (cell))"""
    }
    s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        vn AS (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS nrm FROM v),
        cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
            - 1 AS cell, v AS cv, nrm AS cnrm
          FROM vn ORDER BY vec_id LIMIT 16),
        ${round(1)},
        ${round(2)},
        asg AS (SELECT vec_id, v, nrm, cell FROM (
          SELECT vn.vec_id, vn.v, vn.nrm, cent2.cell,
            row_number() OVER (PARTITION BY vn.vec_id
              ORDER BY ${dt("vn.v", "cent2.cv")} / (vn.nrm * cent2.cnrm)
                DESC, cent2.cell DESC) AS rn
          FROM vn CROSS JOIN cent2) WHERE rn = 1),
        qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell FROM (
          SELECT vn.vec_id, vn.v, vn.nrm, cent2.cell,
            row_number() OVER (PARTITION BY vn.vec_id
              ORDER BY ${dt("vn.v", "cent2.cv")} / (vn.nrm * cent2.cnrm)
                DESC, cent2.cell DESC) AS rn
          FROM vn CROSS JOIN cent2 WHERE vn.vec_id < 5) WHERE rn <= 2),
        cand AS (SELECT qp.q_id, a.vec_id,
            ${dt("qp.qv", "a.v")} / (qp.qnrm * a.nrm) AS cos
          FROM qp JOIN asg a USING (cell)
          WHERE a.vec_id <> qp.q_id$candCond),
        ranked AS (SELECT q_id, vec_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM cand)
      SELECT q_id, rank, vec_id, cos FROM ranked
      WHERE rank <= 10 ORDER BY q_id, rank"""
  }

  /** The ann11 SQ8 brute-force oracle, parameterized on an extra
    * corpus-side predicate (`AND ...` against alias `d`) so the
    * delete gate (ann21) replays the same arithmetic over the LIVE
    * subset, and on the scoring `metric` (round 16 — cosine | ip |
    * l2, replaying [[graft.ann.Ann.sq8Score]]'s fixed association
    * over the same integer dots and stored scales). Empty condition +
    * cosine = the ann11/ann12/ann19 text. */
  private def sq8TopKOracleSql(corpusCond: String = "",
                               metric: String = "cosine"): String = {
    def idot(a: String, b: String) =
      s"list_aggregate(list_transform(list_zip($a, $b), " +
        s"s -> s[1] * s[2]), 'sum')"
    val dot = s"CAST(${idot("qs.qa", "d.q")} AS DOUBLE)"
    val (scoreExpr, scoreName) = metric match {
      case "cosine" => (
        s"""CASE WHEN d.qq = 0 OR qs.qqa = 0 THEN 0.0
              ELSE $dot
                / (sqrt(CAST(d.qq AS DOUBLE)) *
                   sqrt(CAST(qs.qqa AS DOUBLE))) END""", "qcos")
      case "ip" => (
        s"($dot * (d.m * qs.ma)) / 16129.0", "score")
      case "l2" => (
        s"""-((CAST(d.qq AS DOUBLE) * (d.m * d.m)
              + CAST(qs.qqa AS DOUBLE) * (qs.ma * qs.ma))
            - $dot * (2.0 * (d.m * qs.ma))) / 16129.0""", "score")
    }
    s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        mq AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) AS m FROM v),
        qz AS (SELECT vec_id, m,
          CASE WHEN m = 0
            THEN list_transform(v, x -> CAST(0 AS BIGINT))
            ELSE list_transform(v,
              x -> CAST(FLOOR(x * 127.0 / m + 0.5) AS BIGINT)) END AS q
          FROM mq),
        qn AS (SELECT vec_id, q, ${idot("q", "q")} AS qq, m FROM qz),
        qs AS (SELECT vec_id AS q_id, q AS qa, qq AS qqa, m AS ma
          FROM qn WHERE vec_id < 5),
        scored AS (SELECT qs.q_id, d.vec_id,
            $scoreExpr AS $scoreName
          FROM qs JOIN qn d ON d.vec_id <> qs.q_id$corpusCond),
        ranked AS (SELECT q_id, vec_id, $scoreName,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY $scoreName DESC, vec_id ASC) AS INT) AS rank
          FROM scored)
      SELECT q_id, rank, vec_id, $scoreName FROM ranked
      WHERE rank <= 10 ORDER BY q_id, rank"""
  }

  private val oracleBase: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT *, row_number() OVER (
             PARTITION BY md5(substring(text, 1, 60))
             ORDER BY doc_id) AS rn FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",
    "dd02_ngram_jaccard" ->
      JaccardJoin.selfJoinWordsSql("documents", "doc_id", "text"),
    // dd16: the naive quadratic replay of the containment rule —
    // integer threshold compare, division only in the emitted ratio
    "dd16_containment" ->
      s"""WITH th AS (SELECT doc_id AS id,
            ${TextHash.tokenHashesSql("text")} AS th FROM documents),
          s AS (SELECT id, ${TextHash.wordShingleHashesSql("th", 5)}
            AS sh FROM th),
          ne AS (SELECT id, sh FROM s WHERE len(sh) > 0)
          SELECT a.id AS inner_id, b.id AS outer_id,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(a.sh) AS DOUBLE) AS containment
          FROM ne a JOIN ne b ON a.id <> b.id
          WHERE 10 * len(list_intersect(a.sh, b.sh)) >= 8 * len(a.sh)
          ORDER BY inner_id, outer_id""",
    "dd03_minhash_lsh" ->
      MinHashLSH.nearDupPairsSql("documents", "doc_id", "text"),
    "dd04_simhash" ->
      SimHash.nearDupPairsSql("documents", "doc_id", "text"),
    "dd07_cluster_dedup" ->
      s"""WITH RECURSIVE pairs AS (
            ${MinHashLSH.nearDupPairsSql("documents", "doc_id", "text")}),
          ${Dedup.clusterLosersSql("pairs", "doc_a", "doc_b")}
          SELECT doc_id, lang, n_chars FROM documents
          WHERE NOT EXISTS (SELECT 1 FROM losers
            WHERE losers.id = documents.doc_id)
          ORDER BY doc_id""",
    "dd13_leakage_split" ->
      s"""WITH RECURSIVE pairs AS (
            ${MinHashLSH.nearDupPairsSql("documents", "doc_id", "text")}),
          ${Dedup.clusterLabelsSql("pairs", "doc_a", "doc_b")}
          SELECT doc_id, COALESCE(l.label, doc_id) AS cluster,
            CASE WHEN substring(md5(
                CAST(COALESCE(l.label, doc_id) AS VARCHAR)), 1, 2)
              < '29' THEN 'eval' ELSE 'train' END AS split
          FROM documents LEFT JOIN clabels l ON l.id = documents.doc_id
          ORDER BY doc_id""",
    "dd08_decontaminate" ->
      s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
          corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
          bth AS (SELECT ${TextHash.tokenHashesSql("text")} AS th
            FROM bench),
          bsh AS (SELECT ${TextHash.wordShingleHashesSql("th", 5)} AS sh
            FROM bth),
          bg AS (SELECT DISTINCT unnest(sh) AS g FROM bsh),
          cth AS (SELECT doc_id, ${TextHash.tokenHashesSql("text")} AS th
            FROM corpus),
          csh AS (SELECT doc_id,
            ${TextHash.wordShingleHashesSql("th", 5)} AS sh FROM cth),
          cg AS (SELECT doc_id, unnest(sh) AS g FROM csh),
          bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g))
          SELECT doc_id, lang, n_chars FROM corpus
          WHERE NOT EXISTS (SELECT 1 FROM bad
            WHERE bad.doc_id = corpus.doc_id)
          ORDER BY doc_id""",
    // dd15: every Bloom bit, probe and the all-d-bits rule replayed —
    // the bit positions are the CountMin depth-salted md5 buckets over
    // the gram hash rendered as VARCHAR
    "dd15_bloom_decon" -> {
      import graft.ops.CountMin
      val m = 262144
      def b(r: Int) = CountMin.bucketSql("CAST(g AS VARCHAR)", r, m)
      s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
          corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
          bth AS (SELECT ${TextHash.tokenHashesSql("text")} AS th
            FROM bench),
          bsh AS (SELECT ${TextHash.wordShingleHashesSql("th", 5)} AS sh
            FROM bth),
          bg AS (SELECT DISTINCT unnest(sh) AS g FROM bsh),
          bits AS (SELECT DISTINCT pos FROM (
            SELECT ${b(0)} AS pos FROM bg
            UNION ALL SELECT ${b(1)} FROM bg
            UNION ALL SELECT ${b(2)} FROM bg)),
          cth AS (SELECT doc_id, ${TextHash.tokenHashesSql("text")} AS th
            FROM corpus),
          csh AS (SELECT doc_id,
            ${TextHash.wordShingleHashesSql("th", 5)} AS sh FROM cth),
          cg AS (SELECT doc_id, unnest(list_distinct(sh)) AS g
            FROM csh),
          probes AS (
            SELECT doc_id, g, ${b(0)} AS pos FROM cg
            UNION ALL SELECT doc_id, g, ${b(1)} FROM cg
            UNION ALL SELECT doc_id, g, ${b(2)} FROM cg),
          bad AS (SELECT DISTINCT doc_id FROM (
            SELECT doc_id, g FROM probes
            WHERE pos IN (SELECT pos FROM bits)
            GROUP BY doc_id, g HAVING COUNT(*) = 3))
          SELECT doc_id, lang, n_chars FROM corpus
          WHERE NOT EXISTS (SELECT 1 FROM bad
            WHERE bad.doc_id = corpus.doc_id)
          ORDER BY doc_id"""
    },
    "dd14_decon_provenance" ->
      s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
          corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
          bth AS (SELECT doc_id AS bench_id,
            ${TextHash.tokenHashesSql("text")} AS th FROM bench),
          bsh AS (SELECT bench_id,
            ${TextHash.wordShingleHashesSql("th", 5)} AS sh FROM bth),
          bg AS (SELECT DISTINCT bench_id, unnest(sh) AS g FROM bsh),
          cth AS (SELECT doc_id, ${TextHash.tokenHashesSql("text")} AS th
            FROM corpus),
          csh AS (SELECT doc_id,
            ${TextHash.wordShingleHashesSql("th", 5)} AS sh FROM cth),
          cg AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM csh)
          SELECT cg.doc_id, bg.bench_id,
            CAST(COUNT(*) AS BIGINT) AS shared_grams
          FROM cg JOIN bg USING (g)
          GROUP BY cg.doc_id, bg.bench_id
          ORDER BY cg.doc_id, bg.bench_id""",
    "dd09_span_stats" ->
      SpanDedup.spanStatsSql("documents", "doc_id", "text", 5),
    "dd11_span_strip" ->
      SpanDedup.stripDuplicatedSpansSql("documents", "doc_id", "text", 5),
    "ts09_tfidf_terms" ->
      TextAnalysis.tfidfTopTermsSql("documents", "doc_id", "text", 3),
    "ts10_token_budget" -> {
      val toks = "string_split(text, ' ')"
      graft.text.Mixture.tokenBudgetSampleSql("documents", "doc_id",
        "lang", s"len($toks)", TextAnalysis.qualityScoreSql(toks), 25000L)
    },
    "ts11_token_chunks" ->
      graft.text.Packing.tokenChunksSql("documents", "doc_id",
        "len(string_split(text, ' '))", 10000L),
    "ts22_temperature_mix" ->
      graft.text.Mixture.temperatureWeightsSql("documents", "lang",
        "len(string_split(text, ' '))", 100000L),
    "ts23_quality_tiles" ->
      graft.text.Mixture.qualityTilesSql("documents", "doc_id",
        TextAnalysis.qualityScoreSql("string_split(text, ' ')"), 4),
    // priority = n_chars / (hex(md5[0:8]) + 1): the hex fold builds
    // the identical integer Spark's conv() derives, and the single
    // double division is IEEE-deterministic — same top-150 both sides
    "ts12_weighted_sample" -> {
      val u = """(list_reduce(list_transform(
          string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
            ''),
          c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                    ELSE ascii(c) - 87 END AS BIGINT)),
          (a, b) -> a * 16 + b) + 1)"""
      s"""SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
              CAST(n_chars AS DOUBLE) / CAST($u AS DOUBLE) AS prio
            FROM documents ORDER BY prio DESC, doc_id LIMIT 150)
          ORDER BY doc_id"""
    },
    "ts13_bigram_fluency" -> {
      val toks = "string_split(text, ' ')"
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          b AS (SELECT doc_id,
            ${TextAnalysis.bigramsSql("toks")} AS bgs FROM t),
          i AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
          p AS (SELECT bg, COUNT(*) AS c12 FROM i GROUP BY bg),
          cx AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
            FROM p GROUP BY 1),
          m AS (SELECT p.bg,
              CAST(FLOOR(1000000.0 * CAST(p.c12 AS DOUBLE)
                / CAST(cx.c1 AS DOUBLE) + 0.5) AS BIGINT) AS p6
            FROM p JOIN cx ON split_part(p.bg, ' ', 1) = cx.w1),
          d AS (SELECT i.doc_id, SUM(m.p6) AS fl6, COUNT(*) AS nb
            FROM i JOIN m USING (bg) GROUP BY i.doc_id)
          SELECT t.doc_id AS id, CAST(COALESCE(d.nb, 0) AS INT)
              AS n_bigrams,
            CAST(d.fl6 AS DOUBLE) / 1000000.0 / CAST(d.nb AS DOUBLE)
              AS fluency
          FROM t LEFT JOIN d USING (doc_id) ORDER BY t.doc_id"""
    },
    "ts08_pii_redact" -> {
      val synth = """substring(text, 1, 40) || ' contact user' ||
        CAST(doc_id AS VARCHAR) || '@mail.example.com ip 10.0.' ||
        CAST(doc_id % 256 AS VARCHAR) || '.7 call +331' ||
        CAST(doc_id % 100 AS VARCHAR) || '5512 done'"""
      s"""SELECT doc_id, ${TextAnalysis.piiRedactSql(s"($synth)")}
            AS redacted
          FROM documents ORDER BY doc_id"""
    },
    "ts14_bpe_vocab" -> graft.text.Bpe.vocabSql(),
    "ts15_bpe_encode" -> graft.text.Bpe.encodeSql(),
    // trains on the even-doc_id half, encodes the whole corpus — the
    // BpeIndex persisted-artifact lifecycle replayed
    "ts18_bpe_index" -> graft.text.Bpe.encodeSql(
      trainWhere = "WHERE doc_id % 2 = 0"),
    // byte-level merges replayed over the derived unicode corpus —
    // hex-pair symbols keep every CTE stage pure-ASCII
    "ts20_bbpe_vocab" -> graft.text.Bpe.byteVocabSql(src = uniSrcSql),
    "ts21_bbpe_encode" -> graft.text.Bpe.byteEncodeSql(src = uniSrcSql),
    // hex fold builds the identical 60-bit integer Spark's conv()
    // derives (the ts12 pattern, 15 hex chars); (k-1)·2^60 is an exact
    // double product, so the one division is the only rounding step
    "ts16_kmv_distinct" -> {
      val fold = """(list_reduce(list_transform(
          string_split_regex(substr(md5(CAST(g AS VARCHAR)), 1, 15), ''),
          c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                    ELSE ascii(c) - 87 END AS BIGINT)),
          (a, b) -> a * 16 + b))"""
      s"""WITH th AS (SELECT ${TextHash.tokenHashesSql("text")} AS th
            FROM documents),
          g AS (SELECT unnest(${TextHash.wordShingleHashesSql("th", 3)})
            AS g FROM th),
          u AS (SELECT DISTINCT $fold AS u FROM g),
          sk AS (SELECT MAX(u) AS kth_u, CAST(COUNT(*) AS INT) AS k
            FROM (SELECT u FROM u ORDER BY u LIMIT 256)),
          e AS (SELECT COUNT(*) AS exact_distinct FROM u)
          SELECT k, kth_u,
            CAST(k - 1 AS DOUBLE) * 1152921504606846976.0
              / CAST(kth_u AS DOUBLE) AS est_distinct,
            exact_distinct
          FROM sk CROSS JOIN e"""
    },
    // Grouped KMV: the oracle sketches the WHOLE corpus per group
    // directly (distinct rehash, k smallest per lang) — matching the
    // gate's sketch-halves-then-merge result proves the merge lossless.
    "ts17_kmv_grouped" -> {
      val fold = """(list_reduce(list_transform(
          string_split_regex(substr(md5(CAST(g AS VARCHAR)), 1, 15), ''),
          c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                    ELSE ascii(c) - 87 END AS BIGINT)),
          (a, b) -> a * 16 + b))"""
      s"""WITH th AS (SELECT doc_id, lang,
            ${TextHash.tokenHashesSql("text")} AS th FROM documents),
          g AS (SELECT lang,
            unnest(${TextHash.wordShingleHashesSql("th", 3)}) AS g
            FROM th),
          u AS (SELECT DISTINCT lang, $fold AS u FROM g),
          r AS (SELECT lang, u,
            row_number() OVER (PARTITION BY lang ORDER BY u) AS rn
            FROM u),
          sk AS (SELECT lang, CAST(COUNT(*) AS INT) AS k,
            MAX(u) AS kth_u FROM r WHERE rn <= 128 GROUP BY lang),
          e AS (SELECT lang, COUNT(*) AS exact_distinct FROM u
            GROUP BY lang)
          SELECT sk.lang, k, kth_u,
            CASE WHEN k < 128 THEN CAST(k AS DOUBLE)
                 ELSE CAST(k - 1 AS DOUBLE) * 1152921504606846976.0
                   / CAST(kth_u AS DOUBLE) END AS est_distinct,
            exact_distinct
          FROM sk JOIN e USING (lang) ORDER BY lang"""
    },
    // Count-min: the oracle computes each probed counter DIRECTLY as a
    // whole-corpus bucket sum (counters are sums, so this equals the
    // gate's merged half-sketches — the lossless-merge proof), then
    // takes the per-token minimum across the d rows.
    "ts19_cms_heavy" -> cmsHeavyOracleSql,
    // ts25 streams the SAME sketch as batch-sliced state: counters are
    // sums, so the streamed-and-compacted sketch equals the
    // whole-corpus one — ts19's oracle verbatim
    "ts25_cms_stream" -> cmsHeavyOracleSql,
    // HLL: the oracle derives every register from the WHOLE corpus
    // (registers merge by max, so this equals the gate's merged
    // half-sketches — the lossless-merge proof) and replays the
    // estimator arithmetic literally (integer 2^(cap-r) fold, one
    // division).
    "ts24_hll_distinct" -> {
      import graft.ops.Hll
      val m = 64
      val (bkt, rho) = Hll.registerSql("gram", m)
      val (nb, est) = Hll.estimateSql(m)
      s"""WITH b AS (SELECT lang, string_split(text, ' ') AS toks
            FROM documents),
          grams AS (SELECT lang,
            unnest(${TextAnalysis.bigramsSql("toks")}) AS gram FROM b),
          regs AS (SELECT lang, $bkt AS bucket, MAX($rho) AS r
            FROM grams GROUP BY lang, bucket),
          e AS (SELECT lang, $nb AS n_buckets, $est AS est_distinct
            FROM regs GROUP BY lang),
          ex AS (SELECT lang,
            CAST(COUNT(DISTINCT gram) AS BIGINT) AS exact_distinct
            FROM grams GROUP BY lang)
          SELECT lang, n_buckets, est_distinct, exact_distinct
          FROM e JOIN ex USING (lang) ORDER BY lang"""
    },
    "ts01_langid" -> {
      val toks = "string_split(text, ' ')"
      s"""SELECT doc_id,
          ${TextAnalysis.markerCountSql(toks, "en")} AS n_en,
          ${TextAnalysis.markerCountSql(toks, "fr")} AS n_fr,
          ${TextAnalysis.langIdSql(toks)} AS detected
          FROM documents ORDER BY doc_id"""
    },
    "ts02_quality" -> {
      val toks = "string_split(text, ' ')"
      s"""SELECT doc_id, CAST(len($toks) AS INT) AS n_tokens,
          ${TextAnalysis.qualityScoreSql(toks)} AS quality
          FROM documents ORDER BY doc_id"""
    },
    "ts03_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
         CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_words,
         CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INT)
           AS n_subwords
         FROM documents ORDER BY doc_id""",
    "ts05_repetition" -> {
      val toks = "string_split(text, ' ')"
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
          g AS (SELECT doc_id, toks, ${TextAnalysis.bigramsSql("toks")} AS bg
            FROM b),
          m AS (SELECT doc_id, toks,
            ${TextAnalysis.modeCountSql("bg")} AS topn FROM g)
          SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
            (1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) AS dup_tok_frac,
            CAST(topn AS INT) AS top_bigram_n,
            (CAST(topn AS DOUBLE) * 2.0 / CAST(len(toks) AS DOUBLE))
              AS top_bigram_frac
          FROM m ORDER BY doc_id"""
    },
    "dp01_corpus_pipeline" -> dp01OracleSql,
    // the takedown-republish audit: the dp01 survivor set intersected
    // with the removed slice, every row op='removed' (v2 = v1 minus a
    // filter, so adds/changes are impossible — a diff that invented
    // one breaks the hash)
    "dp13_corpus_snapshots" ->
      s"""WITH RECURSIVE $dp01ChainCtes
          SELECT doc_id, 'removed' AS op FROM deduped
          WHERE $dp01SurvivorPredicate AND doc_id % 31 = 5
          ORDER BY doc_id""",
    "dp14_datasheet" ->
      graft.text.CorpusPipeline.datasheetSql("documents"),
    // the funnel's stage counts replay off the SAME chain CTEs dp01
    // gates on; dropped = the lag over the 5-row funnel
    "dp15_funnel" ->
      s"""WITH RECURSIVE $dp01ChainCtes,
          survivors AS (SELECT deduped.* FROM deduped
            WHERE $dp01ClusterSurvivorCond),
          counts AS (
            SELECT 0 AS stage_ord, 'raw' AS stage,
              (SELECT COUNT(*) FROM documents) AS n_docs
            UNION ALL SELECT 1, 'gated', (SELECT COUNT(*) FROM gated)
            UNION ALL SELECT 2, 'exact_dedup',
              (SELECT COUNT(*) FROM deduped)
            UNION ALL SELECT 3, 'neardup_cluster',
              (SELECT COUNT(*) FROM survivors)
            UNION ALL SELECT 4, 'sampled',
              (SELECT COUNT(*) FROM survivors WHERE $dp01SampleCond))
          SELECT stage_ord, stage, n_docs,
            COALESCE(lag(n_docs) OVER (ORDER BY stage_ord) - n_docs,
              0) AS dropped
          FROM counts ORDER BY stage_ord""",
    // dp03 is oracle-equal to dp01 BY DESIGN: ascending-id batches
    // through the incremental pipeline reproduce the batch chain's
    // global keep-smallest-id semantics (the StreamingSpec equality),
    // so the same recursive-CTE oracle gates the streaming path
    "dp03_incremental_corpus" -> dp01OracleSql,
    // the dp01 survivor set minus the takedown slice — removeDocs
    // rewrites output only; suppressed near-dupes stay suppressed
    "dp07_takedown" -> dp01OracleWhere(" AND NOT (doc_id % 10 = 3)"),
    // dp10 = the dp01 chain minus the two in-stream-deleted slices;
    // the gate's batch cuts replay as scalar min/max subqueries (the
    // same integer-division thirds the gate computes)
    "dp10_stream_takedown" -> dp01OracleWhere(
      """ AND NOT (doc_id <= (SELECT MIN(doc_id)
            + (MAX(doc_id) - MIN(doc_id)) // 3 FROM documents)
          AND doc_id % 9 = 4)
        AND NOT (doc_id <= (SELECT MIN(doc_id)
            + 2 * ((MAX(doc_id) - MIN(doc_id)) // 3) FROM documents)
          AND doc_id % 9 = 7)"""),
    // dp04 = dp03 with every batch rolling to a fresh output epoch;
    // the roll is pure storage layout, so the oracle is unchanged
    "dp04_epoch_roll" -> dp01OracleSql,
    // dp06 = the dp01 chain over the benchmark-excluded corpus split,
    // ann11's SQ8 quantization as the decon hit list, ts18's
    // train-once/encode-everything BPE replay (embedded subquery),
    // and ts11's running-sum chunk formula — the whole serving
    // composition replayed
    "dp06_serving_pipeline" -> servingOracleSql(
      graft.text.Bpe.encodeSql(trainWhere =
        s"WHERE doc_id % 97 <> 0 AND doc_id <= $servingCutSql")),
    // dp12 = the identical composition with the encode stages swapped
    // to the BYTE alphabet's CTEs (same train-slice restriction)
    "dp12_serving_bytes" -> servingOracleSql(
      graft.text.Bpe.byteEncodeSql(trainWhere =
        s"WHERE doc_id % 97 <> 0 AND doc_id <= $servingCutSql")),
    // dp05 = the dp01 chain + ts10's one-window mixture reference +
    // ts11's one-window chunking reference, composed
    "dp05_training_shards" -> {
      val toks = "string_split(text, ' ')"
      s"""WITH RECURSIVE $dp01ChainCtes,
          surv AS (SELECT doc_id, lang, text FROM deduped
            WHERE $dp01SurvivorPredicate),
          scored AS (SELECT doc_id AS id, lang,
              CAST(len($toks) AS BIGINT) AS n_toks,
              ${TextAnalysis.qualityScoreSql(toks)} AS q
            FROM surv),
          cum AS (SELECT id, lang, n_toks,
              SUM(n_toks) OVER (PARTITION BY lang
                ORDER BY q DESC, id ASC
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM scored),
          kept AS (SELECT id, lang, n_toks FROM cum WHERE cum <= 20000),
          chunked AS (SELECT id, lang, n_toks,
              CAST((SUM(n_toks) OVER (ORDER BY id ASC
                  ROWS UNBOUNDED PRECEDING) - n_toks) // 8000
                AS BIGINT) AS chunk
            FROM kept)
          SELECT id, lang, n_toks, chunk FROM chunked ORDER BY id"""
    },
    // dp05's chunk assignment joined back to the raw text — matching
    // the gate's read-back aggregates proves the JSONL export
    // round-trips every shard's content byte-exactly
    "dp08_shard_export" -> dp08OracleSql(),
    // dp09 = dp08's chain with the purged slice excluded AFTER chunk
    // assignment (shards keep their identity; purged docs leave them,
    // fully-purged shards vanish from the GROUP BY)
    "dp09_export_purge" -> dp08OracleSql(" WHERE c.id % 7 <> 3"),
    // dp11 = the dp09 arithmetic at BOTH exports' shard sizes, tagged
    // and unioned (each branch a full recursive-CTE replay)
    "dp11_purge_all" ->
      s"""SELECT 'a' AS exp, chunk, n_docs, content_sum FROM (
            ${dp08OracleSql(" WHERE c.id % 7 <> 3", 500L)}) ua
          UNION ALL
          SELECT 'b' AS exp, chunk, n_docs, content_sum FROM (
            ${dp08OracleSql(" WHERE c.id % 7 <> 3", 900L)}) ub
          ORDER BY exp, chunk""",
    "dp02_corpus_report" -> {
      val toks = "string_split(text, ' ')"
      val fold = """(list_reduce(list_transform(
          string_split_regex(substr(md5(CAST(g AS VARCHAR)), 1, 15), ''),
          c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
                    ELSE ascii(c) - 87 END AS BIGINT)),
          (a, b) -> a * 16 + b))"""
      s"""WITH perdoc AS (SELECT doc_id, lang, n_chars,
            CAST(len($toks) AS INT) AS n_toks,
            CAST(FLOOR((${TextAnalysis.qualityScoreSql(toks)})
              * 1000000.0 + 0.5) AS BIGINT) AS q6
          FROM documents),
          base AS (SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
            CAST(SUM(q6) AS DOUBLE) / 1000000.0
              / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
            CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p50_chars,
            CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p95_chars
          FROM perdoc GROUP BY lang),
          samp AS (SELECT lang, COUNT(*) AS n_sampled,
            CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p50_chars_est,
            CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p95_chars_est
          FROM perdoc
          WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
          GROUP BY lang),
          kth AS (SELECT doc_id, lang,
            ${TextHash.tokenHashesSql("text")} AS th FROM documents),
          kg AS (SELECT lang,
            unnest(${TextHash.wordShingleHashesSql("th", 3)}) AS g
            FROM kth),
          ku AS (SELECT DISTINCT lang, $fold AS u FROM kg),
          kr AS (SELECT lang, u,
            row_number() OVER (PARTITION BY lang ORDER BY u) AS rn
            FROM ku),
          ksk AS (SELECT lang, CAST(COUNT(*) AS INT) AS kk,
            MAX(u) AS kth_u FROM kr WHERE rn <= 128 GROUP BY lang)
          SELECT base.lang, n_docs, total_tokens, mean_quality,
            p50_chars, p95_chars,
            COALESCE(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
            p50_chars_est, p95_chars_est,
            CASE WHEN kk < 128 THEN CAST(kk AS DOUBLE)
                 ELSE CAST(kk - 1 AS DOUBLE) * 1152921504606846976.0
                   / CAST(kth_u AS DOUBLE) END AS est_distinct_shingles
          FROM base LEFT JOIN samp ON base.lang = samp.lang
          LEFT JOIN ksk ON base.lang = ksk.lang
          ORDER BY base.lang"""
    },
    "ts06_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
           (CASE WHEN lang = 'en' THEN '80'
                 WHEN lang = 'fr' THEN '40' ELSE '1a' END)
         ORDER BY doc_id""",
    "ts07_topk_ngrams" -> {
      val toks = "string_split(text, ' ')"
      s"""WITH b AS (SELECT $toks AS toks FROM documents),
          g AS (SELECT unnest(${TextAnalysis.bigramsSql("toks")}) AS gram
            FROM b)
          SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
          ORDER BY n DESC, gram ASC LIMIT 20"""
    },
    "ts04_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
          list_aggregate(${TextHash.shingleHashesSql("text", 8)}, 'min')
            AS win8
          FROM documents ORDER BY doc_id""",
    // IVF-PQ: ann05's coarse-quantizer chain (cells for every vector,
    // probe cells per query) composed with ann13's PQ chains; the
    // candidate set is the cell equi-join and scoring is the ADC fold
    // over the candidates only. Both fits replayed exactly.
    "ann15_ivfpq" -> {
      def dt(a: String, b: String) = Ann.dotSql(a, b)
      // --- coarse chain: verbatim generation pattern of ann05 ---
      def ivfRound(i: Int): String = {
        val prev = s"cent${i - 1}"
        s"""iasg$i AS (SELECT vec_id, v, nrm, cell FROM (
              SELECT vn.vec_id, vn.v, vn.nrm, c.cell,
                row_number() OVER (PARTITION BY vn.vec_id
                  ORDER BY ${dt("vn.v", "c.cv")} / (vn.nrm * c.cnrm)
                    DESC, c.cell DESC) AS rn
              FROM vn CROSS JOIN $prev c) WHERE rn = 1),
            imean$i AS (SELECT cell, CAST(pos AS INT) AS pos,
                CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE) AS m
              FROM (SELECT cell, CAST(unnest(v) AS DOUBLE) AS val,
                      unnest(generate_series(1, len(v))) - 1 AS pos
                    FROM iasg$i)
              GROUP BY cell, pos),
            icm$i AS (SELECT cell, list(m ORDER BY pos) AS cv
              FROM imean$i GROUP BY cell),
            cent$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv,
                CASE WHEN n.cv IS NULL THEN p.cnrm
                     ELSE sqrt(${dt("n.cv", "n.cv")}) END AS cnrm
              FROM $prev p LEFT JOIN icm$i n USING (cell))"""
      }
      // --- fine chains: verbatim generation pattern of ann13 ---
      val M = Ann.PqSubspaces
      val sd = Ann.PqSubDim
      val K = Ann.PqCodebook
      def l2(s: String, c: String) =
        s"2.0 * ${dt(s, c + ".cv")} - ${dt(c + ".cv", c + ".cv")}"
      def chain(m: Int): String = {
        val lo = m * sd + 1
        val hi = (m + 1) * sd
        def round(i: Int): String = {
          val prev = s"c${m}_${i - 1}"
          s"""a${m}_$i AS (SELECT vec_id, s, cell FROM (
                SELECT sv.vec_id, sv.s, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN $prev c) WHERE rn = 1),
              n${m}_$i AS (SELECT cell, CAST(pos AS INT) AS pos,
                  CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE)
                    AS mm
                FROM (SELECT cell, CAST(unnest(s) AS DOUBLE) AS val,
                        unnest(generate_series(1, len(s))) - 1 AS pos
                      FROM a${m}_$i)
                GROUP BY cell, pos),
              g${m}_$i AS (SELECT cell, list(mm ORDER BY pos) AS cv
                FROM n${m}_$i GROUP BY cell),
              c${m}_$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
                FROM $prev p LEFT JOIN g${m}_$i n USING (cell))"""
        }
        s"""sv$m AS (SELECT vec_id, u[$lo:$hi] AS s FROM un),
            c${m}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                  AS INT) - 1 AS cell, s AS cv
              FROM (SELECT vec_id, s FROM sv$m
                    ORDER BY vec_id LIMIT $K)),
            ${round(1)},
            ${round(2)},
            k$m AS (SELECT vec_id, cell FROM (
                SELECT sv.vec_id, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN c${m}_2 c) WHERE rn = 1),
            p$m AS (SELECT cd.q_id, cd.vec_id, ${dt("q.s", "c.cv")} AS sp
              FROM cand cd
              JOIN k$m kk ON kk.vec_id = cd.vec_id
              JOIN c${m}_2 c ON kk.cell = c.cell
              JOIN sv$m q ON q.vec_id = cd.q_id)"""
      }
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
          vn AS (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS nrm FROM v),
          cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                AS INT) - 1 AS cell, v AS cv, nrm AS cnrm
            FROM vn ORDER BY vec_id LIMIT 16),
          ${ivfRound(1)},
          ${ivfRound(2)},
          asg AS (SELECT vec_id, cell FROM (
            SELECT vn.vec_id, cent2.cell,
              row_number() OVER (PARTITION BY vn.vec_id
                ORDER BY ${dt("vn.v", "cent2.cv")} / (vn.nrm * cent2.cnrm)
                  DESC, cent2.cell DESC) AS rn
            FROM vn CROSS JOIN cent2) WHERE rn = 1),
          qp AS (SELECT vec_id AS q_id, cell FROM (
            SELECT vn.vec_id, cent2.cell,
              row_number() OVER (PARTITION BY vn.vec_id
                ORDER BY ${dt("vn.v", "cent2.cv")} / (vn.nrm * cent2.cnrm)
                  DESC, cent2.cell DESC) AS rn
            FROM vn CROSS JOIN cent2 WHERE vn.vec_id < 5) WHERE rn <= 2),
          cand AS (SELECT qp.q_id, a.vec_id
            FROM qp JOIN asg a USING (cell)
            WHERE a.vec_id <> qp.q_id),
          un AS (SELECT vec_id, CASE WHEN nrm = 0 THEN v
              ELSE list_transform(v, x -> x / nrm) END AS u FROM vn),
          ${(0 until M).map(chain).mkString(",\n")},
          scored AS (SELECT p0.q_id, p0.vec_id,
              p0.sp + p1.sp + p2.sp + p3.sp AS score
            FROM p0 JOIN p1 USING (q_id, vec_id)
              JOIN p2 USING (q_id, vec_id)
              JOIN p3 USING (q_id, vec_id)),
          ranked AS (SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id ASC) AS INT) AS rank
            FROM scored)
        SELECT q_id, rank, vec_id, score FROM ranked
        WHERE rank <= 10 ORDER BY q_id, rank"""
    },
    // Residual IVF-PQ + refine: the full IVFADC fit unrolled — an L2
    // coarse k-means over the unit vectors (16 cells, 2 Lloyd rounds,
    // the ann13 reduction at full dim), residuals u − cv(cell), the
    // ann13 per-subspace chains retargeted at the residual slices,
    // ADC scored as −‖qr − r̂‖² = Σ_m (2·qr_m·cb_m − ‖cb_m‖²) − qr·qr
    // (left-assoc, matching the Spark fold), a top-64 code-rank cut,
    // and the exact unit-dot re-rank. Every floating-point step is
    // engine-identical, so ranks and scores gate bit-exact.
    "ann16_ivfpq_refine" -> ivfPqRefineOracle(
      "WHERE un.vec_id < 5", 10, 2, 64,
      numCells = 16, coarseIters = 2, pqIters = 2),
    // the bulk-join form: EVERY corpus vector is a query (k=3,
    // refine=16) — the "attach neighbors to each document" shape,
    // probed off the persisted index with NO query-side broadcast
    "ann18_ivfpq_bulk" -> ivfPqRefineOracle("", 3, 2, 16,
      numCells = 16, coarseIters = 2, pqIters = 2),
    // the filtered two-stage probe: the same fit, candidates (and
    // therefore the code-rank cut and refine budget) restricted to
    // the metadata predicate's ids
    "ann24_filtered_refine" -> ivfPqRefineOracle(
      "WHERE un.vec_id < 5", 10, 2, 64,
      numCells = 16, coarseIters = 2, pqIters = 2,
      candCond = """ AND cr.vec_id IN
        (SELECT vec_id FROM embeddings WHERE label = 0)"""),
    // the ann20 fit at its own shape: 32-dim slices, 8 cells, M=8 K=16
    "ann20_ivfpq_geom" -> ivfPqRefineOracle(
      "WHERE un.vec_id < 5", 10, 2, 64,
      numCells = 8, coarseIters = 2, pqIters = 2,
      geom = Ann.Geom(32, 8, 16), vecExpr = "embedding[1:32]"),
    // the raw-L2 metric replay: the identical fit over UNNORMALIZED
    // vectors, refine = −((q·q + v·v) − 2·(q·v))
    "ann28_ivfpq_l2" -> ivfPqRefineOracle(
      "WHERE un.vec_id < 5", 10, 2, 64,
      numCells = 16, coarseIters = 2, pqIters = 2, metric = "l2"),
    // the tuning table: the ann16-fit replay at nprobe 1 and 2, each
    // recall-joined against the exact ranking and tagged
    "ann30_recall_tuning" -> {
      def side(np: Int, tag: String) =
        s"""$tag AS (${ivfPqRefineOracle("WHERE un.vec_id < 5", 10,
             np, 64, numCells = 16, coarseIters = 2, pqIters = 2)}),
            ${tag}h AS (SELECT e.q_id, count(*) AS hits
              FROM exact e JOIN $tag a
                ON a.q_id = e.q_id AND a.vec_id = e.vec_id
              GROUP BY e.q_id),
            ${tag}r AS (SELECT $np AS nprobe, qs.q_id,
                CAST(COALESCE(h.hits, 0) AS INT) AS hits,
                CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0
                  AS recall_at_k
              FROM qs LEFT JOIN ${tag}h h USING (q_id))"""
      s"""WITH exact AS ($bruteTopKOracleSql),
          qs AS (SELECT DISTINCT q_id FROM exact),
          ${side(1, "n1")},
          ${side(2, "n2")}
          SELECT * FROM n1r UNION ALL SELECT * FROM n2r
          ORDER BY nprobe, q_id"""
    },
    // recall@10 of the ann05 IVF probe vs the ann01 exact ranking —
    // both replays spliced in as subqueries, hits counted by the same
    // (q_id, vec_id) equi-join
    "ann29_recall" ->
      s"""WITH exact AS ($bruteTopKOracleSql),
          approx AS (${ivfKmeansOracle()}),
          qs AS (SELECT DISTINCT q_id FROM exact),
          h AS (SELECT e.q_id, count(*) AS hits
            FROM exact e JOIN approx a
              ON a.q_id = e.q_id AND a.vec_id = e.vec_id
            GROUP BY e.q_id)
          SELECT qs.q_id, CAST(COALESCE(h.hits, 0) AS INT) AS hits,
            CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0 AS recall_at_k
          FROM qs LEFT JOIN h USING (q_id) ORDER BY q_id""",
    // PQ/ADC: the oracle replays the per-subspace fit exactly — unit
    // normalization, smallest-id seeds, 2 Lloyd rounds of L2 argmin
    // (as argmax 2·s·c − c·c, ties to the larger cell) with
    // integer-cents means, then codes → centroid join → the fixed
    // left-fold of the 4 partial dots. Engine-identical at every
    // floating-point step, so ranks and scores gate bit-exact.
    "ann13_pq_adc" -> {
      def dt(a: String, b: String) = Ann.dotSql(a, b)
      val M = Ann.PqSubspaces
      val sd = Ann.PqSubDim
      val K = Ann.PqCodebook
      def l2(s: String, c: String) =
        s"2.0 * ${dt(s, c + ".cv")} - ${dt(c + ".cv", c + ".cv")}"
      def chain(m: Int): String = {
        val lo = m * sd + 1
        val hi = (m + 1) * sd
        def round(i: Int): String = {
          val prev = s"c${m}_${i - 1}"
          s"""a${m}_$i AS (SELECT vec_id, s, cell FROM (
                SELECT sv.vec_id, sv.s, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN $prev c) WHERE rn = 1),
              n${m}_$i AS (SELECT cell, CAST(pos AS INT) AS pos,
                  CAST(SUM(CAST(FLOOR(val * 1048576.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1048576.0 / CAST(COUNT(*) AS DOUBLE)
                    AS mm
                FROM (SELECT cell, CAST(unnest(s) AS DOUBLE) AS val,
                        unnest(generate_series(1, len(s))) - 1 AS pos
                      FROM a${m}_$i)
                GROUP BY cell, pos),
              g${m}_$i AS (SELECT cell, list(mm ORDER BY pos) AS cv
                FROM n${m}_$i GROUP BY cell),
              c${m}_$i AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
                FROM $prev p LEFT JOIN g${m}_$i n USING (cell))"""
        }
        s"""sv$m AS (SELECT vec_id, u[$lo:$hi] AS s FROM un),
            c${m}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                  AS INT) - 1 AS cell, s AS cv
              FROM (SELECT vec_id, s FROM sv$m
                    ORDER BY vec_id LIMIT $K)),
            ${round(1)},
            ${round(2)},
            k$m AS (SELECT vec_id, cell FROM (
                SELECT sv.vec_id, c.cell,
                  row_number() OVER (PARTITION BY sv.vec_id
                    ORDER BY ${l2("sv.s", "c")} DESC, c.cell DESC) AS rn
                FROM sv$m sv CROSS JOIN c${m}_2 c) WHERE rn = 1),
            p$m AS (SELECT q.vec_id AS q_id, kk.vec_id,
                ${dt("q.s", "c.cv")} AS sp
              FROM sv$m q, k$m kk, c${m}_2 c
              WHERE q.vec_id < 5 AND kk.cell = c.cell
                AND kk.vec_id <> q.vec_id)"""
      }
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
          vn AS (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS nrm FROM v),
          un AS (SELECT vec_id, CASE WHEN nrm = 0 THEN v
              ELSE list_transform(v, x -> x / nrm) END AS u FROM vn),
          ${(0 until M).map(chain).mkString(",\n")},
          scored AS (SELECT p0.q_id, p0.vec_id,
              p0.sp + p1.sp + p2.sp + p3.sp AS score
            FROM p0 JOIN p1 USING (q_id, vec_id)
              JOIN p2 USING (q_id, vec_id)
              JOIN p3 USING (q_id, vec_id)),
          ranked AS (SELECT q_id, vec_id, score,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id ASC) AS INT) AS rank
            FROM scored)
        SELECT q_id, rank, vec_id, score FROM ranked
        WHERE rank <= 10 ORDER BY q_id, rank"""
    },
    // SQ8: identical quantize (list_max scale, floor(x·127/m + 0.5)
    // codes), integer dots (DuckDB sums to HUGEINT — value-equal), one
    // sqrt+division on integer-valued doubles — every step
    // IEEE-deterministic, so ranks and scores gate bit-exact.
    "ann11_sq8_topk" -> sq8TopKOracleSql(),
    "ann01_cosine_topk" -> bruteTopKOracleSql,
    // ann31: the greedy MMR recurrence unrolled — pool, then per step
    // an anti-joined remainder, a max-similarity join against the
    // cumulative selected set, and the argmax pick; identical
    // λ-scaled integer arithmetic on both engines
    "ann31_mmr" -> {
      val k = 5; val poolSize = 20; val lam = 7
      val cosQ = Ann.cosineSql("q.v", "d.v")
      val cosCS = Ann.cosineSql("c.v", "s.v")
      val sb = new StringBuilder
      sb ++= s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, v FROM v WHERE q_id < 5),
          scored AS (SELECT q.q_id, d.vec_id, $cosQ AS cos, d.v
            FROM q JOIN v d ON d.vec_id <> q.q_id),
          pool AS (SELECT q_id, vec_id, cos, v, rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS rnk FROM scored)
            WHERE rnk <= $poolSize),
          sel1 AS (SELECT q_id, vec_id, 1 AS step, cos, cos AS mmr, v
            FROM pool WHERE rnk = 1)"""
      var selName = "sel1"
      for (i <- 2 to k) {
        sb ++= s""",
          rem$i AS (SELECT p.* FROM pool p WHERE NOT EXISTS (
            SELECT 1 FROM $selName s
            WHERE s.q_id = p.q_id AND s.vec_id = p.vec_id)),
          ms$i AS (SELECT c.q_id, c.vec_id, MAX($cosCS) AS m
            FROM rem$i c JOIN $selName s ON c.q_id = s.q_id
            GROUP BY c.q_id, c.vec_id),
          pick$i AS (SELECT q_id, vec_id, $i AS step, cos, mmr, v
            FROM (
              SELECT r.q_id, r.vec_id, r.cos, r.v,
                ($lam * r.cos - ${10 - lam} * m.m) / 10.0 AS mmr,
                row_number() OVER (PARTITION BY r.q_id
                  ORDER BY ($lam * r.cos - ${10 - lam} * m.m) / 10.0
                    DESC, r.vec_id ASC) AS rn
              FROM rem$i r
              JOIN ms$i m ON m.q_id = r.q_id AND m.vec_id = r.vec_id)
            WHERE rn = 1),
          sel$i AS (SELECT * FROM $selName
            UNION ALL SELECT * FROM pick$i)"""
        selName = s"sel$i"
      }
      sb ++= s"""
          SELECT q_id, step, vec_id, cos, mmr FROM $selName
          ORDER BY q_id, step"""
      sb.toString
    },
    "ann03_ivf_topk" -> {
      def dt(a: String, b: String) = Ann.dotSql(a, b)
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          vn AS (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS nrm FROM v),
          cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
              - 1 AS cell, v AS cv, nrm AS cnrm
            FROM vn ORDER BY vec_id LIMIT 16),
          asg AS (SELECT vec_id, v, nrm, cell FROM (
            SELECT vn.vec_id, vn.v, vn.nrm, cent.cell,
              row_number() OVER (PARTITION BY vn.vec_id
                ORDER BY ${dt("vn.v", "cent.cv")} / (vn.nrm * cent.cnrm)
                  DESC, cent.cell DESC) AS rn
            FROM vn CROSS JOIN cent) WHERE rn = 1),
          qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell FROM (
            SELECT vn.vec_id, vn.v, vn.nrm, cent.cell,
              row_number() OVER (PARTITION BY vn.vec_id
                ORDER BY ${dt("vn.v", "cent.cv")} / (vn.nrm * cent.cnrm)
                  DESC, cent.cell DESC) AS rn
            FROM vn CROSS JOIN cent WHERE vn.vec_id < 5) WHERE rn <= 2),
          cand AS (SELECT qp.q_id, a.vec_id,
              ${dt("qp.qv", "a.v")} / (qp.qnrm * a.nrm) AS cos
            FROM qp JOIN asg a USING (cell) WHERE a.vec_id <> qp.q_id),
          ranked AS (SELECT q_id, vec_id, cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM cand)
        SELECT q_id, rank, vec_id, cos FROM ranked
        WHERE rank <= 10 ORDER BY q_id, rank"""
    },
    "ann05_ivf_kmeans" -> ivfKmeansOracle(),
    "ann04_centroids" ->
      """WITH e AS (SELECT label,
           CAST(unnest(embedding) AS DOUBLE) AS v,
           unnest(generate_series(1, len(embedding))) - 1 AS pos
         FROM embeddings)
         SELECT label, CAST(pos AS INT) AS pos, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(v * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1048576.0 / CAST(COUNT(*) AS DOUBLE) AS centroid
         FROM e GROUP BY label, pos ORDER BY label, pos""",
    "dd05_embedding_neardup" -> {
      val cos = Ann.cosineSql("a.v", "b.v")
      s"""WITH v AS (SELECT vec_id AS id,
            list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
          SELECT a.id AS id_a, b.id AS id_b, $cos AS cos
          FROM v a JOIN v b ON a.id < b.id
          WHERE $cos >= (460::DOUBLE / 1024::DOUBLE)
          ORDER BY id_a, id_b"""
    },
    "dd06_embedding_neardup_lsh" -> {
      val cos = Ann.cosineSql("da.v", "db.v")
      val bands = (0 until Ann.NearDupBands).map(b =>
        s"""SELECT id, $b AS band,
            CAST(${Ann.nearDupBandBucketSql("v", b)} AS BIGINT) AS bucket
            FROM v""").mkString("\n UNION ALL ")
      s"""WITH v AS (SELECT vec_id AS id,
            list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          bb AS ($bands),
          cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bb a JOIN bb b ON a.band = b.band
              AND a.bucket = b.bucket AND a.id < b.id)
          SELECT id_a, id_b, $cos AS cos
          FROM cand JOIN v da ON cand.id_a = da.id
                    JOIN v db ON cand.id_b = db.id
          WHERE $cos >= (460::DOUBLE / 1024::DOUBLE)
          ORDER BY id_a, id_b"""
    },
    "dd10_semantic_decon" -> {
      val cos = Ann.cosineSql("da.v", "db.v")
      def bands(src: String) = (0 until Ann.NearDupBands).map(b =>
        s"""SELECT id, $b AS band,
            CAST(${Ann.nearDupBandBucketSql("v", b)} AS BIGINT) AS bucket
            FROM $src""").mkString("\n UNION ALL ")
      s"""WITH ev AS (SELECT vec_id AS id,
            list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings WHERE vec_id % 97 = 0),
          cv AS (SELECT vec_id AS id, label,
            list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings WHERE vec_id % 97 <> 0),
          cb AS (${bands("cv")}),
          eb AS (${bands("ev")}),
          cand AS (SELECT DISTINCT c.id AS id_a, e.id AS id_b
            FROM cb c JOIN eb e
              ON c.band = e.band AND c.bucket = e.bucket),
          bad AS (SELECT DISTINCT id_a
            FROM cand JOIN cv da ON cand.id_a = da.id
                      JOIN ev db ON cand.id_b = db.id
            WHERE $cos >= (460::DOUBLE / 1024::DOUBLE))
          SELECT id AS vec_id, label FROM cv
          WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.id_a = cv.id)
          ORDER BY vec_id"""
    },
    "ann02_lsh_neighbors" -> {
      val cos = Ann.cosineSql("a.v", "b.v")
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          bk AS (SELECT vec_id, v,
            CAST(${Ann.bucketSql("v")} AS BIGINT) AS bucket FROM v),
          pairs AS (SELECT a.vec_id AS vec_id, a.bucket AS bucket,
              b.vec_id AS other, $cos AS cos
            FROM bk a JOIN bk b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
          ranked AS (SELECT vec_id, bucket, other, cos,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, other DESC) AS rn FROM pairs)
        SELECT vec_id, bucket, other AS neighbor, cos FROM ranked
        WHERE rn = 1 ORDER BY vec_id"""
    },
    "ann06_lsh_auto" -> {
      val cos = Ann.cosineSql("a.v", "b.v")
      // 16 plane literals cover fitted counts for corpora up to
      // 2^16 rows at target=1 — far past any gate SF; the fitted p
      // itself comes from the corpus count, same formula both engines
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          np AS (SELECT ${Ann.autoPlanesSql("count(*)", 1)} AS p FROM v),
          bk AS (SELECT vec_id, v,
            CAST(${Ann.bucketSqlDynamic("v", 16, "p")} AS BIGINT) AS bucket
            FROM v, np),
          pairs AS (SELECT a.vec_id AS vec_id, a.bucket AS bucket,
              b.vec_id AS other, $cos AS cos
            FROM bk a JOIN bk b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
          ranked AS (SELECT vec_id, bucket, other, cos,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, other DESC) AS rn FROM pairs)
        SELECT vec_id, bucket, other AS neighbor, cos FROM ranked
        WHERE rn = 1 ORDER BY vec_id"""
    },
    "u05_token_sort" -> {
      def ratio(a: String, b: String) =
        s"""(CASE WHEN GREATEST(LENGTH($a), LENGTH($b)) = 0 THEN 100
            ELSE CAST(FLOOR(100.0 * (GREATEST(LENGTH($a), LENGTH($b))
              - levenshtein($a, $b)) / GREATEST(LENGTH($a), LENGTH($b)))
              AS INT) END)"""
      def sorted(e: String) =
        s"array_to_string(list_sort(string_split_regex($e, ' +')), ' ')"
      s"""WITH b AS (SELECT p_partkey, p_name,
            array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
              AS scrambled FROM part)
          SELECT p_partkey,
            ${ratio("p_name", "scrambled")} AS plain_ratio,
            ${ratio(sorted("p_name"), sorted("scrambled"))}
              AS token_sort_ratio
          FROM b ORDER BY p_partkey"""
    },
    "u08_wratio" -> {
      def ratio(a: String, b: String) =
        s"""(CASE WHEN GREATEST(LENGTH($a), LENGTH($b)) = 0 THEN 100
            ELSE CAST(FLOOR(100.0 * (GREATEST(LENGTH($a), LENGTH($b))
              - levenshtein($a, $b)) / GREATEST(LENGTH($a), LENGTH($b)))
              AS INT) END)"""
      def partial(a: String, b: String) = {
        val s = s"(CASE WHEN LENGTH($a) <= LENGTH($b) THEN $a ELSE $b END)"
        val l = s"(CASE WHEN LENGTH($a) <= LENGTH($b) THEN $b ELSE $a END)"
        val n = s"LEAST(LENGTH($a), LENGTH($b))"
        s"""(CASE WHEN $n = 0 THEN 100
            ELSE CAST(FLOOR(100.0 * ($n - list_min(list_transform(
              generate_series(1, GREATEST(LENGTH($a), LENGTH($b)) - $n + 1),
              i -> levenshtein($s, substr($l, CAST(i AS INT), $n)))))
              / $n) AS INT) END)"""
      }
      def tok(e: String) =
        s"""list_sort(list_distinct(list_filter(
            string_split_regex($e, ' +'), t -> t <> '')))"""
      def srt(e: String) =
        s"array_to_string(list_sort(string_split_regex($e, ' +')), ' ')"
      // DuckDB's array_to_string([]) is NULL, not '' — coalesce so empty
      // intersections/differences compare like Spark's empty string
      def inter(x: String, y: String) =
        s"COALESCE(array_to_string(list_sort(list_intersect($x, $y)), ' '), '')"
      def diff(x: String, y: String) =
        s"""COALESCE(array_to_string(list_sort(list_filter($x,
            t -> NOT list_contains($y, t))), ' '), '')"""
      // one WRatio per staged pair p ∈ {c, s}: pX_a/pX_b raw strings,
      // pX_t0/t1/t2 token-set strings, pX_sa/sb sorted-token strings
      def wr(p: String) = {
        val (a, b) = (s"${p}_a", s"${p}_b")
        val lensr = s"(GREATEST(LENGTH($a), LENGTH($b))::DOUBLE " +
          s"/ LEAST(LENGTH($a), LENGTH($b))::DOUBLE)"
        val ps = s"(CASE WHEN $lensr > 8.0::DOUBLE THEN 0.6::DOUBLE " +
          "ELSE 0.9::DOUBLE END)"
        val base = s"${ratio(a, b)}::DOUBLE"
        val part = s"${partial(a, b)}::DOUBLE * $ps"
        val ptsor =
          s"${partial(s"${p}_sa", s"${p}_sb")}::DOUBLE * 0.95::DOUBLE * $ps"
        val ptser = s"""GREATEST(${partial(s"${p}_t0", s"${p}_t1")},
          ${partial(s"${p}_t0", s"${p}_t2")},
          ${partial(s"${p}_t1", s"${p}_t2")})::DOUBLE
          * 0.95::DOUBLE * $ps"""
        val tsor = s"${ratio(s"${p}_sa", s"${p}_sb")}::DOUBLE * 0.95::DOUBLE"
        val tser = s"""GREATEST(${ratio(s"${p}_t0", s"${p}_t1")},
          ${ratio(s"${p}_t0", s"${p}_t2")},
          ${ratio(s"${p}_t1", s"${p}_t2")})::DOUBLE * 0.95::DOUBLE"""
        s"""CAST(round(CASE WHEN $lensr > 1.5::DOUBLE
            THEN GREATEST($base, $part, $ptsor, $ptser)
            ELSE GREATEST($base, $tsor, $tser) END) AS INT)"""
      }
      s"""WITH base AS (SELECT p_partkey, p_name AS c_a, p_type AS c_b,
            p_name AS s_a, string_split(p_type, ' ')[1] AS s_b
            FROM part WHERE p_partkey <= 2000),
          tk AS (SELECT *, ${tok("c_a")} AS c_ta, ${tok("c_b")} AS c_tb,
            ${tok("s_a")} AS s_ta, ${tok("s_b")} AS s_tb,
            ${srt("c_a")} AS c_sa, ${srt("c_b")} AS c_sb,
            ${srt("s_a")} AS s_sa, ${srt("s_b")} AS s_sb FROM base),
          p1 AS (SELECT *,
            ${inter("c_ta", "c_tb")} AS c_t0, ${diff("c_ta", "c_tb")} AS c_da,
            ${diff("c_tb", "c_ta")} AS c_db,
            ${inter("s_ta", "s_tb")} AS s_t0, ${diff("s_ta", "s_tb")} AS s_da,
            ${diff("s_tb", "s_ta")} AS s_db FROM tk),
          p2 AS (SELECT *,
            trim(concat_ws(' ', c_t0, c_da)) AS c_t1,
            trim(concat_ws(' ', c_t0, c_db)) AS c_t2,
            trim(concat_ws(' ', s_t0, s_da)) AS s_t1,
            trim(concat_ws(' ', s_t0, s_db)) AS s_t2 FROM p1)
          SELECT p_partkey, ${wr("c")} AS wr_cross, ${wr("s")} AS wr_short
          FROM p2 ORDER BY p_partkey"""
    },
    "u07_tokenset_partial" -> {
      def ratio(a: String, b: String) =
        s"""(CASE WHEN GREATEST(LENGTH($a), LENGTH($b)) = 0 THEN 100
            ELSE CAST(FLOOR(100.0 * (GREATEST(LENGTH($a), LENGTH($b))
              - levenshtein($a, $b)) / GREATEST(LENGTH($a), LENGTH($b)))
              AS INT) END)"""
      // the shorter string slides over every same-length window of the
      // longer; best window = min distance
      def partial(a: String, b: String) = {
        val s = s"(CASE WHEN LENGTH($a) <= LENGTH($b) THEN $a ELSE $b END)"
        val l = s"(CASE WHEN LENGTH($a) <= LENGTH($b) THEN $b ELSE $a END)"
        val n = s"LEAST(LENGTH($a), LENGTH($b))"
        s"""(CASE WHEN $n = 0 THEN 100
            ELSE CAST(FLOOR(100.0 * ($n - list_min(list_transform(
              generate_series(1, GREATEST(LENGTH($a), LENGTH($b)) - $n + 1),
              i -> levenshtein($s, substr($l, CAST(i AS INT), $n)))))
              / $n) AS INT) END)"""
      }
      def tok(e: String) =
        s"""list_sort(list_distinct(list_filter(
            string_split_regex($e, ' +'), t -> t <> '')))"""
      // DuckDB's array_to_string([]) is NULL, not '' — coalesce so empty
      // intersections/differences compare like Spark's empty string
      def inter(x: String, y: String) =
        s"COALESCE(array_to_string(list_sort(list_intersect($x, $y)), ' '), '')"
      def diff(x: String, y: String) =
        s"""COALESCE(array_to_string(list_sort(list_filter($x,
            t -> NOT list_contains($y, t))), ' '), '')"""
      s"""WITH base AS (SELECT p_partkey, p_name, p_type,
            array_to_string(string_split(p_name, ' ')[1:2], ' ') AS subset,
            substr(p_name, 3, 8) AS sub8 FROM part),
          tk AS (SELECT *, ${tok("p_name")} AS tn, ${tok("p_type")} AS tt,
            ${tok("subset")} AS ts FROM base),
          p1 AS (SELECT *,
            ${inter("tn", "tt")} AS c_t0, ${diff("tn", "tt")} AS c_da,
            ${diff("tt", "tn")} AS c_db,
            ${inter("tn", "ts")} AS s_t0, ${diff("tn", "ts")} AS s_da,
            ${diff("ts", "tn")} AS s_db FROM tk),
          p2 AS (SELECT *,
            trim(concat_ws(' ', c_t0, c_da)) AS c_t1,
            trim(concat_ws(' ', c_t0, c_db)) AS c_t2,
            trim(concat_ws(' ', s_t0, s_da)) AS s_t1,
            trim(concat_ws(' ', s_t0, s_db)) AS s_t2 FROM p1)
          SELECT p_partkey,
            GREATEST(${ratio("c_t0", "c_t1")}, ${ratio("c_t0", "c_t2")},
              ${ratio("c_t1", "c_t2")}) AS ts_cross,
            ${partial("p_name", "p_type")} AS pr_cross,
            GREATEST(${ratio("s_t0", "s_t1")}, ${ratio("s_t0", "s_t2")},
              ${ratio("s_t1", "s_t2")}) AS ts_subset,
            ${partial("p_name", "sub8")} AS pr_substr
          FROM p2 ORDER BY p_partkey"""
    },
    "mm01_multimodal" ->
      """SELECT doc_id,
         CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
         md5(text) AS digest,
         lower(hex(substring(text, 1, 8)::BLOB)) AS head8,
         lang AS meta_lang,
         n_chars AS meta_n_chars,
         array_to_string([lower(hex(substring(text, 1, 16)::BLOB)),
          lower(hex(substring(text, 17, 16)::BLOB)),
          lower(hex(substring(text, 33, 16)::BLOB))], '|') AS frames
         FROM documents ORDER BY doc_id""",
    "mm02_bmp_roundtrip" ->
      """SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE 6 END AS width,
         CASE WHEN text IS NULL THEN NULL ELSE 8 END AS height,
         CASE WHEN text IS NULL THEN NULL
              ELSE rpad(lower(hex(substring(text, 1, 48)::BLOB)), 96, '0')
         END AS px
         FROM documents ORDER BY doc_id""",
    "mm03_png_roundtrip" ->
      """SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE 4 END AS width,
         CASE WHEN text IS NULL THEN NULL ELSE 8 END AS height,
         CASE WHEN text IS NULL THEN NULL ELSE 3 END AS channels,
         CASE WHEN text IS NULL THEN NULL
              ELSE rpad(lower(hex(substring(text, 1, 96)::BLOB)), 192, '0')
         END AS px
         FROM documents ORDER BY doc_id""",
    "mm04_wav_roundtrip" ->
      """SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE 8000 END AS sample_rate,
         CASE WHEN text IS NULL THEN NULL ELSE 32 END AS n_samples,
         CASE WHEN text IS NULL THEN NULL
              ELSE rpad(lower(hex(substring(text, 1, 64)::BLOB)), 128, '0')
         END AS pcm
         FROM documents ORDER BY doc_id"""
  )

  /** ann07/ann08 probe a PERSISTED index artifact that must be
    * bit-identical to the fresh fit — so their oracles ARE ann06's
    * and ann05's: the index adds no semantics, it removes the
    * per-query fit cost. */
  val oracle: Map[String, String] = oracleBase ++ Map(
    "ann07_index_probe" -> oracleBase("ann06_lsh_auto"),
    "ann08_ivf_index" -> oracleBase("ann05_ivf_kmeans"),
    // the lifecycle gates (build half + append half) must be
    // bit-identical to the full build, hence to the same oracles
    "ann09_lsh_append" -> oracleBase("ann06_lsh_auto"),
    "ann10_ivf_append" -> oracleBase("ann05_ivf_kmeans"),
    // quantization is per-vector, so build-half + append-half is
    // bit-identical to quantizing the whole corpus — ann11's oracle
    "ann12_sq8_index" -> oracleBase("ann11_sq8_topk"),
    // same per-vector property under STREAMED appends (one idempotent
    // segment per micro-batch) — ann11's oracle again
    "ann19_stream_append" -> oracleBase("ann11_sq8_topk"),
    // ann11's arithmetic over the corpus that SURVIVES the deletes —
    // the tombstone anti-join must be exactly a corpus-side predicate
    "ann21_delete" -> sq8TopKOracleSql(" AND d.vec_id % 7 <> 0"),
    // the corpus that survives the CDC feed: everything ingested minus
    // the two modular delete slices batches 2 and 3 carried
    "ann22_stream_cdc" -> sq8TopKOracleSql(
      " AND NOT ((d.vec_id % 4 IN (0, 1) AND d.vec_id % 5 = 2) OR " +
        "(d.vec_id % 4 = 2 AND d.vec_id % 5 = 3))"),
    // filtered search: the same arithmetic, corpus restricted to the
    // metadata predicate's ids
    "ann23_filtered_topk" -> sq8TopKOracleSql(
      " AND d.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 0)"),
    // codebooks train on the full corpus; codes are pure functions of
    // vector × frozen books — ann13's oracle verbatim
    // filtered IVF probe: identical full-corpus fit, candidates
    // restricted to the label-0 vectors (the pre-filter contract)
    "ann25_filtered_ivf" -> ivfKmeansOracle(
      " AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 0)"),
    // inner-product SQ8 index: same quantization, ip scoring off the
    // stored per-vector scales
    "ann26_sq8_ip" -> sq8TopKOracleSql(metric = "ip"),
    "ann27_sq8_l2" -> sq8TopKOracleSql(metric = "l2"),
    "ann14_pq_index" -> oracleBase("ann13_pq_adc"),
    // both residual-family fits train on the full corpus; cells and
    // codes are pure functions of vector × frozen fits and the refine
    // reads exact floats — ann16's oracle verbatim
    "ann17_ivfpq_index" -> oracleBase("ann16_ivfpq_refine"))
}

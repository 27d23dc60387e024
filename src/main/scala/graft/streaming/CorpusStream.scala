package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.TableCatalog
import graft.core.Bounded
import graft.ops.Dedup
import graft.sim.MinHashLSH
import graft.text.{CorpusPipeline, TextHash}

/** Incremental (micro-batched) twin of the dp01 corpus pipeline — the
  * reference's own partition-at-a-time daily loop
  * (get_similarity.py:89-103) generalized to the LLM corpus stages:
  * every micro-batch is gated, deduped against everything already seen,
  * near-dup-clustered, sampled, and lands as one idempotent partition
  * (`TableCatalog.writePartition`), so replaying a failed batch
  * overwrites its own partition instead of duplicating it.
  *
  * Cross-batch state is one compact table of per-doc sketches —
  * (id, exact-dedup fingerprint, shingle hashes, MinHash signature),
  * one partition per batch. New docs are shingled/signed ONCE, on
  * arrival; later batches band their new signatures against the stored
  * ones (`MinHashLSH.bandFrame` over the state table is a cheap
  * projection), so per-batch work is O(new docs + band collisions),
  * never O(corpus). Raw text is not retained.
  *
  * Cross-batch semantics (the part a row-local twin can't fake):
  *  - exact dedup CONVERGES to dp01's global keep-smallest-id even on
  *    out-of-order feeds (rounds 11/12): a re-delivery whose stored
  *    twin has a SMALLER id is dropped at the fingerprint gate as
  *    before, but one with a smaller id than every stored twin
  *    injects a FORCED merge edge against each larger-id stored twin
  *    — the convergent-merge machinery below then elects it canonical
  *    and retracts the dethroned copy unconditionally (round 12: the
  *    edge is forced rather than routed through the LSH cascade,
  *    because fp hashes only a text prefix and a prefix-sharing
  *    divergent body would never verify at threshold). With ids
  *    ascending in arrival order (the reference's daily extracts) the
  *    gate drops every re-delivery and nothing changes;
  *  - near-dup clustering CONVERGES to the batch operator (round 10):
  *    a batch-internal component merges with every seen component any
  *    member verifies against (seen = every gated+exact-deduped doc,
  *    including cluster-dropped ones — a dropped doc still bridges
  *    later arrivals), via a contracted-graph CC over component
  *    LABELS; the merged component's canonical (minimum id) survives
  *    and every other member dies. When a later bridge dethrones an
  *    already-emitted canonical, that doc is RETRACTED — its output
  *    partition is rewritten without it — so the materialized output
  *    equals [[Dedup.clusterDedup]]'s at every batch boundary (the
  *    round-9 "late bridge" divergence, previously documented as
  *    inherent, is closed; labels only decrease, so retraction never
  *    needs a matching re-admission). The label state behind this is
  *    a third, update-style table bounded by the duplicated slice of
  *    the corpus — see [[lblTableOf]].
  */
object CorpusStream {

  /** Bucket count for the band state table's `pk` partition level:
    * `pk = xxhash64(band_key) mod StatePartitions`. Each batch collects
    * its own distinct pk values (a driver list bounded by this
    * constant) and reads ONLY the colliding `pk=` sub-directories of
    * the stored bands — the cross-batch candidate join prunes at the
    * storage layer instead of scanning the whole seen corpus's bands.
    * 64 keeps per-batch files coarse; a deployment with tiny frequent
    * batches would raise it for sharper pruning. */
  val StatePartitions = 64

  /** A pk-bucketed state partition ([[writeState]]) is laid out as
    * `pk=` sub-directories only when it holds at least this many rows,
    * so each pk file is substantial (≥ ~1k rows per pk on average);
    * smaller partitions are ONE plain file. The rule is the same for a
    * live batch partition and a compaction fold's `c` partition. Without it, tiny frequent batches explode into
    * batches×64 near-empty files and the per-batch LISTING cost grows
    * faster than the scan the layout saves (measured with the former
    * ProbeStream: a 40-small-batch run regressed from flat to a
    * +0.1 s/batch slope before the split was made granularity-aware;
    * folds that always split turned 400 docs of state into 40–65 files
    * per table, and every later batch paid Spark's parallel
    * file-listing jobs). Reads handle both layouts: pk-split partitions
    * are pruned at the directory level, plain ones are read whole
    * (small by this rule) and pruned by the pk column. */
  val PkSplitMinRows: Long = 1000L * StatePartitions

  /** Live (uncompacted) batch partitions that trigger a compaction pass
    * at the start of the next batch. Without compaction the state tables
    * accumulate one `batch_id=` directory per batch forever, and the
    * per-batch LISTING cost — the one term the pk layout doesn't bound —
    * grows linearly with stream age. With it, the directory count stays
    * under CompactEvery + 1 regardless of how long the stream runs. The
    * folded `c` partition follows the [[PkSplitMinRows]] rule like any
    * other, so a small state stays one file per table. */
  val CompactEvery = 16

  private[graft] def pkCol: org.apache.spark.sql.Column =
    pmod(xxhash64(col("band_key")), lit(StatePartitions.toLong))

  /** Static DATA schemas of the pipeline's own state tables, supplied
    * to every pruned read so Spark skips the per-read footer-inference
    * job — on a minutes-cadence stream that job is a fixed per-batch
    * driver round-trip repeated for each of the fp/bands/emit/sketch
    * reads (16 of dp03's ~158 jobs before this). Plain-layout
    * partitions additionally store `pk` as a data column
    * ([[PkSplitMinRows]]); pk-split partitions carry it as a
    * directory, so the plain branches read [[withPk]] of these. */
  private[streaming] val FpDataSchema: StructType = new StructType()
    .add("id", LongType).add("fp", StringType)
  private[streaming] val EmitDataSchema: StructType = new StructType()
    .add("id", LongType).add("eb", StringType)
  private[streaming] val BandsDataSchema: StructType = new StructType()
    .add("id", LongType).add("n", IntegerType)
    .add("sig", ArrayType(LongType)).add("band_idx", IntegerType)
    .add("band_key", StringType)
  private[streaming] val SketchDataSchema: StructType = new StructType()
    .add("id", LongType).add("fp", StringType)
    .add("sh", ArrayType(LongType)).add("n", IntegerType)
    .add("sig", ArrayType(LongType)).add("sb", ArrayType(LongType))
  private[streaming] val LblSchema: StructType = new StructType()
    .add("id", LongType).add("lbl", LongType).add("b", LongType)
    .add("batch_id", StringType)
  private def withPk(s: StructType): StructType = s.add("pk", LongType)

  /** Layout facts of one pk-bucketed state table — the sketch table and
    * its `_bands`, `_fp` and `_emit` siblings. The four share one layout
    * rule and writer ([[writeState]]), one shape-aware reader
    * ([[readPkTable]]) and one compaction fold; only these facts differ:
    *  - `pk`, the bucket expression over the data columns;
    *  - `pkStored`, whether a plain partition stores pk as a data
    *    column (the sketch table computes it on read: it is a pure
    *    function of id);
    *  - `dedupKeys`, the row identity a fold over a stranded target
    *    deduplicates on;
    *  - `sortById`, files sorted by id (tight row-group id ranges for the
    *    sketch fetch's candidate-id IN filter);
    *  - `sigWidth`, whether a read checks the files' footers
    *    ([[requireCurrentFormat]]) and restores `sig`'s
    *    [[MinHashLSH.NumPermMetaKey]] from them (the static read schema
    *    carries no field metadata), so the geometry guard needs no Spark
    *    job and a fold writes the width back out. */
  private case class PkTable(suffix: String, schema: StructType,
      pk: Column, pkStored: Boolean, dedupKeys: Seq[String],
      sortById: Boolean = false, sigWidth: Boolean = false) {
    def of(stateTable: String): String = stateTable + suffix
  }

  /** The per-doc sketch table itself. */
  private val SketchState = PkTable("", SketchDataSchema,
    emitPkCol(col("id")), pkStored = false, Seq("id"), sortById = true,
    sigWidth = true)

  /** Pre-banded sketch rows, bucketed by band key, so a batch's
    * cross-batch candidate join reads only its colliding buckets. */
  private val BandsState = PkTable("_bands", BandsDataSchema, pkCol,
    pkStored = true, Seq("id", "band_idx"))

  /** The one writer of the pk-bucketed state tables — the live sinks
    * and every compaction fold. `rows` (data columns only) lands as
    * batch partition `key` of `t`. With `split` — the
    * caller's "at least `pkSplitMinRows` rows" ([[PkSplitMinRows]]) —
    * it writes `pk=` sub-directories, repartitioned by pk first so each
    * bucket gets ~one file instead of one per shuffle task; otherwise
    * ONE plain file. */
  private def writeState(catalog: TableCatalog, t: PkTable,
      stateTable: String, key: String, rows: DataFrame,
      split: Boolean): Unit = {
    val keyed =
      (if (split || t.pkStored) rows.withColumn("pk", t.pk) else rows)
        .withColumn("batch_id", lit(key))
    def sorted(df: DataFrame) =
      if (t.sortById) df.sortWithinPartitions(col("id")) else df
    if (split)
      catalog.writeSubPartitioned(sorted(keyed.repartition(col("pk"))),
        t.of(stateTable), "batch_id", key, "pk")
    else
      catalog.writePartition(sorted(keyed.coalesce(1)),
        t.of(stateTable), "batch_id", key)
  }

  /** The layout rule for a partition written from existing partitions
    * `keys` of `table` (a fold's sources): split when they hold at least `pkSplitMinRows` rows. A pk-split
    * source held that many alone; plain sources' counts come from their
    * parquet footers on the driver, so the choice costs no Spark job. */
  private def splitLayoutFor(catalog: TableCatalog, table: String,
      keys: Seq[String], pkSplitMinRows: Long): Boolean =
    keys.exists(
      catalog.listSubPartitions(table, "batch_id", _, "pk").nonEmpty) ||
      keys.iterator.map(
        catalog.partitionRowCount(table, "batch_id", _)).sum >=
        pkSplitMinRows

  /** The one shape-aware reader of a pk-bucketed state table: batch
    * partitions `keys` of `t`, data columns only. Each partition is
    * listed once (one Hadoop LISTING per batch dir, not a per-(dir, pk)
    * exists round-trip — on an object store each exists() is a remote
    * call) and the shapes read as separate groups, so partition
    * discovery never sees conflicting directory depths. With `pks`
    * set, pk-split partitions prune at the DIRECTORY level and plain
    * ones — small by [[PkSplitMinRows]] — are read whole and filtered
    * on pk. None when no partition holds a data file. A `sigWidth`
    * table's `sig` carries the width its footers agree on
    * ([[requireCurrentFormat]]). */
  private def readPkTable(catalog: TableCatalog, t: PkTable,
      stateTable: String, keys: Seq[String],
      pks: Option[Set[Long]]): Option[DataFrame] = {
    val table = t.of(stateTable)
    def path(b: String) = catalog.partitionPath(table, "batch_id", b)
    val (split, plain) = keys
      .map(b => b -> catalog.listSubPartitions(table, "batch_id", b, "pk"))
      .partition(_._2.nonEmpty)
    val splitDirs = split.flatMap { case (b, subs) =>
      pks match {
        case None => Seq(path(b))
        case Some(ps) => subs
          .filter(s => scala.util.Try(s.toLong).toOption.exists(ps.contains))
          .map(p => s"${path(b)}/pk=$p")
      }
    }
    val plainDirs = plain.map(_._1)
      .filter(catalog.partitionHasDataFiles(table, "batch_id", _))
      .map(path)
    val plainPk = if (t.pkStored) col("pk") else t.pk
    val width =
      if (t.sigWidth) requireCurrentFormat(catalog, table, keys) else None
    val read = Seq(
      if (splitDirs.isEmpty) None
      else Some(catalog.readPaths(table, splitDirs, t.schema)),
      if (plainDirs.isEmpty) None
      else {
        val raw = catalog.readPaths(table, plainDirs,
          if (t.pkStored) withPk(t.schema) else t.schema)
        Some(pks.fold(raw)(ps => raw.filter(plainPk.isin(ps.toSeq: _*))))
      }).flatten.map(_.select(t.schema.fieldNames.toSeq.map(col): _*))
      .reduceOption(_ unionByName _)
    width.fold(read)(w => read.map(_.withColumn("sig", col("sig").as("sig",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(MinHashLSH.NumPermMetaKey, w.toLong).build()))))
  }

  /** The `sig` width recorded in the Spark row schema of each listed
    * sketch partition's parquet footer, read on the driver; None when
    * no partition holds a data file. Every sketch partition is written
    * with that width and the `sb` column, and a fold carries both, so a
    * footer lacking either, or partitions that disagree on the width,
    * mean a state written before the current format. It is refused,
    * naming the table and partition: no read path serves older layouts,
    * and nothing upgrades them. */
  private def requireCurrentFormat(catalog: TableCatalog,
      stateTable: String, keys: Seq[String]): Option[Int] = {
    def refuse(key: String, why: String): Nothing =
      throw new IllegalStateException(s"CorpusStream: sketch partition " +
        s"batch_id=$key of state table '$stateTable' $why — it predates " +
        "the current state format, which is the only one this version " +
        "reads; rebuild the state by streaming the corpus into a NEW " +
        "state table")
    val widths = keys.flatMap { k =>
      catalog.partitionFooterMetadata(stateTable, "batch_id", k).map { m =>
        val schema = m.get(SparkRowSchemaKey)
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(j)).toOption)
          .collect { case s: StructType => s }
        if (!schema.exists(_.fieldNames.contains("sb")))
          refuse(k, "has no `sb` column")
        k -> schema.flatMap(MinHashLSH.sigWidthOf).getOrElse(refuse(k,
          s"records no `sig` width (${MinHashLSH.NumPermMetaKey})"))
      }
    }
    widths.find(_._2 != widths.head._2).foreach { case (k, w) =>
      refuse(k, s"records a $w-perm `sig` width beside " +
        s"${widths.head._2} in batch_id=${widths.head._1}")
    }
    widths.headOption.map(_._2)
  }

  /** The footer key under which Spark's parquet writer stores the row
    * schema, field metadata included. */
  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** [[readPkTable]] of `t`'s committed partitions other than the
    * in-flight batch's, pruned to `pks`. */
  private def prunedStateRead(catalog: TableCatalog, t: PkTable,
      stateTable: String, batchKey: String,
      pks: Set[Long]): Option[DataFrame] =
    readPkTable(catalog, t, stateTable,
      catalog.listPartitions(t.of(stateTable), "batch_id")
        .filter(_ != batchKey),
      Some(pks))

  /** Label the jobs a block's actions spawn (guide §1.5): thread-local,
    * restored on exit, so concurrent lanes keep their own labels. Pure
    * observability — `graft.tools.Trace` and the UI attribute chain
    * cost by phase. A batch that left the driver path appends why
    * ([[FallbackKey]]), e.g. `b7 new docs [over id cap]`. */
  private def jd[T](spark: org.apache.spark.sql.SparkSession,
                    label: String)(f: => T): T = {
    val why = Option(spark.sparkContext.getLocalProperty(FallbackKey))
      .fold("")(w => s" [$w]")
    graft.core.Trace.phase(spark, s"CorpusStream: $label$why")(f)
  }

  /** Thread-local property naming why the in-flight batch runs the
    * distributed path: `over id cap` or `over pair cap`.
    * Inherited by the write lanes' threads; cleared when the batch
    * ends. */
  private val FallbackKey = "graft.chain.fallback"

  /** Scope adaptive execution OFF around one micro-batch's work
    * (restored on exit).
    *
    * Why (round 17, measured): AQE materializes every exchange as its
    * own driver-side job plus a replanning pass — on the chain's
    * many-small-jobs batches that splinters each bookkeeping action
    * into ~5–10 jobs whose ~70–170 ms driver floor IS the gate's cost
    * (measured with the former ProbeJobs: dp03 = 353 jobs ≈ its whole
    * 21 s; ProbeJobFloor: one-exchange agg 167 ms with AQE, 134 ms
    * without; ProbeAqe A/B: dp03 21.4→17.7 s, dp07 21.2→18.1 s with AQE
    * off, width equal; `graft.tools.Trace` gives the same breakdown).
    *
    * Why it is scale-safe HERE and not suite-wide: a micro-batch's
    * frames are bounded by the batch increment and the merge caps
    * (MergeGraphCap / DriverVerifyIdCap), never by corpus size — the
    * chain scales by MANY batches, not one huge one — and the chain
    * carries its own skew containment (GroupCollapse,
    * SkewJoin.guardedPairs' salted hot buckets), so AQE's runtime
    * skew-split/coalesce has nothing to add inside a batch. Batch
    * operators that DO scan corpus-sized frames (dd03's whole-corpus
    * LSH, the ann builds) keep AQE on — measured faster with it
    * (ann17 5.7 s with vs 6.5 s without). */
  private def withBatchAqe[T](spark: org.apache.spark.sql.SparkSession)
                             (f: => T): T =
    graft.core.Scoped.conf(spark, "spark.sql.adaptive.enabled" -> "false")(f)

  /** Component-label state (round-10): rows `(id, lbl, b)` mapping a
    * doc to its near-dup component's canonical id, written only for
    * members of multi-doc or merged components (singletons implicitly
    * label themselves — the table stays proportional to the DUPLICATED
    * slice of the corpus, not the corpus). Labels change when later
    * bridges merge components, so rows are UPDATES: `b` is the writing
    * batch and a read keeps each id's highest-`b` row. This is what
    * lets a merge find the true canonical of a touched seen doc (the
    * stored member's label, not the member itself) and retract a
    * dethroned canonical from the output. */
  private def lblTableOf(stateTable: String): String =
    stateTable + "_lbl"

  /** Emit-index state (round 11 — closes the last linear-in-corpus
    * per-batch term): one row `(id, eb)` per EMITTED doc, `eb` = the
    * output partition it landed in, written just before the output
    * partition itself. When a merge dethrones an already-emitted
    * canonical, the affected output partitions are found by a
    * pk-pruned semi-join against this index — metadata-scale (8+
    * bytes per emitted doc, and only the retracted ids' pk buckets
    * are read) — instead of semi-join-scanning the ENTIRE output
    * table, which at 100 TB is the corpus. Rows are partitioned by
    * writing batch with the band tables' granularity-aware pk layout
    * (`pk = xxhash64(id) mod StatePartitions`), so lookups prune at
    * the directory level and replay stays idempotent. `eb` rides as a
    * DATA column (redundant with the partition dir until compaction
    * folds many batches into one `c` partition). Rows for later-
    * retracted docs are left in place: a doc is never re-retracted
    * (labels only decrease, and a dethroned id never reappears as a
    * merge-graph node), so a stale row can at worst make a REPLAYED
    * retraction rewrite the same partitions again — idempotent.
    * The pk-pruned lookup is authoritative: every output partition's
    * emit rows commit before it does, and emit rows are never deleted
    * (a compaction folds them, `eb` included). */
  private val EmitState = PkTable("_emit", EmitDataSchema,
    emitPkCol(col("id")), pkStored = true, Seq("id"))

  private[graft] def emitPkCol(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(StatePartitions.toLong))

  // ---- output-epoch roll (round 12) ----------------------------------
  //
  // The incremental output used to keep one `batch_id=` partition per
  // micro-batch FOREVER — at minutes cadence for years that is 10⁵–10⁶
  // directories under one table root on an object store, and the
  // per-batch existence/listing cost of the output table grows with
  // stream age. With `epochEvery > 0`, once the current output table
  // holds that many batch partitions, the NEXT batch writes to a fresh
  // epoch table `out__e1`, `out__e2`, … — per-table directory counts
  // stay bounded by the roll interval, and old epochs are never listed
  // again (retraction locates them through the emit index's eb keys).
  // Epoch discovery is STRUCTURAL (the highest existing epoch table),
  // so there is no marker to tear and a crashed roll replays to the
  // same decision; a replayed batch first looks for its own partition
  // in the current (and, at a boundary, the previous) epoch so it
  // rewrites in place instead of duplicating across the roll.
  // The emit index's `eb` column addresses the partition across
  // epochs: plain `<batch>` for the base table, `e<k>:<batch>` for
  // epoch k ≥ 1.

  private[graft] def epochTableName(outTable: String, k: Int): String =
    if (k == 0) outTable else s"${outTable}__e$k"

  private val EpochEb = "^e(\\d+):(.*)$".r

  private[graft] def encodeEb(epoch: Int, batchKey: String): String =
    if (epoch == 0) batchKey else s"e$epoch:$batchKey"

  /** (output table, partition key) addressed by an emit row's eb. */
  private[graft] def ebTarget(outTable: String,
                              eb: String): (String, String) = eb match {
    case EpochEb(k, key) => (epochTableName(outTable, k.toInt), key)
    case plain => (outTable, plain)
  }

  private def epochTablesOf(catalog: TableCatalog,
                            outTable: String): Seq[Int] = {
    val prefix = outTable + "__e"
    catalog.listTablesWithPrefix(prefix)
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toInt).toOption)
  }

  /** The epoch this batch's output partition belongs to. 0 when
    * rolling is off (`epochEvery <= 0` — the pre-epoch layout,
    * bit-identical). Replay binds to the epoch already holding the
    * batch's partition; otherwise a full current epoch rolls over. */
  private def resolveOutputEpoch(catalog: TableCatalog, outTable: String,
      batchKey: String, epochEvery: Int): Int = {
    if (epochEvery <= 0) return 0
    val cur = epochTablesOf(catalog, outTable).foldLeft(0)(math.max)
    val curKeys =
      catalog.listPartitions(epochTableName(outTable, cur), "batch_id")
    if (curKeys.contains(batchKey)) cur
    else if (cur > 0 &&
        catalog.listPartitions(epochTableName(outTable, cur - 1),
          "batch_id").contains(batchKey))
      cur - 1 // replay of the batch that crashed right after rolling
    else if (curKeys.count(_ != batchKey) >= epochEvery) cur + 1
    else cur
  }

  /** The full incremental output across every epoch table — what a
    * consumer reads where it previously read `outTable` directly. */
  def readOutput(catalog: TableCatalog, outTable: String): DataFrame = {
    val frames = (0 +: epochTablesOf(catalog, outTable)).distinct.sorted
      .map(k => epochTableName(outTable, k))
      .filter(catalog.tableExists)
      .map(catalog.read)
    // no epoch table exists yet (fresh warehouse, stream never ran):
    // defer to catalog.read's empty-table behavior (the `_schema`
    // anchor) instead of reduce-ing an empty sequence
    frames.reduceOption(_ unionByName _)
      .getOrElse(catalog.read(outTable))
  }

  /** Fingerprint-index state (round 12 — closes the per-batch linear
    * fp-column scan, the last stated O(state)-per-batch term): one row
    * `(id, fp)` per stored doc, bucketed by `pk = xxhash64(fp) mod
    * StatePartitions` with the band tables' granularity-aware layout.
    * The exact-dedup gate reads ONLY the buckets this batch's own
    * fingerprints hash into (fp equality implies pk equality, so the
    * pruning loses no twin) instead of scanning the whole sketch
    * table's fp column — on a 10¹⁰-doc state that scan was linear in
    * the corpus every batch, however small the batch. */
  private val FpState = PkTable("_fp", FpDataSchema, fpPkCol(col("fp")),
    pkStored = true, Seq("id"))

  private def fpPkCol(f: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(f), lit(StatePartitions.toLong))

  /** Edge cap for the driver-side merge-graph fast path. 1M edges of
    * two longs is ~16 MB of driver memory — far past any real batch's
    * merge graph, whose nodes are component LABELS (touched
    * components, not docs). */
  val MergeGraphCap = 1 << 20

  /** Largest candidate-id set pushed into the sketch fetch's `id IN`
    * filter (parquet row-group pruning over the sorted-by-id pk
    * files); past it the literal list costs more to plan than it
    * prunes and the pk-directory pruning stands alone. */
  val IsinCap = 1 << 16

  /** The driver caps of a micro-batch. A batch of at most
    * [[DriverVerifyIdCap]] gated, batch-deduped docs whose band keys
    * collide with at most [[DriverVerifyPairCap]] stored band rows (and
    * whose fingerprints match at most [[MergeGraphCap]] stored `_fp`
    * rows) — the common small-batch-on-big-state shape — stays on the
    * driver from the exact-dedup gate through the state writes
    * ([[driverBatch]]): its rows and fingerprints arrive in ONE job
    * that also counts them, it is signed on the driver by the kernel
    * [[MinHashLSH.signatureFrame]] runs ([[MinHashLSH.Signer]]), the
    * colliding stored `_fp` and `_bands` rows arrive in ONE more job
    * ([[seenState]]), the gate and the near-dup cascade run over those
    * rows ([[driverCascade]]: the same scalar kernels the distributed
    * cascade uses — [[MinHashLSH.pairVerifies]] over the shared
    * [[graft.sim.SetVerify]] kernels — so the paths cannot drift), and
    * the sketch, `_bands` and `_fp` rows are written from local
    * relations. That replaces the anti-join, signature, forced-pair and
    * internal/cross cascade jobs where the data is kilobytes anyway.
    * Over either cap the batch runs distributed from the gate on
    * ([[distributedBatch]]), its jobs labelled with why; that cascade's
    * cross verify still takes a driver fast path when its candidates
    * fit the same caps. The pair cap bounds collected stored band rows
    * (~1 KB each on the driver, and at most one sketch fetched per
    * row): 1024, because on a template-correlated corpus the colliding
    * rows grow with the state — the perfbench chain's 4–12-doc gated
    * batches collided with 115–260 stored rows over batches 12–20, so
    * 256 sent some of them down the distributed path. It counts
    * colliding rows, not the far fewer that survive the agreement
    * floor. */
  val DriverVerifyIdCap = 64
  val DriverVerifyPairCap = 1024

  /** Capped connected components over a pair frame — the per-batch
    * component machinery shared by the internal near-dup graph and
    * the contracted cross-batch merge graph. Up to [[MergeGraphCap]]
    * edges it resolves with ONE collect + driver union-find, and the
    * result is a LOCAL relation downstream joins broadcast — against
    * the iterative CC loop this removes ~6 rounds × several AQE stage
    * jobs per batch (measured at sf0.1, most of dp03's job count);
    * beyond the cap it falls back to the distributed pointer-jumping
    * operator (there `pairs` is evaluated a second time — the capped
    * probe already consumed it once — so callers fence the frame in
    * that branch when re-derivation is expensive). Output (node
    * `__node`, component minimum `__m`), identical on both paths;
    * None for an edgeless input — decided driver-side on the capped
    * path, so the common empty case costs no extra emptiness job. */
  private def cappedComponents(pairs: DataFrame, aCol: String,
                               bCol: String): Option[DataFrame] = {
    val spark = pairs.sparkSession
    val capped = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .limit(MergeGraphCap + 1).collect()
    if (capped.length > MergeGraphCap)
      Some(Dedup.connectedComponents(pairs, aCol, bCol)
        .select(col("id").as("__node"), col("label").as("__m")))
    else driverComponents(spark, capped.toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))))
  }

  /** [[cappedComponents]]' driver union-find over collected edges:
    * (`__node`, `__m`) as a local relation, None for no edges. */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Seq[(Long, Long)]): Option[DataFrame] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    // union by value: the smaller root wins, so every component's
    // root IS its minimum label — the same fixpoint the distributed
    // loop reaches
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toArray.distinct
    if (nodes.isEmpty) None
    else {
      import spark.implicits._
      Some(nodes.map(n => (n, find(n))).toSeq.toDF("__node", "__m"))
    }
  }

  /** [[pkCol]] of one band key on the driver: `xxhash64` (seed 42) of
    * its UTF-8 bytes, `pmod` [[StatePartitions]]. */
  private[graft] def bandKeyPk(key: String): Long = Math.floorMod(
    XXH64.hashUTF8String(UTF8String.fromString(key), 42L),
    StatePartitions.toLong)

  /** [[emitPkCol]] of one long id on the driver. */
  private[graft] def idPk(id: Long): Long =
    Math.floorMod(XXH64.hashLong(id, 42L), StatePartitions.toLong)

  private[graft] def intOf(r: Row, i: Int): java.lang.Integer =
    if (r.isNullAt(i)) null else Int.box(r.getInt(i))

  private[graft] def sigOf(r: Row, i: Int): Array[java.lang.Long] =
    if (r.isNullAt(i)) null
    else r.getSeq[Any](i).map(_.asInstanceOf[java.lang.Long]).toArray

  private[graft] def sketchOf(r: Row, sh: Int,
      sb: Int): MinHashLSH.DriverSketch =
    MinHashLSH.driverSketch(
      if (r.isNullAt(sh)) null else r.getSeq[Long](sh),
      if (r.isNullAt(sb)) null else r.getSeq[Long](sb))

  /** The (sh, sb) sketches of `ids` among `df`'s rows, collected in one
    * job labelled `verify fetch`. */
  private def fetchSketches(df: DataFrame, ids: Seq[Long],
      batchKey: String): Map[Long, MinHashLSH.DriverSketch] =
    jd(df.sparkSession, s"b$batchKey verify fetch") {
      df.filter(col("id").isin(ids: _*))
        .select(col("id"), col("sh"), col("sb")).collect() }
      .map(r => r.getLong(0) -> sketchOf(r, 1, 2)).toMap

  /** The stored rows a driver-path batch is checked against: `_fp`
    * rows (id, fp) matching its fingerprints and `_bands` rows colliding
    * with its band keys. */
  private final case class SeenState(fp: Seq[(Long, String)],
                                     bands: Seq[MinHashLSH.BandRow])

  /** [[SeenState]] of a batch in ONE job labelled `seen state`: the
    * pk-pruned `_fp` rows filtered to `fp IN fps` and the pk-pruned
    * `_bands` rows filtered to `band_key IN keys`, brought back by one
    * [[Bounded.collect]]. None when more than [[MergeGraphCap]] fp rows
    * or [[DriverVerifyPairCap]] band rows match — the batch then runs
    * distributed. Rows with a null id are skipped: a null id matches
    * nothing in the distributed joins either. */
  private def seenState(catalog: TableCatalog, stateTable: String,
      batchKey: String, fps: Seq[String], fpPks: Set[Long],
      keys: Seq[String]): Option[SeenState] = {
    val fpRows =
      if (fps.isEmpty) None
      else prunedStateRead(catalog, FpState, stateTable, batchKey, fpPks)
        .map(_.filter(col("fp").isin(fps: _*)).select(col("id"), col("fp")))
    val bandRows =
      if (keys.isEmpty) None
      else prunedStateRead(catalog, BandsState, stateTable, batchKey,
          keys.map(bandKeyPk).toSet)
        .map(_.filter(col("band_key").isin(keys: _*)))
    val Seq(fp, bands) = jd(catalog.spark, s"b$batchKey seen state") {
      Bounded.collectPresent(Seq(fpRows -> MergeGraphCap,
        bandRows -> DriverVerifyPairCap)) }
    if (fp.n > MergeGraphCap || bands.n > DriverVerifyPairCap) None
    else Some(SeenState(
      fp.rows.toSeq.filterNot(_.isNullAt(0))
        .map(r => (r.getLong(0), r.getString(1))),
      bands.rows.toSeq.filterNot(_.isNullAt(0))
        .map(r => MinHashLSH.BandRow(r.getLong(0), intOf(r, 1), sigOf(r, 2),
          r.getInt(3), r.getString(4)))))
  }

  /** The near-dup cascade on the driver over a driver-path batch's
    * signed docs: `sketches` (id → (sh, sb)) and their band rows
    * `newBands`, against the colliding stored band rows `seen`.
    * Internal pairs band, prune and verify among the new docs; cross
    * pairs join them with `seen` and verify against ONE pruned fetch of
    * the seen side's sketches (`verify fetch`, the only job). The math
    * and null rules are the distributed cascade's
    * ([[MinHashLSH.driverSurvivors]], [[MinHashLSH.pairVerifies]]).
    * Returns (internal pairs, cross pairs). */
  private def driverCascade(catalog: TableCatalog, stateTable: String,
      batchKey: String, sketches: Map[Long, MinHashLSH.DriverSketch],
      newBands: Seq[MinHashLSH.BandRow], seen: Seq[MinHashLSH.BandRow],
      threshold: Double, geom: graft.sim.LshGeometry)
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val internal = MinHashLSH.driverVerify(
      MinHashLSH.driverSurvivors(newBands, newBands, threshold, geom,
        selfJoin = true),
      sketches.get, sketches.get, threshold)
    val cand = MinHashLSH.driverSurvivors(newBands, seen, threshold,
      geom, selfJoin = false)
    val cross =
      if (cand.isEmpty) Nil
      else {
        val ids = cand.map(_._2).distinct
        val seenSk = readSketchBatches(catalog, stateTable,
            catalog.listPartitions(stateTable, "batch_id")
              .filter(_ != batchKey),
            Some(ids.map(idPk).toSet))
          .fold(Map.empty[Long, MinHashLSH.DriverSketch])(
            fetchSketches(_, ids, batchKey))
        MinHashLSH.driverVerify(cand, sketches.get, seenSk.get, threshold)
      }
    (internal, cross)
  }

  /** What steps 3–5 hand the rest of a batch, on either path: the docs
    * that passed the exact-dedup gate (doc_id, text, lang), their
    * internal near-dup components, the cross pairs as driver rows (up
    * to [[MergeGraphCap]] + 1, `overCap` past it, `crossPairs`
    * re-deriving their frame), and the rows of the three per-doc state
    * writes with the count that picks their layout. */
  private final case class GatedBatch(newDocs: DataFrame,
      labels: Option[DataFrame], pairRows: Array[(Long, Long)],
      overCap: Boolean, crossPairs: () => DataFrame, nNew: Long,
      sketchRows: DataFrame, bandRows: DataFrame, fpRows: DataFrame)

  /** Steps 3–5 on the driver for a batch whose rows `rows` (doc_id,
    * text, lang, fp) all arrived, already signed (`signed`, in row
    * order) and checked against `seen`:
    *  - the gate: a stored fp twin with id <= doc_id drops the doc, one
    *    with a larger id becomes a FORCED pair; a null fp or id matches
    *    nothing (the distributed joins' null rules);
    *  - the cascade ([[driverCascade]]) over the surviving docs;
    *  - the sketch, `_bands` and `_fp` rows and the surviving docs as
    *    local relations, in the distributed frames' schemas (`sig`
    *    keeps its [[MinHashLSH.NumPermMetaKey]], so the sketch footer
    *    records the width). */
  private def driverBatch(catalog: TableCatalog, stateTable: String,
      batchKey: String, docSchema: StructType, rows: Seq[Row],
      signed: Seq[MinHashLSH.Signed], seen: SeenState, threshold: Double,
      geom: graft.sim.LshGeometry): GatedBatch = {
    val spark = catalog.spark
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    def idOf(r: Row): Option[Long] =
      if (r.isNullAt(0)) None else Some(r.getAs[Number](0).longValue)
    def fpOf(r: Row): Option[String] = Option(r.getString(3))
    val stored = seen.fp.groupBy(_._2).map { case (f, ps) => f -> ps.map(_._1) }
    def twins(r: Row): Seq[(Long, Long)] = (for {
      id <- idOf(r); f <- fpOf(r); ss <- stored.get(f)
    } yield ss.map(id -> _)).getOrElse(Nil)
    val gated = rows.zip(signed).filterNot { case (r, _) =>
      twins(r).exists { case (id, s) => s <= id } }
    val forced = gated.flatMap { case (r, _) =>
      twins(r).filter { case (id, s) => s > id } }
    val signedIds = gated.flatMap { case (r, s) => idOf(r).map(_ -> s) }
    val (internal, cross) = driverCascade(catalog, stateTable, batchKey,
      signedIds.map { case (id, s) => id ->
        MinHashLSH.driverSketch(s.sh, MinHashLSH.driverBottomK(s.sh)) }.toMap,
      signedIds.flatMap { case (id, s) =>
        MinHashLSH.driverBands(id, s.n, s.sig, geom) },
      seen.bands, threshold, geom)
    val pairs = (cross ++ forced).distinct.toArray
    val idType = docSchema("doc_id").dataType
    val longs = ArrayType(LongType, true)
    val sig = new StructType().add("sig", longs, true,
      MinHashLSH.sigMeta(geom.numPerm))("sig")
    def local(schema: StructType, rs: Seq[Row]): DataFrame =
      spark.createDataFrame(rs.asJava, schema)
    GatedBatch(
      // one partition, so the output partition derived from it is one
      // file (a local relation spreads over up to defaultParallelism)
      newDocs = local(docSchema, gated.map { case (r, _) =>
        Row(r.get(0), r.get(1), r.get(2)) }).coalesce(1),
      labels = driverComponents(spark, internal),
      // complete on the driver: the merge step re-joins them locally
      pairRows = pairs, overCap = false,
      crossPairs = () => pairs.toSeq.toDF("doc_a", "doc_b"),
      nNew = gated.length,
      sketchRows = local(new StructType().add("id", idType)
          .add("fp", StringType).add("sh", longs).add("n", IntegerType)
          .add(sig).add("sb", longs),
        gated.map { case (r, s) => Row(r.get(0), r.get(3), s.sh, s.n,
          s.sig, MinHashLSH.driverBottomK(s.sh)) }),
      bandRows = local(new StructType().add("id", idType)
          .add("n", IntegerType).add(sig).add("band_idx", IntegerType)
          .add("band_key", StringType),
        // every surviving doc's band rows, a null id included
        gated.flatMap { case (r, s) =>
          MinHashLSH.driverBands(0L, s.n, s.sig, geom)
            .map(b => Row(r.get(0), b.n, b.sig, b.idx, b.key)) }),
      fpRows = local(new StructType().add("id", idType)
          .add("fp", StringType),
        gated.map { case (r, _) => Row(r.get(0), r.get(3)) }))
  }

  /** Steps 3–5 distributed — the path of a batch over a driver cap.
    * Exact re-arrivals by stored fingerprint come from the pk-bucketed
    * `_fp` index pruned to the batch's fp buckets `fpPks`. Two
    * consumers, one read:
    *  - a twin whose stored id is <= the arrival's drops at the
    *    anti-join (ascending feeds: every re-delivery, as always);
    *  - a twin whose stored id is LARGER becomes a FORCED merge pair
    *    injected into the cross-pair graph (round 12, replacing round
    *    11's route through the LSH cascade: fp hashes only a text
    *    PREFIX, so fp-equality does not guarantee a verifiable J >= t
    *    pair — a prefix-sharing divergent body, or a sub-shingle-length
    *    doc, would never verify and the dethroned stored copy would
    *    survive as a duplicate. The forced edge makes the dethronement
    *    unconditional — exactly dp01's keep-smallest-id-per-fp rule.)
    * No stored bucket colliding skips the anti-join entirely. The
    * survivors are shingled and signed once and banded against their
    * own bands and the stored ones ([[distributedCascade]]). Frames it
    * persists join `release`. */
  private def distributedBatch(catalog: TableCatalog, stateTable: String,
      batchKey: String, state: DataFrame, fpPks: Set[Long],
      localDeduped: DataFrame,
      release: scala.collection.mutable.ListBuffer[DataFrame],
      threshold: Double, geom: graft.sim.LshGeometry): GatedBatch = {
    val spark = catalog.spark
    val seenFp =
      if (state == null) None
      else prunedStateRead(catalog, FpState, stateTable, batchKey, fpPks)
    val seenFpCols = seenFp.map(_.select(col("fp").as("__seen_fp"),
      col("id").as("__seen_id")))
    // (fencing plans the frame, and planning starts its broadcast jobs)
    val newDocs = jd(spark, s"b$batchKey new docs") {
      graft.core.Fence(seenFpCols.fold(localDeduped)(sf =>
        localDeduped.join(sf,
          fp === col("__seen_fp") && col("__seen_id") <= col("doc_id"),
          "left_anti"))) }
    val fpForced = seenFpCols.map(sf => newDocs.join(sf,
        fp === col("__seen_fp") && col("__seen_id") > col("doc_id"))
      .select(col("doc_id").cast("long").as("doc_a"),
        col("__seen_id").cast("long").as("doc_b"))).orNull
    val newSigs = jd(spark, s"b$batchKey signatures") {
      graft.core.Fence(
        MinHashLSH.signatureFrame(newDocs, "doc_id", "text", 3, geom)
          .withColumn("sb", MinHashLSH.bottomKCol(col("sh")))) }
    val newSk = newSigs.select(col("id"), col("sh"), col("n"),
      col("sig"), col("sb"))
    // the exact row count — the write section's layout choice — in a
    // job that also materializes the checkpoint EAGERLY, before the
    // write lanes fan out over it: concurrent first-touch of a lazy
    // checkpoint can compute partitions twice (block-level dedup races
    // — the bench's "already cached" WARNs)
    val nSigs = jd(spark, s"b$batchKey signatures count") { newSk.count() }
    // the sig-carrying band frame: the cascade's input and the `_bands`
    // write's rows
    val newBands = MinHashLSH.bandFrameWithSig(newSigs, geom)
    val (labels, pairRows, overCap, crossPairs) = distributedCascade(
      spark, catalog, stateTable, batchKey, state, newSk, newBands,
      fpForced, threshold, geom)
    val fpRows = newDocs.select(col("doc_id").as("id"), fp.as("fp"))
    GatedBatch(newDocs, labels, pairRows, overCap, crossPairs, nSigs,
      sketchRows = newSigs.join(fpRows, Seq("id"))
        .select(col("id"), col("fp"), col("sh"), col("n"), col("sig"),
          col("sb")),
      bandRows = newBands, fpRows = fpRows)
  }

  /** [[distributedBatch]]'s near-dup cascade. Returns
    * (internal components, cross pairs collected up to MergeGraphCap +
    * 1, whether they were over it, their frame). */
  private def distributedCascade(spark: org.apache.spark.sql.SparkSession,
      catalog: TableCatalog, stateTable: String, batchKey: String,
      state: DataFrame, newSk: DataFrame,
      newBands: DataFrame, fpForced: DataFrame, threshold: Double,
      geom: graft.sim.LshGeometry)
      : (Option[DataFrame], Array[(Long, Long)], Boolean, () => DataFrame) = {
    import spark.implicits._
    // the fused floor (collidedSurvivors): the size prune + agreement
    // floor filter inside the band join's own stage, so the per-batch
    // shuffle is linear in band rows — at scale the stored corpus's
    // band side is the big one, and this is exactly the shape that
    // keeps it from re-joining per candidate.
    // Internal pairs are new×new: their sample/verify fetches touch
    // only this batch's sketches, never the state (labelled: building
    // the verify frame plans it, which starts its broadcast jobs)
    val internalLabel = s"b$batchKey internal pairs + components"
    val internal = jd(spark, internalLabel) {
      MinHashLSH.verifySurvivors(
          MinHashLSH.collidedSurvivors(newBands, newBands, threshold,
            geom, selfJoin = true),
          newSk, threshold, sb = Some(newSk.select(col("id"), col("sb"))))
        .select(col("doc_a"), col("doc_b")) }
    val crossPairs: DataFrame =
      if (state == null) null
      else jd(spark, s"b$batchKey cross pairs") {
        // the seen corpus's sig-carrying band rows: the `_bands` table
        // pruned to the `pk` sub-partitions this batch's own band keys
        // hash into — a list bounded by [[StatePartitions]]; since `pk`
        // is a function of `band_key`, pruning by the new side's pk set
        // loses no colliding pair
        val seenBands = jd(spark, s"b$batchKey seen bands") {
          prunedStateRead(catalog, BandsState, stateTable, batchKey,
              newBands.select(pkCol.as("pk")).distinct()
                .collect().map(_.getLong(0)).toSet)
            .getOrElse(newBands.limit(0)) }
        // the verify stage fetches `sh` arrays for the SEEN side of
        // every candidate pair. Collect the candidates (band join +
        // agreement floor — the cheap prefix of the cascade, NOT the
        // array verify) up to the merge cap, with each seen id's sketch
        // pk riding along in the same job; the fetch then reads only
        // the colliding pk DIRECTORIES of the pk-split sketch
        // partitions, and inside them only the row groups the
        // (sorted-by-id) candidate id IN-filter survives —
        // metadata-scale, where the round-12 first cut (pk set of every
        // id in colliding band BUCKETS) saturated all 64 buckets on any
        // batch with a few hundred collisions and pruned nothing (the
        // former ProbeSketch measured split slower than plain). The
        // verify re-joins the collected pairs as a broadcast LOCAL
        // relation, so the cascade prefix still runs once. Over the cap
        // — a pathological mass-collision batch — the cascade
        // re-derives distributed against the full state, the same
        // fallback shape as [[cappedComponents]].
        val cand = MinHashLSH.collidedSurvivors(newBands, seenBands,
          threshold, geom, selfJoin = false)
        val candRows = jd(spark, s"b$batchKey cross candidates") { cand
          .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
            emitPkCol(col("doc_b")).as("__pk"))
          .limit(MergeGraphCap + 1).collect() }
        def verifyAgainst(pairs: DataFrame, seen: DataFrame): DataFrame = {
          val sigs = newSk.unionByName(seen.select(col("id"), col("sh"),
            col("n"), col("sig"), col("sb")))
          MinHashLSH.verifySurvivors(pairs, sigs, threshold,
              sb = Some(sigs.select(col("id"), col("sb"))))
            .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        }
        val verified =
          if (candRows.length > MergeGraphCap) verifyAgainst(cand, state)
          else if (candRows.isEmpty)
            // nothing survived the floor: no cross verify at all
            null
          else {
            val ids = candRows.map(_.getLong(1)).distinct
            val aIds = candRows.map(_.getLong(0)).distinct
            val ipks = candRows.map(_.getLong(2)).toSet
            val fetched = readSketchBatches(catalog, stateTable,
                catalog.listPartitions(stateTable, "batch_id")
                  .filter(_ != batchKey),
                Some(ipks))
              .map { f =>
                // the IN pushdown prunes row groups; past the cap the
                // literal list costs more than it prunes and the
                // directory pruning stands alone
                if (ids.length <= IsinCap)
                  f.filter(col("id").isin(ids.toIndexedSeq: _*))
                else f
              }
              .getOrElse(state)
            if (candRows.length <= DriverVerifyPairCap &&
                ids.length <= DriverVerifyIdCap &&
                aIds.length <= DriverVerifyIdCap) {
              // driver fast path (see [[DriverVerifyIdCap]]): two
              // bounded array collects, then the one per-pair check the
              // driver cascade runs ([[MinHashLSH.pairVerifies]]) — no
              // distributed prune/verify joins for a metadata-scale
              // candidate set
              val kept = MinHashLSH.driverVerify(
                candRows.toSeq.map(r => (r.getLong(0), r.getLong(1))),
                fetchSketches(newSk, aIds.toSeq, batchKey).get,
                fetchSketches(fetched, ids.toSeq, batchKey).get,
                threshold)
              if (kept.isEmpty) null
              else kept.toDF("doc_a", "doc_b")
            } else
              verifyAgainst(candRows
                .map(r => (r.getLong(0), r.getLong(1))).toSeq
                .toDF("doc_a", "doc_b"), fetched)
          }
        (verified, fpForced) match {
          case (null, null) => null
          case (null, f) => f.distinct()
          case (v, null) => v.distinct()
          case (v, f) => v.unionByName(f).distinct()
        }
      }
    // component resolution within the batch — the capped driver
    // union-find ([[cappedComponents]]): a batch's internal near-dup
    // graph is metadata-scale in the common case; a pathological
    // mass-dup batch falls back to the distributed operator. Run after
    // the cross cascade, not as a concurrent lane beside it: on dp03 at
    // sf0.1 (4 cores, min of two, two runs each) the lane measured
    // 39.3/37.5 s against 31.5/30.5 s in sequence.
    val labels = jd(spark, internalLabel) {
      cappedComponents(internal, "doc_a", "doc_b") }
    // the capped PAIR collect is the one action on the cross cascade
    // (round 11): a merge-bearing batch re-joins the collected pairs as
    // a LOCAL relation, so the cascade evaluates exactly once
    val pairRows: Array[(Long, Long)] =
      if (crossPairs == null) Array.empty
      else jd(spark, s"b$batchKey cross verify") {
        crossPairs.limit(MergeGraphCap + 1).collect()
          .map(r => (r.getLong(0), r.getLong(1))) }
    (labels, pairRows,
      pairRows.length > MergeGraphCap, () => crossPairs)
  }

  /** Each id's latest-`b` label row among `rows` (id, lbl, b). */
  private def latestLabels(rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("b").desc)
    rows.select(col("id"), col("lbl"), col("b"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Current (latest-wins) label per stored doc, or null when no label
    * state exists yet. */
  private def currentLabels(catalog: TableCatalog, stateTable: String,
                            batchKey: String): DataFrame = {
    val lblTable = lblTableOf(stateTable)
    if (!catalog.tableExists(lblTable)) null
    else latestLabels(catalog.read(lblTable, LblSchema)
        .filter(col("batch_id").cast("string") =!= batchKey))
      .select(col("id"), col("lbl"))
  }

  /** The ADVICE-r7 guard: a state table written at another threshold's
    * geometry would zip_with-null-pad against this batch's signatures,
    * cap agreement below the floor, and silently drop every cross-batch
    * candidate — dedup against the seen corpus would return nothing.
    * Fail loudly at batch start instead. The stored width is the
    * [[MinHashLSH.NumPermMetaKey]] the sketch read restores from the
    * partitions' footers ([[requireCurrentFormat]]), so the guard costs
    * no Spark job. */
  private def requireCompatibleState(state: DataFrame,
      geom: graft.sim.LshGeometry, stateTable: String,
      threshold: Double): Unit =
    MinHashLSH.sigWidthOf(state).foreach { w =>
      require(w == geom.numPerm,
        s"CorpusStream: state table '$stateTable' stores $w-perm MinHash " +
          s"signatures but threshold=$threshold derives a " +
          s"${geom.numPerm}-perm geometry (${geom.bands}x${geom.rows}) — " +
          "cross-batch near-dup detection would silently drop every " +
          "candidate. A threshold/geometry change requires a NEW state " +
          "table: stored sketches cannot be re-signed without the raw " +
          "text, which the state deliberately does not retain.")
    }

  // gate / fingerprint / sample definitions come from the shared
  // graft.text.CorpusPipeline object — the same one LlmQueries.dp01
  // reads — so the batch/streaming equality StreamingSpec asserts
  // cannot silently break by editing one side's constants
  private def gate(docs: DataFrame): DataFrame =
    CorpusPipeline.gate(docs)

  private def samplePredicate =
    CorpusPipeline.samplePredicate

  private def fp = md5(CorpusPipeline.fingerprintPrefix)

  /** Merge every committed batch partition of each state table (the
    * sketch and its `_bands`, `_fp`, `_lbl` and `_emit` siblings) into
    * ONE compacted partition per table (`batch_id=c<maxBatch>`),
    * deleting the sources — the periodic pass that keeps the state
    * tables' directory count (and so the per-batch listing cost) flat in
    * stream age. Row-content-neutral by construction: the target is the
    * exact union of the sources (latest-wins per id for the label
    * table), and every consumer (the `fp` gate, the band join, the
    * sketch fetch) reads the state by COLUMNS, not by which partition a
    * row lives in. `excludeBatchKey` (the in-flight batch)
    * is never touched, so replay idempotence is preserved: a compacted
    * partition only ever contains batches committed before the current
    * one started. A pk-bucketed target takes the live writes' layout
    * rule ([[PkSplitMinRows]], overridable by `pkSplitMinRows`): pk-split
    * once the folded rows reach the threshold, one plain file below it.
    *
    * Idempotent and crash-safe: the target key is a pure function of the
    * source keys (`c` + max numeric key — never equal to a real numeric
    * batch id), the target is written before any source is deleted, and
    * a re-run skips the rewrite ONLY when the target both exists and is
    * COMMITTED (`TableCatalog.partitionCommitted`: `_SUCCESS` present,
    * no `_temporary` staging) — a JVM death mid-write leaves a target
    * directory that exists but fails the probe, so the re-run rewrites
    * it from the still-present sources instead of trusting a half-write
    * and deleting the only complete copies. Each table compacts
    * independently with the same rule, so a crash between two tables'
    * passes heals on the next trigger: until then a table's rows sit
    * under their pre-fold keys, where reads that list every committed
    * partition find them. Returns true when anything moved.
    *
    * Concurrent writers (round 11): the whole pass runs under the
    * state table's lease lock ([[TableCatalog.tryAcquireTableLock]] —
    * one lock covers the sibling tables, which are only ever mutated
    * through this state table's pipeline). A second pipeline compacting
    * the same state concurrently — the interleaving that could delete a
    * source the other pass still reads — is SKIPPED safely (returns
    * false): compaction is periodic, so deferring to the lock holder
    * loses nothing, and a crashed holder's lock ages out after the
    * lease.
    *
    * `failpoint` is a test-only hook, invoked with a stage label after
    * each target write commits and before its sources are deleted;
    * StreamingSpec throws from it to simulate the crash windows. */
  def compactState(catalog: TableCatalog, stateTable: String,
                   excludeBatchKey: String,
                   failpoint: String => Unit = _ => (),
                   pkSplitMinRows: Long = PkSplitMinRows): Boolean =
    // heartbeated hold (round 13): a compaction over a huge state can
    // outlive the 15-min lease; the bare acquire would let a waiter
    // break the lock mid-rewrite
    catalog.withTableLockIfFree(stateTable) {
      compactStateLocked(catalog, stateTable, excludeBatchKey, failpoint,
        pkSplitMinRows)
    }.getOrElse(false)

  private def compactStateLocked(catalog: TableCatalog, stateTable: String,
                                 excludeBatchKey: String,
                                 failpoint: String => Unit,
                                 pkSplitMinRows: Long): Boolean = {
    def numOf(key: String): Option[Long] =
      scala.util.Try(key.stripPrefix("c").toLong).toOption
    def sourcesOf(table: String): Seq[String] =
      if (!catalog.tableExists(table)) Seq.empty
      else catalog.listPartitions(table, "batch_id")
        .filter(k => k != excludeBatchKey && numOf(k).isDefined)
    // The by-key dedup each fold carries exists for ONE crash shape: a
    // prior compaction committed its `c` target, crashed before source
    // deletion, and the stranded target (a superset of those sources)
    // now sits beside them. That shape is detectable from the keys
    // alone: a `cK` source duplicates only sources it folded, i.e.
    // plain batch keys <= K, or an older `c` target. On every clean
    // path — all-plain sources (each id's row written by exactly one
    // batch; replays overwrite their own partition), or a re-fold of
    // one committed `cK` with only LATER batches — the union is
    // already duplicate-free and the dedup was a pure-overhead
    // exchange per fold, five per compaction pass (§2.4). The window
    // fold (lbl) is untouched: its latest-wins collapse is real work
    // on every path.
    def dedupIfStranded(df: DataFrame, srcs: Seq[String],
                        cols: Seq[String]): DataFrame = {
      val cNums = srcs.filter(_.startsWith("c")).flatMap(numOf(_))
      val plainNums = srcs.filterNot(_.startsWith("c")).flatMap(numOf(_))
      val stranded = cNums.size >= 2 ||
        cNums.exists(c => plainNums.exists(_ <= c))
      if (stranded) df.dropDuplicates(cols) else df
    }
    // One fold per table: `rewrite(srcs, key)` commits the target from
    // the sources, which are deleted after it. The rewrite reads the
    // sources only: a crashed half-written target is replaced wholesale
    // by the overwrite (its intended content was exactly this union —
    // sources are deleted strictly after the target commits, so they
    // are all still here).
    def fold(table: String, stage: String,
             rewrite: (Seq[String], String) => Unit): () => Boolean =
      () => jd(catalog.spark, s"compact $table") {
        val ks = sourcesOf(table)
        ks.size >= 2 && {
          val key = "c" + ks.flatMap(numOf).max
          val srcs = ks.filter(_ != key)
          if (!ks.contains(key) ||
              !catalog.partitionCommitted(table, "batch_id", key))
            rewrite(srcs, key)
          failpoint(s"$stage-target-written")
          srcs.foreach(catalog.deletePartition(table, "batch_id", _))
          true
        }
      }
    // the pk-bucketed tables: read shape-aware, dedup only a stranded
    // union, write through the one layout rule (a stale pk-split source
    // keeps the target split; plain sources are counted from footers)
    def foldPk(t: PkTable, stage: String) =
      fold(t.of(stateTable), stage, (srcs, key) =>
        readPkTable(catalog, t, stateTable, srcs, None).foreach(m =>
          writeState(catalog, t, stateTable, key,
            dedupIfStranded(m, srcs, t.dedupKeys),
            splitLayoutFor(catalog, t.of(stateTable), srcs,
              pkSplitMinRows))))
    // label table: rows are UPDATES (latest `b` wins per id), so the
    // compacted partition keeps exactly each id's highest-b row — the
    // union-then-latest a reader would compute anyway, materialized
    val lblTable = lblTableOf(stateTable)
    val foldLbl = fold(lblTable, "lbl", (srcs, key) =>
      catalog.writePartition(
        latestLabels(catalog.read(lblTable, LblSchema)
            .filter(col("batch_id").isin(srcs: _*)))
          .withColumn("batch_id", lit(key))
          .coalesce(1),
        lblTable, "batch_id", key))
    // The five folds touch DISJOINT tables (all mutated only under this
    // state table's lock, so the outer lock covers them all) and each is
    // a self-contained write-target-then-delete-sources unit whose crash
    // recovery never consults a sibling table. Run them as concurrent
    // lanes (guide §2.6): the chain gates' compaction pass is many small
    // serial jobs whose driver latency the lanes overlap — identical
    // final state in any interleaving.
    graft.core.Par.concurrently(Seq(
        foldPk(SketchState, "sketch"), foldPk(BandsState, "bands"),
        foldLbl, foldPk(EmitState, "emit"), foldPk(FpState, "fp")))
      .exists(identity)
  }

  /** One micro-batch through the full chain. Exposed (not inlined in
    * the foreachBatch closure) so the spec can drive batches directly
    * and assert intermediate semantics. `admit` is the row-local
    * admission policy, defaulting to dp01's language/quality gate —
    * pluggable so corpora with their own admission rules (or
    * pre-gated feeds, or scale probes whose perturbation defeats
    * langId) run the identical dedup/cluster/sample chain. */
  def processBatch(batch: DataFrame, catalog: TableCatalog,
                   stateTable: String, outTable: String, batchId: Long,
                   threshold: Double = CorpusPipeline.NearDupThreshold,
                   benchmark: Option[DataFrame] = None,
                   admit: DataFrame => DataFrame = gate,
                   pkSplitMinRows: Long = PkSplitMinRows,
                   compactEvery: Int = CompactEvery,
                   epochEvery: Int = 0): Unit =
    // outer label: AQE materializes exchanges as driver-side jobs at
    // plan-construction time (outside any single action) — the batch-
    // wide label catches those too; inner labels override per phase
    jd(batch.sparkSession, s"b$batchId chain") {
    withBatchAqe(batch.sparkSession) {
    processBatchInner(batch, catalog, stateTable, outTable, batchId,
      threshold, benchmark, admit, pkSplitMinRows, compactEvery,
      epochEvery)
    } }

  private def processBatchInner(batch: DataFrame, catalog: TableCatalog,
                   stateTable: String, outTable: String, batchId: Long,
                   threshold: Double,
                   benchmark: Option[DataFrame],
                   admit: DataFrame => DataFrame,
                   pkSplitMinRows: Long,
                   compactEvery: Int,
                   epochEvery: Int): Unit = {
    // the threshold-fitted band geometry (MinHashLSH.geometryFor) fixes
    // the stored signature width; requireCompatibleState (below, once
    // the state is opened) ENFORCES that this batch's derived width
    // matches what the table stores — a threshold/geometry change over
    // an existing state fails loudly instead of silently dropping every
    // cross-batch candidate
    val geom = MinHashLSH.geometryFor(threshold)
    val batchKey = batchId.toString
    // periodic state compaction BEFORE the state is opened: runs only on
    // committed earlier batches (the in-flight key is excluded), so a
    // replay of this batch sees the identical seen-corpus either way
    if (compactEvery > 0 && catalog.tableExists(stateTable) &&
        catalog.listPartitions(stateTable, "batch_id")
          .count(_ != batchKey) >= compactEvery)
      jd(batch.sparkSession, s"b$batchKey compactState") {
        compactState(catalog, stateTable, batchKey,
          pkSplitMinRows = pkSplitMinRows)
      }
    // 1. row-local gate + batch-local exact dedup (keep smallest id —
    //    the same rule dp01 applies globally); when a benchmark set is
    //    configured, decontaminate each batch against it before any
    //    state is written (eval-set leaks must never enter the corpus)
    val gated = benchmark match {
      case Some(b) => graft.text.Decontaminate
        .decontaminate(admit(batch), "doc_id", "text", b, "text")
      case None => admit(batch)
    }
    val localDeduped0 = Dedup.exactDedup(gated,
      CorpusPipeline.fingerprintPrefix, col("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"))
    // every frame persisted below is released in the finally — a
    // long-lived stream must not accumulate cached blocks batch over
    // batch
    val release = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
    // 2. sketch state from EARLIER batches (a replay of this batch
    //    excludes its own half-written partition, so reprocessing is
    //    idempotent end-to-end). Shape-aware lazy union (round 12 —
    //    batch partitions may be pk-split); only an over-cap cross
    //    cascade evaluates it fully, the other paths read pruned. The
    //    read refuses a state in an older format
    //    ([[requireCurrentFormat]]) before anything is written.
    //    A table whose only partition is this batch's own reads as
    //    null — the fresh-state path, which a batch-0 replay re-takes.
    val state =
      if (!catalog.tableExists(stateTable)) null
      else readSketchBatches(catalog, stateTable,
          catalog.listPartitions(stateTable, "batch_id")
            .filter(_ != batchKey),
          None).orNull
    if (state != null)
      requireCompatibleState(state, geom, stateTable, threshold)
    // persist the local batch: the batch collect below reads it, and a
    // batch that leaves the driver path reads it again
    val localDeduped = graft.core.Fence.soft(localDeduped0)
    release += localDeduped
    val spark = batch.sparkSession
    // 3. the exact-dedup gate's inputs. ONE job ([[Bounded.collect]],
    //    `batch collect`) brings the batch's exact size, its first
    //    DriverVerifyIdCap + 1 rows per partition with their
    //    fingerprints, and the fp pk buckets the gate's `_fp` read
    //    prunes to on either path (fp equality implies pk equality, so
    //    the pruning loses no twin).
    val Seq(collected) = jd(spark, s"b$batchKey batch collect") {
      Bounded.collect(Seq(localDeduped.select(col("doc_id"), col("text"),
          col("lang"), fp.as("fp"), fpPkCol(fp).as("__pk")) ->
          DriverVerifyIdCap), key = Some(4)) }
    // 4. the gate, signatures and the near-dup cascade. A batch within
    //    [[DriverVerifyIdCap]] stays on the driver: it is signed here by
    //    the frame's own kernel ([[MinHashLSH.Signer]]), ONE more job
    //    ([[seenState]]) brings the stored fp twins and the stored band
    //    rows colliding with the keys of every collected doc (a superset
    //    of the gate's survivors'), and [[driverBatch]] runs the gate,
    //    the cascade ([[driverCascade]]) and builds step 6's rows as
    //    local relations. Past a cap, [[distributedBatch]] runs the
    //    same steps as Spark jobs, each labelled with why
    //    ([[FallbackKey]]). Either way the cross pairs arrive as driver
    //    rows (`pairRows`, up to MergeGraphCap + 1); `crossPairs`
    //    re-derives their frame for an over-cap batch only.
    val onDriver: Either[String, GatedBatch] =
      if (collected.n > DriverVerifyIdCap) Left("over id cap")
      else {
        val signer = new MinHashLSH.Signer(3, geom.numPerm,
          Array.emptyLongArray)
        val rows = collected.rows.toSeq
        val signed = rows.map(r => signer(r.getString(1)))
        val seen =
          if (state == null) Some(SeenState(Nil, Nil))
          else seenState(catalog, stateTable, batchKey,
            rows.flatMap(r => Option(r.getString(3))).distinct,
            collected.keys,
            signed.flatMap(s => MinHashLSH.driverBands(0L, s.n, s.sig, geom))
              .map(_.key).distinct)
        seen.map(driverBatch(catalog, stateTable, batchKey,
            localDeduped.schema, rows, signed, _, threshold, geom))
          .toRight("over pair cap")
      }
    val gb = onDriver.fold(why => {
        spark.sparkContext.setLocalProperty(FallbackKey, why)
        distributedBatch(catalog, stateTable, batchKey, state,
          collected.keys, localDeduped, release, threshold, geom)
      }, identity)
    val (newDocs, labelsOpt, pairRows) = (gb.newDocs, gb.labels,
      gb.pairRows)
    // 5. each new doc's component label from its internal near-dup
    //    components...
    val labeled = labelsOpt match {
      case None => newDocs.withColumn("label", col("doc_id"))
      case Some(l) => newDocs.join(
          l.select(col("__node").as("doc_id"), col("__m").as("label")),
          Seq("doc_id"), "left")
        .withColumn("label", coalesce(col("label"), col("doc_id")))
    }
    // 5b. ...then CONVERGENT MERGING across batches (round 10 — closes
    //     the late-bridge divergence from batch clusterDedup): each
    //     cross pair is an edge between this batch's component LABEL
    //     and the seen doc's current component label (member docs
    //     resolve through the label state), a contracted-graph CC over
    //     those few labels finds each merged component's true canonical
    //     (the minimum of the involved canonical ids), and
    //       - a new doc survives iff it IS its merged canonical (under
    //         the ascending-id ingestion contract the canonical of a
    //         merged component is always an earlier doc, so this
    //         reduces to the old "touching seen means death" rule —
    //         but an out-of-order feed now elects the new doc when its
    //         id is smallest);
    //       - a previously EMITTED canonical that loses its crown is
    //         RETRACTED: its output partition is rewritten without it
    //         (idempotent — replaying the batch re-derives the same
    //         retraction set and the anti-join is a no-op the second
    //         time). Labels only ever decrease, so a once-dropped doc
    //         can never need re-admission.
    // An empty pairRows — the common batch, where band collisions exist
    // but nothing verifies — short-circuits ALL merge bookkeeping
    // including the label-state read and its window (the
    // unconditional-convergence overhead ADVICE r10 measured at ~14%
    // per merge-free batch). A merge-bearing batch re-joins the
    // collected pairs as a broadcast-sized LOCAL relation, so the
    // label joins run against a tiny build side. Over [[MergeGraphCap]]
    // pairs (a pathological mass-merge batch) the pair frame is
    // re-derived distributed — fenced, so the CC fallback consumes it
    // once.
    val curLbls =
      if (pairRows.isEmpty) null
      else currentLabels(catalog, stateTable, batchKey)
    val mr: DataFrame = if (pairRows.isEmpty) null else {
      val spark = batch.sparkSession
      import spark.implicits._
      val pairsSrc =
        if (!gb.overCap) pairRows.toSeq.toDF("doc_a", "doc_b")
        else { val f = graft.core.Fence.soft(gb.crossPairs())
               release += f; f }
      val la = pairsSrc
        .join(labeled.select(col("doc_id").as("__na"), col("label")),
          col("doc_a") === col("__na"))
        .select(col("label").as("la"), col("doc_b"))
      val edges =
        if (curLbls == null) la.select(col("la"), col("doc_b").as("lb"))
        else la.join(curLbls.withColumnRenamed("id", "__sb"),
            col("doc_b") === col("__sb"), "left")
          .select(col("la"), coalesce(col("lbl"), col("doc_b")).as("lb"))
      jd(spark, s"b$batchKey merge components") {
        cappedComponents(edges, "la", "lb") } match {
        case None => null
        case Some(m) =>
          val f = graft.core.Fence.soft(m); release += f; f
      }
    }
    val labeled2 =
      if (mr == null) labeled.withColumn("__fl", col("label"))
      else labeled.join(mr, col("label") === col("__node"), "left")
        .withColumn("__fl", coalesce(col("__m"), col("label")))
        .drop("__node", "__m")
    val kept = labeled2.filter(col("doc_id") === col("__fl"))
      .drop("label", "__fl")
    // dethroned canonicals leave the output before this batch commits.
    // Affected partitions come from the pk-pruned EMIT INDEX (round 11
    // — [[EmitState]]), are read by explicit path, and rewrite
    // in ONE dynamic-overwrite job under the output table's writer
    // lock — a per-partition loop pays one serial Spark job per
    // directory (measured ~100 s/batch on a merge-heavy run of the
    // former ProbeStream), and an unlocked rewrite window is where a
    // second pipeline writing the same table could interleave its own
    // deletes.
    if (mr != null && catalog.tableExists(outTable)) {
      // no emptiness probe needed: every merge edge joins two distinct
      // labels, so mr != null guarantees a dethroned node; whether any
      // of them is actually IN the output is what `affected` answers
      val retr = graft.core.Fence.soft(
        mr.filter(col("__m") =!= col("__node"))
          .select(col("__node").as("__r")))
      release += retr
      jd(batch.sparkSession, s"b$batchKey retract") {
        retractFromOutput(catalog, stateTable, outTable, batchKey, retr)
      }
    }
    // 6. every new doc's sketch (kept or cluster-dropped) joins the
    //    state — dropped docs still bridge future arrivals — beside its
    //    pre-banded rows (bucketed by band key, so later batches prune
    //    their cross join at the storage layer) and its fingerprint
    //    (bucketed by fp, for the exact-dedup gate). A driver-path
    //    batch's rows are local relations; a distributed one's come off
    //    its signature checkpoint. All three take [[writeState]]'s
    //    granularity-aware layout: the sketch's pk-split dirs let the
    //    cross-verify `sh` fetch above prune at the directory level, and
    //    a small batch stays one file sorted by id (round 13: the
    //    distributed sketch rows come off a shuffle join, and the
    //    unfused write left ~32 hash-scattered files whose row-group id
    //    spans covered the whole partition).
    def writeLane(t: PkTable, label: String, rows: DataFrame,
                  split: Boolean): () => Unit = () =>
      jd(spark, s"b$batchKey write $label") {
        writeState(catalog, t, stateTable, batchKey, rows, split) }
    val writeSketch = writeLane(SketchState, "sketch", gb.sketchRows,
      gb.nNew >= pkSplitMinRows)
    val writeBands = writeLane(BandsState, "bands", gb.bandRows,
      gb.nNew * geom.bands >= pkSplitMinRows)
    val writeFp = writeLane(FpState, "fp", gb.fpRows,
      gb.nNew >= pkSplitMinRows)
    // 6b. label-state updates (see [[lblTableOf]]): new member docs of
    //     multi/merged components, dethroned canonicals, and stored
    //     members whose component merged — one latest-wins row each.
    //     Only written when non-empty, so a merge-free stream never
    //     grows a label table at all.
    val lblRows = {
      val newMembers = labeled2.filter(col("__fl") =!= col("doc_id"))
        .select(col("doc_id").as("id"), col("__fl").as("lbl"))
      if (mr == null) newMembers
      else {
        val ex = mr.filter(col("__m") =!= col("__node"))
        val exRows = ex.select(col("__node").as("id"),
          col("__m").as("lbl"))
        val memberRows =
          if (curLbls == null) exRows.limit(0)
          else curLbls.select(col("id"), col("lbl").as("__ol"))
            .join(ex.select(col("__node"), col("__m")),
              col("__ol") === col("__node"))
            .select(col("id"), col("__m").as("lbl"))
        newMembers.unionByName(exRows).unionByName(memberRows)
      }
    }
    // one row per id. The three sources can only ever AGREE on an id's
    // label (their id sets are pairwise disjoint by construction, and
    // overlap through multiple merge paths resolves to the same __m) —
    // so a conflict is a real invariant violation, surfaced by the
    // row-level assert during the write instead of being masked by an
    // arbitrary-pick dedup (ADVICE r10). Same single shuffle as the
    // dropDuplicates it replaces.
    val lblChecked = lblRows
      .groupBy(col("id"))
      .agg(min(col("lbl")).as("lbl"), max(col("lbl")).as("__mx"))
      .filter(coalesce(
        assert_true(col("lbl") === col("__mx"),
          concat(lit("CorpusStream: conflicting labels for doc "),
            col("id"), lit(": "), col("lbl"), lit(" vs "), col("__mx")))
          .cast("boolean"),
        lit(true)))
      .select(col("id"), col("lbl"))
    // write-emptiness is derivable without ANY action: any verified
    // pair makes a 2+ component (a non-canonical member row), and any
    // merge graph dethrones at least one node — so rows exist exactly
    // when the batch found internal pairs or a merge graph, both known
    // driver-side
    val writeLbl: () => Unit = () =>
      if (mr != null || labelsOpt.nonEmpty)
        jd(batch.sparkSession, s"b$batchKey write lbl") {
        catalog.writePartition(lblChecked
            .withColumn("b", lit(batchId))
            .withColumn("batch_id", lit(batchKey))
            .coalesce(1),
          lblTableOf(stateTable), "batch_id", batchKey)
        }
    // 7. sample + project; the emit-INDEX partition lands first — a
    //    crash between the two writes leaves an index row whose doc
    //    never reached the output (a harmless superset; the replay
    //    rewrites both) — then the output partition itself, into the
    //    current EPOCH table when rolling is on ([[resolveOutputEpoch]];
    //    eb addresses the partition across epochs)
    val outRows = graft.core.Fence.soft(
      kept.filter(samplePredicate)
        .select(col("doc_id"), col("lang"),
          size(TextHash.tokens(col("text"))).as("n_toks")))
    release += outRows
    val outEpoch = resolveOutputEpoch(catalog, outTable, batchKey,
      epochEvery)
    val writeEmit = writeLane(EmitState, "emit", outRows
        .select(col("doc_id").as("id"),
          lit(encodeEb(outEpoch, batchKey)).as("eb")),
      gb.nNew >= pkSplitMinRows)
    val writeEmitThenOut: () => Unit = () => {
      // in-lane ORDER preserved: the emit-index partition must commit
      // before the output partition (crash contract above)
      writeEmit()
      jd(batch.sparkSession, s"b$batchKey write out") {
      catalog.writePartition(
        outRows.withColumn("batch_id", lit(batchKey)),
        epochTableName(outTable, outEpoch), "batch_id", batchKey)
      }
    }
    // the five sinks above land in DISJOINT tables/partitions and every
    // consumer of a sibling table runs in a LATER batch — run them as
    // concurrent lanes (guide §2.6); the only ordered pair (emit before
    // out) stays sequential inside its lane. A crash now leaves an
    // arbitrary subset of partitions instead of a prefix; the replay
    // overwrites every one of them idempotently, exactly as before.
    graft.core.Par.concurrently(Seq(
      writeSketch, writeBands, writeFp, writeLbl, writeEmitThenOut))
    } finally {
      release.foreach(_.unpersist(false))
      batch.sparkSession.sparkContext.setLocalProperty(FallbackKey, null)
    }
  }

  /** Remove `retr`'s ids (column `__r`) from every output partition
    * holding them — the locked, one-dynamic-overwrite-job-per-table
    * rewrite both the merge-retraction path and [[removeDocs]] drive. */
  private def retractFromOutput(catalog: TableCatalog,
      stateTable: String, outTable: String, batchKey: String,
      retr: DataFrame): Unit = {
    val affected = affectedOutputPartitions(catalog, stateTable,
      outTable, batchKey, retr)
    // one lane per affected table — tables are disjoint (base + epoch
    // generations), each rewrite is self-contained under its own lock,
    // and at takedown scale each is a couple of small serial jobs
    // whose driver latency the lanes overlap (guide §2.6)
    graft.core.Par.concurrently(affected.map { case (tbl, keys) => () =>
      catalog.withTableLock(tbl) {
        // materialize before the self-overwrite: the rewritten rows
        // must not be read lazily from the files being replaced
        val keepRows = catalog.readPaths(tbl,
            keys.map(catalog.partitionPath(tbl, "batch_id", _)))
          .join(retr, col("doc_id") === col("__r"), "left_anti")
          .localCheckpoint(true)
        // dynamic overwrite replaces only partitions PRESENT in the
        // frame — a partition whose every row was retracted would
        // survive untouched, so the now-empty ones delete explicitly
        val surviving = keepRows
          .select(col("batch_id").cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
        if (surviving.nonEmpty)
          catalog.overwritePartitionsDynamic(keepRows, tbl,
            "batch_id")
        (keys.toSet -- surviving).foreach(
          catalog.deletePartition(tbl, "batch_id", _))
      }
    })
  }

  /** Operator-facing takedown for the streamed corpus: every given doc
    * id leaves the emitted output — base table and epoch tables alike,
    * located through the pk-pruned emit index and rewritten in the
    * same locked dynamic-overwrite jobs the merge-retraction path
    * uses, so the cost scales with the AFFECTED partitions, never the
    * corpus. Content removal, not history rewrite: the doc's state
    * rows (sketch, bands, fingerprint, label) deliberately REMAIN — it
    * keeps suppressing its near-duplicates, and a re-ingested copy of
    * the removed content still dies against the state instead of
    * resurrecting. (Re-admitting suppressed near-dupes would silently
    * change the corpus a consumer already trained on; if the cluster
    * itself must be reconsidered, re-run the batch pipeline over the
    * retained sources.) Idempotent — a second run, or an id that was
    * never emitted (a dropped duplicate, an unknown id), is a no-op. A
    * state in an older format is refused before any output is touched
    * ([[requireCurrentFormat]]). */
  def removeDocs(catalog: TableCatalog, stateTable: String,
                 outTable: String, ids: DataFrame,
                 idCol: String = "doc_id"): Unit = {
    // an id that doesn't cast to the pipeline's long doc_id would
    // anti-join nothing — a takedown that silently does NOT take the
    // doc down. Raise per row (try_cast: mode-independent — a plain
    // cast nulls silently under non-ANSI, throws engine-speak under
    // ANSI) instead of no-op'ing.
    val tryLong = expr(s"try_cast(`$idCol` as bigint)")
    val asLong = when(col(idCol).isNull,
      raise_error(lit("removeDocs: id is NULL — the takedown would " +
        "silently miss it")))
      .when(tryLong.isNull,
        raise_error(concat(lit("removeDocs: id '"),
          col(idCol).cast("string"),
          lit("' is not a long doc_id — the takedown would silently " +
            "miss it")))).otherwise(tryLong)
    requireCurrentFormat(catalog, stateTable,
      catalog.listPartitions(stateTable, "batch_id"))
    val retr = graft.core.Fence.soft(
      ids.select(asLong.as("__r")).distinct())
    // the sentinel matches no real batch key, so every committed
    // partition is in scope (processBatch passes its own in-flight key
    // to keep the uncommitted batch out of the rewrite)
    try jd(ids.sparkSession, "removeDocs") {
      withBatchAqe(ids.sparkSession) {
        retractFromOutput(catalog, stateTable, outTable,
          "__takedown__", retr)
      }
    } finally retr.unpersist(false)
  }

  /** [[processBatch]] for a change-data feed — the corpus twin of
    * [[graft.ann.AnnIndex.ingestCdcBatch]]: each micro-batch carries
    * `opCol` = "add" | "delete" rows, the adds run the full
    * gate/dedup/sample chain and the deletes then apply through the
    * [[removeDocs]] partition-scoped rewrite — the one foreachBatch
    * body a live corpus points at when its upstream interleaves
    * takedowns with new documents. Idempotent end to end under the
    * streaming engine's replay contract: the add half overwrites its
    * own `batch_id` partitions ([[processBatch]]'s contract) and the
    * delete half's rewrite is idempotent by construction, so a
    * replayed batch converges. Adds apply FIRST: a batch that adds and
    * deletes the same doc nets to deleted (the delete is the later
    * intent); a delete for a doc that never arrived (or was dropped as
    * a duplicate) is a no-op. The removed docs' STATE deliberately
    * remains — [[removeDocs]]'s near-dup-suppression semantics. A
    * NULL or unknown op is refused loudly before anything lands (the
    * `!isin` NULL trap — see the ANN twin). */
  def processCdcBatch(batch: DataFrame, catalog: TableCatalog,
                      stateTable: String, outTable: String,
                      opCol: String, batchId: Long,
                      threshold: Double = CorpusPipeline.NearDupThreshold,
                      benchmark: Option[DataFrame] = None,
                      admit: DataFrame => DataFrame = gate,
                      pkSplitMinRows: Long = PkSplitMinRows,
                      compactEvery: Int = CompactEvery,
                      epochEvery: Int = 0): Unit = {
    require(batch.filter(col(opCol).isNull ||
        !col(opCol).isin("add", "delete")).isEmpty,
      s"CorpusStream: '$opCol' must be 'add' or 'delete' in every row")
    processBatch(batch.filter(col(opCol) === "add").drop(opCol),
      catalog, stateTable, outTable, batchId, threshold, benchmark,
      admit, pkSplitMinRows, compactEvery, epochEvery)
    val dels = batch.filter(col(opCol) === "delete")
      .select(col("doc_id"))
    if (!dels.isEmpty)
      removeDocs(catalog, stateTable, outTable, dels)
  }

  /** Output partitions holding at least one retracted doc, grouped by
    * the (epoch) table they live in: the emit index ([[EmitState]])
    * pruned to the retracted ids' pk buckets — reads kilobytes of
    * (id, eb) rows however large and however many epochs the output
    * has grown. */
  private def affectedOutputPartitions(catalog: TableCatalog,
      stateTable: String, outTable: String, batchKey: String,
      retr: DataFrame): Seq[(String, Seq[String])] = {
    val pks = retr.select(emitPkCol(col("__r")).as("pk"))
      .distinct().collect().map(_.getLong(0)).toSet
    val ebHits: Seq[String] =
      prunedStateRead(catalog, EmitState, stateTable, batchKey, pks)
        .fold(Seq.empty[String])(_
          .join(retr, col("id") === col("__r"), "left_semi")
          .select(col("eb")).distinct()
          .collect().map(_.getString(0)).toSeq)
    // stale index rows may name partitions an earlier retraction
    // already deleted — keep only what each table actually has (one
    // listing per AFFECTED table, bounded by the hit set, not age)
    ebHits.map(ebTarget(outTable, _))
      .filter(_._2 != batchKey)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (tbl, pairs) =>
        val existing = catalog.listPartitions(tbl, "batch_id").toSet
        val keys = pairs.map(_._2).distinct.filter(existing)
        if (keys.isEmpty) None else Some(tbl -> keys)
      }
  }

  /** [[readPkTable]] of the sketch table's batch partitions `keys`:
    * the cross-verify fetch (pruned to `pks`) and the whole-state read
    * (`pks` = None). */
  private def readSketchBatches(catalog: TableCatalog,
      stateTable: String, keys: Seq[String],
      pks: Option[Set[Long]]): Option[DataFrame] =
    readPkTable(catalog, SketchState, stateTable, keys, pks)

  /** Public shape-aware reader for a sketch state table (mixed
    * plain/pk-split partitions — see [[readPkTable]]): what
    * tests and tools must use instead of a table-root read. Falls back
    * to the root read when no committed batch partition exists (the
    * `_schema`-anchor empty-table case). */
  def readState(catalog: TableCatalog, stateTable: String): DataFrame =
    readSketchBatches(catalog, stateTable,
        catalog.listPartitions(stateTable, "batch_id"), None)
      .getOrElse(catalog.read(stateTable))

  /** Launch the incremental pipeline over a streaming document frame
    * (columns doc_id, text, lang). Output accumulates in `outTable`,
    * one partition per micro-batch; per-doc sketches accumulate in
    * `stateTable`. */
  def incremental(docs: DataFrame, catalog: TableCatalog,
                  checkpointDir: String,
                  stateTable: String = "corpus_state",
                  outTable: String = "corpus_sampled",
                  threshold: Double = CorpusPipeline.NearDupThreshold,
                  benchmark: Option[DataFrame] = None,
                  epochEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, catalog, stateTable, outTable, batchId,
          threshold, benchmark, epochEvery = epochEvery)
      }
      .start()
}

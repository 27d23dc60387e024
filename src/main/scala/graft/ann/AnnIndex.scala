package graft.ann

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType,
  IntegerType, LongType, ShortType, StringType, StructType}

import graft.catalog.TableCatalog
import graft.core.{Bounded, Trace}

/** Persisted ANN index artifacts. The fit — the corpus count +
  * [[Ann.autoPlanes]] geometry for the LSH path, the Lloyd rounds of
  * [[Ann.kmeansCentroids]] for IVF — is paid ONCE at build time and
  * written to catalog tables; a serving workload loads the index and
  * probes it, instead of re-paying the fit on every query the way the
  * fit-inline operators ([[Ann.lshBucketNeighborsAuto]],
  * [[Ann.ivfTopK]]) do.
  *
  * One lifecycle, five codecs: LSH, IVF, SQ8, PQ and residual IVF-PQ
  * differ only in a private `IndexKind` — the kind's name, its
  * sub-layout (`pk` or `cell`), whether it carries a corpus-level fit
  * that can go stale, the build to name when it does, how to load its
  * persisted fits, and how to encode a batch under them. Everything
  * else runs once for every kind: the build commit (`commitBuild`),
  * the append (every `appendX` and [[ingestBatch]]), the meta read,
  * the serving read every probe starts with, [[deleteIds]] and
  * [[compactSegs]].
  *
  * Layout under one logical index name:
  *   `<index>`         1-row meta (kind, geometry, dim, fitted-over n,
  *                     indexed n). Written LAST, so a crash mid-build
  *                     (or mid-append) leaves no meta and readers see
  *                     "no index" instead of a half-written artifact;
  *                     a REBUILD over an existing index first flips the
  *                     meta to a `rebuilding` marker (round 15), so a
  *                     crashed rebuild fails loudly too instead of
  *                     serving mixed-fit rows under the stale meta.
  *   `<index>_assign`  per-vector rows (the kind's encoding), one
  *                     `seg=` partition per build/append segment
  *                     (round 13 — segments let an append land new
  *                     vectors without rewriting the corpus-sized
  *                     table, and a replayed append overwrites its own
  *                     segment idempotently). IVF and IVF-PQ
  *                     sub-partition each segment by `cell` (numCells
  *                     is a small constant, and a probe's cell
  *                     equi-join prunes to the probed cells at the
  *                     storage layer — nprobe/numCells of the corpus).
  *                     LSH buckets number ~n/target — one directory per
  *                     bucket would explode into corpus-many tiny files
  *                     (measured 20 s to build and probes SLOWER than
  *                     the fit at sf0.1) — so LSH sub-partitions by
  *                     `pk = pmod(bucket, LshPkBuckets)`: bounded
  *                     directory count, and a point-lookup still reads
  *                     only its bucket's pk directory. SQ8 and PQ use
  *                     `pk = pmod(id, LshPkBuckets)`.
  *   `<index>_cent`    IVF / IVF-PQ: (cell, pos, val) coarse centroids.
  *   `<index>_pqcent`  PQ / IVF-PQ: (m, cell, pos, val) codebooks.
  *   `<index>_dels`    id-level delete tombstones (round 15), one
  *                     `dseg=` partition per [[deleteIds]] batch — a
  *                     delete is O(batch) and idempotent under replay
  *                     exactly like an append. Every probe serves the
  *                     LIVE set (stored minus tombstoned — the
  *                     takedown/right-to-erasure path a production
  *                     corpus needs between rebuilds); with no
  *                     tombstones the probe plans are byte-identical
  *                     to the pre-delete ones (no anti-join is added).
  *                     [[compactSegs]] physically purges tombstoned
  *                     rows and drains this table; until then an
  *                     append that re-uses a tombstoned id is REFUSED
  *                     loudly (an id-level tombstone cannot tell the
  *                     old row from the new one — serving would
  *                     silently hide the re-insert).
  *   `<index>_segmeta` one (seg, rows) row per segment (round 14) —
  *                     the O(#segments) counts that make an append's
  *                     `indexed_n` update O(batch) instead of a
  *                     corpus-sized recount; reconciled against the
  *                     on-disk `seg=` partitions so a crash between
  *                     the segment write and the count write (or a
  *                     pre-r14 index) costs one O(that-segment)
  *                     recount, never a full-table pass. A recorded
  *                     count is never stale (round 15): any write that
  *                     OVERWRITES an existing segment — a replayed
  *                     append, a compaction rewrite — tombstones that
  *                     segment's count first, so a crash mid-overwrite
  *                     routes the segment through the recount path
  *                     instead of serving the pre-crash count.
  *
  * Vectors and norms round-trip parquet exactly (doubles are stored
  * bit-for-bit), so a probe over the loaded index is bit-identical to
  * the fit-inline operator over the same corpus — gated by ann07/ann08
  * against the ann06/ann05 oracles, and by ann09/ann10 for the
  * build-half + append-half lifecycle against the same oracles.
  *
  * Lifecycle (round 13): the geometry is sized for the corpus the fit
  * SAW (`fitted_n` — or an explicit planned `capacityRows`, the
  * production sizing knob); appends grow `indexed_n` without refitting.
  * Past [[MaxDriftFactor]] × fitted_n the geometry is undersized —
  * overfull LSH buckets, overloaded IVF cells, degraded neighbor
  * quality — so both the append and the probes fail loudly naming the
  * rebuild instead of silently serving from a stale fit
  * (`allowStale = true` is the explicit operator override). */
object AnnIndex {

  /** Directory-count bound for the LSH assignment layout (the
    * [[graft.streaming.CorpusStream.StatePartitions]] rationale). */
  val LshPkBuckets = 64L

  /** The similarity metrics an index can record at build time. */
  val Metrics: Set[String] = Set("cosine", "ip", "l2")

  /** Staleness bound: once `indexed_n` exceeds this factor of
    * `fitted_n`, appends and probes fail loudly (refit required).
    * One doubling is where [[Ann.autoPlanes]] would have added a
    * plane and k-means-per-cell load doubles — past it the fit is
    * demonstrably for a different corpus. */
  val MaxDriftFactor = 2.0

  /** Largest SQ8 index (its meta's `indexed_n`, and each of the code,
    * tombstone and allowed-id frames a probe collects) that
    * [[sq8TopKFromIndex]] scores on the driver. */
  val DriverProbeRowCap = 8192

  /** Most query rows [[sq8TopKFromIndex]] scores on the driver. */
  val DriverProbeQueryCap = 64

  private def assignTableOf(indexTable: String) = indexTable + "_assign"
  private def segMetaTableOf(indexTable: String) = indexTable + "_segmeta"
  private def delsTableOf(indexTable: String) = indexTable + "_dels"

  /** Build + persist the LSH bucket index: fits the plane count to the
    * corpus ([[Ann.autoPlanes]]) — or to `capacityRows`, the planned
    * corpus size, when the caller will [[appendLsh]] the rest later —
    * buckets every vector, writes the assignment segment, then the
    * meta row. Returns the fitted plane count. */
  def buildLsh(catalog: TableCatalog, data: DataFrame, idCol: String,
               vecCol: String, indexTable: String,
               targetBucketRows: Int = 1024,
               capacityRows: Option[Long] = None,
               minPlanes: Int = Ann.Planes,
               dim: Int = Ann.Dim): Int = {
    val n = data.count()
    val fitN = capacityRows.getOrElse(n)
    require(fitN >= n,
      s"AnnIndex: capacityRows=$fitN is smaller than the build corpus " +
        s"($n rows) — the planned capacity must cover the initial load")
    val planes = Ann.autoPlanes(fitN, targetBucketRows, minPlanes)
    commitBuild(catalog, data, idCol, vecCol, indexTable,
      Meta(Lsh.name, planes, dim, 0, 0, fitN, n, "cosine"), Fits())
    planes
  }

  /** Build + persist the IVF index: trains the coarse quantizer
    * ([[Ann.kmeansCentroids]], `trainIters` deterministic Lloyd
    * rounds) on `trainData` (default: the build corpus — pass the
    * full/historical corpus when bulk-loading a slice now and
    * appending the rest later), assigns every vector to its nearest
    * cell, writes the centroid table and the cell-partitioned
    * assignment segment, then the meta row. */
  def buildIvf(catalog: TableCatalog, data: DataFrame, idCol: String,
               vecCol: String, indexTable: String, numCells: Int = 16,
               trainIters: Int = 0,
               trainData: Option[DataFrame] = None,
               dim: Int = Ann.Dim): Unit = {
    val cents = Ann.kmeansCentroids(
      Ann.withNorms(trainData.getOrElse(data), idCol, vecCol, dim),
      numCells, trainIters)
    val n = data.count()
    commitBuild(catalog, data, idCol, vecCol, indexTable,
      Meta(Ivf.name, numCells, dim, 0, 0,
        trainData.map(_.count()).getOrElse(n), n, "cosine"),
      Fits(cents = Some(cents)))
  }

  /** Append new vectors to a persisted LSH index under its FROZEN
    * geometry — no recount, no re-bucketing of stored vectors, one new
    * assignment segment. Runs under the assignment table's writer
    * lock; `segKey` (default: next numeric segment) makes a replaying
    * caller overwrite its own segment instead of duplicating.
    * `indexed_n` is recounted from the table after the write, so the
    * meta stays exact under replay; past [[MaxDriftFactor]] the append
    * fails loudly (the fit no longer covers the corpus) unless
    * `allowStale` overrides. */
  def appendLsh(catalog: TableCatalog, data: DataFrame, idCol: String,
                vecCol: String, indexTable: String,
                segKey: Option[String] = None,
                allowStale: Boolean = false): Unit =
    append(catalog, data, idCol, vecCol, indexTable, Some(Lsh), segKey,
      allowStale)

  /** Append new vectors to a persisted IVF index under its FROZEN
    * quantizer: the trained centroids are LOADED from the `_cent`
    * table (never re-derived — the whole point of persisting the fit)
    * and the new vectors join the cell layout as one new segment.
    * Same lock / replay / drift contract as [[appendLsh]]. */
  def appendIvf(catalog: TableCatalog, data: DataFrame, idCol: String,
                vecCol: String, indexTable: String,
                segKey: Option[String] = None,
                allowStale: Boolean = false): Unit =
    append(catalog, data, idCol, vecCol, indexTable, Some(Ivf), segKey,
      allowStale)

  /** Build + persist the SQ8 code index: every vector quantized once
    * to int8 codes + integer self-dot + quantization scale
    * ([[Ann.sq8Quantized]]), codes stored as `array<tinyint>` — the
    * 4×-cheaper scan a quantized serving corpus reads instead of
    * floats. No corpus-level fit: the quantization scale is
    * PER-VECTOR, so unlike LSH planes or IVF centroids there is no
    * geometry to go stale and appends never require a rebuild
    * ([[requireFresh]] is kind-aware). `geometry` records the code
    * scale (127) for observability.
    *
    * `metric` (round 16 — the [[Ann.Geom]] pattern applied to the
    * score function): the similarity this index SERVES — "cosine"
    * (unit-invariant, the default), "ip" (dequantized inner product —
    * the learned-retrieval contract where magnitude carries signal)
    * or "l2" (negative squared dequantized distance). Recorded in the
    * meta; every probe scores under the RECORDED metric, and a probe
    * that explicitly requests a different one is refused loudly. */
  def buildSq8(catalog: TableCatalog, data: DataFrame, idCol: String,
               vecCol: String, indexTable: String,
               dim: Int = Ann.Dim, metric: String = "cosine"): Unit = {
    require(Metrics.contains(metric),
      s"AnnIndex: unknown metric '$metric' — use one of " +
        Metrics.mkString("'", "', '", "'"))
    val n = data.count()
    commitBuild(catalog, data, idCol, vecCol, indexTable,
      Meta(Sq8.name, 127, dim, 0, 0, n, n, metric), Fits())
  }

  /** Append new vectors to a persisted SQ8 index — quantize the batch,
    * land it as one new segment. Same lock / replay contract as
    * [[appendLsh]]; never stale (per-vector scales). */
  def appendSq8(catalog: TableCatalog, data: DataFrame, idCol: String,
                vecCol: String, indexTable: String,
                segKey: Option[String] = None): Unit =
    append(catalog, data, idCol, vecCol, indexTable, Some(Sq8), segKey,
      allowStale = false)

  /** Brute-force top-k off the persisted SQ8 codes — the
    * [[Ann.sq8TopK]] result with the corpus side read as 1-byte codes
    * + precomputed self-dots (no float vectors touched, no
    * re-quantization); only the small query side quantizes per call.
    * Bit-identical to the fit-inline form (integer dots are
    * arrival-order-free), gated by ann12 against the ann11 oracle.
    *
    * `allowedIds` = FILTERED search (round 15): the top-k is taken
    * among the given ids only — metadata predicates ("English docs
    * only", "this source bucket") live in tables BESIDE the index, so
    * the filter arrives as an id frame and semi-joins the code scan
    * BEFORE any scoring. A pre-filter always fills k from the allowed
    * subset (a post-filter of an unfiltered top-k under-returns —
    * the classic filtered-ANN mistake); the semi-join is an equi-join
    * the planner broadcasts when the allowed set is small.
    *
    * `metric` is served from the META, like the geometry: None = the
    * recorded one; an explicit request that disagrees with the build
    * is refused loudly (scoring a cosine corpus by inner product
    * would silently return magnitude-ranked garbage).
    *
    * A small probe runs on the driver: when the meta's `indexed_n` is
    * within [[DriverProbeRowCap]], ONE job ([[Bounded.collect]]) brings
    * back the stored codes, the tombstone ids, the quantized queries
    * (at most [[DriverProbeQueryCap]] rows) and the checked allowed
    * ids, and the driver scores and ranks them exactly as the
    * distributed plan does ([[Ann.sq8TopKLocal]]). That path EVALUATES
    * AT CALL TIME — it reads the committed files the probe serves then,
    * and returns a local relation with the distributed plan's schema.
    * Over either cap, or for a query id that is not an integral type,
    * the lazy distributed plan is returned instead. Jobs started inside
    * the call are labelled `AnnIndex: probe`; off the driver path, with
    * why appended (`[over row cap]`, `[over query cap]`, `[query id
    * type]`). */
  def sq8TopKFromIndex(catalog: TableCatalog, indexTable: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int,
                       allowedIds: Option[DataFrame] = None,
                       allowedIdCol: String = "id",
                       metric: Option[String] = None): DataFrame =
    Trace.phase(catalog.spark, "AnnIndex: probe") {
      val m = servedMeta(catalog, indexTable, Sq8, allowStale = false,
        metric)
      val q = Ann.sq8Quantized(queries, idCol, vecCol, "q_id", m.dim)
      val local =
        if (m.indexedN > DriverProbeRowCap) Left("over row cap")
        else if (!Seq(LongType, IntegerType, ShortType, ByteType)
            .contains(q.schema("q_id").dataType)) Left("query id type")
        else driverSq8TopK(catalog, indexTable, m, q, k, allowedIds,
          allowedIdCol)
      local.fold(why =>
        Trace.phase(catalog.spark, s"AnnIndex: probe [$why]") {
          Ann.sq8TopKFrom(
            restrictTo(liveAssign(catalog, indexTable), allowedIds,
              allowedIdCol).select(sq8Cols(m.metric): _*),
            q, k, m.dim, m.metric)
        }, identity)
    }

  /** [[sq8TopKFromIndex]]'s driver path: Left(why) when a collected
    * frame is over its cap. The live set is the stored rows minus the
    * tombstoned ids, restricted to the allowed ids; a row with a NULL
    * id scores nothing, as `vec_id != q_id` drops it in the plan. */
  private def driverSq8TopK(catalog: TableCatalog, indexTable: String,
                            m: Meta, q: DataFrame, k: Int,
                            allowedIds: Option[DataFrame],
                            allowedIdCol: String)
      : Either[String, DataFrame] = {
    val codes = catalog.readListed(assignTableOf(indexTable), Sq8CodeSchema)
      .select(sq8Cols(m.metric): _*)
    val Seq(c, d, qs, a) = Bounded.collectPresent(Seq(
      Some(codes) -> DriverProbeRowCap,
      Some(catalog.readListed(delsTableOf(indexTable), DelsSchema)) ->
        DriverProbeRowCap,
      Some(q.select(col("q_id"), col("q_id_q"), col("q_id_sc"))) ->
        DriverProbeQueryCap,
      allowedIds.map(_.select(checkedId(allowedIdCol, "allowed"))) ->
        DriverProbeRowCap))
    def ids(b: Bounded) =
      b.rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    if (qs.n > DriverProbeQueryCap) Left("over query cap")
    else if (Seq(c, d, a).exists(_.n > DriverProbeRowCap))
      Left("over row cap")
    else {
      val dead = ids(d)
      val allowed = allowedIds.map(_ => ids(a))
      val sc = if (m.metric == "cosine") -1 else 3
      val live = c.rows.toSeq.filter(r => !r.isNullAt(0) &&
          !dead(r.getLong(0)) && allowed.forall(_(r.getLong(0))))
        .map(r => r.getLong(0) -> Ann.Sq8Side.of(r, 1, 2, sc))
      val probes = qs.rows.toSeq.filterNot(_.isNullAt(0)).map(r =>
        (r.get(0), r.get(0).asInstanceOf[Number].longValue,
          Ann.Sq8Side.of(r, 1, -1, 2)))
      // the schema the distributed plan has over these same inputs
      val schema = Ann.sq8TopKFrom(codes, q, k, m.dim, m.metric).schema
      import scala.jdk.CollectionConverters._
      Right(catalog.spark.createDataFrame(
        Ann.sq8TopKLocal(live, probes, k, m.dim, m.metric).asJava, schema))
    }
  }

  /** The stored SQ8 columns under [[Ann.sq8Score]]'s corpus-side names;
    * the scale only when `metric` reads it, so a cosine probe scans one
    * column fewer. */
  private def sq8Cols(metric: String) =
    Seq(col("id").as("vec_id"), col("q").as("vec_id_q"),
      col("qq").as("vec_id_qq")) ++
      (if (metric == "cosine") Nil else Seq(col("sc").as("vec_id_sc")))

  /** Semantic-decontamination hit list off the persisted SQ8 index:
    * DISTINCT ids of indexed vectors whose quantized cosine against
    * ANY query row reaches `minCos` — the rows a decon pass drops,
    * probed from the stored byte codes alone (floats never touched;
    * only the benchmark-sized query side quantizes per call). The
    * LIVE-index complement of [[Ann.semanticDecontaminate]]'s
    * fit-inline banded scan. */
  def sq8MatchesFromIndex(catalog: TableCatalog, indexTable: String,
                          queries: DataFrame, idCol: String,
                          vecCol: String, minCos: Double): DataFrame = {
    // the hit threshold is a COSINE — an ip/l2 index's scores live on
    // a different scale entirely, so refuse rather than mis-threshold
    val (m, _, live) = serve(catalog, indexTable, Sq8, allowStale = false,
      Some("cosine"))
    Ann.sq8Matches(live.select(sq8Cols("cosine"): _*),
      Ann.sq8Quantized(queries, idCol, vecCol, "q_id", m.dim),
      minCos, m.dim)
  }

  /** Build + persist the PQ index: train the per-subspace codebooks
    * ONCE ([[Ann.pqTrain]] — on `trainData` when bulk-loading a slice
    * now and appending the rest later), encode every vector to its M
    * codebook cells, write the codebooks (`_pqcent`: m, cell, pos,
    * val) and the code segment. The serving payoff is the largest of
    * the index family: probes read M small ints per vector (4 bytes
    * packed) instead of Dim floats. Codebooks are a corpus-level fit,
    * so the [[MaxDriftFactor]] staleness contract applies like IVF's. */
  def buildPq(catalog: TableCatalog, data: DataFrame, idCol: String,
              vecCol: String, indexTable: String, trainIters: Int = 2,
              trainData: Option[DataFrame] = None,
              geom: Ann.Geom = Ann.DefaultGeom): Unit = {
    val books = Ann.pqTrain(trainData.getOrElse(data), idCol, vecCol,
      trainIters, geom)
    val n = data.count()
    commitBuild(catalog, data, idCol, vecCol, indexTable,
      Meta(Pq.name, geom.pqK, geom.dim, geom.pqM, geom.pqK,
        trainData.map(_.count()).getOrElse(n), n, "cosine"),
      Fits(books = Some(books)))
  }

  /** Append new vectors to a persisted PQ index — encode under the
    * LOADED codebooks (never re-derived), land as one new segment.
    * Same lock / replay / drift contract as [[appendIvf]]. */
  def appendPq(catalog: TableCatalog, data: DataFrame, idCol: String,
               vecCol: String, indexTable: String,
               segKey: Option[String] = None,
               allowStale: Boolean = false): Unit =
    append(catalog, data, idCol, vecCol, indexTable, Some(Pq), segKey,
      allowStale)

  /** ADC top-k off the persisted codes — [[Ann.pqTopK]] without the
    * training or encoding passes: codebooks load as a driver constant
    * (M·K·subDim doubles), the corpus side is nothing but the stored
    * code columns. Bit-identical to fit-inline ann13 (codes are a
    * pure function of vector × frozen codebooks), gated by ann14
    * against the ann13 oracle. Filtered search restricts the code
    * scan BEFORE the ADC scoring and the rank cut (the
    * [[sq8TopKFromIndex]] contract). */
  def pqTopKFromIndex(catalog: TableCatalog, indexTable: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, allowStale: Boolean = false,
                      allowedIds: Option[DataFrame] = None,
                      allowedIdCol: String = "id"): DataFrame = {
    val (m, fits, live) = serve(catalog, indexTable, Pq, allowStale,
      None, allowedIds, allowedIdCol)
    Ann.pqTopKFromCodes(
      live.select(col("id") +: (0 until m.pqM).map(i => col(s"c$i")): _*),
      fits.books.get, queries, idCol, vecCol, k, m.geom)
  }

  /** Build + persist the residual IVF-PQ index (the ann16 IVFADC
    * serving shape as an artifact): the L2 coarse quantizer fits over
    * the unit vectors of `trainData` (default: the build corpus),
    * residual codebooks fit over the same corpus's residuals, and
    * every `data` vector lands as (id, cell, c0…c_{M−1}) in a
    * CELL-partitioned segment — probes prune to nprobe/numCells at the
    * storage layer AND read 4 code ints per survivor. Floats are NOT
    * stored: the refine stage reads them from the primary vector
    * table (the classic two-stage fetch — see
    * [[ivfPqRefineTopKFromIndex]]). Both fits are corpus-level, so the
    * [[MaxDriftFactor]] staleness contract applies.
    *
    * `metric` is recorded beside the geometry ([[buildSq8]]
    * contract): cosine | l2 — the residual machinery is metric-blind
    * past the (un)normalization choice ([[Ann.metricFrame]]); ip is
    * refused there with a pointer at the SQ8 family, whose
    * dequantized dot IS the ip score. */
  def buildIvfPq(catalog: TableCatalog, data: DataFrame, idCol: String,
                 vecCol: String, indexTable: String, numCells: Int = 16,
                 trainIters: Int = 2, pqIters: Int = 2,
                 trainData: Option[DataFrame] = None,
                 geom: Ann.Geom = Ann.DefaultGeom,
                 metric: String = "cosine"): Unit = {
    val trainUn = Ann.metricFrame(trainData.getOrElse(data), idCol,
      vecCol, geom.dim, metric)
    val cents = Ann.kmeansCentroidsL2(
      trainUn.select(col("id"), col("u").as("s")), numCells, trainIters)
    val books = Ann.pqTrainOn(Ann.residualFrame(trainUn, cents),
      pqIters, geom)
    val n = data.count()
    commitBuild(catalog, data, idCol, vecCol, indexTable,
      Meta(IvfPq.name, numCells, geom.dim, geom.pqM, geom.pqK,
        trainData.map(_.count()).getOrElse(n), n, metric),
      Fits(Some(cents), Some(books)))
  }

  /** Append new vectors to a persisted residual IVF-PQ index — cell
    * assignment, residual, and codes all under the LOADED fits (never
    * re-derived), one new cell-partitioned segment. Same lock /
    * replay / drift contract as [[appendIvf]]. */
  def appendIvfPq(catalog: TableCatalog, data: DataFrame, idCol: String,
                  vecCol: String, indexTable: String,
                  segKey: Option[String] = None,
                  allowStale: Boolean = false): Unit =
    append(catalog, data, idCol, vecCol, indexTable, Some(IvfPq), segKey,
      allowStale)

  /** Two-stage probe off the persisted residual IVF-PQ index: cell
    * pruning × residual ADC from the stored codes alone, then the
    * top-`refine` candidates per query re-scored EXACTLY from
    * `store` — the PRIMARY vector table, joined by id (floats touched
    * for refine rows per query, never the corpus). Bit-identical to
    * the fit-inline [[Ann.ivfPqResidualTopK]] over the same corpus
    * (codes and cells are pure functions of vector × frozen fits;
    * unit vectors recompute exactly from the store) — gated by ann17
    * against the ann16 oracle. `allowedIds` (the [[sq8TopKFromIndex]]
    * contract) lands BEFORE the ADC scoring AND before the code-rank
    * cut, so both the candidate ranks and the refine budget are spent
    * inside the allowed subset only. */
  def ivfPqRefineTopKFromIndex(catalog: TableCatalog, indexTable: String,
                               store: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, k: Int,
                               nprobe: Int = 2, refine: Int = 4096,
                               allowStale: Boolean = false,
                               broadcastQueries: Boolean = true,
                               allowedIds: Option[DataFrame] = None,
                               allowedIdCol: String = "id",
                               metric: Option[String] = None)
      : DataFrame = {
    val (m, fits, live) = serve(catalog, indexTable, IvfPq, allowStale,
      metric, allowedIds, allowedIdCol)
    val codes = live.select(col("id") +: col("cell").cast("int").as("cell")
      +: (0 until m.pqM).map(i => col(s"c$i")): _*)
    Ann.ivfPqRefineProbe(codes, fits.cents.get, fits.books.get,
      Ann.metricFrame(store, idCol, vecCol, m.dim, m.metric), queries,
      idCol, vecCol, k, nprobe, refine, broadcastQueries, m.geom,
      m.metric)
  }

  /** One streaming-ingestion micro-batch into a persisted index of ANY
    * kind — the `foreachBatch` body for a live embedding feed (the
    * ann19 shape, lifted to a reusable sink with a COMPACTION
    * CADENCE). The batch goes through the one append under the kind
    * recorded in the meta (the residual IVF-PQ index included, so the
    * quality serving shape gets the same streaming story as SQ8); the
    * fit-bearing kinds keep their [[MaxDriftFactor]] staleness
    * contract — a drifted index fails the batch loudly unless
    * `allowStale`. The batch lands as segment `b<batchId>`, so a
    * replayed micro-batch overwrites its own segment and the sink is
    * idempotent end to end; and once the index holds `compactEvery` or
    * more other segments the appended directories fold back into one
    * ([[compactSegs]] — the [[graft.streaming.CorpusStream]]
    * `compactState` cadence), so the directory count a probe pays
    * stays bounded under continuous ingestion instead of growing one
    * segment per micro-batch forever. `compactEvery = 0` disables the
    * cadence.
    *
    * Replay note: the cadence decision is a PURE FUNCTION of batchId
    * (`batchId % compactEvery == compactEvery - 1`), never of the
    * directory count — so a replayed batch re-takes exactly the
    * original run's compaction decision. In particular a replay of a
    * batch whose own run compacted (folding its rows into seg 0)
    * re-appends duplicate rows AND deterministically re-fires the
    * compaction, whose full-row distinct collapses them — converged by
    * the end of the replayed batch. (A count-based trigger would see
    * the post-compaction single-segment directory and skip, serving
    * duplicate ranks until some later batch compacted.) Out-of-band
    * maintenance [[compactSegs]] runs belong BETWEEN committed
    * batches; one run inside a crash window is still safe — the
    * replay converges at its next cadence firing. */
  def ingestBatch(catalog: TableCatalog, df: DataFrame,
                  idCol: String, vecCol: String, indexTable: String,
                  batchId: Long, compactEvery: Int = 0,
                  allowStale: Boolean = false): Unit = {
    require(compactEvery >= 0,
      s"compactEvery must be >= 0, got $compactEvery")
    append(catalog, df, idCol, vecCol, indexTable, None, Some(s"b$batchId"),
      allowStale)
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      compactSegs(catalog, indexTable)
  }

  /** [[ingestBatch]] for a change-data feed: each micro-batch carries
    * `opCol` = "add" | "delete" rows, and the sink applies the deletes
    * (as one [[deleteIds]] tombstone batch) then the adds (through the
    * kind-generic append) — the one foreachBatch body a live embedding
    * store points at when its upstream emits removals (takedowns,
    * expirations) alongside inserts. Both halves land under
    * segKey/dseg `b<batchId>`, so a replayed micro-batch overwrites
    * its own tombstone partition AND its own segment — idempotent end
    * to end (a replay after a compaction drained the tombstones
    * re-creates no-op tombstones against already-purged rows; the next
    * compaction drains them again). The replay contract is the
    * streaming engine's: only the MOST RECENT uncommitted batch ever
    * replays, and that replay converges; an out-of-band re-run of an
    * OLDER batch is out of contract once a later batch deleted any of
    * its adds and a compaction purged them — the re-run would re-add
    * rows whose tombstones are gone. Deletes apply FIRST: a batch that
    * deletes and re-adds the same id is ambiguous under id-level
    * tombstones, and the append's re-insert guard refuses it loudly
    * (delete now, re-insert after the next [[compactSegs]]). The
    * `compactEvery` cadence rides on the add half. */
  def ingestCdcBatch(catalog: TableCatalog, df: DataFrame,
                     idCol: String, vecCol: String, opCol: String,
                     indexTable: String, batchId: Long,
                     compactEvery: Int = 0,
                     allowStale: Boolean = false): Unit = {
    // NULL op must be refused explicitly: `!isin(...)` evaluates to
    // NULL for a NULL op, which a filter drops — a null-op row would
    // pass the guard yet match neither half below, a silently-dropped
    // CDC row (possibly a takedown)
    require(df.filter(col(opCol).isNull ||
        !col(opCol).isin("add", "delete")).isEmpty,
      s"AnnIndex: '$opCol' must be 'add' or 'delete' in every row")
    // skip the tombstone write for delete-free batches: an empty
    // deleteIds leaves a marker-only dseg= partition, and under a
    // compacted single-segment index those accumulate one directory
    // (and one probe-side listing) per micro-batch forever
    val dels = df.filter(col(opCol) === "delete")
    if (!dels.isEmpty)
      deleteIds(catalog, dels, idCol, indexTable, Some(s"b$batchId"))
    ingestBatch(catalog, df.filter(col(opCol) === "add"), idCol,
      vecCol, indexTable, batchId, compactEvery, allowStale)
  }

  /** Delete vectors from a persisted index by id — the takedown path:
    * the batch lands as one `dseg=` tombstone partition (O(batch),
    * never a corpus rewrite) and every probe excludes tombstoned ids
    * from that moment on. Works on every index kind (the tombstone is
    * id-level, upstream of any geometry). Idempotent under replay:
    * `segKey` (default: next numeric delete-segment) makes a replaying
    * caller overwrite its own tombstone partition; deleting an id the
    * index never held is a harmless no-op tombstone. Physical removal
    * happens at the next [[compactSegs]], which also DRAINS the
    * tombstones — until then, re-inserting a deleted id is refused
    * loudly (see [[compactSegs]]'s purge note), so a delete can never
    * silently hide a newer row.
    *
    * `indexed_n` (and the [[MaxDriftFactor]] drift check) keeps
    * counting STORED rows until the purge — conservative: the fit
    * covered the stored rows, and the live set only shrinks. */
  def deleteIds(catalog: TableCatalog, ids: DataFrame, idCol: String,
                indexTable: String,
                segKey: Option[String] = None): Unit =
    catalog.withTableLock(assignTableOf(indexTable)) {
      readMeta(catalog, indexTable, None) // no index, or a crashed rebuild
      val delsTable = delsTableOf(indexTable)
      val key = segKey.getOrElse(nextKey(catalog, delsTable, "dseg"))
      catalog.writePartition(
        ids.select(checkedId(idCol, "delete").as("id")).distinct()
          .withColumn("dseg", lit(key)),
        delsTable, "dseg", key)
    }

  /** Merge every assignment segment back into a single `seg=0` — the
    * file-count hygiene step after many appends. Each append adds one
    * segment directory; probes read them all, and at high append
    * rates the DIRECTORY count (not the data) becomes the probe cost —
    * the same growth `CorpusStream.compactState` bounds for the
    * streaming state. Re-layout of the LIVE rows: one segment, with
    * any [[deleteIds]] tombstones physically PURGED and then drained
    * (round 15) — probes already excluded them at read time, so probe
    * results before and after are bit-identical (spec-pinned), and
    * after the purge a previously-deleted id is free for re-insert.
    * Runs under the table lock.
    *
    * Crash contract: the input rows are materialized BEFORE any
    * delete, so no crash loses data — but a crash between the seg-0
    * rewrite and the old-segment drops leaves duplicate rows visible
    * to probes until compaction is re-run. The re-run CONVERGES: the
    * read is full-row `distinct()` (identical rows per id — segments
    * are pure functions of vector × frozen fits), so leftovers
    * collapse back to the exact set. Tombstones drain strictly LAST —
    * a crash anywhere earlier leaves them standing, where their
    * read-time anti-join is a harmless no-op against already-purged
    * rows. A single-segment index with no live tombstone rows still
    * drains marker-only (data-file-free) dseg partitions, so they
    * can't accumulate a directory listing per probe forever. Schedule
    * it like any maintenance job: re-run on failure before serving. */
  def compactSegs(catalog: TableCatalog, indexTable: String): Unit =
    catalog.withTableLock(assignTableOf(indexTable)) {
      val assignTable = assignTableOf(indexTable)
      val m = readMeta(catalog, indexTable, None)
      val dels = deletedIds(catalog, indexTable)
      if (catalog.listPartitions(assignTable, "seg").size > 1 ||
          dels.nonEmpty) {
        // materialize the full LIVE set before touching any directory;
        // the distinct is what makes a crashed compaction re-runnable,
        // and the anti-join is the physical purge of deleteIds
        // tombstones (probes already excluded them at read time)
        val stored = catalog.read(assignTable).drop("seg").distinct()
        val all = graft.core.Fence(dels
          .map(d => stored.join(d, Seq("id"), "left_anti"))
          .getOrElse(stored))
        // EAGERLY materialize the live set before any directory is
        // touched: the count pins every checkpoint partition, so the
        // seg-0 overwrite below reads checkpoint blocks, never the
        // files it is replacing. A lazy scan racing the overwrite
        // reads deleted files (FAILED_READ_FILE) once adaptive
        // execution is off — dp12 runs this compaction in a lane
        // concurrent with a chain batch that scopes it off — so
        // materialize-then-rewrite makes the read-before-overwrite
        // structural. The count is also the self-heal point:
        // compaction recounts after any crashed append (orphan
        // segment) or crashed prior compaction (duplicates the
        // distinct just collapsed).
        val n = all.count()
        // same tombstone discipline as the append: seg 0 is about to be
        // overwritten, so its recorded count must go first — a crash
        // mid-rewrite then recounts seg 0 from disk instead of
        // trusting a count for data that may be half-replaced
        writeSegCounts(catalog, indexTable,
          readSegCounts(catalog, indexTable) - "0")
        writeSeg(catalog, indexTable, all, "0", m.codec.sub)
        dropOtherSegs(catalog, indexTable, keep = "0")
        writeSegCounts(catalog, indexTable, Map("0" -> n))
        writeMeta(catalog, indexTable, m.copy(indexedN = n))
      }
      // drain the tombstones LAST: their rows are already gone from
      // seg 0, so a crash before this point leaves tombstones whose
      // anti-join is a no-op (correct, just unpurged) and the re-run
      // converges; after it, a previously-deleted id is free for
      // re-insert
      drainDels(catalog, indexTable)
    }

  /** Within-bucket top-1 neighbors from a persisted LSH index — the
    * [[Ann.lshBucketNeighborsAuto]] result without the count, the
    * norm pass, or the planes×dim bucketing dots: everything comes
    * off the assignment table. Fails on a stale index (corpus grown
    * past [[MaxDriftFactor]] × the fitted size) unless `allowStale`.
    * Filtered search runs the neighbor join entirely inside the
    * allowed subset (both the row being matched and its candidates),
    * restricted BEFORE bucketing fans out. */
  def lshNeighborsFromIndex(catalog: TableCatalog, indexTable: String,
                            allowStale: Boolean = false,
                            allowedIds: Option[DataFrame] = None,
                            allowedIdCol: String = "id"): DataFrame = {
    val (m, _, live) = serve(catalog, indexTable, Lsh, allowStale, None,
      allowedIds, allowedIdCol)
    Ann.bucketNeighborsFrom(
      graft.core.Fence(
        live.select(col("id"), col("v"), col("nrm"), col("bucket"))),
      Ann.NearDupHotCap, Ann.NearDupHotSalts, m.dim)
  }

  /** Top-k from a persisted IVF index — the [[Ann.ivfTopK]] result
    * without the Lloyd rounds or the corpus assignment pass: the
    * probe loads the trained centroids (a numCells×dim driver
    * constant, same bound as the broadcast the fit-inline form
    * already pays) and equi-joins the probed cells against the
    * cell-partitioned assignment table. Same staleness contract as
    * [[lshNeighborsFromIndex]]; the allowed-id semi-join lands on the
    * assignment scan BEFORE the cell equi-join and scoring, so k fills
    * from the allowed subset. */
  def ivfTopKFromIndex(catalog: TableCatalog, indexTable: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int = 2,
                       allowStale: Boolean = false,
                       allowedIds: Option[DataFrame] = None,
                       allowedIdCol: String = "id"): DataFrame = {
    val (m, fits, live) = serve(catalog, indexTable, Ivf, allowStale,
      None, allowedIds, allowedIdCol)
    Ann.ivfProbe(
      live.select(col("id"), col("v"), col("nrm"),
        col("cell").cast("int").as("cell")),
      fits.cents.get, queries, idCol, vecCol, k, nprobe, m.dim)
  }

  // ---- the per-kind codec ---------------------------------------------

  /** A kind's corpus-level fit as persisted beside its index: coarse
    * centroids (`_cent`) and PQ codebooks (`_pqcent`), each as
    * (values, assignment constant) pairs — the norm for IVF's cosine
    * cells, the self-dot for the L2 scorers. None for a kind that
    * trains neither. */
  private final case class Fits(
      cents: Option[Array[(Seq[Double], Double)]] = None,
      books: Option[Array[Array[(Seq[Double], Double)]]] = None)

  /** What one index kind adds to the shared lifecycle: its name in the
    * meta, the sub-layout of its segments (`pk` or `cell`), whether it
    * carries a corpus-level fit that can go stale (and the build to
    * name when it does), how to `load` its persisted [[Fits]], and how
    * to `encode` a batch under them. */
  private final case class IndexKind(name: String, sub: String,
      fitted: Boolean, build: String)(
      val load: (TableCatalog, String) => Fits,
      encode: (DataFrame, String, String, Meta, Fits) => DataFrame) {

    /** Encode a build or append batch under `fits` — the one front
      * every indexed row passes. A NULL id is refused loudly here
      * (the stored id type is unchanged): [[deleteIds]] refuses NULL
      * ids, so such a row could never be taken down. Each encoding
      * checks the vector width ([[Ann.checkedVec]]). */
    def assign(data: DataFrame, idCol: String, vecCol: String, m: Meta,
               fits: Fits): DataFrame =
      encode(data.withColumn(idCol, when(col(idCol).isNull, raise_error(
          lit(s"AnnIndex: indexed id is NULL — it could never be " +
            "deleted"))).otherwise(col(idCol))),
        idCol, vecCol, m, fits)
  }

  /** LSH: (id, v, nrm, bucket) under the recorded plane count, pk by
    * bucket. */
  private val Lsh = IndexKind("lsh", "pk", fitted = true, "buildLsh")(
    (_, _) => Fits(),
    (data, idCol, vecCol, m, _) =>
      Ann.checkedFrame(data, idCol, vecCol, m.dim)
        .withColumn("nrm", Ann.norm("v", m.dim))
        .withColumn("bucket", Ann.bucket(col("v"), m.geometry, m.dim))
        .withColumn("pk", pmod(col("bucket"), lit(LshPkBuckets))))

  /** IVF: (id, v, nrm) under the trained cosine cells. */
  private val Ivf = IndexKind("ivf", "cell", fitted = true, "buildIvf")(
    (catalog, t) => Fits(cents =
      Some(readVecs(catalog, t + "_cent", keyed = false,
        v => math.sqrt(Ann.selfDot(v))).flatten)),
    (data, idCol, vecCol, m, fits) =>
      Ann.withNorms(data, idCol, vecCol, m.dim)
        .withColumn("cell", Ann.cosineCell(fits.cents.get)))

  /** SQ8: (id, codes-as-tinyint, integer self-dot, scale, pk): codes
    * are always in [-127, 127] so the byte cast is lossless, and
    * parquet's annotated-int8 + dictionary encoding stores them at
    * code (not float) width — the scan-cost saving the index exists
    * for. pk by id bounds directory counts; a top-k probe scans all
    * of them by design (brute force). No fit to go stale. */
  private val Sq8 = IndexKind("sq8", "pk", fitted = false, "buildSq8")(
    (_, _) => Fits(),
    (data, idCol, vecCol, m, _) =>
      Ann.sq8Quantized(data, idCol, vecCol, "id", m.dim)
        .select(col("id"),
          transform(col("id_q"), x => x.cast("byte")).as("q"),
          col("id_qq").as("qq"), col("id_sc").as("sc"))
        .withColumn("pk", pmod(col("id"), lit(LshPkBuckets))))

  /** PQ: (id, c0 … c_{M−1}, pk) — M small ints per vector
    * ([[Ann.pqEncode]]) under the frozen codebooks, pk by id. */
  private val Pq = IndexKind("pq", "pk", fitted = true, "buildPq")(
    (catalog, t) => Fits(books = Some(readBooks(catalog, t))),
    (data, idCol, vecCol, m, fits) =>
      Ann.pqEncode(data, idCol, vecCol, fits.books.get, m.geom)
        .withColumn("pk", pmod(col("id"), lit(LshPkBuckets))))

  /** IVF-PQ: (id, cell, c0 … c_{M−1}) — L2 cell under the frozen
    * coarse quantizer, residual encoded under the frozen codebooks
    * ([[Ann.residualFrame]] + [[Ann.pqEncodeOn]]), under the recorded
    * metric. */
  private val IvfPq = IndexKind("ivfpq", "cell", fitted = true,
      "buildIvfPq")(
    (catalog, t) => Fits(
      Some(readVecs(catalog, t + "_cent", keyed = false, Ann.selfDot)
        .flatten),
      Some(readBooks(catalog, t))),
    (data, idCol, vecCol, m, fits) =>
      Ann.pqEncodeOn(
        Ann.residualFrame(Ann.metricFrame(data, idCol, vecCol, m.dim,
          m.metric), fits.cents.get),
        fits.books.get, keep = Seq("id", "cell"), m.geom))

  private val Kinds = Seq(Lsh, Ivf, Sq8, Pq, IvfPq)

  private final case class Meta(kind: String, geometry: Int, dim: Int,
                                pqM: Int, pqK: Int,
                                fittedN: Long, indexedN: Long,
                                metric: String) {
    /** The recorded per-call geometry probes must serve under. */
    def geom: Ann.Geom = Ann.Geom(dim, pqM, pqK)
    def codec: IndexKind = Kinds.find(_.name == kind).get
  }

  // ---- the shared lifecycle -------------------------------------------

  /** The one build commit: under the assignment lock, flip an existing
    * meta to the rebuild marker, write the fit artifacts, then the new
    * segment 0 (dropping every other segment and draining the
    * tombstones — a new index generation starts from a clean slate),
    * then the segment count, and the meta LAST (the marker refuses
    * every probe until then). */
  private def commitBuild(catalog: TableCatalog, data: DataFrame,
                          idCol: String, vecCol: String,
                          indexTable: String, m: Meta, fits: Fits): Unit =
    catalog.withTableLock(assignTableOf(indexTable)) {
      markRebuilding(catalog, indexTable)
      fits.cents.foreach(c =>
        writeVecs(catalog, indexTable + "_cent", Seq(c), keyed = false))
      fits.books.foreach(b =>
        writeVecs(catalog, indexTable + "_pqcent", b.toSeq, keyed = true))
      writeSeg(catalog, indexTable,
        m.codec.assign(data, idCol, vecCol, m, fits), "0", m.codec.sub)
      dropOtherSegs(catalog, indexTable, keep = "0")
      drainDels(catalog, indexTable)
      writeSegCounts(catalog, indexTable, Map("0" -> m.indexedN))
      writeMeta(catalog, indexTable, m)
    }

  /** The one append: under the assignment lock, read the meta (of
    * `expected` kind, or whichever kind it records), encode the batch
    * under the kind's LOADED fits, and land it as one segment `segKey`
    * (default: the next numeric one). `indexed_n` is the sum of the
    * OTHER segments' recorded counts plus the batch — exact under
    * replay (a replayed segKey overwrites itself, so its old count
    * drops out of the sum). */
  private def append(catalog: TableCatalog, data: DataFrame,
                     idCol: String, vecCol: String, indexTable: String,
                     expected: Option[IndexKind], segKey: Option[String],
                     allowStale: Boolean): Unit =
    catalog.withTableLock(assignTableOf(indexTable)) {
      val m = readMeta(catalog, indexTable, expected)
      val assigned = m.codec.assign(data, idCol, vecCol, m,
        m.codec.load(catalog, indexTable))
      val incoming = data.count()
      val key = segKey.getOrElse(
        nextKey(catalog, assignTableOf(indexTable), "seg"))
      // checked BEFORE the write — a refused append must not leave
      // orphan segment rows that probes (which read the whole table,
      // not the meta's count) would silently serve
      val prior = readSegCounts(catalog, indexTable)
      val indexed = (prior - key).values.sum + incoming
      requireFresh(m.copy(indexedN = indexed), indexTable, allowStale)
      // re-insert guard: an id-level tombstone (deleteIds) cannot tell a
      // deleted row from a newer row under the same id — appending one
      // would be silently hidden by every probe's anti-join. Refuse
      // loudly and name the purge. Checked BEFORE any write (a refused
      // append leaves nothing behind); one O(batch ⋈ tombstones)
      // semi-join, and only when tombstones exist at all.
      deletedIds(catalog, indexTable).foreach { dels =>
        require(assigned.select(col("id"))
            .join(dels, Seq("id"), "left_semi").limit(1).isEmpty,
          s"AnnIndex: append into '$indexTable' contains ids that are " +
            "currently delete-tombstoned — run AnnIndex.compactSegs to " +
            "purge the tombstones before re-inserting a deleted id")
      }
      // replay tombstone: drop the key's recorded count BEFORE rewriting
      // its segment, so a crash mid-overwrite leaves a segment that
      // readSegCounts RECOUNTS from disk (exact for whatever the crash
      // actually left committed) instead of a stale recorded count that
      // silently misstates indexed_n until the batch is replayed
      if (prior.contains(key))
        writeSegCounts(catalog, indexTable, prior - key)
      writeSeg(catalog, indexTable, assigned, key, m.codec.sub)
      writeSegCounts(catalog, indexTable, prior - key + (key -> incoming))
      writeMeta(catalog, indexTable, m.copy(indexedN = indexed))
    }

  /** The one serving read every probe starts with: the meta (of the
    * probe's kind, fresh unless `allowStale`, [[servedMeta]]), the
    * kind's loaded fits, and the LIVE assignment rows restricted to
    * `allowedIds`. */
  private def serve(catalog: TableCatalog, indexTable: String,
                    kind: IndexKind, allowStale: Boolean,
                    metric: Option[String],
                    allowedIds: Option[DataFrame] = None,
                    allowedIdCol: String = "id")
      : (Meta, Fits, DataFrame) = {
    val m = servedMeta(catalog, indexTable, kind, allowStale, metric)
    (m, kind.load(catalog, indexTable),
      restrictTo(liveAssign(catalog, indexTable), allowedIds,
        allowedIdCol))
  }

  /** The meta a probe serves under: of the probe's kind, fresh unless
    * `allowStale`, with the requested `metric` checked against the
    * RECORDED one (served from the META like the geometry — None serves
    * the recorded one, a disagreeing request is refused loudly). */
  private def servedMeta(catalog: TableCatalog, indexTable: String,
                         kind: IndexKind, allowStale: Boolean,
                         metric: Option[String]): Meta = {
    val m = readMeta(catalog, indexTable, Some(kind))
    requireFresh(m, indexTable, allowStale)
    metric.foreach { req =>
      require(req == m.metric,
        s"AnnIndex: '$indexTable' was built for metric '${m.metric}' " +
          s"but the probe requested '$req' — probes serve the " +
          "RECORDED metric; rebuild with the desired one")
    }
    m
  }

  /** The one meta read: refuses a missing meta (no build, or one that
    * crashed mid-write), the rebuild marker (a rebuild that crashed
    * mid-write), a kind other than `expected`, and a meta row missing
    * a column of the current format ([[writeMeta]]'s), naming it —
    * older metas are not read, and nothing upgrades them. The read
    * takes [[MetaSchema]], under which a missing column reads as NULL;
    * [[writeMeta]] writes no NULL. */
  private def readMeta(catalog: TableCatalog, indexTable: String,
                       expected: Option[IndexKind]): Meta = {
    val rows =
      if (!catalog.tableExists(indexTable)) Array.empty[Row]
      else catalog.readListed(indexTable, MetaSchema).collect()
    require(rows.nonEmpty,
      s"AnnIndex: no index meta at '$indexTable' — build (or seed-build) " +
        "it first; a missing meta also covers a build that crashed " +
        "mid-write")
    val row = rows(0)
    def field[T](name: String): T = {
      require(!row.isNullAt(row.fieldIndex(name)),
        s"AnnIndex: the meta of '$indexTable' has no '$name' column — " +
          "it predates the current index format, which is the only one " +
          "this version reads; rebuild the index")
      row.getAs[T](name)
    }
    val k = field[String]("kind")
    require(k != "rebuilding",
      s"AnnIndex: a rebuild of '$indexTable' crashed mid-write — " +
        "re-run the build before using it")
    expected.foreach(e => require(k == e.name,
      s"AnnIndex: '$indexTable' is a '$k' index, expected '${e.name}'"))
    require(Kinds.exists(_.name == k),
      s"AnnIndex: '$indexTable' records unknown index kind '$k'")
    Meta(k, field("geometry"), field("dim"), field("pq_m"), field("pq_k"),
      field("fitted_n"), field("indexed_n"), field("metric"))
  }

  /** Static read schemas of the index's own tables, so no read of
    * them starts a footer-inference job: the meta ([[writeMeta]]),
    * `_segmeta` ([[writeSegCounts]]), `_dels` ([[deleteIds]]), `_cent`
    * and `_pqcent` ([[writeVecs]], `m` only when keyed), and the SQ8
    * codes ([[Sq8]]'s encoding) a driver-path probe reads. */
  private val MetaSchema = new StructType().add("kind", StringType)
    .add("geometry", IntegerType).add("dim", IntegerType)
    .add("pq_m", IntegerType).add("pq_k", IntegerType)
    .add("fitted_n", LongType).add("indexed_n", LongType)
    .add("metric", StringType)
  private val SegMetaSchema = new StructType().add("seg", StringType)
    .add("rows", LongType)
  private val DelsSchema = new StructType().add("id", LongType)
  private def vecsSchema(keyed: Boolean) =
    (if (keyed) new StructType().add("m", IntegerType) else new StructType())
      .add("cell", IntegerType).add("pos", IntegerType)
      .add("val", DoubleType)
  private val Sq8CodeSchema = new StructType().add("id", LongType)
    .add("q", ArrayType(ByteType)).add("qq", LongType)
    .add("sc", DoubleType)

  private def writeMeta(catalog: TableCatalog, indexTable: String,
                        m: Meta): Unit = {
    import catalog.spark.implicits._
    catalog.writeFull(
      Seq((m.kind, m.geometry, m.dim, m.pqM, m.pqK, m.fittedN, m.indexedN,
          m.metric))
        .toDF("kind", "geometry", "dim", "pq_m", "pq_k",
          "fitted_n", "indexed_n", "metric"),
      indexTable)
  }

  /** Rebuild marker: a build over an EXISTING index flips the meta to
    * kind `rebuilding` before touching any data table, so a crash
    * mid-rebuild fails every subsequent read/append/probe loudly
    * ([[readMeta]] rejects the marker by name) instead of serving a
    * mix of old-fit and new-fit rows under the old meta. The
    * successful build's final [[writeMeta]] replaces the marker; a
    * first build has no meta to mark (missing meta already reads as
    * "no index"). */
  private def markRebuilding(catalog: TableCatalog,
                             indexTable: String): Unit =
    if (catalog.tableExists(indexTable))
      writeMeta(catalog, indexTable,
        Meta("rebuilding", 0, 0, 0, 0, 0L, 0L, "cosine"))

  private def requireFresh(m: Meta, indexTable: String,
                           allowStale: Boolean): Unit =
    require(!m.codec.fitted || allowStale ||
        m.indexedN.toDouble <= MaxDriftFactor * m.fittedN.toDouble,
      s"AnnIndex: '$indexTable' holds ${m.indexedN} vectors but its " +
        s"${m.kind} geometry was fitted for ${m.fittedN} " +
        f"(drift ${m.indexedN.toDouble / m.fittedN}%.2fx > " +
        f"$MaxDriftFactor%.1fx) — rebuild with AnnIndex.${m.codec.build}" +
        " (or pass allowStale = true to serve from the stale fit anyway)")

  // ---- fit artifacts --------------------------------------------------

  /** The fit-artifact writer: vector `cell` of group `m` lands as
    * (m, cell, pos, val) rows — without the `m` column unless `keyed`
    * (the `_cent` layout is one group; `_pqcent` keys by subspace). */
  private def writeVecs(catalog: TableCatalog, table: String,
                        groups: Seq[Array[(Seq[Double], Double)]],
                        keyed: Boolean): Unit = {
    import catalog.spark.implicits._
    val rows = for {
      (g, m) <- groups.zipWithIndex
      ((v, _), cell) <- g.zipWithIndex
      (x, pos) <- v.zipWithIndex
    } yield (m, cell, pos, x)
    val df = rows.toDF("m", "cell", "pos", "val")
    catalog.writeFull(if (keyed) df else df.drop("m"), table)
  }

  /** [[writeVecs]]' reader: groups[m][cell] (an unkeyed table is one
    * group), each vector in `pos` order and paired with `aux` of its
    * values — the norm or self-dot the assignment scorers expect,
    * recomputed with the fold training used. */
  private def readVecs(catalog: TableCatalog, table: String,
                       keyed: Boolean, aux: Seq[Double] => Double)
      : Array[Array[(Seq[Double], Double)]] = {
    val df = catalog.readListed(table, vecsSchema(keyed))
    val m = if (keyed) col("m") else lit(0)
    df.select(m, col("cell"), col("pos"), col("val")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, group) =>
        group.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, rows) =>
          val v: Seq[Double] =
            rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          (v, aux(v))
        }.toArray
      }.toArray
  }

  /** Codebooks back from `_pqcent` as (values, self-dot) — the shape
    * [[Ann.centroidScoresL2]] assigns against. */
  private def readBooks(catalog: TableCatalog,
      indexTable: String): Array[Array[(Seq[Double], Double)]] =
    readVecs(catalog, indexTable + "_pqcent", keyed = true, Ann.selfDot)

  // ---- segments and tombstones ----------------------------------------

  /** The next numeric partition key of `table` (non-numeric keys such
    * as an ingestion sink's `b<batchId>` are skipped). */
  private def nextKey(catalog: TableCatalog, table: String,
                      field: String): String =
    (catalog.listPartitions(table, field)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .foldLeft(0L)(math.max) + 1L).toString

  /** Drop every `dseg=` tombstone partition — on each REBUILD (the new
    * index generation starts from a clean slate: tombstones recorded
    * against the PREVIOUS generation's rows must not silently hide a
    * rebuilt corpus's legitimate re-use of a previously-deleted id)
    * and as the last step of [[compactSegs]]. */
  private def drainDels(catalog: TableCatalog,
                        indexTable: String): Unit =
    catalog.listPartitions(delsTableOf(indexTable), "dseg")
      .foreach(catalog.deletePartition(delsTableOf(indexTable),
        "dseg", _))

  /** The current tombstone set as a distinct-id frame — None when no
    * delete has landed (the common case), so callers skip the
    * anti-join entirely and pre-delete plans stay byte-identical. */
  private def deletedIds(catalog: TableCatalog,
                         indexTable: String): Option[DataFrame] = {
    val delsTable = delsTableOf(indexTable)
    // data-file check, not just directory presence: an empty delete
    // batch leaves a marker-only partition no reader can infer a
    // schema from (and nothing to anti-join anyway)
    if (!catalog.tableExists(delsTable) ||
        !catalog.listPartitions(delsTable, "dseg")
          .exists(catalog.partitionHasDataFiles(delsTable, "dseg", _)))
      None
    else Some(catalog.readListed(delsTable, DelsSchema).distinct())
  }

  /** The caller's id column as the index's long id — raising per row,
    * with the domain story, on a value that does not cast (under
    * non-ANSI sessions a plain cast nulls silently, and a null would
    * anti-join or semi-join NOTHING: a delete that doesn't delete, a
    * filter that filters everything, with no error either way;
    * try_cast keeps the check mode-independent). */
  private def checkedId(idCol: String, what: String): org.apache.spark.sql.Column = {
    val tryLong = expr(s"try_cast(`$idCol` as bigint)")
    // NULL ids raise too (not just failed casts): a null id row would
    // anti-join/semi-join NOTHING — a delete that silently doesn't
    // delete, a filter that silently excludes everything
    when(col(idCol).isNull, raise_error(lit(
        s"AnnIndex: $what id is NULL — it would silently match nothing")))
      .when(tryLong.isNull,
        raise_error(concat(lit(s"AnnIndex: $what id '"),
          col(idCol).cast("string"),
          lit("' is not a long — it would silently match nothing"))))
      .otherwise(tryLong)
  }

  /** Pre-filter for FILTERED search: semi-join the code/assignment
    * scan down to the caller's allowed ids before any scoring. None =
    * unrestricted, no join added. */
  private def restrictTo(assign: DataFrame, allowedIds: Option[DataFrame],
                         allowedIdCol: String): DataFrame =
    allowedIds match {
      case Some(a) => assign.join(
        a.select(checkedId(allowedIdCol, "allowed").as("id")).distinct(),
        Seq("id"), "left_semi")
      case None => assign
    }

  /** The assignment table a probe may serve: stored rows minus
    * tombstoned ids ([[deleteIds]]). Every probe reads through this —
    * deletion is honored at read time, physical removal waits for
    * [[compactSegs]]. */
  private def liveAssign(catalog: TableCatalog,
                         indexTable: String): DataFrame = {
    val assign = catalog.read(assignTableOf(indexTable))
    deletedIds(catalog, indexTable) match {
      case Some(d) => assign.join(d, Seq("id"), "left_anti")
      case None    => assign
    }
  }

  /** One assignment segment: overwrites exactly `_assign/seg=<key>`
    * (other segments untouched), sub-laid-out by the kind's `pk` or
    * `cell`. `repartition(subField)` first so each sub-directory gets
    * ~one file instead of one per shuffle task. */
  private def writeSeg(catalog: TableCatalog, indexTable: String,
                       assigned: DataFrame, segKey: String,
                       subField: String): Unit =
    catalog.writeSubPartitioned(
      assigned.withColumn("seg", lit(segKey))
        .repartition(col(subField)),
      assignTableOf(indexTable), "seg", segKey, subField)

  /** Per-segment row counts, the O(#segments) metadata that makes an
    * append O(batch): `indexed_n` is the sum of the OTHER segments'
    * recorded counts plus the incoming batch — never a corpus-sized
    * recount of the assignment table (the r13 form read and counted
    * the whole table on every append). The `_segmeta` table holds one
    * (seg, rows) row per segment and is fully rewritten inside the
    * table lock on every build/append — O(#segments), tiny.
    *
    * Reconciliation keeps the count exact without trusting `_segmeta`
    * blindly: any `seg=` partition present on disk but absent from the
    * table (a pre-r14 index, or a crash between the segment write and
    * the `_segmeta` write) is counted directly — partition pruning
    * makes that O(that segment), and under the replay contract it
    * happens at most once per such segment. */
  private def readSegCounts(catalog: TableCatalog,
                            indexTable: String): Map[String, Long] = {
    val assignTable = assignTableOf(indexTable)
    val known: Map[String, Long] =
      if (!catalog.tableExists(segMetaTableOf(indexTable))) Map.empty
      else catalog.readListed(segMetaTableOf(indexTable), SegMetaSchema)
        .collect()
        .map(r => (r.getString(r.fieldIndex("seg")),
          r.getLong(r.fieldIndex("rows")))).toMap
    val onDisk = catalog.listPartitions(assignTable, "seg")
    val unrecorded = onDisk.filterNot(known.contains)
    known.view.filterKeys(onDisk.contains).toMap ++
      unrecorded.map { s =>
        s -> catalog.read(assignTable)
          .filter(col("seg").cast("string") === s).count()
      }.toMap
  }

  private def writeSegCounts(catalog: TableCatalog, indexTable: String,
                             counts: Map[String, Long]): Unit = {
    import catalog.spark.implicits._
    catalog.writeFull(
      counts.toSeq.sortBy(_._1).toDF("seg", "rows"),
      segMetaTableOf(indexTable))
  }

  private def dropOtherSegs(catalog: TableCatalog, indexTable: String,
                            keep: String): Unit =
    catalog.listPartitions(assignTableOf(indexTable), "seg")
      .filter(_ != keep)
      .foreach(catalog.deletePartition(assignTableOf(indexTable), "seg", _))
}

package graft.core

import org.apache.spark.sql.DataFrame

/** Optimizer fence: evaluate the frame's plan at this point, hide it
  * behind a LogicalRDD, and cache the computed partitions.
  *
  * Catalyst's project collapsing inlines computed columns into every
  * downstream reference; when an expensive array column (shingle hashes,
  * minhash signatures) feeds a Generate (explode) or a self-join, the
  * whole producing pipeline is re-evaluated per reference — turning an
  * O(n)-per-row column into O(n²)-per-row work (measured 50-100×
  * slowdowns). The fence pins such columns to "computed exactly once".
  *
  * Two modes, selected by the session conf `spark.graft.fence.mode`:
  *
  *  - `checkpoint` (default): a lazy local checkpoint. Unlike a bare
  *    `createDataFrame(df.rdd, schema)` round-trip (which re-runs the
  *    lineage — with per-element boxing — once per *reference* to the
  *    fenced frame; measured 5× wall and GC-storm variance on the LSH
  *    pipelines), the checkpointed partitions are computed once, stored
  *    as internal rows, and reused by every downstream join/explode.
  *    Blocks are freed by the ContextCleaner when the RDD is collected.
  *    Caveat at cluster scale: executor loss discards blocks — the
  *    operators only fence frames that are small per-doc derivations
  *    (signatures, shingle hashes), recomputable by rerunning the
  *    stage, and CoreSpec pins loud-or-correct behavior after block
  *    loss.
  *
  *  - `table`: the production mode for long-lived deployments —
  *    materialize through a parquet spill table instead (one directory
  *    per fence under `spark.graft.fence.dir`; unconfigured, a
  *    [[Scratch.dir]] removed with the enclosing [[Scratch.scope]], or
  *    at JVM exit outside one). Executor loss re-READS instead of
  *    recomputing or failing; the cost is the eager write and the
  *    columnar round-trip (exact for every type the operators fence:
  *    parquet stores doubles/longs/strings/arrays bit-for-bit — the
  *    same argument the AnnIndex artifacts rest on). CoreSpec pins
  *    mode-to-mode identical results on a fenced chain; set
  *    `GRAFT_FENCE_MODE=table` to run the whole suite in it.
  */
object Fence {

  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get("spark.graft.fence.mode", "checkpoint")

  def apply(df: DataFrame): DataFrame =
    if (mode(df) == "table") persisted(df)
    else df.localCheckpoint(eager = false)

  /** Lazy variant for plans that contain a shuffle: [[apply]] is lazy
    * about its DATA but materializing the checkpoint RDD still forces
    * AQE to execute every upstream exchange as serialized driver-side
    * jobs at plan-construction time — each fenced shuffle becomes a
    * barrier BEFORE the operator's own job starts (measured ~2 s of
    * pure overhead per operator at sf0.1 for the group-collapse
    * aggregate). `persist` instead substitutes an InMemoryRelation for
    * every reference at analysis time: computed once inside the first
    * job that needs it, shared by all references, zero plan-time work.
    * The cache entry is freed with the session's other caches (the
    * bench scrubs via `clearCache`); like [[apply]], executor loss
    * recomputes from lineage. Prefer [[apply]] for per-row derivation
    * pipelines (no shuffle — nothing to execute eagerly, and
    * checkpoint blocks skip the columnar encode); prefer this for
    * fencing aggregates/joins referenced more than once. In `table`
    * mode both forms spill to parquet (the write subsumes the
    * plan-time concern: it runs the exchanges exactly once). */
  def soft(df: DataFrame): DataFrame =
    if (mode(df) == "table") persisted(df)
    else df.persist()

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cluster guard (round 16): `table` mode's UNCONFIGURED spill root
    * is driver-local temp — fine on local[n] (one machine, one
    * filesystem), but on a real cluster the executors cannot read the
    * driver's /tmp, so the mode built FOR cluster durability would
    * break precisely there. Raise at the first fence, naming the
    * conf, instead of writing parquet nobody else can see. */
  private[graft] def requireSpillDirConfigured(
      master: String, configured: Option[String]): Unit =
    require(configured.nonEmpty || master.startsWith("local"),
      "Fence: spark.graft.fence.mode=table on a non-local master " +
        s"('$master') requires spark.graft.fence.dir to point at " +
        "shared storage — the unconfigured default spills to " +
        "driver-local temp, which executors cannot read")

  /** The `table` mode: write once, read back — the fence point becomes
    * a plain parquet scan every downstream reference shares. The
    * read-back pins the FRAME's column types exactly; note Spark
    * relaxes every file-scan column to nullable regardless of the
    * supplied schema, so table mode surfaces the same names, types,
    * and values with nullability widened to file-scan semantics (safe:
    * true data is never declared non-null) — CoreSpec pins the
    * mode-to-mode value equality and the checkpoint mode's exact
    * schema. */
  private def persisted(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val configured = spark.conf.getOption("spark.graft.fence.dir")
    requireSpillDirConfigured(spark.sparkContext.master, configured)
    val path = configured.fold(Scratch.dir("graft_fence_"))(base =>
      s"$base/f${counter.incrementAndGet()}")
    df.write.mode("overwrite").parquet(path)
    spark.read.schema(df.schema).parquet(path)
  }
}

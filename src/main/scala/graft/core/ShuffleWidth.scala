package graft.core

/** Scale-adaptive shuffle width: derive `spark.sql.shuffle.partitions`
  * from the INPUT SIZE instead of pinning it to the core count.
  *
  * Rationale (guide §2.2/§2.6, measured round 17): with
  * `shuffle.partitions = cpus`, every reduce stage and every streaming
  * state store scales with the machine, not the data — at bench SF the
  * 32-core run paid 4× the tiny tasks of the 8-core run and measured
  * 28% SLOWER end-to-end (the round-16 scaling inversion). Deriving the
  * width from bytes makes the same binary correct at both ends: a few
  * MB of local test data plans a handful of partitions; a 100 TB input
  * plans thousands. Per-query A/B at 32 cores, sf0.1 (measured with
  * the former ProbeAqe): width 8 vs 32 → dp03 26.4→18.2 s, dp05 −28%,
  * dd09 1.8→1.0 s, dd07 −11%, a10 −9%, ts17 −9%, ann17 flat; nothing
  * regressed.
  *
  * Results are width-invariant: every gate already passes the DuckDB
  * oracle at widths 4 (Verify default), 8 and 32 (the driver's two
  * bench runs), and no query path reads partition ids or uses
  * partition-seeded randomness.
  *
  * Knobs (environment, so the driver's invocation stays unchanged):
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: explicit width override —
  *    production deployments that know their cluster set this (or set
  *    the target below to 128–256 MB per guide §9).
  *  - `SPARK_GRAFT_SHUFFLE_TARGET_MB` (default 2): bytes each shuffle
  *    partition should carry, BENCH-SCALE default. 2 MB reflects a
  *    single machine with in-memory shuffles where the competing cost
  *    is task-scheduling overhead, not network amortization; on a real
  *    cluster set 128–256 MB (guide §2.2: 100 MB–1 GB per partition).
  *
  * CPU-heavy per-row kernels do NOT lose their spread when the width
  * drops: [[Par.fanOut]]/[[Par.ensure]] pin compute frames to
  * `max(defaultParallelism, width)` — cores locally, total executor
  * cores on a cluster — so only data-shuffle stages narrow.
  */
object ShuffleWidth {
  /** Total bytes under `dir` (recursive file-size sum — the same
    * number a parquet scan's size estimate starts from). */
  def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => java.nio.file.Files.size(p)).sum
    }
  }

  /** The derived width for an input directory, honoring the env
    * overrides; clamped to [1, 4096]. */
  def forInput(dir: String): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse {
      val targetMb =
        sys.env.get("SPARK_GRAFT_SHUFFLE_TARGET_MB").map(_.toDouble)
          .getOrElse(2.0)
      val bytes = inputBytes(dir)
      val n = math.ceil(bytes / (targetMb * 1024 * 1024)).toLong
      math.max(1L, math.min(4096L, n)).toInt
    }
}

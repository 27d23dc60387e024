package graft.catalog

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Path-based table catalog over a parquet warehouse directory — the
  * Spark mirror of the reference's gitignored BigQuery layer (SURVEY
  * §3.1: write / exist / create_from_schema_partition_table /
  * write_partition_table, reconstructed from call sites like
  * custom_search_extraction.py:41-42,151,215-218).
  *
  * Partitioned tables use one `field=value` directory per partition;
  * [[writePartition]] overwrites exactly that directory (dynamic
  * partition overwrite), making the reference's partition-at-a-time
  * daily loop idempotent by construction. At cluster scale the same
  * layout is what `insertInto` with dynamic partitionOverwriteMode
  * produces — partition pruning on `field` filters comes free.
  *
  * All metadata operations (exists / list / delete / commit probes) go
  * through `org.apache.hadoop.fs.FileSystem`, resolved from the
  * warehouse URI — so the same catalog works over `file:`, HDFS, or an
  * object store, and a 100-TB warehouse needs no code change. Nothing
  * here touches `java.io.File`.
  */
class TableCatalog(val spark: SparkSession, warehouse: String) {

  def tablePath(table: String): String = s"$warehouse/$table"

  def partitionPath(table: String, partField: String,
                    partValue: String): String =
    s"${tablePath(table)}/$partField=$partValue"

  /** One FileSystem handle per catalog: resolved from the warehouse
    * URI's scheme (Hadoop caches instances internally, so this is a
    * lookup, not a connection per call). */
  private lazy val fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** K3's exists-check (custom_search_extraction.py:151). */
  def tableExists(table: String): Boolean =
    fs.exists(new Path(tablePath(table)))

  /** K1: full-table overwrite write (process_open_data.py:250-258). */
  def writeFull(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(tablePath(table))

  /** K3: write only when the table is absent
    * (custom_search_extraction.py:147-155). Returns true if written. */
  def writeIfAbsent(df: DataFrame, table: String): Boolean =
    if (tableExists(table)) false
    else { writeFull(df, table); true }

  /** Create an empty partitioned table from a registry schema (K2's
    * create_from_schema_partition_table). The schema anchor is one empty
    * footer-bearing parquet file under `_schema/` — an underscore prefix
    * is invisible to Spark partition discovery, so a fresh table lists
    * zero partitions and never shows a phantom partition value (the
    * previous `_schema_placeholder=true` directory did). */
  def createFromSchema(table: String, schema: StructType): Unit = {
    if (!tableExists(table)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .repartition(1) // one 0-row file that still carries the schema
        .write.mode("overwrite")
        .parquet(tablePath(table) + "/_schema")
    }
  }

  /** K2: idempotent single-partition overwrite
    * (custom_search_extraction.py:215-218): rewriting the same partition
    * value replaces it, other partitions untouched. */
  def writePartition(df: DataFrame, table: String, partField: String,
                     partValue: String): Unit =
    df.filter(col(partField) === partValue).drop(partField)
      .write.mode("overwrite")
      .parquet(partitionPath(table, partField, partValue))

  /** [[writePartition]] with a second, nested partition level: the
    * replaced `partField=value` directory is itself laid out as
    * `subField=v/` directories, so equality/IN filters on `subField`
    * prune sub-directories across every outer partition — the
    * band-key-prefix layout [[graft.streaming.CorpusStream]] uses for
    * its sketch-band state. */
  def writeSubPartitioned(df: DataFrame, table: String, partField: String,
                          partValue: String, subField: String): Unit =
    df.filter(col(partField) === partValue).drop(partField)
      .write.mode("overwrite").partitionBy(subField)
      .parquet(partitionPath(table, partField, partValue))

  /** Overwrite ONLY the partitions present in `df`, all in one job
    * (Spark's dynamic partition-overwrite mode); partitions absent
    * from `df` are untouched. The multi-partition corrective-rewrite
    * path — e.g. the incremental pipeline's retractions — where a
    * per-partition loop would pay one serial Spark job per affected
    * directory. */
  def overwritePartitionsDynamic(df: DataFrame, table: String,
                                 partField: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partField).parquet(tablePath(table))

  /** Bulk form of [[writePartition]]: all partitions in one job via the
    * native partitioned writer (same field=value layout, full
    * overwrite). Use for backfills; the single-partition form is the
    * daily incremental path. */
  def writePartitioned(df: DataFrame, table: String,
                       partField: String): Unit =
    df.write.mode("overwrite").partitionBy(partField)
      .parquet(tablePath(table))

  /** Read a table; partition columns are recovered from directory names.
    * A fresh schema-only table (no partitions written yet) reads as an
    * empty frame with the declared schema from the `_schema` anchor. */
  def read(table: String): DataFrame =
    if (hasData(table))
      spark.read.option("basePath", tablePath(table))
        .parquet(tablePath(table))
    else
      spark.read.parquet(tablePath(table) + "/_schema")

  /** [[read]] with a caller-supplied schema (see the schema-bearing
    * [[readPaths]] overload for why): skips the footer-inference job
    * and pins partition-column types (a directory set like `2`, `7`
    * would otherwise infer as int one day and string the next). */
  def read(table: String, schema: StructType): DataFrame =
    if (hasData(table))
      spark.read.schema(schema).option("basePath", tablePath(table))
        .parquet(tablePath(table))
    else
      spark.read.schema(schema).parquet(tablePath(table) + "/_schema")

  /** True when the table root holds a visible entry (a data file or a
    * partition directory), i.e. more than its `_schema` anchor. */
  private def hasData(table: String): Boolean =
    listStatusOrEmpty(new Path(tablePath(table))).exists(visible)

  /** Read an explicit subset of a table's partition directories,
    * partition columns recovered relative to the table root — the
    * pruned-LISTING companion to [[read]] for callers that enumerate
    * their colliding partitions themselves (a table-root read lists
    * every file of a growing table even when partition pruning skips
    * the data). */
  def readPaths(table: String, paths: Seq[String]): DataFrame =
    spark.read.option("basePath", tablePath(table)).parquet(paths: _*)

  /** [[readPaths]] with a caller-supplied schema. Every pruned
    * per-batch read without a schema pays a footer-inference Spark job
    * before the real scan — pure fixed cost on tables whose schema the
    * caller statically knows (the incremental pipeline's state tables).
    * The supplied schema is the FULL output schema: partition-directory
    * columns are only recovered if present in it, and a declared column
    * missing from a file reads as null (callers that need every column
    * check the footers first, as the corpus chain's sketch read does). */
  def readPaths(table: String, paths: Seq[String],
                schema: StructType): DataFrame =
    spark.read.schema(schema).option("basePath", tablePath(table))
      .parquet(paths: _*)

  /** Every visible data file of a table, read under `schema` — the
    * scan for a small table whose schema the caller statically knows.
    * The files are listed here on the driver (every level, skipping the
    * names Spark's own listing skips), so the read starts no
    * footer-inference job and no parallel-listing job, however many
    * partition directories one level holds (Spark lists with a job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`). The
    * files themselves are read inside the scan's tasks. Partition
    * directory values are not recovered: `schema` names data columns
    * only. A missing table reads as no rows. */
  def readListed(table: String, schema: StructType): DataFrame = {
    val root = new Path(tablePath(table))
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new TableCatalog.ListedFiles(root, dataFilesUnder(root).toSeq),
        new StructType(),
        schema, None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat(), Map.empty)(spark))
  }

  /** Remove one partition directory — the cleanup half of a compaction
    * pass ([[graft.streaming.CorpusStream.compactState]]): the merged
    * target partition is written AND commit-verified
    * ([[partitionCommitted]]) before any source is deleted, so a crash
    * at any point leaves a recoverable (target-superset) state, never a
    * lossy one. */
  def deletePartition(table: String, partField: String,
                      partValue: String): Unit =
    fs.delete(new Path(partitionPath(table, partField, partValue)),
      /* recursive = */ true)

  /** Names of warehouse tables starting with `prefix` — one NAMES-ONLY
    * listing of the warehouse root (no per-table I/O). Used by the
    * incremental pipeline's output-epoch discovery, whose table count
    * grows with stream age divided by the roll interval — orders of
    * magnitude slower than the per-partition directory growth the roll
    * exists to bound. */
  def listTablesWithPrefix(prefix: String): Seq[String] =
    listStatusOrEmpty(new Path(warehouse))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .sorted.toSeq

  /** S7: partition-metadata scan (the `$__PARTITIONS_SUMMARY__` scans at
    * custom_search_extraction.py:53-57) — directory listing only, no
    * data read. */
  def listPartitions(table: String, partField: String): Seq[String] = {
    val prefix = s"$partField="
    listStatusOrEmpty(new Path(tablePath(table)))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted.toSeq
  }

  /** Names of a partition's `subField=` sub-directories (the pk buckets
    * of a pk-split band batch); empty for a plain-file partition. One
    * LISTING per partition — callers that need many membership checks
    * intersect against this instead of issuing per-value exists()
    * round-trips (on an object store each exists() is a remote call). */
  def listSubPartitions(table: String, partField: String, partValue: String,
                        subField: String): Seq[String] = {
    val prefix = s"$subField="
    listStatusOrEmpty(
        new Path(partitionPath(table, partField, partValue)))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted.toSeq
  }

  /** True when the partition directory holds at least one visible data
    * file — distinguishes a plain single-file batch partition from an
    * empty or marker-only directory. */
  def partitionHasDataFiles(table: String, partField: String,
                            partValue: String): Boolean =
    listStatusOrEmpty(new Path(partitionPath(table, partField, partValue)))
      .exists(st => st.isFile && visible(st))

  /** Rows in a partition's visible data files, sub-directories (a
    * `subField=` split partition) included, summed from their parquet
    * footers on the driver — a metadata read per file, no Spark job. */
  def partitionRowCount(table: String, partField: String,
                        partValue: String): Long =
    dataFilesUnder(new Path(partitionPath(table, partField, partValue)))
      .map(withFooter(_)(_.getRecordCount)).sum

  /** Key-value metadata of one visible data file's parquet footer in a
    * partition — the first in name order, so a plain file, else the
    * first file of the first sub-directory (one write stamps every file
    * with the same keys) — read on the driver like
    * [[partitionRowCount]], no Spark job. None when the partition holds
    * no data file. */
  def partitionFooterMetadata(table: String, partField: String,
      partValue: String): Option[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    dataFilesUnder(new Path(partitionPath(table, partField, partValue)))
      .nextOption().map(withFooter(_)(
        _.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap))
  }

  /** Spark's listing rule for what a table directory holds: `_` names
    * without `=` (`_SUCCESS`, `_temporary`, `_schema`), `.` names
    * (checksums) and in-flight `._COPYING_` uploads are not data. Every
    * listing here uses it, so counts and reads agree on which files
    * exist. */
  private def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_"))
  }

  /** Every visible data file under `dir`, every level, in name order;
    * lazy, so a caller that needs the first file lists one branch. */
  private def dataFilesUnder(dir: Path): Iterator[FileStatus] =
    listStatusOrEmpty(dir).filter(visible).sortBy(_.getPath.getName)
      .iterator.flatMap { st =>
        if (st.isDirectory) dataFilesUnder(st.getPath) else Iterator(st)
      }

  /** Open one data file's parquet footer, apply `f`, close it. The
    * read options wrap the session's Hadoop conf: the one-argument
    * `ParquetFileReader.open` builds a fresh configuration for every
    * file, which costs more than reading the footer. */
  private def withFooter[T](st: FileStatus)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try f(r) finally r.close()
  }

  /** Overwrite a small metadata marker file under the table root.
    * Underscore-prefixed names stay invisible to Spark partition/file
    * discovery. The overwrite is not atomic on every store: a crash
    * mid-write can leave a torn marker, so callers must reject an
    * unparseable marker loudly or degrade conservatively (the
    * `_current` pointer of [[Versioned]] refuses one by name). */
  def writeMarker(table: String, name: String, content: String): Unit = {
    val p = new Path(tablePath(table), name)
    val out = fs.create(p, /* overwrite = */ true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Read a marker written by [[writeMarker]]; None if absent. */
  def readMarker(table: String, name: String): Option[String] = {
    val p = new Path(tablePath(table), name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  // ---- concurrent-writer defense -------------------------------------
  //
  // The `_SUCCESS`/target-before-delete protocol makes every write
  // crash-safe for ONE writer; two pipelines compacting or
  // dynamic-overwriting the same table concurrently could still
  // interleave their delete/rewrite windows. A lease lock file per
  // table serializes those multi-directory rewrites. A crashed
  // writer's lock expires after `leaseMs` (judged by the lock file's
  // modification time, so no clock agreement between writers is needed
  // beyond coarse skew). The underscore names keep the lock files
  // invisible to Spark discovery.
  //
  // STORE CONTRACT. The lock's exclusivity rests on exactly two store
  // primitives: (1) atomic create-if-absent (`createWith`: an O_EXCL
  // create on the local filesystem, `fs.create(p, false)` elsewhere —
  // it fails when the file exists), and (2) read-after-write consistency
  // (a reader immediately sees the file a writer just created). Both
  // hold on HDFS, POSIX filesystems, GCS, Azure ABFS, and S3 since its
  // 2020 strong-consistency change — but an S3A client older than the
  // conditional-write support emulates create-if-absent with a
  // non-atomic HEAD+PUT, so two creates in the same millisecond can
  // both "succeed". Two defenses stack under that weakness: every
  // acquisition re-reads the lock after creating it and holds only if
  // it carries its own token (post-acquire fencing), and stale-lock
  // breaking is arbitrated through a separate break-intent file, so
  // no writer ever deletes another writer's live lock.

  /** Lease length after which a crashed writer's lock may be broken.
    * [[withTableLock]] heartbeats the lock file's mtime at leaseMs/3
    * while the section runs, so a legitimate section LONGER than the
    * lease keeps its lock alive; the lease only ages out writers that
    * stopped heartbeating (crashed, or a bare [[tryAcquireTableLock]]
    * holder that overran — the standard lease tradeoff, now detected
    * and reported by the heartbeat's fencing check). */
  val DefaultLeaseMs: Long = 15L * 60 * 1000

  private val LockName = "_lock"

  /** Settle delay before the post-break fencing read — long enough to
    * outlast the write-interleaving window of two breakers that both
    * slipped a non-atomic create-if-absent, short enough to be
    * irrelevant on the rare (crash-recovery) break path. */
  private val BreakSettleMs = 100L

  private def lockPath(table: String): Path =
    new Path(tablePath(table), LockName)

  /** Fencing tokens of the locks THIS catalog instance holds, by
    * table. The token (owner + random nonce) is the lock file's
    * content; release and heartbeat compare against it so an overrun
    * holder can never delete or re-stamp a successor's lock. */
  private val heldTokens =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mtimeOf(p: Path): Option[Long] =
    try Some(fs.getFileStatus(p).getModificationTime)
    catch { case _: java.io.IOException => None }

  /** Atomic create-if-absent of `p` holding `content`; false when `p`
    * exists. On the local filesystem Hadoop's `create(p, false)` checks
    * existence and then creates, so two racers can both "create" and
    * interleave their data and `.crc` writes into a lock that fails its
    * checksum for every reader; there the create is an O_EXCL
    * `CREATE_NEW` (no `.crc` is written, and readers read unverified). */
  private def createWith(p: Path, content: String): Boolean =
    try {
      val bytes = content.getBytes("UTF-8")
      if (fs.getUri.getScheme == "file") {
        fs.mkdirs(p.getParent)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(fs.makeQualified(p).toUri), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else {
        val out = fs.create(p, /* overwrite = */ false)
        try out.write(bytes) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** Try to take the table's writer lock. Returns false when a live
    * (unexpired) lock is held by someone else; breaks and re-takes an
    * expired one. NOTE: creates the table directory if absent.
    *
    * Stale-break protocol (two waiters must not both acquire): a
    * waiter that observes an expired lock first claims a break-intent
    * file via atomic create-if-absent — exactly one claimant wins;
    * the losers return false and retry on their next attempt. Only
    * the intent holder deletes the stale lock, so a freshly re-created
    * lock is never deleted by a racer still acting on a stale
    * observation. A crashed breaker's intent itself ages out after
    * the lease. Every successful create is then fenced: the lock is
    * re-read and held only if it carries this call's token. */
  def tryAcquireTableLock(table: String, owner: String = "graft",
                          leaseMs: Long = DefaultLeaseMs): Boolean = {
    val p = lockPath(table)
    val token = owner + ":" + java.util.UUID.randomUUID().toString
    def verifiedHold(settleMs: Long = 0L): Boolean = {
      if (settleMs > 0) Thread.sleep(settleMs)
      val held = (try readMarker(table, LockName) catch {
        case _: java.io.IOException => None // torn/unreadable: not ours
      }).contains(token)
      if (held) { heldTokens.put(table, token); true }
      else {
        // A transiently-failed fencing read after OUR successful create
        // would otherwise orphan the lock: the file carries this call's
        // token but no holder or heartbeat, blocking every writer for a
        // full lease. Best-effort: retry the read, and if the lock still
        // carries our token, delete it before giving up. Both the retry
        // read and the delete may themselves fail (same outage) — then
        // the lease ages the orphan out, the documented worst case.
        try {
          if (readMarker(table, LockName).contains(token))
            fs.delete(p, false)
        } catch { case _: java.io.IOException => () }
        false
      }
    }
    if (createWith(p, token)) verifiedHold()
    else mtimeOf(p) match {
      case None => // vanished between create-fail and stat: one retry
        createWith(p, token) && verifiedHold()
      case Some(m) if System.currentTimeMillis() - m <= leaseMs =>
        false // live foreign lock
      case Some(_) =>
        val intent = new Path(tablePath(table), LockName + ".break")
        val intentFree = mtimeOf(intent) match {
          case None => true
          case Some(im) if System.currentTimeMillis() - im > leaseMs =>
            // a crashed breaker's leftover intent: clear it, but let
            // the NEXT attempt contend (keeps this path single-shot)
            fs.delete(intent, false); false
          case Some(_) => false // a live breaker is ahead of us
        }
        intentFree && createWith(intent, token) && {
          try {
            // sole intent holder: re-verify staleness (the lock may
            // have been legitimately re-created since our first stat),
            // then replace it. The verify SETTLES first: on a store
            // whose create-if-absent is emulated (non-atomic), two
            // breakers can slip past the intent gate in the same
            // moment and both "create" — waiting out the write
            // interleaving window before reading back means the later
            // writer's token is what both read, so exactly one holds.
            val stillStale = mtimeOf(p).forall(m2 =>
              System.currentTimeMillis() - m2 > leaseMs)
            stillStale && {
              fs.delete(p, false)
              createWith(p, token) && verifiedHold(BreakSettleMs)
            }
          } finally fs.delete(intent, false)
        }
    }
  }

  /** Release the table's writer lock. Fenced when this catalog
    * recorded the acquisition: the file is deleted only while it
    * still carries our token, so a holder that overran its lease
    * cannot delete the successor's lock. With no recorded token
    * (administrative cleanup of a crashed writer's lock) the delete
    * is unconditional. */
  def releaseTableLock(table: String): Unit =
    Option(heldTokens.remove(table)) match {
      case Some(tok) =>
        val current =
          try readMarker(table, LockName)
          catch { case _: java.io.IOException => None }
        // unreadable counts as foreign: skipping the delete preserves
        // fencing, and a genuinely torn lock ages out by lease
        if (current.contains(tok)) fs.delete(lockPath(table), false)
      case None => fs.delete(lockPath(table), false)
    }

  /** Run `f` holding the table's writer lock; throws when another
    * writer holds it (two pipelines mutating one table is a
    * deployment error worth failing loudly — the caller that can
    * safely skip instead, e.g. a periodic compaction, uses
    * [[tryAcquireTableLock]] directly).
    *
    * A daemon heartbeat re-stamps the lock's mtime at leaseMs/3 while
    * `f` runs, so a section longer than the lease KEEPS its lock
    * instead of silently losing exclusivity mid-write. Each beat
    * first re-reads the lock: if it no longer carries our token (a
    * waiter broke it after the heartbeat failed to reach the store
    * for a full lease), the section fails loudly at its end rather
    * than reporting success for writes that may have interleaved. */
  def withTableLock[T](table: String, owner: String = "graft",
                       leaseMs: Long = DefaultLeaseMs)(f: => T): T = {
    if (!tryAcquireTableLock(table, owner, leaseMs))
      throw new java.util.ConcurrentModificationException(
        s"table '$table' is locked by another writer " +
          s"(${lockPath(table)}; lease ${leaseMs} ms)")
    runHeldSection(table, leaseMs)(f)
  }

  /** [[withTableLock]]'s skip-instead-of-throw form: None when another
    * writer holds the lock (the caller defers — a periodic compaction,
    * a backfill a later batch can retry), Some(result) when the
    * section ran. The section gets the SAME leaseMs/3 heartbeat and
    * lost-lock check as [[withTableLock]] — a bare
    * [[tryAcquireTableLock]] around a multi-write section would lose
    * its lease mid-write if the section overran 15 minutes, the exact
    * window the heartbeat exists to close. */
  def withTableLockIfFree[T](table: String, owner: String = "graft",
      leaseMs: Long = DefaultLeaseMs)(f: => T): Option[T] =
    if (!tryAcquireTableLock(table, owner, leaseMs)) None
    else Some(runHeldSection(table, leaseMs)(f))

  private def runHeldSection[T](table: String, leaseMs: Long)
      (f: => T): T = {
    val token = heldTokens.get(table)
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val period = math.max(leaseMs / 3, 50L)
    val beat = new Thread(new Runnable {
      def run(): Unit =
        try {
          var go = true
          while (go && !stop.await(
              period, java.util.concurrent.TimeUnit.MILLISECONDS)) {
            try {
              if (readMarker(table, LockName).contains(token))
                fs.setTimes(lockPath(table),
                  System.currentTimeMillis(), -1)
              else { lost.set(true); go = false }
            } catch {
              case _: java.io.IOException => () // transient: next beat
            }
          }
        } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-$table")
    beat.setDaemon(true)
    beat.start()
    try {
      val r = f
      if (lost.get)
        throw new java.util.ConcurrentModificationException(
          s"lock on table '$table' was broken while the locked " +
            "section ran (the heartbeat found a foreign or missing " +
            s"lock; lease $leaseMs ms) — concurrent writes may have " +
            "interleaved; verify the table before trusting this run")
      r
    } finally { stop.countDown(); releaseTableLock(table) }
  }

  /** True when the partition directory carries a COMMITTED write: the
    * committer's `_SUCCESS` marker is present and no in-flight
    * `_temporary` staging dir remains. A JVM death mid-write leaves a
    * directory that exists but fails this probe — the check that lets
    * [[graft.streaming.CorpusStream.compactState]] tell a completed
    * compaction target from a crashed half-write instead of trusting
    * bare directory existence (which would skip the rewrite and then
    * delete the only complete copies). */
  def partitionCommitted(table: String, partField: String,
                         partValue: String): Boolean = {
    val dir = new Path(partitionPath(table, partField, partValue))
    fs.exists(new Path(dir, "_SUCCESS")) &&
      !fs.exists(new Path(dir, "_temporary"))
  }

  private def listStatusOrEmpty(p: Path) =
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
}

object TableCatalog {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.{FileIndex,
    FileStatusWithMetadata, PartitionDirectory}

  /** [[TableCatalog.readListed]]'s file index: the files the catalog
    * listed, as one unpartitioned directory. */
  private final class ListedFiles(root: Path, files: Seq[FileStatus])
      extends FileIndex {
    def rootPaths: Seq[Path] = Seq(root)
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty,
        files.map(FileStatusWithMetadata(_))))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }
}

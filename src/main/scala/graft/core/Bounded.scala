package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** What [[Bounded.collect]] brings back of one frame: its exact row
  * count `n`, its rows when `n` is within the frame's cap (a bounded
  * prefix otherwise), and the distinct non-null longs of the key column
  * over ALL its rows. */
final case class Bounded(n: Long, rows: Array[Row], keys: Set[Long])

object Bounded {

  /** The [[Bounded]] of a frame that was never read. */
  val Empty: Bounded = Bounded(0L, Array.empty, Set.empty)

  /** ONE job over one or more frames, each with its cap: the frame's
    * exact row count, from each of its partitions the first `cap + 1`
    * rows — every row when the count is at most `cap`, a bounded prefix
    * otherwise — and, with `key`, the distinct non-null longs of that
    * column over ALL its rows. The frames' per-partition summaries come
    * back through one `SparkContext.union`. `limit(cap + 1).collect()`
    * would scan the partitions in growing rounds of jobs and still
    * leave the count to another job. */
  def collect(frames: Seq[(DataFrame, Int)],
              key: Option[Int] = None): Seq[Bounded] = {
    val sc = frames.head._1.sparkSession.sparkContext
    val parts = sc.union(frames.zipWithIndex.map { case ((df, cap), i) =>
      df.rdd.mapPartitions { it =>
        val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
        val keys = scala.collection.mutable.HashSet.empty[Long]
        var n = 0L
        it.foreach { r =>
          if (kept.length <= cap) kept += r
          key.foreach(k => if (!r.isNullAt(k)) keys += r.getLong(k))
          n += 1
        }
        Iterator.single((i, n, kept.toArray, keys.toSet))
      }
    }).collect()
    frames.indices.map { i =>
      val ps = parts.filter(_._1 == i)
      Bounded(ps.map(_._2).sum, ps.flatMap(_._3), ps.flatMap(_._4).toSet)
    }
  }

  /** [[collect]] over the frames that exist: absent ones come back as
    * [[Empty]] without being read, and no job runs when none exists. */
  def collectPresent(frames: Seq[(Option[DataFrame], Int)]): Seq[Bounded] = {
    val present = frames.collect { case (Some(f), cap) => f -> cap }
    val got = (if (present.isEmpty) Seq.empty else collect(present)).iterator
    frames.map { case (f, _) => if (f.isEmpty) Empty else got.next() }
  }
}

package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one owner of the library's scratch space: where it lives (under
  * `java.io.tmpdir`) and when it is deleted.
  *
  * [[dir]] makes a fresh directory and registers it with the innermost
  * [[scope]] open on the calling thread; [[scope]] deletes everything
  * registered inside it when it returns or throws. The open scopes are
  * inherited by threads started inside one, so a `Par.concurrently`
  * lane's directories go with its parent's scope. A directory made
  * outside any scope, or on a thread whose scope has already closed,
  * is kept until the JVM exits and removed then by one shutdown sweep.
  *
  * A gate's lazy frames may read their scratch until they are
  * materialized, so a runner closes the scope after the action, not
  * after the gate function returns.
  */
object Scratch {
  private final class Frame {
    private var open = true
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

    /** Ignored once the scope closed: the exit sweep keeps it. */
    def add(d: Path): Unit = synchronized { if (open) dirs += d }

    def close(): Seq[Path] = synchronized { open = false; dirs.toSeq }
  }

  private val scopes = new InheritableThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }

  /** Every directory not yet deleted — what the exit sweep removes. */
  private val live = ConcurrentHashMap.newKeySet[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    live.asScala.toSeq.foreach(delete)))

  /** A fresh directory `<java.io.tmpdir>/<prefix><random>`. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    live.add(d)
    scopes.get.headOption.foreach(_.add(d))
    d.toString
  }

  /** Run `f`; then delete every directory [[dir]] made inside it, on
    * this thread or on a thread started inside it. */
  def scope[T](f: => T): T = {
    val frame = new Frame
    val outer = scopes.get
    scopes.set(frame :: outer)
    try f
    finally {
      scopes.set(outer)
      frame.close().foreach { d => delete(d); live.remove(d) }
    }
  }

  private def delete(d: Path): Unit = scala.util.Try {
    val walk = Files.walk(d)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => scala.util.Try(Files.delete(p)))
    finally walk.close()
  }
}

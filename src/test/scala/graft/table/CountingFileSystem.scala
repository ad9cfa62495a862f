package graft.table

import java.io.{IOException, OutputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Local file system that records every directory listing, file
  * create, rename and delete made through it, and on request fails one
  * create. [[CountingFileSystem.during]] installs it as `fs.file.impl`
  * on the session's Hadoop configuration (file-system cache off, so
  * every lookup gets a counting instance) for the duration of a block;
  * executor tasks of a local session pick it up from the same
  * configuration. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = counted(listed, f)(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(listed, f)(super.listStatus(f, filter))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(listed, f)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(listed, f)(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] = counted(listed, p)(super.globStatus(p))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val fails = depth.get == 0 && selectsFault(makeQualified(f))
    val out = counted(created, f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
    if (!fails) out else new FSDataOutputStream(new FailingStream(out, f), null)
  }

  override def rename(src: Path, dst: Path): Boolean =
    counted(renamed, src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deleted, f)(super.delete(f, recursive))
}

object CountingFileSystem {
  private val listed = new ConcurrentLinkedQueue[Path]()
  private val created = new ConcurrentLinkedQueue[Path]()
  private val renamed = new ConcurrentLinkedQueue[Path]()
  private val deleted = new ConcurrentLinkedQueue[Path]()
  // one user-level call counts once, however the base class delegates
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  // the armed fault: fail the k-th create whose path `faultPaths` selects
  @volatile private var faultPaths: Path => Boolean = _ => false
  private val faultK = new AtomicInteger(0)
  private val faultSeen = new AtomicInteger(0)
  @volatile private var faulted: Option[Path] = None

  private def counted[T](q: ConcurrentLinkedQueue[Path], p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) q.add(p)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  private def selectsFault(p: Path): Boolean =
    faultPaths(p) && faultSeen.incrementAndGet() == faultK.get && {
      faulted = Some(p)
      true
    }

  /** The target is created (opened for writing, so it exists and is
    * empty), nothing written to it lands, and `close` throws — a crash
    * in the middle of writing the file. */
  private final class FailingStream(out: FSDataOutputStream, p: Path) extends OutputStream {
    override def write(b: Int): Unit = ()
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def close(): Unit = {
      out.close()
      throw new IOException(s"injected failure writing $p")
    }
  }

  /** Directories listed since the last [[reset]], qualified, in order. */
  def listings: Seq[Path] = listed.asScala.toSeq
  /** Files created since the last [[reset]], in order. */
  def creates: Seq[Path] = created.asScala.toSeq
  def renames: Seq[Path] = renamed.asScala.toSeq
  def deletes: Seq[Path] = deleted.asScala.toSeq
  /** The create the armed fault failed, if it fired. */
  def faultedPath: Option[Path] = faulted

  def reset(): Unit = {
    Seq(listed, created, renamed, deleted).foreach(_.clear())
    faultPaths = _ => false
    faultK.set(0)
    faultSeen.set(0)
    faulted = None
  }

  def during[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val before = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    reset()
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Runs `body` with the k-th create (1-based) of a path `select`
    * accepts failing as [[FailingStream]] describes; returns the
    * failure `body` raised, or None when it completed. */
  def failing(spark: SparkSession, k: Int)(select: Path => Boolean)(body: => Any): Option[Throwable] =
    during(spark) {
      faultPaths = select
      faultK.set(k)
      try { body; None }
      catch { case t: Throwable => Some(t) }
      finally faultPaths = _ => false
    }
}

package graft.table

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.spark.sql.SparkSession

/** Local file system that records every directory listing made through
  * it. [[CountingFileSystem.during]] installs it as `fs.file.impl` on
  * the session's Hadoop configuration (file-system cache off, so every
  * lookup gets a counting instance) for the duration of a block. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.counted
  override def listStatus(f: Path): Array[FileStatus] = counted(f)(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(f)(super.listStatus(f, filter))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(f)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(f)(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] = counted(p)(super.globStatus(p))
}

object CountingFileSystem {
  private val listed = new ConcurrentLinkedQueue[Path]()
  // one user-level call counts once, however the base class delegates
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def counted[T](p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) listed.add(p)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Directories listed since the last [[reset]], qualified, in order. */
  def listings: Seq[Path] = listed.asScala.toSeq

  def reset(): Unit = listed.clear()

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
}

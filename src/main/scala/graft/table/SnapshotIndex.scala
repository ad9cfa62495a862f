package graft.table

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, ExecutorService, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * A Spark `FileIndex` over one committed snapshot (or one index layout
 * of it), planned from the already-parsed manifest instead of from a
 * directory listing. The manifest names every live partition key and
 * the directory that physically holds it — the snapshot's own data
 * directory, or the ancestor a scoped mutation inherited it from — so
 * the index knows its partition values before touching the file
 * system.
 *
 * `listFiles` evaluates the static partition filters on the driver
 * against those values (the `PartitioningAwareFileIndex.prunePartitions`
 * rule: every filter over partition columns only, bound to the value
 * row) and lists only the surviving leaf directories, skipping `_` and
 * `.` files. Building a DataFrame therefore lists nothing and runs no
 * Spark job; listing happens when the scan node first asks for its
 * partitions, and shrinks to the pruned keys. More unlisted leaves than
 * `spark.sql.sources.parallelPartitionDiscovery.threshold` are listed
 * concurrently on a small driver pool (one round trip per directory
 * matters on object stores), fewer one after another. A committed
 * snapshot's directories never change, so each directory is listed at
 * most once per index instance.
 *
 * `sizeInBytes`, which join planning asks of the whole relation before
 * any pruning, lists nothing when the manifest knows the leaves' row
 * counts: it is the rows times the data schema's default row size, an
 * uncompressed estimate (about twice the Parquet bytes of a 30k-row
 * temporal point table), so a join rarely broadcasts a table side it
 * would not have broadcast by the listed bytes. Leaves without counts
 * (index layouts) are listed and their file lengths summed.
 *
 * `metadataOpsTimeNs` reports listing time no scan has been charged for
 * yet — listing done ahead of a scan, such as `inputFiles` or an
 * uncounted `sizeInBytes` — and resets it. The scan node reads it just
 * before its own `listFiles` call, which it times itself, and adds both
 * to its `metadataTime` SQL metric, so each listing is charged once, to
 * the first scan after it.
 */
private[table] final class SnapshotIndex(spark: SparkSession,
                                         override val partitionSchema: StructType,
                                         private val leaves: Seq[(Seq[Any], Path)],
                                         estimatedBytes: Option[Long])
    extends FileIndex {

  private val rows: Seq[(InternalRow, Path)] =
    leaves.map { case (values, dir) => (InternalRow.fromSeq(values), dir) }
  private val listed = new ConcurrentHashMap[Path, Array[FileStatus]]()
  private val unchargedNs = new AtomicLong

  override def rootPaths: Seq[Path] = leaves.map(_._2)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prune(partitionFilters)
    kept.zip(filesIn(kept.map(_._2))).collect {
      case ((values, _), files) if files.nonEmpty => PartitionDirectory(values, files)
    }
  }

  override def inputFiles: Array[String] =
    charged(filesIn(rows.map(_._2))).flatten.map(_.getPath.toString).toArray

  override def sizeInBytes: Long = estimatedBytes.getOrElse(
    charged(filesIn(rows.map(_._2))).iterator.flatMap(_.iterator).map(_.getLen).sum)

  override def refresh(): Unit = listed.clear()

  override def metadataOpsTimeNs: Option[Long] = Some(unchargedNs.getAndSet(0))

  /** Two indexes over the same leaves are the same relation, so a cached
    * read is found again by a later read of the same snapshot. */
  override def equals(o: Any): Boolean = o match {
    case s: SnapshotIndex => s.partitionSchema == partitionSchema && s.leaves == leaves
    case _ => false
  }

  override def hashCode: Int = leaves.hashCode

  private def prune(filters: Seq[Expression]): Seq[(InternalRow, Path)] = {
    val resolver = SQLConf.get.resolver
    val names = partitionSchema.fieldNames
    def isPartitionCol(name: String) = names.exists(resolver(_, name))
    val usable = filters.filter(_.references.forall(a => isPartitionCol(a.name)))
    if (usable.isEmpty) rows
    else {
      val bound = Predicate.createInterpreted(usable.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexWhere(resolver(_, a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      rows.filter { case (values, _) => bound.eval(values) }
    }
  }

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally unchargedNs.addAndGet(System.nanoTime() - t0)
  }

  /** The data files of each directory, in order, listing the ones not
    * listed before. */
  private def filesIn(dirs: Seq[Path]): Seq[Array[FileStatus]] = {
    val pending = dirs.filterNot(listed.containsKey).distinct
    val found =
      if (pending.size > SQLConf.get.parallelPartitionDiscoveryThreshold)
        SnapshotIndex.inParallel(pending)(list)
      else pending.map(list)
    pending.zip(found).foreach { case (d, files) => listed.putIfAbsent(d, files) }
    dirs.map(listed.get)
  }

  private def list(dir: Path): Array[FileStatus] =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
}

private[table] object SnapshotIndex {

  /**
   * A Parquet scan over manifest-planned leaf directories. `columns` is
   * the output in read order, partition columns last (in directory
   * order, as plain partition discovery presents them); `leaves` pairs
   * each directory with its partition values in `partitionCols` order.
   * Every column reads nullable, as a Parquet scan reports it. Pushed
   * filters, row-group skipping and partition pruning behave as on a
   * directory read. `rows`, the leaves' total row count when the
   * manifest records it, sizes the relation without a listing.
   */
  def scan(spark: SparkSession, columns: StructType, partitionCols: Seq[String],
           leaves: Seq[(Seq[Any], String)], rows: Option[Long] = None): DataFrame = {
    def nullable(fields: Seq[StructField]) = StructType(fields.map(_.copy(nullable = true)))
    val partitionSchema = nullable(partitionCols.map(columns(_)))
    val dataSchema = nullable(columns.filterNot(f => partitionCols.contains(f.name)))
    val index = new SnapshotIndex(spark, partitionSchema,
      leaves.map { case (values, dir) => (values, new Path(dir)) }, rows.map(_ * dataSchema.defaultSize))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Threads listing leaf directories concurrently, shared by every
    * index; idle threads exit. */
  private val Listers = 16
  private lazy val listingPool: ExecutorService = {
    val pool = new ThreadPoolExecutor(Listers, Listers, 30, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-snapshot-listing")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** `f` over `xs` on the listing pool, results in order; the first
    * failure is rethrown as itself. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val futures = xs.map(x => listingPool.submit(new Callable[B] { def call(): B = f(x) }))
    try futures.map { fu =>
      try fu.get()
      catch { case e: ExecutionException => throw e.getCause }
    } finally futures.foreach(_.cancel(true))
  }
}

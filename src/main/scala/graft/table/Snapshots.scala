package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructField, StructType}

import scala.jdk.CollectionConverters._

/**
 * The snapshot-store mechanics under [[TableEngine]]: the
 * committed-snapshot listing, the GC fixpoint and the list of a
 * snapshot's artifacts, atomic metadata writes, and the secondary index
 * layouts' markers, sources sidecars and planned reads. Layout
 * contract: `<root>/_manifests/<id>.json` plus a `<id>.committed`
 * marker written LAST.
 */
private[graft] object Snapshots {

  /** Snapshot ids present under the root, committed only. */
  def committed(spark: SparkSession, root: String): Seq[String] =
    markers(spark, root).map(_.getPath.getName.stripSuffix(".committed")).sorted

  /** The commit markers of committed snapshots: a marker counts only
    * with its matching manifest (secondary index layouts commit markers
    * in the same directory without one). */
  def markers(spark: SparkSession, root: String): Seq[FileStatus] = {
    val f = TableEngine.fs(spark, root)
    val dir = new Path(s"$root/_manifests")
    if (!f.exists(dir)) Seq.empty
    else {
      val statuses = f.listStatus(dir).toSeq
      val names = statuses.map(_.getPath.getName).toSet
      statuses.filter { st =>
        val n = st.getPath.getName
        n.endsWith(".committed") && names.contains(n.stripSuffix(".committed") + ".json")
      }
    }
  }

  /**
   * Marker-first snapshot GC with FIXPOINT reachability: every snapshot
   * NOT in `keep` and NOT (transitively) referenced by a retained
   * snapshot is deleted ([[delete]]). `refs(id)` is the by-reference
   * edge set (physical holders this snapshot still reads). Returns the
   * expired ids.
   */
  def expire(spark: SparkSession, root: String, keep: Seq[String],
             refs: String => Set[String]): Seq[String] = {
    val all = committed(spark, root)
    val missing = keep.filterNot(all.contains)
    require(missing.isEmpty, s"cannot keep unknown snapshot(s): ${missing.mkString(", ")}")
    require(keep.nonEmpty, "keep at least one snapshot (use dropTable to delete everything)")
    // reachability to a fixpoint over the whole retained set: a snapshot
    // retained only because a kept one reads its files may itself
    // reference a third — every LISTED snapshot must keep answering, so
    // the retained set closes transitively (flattened sources maps make
    // each step one hop)
    var retain = keep.toSet
    var frontier = keep.toSet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(refs) -- retain
      retain ++= next
      frontier = next
    }
    val drop = all.filterNot(retain)
    delete(spark, root, drop)
    drop
  }

  /** Deletes snapshots: each one's commit marker FIRST, so a crash
    * midway leaves an uncommitted (invisible) snapshot, never a
    * committed one missing files; then everything else it owns — data,
    * `_metrics`, stats, every index layout, the manifest, index markers
    * and sidecars, and hidden siblings a crashed metadata write left. */
  def delete(spark: SparkSession, root: String, ids: Seq[String]): Unit = {
    val f = TableEngine.fs(spark, root)
    val indexDirs = names(spark, root).filter(_.startsWith("index_"))
    val metadata = names(spark, s"$root/_manifests")
    ids.foreach { id =>
      f.delete(new Path(s"$root/_manifests/$id.committed"), false)
      (Seq(s"$root/data/snapshot=$id", s"$root/_metrics/snapshot=$id",
        s"$root/_stats/$id.json", s"$root/_stats/.$id.json.tmp") ++
        indexDirs.map(d => s"$root/$d/snapshot=$id") ++
        metadata.filter(n => n == s"$id.json" || n.startsWith(s"$id.attr_") ||
          n.startsWith(s".$id.")).map(n => s"$root/_manifests/$n"))
        .foreach(p => f.delete(new Path(p), true))
    }
  }

  /** Writes a small metadata file atomically: to a hidden sibling that
    * is then renamed over the target, so neither a reader nor a crash
    * ever sees it half-written (rename replaces the target on local and
    * POSIX file systems; where a store refuses to, the target is deleted
    * first). */
  def writeString(f: FileSystem, path: String, s: String): Unit = {
    val dst = new Path(path)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, dst) && !(f.delete(dst, false) && f.rename(tmp, dst)))
      throw new java.io.IOException(s"cannot move $tmp to $dst")
  }

  def readString(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  // ---- secondary index layouts ---------------------------------------
  //
  //   <root>/index_<attr>/snapshot=<id>/attr_bucket=<b>/part-*.parquet
  //   <root>/_manifests/<id>.attr_<attr>.committed  marker: the bucket
  //       count, then (point tables) the tier column
  //   <root>/_manifests/<id>.attr_<attr>.sources    scoped layouts only:
  //       where each bucket's rows live ([[IndexLayout]])
  //
  // A self-contained layout (a first write or a whole-table rewrite) holds
  // every bucket in its own directory and has no sidecar. A scoped commit
  // writes only the buckets its changed rows hash into and names every
  // bucket's holders in the sidecar. Each bucket is a BASE — index rows
  // sorted by (attr, tier?, sortCol), in the snapshot that last wrote it
  // whole — plus at most one DELTA: a single file, in the directory of
  // the snapshot that wrote it, holding the bucket's changes since its
  // base, cumulatively. The delta's rows are index rows (flag false, sorted
  // like the base) that replace or add to the base; its TOMBSTONES (flag
  // true, only the id column set) are the ids removed from the base. A
  // read is the base minus its tombstones on (attr_bucket, id), plus the
  // delta rows. A commit rewrites a touched bucket's delta, or FOLDS the
  // bucket (rewrites it whole as a new base, no delta) once the delta
  // outgrows [[TableEngine.FoldFraction]] of an average bucket.
  //
  // The sidecar is NOT ".json": committed() recognizes a snapshot by the
  // (<id>.committed, <id>.json) pair, and a .json sidecar would make the
  // layout masquerade as a snapshot.

  /** The flag column of a delta file: true on tombstones. */
  val Tombstone = "__tombstone"

  /** Where an index bucket's rows live: the snapshot holding its base
    * files and, if the bucket changed since, the one holding its delta
    * file. `size` bounds the delta's rows plus tombstones from above (the
    * sum of the changed rows each commit added to it). */
  final case class IndexBucket(base: String, delta: Option[String] = None, size: Long = 0L) {
    def holders: Seq[String] = base +: delta.toSeq
  }

  /** An index layout's buckets, and the id column its tombstones key
    * (None while no bucket has a delta). */
  final case class IndexLayout(idCol: Option[String], buckets: Map[Int, IndexBucket])

  def indexMarkerPath(root: String, id: String, attr: String): String =
    s"$root/_manifests/$id.attr_$attr.committed"

  def indexSourcesPath(root: String, id: String, attr: String): String =
    s"$root/_manifests/$id.attr_$attr.sources"

  /** An index layout's commit-marker lines, read with one open: None
    * while the layout is uncommitted, no lines for a layout committed
    * before its marker recorded the bucket count. */
  def indexMarker(spark: SparkSession, root: String, id: String,
                  attr: String): Option[Seq[String]] =
    try Some(readString(TableEngine.fs(spark, root), new Path(indexMarkerPath(root, id, attr)))
      .trim.linesIterator.toSeq)
    catch { case _: java.io.FileNotFoundException => None }

  /** The bucket modulus a marker records, if any. */
  def bucketsOf(marker: Seq[String]): Option[Int] = marker.headOption.map(_.toInt)

  /** Committed index layouts of a snapshot: attribute -> bucket modulus,
    * each marker read once. */
  def indexedColumns(spark: SparkSession, root: String, id: String): Map[String, Option[Int]] = {
    names(spark, root)
      .collect { case n if n.startsWith("index_") => n.stripPrefix("index_") }
      .flatMap(a => indexMarker(spark, root, id, a).map(m => a -> bucketsOf(m)))
      .toMap
  }

  private val mapper = new ObjectMapper()

  /** A scoped layout's sidecar; None for a self-contained layout. A
    * bucket entry is its base holder's id (all sidecars written before
    * deltas existed are of this form) or an object with the delta. */
  private def indexSources(spark: SparkSession, root: String, id: String,
                           attr: String): Option[IndexLayout] = {
    val f = TableEngine.fs(spark, root)
    val jp = new Path(indexSourcesPath(root, id, attr))
    if (!f.exists(jp)) None
    else {
      val n = mapper.readTree(readString(f, jp))
      Some(IndexLayout(Option(n.get("id")).map(_.asText),
        n.get("sources").fields().asScala.map { e =>
          val v = e.getValue
          e.getKey.toInt -> (if (v.isTextual) IndexBucket(v.asText)
            else IndexBucket(v.get("base").asText, Some(v.get("delta").asText), v.get("size").asLong))
        }.toMap))
    }
  }

  /** Writes a scoped layout's sidecar. */
  def writeIndexSources(spark: SparkSession, root: String, id: String, attr: String,
                        layout: IndexLayout): Unit = {
    val node = mapper.createObjectNode()
    layout.idCol.foreach(node.put("id", _))
    val srcs = node.putObject("sources")
    layout.buckets.toSeq.sortBy(_._1).foreach {
      case (b, IndexBucket(base, None, _)) => srcs.put(b.toString, base)
      case (b, IndexBucket(base, Some(delta), size)) =>
        srcs.putObject(b.toString).put("base", base).put("delta", delta).put("size", size)
    }
    writeString(TableEngine.fs(spark, root), indexSourcesPath(root, id, attr),
      mapper.writeValueAsString(node))
  }

  /** The bucket directories a layout's own snapshot directory holds. */
  def listedBuckets(spark: SparkSession, root: String, id: String,
                    attr: String): Seq[Int] =
    names(spark, s"$root/index_$attr/snapshot=$id")
      .collect { case s if s.startsWith("attr_bucket=") => s.stripPrefix("attr_bucket=").toInt }

  /** Where a layout's buckets live: its sidecar when a scoped commit
    * wrote it, else its own directory listing (self-contained). */
  def indexLayout(spark: SparkSession, root: String, id: String, attr: String): IndexLayout =
    indexSources(spark, root, id, attr)
      .getOrElse(IndexLayout(None, listedBuckets(spark, root, id, attr).map(_ -> IndexBucket(id)).toMap))

  /** Index layout scan, planned like a snapshot read ([[layoutRead]]). */
  def indexRead(spark: SparkSession, root: String, id: String, attr: String,
                columns: StructType): DataFrame =
    layoutRead(spark, root, attr, columns, indexLayout(spark, root, id, attr))

  /**
   * The rows of a layout's buckets, in `columns` (the snapshot's read
   * schema) plus `attr_bucket`. Buckets without a delta are one plain
   * scan; those with one add their base minus its tombstones (Spark
   * broadcasts the tombstones while they are small, which the fold keeps
   * them) and their delta rows. Partition filters on `attr_bucket` prune
   * every branch.
   */
  def layoutRead(spark: SparkSession, root: String, attr: String, columns: StructType,
                 layout: IndexLayout): DataFrame = {
    val (changed, plain) = layout.buckets.toSeq.partition(_._2.delta.isDefined)
    val scan = indexScan(spark, root, attr, columns, plain.map(e => e._1 -> e._2.base))
    if (changed.isEmpty) scan
    else {
      val idCol = layout.idCol.get
      val (rows, tombs) = deltaOf(spark, root, attr, columns, changed)
      val base = indexScan(spark, root, attr, columns, changed.map(e => e._1 -> e._2.base))
      scan.unionByName(base.join(tombs.select("attr_bucket", idCol), Seq("attr_bucket", idCol),
        "left_anti").select(scan.columns.toSeq.map(col): _*)).unionByName(rows)
    }
  }

  /** The delta rows and the tombstones (rows with only `attr_bucket`
    * and the id set) of the given buckets that have a delta. */
  def deltaOf(spark: SparkSession, root: String, attr: String, columns: StructType,
              buckets: Seq[(Int, IndexBucket)]): (DataFrame, DataFrame) = {
    val delta = indexScan(spark, root, attr, columns.add(StructField(Tombstone, BooleanType)),
      buckets.collect { case (b, IndexBucket(_, Some(d), _)) => b -> d })
    (delta.where(!col(Tombstone)).drop(Tombstone), delta.where(col(Tombstone)))
  }

  /** A scan over the given index buckets (bucket -> physical holder). */
  def indexScan(spark: SparkSession, root: String, attr: String, columns: StructType,
                buckets: Seq[(Int, String)]): DataFrame =
    SnapshotIndex.scan(spark, columns.add(StructField("attr_bucket", IntegerType)),
      Seq("attr_bucket"),
      buckets.sortBy(_._1).map { case (b, src) =>
        (Seq(b), s"$root/index_$attr/snapshot=$src/attr_bucket=$b")
      })

  /** The entries of a directory; none when it does not exist. */
  private def names(spark: SparkSession, dir: String): Seq[String] = {
    val f = TableEngine.fs(spark, dir)
    if (!f.exists(new Path(dir))) Seq.empty
    else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
  }
}

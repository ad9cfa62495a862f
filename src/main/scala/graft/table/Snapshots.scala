package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

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
  //   <root>/_manifests/<id>.attr_<attr>.sources    delta-rebuilt
  //       layouts only: bucket -> the snapshot physically holding it
  //
  // The sidecar is NOT ".json": committed() recognizes a snapshot by the
  // (<id>.committed, <id>.json) pair, and a .json sidecar would make the
  // layout masquerade as a snapshot.

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

  /** bucket -> physical snapshot for a delta-rebuilt layout (its sources
    * sidecar); None for a self-contained layout. */
  private def indexSources(spark: SparkSession, root: String, id: String,
                           attr: String): Option[Map[Int, String]] = {
    val f = TableEngine.fs(spark, root)
    val jp = new Path(indexSourcesPath(root, id, attr))
    if (!f.exists(jp)) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(f, jp))
      val it = n.get("sources").fields()
      val b = Map.newBuilder[Int, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey.toInt -> e.getValue.asText }
      Some(b.result())
    }
  }

  /** The bucket directories a layout's own snapshot directory holds. */
  def listedBuckets(spark: SparkSession, root: String, id: String,
                    attr: String): Seq[Int] =
    names(spark, s"$root/index_$attr/snapshot=$id")
      .collect { case s if s.startsWith("attr_bucket=") => s.stripPrefix("attr_bucket=").toInt }

  /** bucket -> physical snapshot: the sources sidecar when the layout was
    * delta-rebuilt, else its own directory listing (self-contained). */
  def indexPhysical(spark: SparkSession, root: String, id: String,
                    attr: String): Map[Int, String] =
    indexSources(spark, root, id, attr)
      .getOrElse(listedBuckets(spark, root, id, attr).map(_ -> id).toMap)

  /** Index layout scan, planned like a snapshot read: a delta-rebuilt
    * layout's leaves are the buckets its sources sidecar names, a
    * self-contained layout's the bucket directories it holds. `columns`
    * is the snapshot's read schema; attr_bucket follows it. */
  def indexRead(spark: SparkSession, root: String, id: String, attr: String,
                columns: StructType): DataFrame =
    indexScan(spark, root, attr, columns, indexPhysical(spark, root, id, attr).toSeq)

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

package graft.table

import java.math.{MathContext, RoundingMode}

import graft.cells.{GeoHash, GeoHashOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Resolution-aware raster chunk store — the reference's
 * AccumuloRasterStore / AccumuloRasterQueryPlanner / RasterEntry
 * (geomesa-accumulo-raster/.../data/AccumuloRasterStore.scala,
 * AccumuloRasterQueryPlanner.scala:33-135, index/RasterEntry.scala:58-86)
 * re-expressed as a partitioned Parquet snapshot:
 *
 *   <root>/data/snapshot=<id>/res_key=<lexi(res)>/part-*.parquet
 *     files sorted by `gh` (the chunk's minimum-bounding geohash)
 *   <root>/bounds/snapshot=<id>/  per-resolution bounds + geohash-length
 *     manifest — the GEOMESA_RASTER_BOUNDS_TABLE analog
 *   <root>/_manifests/<id>.committed  commit marker (idempotent resume)
 *
 * The reference keys rows as `lexi(res)~geohash`; here the lexi-encoded
 * resolution is a Hive partition directory (exact-match pruning at
 * planning time) and the geohash is a sorted column (prefix predicates
 * push to Parquet as string ranges — row-group pruning within the
 * resolution). The planner's three-step query
 * (select resolution -> closest-acceptable-geohash + touching ->
 * range per hash, AccumuloRasterQueryPlanner.getQueryPlan:49-92) runs
 * on the driver against the small bounds manifest, exactly like the
 * reference planning against its bounds table; the spatial re-check —
 * the RasterFilteringIterator's `intersects AND NOT touches` filter
 * (AccumuloRasterQueryPlanner.constructRasterFilter:111-117) — is the
 * strict 2-D box-overlap predicate on the chunk extent columns, pure
 * codegen, evaluated in the same scan.
 *
 * Scale shape: one snapshot = one immutable layer; queries touch one
 * res_key directory and the geohash row groups under the query's
 * handful of prefixes; the refine never leaves whole-stage codegen. At
 * 10^12 chunks the scan parallelism is the pruned split count, and the
 * only driver state is the per-resolution manifest (O(#resolutions)).
 */
object RasterTable {

  /** Reference default when no stored resolution covers the query
    * (raster/package.scala:55). */
  val DefaultResolution = 1.0

  private val mc = new MathContext(4, RoundingMode.FLOOR)

  /** Truncate to 4 significant digits with FLOOR — raster/package.scala:
    * 60-67 (stable keys under bbox-derived resolution jitter). */
  def truncateRes(d: Double): Double = BigDecimal(d).round(mc).toDouble

  /** Order-preserving fixed-width encoding of the truncated resolution —
    * lexiEncodeDoubleToString (raster/package.scala:73-76): sign-flipped
    * IEEE-754 bits in hex sort exactly like the doubles they encode. */
  def lexiEncodeRes(d: Double): String = {
    val bits = java.lang.Double.doubleToLongBits(truncateRes(d))
    val flipped = if (bits < 0) ~bits else bits ^ Long.MinValue
    "%016x".format(flipped)
  }

  def lexiDecodeRes(s: String): Double = {
    val flipped = java.lang.Long.parseUnsignedLong(s, 16)
    val bits = if ((flipped & Long.MinValue) != 0L) flipped ^ Long.MinValue else ~flipped
    truncateRes(java.lang.Double.longBitsToDouble(bits))
  }

  def isCommitted(spark: SparkSession, root: String, snapshotId: String): Boolean =
    TableEngine.isCommitted(spark, root, snapshotId)

  /**
   * Write a chunk snapshot. `df` must carry `rid` (chunk id), the
   * extent columns `minx`/`miny`/`maxx`/`maxy`, `res` (degrees/pixel at
   * ingest, RasterQuery.scala:20) and whatever payload columns the
   * chunks use (`w`/`h`/`pixels`, or encoded image bytes). Derives
   * `res_key` (lexi-encoded truncated resolution) and `gh` (the
   * minimum-bounding geohash, Raster.minimumBoundingGeoHash —
   * data/Raster.scala:31; "" when none exists) and lays the data out
   * for the planner. Idempotent per (root, snapshotId).
   */
  def write(spark: SparkSession, df: DataFrame, root: String, snapshotId: String,
            partitions: Int = 8): Unit = {
    if (isCommitted(spark, root, snapshotId)) return
    val resKeyUdf = udf((res: Double) => lexiEncodeRes(res))
    val ghUdf = udf((minx: Double, miny: Double, maxx: Double, maxy: Double) =>
      GeoHashOps.closestAcceptableGeoHash(minx, maxx, miny, maxy).map(_.hash).getOrElse(""))
    val keyed = df
      .withColumn("res_key", resKeyUdf(col("res")))
      .withColumn("gh", ghUdf(col("minx"), col("miny"), col("maxx"), col("maxy")))
      .repartition(partitions, col("res_key"))
      .sortWithinPartitions("res_key", "gh")
    keyed.write.mode("overwrite").partitionBy("res_key")
      .parquet(s"$root/data/snapshot=$snapshotId")

    // the bounds-table analog: per resolution, the union extent of its
    // chunks + the max geohash length (getResToGeoHashLenMap /
    // getResToBoundsMap in AccumuloRasterStore)
    spark.read.parquet(s"$root/data/snapshot=$snapshotId")
      .groupBy(col("res_key"))
      .agg(
        first(truncResCol(col("res"))).as("res"),
        min("minx").as("minx"), min("miny").as("miny"),
        max("maxx").as("maxx"), max("maxy").as("maxy"),
        max(length(col("gh"))).as("gh_len"),
        // max chunk extent per resolution: the planner pads the query by
        // this much, which makes centroid-keyed geohash pruning exact
        // (a chunk's key cell contains its centroid, and an overlapping
        // chunk's centroid lies within half a chunk of the query box)
        max(col("maxx") - col("minx")).as("max_w"),
        max(col("maxy") - col("miny")).as("max_h"),
        count(lit(1)).as("chunks"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/bounds/snapshot=$snapshotId")

    Snapshots.writeString(TableEngine.fs(spark, root), s"$root/_manifests/$snapshotId.committed", "")
  }

  /** res truncation as a Column (4-sig-digit FLOOR is not a SQL
    * primitive; route the tiny bounds aggregation through the same
    * scala function for bit-exactness with the planner). */
  private def truncResCol(c: org.apache.spark.sql.Column) =
    udf((d: Double) => truncateRes(d)).apply(c)

  final case class ResEntry(resKey: String, res: Double,
                            minx: Double, miny: Double, maxx: Double, maxy: Double,
                            ghLen: Int, maxW: Double, maxH: Double, chunks: Long)

  /** The per-resolution manifest (driver-side, O(#resolutions)). */
  def resolutions(spark: SparkSession, root: String, snapshotId: String): Seq[ResEntry] = {
    if (!isCommitted(spark, root, snapshotId)) return Seq.empty
    val bounds = spark.read.parquet(s"$root/bounds/snapshot=$snapshotId")
    val hasDims = bounds.columns.contains("max_w")
    bounds.collect().toSeq.map { r =>
      ResEntry(r.getAs[String]("res_key"), r.getAs[Double]("res"),
        r.getAs[Double]("minx"), r.getAs[Double]("miny"),
        r.getAs[Double]("maxx"), r.getAs[Double]("maxy"),
        r.getAs[Int]("gh_len"),
        // pre-max_w manifests: fall back to the union extent (a wider
        // pad means a wider scan, never a missed chunk)
        if (hasDims) r.getAs[Double]("max_w") else r.getAs[Double]("maxx") - r.getAs[Double]("minx"),
        if (hasDims) r.getAs[Double]("max_h") else r.getAs[Double]("maxy") - r.getAs[Double]("miny"),
        r.getAs[Long]("chunks"))
    }
  }

  /** Layer bounds — whole world for an empty/unknown layer, the union
    * extent otherwise (RasterBoundsTableTest's contract). */
  def bounds(spark: SparkSession, root: String, snapshotId: String): (Double, Double, Double, Double) = {
    val es = resolutions(spark, root, snapshotId)
    if (es.isEmpty) (-180.0, -90.0, 180.0, 90.0)
    else (es.map(_.minx).min, es.map(_.miny).min, es.map(_.maxx).max, es.map(_.maxy).max)
  }

  /** Step 1 of the plan: finest stored resolution <= requested, else the
    * finest available (AccumuloRasterQueryPlanner.selectResolution:
    * 95-107 — note the reference compares against the TRUNCATED
    * request, because ingest truncated too). */
  def selectResolution(requested: Double, available: Seq[Double]): Double = {
    if (available.size <= 1) available.headOption.getOrElse(DefaultResolution)
    else {
      val finer = available.filter(_ <= requested)
      if (finer.isEmpty) available.min else finer.max
    }
  }

  /** Steps 1b: walk coarser until one resolution's bounds 2-D-overlap
    * the query (getCoarserBounds:45-46; `relate(_, "2********")` on
    * boxes = strict overlap in both axes). */
  def coarserCovering(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double,
                      preferred: Double, entries: Seq[ResEntry]): Option[ResEntry] =
    entries.filter(_.res >= preferred).sortBy(_.res).find { e =>
      e.minx < qMaxX && e.maxx > qMinX && e.miny < qMaxY && e.maxy > qMinY
    }

  /**
   * Steps 2-4 of getQueryPlan: the geohash prefixes to scan. Empty
   * string = the whole resolution.
   *
   * The reference scans the query's closest-acceptable hash plus its
   * touching ring (AccumuloRasterQueryPlanner:60-71, modifyHashRange
   * :129-134). Because chunk keys are CENTROID-keyed (Raster.scala:31
   * delegates to getClosestAcceptableGeoHash), a chunk's key cell is
   * not guaranteed to contain the chunk, so the center+ring shape can
   * miss chunks whose key cell sits outside it. This planner is
   * provably a superset instead: pad the query box by half the
   * resolution's max chunk extent (an overlapping chunk's centroid
   * lies within that pad), cover the padded box with cells at the
   * stored hash length (budgeted — over budget coarsens the prefixes,
   * which only widens the scan), and match stored hashes by prefix in
   * BOTH directions in `query` (a stored hash shorter than the prefix
   * is an ancestor cell). The exact strict-overlap refine removes the
   * extra rows.
   */
  def hashPrefixes(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double,
                   expectedLen: Int, maxW: Double, maxH: Double): Seq[String] = {
    if (expectedLen <= 0) return Seq("")
    val padX = maxW / 2
    val padY = maxH / 2
    val lo = math.max(-180.0, qMinX - padX)
    val hi = math.min(180.0, qMaxX + padX)
    val la = math.max(-90.0, qMinY - padY)
    val ha = math.min(90.0, qMaxY + padY)
    // planner failure degrades to a full-resolution scan (the refine
    // keeps it correct), never to "scan nothing"
    val prefixes = scala.util.Try(
      GeoHashOps.coverFromBBox(lo, hi, la, ha, maxHashes = 32, precChars = expectedLen)
    ).getOrElse(List("")).distinct
    if (prefixes.isEmpty) Seq("")
    else prefixes.filterNot(p => prefixes.exists(o => o.length < p.length && p.startsWith(o)))
  }

  /**
   * The raster query (getRasters / getQueryPlan): pick the resolution,
   * prune to its partition directory and the geohash prefixes, and
   * re-check the strict 2-D overlap exactly. Returns the matching chunk
   * rows with all their payload columns.
   */
  def query(spark: SparkSession, root: String, snapshotId: String,
            qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double,
            resolution: Double): DataFrame = {
    val entries = resolutions(spark, root, snapshotId)
    if (entries.isEmpty) return spark.emptyDataFrame // nothing committed
    val data = spark.read.parquet(s"$root/data/snapshot=$snapshotId")

    // raw request vs truncated stored values — the reference's available
    // list is decoded from row keys, i.e. already truncated, while the
    // request stays raw (selectResolution:95-107 over getResToGeoHashLenMap)
    val preferred = selectResolution(resolution, entries.map(_.res).sorted)
    val selected = coarserCovering(qMinX, qMinY, qMaxX, qMaxY, preferred, entries)
    selected match {
      case None => data.where(lit(false))
      case Some(e) =>
        val prefixes = hashPrefixes(qMinX, qMinY, qMaxX, qMaxY, e.ghLen, e.maxW, e.maxH)
        val ghPred = prefixes.map {
          case "" => lit(true)
          case p =>
            // descendants of p (stored at >= p chars) OR ancestors of p
            // (stored shorter, including the "" whole-world key) — both
            // sargable: a string range plus an exact IN list
            val ancestors = (0 until p.length).map(p.substring(0, _))
            col("gh").startsWith(p) || col("gh").isin(ancestors: _*)
        }.reduce(_ || _)
        data
          .where(col("res_key") === e.resKey)
          .where(ghPred)
          .where(col("minx") < qMaxX && col("maxx") > qMinX &&
            col("miny") < qMaxY && col("maxy") > qMinY)
    }
  }
}

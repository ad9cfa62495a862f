package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.cells.Cells
import graft.functions.StFunctions
import graft.geom.GeomOps

/**
 * Distributed k-nearest-neighbor join: for each query point, the k
 * closest data points (haversine meters, or planar degrees for the
 * `planar` metric — the oracle-safe mode).
 *
 * Semantics mirror the reference's cell-ring expansion search
 * (/root/reference/geomesa-process/.../knn/GeoHashSpiral.scala:96-151,
 * KNNQuery.scala:57-81): seed at the query's cell, expand rings of
 * neighbor cells, shrink the radius to the current kth distance,
 * terminate when no unvisited cell can be closer. Like the reference,
 * the search state of every query (its cell, ring, observed kth
 * distance, capped/done) lives on the driver, in plain arrays; the data
 * points are never collected, so the operator scales with executors.
 *
 *   seed:    one density estimate (the point count; table metadata in
 *            [[forTable]]) picks the initial disk radius so the
 *            expected candidate count is ~4k — most queries resolve in
 *            the FIRST growth round instead of log2(maxRings) doubling
 *            rounds;
 *   growth:  each round is ONE Spark action: a scan of the points
 *            (over a table, only the stored prefixes the active disks
 *            reach) whose tasks look each point's cell up in the active
 *            disks, which travel in the task closure, and keep the k
 *            smallest distances per query; the driver merges them into
 *            each query's candidate count and kth distance. Queries
 *            short of k grow to a doubled ring; satisfied ones keep
 *            their kth distance;
 *   proof:   any point outside disk radius r'(q) = ceil(d_k /
 *            metricCellWidth) + 1 is provably farther than the observed
 *            d_k (the k-completeness argument, done per query, with the
 *            east-west cell width at the poleward edge of the latitude
 *            band within d_k of the query);
 *   final:   the returned DataFrame is LAZY: a scan of the points joined
 *            to a broadcast local relation of the proven disks (every
 *            query column plus `__cell`), then a top-k window over
 *            (dist, tieBreak...). It runs at the caller's action, as
 *            three jobs: the broadcast, the shuffle and the result.
 *
 * A query with fewer than k reachable points keeps its maxRings disk
 * and returns what exists (matching the brute-force oracle on sparse
 * data) instead of disappearing from the output. A query without a
 * location (null lon or lat) has no cell, no disk and no output rows.
 *
 * The queries are collected to the driver once (the reference collects
 * them too), and a pass's disks are no larger than the broadcast of the
 * final pass, so keeping the state on the driver adds no scaling limit.
 * A round computes its distances with the same arithmetic as the final
 * pass's `dist` (planar, or [[GeomOps.haversineMeters]], which the
 * haversine column calls). [[lastSearch]] records what the most recent
 * search did.
 */
object KnnJoin {

  private val MetersPerDegLat = 110574.0
  private val MetersPerDegLon = 111320.0

  /** What one search did, as data: its growth rounds (candidate passes
    * before the final exact pass); for each pass in order — the growth
    * rounds, then the final pass — the queries it searched for
    * (`activeQueries`, growthRounds + 1 entries; the final pass searches
    * every located query) and how many of the snapshot's `prefixesTotal`
    * stored prefixes its point scan kept. `prefixesKept` is empty for a
    * search whose points carry no stored prefixes (a raw DataFrame, or
    * a table whose prefixes are finer than the kNN grid). */
  final case class Search(growthRounds: Int, activeQueries: Seq[Int], prefixesKept: Seq[Int],
                          prefixesTotal: Int)

  @volatile private var last = Search(0, Nil, Nil, 0)

  /** The most recent search on this driver. */
  def lastSearch: Search = last

  /** Growth rounds of the most recent search on this driver. */
  private[operators] def lastGrowthRounds: Int = last.growthRounds

  /** The stored partition prefixes of a table scan: the `cell_prefix`
    * resolution and every live prefix of the snapshot. */
  private final case class Prefixes(res: Int, live: Set[Long])

  /** Proof: observed kth distance -> proven disk radius. A point more
    * than ceil(d_k / stepNS) + 1 rows from the query is farther than d_k
    * by its latitude alone, so the east-west step is taken at the edge of
    * that band (cos(lat) shrinks it poleward); any point outside disk
    * radius ceil(d_k / step) + 1, the larger over both steps, is then
    * provably farther than d_k. A band that reaches a pole proves no
    * radius below maxRings. */
  private def provenRing(dk: Double, qlat: Double, res: Int, maxRings: Int, planar: Boolean): Int = {
    val latW = Cells.latWidth(res)
    val lonW = Cells.lonWidth(res)
    // metric width of one cell step; the degree metric's steps are exact
    val stepNS = if (planar) latW else latW * MetersPerDegLat
    val rowsNS = math.ceil(dk / stepNS) + 1
    val stepEW =
      if (planar) lonW
      else lonW * MetersPerDegLon * math.cos(math.toRadians(math.min(90.0, math.abs(qlat) + latW * rowsNS)))
    val need = math.max(rowsNS, math.ceil(dk / math.max(1e-9, stepEW)) + 1)
    math.min(maxRings.toDouble, math.max(1.0, need)).toInt
  }

  /** One round's work in one task: for each query, the k smallest
    * distances (in no order) to the points of the task whose cell lies
    * in the query's disk, `byCell` mapping each disk cell to its queries. */
  private def nearest(k: Int, planar: Boolean, byCell: Map[Long, Seq[Int]], qlon: Array[Double],
                      qlat: Array[Double])(points: Iterator[(Long, Double, Double)]): Iterator[(Int, Array[Double])] = {
    val byQuery = mutable.HashMap.empty[Int, mutable.PriorityQueue[Double]]
    for ((cell, lon, lat) <- points; q <- byCell.getOrElse(cell, Nil)) {
      val (dx, dy) = (lon - qlon(q), lat - qlat(q))
      val top = byQuery.getOrElseUpdate(q, mutable.PriorityQueue.empty(Ordering.Double.TotalOrdering))
      top.enqueue(if (planar) math.sqrt(dx * dx + dy * dy) else GeomOps.haversineMeters(lon, lat, qlon(q), qlat(q)))
      if (top.size > k) top.dequeue() // the largest of k + 1
    }
    byQuery.iterator.map { case (q, top) => (q, top.toArray) }
  }

  /**
   * kNN over a [[graft.table.SpatialTable]] snapshot: identical search,
   * reading only what the ring disks reach.
   *
   *   seed:    the density seed comes from table METADATA — the cached
   *            stats count, else the manifest's row total over its
   *            partitions, for the plain and the temporal layout alike —
   *            so no count() pass over the point table runs before the
   *            search. Only a legacy temporal manifest without a
   *            partition list, and no stats, still counts.
   *   pruning: each growth round's action scans only the stored
   *            `cell_prefix` partitions that the active queries' disks
   *            reach, and the lazy final pass only those of the proven
   *            disks; the driver works the prefixes out from the disks
   *            (`Cells.diskParents`) as plain Scala, so
   *            [[graft.table.SnapshotIndex]] lists and reads just those
   *            leaves. This is exact: a candidate's cell lies in the
   *            disk, and its stored prefix is that cell's parent at the
   *            manifest's `prefixRes`. It applies when `res >=
   *            prefixRes` and the manifest lists its partitions;
   *            otherwise every pass scans the snapshot. `lonCol`/`latCol`
   *            must be the columns the table was written with, which its
   *            cells were derived from.
   *
   * So a query batch that settles in one growth round costs five Spark
   * jobs: collecting the queries (none when they are a local relation),
   * the round, and the final pass's broadcast, shuffle and result. The
   * snapshot scan is sized from its manifest row counts, so planning the
   * final join lists no leaf. [[lastSearch]] records the rounds, the active queries and the
   * prefixes kept per pass.
   */
  def forTable(spark: SparkSession, root: String, snapshotId: String,
               lonCol: String, latCol: String,
               queries: DataFrame, qidCol: String, qLonCol: String, qLatCol: String,
               k: Int, res: Int, maxRings: Int = 64,
               metric: String = "haversine",
               tieBreakCols: Seq[String] = Nil): DataFrame = {
    import graft.table.{SpatialTable, TableStats}
    val st = TableStats.cached(spark, root, snapshotId)
    // stale sidecar (delete-heavy mutation chain since the last full
    // collect): the count itself is exact, but say so — the seed stays
    // usable while the flag tells the operator's audit trail a
    // TableStats.collect refresh is due for the sketch-backed stats
    st.filter(_.stale).foreach { s =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"cached stats for $root@$snapshotId are stale " +
          s"(${s.deleted} rows deleted since last collect) — consider TableStats.collect")
    }
    val info = SpatialTable.manifestInfo(spark, root, snapshotId)
    val n = st.map(_.count).orElse(Some(info.rows).filter(_ => info.keyed))
    val prefixes =
      if (info.keyed && res >= info.prefixRes)
        Some(Prefixes(info.prefixRes, info.physicalKeys.keys.map(_.value).toSet))
      else None
    search(spark, SpatialTable.read(spark, root, info), lonCol, latCol,
      queries, qidCol, qLonCol, qLatCol, k, res, maxRings, metric, tieBreakCols, n, prefixes)
  }

  def apply(spark: SparkSession,
            points: DataFrame, lonCol: String, latCol: String,
            queries: DataFrame, qidCol: String, qLonCol: String, qLatCol: String,
            k: Int, res: Int, maxRings: Int = 64,
            metric: String = "haversine",
            tieBreakCols: Seq[String] = Nil,
            pointCount: Option[Long] = None): DataFrame =
    search(spark, points, lonCol, latCol, queries, qidCol, qLonCol, qLatCol,
      k, res, maxRings, metric, tieBreakCols, pointCount, prefixes = None)

  private def search(spark: SparkSession,
                     points: DataFrame, lonCol: String, latCol: String,
                     queries: DataFrame, qidCol: String, qLonCol: String, qLatCol: String,
                     k: Int, res: Int, maxRings: Int, metric: String,
                     tieBreakCols: Seq[String], pointCount: Option[Long],
                     prefixes: Option[Prefixes]): DataFrame = {
    import spark.implicits._
    require(metric == "haversine" || metric == "planar", s"unknown metric $metric")
    val planar = metric == "planar"
    val tieBreak = if (tieBreakCols.nonEmpty) tieBreakCols else Seq(lonCol, latCol)

    val distExpr = distance(planar, lonCol, latCol, qLonCol, qLatCol)
    val pts = points.withColumn("__pcell", StFunctions.stCellOfXY(col(lonCol), col(latCol), lit(res)))

    // -- density-seeded initial radius ---------------------------------
    // expected candidates in a (2r+1)^2 disk ~ 4k => r from the global
    // mean density; sparse/hot spots are corrected by the growth loop.
    // `pointCount` (table stats / manifest totals via [[forTable]])
    // skips the count() scan; raw DataFrames fall back to counting.
    val nPts = math.max(1L, pointCount.getOrElse(points.count()))
    val cellsSpanned = (1L << res).toDouble * (1L << res).toDouble / 2.0 // lat band heuristic
    val perCell = nPts / cellsSpanned
    val ring0 = math.max(1, math.min(maxRings,
      math.ceil((math.sqrt(4.0 * k / math.max(perCell, 1e-12)) - 1) / 2).toInt))

    // -- the queries and their search state, on the driver ---------------
    // cells come from the same expression as the points' cells
    val nq = queries.columns.length
    val qs = queries.select(col("*"), StFunctions.stCellOfXY(col(qLonCol), col(qLatCol), lit(res)).as("__qcell"),
      col(qLonCol).cast("double").as("__qlon"), col(qLatCol).cast("double").as("__qlat"))
    val located = qs.collect().filterNot(_.isNullAt(nq))
    val cells = located.map(_.getLong(nq))
    val (qlon, qlat) = (located.map(_.getDouble(nq + 1)), located.map(_.getDouble(nq + 2)))
    val dk = Array.fill(located.length)(Double.NaN) // kth distance, once observed

    // a pass's scan over the disks of the given (query, ring) pairs: only
    // the stored prefixes those disks reach, when the scan has them
    val keptPerPass = mutable.ArrayBuffer.empty[Int]
    val activePerPass = mutable.ArrayBuffer.empty[Int]
    def scan(rings: Seq[(Int, Int)]): DataFrame = {
      activePerPass += rings.size
      prefixes.fold(pts) { p =>
        val kept = rings.flatMap { case (i, r) => Cells.diskParents(cells(i), r, p.res) }
          .filter(p.live).distinct.sorted
        keptPerPass += kept.size
        pts.where(col("cell_prefix").isin(kept: _*))
      }
    }

    // -- growth: one action per round ----------------------------------
    // every active query shares the ring: all start at ring0 and double
    // together until each has k candidates or reaches maxRings
    var active: Seq[Int] = located.indices
    var ring = ring0
    while (active.nonEmpty) {
      val rings = active.map(_ -> ring)
      val byCell = rings.flatMap { case (i, r) => Cells.disk(cells(i), r).map(_ -> i) }.groupMap(_._1)(_._2)
      val nearestOf = scan(rings).where(col("__pcell").isNotNull)
        .select(col("__pcell"), col(lonCol).cast("double"), col(latCol).cast("double")).as[(Long, Double, Double)]
        .mapPartitions(nearest(k, planar, byCell, qlon, qlat)).collect()
        .groupMapReduce(_._1)(_._2)(_ ++ _)
      active = active.filter { i =>
        val ds = nearestOf.getOrElse(i, Array.empty[Double])
        if (ds.length >= k) dk(i) = ds.sorted(Ordering.Double.TotalOrdering)(k - 1)
        // at the ring budget, short queries keep the maxRings disk
        // instead of disappearing (sparse-data semantics)
        ds.length < k && ring < maxRings
      }
      ring = math.min(maxRings, ring * 2)
    }

    // -- final exact pass over the proven disks, lazy -------------------
    // the disks go to Spark as a local relation of the query's columns
    // and `__cell`
    val proven = located.indices.map { i =>
      i -> (if (dk(i).isNaN) maxRings else provenRing(dk(i), qlat(i), res, maxRings, planar))
    }
    val disks = proven.flatMap { case (i, r) => Cells.disk(cells(i), r).map(c => Row.fromSeq(located(i).toSeq :+ c)) }
    val out = scan(proven)
      .join(broadcast(spark.createDataFrame(disks.asJava, qs.schema.add("__cell", LongType))),
        col("__pcell") === col("__cell"))
      .withColumn("dist", distExpr)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(qidCol).orderBy(col("dist") +: tieBreak.map(col): _*)))
      .where(col("__rn") <= k)
      .drop("__rn", "__pcell", "__qcell", "__qlon", "__qlat", "__cell")
    last = Search(activePerPass.size - 1, activePerPass.toSeq, keptPerPass.toSeq, prefixes.fold(0)(_.live.size))
    out
  }

  /** The distance between a point and a query point: planar degrees,
    * or haversine meters. */
  private def distance(planar: Boolean, lonCol: String, latCol: String,
                       qLonCol: String, qLatCol: String): Column =
    if (planar)
      sqrt((col(lonCol) - col(qLonCol)) * (col(lonCol) - col(qLonCol)) +
        (col(latCol) - col(qLatCol)) * (col(latCol) - col(qLatCol)))
    else
      StFunctions.stDistanceSphere(
        StFunctions.stMakePoint(col(lonCol), col(latCol)),
        StFunctions.stMakePoint(col(qLonCol), col(qLatCol)))

  /** Brute-force oracle (for tests): exact cross-join top-k, ties broken
    * like the operator's. */
  def bruteForce(points: DataFrame, lonCol: String, latCol: String,
                 queries: DataFrame, qidCol: String, qLonCol: String, qLatCol: String,
                 k: Int, metric: String = "haversine", tieBreakCols: Seq[String] = Nil): DataFrame =
    points.crossJoin(broadcast(queries))
      .withColumn("dist", distance(metric == "planar", lonCol, latCol, qLonCol, qLatCol))
      .withColumn("__rn", row_number().over(Window.partitionBy(qidCol).orderBy(col("dist") +:
        (if (tieBreakCols.nonEmpty) tieBreakCols else Seq(lonCol, latCol)).map(col): _*)))
      .where(col("__rn") <= k)
      .drop("__rn")
}

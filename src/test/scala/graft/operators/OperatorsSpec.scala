package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTest
import graft.functions.StFunctions
import graft.cells.Cells

/** Operator semantics vs brute-force oracles (FIXTURES.md §4, §6). */
class OperatorsSpec extends AnyFunSuite with SparkTest {

  import org.apache.spark.sql.DataFrame

  private lazy val ready: Unit = StFunctions.register(spark)

  private def boxes(n: Int, seed: Int, name: String): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val cx = rnd.nextDouble() * 40 - 20
      val cy = rnd.nextDouble() * 40 - 20
      val w = 0.5 + rnd.nextDouble() * 2
      (s"$name$i", cx - w, cy - w, cx + w, cy + w)
    }.toDF(s"${name}_id", "xmin", "ymin", "xmax", "ymax")
      .withColumn(s"${name}_geom", expr("st_makeBBOX(xmin, ymin, xmax, ymax)"))
      .drop("xmin", "ymin", "xmax", "ymax")
  }

  test("extent-extent spatial join matches brute force, no duplicate pairs") {
    ready
    val a = boxes(60, 1, "a")
    val b = boxes(60, 2, "b")
    val fast = SpatialJoin.intersects(a, "a_geom", b, "b_geom", res = 6)
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    val brute = a.crossJoin(b).where(expr("st_intersects(a_geom, b_geom)"))
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(fast.length == fast.distinct.length, "duplicate pairs emitted")
    assert(fast.toSet == brute.toSet)
    assert(brute.nonEmpty)
  }

  test("concave-geometry join: ownership dedup must not drop pairs " +
    "whose envelope-intersection corner misses the geometries") {
    ready
    import spark.implicits._
    // L-shaped polygons: intersecting pair whose envelope-intersection
    // min corner falls in the notch of both shapes — a refined cover
    // would not contain that corner cell and the pair would vanish
    val rnd = new scala.util.Random(41)
    def lShape(cx: Double, cy: Double, s: Double, flip: Boolean): String = {
      // an L occupying the envelope minus its lower-left (or upper-right) quadrant
      if (!flip)
        s"POLYGON(($cx ${cy + s / 2}, $cx ${cy + s}, ${cx + s} ${cy + s}, ${cx + s} $cy, ${cx + s / 2} $cy, ${cx + s / 2} ${cy + s / 2}, $cx ${cy + s / 2}))"
      else
        s"POLYGON(($cx $cy, $cx ${cy + s / 2}, ${cx + s / 2} ${cy + s / 2}, ${cx + s / 2} ${cy + s}, ${cx + s} ${cy + s}, ${cx + s} $cy, $cx $cy))"
    }
    val a = (0 until 40).map { i =>
      val cx = rnd.nextDouble() * 30 - 15; val cy = rnd.nextDouble() * 30 - 15
      (s"a$i", lShape(cx, cy, 2 + rnd.nextDouble() * 3, flip = false))
    }.toDF("a_id", "wkt").selectExpr("a_id", "st_geomFromWKT(wkt) AS a_geom")
    val b = (0 until 40).map { i =>
      val cx = rnd.nextDouble() * 30 - 15; val cy = rnd.nextDouble() * 30 - 15
      (s"b$i", lShape(cx, cy, 2 + rnd.nextDouble() * 3, flip = true))
    }.toDF("b_id", "wkt").selectExpr("b_id", "st_geomFromWKT(wkt) AS b_geom")
    val fast = SpatialJoin.intersects(a, "a_geom", b, "b_geom", res = 6)
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    val brute = a.crossJoin(b).where(expr("st_intersects(a_geom, b_geom)"))
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(fast.length == fast.distinct.length, "duplicate pairs")
    assert(fast.toSet == brute.toSet,
      s"missing=${brute.toSet -- fast.toSet} extra=${fast.toSet -- brute.toSet}")
    assert(brute.nonEmpty)
  }

  test("oversized-geometry join (size split): continent-wide boxes vs small ones, " +
    "no pair loss where the cover would have coarsened") {
    ready
    import spark.implicits._
    // res 6 cells are ~5.6 deg; maxCells=64 -> any box wider than ~45 deg
    // overflows the budget. Before the size split, coverBBox coarsened its
    // resolution and the cell equi-join keys could never match.
    val rnd = new scala.util.Random(17)
    def side(name: String): org.apache.spark.sql.DataFrame =
      ((0 until 3).map { i =>
        (s"${name}_big$i", -150.0 + i * 15, -70.0 + i * 10, 150.0 - i * 15, 70.0 - i * 10)
      } ++ (0 until 50).map { i =>
        val cx = rnd.nextDouble() * 60 - 30; val cy = rnd.nextDouble() * 60 - 30
        (s"${name}_sm$i", cx - 1.5, cy - 1.5, cx + 1.5, cy + 1.5)
      }).toDF(s"${name}_id", "x0", "y0", "x1", "y1")
        .selectExpr(s"${name}_id", s"st_makeBBOX(x0, y0, x1, y1) AS ${name}_geom")
    val a = side("a")
    val b = side("b")
    val fast = SpatialJoin.intersects(a, "a_geom", b, "b_geom", res = 6)
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    val brute = a.crossJoin(b).where(expr("st_intersects(a_geom, b_geom)"))
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(fast.length == fast.distinct.length, "duplicate pairs emitted")
    assert(fast.toSet == brute.toSet,
      s"missing=${(brute.toSet -- fast.toSet).take(5)} extra=${(fast.toSet -- brute.toSet).take(5)}")
    assert(brute.exists(p => p._1.contains("big") && p._2.contains("big")),
      "huge x huge pairs must exist")
    assert(brute.exists(p => p._1.contains("big") ^ p._2.contains("big")),
      "huge x small pairs must exist")
  }

  test("point-in-oversized-zone join (leftPoint, size split) matches brute force") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val pts = (0 until 400).map { i =>
      (s"p$i", rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 160 - 80)
    }.toDF("p_id", "lon", "lat").selectExpr("p_id", "st_makePoint(lon, lat) AS p_geom")
    val zones = ((0 until 2).map { i =>
      (s"zbig$i", -160.0 + i * 20, -75.0 + i * 10, 160.0 - i * 20, 75.0 - i * 10)
    } ++ (0 until 12).map { i =>
      val cx = rnd.nextDouble() * 120 - 60; val cy = rnd.nextDouble() * 80 - 40
      (s"zsm$i", cx - 3, cy - 3, cx + 3, cy + 3)
    }).toDF("z_id", "x0", "y0", "x1", "y1")
      .selectExpr("z_id", "st_makeBBOX(x0, y0, x1, y1) AS z_geom")
    val fast = SpatialJoin.intersects(pts, "p_geom", zones, "z_geom",
        res = 6, leftPoint = true, broadcastRight = true)
      .select("p_id", "z_id").collect().map(r => (r.getString(0), r.getString(1)))
    val brute = pts.crossJoin(zones).where(expr("st_intersects(p_geom, z_geom)"))
      .select("p_id", "z_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(fast.length == fast.distinct.length, "duplicate pairs emitted")
    assert(fast.toSet == brute.toSet,
      s"missing=${(brute.toSet -- fast.toSet).take(5)} extra=${(fast.toSet -- brute.toSet).take(5)}")
    assert(brute.count(_._2.startsWith("zbig")) > 100, "big zones should catch most points")
  }

  test("point-extent spatial join (leftPoint) matches brute force") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0 until 300).map { i =>
      (s"p$i", rnd.nextDouble() * 50 - 25, rnd.nextDouble() * 50 - 25)
    }.toDF("p_id", "lon", "lat")
      .withColumn("p_geom", expr("st_makePoint(lon, lat)"))
    val zs = boxes(20, 3, "z")
    val fast = SpatialJoin.intersects(pts, "p_geom", zs, "z_geom", res = 6,
      leftPoint = true, broadcastRight = true)
      .select("p_id", "z_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = pts.crossJoin(zs).where(expr("st_intersects(p_geom, z_geom)"))
      .select("p_id", "z_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast == brute && brute.nonEmpty)
  }

  test("spatial join plan has no cartesian product") {
    ready
    val a = boxes(10, 4, "a")
    val b = boxes(10, 5, "b")
    val plan = SpatialJoin.intersects(a, "a_geom", b, "b_geom", res = 6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("dwithin join matches brute force haversine") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val a = (0 until 150).map(i => (s"a$i", rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 + 40)).toDF("a_id", "alon", "alat")
      .withColumn("a_geom", expr("st_makePoint(alon, alat)"))
    val b = (0 until 150).map(i => (s"b$i", rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 + 40)).toDF("b_id", "blon", "blat")
      .withColumn("b_geom", expr("st_makePoint(blon, blat)"))
    val meters = 30000.0
    val fast = SpatialJoin.dwithin(a, "a_geom", b, "b_geom", meters, res = 8, maxAbsLat = 45)
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = a.crossJoin(b).where(expr(s"st_dwithin(a_geom, b_geom, $meters)"))
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast == brute && brute.nonEmpty)
  }

  test("kNN ring expansion matches brute force (clusters + outliers, FIXTURES §6)") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 3 gaussian blobs + isolated outliers
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-15.0, 5.0))
    val blob = centers.zipWithIndex.flatMap { case ((cx, cy), ci) =>
      (0 until 80).map(i => (s"c${ci}_$i", cx + rnd.nextGaussian() * 0.5, cy + rnd.nextGaussian() * 0.5))
    }
    val outliers = Seq(("out1", 60.0, -30.0), ("out2", -120.0, 45.0))
    val pts = (blob ++ outliers).toDF("id", "lon", "lat")
    val queries = Seq((0, 0.1, -0.1), (1, 10.0, 10.0), (2, 60.5, -30.2), (3, -120.0, 44.0))
      .toDF("qid", "qlon", "qlat")
    for (k <- Seq(1, 5, 10)) {
      val fast = KnnJoin(spark, pts, "lon", "lat", queries, "qid", "qlon", "qlat", k, res = 7)
        .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      val brute = KnnJoin.bruteForce(pts, "lon", "lat", queries, "qid", "qlon", "qlat", k)
        .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(fast == brute, s"k=$k mismatch: missing=${brute -- fast}, extra=${fast -- brute}")
    }
  }

  test("kNN sparse data: queries with fewer than k reachable points still " +
    "return rows (no silent drop), both metrics") {
    ready
    import spark.implicits._
    // only 3 points in the world, k=5 — brute force returns 3 rows per
    // query; the ring operator must match, not vanish the query
    val pts = Seq(("p1", 0.0, 0.0), ("p2", 50.0, 20.0), ("p3", -100.0, -40.0))
      .toDF("id", "lon", "lat")
    val queries = Seq((0, 10.0, 10.0), (1, -170.0, 80.0)).toDF("qid", "qlon", "qlat")
    for (metric <- Seq("haversine", "planar")) {
      val fastRows = KnnJoin(spark, pts, "lon", "lat", queries, "qid", "qlon", "qlat",
          k = 5, res = 6, metric = metric)
        .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1)))
      // maxRings disks wrap the whole longitude range here: duplicate
      // candidate ROWS (not just ids) would crowd out true neighbors
      assert(fastRows.length == fastRows.distinct.length,
        s"metric=$metric duplicate candidate rows from wrapped cell disks")
      val fast = fastRows.toSet
      val brute = KnnJoin.bruteForce(pts, "lon", "lat", queries, "qid", "qlon", "qlat",
          k = 5, metric = metric)
        .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(fast == brute, s"metric=$metric missing=${brute -- fast} extra=${fast -- brute}")
      assert(brute.size == 6, "each query should see all 3 points")
    }
  }

  test("kNN planar metric matches brute force on dense data") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val pts = (0 until 300).map(i => (s"p$i", rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 60 - 30))
      .toDF("id", "lon", "lat")
    val queries = Seq((0, 0.0, 0.0), (1, 25.0, -25.0)).toDF("qid", "qlon", "qlat")
    val fast = KnnJoin(spark, pts, "lon", "lat", queries, "qid", "qlon", "qlat",
        k = 7, res = 6, metric = "planar", tieBreakCols = Seq("id"))
      .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val brute = KnnJoin.bruteForce(pts, "lon", "lat", queries, "qid", "qlon", "qlat",
        k = 7, metric = "planar")
      .select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(fast == brute && brute.size == 14)
  }

  test("kNN over a SpatialTable seeds from metadata: one fewer job (no count() " +
    "scan of the point table), identical results either path") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ptsDf = (0 until 400)
      .map(i => (s"p$i", rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10,
        new java.sql.Timestamp(t0 + (rnd.nextDouble() * 80 * 86400000L).toLong)))
      .toDF("id", "lon", "lat", "dtg")
    val queries = Seq((0, 0.0, 0.0), (1, 8.0, -8.0)).toDF("qid", "qlon", "qlat")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
      df.select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // plain and temporal layouts: the temporal manifest keeps its row
    // counts per (time_bin, cell_prefix), and the seed must read those too
    val layouts = Seq[(String, String => Unit)](
      "plain" -> (root => graft.table.SpatialTable.write(spark, ptsDf, root, "s1", "id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 1, partitions = 2)),
      "temporal" -> (root => graft.table.SpatialTable.writeTemporal(spark, ptsDf, root, "s1", "id",
        "lon", "lat", "dtg", period = "month", res = 9, prefixRes = 3, salts = 1, partitions = 2)))
    for ((layout, write) <- layouts) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_knn_$layout").toString
      write(root)
      val (seededActions, jobsSeeded, seeded) = actionsDuring(ids(KnnJoin.forTable(spark, root, "s1",
        "lon", "lat", queries, "qid", "qlon", "qlat", k = 5, res = 7)))
      val (rawActions, jobsRaw, raw) = actionsDuring(ids(KnnJoin(spark,
        graft.table.SpatialTable.read(spark, root, "s1"), "lon", "lat",
        queries, "qid", "qlon", "qlat", k = 5, res = 7)))
      assert(seeded == raw, s"$layout: metadata seed changed results: ${seeded -- raw} / ${raw -- seeded}")
      assert(seeded == ids(KnnJoin.bruteForce(ptsDf, "lon", "lat",
        queries, "qid", "qlon", "qlat", k = 5)), layout)
      // the search starts by collecting the queries: before it, the raw
      // frame counts its points, the table seeds from metadata
      def beforeSearch(actions: Seq[String]) = actions.takeWhile(_ != "collect")
      assert(beforeSearch(rawActions) == Seq("count"), s"$layout: raw path actions $rawActions")
      assert(beforeSearch(seededActions).isEmpty,
        s"$layout: expected the seeded path to skip the count() scan: $seededActions")
      assert(jobsSeeded < jobsRaw,
        s"$layout: expected the seeded path to skip the count() job: $jobsSeeded vs $jobsRaw")
    }
  }

  test("kNN over a SpatialTable reads only the prefixes its disks reach, " +
    "exactly: antimeridian, high latitude, capped and dense queries") {
    ready
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val rnd = new scala.util.Random(53)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def blob(n: Int, name: String, lon: => Double, lat: => Double) =
      (0 until n).map(i => (s"$name$i", lon, lat))
    def wrapLon(x: Double) = if (x > 180) x - 360 else if (x < -180) x + 360 else x
    val rows =
      blob(300, "d", 10 + rnd.nextGaussian(), 10 + rnd.nextGaussian()) ++
        // straddles the antimeridian
        blob(150, "a", wrapLon(180 + rnd.nextGaussian() * 0.8), -20 + rnd.nextGaussian() * 0.8) ++
        blob(60, "h", 30 + rnd.nextGaussian() * 8, 80 + rnd.nextDouble() * 4) ++
        // scattered, except around the capped query
        blob(80, "w", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 160 - 80).filterNot {
          case (_, lon, lat) => lon > -120 && lon < -80 && lat > -72 && lat < -48
        } ++
        Seq(("s0", -101.0, -61.0), ("s1", -98.5, -59.5))
    val ptsDf = rows.map { case (id, lon, lat) =>
      (id, lon, lat, new java.sql.Timestamp(t0 + (rnd.nextDouble() * 80 * 86400000L).toLong))
    }.toDF("id", "lon", "lat", "dtg")
    val res = 7
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
      df.select("qid", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // the operator's contract: the k nearest among the points within the
    // query's maxRings disk (the whole answer unless the query is capped)
    def oracle(qs: Seq[(Int, Double, Double)], k: Int, maxRings: Int): Set[(Int, String)] =
      qs.flatMap { case q @ (_, qlon, qlat) =>
        val disk = Cells.disk(Cells.cell(qlon, qlat, res), maxRings).toSet
        val reach = rows.filter { case (_, lon, lat) => disk(Cells.cell(lon, lat, res)) }
        ids(KnnJoin.bruteForce(reach.toDF("id", "lon", "lat"), "lon", "lat",
          Seq(q).toDF("qid", "qlon", "qlat"), "qid", "qlon", "qlat", k))
      }.toSet
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    val layouts = Seq[(String, String => Unit)](
      "plain" -> (root => graft.table.SpatialTable.write(spark, ptsDf, root, "s1", "id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 4)),
      "temporal" -> (root => graft.table.SpatialTable.writeTemporal(spark, ptsDf, root, "s1", "id",
        "lon", "lat", "dtg", period = "month", res = 9, prefixRes = 3, salts = 2, partitions = 4)))
    for ((layout, write) <- layouts) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_knn_prune_$layout").toString
      write(root)
      val stored = {
        val data = new java.io.File(s"$root/data")
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(data).count(_.getName.endsWith(".parquet"))
      }
      def run(qs: Seq[(Int, Double, Double)], k: Int, maxRings: Int) = {
        val df = KnnJoin.forTable(spark, root, "s1", "lon", "lat",
          qs.toDF("qid", "qlon", "qlat"), "qid", "qlon", "qlat", k = k, res = res, maxRings = maxRings)
        val got = df.collect().map(r => (r.getAs[Int]("qid"), r.getAs[String]("id"))).toSet
        assert(got == oracle(qs, k, maxRings), s"$layout: ${qs.map(_._1)} disagree with the oracle")
        (got, df)
      }
      // antimeridian and high latitude: wide and wrapping disks
      val (edge, _) = run(Seq((0, 179.9, -20.0), (1, -179.8, -19.5), (2, 31.0, 81.0)), k = 8, maxRings = 64)
      assert(edge.count(_._1 == 0) == 8 && edge.count(_._1 == 2) == 8, layout)
      assert(edge.exists { case (q, id) => q == 0 && id.startsWith("a") }, layout)
      // capped: two points within a 4-ring disk, k = 5
      val (capped, _) = run(Seq((3, -100.0, -60.0)), k = 5, maxRings = 4)
      assert(capped.map(_._2) == Set("s0", "s1"), s"$layout: capped query returned $capped")
      assert(KnnJoin.lastSearch.prefixesKept.nonEmpty, layout)
      // dense: every pass keeps a few prefixes, the final pass reads few files
      val (_, dense) = run(Seq((4, 10.0, 10.0), (5, 10.5, 9.5)), k = 5, maxRings = 64)
      val search = KnnJoin.lastSearch
      assert(search.prefixesKept.size == search.growthRounds + 1, s"$layout: $search")
      assert(search.prefixesKept.forall(n => n > 0 && n < search.prefixesTotal), s"$layout: $search")
      val files = filesRead(dense)
      assert(files > 0 && files < stored, s"$layout: the final pass read $files of $stored files")
    }
  }

  /** The Dataset actions (by name) and the Spark jobs `body` ran, and
    * its result. */
  private def actionsDuring[T](body: => T): (Seq[String], Int, T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = actions.add(funcName)
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jl)
    try {
      val r = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      (actions.toArray(Array.empty[String]).toSeq, jobs.get, r)
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("kNN many-query regime: 10^4 query points, DataFrame state (no IN-list), " +
    "few candidate passes, matches brute force") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val pts = (0 until 5000).map(i => (i.toLong, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 60 - 30))
      .toDF("id", "lon", "lat")
    val queries = (0 until 10000)
      .map(i => (i.toLong, rnd.nextDouble() * 50 - 25, rnd.nextDouble() * 50 - 25))
      .toDF("qid", "qlon", "qlat")
    val fastDf = KnnJoin(spark, pts, "lon", "lat", queries, "qid", "qlon", "qlat",
      k = 3, res = 5, metric = "planar", tieBreakCols = Seq("id"))
    // the queries reach the final pass as a local relation joined on
    // cells: the final plan must not carry a literal qid IN-list
    val inLists = fastDf.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In => i
        case i: org.apache.spark.sql.catalyst.expressions.InSet => i
      })
    }.flatten
    assert(inLists.isEmpty, s"driver IN-list leaked into the kNN plan: $inLists")
    val fast = fastDf.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(KnnJoin.lastGrowthRounds <= 3,
      s"density seeding should resolve dense data in few passes, took ${KnnJoin.lastGrowthRounds}")
    val brute = KnnJoin.bruteForce(pts, "lon", "lat", queries, "qid", "qlon", "qlat",
        k = 3, metric = "planar")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute && brute.size == 30000)
  }

  test("tile assignment: adaptive resolution follows the XZ size rule") {
    ready
    import spark.implicits._
    val df = Seq(
      ("small", -0.01, -0.01, 0.01, 0.01),   // tiny -> fine res (capped at maxRes)
      ("large", -40.0, -40.0, 40.0, 40.0))   // huge -> coarse res (capped at minRes)
      .toDF("id", "x0", "y0", "x1", "y1")
      .withColumn("geom", expr("st_makeBBOX(x0, y0, x1, y1)"))
    val tiles = TileAssign.adaptive(df, "geom", minRes = 3, maxRes = 12)
      .selectExpr("id", "st_cellRes(tile) AS r").collect()
    val small = tiles.filter(_.getString(0) == "small").map(_.getInt(1)).distinct
    val large = tiles.filter(_.getString(0) == "large").map(_.getInt(1)).distinct
    assert(small.forall(_ == 12))
    assert(large.forall(_ == 3))
    // every tile at fixed res intersects the footprint (cover soundness)
    val fixed = TileAssign.atRes(df.where($"id" === "small"), "geom", 10)
      .selectExpr("st_intersects(geom, st_cellEnvelope(tile)) AS ok").collect()
    assert(fixed.nonEmpty && fixed.forall(_.getBoolean(0)))
  }

  test("pyramid rollup maps tiles to their ancestors") {
    ready
    val c = Cells.cell(10.0, 45.0, 10)
    import spark.implicits._
    val t = Seq(c).toDF("tile")
    val p = TileAssign.pyramid(t, "tile", 7).selectExpr("st_cellRes(tile_parent) AS r").head
    assert(p.getInt(0) == 7)
  }

  test("density: counts per cell match manual grouping") {
    ready
    import spark.implicits._
    val pts = Seq((0.1, 0.1), (0.2, 0.2), (-10.0, 40.0)).toDF("lon", "lat")
    val d = Density.points(pts, "lon", "lat", res = 5).collect()
    val total = d.map(_.getAs[Long]("n")).sum
    assert(total == 3)
    assert(d.exists(_.getAs[Long]("n") == 2)) // the two nearby points share a cell
  }

  test("viewport grid density matches the GridSnap kernel cell-for-cell") {
    ready
    import spark.implicits._
    // points spread over the envelope plus out-of-bounds strays and
    // exact-edge hits (the inclusive max edge lands in the last cell)
    val rng = new scala.util.Random(7)
    val pts = (1 to 500).map(_ => (rng.nextDouble * 12 - 1, rng.nextDouble * 12 - 1)) ++
      Seq((10.0, 10.0), (0.0, 0.0), (-0.5, 5.0), (5.0, 11.0))
    val df = pts.toDF("lon", "lat")
    val d = Density.grid(df, "lon", "lat", 0.0, 0.0, 10.0, 10.0, width = 8, height = 5)
      .collect()
    val snap = graft.cells.GridSnap(0.0, 0.0, 10.0, 10.0, 8, 5)
    val expected = pts
      .filter { case (x, y) => snap.i(x) >= 0 && snap.j(y) >= 0 }
      .groupBy { case (x, y) => (snap.i(x), snap.j(y)) }
      .map { case (k, v) => k -> v.size.toLong }
    val got = d.map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) -> r.getAs[Long]("n")).toMap
    assert(got == expected)
    // cell-center coordinates match the kernel's snap
    d.foreach { r =>
      assert(r.getAs[Double]("x") == snap.x(r.getAs[Int]("i")))
      assert(r.getAs[Double]("y") == snap.y(r.getAs[Int]("j")))
    }
    // codegen check: the snap must not introduce a ScalaUDF
    val plan = Density.grid(df, "lon", "lat", 0.0, 0.0, 10.0, 10.0, 8, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), "grid snap must be pure Catalyst arithmetic")
  }

  test("exact dedup groups identical content") {
    ready
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect()
    val m = out.map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_dups"))).toMap
    assert(m == Map(1L -> 3L, 2L -> 1L, 4L -> 1L))
    assert(Dedup.dropExactDuplicates(df, "id", "text").count() == 3)
  }

  test("minhash LSH finds planted near-duplicates, rejects unrelated") {
    ready
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank at dawn every single day without fail"
    val nearDup = base.replace("dawn", "dusk")
    val other = "completely different content about spark catalyst optimizer rules and shuffle partitioning strategy at scale"
    val df = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), s"planted near-dup not found: $pairs")
    assert(pairs.contains((1L, 4L)), "exact dup not found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc matched")
    // verified stage: exact jaccard
    val verified = Dedup.nearDuplicates(df, "id", "text", threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.get((1L, 4L)).contains(1.0))
  }

  test("LSH bucket cap drops degenerate buckets instead of going quadratic, " +
    "normal pairs unaffected") {
    ready
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank at dawn every single day without fail"
    val nearDup = base.replace("dawn", "dusk")
    // 200 identical degenerate docs -> one 200-row bucket in every band
    val degen = (0 until 200).map(i => (i.toLong, "same text everywhere alike"))
    val df = (degen :+ (1000L, base) :+ (1001L, nearDup)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5, maxBucket = 50)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), s"planted pair lost by the cap: $pairs")
    assert(!pairs.exists(p => p._1 < 200 && p._2 < 200),
      "degenerate bucket pairs should have been dropped")
    // audit surface reports what was dropped
    val sig = Dedup.minhashPairs(df, "id", "text", threshold = 0.5) // default cap keeps all
    assert(sig.select("id1", "id2").collect().length > 19900, "default cap should keep the dense bucket")
  }

  test("cosinePairs banding shuffles ids only — embeddings never ride the explode") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val n = 20000
    val dim = 64
    val df = (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = Ann.cosinePairs(df, "vec_id", "embedding", minCosine = 0.9).count()
    Thread.sleep(500) // listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    // total shuffle across ALL stages (banding x4 bands both sides, cap
    // counts, pair dedup, two payload re-joins). With embeddings riding
    // the banding explode this would be >= n*bands*(dim*4B) ~ 20MB for
    // one side alone; ids-only banding keeps the whole job far under it.
    val bytes = shuffleBytes.get()
    assert(bytes < 15L * 1024 * 1024,
      s"banding shuffle too heavy: $bytes bytes — payloads are riding the explode")
    assert(rows >= 0)
  }

  test("simhash blocking finds small-hamming pairs exactly") {
    ready
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val near = base.replace("pi", "rho")
    val far = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxDist = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)), s"near pair missed: $pairs")
    // cross-check: blocking result equals brute-force hamming filter
    val hs = Dedup.withSimhash(df, "text").select("id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bruteNear = (for {
      (i, hi) <- hs; (j, hj) <- hs if i < j
      if java.lang.Long.bitCount(hi ^ hj) <= 8
    } yield (i, j)).toSet
    assert(pairs.keySet == bruteNear)
  }

  test("embedding LSH topK achieves full recall on separable clusters") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(center: Int): Seq[Float] =
      (0 until 16).map(i => (if (i % 4 == center) 1.0f else 0.0f) + rnd.nextFloat() * 0.05f)
    val data = (0 until 200).map(i => (i.toLong, vec(i % 4))).toDF("id", "emb")
    val queries = (0 until 4).map(c => (c.toLong, vec(c))).toDF("qid", "qemb")
    val brute = Ann.bruteForceTopK(data, "id", "emb", queries, "qid", "qemb", 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(data, "id", "emb", queries, "qid", "qemb", 5, bands = 8, bitsPerBand = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("IVF topK achieves high recall on separable clusters") {
    ready
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    def vec(center: Int): Seq[Float] =
      (0 until 16).map(i => (if (i % 4 == center) 1.0f else 0.0f) + rnd.nextFloat() * 0.05f)
    val data = (0 until 200).map(i => (i.toLong, vec(i % 4))).toDF("id", "emb")
    val queries = (0 until 4).map(c => (c.toLong, vec(c))).toDF("qid", "qemb")
    val brute = Ann.bruteForceTopK(data, "id", "emb", queries, "qid", "qemb", 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(data, "id", "emb", queries, "qid", "qemb", 5, nLists = 8, nProbe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall $recall too low")
  }

  test("language id picks the dominant profile") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog sat in the house with the mouse"),
      (2L, "el perro y el gato en la casa de la abuela que canta"),
      (3L, "der hund und die katze sind mit dem kind auf der wiese")).toDF("id", "text")
    val out = TextAnalysis.withLangId(df, "text").select("id", "lang_pred").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "de")
  }

  test("quality scoring orders clean text above junk") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "A well formed paragraph with reasonable words and structure that reads like actual prose written by a person."),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@ !!!")).toDF("id", "text")
    val out = TextAnalysis.withQuality(df, "text").select("id", "q_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(1L) > out(2L))
  }

  test("token counts: whitespace and BPE-ish") {
    ready
    import spark.implicits._
    val df = Seq((1L, "hello world, extraordinarily long")).toDF("id", "text")
    val r = TextAnalysis.withTokenCounts(df, "text")
      .select("n_ws_tokens", "n_bpe_tokens").head
    assert(r.getLong(0) == 4)
    // hello(2) world(2) ,(1) extraordinarily(4) long(1) = 10
    assert(r.getLong(1) == 10)
  }

  test("fingerprint: whitespace/case-insensitive exact content id") {
    ready
    import spark.implicits._
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds")).toDF("id", "text")
    val fp = TextAnalysis.withFingerprint(df, "text").select("id", "fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("cleanCorpus assigns every doc exactly one fate, stages fire in order") {
    ready
    import spark.implicits._
    val good = "the cat and the dog sat in the house with the mouse and " +
      "the bird watched from the window while the sun set over the hills beyond"
    val df = Seq(
      (1L, good),                      // kept (canonical everywhere)
      (2L, good),                      // exact_dup of 1
      (3L, good.toUpperCase),          // near_dup of 1 (raw differs, fingerprint same)
      (4L, good.replace(" ", "  ")),   // near_dup of 1 (whitespace variant)
      (5L, "short"),                   // gate: too short
      (6L, "el perro y el gato en la casa de la abuela que canta y baila " +
        "todas las noches con los vecinos del barrio durante las fiestas del pueblo") // gate: lang
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cleanCorpus(df, "doc_id", "text",
        minChars = 50L, minWords = 10L, minScoreE6 = 0L, langs = Seq("en", "de", "fr"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out.size == 6, "one fate per doc")
    assert(out(1L) == "kept")
    assert(out(2L) == "exact_dup")
    assert(out(3L) == "near_dup" && out(4L) == "near_dup")
    assert(out(5L) == "gate" && out(6L) == "gate")
  }

  test("repetition signals: duplicate line/paragraph fractions (Gopher rules)") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "a b\nc d\na b\n\ne f\ne f"), // 5 lines (2 repeats), 2 distinct paras
      (2L, "single line only"),          // 1 line = 1 para, no dups
      (3L, ""),                          // empty: all zeros
      (4L, "p q\n\nr s\n\n\nr s")        // odd blank run: residual '\n'
                                          // must not block the para dup
    ).toDF("id", "text")
    val out = TextAnalysis.withRepetition(df, "text")
      .select("id", "rep_line_n", "rep_line_dup_frac_e6", "rep_line_dup_char_frac_e6",
        "rep_para_n", "rep_para_dup_frac_e6", "rep_para_dup_char_frac_e6")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // lines of doc 1: [a b, c d, a b, e f, e f] n=5 distinct=3 -> 2/5;
    // chars 15 vs 9 distinct -> 6/15; paras both distinct -> 0
    assert(out(1L) == ((5L, 400000L, 400000L, 2L, 0L, 0L)))
    assert(out(2L) == ((1L, 0L, 0L, 1L, 0L, 0L)))
    assert(out(3L) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    // paragraphs of doc 4 split on \n\n: [p q, r s, \nr s] — the
    // whitespace trim must reduce the third to 'r s' so n=3, dups=1/3
    assert(out(4L)._4 == 3L && out(4L)._5 == math.floor(1.0 / 3 * 1e6 + 0.5).toLong)
  }

  test("top bigram: most frequent 2-gram, char coverage, deterministic ties") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "x y x y z"), // "x y" twice -> 2*3/9
      (2L, "a b c"),     // tie between "a b" and "b c" -> lex smallest
      (3L, "lonely"),    // no bigram
      (4L, "x x x")      // overlap double-count would exceed 1 -> clamp
    ).toDF("id", "text")
    val out = TextAnalysis.withTopBigram(df, "id", "text").collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(2)), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((Some("x y"), 2L, math.floor(2.0 * 3 / 9 * 1000000 + 0.5).toLong)))
    assert(out(2L) == ((Some("a b"), 1L, math.floor(1.0 * 3 / 5 * 1000000 + 0.5).toLong)))
    assert(out(3L) == ((None, 0L, 0L)))
    assert(out(4L) == ((Some("x x"), 2L, 1000000L)))
  }

  test("contamination: n-gram overlap against a benchmark set") {
    ready
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench gram
      (2L, "completely unrelated words here today"),
      (3L, "quick brown fox jumps again and again"),       // shares "quick brown fox"
      (4L, "ab")                                           // shorter than n -> 0 grams
    ).toDF("id", "text")
    val bench = Seq("answer: the quick brown fox jumps", "unused eval question")
      .toDF("btext")
    val out = Dedup.contamination(corpus, "id", "text", bench, "btext", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // doc 1 grams (7): bench has "the quick brown","quick brown fox","brown fox jumps" -> 3 hits
    assert(out(1L) == ((7L, 3L, math.floor(3.0 / 7 * 1e6 + 0.5).toLong, true)))
    assert(out(2L) == ((3L, 0L, 0L, false)))
    // doc 3: "quick brown fox","brown fox jumps" hit (not "the quick brown")
    assert(out(3L)._2 == 2L && out(3L)._4)
    assert(out(4L) == ((0L, 0L, 0L, false)))
  }

  test("curation plan shapes: broadcast probe, sort-free argmax, no global data window") {
    ready
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"w$i x${i % 5} y${i % 3} z common tail words here"))
      .toDF("id", "text")
    val bench = Seq("z common tail").toDF("btext")

    // contamination: the bench-gram probe must be a broadcast hash join
    // (corpus gram strings never shuffle)
    val contPlan = Dedup.contamination(docs, "id", "text", bench, "btext", n = 3)
      .queryExecution.executedPlan.toString
    assert(contPlan.contains("BroadcastHashJoin"))

    // top bigram: the argmax is an AGGREGATE with a map-side partial
    // (min_by combines before the shuffle; string buffers make it a
    // SortAggregate, but the sort is per-partition by group key) — a
    // Window would shuffle every gram row uncombined
    val tbPlan = TextAnalysis.withTopBigram(docs, "id", "text")
      .queryExecution.executedPlan.toString
    assert(tbPlan.contains("partial_min_by"), s"no partial aggregation in:\n$tbPlan")
    assert(!tbPlan.contains("Window"), s"unexpected window in:\n$tbPlan")

    // packShards: the only unpartitioned window runs over the bucket
    // totals (buckets rows), never over the corpus — assert the
    // single-partition exchange feeds an aggregate output, and the
    // per-bucket window is partitioned
    val ps = Sampling.packShards(docs.withColumn("tok", length(col("text"))),
      "id", "tok", budget = 100L, buckets = 4)
    val psPlan = ps.queryExecution.executedPlan.toString
    assert(psPlan.contains("windowspecdefinition(__bkt"), psPlan)
    val single = "SinglePartition".r.findAllIn(psPlan).size
    assert(single <= 1, s"more than one single-partition exchange:\n$psPlan")
  }

  test("chunkDocs: token windows with overlap; redundant tails dropped") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "a b c d e"),           // 5 tokens, overlap makes tail redundant
      (3L, ""),                    // no chunks
      (4L, "only")                 // single token
    ).toDF("id", "text")
    val plain = TextAnalysis.chunkDocs(df, "id", "text", maxTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(plain == Set(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "e f g h", 4L), (1L, 2L, "i j", 2L),
      (2L, 0L, "a b c d", 4L), (2L, 1L, "e", 1L),
      (4L, 0L, "only", 1L)))
    val ovl = TextAnalysis.chunkDocs(df.where($"id" === 2L), "id", "text",
      maxTokens = 4, overlap = 2).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // starts 1, 3; start 5 would be a strict suffix of chunk 1 -> dropped
    assert(ovl == Set((0L, "a b c d", 4L), (1L, "c d e", 3L)))
  }

  test("corpusTopGrams: corpus-wide n-gram counts with document frequency") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "to be or not to be"), // "to be" twice here
      (2L, "to be is to do"),
      (3L, "do be do be do")      // "do be" x2, "be do" x2
    ).toDF("id", "text")
    val out = TextAnalysis.corpusTopGrams(df, "id", "text", n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("to be", 3L, 2L), ("be do", 2L, 1L), ("do be", 2L, 1L)))
    // top-K must be TakeOrdered, not a global sort
    val plan = TextAnalysis.corpusTopGrams(df, "id", "text", n = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("redactPii: sequential category redaction with counts") {
    ready
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@example.co.uk or 192.168.0.1 now"),
      (2L, "ssn 123-45-6789 card 4111 1111 1111 1111 tel 555-867-5309"),
      (3L, "nothing to hide"),
      (4L, "call 555.867.5309 or +1 555-867-5309")
    ).toDF("id", "text")
    val out = TextAnalysis.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def counts(id: Long) = {
      val r = out(id)
      TextAnalysis.PiiPatterns.map { case (n, _, _) => n -> r.getLong(r.fieldIndex(s"pii_$n")) }.toMap
    }
    assert(out(1L).getString(out(1L).fieldIndex("text_redacted")) == "mail <EMAIL> or <IP> now")
    assert(counts(1L) == Map("email" -> 1L, "ssn" -> 0L, "card" -> 0L, "ip" -> 1L, "phone" -> 0L))
    assert(out(2L).getString(out(2L).fieldIndex("text_redacted")) == "ssn <SSN> card <CARD> tel <PHONE>")
    assert(out(2L).getLong(out(2L).fieldIndex("pii_total")) == 3L)
    assert(counts(3L).values.sum == 0L)
    // ssn rule runs before phone: 555-867-5309 is 3-3-4 so phone catches both
    assert(counts(4L) == Map("email" -> 0L, "ssn" -> 0L, "card" -> 0L, "ip" -> 0L, "phone" -> 2L))
  }

  test("packShards: two-phase prefix sum equals the single-window layout") {
    ready
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, 10L + (i % 7))).toDF("k", "tok")
    val out = Sampling.packShards(df, "k", "tok", budget = 100L, buckets = 8)
      .select("k", "tok", "start_offset", "shard_id", "shard_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // reference: one global order, cumulative start offsets
    val h = (k: Long) => (k * 104729 + 7919) % 999999937
    val ordered = (0L until 200L).map(i => (i, 10L + (i % 7))).sortBy { case (k, _) => (h(k), k) }
    var cum = 0L
    val expect = ordered.map { case (k, t) =>
      val start = cum; cum += t
      (k, t, start, start / 100, start % 100)
    }.toSet
    assert(out.toSet == expect)
    // stream is gapless: offsets tile [0, totalTokens)
    assert(out.map(_._2).sum == cum)
    assert(out.map(r => (r._3, r._2)).sortBy(_._1).foldLeft(0L) {
      case (pos, (start, tok)) => assert(start == pos); start + tok
    } == cum)
  }

  test("stratifiedTopK: exact quotas, equal to the single-window reference") {
    ready
    import spark.implicits._
    // skewed strata: A holds 80 of 100 rows
    val rows = (0L until 100L).map(i =>
      (i, if (i < 80) "A" else if (i < 95) "B" else "C"))
    val df = rows.toDF("k", "s")
    val out = Sampling.stratifiedTopK(df, "s", "k",
      quotas = Map("A" -> 10, "C" -> 9), defaultQuota = 7, salts = 4)
    val got = out.select("s", "k", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val bySt = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySt == Map("A" -> 10, "B" -> 7, "C" -> 5)) // C has only 5 rows
    // ranks are 1..k per stratum
    got.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq)
    }
    // equals the plain one-window top-K (the two-phase salting must not
    // change the selected set or the ranks)
    import org.apache.spark.sql.expressions.Window
    val h = expr(Sampling.orderHashSql("k", 7919L))
    val w = Window.partitionBy(col("s")).orderBy(h.asc, col("k").asc)
    val ref = df.withColumn("sample_rank", row_number.over(w))
      .where(col("sample_rank") <=
        when(col("s") === "A", 10).when(col("s") === "C", 9).otherwise(7))
      .select("s", "k", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.toSet == ref)
  }
}

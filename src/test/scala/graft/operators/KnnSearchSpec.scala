package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.cells.Cells
import graft.table.SpatialTable

/**
 * The kNN search against its contract, on every path that runs it:
 * [[KnnJoin.forTable]] over a plain and a temporal table, and the raw
 * [[KnnJoin.apply]] over the same points. Each answer must equal
 * [[KnnJoin.bruteForce]] over the points within the query's maxRings
 * disk (the whole answer unless the query is capped), row for row, and
 * the output schema must be the points' columns, then the queries',
 * then `dist`.
 */
class KnnSearchSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private val Res = 7
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def wrapLon(x: Double) = if (x > 180) x - 360 else if (x < -180) x + 360 else x

  /** A hotspot, a blob across the antimeridian, one near the pole, a
    * sparse scatter with a hole around (-100, -60) holding two points,
    * and four points exactly 0.5 degrees from (50, 40). */
  private lazy val rows: Seq[(String, Double, Double)] = {
    val rnd = new scala.util.Random(71)
    def blob(n: Int, name: String, lon: => Double, lat: => Double) =
      (0 until n).map(i => (s"$name$i", lon, lat))
    blob(300, "d", 10 + rnd.nextGaussian(), 10 + rnd.nextGaussian()) ++
      blob(120, "a", wrapLon(180 + rnd.nextGaussian() * 0.8), -20 + rnd.nextGaussian() * 0.8) ++
      blob(50, "h", 30 + rnd.nextGaussian() * 8, 80 + rnd.nextDouble() * 4) ++
      blob(90, "w", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 160 - 80).filterNot {
        case (_, lon, lat) =>
          (lon > -120 && lon < -80 && lat > -72 && lat < -48) || (lon > 45 && lon < 55 && lat > 35 && lat < 45)
      } ++
      Seq(("s0", -101.0, -61.0), ("s1", -98.5, -59.5),
        // ids run against longitude, so (lon, lat) and id break the tie differently
        ("t3", 49.5, 40.0), ("t2", 50.0, 39.5), ("t1", 50.0, 40.5), ("t0", 50.5, 40.0))
  }

  private lazy val points: DataFrame = {
    val rnd = new scala.util.Random(72)
    rows.map { case (id, lon, lat) =>
      (id, lon, lat, new Timestamp(T0 + (rnd.nextDouble() * 80 * 86400000L).toLong))
    }.toDF("id", "lon", "lat", "dtg").cache()
  }

  private lazy val tables: Seq[(String, String)] = Seq(
    "plain" -> { (root: String) =>
      SpatialTable.write(spark, points, root, "s1", "id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 4)
    },
    "temporal" -> { (root: String) =>
      SpatialTable.writeTemporal(spark, points, root, "s1", "id", "lon", "lat", "dtg",
        period = "month", res = 9, prefixRes = 3, salts = 2, partitions = 4)
    }).map { case (layout, write) =>
    val root = Files.createTempDirectory(s"graft_knn_search_$layout").toString
    write(root)
    layout -> root
  }

  /** Queries with a string qid and two columns the output carries. */
  private def queryFrame(qs: Seq[(String, Double, Double)]): DataFrame =
    qs.map { case (q, lon, lat) => (q, s"label-$q", lon, lat, q.length) }
      .toDF("qid", "label", "qlon", "qlat", "weight")

  private def comparable(df: DataFrame): Seq[Row] =
    df.select("qid", "label", "weight", "id", "lon", "lat", "dist").collect().toSeq
      .sortBy(r => (r.getString(0), r.getString(3)))

  /** The k nearest among the points of the query's maxRings disk. */
  private def oracle(base: DataFrame, qs: DataFrame, k: Int, maxRings: Int, metric: String,
                     tieBreak: Seq[String]): Seq[Row] =
    comparable(qs.collect().map { q =>
      val disk = Cells.disk(Cells.cell(q.getAs[Double]("qlon"), q.getAs[Double]("qlat"), Res), maxRings)
      val reach = base.where(expr(s"st_cellOfXY(lon, lat, $Res)").isin(disk.toSeq: _*))
      KnnJoin.bruteForce(reach, "lon", "lat", spark.createDataFrame(java.util.List.of(q), qs.schema),
        "qid", "qlon", "qlat", k, metric, tieBreak)
    }.reduceOption(_ union _).getOrElse(KnnJoin.bruteForce(base, "lon", "lat", qs,
      "qid", "qlon", "qlat", k, metric, tieBreak)))

  private def fields(df: DataFrame): Seq[(String, DataType)] = df.schema.map(f => f.name -> f.dataType)

  /** Runs one batch on every path — the tables at `snapshot`, and the
    * raw operator over `base`, the snapshot's rows — checks each against
    * the oracle and the output schema, and returns each path's search
    * record. */
  private def check(qs: DataFrame, k: Int, maxRings: Int = 64, metric: String = "haversine",
                    tieBreak: Seq[String] = Nil, snapshot: String = "s1",
                    base: DataFrame = points): Seq[(String, KnnJoin.Search)] = {
    val want = oracle(base, qs, k, maxRings, metric, tieBreak)
    val paths = tables.map { case (layout, root) =>
      (layout, SpatialTable.read(spark, root, snapshot), () => KnnJoin.forTable(spark, root, snapshot,
        "lon", "lat", qs, "qid", "qlon", "qlat", k, Res, maxRings, metric, tieBreak))
    } :+ (("raw", base, () => KnnJoin(spark, base, "lon", "lat", qs, "qid", "qlon", "qlat",
      k, Res, maxRings, metric, tieBreak)))
    paths.map { case (path, pts, run) =>
      val out = run()
      val search = KnnJoin.lastSearch
      assert(fields(out) == fields(pts) ++ fields(qs) :+ ("dist" -> DoubleType), path)
      val got = comparable(out)
      assert(got == want, s"$path: ${got.diff(want)} extra, ${want.diff(got)} missing")
      assert(search.activeQueries.size == search.growthRounds + 1, s"$path: $search")
      path -> search
    }
  }

  test("hotspot, antimeridian and high-latitude queries match brute force on every path") {
    val searches = check(queryFrame(Seq(("hot", 10.2, 9.9), ("hot2", 9.0, 11.0),
      ("east", 179.9, -20.0), ("west", -179.8, -19.5), ("polar", 31.0, 81.0))), k = 8)
    searches.foreach { case (path, s) => assert(s.activeQueries.last == 5, s"$path: $s") }
  }

  test("sparse queries grow for several rounds; a batch's queries finish in " +
    "different rounds") {
    val searches = check(queryFrame(Seq(("hot", 10.0, 10.0), ("far1", -40.0, 20.0),
      ("far2", 120.0, -35.0))), k = 6)
    searches.foreach { case (path, s) =>
      assert(s.growthRounds >= 2, s"$path: $s")
      // the hotspot query settles in the first round, the sparse ones later
      assert(s.activeQueries.head == 3 && s.activeQueries(1) < 3 && s.activeQueries.last == 3,
        s"$path: $s")
    }
  }

  test("a query capped by maxRings returns what its disk holds") {
    val searches = check(queryFrame(Seq(("capped", -100.0, -60.0))), k = 5, maxRings = 4)
    searches.foreach { case (path, s) => assert(s.activeQueries.last == 1, s"$path: $s") }
  }

  test("near a pole the proof reaches the longitudes its latitude band allows") {
    // a cell is 1.4 by 2.8 degrees here; at 89.5 degrees a point 60
    // degrees of longitude (21 columns) away is nearer than one 0.6
    // degrees south in the query's own cell
    val pts = Seq(("a", 60.0, 89.5), ("b", 0.0, 88.9)).toDF("id", "lon", "lat")
    val qs = queryFrame(Seq(("pole", 0.0, 89.5)))
    val got = comparable(KnnJoin(spark, pts, "lon", "lat", qs, "qid", "qlon", "qlat", k = 1, res = Res))
    assert(got.map(_.getAs[String]("id")) == Seq("a"))
    assert(got == oracle(pts, qs, k = 1, maxRings = 64, metric = "haversine", tieBreak = Nil))
  }

  test("ties at the kth distance are settled by tieBreakCols") {
    val qs = queryFrame(Seq(("tie", 50.0, 40.0)))
    check(qs, k = 2, metric = "planar", tieBreak = Seq("id"))
    val byId = KnnJoin(spark, points, "lon", "lat", qs, "qid", "qlon", "qlat", k = 2, res = Res,
      metric = "planar", tieBreakCols = Seq("id")).select("id").as[String].collect().toSet
    assert(byId == Set("t0", "t1"))
    val byLonLat = KnnJoin(spark, points, "lon", "lat", qs, "qid", "qlon", "qlat", k = 2, res = Res,
      metric = "planar").select("id").as[String].collect().toSet
    assert(byLonLat == Set("t3", "t2"))
  }

  test("an empty query set returns no rows with the full output schema") {
    val searches = check(queryFrame(Nil), k = 3)
    searches.foreach { case (path, s) =>
      assert(s == KnnJoin.Search(0, Seq(0), s.prefixesKept, s.prefixesTotal), s"$path: $s")
    }
  }

  test("a snapshot made by an upsert and a deleteWhere reads like a fresh one") {
    val ups = Seq(("d0", 10.05, 10.05), ("n0", 10.1, 9.95), ("n1", 179.95, -20.1))
      .map { case (id, lon, lat) => (id, lon, lat, new Timestamp(T0)) }.toDF("id", "lon", "lat", "dtg")
    tables.foreach { case (_, root) =>
      SpatialTable.upsert(spark, root, "s1", "s2", ups)
      SpatialTable.deleteWhere(spark, root, "s2", "s3", "BBOX(geom, 9.5, 9.5, 10.5, 10.5)")
    }
    val now = SpatialTable.read(spark, tables.head._2, "s3").select("id", "lon", "lat", "dtg").cache()
    assert(now.where(col("id") === "n1").count() == 1 && now.where(col("id") === "d0").count() == 0)
    check(queryFrame(Seq(("hot", 10.0, 10.0), ("east", 179.9, -20.0))), k = 7, snapshot = "s3", base = now)
  }
}

package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs, generated with native Spark expressions only. The same
  * (seed, size, partitions) always yields the same rows: `rand(seed)` is
  * deterministic per partition and row position.
  *
  * Every kind of input clusters around the same fixed hotspots, so joins
  * and queries see the spatial skew real footprint archives have. */
final class Inputs(spark: SparkSession, seed: Long, parts: Int) {
  /** Start of the 8-week time window of point and extent timestamps. */
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val WindowMs: Long = 8L * 7 * 86400000L

  // the hotspot layout is fixed; the seed draws the rows around it, so
  // every seed sees the same world and the same table layouts
  private val rng = new scala.util.Random(20240101L)
  val Hotspots = 24
  // (lon, lat, sigma in degrees)
  val hotspots: IndexedSeq[(Double, Double, Double)] = (0 until Hotspots).map { _ =>
    (-150 + 300 * rng.nextDouble(), -60 + 120 * rng.nextDouble(), 0.4 + 3.6 * rng.nextDouble())
  }

  private def pick(i: Int) = array(hotspots.map(h => lit(Seq(h._1, h._2, h._3)(i))): _*)
  private val hx = pick(0); private val hy = pick(1); private val hs = pick(2)

  private def rows(n: Long, p: Int = parts): DataFrame = spark.range(0, n, 1, p).toDF()
  private def r(k: Int): Column = rand(seed * 1000003L + k)
  private def rn(k: Int): Column = randn(seed * 1000003L + k)
  private def clampLon(c: Column) = greatest(lit(-179.9), least(lit(179.9), c))
  private def clampLat(c: Column) = greatest(lit(-84.9), least(lit(84.9), c))

  /** Hotspot-clustered (lon, lat): a skewed pick of the hotspot (low
    * indices are hotter), then a Gaussian offset of the hotspot's sigma. */
  private def clustered(df: DataFrame, k: Int): DataFrame = {
    val h = floor(pow(r(k), 2.0) * Hotspots).cast("int") + 1
    df.withColumn("lon", clampLon(element_at(hx, h) + rn(k + 1) * element_at(hs, h)))
      .withColumn("lat", clampLat(element_at(hy, h) + rn(k + 2) * element_at(hs, h)))
  }

  /** Log-uniform value in [lo, hi]. */
  private def logUniform(k: Int, lo: Double, hi: Double): Column =
    exp(lit(math.log(lo)) + r(k) * (math.log(hi) - math.log(lo)))

  /** Points: id, lon, lat, dtg over 8 weeks, a skewed categorical `name`
    * (the attribute-indexed column) and a numeric `score`. */
  def points(n: Long, prefix: String = "p"): DataFrame =
    clustered(rows(n), 10)
      .select(
        format_string(s"$prefix%09d", col("id")).as("id"),
        col("lon"), col("lat"),
        timestamp_millis(lit(T0) + floor(r(13) * WindowMs).cast("long")).as("dtg"),
        concat(lit("n"), floor(pow(r(14), 3.0) * 200).cast("int").cast("string")).as("name"),
        round(r(15) * 100, 3).as("score"))

  /** Axis-aligned boxes around clustered centres: log-uniform sides in
    * [minSide, maxSide] degrees, plus a `hugeShare` of boxes 46-60 by
    * 24-30 degrees that exceed the joins' cover budget. */
  private def boxes(df: DataFrame, k: Int, minSide: Double, maxSide: Double,
                    hugeShare: Double): DataFrame = {
    val huge = r(k + 5) < hugeShare
    val w = when(huge, lit(46.0) + r(k + 6) * 14).otherwise(logUniform(k + 3, minSide, maxSide))
    val h = when(huge, lit(24.0) + r(k + 7) * 6).otherwise(logUniform(k + 4, minSide, maxSide))
    clustered(df, k)
      .withColumn("__w", w).withColumn("__h", h)
      .withColumn("x0", clampLon(col("lon") - col("__w") / 2))
      .withColumn("x1", clampLon(col("lon") + col("__w") / 2))
      .withColumn("y0", clampLat(col("lat") - col("__h") / 2))
      .withColumn("y1", clampLat(col("lat") + col("__h") / 2))
      .drop("__w", "__h")
  }

  /** WKT of a convex quadrilateral inscribed in a box: one vertex on each
    * edge, so the shape is not its own envelope and the refine matters. */
  private def quadWkt(k: Int): Column = {
    def along(a: String, b: String, u: Column) = col(a) + (col(b) - col(a)) * u
    val u = (0 until 4).map(i => lit(0.15) + r(k + i) * 0.7)
    format_string("POLYGON ((%.9f %.9f, %.9f %.9f, %.9f %.9f, %.9f %.9f, %.9f %.9f))",
      along("x0", "x1", u(0)), col("y0"),
      col("x1"), along("y0", "y1", u(1)),
      along("x0", "x1", u(2)), col("y1"),
      col("x0"), along("y0", "y1", u(3)),
      along("x0", "x1", u(0)), col("y0"))
  }

  /** Image footprints for the join/tile pipeline: id, the box columns
    * fxmin..fymax, and `batch` in [0, batches). */
  def footprints(n: Long, batches: Int): DataFrame =
    boxes(rows(n), 20, 0.01, 1.2, 0.0002)
      .select(col("id").as("image_id"), (col("id") % batches).cast("int").as("batch"),
        col("x0").as("fxmin"), col("y0").as("fymin"), col("x1").as("fxmax"), col("y1").as("fymax"))

  /** Polygonal footprints (every 8th image): a quadrilateral inscribed in
    * the footprint box, as WKB, with the box kept for the oracle. */
  def polygons(footprints: DataFrame): DataFrame =
    footprints.where(col("image_id") % 8 === 0)
      .select(col("image_id"), col("batch"),
        col("fxmin").as("x0"), col("fymin").as("y0"), col("fxmax").as("x1"), col("fymax").as("y1"))
      .withColumn("__wkt", quadWkt(30))
      .withColumn("footprint", expr("st_geomFromWKT(__wkt)"))
      .drop("__wkt")

  /** Zones: id and box bounds, half-sides 0.25-1.5 degrees, clustered
    * like the footprints so the join has realistic selectivity. */
  def zones(n: Int): DataFrame =
    boxes(rows(n, 1), 40, 0.5, 3.0, 0.0)
      .select(col("id").as("zone_id"),
        col("x0").as("zxmin"), col("y0").as("zymin"), col("x1").as("zxmax"), col("y1").as("zymax"))

  /** Zones as WKB quadrilaterals for the WKB/JTS join path. */
  def zonePolygons(zones: DataFrame): DataFrame =
    zones.select(col("zone_id"), col("zxmin").as("x0"), col("zymin").as("y0"),
        col("zxmax").as("x1"), col("zymax").as("y1"))
      .withColumn("__wkt", quadWkt(50))
      .select(col("zone_id"), expr("st_geomFromWKT(__wkt)").as("z_geom"))

  /** Extents: id, WKB box geometry, dtg over 8 weeks, a categorical
    * `kind`, and the box bounds bx0..by1 as plain columns. */
  def extents(n: Long, prefix: String = "e"): DataFrame =
    boxes(rows(n), 60, 0.005, 0.4, 0.0)
      .select(
        format_string(s"$prefix%09d", col("id")).as("id"),
        expr("st_makeBBOX(x0, y0, x1, y1)").as("geom"),
        timestamp_millis(lit(T0) + floor(r(70) * WindowMs).cast("long")).as("dtg"),
        concat(lit("k"), floor(r(71) * 16).cast("int").cast("string")).as("kind"),
        col("x0").as("bx0"), col("y0").as("by0"), col("x1").as("bx1"), col("y1").as("by1"))
}

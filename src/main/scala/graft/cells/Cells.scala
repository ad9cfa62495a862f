package graft.cells

/**
 * Hierarchical cell algebra over the Z2 Morton grid — the engine's
 * H3/S2-style public cell API (see SURVEY.md §7.0). A cell id packs the
 * resolution and the Morton code of the (ix, iy) grid coordinate:
 *
 *   id = res << 58 | morton(ix, iy)     res in [0, 29], ix/iy in [0, 2^res)
 *
 * Resolution r divides the lon/lat world rectangle into 2^r x 2^r cells,
 * so ids at the same resolution sort in Z-order (locality for range scans)
 * and `parent`/`children` are bit shifts — mirroring the reference's
 * Z-curve key semantics (/root/reference/geomesa-z3/.../curve/Z2SFC.scala)
 * in hierarchical form.
 */
object Cells {
  val MaxRes = 29
  private val ResShift = 58

  def pack(res: Int, ix: Long, iy: Long): Long = {
    (res.toLong << ResShift) | Z2.index(ix, iy)
  }

  def res(cell: Long): Int = (cell >>> ResShift).toInt
  def morton(cell: Long): Long = cell & ((1L << ResShift) - 1)
  def ix(cell: Long): Long = Z2.invertX(morton(cell))
  def iy(cell: Long): Long = Z2.invertY(morton(cell))

  /** Cell width in degrees of longitude at resolution r. */
  def lonWidth(r: Int): Double = 360.0 / (1L << r)
  def latWidth(r: Int): Double = 180.0 / (1L << r)

  /** Cell containing a lon/lat point at resolution r. */
  def cell(lon: Double, lat: Double, r: Int): Long = {
    require(r >= 0 && r <= MaxRes, s"resolution $r out of [0,$MaxRes]")
    val nd = 1L << r
    val ix = clampIdx(math.floor((lon + 180.0) / 360.0 * nd).toLong, nd)
    val iy = clampIdx(math.floor((lat + 90.0) / 180.0 * nd).toLong, nd)
    pack(r, ix, iy)
  }

  private def clampIdx(i: Long, n: Long): Long =
    if (i < 0) 0 else if (i >= n) n - 1 else i

  /** Envelope of a cell: (lonMin, latMin, lonMax, latMax). */
  def envelope(cell: Long): (Double, Double, Double, Double) = {
    val r = res(cell)
    val wx = lonWidth(r)
    val wy = latWidth(r)
    val x0 = -180.0 + ix(cell) * wx
    val y0 = -90.0 + iy(cell) * wy
    (x0, y0, x0 + wx, y0 + wy)
  }

  def centroid(cell: Long): (Double, Double) = {
    val (x0, y0, x1, y1) = envelope(cell)
    ((x0 + x1) / 2, (y0 + y1) / 2)
  }

  def parent(cell: Long): Long = {
    val r = res(cell)
    require(r > 0, "root cell has no parent")
    pack(r - 1, ix(cell) >> 1, iy(cell) >> 1)
  }

  def parentAt(cell: Long, targetRes: Int): Long = {
    val r = res(cell)
    require(targetRes <= r, s"target res $targetRes finer than cell res $r")
    val d = r - targetRes
    pack(targetRes, ix(cell) >> d, iy(cell) >> d)
  }

  def children(cell: Long): Array[Long] = {
    val r = res(cell)
    require(r < MaxRes, "max-res cell has no children")
    val bx = ix(cell) << 1
    val by = iy(cell) << 1
    Array(pack(r + 1, bx, by), pack(r + 1, bx + 1, by),
          pack(r + 1, bx, by + 1), pack(r + 1, bx + 1, by + 1))
  }

  /**
   * Cells at Chebyshev grid distance exactly k from `cell` (k=0 is the
   * cell itself). Longitude wraps around the antimeridian; latitude rows
   * outside the poles are dropped. This is the kNN candidate generator
   * (ring expansion — the analog of the reference's expanding geohash
   * search, /root/reference/geomesa-process/.../knn/GeoHashSpiral.scala:96-151).
   */
  def ring(cell: Long, k: Int): Array[Long] = {
    val r = res(cell)
    val n = 1L << r
    val cx = ix(cell)
    val cy = iy(cell)
    if (k == 0) return Array(cell)
    // once the ring is wider than half the grid, longitude wrap makes
    // ±dx land on the same x — dedupe, or a kNN disk would emit every
    // candidate twice (crowding true neighbors out of the top-k)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          val y = cy + dy
          if (y >= 0 && y < n) {
            val x = java.lang.Math.floorMod(cx + dx, n) // wrap lon
            out += pack(r, x, y)
          }
        }
        dy += 1
      }
      dx += 1
    }
    out.toArray
  }

  /** All cells within Chebyshev distance <= k (the filled disk),
    * distinct — rings of wrapped longitudes overlap for k > 2^res / 2. */
  def disk(cell: Long, k: Int): Array[Long] =
    (0 to k).flatMap(ring(cell, _)).distinct.toArray

  /**
   * The distinct resolution-`r` parents of `disk(cell, k)`, found
   * without enumerating the (2k+1)^2 disk: the disk is a longitude
   * interval (cyclic) times a latitude interval clamped at the poles,
   * and a parent grid coarser by 2^d maps each interval to the floor
   * divisions of its ends. A longitude span reaching 2^r parents covers
   * the whole row, which also handles disks wider than the world.
   */
  def diskParents(cell: Long, k: Int, r: Int): Array[Long] = {
    val res0 = res(cell)
    require(r <= res0, s"target res $r finer than cell res $res0")
    val n = 1L << res0
    val d = res0 - r
    val m = 1L << r
    val cx = ix(cell)
    val cy = iy(cell)
    // arithmetic shifts floor-divide the unwrapped ends; floorMod wraps
    val x0 = (cx - k) >> d
    val nx = math.min(m, ((cx + k) >> d) - x0 + 1)
    val y0 = math.max(0L, cy - k) >> d
    val y1 = math.min(n - 1, cy + k) >> d
    val out = new Array[Long]((nx * (y1 - y0 + 1)).toInt)
    var i = 0
    var x = 0L
    while (x < nx) {
      val px = java.lang.Math.floorMod(x0 + x, m)
      var y = y0
      while (y <= y1) { out(i) = pack(r, px, y); i += 1; y += 1 }
      x += 1
    }
    out
  }

  /**
   * Cells at resolution r whose envelope intersects the given lon/lat
   * bbox, capped at `maxCells` (coarsens by using parent resolution when
   * the cover would explode — the analog of the reference's scan-range
   * cap `geomesa.scan.ranges.target`). Returns cells at the possibly
   * coarsened resolution.
   */
  def coverBBox(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
                r: Int, maxCells: Int = 4096): Array[Long] = {
    var rr = r
    while (rr > 0 && cellCountAt(lonMin, latMin, lonMax, latMax, rr) > maxCells) rr -= 1
    val n = 1L << rr
    val x0 = clampIdx(math.floor((lonMin + 180.0) / 360.0 * n).toLong, n)
    val x1 = clampIdx(math.floor((lonMax + 180.0) / 360.0 * n).toLong, n)
    val y0 = clampIdx(math.floor((latMin + 90.0) / 180.0 * n).toLong, n)
    val y1 = clampIdx(math.floor((latMax + 90.0) / 180.0 * n).toLong, n)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = pack(rr, x, y); i += 1; y += 1 }
      x += 1
    }
    out
  }

  /** Number of cells a bbox cover needs at resolution r, with no cap —
    * the size-split joins use this to route rows that would overflow the
    * cover budget (and would previously coarsen) to an exact-predicate
    * broadcast branch instead of the grid equi-join. */
  def coverCountBBox(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double, r: Int): Long =
    cellCountAt(lonMin, latMin, lonMax, latMax, r)

  private def cellCountAt(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double, r: Int): Long = {
    val n = 1L << r
    val x0 = clampIdx(math.floor((lonMin + 180.0) / 360.0 * n).toLong, n)
    val x1 = clampIdx(math.floor((lonMax + 180.0) / 360.0 * n).toLong, n)
    val y0 = clampIdx(math.floor((latMin + 90.0) / 180.0 * n).toLong, n)
    val y1 = clampIdx(math.floor((latMax + 90.0) / 180.0 * n).toLong, n)
    (x1 - x0 + 1) * (y1 - y0 + 1)
  }

  /** Z2 point index at full 31-bit precision (the reference's z2 key). */
  def z2(lon: Double, lat: Double): Long = {
    val nx = NormalizedDimension.lon(Z2.BitsPerDim)
    val ny = NormalizedDimension.lat(Z2.BitsPerDim)
    Z2.index(nx.normalize(lon), ny.normalize(lat))
  }

  /** Z3 point+time index: (bin, z) with 21-bit dims (the reference's z3 key). */
  def z3(lon: Double, lat: Double, millis: Long, period: BinnedTime.Period): (Short, Long) = {
    val b = BinnedTime.toBinned(period, millis)
    val nx = NormalizedDimension.lon(Z3.BitsPerDim)
    val ny = NormalizedDimension.lat(Z3.BitsPerDim)
    val nt = NormalizedDimension.time(Z3.BitsPerDim, BinnedTime.maxOffset(period))
    (b.bin, Z3.index(nx.normalize(lon), ny.normalize(lat), nt.normalize(b.offset.toDouble)))
  }
}

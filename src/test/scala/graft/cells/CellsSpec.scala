package graft.cells

import org.scalatest.funsuite.AnyFunSuite

/** Kernel properties per FIXTURES.md §5 (ported test *patterns* from the
  * reference's geomesa-z3 curve suites; implementations are ours).
  * Property checks use a seeded RNG (deterministic, offline-friendly). */
class CellsSpec extends AnyFunSuite {

  private def rng = new scala.util.Random(42)
  private def trials = 200

  private def nextLong(r: scala.util.Random, bound: Long): Long =
    (r.nextLong() & Long.MaxValue) % bound

  test("Z2 split/combine round-trip") {
    val r = rng
    (1 to trials).foreach { _ =>
      val x = nextLong(r, Z2.MaxMask + 1)
      assert(Z2.combine(Z2.split(x)) == x)
    }
  }

  test("Z2 index/invert round-trip") {
    val r = rng
    (1 to trials).foreach { _ =>
      val x = nextLong(r, Z2.MaxMask + 1); val y = nextLong(r, Z2.MaxMask + 1)
      val z = Z2.index(x, y)
      assert(Z2.invertX(z) == x && Z2.invertY(z) == y)
    }
  }

  test("Z3 index/invert round-trip") {
    val r = rng
    (1 to trials).foreach { _ =>
      val x = nextLong(r, Z3.MaxMask + 1); val y = nextLong(r, Z3.MaxMask + 1); val t = nextLong(r, Z3.MaxMask + 1)
      val z = Z3.index(x, y, t)
      assert(Z3.invertX(z) == x && Z3.invertY(z) == y && Z3.invertT(z) == t)
    }
  }

  test("NormalizedDimension round-trip within one bin width") {
    val nd = NormalizedDimension.lon(21)
    val r = rng
    (1 to trials).foreach { _ =>
      val x = r.nextDouble() * 360.0 - 180.0
      val i = nd.normalize(x)
      assert(i >= 0 && i <= nd.maxIndex)
      assert(math.abs(nd.denormalize(i) - x) <= 360.0 / (1 << 21))
      assert(x >= nd.lo(i) - 1e-9 && x <= nd.hi(i) + 1e-9)
    }
  }

  test("Z2 range cover soundness: points in window are covered") {
    val bits = 16
    val r = rng
    (1 to 50).foreach { _ =>
      val Seq(a, b, c, d) = Seq.fill(4)(r.nextInt(1 << bits))
      val (xmin, xmax) = (math.min(a, c), math.max(a, c))
      val (ymin, ymax) = (math.min(b, d), math.max(b, d))
      val ranges = ZRangeCover.z2Ranges(xmin, ymin, xmax, ymax, bitsPerDim = bits, maxRanges = 64)
      // sample points inside the window: corners and center
      val pts = Seq((xmin, ymin), (xmax, ymax), ((xmin + xmax) / 2, (ymin + ymax) / 2))
      pts.foreach { case (x, y) =>
        val z = Z2.index(x.toLong, y.toLong)
        assert(ranges.exists(r => z >= r.lower && z <= r.upper),
          s"point ($x,$y) z=$z not covered by ${ranges.size} ranges for window ($xmin,$ymin)-($xmax,$ymax)")
      }
    }
  }

  test("Z2 contained ranges are exact: covered points are inside the window") {
    val bits = 10
    val ranges = ZRangeCover.z2Ranges(100, 200, 500, 600, bitsPerDim = bits, maxRanges = 1 << 20, maxLevels = bits)
    ranges.filter(_.contained).foreach { r =>
      // check endpoints of each contained range decode inside the window
      Seq(r.lower, r.upper).foreach { z =>
        val x = Z2.invertX(z); val y = Z2.invertY(z)
        assert(x >= 100 && x <= 500 && y >= 200 && y <= 600)
      }
    }
  }

  test("Z3 range cover soundness") {
    val bits = 10
    val ranges = ZRangeCover.z3Ranges(1, 2, 3, 60, 70, 80, bitsPerDim = bits, maxRanges = 128)
    for (x <- Seq(1, 30, 60); y <- Seq(2, 35, 70); t <- Seq(3L, 40L, 80L)) {
      val z = Z3.index(x.toLong, y.toLong, t)
      assert(ranges.exists(r => z >= r.lower && z <= r.upper))
    }
  }

  test("Cells pack/unpack round-trip") {
    val rnd = rng
    (1 to trials).foreach { _ =>
      val r = rnd.nextInt(21)
      val n = 1L << r
      val x = nextLong(rnd, n); val y = nextLong(rnd, n)
      val c = Cells.pack(r, x, y)
      assert(Cells.res(c) == r && Cells.ix(c) == x && Cells.iy(c) == y)
    }
  }

  test("cell contains its input point") {
    val rnd = rng
    (1 to trials).foreach { _ =>
      val lon = rnd.nextDouble() * 360 - 180; val lat = rnd.nextDouble() * 180 - 90
      val r = 1 + rnd.nextInt(15)
      val c = Cells.cell(lon, lat, r)
      val (x0, y0, x1, y1) = Cells.envelope(c)
      assert(lon >= x0 - 1e-9 && lon <= x1 + 1e-9)
      assert(lat >= y0 - 1e-9 && lat <= y1 + 1e-9)
    }
  }

  test("parent/children consistency") {
    val rnd = rng
    (1 to trials).foreach { _ =>
      val lon = rnd.nextDouble() * 360 - 180; val lat = rnd.nextDouble() * 180 - 90
      val r = 1 + rnd.nextInt(15)
      val c = Cells.cell(lon, lat, r)
      val p = Cells.parent(c)
      assert(Cells.children(p).contains(c))
      assert(Cells.parentAt(c, r - 1) == p)
      assert(Cells.cell(lon, lat, r - 1) == p)
    }
  }

  test("ring sizes and distinctness") {
    val c = Cells.cell(10.0, 45.0, 10)
    assert(Cells.ring(c, 0).toSeq == Seq(c))
    assert(Cells.ring(c, 1).length == 8)
    assert(Cells.ring(c, 2).length == 16)
    assert(Cells.disk(c, 2).distinct.length == 25)
  }

  test("ring wraps longitude at antimeridian, clamps latitude at poles") {
    val r = 8
    val n = 1L << r
    val edge = Cells.pack(r, 0, n / 2)       // lon = -180 edge
    val ring = Cells.ring(edge, 1)
    assert(ring.length == 8)
    assert(ring.exists(c => Cells.ix(c) == n - 1)) // wrapped
    val pole = Cells.pack(r, 5, 0)            // lat = -90 edge
    assert(Cells.ring(pole, 1).length == 5)   // 3 below-pole cells dropped
  }

  test("coverBBox covers the bbox and respects maxCells") {
    val cells = Cells.coverBBox(-10, -10, 10, 10, 8, maxCells = 4096)
    assert(cells.nonEmpty)
    // point inside bbox is in some cover cell
    val c = Cells.cell(3.3, -2.2, Cells.res(cells.head))
    assert(cells.contains(c))
    val capped = Cells.coverBBox(-170, -80, 170, 80, 12, maxCells = 64)
    assert(capped.length <= 64 && Cells.res(capped.head) < 12)
  }

  test("BinnedTime round-trips per period") {
    import BinnedTime._
    // NB: Day bins overflow Short past ~2059 (same documented bound as the
    // reference's BinnedTime max dates) — stay inside the valid window.
    val times = Seq(0L, 86399999L, 86400000L, 1273190400000L /*2010-05-07*/,
      1609459200000L /*2021-01-01*/, 1893456000000L /*2030-01-01*/)
    for (p <- Seq(Day, Week, Month, Year); t <- times) {
      val b = toBinned(p, t)
      assert(b.offset >= 0 && b.offset < maxOffset(p), s"$p $t -> $b")
      val back = fromBinned(p, b)
      val unit = p match { case Day => 1L; case Year => 60000L; case _ => 1000L }
      assert(math.abs(back - t) < unit, s"$p: $t vs $back")
    }
  }

  test("BinnedTime.binnedRanges spans bins correctly") {
    import BinnedTime._
    // 2010-05-07T00:00Z .. 2010-05-21T00:00Z spans 3 weeks
    val s = 1273190400000L
    val e = s + 14L * 86400000L
    val rs = binnedRanges(Week, s, e)
    assert(rs.length == 3)
    assert(rs.head._2 >= 0 && rs.last._3 >= 0)
    val middle = rs(1)
    assert(middle._2 == 0 && middle._3 == maxOffset(Week) - 1)
  }

  test("XZ2 index lies within ranges of intersecting windows") {
    val xz = XZ2(12)
    val rnd = rng
    (1 to 50).foreach { _ =>
      val lon = rnd.nextDouble() * 360 - 180; val lat = rnd.nextDouble() * 180 - 90
      val w = 0.01 + rnd.nextDouble() * 5; val h = 0.01 + rnd.nextDouble() * 5
      val (xmin, ymin) = (math.max(-180, lon - w), math.max(-90, lat - h))
      val (xmax, ymax) = (math.min(180, lon + w), math.min(90, lat + h))
      val code = xz.index(xmin, ymin, xmax, ymax)
      // a window containing the element must cover its code
      val win = xz.ranges(math.max(-180, xmin - 1), math.max(-90, ymin - 1),
        math.min(180, xmax + 1), math.min(90, ymax + 1), maxRanges = 4096)
      assert(win.exists(r => code >= r.lower && code <= r.upper),
        s"code $code for ($xmin,$ymin,$xmax,$ymax) not in ${win.size} ranges")
    }
  }

  test("XZ2 disjoint window excludes far-away elements (selectivity)") {
    val xz = XZ2(12)
    val code = xz.index(10, 10, 10.1, 10.1)
    val far = xz.ranges(-170, -80, -150, -60)
    assert(!far.exists(r => code >= r.lower && code <= r.upper))
  }

  test("z3 key matches manual binning") {
    val (bin, z) = Cells.z3(0.0, 0.0, 1273190400000L, BinnedTime.Week)
    val b = BinnedTime.toBinned(BinnedTime.Week, 1273190400000L)
    assert(bin == b.bin)
    assert(Z3.invertX(z) == NormalizedDimension.lon(21).normalize(0.0))
  }

  test("disk cells are distinct even when rings wrap the whole longitude range") {
    val c = Cells.cell(0.0, 0.0, 4) // 16x16 grid
    val d = Cells.disk(c, 16)       // radius > n/2: rings overlap via wrap
    assert(d.length == d.distinct.length, "wrapped disk emitted duplicate cells")
    // covers the full longitude range of the reachable latitude rows
    val perRow = d.groupBy(Cells.iy).map { case (_, cs) => cs.map(Cells.ix).toSet.size }
    assert(perRow.forall(_ == 16))
  }

  test("diskParents equals the distinct parents of the enumerated disk") {
    val rnd = rng
    def check(c: Long, k: Int, r: Int): Unit = {
      val got = Cells.diskParents(c, k, r)
      val want = Cells.disk(c, k).map(Cells.parentAt(_, r)).distinct
      assert(got.length == got.distinct.length, s"duplicates for cell $c k=$k r=$r")
      assert(got.sorted.toSeq == want.sorted.toSeq, s"cell $c k=$k r=$r")
    }
    (1 to trials).foreach { _ =>
      // disk() enumerates O(k^3) ring cells: grids of up to 64 x 64
      val res = 1 + rnd.nextInt(6)
      val n = 1L << res
      // a third of the cells sit on the first or last column (wrap) or
      // the pole rows
      val x = rnd.nextInt(3) match {
        case 0 => if (rnd.nextBoolean()) 0L else n - 1
        case _ => nextLong(rnd, n)
      }
      val y = rnd.nextInt(3) match {
        case 0 => if (rnd.nextBoolean()) 0L else n - 1
        case _ => nextLong(rnd, n)
      }
      val c = Cells.pack(res, x, y)
      // radii from 0 past half the grid (full-width disks), parents from
      // the root to the cell's own resolution
      val k = rnd.nextInt((n + 2).toInt)
      check(c, k, rnd.nextInt(res + 1))
      check(c, k, res)
    }
    // the named edge cases, deterministically
    val res = 4
    val n = 1L << res
    for {
      (x, y) <- Seq((0L, 0L), (n - 1, n - 1), (0L, n / 2), (n - 1, 3L), (n / 2, 0L))
      k <- Seq(0, 1, 3, (n / 2).toInt - 1, (n / 2).toInt, n.toInt, 2 * n.toInt)
      r <- 0 to res
    } check(Cells.pack(res, x, y), k, r)
  }
}

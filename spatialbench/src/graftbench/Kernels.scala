package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.{BinnedTime, Cells, XZ2}
import graft.geom.{GeomCache, GeomOps}
import graft.plans.{Cql, StrategyDecider, ZQuery}

/** Single-thread kernel timings of the engine's public `cells`, `geom`
  * and `plans` functions on the workload's own inputs. Each kernel gets
  * a warm-up, then a timed loop; results feed a blackhole so the JIT
  * cannot drop the calls. Traced runs only. */
object Kernels {
  /** Inputs sampled from one workload. Boxes are (x0, y0, x1, y1); windows
    * are [t0, t1) millis; `probes` are WKB shapes that get prepared. */
  final case class In(lonLat: Array[(Double, Double)], boxes: Array[(Double, Double, Double, Double)],
                      windows: Array[(Long, Long)], wkbs: Array[Array[Byte]],
                      probes: Array[Array[Byte]], cqls: Array[String])

  @volatile var sink: Long = 0L

  private val WarmupNs = 100000000L // 0.1 s
  private val TimedNs = 250000000L  // 0.25 s

  /** Nanoseconds per call of `f(i)` over the input indices. */
  private def nsPerOp(n: Int)(f: Int => Long): Double = {
    var acc = 0L
    def loop(budgetNs: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      var ops = 0L
      var i = 0
      while (System.nanoTime() - t0 < budgetNs) {
        acc += f(i)
        ops += 1
        i = if (i + 1 == n) 0 else i + 1
      }
      (ops, System.nanoTime() - t0)
    }
    loop(WarmupNs)
    val (ops, ns) = loop(TimedNs)
    sink += acc
    ns.toDouble / ops
  }

  def run(in: In): Map[String, Double] = {
    val week = BinnedTime.period("week")
    val geoms = in.wkbs.map(GeomOps.fromWkb)
    Map(
      "cells.cell_ns" -> nsPerOp(in.lonLat.length) { i =>
        val (x, y) = in.lonLat(i); Cells.cell(x, y, 9)
      },
      "cells.cover_bbox_ns" -> nsPerOp(in.boxes.length) { i =>
        val b = in.boxes(i); Cells.coverBBox(b._1, b._2, b._3, b._4, 9).length.toLong
      },
      "cells.z3_ranges_us" -> nsPerOp(in.boxes.length) { i =>
        val (t0, t1) = in.windows(i % in.windows.length)
        ZQuery.z3Ranges(in.boxes(i), t0, t1, week).map(_._2.size).sum.toLong
      } / 1000,
      "cells.xz_ranges_us" -> nsPerOp(in.boxes.length) { i =>
        val b = in.boxes(i); XZ2(12).ranges(b._1, b._2, b._3, b._4, 64).size.toLong
      } / 1000,
      "plans.cql_parse_us" -> nsPerOp(in.cqls.length) { i =>
        Cql.parse(in.cqls(i)).hashCode.toLong
      } / 1000,
      "plans.decide_us" -> nsPerOp(in.cqls.length) { i =>
        StrategyDecider.decide(in.cqls(i), "id", Set("name"), hasIdIndex = true).hashCode.toLong
      } / 1000,
      "geom.wkb_parse_ns" -> nsPerOp(in.wkbs.length) { i =>
        GeomOps.fromWkb(in.wkbs(i)).getNumPoints.toLong
      },
      "geom.intersects_prepared_ns" -> nsPerOp(geoms.length) { i =>
        if (GeomCache.prep(in.probes(i % in.probes.length)).intersects(geoms(i))) 1L else 0L
      })
  }

  /** CQL filters a user would send for the given boxes and windows. */
  def cqls(boxes: Seq[(Double, Double, Double, Double)], windows: Seq[(Long, Long)]): Array[String] =
    boxes.zipWithIndex.map { case ((x0, y0, x1, y1), i) =>
      val b = s"BBOX(geom, $x0, $y0, $x1, $y1)"
      if (i % 2 == 0) b
      else {
        val (t0, t1) = windows(i % windows.size)
        s"$b AND dtg DURING ${java.time.Instant.ofEpochMilli(t0)}/${java.time.Instant.ofEpochMilli(t1)}"
      }
    }.toArray

  /** Sample `n` rows of the given columns from a frame, seeded. */
  def sample(df: DataFrame, n: Int, seed: Long, cols: String*): Array[org.apache.spark.sql.Row] =
    df.select(cols.map(col): _*).orderBy(xxhash64(lit(seed), col(cols.head))).limit(n).collect()
}

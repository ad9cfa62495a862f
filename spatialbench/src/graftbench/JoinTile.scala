package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.io.WKBReader

import graft.operators.{BoxOps, SpatialJoin}
import graft.table.SpatialTable

/** join_tile: the flagship pipeline over seeded image footprints in
  * batches. Each batch runs the codegen box path (intersects join at
  * res 7 against the zones, res-9 tiles, res-7 density) and the WKB/JTS
  * path (polygonal footprints x polygonal zones through
  * `SpatialJoin.intersects`). The 2,000 zones fit in GeomCache's 4,096
  * entries per thread, so the WKB refine is the cache-hit case. The timed
  * loop never touches the table layer; the pipeline's final step, which
  * publishes one batch of footprints to a point table, runs after it. */
object JoinTile {
  val Footprints = 60000L
  val Batches = 5
  val Zones = 2000
  val JoinRes = 7
  val TileRes = 9
  val DensityRes = 7
  val Setups = 3
  val SampleRows = 400
  val PublishWrites = 2

  final class Batch(val boxes: DataFrame, val polys: DataFrame, val features: Long)

  private val BoxCols = ("fxmin", "fymin", "fxmax", "fymax")
  private val ZoneCols = ("zxmin", "zymin", "zxmax", "zymax")

  private def boxJoin(b: DataFrame, zones: DataFrame): DataFrame =
    BoxOps.intersectsJoin(b, BoxCols, zones, ZoneCols, res = JoinRes, broadcastRight = true, maxCells = 256)
  private def tiles(b: DataFrame): DataFrame = BoxOps.tiles(b, "fxmin", "fymin", "fxmax", "fymax", TileRes)
  private def density(b: DataFrame): DataFrame = BoxOps.density(b, "fxmin", "fymin", "fxmax", "fymax", DensityRes)
  private def wkbJoin(p: DataFrame, zonePolys: DataFrame): DataFrame =
    SpatialJoin.intersects(p, "footprint", zonePolys, "z_geom", res = JoinRes, broadcastRight = true)

  /** The four timed actions of one batch, each an all-column digest. */
  private def stages(b: Batch, zones: DataFrame, zonePolys: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "box_join" -> (() => boxJoin(b.boxes, zones)),
    "tiles" -> (() => tiles(b.boxes)),
    "density" -> (() => density(b.boxes)),
    "wkb_join" -> (() => wkbJoin(b.polys, zonePolys)))

  private val Guards = Map(
    "box_join" -> Seq("generate", "join", "refine:fxmin", "aggregate"),
    "tiles" -> Seq("generate", "aggregate"),
    "density" -> Seq("generate", "aggregate"),
    "wkb_join" -> Seq("generate", "join", "refine:intersectswkb", "aggregate"))

  /** Morton-interleaved tile id (res << 58 | z), written out here so the
    * tile oracle does not share code with the engine. */
  private def tileId(res: Int, ix: Long, iy: Long): Long = {
    var z = 0L
    var i = 0
    while (i < res) {
      z |= ((ix >>> i) & 1L) << (2 * i)
      z |= ((iy >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    (res.toLong << 58) | z
  }
  /** Grid column and row of a coordinate column at `res`, in plain SQL. */
  private def ix(c: String, res: Int) =
    least(lit((1L << res) - 1), greatest(lit(0L), floor((col(c) + 180.0) / 360.0 * (1L << res))))
  private def iy(c: String, res: Int) =
    least(lit((1L << res) - 1), greatest(lit(0L), floor((col(c) + 90.0) / 180.0 * (1L << res))))
  private def gx(x: Double, res: Int): Long = math.min((1L << res) - 1, math.max(0L, math.floor((x + 180) / 360 * (1L << res)).toLong))
  private def gy(y: Double, res: Int): Long = math.min((1L << res) - 1, math.max(0L, math.floor((y + 90) / 180 * (1L << res)).toLong))

  def run(ctx: Ctx): Outcome = {
    val s = ctx.spark
    import s.implicits._

    def generate(): (Seq[Batch], DataFrame, DataFrame, DataFrame, DataFrame) = {
      val fp = Util.cached(ctx.in.footprints(Footprints, Batches))
      val polys = Util.cached(ctx.in.polygons(fp))
      val zones = Util.cached(ctx.in.zones(Zones))
      val zonePolys = Util.cached(ctx.in.zonePolygons(zones))
      val sizes = fp.groupBy("batch").count().as[(Int, Long)].collect().toMap
      val polySizes = polys.groupBy("batch").count().as[(Int, Long)].collect().toMap
      val batches = (0 until Batches).map { i =>
        new Batch(fp.where(col("batch") === i), polys.where(col("batch") === i),
          sizes.getOrElse(i, 0L) + polySizes.getOrElse(i, 0L))
      }
      (batches, zones, zonePolys, fp, polys)
    }
    def drop(g: (Seq[Batch], DataFrame, DataFrame, DataFrame, DataFrame)): Unit =
      Seq(g._2, g._3, g._4, g._5).foreach(_.unpersist(true))
    val ((batches, zones, zonePolys, _, _), setupS) = Util.setUps(Setups)(generate())(drop)
    ctx.note(s"set-up ${setupS.map(t => f"$t%.2f").mkString(" ")} s")

    // warm-up on batch 0: JIT and the plan guard
    stages(batches.head, zones, zonePolys).foreach { case (name, mk) =>
      ctx.op(s"warm-up $name") {
        val (d, _) = Util.digest(mk())
        ctx.guard(name, d, Guards(name): _*)
      }
    }
    // the first timed run of a batch records its digests; every later run
    // of the same batch must reproduce them
    val ref = scala.collection.mutable.Map.empty[(Int, String), (Long, Long)]

    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    // closed loop over the given batches
    def loop(its: Seq[Int]): Seq[(Int, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      for (i <- its) {
        val t0 = Util.now()
        Trace.span("pipeline") {
          stages(batches(i), zones, zonePolys).foreach { case (name, mk) =>
            ctx.op(s"$name batch $i") {
              val got = Trace.span(s"operators.$name")(Util.digest(mk())._2)
              if (Trace.on && name.endsWith("join")) pairs += ((i, name, got._1))
              val want = ref.getOrElseUpdate((i, name), got)
              ctx.check(s"$name batch $i digest $got, first run $want", got == want)
            }
          }
        }
        out += ((i, Util.secs(t0)))
      }
      out.toSeq
    }
    // --seconds sets the work: whole passes over the batches, one pass per
    // 6 s; a traced run times half a pass, then replays it traced
    val work = Seq.fill(math.ceil(ctx.seconds / 6).toInt.max(1))(0 until Batches).flatten
    val untraced = loop(if (ctx.trace) work.take(Batches / 2) else work)
    val traced =
      if (!ctx.trace) Nil
      else { Trace.on = true; try loop(untraced.map(_._1)) finally Trace.on = false }

    ctx.note(s"${untraced.size} untraced iterations, ${traced.size} traced")
    // oracles on a seeded sample, outside the timed region
    val sample = Util.cached(batches.map(_.boxes).reduce(_ union _)
      .orderBy(xxhash64(lit(ctx.seed), col("image_id"))).limit(SampleRows))
    ctx.op("box join oracle") {
      val got = boxJoin(sample, zones).select("image_id", "zone_id").as[(Long, Long)].collect().toSet
      val want = sample.join(zones, col("fxmin") <= col("zxmax") && col("fxmax") >= col("zxmin") &&
        col("fymin") <= col("zymax") && col("fymax") >= col("zymin"))
        .select("image_id", "zone_id").as[(Long, Long)].collect().toSet
      ctx.check(s"box join sample: ${got.size} pairs, oracle ${want.size}", got == want)
    }
    ctx.op("tiles oracle") {
      val got = tiles(sample).select("image_id", "tile").as[(Long, Long)].collect()
      val want = sample.select("image_id", "fxmin", "fymin", "fxmax", "fymax").collect().flatMap { r =>
        for (ix <- gx(r.getDouble(1), TileRes) to gx(r.getDouble(3), TileRes);
             iy <- gy(r.getDouble(2), TileRes) to gy(r.getDouble(4), TileRes))
          yield (r.getLong(0), tileId(TileRes, ix, iy))
      }
      ctx.check(s"tiles sample: ${got.length} rows, oracle ${want.length}",
        got.length == want.length && got.toSet == want.toSet)
    }
    ctx.op("density oracle") {
      val b = batches.head.boxes
      val got = density(b).agg(sum("n")).as[Long].head()
      val r = DensityRes
      val want = b.agg(sum(((ix("fxmax", r) - ix("fxmin", r) + 1) * (iy("fymax", r) - iy("fymin", r) + 1))
        .cast("long"))).as[Long].head()
      ctx.check(s"density batch 0: $got covers, oracle $want", got == want)
    }
    ctx.op("wkb join oracle") {
      val ps = batches.map(_.polys).reduce(_ union _)
        .orderBy(xxhash64(lit(ctx.seed), col("image_id"))).limit(SampleRows / 2).cache()
      val got = wkbJoin(ps, zonePolys).select("image_id", "zone_id").as[(Long, Long)].collect().toSet
      val rd = new WKBReader()
      val zs = zonePolys.collect().map(r => (r.getLong(0), rd.read(r.getAs[Array[Byte]](1))))
      val want = ps.select("image_id", "footprint").collect().flatMap { r =>
        val g = rd.read(r.getAs[Array[Byte]](1))
        zs.collect { case (z, zg) if g.intersects(zg) => (r.getLong(0), z) }
      }.toSet
      ps.unpersist()
      ctx.check(s"wkb join sample: ${got.size} pairs, oracle ${want.size}", got == want)
    }
    sample.unpersist()

    ctx.note("oracles done")
    // the pipeline's last step: publish batch 0 to a point table
    val root = s"${ctx.work}/join_tile_table"
    def asPoints(df: DataFrame) = df.select(format_string("f%09d", col("image_id")).as("id"),
      ((col("fxmin") + col("fxmax")) / 2).as("lon"), ((col("fymin") + col("fymax")) / 2).as("lat"),
      col("fxmin"), col("fymin"), col("fxmax"), col("fymax"))
    val first = asPoints(batches.head.boxes)
    val writes = (0 until PublishWrites).map { k =>
      Util.timed(Trace.span("table.write")(
        SpatialTable.write(s, first, s"$root$k", "s0", "id", "lon", "lat", prefixRes = 2, salts = 1,
          partitions = ctx.cores * 2)))._2
    }
    val writeS = Util.median(writes)
    ctx.op("published table") {
      val got = Util.digest(SpatialTable.read(s, s"${root}0", "s0").select(first.columns.map(col): _*))._2
      val want = Util.digest(first)._2
      ctx.check(s"published table $got, source $want", got == want)
    }
    val rows = batches.head.boxes.count().toDouble
    // the write is the pipeline's one commit, repeated for a median
    val pubE2e = Map(
      "ingest_rows_per_s" -> rows / writeS,
      "commit_p50_s" -> writeS,
      "storage_bytes_per_row" -> Util.duBytes(s, s"${root}0") / rows)
    ctx.note(f"published: write $writeS%.2f s")
    val lat = untraced.map(_._2)
    val feats = untraced.map { case (i, _) => batches(i).features.toDouble }.sum
    val e2e = Map(
      "setup_s" -> (ctx.sessionS + Util.median(setupS)),
      "features_per_s" -> feats / lat.sum,
      "query_p50_ms" -> Util.median(lat) * 1000,
      "query_p90_ms" -> Util.quantile(lat, 0.9) * 1000) ++ pubE2e

    val layer =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val ops = Seq("box_join", "tiles", "density", "wkb_join")
        val pipes = Trace.named("pipeline")
        ops.map(o => s"operators.${o}_s" -> Util.median(Trace.named(s"operators.$o").map(_.ms / 1000))).toMap ++ Map(
          "operators.join_candidates_per_pair" -> {
            val cand = pairs.map { case (i, name, _) =>
              if (name == "box_join") candidates(batches(i).boxes, BoxCols, zones, ZoneCols)
              else candidates(batches(i).polys, ("x0", "y0", "x1", "y1"), zones, ZoneCols)
            }.sum
            cand.toDouble / math.max(1L, pairs.map(_._3).sum)
          },
          "exec.shuffle_bytes" -> Util.mean(pipes.map(_("shuffle_bytes").toDouble)),
          "exec.spill_bytes" -> Util.mean(pipes.map(_("spill_bytes").toDouble)),
          "exec.gc_ms" -> Util.mean(pipes.map(_("gc_ms").toDouble)),
          "exec.jobs_per_query" -> Util.mean(pipes.map(_("jobs").toDouble)),
          "exec.tasks_per_query" -> Util.mean(pipes.map(_("tasks").toDouble)),
          "trace.overhead_pct" -> (traced.map(_._2).sum / untraced.map(_._2).sum - 1) * 100) ++
          Map("table.write_s" -> writeS) ++ Kernels.run(kernelInputs(ctx, batches, zonePolys))
      }
    ctx.outcome(e2e, layer)
  }

  /** Candidate pairs of the cell equi-join: for every res-7 cell, the
    * boxes covering it on each side multiplied, over the boxes within the
    * 256-cell cover budget. Counted in plain SQL, because the engine fuses
    * the refine into the join condition, so the join node's row count in
    * the executed plan is already the refined count. */
  private def candidates(left: DataFrame, lb: (String, String, String, String),
                         right: DataFrame, rb: (String, String, String, String)): Long = {
    val r = JoinRes
    def cells(df: DataFrame, b: (String, String, String, String), k: String) =
      df.where((ix(b._3, r) - ix(b._1, r) + 1) * (iy(b._4, r) - iy(b._2, r) + 1) <= 256)
        .select(explode(sequence(ix(b._1, r), ix(b._3, r))).as("cx"), iy(b._2, r).as("y0"), iy(b._4, r).as("y1"))
        .select(col("cx"), explode(sequence(col("y0"), col("y1"))).as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as(k))
    cells(left, lb, "l").join(cells(right, rb, "r"), Seq("cx", "cy"))
      .agg(coalesce(sum(col("l") * col("r")), lit(0L))).head().getLong(0)
  }

  def kernelInputs(ctx: Ctx, batches: Seq[Batch], zonePolys: DataFrame): Kernels.In = {
    val rows = Kernels.sample(batches.head.boxes, 4096, ctx.seed, "image_id", "fxmin", "fymin", "fxmax", "fymax")
    val boxes = rows.map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val t0 = ctx.in.T0
    val windows = Array.tabulate(64)(i => (t0 + i * 3600000L * 11, t0 + i * 3600000L * 11 + 86400000L * (1 + i % 7)))
    Kernels.In(
      lonLat = boxes.map(b => ((b._1 + b._3) / 2, (b._2 + b._4) / 2)),
      boxes = boxes,
      windows = windows,
      wkbs = Kernels.sample(batches.head.polys, 2048, ctx.seed, "footprint").map(_.getAs[Array[Byte]](0)),
      probes = zonePolys.select("z_geom").collect().map(_.getAs[Array[Byte]](0)),
      cqls = Kernels.cqls(boxes.take(512).toSeq, windows.toSeq))
  }
}

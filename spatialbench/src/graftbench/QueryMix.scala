package graftbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Geometry, GeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKTReader}

import graft.operators.KnnJoin
import graft.table.{GeomTable, SpatialTable}

/** query_mix: a timed build of a temporal point table (with id and
  * attribute indexes) and a temporal extent table, then one client runs a
  * closed loop of seeded queries of seven kinds against the built
  * snapshot, with a chain of scoped commits between the rounds. Most of
  * the query time goes to driver-side planning in the table layer;
  * `extent_cql` parses every stored WKB, so it is the cache-miss case. */
object QueryMix {
  val Points = 30000L
  val Extents = 8000L
  val K = 10
  val Setups = 3
  val Partitions = 4
  val Kinds = Seq("bbox", "bbox_time", "attr_bbox", "id", "knn", "extent_bbox_time", "extent_cql")
  /** One round of the loop: the three slow kinds once, the four fast ones
    * three times each. The fast kinds then hold the middle of the latency
    * distribution, so the median falls inside one dense group of samples
    * and not in the gap between the fast and the slow kinds. */
  val Round = Seq("bbox", "attr_bbox", "id", "extent_bbox_time", "extent_cql", "bbox_time",
    "attr_bbox", "id", "extent_bbox_time", "extent_cql", "knn", "attr_bbox", "id", "extent_bbox_time", "extent_cql")

  /** One seeded query. Boxes are (x0, y0, x1, y1); times are millis,
    * interval [t0, t1). */
  final case class Q(qid: Int, kind: String, box: (Double, Double, Double, Double),
                     t0: Long, t1: Long, name: String, ids: Seq[String],
                     poly: String) {
    private def iso(ms: Long) = Instant.ofEpochMilli(ms).toString
    private def bboxCql = s"BBOX(geom, ${box._1}, ${box._2}, ${box._3}, ${box._4})"
    def cql: String = kind match {
      case "bbox" => bboxCql
      // DURING is strict on both ends
      case "bbox_time" => s"$bboxCql AND dtg DURING ${iso(t0 - 1)}/${iso(t1)}"
      case "attr_bbox" => s"name = '$name' AND $bboxCql"
      case "id" => ids.map(i => s"'$i'").mkString("IN (", ", ", ")")
      case "extent_cql" => s"INTERSECTS(geom, $poly)"
      case _ => ""
    }
  }

  def queries(ctx: Ctx, n: Int): IndexedSeq[Q] = {
    val rng = new scala.util.Random(ctx.seed * 31 + 7)
    val hs = ctx.in.hotspots
    def center(): (Double, Double) = {
      val h = hs((math.pow(rng.nextDouble(), 2) * hs.size).toInt)
      (h._1 + rng.nextGaussian() * h._3, h._2 + rng.nextGaussian() * h._3)
    }
    // each kind asks a box of one size, and every time window is a week:
    // the seed draws where and when, so a run's few queries of a kind cost
    // about the same on every seed
    def box(side: Double) = {
      val (x, y) = center()
      (math.max(-180, x - side / 2), math.max(-90, y - side / 2), math.min(180, x + side / 2), math.min(90, y + side / 2))
    }
    def window() = {
      val hourMs = 3600000L
      val len = 7 * 24 * hourMs
      val t0 = ctx.in.T0 + (rng.nextDouble() * (ctx.in.WindowMs - len) / hourMs).toLong * hourMs
      (t0, t0 + len)
    }
    (0 until n).map { i =>
      val kind = Round(i % Round.size)
      val (t0, t1) = window()
      kind match {
        case "bbox" => Q(i, kind, box(0.2), 0, 0, "", Nil, "")
        case "bbox_time" => Q(i, kind, box(1.0), t0, t1, "", Nil, "")
        case "attr_bbox" => Q(i, kind, box(2.8), 0, 0, s"n${rng.nextInt(40)}", Nil, "")
        case "id" =>
          Q(i, kind, (0, 0, 0, 0), 0, 0, "", Seq.fill(1 + rng.nextInt(5))(f"p${rng.nextInt(Points.toInt)}%09d"), "")
        case "knn" =>
          // near a hotspot centre, so every seed asks about equally dense places
          val h = hs(rng.nextInt(hs.size / 2))
          val (x, y) = (h._1 + 0.1 * rng.nextGaussian() * h._3, h._2 + 0.1 * rng.nextGaussian() * h._3)
          Q(i, kind, (x, y, x, y), 0, 0, "", Nil, "")
        case "extent_bbox_time" => Q(i, kind, box(0.6), t0, t1, "", Nil, "")
        case "extent_cql" =>
          val b = box(0.6)
          val (x0, y0, x1, y1) = b
          val u = Seq.fill(4)(0.15 + 0.7 * rng.nextDouble())
          val pts = Seq((x0 + (x1 - x0) * u(0), y0), (x1, y0 + (y1 - y0) * u(1)),
            (x0 + (x1 - x0) * u(2), y1), (x0, y0 + (y1 - y0) * u(3)), (x0 + (x1 - x0) * u(0), y0))
          Q(i, kind, b, 0, 0, "", Nil, pts.map { case (a, c) => f"$a%.9f $c%.9f" }.mkString("POLYGON ((", ", ", "))"))
      }
    }
  }

  final class Tables(val points: String, val extents: String)

  /** Writes the point table (temporal layout, id and attribute indexes)
    * and the temporal extent table. Returns the time of each commit. */
  def build(ctx: Ctx, root: String, pts: DataFrame, exts: DataFrame): (Tables, Seq[Double]) = {
    val s = ctx.spark
    val t = new Tables(s"$root/points", s"$root/extents")
    def commit(span: String)(body: => Unit): Double = Util.timed(Trace.span(span)(body))._2
    val commits = Seq(
      commit("table.write")(SpatialTable.writeTemporal(s, pts, t.points, "s1", "id", "lon", "lat", "dtg",
        period = "month", prefixRes = 3, salts = 2, partitions = Partitions)),
      commit("table.index")(SpatialTable.writeIdIndex(s, t.points, "s1", "id", buckets = 8)),
      commit("table.index")(SpatialTable.writeAttributeIndex(s, t.points, "s1", "name", buckets = 8)),
      commit("table.write")(GeomTable.write(s, exts, t.extents, "s1", "geom", Some("dtg"),
        period = "month", partitions = Partitions, chunkRes = 2)))
    (t, commits)
  }

  /** Runs one query: the call until its DataFrame returns (planning),
    * then collecting every row and column (execution). */
  def runQuery(ctx: Ctx, t: Tables, q: Q): (Array[Row], DataFrame) = {
    val s = ctx.spark
    Trace.span(s"query.${q.kind}") {
      val df = Trace.span("plan") {
        q.kind match {
          case "bbox" | "bbox_time" | "attr_bbox" | "id" =>
            SpatialTable.queryPlanned(s, t.points, "s1", q.cql)
          case "knn" =>
            val qs = s.range(1).select(lit(q.qid).as("qid"), lit(q.box._1).as("qlon"), lit(q.box._2).as("qlat"))
            KnnJoin.forTable(s, t.points, "s1", "lon", "lat", qs, "qid", "qlon", "qlat", K, res = 9)
          case "extent_bbox_time" =>
            GeomTable.readBBoxTime(s, t.extents, "s1", q.box._1, q.box._2, q.box._3, q.box._4, q.t0, q.t1)
          case "extent_cql" => GeomTable.queryCql(s, t.extents, "s1", q.cql)
        }
      }
      (Trace.span("exec")(df.collect()), df)
    }
  }

  /** Ids each query must return, from a full scan of the generated
    * source with plain predicates (no engine index or pruning path). */
  def oracle(ctx: Ctx, pts: DataFrame, exts: Array[(String, Geometry, Long)],
             qs: Seq[Q]): Map[Int, Set[String]] = {
    import ctx.spark.implicits._
    val pq = qs.filter(q => Set("bbox", "bbox_time", "attr_bbox", "id")(q.kind))
      .map(q => (q.qid, q.kind, q.box._1, q.box._2, q.box._3, q.box._4, q.t0, q.t1, q.name, q.ids))
      .toDF("qid", "kind", "qx0", "qy0", "qx1", "qy1", "qt0", "qt1", "qname", "qids")
    val inBox = col("lon").between(col("qx0"), col("qx1")) && col("lat").between(col("qy0"), col("qy1"))
    val ms = unix_millis(col("dtg"))
    val pred = when(col("kind") === "bbox", inBox)
      .when(col("kind") === "bbox_time", inBox && ms >= col("qt0") && ms < col("qt1"))
      .when(col("kind") === "attr_bbox", inBox && col("name") === col("qname"))
      .otherwise(array_contains(col("qids"), col("id")))
    val pointHits = pts.join(broadcast(pq), pred).select("qid", "id").as[(Int, String)].collect()

    // kNN: exact haversine distance to every point, ROW_NUMBER per query
    val kq = qs.filter(_.kind == "knn").map(q => (q.qid, q.box._1, q.box._2)).toDF("qid", "qlon", "qlat")
    val rad = math.Pi / 180
    val hav = pow(sin((col("lat") - col("qlat")) * rad / 2), 2) +
      cos(col("lat") * rad) * cos(col("qlat") * rad) * pow(sin((col("lon") - col("qlon")) * rad / 2), 2)
    val ranked = pts.join(broadcast(kq), lit(true))
      .withColumn("d", asin(sqrt(hav)))
      .withColumn("rn", row_number().over(Window.partitionBy("qid").orderBy("d", "id")))
      .where(col("rn") <= K)
      .select("qid", "id").as[(Int, String)].collect()

    val reader = new WKTReader()
    val gf = new GeometryFactory()
    val extHits = qs.filter(_.kind.startsWith("extent")).map { q =>
      val g =
        if (q.kind == "extent_cql") reader.read(q.poly)
        else gf.toGeometry(new org.locationtech.jts.geom.Envelope(q.box._1, q.box._3, q.box._2, q.box._4))
      val timed = q.kind == "extent_bbox_time"
      q.qid -> exts.collect {
        case (id, eg, ms) if (!timed || (ms >= q.t0 && ms < q.t1)) && eg.intersects(g) => id
      }.toSet
    }
    (pointHits ++ ranked).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet } ++ extHits
  }

  def kernelInputs(ctx: Ctx, pts: DataFrame, exts: DataFrame, qs: Seq[Q]): Kernels.In = {
    val spatial = qs.filter(q => q.kind != "id" && q.kind != "knn")
    val timed = qs.filter(_.t1 > 0)
    Kernels.In(
      lonLat = Kernels.sample(pts, 4096, ctx.seed, "lon", "lat").map(r => (r.getDouble(0), r.getDouble(1))),
      boxes = spatial.map(_.box).toArray,
      windows = timed.map(q => (q.t0, q.t1)).toArray,
      wkbs = Kernels.sample(exts, 2048, ctx.seed, "geom").map(_.getAs[Array[Byte]](0)),
      probes = qs.filter(_.kind == "extent_cql").map(q =>
        graft.geom.GeomOps.toWkb(graft.geom.GeomOps.fromWkt(q.poly))).toArray,
      cqls = qs.map(_.cql).filter(_.nonEmpty).toArray)
  }

  def run(ctx: Ctx): Outcome = {
    val s = ctx.spark
    // set-up: generation, repeated for a median, then the table build,
    // which is also the ingest being measured
    val ((pts, exts), genS) = Util.setUps(Setups)(
      (Util.cached(ctx.in.points(Points)), Util.cached(ctx.in.extents(Extents)))) { g =>
      g._1.unpersist(true); g._2.unpersist(true)
    }
    val root = s"${ctx.work}/query_mix"
    Trace.on = ctx.trace
    val (tables, commits) = try build(ctx, root, pts, exts) finally Trace.on = false
    ctx.note(s"generation ${genS.map(t => f"$t%.2f").mkString(" ")} s, commits ${commits.map(x => f"$x%.2f").mkString(" ")} s")

    val qs = queries(ctx, 1000)
    // closed loop: one client, next query after the previous returns; the
    // first query of each kind also passes the plan guard, after its timing
    def timedQuery(q: Q, traced: Boolean): Option[(Q, Double, Array[Row])] = {
      Trace.on = traced
      try ctx.op(s"query ${q.qid} ${q.kind}${if (traced) " traced" else ""}") {
        val ((r, df), ms) = Util.timed(runQuery(ctx, tables, q))
        if (q.qid < Round.size && !traced) q.kind match {
          case "knn" => ctx.guard(q.kind, df, "join", "scan")
          case "extent_cql" => ctx.guard(q.kind, df, "refine:intersects", "scan")
          case _ => ctx.guard(q.kind, df, "pushed_scan")
        }
        (q, ms * 1000, r)
      } finally Trace.on = false
    }
    // --seconds sets the work: whole rounds, one round per 2.5 s, so every
    // run holds the same mix of kinds. The first round runs on a cold JVM;
    // the per-kind medians keep it from setting the figures. The queries always read snapshot s1, while the commit chain
    // writes new snapshots on top: its seven commits are spread evenly
    // after the rounds, so queries and commits both sample the whole run.
    // A traced run holds half the rounds and runs every query twice in a
    // row, untraced and traced, in turns first, and traces the commits.
    val rounds = math.ceil(ctx.seconds / 2.5 / (if (ctx.trace) 2 else 1)).toInt.max(1)
    val chain = new CommitChain(ctx, tables.points, tables.extents, "s1", pts, exts)
    val untracedB = scala.collection.mutable.ArrayBuffer.empty[(Q, Double, Array[Row])]
    val tracedB = scala.collection.mutable.ArrayBuffer.empty[(Q, Double, Array[Row])]
    qs.take(Round.size * rounds).grouped(Round.size).zipWithIndex.foreach { case (rq, r) =>
      rq.foreach { q =>
        if (ctx.trace && q.qid % 2 == 1) tracedB ++= timedQuery(q, traced = true)
        untracedB ++= timedQuery(q, traced = false)
        if (ctx.trace && q.qid % 2 == 0) tracedB ++= timedQuery(q, traced = true)
      }
      Trace.on = ctx.trace
      try CommitChain.Ops.indices.filter(i => i * rounds / CommitChain.Ops.size == r).foreach(chain.step)
      finally Trace.on = false
    }
    val untraced = untracedB.toSeq
    val traced = tracedB.toSeq
    ctx.note(s"${untraced.size} untraced queries, ${traced.size} traced")
    Kinds.foreach { k =>
      val ls = untraced.filter(_._1.kind == k).map(_._2)
      ctx.note(f"$k%-16s median ${Util.median(ls)}%8.1f ms: ${ls.map(x => f"$x%.0f").mkString(" ")}")
    }
    val chained = chain.finish()

    // query oracles, outside the timed region
    val extRows = {
      val rd = new WKBReader()
      exts.select("id", "geom", "dtg").collect().map(r =>
        (r.getString(0), rd.read(r.getAs[Array[Byte]](1)), r.getTimestamp(2).getTime))
    }
    val all = untraced ++ traced
    val expect = oracle(ctx, pts, extRows, all.map(_._1).distinct)
    all.foreach { case (q, _, rows) =>
      val got = rows.map(_.getAs[String]("id"))
      val want = expect.getOrElse(q.qid, Set.empty)
      ctx.check(s"query ${q.qid} ${q.kind}: ${got.length} rows, oracle ${want.size}",
        got.length == got.toSet.size && got.toSet == want)
    }
    ctx.note("oracles done")

    val lat = untraced.map(_._2)
    val kindMedians = Kinds.map(k => Util.median(untraced.filter(_._1.kind == k).map(_._2)))
    val nRows = (Points + Extents).toDouble
    val e2e = Map(
      "setup_s" -> (ctx.sessionS + Util.median(genS) + commits.sum),
      // stored features each query answers over, per second of a round in
      // which every kind takes its median latency
      "features_per_s" -> nRows / (Util.mean(kindMedians) / 1000),
      "query_p50_ms" -> Util.median(lat),
      "query_p90_ms" -> Util.quantile(lat, 0.9),
      "ingest_rows_per_s" -> nRows / commits.sum,
      "commit_p50_s" -> Util.median(chain.commits.all.map(_.seconds).toSeq),
      "storage_bytes_per_row" -> chained.bytes / chained.liveRows)

    val layer =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val spans = Trace.named("query.")
        val filesIn = Map(
          "points" -> Util.parquetFiles(s, tables.points).toDouble,
          "extents" -> Util.parquetFiles(s, tables.extents).toDouble)
        val perKind = Kinds.flatMap { k =>
          val ks = spans.filter(_.name == s"query.$k")
          val kids = ks.map(Trace.children)
          def med(n: String) = Util.median(kids.flatMap(_.filter(_.name == n).map(_.ms)))
          Seq(s"table.plan_ms.$k" -> med("plan"), s"exec.exec_ms.$k" -> med("exec"))
        }
        val returned = traced.map(_._3.length.toDouble).sum
        val ratio = spans.map { sp =>
          val files = if (sp.name.startsWith("query.extent")) filesIn("extents") else filesIn("points")
          sp("files_read") / files
        }
        // each query ran untraced and traced in a row, in turns first: the
        // median of the pair ratios cancels the second run's warmer caches
        val tracedMs = traced.map(t => t._1.qid -> t._2).toMap
        val ratios = untraced.flatMap(u => tracedMs.get(u._1.qid).map(_ / u._2))
        perKind.toMap ++ chain.commits.layer() ++ Map(
          "table.fs_list_calls_per_query" -> Util.mean(spans.map(_("fs_list").toDouble)),
          "table.files_read_ratio" -> Util.mean(ratio),
          "table.rows_scanned_per_row_returned" -> spans.map(_("scan_rows").toDouble).sum / math.max(1.0, returned),
          "table.write_s" -> Trace.named("table.write").map(_.ms / 1000).sum,
          "table.index_build_s" -> Trace.named("table.index").map(_.ms / 1000).sum,
          "table.expire_s" -> chained.expireS,
          "exec.jobs_per_query" -> Util.mean(spans.map(_("jobs").toDouble)),
          "exec.tasks_per_query" -> Util.mean(spans.map(_("tasks").toDouble)),
          "exec.shuffle_bytes" -> Util.mean(spans.map(_("shuffle_bytes").toDouble)),
          "exec.spill_bytes" -> Util.mean(spans.map(_("spill_bytes").toDouble)),
          "exec.gc_ms" -> Util.mean(spans.map(_("gc_ms").toDouble)),
          "trace.overhead_pct" -> (Util.median(ratios) - 1) * 100) ++
          Kernels.run(kernelInputs(ctx, pts, exts, qs.take(400)))
      }
    ctx.outcome(e2e, layer)
  }
}

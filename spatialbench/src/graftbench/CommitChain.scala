package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.table.{GeomTable, SpatialTable}

/** Commits measured from outside the table layer: one record per
  * snapshot-producing call, with the rows it changed. */
final class Commits {
  final case class C(table: String, op: String, seconds: Double, changed: Long)
  val all = scala.collection.mutable.ArrayBuffer.empty[C]

  def apply[A](table: String, op: String, changed: Long)(body: => A): A = {
    val (a, t) = Util.timed(Trace.span(s"table.commit.$table.$op")(body))
    all += C(table, op, t, changed)
    a
  }

  /** Per-layer figures of the traced commits. */
  def layer(): Map[String, Double] = {
    val spans = Trace.named("table.commit.")
    if (spans.isEmpty) Map.empty
    else {
      val byName = spans.groupBy(_.name).map { case (n, ss) =>
        n.replace("table.commit.", "table.commit_s.") -> Util.median(ss.map(_.ms / 1000))
      }
      val changed = all.takeRight(spans.size).map(_.changed.toDouble).sum
      byName ++ Map(
        "table.jobs_per_commit" -> Util.mean(spans.map(_("jobs").toDouble)),
        "table.files_written_per_commit" -> Util.mean(spans.map(_("files_written").toDouble)),
        "table.bytes_written_per_changed_row" -> spans.map(_("bytes_written").toDouble).sum / math.max(1.0, changed))
    }
  }
}

/** The commit chain of query_mix: a seeded chain of scoped commits on
  * both tables (upsert, deleteWhere and updateWhere on small boxes, and
  * deleteIds on points), each followed by a read-your-write query, ending
  * with expireSnapshots. The chain starts at snapshot `from` of the point
  * table at `proot` and the extent table at `eroot`, whose rows are `pts`
  * and `exts`. A plain DataFrame model of the chain checks every read-back
  * and the final tables. */
final class CommitChain(ctx: Ctx, proot: String, eroot: String, from: String,
                        pts: DataFrame, exts: DataFrame) {
  import CommitChain._
  private val s = ctx.spark
  import s.implicits._

  val commits = new Commits
  // the mutation boxes are fixed, like the hotspots they sit on; the seed
  // draws the rows they hit
  private val rng = new scala.util.Random(17L)
  private var pModel = pts
  private var eModel = exts
  private var pSnap = from
  private var eSnap = from
  private val hs = ctx.in.hotspots

  private def smallBox(): (Double, Double, Double, Double) = {
    val h = hs((math.pow(rng.nextDouble(), 2) * hs.size).toInt)
    val x = h._1 + rng.nextGaussian() * h._3; val y = h._2 + rng.nextGaussian() * h._3
    val w = 0.1 + rng.nextDouble() * 0.4
    (x - w, y - w / 2, x + w, y + w / 2)
  }
  private def bboxCql(b: (Double, Double, Double, Double)) = s"BBOX(geom, ${b._1}, ${b._2}, ${b._3}, ${b._4})"
  private def pIn(b: (Double, Double, Double, Double)): Column =
    col("lon").between(b._1, b._3) && col("lat").between(b._2, b._4)
  private def eIn(b: (Double, Double, Double, Double)): Column =
    col("bx0") <= b._3 && col("bx1") >= b._1 && col("by0") <= b._4 && col("by1") >= b._2
  private def idsCql(ids: Seq[String]) = ids.map(i => s"'$i'").mkString("IN (", ", ", ")")
  private def sampleIds(m: DataFrame, n: Int, salt: Int): Seq[String] =
    m.select("id").orderBy(xxhash64(lit(ctx.seed + salt), col("id"))).limit(n).collect().map(_.getString(0)).toSeq
  // rows a commit changes, counted for the per-layer figures only
  private def changed(rows: DataFrame): Long = if (ctx.trace) rows.count() else 0L

  /** Read-your-write query, untimed: engine result ids against the model's. */
  private def readBack(what: String, q: () => DataFrame, model: DataFrame, pred: Column): Unit = {
    val rows = q().collect().map(_.getAs[String]("id"))
    val want = model.where(pred).select("id").collect().map(_.getString(0))
    ctx.check(s"$what read-your-write: ${rows.length} rows, model ${want.length}",
      rows.length == rows.toSet.size && rows.toSet == want.toSet)
  }

  /** Commits step `step` of the chain, `Ops(step)`, and reads it back. */
  def step(step: Int): Unit = {
    val op = Ops(step)
    val next = s"c${step + 1}"
    ctx.op(s"commit $step $op") {
      op match {
        case "point.upsert" =>
          val old = sampleIds(pModel, UpsertRows / 2, step)
          val upd = keep(pModel.where(col("id").isin(old: _*)).withColumn("score", col("score") + 1000)
            .unionByName(ctx.in.points(UpsertRows / 2, s"u$step").select(PointCols.map(col): _*)))
          commits("point", "upsert", UpsertRows)(SpatialTable.upsert(s, proot, pSnap, next, upd))
          pModel = pModel.join(upd.select("id"), Seq("id"), "left_anti").unionByName(upd)
          pSnap = next
          val probe = upd.select("id").orderBy("id").limit(5).collect().map(_.getString(0)).toSeq
          readBack(op, () => SpatialTable.queryPlanned(s, proot, pSnap, idsCql(probe)), pModel, col("id").isin(probe: _*))
        case "extent.upsert" =>
          val old = sampleIds(eModel, UpsertRows / 2, step)
          val upd = keep(eModel.where(col("id").isin(old: _*)).withColumn("kind", lit("upserted"))
            .unionByName(ctx.in.extents(UpsertRows / 2, s"v$step").select(ExtentCols.map(col): _*)))
          commits("extent", "upsert", UpsertRows)(GeomTable.upsert(s, eroot, eSnap, next, upd))
          eModel = eModel.join(upd.select("id"), Seq("id"), "left_anti").unionByName(upd)
          eSnap = next
          val probe = upd.select("id").orderBy("id").limit(5).collect().map(_.getString(0)).toSeq
          readBack(op, () => GeomTable.queryCql(s, eroot, eSnap, idsCql(probe)), eModel, col("id").isin(probe: _*))
        case "point.delete_where" =>
          val b = smallBox()
          val n = changed(pModel.where(pIn(b)))
          commits("point", "delete_where", n)(SpatialTable.deleteWhere(s, proot, pSnap, next, bboxCql(b)))
          pModel = pModel.where(!pIn(b))
          pSnap = next
          readBack(op, () => SpatialTable.queryPlanned(s, proot, pSnap, bboxCql(b)), pModel, pIn(b))
        case "extent.delete_where" =>
          val b = smallBox()
          val n = changed(eModel.where(eIn(b)))
          commits("extent", "delete_where", n)(GeomTable.deleteWhere(s, eroot, eSnap, next, bboxCql(b)))
          eModel = eModel.where(!eIn(b))
          eSnap = next
          readBack(op, () => GeomTable.readBBox(s, eroot, eSnap, b._1, b._2, b._3, b._4), eModel, eIn(b))
        case "point.update_where" =>
          val b = smallBox()
          val n = changed(pModel.where(pIn(b)))
          commits("point", "update_where", n)(SpatialTable.updateWhere(s, proot, pSnap, next, bboxCql(b),
            Map("score" -> (col("score") + 1))))
          pModel = pModel.withColumn("score", when(pIn(b), col("score") + 1).otherwise(col("score")))
          pSnap = next
          readBack(op, () => SpatialTable.queryPlanned(s, proot, pSnap, s"${bboxCql(b)} AND score > 0"),
            pModel, pIn(b) && col("score") > 0)
        case "extent.update_where" =>
          val b = smallBox()
          val n = changed(eModel.where(eIn(b)))
          commits("extent", "update_where", n)(GeomTable.updateWhere(s, eroot, eSnap, next, bboxCql(b),
            Map("kind" -> lit("updated"))))
          eModel = eModel.withColumn("kind", when(eIn(b), lit("updated")).otherwise(col("kind")))
          eSnap = next
          readBack(op, () => GeomTable.queryCql(s, eroot, eSnap, s"${bboxCql(b)} AND kind = 'updated'"),
            eModel, eIn(b) && col("kind") === "updated")
        case "point.delete_ids" =>
          val ids = sampleIds(pModel, DeleteIds, step)
          val idDf = keep(ids.toDF("id"))
          commits("point", "delete_ids", ids.size)(SpatialTable.deleteIds(s, proot, pSnap, next, idDf))
          pModel = pModel.join(idDf, Seq("id"), "left_anti")
          pSnap = next
          readBack(op, () => SpatialTable.queryPlanned(s, proot, pSnap, idsCql(ids.take(5))),
            pModel, col("id").isin(ids.take(5): _*))
      }
    }
  }

  /** Expires every snapshot but the last, then checks the final tables
    * against the model. */
  def finish(): Result = {
    ctx.note(s"${commits.all.size} commits: ${commits.all.map(c => f"${c.table}.${c.op}:${c.seconds}%.2f").mkString(" ")}")
    val (_, expireS) = Util.timed {
      SpatialTable.expireSnapshots(s, proot, Seq(pSnap))
      GeomTable.expireSnapshots(s, eroot, Seq(eSnap))
    }
    val live = (pModel.count() + eModel.count()).toDouble
    val bytes = (Util.duBytes(s, proot) + Util.duBytes(s, eroot)).toDouble

    // final tables against the model: count plus an all-column hash
    def same(what: String, table: DataFrame, model: DataFrame, cols: Seq[String]): Unit = ctx.op(what) {
      val got = Util.digest(table.select(cols.map(col): _*))._2
      val want = Util.digest(model.select(cols.map(col): _*))._2
      ctx.check(s"$what: table $got, model $want", got == want)
    }
    same("final point table", SpatialTable.read(s, proot, pSnap), pModel, PointCols)
    same("final extent table", GeomTable.read(s, eroot, eSnap), eModel, ExtentCols)
    Result(expireS, bytes, live)
  }
}

object CommitChain {
  val UpsertRows = 400
  val DeleteIds = 300
  val PointCols = Seq("id", "lon", "lat", "dtg", "name", "score")
  val ExtentCols = Seq("id", "geom", "dtg", "kind", "bx0", "by0", "bx1", "by1")
  val Ops = Seq("point.upsert", "extent.upsert", "point.delete_where", "extent.delete_where",
    "point.update_where", "extent.update_where", "point.delete_ids")

  /** What the chain leaves: the expiry time, and the bytes and rows of the
    * live snapshots after expiry. */
  final case class Result(expireS: Double, bytes: Double, liveRows: Double)

  private def keep(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }
}

package graft.table

import java.nio.file.Files

import graft.SparkTest
import graft.geom.GeomOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Differential proof of the index delta layers: seeded chains of
 * upserts, deletes by filter and by id, and updates (moves included) on
 * point tables (plain and temporal) and an extent table, each with an
 * `id` and a `name` index. After every commit each index read path
 * answers exactly what the same filter over the snapshot's own scan
 * answers — through self-contained layouts, deltas, tombstones and
 * folds — and so does the last snapshot after every other one expires.
 */
class IndexDeltaSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private val T0 = 1704067200000L
  private val Day = 86400000L

  private def newRoot(): String = Files.createTempDirectory("graft-idxdelta").toString

  /** A source row: id, name (null allowed), age, position, time. */
  private final case class R(id: String, name: String, age: Long, x: Double, y: Double, t: Long)

  private def baseRows(n: Int): Seq[R] = (0 until n).map { i =>
    R(f"p$i%03d", if (i % 11 == 0) null else s"n${i * i % 7 % 5}", i.toLong,
      -170.0 + (i * 37 % 340), -80.0 + (i * 13 % 160), T0 + (i % 60) * Day)
  }

  private val reader = new org.locationtech.jts.io.WKTReader()
  private def box(x: Double, y: Double): Array[Byte] = GeomOps.toWkb(reader.read(
    s"POLYGON(($x $y, ${x + 0.4} $y, ${x + 0.4} ${y + 0.3}, $x ${y + 0.3}, $x $y))"))

  /** One table kind: how to write it, commit to it and read it. */
  private final case class Kind(name: String, df: Seq[R] => DataFrame, build: (String, DataFrame) => Unit,
                                read: (String, String) => DataFrame,
                                indexRead: (String, String, String) => DataFrame,
                                byIds: (String, String, Seq[String]) => DataFrame,
                                byName: (String, String, String) => DataFrame,
                                extra: (String, String) => Seq[(String, DataFrame, (String, String) => Boolean)],
                                move: Map[String, Column],
                                upsert: (String, String, String, DataFrame) => Unit,
                                deleteWhere: (String, String, String, String) => Unit,
                                updateWhere: (String, String, String, String, Map[String, Column]) => Unit,
                                deleteIds: (String, String, String, DataFrame) => Unit,
                                expire: (String, String) => Unit)

  private def pointDf(rs: Seq[R]): DataFrame =
    rs.map(r => (r.id, r.name, r.age, r.x, r.y, new java.sql.Timestamp(r.t)))
      .toDF("id", "name", "age", "lon", "lat", "dtg")

  private def point(temporal: Boolean): Kind = Kind(if (temporal) "temporal point" else "point",
    pointDf,
    build = { (root, df) =>
      if (temporal) SpatialTable.writeTemporal(spark, df, root, "s0", "id", "lon", "lat", "dtg",
        period = "week", prefixRes = 2, salts = 2, partitions = 4)
      else SpatialTable.write(spark, df, root, "s0", "id", "lon", "lat",
        prefixRes = 2, salts = 2, partitions = 4)
      SpatialTable.writeIdIndex(spark, root, "s0", "id", buckets = 4)
      SpatialTable.writeAttributeIndex(spark, root, "s0", "name", buckets = 4)
    },
    read = (root, id) => SpatialTable.read(spark, root, id),
    indexRead = (root, id, a) =>
      SpatialTable.indexRead(spark, root, SpatialTable.manifestInfo(spark, root, id), a),
    byIds = (root, id, ids) => SpatialTable.readByIds(spark, root, id, "id", ids),
    byName = (root, id, v) => SpatialTable.readByAttribute(spark, root, id, "name", v),
    extra = (root, id) => Seq(
      ("ids by frame", SpatialTable.readByIdsDf(spark, root, id, "id", Seq("p001", "p011", "q2").toDF("id")),
        (i, _) => Set("p001", "p011", "q2")(i)),
      ("name range", SpatialTable.readAttributeRange(spark, root, id, "name", "n1", "n3"),
        (_, n) => n != null && n >= "n1" && n <= "n3"),
      ("planned name", SpatialTable.queryPlanned(spark, root, id, "name = 'n0'"), (_, n) => n == "n0"),
      ("planned ids", SpatialTable.queryPlanned(spark, root, id, "IN ('p001', 'p011', 'q2')"),
        (i, _) => Set("p001", "p011", "q2")(i))),
    move = Map("lon" -> (col("lon") + 40), "name" -> lit("n4")),
    upsert = (root, from, to, df) => SpatialTable.upsert(spark, root, from, to, df),
    deleteWhere = (root, from, to, cql) => SpatialTable.deleteWhere(spark, root, from, to, cql),
    updateWhere = (root, from, to, cql, sets) => SpatialTable.updateWhere(spark, root, from, to, cql, sets),
    deleteIds = (root, from, to, ids) => SpatialTable.deleteIds(spark, root, from, to, ids),
    expire = (root, id) => SpatialTable.expireSnapshots(spark, root, Seq(id)))

  private val extent: Kind = Kind("extent",
    rs => rs.map(r => (r.id, r.name, r.age, box(r.x, r.y), new java.sql.Timestamp(r.t)))
      .toDF("id", "name", "age", "geom", "dtg"),
    build = { (root, df) =>
      GeomTable.write(spark, df, root, "s0", "geom", Some("dtg"), period = "week",
        partitions = 4, chunkRes = 2)
      GeomTable.writeAttributeIndex(spark, root, "s0", "id", buckets = 4)
      GeomTable.writeAttributeIndex(spark, root, "s0", "name", buckets = 4)
    },
    read = (root, id) => GeomTable.read(spark, root, id),
    indexRead = (root, id, a) => GeomTable.indexRead(spark, root, GeomTable.ginfo(spark, root, id), a),
    byIds = (root, id, ids) => TableEngine.readByIds(spark, root, GeomTable.ginfo(spark, root, id),
      "id", ids, GeomTable.indexBuckets(spark, root, id, "id")),
    byName = (root, id, v) => GeomTable.readByAttribute(spark, root, id, "name", v),
    extra = (root, id) => Seq(
      ("format equality", spark.read.format("graft").option("snapshot", id).load(root)
        .where(col("name") === "n0"), (_, n) => n == "n0")),
    move = Map("geom" -> lit(box(100.0, 10.0)), "name" -> lit("n4")),
    upsert = (root, from, to, df) => GeomTable.upsert(spark, root, from, to, df),
    deleteWhere = (root, from, to, cql) => GeomTable.deleteWhere(spark, root, from, to, cql),
    updateWhere = (root, from, to, cql, sets) => GeomTable.updateWhere(spark, root, from, to, cql, sets),
    deleteIds = (root, from, to, ids) =>
      TableEngine.deleteIds(spark, root, TableEngine.source(spark, root, from, to), to, ids, "id"),
    expire = (root, id) => GeomTable.expireSnapshots(spark, root, Seq(id)))

  /** Every index read path of snapshot `id` against the same filter over
    * its scan: tag -> (got, want). The paths are collected by ONE job,
    * the scan by another and filtered on the driver. */
  private def paths(kind: Kind, root: String, id: String): Map[String, (Seq[String], Seq[String])] = {
    val all = kind.read(root, id)
    val cols = all.columns.toSeq
    val universe = ((0 until 300).map(i => f"p$i%03d") ++ (0 until 40).map(i => s"q$i")).toSet
    val few = Set("p001", "p002", "p011", "p022", "q0", "q1", "q2", "zz")
    val reads: Seq[(String, DataFrame, (String, String) => Boolean)] =
      Seq("id", "name").map(a => (s"index_$a", kind.indexRead(root, id, a), (_: String, _: String) => true)) ++
        Seq(("ids", kind.byIds(root, id, few.toSeq.sorted), (i: String, _: String) => few(i)),
          ("ids above the literal limit", kind.byIds(root, id, universe.toSeq.sorted),
            (i: String, _: String) => universe(i))) ++
        Seq("n1", "n2").map(v => (s"name $v", kind.byName(root, id, v), (_: String, n: String) => n == v)) ++
        kind.extra(root, id)
    def rendered(df: DataFrame) = to_json(struct(cols.map(df(_)): _*)).as("row")
    val got = reads.map { case (t, df, _) => df.select(lit(t).as("tag"), rendered(df)) }.reduce(_ unionByName _)
      .collect().groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).toSeq.sorted }
    val scan = all.select(col("id"), col("name"), rendered(all)).collect()
    reads.map { case (t, _, p) =>
      t -> (got.getOrElse(t, Nil), scan.filter(r => p(r.getString(0), r.getString(1))).map(_.getString(2)).toSeq.sorted)
    }.toMap
  }

  private def assertPaths(kind: Kind, root: String, id: String): Map[String, (Seq[String], Seq[String])] = {
    val got = paths(kind, root, id)
    got.foreach { case (t, (g, w)) => assert(g == w, s"${kind.name} $id: $t") }
    assert(got("index_id")._1.nonEmpty)
    got
  }

  /** The seeded chain: each step commits `from` -> `to`. It upserts the
    * same ids twice, deletes ids and re-inserts one, writes and clears
    * null names, moves rows, and runs long enough for buckets to fold. */
  private def chain(kind: Kind, seed: Long): Seq[(String, String, String) => Unit] = {
    val rng = new scala.util.Random(seed)
    def pick(n: Int): Seq[String] = Seq.fill(n)(f"p${rng.nextInt(160)}%03d").distinct
    def fresh(ids: Seq[String], name: String => String): DataFrame = kind.df(ids.map { id =>
      R(id, name(id), 1000L + rng.nextInt(100), -170.0 + rng.nextInt(340), -80.0 + rng.nextInt(160),
        T0 + rng.nextInt(60) * Day)
    })
    val fixed: Seq[(String, String, String) => Unit] = Seq(
      (root, from, to) => kind.upsert(root, from, to,
        fresh(Seq("p001", "p011", "p022", "q0", "q1"), {
          case "p022" | "q1" => null
          case _ => "n1"
        })),
      (root, from, to) => kind.deleteIds(root, from, to, Seq("p001", "p002", "q0").toDF("id")),
      // p001 comes back, p011 is upserted a second time
      (root, from, to) => kind.upsert(root, from, to,
        fresh(Seq("p001", "p011", "q2"), id => if (id == "p011") null else "n3")),
      (root, from, to) => kind.updateWhere(root, from, to, "name = 'n2' AND age < 60",
        Map("age" -> (col("age") + 1))),
      (root, from, to) => kind.updateWhere(root, from, to, "age >= 100 AND age < 106", kind.move),
      (root, from, to) => kind.deleteWhere(root, from, to, "name IS NULL AND age < 120"))
    val seeded: Seq[(String, String, String) => Unit] = (0 until 4).map { i =>
      rng.nextInt(4) match {
        case 0 => (root: String, from: String, to: String) =>
          kind.upsert(root, from, to, fresh(pick(4) :+ s"q${10 + i}", _ => s"n${rng.nextInt(5)}"))
        case 1 => (root: String, from: String, to: String) =>
          kind.deleteIds(root, from, to, pick(5).toDF("id"))
        case 2 => (root: String, from: String, to: String) =>
          kind.updateWhere(root, from, to, pick(4).map(id => s"'$id'").mkString("IN (", ", ", ")"),
            Map("name" -> lit(s"n${rng.nextInt(5)}")))
        case _ => (root: String, from: String, to: String) =>
          kind.updateWhere(root, from, to, s"age >= ${120 + 10 * i} AND age < ${124 + 10 * i}", kind.move)
      }
    }
    fixed ++ seeded
  }

  /** The tables are tiny: one shuffle partition keeps each commit and
    * read to a few small tasks. */
  private def runChain(kind: Kind, seed: Long): Unit = withOnePartition {
    val root = newRoot()
    kind.build(root, kind.df(baseRows(160)))
    assertPaths(kind, root, "s0")
    var deltas, folds = 0
    val steps = chain(kind, seed)
    steps.zipWithIndex.foreach { case (step, i) =>
      val (from, to) = (s"s$i", s"s${i + 1}")
      withClue(s"${kind.name} step $i: ") {
        step(root, from, to)
        assertPaths(kind, root, to)
        Seq("id", "name").foreach { a =>
          val before = Snapshots.indexLayout(spark, root, from, a).buckets
          val after = Snapshots.indexLayout(spark, root, to, a).buckets
          after.foreach {
            case (b, Snapshots.IndexBucket(_, Some(`to`), _)) =>
              deltas += 1
              val dir = new java.io.File(s"$root/index_$a/snapshot=$to/attr_bucket=$b")
              assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1, s"one delta file in $dir")
            case (b, Snapshots.IndexBucket(`to`, None, _)) if before.get(b).exists(_.delta.nonEmpty) =>
              folds += 1
            case _ =>
          }
        }
      }
    }
    assert(deltas > 0 && folds > 0, s"${kind.name}: $deltas deltas, $folds folds")
    // expiring all but the last snapshot keeps exactly what it reads
    val last = s"s${steps.size}"
    def closure(ids: Set[String]): Set[String] = {
      val next = ids ++ ids.flatMap(TableEngine.referencedSnapshots(spark, root, _))
      if (next == ids) ids else closure(next)
    }
    val kept = closure(Set(last))
    val before = paths(kind, root, last)
    kind.expire(root, last)
    assert(Snapshots.committed(spark, root).toSet == kept)
    assert(assertPaths(kind, root, last) == before, "reads after expiring every other snapshot")
  }

  private def withOnePartition[T](body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("point index reads equal the snapshot scan through deltas, tombstones and folds") {
    runChain(point(temporal = false), seed = 3)
  }

  test("temporal point index reads equal the snapshot scan through deltas, tombstones and folds") {
    runChain(point(temporal = true), seed = 5)
  }

  test("extent index reads equal the snapshot scan through deltas, tombstones and folds") {
    runChain(extent, seed = 7)
  }

  test("a scoped layout in the format without deltas reads, and takes deltas over it") {
    val kind = point(temporal = false)
    val root = newRoot()
    kind.build(root, kind.df(baseRows(160)))
    // a large delete folds every bucket it touches: the sidecar names
    // only base holders, the only shape scoped layouts had before deltas
    kind.deleteWhere(root, "s0", "s1", "age < 100")
    Seq("id", "name").foreach { a =>
      val text = new String(Files.readAllBytes(
        new java.io.File(Snapshots.indexSourcesPath(root, "s1", a)).toPath), "UTF-8")
      assert(text.matches("""\{"sources":\{("\d+":"s[01]",?)+\}\}"""), text)
    }
    assertPaths(kind, root, "s1")
    kind.upsert(root, "s1", "s2", kind.df(Seq(R("p150", "n0", 7L, 1.0, 1.0, T0), R("q9", null, 8L, 2.0, 2.0, T0))))
    kind.deleteIds(root, "s2", "s3", Seq("p151").toDF("id"))
    assert(Snapshots.indexLayout(spark, root, "s3", "id").buckets.values.exists(_.delta.nonEmpty))
    assertPaths(kind, root, "s2")
    assertPaths(kind, root, "s3")
  }
}

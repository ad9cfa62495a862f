package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTest

/**
 * File-granularity proof for the scoped mutation engine (VERDICT r3
 * "Next round" #1): a mutation rewrites ONLY the cell_prefix
 * directories holding matched rows; every untouched prefix is carried
 * into the new snapshot's manifest by reference — the new snapshot's
 * resolved scan reads the ORIGINAL physical files (not copies), the
 * new data directory contains only the touched prefixes, secondary
 * layouts rebuild only the affected attr_buckets, and chains of scoped
 * mutations stay flattened (one hop to the physical holder, never a
 * resolution walk).
 */
class MutationScopedSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Two far-apart clusters: mutations in the west must never touch the
    * east cluster's files. */
  private def twoClusters: org.apache.spark.sql.DataFrame = {
    val west = (0 until 40).map(i => (s"w$i", "west", i.toLong, -120.0 + i * 0.01, 35.0))
    val east = (0 until 40).map(i => (s"e$i", "east", i.toLong, 140.0 + i * 0.01, -20.0))
    (west ++ east).toDF("id", "name", "age", "lon", "lat")
  }

  private def dataDirs(root: String, snap: String): Set[String] = {
    val d = new java.io.File(s"$root/data/snapshot=$snap")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
  }

  private def filesUnder(root: String, snap: String, prefixDir: String): Set[String] = {
    val d = new java.io.File(s"$root/data/snapshot=$snap/$prefixDir")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
  }

  /** input_file_name() reports file: URIs; normalize to bare paths so
    * they compare against java.io.File listings. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(input_file_name().as("f")).distinct().as[String].collect()
      .map(_.replaceFirst("^file:/*", "/")).toSet

  test("delete rewrites only the matched prefixes; untouched prefixes resolve " +
    "to the ORIGINAL files by reference") {
    val root = freshRoot("graft_scope1")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    val s1Dirs = dataDirs(root, "s1")
    assert(s1Dirs.size >= 2, s"fixture needs >= 2 prefixes, got $s1Dirs")

    // delete part of the WEST cluster via a spatial predicate
    SpatialTable.deleteWhere(spark, root, "s1", "s2",
      "BBOX(geom, -121, 34, -119, 36) AND age < 10")

    // s2's own data directory holds ONLY the west prefixes
    val westPrefixes = SpatialTable.read(spark, root, "s1")
      .where($"lon" < 0).select("cell_prefix").distinct().as[Long].collect()
      .map(p => s"cell_prefix=$p").toSet
    val s2Dirs = dataDirs(root, "s2")
    assert(s2Dirs == westPrefixes, s"s2 rewrote $s2Dirs, expected only $westPrefixes")

    // untouched (east) prefixes: the resolved scan reads the ORIGINAL s1
    // files — identical physical paths, no copies
    val eastDirs = s1Dirs -- westPrefixes
    val s1EastFiles = eastDirs.flatMap(d => filesUnder(root, "s1", d))
    val readFiles = scannedFiles(SpatialTable.read(spark, root, "s2").where($"lon" > 0))
    assert(readFiles == s1EastFiles,
      s"east rows must come from s1's physical files:\n$readFiles\nvs\n$s1EastFiles")

    // row-level correctness
    assert(SpatialTable.read(spark, root, "s2").count() == 80 - 10)
    assert(SpatialTable.read(spark, root, "s2").where($"lon" > 0).count() == 40)
    // and the source snapshot is untouched (time travel)
    assert(SpatialTable.read(spark, root, "s1").count() == 80)
  }

  test("a spatially-scoped query over a scoped snapshot scans only the " +
    "covered prefix directories (pruning survives resolution)") {
    val root = freshRoot("graft_scope2")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.deleteWhere(spark, root, "s1", "s2",
      "BBOX(geom, -121, 34, -119, 36) AND age < 10")
    // an east-side bbox must read zero west files (inherited or not)
    val scanned = scannedFiles(
      SpatialTable.readBBox(spark, root, "s2", (139.0, -21.0, 142.0, -19.0)))
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => !f.contains("snapshot=s2/")),
      s"east prefixes are inherited from s1 — but scanned $scanned")
    val westPrefixDirs = SpatialTable.read(spark, root, "s1")
      .where($"lon" < 0).select("cell_prefix").distinct().as[Long].collect()
      .map(p => s"cell_prefix=$p").toSet
    assert(scanned.forall(f => !westPrefixDirs.exists(f.contains)),
      s"west directories scanned by an east query: $scanned")
  }

  test("update with geometry move pulls the target prefix into the rewrite " +
    "(mover closure) and never loses or duplicates the row") {
    val root = freshRoot("graft_scope3")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    // move one west row INTO the east cluster's prefix
    SpatialTable.updateWhere(spark, root, "s1", "s2", "IN ('w0')",
      Map("lon" -> lit(140.05), "lat" -> lit(-20.0)))
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 80)
    assert(s2.where($"id" === "w0").select("lon").as[Double].head() == 140.05)
    // the east prefix was rewritten (it gained the mover) — it is now
    // physically under s2, and its content = old east rows + w0
    val eastRows = s2.where($"lon" > 0)
    assert(eastRows.count() == 41)
    val scanned = scannedFiles(eastRows)
    assert(scanned.forall(_.contains("snapshot=s2/")),
      s"moved-into prefix must be rewritten under s2: $scanned")
  }

  test("upsert via the id index: small batches find old rows bucket-pruned, " +
    "and only the touched prefixes rewrite") {
    val root = freshRoot("graft_scope4")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeIdIndex(spark, root, "s1", "id", buckets = 4)
    // replace one west row in place + add one new east row
    val ups = Seq(
      ("w3", "west-upd", 99L, -120.0 + 3 * 0.01, 35.0),
      ("x1", "extra", 7L, 140.5, -20.0)).toDF("id", "name", "age", "lon", "lat")
    SpatialTable.upsert(spark, root, "s1", "s2", ups)
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 81)
    assert(s2.where($"id" === "w3").select("name").as[String].head() == "west-upd")
    // both clusters' prefixes were touched (w3 replaced, x1 added), so
    // this only checks totals + the id layout's delta rebuild:
    assert(SpatialTable.readByIds(spark, root, "s2", "id", Seq("w3", "x1")).count() == 2)
    assert(SpatialTable.readByIds(spark, root, "s2", "id", Seq("e5")).count() == 1)
  }

  test("index delta: only the affected attr_buckets are rewritten; the rest " +
    "inherit by reference") {
    val root = freshRoot("graft_scope5")
    // the untouched name must live in a DIFFERENT bucket than both the
    // old and new values of the rename — pick it by the same hash the
    // index uses, so the fixture premise holds by construction
    def bucketOf(v: String): Int = spark.sql(
      s"SELECT CAST(pmod(xxhash64('$v'), 8) AS INT)").collect().head.getInt(0)
    val touched = Set(bucketOf("west"), bucketOf("mid"))
    val eastName = (0 until 64).map(i => s"east$i")
      .find(n => !touched.contains(bucketOf(n))).get
    val rows = (0 until 40).map(i => (s"w$i", "west", i.toLong, -120.0 + i * 0.01, 35.0)) ++
      (0 until 40).map(i => (s"e$i", eastName, i.toLong, 140.0 + i * 0.01, -20.0))
    SpatialTable.write(spark, rows.toDF("id", "name", "age", "lon", "lat"),
      root, "s1", "id", "lon", "lat", res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 8)
    // renaming west rows touches only the buckets of 'west' (old) and
    // 'mid' (new)
    SpatialTable.updateWhere(spark, root, "s1", "s2", "name = 'west'",
      Map("name" -> lit("mid")))
    val idxDir = new java.io.File(s"$root/index_name/snapshot=s2")
    val rebuilt = idxDir.listFiles().filter(_.isDirectory).map(_.getName)
      .map(_.stripPrefix("attr_bucket=").toInt).toSet
    assert(rebuilt.subsetOf(touched), s"rebuilt $rebuilt, affected only $touched")
    // reads through the delta-rebuilt layout stay exact
    assert(SpatialTable.readByAttribute(spark, root, "s2", "name", "mid").count() == 40)
    assert(SpatialTable.readByAttribute(spark, root, "s2", "name", "west").count() == 0)
    assert(SpatialTable.readByAttribute(spark, root, "s2", "name", eastName).count() == 40)
    // the untouched bucket's rows physically come from s1's index files
    val eastScan = scannedFiles(
      SpatialTable.readByAttribute(spark, root, "s2", "name", eastName))
    assert(eastScan.forall(_.contains("snapshot=s1/")),
      s"untouched bucket must inherit s1 files: $eastScan")
  }

  test("chains of scoped mutations stay flattened: resolution is one hop") {
    val root = freshRoot("graft_scope6")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.deleteWhere(spark, root, "s1", "s2", "IN ('w0')")
    SpatialTable.deleteWhere(spark, root, "s2", "s3", "IN ('w1')")
    SpatialTable.deleteWhere(spark, root, "s3", "s4", "IN ('e0')")
    assert(SpatialTable.read(spark, root, "s4").count() == 77)
    // s4's manifest maps every prefix to its physical holder directly
    val info = SpatialTable.manifestInfo(spark, root, "s4")
    assert(info.scoped)
    assert(info.sources.nonEmpty)
    // every referenced directory physically exists (flattened values)
    info.sources.foreach { case (p, snap) =>
      assert(new java.io.File(s"$root/data/snapshot=$snap/cell_prefix=${p.value}").exists(),
        s"dangling source $p -> $snap")
    }
    // full time travel: every intermediate snapshot still answers
    assert(SpatialTable.read(spark, root, "s1").count() == 80)
    assert(SpatialTable.read(spark, root, "s2").count() == 79)
    assert(SpatialTable.read(spark, root, "s3").count() == 78)
  }

  test("temporal layouts are file-granular too: a one-month delete leaves the " +
    "other months' (time_bin, cell_prefix) directories referenced, not copied") {
    val root = freshRoot("graft_scope8")
    val rows = (0 until 60).map { i =>
      val month = 1 + (i % 3) // Jan / Feb / Mar 2024
      (s"id$i", 10.0 + (i % 10) * 0.01, 20.0,
        java.sql.Timestamp.valueOf(f"2024-$month%02d-10 12:00:00"))
    }
    SpatialTable.writeTemporal(spark, rows.toDF("id", "lon", "lat", "dtg"),
      root, "s1", "id", "lon", "lat", "dtg", period = "month",
      res = 9, prefixRes = 3, salts = 1, partitions = 2)
    // delete all of February by a dtg range
    SpatialTable.deleteWhere(spark, root, "s1", "s2",
      "dtg DURING 2024-02-01T00:00:00.000Z/2024-02-28T23:59:59.000Z")
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 40)
    assert(s2.where(month(col("dtg")) === 2).count() == 0)
    // s2's own data dir holds ONLY the February bins (now emptied or
    // rewritten) — January/March directories were never written
    val s2Dir = new java.io.File(s"$root/data/snapshot=s2")
    val s2Bins = if (!s2Dir.exists()) Set.empty[String]
      else s2Dir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    val febBin = graft.cells.BinnedTime.toBinned(
      graft.cells.BinnedTime.period("month"),
      java.sql.Timestamp.valueOf("2024-02-10 12:00:00").getTime).bin.toInt
    assert(s2Bins.subsetOf(Set(s"time_bin=$febBin")),
      s"only February may rewrite, got $s2Bins")
    // the surviving months physically resolve to s1's files
    val scanned = scannedFiles(s2)
    assert(scanned.nonEmpty && scanned.forall(_.contains("snapshot=s1/")), scanned)
    // time pruning still works on the resolved snapshot
    def ms(s: String) = java.sql.Timestamp.valueOf(s).getTime
    val jan = SpatialTable.readBBoxTime(spark, root, "s2", (9.0, 19.0, 11.0, 21.0),
      ms("2024-01-01 00:00:00"), ms("2024-02-01 00:00:00"))
    assert(jan.count() == 20)
    // and a temporal upsert (moving one row across months) stays scoped
    SpatialTable.upsert(spark, root, "s2", "s3",
      Seq(("id0", 10.0, 20.0, java.sql.Timestamp.valueOf("2024-03-15 12:00:00")))
        .toDF("id", "lon", "lat", "dtg"))
    val s3 = SpatialTable.read(spark, root, "s3")
    assert(s3.count() == 40)
    assert(s3.where($"id" === "id0").select(month(col("dtg"))).head().getInt(0) == 3)
  }

  test("expireSnapshots: unreferenced chain links are garbage-collected, " +
    "referenced ancestors survive, kept snapshots answer identically") {
    val root = freshRoot("graft_scope9")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    // s2 rewrites the WEST prefixes; s3 rewrites them AGAIN -> s3 never
    // references s2's files (west -> s3, east -> s1): s2 is collectible
    SpatialTable.updateWhere(spark, root, "s1", "s2", "name = 'west'",
      Map("age" -> lit(100L)))
    SpatialTable.updateWhere(spark, root, "s2", "s3", "name = 'west'",
      Map("age" -> lit(200L)))
    val before = SpatialTable.read(spark, root, "s3")
      .select("id", "age").collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val expired = SpatialTable.expireSnapshots(spark, root, keep = Seq("s3"))
    assert(expired == Seq("s2"), s"expected only s2 collectible, got $expired")
    // s1 survives (s3 inherits the east prefixes from it); s2's dir gone
    assert(new java.io.File(s"$root/data/snapshot=s1").exists())
    assert(!new java.io.File(s"$root/data/snapshot=s2").exists())
    assert(SpatialTable.snapshots(spark, root) == Seq("s1", "s3"))
    // the kept snapshot answers byte-identically after the GC
    val after = SpatialTable.read(spark, root, "s3")
      .select("id", "age").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before)
    assert(after.count(_._2 == 200L) == 40)
    // guards: unknown keeps and empty keeps are refused
    intercept[IllegalArgumentException](
      SpatialTable.expireSnapshots(spark, root, Seq("nope")))
    intercept[IllegalArgumentException](
      SpatialTable.expireSnapshots(spark, root, Seq.empty))
  }

  test("deleting everything leaves a readable empty snapshot") {
    val root = freshRoot("graft_scope7")
    SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.deleteWhere(spark, root, "s1", "s2", "INCLUDE")
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 0)
    assert(s2.columns.contains("cell_prefix"))
    // and mutating the empty snapshot still works (pure append)
    SpatialTable.upsert(spark, root, "s2", "s3",
      Seq(("n1", "new", 1L, 0.0, 0.0)).toDF("id", "name", "age", "lon", "lat"))
    assert(SpatialTable.read(spark, root, "s3").count() == 1)
  }

  test("the same commits into two roots write byte-identical _metrics files") {
    def parquetBytes(root: String, snap: String): Seq[Seq[Byte]] =
      new java.io.File(s"$root/_metrics/snapshot=$snap").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    val roots = Seq(freshRoot("graft_metrics_a"), freshRoot("graft_metrics_b"))
    roots.foreach { root =>
      SpatialTable.write(spark, twoClusters, root, "s1", "id", "lon", "lat",
        res = 9, prefixRes = 4, salts = 4, partitions = 8)
      SpatialTable.upsert(spark, root, "s1", "s2",
        Seq(("w3", "west-upd", 99L, -120.0, 35.0), ("x1", "extra", 7L, 140.5, -20.0))
          .toDF("id", "name", "age", "lon", "lat"))
    }
    Seq("s1", "s2").foreach { snap =>
      val Seq(a, b) = roots.map(parquetBytes(_, snap))
      assert(a.size == 1 && a == b, s"_metrics of $snap")
    }
  }
}

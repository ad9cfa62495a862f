package graft.table

import java.nio.file.Files

import graft.SparkTest
import graft.geom.GeomOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash consistency of the scoped commit path, by fault injection: for
 * each mutation (deleteWhere, updateWhere, upsert) on each table kind,
 * with one attribute index and collected stats, every metadata file the
 * commit writes — the manifest json, the commit and index markers, the
 * index sources sidecar, the `_metrics` commit, the `_stats` sidecar —
 * the first data file and, where the commit writes an index delta, the
 * delta's first file — fails in turn, as a crash in the middle of
 * writing it would. After each failure every listed snapshot reads as
 * before, a retry of the same call commits the rows a fault-free run
 * commits, and expiring everything but the retried snapshot deletes no
 * file it or its retained ancestor reads.
 */
class CommitFaultSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def newRoot(): String = Files.createTempDirectory("graft-fault").toString

  /** One table kind under test: how to build its base snapshot s1, read
    * a snapshot's rows, read the attribute index, and expire. */
  private final case class Kind(name: String, build: String => Unit,
                                read: (String, String) => DataFrame,
                                byName: (String, String) => DataFrame,
                                expire: (String, String) => Unit,
                                ops: Seq[(String, (String, String) => Unit)])

  private def rows(df: DataFrame): Seq[String] = tagged(Seq("" -> df))("")

  /** The rows of several reads, collected by ONE job: tag -> sorted rows. */
  private def tagged(reads: Seq[(String, DataFrame)]): Map[String, Seq[String]] = {
    val all = reads.map { case (t, df) => df.select(lit(t).as("tag"), $"id", $"name", $"age") }
      .reduce(_ unionByName _).collect()
    reads.map { case (t, _) =>
      t -> all.filter(_.getString(0) == t).map(_.toSeq.tail.mkString("|")).toSeq.sorted
    }.toMap
  }

  private val pointRows: DataFrame = {
    val a = (0 until 40).map(i => (s"a$i", "alpha", i.toLong, -120.0 + i * 0.01, 35.0))
    val b = (0 until 40).map(i => (s"b$i", "beta", i.toLong, -60.0 + i * 0.01, 10.0))
    val c = (0 until 40).map(i => (s"c$i", "gamma", i.toLong, 140.0 + i * 0.01, -20.0))
    (a ++ b ++ c).toDF("id", "name", "age", "lon", "lat")
  }

  private val point = Kind("point",
    build = { root =>
      SpatialTable.write(spark, pointRows, root, "s1", "id", "lon", "lat",
        res = 9, prefixRes = 3, salts = 2, partitions = 2)
      SpatialTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 4)
      TableStats.collect(spark, root, "s1", Seq("name"))
    },
    read = (root, id) => SpatialTable.read(spark, root, id),
    byName = (root, id) => SpatialTable.readByAttribute(spark, root, id, "name", "beta"),
    expire = (root, id) => SpatialTable.expireSnapshots(spark, root, Seq(id)),
    ops = Seq(
      "deleteWhere" -> ((root, to) =>
        SpatialTable.deleteWhere(spark, root, "s1", to, "BBOX(geom, -61, 9, -59, 11) AND age < 20")),
      "updateWhere" -> ((root, to) =>
        SpatialTable.updateWhere(spark, root, "s1", to, "name = 'alpha' AND age < 5",
          Map("name" -> lit("beta")))),
      "upsert" -> ((root, to) =>
        SpatialTable.upsert(spark, root, "s1", to,
          Seq(("a1", "beta", 100L, -120.0, 35.0), ("n1", "beta", 1L, 0.5, 0.5))
            .toDF("id", "name", "age", "lon", "lat")))))

  private val extentRows: DataFrame = {
    val reader = new org.locationtech.jts.io.WKTReader()
    def box(x: Double, y: Double) = GeomOps.toWkb(reader.read(
      s"POLYGON(($x $y, ${x + 0.1} $y, ${x + 0.1} ${y + 0.1}, $x ${y + 0.1}, $x $y))"))
    val w = (0 until 40).map(i => (s"w$i", "west", i.toLong, box(-120.0 + i * 0.01, 35.0)))
    val e = (0 until 40).map(i => (s"e$i", "east", i.toLong, box(10.0 + i * 0.01, 50.0)))
    (w ++ e).toDF("id", "name", "age", "geom")
  }

  private val extent = Kind("extent",
    build = { root =>
      GeomTable.write(spark, extentRows, root, "s1", partitions = 2)
      GeomTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 4)
      TableStats.collectGeom(spark, root, "s1", Seq("name"))
    },
    read = (root, id) => GeomTable.read(spark, root, id),
    byName = (root, id) => GeomTable.readByAttribute(spark, root, id, "name", "east"),
    expire = (root, id) => GeomTable.expireSnapshots(spark, root, Seq(id)),
    ops = Seq(
      "deleteWhere" -> ((root, to) =>
        GeomTable.deleteWhere(spark, root, "s1", to, "name = 'west' AND age < 20")),
      "updateWhere" -> ((root, to) =>
        GeomTable.updateWhere(spark, root, "s1", to, "name = 'west' AND age < 5",
          Map("name" -> lit("east")))),
      "upsert" -> ((root, to) =>
        GeomTable.upsert(spark, root, "s1", to,
          extentRows.where($"id".isin("w1", "w2")).withColumn("name", lit("east"))))))

  /** The file a create writes, as a fault kind of the commit into `to`:
    * its metadata files by name (the target id masked, so the same kind
    * selects the same file of another target), the `_metrics` write's
    * job-commit marker, "the first data file" and the first file of the
    * `name` index layout (executor-side creates). None for every other
    * create. */
  private def kindOf(root: String, p: Path, to: String): Option[String] = {
    val rel = p.toUri.getPath.stripPrefix(new Path(root).toUri.getPath).stripPrefix("/")
    val masked = rel.replace(s"snapshot=$to/", "snapshot=@/")
    val (dir, name) = rel.splitAt(rel.indexOf('/') + 1)
    if (masked.startsWith("data/snapshot=@/")) Some("first data file")
    else if (masked.startsWith("index_name/snapshot=@/")) Some("first index_name file")
    else if (masked.startsWith("_metrics/snapshot=@/") && name.endsWith("_SUCCESS"))
      Some("_metrics _SUCCESS")
    else if ((dir == "_manifests/" || dir == "_stats/") &&
      (name.startsWith(s"$to.") || name.startsWith(s".$to.")))
      Some(dir + name.replaceFirst(java.util.regex.Pattern.quote(to), "@"))
    else None
  }

  /** Runs `body` with Spark's own logging off: an injected failure in
    * a task would otherwise log its stack trace several times. */
  private def quietly[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val before = LogManager.getLogger("org.apache.spark").getLevel
    Configurator.setLevel("org.apache.spark", Level.OFF)
    try body finally Configurator.setLevel("org.apache.spark", before)
  }

  private def sweep(kind: Kind): Unit = withOnePartition(kind.ops.foreach { case (opName, op) =>
    val root = newRoot()
    kind.build(root)
    val base = rows(kind.read(root, "s1"))
    CountingFileSystem.during(spark)(op(root, "ref"))
    // a commit changing a few index rows writes a delta, whose first
    // file is a fault point (on these tiny tables only the 2-row upsert
    // does; the others fold their buckets)
    val delta = Snapshots.indexLayout(spark, root, "ref", "name").buckets.values
      .exists(_.delta.contains("ref"))
    assert(delta || opName != "upsert", s"${kind.name} $opName writes an index delta")
    val kinds = CountingFileSystem.creates.flatMap(kindOf(root, _, "ref")).distinct
      .filter(k => delta || k != "first index_name file")
    val want = rows(kind.read(root, "ref"))
    val wantIdx = rows(kind.byName(root, "ref"))
    assert(want != base, s"${kind.name} $opName changes rows")
    (Seq("first data file", "_manifests/@.json", "_manifests/@.committed",
      "_manifests/@.attr_name.committed", "_manifests/@.attr_name.sources", "_stats/@.json") ++
      (if (delta) Seq("first index_name file") else Nil))
      .foreach(k => assert(kinds.exists(_.replace("/.@.", "/@.").startsWith(k)),
        s"${kind.name} $opName writes $k: $kinds"))

    kinds.zipWithIndex.foreach { case (fault, i) =>
      withClue(s"${kind.name} $opName, failing $fault: ") {
        val to = s"t$i"
        val err = quietly(CountingFileSystem.failing(spark, 1)(kindOf(root, _, to).contains(fault))(
          op(root, to)))
        assert(CountingFileSystem.faultedPath.nonEmpty, "the fault fired")
        assert(err.nonEmpty, "the call failed")
        val listed = Snapshots.committed(spark, root)
        assert(tagged(listed.map(id => id -> kind.read(root, id))) ==
          listed.map(id => id -> (if (id == "s1") base else want)).toMap, "listed snapshots")
        // the retry, then GC down to it: what it reads must all survive
        op(root, to)
        kind.expire(root, to)
        assert(tagged(Seq("to" -> kind.read(root, to), "index" -> kind.byName(root, to),
          "s1" -> kind.read(root, "s1"))) == Map("to" -> want, "index" -> wantIdx, "s1" -> base),
          "the retried snapshot, its index, and s1, which it inherits from")
      }
    }
  })

  /** The tables are tiny and the sweep runs many commits: one shuffle
    * partition and no adaptive re-planning keep each to a few small
    * jobs. Neither changes which metadata files a commit writes, or
    * their order. */
  private def withOnePartition[T](body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a failure while upgrading a committed legacy manifest leaves the snapshot " +
    "readable, and a retry of the upgrade succeeds") {
    val root = newRoot()
    val rows = (0 until 60).map { i =>
      (s"id$i", 10.0 + (i % 10) * 0.01, 20.0,
        java.sql.Timestamp.valueOf(f"2024-${1 + i % 3}%02d-10 12:00:00"))
    }
    SpatialTable.writeTemporal(spark, rows.toDF("id", "lon", "lat", "dtg"), root, "s1",
      "id", "lon", "lat", "dtg", period = "month", res = 9, prefixRes = 3, salts = 1,
      partitions = 2)
    // the legacy (pre-round-4) manifest shape: no partitions array
    val manifest = new Path(s"$root/_manifests/s1.json")
    val f = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Snapshots.readString(f, manifest))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("partitions")
    val out = f.create(manifest, true)
    try out.write(mapper.writeValueAsString(node).getBytes("UTF-8")) finally out.close()
    def ids = SpatialTable.read(spark, root, "s1").select("id").as[String].collect().sorted.toSeq
    val before = ids

    val err = CountingFileSystem.failing(spark, 1)(_.getName.contains("s1.json"))(
      SpatialTable.upgradeManifest(spark, root, "s1"))
    assert(err.nonEmpty && CountingFileSystem.faultedPath.nonEmpty, "the upgrade failed")
    assert(SpatialTable.isCommitted(spark, root, "s1"))
    assert(ids == before, "the committed snapshot still reads")
    assert(SpatialTable.upgradeManifest(spark, root, "s1"), "the retry upgrades")
    assert(SpatialTable.manifestInfo(spark, root, "s1").partitions.size == 3)
    assert(ids == before)
  }

  test("a point-table commit that fails at any metadata write or its first data " +
    "file leaves every listed snapshot readable, and its retry commits the same rows") {
    sweep(point)
  }

  test("an extent-table commit that fails at any metadata write or its first data " +
    "file leaves every listed snapshot readable, and its retry commits the same rows") {
    sweep(extent)
  }
}

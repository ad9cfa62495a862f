package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest
import graft.table.{SpatialTable, TableStats}

/**
 * Format-write parity (VERDICT r4 #4): `df.write.format("graft")` with
 * sft-style options routes through writeConfigured, so secondary index
 * layouts, shard counts and stats-on-write work from the packaged front
 * door exactly like the programmatic API.
 */
class GraftFormatWriteSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows = (0 until 60).map(i =>
    (s"f$i", if (i % 2 == 0) "even" else "odd", i.toLong,
      -40.0 + i * 0.01, 12.0)).toDF("id", "kind", "age", "lon", "lat")

  test("an sft spec option builds the attr/id layouts and collects stats " +
    "through the format save path") {
    val root = freshRoot("graft_fmtw1")
    rows.write.format("graft")
      .option("snapshot", "s1")
      .option("sft", "kind:String:index=true,age:Long,*geom:Point:srid=4326;" +
        "geomesa.z.splits='2',geomesa.stats.enable='true'")
      .save(root)
    // data layout uses the sft's shard count
    assert(SpatialTable.manifestInfo(spark, root, "s1").salts == 2)
    // secondary layouts committed: kind attr index + id index
    val indexed = SpatialTable.indexedColumns(spark, root, "s1")
    assert(indexed.keySet == Set("kind", "id"), s"got $indexed")
    assert(SpatialTable.readByAttribute(spark, root, "s1", "kind", "even").count() == 30)
    assert(SpatialTable.readByIds(spark, root, "s1", "id", Seq("f7", "f33")).count() == 2)
    // stats-on-write: sidecar exists, tracked attribute is the indexed one
    val st = TableStats.cached(spark, root, "s1")
    assert(st.isDefined, "_stats sidecar must exist after a configured format write")
    assert(st.get.count == 60)
    assert(st.get.attributes.contains("kind"))
    // the round-trip read answers
    assert(spark.read.format("graft").option("snapshot", "s1").load(root).count() == 60)
  }

  test("bare geomesa.* options (no sft spec) synthesize the schema; `indexed` " +
    "marks attribute indexes; stats can be disabled") {
    val root = freshRoot("graft_fmtw2")
    rows.write.format("graft")
      .option("snapshot", "s1")
      .option("indexed", "kind")
      .option("geomesa.z.splits", "3")
      .option("geomesa.stats.enable", "false")
      .save(root)
    assert(SpatialTable.manifestInfo(spark, root, "s1").salts == 3)
    val indexed = SpatialTable.indexedColumns(spark, root, "s1")
    assert(indexed.keySet == Set("kind", "id"), s"got $indexed")
    assert(!TableStats.exists(spark, root, "s1"),
      "stats collection was disabled — no sidecar may exist")
    assert(SpatialTable.readByAttribute(spark, root, "s1", "kind", "odd").count() == 30)
  }

  test("camelCase option names survive the DSv1 option map: prefixRes shapes " +
    "the written layout") {
    val root = freshRoot("graft_fmtw5")
    rows.write.format("graft").option("snapshot", "s1")
      .option("prefixRes", "3").option("salts", "2").save(root)
    val info = SpatialTable.manifestInfo(spark, root, "s1")
    assert(info.prefixRes == 3, s"prefixRes option dropped: got ${info.prefixRes}")
    assert(info.salts == 2)
  }

  test("a plain format write (no sft options) stays on the unconfigured path") {
    val root = freshRoot("graft_fmtw3")
    rows.write.format("graft").option("snapshot", "s1").save(root)
    assert(SpatialTable.indexedColumns(spark, root, "s1").isEmpty)
    assert(!TableStats.exists(spark, root, "s1"))
    assert(spark.read.format("graft").load(root).count() == 60)
  }

  test("configured TEMPORAL format write: dtg + sft options compose — " +
    "time_bin layout with index layouts on top") {
    val root = freshRoot("graft_fmtw4")
    val withDtg = rows.withColumn("dtg",
      org.apache.spark.sql.functions.expr(
        "timestamp_millis(1704067200000 + age * 86400000)")) // Jan 2024, one day apart
    withDtg.write.format("graft")
      .option("snapshot", "s1").option("dtg", "dtg").option("period", "week")
      .option("indexed", "kind")
      .save(root)
    val info = SpatialTable.manifestInfo(spark, root, "s1")
    assert(info.period.contains("week"))
    assert(info.partitions.nonEmpty, "temporal manifest records its partitions")
    assert(SpatialTable.indexedColumns(spark, root, "s1").keySet == Set("kind", "id"))
    assert(SpatialTable.readByAttribute(spark, root, "s1", "kind", "even").count() == 30)
  }
}

package graft.table

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTest
import graft.geom.GeomOps
import org.apache.hadoop.fs.Path
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The manifest-planned snapshot scan ([[SnapshotIndex]]) against the
 * directory reads it replaced: the same rows, schema and column order
 * for every snapshot and index layout shape of both table engines; no
 * listing and no Spark job while a query's DataFrame is built; and at
 * execution exactly the pruned partitions listed, once each.
 */
class SnapshotIndexSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private val T0 = 1704067200000L
  private val Day = 86400000L

  private def newRoot(): String = Files.createTempDirectory("graft-snapidx").toString

  private def points(n: Int): DataFrame = (0 until n).map { i =>
    (f"p$i%05d", (i * 7 % 360) - 180.0 + 0.5, (i * 13 % 160) - 80.0 + 0.25, s"n${i % 5}",
      new java.sql.Timestamp(T0 + (i.toLong * 29 % 40) * Day + i * 1234L))
  }.toDF("id", "lon", "lat", "name", "dtg")

  // ---- the directory reads SnapshotIndex replaced, as the reference ----

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def basePathRead(schema: StructType, base: String, paths: Seq[String],
                           order: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyOf(StructType(order.map(schema(_))))
    else spark.read.schema(StructType(schema.fields :+ StructField("snapshot", StringType)))
      .option("basePath", base).parquet(paths: _*)
      .select(order.map(col): _*)

  private def oldPointRead(root: String, id: String): DataFrame = {
    val info = SpatialTable.manifestInfo(spark, root, id)
    if (!info.scoped) spark.read.parquet(s"$root/data/snapshot=$id")
    else basePathRead(info.schema, s"$root/data",
      info.physicalKeys.toSeq.sortBy(e => info.relpath(e._1))
        .map { case (k, src) => s"$root/data/snapshot=$src/${info.relpath(k)}" },
      info.readOrder)
  }

  private def oldGeomRead(root: String, id: String): DataFrame = {
    val info = GeomTable.ginfo(spark, root, id)
    basePathRead(info.schema, s"$root/data",
      info.physicalKeys.toSeq.sortBy(e => info.relpath(e._1))
        .map { case (k, src) => s"$root/data/snapshot=$src/${info.relpath(k)}" },
      info.readOrder)
  }

  /** A scoped layout's sources sidecar: the tombstones' id column, and
    * per bucket its base holder and delta holder, if any. */
  private def sidecar(root: String, id: String,
                      attr: String): Option[(Option[String], Seq[(Int, String, Option[String])])] = {
    val f = new java.io.File(s"$root/_manifests/$id.attr_$attr.sources")
    if (!f.exists()) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val it = n.get("sources").fields()
      val b = Seq.newBuilder[(Int, String, Option[String])]
      while (it.hasNext) {
        val e = it.next()
        val v = e.getValue
        b += (if (v.isTextual) (e.getKey.toInt, v.asText, None)
          else (e.getKey.toInt, v.get("base").asText, Some(v.get("delta").asText)))
      }
      Some((Option(n.get("id")).map(_.asText), b.result().sortBy(_._1)))
    }
  }

  private def oldIndexRead(root: String, id: String, attr: String, schema: StructType,
                           readOrder: Seq[String]): DataFrame = {
    val order = readOrder :+ "attr_bucket"
    val withBucket = StructType(schema.fields :+ StructField("attr_bucket", IntegerType))
    def dirs(bs: Seq[(Int, String)]) = bs.map { case (b, src) => s"$root/index_$attr/snapshot=$src/attr_bucket=$b" }
    sidecar(root, id, attr) match {
      case None => spark.read.schema(withBucket).parquet(s"$root/index_$attr/snapshot=$id")
        .select(order.map(col): _*)
      case Some((idCol, phys)) =>
        val (changed, plain) = phys.partition(_._3.isDefined)
        val bases = basePathRead(withBucket, s"$root/index_$attr", dirs(plain.map(e => e._1 -> e._2)), order)
        if (changed.isEmpty) bases
        else {
          // base minus tombstones, plus the delta rows
          val delta = basePathRead(withBucket.add("__tombstone", "boolean"), s"$root/index_$attr",
            dirs(changed.map(e => e._1 -> e._3.get)), order :+ "__tombstone")
          val tombs = delta.where(col("__tombstone")).select("attr_bucket", idCol.get)
          bases.unionByName(basePathRead(withBucket, s"$root/index_$attr", dirs(changed.map(e => e._1 -> e._2)), order)
            .join(tombs, Seq("attr_bucket", idCol.get), "left_anti").select(order.map(col): _*))
            .unionByName(delta.where(!col("__tombstone")).select(order.map(col): _*))
        }
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).toSeq.sorted

  /** Same rows, column order and types; every column reads nullable, as
    * a Parquet scan reports it. */
  private def assertSameRead(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    assert(got.schema.forall(_.nullable))
    assert(rows(got) == rows(want))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }

  // ---- point tables ----------------------------------------------------

  test("point snapshots read as the directory read did: plain and temporal, " +
    "self-contained, scoped after a mutation chain, and fully deleted") {
    Seq(false, true).foreach { temporal =>
      val root = newRoot()
      val df = points(600)
      if (temporal)
        SpatialTable.writeTemporal(spark, df, root, "s1", "id", "lon", "lat", "dtg",
          period = "week", prefixRes = 2, salts = 2, partitions = 4)
      else
        SpatialTable.write(spark, df, root, "s1", "id", "lon", "lat",
          prefixRes = 2, salts = 2, partitions = 4)
      SpatialTable.deleteWhere(spark, root, "s1", "s2", "BBOX(geom, -60, -30, 0, 20)")
      SpatialTable.updateWhere(spark, root, "s2", "s3", "BBOX(geom, 0, 0, 90, 60)",
        Map("name" -> lit("moved"), "lon" -> (col("lon") - 100)))
      SpatialTable.upsert(spark, root, "s3", "s4", points(5).withColumn("lat", lit(1.5)))
      SpatialTable.deleteWhere(spark, root, "s4", "s5", "BBOX(geom, -180, -90, 180, 90)")
      Seq("s1", "s2", "s3", "s4", "s5").foreach { id =>
        withClue(s"temporal=$temporal snapshot $id: ") {
          assertSameRead(SpatialTable.read(spark, root, id), oldPointRead(root, id))
        }
      }
      assert(SpatialTable.read(spark, root, "s3").count() == 600 - oldPointRead(root, "s1")
        .where(col("lon").between(-60, 0) && col("lat").between(-30, 20)).count())
      assert(SpatialTable.read(spark, root, "s5").isEmpty)
    }
  }

  test("point index layouts read as before: self-contained and delta-rebuilt, " +
    "and an index over an empty snapshot answers empty") {
    val root = newRoot()
    SpatialTable.write(spark, points(600), root, "s1", "id", "lon", "lat",
      prefixRes = 2, salts = 2, partitions = 4)
    SpatialTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 8)
    SpatialTable.writeIdIndex(spark, root, "s1", "id", buckets = 8)
    SpatialTable.updateWhere(spark, root, "s1", "s2", "name = 'n1'", Map("name" -> lit("n9")))
    SpatialTable.deleteWhere(spark, root, "s2", "s3", "BBOX(geom, -60, -30, 0, 20)")
    assert(sidecar(root, "s3", "name").nonEmpty, "the chain delta-rebuilds the index")
    for (id <- Seq("s1", "s3"); attr <- Seq("name", "id")) withClue(s"$id index_$attr: ") {
      val info = SpatialTable.manifestInfo(spark, root, id)
      assertSameRead(
        SpatialTable.indexRead(spark, root, info, attr),
        oldIndexRead(root, id, attr, info.schema, info.readOrder))
    }
    assert(SpatialTable.readByAttribute(spark, root, "s3", "name", "n9").count() ==
      SpatialTable.read(spark, root, "s3").where(col("name") === "n9").count())

    val empty = newRoot()
    SpatialTable.write(spark, points(10).limit(0), empty, "s1", "id", "lon", "lat")
    SpatialTable.writeAttributeIndex(spark, empty, "s1", "name", buckets = 4)
    val info = SpatialTable.manifestInfo(spark, empty, "s1")
    assertSameRead(SpatialTable.readByAttribute(spark, empty, "s1", "name", "n1"),
      oldIndexRead(empty, "s1", "name", info.schema, info.readOrder)
        .where(col("name") === "n1"))
  }

  test("readByIds above the literal-predicate limit finds ids of a binary column") {
    // the probe frame must hold ids in the column's own type: a binary
    // id rendered to a string and cast back matches nothing
    val root = newRoot()
    def key(i: Int) = Array[Byte](1, i.toByte, (i >> 8).toByte)
    val df = (0 until 400).map(i => (f"p$i%05d", (i % 90) * 1.0, (i % 45) * 1.0, key(i)))
      .toDF("id", "lon", "lat", "key")
    SpatialTable.write(spark, df, root, "s1", "id", "lon", "lat", partitions = 2)
    SpatialTable.writeAttributeIndex(spark, root, "s1", "key", buckets = 4)
    val wanted = (0 until 300).map(key)
    val got = SpatialTable.readByIds(spark, root, "s1", "key", wanted)
      .select("id").as[String].collect().toSet
    assert(got == (0 until 300).map(i => f"p$i%05d").toSet)
  }

  // ---- extent tables ---------------------------------------------------

  test("GeomTable snapshots and index layouts read as before: flat and temporal, " +
    "self-contained and scoped") {
    val reader = new org.locationtech.jts.io.WKTReader()
    def box(x: Double, y: Double) = GeomOps.toWkb(reader.read(
      s"POLYGON(($x $y, ${x + 0.5} $y, ${x + 0.5} ${y + 0.3}, $x ${y + 0.3}, $x $y))"))
    val df = (0 until 300).map { i =>
      (f"g$i%04d", s"n${i % 4}", box((i * 37 % 340) - 170.0, (i * 11 % 160) - 80.0),
        new java.sql.Timestamp(T0 + (i % 50) * Day))
    }.toDF("id", "name", "geom", "dtg")
    Seq(None, Some("dtg")).foreach { dtg =>
      val root = newRoot()
      GeomTable.write(spark, df, root, "s1", "geom", dtg, period = "week", partitions = 4,
        chunkRes = 3)
      GeomTable.writeAttributeIndex(spark, root, "s1", "name", buckets = 4)
      GeomTable.deleteWhere(spark, root, "s1", "s2", "BBOX(geom, -60, -30, 0, 20)")
      GeomTable.upsert(spark, root, "s2", "s3", df.limit(3).withColumn("name", lit("n9")))
      Seq("s1", "s2", "s3").foreach { id =>
        withClue(s"dtg=$dtg snapshot $id: ") {
          assertSameRead(GeomTable.read(spark, root, id), oldGeomRead(root, id))
          val info = GeomTable.ginfo(spark, root, id)
          assertSameRead(
            GeomTable.indexRead(spark, root, info, "name"),
            oldIndexRead(root, id, "name", info.schema, info.readOrder))
        }
      }
      assert(sidecar(root, "s3", "name").nonEmpty, "the chain delta-rebuilds the index")
    }
  }

  // ---- planning cost ---------------------------------------------------

  test("building a readBBoxTime DataFrame runs no job and lists nothing; execution " +
    "lists exactly the partitions the scan selects, once each") {
    val root = newRoot()
    SpatialTable.writeTemporal(spark, points(2000), root, "s1", "id", "lon", "lat", "dtg",
      period = "day", prefixRes = 2, salts = 2, partitions = 8)
    val leaves = SpatialTable.manifestInfo(spark, root, "s1").physicalKeys.size
    assert(leaves > 32, s"$leaves partition directories")
    val bbox = (-60.0, -30.0, 60.0, 40.0)
    val (t0, t1) = (T0 + 5 * Day, T0 + 12 * Day)

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def measured[T](body: => T): (T, Int, Seq[Path]) = {
      GraftListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      CountingFileSystem.reset()
      val out = body
      GraftListenerBus.drain(spark.sparkContext)
      (out, jobs.get, CountingFileSystem.listings)
    }
    spark.sparkContext.addSparkListener(listener)
    try CountingFileSystem.during(spark) {
      val (df, planJobs, planLists) =
        measured(SpatialTable.readBBoxTime(spark, root, "s1", bbox, t0, t1))
      assert(planJobs == 0 && planLists.isEmpty, s"jobs=$planJobs listings=$planLists")
      // the directory read it replaced lists every directory with a job
      val (_, oldJobs, oldLists) = measured(oldPointRead(root, "s1").schema)
      assert(oldJobs > 0 && oldLists.size > leaves, s"jobs=$oldJobs listings=${oldLists.size}")

      val (got, _, execLists) = measured(df.collect())
      val Seq(scan) = scans(df)
      val selected = scan.selectedPartitions.toPartitionArray
        .map(_.toPath.getParent.toUri.getPath).toSet
      val listed = execLists.map(_.toUri.getPath)
      assert(listed.sorted == selected.toSeq.sorted)
      assert(selected.size < leaves / 3, s"${selected.size} of $leaves partitions selected")
      // the scan timed its own listing: nothing is left to charge
      val index = scan.relation.location
      assert(index.metadataOpsTimeNs.contains(0L))
      // sizing the whole snapshot lists nothing: the manifest's row
      // counts size it
      val (size, sizeJobs, sizeLists) = measured(index.sizeInBytes)
      assert(size > 0 && sizeJobs == 0 && sizeLists.isEmpty, s"jobs=$sizeJobs listings=$sizeLists")
      // naming its files lists the rest, concurrently (more than the
      // discovery threshold), once each; the next scan is charged for it
      // once
      val (_, filesJobs, fileLists) = measured(index.inputFiles)
      assert(filesJobs == 0)
      assert(fileLists.map(_.toUri.getPath).sorted.toSet.size == fileLists.size &&
        fileLists.size == leaves - selected.size && fileLists.size > 32,
        s"${fileLists.size} listings of ${leaves - selected.size} unlisted directories")
      assert(index.metadataOpsTimeNs.exists(_ > 0))
      assert(index.metadataOpsTimeNs.contains(0L))
      assert(measured(index.inputFiles)._3.isEmpty, "every directory is listed once")
      val expect = points(2000).where(col("lon").between(bbox._1, bbox._3) &&
          col("lat").between(bbox._2, bbox._4) &&
          unix_millis(col("dtg")).between(t0, t1 - 1))
        .select("id").as[String].collect().sorted.toSeq
      assert(got.map(_.getAs[String]("id")).sorted.toSeq == expect && expect.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a forTable kNN lists only the leaves its passes keep, each once") {
    val root = newRoot()
    SpatialTable.writeTemporal(spark, points(2000), root, "s1", "id", "lon", "lat", "dtg",
      period = "day", prefixRes = 2, salts = 2, partitions = 8)
    val leaves = SpatialTable.manifestInfo(spark, root, "s1").physicalKeys.keys.toSeq
    val qs = Seq((0, 10.0, 10.0), (1, 12.0, 8.0)).toDF("qid", "qlon", "qlat")
    val (got, listed) = CountingFileSystem.during(spark) {
      val out = graft.operators.KnnJoin.forTable(spark, root, "s1", "lon", "lat",
        qs, "qid", "qlon", "qlat", k = 5, res = 9).collect()
      (out, CountingFileSystem.listings.map(_.toUri.getPath))
    }
    val search = graft.operators.KnnJoin.lastSearch
    assert(got.length == 10)
    val prefix = "cell_prefix=(-?\\d+)$".r
    val listedPrefixes = listed.map(d => prefix.findFirstMatchIn(d).map(_.group(1).toLong))
    assert(listedPrefixes.forall(_.nonEmpty), s"listed a directory that is not a leaf: $listed")
    assert(listed.distinct.size == listed.size, s"a leaf listed twice: $listed")
    // every leaf (time bin) of each kept prefix, and no other
    val kept = listedPrefixes.flatten.toSet
    assert(listed.size == leaves.count(k => kept(k.value)), s"$listed")
    assert(kept.size >= search.prefixesKept.max && kept.size <= search.prefixesKept.sum, s"$kept $search")
    assert(listed.size < leaves.size / 2, s"${listed.size} of ${leaves.size} leaves listed, $search")
  }

  test("a directory the manifest names but the store lacks is an error, listed " +
    "serially or concurrently") {
    val root = newRoot()
    for (n <- Seq(2, 40)) withClue(s"$n leaves: ") {
      val df = SnapshotIndex.scan(spark,
        StructType(Seq(StructField("v", StringType), StructField("b", IntegerType))),
        Seq("b"), (0 until n).map(b => (Seq(b), s"$root/missing/b=$b")))
      intercept[java.io.FileNotFoundException](df.collect())
    }
  }
}

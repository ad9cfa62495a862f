package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTest

/**
 * Round-5 lifecycle hardening: transitive snapshot-GC reachability,
 * commit-time "latest" resolution, semi-join id lookups at scale,
 * DataFrame-streamed deletes, legacy-manifest upgrade, and the stats
 * staleness guard (VERDICT r4 "Next round" #5-#7 + ADVICE r4 items).
 */
class LifecycleHardeningSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeViaHadoop(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    out.write(content.getBytes("UTF-8")); out.close()
  }

  /** Three far-apart clusters — three distinct cell_prefix directories,
    * so a mutation can touch exactly one or two of them. */
  private def threeClusters: org.apache.spark.sql.DataFrame = {
    val a = (0 until 20).map(i => (s"a$i", "alpha", i.toLong, -120.0 + i * 0.01, 35.0))
    val b = (0 until 20).map(i => (s"b$i", "beta", i.toLong, -60.0 + i * 0.01, 10.0))
    val c = (0 until 20).map(i => (s"c$i", "gamma", i.toLong, 140.0 + i * 0.01, -20.0))
    (a ++ b ++ c).toDF("id", "name", "age", "lon", "lat")
  }

  test("expireSnapshots reachability is a FIXPOINT: a retained middle link's " +
    "own references survive even when the kept head no longer names them") {
    val root = freshRoot("graft_fix1")
    SpatialTable.write(spark, threeClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    // s2 touches only B  -> s2 sources: A->s1, B->s2, C->s1
    SpatialTable.updateWhere(spark, root, "s1", "s2", "name = 'beta'",
      Map("age" -> lit(100L)))
    // s3 touches A and C -> s3 sources: A->s3, B->s2, C->s3
    //   s3 references s2 but NOT s1; s2 still references s1 for A and C
    SpatialTable.updateWhere(spark, root, "s2", "s3",
      "name = 'alpha' OR name = 'gamma'", Map("age" -> lit(200L)))
    val i3 = SpatialTable.manifestInfo(spark, root, "s3")
    assert(i3.sources.values.toSet == Set("s2", "s3"),
      s"fixture premise: s3 must reference s2 only, got ${i3.sources.values.toSet}")
    // one-hop reachability from keep=[s3] would retain {s3, s2} and drop
    // s1 — leaving s2 committed but unreadable (ADVICE r4 medium #1).
    val expired = SpatialTable.expireSnapshots(spark, root, keep = Seq("s3"))
    assert(expired.isEmpty, s"nothing is collectible here, expired $expired")
    // every retained snapshot still answers
    assert(SpatialTable.read(spark, root, "s1").count() == 60)
    assert(SpatialTable.read(spark, root, "s2").count() == 60)
    assert(SpatialTable.read(spark, root, "s3").count() == 60)
  }

  test("latestSnapshot follows commit time, not lexical id order") {
    val root = freshRoot("graft_latest1")
    SpatialTable.write(spark, threeClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    // the drain-style id sorts BEFORE "s1" lexically but commits after
    SpatialTable.upsert(spark, root, "s1", "b000000001-a",
      Seq(("new1", "nu", 1L, 0.5, 0.5)).toDF("id", "name", "age", "lon", "lat"))
    assert(SpatialTable.snapshots(spark, root).last == "s1") // lexical max is stale
    assert(SpatialTable.latestSnapshot(spark, root).contains("b000000001-a"))
    // the format front door's default snapshot follows the marker time
    val viaFormat = spark.read.format("graft").load(root)
    assert(viaFormat.count() == 61, "format('graft') default read must see the newest commit")
  }

  test("readByIds above the OR-chain limit switches to the semi-join and " +
    "answers identically") {
    val root = freshRoot("graft_ids1")
    val rows = (0 until 1000).map(i => (s"id$i", s"n$i", i.toLong,
      -50.0 + (i % 100) * 0.01, 10.0 + (i / 100) * 0.01))
    SpatialTable.write(spark, rows.toDF("id", "name", "age", "lon", "lat"),
      root, "s1", "id", "lon", "lat", res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeIdIndex(spark, root, "s1", "id", buckets = 4)
    // 300 ids (over IdPredicateLimit=256) incl. misses — semi-join path
    val big = (0 until 280).map(i => s"id${i * 3}") ++ (0 until 20).map(i => s"missing$i")
    val viaJoin = SpatialTable.readByIds(spark, root, "s1", "id", big)
    // 100 ids — literal bucket-pruned OR-chain path
    val small = (0 until 100).map(i => s"id${i * 3}")
    val viaChain = SpatialTable.readByIds(spark, root, "s1", "id", small)
    assert(viaJoin.count() == 280)
    assert(viaChain.count() == 100)
    assert(viaJoin.columns.sameElements(viaChain.columns),
      "both lookup paths must present identical schemas")
    val joinIds = viaJoin.select("id").as[String].collect().toSet
    assert((0 until 280).map(i => s"id${i * 3}").toSet == joinIds)
  }

  test("deleteIds: a DataFrame id set routes through the id index and commits " +
    "file-granularly (untouched prefixes inherited by reference)") {
    val root = freshRoot("graft_delids1")
    SpatialTable.write(spark, threeClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    SpatialTable.writeIdIndex(spark, root, "s1", "id", buckets = 4)
    // delete five A-cluster rows (plus absent ids, which match nothing)
    val ids = (Seq("a0", "a1", "a2", "a3", "a4") ++ Seq("nope1", "nope2")).toDF("id")
    SpatialTable.deleteIds(spark, root, "s1", "s2", ids)
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 55)
    assert(s2.where($"id".startsWith("a")).count() == 15)
    // B and C prefixes inherited by identical physical path
    val info = SpatialTable.manifestInfo(spark, root, "s2")
    assert(info.scoped)
    val holders = info.sources.values.toSet
    assert(holders == Set("s1", "s2"), s"expected A rewritten, B/C inherited: $holders")
    assert(info.sources.values.count(_ == "s1") == 2,
      s"exactly the two untouched prefixes inherit from s1: ${info.sources}")
    // delta-rebuilt id index answers exactly
    assert(SpatialTable.readByIds(spark, root, "s2", "id", Seq("a0")).count() == 0)
    assert(SpatialTable.readByIds(spark, root, "s2", "id", Seq("a7", "b3", "c9")).count() == 3)
  }

  test("upgradeManifest back-fills a legacy temporal manifest so scoped " +
    "mutations inherit untouched time_bin directories by path") {
    val root = freshRoot("graft_upg1")
    val rows = (0 until 60).map { i =>
      val month = 1 + (i % 3)
      (s"id$i", 10.0 + (i % 10) * 0.01, 20.0,
        java.sql.Timestamp.valueOf(f"2024-$month%02d-10 12:00:00"))
    }
    SpatialTable.writeTemporal(spark, rows.toDF("id", "lon", "lat", "dtg"),
      root, "s1", "id", "lon", "lat", "dtg", period = "month",
      res = 9, prefixRes = 3, salts = 1, partitions = 2)
    // forge the LEGACY (pre-round-4) manifest shape: no partitions array
    // (written through the Hadoop FS so the local checksum sidecar stays
    // consistent)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_manifests/s1.json")), "UTF-8"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("partitions")
    writeViaHadoop(s"$root/_manifests/s1.json", mapper.writeValueAsString(node))
    assert(SpatialTable.manifestInfo(spark, root, "s1").partitions.isEmpty)

    assert(SpatialTable.upgradeManifest(spark, root, "s1"))
    assert(!SpatialTable.upgradeManifest(spark, root, "s1"), "second upgrade is a no-op")
    val upgraded = SpatialTable.manifestInfo(spark, root, "s1")
    assert(upgraded.partitions.size == 3, s"three month bins: ${upgraded.partitions}")
    assert(upgraded.partitions.values.sum == 60)

    // a scoped delete now inherits January/March from s1 by path
    SpatialTable.deleteWhere(spark, root, "s1", "s2",
      "dtg DURING 2024-02-01T00:00:00.000Z/2024-02-28T23:59:59.000Z")
    val s2 = SpatialTable.read(spark, root, "s2")
    assert(s2.count() == 40)
    val scanned = s2.select(input_file_name().as("f")).distinct().as[String].collect()
      .map(_.replaceFirst("^file:/*", "/")).toSet
    assert(scanned.nonEmpty && scanned.forall(_.contains("snapshot=s1/")),
      s"surviving months must resolve to s1's physical files: $scanned")
  }

  test("stats staleness guard: a delete-heavy chain flags the sidecar; " +
    "a re-collect clears it") {
    val root = freshRoot("graft_stale1")
    SpatialTable.write(spark, threeClusters, root, "s1", "id", "lon", "lat",
      res = 9, prefixRes = 3, salts = 2, partitions = 4)
    TableStats.collect(spark, root, "s1", Seq("name"))
    assert(!TableStats.cached(spark, root, "s1").get.stale)
    // delete 2/3 of the rows (alpha + beta clusters)
    SpatialTable.deleteWhere(spark, root, "s1", "s2",
      "name = 'alpha' OR name = 'beta'")
    val st = TableStats.cached(spark, root, "s2").get
    assert(st.count == 20)
    assert(st.deleted == 40)
    assert(st.stale, "40 deletions against 20 live rows must flag stale")
    // exact counts stay exact even while flagged
    assert(st.attributes("name").count == 20)
    // re-collect resets the guard
    TableStats.collect(spark, root, "s2", Seq("name"))
    val fresh = TableStats.cached(spark, root, "s2").get
    assert(!fresh.stale && fresh.deleted == 0)
    assert(fresh.count == 20)
    // and a small delete on a big table does NOT flag
    SpatialTable.deleteIds(spark, root, "s2", "s3", Seq("c0").toDF("id"))
    val st3 = TableStats.cached(spark, root, "s3").get
    assert(!st3.stale && st3.deleted == 1 && st3.count == 19)
  }
}

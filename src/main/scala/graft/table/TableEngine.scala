package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** A data-partition key: the time bin on temporal layouts, and the
  * layout's key value (`cell_prefix` or `xz_chunk`).
  *
  * Scale note: driver-side key lists and the manifest partitions array
  * are bounded by the PARTITION count, which the key resolution (and the
  * time period) set deliberately — tens of thousands of keys worldwide
  * at the defaults, and a sane temporal config keeps bins×keys in the
  * 10^5-10^6 range (the order Iceberg carries in its manifests). */
final case class Key(bin: Option[Int], value: Long) {
  /** The manifest sources-map key: the bare value on plain layouts
    * (round-4 format compatibility), "bin/value" on temporal ones. */
  def sourceKey: String = bin.map(b => s"$b/$value").getOrElse(value.toString)
  /** The partition-column values, in [[KeyLayout.partitionCols]] order. */
  def values: Seq[Any] = bin.toSeq :+ value
}

/**
 * What differs between the table engine's two key layouts: the point
 * layout `(time_bin?, cell_prefix)` of [[SpatialTable]] and the extent
 * layout `(time_bin?, xz_chunk)` of [[GeomTable]]. Everything else — the
 * manifest codec, the writers, scoped commits, index maintenance,
 * mutations and GC — is [[TableEngine]], once.
 */
trait KeyLayout {
  /** The partition column under the optional `time_bin`. */
  def keyCol: String
  def temporal: Boolean
  /** The column files sort by inside each partition, for row-group
    * min/max skipping; index layouts sort by it after the attribute. */
  def sortCol: String
  /** The engine-derived columns (never user data). */
  def derivedCols: Set[String]
  /** Adds the derived placement columns. ONE implementation per layout
    * on purpose: the writers, the commits and every partition-key probe
    * must agree byte for byte, or a probe could miss partitions a write
    * creates (silently corrupting the sources map). */
  def withDerived(df: DataFrame): DataFrame
  /** The columns the write shuffle hashes on. */
  def shuffleCols: Seq[String]
  /** How many shuffle partitions one touched key spreads over in a
    * commit (the point layout's salts split hot prefixes). */
  def spread: Int
  /** The shuffle width cap of a mutation. */
  def mutationPartitions: Int
  /** (minX, minY, maxX, maxY) columns the stats envelope aggregates. */
  def boundsCols: (String, String, String, String)
  /** Whether writes keep the `_metrics` lineage table and record each
    * key's `sortCol` range in the manifest. */
  def lineage: Boolean
  /** The geometry property CQL filters resolve through. */
  def geomProps(df: DataFrame): Map[String, Column]
  /** Whether mutations of this snapshot can commit file-granularly;
    * legacy manifests fall back to the whole-table rewrite. */
  def scopes(m: TableManifest[KeyLayout]): Boolean
  /** Writes the layout's own manifest fields. */
  def header(node: ObjectNode): Unit

  /** The partition (directory) columns, outermost first. */
  final def partitionCols: Seq[String] = if (temporal) Seq("time_bin", keyCol) else Seq(keyCol)
}

/**
 * Everything a snapshot manifest records, parsed ONCE with a real JSON
 * parser. `partitions` holds the live keys' row counts and `ranges`
 * their `sortCol` ranges (lineage layouts).
 *
 * `sources` is the file-granular-mutation inheritance map: live key ->
 * the snapshot whose data directory PHYSICALLY holds that key's files.
 * Empty for self-contained snapshots. A scoped mutation commits only the
 * touched keys' files and carries every untouched key here BY REFERENCE;
 * the map is kept flattened (values are always physical holders, never
 * another level of indirection), so chains of mutations resolve in O(1).
 *
 * `keyed` is false only for legacy manifests written before the
 * partition list was recorded (temporal point layouts before round 4,
 * extent layouts before round 5; the latter record no schema either):
 * those are the one kind of snapshot read by listing its directory.
 */
final case class TableManifest[+L <: KeyLayout](snapshot: String, layout: L, schema: StructType,
                                                partitions: Map[Key, Long],
                                                ranges: Map[Key, (Long, Long)],
                                                sources: Map[Key, String],
                                                scoped: Boolean, keyed: Boolean) {
  /** Live key -> physical holder (identity for self-contained
    * snapshots); empty for legacy manifests. */
  def physicalKeys: Map[Key, String] =
    if (scoped) sources else partitions.keys.map(_ -> snapshot).toMap
  /** Live rows of the snapshot (0 when `keyed` is false). */
  def rows: Long = partitions.values.sum
  /** A key's directory under a snapshot's data directory. */
  def relpath(k: Key): String =
    k.bin.map(b => s"time_bin=$b/").getOrElse("") + s"${layout.keyCol}=${k.value}"
  /** The column order a snapshot read presents: file columns first,
    * partition columns last in directory order (what plain partition
    * discovery yields). */
  def readOrder: Seq[String] =
    schema.fieldNames.filterNot(layout.partitionCols.contains).toSeq ++ layout.partitionCols
  /** The manifest schema in [[readOrder]]. */
  def readSchema: StructType = StructType(readOrder.map(schema(_)))

  // the point layout's parameters, read off its manifest
  def res(implicit ev: L <:< SpatialTable.PointLayout): Int = ev(layout).res
  def prefixRes(implicit ev: L <:< SpatialTable.PointLayout): Int = ev(layout).prefixRes
  def salts(implicit ev: L <:< SpatialTable.PointLayout): Int = ev(layout).salts
  def period(implicit ev: L <:< SpatialTable.PointLayout): Option[String] = ev(layout).period
  def dtg(implicit ev: L <:< SpatialTable.PointLayout): Option[String] = ev(layout).dtg
}

/**
 * The one table engine under both table kinds: Iceberg-style snapshots
 * (a manifest per snapshot, a commit marker written LAST, idempotent
 * re-runs) over plain partitioned Parquet, parameterised by a
 * [[KeyLayout]].
 *
 * Layout on disk:
 *   <root>/data/snapshot=<id>/[time_bin=<b>/]<keyCol>=<k>/part-*.parquet
 *   <root>/_metrics/snapshot=<id>/...   lineage layouts: per (key, salt)
 *       rows and sortCol range
 *   <root>/_manifests/<id>.json         the manifest ([[TableManifest]])
 *   <root>/_manifests/<id>.committed    commit marker (last write)
 *   <root>/index_<attr>/..., <root>/_stats/<id>.json   see [[Snapshots]]
 *   and [[TableStats]]
 *
 * Every metadata file is written to a hidden sibling and renamed into
 * place ([[Snapshots.writeString]]), so a crash never leaves a
 * committed snapshot with a half-written manifest, marker or sidecar.
 */
object TableEngine {

  private val mapper = new ObjectMapper()

  private[table] def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerPath(root: String, id: String): String = s"$root/_manifests/$id.committed"

  def isCommitted(spark: SparkSession, root: String, snapshotId: String): Boolean =
    fs(spark, root).exists(new Path(markerPath(root, snapshotId)))

  // ---- the manifest codec ----------------------------------------------

  /** Parse a snapshot's manifest; its top-level fields decide the table
    * kind (point manifests always carry `prefix_res`). */
  def manifest(spark: SparkSession, root: String, snapshotId: String): TableManifest[KeyLayout] = {
    val n = mapper.readTree(
      try Snapshots.readString(fs(spark, root), new Path(s"$root/_manifests/$snapshotId.json"))
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"no manifest for snapshot $snapshotId under $root")
      })
    val layout: KeyLayout =
      if (n.has("prefix_res")) SpatialTable.PointLayout.parse(n) else GeomTable.Manifest.parse(n)
    val schema = Option(n.get("schema"))
      .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType]).getOrElse(new StructType())
    val parts = Map.newBuilder[Key, Long]
    val ranges = Map.newBuilder[Key, (Long, Long)]
    Option(n.get("partitions")).foreach(_.elements().asScala.foreach { e =>
      val k = Key(Option(e.get("time_bin")).map(_.asInt), e.get(layout.keyCol).asLong)
      parts += k -> e.get("rows").asLong
      if (e.has("min_cell")) ranges += k -> (e.get("min_cell").asLong -> e.get("max_cell").asLong)
    })
    val sources = Option(n.get("sources")).map(_.fields().asScala.map { e =>
      val k = e.getKey.split('/') match {
        case Array(b, v) => Key(Some(b.toInt), v.toLong)
        case Array(v) => Key(None, v.toLong)
        case other => throw new IllegalStateException(s"bad sources key '${other.mkString("/")}'")
      }
      k -> e.getValue.asText
    }.toMap)
    TableManifest(snapshotId, layout, schema, parts.result(), ranges.result(),
      sources.getOrElse(Map.empty), scoped = sources.isDefined, keyed = n.has("partitions"))
  }

  /** Serialize a manifest into place (not the commit marker). */
  private[table] def writeManifest(spark: SparkSession, root: String,
                                   m: TableManifest[KeyLayout]): Unit = {
    val node = mapper.createObjectNode()
    node.put("snapshot", m.snapshot)
    m.layout.header(node)
    node.set[JsonNode]("schema", mapper.readTree(m.schema.json))
    val parts = node.putArray("partitions")
    m.partitions.toSeq.sortBy(e => m.relpath(e._1)).foreach { case (k, rows) =>
      val e = parts.addObject()
      k.bin.foreach(e.put("time_bin", _))
      e.put(m.layout.keyCol, k.value)
      e.put("rows", rows)
      m.ranges.get(k).foreach { case (lo, hi) => e.put("min_cell", lo); e.put("max_cell", hi) }
    }
    if (m.scoped) {
      val s = node.putObject("sources")
      m.sources.toSeq.sortBy(e => m.relpath(e._1)).foreach { case (k, v) => s.put(k.sourceKey, v) }
    }
    val f = fs(spark, root)
    f.mkdirs(new Path(s"$root/_manifests"))
    Snapshots.writeString(f, s"$root/_manifests/${m.snapshot}.json", mapper.writeValueAsString(node))
  }

  private def commitMarker(spark: SparkSession, root: String, id: String): Unit =
    Snapshots.writeString(fs(spark, root), markerPath(root, id), "")

  // ---- reads -----------------------------------------------------------

  /**
   * Full snapshot scan, planned from the manifest. Every live key
   * becomes one leaf of a [[SnapshotIndex]]: the key's directory under
   * the snapshot that physically holds it, with the key's values as the
   * partition values. The manifest schema is the scan schema — no footer
   * inference — so building the DataFrame lists nothing, and a fully
   * deleted snapshot reads as an empty frame with the manifest schema.
   * Legacy manifests (no partition list) read their directory.
   */
  def read(spark: SparkSession, root: String, m: TableManifest[KeyLayout]): DataFrame =
    if (!m.keyed) spark.read.parquet(s"$root/data/snapshot=${m.snapshot}")
    else scan(spark, root, m, m.physicalKeys.toSeq)

  /** A scan over the given live keys (key -> physical holder), sized
    * by the keys' manifest row counts. */
  private def scan(spark: SparkSession, root: String, m: TableManifest[KeyLayout],
                   keys: Seq[(Key, String)]): DataFrame =
    SnapshotIndex.scan(spark, m.readSchema, m.layout.partitionCols,
      keys.sortBy(e => m.relpath(e._1)).map { case (k, src) =>
        (k.values, s"$root/data/snapshot=$src/${m.relpath(k)}")
      }, Some(keys.map(e => m.partitions(e._1)).sum))

  /** Index layout scan, planned like [[read]] (Snapshots.indexRead).
    * Manifests without a schema (legacy extent) read the directory. */
  def indexRead(spark: SparkSession, root: String, m: TableManifest[KeyLayout],
                attr: String): DataFrame =
    if (m.schema.isEmpty) spark.read.parquet(s"$root/index_$attr/snapshot=${m.snapshot}")
    else Snapshots.indexRead(spark, root, m.snapshot, attr, m.readSchema)

  /** The distinct partition keys a DataFrame's rows occupy. */
  private def keysIn(layout: KeyLayout, df: DataFrame): Seq[Key] =
    df.select(layout.partitionCols.map(col): _*).distinct().collect().toSeq.map(keyOf(layout, _))

  private def keyOf(layout: KeyLayout, r: Row): Key =
    if (layout.temporal) Key(Some(r.getInt(0)), r.getLong(1)) else Key(None, r.getLong(0))

  // ---- writes ----------------------------------------------------------

  /**
   * Write a snapshot of `df` under `layout`. The sort MUST lead with the
   * partition columns: partitionBy's writer re-sorts any task whose rows
   * are not already ordered by the partition expressions, which would
   * silently destroy the `sortCol` ordering (and its row-group min/max
   * stats). Idempotent per (root, snapshotId): an existing commit
   * marker makes it a no-op, so a failed job simply re-runs.
   */
  def write(spark: SparkSession, df: DataFrame, root: String, snapshotId: String,
            layout: KeyLayout, partitions: Int): Unit = {
    if (isCommitted(spark, root, snapshotId)) return
    val keyed = layout.withDerived(df)
    writeData(keyed, root, snapshotId, layout, partitions)
    recordWritten(spark, root, snapshotId, layout, keyed.schema, parent = None)
    commitMarker(spark, root, snapshotId)
  }

  private def writeData(keyed: DataFrame, root: String, id: String, layout: KeyLayout,
                        width: Int): Unit =
    keyed.repartition(width, layout.shuffleCols.map(col): _*)
      .sortWithinPartitions((layout.partitionCols :+ layout.sortCol).map(col): _*)
      .write.mode("overwrite").partitionBy(layout.partitionCols: _*)
      .parquet(s"$root/data/snapshot=$id")

  /**
   * Records what a snapshot's data directory holds: ONE aggregate over
   * the files just written gives the rows per written key (per key and
   * salt, with the `sortCol` range, on lineage layouts), and `parent`'s
   * manifest entries carry the inherited keys through by reference.
   * Lineage layouts write `_metrics` from the same rows plus the
   * parent's rows for the inherited keys (the provenance column keeps
   * the PHYSICAL holder, so the lineage table shows where files live).
   * Then the manifest; the commit marker is the caller's.
   */
  private def recordWritten(spark: SparkSession, root: String, to: String, layout: KeyLayout,
                            schema: StructType,
                            parent: Option[(TableManifest[KeyLayout], Seq[Key])]): Unit = {
    val keyCols = layout.partitionCols
    val groupCols = if (layout.lineage) keyCols :+ "salt" else keyCols
    val aggs = count(lit(1)).as("rows") +: (if (!layout.lineage) Nil
      else Seq(min(layout.sortCol).as("min_cell"), max(layout.sortCol).as("max_cell")))
    // the schema is KNOWN (we just wrote it) — passing it skips footer
    // inference and keeps an empty write (no data files) valid
    val grouped = spark.read.schema(schema).parquet(s"$root/data/snapshot=$to")
      .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val rows = grouped.collect()
    val at = groupCols.size
    val written = rows.groupBy(keyOf(layout, _)).map { case (k, rs) =>
      k -> (rs.map(_.getLong(at)).sum,
        if (layout.lineage) Some(rs.map(_.getLong(at + 1)).min -> rs.map(_.getLong(at + 2)).max)
        else None)
    }
    val inherited = parent.map(_._2).getOrElse(Nil)
    if (layout.lineage) {
      val fresh = spark.createDataFrame(rows.toSeq.asJava, grouped.schema)
        .withColumn("snapshot", lit(to))
      val metrics = parent match {
        case Some((from, keys)) if keys.nonEmpty =>
          val keySchema = StructType(keyCols.map(c =>
            StructField(c, if (c == "time_bin") IntegerType else LongType)))
          val inh = spark.createDataFrame(keys.map(k => Row.fromSeq(k.values)).asJava, keySchema)
          // the parent's lineage has the same columns: reading it with
          // them skips a schema-inference job
          fresh.unionByName(spark.read.schema(fresh.schema)
            .parquet(s"$root/_metrics/snapshot=${from.snapshot}")
            .join(broadcast(inh), keyCols, "left_semi"))
        case _ => fresh
      }
      // written in (key, salt) order, so the same commit writes the same
      // bytes on every run (no extra job: the sort is inside the one task)
      metrics.coalesce(1).sortWithinPartitions(groupCols.map(col): _*)
        .write.mode("overwrite").parquet(s"$root/_metrics/snapshot=$to")
    }
    val m0 = TableManifest[KeyLayout](to, layout, schema, written.map(e => e._1 -> e._2._1),
      written.collect { case (k, (_, Some(r))) => k -> r }, Map.empty, scoped = false, keyed = true)
    writeManifest(spark, root, parent match {
      case None => m0
      case Some((from, keys)) =>
        m0.copy(partitions = keys.map(k => k -> from.partitions(k)).toMap ++ m0.partitions,
          ranges = keys.flatMap(k => from.ranges.get(k).map(k -> _)).toMap ++ m0.ranges,
          sources = keys.map(k => k -> from.physicalKeys(k)).toMap ++ written.keys.map(_ -> to),
          scoped = true)
    })
  }

  // ---- attribute-index layouts -----------------------------------------

  /**
   * Attribute-index layout — the analog of the reference's
   * AttributeIndex (geomesa-index-api/.../attribute/AttributeIndex
   * .scala:278-372: rows keyed attribute-first with tiered date/z). A
   * second copy of the snapshot bucketed by the attribute's hash and
   * SORTED by (attr, tier?, sortCol) inside each file, so a selective
   * attribute predicate becomes bucket-directory pruning plus row-group
   * min/max skipping on the sorted attribute. With a tier column —
   * typically the dtg — an attr-equality + time-range scan also skips
   * row groups on the tier's stats. The commit marker records the bucket
   * count (readers must hash with the WRITTEN modulus — a mismatched one
   * probes the wrong bucket and silently finds nothing) and, on a second
   * line, the tier column, so rebuilds keep the tiered sort.
   */
  def writeAttributeIndex(spark: SparkSession, root: String, snapshotId: String,
                          attrCol: String, buckets: Int, tierCol: Option[String]): Unit = {
    val marker = Snapshots.indexMarkerPath(root, snapshotId, attrCol)
    val f = fs(spark, root)
    if (f.exists(new Path(marker))) return // resume: done
    val m = manifest(spark, root, snapshotId)
    writeIndex(read(spark, root, m)
      .withColumn("attr_bucket", pmod(xxhash64(col(attrCol)), lit(buckets)).cast("int")),
      root, snapshotId, attrCol, buckets, tierCol, m.layout.sortCol)
    Snapshots.writeString(f, marker, (buckets.toString +: tierCol.toSeq).mkString("\n"))
  }

  /** Writes index rows into a layout over `width` tasks, sorted by
    * (attr_bucket, lead, attr, tier?, sortCol) — leading with the
    * partition column, or partitionBy's writer re-sorts and loses the
    * order. One task writes each bucket, so a bucket gets one file per
    * write; one task needs no shuffle. `append` adds to what an earlier
    * write of the same commit left. */
  private def writeIndex(rows: DataFrame, root: String, id: String, attr: String, width: Int,
                         tier: Option[String], sortCol: String, lead: Seq[String] = Nil,
                         append: Boolean = false): Unit =
    (if (width == 1) rows.coalesce(1) else rows.repartition(width, col("attr_bucket")))
      .sortWithinPartitions((("attr_bucket" +: lead) ++ (attr +: tier.toSeq :+ sortCol)).map(col): _*)
      .write.mode(if (append) "append" else "overwrite").partitionBy("attr_bucket")
      .parquet(s"$root/index_$attr/snapshot=$id")

  /** xxhash64 hashes by the literal's TYPE (an Int literal hashes
    * differently from the Long column it targets), so the write-time
    * bucket only matches if the probe is cast to the column's type. */
  def typedLit(idx: DataFrame, targetCol: String, value: Any): Column =
    lit(value).cast(idx.schema(targetCol).dataType)

  private def inBucket(idx: DataFrame, attrCol: String, value: Any, n: Int): Column =
    col("attr_bucket") === pmod(xxhash64(typedLit(idx, attrCol, value)), lit(n)).cast("int")

  /** The index rows in the bucket `value` hashes to; every bucket when
    * the modulus is unknown (sorted-file stats still skip). */
  def bucketOf(idx: DataFrame, attrCol: String, value: Any, buckets: Option[Int]): DataFrame =
    buckets.fold(idx)(n => idx.where(inBucket(idx, attrCol, value, n)))

  /** Above this many ids the literal OR-chain flips to a semi-join (a
    * ~10k-disjunct Catalyst predicate risks codegen fallback/analysis
    * blowup long before any documented limit). Below it, plan-time
    * bucket constants buy partition-directory pruning the join form
    * cannot express. */
  val IdPredicateLimit = 256

  /** Multi-id lookup through an index layout: an OR of `(bucket =
    * hash(id) AND id = v)` disjuncts below [[IdPredicateLimit]], a
    * semi-join above it. `probe` is the modulus the lookup hashes with. */
  def readByIds(spark: SparkSession, root: String, m: TableManifest[KeyLayout],
                idCol: String, values: Seq[Any], probe: Option[Int]): DataFrame = {
    require(values.nonEmpty, "readByIds needs at least one id")
    val idx = indexRead(spark, root, m, idCol)
    if (values.size > IdPredicateLimit) {
      // the probe frame holds the ids in the column's own type, each
      // value cast the way typedLit casts a literal probe — never via
      // its string rendering, which binary ids (and timestamps rendered
      // in another zone) do not survive
      val dt = idx.schema(idCol).dataType
      val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
      val rows = values.distinct.map { v =>
        Row(CatalystTypeConverters.convertToScala(Cast(Literal(v), dt, tz).eval(), dt))
      }
      val ids = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField(idCol, dt))))
      return readByIdsDf(idx, idCol, ids, probe)
    }
    idx.where(values.map { v =>
      val eq = col(idCol) === lit(v)
      probe.fold(eq)(n => inBucket(idx, idCol, v, n) && eq)
    }.reduce(_ || _))
  }

  /** Id lookup from a DataFrame of ids: a left-semi join on
    * (attr_bucket, id), the probe side bucketed with the SAME
    * hash-of-cast the writer used. */
  def readByIdsDf(idx: DataFrame, idCol: String, ids: DataFrame, b: Option[Int]): DataFrame = {
    val dt = idx.schema(idCol).dataType
    // no distinct: a semi-join's result does not depend on probe repeats,
    // and over a layout with deltas the join runs once per read branch
    val probe = ids.select(col(idCol).cast(dt).as(idCol))
    val joined = b match {
      case Some(n) =>
        val keyed = probe.withColumn("attr_bucket", pmod(xxhash64(col(idCol)), lit(n)).cast("int"))
        idx.join(keyed, Seq("attr_bucket", idCol), "left_semi")
      case None => idx.join(probe, Seq(idCol), "left_semi")
    }
    // a using-columns join fronts the join keys — restore the layout's
    // column order so both lookup paths present identical schemas
    joined.select(idx.columns.toSeq.map(col): _*)
  }

  /**
   * An index bucket FOLDS — its base is rewritten whole and its delta
   * dropped — once its delta's rows plus tombstones would pass this
   * fraction of an average bucket (the source snapshot's rows over the
   * bucket modulus). Below it a commit rewrites only the bucket's delta.
   * Measured on a 30k-row point table with 8-bucket `id` and `name`
   * layouts: an upsert commit took 3.1-4.0 s writing deltas and 3.3-4.3 s
   * folding, whether its changed rows were 2.7 % or 53 % of a bucket, and
   * a read through a delta took a constant ~100 ms more than through a
   * folded bucket (the tombstone broadcast and the union). So at that
   * scale the fraction trades nothing against time; it bounds what grows
   * with it — the dead base rows and delta rows a layout stores, and the
   * tombstones a read broadcasts — to about 15 % of the layout, 1.5× above
   * the query_mix commit chain's peak (0.08-0.10 of an average bucket,
   * seeds 7 and 11-16, in the `name` bucket of the most common value),
   * so the chain never folds. Tiny tables fold on nearly every change.
   */
  val FoldFraction = 0.15

  /**
   * Delta-scoped secondary-index maintenance: only the attr_buckets where
   * a mutated row's attribute value hashes (old value OR new value) are
   * written, and every other bucket is inherited by reference through
   * the index sources sidecar ([[Snapshots.IndexLayout]]). `touched` is
   * the changed rows per such bucket. A touched bucket gets a new
   * cumulative delta — its earlier delta rows minus the removed ids plus
   * the added rows, and its earlier tombstones plus the removed ids — or
   * folds into a new base (the bucket's rows minus the removed ids plus
   * the added rows) past [[FoldFraction]], when it has no base yet, or
   * when its tombstones key another id column. The bucket modulus and
   * tier column are preserved from the source layout's commit marker.
   */
  private def rebuildIndexScoped(spark: SparkSession, root: String, info: TableManifest[KeyLayout],
                                 to: String, attr: String, touched: Map[Int, Long],
                                 removed: DataFrame, addedIndexed: DataFrame,
                                 idCol: String): Unit = {
    val fromMarker = Snapshots.indexMarker(spark, root, info.snapshot, attr)
    val n = fromMarker.flatMap(Snapshots.bucketsOf).getOrElse(16)
    val tier = fromMarker.flatMap(_.lift(1))
    val src = Snapshots.indexLayout(spark, root, info.snapshot, attr)
    val phys = src.buckets
    val rekeyed =
      if (src.idCol.forall(_ == idCol)) Set.empty[Int] else phys.filter(_._2.delta.isDefined).keySet
    val limit = FoldFraction * info.rows / n
    val deltas = touched.map { case (b, c) => b -> (phys.get(b).fold(0L)(_.size) + c) }
      .filter { case (b, size) => phys.contains(b) && !rekeyed(b) && size <= limit }
    val folds = (touched.keySet ++ rekeyed) -- deltas.keys
    val schema = info.readSchema
    val order = info.readOrder :+ "attr_bucket"
    def bucketed(df: DataFrame, bs: Iterable[Int]) =
      df.withColumn("attr_bucket", pmod(xxhash64(col(attr)), lit(n)).cast("int"))
        .where(col("attr_bucket").isin(bs.toSeq: _*))
    def added(bs: Iterable[Int]) = bucketed(addedIndexed, bs).select(order.map(col): _*)
    // the removed rows' (attr_bucket, id): what leaves those buckets
    def gone(bs: Iterable[Int]) = bucketed(removed, bs).select("attr_bucket", idCol)
    def minus(df: DataFrame, bs: Iterable[Int]) =
      df.join(gone(bs), Seq("attr_bucket", idCol), "left_anti").select(order.map(col): _*)
    def write(rows: DataFrame, width: Int, lead: Seq[String], append: Boolean) =
      writeIndex(rows, root, to, attr, width, tier, info.layout.sortCol, lead, append)
    if (folds.nonEmpty) {
      val old = Snapshots.layoutRead(spark, root, attr, schema,
        src.copy(buckets = phys.filter(e => folds(e._1))))
      write(minus(old, folds).unionByName(added(folds)), folds.size, Nil, append = false)
    }
    if (deltas.nonEmpty) {
      val prev = deltas.keys.toSeq.map(b => b -> phys(b)).filter(_._2.delta.isDefined)
      val (rows, tombs) = Snapshots.deltaOf(spark, root, attr, schema, prev)
      def tombstones(df: DataFrame) = df.select(order.map { c =>
        if (c == idCol || c == "attr_bucket") col(c) else lit(null).cast(schema(c).dataType).as(c)
      } :+ lit(true).as(Snapshots.Tombstone): _*)
      val kept = if (prev.isEmpty) added(deltas.keys)
        else minus(rows, deltas.keys).unionByName(added(deltas.keys))
      // deltas are small by construction: a task writes about an average
      // bucket's worth of them
      write(kept.withColumn(Snapshots.Tombstone, lit(false))
        .unionByName(tombstones(tombs)).unionByName(tombstones(gone(deltas.keys))),
        math.ceil(deltas.values.sum / math.max(1.0, info.rows.toDouble / n)).toInt.max(1),
        Seq(Snapshots.Tombstone), append = folds.nonEmpty)
    }
    // an emptied folded bucket got no files and is dropped from the map;
    // a delta always holds a row or a tombstone
    val written = Snapshots.listedBuckets(spark, root, to, attr).toSet
    val buckets = (phys -- folds -- deltas.keys) ++ folds.filter(written).map(_ -> Snapshots.IndexBucket(to)) ++
      deltas.map { case (b, size) => b -> Snapshots.IndexBucket(phys(b).base, Some(to), size) }
    Snapshots.writeIndexSources(spark, root, to, attr, Snapshots.IndexLayout(
      Some(idCol).filter(_ => buckets.values.exists(_.delta.isDefined)), buckets))
    Snapshots.writeString(fs(spark, root), Snapshots.indexMarkerPath(root, to, attr),
      (n.toString +: tier.toSeq).mkString("\n"))
  }

  // ---- mutations (FeatureWriter / removeFeatures analogs) --------------
  //
  // A whole-table copy-on-write made every one-row mutation re-write
  // every data file, every index layout, and re-collect stats. The scoped
  // commit rewrites ONLY the partition keys a mutation touches and
  // carries every untouched key into the new snapshot's manifest BY
  // REFERENCE (`sources`), so mutation cost scales with |touched data|,
  // not |table|. Reference semantics: row-granular update/delete/upsert
  // with every index kept consistent (AccumuloFeatureWriterTest:52-171).
  // The reference writes per-feature index mutations that its LSM store
  // merges on read and compacts later; here each index bucket a commit
  // touches takes a new cumulative DELTA over its unchanged BASE — the
  // changed rows, plus TOMBSTONES for the ids removed from the base —
  // that reads merge (Snapshots.layoutRead), and FOLDS into a new base
  // once the delta passes FoldFraction of an average bucket. Untouched
  // buckets carry over by reference, and stats are writer-maintained.

  /** The source of a mutation: checked and parsed. */
  def source(spark: SparkSession, root: String, from: String, to: String): TableManifest[KeyLayout] = {
    require(from != to, "mutation must target a NEW snapshot id")
    require(isCommitted(spark, root, from), s"source snapshot $from not committed")
    manifest(spark, root, from)
  }

  /**
   * Copy-on-write snapshot rewrite — the whole-table mutation: read the
   * source snapshot, apply `transform` to the user columns, and commit
   * the result as a NEW snapshot under the same layout. Derived columns
   * re-derive, so a moved geometry lands in its new key; every index
   * layout the source had is rebuilt in full (same bucket counts and
   * tier), and stats re-collect over the attributes the source tracked.
   * The data snapshot and each index layout commit under their OWN
   * markers: a crash between them leaves the data readable and the index
   * unlisted, and re-running the same call heals the missing layouts.
   * `from` is a checked [[source]].
   */
  def rewrite(spark: SparkSession, root: String, from: TableManifest[KeyLayout], to: String,
              transform: DataFrame => DataFrame, partitions: Int): Unit = {
    val base = read(spark, root, from).drop(from.layout.derivedCols.toSeq: _*)
    write(spark, transform(base), root, to, from.layout, partitions)
    Snapshots.indexedColumns(spark, root, from.snapshot).foreach { case (a, buckets) =>
      writeAttributeIndex(spark, root, to, a, buckets.getOrElse(16),
        Snapshots.indexMarker(spark, root, from.snapshot, a).flatMap(_.lift(1)))
    }
    TableStats.cached(spark, root, from.snapshot).foreach { st =>
      TableStats.collectLayout(spark, root, to, st.attributes.keys.toSeq.sorted, from.layout)
    }
  }

  /**
   * The scoped commit under every mutation. `removed`/`addedUser` are the
   * old and new versions of the mutated rows; `removed` is cached by the
   * caller, as every step below reads it. The keys holding removed rows,
   * plus `newKeys` (keys the caller knows the added rows derive into),
   * are `p0`: the keys whose source rows feed `transform`, which maps
   * those keys' USER rows to their replacement rows. `mayMove` runs the
   * mover closure: a transformed row whose re-derived key lands OUTSIDE
   * p0 pulls that key into the rewrite (its untouched rows merge in), so
   * a moved geometry can never be lost or duplicated.
   *
   * Commit order: the data (with `_metrics` and the manifest) and each
   * index layout side by side, as none reads another's output; then
   * stats, and the commit marker LAST — a crash anywhere re-runs
   * idempotently (all outputs deterministic given the source snapshot
   * and inputs).
   */
  private def commitScoped(spark: SparkSession, root: String, info: TableManifest[KeyLayout],
                           to: String, newKeys: Seq[Key], transform: DataFrame => DataFrame,
                           removed: DataFrame, addedUser: Option[DataFrame], mayMove: Boolean,
                           idCol: String): Unit = {
    if (isCommitted(spark, root, to)) return
    val layout = info.layout
    val srcPhys = info.physicalKeys
    val userFields = info.schema.fields.filterNot(f => layout.derivedCols(f.name))
    cached(layout.withDerived(addedUser.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(userFields))))) { addedIndexed =>
      // resume: a layout already committed is done
      val indexes = Snapshots.indexedColumns(spark, root, info.snapshot).toSeq.sortBy(_._1)
        .map { case (a, n) => a -> n.getOrElse(16) }
        .filterNot { case (a, _) => fs(spark, root).exists(new Path(Snapshots.indexMarkerPath(root, to, a))) }
      val (removedKeys, touched) = changes(layout, indexes, removed, addedIndexed)
      val p0 = (removedKeys ++ newKeys).distinct
      val p0live = p0.filter(srcPhys.contains)
      def srcRows(keys: Seq[Key]): DataFrame =
        scan(spark, root, info, keys.map(k => k -> srcPhys(k)))
          .select(userFields.toSeq.map(f => col(f.name)): _*)

      def data(): Unit = {
        val out0 = layout.withDerived(transform(srcRows(p0live)))
        val (newData, pTouched) =
          if (!mayMove) (out0, p0)
          else {
            // mover closure: one tiny aggregate over the transformed rows
            val p1 = keysIn(layout, out0)
            val extra = (p1.toSet -- p0live.toSet).toSeq.filter(srcPhys.contains)
            (if (extra.isEmpty) out0 else out0.unionByName(layout.withDerived(srcRows(extra))),
              (p0 ++ p1).distinct)
          }
        // shuffle width scales with |touched keys|, never the table
        writeData(newData, root, to, layout,
          math.max(1, math.min(layout.mutationPartitions, pTouched.size.max(1) * layout.spread)))
        val inherited = (srcPhys.keySet -- pTouched.toSet).toSeq.sortBy(info.relpath)
        recordWritten(spark, root, to, layout, StructType(info.schema.fields), Some(info -> inherited))
      }
      // a commit's small jobs mostly wait on the driver: the data and the
      // delta-scoped index layouts overlap
      concurrently((() => data()) +: indexes.map { case (a, _) =>
        () => rebuildIndexScoped(spark, root, info, to, a, touched(a), removed, addedIndexed, idCol)
      })
      // writer-maintained stats, then the marker
      TableStats.applyMutationDelta(spark, root, info.snapshot, to, removed, addedIndexed,
        layout.boundsCols)
    }
    commitMarker(spark, root, to)
  }

  /** ONE aggregate over a commit's changed rows: the keys holding the
    * removed rows, and the changed rows per bucket of each index layout
    * `(attr, modulus)` — a removed or added row counts in the bucket its
    * value hashes to. */
  private def changes(layout: KeyLayout, indexes: Seq[(String, Int)], removed: DataFrame,
                      added: DataFrame): (Seq[Key], Map[String, Map[Int, Long]]) = {
    val none = lit(null).cast("int")
    def buckets(df: DataFrame) = indexes.zipWithIndex.map { case ((a, n), i) =>
      struct(lit(i).as("i"), none.as("bin"), pmod(xxhash64(df(a)), lit(n)).as("v"))
    }
    def hits(df: DataFrame, cs: Seq[Column]) = df.select(explode(array(cs: _*)).as("h")).select("h.*")
    val key = struct(lit(-1).as("i"), (if (layout.temporal) col("time_bin") else none).as("bin"),
      col(layout.keyCol).cast("long").as("v"))
    val rows = (hits(removed, key +: buckets(removed)) +: (if (indexes.isEmpty) Nil
      else Seq(hits(added, buckets(added))))).reduce(_ unionByName _)
      .groupBy("i", "bin", "v").count().collect()
    val (keys, counts) = rows.partition(_.getInt(0) < 0)
    (keys.map(r => Key(if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getLong(2))).toSeq,
      indexes.zipWithIndex.map { case ((a, _), i) =>
        a -> counts.filter(_.getInt(0) == i).map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      }.toMap)
  }

  /** Runs `bodies` on threads of their own (which inherit the caller's
    * Spark job properties) and waits for EVERY one before returning or
    * rethrowing the first failure, so no write outlives the call. */
  private def concurrently(bodies: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() =>
      try b() catch { case t: Throwable => failures.add(t) }, "graft-commit"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.peek()).foreach(t => throw t)
  }

  /** `body` over `df` cached, for a commit's removed and added rows:
    * its key and bucket counts, every index layout and the stats delta
    * read them. */
  private def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(c) finally c.unpersist()
  }

  /** A CQL predicate over the user columns, null-safe for mutation
    * routing: rows where the filter evaluates NULL (e.g. `name = 'x'`
    * with a null name) are NOT matched, per filter semantics. */
  private def cqlPred(df: DataFrame, cql: String, layout: KeyLayout, idCol: String,
                      props: Map[String, Column]): Column =
    coalesce(graft.plans.Cql.parse(cql, layout.geomProps(df) ++ props, idCol,
      graft.plans.Cql.arrayProps(df)), lit(false))

  /** Runs the file-granular `scoped` commit when the source's manifest
    * allows it, else commits `transform` by the whole-table rewrite. */
  private def scopedOr(spark: SparkSession, root: String, info: TableManifest[KeyLayout],
                       to: String, transform: DataFrame => DataFrame)(scoped: => Unit): Unit =
    if (info.layout.scopes(info)) scoped
    else rewrite(spark, root, info, to, transform, info.layout.mutationPartitions)

  /** removeFeatures(filter): keeps the rows the filter does NOT match. */
  def deleteWhere(spark: SparkSession, root: String, info: TableManifest[KeyLayout], to: String,
                  cql: String, idCol: String, props: Map[String, Column]): Unit = {
    def remove(df: DataFrame): DataFrame = df.where(!cqlPred(df, cql, info.layout, idCol, props))
    scopedOr(spark, root, info, to, remove) {
      val src = read(spark, root, info)
      cached(src.where(cqlPred(src, cql, info.layout, idCol, props))) { matched =>
        commitScoped(spark, root, info, to, Nil, remove,
          removed = matched, addedUser = None, mayMove = false, idCol)
      }
    }
  }

  /** The stored rows of the given ids: through the id index when the
    * snapshot has one (bucket-pruned, no table scan) — a batch of
    * distinct ids the caller found small enough (`literal`) by its
    * literal lookup, others (no driver id list, no size ceiling) by its
    * semi-join — else by one column-complete semi-join scan. */
  private def rowsOfIds(spark: SparkSession, root: String, info: TableManifest[KeyLayout],
                        ids: DataFrame, idCol: String, literal: Boolean): DataFrame =
    Snapshots.indexedColumns(spark, root, info.snapshot).get(idCol) match {
      case None => read(spark, root, info).join(ids.select(idCol).distinct(), Seq(idCol), "left_semi")
      case Some(b) =>
        val idx = indexRead(spark, root, info, idCol)
        (if (!literal) readByIdsDf(idx, idCol, ids.select(idCol), b)
         else ids.select(idCol).collect().map(_.get(0)).toSeq match {
           case Seq() => idx.limit(0)
           case vs => readByIds(spark, root, info, idCol, vs, b)
         }).drop("attr_bucket")
    }

  /** removeFeatures by a DataFrame of ids (no driver-side id list). */
  def deleteIds(spark: SparkSession, root: String, info: TableManifest[KeyLayout], to: String,
                ids: DataFrame, idCol: String): Unit = {
    val idsOnly = ids.select(idCol)
    def remove(df: DataFrame): DataFrame = df.join(idsOnly, Seq(idCol), "left_anti")
    scopedOr(spark, root, info, to, remove) {
      cached(rowsOfIds(spark, root, info, idsOnly, idCol, literal = false)) { matched =>
        commitScoped(spark, root, info, to, Nil, remove,
          removed = matched, addedUser = None, mayMove = false, idCol)
      }
    }
  }

  /** modifyFeatures(attrs, values, filter); a set that moves a row
    * re-homes it through the mover closure. */
  def updateWhere(spark: SparkSession, root: String, info: TableManifest[KeyLayout], to: String,
                  cql: String, sets: Map[String, Column], idCol: String,
                  props: Map[String, Column]): Unit = {
    require(sets.nonEmpty, "updateWhere needs at least one column to set")
    // materialize the match ONCE: the predicate may reference columns
    // being set, and folding withColumn would re-evaluate it against
    // already-updated values for the later sets
    def update(df: DataFrame): DataFrame = {
      require(sets.keys.forall(df.columns.contains),
        s"unknown columns: ${sets.keys.filterNot(df.columns.contains).mkString(", ")}")
      val matched = df.withColumn("__match", cqlPred(df, cql, info.layout, idCol, props))
      sets.foldLeft(matched) { case (d, (name, value)) =>
        d.withColumn(name, when(col("__match"), value).otherwise(col(name)))
      }.drop("__match")
    }
    scopedOr(spark, root, info, to, update) {
      val src = read(spark, root, info)
      cached(src.where(cqlPred(src, cql, info.layout, idCol, props))) { matched =>
        // every matched row matches — the added versions apply the sets
        // unconditionally (the values the transform produces for them)
        val added = sets.foldLeft(matched.drop(info.layout.derivedCols.toSeq: _*)) {
          case (d, (name, value)) => d.withColumn(name, value)
        }
        commitScoped(spark, root, info, to, Nil, update,
          removed = matched, addedUser = Some(added), mayMove = true, idCol)
      }
    }
  }

  /** Rows of `updates` whose id exists REPLACE the stored row; new ids
    * append. New rows' keys derive without touching the table. */
  def upsert(spark: SparkSession, root: String, info: TableManifest[KeyLayout], to: String,
             updates: DataFrame, idCol: String, idLookupLimit: Long): Unit = {
    // the caller's batch feeds several passes — cache it so an
    // expensive upstream plan runs once
    val incoming = updates.drop(info.layout.derivedCols.toSeq: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def mismatch(cols: Seq[String]) =
        s"upsert schema mismatch: table has [${cols.mkString(",")}], " +
          s"updates have [${incoming.columns.sorted.mkString(",")}]"
      val layout = info.layout
      val scoped = layout.scopes(info)
      if (scoped) {
        val userCols = info.schema.fieldNames.filterNot(layout.derivedCols).sorted
        require(userCols.sameElements(incoming.columns.sorted), mismatch(userCols))
      }
      // ONE job, one task over the cached batch (so grouping by id needs
      // no shuffle): the duplicate ids and, for a scoped commit, the
      // batch's id count and the keys its rows derive into. A DataFrame
      // has no row order, so "last write wins" is undefined for duplicate
      // ids within ONE batch — reject them loudly
      val key = if (scoped) Some(struct(layout.partitionCols.map(col): _*)) else None
      val facts = (if (scoped) layout.withDerived(incoming) else incoming).coalesce(1)
        .groupBy(idCol).agg(count(lit(1)).as("n"), key.map(first(_).as("k")).toSeq: _*)
        .agg(count(lit(1)), collect_list(when(col("n") > 1, col(idCol))) +:
          key.map(_ => collect_set("k")).toSeq: _*)
        .head()
      val dups = facts.getSeq[Any](1).take(5)
      require(dups.isEmpty,
        s"upsert batch has duplicate ids (unordered rows — last-wins is " +
          s"undefined): ${dups.mkString(", ")}")
      def merge(df: DataFrame): DataFrame = {
        require(df.columns.sorted.sameElements(incoming.columns.sorted), mismatch(df.columns.sorted))
        df.join(incoming.select(idCol), Seq(idCol), "left_anti").unionByName(incoming)
      }
      scopedOr(spark, root, info, to, merge) {
        val literal = facts.getLong(0) <= math.min(idLookupLimit, IdPredicateLimit.toLong)
        val pNew = facts.getSeq[Row](2).map(keyOf(layout, _))
        cached(rowsOfIds(spark, root, info, incoming, idCol, literal)) { oldRows =>
          commitScoped(spark, root, info, to, pNew, merge,
            removed = oldRows, addedUser = Some(incoming), mayMove = false, idCol)
        }
      }
    } finally incoming.unpersist()
  }

  // ---- lifecycle ---------------------------------------------------------

  /** Every snapshot whose PHYSICAL files snapshot `id` still reads: the
    * data sources map plus each delta-rebuilt index layout's sources
    * sidecar (excluding `id` itself). The complete by-reference edge set
    * — what overwrite-safety and snapshot GC must both consult. */
  def referencedSnapshots(spark: SparkSession, root: String, id: String): Set[String] = {
    val dataRefs = manifest(spark, root, id).sources.values.toSet
    val idxRefs = Snapshots.indexedColumns(spark, root, id).keys
      .flatMap(a => Snapshots.indexLayout(spark, root, id, a).buckets.values.flatMap(_.holders)).toSet
    (dataRefs ++ idxRefs) - id
  }

  /**
   * Snapshot garbage collection — the Iceberg `expire_snapshots` analog
   * for mutation chains: every snapshot NOT in `keep` and NOT (to a
   * fixpoint) physically referenced by a retained one is deleted, its
   * commit marker first. Kept snapshots — including scoped ones
   * inheriting files from retained ancestors — keep answering
   * identically. Returns the expired ids.
   */
  def expireSnapshots(spark: SparkSession, root: String, keep: Seq[String]): Seq[String] =
    Snapshots.expire(spark, root, keep, refs = referencedSnapshots(spark, root, _))

  /** removeSchema analog: drop the whole table root. */
  def dropTable(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (f.exists(p)) require(f.delete(p, true), s"failed to delete $root")
  }
}

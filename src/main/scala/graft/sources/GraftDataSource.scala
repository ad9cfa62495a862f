package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.table.{GeomTable, Snapshots, SpatialTable, TableEngine}

/**
 * The `spark.read.format("graft")` front door — the packaging analog of
 * the reference's GeoMesaDataSource (geomesa-spark/geomesa-spark-sql/
 * .../GeoMesaSparkSQL.scala:64-95, a DSv1 RelationProvider family), so
 * SQL users get the one-liner and `CREATE TABLE ... USING graft`
 * without touching the programmatic SpatialTable API:
 *
 * {{{
 *   spark.read.format("graft").option("snapshot", "s1").load(root)
 *   df.write.format("graft").option("snapshot", "s2")
 *     .option("id", "event_id").save(root)
 *   CREATE TABLE events_g USING graft OPTIONS (path '/data/events')
 * }}}
 *
 * Read options: `snapshot` (default: latest committed), `lon` / `lat`
 * (geometry columns, default "lon"/"lat"), `cql` (an ECQL filter
 * compiled into the scan — the reference's `geomesa.filter` query
 * param). Write options: `snapshot` (default "s1"), `id`, `lon`,
 * `lat`, `res`, `prefixRes`, `salts`, `partitions`.
 *
 * Catalog semantics: a `CREATE TABLE`d relation resolves its snapshot
 * when the catalog instantiates it and is cached by Spark like any
 * DSv1 table — after external mutations/expiry run `REFRESH TABLE t`
 * (the same contract Spark's own parquet tables have for external
 * writes). `spark.read.format("graft")` reads resolve fresh per load.
 *
 * Pushdown parity with the programmatic path: relational filters
 * translate onto the inner columnar scan (they appear as PushedFilters
 * on the parquet relation), and a conjunction of lon/lat range filters
 * upgrades the scan to [[SpatialTable.readBBox]] — cell_prefix
 * directory pruning + z-range row-group skipping + exact refine, the
 * same three levels every other entry point gets. Snapshots produced
 * by scoped mutations resolve transparently (the relation reads
 * through the manifest like [[SpatialTable.read]]).
 */
class GraftDataSource extends DataSourceRegister
    with RelationProvider with SchemaRelationProvider with CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Both table kinds serve through the one format: the snapshot's
    * manifest decides whether this root is a point table
    * (SpatialTable, cell_prefix layout) or an extent table (GeomTable,
    * xz_chunk layout — lines/polygons). */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (root, snap) = GraftRelation.resolve(spark, parameters)
    val p2 = parameters + ("snapshot" -> snap)
    TableEngine.manifest(spark, root, snap).layout match {
      case _: GeomTable.Manifest => GeomGraftRelation(sqlContext, p2)
      case _ => GraftRelation(sqlContext, p2)
    }
  }

  /** User-supplied schemas are refused rather than silently ignored:
    * the snapshot manifest is the schema authority. */
  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val rel = createRelation(sqlContext, parameters)
    require(schema == rel.schema,
      s"graft tables carry their schema in the snapshot manifest; got $schema, " +
        s"manifest says ${rel.schema}")
    rel
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = GraftRelation.rootOf(parameters)
    val snapshot = parameters.getOrElse("snapshot", "s1")
    val committed = SpatialTable.isCommitted(spark, root, snapshot)
    mode match {
      case SaveMode.ErrorIfExists if committed =>
        throw new IllegalArgumentException(
          s"snapshot $snapshot already committed under $root (snapshots are " +
            "immutable — pick a new snapshot id, or SaveMode.Ignore)")
      case SaveMode.Ignore if committed => // no-op
      case SaveMode.Append =>
        throw new IllegalArgumentException(
          "graft snapshots are immutable — append via SpatialTable.upsert " +
            "against a new snapshot id")
      case m =>
        if (m == SaveMode.Overwrite && committed) {
          // refuse when any OTHER snapshot inherits this one's files (a
          // scoped-mutation descendant): deleting the directory would
          // silently break its resolved reads. The edge set covers BOTH
          // the data sources maps and every delta-rebuilt index layout's
          // sources sidecar (ADVICE r4: a descendant can rewrite all its
          // data prefixes yet still inherit attr_buckets from here)
          val refs = SpatialTable.snapshots(spark, root).filter(_ != snapshot)
            .filter(TableEngine.referencedSnapshots(spark, root, _).contains(snapshot))
          require(refs.isEmpty,
            s"cannot overwrite snapshot $snapshot: snapshot(s) ${refs.mkString(", ")} " +
              "reference its files (scoped-mutation descendants) — mutate forward or " +
              "drop the descendants first")
          // drop ALL of this snapshot's artifacts — data, metrics,
          // manifest, every index layout + its markers/sidecars, stats —
          // so nothing stale answers for the rewritten id
          Snapshots.delete(spark, root, Seq(snapshot))
        }
        val idCol = parameters.getOrElse("id", "id")
        val lonCol = parameters.getOrElse("lon", "lon")
        val latCol = parameters.getOrElse("lat", "lat")
        val res = parameters.getOrElse("res", "9").toInt
        // DSv1 may hand options through a CaseInsensitiveMap whose
        // iteration lowercases keys — accept both spellings for the
        // camelCase option names rather than silently defaulting
        val prefixRes = parameters.get("prefixRes")
          .orElse(parameters.get("prefixres")).getOrElse("4").toInt
        val salts = parameters.getOrElse("salts", "4").toInt
        val nParts = parameters.getOrElse("partitions", "32").toInt
        // sft-style options route the save through writeConfigured, so
        // `geomesa.indices.enabled` / `geomesa.z.splits` / stats-on-write
        // work from the packaged front door exactly like the
        // programmatic API (VERDICT r4 #4: the format path previously
        // skipped secondary indexes and stats). `sft` carries a full
        // reference spec string; bare `geomesa.*` options and an
        // `indexed` column list compose with or replace it.
        val dtg = parameters.get("dtg")
        val period = parameters.getOrElse("period", "day")
        val sftStyle = parameters.contains("sft") || parameters.contains("indexed") ||
          parameters.keys.exists(_.startsWith("geomesa."))
        if (parameters.contains("geom")) {
          // extent (line/polygon) save path: a WKB geometry column
          // selects the GeomTable chunked XZ layout (temporal with dtg);
          // `indexed` and stats-on-write compose like the point path
          // (review r5c #3: the geom branch previously skipped both)
          import graft.table.TableStats
          GeomTable.write(spark, data, root, snapshot,
            parameters("geom"), dtg,
            parameters.getOrElse("res", "12").toInt,
            parameters.getOrElse("period", "week"),
            parameters.getOrElse("partitions", "8").toInt,
            parameters.get("chunkRes").orElse(parameters.get("chunkres"))
              .getOrElse("4").toInt)
          val indexed = parameters.get("indexed").toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
            .filter(data.columns.contains)
          indexed.foreach(a => GeomTable.writeAttributeIndex(spark, root, snapshot, a))
          val wantStats = parameters.get("geomesa.stats.enable") match {
            case Some(v) => v.toBoolean
            case None => indexed.nonEmpty // configured-style write defaults on
          }
          if (wantStats && !TableStats.exists(spark, root, snapshot))
            TableStats.collectGeom(spark, root, snapshot, indexed)
        } else if (sftStyle) {
          import graft.table.Sft
          val sft0 = parameters.get("sft") match {
            case Some(spec) => Sft.parse(parameters.get("typeName")
              .orElse(parameters.get("typename")).getOrElse("features"), spec)
            case None =>
              // synthesized from the DataFrame schema — columns whose
              // types have no sft name (structs etc.) still write; they
              // just carry no sft-level options
              Sft.Schema(parameters.get("typeName")
                .orElse(parameters.get("typename")).getOrElse("features"), None,
                data.schema.fields.toSeq.flatMap { f =>
                  sftTypeName(f.dataType).map(t => Sft.Field(f.name, t, Nil, defaultGeom = false))
                }, Nil)
          }
          // `indexed` marks extra columns index=true; explicit options
          // append LAST so they override the spec's user data
          val indexed = parameters.get("indexed").toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
          val userOpts = parameters.toSeq.filter { case (k, _) =>
            k.startsWith("geomesa.") || k == "override.reserved.words"
          } ++ (if (parameters.contains("salts") &&
              !parameters.contains("geomesa.z.splits") &&
              !sft0.userDataMap.contains("geomesa.z.splits"))
            Seq("geomesa.z.splits" -> salts.toString) else Nil)
          val sft = sft0.copy(
            fields = sft0.fields.map { f =>
              if (indexed(f.name) && !f.options.exists(_._1 == "index"))
                f.copy(options = f.options :+ ("index" -> "true"))
              else f
            },
            userData = sft0.userData ++ userOpts)
          SpatialTable.writeConfigured(spark, data, root, snapshot, sft, idCol,
            lonCol, latCol, res, prefixRes, nParts, dtg, period)
        } else dtg match {
          // a dtg option selects the temporal (time_bin, cell_prefix)
          // layout — the FS datastore's `daily,z2`-style config as
          // format options
          case Some(dtgCol) =>
            SpatialTable.writeTemporal(spark, data, root, snapshot, idCol, lonCol, latCol,
              dtgCol, period, res, prefixRes, salts, nParts)
          case None =>
            SpatialTable.write(spark, data, root, snapshot, idCol, lonCol, latCol,
              res, prefixRes, salts, nParts)
        }
    }
    createRelation(sqlContext, parameters + ("snapshot" -> snapshot))
  }

  /** Spark type -> sft canonical type name, for synthesizing an sft
    * from a DataFrame schema when no `sft` spec option is given. */
  private def sftTypeName(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some("String")
      case IntegerType => Some("Integer")
      case LongType => Some("Long")
      case DoubleType => Some("Double")
      case FloatType => Some("Float")
      case BooleanType => Some("Boolean")
      case TimestampType => Some("Date")
      case BinaryType => Some("Bytes")
      case _ => None
    }
  }
}

object GraftRelation {
  private[sources] def rootOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("root")).getOrElse(
      throw new IllegalArgumentException(
        "graft format needs a table root: load(root) / OPTIONS (path '...')"))

  /** (root, snapshot) with "latest" resolved by commit-marker mtime. */
  private[sources] def resolve(spark: org.apache.spark.sql.SparkSession,
                               parameters: Map[String, String]): (String, String) = {
    val root = rootOf(parameters)
    val snap = parameters.get("snapshot").getOrElse(
      SpatialTable.latestSnapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no committed snapshots under $root")))
    (root, snap)
  }

  /** The tail both relations' scans share: the `cql` option compiled
    * against the layout's geometry property, every translated filter
    * re-applied exactly on the pruned base, then the projection. */
  private[sources] def finish(base: DataFrame, parameters: Map[String, String],
                              geomProps: Map[String, Column], requiredColumns: Array[String],
                              filters: Array[Filter]): RDD[Row] = {
    val withCql = parameters.get("cql").fold(base)(q =>
      graft.plans.Cql.filter(base, q, geomProps, parameters.getOrElse("id", "id")))
    val filtered = filters.flatMap(translate).foldLeft(withCql)(_ where _)
    (if (requiredColumns.isEmpty) filtered.select()
     else filtered.select(requiredColumns.toSeq.map(col): _*)).rdd
  }

  /** The filter subset the relations translate onto the inner scan;
    * everything the translation does not cover is declared unhandled,
    * so Spark re-applies it above (never dropped). Shared by the point
    * and extent relations. */
  private[sources] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (cl <- translate(l); cr <- translate(r)) yield cl && cr
    case Or(l, r) => for (cl <- translate(l); cr <- translate(r)) yield cl || cr
    case Not(c) => translate(c).map(!_)
    case _ => None
  }
}

/**
 * The extent-table (GeomTable) relation behind `format("graft")`:
 * line/polygon tables answer SQL through the same front door as point
 * tables. Pushed conjunctive bounds on the stored envelope columns —
 * the `maxx >= a AND minx <= b AND maxy >= c AND miny <= d` overlap
 * idiom — route the scan through [[graft.table.GeomTable.readEnvelope]]
 * (chunk-directory pruning + xz row-group ranges; exact for envelope
 * queries since the XZ cover is envelope-based), a `cql` option
 * compiles ECQL against the stored WKB geometry, and every translated
 * relational filter re-applies on the pruned base.
 */
case class GeomGraftRelation(sqlContext: SQLContext,
                             parameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {

  private val root = GraftRelation.rootOf(parameters)
  private def spark = sqlContext.sparkSession
  private val snapshotId = parameters("snapshot")
  // ONE manifest parse serves the relation's schema and every scan
  private val info = GeomTable.ginfo(spark, root, snapshotId)
  // attr -> bucket modulus, read ONCE (like `info`) so the indexed
  // route costs no metadata round-trips per scan
  private val indexedAttrs: Map[String, Option[Int]] =
    GeomTable.indexedColumns(spark, root, snapshotId)

  override val schema: StructType =
    if (info.keyed)
      StructType(info.readOrder.map(f => info.schema(f).copy(nullable = true)))
    else
      StructType(GeomTable.read(spark, root, info).schema.map(_.copy(nullable = true)))

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(GraftRelation.translate(_).isEmpty)

  /** Conjunctive envelope-overlap window from the pushed filters:
    * lower bounds on maxx/maxy, upper bounds on minx/miny. Inclusive
    * routing is a superset of any strict bound — the translated
    * filters re-apply exactly below. */
  private def extractEnvelope(filters: Array[Filter]): Option[(Double, Double, Double, Double)] = {
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    var loMaxx: Option[Double] = None
    var loMaxy: Option[Double] = None
    var hiMinx: Option[Double] = None
    var hiMiny: Option[Double] = None
    def visit(f: Filter): Unit = f match {
      case And(l, r) => visit(l); visit(r)
      case GreaterThan("maxx", v) => loMaxx = num(v).orElse(loMaxx)
      case GreaterThanOrEqual("maxx", v) => loMaxx = num(v).orElse(loMaxx)
      case GreaterThan("maxy", v) => loMaxy = num(v).orElse(loMaxy)
      case GreaterThanOrEqual("maxy", v) => loMaxy = num(v).orElse(loMaxy)
      case LessThan("minx", v) => hiMinx = num(v).orElse(hiMinx)
      case LessThanOrEqual("minx", v) => hiMinx = num(v).orElse(hiMinx)
      case LessThan("miny", v) => hiMiny = num(v).orElse(hiMiny)
      case LessThanOrEqual("miny", v) => hiMiny = num(v).orElse(hiMiny)
      case _ =>
    }
    filters.foreach(visit)
    for (a <- loMaxx; b <- loMaxy; c <- hiMinx; d <- hiMiny if a <= c && b <= d)
      yield (a, b, c, d)
  }

  /** First pushed equality on an attribute with a committed index
    * layout — the extent analog of the strategy decider's attr-equals
    * upgrade. */
  private def extractIndexedEq(filters: Array[Filter]): Option[(String, Any)] = {
    def visit(f: Filter): Option[(String, Any)] = f match {
      case EqualTo(a, v) if indexedAttrs.contains(a) => Some((a, v))
      case And(l, r) => visit(l).orElse(visit(r))
      case _ => None
    }
    filters.iterator.flatMap(f => visit(f)).nextOption()
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // cheapest scan wins: an indexed attr equality beats the envelope
    // route (bucket dir + sorted row groups); the translated filters —
    // including the equality itself and any envelope bounds — re-apply
    // exactly on whichever base is picked
    val base = extractIndexedEq(filters) match {
      case Some((a, v)) =>
        GeomTable.readByAttribute(spark, root, info, a, v, indexedAttrs(a))
          .drop("attr_bucket")
      case None => extractEnvelope(filters) match {
        case Some((wminx, wminy, wmaxx, wmaxy)) =>
          GeomTable.readEnvelope(spark, root, info, wminx, wminy, wmaxx, wmaxy, 64)
        case None => GeomTable.read(spark, root, info)
      }
    }
    GraftRelation.finish(base, parameters, info.layout.geomProps(base), requiredColumns, filters)
  }
}

case class GraftRelation(sqlContext: SQLContext,
                         parameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {

  private val root = GraftRelation.rootOf(parameters)
  private def spark = sqlContext.sparkSession
  // "latest committed" resolves by commit-marker mtime, never bare
  // lexical id order (ADVICE r4: a drain id 'b000000042-a' sorts before
  // a bootstrap 's1' forever, silently reading the stale snapshot)
  private val snapshotId = parameters.get("snapshot").getOrElse {
    SpatialTable.latestSnapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshots under $root"))
  }
  private val info = SpatialTable.manifestInfo(spark, root, snapshotId)
  private val lonCol = parameters.getOrElse("lon", "lon")
  private val latCol = parameters.getOrElse("lat", "lat")

  // nullable-normalized: the parquet scan underneath reports every
  // column nullable regardless of how the writing plan typed it
  override val schema: StructType =
    StructType(info.readOrder.map(f => info.schema(f).copy(nullable = true)))

  /** The shared translation (object GraftRelation): untranslated
    * filters are declared unhandled, so Spark re-applies them above. */
  private def translate(f: Filter): Option[Column] = GraftRelation.translate(f)

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(translate(_).isEmpty)

  /** Conjunctive lon/lat bounds across the pushed filters — when both
    * dimensions are bounded on both sides, the scan routes through the
    * fully-pruned bbox path (the DSv1 analog of the reference's
    * sparkFilterToCQLFilter spatial extraction). */
  private def extractBBox(filters: Array[Filter]): Option[(Double, Double, Double, Double)] = {
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    var (lo1, hi1, lo2, hi2) = (Option.empty[Double], Option.empty[Double],
      Option.empty[Double], Option.empty[Double])
    def visit(f: Filter): Unit = f match {
      case And(l, r) => visit(l); visit(r)
      case GreaterThan(a, v) if a == lonCol => lo1 = num(v).orElse(lo1)
      case GreaterThanOrEqual(a, v) if a == lonCol => lo1 = num(v).orElse(lo1)
      case LessThan(a, v) if a == lonCol => hi1 = num(v).orElse(hi1)
      case LessThanOrEqual(a, v) if a == lonCol => hi1 = num(v).orElse(hi1)
      case GreaterThan(a, v) if a == latCol => lo2 = num(v).orElse(lo2)
      case GreaterThanOrEqual(a, v) if a == latCol => lo2 = num(v).orElse(lo2)
      case LessThan(a, v) if a == latCol => hi2 = num(v).orElse(hi2)
      case LessThanOrEqual(a, v) if a == latCol => hi2 = num(v).orElse(hi2)
      case _ =>
    }
    filters.foreach(visit)
    for (a <- lo1; b <- lo2; c <- hi1; d <- hi2 if a <= c && b <= d) yield (a, b, c, d)
  }

  /** Pushed dtg bounds -> a time_bin range on temporal layouts: bins
    * are monotone in the date, so a one-week dtg filter prunes whole
    * day/week directories before any file is listed. Open-ended bounds
    * prune one side. */
  private def extractTimeBins(filters: Array[Filter]): Option[(Int, Int)] =
    (for (p <- info.period; dtgCol <- info.dtg) yield (p, dtgCol)).flatMap { case (p, dtgCol) =>
      def ms(v: Any): Option[Long] = v match {
        case t: java.sql.Timestamp => Some(t.getTime)
        case t: java.time.Instant => Some(t.toEpochMilli)
        case d: java.sql.Date =>
          // date literals are calendar days: resolve start-of-day in the
          // SESSION timezone (what time_bin's cast-to-timestamp uses) —
          // Date.getTime uses the JVM default zone and could shift the
          // bound across a bin boundary, pruning matching rows
          val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
          Some(d.toLocalDate.atStartOfDay(zone).toInstant.toEpochMilli)
        case d: java.time.LocalDate =>
          val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
          Some(d.atStartOfDay(zone).toInstant.toEpochMilli)
        case _ => None
      }
      var lo = Option.empty[Long]
      var hi = Option.empty[Long]
      def visit(f: Filter): Unit = f match {
        case And(l, r) => visit(l); visit(r)
        case GreaterThan(a, v) if a == dtgCol => lo = ms(v).orElse(lo)
        case GreaterThanOrEqual(a, v) if a == dtgCol => lo = ms(v).orElse(lo)
        case LessThan(a, v) if a == dtgCol => hi = ms(v).orElse(hi)
        case LessThanOrEqual(a, v) if a == dtgCol => hi = ms(v).orElse(hi)
        case _ =>
      }
      filters.foreach(visit)
      if (lo.isEmpty && hi.isEmpty) None
      else {
        val per = graft.cells.BinnedTime.period(p)
        Some((
          lo.map(m => graft.cells.BinnedTime.toBinned(per, m).bin.toInt)
            .getOrElse(Int.MinValue),
          hi.map(m => graft.cells.BinnedTime.toBinned(per, m).bin.toInt)
            .getOrElse(Int.MaxValue)))
      }
    }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // bbox routing gives prefix-directory pruning + z-range row-group
    // skipping; its inclusive refine is a superset of any strict bound,
    // and the translated filters re-apply exactly below
    val base0 = extractBBox(filters) match {
      case Some(b) => SpatialTable.readBBox(spark, root, snapshotId, b, lonCol, latCol)
      case None => SpatialTable.read(spark, root, info)
    }
    val base = extractTimeBins(filters) match {
      case Some((b0, b1)) => base0.where(col("time_bin").between(b0, b1))
      case None => base0
    }
    GraftRelation.finish(base, parameters,
      info.layout.copy(lonCol = lonCol, latCol = latCol).geomProps(base), requiredColumns, filters)
  }
}

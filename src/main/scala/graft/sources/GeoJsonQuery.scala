package graft.sources

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.StFunctions
import graft.geom.{GeoJson, GeomOps => G}

/**
 * GeoJSON document store + MongoDB-style query language — the Spark
 * analog of the reference's geomesa-geojson module (geomesa-geojson/
 * geomesa-geojson-api/.../query/GeoJsonQuery.scala:29-49: store raw
 * GeoJSON features, query them with JSON predicates instead of CQL).
 *
 * Query syntax (same constructs as the reference):
 * {{{
 *   {}                                        all features
 *   { "foo": "bar" }                          property equality
 *   { "foo": { "$lt": 10 } }                  $lt/$lte/$gt/$gte
 *   { "geometry": { "$bbox": [x0,y0,x1,y1] } }
 *   { "geometry": { "$intersects": { "$geometry": {geojson} } } }
 *   { "geometry": { "$within":     { "$geometry": {geojson} } } }
 *   { "geometry": { "$contains":   { "$geometry": {geojson} } } }
 *   { "geometry": { "$dwithin":    { "$geometry": …, "$dist": d, "$unit": "meters" } } }
 *   { "$or": [ q1, q2 ] }    and implicit AND of sibling keys
 * }}}
 *
 * Spark-first shape: the whole query compiles to ONE Column predicate —
 * property access is `get_json_object` (codegen'd path extraction, no
 * UDF), spatial predicates are the st_* surface over the parsed WKB
 * geometry, and the literal query geometry is parsed ONCE on the driver
 * and shipped as a WKB literal. Catalyst therefore sees an ordinary
 * conjunctive filter: it pipelines into whole-stage codegen and prunes
 * columns like any hand-written `where`, instead of the reference's
 * per-document JSON-path evaluation inside a custom datastore.
 */
object GeoJsonQuery {

  private val mapper = new ObjectMapper()

  /** Parse line-delimited GeoJSON features (the framing Export.geoJson
    * writes) into a geometry WKB column + the properties document. */
  def parse(df: DataFrame, lineCol: String = "value", geomCol: String = "geometry"): DataFrame =
    df.select(
      StFunctions.stGeomFromGeoJSON(get_json_object(col(lineCol), "$.geometry")).as(geomCol),
      get_json_object(col(lineCol), "$.properties").as("properties"))

  /** Read a directory of line-delimited GeoJSON. */
  def read(spark: SparkSession, path: String, geomCol: String = "geometry"): DataFrame =
    parse(spark.read.text(path), "value", geomCol)

  /** Filter a parsed GeoJSON DataFrame with a query document. */
  def query(df: DataFrame, queryJson: String,
            geomCol: String = "geometry", propsCol: String = "properties"): DataFrame =
    df.where(compile(queryJson, geomCol, propsCol))

  // ---- indexed document store (GeoJsonGtIndex analog) -----------------

  /**
   * Index a parsed document store as a SpatialTable snapshot — the
   * analog of the reference's GeoJsonGtIndex (geomesa-geojson-api/.../
   * GeoJsonGtIndex.scala: documents are STORED IN A GEOMESA INDEX and
   * queries run against it, never by re-scanning raw documents). Rows
   * are cell-indexed by geometry centroid; the maximum geometry envelope
   * extent is recorded so `queryIndexed` can pad its pruning box and
   * stay sound for non-point documents (any geometry intersecting a box
   * has its centroid within the box padded by one max extent).
   */
  def index(spark: SparkSession, store: DataFrame, root: String,
            snapshotId: String = "docs", geomCol: String = "geometry",
            propsCol: String = "properties", res: Int = 9, prefixRes: Int = 4,
            salts: Int = 4, partitions: Int = 32): graft.table.SpatialTable.Snapshot = {
    import graft.table.SpatialTable
    val centroid = StFunctions.stCentroid(col(geomCol))
    val prepared = store.select(
      xxhash64(col(propsCol), col(geomCol)).as("doc_id"),
      col(geomCol), col(propsCol),
      StFunctions.stX(centroid).as("lon"), StFunctions.stY(centroid).as("lat"))
    val snap = SpatialTable.write(spark, prepared, root, snapshotId,
      "doc_id", "lon", "lat", res, prefixRes, salts, partitions)
    val padPath = new org.apache.hadoop.fs.Path(s"$root/_manifests/$snapshotId.geojson.json")
    val fs = padPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(padPath)) { // resume-idempotent, like the snapshot write
      val envWH = udf { b: Array[Byte] =>
        if (b == null) Array(0.0, 0.0)
        else { val e = G.fromWkb(b).getEnvelopeInternal; Array(e.getWidth, e.getHeight) }
      }
      val m = store.select(envWH(col(geomCol)).as("wh"))
        .agg(max(element_at(col("wh"), 1)).as("w"), max(element_at(col("wh"), 2)).as("h"))
        .head()
      val (w, h) = (Option(m.get(0)).fold(0.0)(_ => m.getDouble(0)),
        Option(m.get(1)).fold(0.0)(_ => m.getDouble(1)))
      graft.table.Snapshots.writeString(fs, padPath.toString, s"""{"max_w":$w,"max_h":$h}""")
    }
    snap
  }

  /**
   * Query the indexed store: the query's spatial envelope (intersection
   * of all top-level spatial conjuncts) drives SpatialTable.readBBox —
   * cell_prefix partition pruning + sorted-cell row-group skipping —
   * padded by the stored max geometry extent; the full compiled
   * predicate then applies as the exact refine. Queries with no
   * top-level spatial conjunct (or a top-level $or) fall back to the
   * full snapshot scan, exactly like an unindexable CQL filter in the
   * reference.
   */
  def queryIndexed(spark: SparkSession, root: String, snapshotId: String = "docs",
                   queryJson: String = "{}", geomCol: String = "geometry",
                   propsCol: String = "properties"): DataFrame = {
    import graft.table.SpatialTable
    val base = queryEnvelope(queryJson) match {
      case Some((x0, y0, x1, y1)) =>
        val padPath = new org.apache.hadoop.fs.Path(s"$root/_manifests/$snapshotId.geojson.json")
        val fs = padPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val pad = mapper.readTree(graft.table.Snapshots.readString(fs, padPath))
        val (w, h) = (pad.get("max_w").asDouble, pad.get("max_h").asDouble)
        val box = (math.max(-180.0, x0 - w), math.max(-90.0, y0 - h),
          math.min(180.0, x1 + w), math.min(90.0, y1 + h))
        // disjoint spatial conjuncts intersect to an INVERTED envelope —
        // provably no match (pad(A∩B) = pad(A)∩pad(B) for axis-aligned
        // boxes), and coverBBox would throw on a negative span
        if (box._1 > box._3 || box._2 > box._4)
          SpatialTable.read(spark, root, snapshotId).limit(0)
        else SpatialTable.readBBox(spark, root, snapshotId, box)
      case None => SpatialTable.read(spark, root, snapshotId)
    }
    base.where(compile(queryJson, geomCol, propsCol)).select(geomCol, propsCol)
  }

  /** Envelope implied by the query's top-level spatial conjuncts
    * (intersection), if any. A top-level $or defeats pruning. */
  private[sources] def queryEnvelope(queryJson: String): Option[(Double, Double, Double, Double)] = {
    val root = mapper.readTree(queryJson)
    if (root == null || !root.isObject) return None
    val fields = root.properties().asScala.toSeq.map(e => (e.getKey, e.getValue))
    if (fields.exists(_._1 == "$or")) return None
    val envs = fields.flatMap {
      case (_, v) if v.isObject =>
        v.properties().asScala.toSeq.flatMap { e =>
          (e.getKey, e.getValue) match {
            case ("$bbox", b) if b.isArray && b.size == 4 =>
              Some((b.get(0).asDouble, b.get(1).asDouble, b.get(2).asDouble, b.get(3).asDouble))
            case (op, o) if Set("$intersects", "$within", "$contains", "$dwithin")(op) =>
              Option(o.get("$geometry")).flatMap { gj =>
                // envelope of the NORMALIZED literal: after an IDL
                // dateline split the raw envelope misses the wrapped
                // parts and would prune rows the predicate matches
                val parts = G.queryParts(GeoJson.read(gj.toString))
                if (parts.isEmpty) None // predicate is EXCLUDE anyway
                else {
                  val e = new org.locationtech.jts.geom.Envelope(parts.head.getEnvelopeInternal)
                  parts.drop(1).foreach(p => e.expandToInclude(p.getEnvelopeInternal))
                  Some(e)
                }
              }.map { e =>
                if (op == "$dwithin") {
                  val dist = Option(o.get("$dist")).map(_.asDouble).getOrElse(0.0)
                  val unit = Option(o.get("$unit")).map(_.asText).getOrElse("meters")
                  val m = dist * G.unitToMeters(unit)
                  // conservative meters -> degrees: latitude pad from the
                  // shortest meridian degree; longitude degrees-per-meter
                  // GROW toward the poles, so pad with the highest
                  // latitude the padded box can reach
                  val latPad = m / 110574.0 * 1.01
                  val maxAbsLat = math.max(math.abs(e.getMinY), math.abs(e.getMaxY)) + latPad
                  val lonPad = // near-polar boxes wrap: pad to the full range
                    if (maxAbsLat > 89.0) 360.0
                    else m / (110574.0 * math.cos(math.toRadians(maxAbsLat))) * 1.01
                  (e.getMinX - lonPad, e.getMinY - latPad, e.getMaxX + lonPad, e.getMaxY + latPad)
                } else (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
              }
            case _ => None
          }
        }
      case _ => Nil
    }
    envs.reduceOption { (a, b) =>
      (math.max(a._1, b._1), math.max(a._2, b._2), math.min(a._3, b._3), math.min(a._4, b._4))
    }
  }

  /** Compile a query document to a single Column predicate. */
  def compile(queryJson: String, geomCol: String = "geometry",
              propsCol: String = "properties"): Column = {
    val root = mapper.readTree(queryJson)
    require(root != null && root.isObject, s"query must be a JSON object: $queryJson")
    evalObj(root, col(geomCol), col(propsCol), geomCol)
  }

  private def evalObj(n: JsonNode, geom: Column, props: Column, geomName: String): Column = {
    val fields = n.properties().asScala.toSeq.map(e => (e.getKey, e.getValue))
    if (fields.isEmpty) lit(true)
    else fields.map {
      case ("$or", arr) =>
        require(arr.isArray && arr.size > 0, "$or needs a non-empty array")
        (0 until arr.size).map { i =>
          val el = arr.get(i)
          require(el.isObject, s"$$or elements must be query objects, got $el")
          evalObj(el, geom, props, geomName)
        }.reduce(_ || _)
      case (op, _) if op.startsWith("$") && !op.startsWith("$.") => // "$.x" is a json-path prop
        throw new IllegalArgumentException(s"unsupported operator '$op'")
      case (prop, v) if v.isObject && v.properties().asScala.exists(_.getKey.startsWith("$")) =>
        // operator object: EVERY operator applies (e.g. {"$gte":5,"$lt":10})
        v.properties().asScala.toSeq
          .map(e => predicate(prop, e.getKey, e.getValue, geom, props, geomName))
          .reduce(_ && _)
      case (prop, v) if v.isObject || v.isArray =>
        throw new IllegalArgumentException(
          s"equality on '$prop' needs a scalar value (or an operator object), got $v")
      case (prop, v) => // plain equality
        propEquals(prop, v, props)
    }.reduce(_ && _)
  }

  private def propPath(prop: String): String =
    if (prop.startsWith("$.")) prop else "$." + prop

  private def propCol(prop: String, props: Column): Column =
    get_json_object(props, propPath(prop))

  /** Numeric compare: integral literals go through DECIMAL so 64-bit ids
    * above 2^53 compare exactly (the double path would collapse
    * neighboring ids onto the same value); floats keep IEEE semantics. */
  private def numCmp(extracted: Column, v: JsonNode,
                     f: (Column, Column) => Column): Column =
    if (v.isIntegralNumber)
      f(extracted.cast("decimal(38,15)"), lit(new java.math.BigDecimal(v.bigIntegerValue)))
    else f(extracted.cast("double"), lit(v.asDouble))

  private def propEquals(prop: String, v: JsonNode, props: Column): Column = {
    val extracted = propCol(prop, props)
    if (v.isNumber) numCmp(extracted, v, _ === _)
    else if (v.isBoolean) extracted === lit(v.asBoolean.toString)
    else extracted === lit(v.asText)
  }

  private def predicate(prop: String, op: String, v: JsonNode, geom: Column, props: Column,
                        geomName: String): Column = {
    def cmp(f: (Column, Column) => Column): Column =
      if (v.isNumber) numCmp(propCol(prop, props), v, f)
      else f(propCol(prop, props), lit(v.asText))
    def queryGeom: org.locationtech.jts.geom.Geometry = {
      val g = Option(v.get("$geometry")).getOrElse(
        throw new IllegalArgumentException(s"$op needs a '$$geometry'"))
      GeoJson.read(g.toString)
    }
    // the reference routes geojson queries through its index query
    // planner, so literals get the same normalization as CQL filters
    // (FilterHelper.visitBinarySpatialOp: trim to world, EXCLUDE when
    // empty, INCLUDE for whole-world intersects/within, IDL dateline
    // split with parts OR'd)
    def spatial(f: (Column, Column) => Column, includeOk: Boolean): Column = {
      require(prop == geomName || prop == "geometry",
        s"spatial operator $op applies to the geometry member, got '$prop'")
      G.queryPartsOrWorld(queryGeom) match {
        case None if includeOk => lit(true)
        case None => f(geom, lit(G.toWkb(G.worldPolygon)))
        case Some(Seq()) => lit(false)
        case Some(parts) => parts.map(p => f(geom, lit(G.toWkb(p)))).reduce(_ || _)
      }
    }
    op match {
      case "$lt"  => cmp(_ < _)
      case "$lte" => cmp(_ <= _)
      case "$gt"  => cmp(_ > _)
      case "$gte" => cmp(_ >= _)
      case "$bbox" =>
        require(v.isArray && v.size == 4, "$bbox needs [xmin,ymin,xmax,ymax]")
        val Seq(x0, y0, x1, y1) = (0 until 4).map(v.get(_).asDouble)
        require(prop == geomName || prop == "geometry",
          s"$$bbox applies to the geometry member, got '$prop'")
        // explicit min/max box: trim to world, never dateline-reinterpret
        if (x0 <= -180 && y0 <= -90 && x1 >= 180 && y1 >= 90) lit(true)
        else {
          val (cx0, cy0) = (math.max(x0, -180.0), math.max(y0, -90.0))
          val (cx1, cy1) = (math.min(x1, 180.0), math.min(y1, 90.0))
          if (cx0 > cx1 || cy0 > cy1) lit(false)
          else StFunctions.stIntersects(geom, lit(G.toWkb(G.bbox(cx0, cy0, cx1, cy1))))
        }
      case "$intersects" => spatial(StFunctions.stIntersects(_, _), includeOk = true)
      case "$within"     => spatial(StFunctions.stWithin(_, _), includeOk = true)
      case "$contains"   => spatial(StFunctions.stContains(_, _), includeOk = false)
      case "$dwithin" =>
        val dist = Option(v.get("$dist")).map(_.asDouble).getOrElse(
          throw new IllegalArgumentException("$dwithin needs '$dist'"))
        val meters = dist * G.unitToMeters(
          Option(v.get("$unit")).map(_.asText).getOrElse("meters"))
        spatial(StFunctions.stDWithin(_, _, lit(meters)), includeOk = false)
      case other => throw new IllegalArgumentException(s"invalid predicate '$other'")
    }
  }
}

package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTest
import graft.sources.Converters._

/** Converter framework: delimited / fixed-width / json / xml / composite
  * configs produce typed rows + derived geometry (the geomesa-convert
  * module surface re-expressed as Spark projections). */
class ConvertersSpec extends AnyFunSuite with SparkTest {

  test("delimited converter: typed fields + derived geom") {
    import spark.implicits._
    val df = Seq("1|alice|10.5|45.25", "2|bob|-3.0|7.75").toDF("value")
    val out = Converters.convert(df, "value",
      Seq(Field("id", Col(0), "bigint"), Field("name", Col(1)),
        Field("lon", Col(2), "double"), Field("lat", Col(3), "double")),
      delimiter = "|", lonField = Some("lon"), latField = Some("lat"))
    val rows = out.selectExpr("id", "name", "st_asText(geom) AS wkt").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "alice", "POINT (10.5 45.25)"), (2L, "bob", "POINT (-3 7.75)")))
  }

  test("quoted CSV: format-aware tokenization honors quotes and escapes " +
      "(DelimitedTextConverterTest quote cases)") {
    import spark.implicits._
    // RFC4180 double quotes: embedded delimiter and escaped quote
    val cfg = ConverterConfig.parse(
      """{ "type": "delimited", "format": "CSV",
        |  "fields": [
        |    {"name": "id",   "col": 0, "type": "bigint"},
        |    {"name": "name", "col": 1},
        |    {"name": "v",    "col": 2, "type": "double"}
        |  ] }""".stripMargin)
    val df = Seq(
      "1,\"hello, world\",45.0",
      "2,\"say \"\"hi\"\"\",46.5",
      "3,plain,47.0").toDF("value")
    val out = ConverterConfig(df, "value", cfg).orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("hello, world", "say \"hi\"", "plain"))
    assert(out.map(_.getDouble(2)).toSeq == Seq(45.0, 46.5, 47.0))

    // the reference's single-quote configs (quote = "'")
    val sq = ConverterConfig.parse(
      """{ "type": "delimited", "format": "CSV", "quote": "'",
        |  "fields": [
        |    {"name": "id",   "col": 0, "type": "bigint"},
        |    {"name": "name", "col": 1},
        |    {"name": "both", "transform": "concat($1, '-', $2)"}
        |  ] }""".stripMargin)
    val out2 = ConverterConfig(Seq("1,'hello, world'").toDF("value"), "value", sq).head
    assert(out2.getString(1) == "hello, world")
    // transform $N refs read the SAME quote-aware tokens
    assert(out2.getString(2) == "1-hello, world")

    // quote must be a single char (reference "throw error on quote length > 1")
    intercept[Exception](ConverterConfig.parse(
      """{"type": "delimited", "quote": "''", "fields": [{"name": "a", "col": 0}]}"""))
    // without a format/quote key, tokenization stays a plain split
    val plain = ConverterConfig.parse(
      """{"type": "delimited", "fields": [{"name": "a", "col": 1}]}""")
    assert(ConverterConfig(Seq("x,\"y,z\"").toDF("value"), "value", plain)
      .head.getString(0) == "\"y") // naive split, documented legacy mode
  }

  test("fixed-width converter slices columns by position") {
    import spark.implicits._
    //            0123456789012345
    val df = Seq("0042  NYC   40.7", "0007  LA    34.1").toDF("value")
    val out = Converters.convert(df, "value",
      Seq(Field("id", FixedWidth(0, 4), "int"), Field("city", FixedWidth(4, 6)),
        Field("lat", FixedWidth(10, 6), "double")))
    val m = out.collect().map(r => r.getInt(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(m == Map(42 -> ("NYC", 40.7), 7 -> ("LA", 34.1)))
  }

  test("fixed-width slice + transform binds $0 to the slice " +
    "(FixedWidthConverterTest 'process fixed with data')") {
    import spark.implicits._
    // the reference fixture: "14555" -> lat chars [1,3) = 45, lon [3,5) = 55
    val df = Seq("14555", "16565").toDF("value")
    val cfg = ConverterConfig.parse(
      """{"type": "fixed-width", "fields": [
        |  {"name": "lat", "fixed": {"start": 1, "len": 2}, "transform": "$0::double"},
        |  {"name": "lon", "fixed": {"start": 3, "len": 2}, "transform": "$0::double"},
        |  {"name": "geom", "type": "geometry", "transform": "point($lon, $lat)"}
        |]}""".stripMargin)
    val out = ConverterConfig(df, "value", cfg)
    val pts = out.selectExpr("st_asText(geom)").collect().map(_.getString(0))
    assert(pts.sameElements(Array("POINT (55 45)", "POINT (65 65)")))
  }

  test("json converter extracts paths") {
    import spark.implicits._
    val df = Seq("""{"id": 5, "loc": {"lon": 1.5, "lat": 2.5}}""").toDF("value")
    val out = Converters.convert(df, "value",
      Seq(Field("id", JsonPath("$.id"), "bigint"),
        Field("lon", JsonPath("$.loc.lon"), "double"),
        Field("lat", JsonPath("$.loc.lat"), "double")),
      lonField = Some("lon"), latField = Some("lat"))
    val r = out.selectExpr("id", "st_asText(geom)").head
    assert(r.getLong(0) == 5L && r.getString(1) == "POINT (1.5 2.5)")
  }

  test("feature-path: one document yields one feature per array element " +
      "(JsonConverterTest 'multiple features out of a single document')") {
    import spark.implicits._
    // the reference's fixture document (JsonConverterTest.scala:55-92)
    val doc =
      """{
        |  "DataSource": { "name": "myjson" },
        |  "Features": [
        |    { "id": 1, "number": 123, "color": "red",
        |      "physical": { "weight": 127.5, "height": "5'11" },
        |      "lat": 0, "lon": 0 },
        |    { "id": 2, "number": 456, "color": "blue",
        |      "physical": { "weight": 150, "height": "5'11" },
        |      "lat": 1, "lon": 1 }
        |  ]
        |}""".stripMargin
    val cfg = ConverterConfig.parse(
      """{ "type": "json",
        |  "feature-path": "$.Features[*]",
        |  "fields": [
        |    {"name": "id",     "json-path": "$.id", "transform": "toString($0)"},
        |    {"name": "number", "json-path": "$.number", "type": "int"},
        |    {"name": "color",  "json-path": "$.color", "transform": "trim($0)"},
        |    {"name": "weight", "json-path": "$.physical.weight", "type": "double"},
        |    {"name": "lat",    "json-path": "$.lat", "type": "double"},
        |    {"name": "lon",    "json-path": "$.lon", "type": "double"},
        |    {"name": "geom",   "transform": "point($lon, $lat)"}
        |  ] }""".stripMargin)
    val out = ConverterConfig(Seq(doc).toDF("value"), "value", cfg)
      .selectExpr("id", "number", "color", "weight", "st_asText(geom) AS g")
      .orderBy("number").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "1" && out(0).getInt(1) == 123 &&
      out(0).getString(2) == "red" && out(0).getDouble(3) == 127.5 &&
      out(0).getString(4) == "POINT (0 0)")
    assert(out(1).getString(0) == "2" && out(1).getInt(1) == 456 &&
      out(1).getString(2) == "blue" && out(1).getDouble(3) == 150.0 &&
      out(1).getString(4) == "POINT (1 1)")
    // a document without the feature path yields no rows, not an error
    val none = ConverterConfig(Seq("""{"DataSource": {"name": "x"}}""").toDF("value"),
      "value", cfg)
    assert(none.count() == 0)
  }

  test("feature-path + root-path: element fields read the element, root-path " +
      "fields read the whole document (JsonConverterTest 'using arrays')") {
    import spark.implicits._
    // reference fixture: lat/lon live at DOCUMENT level (:119-156)
    val doc =
      """{
        |  "DataSource": { "name": "myjson" },
        |  "lat": 5, "lon": 4,
        |  "Features": [
        |    { "id": 1, "number": 123, "color": "red",
        |      "physical": { "weight": 127.5, "height": "5'11" } },
        |    { "id": 2, "number": 456, "color": "blue",
        |      "physical": { "weight": 150, "height": "5'11" } }
        |  ]
        |}""".stripMargin
    val cfg = ConverterConfig.parse(
      """{ "type": "json",
        |  "feature-path": "$.Features[*]",
        |  "fields": [
        |    {"name": "number", "json-path": "$.number", "type": "int"},
        |    {"name": "weight", "json-path": "$.physical.weight", "type": "double"},
        |    {"name": "lat",    "root-path": "$.lat", "type": "double"},
        |    {"name": "lon",    "root-path": "$.lon", "type": "double"},
        |    {"name": "geom",   "transform": "point($lon, $lat)"}
        |  ] }""".stripMargin)
    val out = ConverterConfig(Seq(doc).toDF("value"), "value", cfg)
      .selectExpr("number", "weight", "st_asText(geom) AS g").orderBy("number").collect()
    assert(out.length == 2)
    // BOTH features take the document-level point (4 5)
    assert(out(0).getInt(0) == 123 && out(0).getDouble(1) == 127.5 &&
      out(0).getString(2) == "POINT (4 5)")
    assert(out(1).getInt(0) == 456 && out(1).getDouble(1) == 150.0 &&
      out(1).getString(2) == "POINT (4 5)")
  }

  test("json-type geometry + id-field: GeoJSON objects, WKT strings, derived fid " +
      "(JsonConverterTest 'geometry attributes'/'geojson geometries')") {
    import spark.implicits._
    // reference fixture (:609-672): mixed Point / LineString / Polygon
    // GeoJSON objects at $.geometry; id-field = "$id"
    val doc =
      """{
        |  "Features": [
        |    { "id": 1, "number": 123,
        |      "geometry": {"type": "Point", "coordinates": [55, 56]} },
        |    { "id": 2, "number": 456,
        |      "geometry": {"type": "LineString",
        |        "coordinates": [[102.0, 0.0], [103.0, 1.0], [104.0, 0.0], [105.0, 1.0]]} },
        |    { "id": 3, "number": 789,
        |      "geometry": {"type": "Polygon",
        |        "coordinates": [[[100.0, 0.0], [101.0, 0.0], [101.0, 1.0],
        |                         [100.0, 1.0], [100.0, 0.0]]]} }
        |  ]
        |}""".stripMargin
    val cfg = ConverterConfig.parse(
      """{ "type": "json",
        |  "id-field": "$id",
        |  "feature-path": "$.Features[*]",
        |  "fields": [
        |    {"name": "id",     "json-path": "$.id", "transform": "toString($0)"},
        |    {"name": "number", "json-path": "$.number", "type": "int"},
        |    {"name": "geom",   "json-path": "$.geometry", "type": "geometry"}
        |  ] }""".stripMargin)
    val out = ConverterConfig(Seq(doc).toDF("value"), "value", cfg)
      .selectExpr("fid", "number", "st_geometryType(geom) AS t", "st_asText(geom) AS g")
      .orderBy("number").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1", "2", "3")) // fid = $id
    assert(out.map(_.getString(2)).toSeq == Seq("Point", "LineString", "Polygon"))
    assert(out(0).getString(3) == "POINT (55 56)")
    assert(out(1).getString(3) == "LINESTRING (102 0, 103 1, 104 0, 105 1)")
    // WKT-string geometry values cast too ("allow specific sft geom"):
    val wktDoc = """{"Features": [{"id": 9, "number": 1, "geometry": "LINESTRING (55 56, 56 57)"}]}"""
    val w = ConverterConfig(Seq(wktDoc).toDF("value"), "value", cfg)
      .selectExpr("st_asText(geom)").head.getString(0)
    assert(w == "LINESTRING (55 56, 56 57)")
    // malformed geometry nulls the field, not the job
    val bad = """{"Features": [{"id": 9, "number": 1, "geometry": "oops"}]}"""
    val b = ConverterConfig(Seq(bad).toDF("value"), "value", cfg)
      .select("geom").head
    assert(b.isNullAt(0))
  }

  test("xml converter evaluates XPath per record") {
    import spark.implicits._
    val df = Seq(
      """<event id="9"><lon>12.25</lon><lat>-4.5</lat></event>""",
      """<event id="10"><lon>0.5</lon><lat>0.25</lat></event>""").toDF("value")
    val out = Converters.convert(df, "value",
      Seq(Field("id", XPath("/event/@id"), "bigint"),
        Field("lon", XPath("/event/lon"), "double"),
        Field("lat", XPath("/event/lat"), "double")),
      lonField = Some("lon"), latField = Some("lat"))
    val m = out.selectExpr("id", "st_asText(geom) AS wkt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(9L -> "POINT (12.25 -4.5)", 10L -> "POINT (0.5 0.25)"))
  }

  test("StAX fast path answers identically to the DOM XPath evaluator on the " +
      "simple-path subset (seeded differential)") {
    import spark.implicits._
    // tricky shapes: entities, CDATA, empty + missing elements/attrs,
    // repeated siblings (first-match), nested text (string value vs
    // text()), text after a child element, malformed documents
    val docs = Seq(
      """<e a="x"><b>one</b><b>two</b><c><d>deep</d>tail</c></e>""",
      """<e><b>a &amp; b &lt;ok&gt;</b><c><![CDATA[raw <cdata>]]></c></e>""",
      """<e a=""><b></b><c/></e>""",
      """<e><c>only-c</c></e>""",
      """<wrongroot><b>x</b></wrongroot>""",
      """<e><c><d/>after-child</d></c></e>""", // malformed: mismatched tags
      """not xml at all""",
      """<e a="1"><b> spaced  text </b><c>first<d>mid</d>second</c></e>""",
      // first-NODE semantics across repeated siblings: the attribute
      // lives only on the SECOND b; the first b has no direct text
      """<e><b>one</b><b x="v">two</b></e>""",
      """<e><b/><b>hi</b></e>""",
      // present-but-empty attribute on the first sibling IS a node
      """<e><b x="">p</b><b x="v">q</b></e>""",
      // text() over mixed text and CDATA: XPath merges adjacent text and
      // CDATA into one text node ("xy", "pq"); a comment splits it ("x")
      """<e><b>x<![CDATA[y]]></b><c><![CDATA[p]]>q<d>in</d>r</c></e>""",
      """<e><b>x<!--z-->y</b><c>t &amp; u<![CDATA[v]]>w</c></e>""")
    val paths = Seq("/e/@a", "/e/b", "/e/b/text()", "/e/c", "/e/c/text()",
      "b", "c/d", "@a", "e/b", "b/@x")
    // every path is inside the simple subset -> the fast group
    assert(paths.forall(p => Converters.parseSimplePath(p).isDefined))
    val fields = paths.zipWithIndex.map { case (p, i) => Field(s"f$i", XPath(p)) }
    val fast = Converters.convert(docs.toDF("value"), "value", fields)
      .collect().map(_.toSeq)
    // force the DOM evaluator by adding one non-simple path to EACH
    // group (absolute and relative paths evaluate as separate groups)
    val domFields = fields :+ Field("dummy", XPath("/e[1]/@a")) :+
      Field("dummy2", XPath("b[1]"))
    val dom = Converters.convert(docs.toDF("value"), "value", domFields)
      .drop("dummy", "dummy2").collect().map(_.toSeq)
    assert(fast.toSeq == dom.toSeq,
      s"StAX and DOM paths disagree:\n${fast.toSeq}\nvs\n${dom.toSeq}")
    // non-simple shapes stay on the DOM path
    Seq("//b", "/e/b[1]", "/ns:e/b", "../b", "/e/*").foreach(p =>
      assert(Converters.parseSimplePath(p).isEmpty, s"'$p' must not be simple"))
  }

  test("xml feature-path: one document yields one feature per matched node; " +
      "absolute xpaths read the document (XMLConverterTest 'multiple features')") {
    import spark.implicits._
    // the reference's fixture document (XMLConverterTest.scala:43-58)
    val doc =
      """<doc>
        |  <DataSource><name>myxml</name></DataSource>
        |  <Feature>
        |    <number>123</number>
        |    <color>red</color>
        |    <physical weight="127.5" height="5'11"/>
        |  </Feature>
        |  <Feature>
        |    <number>456</number>
        |    <color>blue</color>
        |    <physical weight="150" height="h2"/>
        |  </Feature>
        |</doc>""".stripMargin
    val cfg = ConverterConfig.parse(
      """{ "type": "xml",
        |  "feature-path": "Feature",
        |  "fields": [
        |    {"name": "number", "xpath": "number", "transform": "$0::integer"},
        |    {"name": "color",  "xpath": "color", "transform": "trim($0)"},
        |    {"name": "weight", "xpath": "physical/@weight", "transform": "$0::double"},
        |    {"name": "source", "xpath": "/doc/DataSource/name/text()"}
        |  ] }""".stripMargin)
    val out = ConverterConfig(Seq(doc).toDF("value"), "value", cfg)
      .orderBy("number").collect()
    assert(out.length == 2)
    assert(out(0).getInt(0) == 123 && out(0).getString(1) == "red" &&
      out(0).getDouble(2) == 127.5 && out(0).getString(3) == "myxml")
    assert(out(1).getInt(0) == 456 && out(1).getString(1) == "blue" &&
      out(1).getDouble(2) == 150.0 && out(1).getString(3) == "myxml")

    // geometry in the repeated tag's attributes (reference :90-125)
    val geoDoc =
      """<doc>
        |  <Feature lon="1.23" lat="4.23"><number>1</number></Feature>
        |  <Feature lon="4.56" lat="7.56"><number>2</number></Feature>
        |</doc>""".stripMargin
    val geoCfg = ConverterConfig.parse(
      """{ "type": "xml",
        |  "feature-path": "Feature",
        |  "fields": [
        |    {"name": "number", "xpath": "number", "type": "int"},
        |    {"name": "lon", "xpath": "@lon", "type": "double"},
        |    {"name": "lat", "xpath": "@lat", "type": "double"}
        |  ],
        |  "lon-field": "lon", "lat-field": "lat" }""".stripMargin)
    val geo = ConverterConfig(Seq(geoDoc).toDF("value"), "value", geoCfg)
      .selectExpr("number", "st_asText(geom) AS g").orderBy("number").collect()
    assert(geo(0).getString(1) == "POINT (1.23 4.23)")
    assert(geo(1).getString(1) == "POINT (4.56 7.56)")
  }

  test("composite converter routes lines to the first matching format") {
    import spark.implicits._
    val df = Seq(
      "1,7.5",                         // csv route
      """{"id": 2, "v": 8.5}""",       // json route
      "garbage with, no parse",        // csv route matches (id null -> kept? id not null filter)
      "3,9.5").toDF("value")
    val csvFields = Seq(Field("id", Col(0), "bigint"), Field("v", Col(1), "double"))
    val jsonFields = Seq(Field("id", JsonPath("$.id"), "bigint"), Field("v", JsonPath("$.v"), "double"))
    val out = Converters.composite(df, "value", Seq(
      Converters.Route(l => l.startsWith("{"), jsonFields),
      Converters.Route(l => l.rlike("^[0-9]+,"), csvFields)))
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 7.5, 2L -> 8.5, 3L -> 9.5))
  }

  test("config-driven converter (JSON subset of HOCON) equals the programmatic spec") {
    import spark.implicits._
    val df = Seq("1|alice|10.5|45.25", "2|bob|-3.0|7.75", "short").toDF("value")
    val cfg =
      """{ "type": "delimited", "delimiter": "|",
        |  "fields": [
        |    {"name": "id",   "col": 0, "type": "bigint"},
        |    {"name": "name", "col": 1},
        |    {"name": "lon",  "col": 2, "type": "double"},
        |    {"name": "lat",  "col": 3, "type": "double"}],
        |  "lon-field": "lon", "lat-field": "lat" }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg))
    val prog = Converters.convert(df, "value",
      Seq(Field("id", Col(0), "bigint"), Field("name", Col(1)),
        Field("lon", Col(2), "double"), Field("lat", Col(3), "double")),
      delimiter = "|", lonField = Some("lon"), latField = Some("lat"))
    def render(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("id", "name", "st_asText(geom) AS wkt").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(render(out) == render(prog))
    assert(out.where($"id".isNotNull).count() == 2)
  }

  test("config-driven transform fields run the transform language in-scan") {
    import spark.implicits._
    val df = Seq("  alice ,10,20150101", " bob ,32,20160630").toDF("value")
    val cfg =
      """{ "type": "delimited",
        |  "fields": [
        |    {"name": "who",  "transform": "uppercase(trim($1))"},
        |    {"name": "agep", "transform": "add($2, 1)", "type": "int"},
        |    {"name": "d",    "transform": "date('yyyyMMdd', trim($3))"}] }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg))
    val rows = out.orderBy("who").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ALICE", "BOB"))
    assert(rows.map(_.getInt(1)).toSeq == Seq(11, 33))
    // the untyped transform keeps its computed (timestamp) type
    assert(out.schema("d").dataType.typeName == "timestamp")
    assert(rows.forall(!_.isNullAt(2)))
  }

  test("enrichment caches + $name back-references: the reference's EnrichmentCacheTest shape") {
    // geomesa-convert-common EnrichmentCacheTest: a converter declares a
    // simple inline cache, one field looks a value up by an earlier
    // field's value, and geom is built from $lon/$lat back-references
    import spark.implicits._
    val df = Seq("1,35.0,36.0", "2,10.0,11.0").toDF("value")
    val cfg =
      """{ "type": "delimited",
        |  "caches": {
        |    "test": {"type": "simple", "data": {"1": {"name": "foo"}}}
        |  },
        |  "fields": [
        |    {"name": "id",          "transform": "toString($1)"},
        |    {"name": "keytolookup", "transform": "cacheLookup('test', $id, 'name')"},
        |    {"name": "lat",         "transform": "$2::double"},
        |    {"name": "lon",         "transform": "$3::double"},
        |    {"name": "geom",        "transform": "point($lon, $lat)"}] }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg)).orderBy("id")
    val rows = out.collect()
    // cache hit resolves; miss is null (the reference returns null too)
    assert(rows.map(r => Option(r.getString(1))).toSeq == Seq(Some("foo"), None))
    val wkts = out.selectExpr("st_asText(geom)").collect().map(_.getString(0))
    assert(wkts.toSeq == Seq("POINT (36 35)", "POINT (11 10)"))
    // the whole thing is one projection over one scan — no joins, no
    // exchanges, no UDFs for the lookup (literal map + element_at)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan.take(500))
    // unknown cache names fail loudly at compile time
    val bad = cfg.replace("'test'", "'nope'")
    intercept[IllegalArgumentException](ConverterConfig(df, "value", ConverterConfig.parse(bad)))
    // external lookup tables go through the broadcast-join path
    val lookup = Seq(("1", "FOO"), ("9", "ZAP")).toDF("k", "label")
    val enriched = Converters.enrich(out, lookup, "id", "k").orderBy("id")
    assert(enriched.select("label").collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("FOO"), None))
    val eplan = enriched.queryExecution.executedPlan.toString
    assert(eplan.contains("BroadcastHashJoin"), eplan.take(500))
  }

  test("$name back-references reuse the computed VALUE, not the expression") {
    // a non-deterministic field (uuid) referenced by a later field must
    // see the same value the field stores — the reference evaluates
    // fields sequentially, so $id is the materialized id
    import spark.implicits._
    val df = Seq("a", "b").toDF("value")
    val out = Converters.convert(df, "value",
      Seq(Field("id", Transform("uuid()"), ""),
          Field("tagged", Transform("concat($id, '-x')"), "")))
    out.collect().foreach { r =>
      assert(r.getString(1) == r.getString(0) + "-x", r.toString)
    }
    // a field may shadow the input column name without breaking $N refs
    val out2 = Converters.convert(df, "value",
      Seq(Field("value", Transform("uppercase($1)"), ""),
          Field("echo", Transform("concat($value, '!')"), "")))
    assert(out2.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("A", "A!"), ("B", "B!")))
  }

  test("composite routes keep their own caches (same name, different data)") {
    import spark.implicits._
    val df = Seq("csv:1", "json:1").toDF("value")
    val cfg =
      """{ "type": "composite",
        |  "routes": [
        |    {"when-matches": "^csv:", "converter": {
        |      "type": "delimited", "delimiter": ":",
        |      "caches": {"c": {"type": "simple", "data": {"1": {"label": "from-csv"}}}},
        |      "fields": [
        |        {"name": "k",   "transform": "toString($2)"},
        |        {"name": "lbl", "transform": "cacheLookup('c', $k, 'label')"}] }},
        |    {"when-matches": "^json:", "converter": {
        |      "type": "delimited", "delimiter": ":",
        |      "caches": {"c": {"type": "simple", "data": {"1": {"label": "from-json"}}}},
        |      "fields": [
        |        {"name": "k",   "transform": "toString($2)"},
        |        {"name": "lbl", "transform": "cacheLookup('c', $k, 'label')"}] }}
        |  ] }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg))
    assert(out.select("lbl").collect().map(_.getString(0)).toSet ==
      Set("from-csv", "from-json"))
  }

  test("config-driven composite converter routes by regex") {
    import spark.implicits._
    val df = Seq("""{"id": 1, "v": 7.5}""", "2,8.5", "noise").toDF("value")
    val cfg =
      """{ "type": "composite", "routes": [
        |  {"when-matches": "^\\{",
        |   "converter": {"type": "json", "fields": [
        |     {"name": "id", "json-path": "$.id", "type": "bigint"},
        |     {"name": "v",  "json-path": "$.v",  "type": "double"}]}},
        |  {"when-matches": "^[0-9]+,",
        |   "converter": {"type": "delimited", "delimiter": ",", "fields": [
        |     {"name": "id", "col": 0, "type": "bigint"},
        |     {"name": "v",  "col": 1, "type": "double"}]}}
        |] }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg))
    val m = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 7.5, 2L -> 8.5))
  }

  test("validators: skip-bad-records filters, raise-errors fails the job, " +
      "z-index bounds dates and geometries (ValidatorTest)") {
    import spark.implicits._
    def cfg(options: String) = ConverterConfig.parse(
      s"""{ "type": "delimited",
         |  "fields": [
         |    {"name": "dtg",  "transform": "date('yyyyMMdd', $$1)"},
         |    {"name": "geom", "transform": "point($$2, $$3)"}
         |  ],
         |  "options": $options }""".stripMargin)
    val good = "20160101,2,2"
    val badDate = ",2,2"
    // reference: Short.MaxValue+1 weeks past the epoch is NOT binnable
    val tooOld = "26000101,2,2"
    val badLon = "20160101,200,2"
    val df = Seq(good, badDate).toDF("value")

    // skip-bad-records: invalid rows filter out
    val skip = cfg("""{"validators": ["has-dtg"], "validation-mode": "skip-bad-records"}""")
    assert(ConverterConfig(df, "value", skip).count() == 1)
    // raise-errors: the job fails on the first invalid row
    val raise = cfg("""{"validators": ["has-dtg"], "validation-mode": "raise-errors"}""")
    assert(ConverterConfig(Seq(good).toDF("value"), "value", raise).count() == 1)
    intercept[Exception](ConverterConfig(df, "value", raise).count())

    // z-index: binnable dates pass, Short-bin overflow and bad lon skip
    val z = cfg("""{"validators": ["z-index"], "validation-mode": "skip-bad-records"}""")
    assert(ConverterConfig(Seq(good, tooOld, badLon).toDF("value"), "value", z).count() == 1)
    // 2037 dates are binnable at week period (reference "20371231" case)
    assert(ConverterConfig(Seq("20371231,2,2").toDF("value"), "value", z).count() == 1)

    // unknown names/modes are config errors (reference StandardOptions)
    intercept[Exception](cfg("""{"validators": ["foobar"]}"""))
    intercept[Exception](cfg("""{"validators": ["has-geo"], "validation-mode": "foobar"}"""))
  }

  test("review fixes: fid skip exemption, route-level csv, z-index bad dates, " +
      "jsonMap uncastable keys") {
    import spark.implicits._
    // a never-null fid (uuid) must NOT keep an unparseable row alive
    val fidCfg = ConverterConfig.parse(
      """{ "type": "json", "id-field": "uuid()",
        |  "fields": [{"name": "k", "json-path": "$.k"}] }""".stripMargin)
    val fidOut = ConverterConfig(Seq("""{"k": 5}""", "not json at all").toDF("value"),
      "value", fidCfg)
    assert(fidOut.count() == 1 && fidOut.columns.contains("fid"))

    // a composite route's quote-aware format must apply inside the route
    val comp = ConverterConfig.parse(
      """{ "type": "composite",
        |  "routes": [
        |    {"when-matches": "^\\d",
        |     "converter": {"type": "delimited", "format": "CSV",
        |       "fields": [{"name": "a", "col": 0}, {"name": "b", "col": 1}]}}
        |  ] }""".stripMargin)
    val compOut = ConverterConfig(Seq("1,\"x,y\"").toDF("value"), "value", comp).head
    assert(compOut.getString(1) == "x,y")

    // z-index skip mode must FILTER a malformed date, not fail the job
    val zCfg = ConverterConfig.parse(
      """{ "type": "delimited",
        |  "fields": [
        |    {"name": "dtg",  "col": 0},
        |    {"name": "geom", "transform": "point($2, $3)"}
        |  ],
        |  "options": {"validators": ["z-index"], "validation-mode": "skip-bad-records"} }"""
        .stripMargin)
    assert(ConverterConfig(Seq("2016-01-01,2,2", "garbage-date,2,2").toDF("value"),
      "value", zCfg).count() == 1)

    // jsonMap: an uncastable key drops its entry, never a null-map-key crash
    val m = spark.range(1)
      .select(Transformers.compile("jsonMap('int','boolean', $1)",
        { case 1 => lit("""{"1":true,"x":false}"""); case _ => lit("") }).as("m"))
      .head.getMap[Int, Boolean](0)
    assert(m == Map(1 -> true))
  }

  test("config parse errors are explicit") {
    intercept[IllegalArgumentException](ConverterConfig.parse("""{"fields": []}"""))
    intercept[IllegalArgumentException](ConverterConfig.parse("""{"type": "bogus"}"""))
    intercept[IllegalArgumentException](
      ConverterConfig.parse("""{"type": "delimited", "fields": [{"name": "x"}]}"""))
    intercept[IllegalArgumentException](ConverterConfig.parse("""{"type": "composite"}"""))
    // composite route validation: missing pieces, nesting, misplaced geom fields
    val leaf = """{"type": "delimited", "fields": [{"name": "x", "col": 0}]}"""
    intercept[IllegalArgumentException](ConverterConfig.parse(
      s"""{"type": "composite", "routes": [{"converter": $leaf}]}"""))
    intercept[IllegalArgumentException](ConverterConfig.parse(
      """{"type": "composite", "routes": [{"when-matches": "^a"}]}"""))
    intercept[IllegalArgumentException](ConverterConfig.parse(
      s"""{"type": "composite", "routes": [{"when-matches": "^a",
         |  "converter": {"type": "composite", "routes": [{"when-matches": "^b", "converter": $leaf}]}}]}""".stripMargin))
    intercept[IllegalArgumentException](ConverterConfig.parse(
      """{"type": "composite", "routes": [{"when-matches": "^a",
        |  "converter": {"type": "delimited", "lon-field": "x",
        |                "fields": [{"name": "x", "col": 0}]}}]}""".stripMargin))
  }

  test("Avro container export round-trips all supported types via the stock avro lib") {
    import spark.implicits._
    val df = Seq(
      (1L, 10, 1.5, 2.5f, "hello", true),
      (2L, 20, -3.25, 0.5f, null.asInstanceOf[String], false)
    ).toDF("id", "n", "d", "f", "s", "b")
      .selectExpr("id", "n", "d", "f", "s", "b",
        "st_makePoint(d, d) AS geom",
        "CAST('2024-03-04 10:00:00.123456' AS TIMESTAMP) AS ts")
      .repartition(2)
    graft.functions.StFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString + "/avro"
    AvroExport.write(df, dir)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 2)
    // container magic "Obj\x01"
    val head = java.nio.file.Files.readAllBytes(files.head.toPath).take(4)
    assert(head.sameElements(Array[Byte]('O', 'b', 'j', 1)))
    val back = AvroExport.read(spark, dir, df.schema)
    assert(back.schema == df.schema)
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq; case x => x
      }).toSet
    assert(norm(back) == norm(df) && norm(df).size == 2)
    // sub-millisecond timestamp precision survives
    assert(back.selectExpr("CAST(ts AS STRING)").collect()
      .forall(_.getString(0).endsWith("10:00:00.123456")))
  }

  test("converter config with a paired sft spec types, orders and stamps the output") {
    import spark.implicits._
    val df = Seq(
      "1|alice|2024-03-01T10:00:00Z|10.5|45.25",
      "2|bob|not-a-date|-3.0|7.75").toDF("value")
    val cfg =
      """{ "type": "delimited", "delimiter": "|",
        |  "fields": [
        |    {"name": "id",   "col": 0},
        |    {"name": "name", "col": 1},
        |    {"name": "dtg",  "col": 2},
        |    {"name": "lon",  "col": 3, "type": "double"},
        |    {"name": "lat",  "col": 4, "type": "double"}],
        |  "lon-field": "lon", "lat-field": "lat",
        |  "type-name": "people",
        |  "sft": "id:Long,name:String,dtg:Date,score:Double,*geom:Point:srid=4326" }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg))
    // sft order + types, including the unmapped 'score' as a typed null
    assert(out.columns.toSeq == Seq("id", "name", "dtg", "score", "geom"))
    assert(out.schema("id").dataType.typeName == "long")
    assert(out.schema("dtg").dataType.typeName == "timestamp")
    assert(out.schema("score").dataType.typeName == "double")
    assert(out.schema("geom").dataType.typeName == "binary")
    // sft metadata survives on the output schema and round-trips
    val back = graft.table.Sft.fromSchema("people", out.schema)
    assert(back.defaultGeometry.contains("geom"))
    assert(back.encode() == "id:Long,name:String,dtg:Date,score:Double,*geom:Point:srid=4326")
    val rows = out.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(3))) // score unmapped -> null
    assert(!rows(0).isNullAt(2) && rows(1).isNullAt(2)) // bad date -> null, not a crash
    assert(out.selectExpr("st_asText(geom)").collect().map(_.getString(0)).toSet ==
      Set("POINT (10.5 45.25)", "POINT (-3 7.75)"))
  }

  test("paired sft: malformed WKT geometry nulls the field, not the job") {
    import spark.implicits._
    val df = Seq("1|POINT (1 2)", "2|POINT (10.5").toDF("value")
    val cfg =
      """{ "type": "delimited", "delimiter": "|",
        |  "fields": [
        |    {"name": "id",   "col": 0},
        |    {"name": "geom", "col": 1}],
        |  "type-name": "shapes",
        |  "sft": "id:Long,*geom:Point:srid=4326" }""".stripMargin
    val out = ConverterConfig(df, "value", ConverterConfig.parse(cfg)).orderBy("id")
    val rows = out.collect()
    assert(rows.length == 2)
    assert(!rows(0).isNullAt(1) && rows(1).isNullAt(1)) // bad WKT -> null geometry
  }
}

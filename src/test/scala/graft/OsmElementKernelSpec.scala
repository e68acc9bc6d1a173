package graft

import graft.osm.{OsmPipeline, OsmProbes, OsmSplittable, XmlElementInputFormat}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.io.Text
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** The splittable scan's element kernel against from_xml: for every
  * element, the kernel's row, or the row of the from_xml fallback it
  * leaves the element to, equals the row from_xml gives the element's
  * decoded String (the scan before the kernel), except that a way whose
  * nd list from_xml cuts short is all-null. Each case also pins which
  * of the two parses it, so a kernel that sent everything to the fallback
  * would fail here.
  */
class OsmElementKernelSpec extends SparkSuite {

  /** The element frame as it was built before the kernel: each element
    * decoded to a String and parsed by from_xml.
    */
  private def fromXmlFrame(elements: RDD[Text]): DataFrame = {
    val records = elements.map { t =>
      val e = t.toString
      (if (e.startsWith("<node")) "node" else "way", e)
    }
    spark.createDataset(records)(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .select(col("_1").as("kind"),
        when(col("_1") === "node", from_xml(col("_2"), OsmPipeline.nodeXmlSchema)).as("node"),
        when(col("_1") === "way", from_xml(col("_2"), OsmPipeline.wayXmlSchema)).as("way"))
  }

  /** A row's values, doubles by bit pattern (Row equality has 0.0 == -0.0). */
  private def canon(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case x => x
  }

  private def texts(elements: Seq[Array[Byte]]): RDD[Text] =
    spark.sparkContext.parallelize(elements, 3).map(new Text(_))

  /** Both frames of `elements`, row by row, in element order. */
  private def bothFrames(elements: Seq[Array[Byte]]): Seq[(Any, Any)] = {
    val got = OsmSplittable.elementFrame(spark, texts(elements)).collect().map(canon)
    val want = fromXmlFrame(texts(elements)).collect().map(canon)
    assert(got.length == elements.length && want.length == elements.length)
    got.toSeq.zip(want)
  }

  private val attrs = """id="29591541" lat="30.4816805" lon="-97.5869308" version="74" """ +
    """timestamp="2016-08-11T15:43:11Z" changeset="41391695" uid="3526564" user="yurasi""""
  private def node(a: String, body: String = null): String =
    if (body == null) s"<node $a/>" else s"<node $a>$body</node>"
  private def tagged(k: String, v: String): String =
    node(attrs, s"""\n    <tag k="$k" v="$v"/>\n  """)
  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Int => Seq(b.toByte)
  }.toArray

  /** (case, element bytes, whether the kernel parses it itself). */
  private val cases: Seq[(String, Array[Byte], Boolean)] = Seq[(String, Any, Boolean)](
    ("self-closed node", node(attrs), true),
    ("empty open node", node(attrs, ""), true),
    ("node with white space only", node(attrs, "\n  "), true),
    ("node with tags", node(attrs, """
    <tag k="highway" v="motorway_junction"/>
    <tag k="addr:street" v="Main St"/>
  """), true),
    ("attributes across lines", "<node id=\"1\"\n\tlat=\"2.5\"\r\n  lon=\"-3\"/>", true),
    ("'-quoted values", """<node id='7' user='say "hi"' timestamp="it's"/>""", true),
    ("spaces around =", """<node id = "7" lat= "1.5" lon ="-2"/>""", true),
    ("unknown attribute", s"""<node $attrs visible="true"/>""", true),
    ("unknown tag attribute", node("id=\"1\"", """<tag k="a" v="b" x="y"/>"""), true),
    ("missing attributes", """<node id="5"/>""", true),
    ("no id", """<node lat="1.5"/>""", false),
    ("no attributes", "<node/>", false),
    ("only an unknown attribute", """<node visible="true"/>""", false),
    ("empty value", tagged("a", ""), false),
    ("value with surrounding spaces", tagged("a", " x "), false),
    ("value with a leading space", """<node id="1" version=" 2"/>""", false),
    ("null value", tagged("a", "null"), false),
    ("the five named entities", tagged("a&amp;b", "&lt;&gt;&amp;&quot;&apos;"), true),
    ("decimal character reference", tagged("a", "caf&#233;"), false),
    ("hex character reference", tagged("a", "caf&#xE9;"), false),
    ("unknown entity", tagged("a", "&nbsp;"), false),
    ("bare ampersand", tagged("a", "a & b"), false),
    ("raw > in a value", tagged("a", "x>y"), true),
    ("raw < in a value", tagged("a", "x<y"), false),
    ("TAB in a value", tagged("a", "x\ty"), false),
    ("LF in a value", tagged("a", "x\ny"), false),
    ("CR in a value", tagged("a", "x\ry"), false),
    ("control byte in a value", tagged("a", "x\u0001y"), false),
    ("DEL and C1 controls", tagged("a", "x\u007f\u0085y"), true),
    ("non-ASCII UTF-8", tagged("name", "Café Dürüm 東京 😀"), true),
    ("invalid UTF-8 byte", bytes("""<node id="1" user="a""", 0xff, """b"/>"""), false),
    ("truncated UTF-8 sequence", bytes("""<node id="1" user="a""", 0xc3, """"/>"""), false),
    ("lone continuation byte", bytes("""<node id="1" user="""", 0x80, """"/>"""), false),
    ("overlong encoding", bytes("""<node id="1" user="""", 0xc0, 0xaf, """"/>"""), false),
    ("UTF-8 surrogate", bytes("""<node id="1" user="""", 0xed, 0xa0, 0x80, """"/>"""), false),
    ("U+FFFE", bytes("""<node id="1" user="""", 0xef, 0xbf, 0xbe, """"/>"""), false),
    ("id +5", """<node id="+5"/>""", false),
    ("id 007", """<node id="007"/>""", true),
    ("id 1e5", """<node id="1e5"/>""", false),
    ("id -0", """<node id="-0"/>""", true),
    ("id negative", """<node id="-42"/>""", true),
    ("id 18 digits", """<node id="123456789012345678"/>""", true),
    ("id 19 digits", """<node id="1234567890123456789"/>""", false),
    ("id Long.MinValue", """<node id="-9223372036854775808"/>""", false),
    ("lat .5", """<node id="1" lat=".5"/>""", false),
    ("lat 5.", """<node id="1" lat="5."/>""", false),
    ("lat -0", """<node id="1" lat="-0" lon="-0.0"/>""", true),
    ("lat 1e5", """<node id="1" lat="1e5"/>""", false),
    ("lat +1.5", """<node id="1" lat="+1.5"/>""", false),
    ("lat 1,5", """<node id="1" lat="1,5"/>""", false),
    ("lat NaN", """<node id="1" lat="NaN"/>""", false),
    ("lat with many digits", """<node id="1" lat="0.12345678901234567890123" lon="-123456789012345678.5"/>""", true),
    ("lat with 15 digits", """<node id="1" lat="30.1234567890123" lon="-97.000000000000001"/>""", true),
    ("duplicate attribute", s"""<node $attrs user="dup"/>""", false),
    ("duplicate unknown attribute", """<node id="1" x="1" x="2"/>""", false),
    ("duplicate tag attribute", node("id=\"1\"", """<tag k="a" k="b" v="c"/>"""), false),
    ("attributes without white space", """<node id="1"lat="2"/>""", false),
    ("prefixed attribute name", """<node id="1" a:b="2"/>""", false),
    ("comment", node(attrs, """<tag k="a" v="b"/><!-- c -->"""), false),
    ("CDATA", node(attrs, """<tag k="a" v="b"/><![CDATA[x]]>"""), false),
    ("processing instruction", node(attrs, "<?pi x?>"), false),
    ("text", node(attrs, """<tag k="a" v="b"/>text"""), false),
    ("unknown child", node(attrs, "<foo/>"), false),
    ("nd inside a node", node(attrs, """<nd ref="5"/>"""), false),
    ("tag without k", node(attrs, """<tag v="a"/>"""), false),
    ("tag without v", node(attrs, """<tag k="a"/>"""), false),
    ("tag without attributes", node(attrs, "<tag/>"), false),
    ("open tag child", node(attrs, """<tag k="a" v="b"></tag>"""), false),
    ("nested tag", node(attrs, """<tag k="a" v="b"><tag k="c" v="d"/></tag>"""), false),
    ("truncated start tag", """<node id="1" lat="2"""", false),
    ("truncated element", """<node id="1" lat="2"><tag k="a" v="b"/>""", false),
    ("mismatched end tag", """<node id="1"><tag k="a" v="b"/></nod>""", false),
    ("bytes after the element", """<node id="1"/>x""", false),
    ("nodeset", """<nodeset id="1"/>""", false),
    ("too many attributes", "<node id=\"1\"" + (1 to 40).map(i => s""" a$i="$i"""").mkString + "/>", false),
    ("element past the kernel's size bound", node("id=\"1\"",
      (1 to 3000).map(i => s"""<tag k="key$i" v="value$i"/>""").mkString), false),
    ("way with nds and tags", """<way id="9" user="u" uid="2" version="1" changeset="3" timestamp="t">
    <nd ref="5"/>
    <nd ref="6"/>
    <tag k="highway" v="residential"/>
  </way>""", true),
    ("self-closed way", """<way id="9"/>""", true),
    ("way with a tag before its nds", """<way id="9"><tag k="a" v="b"/><nd ref="7"/></way>""", true),
    ("nd with an unknown attribute", """<way id="9"><nd ref="5" x="1"/></way>""", true),
    ("nd ref +5", """<way id="9"><nd ref="+5"/></way>""", false),
    ("nd without ref", """<way id="9"><nd/></way>""", false),
    ("empty nd ref", """<way id="9"><nd ref=""/></way>""", false),
    ("nd ref x between nds", """<way id="9"><nd ref="1"/><nd ref="x"/><nd ref="2"/></way>""", false),
    ("nd inside a comment", """<way id="9"><nd ref="1"/><!-- <nd ref="2"/> --></way>""", false),
    ("way lat is unknown", """<way id="9" lat="1e5"/>""", true),
    ("way end tag for a node", """<way id="9"></node>""", false)
  ).map {
    case (name, s: String, fast) => (name, s.getBytes(UTF_8), fast)
    case (name, b: Array[Byte], fast) => (name, b, fast)
  }

  /** Ways from_xml parses with fewer nds than their `<nd>` children: the
    * element frame makes them all-null, for `validated` to reject.
    */
  private val ndsCutShort = Set("empty nd ref", "nd ref x between nds")

  test("every adversarial element: the kernel's row or its fallback's equals from_xml's") {
    val rows = bothFrames(cases.map(_._2))
    for (((name, b, fast), (got, want)) <- cases.zip(rows)) {
      assert(OsmSplittable.parsedInScan(new Text(b)) == fast,
        s"$name: expected the ${if (fast) "kernel" else "fallback"}")
      if (ndsCutShort(name)) {
        assert(want != Seq("way", null, Seq.fill(8)(null)), s"$name: from_xml's row is all-null")
        assert(got == Seq("way", null, Seq.fill(8)(null)), s"$name: $got is not all-null")
      } else assert(got == want, s"$name: kernel frame $got != from_xml $want")
    }
    // a truncated element is one row whose struct is all null
    val truncated = OsmSplittable.elementFrame(spark,
      texts(Seq("""<node id="1" lat="2"><tag k="a" v="b"/>""".getBytes(UTF_8))))
      .select("kind", "node").collect().toSeq
    assert(truncated == Seq(Row("node", Row(Seq.fill(9)(null): _*))))
  }

  test("the element frame keeps from_xml's schema") {
    val one = texts(Seq(node(attrs).getBytes(UTF_8)))
    assert(OsmSplittable.elementFrame(spark, one).schema == fromXmlFrame(one).schema)
  }

  test("the kernel keeps no byte of the reader's reused buffer") {
    // one Text refilled for every element, as the record reader does
    val elements = Seq(tagged("first", "one"), tagged("second", "two"), node(attrs))
    val rows = spark.sparkContext.parallelize(elements, 1).mapPartitions { it =>
      val shared = new Text
      it.map { e => shared.set(e.getBytes(UTF_8)); shared }
    }
    val got = OsmSplittable.elementFrame(spark, rows)
      .select(col("node.tag").getItem(0).getField("_k")).collect().map(_.get(0)).toSeq
    assert(got == Seq("first", "second", null))
  }

  /** An .osm file shaped as the benchmark generator writes one: self-closed
    * and tagged nodes, ways of nds then tags, `&amp;` in keys.
    */
  private def generatorShaped(path: String, nNodes: Int, nWays: Int): Unit = {
    val r = new scala.util.Random(401)
    val keys = Seq("addr:street", "phone", "contact:phone", "addr:postcode", "addr:state",
      "addr:city", "addr:housenumber", "gnis:county_id", "tiger:name_base_1", "Addr:Note",
      "highway", "name", "bad=key", "name.en", "note#1", "addr street", "fix?me", "a&b",
      "wiki;page")
    val values = Seq("Main St", "Pecan Street", "+1 (512) 281-5440", "(737) 555-0100",
      "512.555.0199", "78621-1242", "TX 78660", "TX", "Texas", "Elgin, TX", "Manor, Texas",
      "101", "v17", "x")
    def tags(n: Int): String = (1 to n).map { _ =>
      s"""    <tag k="${keys(r.nextInt(keys.size)).replace("&", "&amp;")}" v="${values(r.nextInt(values.size))}"/>\n"""
    }.mkString
    def ts(): String = f"20${8 + r.nextInt(9)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ"
    val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\" generator=\"perfbench\">\n")
    w.write("  <bounds minlat=\"30.1\" minlon=\"-97.9\" maxlat=\"30.6\" maxlon=\"-97.2\"/>\n")
    for (i <- 0 until nNodes) {
      val lat = math.rint((30.1 + 0.5 * r.nextDouble()) * 1e7) / 1e7
      val lon = math.rint((-97.9 + 0.7 * r.nextDouble()) * 1e7) / 1e7
      val u = r.nextInt(400)
      val head = s"""  <node id="${100000000L + 3L * i}" lat="$lat" lon="$lon" version="${1 + r.nextInt(7)}" """ +
        s"""timestamp="${ts()}" changeset="${10000000 + r.nextInt(300000)}" uid="${u + 1}" user="user_${"%03d".format(u)}""""
      if (r.nextDouble() < 0.18) w.write(s"$head>\n${tags(1 + r.nextInt(6))}  </node>\n")
      else w.write(s"$head/>\n")
    }
    for (j <- 0 until nWays) {
      val u = r.nextInt(400)
      w.write(s"""  <way id="${500000000 + j}" version="${1 + r.nextInt(5)}" timestamp="${ts()}" """ +
        s"""changeset="${10000000 + r.nextInt(300000)}" uid="${u + 1}" user="user_${"%03d".format(u)}">\n""")
      (0 until 2 + r.nextInt(14)).foreach(_ =>
        w.write(s"""    <nd ref="${100000000L + 3L * r.nextInt(nNodes)}"/>\n"""))
      w.write(tags(r.nextInt(5)))
      w.write("  </way>\n")
    }
    w.write("</osm>\n")
    w.close()
  }

  /** Every element of the file, as the scan reads it. */
  private def fileElements(path: String): Seq[Array[Byte]] =
    XmlElementInputFormat.elements(spark, path, Seq("node", "way"), None)
      .map { case (_, t) => t.copyBytes() }.collect().toSeq

  test("the kernel parses every element of the fixture and of a generator-shaped file") {
    val dir = Files.createTempDirectory("osm_kernel").toString
    val generated = s"$dir/map.osm"
    generatorShaped(generated, 3000, 600)
    for ((path, count) <- Seq(OsmProbes.fixturePath -> 3, generated -> 3600)) {
      val elements = fileElements(path)
      assert(elements.length == count, path)
      val fallbacks = elements.filterNot(b => OsmSplittable.parsedInScan(new Text(b)))
      assert(fallbacks.isEmpty, s"$path: ${fallbacks.length} elements left to from_xml, " +
        fallbacks.headOption.map(new String(_, UTF_8)).getOrElse(""))
      val rows = bothFrames(elements)
      val differ = rows.count { case (got, want) => got != want }
      assert(differ == 0, s"$path: $differ rows differ from from_xml's")
      // and the scan itself gives the same frame
      assert(OsmSplittable.readElements(spark, path, Some(64L * 1024)).collect().map(canon).toSeq ==
        rows.map(_._2))
    }
  }
}

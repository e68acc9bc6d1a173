package graft

import graft.osm.{OsmPipeline, OsmProbes, OsmSplittable, XmlElementInputFormat}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** ETL at the reference's actual input scale (~100 MB XML for the real
  * Elgin extract): generate a comparable synthetic OSM file, run the full
  * pipeline, verify counts/cleaning, and record throughput.
  */
class OsmScaleSpec extends SparkSuite {

  private def generate(path: String, nNodes: Int, nWays: Int): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    var i = 0
    while (i < nNodes) {
      val id = 1000000L + i
      w.write(s"""  <node id="$id" lat="${30.25 + (i % 1000) * 1e-4}" lon="${-97.62 + (i % 997) * 1e-4}" version="1" timestamp="2016-0${1 + i % 9}-11T15:43:11Z" changeset="${i % 100000}" uid="${i % 5000}" user="user_${i % 5000}">
""")
      w.write(s"""    <tag k="addr:street" v="Main St"/>
    <tag k="addr:postcode" v="786${i % 10}1-124${i % 10}"/>
    <tag k="highway" v="residential"/>
""")
      w.write("  </node>\n")
      i += 1
    }
    var j = 0
    while (j < nWays) {
      val id = 9000000L + j
      w.write(s"""  <way id="$id" version="1" timestamp="2015-06-01T12:00:00Z" changeset="2" uid="2" user="w_${j % 100}">
    <tag k="addr:city" v="Elgin, TX"/>
    <nd ref="${1000000L + j % nNodes}"/>
    <nd ref="${1000000L + (j * 7) % nNodes}"/>
  </way>
""")
      j += 1
    }
    w.write("</osm>\n")
    w.close()
  }

  test("process preserves non-ASCII UTF-8 bytes end to end (charset-independent)") {
    // Real OSM is full of multi-byte names; with the platform default
    // charset (US-ASCII when LANG is unset) these were mangled to '?'.
    val dir = Files.createTempDirectory("osm_utf8").toString
    val xml = s"$dir/utf8.osm"
    val names = Seq("Café Señorial", "Große Straße", "北京烤鸭", "Łódź–Żoliborz")
    val w = Files.newBufferedWriter(Paths.get(xml), UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    names.zipWithIndex.foreach { case (n, i) =>
      w.write(s"""  <node id="${i + 1}" lat="30.1" lon="-97.1" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u">
    <tag k="name" v="$n"/>
  </node>
""")
    }
    w.write("</osm>\n")
    w.close()

    // splits far smaller than one element: boundaries fall inside the
    // multi-byte names, and each element is still read whole
    for (split <- Seq(Some(7L), None)) {
      val got = OsmSplittable.nodes(OsmSplittable.readElements(spark, xml, split))
        .select(col("tag").getItem(0).getField("_v")).collect().map(_.getString(0)).toSet
      assert(got == names.toSet, s"split=$split")
    }
    val t = OsmPipeline.process(spark, xml)
    val got = t.nodeTags.filter(t.nodeTags("key") === "name")
      .select("value").collect().map(_.getString(0)).toSet
    assert(got == names.toSet)
  }

  test("CSV round-trip preserves embedded newlines in tag values (multiLine)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("osm_csv_nl").toString
    // legal in OSM note/description values: embedded newlines + quotes
    val tricky = Seq(
      (1L, "note", "line one\nline two", "regular"),
      (2L, "description", "said \"hi\",\nthen left", "regular"),
      (3L, "name", "Café Straße", "regular"))
    val tags = tricky.toDF("id", "key", "value", "type")
    val empty = Seq.empty[(Long, String, String, String)].toDF("id", "key", "value", "type")
    val nodes = Seq((1L, 30.1, -97.1, "u", 1L, "1", 1L, "2016-01-01T00:00:00Z"))
      .toDF("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp")
    val ways = Seq.empty[(Long, String, Long, String, Long, String)]
      .toDF("id", "user", "uid", "version", "changeset", "timestamp")
    val wayNodes = Seq.empty[(Long, Long, Long)].toDF("id", "node_id", "position")
    val t = OsmPipeline.OsmTables(nodes, tags, ways, wayNodes, empty)
    OsmPipeline.writeCsv(t, dir)
    val back = OsmPipeline.readCsv(spark, dir)
    val got = back.nodeTags.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got == tricky, s"round-trip mismatch: $got")
  }

  test("splittable XML source: single file parallelizes, rows identical to stock scan") {
    val dir = Files.createTempDirectory("osm_split").toString
    val xml = s"$dir/one.osm"
    val nNodes = 30000
    val nWays = 5000
    generate(xml, nNodes, nWays)
    val bytes = Files.size(Paths.get(xml))
    assert(bytes > 8 * 1024 * 1024)

    // force many small splits on the ONE file
    val split = Some(1024L * 1024)
    val nodes = OsmSplittable.nodes(OsmSplittable.readElements(spark, xml, split))
    assert(nodes.rdd.getNumPartitions >= 8,
      s"single file did not split: ${nodes.rdd.getNumPartitions} partitions")
    assert(nodes.count() == nNodes)

    // rows identical to the stock (unsplittable) XML scan, not just counts
    val stock = OsmPipeline.readNodesRaw(spark, xml)
    val a = nodes.orderBy("_id").collect().map(_.toSeq).toSeq
    val b = stock.orderBy("_id").collect().map(_.toSeq).toSeq
    assert(a == b)

    // ways: start tags sparse and clustered at the file tail — exactly the
    // case where naive delimiter records blow up; here each split just
    // finds no start tag and returns empty, and counts still agree
    val ways = OsmSplittable.ways(OsmSplittable.readElements(spark, xml, split))
    assert(ways.count() == nWays)
    assert(ways.select("_id").orderBy("_id").collect().map(_.getLong(0)).toSeq ==
      OsmPipeline.readWaysRaw(spark, xml).select("_id").orderBy("_id")
        .collect().map(_.getLong(0)).toSeq)

    // the full 5-table ETL over the splittable scan == over the stock scan
    val ts = OsmPipeline.process(spark, xml, splittable = true)
    val t0 = OsmPipeline.process(spark, xml, splittable = false)
    def rows(d: org.apache.spark.sql.DataFrame, keys: String*) =
      d.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    assert(rows(ts.nodeTags, "id", "key") == rows(t0.nodeTags, "id", "key"))
    assert(rows(ts.wayNodes, "id", "position") == rows(t0.wayNodes, "id", "position"))
  }

  /** Every element the input format yields for `path` when Hadoop cuts
    * it at `splitBytes`, read split by split through the record reader
    * itself (no Spark job): (start-tag offset, element text).
    */
  private def readerElements(path: String, rowTag: String, splitBytes: Long): Seq[(Long, String)] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(XmlElementInputFormat.ROW_TAG_KEY, rowTag)
    conf.setLong(FileInputFormat.SPLIT_MAXSIZE, splitBytes)
    val job = Job.getInstance(conf)
    FileInputFormat.setInputPaths(job, path)
    val format = new XmlElementInputFormat
    format.getSplits(job).asScala.toSeq.flatMap { split =>
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val reader = format.createRecordReader(split, ctx)
      reader.initialize(split, ctx)
      try Iterator.continually(reader.nextKeyValue()).takeWhile(identity)
        .map(_ => (reader.getCurrentKey.get, reader.getCurrentValue.toString)).toVector
      finally reader.close()
    }
  }

  test("splittable XML source: split boundaries cannot drop or duplicate elements") {
    // tiny file, splits far smaller than one element's byte length — every
    // element straddles a boundary; the ownership rule (element belongs to
    // the split where its start tag begins; last element read through the
    // split end) must still yield exactly-once extraction
    val dir = Files.createTempDirectory("osm_split_edge").toString
    val xml = s"$dir/edge.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 200).foreach { i =>
      // near misses of the start tag: a longer name ("<nodeset" must not
      // match "<node"), and a prefix right before a real start tag, so
      // some boundary falls inside the run "<nod/><node"
      if (i % 10 == 0) w.write(s"""  <nodeset id="-$i"/>\n""")
      if (i % 7 == 0) w.write("  <nod/>")
      if (i % 2 == 0)
        // self-closing, with '>' inside an attribute value (legal XML)
        w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="a&gt;b>c"/>\n""")
      else
        w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u">
    <tag k="name" v="n$i"/>
  </node>\n""")
    }
    w.write("</osm>\n")
    w.close()

    for (splitBytes <- Seq(64L, 97L, 256L, 1000L)) {
      val got = OsmSplittable.nodes(OsmSplittable.readElements(spark, xml, Some(splitBytes)))
        .select("_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 200L), s"splitBytes=$splitBytes: got ${got.length} ids")
    }

    // every split size from 1 to 300 bytes, at the reader: the same
    // elements, at the same offsets, as one split over the whole file
    val whole = readerElements(xml, "node", Long.MaxValue)
    val ids = whole.map { case (_, e) => "id=\"(\\d+)\"".r.findFirstMatchIn(e).get.group(1).toLong }
    assert(ids == (1L to 200L))
    for (splitBytes <- 1L to 300L) {
      val got = readerElements(xml, "node", splitBytes)
      assert(got == whole, s"splitBytes=$splitBytes: got ${got.length} elements")
    }
  }

  test("splittable XML source: an element longer than the reader's window") {
    // a 3 MB element (80,000 child tags), far past the reader's 1 MiB
    // initial window, and a 600 KB root tag (two attributes with raw '>'),
    // between ordinary nodes; the smaller splits cut inside both. (The
    // stock XML parser drops a root tag much longer than that, and every
    // element after it.)
    val dir = Files.createTempDirectory("osm_split_long").toString
    val xml = s"$dir/long.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 60).foreach { i =>
      val extra = if (i == 40) s""" x="${"u>v" * 100000}"""" else ""
      val user = if (i == 40) "u>v" * 100000 else s"u$i"
      w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="$user"$extra>
    <tag k="name" v="n$i"/>\n""")
      if (i == 20) (1 to 80000).foreach(t => w.write(s"""    <tag k="k$t" v="abcdefghij$t"/>\n"""))
      w.write("  </node>\n")
    }
    w.write("</osm>\n")
    w.close()
    assert(Files.size(Paths.get(xml)) > 3L * 1000 * 1000)

    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("_id").collect().map(_.toSeq).toSeq
    val stock = rows(OsmPipeline.readNodesRaw(spark, xml))
    assert(stock.length == 60)
    for (split <- Seq(Some(64L * 1024), Some(1L << 20), Some(3L << 20), None)) {
      val got = rows(OsmSplittable.nodes(OsmSplittable.readElements(spark, xml, split)))
      assert(got == stock, s"split=$split: ${got.length} rows")
    }
  }

  /** Nodes 1–60, where node 40 carries three 300 KB attributes: past the
    * stock XML parser's limits, and unparseable for from_xml.
    */
  private def oversizedElementFile(): String = {
    val dir = Files.createTempDirectory("osm_big_attrs").toString
    val xml = s"$dir/attrs.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 60).foreach { i =>
      val big = if (i == 40) Seq("x", "y", "z").map(a => s""" $a="${"u>v" * 100000}"""").mkString
        else ""
      w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u$i"$big>
    <tag k="name" v="n$i"/>
  </node>\n""")
    }
    w.write("</osm>\n")
    w.close()
    xml
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("process scans splittably by default: an oversized element costs one row, not the file tail") {
    // node 40 carries three 300 KB attributes. The stock XML source stops
    // there without an error: ids 1–39 plus one all-null row, and nodes
    // 41–60 are gone. The default scan keeps every later node and turns
    // node 40 into one all-null row, which `validated` rejects.
    val xml = oversizedElementFile()

    val ids = OsmPipeline.process(spark, xml).nodes.select("id").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(ids.flatten.sorted == (1L to 60L).filter(_ != 40L), s"${ids.flatten.length} ids")
    assert(ids.count(_.isEmpty) == 1)
    // collect reads every column (a count is checked as well: next case)
    val e = intercept[Exception](
      OsmPipeline.validated(OsmPipeline.process(spark, xml)).nodes.collect())
    val msgs = messages(e)
    assert(msgs.exists(_.contains("validation failed: nodes.id")), msgs.mkString("\n"))
  }

  test("validated checks every row whatever the consumer reads: a count raises too") {
    // a count reads no column of the table; the checks must still run
    val xml = oversizedElementFile()
    val e = intercept[Exception](
      OsmPipeline.validated(OsmPipeline.process(spark, xml)).nodes.count())
    val msgs = messages(e)
    assert(msgs.exists(_.contains("validation failed: nodes.id is null for id=null")),
      msgs.mkString("\n"))
    // a validated table without nulls counts normally
    val ok = OsmPipeline.validated(OsmPipeline.process(spark, OsmProbes.fixturePath))
    assert(ok.nodes.count() == 2 && ok.wayNodes.count() == 2)
  }

  test("two-tag scan: every node and every way exactly once, as the per-tag scans") {
    val dir = Files.createTempDirectory("osm_two_tag").toString
    val xml = s"$dir/two.osm"
    generate(xml, 300, 100)
    // an ASCII file: the char index of the first way is its byte offset
    val firstWay = new String(Files.readAllBytes(Paths.get(xml)), UTF_8).indexOf("<way ").toLong
    assert(firstWay > 0)
    // cuts inside the last node's end tag, between it and the first way,
    // on the way's '<', and inside the way's start tag; then cuts elsewhere
    val cuts = Seq(firstWay - 6, firstWay - 2, firstWay, firstWay + 1, firstWay + 3,
      97L, 1000L, 4096L, Long.MaxValue)
    for (splitBytes <- cuts) {
      val both = readerElements(xml, "node,way", splitBytes)
      val perTag = (readerElements(xml, "node", splitBytes) ++
        readerElements(xml, "way", splitBytes)).sortBy(_._1)
      assert(both.length == 400, s"splitBytes=$splitBytes: ${both.length} elements")
      assert(both == perTag, s"splitBytes=$splitBytes")
    }
    // through Spark: the element frame's nodes and ways are the stock scans
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("_id").collect().map(_.toSeq).toSeq
    val stockNodes = rows(OsmPipeline.readNodesRaw(spark, xml))
    val stockWays = rows(OsmPipeline.readWaysRaw(spark, xml))
    assert(stockNodes.length == 300 && stockWays.length == 100)
    for (split <- Seq(Some(firstWay - 2), Some(firstWay + 1), Some(4096L), None)) {
      val elements = OsmSplittable.readElements(spark, xml, split)
      assert(rows(OsmSplittable.nodes(elements)) == stockNodes, s"split=$split")
      assert(rows(OsmSplittable.ways(elements)) == stockWays, s"split=$split")
    }
  }

  test("two-tag scan: a selected tag that prefixes another name is matched by its boundary byte") {
    val dir = Files.createTempDirectory("osm_tag_prefix").toString
    val xml = s"$dir/prefix.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 20).foreach { i =>
      w.write(s"""  <way id="$i" user="u"><nd ref="$i"/></way>\n""")
      if (i % 2 == 0) w.write(s"""  <wayx id="-$i"/>\n""")
      else w.write(s"""  <wayx id="-$i"><nd ref="$i"/></wayx>\n""")
    }
    w.write("</osm>\n")
    w.close()
    def ids(es: Seq[(Long, String)], tag: String) = es.collect {
      case (_, e) if e.startsWith(s"<$tag ") => "id=\"(-?\\d+)\"".r.findFirstMatchIn(e).get.group(1).toLong
    }
    for (splitBytes <- (1L to 120L) :+ Long.MaxValue) {
      // only `way` selected: no `wayx` element is taken for a way
      val ways = readerElements(xml, "way", splitBytes)
      assert(ways.forall(_._2.startsWith("<way ")), s"splitBytes=$splitBytes")
      assert(ids(ways, "way") == (1L to 20L), s"splitBytes=$splitBytes")
      // both selected, in either order: each element under its own tag
      for (tags <- Seq("way,wayx", "wayx,way")) {
        val both = readerElements(xml, tags, splitBytes)
        assert(both.length == 40, s"$tags splitBytes=$splitBytes: ${both.length}")
        assert(ids(both, "way") == (1L to 20L), s"$tags splitBytes=$splitBytes")
        assert(ids(both, "wayx") == (1L to 20L).map(-_), s"$tags splitBytes=$splitBytes")
      }
    }
  }

  test("the ETL reads its input once: one scan feeds both element types and the five sinks") {
    val dir = Files.createTempDirectory("osm_read_once").toString
    val xml = s"$dir/once.osm"
    generate(xml, 20000, 4000)
    val bytes = Files.size(Paths.get(xml))
    // the local file system's bytes read, over every thread. (A task's
    // inputMetrics.bytesRead would also count each sink's reads of the
    // cached scan, not just the file's bytes.)
    def fileBytesRead(): Long = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file").getLong("bytesRead")
    val read0 = fileBytesRead()
    try OsmPipeline.writeParquet(
      OsmPipeline.validated(OsmPipeline.process(spark, xml, cache = true)), s"$dir/tables")
    finally spark.catalog.clearCache()
    val read = fileBytesRead() - read0
    info(s"read $read bytes of a $bytes-byte file")
    assert(read <= bytes * 1.1, s"read $read bytes of a $bytes-byte file")
    assert(spark.read.parquet(s"$dir/tables/ways_nodes").count() == 8000)
  }

  test("splittable XML source: default split width follows Spark's file-split rule") {
    // ~12 MB: under the local 32 MB block, over the 4 MB split Spark's rule
    // gives a file this size at the suite's parallelism
    val dir = Files.createTempDirectory("osm_split_width").toString
    val xml = s"$dir/width.osm"
    val nNodes = 45000
    generate(xml, nNodes, 0)
    val bytes = Files.size(Paths.get(xml))
    assert(bytes > 10L * 1000 * 1000 && bytes < 16L * 1000 * 1000, s"$bytes bytes")

    val nodes = OsmSplittable.nodes(OsmSplittable.readElements(spark, xml))
    val n = nodes.rdd.getNumPartitions
    val text = spark.read.text(xml).rdd.getNumPartitions
    assert(n > 1, s"single file did not split: $n partitions")
    // Hadoop folds a tail of up to 10% of a split into the last split,
    // where Spark's file source gives the tail a partition of its own
    assert(n == text || n == text - 1, s"$n splits vs spark.read.text's $text")
    assert(nodes.count() == nNodes)
  }

  test("full pipeline over a reference-scale XML input") {
    val dir = Files.createTempDirectory("osm_scale").toString
    val xml = s"$dir/big.osm"
    val nNodes = 120000
    val nWays = 20000
    generate(xml, nNodes, nWays)
    val mb = Files.size(Paths.get(xml)) / 1e6
    assert(mb > 30, s"generated file too small: $mb MB")

    // force multi-split reads so the scan shape matches a distributed run
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
    try {
      val t0 = System.nanoTime()
      val t = OsmPipeline.process(spark, xml)
      assert(t.nodes.count() == nNodes)
      assert(t.nodeTags.count() == nNodes * 3L)
      assert(t.ways.count() == nWays)
      assert(t.wayNodes.count() == nWays * 2L)
      assert(t.wayTags.count() == nWays.toLong)
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"pipeline counted 5 tables over $mb%.1f MB XML in $secs%.1f s " +
        f"(${t.nodes.rdd.getNumPartitions} node-scan partitions)")

      // cleaning applied at scale: every street canonicalized, postcode truncated
      val streets = t.nodeTags.filter(t.nodeTags("key") === "street")
        .select("value").distinct().collect().map(_.getString(0)).toSet
      assert(streets == Set("Main Street"))
      val badZips = t.nodeTags.filter(t.nodeTags("key") === "postcode")
        .filter(!t.nodeTags("value").rlike("^\\d{5}$")).count()
      assert(badZips == 0)

      // SCALE CAVEAT (observed): Spark's XML source does NOT split a single
      // file — one 100 GB .osm would be one task (OsmSplittable, the
      // default scan, splits it). Mitigation 1: pre-sharded landing zone
      // (many files → per-file parallelism). Demonstrated:
      val shards = s"$dir/shards"
      Files.createDirectories(Paths.get(shards))
      (0 until 4).foreach { s =>
        generate(s"$shards/part_$s.osm", nNodes / 20, 0)
      }
      val sharded = OsmPipeline.readNodesRaw(spark, shards + "/*.osm")
      assert(sharded.rdd.getNumPartitions >= 4,
        s"expected >=4 partitions over 4 shards, got ${sharded.rdd.getNumPartitions}")
      assert(sharded.count() == (nNodes / 20) * 4L)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}

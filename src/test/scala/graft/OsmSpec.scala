package graft

import graft.osm.{OsmPipeline, OsmProbes, OsmQueries}
import org.apache.spark.sql.Row

/** Golden end-to-end tests: fixture XML → 5 tables → notebook queries,
  * pinning every cleaning/shaping branch (FIXTURES.md §1).
  */
class OsmSpec extends SparkSuite {

  private lazy val t = OsmPipeline.process(spark, OsmProbes.fixturePath)

  test("5 tables have the pinned schemas and row counts") {
    assert(t.nodes.columns.toSeq ==
      Seq("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp"))
    assert(t.nodeTags.columns.toSeq == Seq("id", "key", "value", "type"))
    assert(t.ways.columns.toSeq ==
      Seq("id", "user", "uid", "version", "changeset", "timestamp"))
    assert(t.wayNodes.columns.toSeq == Seq("id", "node_id", "position"))
    assert(t.wayTags.columns.toSeq == Seq("id", "key", "value", "type"))
    assert(t.nodes.count() == 2)
    assert(t.nodeTags.count() == 11) // 12 tags - 1 problem-char drop
    assert(t.ways.count() == 1)
    assert(t.wayNodes.count() == 2)
    assert(t.wayTags.count() == 2)
  }

  test("node tags: cleaning + colon split, problem key dropped") {
    val tags = t.nodeTags.filter(t.nodeTags("id") === 29591541L)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(tags == Set(
      ("exit_to", "TX 45 west", "regular"),
      ("highway", "motorway_junction", "regular"),
      ("street", "Main Street", "addr"),        // F1
      ("postcode", "78621", "addr"),            // F4
      ("city", "Elgin", "addr"),                // F3
      ("state", "Texas", "addr"),               // F5
      ("phone", "512-281-5440", "regular"),     // F2
      ("housenumber", "101", "addr"),           // audited, never rewritten
      ("county_id", "21", "gnis"),              // R2
      // reference re_after_colon truncates at the digit (Step_2:204-208)
      ("name_base_", "FM 1100", "tiger")))
    // "bad=key" dropped by P3: not present
  }

  test("way tags: expected street unchanged, Round → Round Rock") {
    val tags = t.wayTags.collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(tags == Set(("street", "Basket Flower Bend"), ("city", "Round Rock")))
  }

  test("way_nodes: position = 0-based array order") {
    val rows = t.wayNodes.orderBy("position").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((29591541L, 0L), (2637880080L, 1L)))
  }

  test("Q2: node_tags type counts descending") {
    OsmPipeline.registerViews(t)
    val rows = OsmQueries.q2(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("addr", 5L), ("regular", 3L), ("fire_hydrant", 1L), ("gnis", 1L), ("tiger", 1L)))
  }

  test("Q1: union-all of both tag tables") {
    OsmPipeline.registerViews(t)
    val rows = OsmQueries.q1(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("addr", 5L), ("regular", 3L), ("addr", 2L),
      ("fire_hydrant", 1L), ("gnis", 1L), ("tiger", 1L)))
  }

  test("Q3: fire hydrant join finds the hydrant node with coordinates") {
    OsmPipeline.registerViews(t)
    val rows = OsmQueries.q3(spark).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 2637880080L)
    assert(math.abs(rows(0).getDouble(1) - 30.428064) < 1e-9)
    assert(rows(0).getString(3) == "fire_hydrant")
  }

  test("Q4: top contributors, union distinct") {
    OsmPipeline.registerViews(t)
    val rows = OsmQueries.q4(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("hydrant_bot", 1L), ("patisilva_atxbuildings", 1L), ("yurasi", 1L)))
  }

  test("Q1/Q4 literal variants reproduce the SQLite one-row-branch quirk") {
    OsmPipeline.registerViews(t)
    // literal Q1: first branch collapses to ONE whole-table row
    val q1b = OsmQueries.q1Literal(spark).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(q1b == Seq(("addr", 5L), ("regular", 3L), ("addr", 2L),
      ("fire_hydrant", 1L), ("gnis", 1L), ("tiger", 1L)))
    // ways_tags has 2 rows total and MIN(type)='addr' → the ("addr",2) row
    // above IS the whole-table branch; the grouped 15-row branch of the
    // real dataset is represented by the node_tags groups
    val q4b = OsmQueries.q4Literal(spark).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(q4b == Seq(("hydrant_bot", 1L), ("patisilva_atxbuildings", 1L), ("yurasi", 1L)))
  }

  test("Q5: oldest and newest node timestamps (ISO string order)") {
    OsmPipeline.registerViews(t)
    assert(OsmQueries.q5Oldest(spark).collect()(0).getString(0) == "2014-01-01T00:00:00Z")
    assert(OsmQueries.q5Newest(spark).collect()(0).getString(0) == "2016-08-11T15:43:11Z")
  }

  test("audit streets: only unexpected suffixes, grouped by token") {
    val raw = OsmQueries.rawTags(
      OsmPipeline.readNodesRaw(spark, OsmProbes.fixturePath),
      OsmPipeline.readWaysRaw(spark, OsmProbes.fixturePath))
    val rows = OsmQueries.auditStreets(raw).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toMap
    assert(rows == Map("St" -> Seq("Main St"))) // "Basket Flower Bend" is expected
  }

  test("strict mode raises on dirty street (reference crash-on-dirty)") {
    val strictT = OsmPipeline.process(spark, OsmProbes.fixturePath, strict = true)
    // fixture streets are all cleanable → no raise
    assert(strictT.nodeTags.count() == 11)
  }

  test("validated tables pass the V1 non-null gate") {
    val v = OsmPipeline.validated(t)
    assert(v.nodes.count() == 2 && v.nodeTags.count() == 11)
    // a tag value spelled `null` is the 4-character string, not a null:
    // it passes the gate and reads back unchanged through the parquet sink
    val dir = java.nio.file.Files.createTempDirectory("osm_null_value")
    try {
      val xml = dir.resolve("null.osm")
      java.nio.file.Files.write(xml, ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<osm version=\"0.6\">\n" +
        "  <node id=\"1\" lat=\"30.1\" lon=\"-97.1\" version=\"1\" timestamp=\"2016-01-01T00:00:00Z\"" +
        " changeset=\"1\" uid=\"1\" user=\"u\">\n" +
        "    <tag k=\"name\" v=\"null\"/>\n" +
        "  </node>\n</osm>\n").getBytes("UTF-8"))
      OsmPipeline.writeParquet(
        OsmPipeline.validated(OsmPipeline.process(spark, xml.toString)), s"$dir/out")
      val back = spark.read.parquet(s"$dir/out/nodes_tags").collect()
      assert(back.length == 1 && !back(0).isNullAt(2))
      assert(back(0).getString(2) == "null" && back(0).getString(2).length == 4)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("a way whose nd list from_xml cannot finish fails validation instead of losing nds") {
    // from_xml's array parse stops at the first unparseable ref: for nds
    // 1, "", 2, <nd/>, 1 the way read as ONE nd and `validated` passed.
    // The reference's cerberus `coerce: int` raises on such a ref.
    val dir = java.nio.file.Files.createTempDirectory("osm_bad_nd")
    try for ((bad, i) <- Seq("<nd ref=\"\"/>", "<nd ref=\"x\"/>").zipWithIndex) {
      val xml = dir.resolve(s"nd$i.osm")
      java.nio.file.Files.write(xml, ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<osm version=\"0.6\">\n" +
        "  <way id=\"9\" version=\"1\" timestamp=\"2016-01-01T00:00:00Z\" changeset=\"1\"" +
        " uid=\"1\" user=\"u\">\n" +
        s"    <nd ref=\"1\"/>\n    $bad\n    <nd ref=\"2\"/>\n    <nd/>\n    <nd ref=\"1\"/>\n" +
        "  </way>\n</osm>\n").getBytes("UTF-8"))
      val t = OsmPipeline.process(spark, xml.toString)
      // no truncated nd list: one all-null way row, and no nds
      assert(t.ways.collect().toSeq == Seq(Row(Seq.fill(6)(null): _*)), bad)
      assert(t.wayNodes.count() == 0, bad)
      val e = intercept[Exception](OsmPipeline.validated(t).ways.count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("validation failed: ways.id is null")), bad)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("CSV round-trip preserves rows, column order, and typed values") {
    val dir = java.nio.file.Files.createTempDirectory("osm_csv").toString
    OsmPipeline.writeCsv(t, dir)
    val back = OsmPipeline.readCsv(spark, dir)
    assert(back.nodeTags.columns.toSeq == Seq("id", "key", "value", "type"))
    assert(back.nodeTags.count() == 11)
    // full-table equality after the round trip (typed, order-insensitive)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(back.nodes) == rows(t.nodes))
    assert(rows(back.nodeTags) == rows(t.nodeTags))
    assert(rows(back.ways) == rows(t.ways))
    assert(rows(back.wayNodes) == rows(t.wayNodes))
    assert(rows(back.wayTags) == rows(t.wayTags))
  }

  test("cached fan-out: one parsed scan feeds all five tables") {
    val tc = OsmPipeline.process(spark, OsmProbes.fixturePath, cache = true)
    try {
      assert(tc.nodes.count() == 2) // materializes the cache
      val plan = tc.nodeTags.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), s"expected cached scan:\n$plan")
      assert(tc.nodeTags.count() == 11)
    } finally {
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("OSM probes release the scan they cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // the first osm_* probe built in this JVM materializes the tables
    OsmProbes.all.head.run(spark, "").collect()
    assert(sc.getPersistentRDDs.size == before)
    // the same ETL again, whichever suite built the first probe
    val dir = java.nio.file.Files.createTempDirectory("osm_probe_tables").toString
    OsmProbes.writeTables(spark, dir)
    assert(sc.getPersistentRDDs.size == before)
    // raw_tags: the fixture's 12 node tags and 2 way tags (not the relation's)
    assert(spark.read.parquet(s"$dir/raw_tags").count() == 14)
  }

  test("process(cache = true): unpersist releases exactly what process persisted") {
    val sc = spark.sparkContext
    // a table the caller cached itself: the release must leave it (clearCache would not)
    val own = spark.range(10).toDF("x").persist()
    own.count()
    try {
      val before = sc.getPersistentRDDs.size
      for (splittable <- Seq(true, false)) {
        val cached = OsmPipeline.process(spark, OsmProbes.fixturePath, cache = true,
          splittable = splittable)
        assert(cached.nodes.count() == 2 && cached.wayNodes.count() == 2) // materializes it
        assert(sc.getPersistentRDDs.size > before, s"splittable=$splittable: nothing persisted")
        OsmPipeline.validated(cached).unpersist() // not what process returned: a no-op
        assert(sc.getPersistentRDDs.size > before)
        // the five fields and their equality are those of any OsmTables
        assert(cached == OsmPipeline.OsmTables(cached.nodes, cached.nodeTags, cached.ways,
          cached.wayNodes, cached.wayTags))
        cached.unpersist()
        assert(sc.getPersistentRDDs.size == before, s"splittable=$splittable")
        assert(own.storageLevel.useMemory)
      }
    } finally own.unpersist()
  }

  test("XML sink round-trip: write nodes as XML, read them back") {
    val dir = java.nio.file.Files.createTempDirectory("osm_xml_out").toString
    t.nodes.select(
      t.nodes("id").as("_id"), t.nodes("lat").as("_lat"), t.nodes("lon").as("_lon"),
      t.nodes("user").as("_user"), t.nodes("uid").as("_uid"),
      t.nodes("version").as("_version"), t.nodes("changeset").as("_changeset"),
      t.nodes("timestamp").as("_timestamp"))
      .write.format("xml")
      .option("rowTag", "node").option("rootTag", "osm")
      .mode("overwrite").save(s"$dir/nodes_xml")
    val back = spark.read.format("xml").option("rowTag", "node")
      .load(s"$dir/nodes_xml")
    assert(back.count() == 2)
    assert(back.select("_id").collect().map(_.getLong(0)).toSet ==
      Set(29591541L, 2637880080L))
  }

  test("ORC sink round-trip: second columnar format besides parquet") {
    val dir = java.nio.file.Files.createTempDirectory("osm_orc_out").toString
    t.nodeTags.write.mode("overwrite").orc(s"$dir/node_tags_orc")
    val back = spark.read.orc(s"$dir/node_tags_orc")
    assert(back.schema == t.nodeTags.schema)
    assert(back.orderBy("id", "key").collect().toSeq ==
      t.nodeTags.orderBy("id", "key").collect().toSeq)
    // predicate pushdown reaches the ORC scan too
    val plan = back.filter(back("key") === "street").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(key), EqualTo(key,street)"), plan)
  }

  test("text source: raw line ingestion (corpus landing-zone format)") {
    val dir = java.nio.file.Files.createTempDirectory("osm_text").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/doc.txt"),
      "line one\nline two\nline three\n")
    val lines = spark.read.text(s"$dir/doc.txt")
    assert(lines.count() == 3)
    assert(lines.schema.fieldNames.toSeq == Seq("value"))
  }

  test("binaryFile source ingests raw files as BINARY + metadata (X-MM ingestion)") {
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.osm")
      .load("/root/repo/src/test/resources")
    val row = df.select("path", "length", "content").collect()(0)
    assert(row.getString(0).endsWith("elgin_mini.osm"))
    val bytes = row.getAs[Array[Byte]]("content")
    assert(bytes.length == row.getLong(1))
    assert(new String(bytes, "UTF-8").contains("<osm version=\"0.6\""))
  }
}

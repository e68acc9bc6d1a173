package graft.osm

import graft.clean.CleanFns
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ETL re-expressed Spark-first: OSM XML → 5 relational
  * tables (ref: Step_2_CSV_and_Data_Cleaning.py:63-186 shape_element,
  * :297-332 process_map; column order Step_2:56-60; types schema.py:5-65).
  *
  * Architecture: instead of the reference's one-element-at-a-time
  * imperative loop, this is one declarative scan that yields the nodes
  * and the ways together (one element frame, OsmSplittable) feeding five
  * independent narrow pipelines, written as five concurrent jobs — zero
  * shuffles for the whole ETL, so at 100 TB it parallelizes embarrassingly
  * across the input splits and cleaning stays inside whole-stage codegen.
  */
object OsmPipeline {

  /** The 5 output tables (FIXTURES.md §2; column order is load-bearing). */
  final case class OsmTables(
      nodes: DataFrame, nodeTags: DataFrame,
      ways: DataFrame, wayNodes: DataFrame, wayTags: DataFrame) {
    // what `process(…, cache = true)` persisted for these tables (not one
    // of the five fields: equality and copies ignore it)
    private var persisted: Seq[DataFrame] = Nil

    private[osm] def releasing(frames: DataFrame*): OsmTables = { persisted = frames; this }

    /** Releases exactly what `process(…, cache = true)` persisted for
      * these tables, and nothing else of the session (unlike
      * `spark.catalog.clearCache()`); a no-op for any other OsmTables,
      * `validated(t)` included: release the `t` that `process` returned.
      */
    def unpersist(): Unit = { persisted.foreach(_.unpersist()); persisted = Nil }
  }

  private val tagArr = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))

  /** Explicit schemas: attributes carry the XML source's "_" prefix; the
    * declared field set implements the fixed-field projections P1/P2
    * (undeclared XML attributes are simply never read — column pruning at
    * the source, like Step_2:74-75/:123-124 but pushed into the scan).
    */
  val nodeXmlSchema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("_lat", DoubleType),
    StructField("_lon", DoubleType), StructField("_user", StringType),
    StructField("_uid", LongType), StructField("_version", StringType),
    StructField("_changeset", LongType), StructField("_timestamp", StringType),
    StructField("tag", tagArr)))

  val wayXmlSchema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("_user", StringType),
    StructField("_uid", LongType), StructField("_version", StringType),
    StructField("_changeset", LongType), StructField("_timestamp", StringType),
    StructField("tag", tagArr),
    StructField("nd", ArrayType(StructType(Seq(StructField("_ref", LongType)))))))

  /** S1/S2/S3 — the XML scans. Spark's XML source is a partitioned,
    * memory-bounded streaming parse (the moral equivalent of the
    * reference's iterparse + root.clear()).
    */
  def readNodesRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml").option("rowTag", "node").schema(nodeXmlSchema).load(path)

  def readWaysRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml").option("rowTag", "way").schema(wayXmlSchema).load(path)

  /** Per-key cleaning dispatch (P5): applied AFTER the colon split, on the
    * split key — exactly the reference's if-chain (Step_2:90-113/:142-165).
    */
  def cleanValue(key: Column, value: Column, strict: Boolean = false): Column =
    when(key === "street", CleanFns.street(value, strict))
      .when(key === "phone", CleanFns.phone(value))
      .when(key === "postcode", CleanFns.postcode(value, strict))
      .when(key === "state", CleanFns.state(value))
      .when(key === "city", CleanFns.city(value))
      .otherwise(value)

  /** The shared tag pipeline (R1-R4 + P3 + P5): explode children, drop
    * problem-char keys, split on the first colon, clean by key.
    */
  private def shapeTags(raw: DataFrame, strict: Boolean): DataFrame =
    raw.select(col("_id").as("id"), explode(col("tag")).as("t"))
      .select(col("id"), col("t._k").as("k"), col("t._v").as("v"))
      .filter(!CleanFns.hasProblemChars(col("k")))
      .select(col("id"), CleanFns.tagKey(col("k")).as("key"), col("v"),
        CleanFns.tagType(col("k")).as("type"))
      .select(col("id"), col("key"),
        cleanValue(col("key"), col("v"), strict).as("value"), col("type"))

  /** Full ETL: XML path → 5 DataFrames. `strict = true` reproduces the
    * reference's crash-on-dirty semantics (F1 KeyError / F4 AttributeError)
    * via raise_error; default is lenient pass-through (SURVEY.md §7.4).
    */
  def process(spark: SparkSession, path: String, strict: Boolean = false,
      cache: Boolean = false, splittable: Boolean = true): OsmTables = {
    // splittable (the default) = one scan via XmlElementInputFormat
    // (OsmSplittable) yields the nodes and the ways together, like the
    // reference's single iterparse (Step_2:191-199): one task per file
    // split, and an element it cannot parse becomes ONE all-null row,
    // which `validated` rejects. The stock XML source (splittable = false)
    // is two scans, one task per file each, and an element past its
    // parser's limits silently ends the scan: every later element of the
    // file is lost (OsmScaleSpec pins the default).
    // cache = the reference's single-pass fan-out (1 scan → 5 sinks,
    // Step_2:320-332): persist the scan (the one element frame, or the
    // stock source's two) so the five table pipelines share it instead
    // of re-parsing the XML five times.
    // OsmTables.unpersist releases exactly what is persisted here.
    val (nodesRaw, waysRaw, scans) =
      if (splittable) {
        val elements = OsmSplittable.readElements(spark, path)
        (OsmSplittable.nodes(elements), OsmSplittable.ways(elements), Seq(elements))
      } else {
        val nodes = readNodesRaw(spark, path)
        val ways = readWaysRaw(spark, path)
        (nodes, ways, Seq(nodes, ways))
      }
    if (cache) {
      scans.foreach(_.persist())
      tables(nodesRaw, waysRaw, strict).releasing(scans: _*)
    } else tables(nodesRaw, waysRaw, strict)
  }

  /** The five table pipelines over the raw node and way scans (columns as
    * `nodeXmlSchema` / `wayXmlSchema`); each table is one projection (or
    * explode) of its raw scan.
    */
  def tables(nodesRaw: DataFrame, waysRaw: DataFrame, strict: Boolean = false): OsmTables = {
    val nodes = nodesRaw.select(
      col("_id").as("id"), col("_lat").as("lat"), col("_lon").as("lon"),
      col("_user").as("user"), col("_uid").as("uid"), col("_version").as("version"),
      col("_changeset").as("changeset"), col("_timestamp").as("timestamp"))

    val ways = waysRaw.select(
      col("_id").as("id"), col("_user").as("user"), col("_uid").as("uid"),
      col("_version").as("version"), col("_changeset").as("changeset"),
      col("_timestamp").as("timestamp"))

    // R5 — positional flatten: position IS the 0-based array index
    // (= the reference's len(way_nodes) running counter, Step_2:180).
    val wayNodes = waysRaw
      .select(col("_id").as("id"), posexplode(col("nd")))
      .select(col("id"), col("col._ref").as("node_id"), col("pos").cast("long").as("position"))

    OsmTables(nodes, shapeTags(nodesRaw, strict), ways, wayNodes, shapeTags(waysRaw, strict))
  }

  /** V1 — the validation stage as a flag, like the reference's `validate`:
    * assert required fields non-null; any violation fails the job with a
    * descriptive error (cerberus raise semantics, Step_2:232-239). Every
    * consumer of a validated table runs the checks — a count as much as
    * a full write.
    */
  def validated(t: OsmTables): OsmTables = {
    // One predicate per row, true or raising on the first null required
    // column, evaluated by a one-row generator, not by `filter` or
    // `withColumn`: a consumer that reads no checked column prunes a
    // projection, and the optimizer pushes a filter below the projections
    // that compute the checked columns, so they run twice (for the tag
    // tables, the cleaning regexes). It does neither to a generator.
    def check(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
      val valid = cols.foldRight(lit(true)) { (c, rest) =>
        when(col(c).isNull,
          // a null id must not null the message (concat of a null is null)
          raise_error(concat(lit(s"validation failed: $table.$c is null for id="),
            coalesce(col("id").cast("string"), lit("null")))))
          .otherwise(rest)
      }
      df.withColumn("_valid", explode(array(valid))).drop("_valid")
    }
    OsmTables(
      check(t.nodes, "nodes", Seq("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp")),
      check(t.nodeTags, "nodes_tags", Seq("id", "key", "value", "type")),
      check(t.ways, "ways", Seq("id", "user", "uid", "version", "changeset", "timestamp")),
      check(t.wayNodes, "ways_nodes", Seq("id", "node_id", "position")),
      check(t.wayTags, "ways_tags", Seq("id", "key", "value", "type")))
  }

  /** S4 — CSV sinks: headered, fixed column order, UTF-8 (Spark default).
    * escape='"' pins RFC-4180 quote-doubling (like the reference's Python
    * csv writer) so the reader options in readCsv are an exact match.
    */
  def writeCsv(t: OsmTables, dir: String): Unit =
    writeAll(t, dir)(_.option("header", true).option("escape", "\"").csv(_))

  /** S5 — CSV read-back with pinned schemas (the query-side scan of the
    * reference, DAND.html:12026-12028): schema-on-read, no inference pass.
    */
  def readCsv(spark: SparkSession, dir: String): OsmTables = {
    def rd(name: String, ddl: String): DataFrame =
      // multiLine: the writer quotes tag values containing embedded newlines
      // (legal in OSM note/description values); without it the reader would
      // split such records on the raw newline. escape matches the writer's
      // default quote-escaping.
      spark.read.option("header", true).option("multiLine", true)
        .option("escape", "\"").schema(ddl).csv(s"$dir/$name")
    OsmTables(
      rd("nodes", "id LONG, lat DOUBLE, lon DOUBLE, user STRING, uid LONG, version STRING, changeset LONG, timestamp STRING"),
      rd("nodes_tags", "id LONG, key STRING, value STRING, type STRING"),
      rd("ways", "id LONG, user STRING, uid LONG, version STRING, changeset LONG, timestamp STRING"),
      rd("ways_nodes", "id LONG, node_id LONG, position LONG"),
      rd("ways_tags", "id LONG, key STRING, value STRING, type STRING"))
  }

  /** Parquet is the durable store at scale (columnar, splittable, stats). */
  def writeParquet(t: OsmTables, dir: String): Unit =
    writeAll(t, dir)(_.parquet(_))

  /** The five table writes (`dir/<table name>`, mode overwrite) as
    * concurrent jobs on the shared session, from a fixed pool of one
    * thread per table: while one table's job has idle cores (its rows sit
    * in a few of the scan's partitions), another table's tasks run on
    * them; a cached scan is still built once (Spark's block lock makes a
    * second reader of a partition wait for the first). Waits for all five
    * writes, then rethrows the first failure.
    */
  private def writeAll(t: OsmTables, dir: String)(
      write: (DataFrameWriter[Row], String) => Unit): Unit = {
    val sinks = Seq("nodes" -> t.nodes, "nodes_tags" -> t.nodeTags, "ways" -> t.ways,
      "ways_nodes" -> t.wayNodes, "ways_tags" -> t.wayTags)
    val pool = Executors.newFixedThreadPool(sinks.length)
    try {
      val writes = sinks.map { case (name, df) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = write(df.write.mode("overwrite"), s"$dir/$name")
        })
      }
      val failures = writes.flatMap { w =>
        try { w.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** S6 — register under the notebook's table names (DAND.html:12095-12555
    * queries refer to node/node_tags/ways/ways_tags/ways_nodes).
    */
  def registerViews(t: OsmTables): Unit = {
    t.nodes.createOrReplaceTempView("node")
    t.nodeTags.createOrReplaceTempView("node_tags")
    t.ways.createOrReplaceTempView("ways")
    t.wayNodes.createOrReplaceTempView("ways_nodes")
    t.wayTags.createOrReplaceTempView("ways_tags")
  }
}

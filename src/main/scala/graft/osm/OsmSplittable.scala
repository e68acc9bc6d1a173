package graft.osm

import org.apache.hadoop.io.Text
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Splittable scan of a SINGLE monolithic .osm file.
  *
  * Spark's XML source does not split one file (observed in OsmScaleSpec):
  * a 100 GB .osm is one task. XmlElementInputFormat fixes that at the
  * source tier — each Hadoop split scans forward to the first element
  * start tag it owns and reads elements (through the split end for the
  * last one) with O(one element) memory. One scan yields the nodes and
  * the ways together, in file order, as one element frame, each element
  * parsed once against its own type's schema (the same explicit schemas
  * as the stock scans), so everything downstream (the 5-table pipeline,
  * cleaning, audits) is unchanged.
  *
  * The parse is fused into the scan: OsmElementKernel turns an element's
  * bytes, as the reader hands them over, into the row from_xml would give
  * it, for the canonical OSM grammar (attributes, `tag` and `nd`
  * children, the five named entities, plain decimal numbers). An element
  * outside that grammar (a comment, a character reference, a value
  * from_xml would trim or normalise, invalid UTF-8, a `+5` …) is decoded
  * to a String and handed, alone, to from_xml: from_xml stays the
  * authority on what such an element means, and the kernel never has to
  * guess it.
  */
object OsmSplittable {

  /** The element frame `(kind, node, way)` of (possibly) one huge file:
    * one row per `node` or `way` element, `kind` naming its type and the
    * struct of that type parsed (the other one null). An element from_xml
    * cannot parse keeps its row, with an all-null struct. `maxSplitBytes`
    * bounds the Hadoop split size (else Spark's file-split rule applies,
    * [[graft.Tables.hadoopFile]]: a single file splits across the
    * session's cores, and a large input cuts at the smaller of
    * `spark.sql.files.maxPartitionBytes` and the store's block size).
    */
  def readElements(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    elementFrame(spark,
      XmlElementInputFormat.elements(spark, path, Seq("node", "way"), maxSplitBytes).values)

  /** The element frame of `elements` (each one `node` or `way` element's
    * bytes; a reused `Text` is fine, nothing keeps it): the kernel's row,
    * or from_xml's for an element the kernel leaves to it (carried as the
    * `raw` string of a row whose structs are null).
    */
  private[graft] def elementFrame(spark: SparkSession, elements: RDD[Text]): DataFrame = {
    def parsed(kind: String, schema: StructType) =
      when(col("raw").isNull, col(kind))
        .when(col("kind") === kind, from_xml(col("raw"), schema))
    val frame = GraftPlanBridge.ofInternalRows(spark, elements.map(scanRow), scanSchema)
      .select(col("kind"),
        parsed("node", OsmPipeline.nodeXmlSchema).as("node"),
        parsed("way", OsmPipeline.wayXmlSchema).as("way"), col("raw"))
    // from_xml ends a way's nd array at the first ref it cannot parse
    // (`ref=""`, `ref="x"`) and drops the nds after it without an error;
    // the reference's `coerce: int` raises there. A way from_xml parsed
    // with fewer nds than its `<nd>` children is unparseable: all-null,
    // which `validated` rejects. Only from_xml's rows are checked.
    val nds = col("way.nd")
    val ndTags = regexp_count(
      regexp_replace(col("raw"), lit("<!--[\\s\\S]*?-->|<!\\[CDATA\\[[\\s\\S]*?]]>"), lit("")),
      lit("<nd[\\s/>]"))
    val unparsed = struct(OsmPipeline.wayXmlSchema.fields.toSeq.map(f =>
      lit(null).cast(f.dataType).as(f.name)): _*)
    frame.select(col("kind"), col("node"),
      when(col("raw").isNull || col("kind") =!= "way" ||
        when(nds.isNull, 0).otherwise(size(nds)) >= ndTags, col("way"))
        .otherwise(unparsed).as("way"))
  }

  private val scanSchema = StructType(Seq(
    StructField("kind", StringType), StructField("node", OsmPipeline.nodeXmlSchema),
    StructField("way", OsmPipeline.wayXmlSchema), StructField("raw", StringType)))
  private val nodeKind = UTF8String.fromString("node")
  private val wayKind = UTF8String.fromString("way")
  private val nodeStart = "<node".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** An element starting `<node` is a node, any other a way. */
  private def isNode(t: Text): Boolean = t.getLength >= nodeStart.length &&
    java.util.Arrays.equals(t.getBytes, 0, nodeStart.length, nodeStart, 0, nodeStart.length)

  /** One element as a `scanSchema` row: `(kind, node, way, null)` from the
    * kernel, else `(kind, null, null, raw)`.
    */
  private def scanRow(t: Text): InternalRow = {
    val node = isNode(t)
    val row = OsmElementKernel.parse(t.getBytes, t.getLength, node)
    new GenericInternalRow(Array[Any](if (node) nodeKind else wayKind,
      if (node) row else null, if (node) null else row,
      if (row == null) UTF8String.fromString(t.toString) else null))
  }

  /** Whether the kernel parses `element` itself, or leaves it to from_xml. */
  private[graft] def parsedInScan(element: Text): Boolean =
    OsmElementKernel.parse(element.getBytes, element.getLength, isNode(element)) != null

  /** The raw nodes / ways of an element frame: its rows of that kind
    * (filtered on `kind`, so an unparseable element stays one all-null
    * row), flattened to the stock scan's columns.
    */
  def nodes(elements: DataFrame): DataFrame =
    elements.filter(col("kind") === "node").select("node.*")

  def ways(elements: DataFrame): DataFrame =
    elements.filter(col("kind") === "way").select("way.*")
}

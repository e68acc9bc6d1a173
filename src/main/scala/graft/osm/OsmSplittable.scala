package graft.osm

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Splittable scan of a SINGLE monolithic .osm file — the in-place
  * alternative to pre-sharding (OsmShard).
  *
  * Spark's XML source does not split one file (observed in OsmScaleSpec):
  * a 100 GB .osm is one task. XmlElementInputFormat fixes that at the
  * source tier — each Hadoop split scans forward to the first element
  * start tag it owns and reads elements (through the split end for the
  * last one) with O(one element) memory. One scan yields the nodes and
  * the ways together, in file order, as one element frame; from_xml then
  * parses each element once, against its own type's schema (the same
  * explicit schemas as the stock scans), so everything downstream (the
  * 5-table pipeline, cleaning, audits) is unchanged.
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
      maxSplitBytes: Option[Long] = None): DataFrame = {
    val records = XmlElementInputFormat.elements(spark, path, Seq("node", "way"), maxSplitBytes)
      .map { case (_, t) =>
        val e = t.toString
        (if (e.startsWith("<node")) "node" else "way", e)
      }
    spark.createDataset(records)(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .select(col("_1").as("kind"),
        when(col("_1") === "node", from_xml(col("_2"), OsmPipeline.nodeXmlSchema)).as("node"),
        when(col("_1") === "way", from_xml(col("_2"), OsmPipeline.wayXmlSchema)).as("way"))
  }

  /** The raw nodes / ways of an element frame: its rows of that kind
    * (filtered on `kind`, so an unparseable element stays one all-null
    * row), flattened to the stock scan's columns.
    */
  def nodes(elements: DataFrame): DataFrame =
    elements.filter(col("kind") === "node").select("node.*")

  def ways(elements: DataFrame): DataFrame =
    elements.filter(col("kind") === "way").select("way.*")

  /** Drop-in splittable variants of the stock scans. */
  def readNodesRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    nodes(readElements(spark, path, maxSplitBytes))

  def readWaysRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    ways(readElements(spark, path, maxSplitBytes))
}

package graft.osm

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Splittable scan of a SINGLE monolithic .osm file — the in-place
  * alternative to pre-sharding (OsmShard).
  *
  * Spark's XML source does not split one file (observed in OsmScaleSpec):
  * a 100 GB .osm is one task. XmlElementInputFormat fixes that at the
  * source tier — each Hadoop split scans forward to the first element
  * start tag it owns and reads elements (through the split end for the
  * last one) with O(one element) memory; from_xml then parses each element
  * against the same explicit schemas as the stock scans, so everything
  * downstream (the 5-table pipeline, cleaning, audits) is unchanged.
  */
object OsmSplittable {

  /** DataFrame over every `rowTag` element of (possibly) one huge file.
    * `maxSplitBytes` bounds the Hadoop split size (else Spark's file-split
    * rule applies, [[graft.Tables.hadoopFile]]: a single file splits across
    * the session's cores, and a large input cuts at the smaller of
    * `spark.sql.files.maxPartitionBytes` and the store's block size).
    */
  def readElements(spark: SparkSession, path: String, rowTag: String,
      schema: StructType, maxSplitBytes: Option[Long] = None): DataFrame = {
    val records = XmlElementInputFormat.elements(spark, path, rowTag, maxSplitBytes)
      .map(_._2.toString)
    spark.createDataset(records)(Encoders.STRING)
      .select(from_xml(col("value"), schema).as("e"))
      .select(col("e.*"))
  }

  /** Drop-in splittable variants of the stock scans. */
  def readNodesRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    readElements(spark, path, "node", OsmPipeline.nodeXmlSchema, maxSplitBytes)

  def readWaysRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    readElements(spark, path, "way", OsmPipeline.wayXmlSchema, maxSplitBytes)
}

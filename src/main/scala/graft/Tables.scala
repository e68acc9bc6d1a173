package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.{InputSplit, Job, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * All reads go through here so filter pushdown / column pruning apply to a
  * plain parquet scan — at 100 TB these become partitioned/bucketed reads
  * without touching call sites.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** [[apply]] with a floor on scan parallelism (optimization guide §2.5
    * "input skew — one huge unsplittable file"): the local fixture
    * parquet is a SINGLE row group, so every narrow pipeline stage above
    * it — tokenize, shingle, regex-extract, hash, decode — runs as ONE
    * task regardless of core count (measured: the whole link-extraction
    * chain single-threaded at local[32]). A round-robin repartition to
    * `spark.graft.scan.minPartitions` (default: the cluster's
    * defaultParallelism) spreads the map work; rows are unchanged, and
    * every declared aggregation is order-independent by the repo's
    * oracle-exactness discipline (integer/decimal sums, min/max, hash
    * keys — re-proven against the DuckDB oracle after this change).
    *
    * OPT-IN per call site, not blanket: the exchange + extra stage cost
    * a measured ~0.2 s fixed at local[32], which only pays where the
    * per-row work above the scan is heavy (HTML/regex extraction,
    * shingling, n-gram explodes, codecs, vector math) — the probes that
    * dominate the suite. Light queries keep the plain single-stage scan.
    *
    * Scale-adaptive by construction: the gate fires only when the scan
    * has FEWER partitions than the floor. A production corpus scan has
    * thousands of splits, so at 100 TB this is a no-op — not a local[32]
    * constant baked into plans (sortBeforeRepartition, on by default,
    * keeps the row→partition assignment deterministic under task retry,
    * SPARK-23207 / guide §2.5).
    */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadDf(apply(spark, dir, name))

  /** The partition-floor gate of [[spread]] over an arbitrary frame —
    * for heavy map stages whose input is a staged/train-once parquet
    * (binary codec fixtures, persisted indexes) rather than a named
    * testdata table.
    *
    * The partition probe reads the relation's FILE INDEX (already listed
    * when the read was created) and replays Spark's own split packing —
    * it never builds the frame's RDD lineage, which would run physical
    * planning + codegen prep a second time per spread call (driver-side
    * work that compounds on a 100 TB catalog with thousands of files;
    * guide §5). Parity with the RDD probe is pinned by PlanAuditSpec.
    */
  def spreadDf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.conf.getOption("spark.graft.scan.minPartitions")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    // a frame that is not a pure file scan falls back to its RDD's width,
    // so an already-wide frame is never shrunk to the floor
    if (target > 1 && scanPartitions(df).getOrElse(df.rdd.getNumPartitions) < target)
      df.repartition(target)
    else df
  }

  /** Test access to the gate's estimate (TablesSpec parity pin). */
  private[graft] def scanPartitionsForTest(df: DataFrame): Option[Int] =
    scanPartitions(df)

  /** Scan-partition count of a frame whose leaves are all file scans,
    * computed from file-index metadata alone: Spark's split-packing
    * algebra (FilePartition.maxSplitBytes + getFilePartitions' greedy
    * bin close) replayed over the listed file sizes. None when any leaf
    * is not a HadoopFsRelation — [[spreadDf]] then asks the frame's RDD
    * (every production call site feeds a parquet read, so that planning
    * cost is never paid there).
    */
  private def scanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rels = leaves.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.size != leaves.size) None
    else Some(rels.map { fs =>
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(df.sparkSession, dirs)
      val openCost = df.sparkSession.sessionState.conf.filesOpenCostInBytes
      val splits = dirs.flatMap(_.files).flatMap { f =>
        (0L until f.getLen by maxSplit).map(off => math.min(maxSplit, f.getLen - off))
      }.sortBy(-_)
      // FilePartition.getFilePartitions: greedy close when the next split
      // would overflow maxSplit; each split is charged len + openCost
      var n = 0; var cur = 0L; var open = false
      splits.foreach { len =>
        if (open && cur + len > maxSplit) { n += 1; cur = 0L; open = false }
        cur += len + openCost; open = true
      }
      if (open) n += 1
      n
    }.sum)
  }

  /** `newAPIHadoopFile` over `path` with one split rule for every
    * Hadoop-file reader (XML elements, WARC records, sitemaps):
    * `maxSplitBytes` caps the Hadoop split size when given; otherwise the
    * cap is Spark's own file-source rule (`FilePartition.maxSplitBytes`:
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum`, else the default parallelism) over the files
    * Hadoop itself lists for `path`. A single file therefore splits
    * across the session's cores like a `spark.read` scan of it, where the
    * bare Hadoop default would cut only at the store's block size (32 MB
    * locally: a 64 MB file read as 2 tasks on 4 cores). `settings` are
    * extra Hadoop conf entries for the input format (e.g. its row tag).
    */
  def hadoopFile[F <: FileInputFormat[LongWritable, Text]](spark: SparkSession,
      path: String, format: Class[F], maxSplitBytes: Option[Long],
      settings: (String, String)*): RDD[(LongWritable, Text)] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    settings.foreach { case (k, v) => conf.set(k, v) }
    val split = maxSplitBytes.getOrElse {
      val job = Job.getInstance(conf)
      FileInputFormat.setInputPaths(job, path)
      val files = HadoopListing.files(job)
      FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, files)))
    }
    conf.set(FileInputFormat.SPLIT_MAXSIZE, split.toString)
    spark.sparkContext.newAPIHadoopFile(path, format,
      classOf[LongWritable], classOf[Text], conf)
  }

  /** Hadoop's own input listing (glob expansion, directory children,
    * hidden-file filter), so the split rule sizes exactly the files that
    * `getSplits` will cut.
    */
  private object HadoopListing extends FileInputFormat[LongWritable, Text] {
    def files(job: JobContext): Array[FileStatus] = listStatus(job).toArray(Array.empty[FileStatus])
    override def createRecordReader(split: InputSplit, ctx: TaskAttemptContext)
        : RecordReader[LongWritable, Text] = throw new UnsupportedOperationException
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) in some testdata
      // generations (which Spark's vectorized reader can only surface as a
      // raw int64 under nanosAsLong) and as TIMESTAMP(MICROS,
      // isAdjustedToUTC=false) in others (which reads as TIMESTAMP_NTZ).
      // Dispatch on the type the scan ACTUALLY produced and normalize to a
      // session-tz TIMESTAMP either way, so a regenerated file can never
      // silently change query semantics again; anything unexpected fails
      // loudly here at load rather than per-query downstream.
      setEventsConfs(spark)
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.withColumn("ts", normalizeEventsTs(raw.schema("ts").dataType))
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** The type the parquet scan surfaces for events.ts in this testdata
    * generation (requires nanosAsLong so a NANOS file is readable at all —
    * set it session-wide here, harmless for every other type).
    */
  def eventsTsScanType(spark: SparkSession, dir: String): org.apache.spark.sql.types.DataType = {
    setEventsConfs(spark)
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
  }

  /** Session confs the events load depends on: nanosAsLong (a NANOS file is
    * unreadable without it) and UTC session timezone — the NTZ→TIMESTAMP
    * cast in [[normalizeEventsTs]] is value-preserving ONLY under UTC, so a
    * foreign session (built outside Bench/Verify/tests) with a local tz
    * must not silently shift every event time relative to the oracle.
    */
  private def setEventsConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** ts normalized to a session-tz TIMESTAMP from whichever encoding the
    * scan produced. Shared by the batch loader and the streaming source so
    * the two can never diverge on a testdata regeneration.
    */
  def normalizeEventsTs(scanned: org.apache.spark.sql.types.DataType): Column = scanned match {
    case LongType         => expr("timestamp_micros(ts DIV 1000)") // ns → µs, lossless (values µs-aligned)
    case TimestampNTZType => col("ts").cast(TimestampType) // value-preserving under UTC session tz
    case TimestampType    => col("ts")
    case other => throw new IllegalStateException(
      s"events.ts: expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP; scan produced $other")
  }
}

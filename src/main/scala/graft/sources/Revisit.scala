package graft.sources

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC REVISIT records — the dedup-at-write tier of the archive format
  * (WARC 1.1 §6.7.2, the `identical-payload-digest` profile CommonCrawl
  * ships): when a re-fetch returns bytes whose payload digest is
  * already archived, the writer emits a `revisit` record carrying ONLY
  * the digest pointer (WARC-Payload-Digest) instead of the payload —
  * archives of recurring crawls shrink by their unchanged fraction.
  * A digest-addressed resolve on the read side reconstructs full
  * content by joining revisits against any archive that holds the
  * payload.
  *
  * Scale shape: tagging is one digest-keyed left join of the new fetch
  * against the known-digest table (AQE picks broadcast while the digest
  * index fits, SMJ beyond); the sink is the plain sink's per-partition
  * streaming write with the same attempt-file commit; resolution is one
  * digest-keyed join of ONLY the revisit rows (responses never
  * shuffle — the join side is proportional to the unchanged fraction,
  * the x_dec1 matched-rows-only discipline).
  */
object Revisit {

  /** md5 hex of a payload's UTF-8 bytes — the digest both the writer
    * and the resolver key on (hex md5 is the repo's portable-hash
    * convention; production archives use sha1:base32, a constant-width
    * swap).
    */
  def payloadDigest(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(encode(payload, "UTF-8"))

  /** Write `(url, payload)` rows as a WARC archive in which any payload
    * whose digest appears in `knownDigests` (one `digest` column)
    * becomes a `revisit` record: WARC-Payload-Digest + WARC-Profile
    * headers, EMPTY payload. Novel payloads write as full `response`
    * records (also digest-stamped, so the next increment can chain off
    * this archive's digests without re-hashing). Same commit discipline
    * as [[Warc.writeRecords]] (attempt file → checked rename).
    */
  def writeRecordsWithRevisits(records: DataFrame, knownDigests: DataFrame,
      dir: String): Unit = {
    val spark = records.sparkSession
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true): Unit
    fs.mkdirs(hp): Unit
    val confSer = spark.sparkContext.broadcast(
      new graft.util.SerHadoopConf(spark.sparkContext.hadoopConfiguration))
    val tagged = records
      // null-tolerant like decodeHttpBodyBytes (ADVICE r13): a NULL url
      // or payload row must write as an empty field, not NPE the task
      .select(coalesce(col("url").cast("string"), lit("")).as("url"),
        coalesce(col("payload").cast("string"), lit("")).as("payload"))
      .withColumn("__d", payloadDigest(col("payload")))
      // dedup the digest side INSIDE the operator: day-1 archives
      // routinely hold several URLs with identical payloads (the exact
      // scenario revisits exist for), and a duplicate digest row in a
      // left join would multiply input records into duplicate archive
      // records — corruption, not dedup
      .join(knownDigests.select(col("digest").as("__d")).distinct()
          .withColumn("__seen", lit(1)),
        Seq("__d"), "left")
      .select(col("url"), col("payload"), col("__d"),
        when(col("__seen").isNotNull, lit("revisit"))
          .otherwise(lit("response")).as("__wtype"))
    tagged.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val part = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.warc")
        val tmp = new org.apache.hadoop.fs.Path(dir,
          f".part-$pid%05d.warc.attempt-${tc.taskAttemptId()}")
        val pfs = part.getFileSystem(confSer.value.value)
        val out = pfs.create(tmp, true)
        try {
          try {
            var ordinal = 0L
            it.foreach { r =>
              val digest = r.getString(2)
              val wtype = r.getString(3)
              val payload =
                if (wtype == "revisit") Array.emptyByteArray
                else r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              // the 1.0 profile URI, matching renderRecordBytes' WARC/1.0
              // version line (ADVICE r13: consumers key on version+profile;
              // the reader's sync magic is hard-coded to 'WARC/1.0\r\n', so
              // the profile moves to the version, not vice versa)
              val extras = Seq("WARC-Payload-Digest" -> s"md5:$digest") ++
                (if (wtype == "revisit")
                  Seq("WARC-Profile" ->
                    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")
                else Nil)
              out.write(Warc.renderRecordBytes(r.getString(0), payload, wtype,
                Warc.DefaultWarcDate, s"$pid:$ordinal", extras))
              ordinal += 1
            }
          } finally out.close()
          if (!pfs.exists(part)) pfs.rename(tmp, part): Unit
          require(pfs.exists(part),
            s"WARC sink commit failed: $tmp did not become $part")
        } finally if (pfs.exists(tmp)) pfs.delete(tmp, false): Unit
      }
    }
  }

  /** [[Warc.schema]] + the payload digest: (offset, warc_type, url,
    * content_length, payload, payload_digest) — digest from the
    * WARC-Payload-Digest header (hex part, NULL when absent).
    */
  val digestSchema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("payload_digest", StringType, nullable = true)))

  /** [[Warc.readRecords]] surfacing the WARC-Payload-Digest header —
    * the column the revisit resolve joins on. Same splittable reader.
    */
  def readRecordsDigest(spark: SparkSession, path: String): DataFrame = {
    val rows = Tables.hadoopFile(spark, path, classOf[WarcInputFormat], None)
      .map { case (off, t) =>
        val s = new String(t.copyBytes(), java.nio.charset.StandardCharsets.UTF_8)
        val hEnd = s.indexOf("\r\n\r\n")
        require(hEnd >= 0,
          "WarcRecordReader contract violated: emitted record without CRLFCRLF")
        val headers = Warc.headerFields(s.substring(0, hEnd))
        val digest = headers.get("warc-payload-digest")
          .map(d => d.substring(d.indexOf(':') + 1)).orNull
        Row(off.get(), headers.get("warc-type").orNull,
          headers.get("warc-target-uri").orNull, Warc.lenientLength(headers),
          s.substring(hEnd + 4), digest)
      }
    spark.createDataFrame(rows, digestSchema)
  }

  /** Resolve revisit records against a payload source `store(digest,
    * payload)`: responses pass through untouched (never shuffled);
    * ONLY the revisit slice joins the store on digest. A revisit whose
    * digest is absent from the store resolves to NULL text — loud in
    * any downstream non-null gate, never silently empty. Output:
    * (url, warc_type, stored_len, text).
    */
  def resolveRevisits(records: DataFrame, store: DataFrame): DataFrame = {
    val base = records.select(col("url"), col("warc_type"),
      col("content_length").as("stored_len"), col("payload"),
      col("payload_digest"))
    // null-SAFE split: a NULL warc_type fails both null-unsafe =!= and
    // === predicates and would vanish from the output — it must pass
    // through as a response (the tier's loud-never-silent contract;
    // ADVICE r13)
    val responses = base.filter(!(col("warc_type") <=> "revisit"))
      .select(col("url"), col("warc_type"), col("stored_len"),
        col("payload").as("text"))
    val revisits = base.filter(col("warc_type") === "revisit")
      // one payload per digest: a store built straight from an archive
      // carries a digest once PER HOLDING URL; identical digests hold
      // identical payloads, so any survivor is correct — but without
      // the dedup every duplicate store row would multiply the revisit
      .join(store.select(col("digest").as("payload_digest"),
          col("payload").as("__stored")).dropDuplicates("payload_digest"),
        Seq("payload_digest"), "left")
      .select(col("url"), col("warc_type"), col("stored_len"),
        col("__stored").as("text"))
    responses.unionByName(revisits)
  }

  // ------------------------------------------------------------- probe

  /** Day-1 / day-2 page content: every doc re-fetches on day 2; only
    * `doc_id % 4 == 0` pages CHANGE (a ` v2` suffix) — the rest must
    * become revisit records.
    */
  private def pageText(day: Int) = {
    val base = concat(lit("Fetched page for doc "), col("doc_id").cast("string"),
      lit(": "), col("text"))
    if (day == 1) base
    else concat(base, when(col("doc_id") % 4 === 0, lit(" v2")).otherwise(lit("")))
  }

  private def pageTextDuck(day: Int) = {
    val base = "'Fetched page for doc ' || CAST(doc_id AS VARCHAR) || ': ' || text"
    if (day == 1) base
    else s"$base || CASE WHEN doc_id % 4 = 0 THEN ' v2' ELSE '' END"
  }

  private val pageUrl =
    concat(lit("https://w"), (col("doc_id") % 9).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"))
  private val pageUrlDuck =
    "'https://w' || CAST(doc_id % 9 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR)"

  /** X-WARC9 — the revisit round trip: day-1 archive written train-once
    * (full responses); day-2 re-fetch tagged against day-1's digests —
    * unchanged pages write as payload-less revisit records, changed
    * pages as full responses — then read back through the splittable
    * reader and RESOLVED against the day-1 archive's payloads. The
    * oracle recomputes which pages changed, each record's stored byte
    * length (0 for revisits — payload elision is IN the hash), and the
    * md5 of the RESOLVED text (revisits must reconstruct day-1 bytes
    * exactly). A tagging slip (changed page marked revisit / unchanged
    * marked response), a digest mismatch, or a resolve-join error all
    * break the hash.
    */
  private val warc9 = Probe(
    "x_warc9_revisit",
    s"""WITH d2 AS (
       |  SELECT doc_id, $pageUrlDuck AS url, ${pageTextDuck(2)} AS c2 FROM documents),
       |j AS (
       |  SELECT d2.url, d2.c2,
       |    CASE WHEN doc_id % 4 = 0 THEN 'response' ELSE 'revisit' END AS wtype
       |  FROM d2)
       |SELECT url, wtype,
       |  CAST(CASE WHEN wtype = 'revisit' THEN 0
       |       ELSE octet_length(encode(c2)) END AS BIGINT) AS stored_len,
       |  md5(c2) AS resolved_md5
       |FROM j ORDER BY url""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val day1 = graft.util.TrainOnce(s"warc_day1:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_day1")
      Warc.writeRecords(
        docs.select(pageUrl.as("url"), pageText(1).cast("binary").as("payload")),
        s"$p/archive")
      p
    }
    val day2 = graft.util.TrainOnce(s"warc_day2:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_day2")
      val known = Warc.readRecords(s, s"$day1/archive/part-*.warc")
        .select(payloadDigest(col("payload")).as("digest")).distinct()
      writeRecordsWithRevisits(
        docs.select(pageUrl.as("url"), pageText(2).as("payload")),
        known, s"$p/archive")
      p
    }
    // STEADY path: read day-2, resolve its revisits against day-1
    val store = Warc.readRecords(s, s"$day1/archive/part-*.warc")
      .select(payloadDigest(col("payload")).as("digest"), col("payload"))
    resolveRevisits(readRecordsDigest(s, s"$day2/archive/part-*.warc"), store)
      .select(col("url"), col("warc_type").as("wtype"),
        col("stored_len"), md5(encode(col("text"), "UTF-8")).as("resolved_md5"))
      .orderBy("url")
  }

  val all: Seq[Probe] = Seq(warc9)
}

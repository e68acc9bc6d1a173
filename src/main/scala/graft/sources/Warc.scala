package graft.sources

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One HTTP response body with its declared codings, keyed by URL —
  * the input row of [[Warc.decodeHttpBodies]]. `te`/`ce` are the parsed
  * Transfer-Encoding / Content-Encoding header values (null when the
  * header is absent).
  */
case class HttpEncodedBody(url: String, body: Array[Byte], te: String, ce: String)

/** [[HttpEncodedBody]] after transfer-decode + content-decode: the
  * bytes the page's charset tier may see. `te`/`ce` echo the codings
  * that were CONSUMED (observability — a funnel report groups on them);
  * `error` is null for a clean decode, else the failure message of a
  * salvaged record (body empty) — the detect-and-drop-loudly column.
  */
case class HttpDecodedBody(url: String, body: Array[Byte], te: String, ce: String,
  error: String)

/** The full door row: [[HttpEncodedBody]] plus the Content-Type header,
  * which must SURVIVE the coding decode — the charset tier downstream
  * resolves on it (`charset=` parameter before the meta sniff), and
  * composing the two tiers (x_warc8) is what surfaced that the
  * body-only row dropped it.
  */
case class HttpEncodedPage(url: String, body: Array[Byte], te: String, ce: String,
  ct: String)

/** [[HttpEncodedPage]] after transfer-decode + content-decode. */
case class HttpDecodedPage(url: String, body: Array[Byte], ct: String, error: String)

/** WARC scan over the splittable [[WarcInputFormat]]: the CommonCrawl
  * container parsed to (offset, warc_type, url, content_length,
  * payload) — the tier in FRONT of HTML extraction (`Corpus.fromHtml`),
  * so the full crawl path reads: .warc → records → extract → every text
  * operator. Record parsing is per-row and stateless; the scan
  * parallelizes per Hadoop split with O(one record) memory.
  */
object Warc {

  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Header lines of one record (everything between the magic line and
    * CRLFCRLF) parsed to a lowercase-keyed map — shared by the scanning
    * reader and the record-addressed reader.
    */
  private[sources] def headerFields(headerBlock: String): Map[String, String] =
    headerBlock.split("\r\n").drop(1).flatMap { line =>
      val c = line.indexOf(':')
      if (c < 0) None
      else Some(line.substring(0, c).toLowerCase(java.util.Locale.ROOT) ->
        line.substring(c + 1).trim)
    }.toMap

  /** Content-Length with the record reader's own lenience: leading
    * digits of a possibly-decorated value ("42;chunked"), or -1.
    */
  private[sources] def lenientLength(headers: Map[String, String]): Long =
    headers.get("content-length")
      .map(_.takeWhile(_.isDigit)).filter(d => d.nonEmpty && d.length <= 15)
      .map(_.toLong).getOrElse(-1L)

  /** DataFrame over every record of the WARC file(s) at `path`.
    * `maxSplitBytes` bounds the Hadoop split size (else Spark's file-split
    * rule applies, [[graft.Tables.hadoopFile]]). Payloads decode as UTF-8
    * text — binary payloads belong to the multimodal tier
    * (`ext.Multimodal`), not this reader.
    */
  def readRecords(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame = {
    val rows = Tables.hadoopFile(spark, path, classOf[WarcInputFormat], maxSplitBytes)
      .map { case (off, t) =>
        val s = new String(t.copyBytes(), java.nio.charset.StandardCharsets.UTF_8)
        val hEnd = s.indexOf("\r\n\r\n")
        // WarcRecordReader's emission contract: a record is only emitted
        // after readHeaders() found CRLFCRLF within 64 KiB, so hEnd >= 0
        // for every value this scan can see — named here because the
        // invariant lives two files apart and a silent -1 would slice
        // garbage instead of failing loudly
        require(hEnd >= 0,
          "WarcRecordReader contract violated: emitted record without CRLFCRLF")
        val headers = headerFields(s.substring(0, hEnd))
        val payload = s.substring(hEnd + 4)
        Row(off.get(), headers.get("warc-type").orNull,
          headers.get("warc-target-uri").orNull, lenientLength(headers), payload)
      }
    spark.createDataFrame(rows, schema)
  }

  // ------------------------------------------- binary payloads + sink

  /** [[schema]] with the payload as raw BYTES — the charset-honest
    * form: a cp1252 page's bytes are not valid UTF-8, and the string
    * reader's UTF-8 decode would mangle them BEFORE the declared-
    * charset tier ([[graft.clean.CharsetFns]]) could see them.
    */
  val binarySchema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** [[readRecords]] with BYTE-PRESERVING payloads: same splittable
    * reader, headers decoded as text (they are ASCII/UTF-8 by the WARC
    * spec), the payload surfaced as the exact bytes Content-Length
    * framed. The front door for non-UTF-8 crawl content — compose with
    * [[httpBody]] over an ISO-8859-1 (byte-identity) view and
    * [[graft.clean.CharsetFns.decodeCharset]]. `maxSplitBytes` bounds the
    * Hadoop split size (else Spark's file-split rule applies).
    */
  def readRecordsBinary(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame = {
    val rows = Tables.hadoopFile(spark, path, classOf[WarcInputFormat], maxSplitBytes)
      .map { case (off, t) =>
        val bytes = t.copyBytes()
        // first CRLFCRLF by BYTE scan (the reader's emission contract
        // guarantees one — see readRecords)
        var hEnd = -1
        var i = 0
        while (hEnd < 0 && i + 3 < bytes.length) {
          if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
            bytes(i + 2) == '\r' && bytes(i + 3) == '\n') hEnd = i
          i += 1
        }
        require(hEnd >= 0,
          "WarcRecordReader contract violated: emitted record without CRLFCRLF")
        val headers = headerFields(new String(bytes, 0, hEnd,
          java.nio.charset.StandardCharsets.UTF_8))
        val payload = java.util.Arrays.copyOfRange(bytes, hEnd + 4, bytes.length)
        Row(off.get(), headers.get("warc-type").orNull,
          headers.get("warc-target-uri").orNull, lenientLength(headers), payload)
      }
    spark.createDataFrame(rows, binarySchema)
  }

  /** Distributed WARC SINK: write (url, payload BINARY) rows as
    * response records into `dir`, ONE `.warc` FILE PER PARTITION —
    * exactly how crawl dumps shard, and the byte-capable counterpart
    * of staging records through the text sink (which UTF-8-encodes and
    * therefore cannot carry cp1252/binary payloads). Content-Length is
    * the payload's exact byte count, so the splittable reader's
    * length-directed contract holds whatever the bytes are. Each task
    * writes its own part file with `overwrite = true` (a retried task
    * rewrites the identical content — the rows of its partition).
    */
  def writeRecords(records: DataFrame, dir: String): Unit =
    writeRecords(records, dir, "response")

  /** All records a sink emits carry this WARC-Date unless the caller
    * overrides it: a FIXED instant, not the wall clock, so a retried
    * task rewrites byte-identical content (the sink's commit contract)
    * and repeated runs produce reproducible archives. Callers stamping
    * real crawl time pass their fetch timestamp explicitly.
    */
  val DefaultWarcDate = "2026-01-01T00:00:00Z"

  /** A raw CR/LF in a URL would inject header lines into a WARC record
    * (and a tab would corrupt the CDX line format). Real link extraction
    * DOES produce such URLs occasionally, and failing on them would kill
    * the whole archive write deterministically on one bad record — so
    * the sinks SANITIZE: percent-encode the three offenders (the
    * encoding a conformant URL carries anyway), keeping the record and
    * the job. Idempotent on already-encoded URLs. The CDX row and the
    * record header always carry the SAME sanitized form.
    */
  private[sources] def sanitizeUri(u: String): String =
    if (u.exists(c => c == '\r' || c == '\n' || c == '\t'))
      u.replace("\r", "%0D").replace("\n", "%0A").replace("\t", "%09")
    else u

  /** One complete record as bytes — the single rendering both sinks
    * share: WARC/1.0 magic, WARC-Type, WARC-Record-ID (a DETERMINISTIC
    * urn:uuid derived from md5(url, payload, type, date, position) —
    * spec-mandatory and spec-UNIQUE: the position salt separates
    * duplicate (url, payload) rows within one archive and a response
    * record from its WET conversion twin, while derivation beats
    * randomness because a retried task must rewrite identical bytes),
    * WARC-Date, WARC-Target-URI, exact byte Content-Length, CRLFCRLF,
    * payload, CRLFCRLF.
    */
  private[sources] def renderRecordBytes(rawUrl: String, payload: Array[Byte],
      warcType: String, warcDate: String, position: String,
      extraHeaders: Seq[(String, String)] = Nil): Array[Byte] = {
    val url = sanitizeUri(rawUrl)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(url.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(payload)
    md.update(0.toByte)
    md.update(s"$warcType|$warcDate|$position"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = md.digest().map("%02x".format(_)).mkString
    val rid = s"urn:uuid:${h.substring(0, 8)}-${h.substring(8, 12)}-" +
      s"${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
    val extras = extraHeaders.map { case (k, v) => s"$k: $v\r\n" }.mkString
    val header = (s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
      s"WARC-Record-ID: <$rid>\r\nWARC-Date: $warcDate\r\n" +
      s"WARC-Target-URI: $url\r\n$extras" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](header.length + payload.length + 4)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(payload, 0, out, header.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** [[writeRecords]] with an explicit record type — `"conversion"`
    * writes the WET form (extracted-text sidecars, the other format
    * CommonCrawl ships alongside .warc).
    */
  def writeRecords(records: DataFrame, dir: String, warcType: String): Unit = {
    val spark = records.sparkSession
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true): Unit
    fs.mkdirs(hp): Unit
    // the SESSION conf ships to tasks (an executor-side `new
    // Configuration()` sees only classpath defaults — it would drop
    // spark.hadoop.* settings, credentials, and fs.defaultFS)
    val confSer = spark.sparkContext.broadcast(
      new graft.util.SerHadoopConf(spark.sparkContext.hadoopConfiguration))
    records.select(col("url").cast("string"), col("payload").cast("binary"))
      .rdd.foreachPartition { it =>
        if (it.hasNext) {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val part = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.warc")
          // write-then-rename commit: concurrent attempts of the same
          // partition (speculation, zombie-vs-retry races) each stream
          // to their OWN attempt file; exactly one rename wins the final
          // name, the loser deletes its attempt — the final file is
          // never written to directly, so it is never interleaved
          val tmp = new org.apache.hadoop.fs.Path(dir,
            f".part-$pid%05d.warc.attempt-${tc.taskAttemptId()}")
          val pfs = part.getFileSystem(confSer.value.value)
          val out = pfs.create(tmp, true)
          // the attempt file NEVER outlives this task: on success it is
          // renamed away; on any failure (including mid-write) the outer
          // finally deletes it, so directory listings only ever see
          // complete part-*.warc files plus in-flight attempts
          try {
            try {
              var ordinal = 0L
              it.foreach { r =>
                out.write(renderRecordBytes(r.getString(0),
                  r.getAs[Array[Byte]](1), warcType, DefaultWarcDate,
                  s"$pid:$ordinal"))
                ordinal += 1
              }
            } finally out.close()
            if (!pfs.exists(part)) pfs.rename(tmp, part): Unit
            // the rename's outcome is CHECKED: a false return for a
            // non-race reason (transient FS fault, permissions, object-
            // store rename semantics) with no final file must fail the
            // task — the finally below deletes the attempt, and without
            // this check the partition's data would vanish silently
            require(pfs.exists(part),
              s"WARC sink commit failed: $tmp did not become $part")
          } finally if (pfs.exists(tmp)) pfs.delete(tmp, false): Unit
        }
      }
  }

  /** The SHIPPED CommonCrawl form: one gzip MEMBER per record,
    * concatenated into `seg-NNNNN/part-NNNNN.warc.gz` per partition,
    * plus the CDX index the writer emits AS IT STREAMS —
    * `seg-NNNNN/cdx-NNNNN.txt` sidecars of tab-separated (url, path,
    * offset, length) rows addressing each member, exactly what
    * [[readRecordsAt]] consumes (length > 0 = the compressed member).
    * The writer knows every member's address the moment it flushes it,
    * so the index costs nothing extra — no post-hoc archive scan, no
    * global window.
    *
    * Commit discipline: the archive and its index are ONE commit unit —
    * both stream into the same attempt DIRECTORY, which renames to the
    * final `seg-NNNNN` name in a single atomic rename. A per-file
    * rename pair (the plain sink's idiom) would admit a part file from
    * one attempt and a CDX from another; if the two attempts consumed
    * a shuffled partition in different fetch orders, the committed CDX
    * would index the wrong members. The directory commit makes that
    * impossible regardless of input ordering or speculation.
    */
  def writeRecordsGz(records: DataFrame, dir: String,
      warcType: String = "response"): Unit = {
    val spark = records.sparkSession
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true): Unit
    fs.mkdirs(hp): Unit
    val confSer = spark.sparkContext.broadcast(
      new graft.util.SerHadoopConf(spark.sparkContext.hadoopConfiguration))
    records.select(col("url").cast("string"), col("payload").cast("binary"))
      .rdd.foreachPartition { it =>
        if (it.hasNext) {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val seg = new org.apache.hadoop.fs.Path(dir, f"seg-$pid%05d")
          val attemptDir = new org.apache.hadoop.fs.Path(dir,
            f".seg-$pid%05d.attempt-${tc.taskAttemptId()}")
          val part = new org.apache.hadoop.fs.Path(seg, f"part-$pid%05d.warc.gz")
          val tmpPart = new org.apache.hadoop.fs.Path(attemptDir, f"part-$pid%05d.warc.gz")
          val tmpCdx = new org.apache.hadoop.fs.Path(attemptDir, f"cdx-$pid%05d.txt")
          val pfs = seg.getFileSystem(confSer.value.value)
          val out = pfs.create(tmpPart, true)
          val idx = pfs.create(tmpCdx, true)
          try {
            try {
              var offset = 0L
              var ordinal = 0L
              it.foreach { r =>
                val url = sanitizeUri(r.getString(0))
                val rec = renderRecordBytes(url, r.getAs[Array[Byte]](1),
                  warcType, DefaultWarcDate, s"$pid:$ordinal")
                val bos = new java.io.ByteArrayOutputStream(rec.length / 2 + 64)
                val gz = new java.util.zip.GZIPOutputStream(bos)
                gz.write(rec); gz.close()
                val member = bos.toByteArray
                // the CDX row addresses the member ABOUT to be written,
                // at the FINAL (post-rename) path — tabs cannot appear
                // in a canonical URL, so the line format is unambiguous
                idx.write((s"$url\t$part\t$offset\t${member.length}\n")
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                out.write(member)
                offset += member.length
                ordinal += 1
              }
            } finally { try out.close() finally idx.close() }
            if (!pfs.exists(seg)) pfs.rename(attemptDir, seg): Unit
            // exists-then-rename races: if a concurrent attempt committed
            // seg between our check and our rename, Hadoop rename
            // semantics moved OUR attempt dir INTO the winner's segment
            // (dst an existing directory → src nests inside). The
            // dot-prefixed name keeps such junk invisible to the shallow
            // seg-*/part-* globs and to FileInputFormat's hidden-file
            // filter, and any attempt (including a later retry) deletes
            // whatever attempt dirs it finds nested in the committed
            // segment — losers clean up after themselves AND after a
            // crashed twin.
            val nested = pfs.globStatus(
              new org.apache.hadoop.fs.Path(seg, ".seg-*.attempt-*"))
            if (nested != null) nested.foreach(st => pfs.delete(st.getPath, true): Unit)
            require(pfs.exists(seg) &&
              pfs.exists(new org.apache.hadoop.fs.Path(seg, part.getName)) &&
              pfs.exists(new org.apache.hadoop.fs.Path(seg, tmpCdx.getName)),
              s"WARC gz sink commit failed: $attemptDir did not become a complete $seg")
          } finally if (pfs.exists(attemptDir)) pfs.delete(attemptDir, true): Unit
        }
      }
  }

  /** The CDX index a [[writeRecordsGz]] run emitted: (url, path,
    * offset, length) rows ready for [[readRecordsAt]] /
    * [[readRecordsAtBinary]] point fetches. An archive with no
    * committed segments (an empty increment) reads as ZERO rows, not an
    * error — a legitimate empty shard must not crash the pipeline.
    */
  def readCdx(spark: SparkSession, dir: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val any = fs.globStatus(new org.apache.hadoop.fs.Path(dir, "seg-*/cdx-*.txt"))
    if (any == null || any.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("url", StringType), StructField("path", StringType),
        StructField("offset", LongType), StructField("length", LongType))))
    else spark.read.text(s"$dir/seg-*/cdx-*.txt")
      .select(split(col("value"), "\t").as("f"))
      .select(col("f").getItem(0).as("url"), col("f").getItem(1).as("path"),
        col("f").getItem(2).cast("long").as("offset"),
        col("f").getItem(3).cast("long").as("length"))
  }

  // --------------------------------------- record-addressed access (CDX)

  /** Read EXACTLY ONE record per (path, offset, length) index entry —
    * the CommonCrawl CDX replay pattern: an index lookup hands back the
    * record's address inside a multi-GB archive, and the fetch must
    * cost one seek + one record read, never an archive scan.
    *
    * `length` > 0 means the address names a COMPRESSED GZIP MEMBER of
    * `length` bytes (the per-record .warc.gz form CommonCrawl ships —
    * each record its own gzip member, the CDX triple addresses the
    * member); `length` <= 0 means a plain archive — seek to `offset`
    * and length-direct the read from the record's own Content-Length.
    *
    * Output schema = [[readRecords]] (offset echoes the index entry).
    * A mismatched address (no record magic at `offset`) FAILS LOUDLY —
    * the index is authoritative, and silently skipping a corrupt
    * address would make replay losses invisible.
    *
    * Shape: genuinely per-row imperative I/O (point reads), so this is
    * the documented `mapPartitions` case — one open stream per distinct
    * path per partition (callers replaying many records from few
    * archives should cluster by path first: `entries.repartition(N,
    * col("path")).sortWithinPartitions("path", "offset")` turns the
    * seeks monotonic). Memory is O(one record).
    */
  def readRecordsAt(entries: DataFrame): DataFrame =
    readRecordsAtImpl(entries, binary = false)

  /** [[readRecordsAt]] with BYTE-PRESERVING payloads ([[binarySchema]])
    * — the replay form for non-UTF-8 content: a cp1252 page fetched by
    * CDX address must reach the charset tier as its exact bytes.
    */
  def readRecordsAtBinary(entries: DataFrame): DataFrame =
    readRecordsAtImpl(entries, binary = true)

  private def readRecordsAtImpl(entries: DataFrame, binary: Boolean): DataFrame = {
    val spark = entries.sparkSession
    // the SESSION conf ships to tasks (a bare executor-side
    // Configuration would drop spark.hadoop.* settings, credentials,
    // and fs.defaultFS — the scanning reader gets the driver conf from
    // newAPIHadoopFile; the point reader must match)
    val confSer = spark.sparkContext.broadcast(
      new graft.util.SerHadoopConf(spark.sparkContext.hadoopConfiguration))
    val rows = entries
      .select(col("path").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .rdd.mapPartitions { it =>
        val conf = confSer.value.value
        val open = scala.collection.mutable.Map.empty[
          String, org.apache.hadoop.fs.FSDataInputStream]
        var closed = false
        def closeAll(): Unit = if (!closed) {
          closed = true; open.values.foreach(_.close())
        }
        // streams also close on task completion/failure — iterator
        // drain alone leaks them under limit()/take() or a mid-
        // partition require (stale index entry)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
        val base = it.map { r =>
          val (path, offset, len) = (r.getString(0), r.getLong(1), r.getLong(2))
          val hp = new org.apache.hadoop.fs.Path(path)
          val fsIn = open.getOrElseUpdate(path,
            hp.getFileSystem(conf).open(hp))
          fsIn.seek(offset)
          val in: java.io.DataInputStream =
            if (len > 0) {
              require(len <= Int.MaxValue - 16,
                s"compressed member at $path:$offset too large: $len")
              val buf = new Array[Byte](len.toInt)
              fsIn.readFully(buf)
              new java.io.DataInputStream(new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(buf)))
            } else new java.io.DataInputStream(
              new java.io.BufferedInputStream(fsIn, 64 * 1024))
          // magic + headers through CRLFCRLF (the scanning reader's
          // cap), collected as BYTES and decoded UTF-8 at the end —
          // the scanning readers decode headers as UTF-8, and a
          // byte-to-char append would hand a non-ASCII
          // WARC-Target-URI back as mojibake, breaking the documented
          // random-access ≡ sequential-scan equivalence
          val head = new java.io.ByteArrayOutputStream(256)
          val magic = new Array[Byte](WarcInputFormat.Magic.length)
          in.readFully(magic)
          require(java.util.Arrays.equals(magic, WarcInputFormat.Magic),
            s"no WARC record magic at $path:$offset — stale or corrupt index entry")
          head.write(magic)
          // rolling CRLFCRLF matcher over the last 4 bytes — seeded at
          // 2 because the magic itself ends in CRLF (a zero-header
          // record's terminator straddles it)
          var tail = 2
          while (tail < 4) {
            require(head.size < WarcInputFormat.MaxHeaderBytes,
              s"unterminated record headers at $path:$offset")
            val b = in.read()
            require(b >= 0, s"EOF inside record headers at $path:$offset")
            head.write(b)
            val expect = if (tail % 2 == 0) '\r' else '\n'
            tail = if (b == expect) tail + 1 else if (b == '\r') 1 else 0
          }
          val headBytes = head.toByteArray
          val headers = headerFields(new String(headBytes, 0,
            headBytes.length - 4, java.nio.charset.StandardCharsets.UTF_8))
          val cl = lenientLength(headers)
          require(cl >= 0 && cl <= Int.MaxValue - 16,
            s"unreadable Content-Length at $path:$offset")
          val payload = new Array[Byte](cl.toInt)
          in.readFully(payload)
          Row(offset, headers.get("warc-type").orNull,
            headers.get("warc-target-uri").orNull, cl,
            if (binary) payload
            else new String(payload, java.nio.charset.StandardCharsets.UTF_8))
        }
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = base.hasNext
            if (!h) closeAll()
            h
          }
          def next(): Row = base.next()
        }
      }
    spark.createDataFrame(rows, if (binary) binarySchema else schema)
  }

  /** One WARC response record as a STRING column — the writer half of
    * the probe's round trip, built declaratively (Content-Length is the
    * payload's UTF-8 BYTE length via octet_length). Written through the
    * text sink, whose per-row '\n' lands between records where the
    * reader's sync scan skips it.
    */
  def responseRecord(url: org.apache.spark.sql.Column,
      payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
      lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n"))

  // ------------------------------------------- HTTP response payloads

  /** Real CommonCrawl `response` records carry a FULL HTTP response in
    * the payload — status line, headers, CRLFCRLF, then the body. These
    * helpers split it declaratively (shared-syntax regexes, DuckDB twins
    * below) so the crawl front door filters on status/Content-Type and
    * hands ONLY the body to HTML extraction — never the HTTP headers,
    * which would otherwise flow into the extracted text and every
    * downstream signal (round-10 verdict #1).
    */
  private val httpSep = "\r\n\r\n"
  private val statusRe = "^HTTP/[0-9.]+ ([0-9]{3})"
  private val ctypeRe = "(?i)\r\ncontent-type:[ \t]*([^\r;]+)"
  private val charsetRe = "(?i)charset=[\"']?([A-Za-z0-9_-]+)"

  /** The header section (status line + headers) of an HTTP payload —
    * everything before the first CRLFCRLF, or the whole payload when no
    * separator exists (a header-only/malformed response has no body).
    */
  private[sources] def httpHead(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(locate(httpSep, payload) > 0,
      payload.substr(lit(1), locate(httpSep, payload) - 1))
      .otherwise(payload)

  /** HTTP status code (e.g. 200), or NULL when the payload is not an
    * HTTP response (no status line) — non-response WARC records
    * (warcinfo, request, metadata) parse to NULL and a keep-200s filter
    * drops them with the error pages.
    */
  def httpStatus(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = regexp_extract(payload, statusRe, 1)
    when(s =!= "", s.cast("int"))
  }

  /** Media type from the Content-Type header (lowercased, parameters
    * stripped), or NULL when absent. Matched within the HEADER SECTION
    * only — a body echoing "content-type:" text must not win.
    */
  def httpContentType(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ct = trim(lower(regexp_extract(httpHead(payload), ctypeRe, 1)))
    when(ct =!= "", ct)
  }

  /** Declared charset from the Content-Type header (lowercased), or
    * NULL when undeclared — the key the declared-charset decode tier
    * dispatches on.
    */
  def httpCharset(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val cs = lower(regexp_extract(httpHead(payload), charsetRe, 1))
    when(cs =!= "", cs)
  }

  /** The FULL Content-Type header value (parameters included, case
    * preserved), or '' when absent — the charset tier resolves on the
    * `charset=` parameter, which [[httpContentType]] strips. Header-
    * section-bounded like the other accessors; shared by the composed
    * doors (x_warc8, x_pipe11) so the regex cannot drift.
    */
  def httpContentTypeFull(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(httpHead(payload), "(?i)\r\ncontent-type:[ \t]*([^\r]+)", 1)

  /** The response body — everything after the first CRLFCRLF; empty when
    * the payload has no separator. The ONLY slice of a response record
    * that may reach HTML extraction.
    */
  def httpBody(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(locate(httpSep, payload) > 0,
      payload.substr(locate(httpSep, payload) + 4, length(payload)))
      .otherwise(lit(""))

  /** DuckDB twins of the HTTP header accessors, over a payload expression. */
  private def httpHeadDuck(e: String): String = {
    val sep = "chr(13) || chr(10) || chr(13) || chr(10)"
    s"(CASE WHEN strpos($e, $sep) > 0 THEN substr($e, 1, strpos($e, $sep) - 1) ELSE $e END)"
  }
  def httpStatusDuck(e: String): String =
    s"CAST(nullif(regexp_extract($e, '$statusRe', 1), '') AS INT)"
  def httpContentTypeDuck(e: String): String =
    s"nullif(trim(lower(regexp_extract(${httpHeadDuck(e)}, '(?i)' || chr(13) || chr(10) || 'content-type:[ \\t]*([^' || chr(13) || ';]+)', 1))), '')"
  def httpCharsetDuck(e: String): String =
    s"nullif(lower(regexp_extract(${httpHeadDuck(e)}, '${charsetRe.replace("'", "''")}', 1)), '')"

  private val locRe = "(?i)\r\nlocation:[ \t]*([^\r]+)"

  /** The Location header value (case PRESERVED — URL paths are
    * case-sensitive; only the header NAME matches case-insensitively),
    * or NULL when absent. Header-section-bounded like the other
    * accessors: a body echoing "Location:" text must not win. The
    * redirect-following tier ([[graft.ext.Frontier.redirectEdges]])
    * resolves this against the request URL.
    */
  def httpLocation(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val v = trim(regexp_extract(httpHead(payload), locRe, 1))
    when(v =!= "", v)
  }

  /** DuckDB twin of [[httpLocation]]. */
  def httpLocationDuck(e: String): String =
    s"nullif(trim(regexp_extract(${httpHeadDuck(e)}, '(?i)' || chr(13) || chr(10) || 'location:[ \\t]*([^' || chr(13) || ']+)', 1)), '')"

  // ------------------------- transfer/content codings (round-11 verdict #1)

  private val teRe = "(?i)\r\ntransfer-encoding:[ \t]*([^\r]+)"
  private val ceRe = "(?i)\r\ncontent-encoding:[ \t]*([^\r]+)"

  /** The Transfer-Encoding header value (lowercased), or NULL when
    * absent — header-section-bounded like the other accessors. A real
    * crawl response is routinely `chunked`; its body bytes are then
    * chunk-size-framed and MUST pass through [[decodeHttpBodies]]
    * before extraction.
    */
  def httpTransferEncoding(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val v = trim(lower(regexp_extract(httpHead(payload), teRe, 1)))
    when(v =!= "", v)
  }

  /** The Content-Encoding header value (lowercased), or NULL when
    * absent — `gzip`/`deflate` bodies are compressed on the wire and
    * MUST pass through [[decodeHttpBodies]] before extraction.
    */
  def httpContentEncoding(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val v = trim(lower(regexp_extract(httpHead(payload), ceRe, 1)))
    when(v =!= "", v)
  }

  /** Dechunk a `Transfer-Encoding: chunked` body (RFC 9112 §7.1):
    * hex chunk-size line (chunk extensions after `;` ignored, per the
    * spec's MAY-ignore), CRLF, exactly size data bytes, CRLF, repeated
    * until the zero-size chunk; trailer fields after it are skipped
    * through their terminating empty line. Malformed framing FAILS
    * LOUDLY (a silent partial dechunk would feed framing garbage to
    * extraction — the exact failure this tier exists to prevent).
    */
  private[sources] def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < body.length && !(body(i) == '\r' && body(i + 1) == '\n')) i += 1
      require(i + 1 < body.length, "chunked body: unterminated line")
      i
    }
    var i = 0
    var done = false
    while (!done) {
      val e = lineEnd(i)
      val line = new String(body, i, e - i, java.nio.charset.StandardCharsets.US_ASCII)
      val semi = line.indexOf(';')
      val hex = (if (semi >= 0) line.substring(0, semi) else line).trim
      // leading zeros are legal (RFC 9112 chunk-size = 1*HEXDIG, fixed-
      // width writers zero-pad), so normalize BEFORE the width check;
      // ≤ 7 significant digits (≤ 256 MiB): more would overflow the int
      // parse, and a single chunk that size is framing garbage anyway
      val sig = { val d = hex.dropWhile(_ == '0'); if (d.isEmpty && hex.nonEmpty) "0" else d }
      require(hex.nonEmpty && sig.length <= 7 &&
        hex.forall(c => Character.digit(c, 16) >= 0),
        s"chunked body: bad chunk-size line '$line'")
      val size = java.lang.Integer.parseInt(sig, 16)
      i = e + 2
      if (size == 0) {
        // trailer section: skip fields through the terminating empty line
        var blank = false
        while (!blank) {
          val t = lineEnd(i)
          blank = t == i
          i = t + 2
        }
        // bytes after the terminator are framing damage (a concatenated
        // second message, corruption) — the fail-loudly contract covers
        // the tail too, not just the chunks
        require(i == body.length,
          s"chunked body: ${body.length - i} bytes after the terminating chunk")
        done = true
      } else {
        require(i + size + 2 <= body.length,
          s"chunked body: chunk of $size bytes overruns the body")
        out.write(body, i, size)
        i += size
        require(body(i) == '\r' && body(i + 1) == '\n',
          "chunked body: missing CRLF after chunk data")
        i += 2
      }
    }
    out.toByteArray
  }

  /** Decompress a `Content-Encoding: gzip` / `deflate` body. `deflate`
    * is zlib-wrapped per RFC 9110, but real servers ship raw DEFLATE
    * under the same label often enough that every browser sniffs — the
    * standard two-byte test: a zlib stream starts with CMF whose low
    * nibble is 8 (deflate) and (CMF<<8|FLG) divisible by 31.
    *
    * Decompressed size is CAPPED ([[MaxDecodedBodyBytes]]): an untrusted
    * crawl body can be a decompression bomb (a few MB inflating to many
    * GB), and an uncapped read dies as OutOfMemoryError — an Error the
    * lenient salvage cannot catch, killing the job on one record. The
    * cap throws IOException, which salvages.
    */
  val MaxDecodedBodyBytes: Int = 256 << 20

  private[sources] def inflateBody(body: Array[Byte], coding: String): Array[Byte] = {
    val in: java.io.InputStream = coding match {
      case "gzip" | "x-gzip" =>
        new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(body))
      case "deflate" =>
        val zlib = body.length >= 2 && (body(0) & 0x0f) == 8 &&
          (((body(0) & 0xff) << 8 | (body(1) & 0xff)) % 31 == 0)
        new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(body), new java.util.zip.Inflater(!zlib))
      case other => throw new IllegalArgumentException(
        s"unsupported Content-Encoding: $other")
    }
    try {
      // initial hint bounded (body.length * 4 overflows Int past 512 MB)
      val out = new java.io.ByteArrayOutputStream(
        math.min(body.length.toLong * 4 + 64, 1L << 20).toInt)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size().toLong + n > MaxDecodedBodyBytes)
          throw new java.io.IOException(
            s"decompressed body exceeds $MaxDecodedBodyBytes bytes (bomb?)")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  /** One body through BOTH decode tiers in wire order: transfer coding
    * first (`chunked` → dechunk; absent/`identity` → passthrough), then
    * content coding (`gzip`/`x-gzip`/`deflate` → decompress;
    * absent/`identity` → passthrough). An unrecognized coding fails
    * loudly — silently passing coded bytes downstream would score the
    * page as low-quality noise instead of surfacing the gap.
    */
  private[sources] def decodeHttpBodyBytes(body0: Array[Byte],
      te: String, ce: String): Array[Byte] = {
    // a null body cell is legal in the documented DataFrame input (an
    // upstream outer join, a headerless record) — decode it as the
    // empty body rather than NPE-ing the task inside dechunk/inflate,
    // which would defeat the lenient one-bad-record salvage contract
    val body = if (body0 == null) Array.emptyByteArray else body0
    val codings = Option(te).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(codings.forall(c => c == "chunked" || c == "identity"),
      s"unsupported Transfer-Encoding: $te")
    val transferred = if (codings.contains("chunked")) dechunk(body) else body
    Option(ce).map(_.trim).filter(c => c.nonEmpty && c != "identity") match {
      case Some(c) => inflateBody(transferred, c)
      case None => transferred
    }
  }

  /** Transfer-decode + content-decode HTTP bodies — the imperative tier
    * between [[httpBody]] and the charset decode: real crawled
    * responses are routinely `Transfer-Encoding: chunked` and/or
    * `Content-Encoding: gzip|deflate`, and handing those bytes straight
    * to extraction scores chunk-size framing or compressed garbage as
    * low-quality text.
    *
    * Shape: genuinely per-row imperative byte work (the documented
    * `mapPartitions` case, the RIFF-walker discipline of
    * [[graft.ext.Multimodal.decodeWavStats]]) — narrow, zero exchanges,
    * O(one body) memory; identity rows pass through untouched.
    *
    * A real crawl-scale archive routinely carries a few truncated gzip
    * bodies or broken chunk framing; by default (`lenient = true`) such
    * a record SALVAGES — empty body, the failure message in `error` —
    * instead of failing the task deterministically on every retry and
    * killing a multi-hour job on one bad record (the same
    * detect-and-drop-loudly posture as the charset gate and the WARC
    * reader's stream salvage). `lenient = false` keeps the strict
    * fail-the-job contract for fixture-grade inputs.
    */
  def decodeHttpBodies(ds: Dataset[HttpEncodedBody],
      lenient: Boolean = true): Dataset[HttpDecodedBody] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      try HttpDecodedBody(r.url, decodeHttpBodyBytes(r.body, r.te, r.ce),
        r.te, r.ce, null)
      catch {
        case e @ (_: IllegalArgumentException | _: java.io.IOException) if lenient =>
          HttpDecodedBody(r.url, Array.emptyByteArray, r.te, r.ce,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    })
  }

  /** [[decodeHttpBodies]] carrying the Content-Type through — the form
    * the composed front door uses, because the charset tier resolves on
    * the HTTP header BEFORE the meta sniff and the header must survive
    * the coding decode. Same lenient salvage contract.
    */
  def decodeHttpPages(ds: Dataset[HttpEncodedPage],
      lenient: Boolean = true): Dataset[HttpDecodedPage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      try HttpDecodedPage(r.url, decodeHttpBodyBytes(r.body, r.te, r.ce), r.ct, null)
      catch {
        case e @ (_: IllegalArgumentException | _: java.io.IOException) if lenient =>
          HttpDecodedPage(r.url, Array.emptyByteArray, r.ct,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    })
  }

  /** Column-PRESERVING coding decode over a DataFrame: replaces
    * `bodyCol`'s bytes with the transfer+content-decoded bytes and
    * appends a `<bodyCol>_error` string column (the lenient salvage
    * contract), keeping every other column — the composable form for
    * door pipelines that must carry status / content-type / host /
    * anything else through the decode (the typed [[decodeHttpPages]]
    * is the streaming form; this one uses `df.rdd` and is batch-only).
    */
  def decodeHttpBodyColumn(df: DataFrame, bodyCol: String = "body",
      teCol: String = "te", ceCol: String = "ce",
      lenient: Boolean = true): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(s"${bodyCol}_error", StringType, nullable = true))
    val bi = df.schema.fieldIndex(bodyCol)
    val ti = df.schema.fieldIndex(teCol)
    val ci = df.schema.fieldIndex(ceCol)
    val rows = df.rdd.mapPartitions(_.map { r =>
      val body = r.getAs[Array[Byte]](bi)
      val te = if (r.isNullAt(ti)) null else r.getString(ti)
      val ce = if (r.isNullAt(ci)) null else r.getString(ci)
      try Row.fromSeq(r.toSeq.updated(bi, decodeHttpBodyBytes(body, te, ce)) :+ null)
      catch {
        case e @ (_: IllegalArgumentException | _: java.io.IOException) if lenient =>
          Row.fromSeq(r.toSeq.updated(bi, Array.emptyByteArray) :+
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    })
    df.sparkSession.createDataFrame(rows, outSchema)
  }

  /** Fixture ENCODER (never a decode path): one body wire-coded for
    * mode ∈ 0..4 — identity / gzip / deflate(zlib) / chunked /
    * chunked(gzip). Chunking varies chunk sizes, carries a chunk
    * extension on the first chunk, and emits a trailer field — the
    * parts of RFC 9112 framing a decoder is allowed to ignore but must
    * skip correctly. Returns (encodedBody, teHeader, ceHeader).
    */
  private[graft] def encodeBodyForFixture(body: Array[Byte], mode: Int)
      : (Array[Byte], String, String) = {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    def zlib(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end()
      bos.toByteArray
    }
    def chunk(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(b.length + 128)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      var i = 0
      var first = true
      while (i < b.length) {
        val n = math.min(if (first) 7 else if (i < 100) 64 else 256, b.length - i)
        val ext = if (first) ";x=fixture" else ""
        bos.write(s"${n.toHexString}$ext\r\n".getBytes(ascii))
        bos.write(b, i, n)
        bos.write("\r\n".getBytes(ascii))
        i += n
        first = false
      }
      bos.write("0\r\nX-Trailer: fixture\r\n\r\n".getBytes(ascii))
      bos.toByteArray
    }
    mode match {
      case 0 => (body, null, null)
      case 1 => (gz(body), null, "gzip")
      case 2 => (zlib(body), null, "deflate")
      case 3 => (chunk(body), "chunked", null)
      case _ => (chunk(gz(body)), "chunked", "gzip")
    }
  }

  /** A full HTTP response rendered as a WARC record payload — the writer
    * half of the x_warc3 fixture (Content-Length here is the HTTP
    * header, byte length of the BODY; the WARC record's own
    * Content-Length covers the whole payload via [[responseRecord]]).
    */
  def httpResponsePayload(status: org.apache.spark.sql.Column,
      contentType: org.apache.spark.sql.Column,
      extraHeaders: org.apache.spark.sql.Column,
      body: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("HTTP/1.1 "), status.cast("string"),
      when(status === 200, lit(" OK")).otherwise(lit(" Error")),
      lit("\r\nContent-Type: "), contentType,
      lit("\r\nContent-Length: "), octet_length(body).cast("string"),
      lit("\r\n"), extraHeaders, lit("\r\n"), body)

  /** X-WARC1 — WARC round trip: documents render as response records
    * (HTML payload, exact byte Content-Length), write through the text
    * sink, and read back through the SPLITTABLE record reader; the
    * oracle recomputes type/URI/byte-length/payload fingerprint straight
    * from the documents table, so any framing, length, or decode error
    * in the source breaks the hash. WarcSpec additionally pins
    * multi-split ≡ single-split, payloads embedding the record magic,
    * and truncated-tail drop semantics.
    */
  private val warc1 = Probe(
    "x_warc1_roundtrip",
    """SELECT doc_id, 'response' AS warc_type,
      |  CAST(strlen(payload) AS BIGINT) AS content_length,
      |  md5(payload) AS payload_fp
      |FROM (
      |  SELECT doc_id,
      |    '<html><body><p>' || text || '</p></body></html>' AS payload
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val out = graft.util.TempDirs.scratch("graft_warc_rt")
    Tables(s, dir, "documents")
      .select(responseRecord(
        concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
          lit(".com/doc/"), col("doc_id").cast("string")),
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
        .as("value"))
      .write.mode("overwrite").text(out)
    readRecords(s, out)
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("warc_type"), col("content_length"),
        md5(col("payload")).as("payload_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC2 — the FULL crawl front door in one oracle-checked pass:
    * documents render as WARC response records whose HTML payload
    * carries planted encoding damage (x_enc1's fixture) and chrome; the
    * pipeline then reads the archive splittably, repairs the encoding,
    * extracts text, runs the quality gate, and rolls up per HOST —
    * warc framing × mojibake repair × extraction × gate × URL tier,
    * every stage interaction pinned by one nested oracle recomputing
    * the chain from the source table.
    */
  private val warc2 = Probe(
    "x_warc2_ingest_pipeline",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       |    '<html><body><nav><a href="/">Home</a> menu chrome</nav><p>' ||
       |      ${graft.clean.EncodingFns.sqlLit(graft.ext.PipelineOps15.planted)} || text ||
       |      '</p></body></html>' AS payload
       |  FROM documents),
       |rep AS (
       |  SELECT doc_id, url,
       |    ${graft.clean.EncodingFns.repairEncodingDuck("payload")} AS payload
       |  FROM d),
       |x AS (
       |  SELECT doc_id, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       |         ${graft.clean.HtmlFns.htmlToTextDuck("payload")} AS text
       |  FROM rep),
       |t AS (
       |  SELECT doc_id, host, list_filter(string_split_regex(lower(text), '\\s+'), tkn -> tkn <> '') AS w
       |  FROM x),
       |m AS (
       |  SELECT doc_id, host,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
       |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
       |  FROM t),
       |k AS (
       |  SELECT doc_id, host, n_words,
       |    CASE WHEN n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
       |         AND alpha_ppm >= 600000 AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
       |  FROM m)
       |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(keep) AS BIGINT) AS n_kept,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words
       |FROM k GROUP BY host ORDER BY host""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"warc_ingest:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_ing")
      Tables(s, dir, "documents")
        .select(responseRecord(
          concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
            lit(".com/doc/"), col("doc_id").cast("string")),
          concat(lit("<html><body><nav><a href=\"/\">Home</a> menu chrome</nav><p>"),
            lit(graft.ext.PipelineOps15.planted), col("text"),
            lit("</p></body></html>"))).as("value"))
        .write.mode("overwrite").text(p)
      p
    }
    val records = readRecords(s, out)
    graft.ext.PipelineOps3.addQualityRuleSignals(
        records
          .withColumn("payload",
            graft.clean.EncodingFns.repairEncoding(col("payload")))
          .select(
            regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"),
            graft.clean.HtmlFns.htmlToText(col("payload")).as("text")))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("n_words")).cast("long").as("n_words"))
      .orderBy("host")
  }

  /** X-WARC3 — HTTP response parsing inside WARC payloads: documents
    * render as WARC response records whose payload is a FULL HTTP
    * response (status line, Content-Type with/without charset, planted
    * marker headers, CRLFCRLF, HTML body) — the real CommonCrawl record
    * shape. The pipeline reads the archive splittably, parses the HTTP
    * envelope, keeps 200s with a text/html Content-Type, and extracts
    * text from the BODY ONLY. The oracle recomputes status/content-type/
    * charset through the DuckDB twins of the accessors on a byte-
    * identical payload, but the extracted-text fingerprint comes from
    * the ORIGINAL document text path (never any HTTP parsing), so header
    * text leaking into the corpus breaks the hash — and `header_hits`
    * counts the planted marker in the extracted text, recomputed (not
    * assumed) by the oracle.
    */
  private val warc3 = Probe(
    "x_warc3_http_responses",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS status,
       |    CASE WHEN doc_id % 7 = 3 THEN 'application/pdf'
       |         WHEN doc_id % 2 = 0 THEN 'text/html; charset=UTF-8'
       |         ELSE 'text/html' END AS ct,
       |    '<html><body><p>' || text || '</p></body></html>' AS body
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, body,
       |    'HTTP/1.1 ' || CAST(status AS VARCHAR) ||
       |      CASE WHEN status = 200 THEN ' OK' ELSE ' Error' END ||
       |    chr(13) || chr(10) || 'Content-Type: ' || ct ||
       |    chr(13) || chr(10) || 'Content-Length: ' || CAST(strlen(body) AS VARCHAR) ||
       |    chr(13) || chr(10) || 'Server: graft-fixture' ||
       |    chr(13) || chr(10) || 'X-Planted: SECRETMARKER7 the and of to is that' ||
       |    chr(13) || chr(10) || chr(13) || chr(10) || body AS payload
       |  FROM d),
       |x AS (
       |  SELECT doc_id,
       |    ${httpStatusDuck("payload")} AS status,
       |    ${httpContentTypeDuck("payload")} AS content_type,
       |    ${httpCharsetDuck("payload")} AS charset,
       |    ${graft.clean.HtmlFns.htmlToTextDuck("body")} AS text
       |  FROM p)
       |SELECT doc_id, CAST(status AS BIGINT) AS status, content_type,
       |  COALESCE(charset, '') AS charset,
       |  CAST(len(regexp_extract_all(text, 'SECRETMARKER7')) AS BIGINT) AS header_hits,
       |  md5(text) AS text_fp
       |FROM x
       |WHERE status = 200 AND content_type = 'text/html'
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"warc_http:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_http")
      val body = concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>"))
      val status = when(col("doc_id") % 5 === 0, lit(404)).otherwise(lit(200))
      val ct = when(col("doc_id") % 7 === 3, lit("application/pdf"))
        .when(col("doc_id") % 2 === 0, lit("text/html; charset=UTF-8"))
        .otherwise(lit("text/html"))
      Tables(s, dir, "documents")
        .select(responseRecord(
          concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
            lit(".com/doc/"), col("doc_id").cast("string")),
          httpResponsePayload(status, ct,
            lit("Server: graft-fixture\r\nX-Planted: SECRETMARKER7 the and of to is that\r\n"),
            body)).as("value"))
        .write.mode("overwrite").text(p)
      p
    }
    readRecords(s, out)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        httpStatus(col("payload")).as("status"),
        httpContentType(col("payload")).as("content_type"),
        coalesce(httpCharset(col("payload")), lit("")).as("charset"),
        graft.clean.HtmlFns.htmlToText(httpBody(col("payload"))).as("text"))
      .filter(col("status") === 200 && col("content_type") === "text/html")
      .select(col("doc_id"), col("status").cast("long").as("status"),
        col("content_type"), col("charset"),
        size(regexp_extract_all(col("text"), lit("SECRETMARKER7"), lit(0)))
          .cast("long").as("header_hits"),
        md5(col("text")).as("text_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC4 — record-addressed access (the CDX replay pattern) over
    * the SHIPPED form end to end: documents write through the
    * gzip-member sink ([[writeRecordsGz]] — one gzip member per record,
    * the CDX index emitted by the WRITER as it streams, retiring the
    * fixture-only global-window index of rounds 10–11); every fifth
    * document is then point-fetched through [[readRecordsAt]] — seek +
    * one member read, no archive scan — and the oracle recomputes
    * type/length/payload fingerprint straight from the documents table.
    * A wrong writer-emitted offset or length, a wrong seek, or any
    * framing error in the member reader breaks the hash. WarcSpec
    * additionally pins random access ≡ sequential scan record for
    * record, and sink-CDX ≡ sequential scan.
    */
  private val warc4 = Probe(
    "x_warc4_random_access",
    """SELECT doc_id, 'response' AS warc_type,
      |  CAST(strlen(payload) AS BIGINT) AS content_length,
      |  md5(payload) AS payload_fp
      |FROM (
      |  SELECT doc_id,
      |    '<html><body><p>' || text || '</p></body></html>' AS payload
      |  FROM documents)
      |WHERE doc_id % 5 = 2
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"warc_cdx_gz:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_cdx")
      writeRecordsGz(
        Tables(s, dir, "documents").select(
          concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
            lit(".com/doc/"), col("doc_id").cast("string")).as("url"),
          encode(concat(lit("<html><body><p>"), col("text"),
            lit("</p></body></html>")), "UTF-8").as("payload")),
        s"$p/archive")
      s"$p/archive"
    }
    val picked = readCdx(s, out)
      .filter(regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long") % 5 === 2)
      .select("path", "offset", "length")
    readRecordsAt(picked)
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("warc_type"), col("content_length"),
        md5(col("payload")).as("payload_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC5 — the BYTE-honest crawl front door: documents render as
    * HTTP responses whose BODY BYTES are genuinely cp1252 (odd docs)
    * or UTF-8 (even docs), written through the binary WARC SINK
    * ([[writeRecords]] — the text sink cannot carry non-UTF-8 bytes),
    * read back through the splittable reader byte-preserving
    * ([[readRecordsBinary]]), HTTP-split over an ISO-8859-1 identity
    * view, charset-resolved (Content-Type param → meta sniff →
    * default), byte-decoded ([[graft.clean.CharsetFns]]), and
    * extracted. The oracle recomputes the expected text from the
    * documents table alone — any byte mangled anywhere in
    * write → split-read → HTTP split → charset decode breaks the hash.
    */
  /** The mixed-charset HTTP fixture shared by x_warc5 and x_pipe9:
    * (url, payload) columns over a documents frame — body bytes
    * genuinely cp1252 for odd docs / UTF-8 for even, Content-Type
    * charset declared by header (mod-4 0/3), by `<meta>` only (mod-4
    * 2), or not at all. ONE definition so the two probes' claimed
    * byte-identity can't silently drift.
    */
  private[graft] def mixedCharsetFixture: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val bodyStr = concat(lit("<html><head>"),
      when(col("doc_id") % 4 === 2, lit("<meta charset=\"utf-8\">")).otherwise(lit("")),
      lit("</head><body><p>"), lit(graft.ext.PipelineOps16.planted2),
      regexp_replace(col("text"), "[^ -~]", ""), lit("</p></body></html>"))
    val bodyBytes = when(col("doc_id") % 2 === 1,
      encode(graft.clean.CharsetFns.cp1252Unfix(bodyStr), "ISO-8859-1"))
      .otherwise(encode(bodyStr, "UTF-8"))
    val ct = when(col("doc_id") % 2 === 1, lit("text/html; charset=windows-1252"))
      .when(col("doc_id") % 4 === 0, lit("text/html; charset=utf-8"))
      .otherwise(lit("text/html"))
    val payload = concat(
      encode(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
        lit("\r\nContent-Length: "), length(bodyBytes).cast("string"),
        lit("\r\n\r\n")), "UTF-8"),
      bodyBytes)
    val url = concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
      lit(".com/doc/"), col("doc_id").cast("string"))
    (url, payload)
  }

  /** The matching oracle-side BODY expression (the decoded text both
    * charsets round-trip to), over a documents relation.
    */
  private[graft] def mixedCharsetBodyDuck: String =
    s"""'<html><head>' ||
       |      CASE WHEN doc_id % 4 = 2 THEN '<meta charset="utf-8">' ELSE '' END ||
       |      '</head><body><p>' ||
       |      ${graft.clean.EncodingFns.sqlLit(graft.ext.PipelineOps16.planted2)} ||
       |      regexp_replace(text, '[^ -~]', '', 'g') || '</p></body></html>'""".stripMargin

  private val warc5 = Probe(
    "x_warc5_binary_charset_door",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 1 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
       |    $mixedCharsetBodyDuck AS body
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, charset,
       |    ${graft.clean.HtmlFns.htmlToTextDuck("body")} AS text
       |  FROM d)
       |SELECT doc_id, CAST(200 AS BIGINT) AS status, charset,
       |  CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS text_fp
       |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"warc_bin:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_bin")
      val (url, payload) = mixedCharsetFixture
      writeRecords(
        Tables.spread(s, dir, "documents").select(url.as("url"), payload.as("payload")),
        s"$p/archive")
      s"$p/archive"
    }
    val pstr = decode(col("payload"), "ISO-8859-1") // byte-identity view
    val bodyBytes = encode(httpBody(pstr), "ISO-8859-1") // exact body bytes
    val resolved = coalesce(
      graft.clean.CharsetFns.normalizeCharset(httpCharset(pstr)),
      graft.clean.CharsetFns.normalizeCharset(
        graft.clean.CharsetFns.metaCharset(bodyBytes)),
      lit("utf-8"))
    readRecordsBinary(s, out)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        httpStatus(pstr).cast("long").as("status"),
        resolved.as("charset"),
        graft.clean.HtmlFns.htmlToText(
          graft.clean.CharsetFns.decodeCharset(bodyBytes, resolved)).as("text"))
      .filter(col("status") === 200)
      .select(col("doc_id"), col("status"), col("charset"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("text_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC6 — WET generation: the extracted-TEXT sidecar a crawl
    * release ships beside its .warc (CommonCrawl's .wet form). The
    * full derivation chain runs train-once — the mixed-charset binary
    * archive through the sink, scan, HTTP split, charset decode, HTML
    * extraction, then the extracted text WRITTEN BACK as `conversion`
    * records; steady state reads the WET sidecar, which must carry
    * type `conversion` and byte-exact extracted text per URI. The
    * oracle recomputes the extracted text (and its UTF-8 byte length,
    * the WET record's own Content-Length) straight from the documents
    * table — a wrong decode, extraction, or any framing slip in the
    * conversion round trip breaks the hash.
    */
  private val warc6 = Probe(
    "x_warc6_wet_sidecar",
    s"""WITH d AS (
       |  SELECT doc_id, $mixedCharsetBodyDuck AS body
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, ${graft.clean.HtmlFns.htmlToTextDuck("body")} AS text
       |  FROM d)
       |SELECT doc_id, 'conversion' AS warc_type,
       |  CAST(strlen(text) AS BIGINT) AS content_length,
       |  md5(text) AS text_fp
       |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"warc_wet:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_wet")
      val (url, payload) = mixedCharsetFixture
      writeRecords(
        Tables(s, dir, "documents").select(url.as("url"), payload.as("payload")),
        s"$p/warc")
      // derive the WET sidecar: scan → HTTP split → charset decode →
      // extract → write the text as conversion records
      val pstr = decode(col("payload"), "ISO-8859-1")
      val bodyBytes = encode(httpBody(pstr), "ISO-8859-1")
      val resolved = coalesce(
        graft.clean.CharsetFns.normalizeCharset(httpCharset(pstr)),
        graft.clean.CharsetFns.normalizeCharset(
          graft.clean.CharsetFns.metaCharset(bodyBytes)),
        lit("utf-8"))
      writeRecords(
        readRecordsBinary(s, s"$p/warc")
          .select(col("url"),
            encode(graft.clean.HtmlFns.htmlToText(
              graft.clean.CharsetFns.decodeCharset(bodyBytes, resolved)), "UTF-8")
              .as("payload")),
        s"$p/wet", "conversion")
      s"$p/wet"
    }
    readRecords(s, out)
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("warc_type"), col("content_length"),
        md5(col("payload")).as("text_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC7 — wire-coded HTTP bodies through the front door: documents
    * render as HTTP responses whose BODY is genuinely wire-coded per
    * doc (identity / gzip / zlib-deflate / chunked with extensions and
    * a trailer / chunked-over-gzip), written through the binary sink;
    * the pipeline reads the archive splittably, parses the envelope
    * (Transfer-Encoding / Content-Encoding header-section-bounded),
    * DECHUNKS and DECOMPRESSES through [[decodeHttpBodies]], and
    * extracts text. The oracle recomputes the expected text straight
    * from the documents table (no HTTP parsing at all) and the planted
    * coding labels from the doc_id assignment — a body handed to
    * extraction still chunk-framed or compressed, a trailer leaking, or
    * a mis-parsed coding header breaks the hash. Identity passthrough
    * is pinned by the mode-0 rows inside the same hash.
    */
  private val warc7 = Probe(
    "x_warc7_http_codings",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 IN (3, 4) THEN 'chunked' ELSE '' END AS te,
       |    CASE WHEN doc_id % 5 IN (1, 4) THEN 'gzip'
       |         WHEN doc_id % 5 = 2 THEN 'deflate' ELSE '' END AS ce,
       |    '<html><body><p>' || text || '</p></body></html>' AS body
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, te, ce,
       |    ${graft.clean.HtmlFns.htmlToTextDuck("body")} AS text
       |  FROM d)
       |SELECT doc_id, te, ce, CAST(length(text) AS BIGINT) AS n_chars,
       |  md5(text) AS text_fp
       |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val out = graft.util.TrainOnce(s"warc_henc:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_henc")
      val payloads = Tables(s, dir, "documents")
        .select(
          concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
            lit(".com/doc/"), col("doc_id").cast("string")).as("url"),
          encode(concat(lit("<html><body><p>"), col("text"),
            lit("</p></body></html>")), "UTF-8").as("body"),
          (col("doc_id") % 5).cast("int").as("mode"))
        .as[(String, Array[Byte], Int)]
        .mapPartitions(_.map { case (url, body, mode) =>
          val (enc, te, ce) = encodeBodyForFixture(body, mode)
          val head = new StringBuilder(
            "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n")
          if (te != null) head.append(s"Transfer-Encoding: $te\r\n")
          if (ce != null) head.append(s"Content-Encoding: $ce\r\n")
          // chunked framing is self-delimiting; Content-Length is only
          // valid (and only emitted) for non-chunked responses
          if (te == null) head.append(s"Content-Length: ${enc.length}\r\n")
          head.append("\r\n")
          (url, head.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ enc)
        }).toDF("url", "payload")
      writeRecords(payloads, s"$p/archive")
      s"$p/archive"
    }
    val pstr = decode(col("payload"), "ISO-8859-1") // byte-identity view
    val encoded = readRecordsBinary(s, out)
      .filter(col("warc_type") === "response")
      .select(col("url"),
        encode(httpBody(pstr), "ISO-8859-1").as("body"),
        httpTransferEncoding(pstr).as("te"),
        httpContentEncoding(pstr).as("ce"))
      .as[HttpEncodedBody]
    decodeHttpBodies(encoded).toDF()
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        coalesce(col("te"), lit("")).as("te"),
        coalesce(col("ce"), lit("")).as("ce"),
        graft.clean.HtmlFns.htmlToText(decode(col("body"), "UTF-8")).as("text"))
      .select(col("doc_id"), col("te"), col("ce"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("text_fp"))
      .orderBy("doc_id")
  }

  /** X-WARC8 — the FULLY composed front door: wire codings × charset ×
    * extraction in one pass. Bodies are genuinely cp1252 (odd docs,
    * declared by Content-Type) or UTF-8 (even docs — by header, by
    * `<meta>` only, or undeclared), then wire-coded per doc (identity /
    * gzip / deflate / chunked / chunked-over-gzip), so the pipeline
    * must transfer-decode and decompress FIRST and only then resolve
    * the charset — the meta sniff is meaningless over gzip bytes, and
    * the Content-Type header must SURVIVE the coding tier
    * ([[decodeHttpPages]] — composing the tiers is what surfaced that
    * the body-only row dropped it). The oracle recomputes the expected
    * text from the documents table alone: any interaction slip between
    * the round-12 coding tier and the round-11 charset tier breaks the
    * hash.
    */
  private val warc8 = Probe(
    "x_warc8_coded_charset_door",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 1 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
       |    '<html><head>' ||
       |      CASE WHEN doc_id % 4 = 2 THEN '<meta charset="utf-8">' ELSE '' END ||
       |      '</head><body><p>' ||
       |      ${graft.clean.EncodingFns.sqlLit(graft.ext.PipelineOps16.planted2)} ||
       |      regexp_replace(text, '[^ -~]', '', 'g') || '</p></body></html>' AS body
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, charset,
       |    ${graft.clean.HtmlFns.htmlToTextDuck("body")} AS text
       |  FROM d)
       |SELECT doc_id, charset,
       |  CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS text_fp
       |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val out = graft.util.TrainOnce(s"warc_coded_cs:$dir") {
      val p = graft.util.TempDirs.scratch("graft_warc_ccs")
      val bodyStr = concat(lit("<html><head>"),
        when(col("doc_id") % 4 === 2, lit("<meta charset=\"utf-8\">")).otherwise(lit("")),
        lit("</head><body><p>"), lit(graft.ext.PipelineOps16.planted2),
        regexp_replace(col("text"), "[^ -~]", ""), lit("</p></body></html>"))
      val bodyBytes = when(col("doc_id") % 2 === 1,
        encode(graft.clean.CharsetFns.cp1252Unfix(bodyStr), "ISO-8859-1"))
        .otherwise(encode(bodyStr, "UTF-8"))
      val ct = when(col("doc_id") % 2 === 1, lit("text/html; charset=windows-1252"))
        .when(col("doc_id") % 4 === 0, lit("text/html; charset=utf-8"))
        .otherwise(lit("text/html"))
      val payloads = Tables.spread(s, dir, "documents")
        .select(
          concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
            lit(".com/doc/"), col("doc_id").cast("string")).as("url"),
          bodyBytes.as("body"), ct.as("ct"),
          (col("doc_id") % 5).cast("int").as("mode"))
        .as[(String, Array[Byte], String, Int)]
        .mapPartitions(_.map { case (url, body, ct, mode) =>
          val (enc, te, ce) = encodeBodyForFixture(body, mode)
          val head = new StringBuilder(s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n")
          if (te != null) head.append(s"Transfer-Encoding: $te\r\n")
          if (ce != null) head.append(s"Content-Encoding: $ce\r\n")
          if (te == null) head.append(s"Content-Length: ${enc.length}\r\n")
          head.append("\r\n")
          (url, head.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ enc)
        }).toDF("url", "payload")
      writeRecords(payloads, s"$p/archive")
      s"$p/archive"
    }
    val pstr = decode(col("payload"), "ISO-8859-1") // byte-identity view
    // the decoded page keeps its Content-Type; charset resolves AFTER
    // the coding decode (header param first, meta sniff on the DECODED
    // bytes — a sniff over gzip bytes is meaningless — default last)
    val pages = decodeHttpPages(
      readRecordsBinary(s, out)
        .filter(col("warc_type") === "response")
        .select(col("url"),
          encode(httpBody(pstr), "ISO-8859-1").as("body"),
          httpTransferEncoding(pstr).as("te"),
          httpContentEncoding(pstr).as("ce"),
          regexp_extract(httpHead(pstr), "(?i)\r\ncontent-type:[ \t]*([^\r]+)", 1)
            .as("ct"))
        .as[HttpEncodedPage]).toDF()
    val resolved = graft.clean.CharsetFns.resolveCharset(col("ct"), col("body"))
    pages
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        resolved.as("charset"),
        graft.clean.HtmlFns.htmlToText(
          graft.clean.CharsetFns.decodeCharset(col("body"), resolved)).as("text"))
      .select(col("doc_id"), col("charset"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("text_fp"))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(warc1, warc2, warc3, warc4, warc5, warc6, warc7, warc8)
}

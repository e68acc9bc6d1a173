package graft.osm

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Splittable XML-element input format: one record per `<rowTag ...>`
  * element of any of the selected row tags, from a SINGLE (possibly huge)
  * uncompressed XML file, in file order, in one pass: selecting `node`
  * and `way` reads an OSM file once for both element types.
  *
  * The split contract (the same one every line-based Hadoop reader uses):
  * a record BELONGS to the split in which its start tag begins; a reader
  * positioned mid-file scans forward to the first start tag at or after
  * its split start (bytes before it belong to the previous split's reader,
  * which reads past its own end to finish its last element). Memory is
  * O(single element), never O(split) — this is what makes an in-place scan
  * of a 100 GB .osm parallelize, where delimiter-record tricks blow up on
  * sparse row tags (the text before the first `</way>` is the entire
  * nodes section).
  *
  * The reader scans its own `byte[]` window (1 MiB, or the split length
  * when smaller): the tag searches are array loops and a record's bytes
  * go into its `Text` as one slice of the window. Bytes before the
  * element being read are dropped whenever the window refills, so the
  * window only grows (doubling) while one element is longer than it, and
  * memory stays O(one element + window).
  *
  * At each `<` the reader takes the first selected tag whose name matches
  * and is followed by a boundary byte (so `<nodeset` is not a `node`, and
  * of the tags `way` and `wayx`, `<wayx ` is a `wayx`), then scans for
  * that tag's end tag.
  *
  * A record is the element's raw bytes, not decoded text. The OSM scan
  * (`OsmSplittable`) parses them where they are: `OsmElementKernel` reads
  * the canonical OSM element grammar (attributes, self-closed `tag`/`nd`
  * children, the five named entities, plain decimal numbers) straight
  * from the record's `Text` into rows, copying what it keeps, since the
  * reader reuses that buffer. Every other element (a comment, a
  * character reference, a value from_xml would trim or normalise,
  * invalid UTF-8, …) is decoded and parsed by from_xml, which stays the
  * authority on what such an element means.
  *
  * XML assumptions (hold for any conformant writer, incl. OSM exports):
  * `<` is escaped inside attribute values, so raw `<rowTag` / `</rowTag>`
  * byte sequences only occur as real markup; elements of the same name do
  * not nest, and the selected tags do not nest inside one another (true
  * for OSM node/way/relation). Attribute values MAY contain
  * unescaped `>`, so root-tag scanning tracks quote state. The scanner
  * does NOT skip XML comments or CDATA sections — a literal `<rowTag` /
  * `</rowTag>` inside `<!-- -->` or `<![CDATA[ ]]>` would yield a phantom
  * or truncated record. Machine-generated OSM exports contain neither;
  * for hand-edited inputs use the stock (non-splittable) XML source
  * (`OsmPipeline.process(…, splittable = false)`), whose parser handles
  * them.
  */
class XmlElementInputFormat extends FileInputFormat[LongWritable, Text] {
  override def isSplitable(ctx: JobContext, file: Path): Boolean =
    new CompressionCodecFactory(ctx.getConfiguration).getCodec(file) == null

  override def createRecordReader(split: InputSplit, ctx: TaskAttemptContext)
      : RecordReader[LongWritable, Text] = new XmlElementRecordReader
}

object XmlElementInputFormat {
  /** Configuration key naming the elements to extract, comma-separated
    * (e.g. "node" or "node,way").
    */
  val ROW_TAG_KEY = "graft.xml.rowtag"

  /** Every element of the `rowTags` under `path`, keyed by its start tag's
    * byte offset, split by [[graft.Tables.hadoopFile]]'s rule.
    */
  def elements(spark: SparkSession, path: String, rowTags: Seq[String],
      maxSplitBytes: Option[Long]): RDD[(LongWritable, Text)] =
    graft.Tables.hadoopFile(spark, path, classOf[XmlElementInputFormat],
      maxSplitBytes, ROW_TAG_KEY -> rowTags.mkString(","))
}

class XmlElementRecordReader extends RecordReader[LongWritable, Text] {
  private var startTags: Array[Array[Byte]] = _
  private var endTags: Array[Array[Byte]] = _
  private var start = 0L
  private var end = 0L
  private var fsIn: org.apache.hadoop.fs.FSDataInputStream = _
  // the window: buf(0 until lim) holds the file bytes from offset bufStart;
  // p is the next byte to scan, mark the first byte of the element being
  // read (-1 between elements); the file position is bufStart + p
  private var buf: Array[Byte] = _
  private var bufStart = 0L
  private var lim = 0
  private var p = 0
  private var mark = -1
  private var eof = false
  private val key = new LongWritable
  private val value = new Text

  override def initialize(genericSplit: InputSplit, ctx: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val rowTags = ctx.getConfiguration.getTrimmedStrings(XmlElementInputFormat.ROW_TAG_KEY)
    require(rowTags.nonEmpty, s"${XmlElementInputFormat.ROW_TAG_KEY} not set")
    startTags = rowTags.map(t => ("<" + t).getBytes(StandardCharsets.UTF_8))
    endTags = rowTags.map(t => ("</" + t + ">").getBytes(StandardCharsets.UTF_8))
    start = split.getStart
    end = start + split.getLength
    // the reader scans RAW bytes: on compressed input the tag scan would
    // silently find nothing and yield an empty (not failed!) DataFrame
    val codec = new CompressionCodecFactory(ctx.getConfiguration)
      .getCodec(split.getPath)
    if (codec != null)
      throw new UnsupportedOperationException(
        s"XmlElementInputFormat reads raw XML bytes; ${split.getPath} is " +
        s"${codec.getClass.getSimpleName}-compressed — decompress or shard it first")
    val fs = split.getPath.getFileSystem(ctx.getConfiguration)
    fsIn = fs.open(split.getPath)
    fsIn.seek(start)
    buf = new Array[Byte](math.max(64, math.min(1L << 20, split.getLength).toInt))
    bufStart = start
  }

  /** Make `n` unread bytes available at `p`; false only at EOF. A full
    * window first drops the bytes before `mark` (or `p`), and grows only
    * when nothing can be dropped. A read stops at the split end, and past
    * it reads 64 KiB at a time: there only the last element's tail is
    * needed, not a window of the next split's bytes.
    */
  private def fill(n: Int): Boolean = {
    while (lim - p < n && !eof) {
      if (lim == buf.length) {
        val keep = if (mark >= 0) mark else p
        if (keep > 0) {
          System.arraycopy(buf, keep, buf, 0, lim - keep)
          bufStart += keep; lim -= keep; p -= keep
          if (mark >= 0) mark = 0
        } else buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      }
      val len = math.min(buf.length - lim, math.max(end - (bufStart + lim), 1L << 16)).toInt
      val r = fsIn.read(buf, lim, len)
      if (r < 0) eof = true else lim += r
    }
    lim - p >= n
  }

  /** Move `p` onto the next start tag of a selected element and return
    * its index in `startTags`: at each `<`, the first tag whose bytes and
    * boundary byte match. Returns -1 at EOF, or once the scan reaches the
    * split end with no start tag beginning before it: a start tag
    * beginning at/after `end`, even one reached through a partial match
    * crossing the boundary (e.g. "<nod<node"), is the next split's
    * element — emitting it here would duplicate it.
    */
  private def seekStart(): Int = {
    while (true) {
      while (p < lim && buf(p) != '<') p += 1
      if (bufStart + p >= end) return -1
      if (p == lim) { if (!fill(1)) return -1 }
      else {
        var i = 0
        while (i < startTags.length) {
          val tag = startTags(i)
          if (fill(tag.length + 1) &&
              java.util.Arrays.equals(buf, p, p + tag.length, tag, 0, tag.length) &&
              boundaryOk(buf(p + tag.length))) return i
          i += 1
        }
        p += 1
      }
    }
    -1
  }

  /** Move `p` onto the next occurrence of `tag` (an end tag, whose only
    * `<` is its first byte, so every match starts at a `<`); false at EOF.
    */
  private def seekEnd(tag: Array[Byte]): Boolean = {
    while (true) {
      while (p < lim && buf(p) != '<') p += 1
      if (p == lim) { if (!fill(1)) return false }
      else if (!fill(tag.length)) return false
      else if (java.util.Arrays.equals(buf, p, p + tag.length, tag, 0, tag.length)) return true
      else p += 1
    }
    false
  }

  /** The next byte (0..255) at `p`, advancing; -1 at EOF. */
  private def next(): Int =
    if (p == lim && !fill(1)) -1
    else { val b = buf(p) & 0xff; p += 1; b }

  /** After the start-tag bytes matched: boundary byte must terminate the
    * tag name ("<node" must not match "<nodeset").
    */
  private def boundaryOk(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '>' || b == '/'

  override def nextKeyValue(): Boolean = {
    mark = -1
    val i = seekStart()
    if (i < 0) return false
    mark = p
    p += startTags(i).length
    // phase 1: the root tag itself, quote-aware ('>' is legal inside
    // attribute values). Ends at '>' — "/>" completes the element.
    val b0 = next() // the boundary byte seekStart checked
    var rootClosed = b0 == '>'
    var selfClosed = false
    var prev = b0
    var inQuote = 0 // 0 = none, else the active quote char
    while (!rootClosed && !selfClosed) {
      val b = next()
      if (b == -1) return false // malformed tail: drop it
      if (inQuote != 0) { if (b == inQuote) inQuote = 0 }
      else if (b == '"' || b == '\'') inQuote = b
      else if (b == '>') { if (prev == '/') selfClosed = true else rootClosed = true }
      prev = b
    }
    // phase 2 (open element): scan through the matching end tag. Same-name
    // elements do not nest, selected tags do not nest in one another, and
    // '<' is escaped in values, so a raw end-tag byte match is the end.
    if (selfClosed || seekEnd(endTags(i))) {
      if (!selfClosed) p += endTags(i).length
      key.set(bufStart + mark)
      value.set(buf, mark, p - mark)
      true
    } else false // EOF inside an element: malformed tail, drop it
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float =
    if (end == start) 1.0f
    else math.min(1.0f, (bufStart + p - start).toFloat / (end - start))
  override def close(): Unit = if (fsIn != null) fsIn.close()
}

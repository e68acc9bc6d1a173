package graft.osm

import java.nio.charset.StandardCharsets.US_ASCII

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The OSM element parser of the splittable scan: one `node` or `way`
  * element's bytes, straight from the reader, to the struct row that
  * `from_xml` gives it under `OsmPipeline.nodeXmlSchema` /
  * `wayXmlSchema`, with no String decode and no StAX reader per element.
  *
  * It accepts only the canonical OSM element grammar, which it reads
  * from the schema the way from_xml does: each `_`-prefixed field is an
  * attribute, each array-of-struct field a child element named after the
  * field (`tag`, `nd`) whose struct fields are the child's attributes.
  *  - the root start tag, `/>` or `>`; after `>`, only white space and
  *    self-closed children up to the root's end tag, which ends the bytes;
  *  - attributes separated by white space, `name = 'v'` or `"v"`; unknown
  *    attributes are skipped as from_xml skips them; the root needs `id`,
  *    a child every attribute of its struct;
  *  - values: UTF-8 text without `<` and without control bytes, with the
  *    five named entities (`&lt;` `&gt;` `&amp;` `&quot;` `&apos;`);
  *  - numbers: `-?[0-9]{1,18}` for a long, `-?[0-9]+(.[0-9]+)?` for a
  *    double.
  * Anything else returns null and goes to from_xml, which stays the one
  * authority on what an unusual element means: a numeric character
  * reference or an unknown entity; an empty value, a surrounding space
  * (from_xml trims) or the literal `null` (from_xml keeps it as the
  * 4-character string, not a null; OsmSpec reads one back through
  * `writeParquet`); a TAB, CR or LF in a value (attribute normalisation);
  * invalid UTF-8, U+FFFE/U+FFFF; a non-canonical number (`+5`, `1e5`,
  * `.5`, 19 digits); a duplicate attribute; a comment, CDATA, PI, text or
  * unknown child; a child that is not self-closed; more than
  * `MaxAttributes` attributes on one tag or more than `MaxBytes` bytes in
  * one element (the parser's own size limits decide those).
  * OsmElementKernelSpec pins each case against from_xml.
  */
private[osm] object OsmElementKernel {

  val MaxBytes: Int = 1 << 16
  val MaxAttributes = 32

  /** One element type as from_xml reads it from its schema. */
  private final class Shape(schema: StructType, child: Boolean) {
    val width: Int = schema.length
    private val attrs = schema.fields.zipWithIndex.filter(_._1.name.startsWith("_"))
    val attrNames: Array[Array[Byte]] = attrs.map(_._1.name.drop(1).getBytes(US_ASCII))
    val attrField: Array[Int] = attrs.map(_._2)
    val attrType: Array[DataType] = attrs.map(_._1.dataType)
    /** Bit i set: attribute i must be present. */
    val required: Long =
      if (child) (1L << attrs.length) - 1 else 1L << attrNames.indexWhere(_.sameElements("id".getBytes(US_ASCII)))
    private val kids = schema.fields.zipWithIndex.collect {
      case (StructField(n, ArrayType(s: StructType, _), _, _), i) => (n, i, s)
    }
    val childNames: Array[Array[Byte]] = kids.map(_._1.getBytes(US_ASCII))
    val childField: Array[Int] = kids.map(_._2)
    val childShape: Array[Shape] = kids.map(k => new Shape(k._3, child = true))
  }

  private val node = new Shape(OsmPipeline.nodeXmlSchema, child = false)
  private val way = new Shape(OsmPipeline.wayXmlSchema, child = false)
  private val nodeName = "node".getBytes(US_ASCII)
  private val wayName = "way".getBytes(US_ASCII)

  /** The `node` (or `way`) struct row of `bytes(0 until length)`, or null
    * when the element is outside the grammar. The row's strings are
    * slices of a copy, never of `bytes` (the reader reuses its buffer).
    */
  def parse(bytes: Array[Byte], length: Int, isNode: Boolean): InternalRow =
    if (length > MaxBytes) null
    else {
      val b = java.util.Arrays.copyOf(bytes, length)
      if (isNode) new Parser(b).element(node, nodeName) else new Parser(b).element(way, wayName)
    }

  private final val Open = 1
  private final val Closed = 2

  private val entities: Array[Array[Byte]] =
    Array("&lt;", "&gt;", "&amp;", "&quot;", "&apos;").map(_.getBytes(US_ASCII))
  private val entityChars: Array[Byte] = "<>&\"'".getBytes(US_ASCII)
  private val nullValue: Array[Byte] = "null".getBytes(US_ASCII)
  private val pow10: Array[Double] = Array.tabulate(23)(math.pow(10, _))

  private def isSpace(c: Byte): Boolean = c == ' ' || c == '\n' || c == '\t' || c == '\r'
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isNameStart(c: Byte): Boolean = (c | 0x20) >= 'a' && (c | 0x20) <= 'z' || c == '_'
  private def isName(c: Byte): Boolean = isNameStart(c) || isDigit(c) || c == '-' || c == '.'

  private final class Parser(b: Array[Byte]) {
    private val n = b.length
    private var p = 0
    private var seen = 0L // the known attributes of the current tag
    private var unknowns = 0 // and its unknown attribute names, (start, end) pairs
    private lazy val unknown = new Array[Int](2 * MaxAttributes)

    private def matches(i: Int, s: Array[Byte]): Boolean =
      i + s.length <= n && java.util.Arrays.equals(b, i, i + s.length, s, 0, s.length)

    /** The index of the first of `names` at `i`, or -1. */
    private def indexAt(i: Int, names: Array[Array[Byte]]): Int = {
      var k = 0
      while (k < names.length && !matches(i, names(k))) k += 1
      if (k < names.length) k else -1
    }

    /** Skips white space; whether there was any. */
    private def space(): Boolean = {
      val s = p
      while (p < n && isSpace(b(p))) p += 1
      p > s
    }

    def element(shape: Shape, name: Array[Byte]): InternalRow = {
      if (n == 0 || b(0) != '<' || !matches(1, name)) return null
      p = 1 + name.length
      val row = new Array[Any](shape.width)
      val tag = attributes(shape, row)
      if (tag == 0 || (seen & shape.required) != shape.required) return null
      if (tag == Open) {
        val kids = new Array[ArrayBuffer[Any]](shape.childNames.length)
        var done = false
        while (!done) {
          space()
          if (p + 1 >= n || b(p) != '<') return null
          p += 1
          if (b(p) == '/') {
            if (!matches(p + 1, name) || p + name.length + 2 != n || b(n - 1) != '>') return null
            done = true
          } else {
            val k = indexAt(p, shape.childNames)
            if (k < 0) return null
            p += shape.childNames(k).length
            val cs = shape.childShape(k)
            val child = new Array[Any](cs.width)
            if (attributes(cs, child) != Closed || (seen & cs.required) != cs.required) return null
            if (kids(k) == null) kids(k) = new ArrayBuffer[Any]
            kids(k) += new GenericInternalRow(child)
          }
        }
        var k = 0
        while (k < kids.length) {
          if (kids(k) != null) row(shape.childField(k)) = new GenericArrayData(kids(k).toArray)
          k += 1
        }
      } else if (p != n) return null
      new GenericInternalRow(row)
    }

    /** Reads a start tag's attributes into `row` through its `>` (returns
      * Open) or `/>` (Closed); 0 outside the grammar.
      */
    private def attributes(shape: Shape, row: Array[Any]): Int = {
      seen = 0L
      unknowns = 0
      var count = 0
      while (true) {
        val spaced = space()
        if (p >= n) return 0
        if (b(p) == '>') { p += 1; return Open }
        if (b(p) == '/') {
          if (p + 1 < n && b(p + 1) == '>') { p += 2; return Closed }
          return 0
        }
        count += 1
        if (!spaced || count > MaxAttributes || !isNameStart(b(p))) return 0
        val ns = p
        while (p < n && isName(b(p))) p += 1
        val ne = p
        space()
        if (p >= n || b(p) != '=') return 0
        p += 1
        space()
        if (p >= n || (b(p) != '"' && b(p) != '\'')) return 0
        val vs = p + 1
        val refs = value(b(p))
        if (refs < 0) return 0
        val ve = p - 1
        if (ve == vs || b(vs) == ' ' || b(ve - 1) == ' ' ||
            java.util.Arrays.equals(b, vs, ve, nullValue, 0, nullValue.length)) return 0
        var i = 0
        while (i < shape.attrNames.length &&
            !java.util.Arrays.equals(b, ns, ne, shape.attrNames(i), 0, shape.attrNames(i).length)) i += 1
        if (i < shape.attrNames.length) {
          if ((seen & (1L << i)) != 0) return 0
          seen |= 1L << i
          val v = shape.attrType(i) match {
            case LongType => if (refs == 0) long(vs, ve) else null
            case DoubleType => if (refs == 0) double(vs, ve) else null
            case _ => if (refs == 0) UTF8String.fromBytes(b, vs, ve - vs) else decode(vs, ve)
          }
          if (v == null) return 0
          row(shape.attrField(i)) = v
        } else {
          var j = 0
          while (j < 2 * unknowns) {
            if (java.util.Arrays.equals(b, ns, ne, b, unknown(j), unknown(j + 1))) return 0
            j += 2
          }
          unknown(j) = ns
          unknown(j + 1) = ne
          unknowns += 1
        }
      }
      0
    }

    /** Scans a quoted value from its opening quote through its closing
      * one; the number of entity references in it, or -1 outside the
      * grammar.
      */
    private def value(q: Byte): Int = {
      p += 1
      var refs = 0
      while (p < n) {
        val c = b(p)
        if (c == q) { p += 1; return refs }
        if (c >= 0x20) {
          if (c == '<') return -1
          if (c == '&') {
            val e = indexAt(p, entities)
            if (e < 0) return -1
            refs += 1
            p += entities(e).length
          } else p += 1
        } else if (c >= 0) return -1 // a control byte, TAB, CR or LF
        else {
          val l = utf8(p)
          if (l == 0) return -1
          p += l
        }
      }
      -1
    }

    /** The length of the valid UTF-8 sequence at `i` (not U+FFFE/U+FFFF),
      * or 0.
      */
    private def utf8(i: Int): Int = {
      def cont(j: Int, lo: Int, hi: Int): Boolean = j < n && (b(j) & 0xff) >= lo && (b(j) & 0xff) <= hi
      val c = b(i) & 0xff
      if (c >= 0xc2 && c <= 0xdf) { if (cont(i + 1, 0x80, 0xbf)) 2 else 0 }
      else if (c >= 0xe0 && c <= 0xef) {
        val lo = if (c == 0xe0) 0xa0 else 0x80
        val hi = if (c == 0xed) 0x9f else 0xbf
        if (!cont(i + 1, lo, hi) || !cont(i + 2, 0x80, 0xbf)) 0
        else if (c == 0xef && (b(i + 1) & 0xff) == 0xbf && (b(i + 2) & 0xff) >= 0xbe) 0
        else 3
      } else if (c >= 0xf0 && c <= 0xf4) {
        val lo = if (c == 0xf0) 0x90 else 0x80
        val hi = if (c == 0xf4) 0x8f else 0xbf
        if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) 4 else 0
      } else 0
    }

    /** The value's bytes with its entity references replaced. */
    private def decode(vs: Int, ve: Int): UTF8String = {
      val out = new Array[Byte](ve - vs)
      var i = vs
      var o = 0
      while (i < ve) {
        val e = if (b(i) == '&') indexAt(i, entities) else -1
        if (e >= 0) { out(o) = entityChars(e); i += entities(e).length }
        else { out(o) = b(i); i += 1 }
        o += 1
      }
      UTF8String.fromBytes(out, 0, o)
    }

    /** `-?[0-9]{1,18}` as a boxed long, else null. */
    private def long(s: Int, e: Int): java.lang.Long = {
      val neg = b(s) == '-'
      val ds = if (neg) s + 1 else s
      if (e == ds || e - ds > 18) return null
      var v = 0L
      var i = ds
      while (i < e) {
        if (!isDigit(b(i))) return null
        v = v * 10 + (b(i) - '0')
        i += 1
      }
      if (neg) -v else v
    }

    /** `-?[0-9]+(.[0-9]+)?` as a boxed double, else null: up to 15 digits
      * and 22 decimals it is one exact division (correctly rounded, as
      * `Double.parseDouble`), longer numbers go to `Double.parseDouble`.
      */
    private def double(s: Int, e: Int): java.lang.Double = {
      val neg = b(s) == '-'
      val ds = if (neg) s + 1 else s
      var i = ds
      var m = 0L
      while (i < e && isDigit(b(i))) { m = m * 10 + (b(i) - '0'); i += 1 }
      if (i == ds) return null
      var decimals = 0
      if (i < e) {
        if (b(i) != '.') return null
        i += 1
        val fs = i
        while (i < e && isDigit(b(i))) { m = m * 10 + (b(i) - '0'); i += 1 }
        decimals = i - fs
        if (decimals == 0 || i < e) return null
      }
      val digits = e - ds - (if (decimals > 0) 1 else 0)
      val v =
        if (digits <= 15 && decimals <= 22) m / pow10(decimals)
        else java.lang.Double.parseDouble(new String(b, ds, e - ds, US_ASCII))
      if (neg) -v else v
    }
  }
}

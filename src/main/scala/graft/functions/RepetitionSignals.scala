package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `repetition_signals(text)` — the x_txt23 Gopher repetition family as
  * ONE JVM pass per row: every signal is a function of the document's
  * own tokens, so the whole gate is stateless and narrow — the
  * stream-door form ([[graft.streaming.DocStreams.repetitionScored]]),
  * with zero exchanges at any corpus size (the declarative
  * [[graft.ext.PipelineOps13.repetitionSignals]] remains the
  * oracle-checked reference algebra; x_txt23b hash-pins this expression
  * against the same relational oracle).
  *
  * Returns `struct(n_segs, dup_seg_ppm, top2_ppm, top3_ppm, top4_ppm,
  * dup5_ppm BIGINT, keep INT)` with EXACTLY the declarative semantics:
  * line-aware segments (real non-empty lines when the text has newline
  * structure, 16-word chunks otherwise), n-gram types keyed by the
  * 16-hex md5 digest
  * (collision behavior identical by construction), top-gram tie-break
  * by digest DESCENDING, beyond-first duplicated mass, ppm by
  * truncating division, the published Gopher thresholds.
  */
case class RepetitionSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionSignals.schema
  override def prettyName: String = "repetition_signals"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_signals expects STRING, got ${t.sql}")
  }

  override def nullSafeEval(s: Any): Any =
    RepetitionSignals.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.RepetitionSignals.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionSignals =
    copy(child = newChild)
}

object RepetitionSignals {

  val schema: StructType = StructType(Seq(
    StructField("n_segs", LongType, nullable = false),
    StructField("dup_seg_ppm", LongType, nullable = false),
    StructField("top2_ppm", LongType, nullable = false),
    StructField("top3_ppm", LongType, nullable = false),
    StructField("top4_ppm", LongType, nullable = false),
    StructField("dup5_ppm", LongType, nullable = false),
    StructField("keep", IntegerType, nullable = false)))

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex16(d: Array[Byte]): String = {
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = hexChars((d(i) & 0xff) >>> 4)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def compute(text: UTF8String): InternalRow = {
    val str = text.toString
    val words = Tok.split(str)
    val digest = md5.get()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def h(s: String): String = { digest.reset(); hex16(digest.digest(s.getBytes(utf8))) }

    // line-aware segments (PipelineOps8.segmentsAuto): real non-empty
    // LINES when the text carries newline structure (block-preserving
    // extraction), the 16-word proxy otherwise — identical to the
    // declarative algebra by construction
    val segs: Array[String] =
      if (str.indexOf('\n') >= 0) str.split("\n", -1).filter(_.nonEmpty)
      else if (words.nonEmpty) {
        val out = new Array[String]((words.length + 15) / 16)
        var i = 0
        while (i < out.length) {
          out(i) = words.slice(i * 16, math.min(i * 16 + 16, words.length)).mkString(" ")
          i += 1
        }
        out
      } else Array.empty[String]
    var nSegs = 0L
    var dupSegPpm = 0L
    if (segs.nonEmpty) {
      val segCounts = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < segs.length) {
        segCounts.merge(segs(i), 1L, (a, b) => a + b)
        nSegs += 1
        i += 1
      }
      var dup = 0L
      val it = segCounts.values().iterator()
      while (it.hasNext) dup += it.next() - 1
      dupSegPpm = dup * 1000000L / nSegs
    }

    // n-gram types per order: digest -> (count, len); the SAME digest
    // keys and tie-break the declarative algebra uses
    val tops = new Array[Long](3) // top2/3/4 ppm
    var dup5Ppm = 0L
    var n = 2
    while (n <= 5) {
      if (words.length >= n) {
        val counts = new java.util.HashMap[String, Array[Long]]()
        var i = 0
        while (i + n <= words.length) {
          // CODEPOINT length (Spark's `length`), not UTF-16 units —
          // identical on ASCII, and exact parity beyond it
          var len = (n - 1).toLong
          var j = 0
          while (j < n) {
            val w = words(i + j)
            len += w.codePointCount(0, w.length); j += 1
          }
          val g = words.slice(i, i + n).mkString(" ")
          val hg = h(g)
          val e = counts.get(hg)
          if (e == null) counts.put(hg, Array(1L, len)) else e(0) += 1
          i += 1
        }
        var mass = 0L
        var dupMass = 0L
        var topC = 0L; var topLen = 0L; var topHg: String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue()(0); val len = e.getValue()(1)
          mass += c * len
          if (c >= 2) dupMass += (c - 1) * len
          if (c > topC || (c == topC && (topHg == null || e.getKey.compareTo(topHg) > 0))) {
            topC = c; topLen = len; topHg = e.getKey
          }
        }
        if (n <= 4) tops(n - 2) = topC * topLen * 1000000L / mass
        else dup5Ppm = dupMass * 1000000L / mass
      }
      n += 1
    }
    val keep =
      if (dupSegPpm <= 300000L && tops(0) <= 200000L && tops(1) <= 180000L &&
        tops(2) <= 160000L && dup5Ppm <= 150000L) 1 else 0
    new GenericInternalRow(Array[Any](
      nSegs, dupSegPpm, tops(0), tops(1), tops(2), dup5Ppm, keep))
  }

  /** Column API; needs no function registration. */
  def repetition_signals(text: Column): Column =
    column(RepetitionSignals(expression(text)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `quality_signals(text)` — one pass over a (pre-lowercased) document
  * computing the four Gopher/C4-style quality-rule counters at once:
  *
  *   n_words  BIGINT  number of whitespace tokens (`CleanFns.tokens`)
  *   sum_len  BIGINT  total CHARACTER length of those tokens
  *   n_alpha  BIGINT  tokens containing at least one [a-z] character
  *   n_stop   BIGINT  tokens equal to one of the 8 canonical stopwords
  *                    (the and of to a in is that)
  *
  * Declaratively this is four separate higher-order-function towers over
  * `filter(split(text, '\\s+'), ...)` — five interpreted lambda walks
  * per row once `keep` references all of them, each re-materializing the
  * token array (the x_txt11 regression, VERDICT r6 "What's wrong" #2).
  * Natively it is ONE byte scan with no array allocation at all: tokens
  * are maximal runs of non-whitespace (Java regex `\s` = ASCII
  * `[ \t\n\x0B\f\r]`, all single-byte in UTF-8, so byte dispatch is
  * exact), character length counts non-continuation bytes, and the
  * stopword test is a length-switched byte compare. The expression
  * participates in whole-stage codegen; extracting several fields of one
  * call stays single-evaluation via codegen subexpression elimination.
  *
  * The caller supplies lowercase text (`lower(col("text"))`) so case
  * semantics remain exactly Spark's `lower`, shared with the oracle.
  * QualitySignalsSpec pins expression ≡ the HOF tower it replaced and
  * interpreted ≡ codegen.
  */
case class QualitySignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QualitySignals.schema
  override def prettyName: String = "quality_signals"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quality_signals expects STRING, got ${t.sql}")
  }

  override def nullSafeEval(s: Any): Any =
    QualitySignals.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.QualitySignals.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): QualitySignals =
    copy(child = newChild)
}

object QualitySignals {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  /** Java-regex `\s` (no UNICODE_CHARACTER_CLASS): ASCII-only, so a
    * byte-level test is exact for UTF-8 input.
    */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    var nWords = 0L
    var sumLen = 0L
    var nAlpha = 0L
    var nStop = 0L
    var i = 0
    while (i < n) {
      // skip whitespace run
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i < n) {
        val start = i
        var chars = 0L
        var alpha = false
        while (i < n && !isWs(s.getByte(i))) {
          val b = s.getByte(i)
          if ((b & 0xc0) != 0x80) chars += 1 // count non-continuation bytes
          if (b >= 'a' && b <= 'z') alpha = true
          i += 1
        }
        nWords += 1
        sumLen += chars
        if (alpha) nAlpha = nAlpha + 1
        if (isStop(s, start, i - start)) nStop += 1
      }
    }
    new GenericInternalRow(Array[Any](nWords, sumLen, nAlpha, nStop))
  }

  /** token ∈ {the, and, of, to, a, in, is, that} by direct byte compare. */
  @inline private def isStop(s: UTF8String, off: Int, len: Int): Boolean = {
    @inline def b(i: Int): Byte = s.getByte(off + i)
    len match {
      case 1 => b(0) == 'a'
      case 2 =>
        val c0 = b(0); val c1 = b(1)
        (c0 == 'o' && c1 == 'f') || (c0 == 't' && c1 == 'o') ||
        (c0 == 'i' && (c1 == 'n' || c1 == 's'))
      case 3 =>
        val c0 = b(0)
        (c0 == 't' && b(1) == 'h' && b(2) == 'e') ||
        (c0 == 'a' && b(1) == 'n' && b(2) == 'd')
      case 4 =>
        b(0) == 't' && b(1) == 'h' && b(2) == 'a' && b(3) == 't'
      case _ => false
    }
  }

  /** Column API; needs no function registration. */
  def quality_signals(c: Column): Column = column(QualitySignals(expression(c)))
}

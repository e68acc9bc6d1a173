package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `lm_nll(text, hb_sorted, c2_aligned, w_sorted, c1_aligned, v)` —
  * per-row negative log-likelihood of `text` under an add-one-smoothed
  * bigram LM whose count tables ride along as BROADCAST literals:
  * sorted 16-hex bigram digests with aligned counts, sorted unigrams
  * with aligned counts, and the vocabulary size. Returns
  * `struct(n_bigrams BIGINT, nll_avg DOUBLE)` (6-dp, matching the
  * declarative `LanguageModels.lmScore` exactly), or NULL for rows with
  * fewer than two tokens — the same absence a left-joined score has.
  *
  * Why native: the declarative form is a per-doc AGGREGATION (explode
  * bigrams → join count tables → group by doc), which a streaming append
  * sink cannot run. This expression is the novelty-scoring pattern
  * (ngram_md5 + sorted_count_in) applied to LM scoring: one tight JVM
  * pass per row — tokenize, digest, binary-search both tables, sum —
  * keeping the scoring stage NARROW and stateless, so the released-corpus
  * LM scores an incoming stream exactly like a batch (StreamingSpec pins
  * stream ≡ batch ≡ declarative). Broadcast-regime caveat as for novelty:
  * the count tables must fit in the plan (vocabulary-bounded; beyond
  * that, the batch x_txt18 join is the documented route).
  */
case class LmNll(
    child: Expression,
    hbs: Array[UTF8String],
    c2s: Array[Long],
    ws: Array[UTF8String],
    c1s: Array[Long],
    v: Long) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("nll_avg", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "lm_nll"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_nll expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any =
    compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmNll", this, classOf[LmNll].getName)
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = (InternalRow) $ref.compute($t);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(text: UTF8String): InternalRow = {
    val words = Tok.split(text.toString)
    val n = words.length - 1
    if (n < 1) return null
    val digest = LmNll.md5.get()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    var sum = 0.0
    var i = 0
    while (i < n) {
      val b = words(i) + " " + words(i + 1)
      val hb = UTF8String.fromString(
        LmNll.toHex16(digest.digest(b.getBytes(utf8))))
      val c2 = LmNll.lookup(hbs, c2s, hb)
      val c1 = LmNll.lookup(ws, c1s, UTF8String.fromString(words(i)))
      sum += Math.log((c2 + 1).toDouble / (c1 + v).toDouble)
      i += 1
    }
    // non-finite only under a degenerate (empty-train) index, where the
    // declarative round() also passes ±Inf through — match, don't throw
    val raw = -sum / n
    val nll =
      if (java.lang.Double.isFinite(raw))
        java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else raw
    new GenericInternalRow(Array[Any](n.toLong, nll))
  }

  override protected def withNewChildInternal(newChild: Expression): LmNll =
    copy(child = newChild)
}

object LmNll {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** First 16 hex chars (8 bytes) of the digest — the fixed-width bigram
    * key `LanguageModels.lmScore` shuffles on.
    */
  private def toHex16(d: Array[Byte]): String = {
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = hexChars((d(i) & 0xff) >>> 4)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Binary search `keys` (sorted in UTF8String binary order) for `x`;
    * the aligned count, or 0 when absent (the add-one smoothing floor).
    */
  private def lookup(keys: Array[UTF8String], counts: Array[Long], x: UTF8String): Long = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = keys(mid).compareTo(x)
      if (c == 0) return counts(mid)
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    0L
  }

  /** Column API over a driver-built [[LmIndex]]; needs no function
    * registration. The count tables are baked into the expression
    * instance once.
    */
  def lm_nll(text: Column, idx: LmIndex): Column =
    column(LmNll(expression(text), utf8s(idx.hbs), idx.c2s.toArray,
      utf8s(idx.ws), idx.c1s.toArray, idx.v))

  private[functions] def utf8s(xs: Seq[String]): Array[UTF8String] =
    xs.map(UTF8String.fromString).toArray

  /** SQL-text builder: folds the literal table children into arrays. */
  def build(exprs: Seq[Expression]): LmNll = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def strs(e: Expression): Array[UTF8String] = {
      val a = e.eval().asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(i => a.getUTF8String(i).clone())
    }
    def longs(e: Expression): Array[Long] = {
      val a = e.eval().asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(a.getLong)
    }
    LmNll(exprs.head, strs(exprs(1)), longs(exprs(2)), strs(exprs(3)), longs(exprs(4)),
      exprs(5).eval().asInstanceOf[Long])
  }
}

/** The broadcastable LM count tables: sorted bigram digests + counts,
  * sorted unigrams + counts, vocabulary size. Built ONCE per released
  * corpus (one bounded collect — `LanguageModels.lmIndex`), then
  * baked into [[LmNll]] as reference objects.
  */
final case class LmIndex(
    hbs: Seq[String],
    c2s: Seq[Long],
    ws: Seq[String],
    c1s: Seq[Long],
    v: Long)

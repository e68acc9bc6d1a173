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

/** `kn_nll(text, ...)` — per-row negative log-likelihood of `text` under a
  * TRIGRAM interpolated Kneser-Ney LM (Kneser & Ney 1995; Chen & Goodman
  * 1999 — the published CCNet-grade signal) whose count tables ride along
  * as broadcast literals. Returns `struct(n_trigrams BIGINT, kn_avg
  * DOUBLE)` (6-dp, matching the declarative
  * `LanguageModels.knScoreWithTok` exactly), or NULL for rows with fewer
  * than three tokens.
  *
  * The model (D = 0.75, exactly representable in binary, so Spark and
  * DuckDB agree bit-for-bit on every discount):
  *
  *   p1(c)     = (cont2(c) + 1) / (B + V)            [continuation
  *               unigram with a +1/(B+V) floor, so OOV stays finite]
  *   p2(c|b)   = (max(cont3(b,c) - D, 0) + D·n2f(b)·p1(c)) / mid(b)
  *               when mid(b) > 0, else p1(c)
  *   p3(c|a,b) = (max(c3(a,b,c) - D, 0) + D·n3f(a,b)·p2) / ctx2(a,b)
  *               when ctx2(a,b) > 0, else p2
  *
  * where cont3/mid/n2f/cont2/B are CONTINUATION (type) counts — the KN
  * insight that a word's probability after an unseen context should track
  * how many distinct contexts it follows, not how often it occurs.
  * All counts are exact integers (see `LanguageModels.knTables`), so the score
  * is a deterministic function of the corpus and hash-matches the
  * relational oracle.
  *
  * Same narrow/stateless contract as [[LmNll]]: one tight JVM pass per
  * row — tokenize, digest, binary-search four digest tables and one
  * token table, sum — the stream-door regime for a released-corpus KN
  * model (the batch join form is `LanguageModels.knScoreWithTok`).
  * Broadcast-regime caveat as for lm_nll: the tables must fit in the plan
  * (loud gate in `LanguageModels.knIndex`).
  */
case class KnNll(
    child: Expression,
    h3s: Array[UTF8String], c3s: Array[Long],
    habs: Array[UTF8String], ctx2s: Array[Long], n3fs: Array[Long],
    hbcs: Array[UTF8String], cont3s: Array[Long],
    hbs: Array[UTF8String], mids: Array[Long], n2fs: Array[Long],
    cs: Array[UTF8String], cont2s: Array[Long],
    bt: Long, v: Long) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_trigrams", LongType, nullable = false),
    StructField("kn_avg", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "kn_nll"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kn_nll expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any =
    compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knNll", this, classOf[KnNll].getName)
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = (InternalRow) $ref.compute($t);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  // The 16-hex digest keys are EXACTLY md5's first 8 bytes, and
  // lowercase-hex binary string order is monotone with the unsigned
  // 64-bit value (each hex digit's char code orders like its nibble),
  // so the sorted string tables convert once to sorted long[] tables
  // searched with Long.compareUnsigned — identical hits and misses,
  // ~5× less comparison work and zero per-probe allocation.
  @transient private lazy val h3L: Array[Long] = KnNll.hexToLongs(h3s)
  @transient private lazy val habL: Array[Long] = KnNll.hexToLongs(habs)
  @transient private lazy val hbcL: Array[Long] = KnNll.hexToLongs(hbcs)
  @transient private lazy val hbL: Array[Long] = KnNll.hexToLongs(hbs)

  /** Shared by the interpreted and codegen paths — they cannot diverge.
    * Every arithmetic step mirrors the declarative column expressions in
    * `LanguageModels.knScoreWithTok` operation for operation (same IEEE754 sequence).
    * The lookup layer is allocation-light: each word is UTF-8-encoded
    * once; the middle-word digest and unigram index are cached per
    * POSITION (a word serves up to 3 trigrams); adjacent-pair digests
    * are computed once and serve both their hab role (trigram i) and
    * their hbc role (trigram i−1); md5 output lands in one reused
    * buffer. The digested byte stream is identical to
    * md5(a + " " + b [+ " " + c]) by construction.
    */
  def compute(text: UTF8String): InternalRow = {
    val words = Tok.split(text.toString)
    val n = words.length - 2
    if (n < 1) return null
    val md = KnNll.md5.get()
    val buf = new Array[Byte](16)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val len = words.length
    val wb = new Array[Array[Byte]](len)
    var j = 0
    while (j < len) { wb(j) = words(j).getBytes(utf8); j += 1 }
    def dig(): Long = { md.digest(buf, 0, 16); KnNll.be8(buf) }
    // adjacent-pair digests: pairL(j) keys (words j, j+1)
    val pairL = new Array[Long](len - 1)
    j = 0
    while (j < len - 1) {
      md.update(wb(j)); md.update(' '.toByte); md.update(wb(j + 1))
      pairL(j) = dig()
      j += 1
    }
    // per-position middle-word table index and continuation-unigram count
    val bIdxC = new Array[Int](len)
    val cont2C = new Array[Long](len)
    j = 0
    while (j < len) {
      md.update(wb(j))
      bIdxC(j) = KnNll.findL(hbL, dig())
      cont2C(j) = KnNll.lookup(cs, cont2s, UTF8String.fromBytes(wb(j)))
      j += 1
    }
    var sum = 0.0
    var i = 0
    while (i < n) {
      md.update(wb(i)); md.update(' '.toByte)
      md.update(wb(i + 1)); md.update(' '.toByte)
      md.update(wb(i + 2))
      val c3 = KnNll.lookupL(h3L, c3s, dig())
      val abIdx = KnNll.findL(habL, pairL(i))
      val cont3 = KnNll.lookupL(hbcL, cont3s, pairL(i + 1))
      val bIdx = bIdxC(i + 1)
      val cont2 = cont2C(i + 2)
      val p1 = (cont2 + 1).toDouble / (bt + v).toDouble
      val p2 =
        if (bIdx >= 0)
          (Math.max(cont3 - 0.75, 0.0) + 0.75 * n2fs(bIdx) * p1) / mids(bIdx)
        else p1
      val p3 =
        if (abIdx >= 0)
          (Math.max(c3 - 0.75, 0.0) + 0.75 * n3fs(abIdx) * p2) / ctx2s(abIdx)
        else p2
      sum += Math.log(p3)
      i += 1
    }
    val raw = -sum / n
    val nll =
      if (java.lang.Double.isFinite(raw))
        java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else raw
    new GenericInternalRow(Array[Any](n.toLong, nll))
  }

  override protected def withNewChildInternal(newChild: Expression): KnNll =
    copy(child = newChild)
}

object KnNll {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Parse a sorted 16-hex key table into the same-order unsigned
    * long table (see the ordering note on the lazy vals above).
    */
  private[functions] def hexToLongs(keys: Array[UTF8String]): Array[Long] = {
    val out = new Array[Long](keys.length)
    var i = 0
    while (i < keys.length) {
      out(i) = java.lang.Long.parseUnsignedLong(keys(i).toString, 16)
      i += 1
    }
    out
  }

  /** First 8 md5 bytes as a big-endian unsigned long — the numeric form
    * of the 16-hex digest prefix.
    */
  private[functions] def be8(b: Array[Byte]): Long =
    ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
      ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
      ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)

  /** Index of `x` in the sorted unsigned-long key table, or -1. */
  private def findL(keys: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Long.compareUnsigned(keys(mid), x)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Aligned count of `x`, or 0 when absent (discount floor). */
  private def lookupL(keys: Array[Long], counts: Array[Long], x: Long): Long = {
    val i = findL(keys, x)
    if (i >= 0) counts(i) else 0L
  }

  /** Index of `x` in sorted `keys`, or -1 — the "context seen?" probe. */
  private def find(keys: Array[UTF8String], x: UTF8String): Int = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = keys(mid).compareTo(x)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Aligned count of `x`, or 0 when absent (discount floor). */
  private def lookup(keys: Array[UTF8String], counts: Array[Long], x: UTF8String): Long = {
    val i = find(keys, x)
    if (i >= 0) counts(i) else 0L
  }

  /** Column API over a driver-built [[KnIndex]]; needs no function
    * registration. */
  def kn_nll(text: Column, idx: KnIndex): Column = {
    import LmNll.utf8s
    column(KnNll(expression(text),
      utf8s(idx.h3s), idx.c3s.toArray,
      utf8s(idx.habs), idx.ctx2s.toArray, idx.n3fs.toArray,
      utf8s(idx.hbcs), idx.cont3s.toArray,
      utf8s(idx.hbs), idx.mids.toArray, idx.n2fs.toArray,
      utf8s(idx.cs), idx.cont2s.toArray,
      idx.bt, idx.v))
  }

  /** SQL-text builder: folds the literal table children into arrays. */
  def build(exprs: Seq[Expression]): KnNll = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def strs(e: Expression): Array[UTF8String] = {
      val a = e.eval().asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(i => a.getUTF8String(i).clone())
    }
    def longs(e: Expression): Array[Long] = {
      val a = e.eval().asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(a.getLong)
    }
    KnNll(exprs.head,
      strs(exprs(1)), longs(exprs(2)),
      strs(exprs(3)), longs(exprs(4)), longs(exprs(5)),
      strs(exprs(6)), longs(exprs(7)),
      strs(exprs(8)), longs(exprs(9)), longs(exprs(10)),
      strs(exprs(11)), longs(exprs(12)),
      exprs(13).eval().asInstanceOf[Long],
      exprs(14).eval().asInstanceOf[Long])
  }
}

/** The broadcastable KN count tables, every array sorted by its key
  * (Spark binary string order — built by `LanguageModels.knIndex`): trigram digests
  * -> occurrence counts; (a,b) context digests -> (ctx2 = total
  * continuations, n3f = distinct continuations); (b,c) digests -> cont3
  * continuation counts; middle-token digests -> (mid, n2f); raw tokens ->
  * cont2 unigram continuation counts; B = distinct bigram types, V =
  * vocabulary size.
  */
final case class KnIndex(
    h3s: Seq[String], c3s: Seq[Long],
    habs: Seq[String], ctx2s: Seq[Long], n3fs: Seq[Long],
    hbcs: Seq[String], cont3s: Seq[Long],
    hbs: Seq[String], mids: Seq[Long], n2fs: Seq[Long],
    cs: Seq[String], cont2s: Seq[Long],
    bt: Long, v: Long)

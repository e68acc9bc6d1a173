package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** 32-bit SimHash of a document, computed per row in ONE narrow pass.
  *
  * Exactly `ext.Dedup.simhashSig`'s semantics (same fingerprints, bit for
  * bit): tokenize through the shared whitespace tokenizer (`Tok.split` ≡
  * `CleanFns.tokens`), take the DISTINCT word set, and for hex digit j of each
  * word's md5 vote +1 if the digit's high bit is set else −1; fingerprint
  * bit j−1 is set iff the vote sum is positive (ties clear).
  *
  * Why native: the declarative form explodes one row per (doc, word),
  * DISTINCTs that stream (a corpus-sized shuffle), and re-aggregates by
  * doc — two wide stages for what is logically a per-document map. This
  * expression keeps signature generation entirely inside the scan's
  * whole-stage loop: zero exchanges at ANY corpus size. The word set and
  * vote table live per row (bounded by document length), and md5 comes
  * from a thread-local MessageDigest — no per-word allocation churn.
  * x_ded3c verifies it against the SAME exact DuckDB oracle as x_ded3.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash32 expects STRING input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash32.compute(input.asInstanceOf[UTF8String]))

  // codegen path: a single static call fused into the row loop (the loop
  // body itself is data-dependent-size, so it lives in the helper)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash32.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(s: UTF8String): Long = {
    val words = Tok.split(s.toString) // shared tokenizer ≡ CleanFns.tokens
    val seen = new java.util.HashSet[String](words.length * 2)
    val votes = new Array[Int](32)
    val digest = md5.get()
    var k = 0
    while (k < words.length) {
      val w = words(k)
      if (seen.add(w)) {
        val d = digest.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < 16) {
          val b = d(j) & 0xff
          if ((b >>> 4) >= 8) votes(2 * j) += 1 else votes(2 * j) -= 1
          if ((b & 0xf) >= 8) votes(2 * j + 1) += 1 else votes(2 * j + 1) -= 1
          j += 1
        }
      }
      k += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Column API; needs no function registration. */
  def simhash32(c: Column): Column = column(SimHash32(expression(c)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `lev_bytes(a, b)` — Levenshtein edit distance over the strings' UTF-8
  * BYTES: the classic two-row O(|a|·|b|) dynamic program on primitive int
  * arrays with byte equality per cell.
  *
  * Why native: Spark's built-in `levenshtein` routes through
  * UTF8String's codepoint-aware distance, whose per-cell work (UTF-8
  * stepping + bounds machinery) measured ~2 orders of magnitude more than
  * a byte compare on this corpus — the x_dec5 fuzzy-verify stage cost
  * 12.9 s at sf0.1 for 2,874 pairs of ~300-char docs where DuckDB's
  * levenshtein did the same pairs in 0.4 s. The byte-level DP restores
  * the expected cost (the whole probe lands near the 1 s candidate
  * baseline) while keeping the scalar inside whole-stage codegen.
  *
  * Semantics: equal to codepoint Levenshtein whenever both inputs are
  * single-byte encoded (pure ASCII — true of this corpus, the same
  * declared equivalence as x_txt5's byte-fold). On multi-byte text it
  * counts byte edits, which UPPER-BOUNDS codepoint edits; a user
  * needing codepoint semantics on non-ASCII text uses the built-in.
  */
case class LevBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "lev_bytes"

  override def nullSafeEval(l: Any, r: Any): Any =
    LevBytes.compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LevBytes.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : LevBytes = copy(left = newLeft, right = newRight)
}

object LevBytes {

  /** Column API; needs no function registration. */
  def lev_bytes(a: Column, b: Column): Column =
    column(LevBytes(expression(a), expression(b)))

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(a: UTF8String, b: UTF8String): Long = {
    val ab = a.getBytes
    val bb = b.getBytes
    val n = ab.length
    val m = bb.length
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      val ai = ab(i - 1)
      j = 1
      while (j <= m) {
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        val sub = prev(j - 1) + (if (ai == bb(j - 1)) 0 else 1)
        var best = if (del < ins) del else ins
        if (sub < best) best = sub
        cur(j) = best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `min_seg_count(word, sortedPieces)` — the minimal number of pieces
  * that segment `word`, where a step is either any single character
  * (the UNK fallback, so every word is coverable) or one piece from the
  * SORTED multi-char piece array. Shortest-path DP over character
  * positions — the exact-integer counterpart of unigram-LM Viterbi
  * segmentation (Kudo 2018's lattice with unit costs instead of float
  * log-probs, which could never hash-match across engines).
  *
  * Why native: the DP is per-row imperative (O(n · maxLen · log V) with
  * a binary search per candidate piece), and the piece vocabulary is a
  * broadcast-sized induced artifact — the same
  * expression-over-broadcast-array shape as [[SortedCountIn]]. A
  * declarative formulation needs one join round per character position.
  *
  * Contract: pieces are non-null, length ≥ 2, at most [[MinSeg.MaxLen]]
  * characters, sorted in Spark's binary string order (`sort_array`);
  * longer pieces in the array are ignored (the vocab induction caps at
  * the same bound, so the two stay consistent by construction).
  */
case class MinSeg(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "min_seg_count"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"min_seg_count expects (STRING, ARRAY<STRING>), got (${l.sql}, ${r.sql})")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    MinSeg.compute(l.asInstanceOf[UTF8String], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MinSeg.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : MinSeg = copy(left = newLeft, right = newRight)
}

object MinSeg {

  /** Longest piece the DP tries (and the vocab induction emits). */
  val MaxLen = 8

  /** Column API; needs no function registration. */
  def min_seg_count(word: Column, sortedPieces: Column): Column =
    column(MinSeg(expression(word), expression(sortedPieces)))

  /** Shared by the interpreted and codegen paths — they cannot diverge.
    * Positions are CODE POINTS (DuckDB `substr` semantics), not bytes.
    */
  def compute(word: UTF8String, sorted: ArrayData): Long = {
    val n = word.numChars()
    if (n == 0) return 0L
    val k = sorted.numElements()
    val dp = new Array[Int](n + 1)
    java.util.Arrays.fill(dp, 1, n + 1, Int.MaxValue)
    var i = 0
    while (i < n) {
      val base = dp(i)
      if (base != Int.MaxValue) {
        // UNK fallback: one character, cost 1 — total coverage
        if (base + 1 < dp(i + 1)) dp(i + 1) = base + 1
        var L = 2
        val maxL = math.min(MaxLen, n - i)
        while (L <= maxL) {
          if (contains(sorted, k, word.substring(i, i + L))) {
            if (base + 1 < dp(i + L)) dp(i + L) = base + 1
          }
          L += 1
        }
      }
      i += 1
    }
    dp(n).toLong
  }

  private def contains(sorted: ArrayData, k: Int, x: UTF8String): Boolean = {
    var lo = 0
    var hi = k - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = sorted.getUTF8String(mid).compareTo(x)
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }
}

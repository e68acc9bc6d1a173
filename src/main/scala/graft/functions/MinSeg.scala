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

  /** Shared by the interpreted and codegen paths — they cannot diverge:
    * the unit-cost [[suffixCosts]] at position 0.
    */
  def compute(word: UTF8String, sorted: ArrayData): Long =
    suffixCosts(word, sorted, null, 1L)(0)

  /** The one segmentation DP behind `min_seg_count`, `min_seg_cost` and
    * `min_seg_pieces`: b(p) = the minimal cost of segmenting word[p..n),
    * where one character costs `unkCost` (the UNK fallback, so every
    * position is coverable) and piece `sorted(j)` costs `costs(j)` — or 1
    * when `costs` is null. Positions are CODE POINTS (DuckDB `substr`
    * semantics), not bytes.
    */
  private[functions] def suffixCosts(word: UTF8String, sorted: ArrayData,
      costs: ArrayData, unkCost: Long): Array[Long] = {
    val n = word.numChars()
    val k = sorted.numElements()
    val b = new Array[Long](n + 1)
    var p = n - 1
    while (p >= 0) {
      var best = unkCost + b(p + 1)
      var L = 2
      val maxL = math.min(MaxLen, n - p)
      while (L <= maxL) {
        val j = indexOf(sorted, k, word.substring(p, p + L))
        if (j >= 0) {
          val c = (if (costs == null) 1L else costs.getLong(j)) + b(p + L)
          if (c < best) best = c
        }
        L += 1
      }
      b(p) = best
      p -= 1
    }
    b
  }

  /** Position of `x` among the first `k` elements of `sorted`, or -1. */
  private[functions] def indexOf(sorted: ArrayData, k: Int, x: UTF8String): Int = {
    var lo = 0
    var hi = k - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = sorted.getUTF8String(mid).compareTo(x)
      if (c == 0) return mid
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    -1
  }
}

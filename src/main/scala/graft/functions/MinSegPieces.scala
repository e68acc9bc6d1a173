package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `min_seg_pieces(word, sortedPieces, costs, unkCost)` — the ARGMIN
  * segmentation behind [[MinSegCost]]: the actual pieces of one
  * minimal-total-cost path, in order (UNK steps come back as the single
  * character they cover — unambiguous, since vocabulary pieces are
  * length ≥ 2 by the [[MinSeg.MaxLen]] contract). This is what a hard-EM
  * (Viterbi) re-estimation round consumes: piece counts under the
  * CURRENT segmentation re-price the vocabulary (Kudo 2018's E-step with
  * the max instead of the expectation; [[graft.ext.UnigramTok.emVocab]]).
  *
  * Ties are broken DETERMINISTICALLY so both engines reconstruct the
  * same path: at each position take the step minimizing
  * `cost(step) + B(pos + len(step))` where `B` is the suffix-DP minimum;
  * among ties the LONGEST step wins, then the binary-smallest piece
  * (UNK has length 1 and vocabulary pieces ≥ 2, so UNK never ties past
  * the length rule). The DuckDB oracle replays the identical rule as a
  * window over candidate steps.
  *
  * Same per-row shape as [[MinSegCost]]: suffix DP + one reconstruction
  * walk against the broadcast piece array, O(n · maxLen · log V) per
  * word, zero exchanges.
  */
case class MinSegPieces(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "min_seg_pieces"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, ArrayType(StringType, _), ArrayType(LongType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"min_seg_pieces expects (STRING, ARRAY<STRING>, ARRAY<BIGINT>, BIGINT), " +
          s"got (${a.sql}, ${b.sql}, ${c.sql}, ${d.sql})")
    }

  override def nullSafeEval(w: Any, p: Any, c: Any, u: Any): Any =
    MinSegPieces.compute(w.asInstanceOf[UTF8String], p.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData],
      u match { case i: Integer => i.longValue(); case l: java.lang.Long => l.longValue() })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, p, c, u) =>
      s"${ev.value} = graft.functions.MinSegPieces.compute($w, $p, $c, (long) $u);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): MinSegPieces =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object MinSegPieces {

  /** Column API; needs no function registration. */
  def min_seg_pieces(word: Column, sortedPieces: Column, costs: Column,
      unkCost: Column): Column =
    column(MinSegPieces(expression(word), expression(sortedPieces),
      expression(costs), expression(unkCost)))

  /** Shared by the interpreted and codegen paths — they cannot diverge.
    * Positions are CODE POINTS ([[MinSeg.suffixCosts]]'s convention).
    */
  def compute(word: UTF8String, sorted: ArrayData, costs: ArrayData,
      unkCost: Long): ArrayData = {
    val n = word.numChars()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val k = sorted.numElements()
    val b = MinSeg.suffixCosts(word, sorted, costs, unkCost)
    // reconstruction: at each position the step with minimal
    // cost + b(next); ties -> longest step, then binary-smallest piece.
    // Scanning L ascending and replacing on (strictly cheaper) OR
    // (equal and longer) gives exactly that order: among equal-cost
    // equal-length pieces only ONE can match at a position (a piece IS
    // the substring), so the piece-ascending rule never actually fires
    // within one position — it exists for the oracle's window to be a
    // total order.
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      var bestLen = 1
      var bestPiece: UTF8String = word.substring(i, i + 1) // UNK step
      var bestTot = unkCost + b(i + 1)
      var L = 2
      val maxL = math.min(MinSeg.MaxLen, n - i)
      while (L <= maxL) {
        val cand = word.substring(i, i + L)
        val j = MinSeg.indexOf(sorted, k, cand)
        if (j >= 0) {
          val tot = costs.getLong(j) + b(i + L)
          if (tot < bestTot || (tot == bestTot && L > bestLen)) {
            bestTot = tot; bestLen = L; bestPiece = cand
          }
        }
        L += 1
      }
      out += bestPiece
      i += bestLen
    }
    new GenericArrayData(out.toArray)
  }
}

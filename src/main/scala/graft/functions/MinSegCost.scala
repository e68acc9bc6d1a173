package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `min_seg_cost(word, sortedPieces, costs, unkCost)` — the minimal
  * TOTAL COST segmentation of `word`, where a step is either any single
  * character at `unkCost` (the UNK fallback, total coverage) or piece
  * `sortedPieces[i]` at `costs[i]`. The frequency-weighted successor of
  * [[MinSeg]]: with cost(piece) = scaled −log₂ p(piece) this is
  * unigram-LM Viterbi segmentation (Kudo 2018) on exact integers — a
  * frequent piece is cheap, so "the fewest pieces" gives way to "the
  * most probable pieces", which is what makes `interesting` split as
  * `interest|ing` instead of swallowing a rare long substring
  * ([[graft.ext.UnigramTok]] derives the bit costs; `UnigramTok.scala`
  * round-13 note documented the unit-cost stand-in this replaces).
  *
  * Same shape as [[MinSeg]]: per-row shortest-path DP over character
  * positions against a broadcast piece array (binary search per
  * candidate), O(n · maxLen · log V) per word, zero exchanges.
  *
  * Contract: `sortedPieces` sorted in Spark binary string order with
  * `costs` POSITIONALLY aligned (build both from one
  * `sort_array(collect_list(struct(piece, cost)))`); pieces non-null,
  * length 2..[[MinSeg.MaxLen]]; costs and unkCost positive.
  */
case class MinSegCost(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "min_seg_cost"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, ArrayType(StringType, _), ArrayType(LongType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"min_seg_cost expects (STRING, ARRAY<STRING>, ARRAY<BIGINT>, BIGINT), " +
          s"got (${a.sql}, ${b.sql}, ${c.sql}, ${d.sql})")
    }

  override def nullSafeEval(w: Any, p: Any, c: Any, u: Any): Any =
    MinSegCost.compute(w.asInstanceOf[UTF8String], p.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData],
      u match { case i: Integer => i.longValue(); case l: java.lang.Long => l.longValue() })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, p, c, u) =>
      s"${ev.value} = graft.functions.MinSegCost.compute($w, $p, $c, (long) $u);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): MinSegCost =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object MinSegCost {

  /** Column API; needs no function registration. */
  def min_seg_cost(word: Column, sortedPieces: Column, costs: Column,
      unkCost: Column): Column =
    column(MinSegCost(expression(word), expression(sortedPieces),
      expression(costs), expression(unkCost)))

  /** Shared by the interpreted and codegen paths — they cannot diverge:
    * [[MinSeg.suffixCosts]] at position 0.
    */
  def compute(word: UTF8String, sorted: ArrayData, costs: ArrayData,
      unkCost: Long): Long =
    MinSeg.suffixCosts(word, sorted, costs, unkCost)(0)
}

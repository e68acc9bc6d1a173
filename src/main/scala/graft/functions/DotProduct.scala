package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** Native dot product over two ARRAY<DOUBLE> columns.
  *
  * The built-in formulation `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`
  * is a higher-order function: Catalyst evaluates the lambdas interpreted,
  * per element, with a materialized intermediate array — the dominant cost
  * in the vector-similarity operators. This expression is a plain fused
  * loop with doGenCode, so whole-stage codegen inlines it next to the rest
  * of the row work.
  *
  * Summation order is ascending index, identical to the HOF left fold —
  * results are bit-for-bit the same, just faster.
  *
  * Mismatched lengths yield NULL, matching the HOF formulation (zip_with
  * pads the shorter side with nulls, so the aggregate sum is null) — a
  * silent truncation would return a wrong answer on ragged embedding data.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"
  // can return null on length mismatch even when both inputs are non-null
  override def nullable: Boolean = true

  // fail at ANALYSIS: getDouble on any other element width would silently
  // read garbage (e.g. raw ARRAY<FLOAT> embeddings — cast them first)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_d expects ARRAY<DOUBLE> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API; needs no function registration. */
  def dot_d(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Squared Euclidean distance as the dot expansion a·a − 2·a·b + b·b. */
  def sq_dist(a: Column, b: Column): Column =
    dot_d(a, a) - lit(2) * dot_d(a, b) + dot_d(b, b)
}

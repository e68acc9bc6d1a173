package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `nfkc_casefold(text)` — Unicode NFKC compatibility normalization
  * followed by Locale.ROOT lowercasing: the script normalization in
  * front of cross-lingual near-dedup (x_ded23). Fullwidth forms
  * (ＡＢＣ), ligatures (ﬁ), compatibility variants and case differences
  * all collapse to one matching form, so shingle/minhash candidates
  * form across scripts; on ASCII the mapping is exactly `lower()`,
  * which is what the relational oracle runs (the non-ASCII contract is
  * pinned by NfkcCasefoldSpec's planted fixtures).
  *
  * Deterministic and public: java.text.Normalizer (NFKC, Unicode
  * standard) + String.toLowerCase(Locale.ROOT) — a documented
  * simplification of full Unicode case folding (e.g. ß stays ß; full
  * casefold would map it to ss). One narrow stateless pass per row —
  * stream-capable, zero exchanges.
  */
case class NfkcCasefold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfkc_casefold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfkc_casefold expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any =
    compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfkcCasefold", this, classOf[NfkcCasefold].getName)
    defineCodeGen(ctx, ev, t => s"(UTF8String) $ref.compute($t)")
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(text: UTF8String): UTF8String = UTF8String.fromString(
    java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFKC)
      .toLowerCase(java.util.Locale.ROOT))

  override protected def withNewChildInternal(newChild: Expression): NfkcCasefold =
    copy(child = newChild)
}

object NfkcCasefold {
  /** Column API; needs no function registration. */
  def nfkc_casefold(text: Column): Column = column(NfkcCasefold(expression(text)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `bloom_hits(digests, bloom, hexChars, k)` — how many of a document's
  * gram DIGESTS (32-hex md5 strings, e.g. `ngram_md5` output) are
  * positive in a k-function Bloom bitmap, where slot function `i` is the
  * DISJOINT `hexChars`-wide hex window of the digest starting at char
  * `1 + hexChars*i` (the x_dec3 k-from-one-hash construction: the digest
  * is already uniform, so windows of it are the k independent hashes),
  * tagged by `i`:
  *
  *   pos_i = i * 16^hexChars + hexValue(window_i);  hit = bit pos_i set
  *
  * A digest counts iff ALL k windows hit. `bloom` is the packed bitmap
  * (array<long>, bit p at word p>>6, mask 1L<<(p&63)) built by
  * `PipelineOps7.gramBloom` — bounded at k*16^hexChars bits no matter
  * how large the corpus behind it grew.
  *
  * Why native: the probe arithmetic is O(1) bit math per window, but its
  * declarative form is an interpreted lambda per digest (`size(filter(
  * __g, g -> hit0 AND ... ))`) in the narrow hot path of every streamed
  * document — same motivation as `sorted_count_in`. BloomHitsSpec pins
  * expression ≡ the declarative HOF form and interpreted ≡ codegen.
  */
case class BloomHits(left: Expression, right: Expression, hexChars: Int, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_hits"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(LongType, _))
        if hexChars >= 1 && hexChars <= 7 && k >= 1 && k * hexChars <= 32 =>
      TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_hits needs 1 <= hexChars <= 7 and 1 <= k with k*hexChars <= 32; got hexChars=$hexChars k=$k")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bloom_hits expects (ARRAY<STRING>, ARRAY<BIGINT>), got (${l.sql}, ${r.sql})")
  }

  override def nullSafeEval(g: Any, b: Any): Any =
    BloomHits.compute(g.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], hexChars, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, b) =>
      s"${ev.value} = graft.functions.BloomHits.compute($g, $b, $hexChars, $k);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : BloomHits = copy(left = newLeft, right = newRight)
}

object BloomHits {

  /** Column API; needs no function registration. */
  def bloom_hits(digests: Column, bloom: Column, hexChars: Int, k: Int): Column =
    column(BloomHits(expression(digests), expression(bloom), hexChars, k))

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(grams: ArrayData, bloom: ArrayData, hexChars: Int, k: Int): Long = {
    val slotsPerFn = 1L << (4 * hexChars)
    val nWords = bloom.numElements()
    val n = grams.numElements()
    var cnt = 0L
    var gi = 0
    while (gi < n) {
      val g = grams.getUTF8String(gi)
      var all = g.numBytes() >= k * hexChars
      var i = 0
      while (all && i < k) {
        var v = 0L
        var c = 0
        while (c < hexChars) {
          val b = g.getByte(hexChars * i + c)
          val d =
            if (b >= '0' && b <= '9') b - '0'
            else if (b >= 'a' && b <= 'f') b - 'a' + 10
            else if (b >= 'A' && b <= 'F') b - 'A' + 10
            else -1
          if (d < 0) all = false
          v = (v << 4) | (d & 0xf)
          c += 1
        }
        if (all) {
          val pos = i * slotsPerFn + v
          val w = (pos >>> 6).toInt
          if (w >= nWords || (bloom.getLong(w) & (1L << (pos & 63L).toInt)) == 0L)
            all = false
        }
        i += 1
      }
      if (all) cnt += 1
      gi += 1
    }
    cnt
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `bpe_count(text)` — the document's subword token count under the
  * checked-in byte-level BPE vocabulary ([[Bpe.defaultMerges]]): split on
  * whitespace (the shared `CleanFns.tokens` byte classes), BPE-encode
  * each word's UTF-8 bytes, sum the symbol counts.
  *
  * This is the honest token accounting for token-denominated operators
  * (budget fill, packing, chunking): whitespace word counts undercount
  * code and CJK by multiples, subword counts do not. A pure narrow
  * per-row expression — zero shuffle, stream-capable, deterministic on
  * any JVM (no RNG, no locale). Words repeat heavily (Zipf), so a
  * per-executor bounded memo caches word → count.
  *
  * Oracle-checked since round 11: the x_tok1 oracle replays the greedy
  * lowest-rank-first merge loop as a DuckDB RECURSIVE CTE over
  * delimited hex-symbol strings (see PipelineOps7.tok1 — one recursion
  * level per merge round, `replace()`'s shared left-to-right
  * non-overlap semantics doing the per-round merge-all). BpeSpec
  * additionally pins encode round-trips (symbols reconcatenate to the
  * word), count bounds, cross-run/cross-partitioning determinism,
  * interpreted ≡ codegen, and trainer determinism.
  */
case class BpeCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_count expects STRING, got ${t.sql}")
  }

  override def nullSafeEval(s: Any): Any =
    BpeCount.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BpeCount.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
}

object BpeCount {

  /** Column API; needs no function registration. */
  def bpe_count(text: Column): Column = column(BpeCount(expression(text)))

  /** Java-regex `\s` byte classes — same split as `CleanFns.tokens`. */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  private val memoLimit = 1 << 16

  private val memo = new ThreadLocal[java.util.HashMap[String, Integer]] {
    override def initialValue() = new java.util.HashMap[String, Integer]()
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(s: UTF8String): Long = {
    val ranks = Bpe.defaultRanks
    val cache = memo.get()
    val n = s.numBytes()
    var total = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.getByte(i))) i += 1
        // word bytes as a latin-1 byte string (bijective byte <-> char)
        val sb = new java.lang.StringBuilder(i - start)
        var j = start
        while (j < i) { sb.append((s.getByte(j) & 0xff).toChar); j += 1 }
        val word = sb.toString
        var c = cache.get(word)
        if (c == null) {
          c = Bpe.countWord(word, ranks)
          if (cache.size() >= memoLimit) cache.clear()
          cache.put(word, c)
        }
        total += c.intValue()
      }
    }
    total
  }
}

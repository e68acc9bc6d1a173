package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `canonical_url(url)` — native form of the URL canonicalization rule
  * chain ([[graft.clean.UrlFns]]): fragment drop, authority lowercase,
  * default-port strip, percent-encoding normalization (hex uppercase +
  * unreserved decode), dot-segment removal, tracking-param drop +
  * binary query sort.
  *
  * Why native: the declarative chain is ~10 stacked regexp/array
  * expressions, and call sites compose it with extraction and
  * resolution towers. The x_url11 staged-edge projection fused enough
  * of those towers into one generated `processNext()` to blow janino's
  * 64 KB method limit — five failed multi-second compiles per run, then
  * the stage ran INTERPRETED (round-13 verdict #1). One opaque native
  * call keeps whole-stage codegen small and compiled wherever URLs are
  * canonicalized; the per-row work is the same regex chain, compiled
  * once per JVM instead of re-emitted per query stage.
  *
  * Semantics are EXACTLY the declarative chain's (the DuckDB oracle
  * twin [[graft.clean.UrlFns.canonicalUrlDuck]] is unchanged);
  * UrlFnsSpec pins native ≡ declarative on the edge-case fixture.
  */
case class CanonicalUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "canonical_url"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"canonical_url expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(u: Any): Any =
    CanonicalUrl.compute(u.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.functions.CanonicalUrl.compute($u)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}

object CanonicalUrl {

  /** Column API; needs no function registration. */
  def canonical_url(url: Column): Column = column(CanonicalUrl(expression(url)))

  // the same patterns the declarative chain runs (java.util.regex is
  // Spark's regexp engine, so equivalence is by construction)
  private val authP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*")
  private val http80 = Pattern.compile("^(http://[^/:]*):80$")
  private val https443 = Pattern.compile("^(https://[^/:]*):443$")
  private val trackP = Pattern.compile("^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$")

  // the percent-encoding normalization algebra (RFC 3986 §6.2.2.1–2),
  // compiled once per JVM; replayed SEQUENTIALLY in the exact order of
  // the shared step lists — a single-pass decoder would diverge from
  // the declarative/DuckDB twins on adversarial inputs where a decode
  // mints a new %XY window for a later entry (UrlFns.pctDecodePairs
  // documents the case), so exactness demands the literal replay
  private val pctUpperP: Array[(Pattern, String)] =
    graft.clean.UrlFns.pctUpperSteps
      .map { case (re, rep, _) => (Pattern.compile(re), rep) }.toArray
  private val pctPairs: Array[(String, String)] =
    graft.clean.UrlFns.pctDecodePairs.toArray

  // the bounded IDN table (UrlFns.idnPairs documents the subset scope
  // and the label-anchored semantics), compiled once per JVM
  private val idnPatterns: Array[(Pattern, String)] =
    graft.clean.UrlFns.idnPairs.map { case (k, v) =>
      (Pattern.compile(graft.clean.UrlFns.idnAnchor(k)), "$1" + v + "$2")
    }.toArray

  /** Unicode host spellings from the bounded table → punycode wire
    * form, label-anchored (the UrlFns.idnNormalizeCol twin). Fast
    * path: an all-ASCII authority (the overwhelming norm) touches
    * nothing — every table key is non-ASCII.
    */
  def idnNormalize(s: String): String = {
    var hasNonAscii = false
    var i = 0
    while (i < s.length && !hasNonAscii) {
      if (s.charAt(i) > 127) hasNonAscii = true
      i += 1
    }
    if (!hasNonAscii) return s
    var r = s
    var j = 0
    while (j < idnPatterns.length) {
      r = idnPatterns(j)._1.matcher(r).replaceAll(idnPatterns(j)._2); j += 1
    }
    r
  }

  /** Uppercase pct hex + decode unreserved — the bounded algebra both
    * engine twins replay. Fast path: no '%' (the overwhelming norm)
    * touches nothing.
    */
  def pctNormalize(s: String): String = {
    if (s.indexOf('%') < 0) return s
    var r = s
    var i = 0
    while (i < pctUpperP.length) {
      r = pctUpperP(i)._1.matcher(r).replaceAll(pctUpperP(i)._2); i += 1
    }
    var j = 0
    while (j < pctPairs.length) { r = r.replace(pctPairs(j)._1, pctPairs(j)._2); j += 1 }
    r
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge. */
  def compute(u: UTF8String): UTF8String = {
    val s0 = u.toString
    val hi = s0.indexOf('#')
    val noFrag = if (hi >= 0) s0.substring(0, hi) else s0
    val m = authP.matcher(noFrag)
    val hasAuth = m.find()
    // lowercase via UTF8String.toLowerCase — the exact lower() Spark runs
    val auth =
      if (hasAuth) UTF8String.fromString(noFrag.substring(0, m.end)).toLowerCase.toString
      else ""
    val rest = pctNormalize(if (hasAuth) noFrag.substring(m.end) else noFrag)
    val m80 = http80.matcher(auth)
    val a1 = if (m80.find()) m80.group(1) else auth
    val m443 = https443.matcher(a1)
    val authNoPort = idnNormalize(if (m443.find()) m443.group(1) else a1)
    val qi = rest.indexOf('?')
    // dot-segment removal (RFC 3986 §6.2.2.3 path equivalence) — the
    // same bounded algebra ResolveHref runs; the path has no '?' so the
    // query-split inside is a no-op
    val path = ResolveHref.removeDotSegments(
      if (qi >= 0) rest.substring(0, qi) else rest)
    val query = if (qi >= 0) rest.substring(qi + 1) else ""
    // split keeps trailing empties like Spark's split(col, "&"); filter
    // and binary (UTF-8 byte order) sort match array_sort's ordering
    val kept = query.split("&", -1)
      .filter(p => p.nonEmpty && !trackP.matcher(p).find())
      .map(UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0)
    val keptStr = kept.map(_.toString).mkString("&")
    UTF8String.fromString(
      authNoPort + path + (if (keptStr.isEmpty) "" else "?" + keptStr))
  }
}

package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** `resolve_href(page_url, href)` — RFC 3986 reference resolution
  * (§5.2), the subset a crawl graph needs, as ONE native call:
  *
  *   - `scheme://…` http(s) → kept as-is; any other scheme (mailto:,
  *     javascript:, ftp://, tel:) → NULL;
  *   - `//host/…` scheme-relative → page scheme prepended;
  *   - `/…` path-absolute → page `scheme://host` + dot-segment merge;
  *   - relative paths (`moved/x`, `../up/y` — the wild norm for HTTP
  *     Location headers) → merged against the page path (§5.2.3) with
  *     dot-segment removal (§5.2.4);
  *   - empty, `#…`, `?…` → NULL (self-references mint no crawl edge).
  *
  * Dot-segment removal is the BOUNDED algebra of
  * [[graft.clean.UrlFns.dotSteps]] — a fixed sequence of regex rewrites
  * both engines replay literally (the DuckDB oracle nests the identical
  * `regexp_replace` chain), so cross-engine hashes stay exact even on
  * pathological inputs past the bound. Query strings are split off
  * before the merge and reattached untouched (a `?q=/../x` query must
  * not be rewritten).
  *
  * Why native: the declarative form of this chain (plus extraction and
  * canonicalization towers at the call sites) is what blew the 64 KB
  * whole-stage-codegen limit on x_url11's staged-edge projection
  * (round-13 verdict #1). LinkGraphSpec pins native ≡ declarative twin.
  */
case class ResolveHref(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_href"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"resolve_href expects (STRING, STRING), got (${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(p: Any, h: Any): Any =
    ResolveHref.compute(p.asInstanceOf[UTF8String], h.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, h) => s"""
      ${ev.value} = graft.functions.ResolveHref.compute($p, $h);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : ResolveHref = copy(left = newLeft, right = newRight)
}

object ResolveHref {

  /** Column API; needs no function registration. */
  def resolve_href(pageUrl: Column, href: Column): Column =
    column(ResolveHref(expression(pageUrl), expression(href)))

  private val httpsP = Pattern.compile("^(?i)https?://")
  private val schemeColonP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:")
  private val authP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*")
  private val dotP: Seq[Pattern] =
    graft.clean.UrlFns.dotSteps.map(Pattern.compile)

  /** The bounded §5.2.4 algebra on the path part; the query (from the
    * first `?`, inclusive) passes through untouched.
    */
  def removeDotSegments(s: String): String = {
    val qi = s.indexOf('?')
    val pp = if (qi >= 0) s.substring(0, qi) else s
    val q = if (qi >= 0) s.substring(qi) else ""
    // exact fast path: every dotSteps pattern requires a literal "/."
    // substring (`/.` , `/../`, `^/..`), so a path without one — 99.9%
    // of real URLs — cannot match any of the 20 rewrites. One indexOf
    // instead of 20 matcher passes on the canonicalization hot path.
    if (!pp.contains("/.")) return pp + q
    var r = pp
    var i = 0
    while (i < dotP.length) { r = dotP(i).matcher(r).replaceAll("/"); i += 1 }
    r + q
  }

  /** Shared by the interpreted and codegen paths — they cannot diverge.
    * Returns null for dropped hrefs (non-http schemes, self-references,
    * non-http(s) base).
    */
  def compute(pageU: UTF8String, hrefU: UTF8String): UTF8String = {
    val href = hrefU.toString
    val page = pageU.toString
    val out: String =
      if (httpsP.matcher(href).find()) href
      else if (schemeColonP.matcher(href).find()) null // other scheme (incl. scheme-no-authority)
      else if (!httpsP.matcher(page).find()) null // base itself not http(s)
      else if (href.startsWith("//")) schemeOf(page) + ":" + href
      else if (href.startsWith("/")) prefixOf(page) + removeDotSegments(href)
      else if (href.isEmpty || href.charAt(0) == '#' || href.charAt(0) == '?') null
      else prefixOf(page) + removeDotSegments(mergeRelative(page, href))
    if (out == null) null else UTF8String.fromString(out)
  }

  /** Page scheme, lowercased (the page is http(s) when this is called). */
  private def schemeOf(page: String): String =
    if (page.length >= 8 && (page.charAt(4) == 's' || page.charAt(4) == 'S')) "https"
    else "http"

  /** `scheme://authority` of the page, original case (matches the
    * declarative `regexp_extract` prefix — canonicalization lowercases
    * later).
    */
  private def prefixOf(page: String): String = {
    val m = authP.matcher(page)
    if (m.find()) page.substring(0, m.end) else ""
  }

  /** §5.2.3 merge: base directory (path up to the last `/`; `/` when the
    * base path is empty) + the relative reference.
    */
  private def mergeRelative(page: String, href: String): String = {
    val m = authP.matcher(page)
    val afterAuth = if (m.find()) page.substring(m.end) else page
    val ci = {
      val q = afterAuth.indexOf('?'); val f = afterAuth.indexOf('#')
      if (q < 0) f else if (f < 0) q else math.min(q, f)
    }
    val basePath = if (ci >= 0) afterAuth.substring(0, ci) else afterAuth
    val dir0 = basePath.substring(0, basePath.lastIndexOf('/') + 1)
    (if (dir0.isEmpty) "/" else dir0) + href
  }
}

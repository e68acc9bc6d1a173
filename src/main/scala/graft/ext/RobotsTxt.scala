package graft.ext

import graft.{Probe, Tables}
import graft.clean.UrlFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt (RFC 9309, public): the PARSE — raw robots.txt text per
  * host → the (host, pattern, allow) rules table — and the one GATE
  * that matches URLs against it ([[robotsGate]], batch; the stream door
  * `DocStreams.robotsGated` runs the same body).
  *
  * Grammar implemented (RFC 9309 §2.2, cross-engine relational form):
  *   - lines split on LF (trailing CR stripped), `#` comments dropped,
  *     whitespace trimmed; directives matched case-insensitively
  *   - GROUPS: consecutive `User-agent:` lines stack onto one group;
  *     the group's rules run until the next User-agent line that follows
  *     a rule. Rules before any User-agent line are invalid and dropped.
  *   - GROUP SELECTION: if any group names our product token (exact,
  *     case-insensitive), the union of ALL such groups' rules applies
  *     and `*` groups are ignored; otherwise the `*` groups apply;
  *     otherwise no rules (everything allowed).
  *   - `Allow:` / `Disallow:` values are match PATTERNS: percent-encoded
  *     UNRESERVED octets are decoded before comparison (RFC 9309 §2.2.2
  *     via RFC 3986 — decoding a reserved octet would change meaning, so
  *     only unreserved forms normalize; both hex cases, since site
  *     owners author these by hand). An empty Disallow value means
  *     allow-all and is dropped at parse time (the gate's documented
  *     contract). A FILE-LEADING UTF-8 BOM is stripped (a BOM-prefixed
  *     first User-agent line would otherwise void the whole file); a
  *     FEFF elsewhere is content and survives.
  *   - `*` matches any octet sequence; a TRAILING `$` anchors the
  *     pattern end ([[robotsGate]]). A `$` elsewhere is literal.
  *
  * Shape at scale: parsing is per-host-file — line explode keyed by
  * host, two host-partitioned windows over line numbers (a robots.txt
  * is ≤ 500 KiB by the RFC's own cap, so per-host partitions are tiny),
  * one aggregation per group. The output rules table is exactly what
  * [[robotsGate]] joins on host.
  */
object RobotsTxt {

  /** Default product token — the crawler's own name in robots files. */
  val DefaultAgent = "graftbot"

  private val unreserved: Seq[Char] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')) ++ Seq('-', '.', '_', '~')

  /** Decode percent-encoded UNRESERVED octets — the RFC 3986
    * normalization both the rule pattern and the matched path must
    * agree on. BOTH hex cases decode (RFC 3986 hex digits are
    * case-insensitive, and robots.txt patterns are authored by site
    * owners who routinely write `%7e`); reserved octets stay encoded
    * (decoding them would change path semantics).
    */
  def pctDecodeUnreserved(c: Column): Column =
    unreserved.foldLeft(c) { (acc, ch) =>
      val up = f"%%${ch.toInt}%02X"
      val lo = up.toLowerCase(java.util.Locale.ROOT)
      val r = replace(acc, lit(up), lit(ch.toString))
      if (lo != up) replace(r, lit(lo), lit(ch.toString)) else r
    }

  /** The identical decode in DuckDB's dialect, for oracles. */
  def pctDecodeUnreservedDuck(e: String): String =
    unreserved.foldLeft(e) { (acc, ch) =>
      val up = f"%%${ch.toInt}%02X"
      val lo = up.toLowerCase(java.util.Locale.ROOT)
      val r = s"replace($acc, '$up', '$ch')"
      if (lo != up) s"replace($r, '$lo', '$ch')" else r
    }

  /** Regex metacharacters escaped in a robots pattern before `*`
    * translation: everything Java regex and RE2 both treat specially
    * (the translated pattern must evaluate identically cross-engine).
    */
  private val rxMeta = Seq('\\', '.', '+', '?', '(', ')', '[', ']', '{', '}', '^', '$', '|')

  private def escRx(c: Column): Column =
    rxMeta.foldLeft(c)((acc, ch) =>
      replace(acc, lit(ch.toString), lit("\\" + ch)))

  private def escRxDuck(e: String): String =
    rxMeta.foldLeft(e)((acc, ch) => {
      val q = if (ch == '\'') "''" else ch.toString
      s"replace($acc, '$q', '\\$q')"
    })

  /** A robots match pattern translated to an anchored regex: literal
    * chars escaped, `*` → `.*`, a TRAILING `$` → the end anchor (a `$`
    * anywhere else is literal and stays escaped). Evaluates identically
    * under Java regex and RE2 — only `^`, escaped literals, `.*`, `$`.
    */
  def patternRegex(pattern: Column): Column = {
    val anchored = pattern.substr(length(pattern), lit(1)) === "$"
    val body = when(anchored, pattern.substr(lit(1), length(pattern) - 1))
      .otherwise(pattern)
    val esc = replace(escRx(body), lit("*"), lit(".*"))
    concat(lit("^"), esc, when(anchored, lit("$")).otherwise(lit("")))
  }

  /** The identical translation in DuckDB's dialect, for oracles. */
  def patternRegexDuck(e: String): String = {
    val anchored = s"substr($e, length($e), 1) = '$$'"
    def esc(x: String) = s"replace(${escRxDuck(x)}, '*', '.*')"
    s"""(CASE WHEN $anchored
       |  THEN '^' || ${esc(s"substr($e, 1, length($e) - 1)")} || '$$'
       |  ELSE '^' || ${esc(e)} END)""".stripMargin
  }

  /** Parse raw robots.txt files into the gate's rules table.
    * Input: (host, robots_txt). Output: (host, pattern, allow) — the
    * selected group's rules, percent-normalized, empty patterns
    * dropped, deduplicated.
    */
  /** The selected groups' directive lines: (host, kind, value) for the
    * UA-selected groups (kind \u2208 allow | disallow | delay) \u2014 the shared
    * front half of [[parseRobots]] and [[crawlDelays]].
    */
  /** Normalized robots.txt line: file-leading BOM stripped (line 0
    * only — Google's reference parser skips exactly that), ALL CR
    * characters removed (a plain character replace — regex `$`/`.`
    * treat \r differently under Java vs RE2, so a regex-based strip
    * diverged cross-engine on `\r\r` endings), `#` comments dropped,
    * whitespace trimmed. Shared by the rule parser AND sitemap
    * autodiscovery so the two normalizations cannot drift.
    */
  private def normalizedLine(raw: Column, i: Column): Column =
    trim(regexp_replace(
      replace(when(i === 0, regexp_replace(raw, "^\ufeff", "")).otherwise(raw),
        lit("\r"), lit("")),
      "#.*$", ""))

  private[ext] def selectedLines(robots: DataFrame, agent: String): DataFrame = {
    val w = Window.partitionBy("host").orderBy("i")
    val lines = robots
      .select(col("host"), posexplode(split(col("robots_txt"), "\n")).as(Seq("i", "raw")))
      .withColumn("ln", normalizedLine(col("raw"), col("i")))
    val sig = lines
      .withColumn("kind",
        when(lower(col("ln")).rlike("^user-agent\\s*:"), "ua")
          .when(lower(col("ln")).rlike("^allow\\s*:"), "allow")
          .when(lower(col("ln")).rlike("^disallow\\s*:"), "disallow")
          .when(lower(col("ln")).rlike("^crawl-delay\\s*:"), "delay"))
      .filter(col("kind").isNotNull)
      .withColumn("value",
        trim(regexp_replace(col("ln"),
          "(?i)^(user-agent|allow|disallow|crawl-delay)\\s*:\\s*", "")))
    val grouped = sig
      .withColumn("prev", lag(col("kind"), 1).over(w))
      .withColumn("strt",
        (col("kind") === "ua" && (col("prev").isNull || col("prev") =!= "ua")).cast("int"))
      .withColumn("gid", sum(col("strt")).over(w))
    val groups = grouped.filter(col("kind") === "ua")
      .groupBy("host", "gid")
      .agg(max((lower(col("value")) === agent.toLowerCase).cast("int")).as("self"),
        max((col("value") === "*").cast("int")).as("star"))
    val hostSelf = groups.groupBy("host").agg(max(col("self")).as("has_self"))
    grouped.filter(col("kind") =!= "ua" && col("gid") >= 1)
      .join(groups, Seq("host", "gid"))
      .join(hostSelf, Seq("host"))
      .filter((col("has_self") === 1 && col("self") === 1) ||
        (col("has_self") === 0 && col("star") === 1))
      .select(col("host"), col("kind"), col("value"))
  }

  def parseRobots(robots: DataFrame, agent: String = DefaultAgent): DataFrame =
    rulesFromLines(selectedLines(robots, agent))

  /** `Sitemap:` directives (sitemaps.org autodiscovery, acknowledged by
    * RFC 9309 §2.2.4 as an "other record"): GLOBAL — valid anywhere in
    * the file, inside or outside UA groups, and independent of group
    * selection — one absolute URL per line, field name
    * case-insensitive. Line normalization mirrors [[selectedLines]]
    * exactly (file-leading BOM, trailing CR, `#` comments, trim).
    * Non-absolute values are dropped LOUDLY-by-absence (the protocol
    * requires a full URL; a relative one is a broken file, and
    * guessing a base here would fabricate discovery input). One narrow
    * explode — no exchange.
    */
  def sitemapDirectives(robots: DataFrame): DataFrame =
    robots
      .select(col("host"), posexplode(split(col("robots_txt"), "\n")).as(Seq("i", "raw")))
      .withColumn("ln", normalizedLine(col("raw"), col("i")))
      .filter(lower(col("ln")).rlike("^sitemap\\s*:"))
      .select(col("host"),
        trim(regexp_replace(col("ln"), "(?i)^sitemap\\s*:\\s*", "")).as("sitemap_url"))
      .filter(col("sitemap_url").rlike("^(?i)https?://"))

  /** DuckDB twin of [[sitemapDirectives]] over a CTE `rb(host, txt)` —
    * produces CTE `smd(host, sitemap_url)`.
    */
  def sitemapDirectivesDuck: String =
    s"""smd AS (
       |  SELECT host, sitemap_url FROM (
       |    SELECT host,
       |      trim(regexp_replace(ln, '(?i)^sitemap\\s*:\\s*', '', 'g')) AS sitemap_url,
       |      lower(ln) AS lnl
       |    FROM ($normalizedLinesDuck))
       |  WHERE regexp_matches(lnl, '^sitemap\\s*:')
       |    AND regexp_matches(sitemap_url, '^(?i)https?://'))""".stripMargin

  /** The rules half over an already-materialized [[selectedLines]]
    * frame — callers that need BOTH rules and delays (the composed
    * frontier plan) stage the selected lines once and derive the two
    * tables from the staged frame instead of running the parse chain
    * twice.
    */
  private[ext] def rulesFromLines(sel: DataFrame): DataFrame =
    sel
      .filter(col("kind").isin("allow", "disallow"))
      .withColumn("pattern", pctDecodeUnreserved(col("value")))
      .filter(col("pattern") =!= "")
      .select(col("host"), col("pattern"),
        (col("kind") === "allow").cast("int").as("allow"))
      .distinct()

  /** Per-host Crawl-delay from the SELECTED groups: (host, delay_ms) \u2014
    * the de-facto politeness directive (not in RFC 9309 but honored by
    * most crawlers). Numeric values only, fractional seconds allowed;
    * multiple selected values take the MOST CONSERVATIVE (max). Hosts
    * with no parseable Crawl-delay carry no row (the scheduler applies
    * its own default).
    */
  def crawlDelays(robots: DataFrame, agent: String = DefaultAgent): DataFrame =
    delaysFromLines(selectedLines(robots, agent))

  /** The delays half over an already-materialized [[selectedLines]]
    * frame (see [[rulesFromLines]]).
    */
  private[ext] def delaysFromLines(sel: DataFrame): DataFrame =
    sel
      .filter(col("kind") === "delay" &&
        col("value").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .select(col("host"),
        floor(col("value").cast("double") * 1000).cast("long").as("ms"))
      .groupBy("host").agg(max(col("ms")).as("delay_ms"))

  /** The parse in DuckDB's dialect over a (host, txt) relation named
    * `rb` — emits a `rules(host, pattern, allow)` CTE body, for oracles.
    */
  /** DuckDB twin of [[normalizedLine]] as an `l0`-shaped CTE body over
    * CTE `rb(host, txt)` — shared by [[parseRobotsDuck]] and
    * [[sitemapDirectivesDuck]] so the two normalizations cannot drift.
    */
  private def normalizedLinesDuck: String =
    s"""SELECT host, i,
       |    trim(regexp_replace(replace(
       |      CASE WHEN i = 1 THEN regexp_replace(ls[i], '^' || chr(65279), '', 'g')
       |           ELSE ls[i] END,
       |      chr(13), ''), '#.*$$', '', 'g')) AS ln
       |  FROM (SELECT host, string_split(txt, chr(10)) AS ls FROM rb),
       |       UNNEST(generate_series(1, len(ls))) AS t(i)""".stripMargin

  def parseRobotsDuck(agent: String = DefaultAgent): String =
    s"""l0 AS (
       |  $normalizedLinesDuck),
       |sg0 AS (
       |  SELECT host, i,
       |    CASE WHEN regexp_matches(lower(ln), '^user-agent\\s*:') THEN 'ua'
       |         WHEN regexp_matches(lower(ln), '^allow\\s*:') THEN 'allow'
       |         WHEN regexp_matches(lower(ln), '^disallow\\s*:') THEN 'disallow'
       |         WHEN regexp_matches(lower(ln), '^crawl-delay\\s*:') THEN 'delay' END AS kind,
       |    trim(regexp_replace(ln, '(?i)^(user-agent|allow|disallow|crawl-delay)\\s*:\\s*', '')) AS value
       |  FROM l0),
       |sg AS (SELECT * FROM sg0 WHERE kind IS NOT NULL),
       |sg2 AS (
       |  SELECT *, CASE WHEN kind = 'ua' AND
       |      (lag(kind) OVER (PARTITION BY host ORDER BY i) IS NULL OR
       |       lag(kind) OVER (PARTITION BY host ORDER BY i) <> 'ua') THEN 1 ELSE 0 END AS strt
       |  FROM sg),
       |sg3 AS (
       |  SELECT *, SUM(strt) OVER (PARTITION BY host ORDER BY i) AS gid FROM sg2),
       |grp AS (
       |  SELECT host, gid,
       |    MAX(CASE WHEN lower(value) = '${agent.toLowerCase}' THEN 1 ELSE 0 END) AS self,
       |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS star
       |  FROM sg3 WHERE kind = 'ua' GROUP BY host, gid),
       |hsf AS (SELECT host, MAX(self) AS has_self FROM grp GROUP BY host),
       |rules AS (
       |  SELECT DISTINCT sg3.host, ${pctDecodeUnreservedDuck("value")} AS pattern,
       |    CASE WHEN kind = 'allow' THEN 1 ELSE 0 END AS allow
       |  FROM sg3
       |  JOIN grp ON grp.host = sg3.host AND grp.gid = sg3.gid
       |  JOIN hsf ON hsf.host = sg3.host
       |  WHERE kind IN ('allow', 'disallow') AND sg3.gid >= 1
       |    AND ((hsf.has_self = 1 AND grp.self = 1) OR (hsf.has_self = 0 AND grp.star = 1))
       |    AND ${pctDecodeUnreservedDuck("value")} <> '')""".stripMargin

  /** The [[crawlDelays]] twin in DuckDB's dialect — a `delays(host,
    * delay_ms)` CTE over [[parseRobotsDuck]]'s sg3/grp/hsf chain.
    */
  def crawlDelaysDuck: String =
    s"""delays AS (
       |  SELECT sg3.host,
       |    MAX(CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT)) AS delay_ms
       |  FROM sg3
       |  JOIN grp ON grp.host = sg3.host AND grp.gid = sg3.gid
       |  JOIN hsf ON hsf.host = sg3.host
       |  WHERE kind = 'delay' AND sg3.gid >= 1
       |    AND ((hsf.has_self = 1 AND grp.self = 1) OR (hsf.has_self = 0 AND grp.star = 1))
       |    AND regexp_matches(value, '^[0-9]+(\\.[0-9]+)?$$')
       |  GROUP BY sg3.host)""".stripMargin

  /** The robots gate (RFC 9309 matching): given a rules table (host,
    * pattern, allow) — [[parseRobots]] output or built by hand — mark
    * every URL allowed/blocked, the politeness gate in front of the
    * fetcher. `*` matches any sequence, a trailing `$` anchors the end,
    * specificity = pattern OCTET length (wildcards count as written),
    * the longest matching rule wins, allow wins ties, no match means
    * allowed. Empty patterns must not be in the table (an empty
    * Disallow means allow-all — [[parseRobots]] drops it). Paths
    * percent-normalize the same way patterns did at parse. Input
    * (doc_id, url); output (doc_id, host, path, allowed).
    */
  def robotsGate(urls: DataFrame, rules: DataFrame): DataFrame =
    robotsVerdicts(urls, rules)
      .select(col("doc_id"), col("host"), col("path"), col("allowed"))

  /** The one gate body behind [[robotsGate]] and the stream door
    * (`DocStreams.robotsGated`): (doc_id, url) → (doc_id, url, host,
    * path, allowed).
    *
    * Shape: a crawl-wide rules table spans EVERY host (10⁸ rows across
    * a frontier), so the join is left UNHINTED: Spark broadcasts it
    * under the threshold and shuffles on host beyond it (both sides key
    * on host; no corpus×rules blowup either way). The per-URL winner is
    * a doc_id-keyed `max_by` over the ≤ rules-per-host matches, ordered
    * by struct(hit, length(pattern), allow, pattern) — an aggregation,
    * not a window, so the same body runs on a stream. Its tie-break on
    * `pattern` runs DESC where a window's would run ASC; the verdict
    * cannot differ, since it depends only on hit and allow, and those
    * are equal within a tie.
    *
    * Matching is ROUTED per rule shape: a wildcard-free pattern is a
    * plain `startsWith` (or an equality when `$`-anchored) — the
    * overwhelming majority in real robots files — and ONLY patterns
    * containing `*` reach RLIKE, whose non-literal pattern costs a
    * Pattern.compile per evaluated row. `__rx` is NULL for non-wild
    * rules, so a routing slip cannot silently regex them: RLIKE on NULL
    * yields no hit and the allow carve-out pins in RobotsTxtSpec/x_url6
    * break.
    */
  private[graft] def robotsVerdicts(urls: DataFrame, rules: DataFrame): DataFrame = {
    val u = urls
      .select(col("doc_id"), col("url"), UrlFns.canonicalUrl(col("url")).as("canon"))
      .withColumn("host", UrlFns.host(col("canon")))
      .withColumn("path", UrlFns.path(col("canon")))
      .withColumn("pathd", pctDecodeUnreserved(col("path")))
    val p = col("pattern")
    val isWild = p.contains("*")
    val anchored = p.substr(length(p), lit(1)) === "$"
    u.join(rules, Seq("host"), "left")
      .withColumn("__rx", when(isWild, patternRegex(p)))
      .withColumn("__hit", p.isNotNull && (
        when(!isWild && !anchored, col("pathd").startsWith(p))
          .when(!isWild && anchored, col("pathd") === p.substr(lit(1), length(p) - 1))
          .otherwise(expr("pathd RLIKE __rx"))))
      .groupBy("doc_id")
      .agg(expr(
        """max_by(CASE WHEN __hit THEN allow ELSE NULL END,
          |  struct(__hit, length(pattern), allow, pattern))""".stripMargin).as("__best"),
        first(col("url")).as("url"), first(col("host")).as("host"),
        first(col("path")).as("path"))
      .select(col("doc_id"), col("url"), col("host"), col("path"),
        coalesce(col("__best").cast("long"), lit(1L)).as("allowed"))
  }

  /** Fixture robots.txt carrying a specific (graftbot) group: stacked
    * user-agents, an allow carve-out through a broader disallow, a
    * wildcard+anchor rule, a percent-encoded rule, an empty Disallow
    * (allow-all marker, dropped), and a `*` group that must be IGNORED
    * because the specific group exists.
    */
  private[graft] val robotsSelf =
    "# fixture: specific group present\n" +
      "User-agent: otherbot\nDisallow: /\n\n" +
      "User-agent: GraftBot\nUser-agent: friendbot\n" +
      "Allow: /private/ok\nDisallow: /private\n" +
      "Disallow: /*/data$\nDisallow: /pri%76ate2\nDisallow:\n\n" +
      "User-agent: *\nDisallow: /pub\n"

  /** Fixture robots.txt with NO specific group — selection falls back
    * to the `*` group (wildcard-anchored rule included).
    */
  private[graft] val robotsStar =
    "User-agent: otherbot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /pub\nAllow: /pub/ok\nDisallow: /p*e$\n"

  /** X-URL6 — the FULL robots tier, parse composed with the gate: seven
    * hosts alternate between a robots.txt that names the crawler
    * (specific group selected, `*` group ignored) and one that doesn't
    * (fallback to `*`), six path shapes exercise the allow carve-out,
    * wildcard `*`, the `$` anchor, percent-decoding, and the
    * no-matching-rule default. The oracle re-parses the identical
    * robots text relationally (line split, comment strip, group
    * windows, UA selection, percent decode) and re-matches with the
    * same translated regexes.
    */
  private val url6 = Probe(
    "x_url6_robots_parse",
    s"""WITH hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
       |rb AS (
       |  SELECT 'www.example' || CAST(h AS VARCHAR) || '.com' AS host,
       |    CASE WHEN h % 2 = 0
       |      THEN ${graft.clean.EncodingFns.sqlLit(robotsSelf)}
       |      ELSE ${graft.clean.EncodingFns.sqlLit(robotsStar)} END AS txt
       |  FROM hosts),
       |${parseRobotsDuck()},
       |u AS (
       |  SELECT doc_id,
       |    'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
       |    (CASE doc_id % 6 WHEN 0 THEN '/Path/To/Item'
       |          WHEN 1 THEN '/private/data'
       |          WHEN 2 THEN '/private/ok/page'
       |          WHEN 3 THEN '/pub/x'
       |          WHEN 4 THEN '/pub/ok/y'
       |          ELSE '/private2/x' END) AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ${UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |p AS (
       |  SELECT doc_id,
       |    ${UrlFns.hostDuck("canon")} AS host,
       |    ${UrlFns.pathDuck("canon")} AS path
       |  FROM c),
       |m AS (
       |  SELECT p.doc_id, p.host, p.path, r.pattern, r.allow,
       |    (r.pattern IS NOT NULL AND regexp_matches(
       |      ${pctDecodeUnreservedDuck("p.path")}, ${patternRegexDuck("r.pattern")})) AS hit
       |  FROM p LEFT JOIN rules r ON r.host = p.host),
       |w AS (
       |  SELECT doc_id, host, path, hit, allow,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY hit DESC, length(pattern) DESC, allow DESC, pattern ASC) AS rn
       |  FROM m)
       |SELECT doc_id, host, path,
       |  CAST(CASE WHEN hit THEN allow ELSE 1 END AS BIGINT) AS allowed
       |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val robots = docs.select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("www.example"), col("h").cast("string"), lit(".com")).as("host"),
        when(col("h") % 2 === 0, lit(robotsSelf)).otherwise(lit(robotsStar)).as("robots_txt"))
    val urls = docs.select(col("doc_id"),
      concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"), lit(".com"),
        when(col("doc_id") % 6 === 0, lit("/Path/To/Item"))
          .when(col("doc_id") % 6 === 1, lit("/private/data"))
          .when(col("doc_id") % 6 === 2, lit("/private/ok/page"))
          .when(col("doc_id") % 6 === 3, lit("/pub/x"))
          .when(col("doc_id") % 6 === 4, lit("/pub/ok/y"))
          .otherwise(lit("/private2/x"))).as("url"))
    robotsGate(urls, parseRobots(robots)).orderBy("doc_id")
  }

  /** Fixture robots with Crawl-delay directives: a graftbot group (2s)
    * plus a `*` group (1.5s) — even hosts serve it with the specific
    * group, odd hosts without, so selection decides which delay binds.
    */
  private[graft] val robotsDelaySelf =
    "User-agent: GraftBot\nCrawl-delay: 2\nDisallow: /private\n\n" +
      "User-agent: *\nCrawl-delay: 0.5\nDisallow: /pub\n"
  private[graft] val robotsDelayStar =
    "User-agent: otherbot\nCrawl-delay: 9\n\n" +
      "User-agent: *\nCrawl-delay: 1.5\nDisallow: /pub\n"

  /** Per-host fetch SCHEDULE: canonical page counts joined with the
    * parsed Crawl-delay — pages, the binding delay (scheduler default
    * for hosts without one), and the serial fetch time the politeness
    * budget implies. The capacity-planning table a fetch scheduler is
    * reviewed against. One exchange on the canonical key, one on host;
    * the delays table joins host-keyed.
    */
  def politenessSchedule(urls: DataFrame, robots: DataFrame,
      agent: String = DefaultAgent, defaultDelayMs: Long = 1000L): DataFrame =
    urls
      .select(UrlFns.canonicalUrl(col("url")).as("canon"))
      .distinct()
      .groupBy(UrlFns.host(col("canon")).as("host"))
      .agg(count(lit(1)).as("n_pages"))
      .join(crawlDelays(robots, agent), Seq("host"), "left")
      .select(col("host"), col("n_pages"),
        coalesce(col("delay_ms"), lit(defaultDelayMs)).as("delay_ms"))
      .withColumn("fetch_sec", expr("n_pages * delay_ms DIV 1000"))

  /** X-URL8 — Crawl-delay parsing composed with the fetch schedule:
    * seven hosts alternate robots files where BOTH a graftbot and a `*`
    * group carry different delays, so group selection decides the
    * binding value (2000 ms where the specific group exists, 1500 ms on
    * the fallback hosts); the frontier's canonical page counts then
    * price the serial fetch. The oracle re-parses the files (the shared
    * relational grammar chain + the delays CTE) and recomputes the
    * schedule.
    */
  private val url8 = Probe(
    "x_url8_politeness_schedule",
    s"""WITH hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
       |rb AS (
       |  SELECT 'www.example' || CAST(h AS VARCHAR) || '.com' AS host,
       |    CASE WHEN h % 2 = 0
       |      THEN ${graft.clean.EncodingFns.sqlLit(robotsDelaySelf)}
       |      ELSE ${graft.clean.EncodingFns.sqlLit(robotsDelayStar)} END AS txt
       |  FROM hosts),
       |${parseRobotsDuck()},
       |$crawlDelaysDuck,
       |u AS (
       |  SELECT doc_id,
       |    'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
       |      CAST(doc_id % 13 AS VARCHAR) AS url
       |  FROM documents),
       |c AS (
       |  SELECT DISTINCT ${UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |ph AS (
       |  SELECT ${UrlFns.hostDuck("canon")} AS host,
       |         COUNT(*) AS n_pages
       |  FROM c GROUP BY 1)
       |SELECT ph.host, CAST(ph.n_pages AS BIGINT) AS n_pages,
       |  CAST(COALESCE(delays.delay_ms, 1000) AS BIGINT) AS delay_ms,
       |  CAST(ph.n_pages * COALESCE(delays.delay_ms, 1000) // 1000 AS BIGINT) AS fetch_sec
       |FROM ph LEFT JOIN delays ON delays.host = ph.host
       |ORDER BY ph.host""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val robots = docs.select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("www.example"), col("h").cast("string"), lit(".com")).as("host"),
        when(col("h") % 2 === 0, lit(robotsDelaySelf))
          .otherwise(lit(robotsDelayStar)).as("robots_txt"))
    val urls = docs.select(
      concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"),
        lit(".com/p/"), (col("doc_id") % 13).cast("string")).as("url"))
    politenessSchedule(urls, robots).orderBy("host")
  }

  /** Robots fixture for x_url12 — per host: a plain directive, a
    * case/spacing/comment-variant one, one INSIDE a UA group (global
    * regardless — sitemaps.org autodiscovery is group-independent), a
    * RELATIVE value (broken per spec, must drop), and a BOM-prefixed
    * first line on even hosts (must not void the file's first
    * directive).
    */
  private val robotsSmSelf =
    "Sitemap: https://sHOST.example.com/sitemap.xml\n" +
      "SITEMAP:https://sHOST.example.com/sm-index.xml.gz # autodiscovery\n" +
      "User-agent: *\nDisallow: /private\n" +
      "Sitemap: https://cdn.example.org/shared/HOST.xml\n" +
      "Sitemap: /local.xml\n"

  /** X-URL12 — `Sitemap:` autodiscovery directives: the robots.txt →
    * sitemap-discovery bootstrap link (a crawler that only follows
    * configured sitemap URLs misses every site that advertises them in
    * robots.txt — the dominant advertisement channel). The oracle
    * re-parses the planted files relationally with the same line
    * normalization; the BOM, the spacing/case variant, the in-group
    * directive, and the dropped relative value are all in the hash.
    */
  private val url12 = Probe(
    "x_url12_robots_sitemaps",
    s"""WITH h AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
       |rb AS (
       |  SELECT 's' || CAST(h AS VARCHAR) || '.example.com' AS host,
       |    replace(CASE WHEN h % 2 = 0
       |      THEN ${graft.clean.EncodingFns.sqlLit("\ufeff" + robotsSmSelf)}
       |      ELSE ${graft.clean.EncodingFns.sqlLit(robotsSmSelf)} END,
       |      'HOST', CAST(h AS VARCHAR)) AS txt
       |  FROM h),
       |$sitemapDirectivesDuck
       |SELECT host, sitemap_url FROM smd
       |ORDER BY host, sitemap_url""".stripMargin) { (s, dir) =>
    val robots = Tables(s, dir, "documents")
      .select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("s"), col("h").cast("string"), lit(".example.com")).as("host"),
        regexp_replace(
          when(col("h") % 2 === 0, lit("\ufeff" + robotsSmSelf))
            .otherwise(lit(robotsSmSelf)),
          lit("HOST"), col("h").cast("string")).as("robots_txt"))
    sitemapDirectives(robots).orderBy("host", "sitemap_url")
  }

  val all: Seq[Probe] = Seq(url6, url8, url12)
}

package graft.ext

import graft.{Probe, Tables}
import graft.clean.UrlFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-page crawl signals BEYOND anchors — the two wild-web mechanisms
  * that redirect or collapse pages without an HTTP header:
  *
  *   - `<link rel="canonical" href=…>` — the page declares which URL
  *     is the REPRESENTATIVE of its duplicate cluster (session-id
  *     variants, print views, mirrors). A crawl-derived training set
  *     collapses on the canonical target BEFORE content dedup ever
  *     runs — it is the publisher-declared dedup key, and honoring it
  *     is both cheaper and more precise than near-dup detection.
  *   - `<meta http-equiv="refresh" content="N; url=…">` — the in-HTML
  *     redirect legacy sites still use; a crawler that only reads
  *     Location headers misses these edges entirely.
  *
  * Both reuse the anchor tier's machinery: the quoted-span attribute
  * region ([[LinkGraph.attrRegion]]), any-quoting attribute reads
  * ([[LinkGraph.attrOf]]), entity decode, `<base href>` resolution,
  * and URL canonicalization. FIRST-wins selection is an aggregation
  * (`min(struct(pos, …))`), never a window — per-page element lists
  * are tiny but a window would still hash-exchange the corpus by page.
  *
  * Scale shape: narrow regex projections + one explode; the cluster
  * rollup is ONE exchange on the cluster key; meta-refresh edges are
  * page-count sized before their host rollup.
  */
object PageSignals {

  private val linkRe = s"(?is)<link\\b${LinkGraph.attrRegion}>"
  private val metaRe = s"(?is)<meta\\b${LinkGraph.attrRegion}>"

  /** `rel` carries `canonical` as a whitespace-separated token. */
  private val canonicalTokenRe = "(?is)(^|\\s)canonical(\\s|$)"

  /** `http-equiv` equals `refresh` (token, case-insensitive). */
  private val refreshRe = "(?is)^\\s*refresh\\s*$"

  /** The canonical-cluster target of each page: the FIRST
    * `<link rel=…canonical…>` element's href (any quoting form,
    * entity-decoded, resolved against the effective `<base href>`,
    * canonicalized), keyed by the page's canonical URL. Pages with no
    * canonical link produce no row — the caller treats them as their
    * own cluster. One row per page; no exchange before the caller's
    * rollup.
    */
  def canonicalTargets(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    pages
      .select(col(urlCol).as("__u"),
        LinkGraph.effectiveBase(col(urlCol), col(htmlCol)).as("__b"),
        posexplode(regexp_extract_all(col(htmlCol), lit(linkRe), lit(1)))
          .as(Seq("__i", "__attrs")))
      .filter(coalesce(
        LinkGraph.attrOf(col("__attrs"), "rel").rlike(canonicalTokenRe),
        lit(false)))
      .select(col("__u"), col("__i"),
        LinkGraph.resolveHref(col("__b"),
          LinkGraph.decodeEntities(
            LinkGraph.attrOf(col("__attrs"), "href"))).as("__r"))
      .filter(col("__r").isNotNull)
      // FIRST canonical link wins (document order) — min over a
      // (position, target) struct, an aggregation instead of a window
      .groupBy(col("__u"))
      .agg(min(struct(col("__i"), col("__r"))).as("__first"))
      .select(
        UrlFns.canonicalUrl(col("__u")).as("page"),
        UrlFns.canonicalUrl(col("__first.__r")).as("canonical"))

  /** Meta-refresh redirect EDGES: the FIRST `<meta http-equiv=refresh>`
    * element per page whose `content` carries a url part mints
    * (src, dst, delay_s); a bare-delay content ("30" — reload self)
    * mints nothing. The url part tolerates the wild forms: any case,
    * optional single/double quotes, whitespace around `;` and `=`.
    */
  def metaRefreshEdges(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    val content = LinkGraph.attrOf(col("__attrs"), "content")
    val rawUrl = regexp_extract(content, "(?is);\\s*url\\s*=\\s*(.*)$", 1)
    // strip one layer of matching-or-not quotes, then trim
    val unq = regexp_replace(regexp_replace(trim(rawUrl), "^['\"]", ""),
      "['\"]$", "")
    pages
      .select(col(urlCol).as("__u"),
        LinkGraph.effectiveBase(col(urlCol), col(htmlCol)).as("__b"),
        posexplode(regexp_extract_all(col(htmlCol), lit(metaRe), lit(1)))
          .as(Seq("__i", "__attrs")))
      .filter(coalesce(
        LinkGraph.attrOf(col("__attrs"), "http-equiv").rlike(refreshRe),
        lit(false)))
      .select(col("__u"), col("__b"), col("__i"),
        regexp_extract(content, "^\\s*([0-9]+)", 1).as("__delay"),
        unq.as("__target"))
      .filter(col("__delay") =!= "")
      // first refresh element wins, even if its url part is empty (a
      // self-reload SHADOWS later redirecting refreshes — browsers act
      // on the first)
      .groupBy(col("__u"))
      .agg(min(struct(col("__i"), col("__delay"), col("__target"), col("__b")))
        .as("__f"))
      .filter(col("__f.__target") =!= "")
      .select(col("__u"),
        LinkGraph.resolveHref(col("__f.__b"),
          LinkGraph.decodeEntities(col("__f.__target"))).as("__r"),
        col("__f.__delay").cast("long").as("delay_s"))
      .filter(col("__r").isNotNull)
      .select(
        UrlFns.canonicalUrl(col("__u")).as("src"),
        UrlFns.canonicalUrl(col("__r")).as("dst"),
        col("delay_s"))
      .withColumn("dst_host",
        UrlFns.host(col("dst")))
  }

  // ------------------------------------------------------------ fixtures

  /** Pages with session-variant URLs declaring canonical cluster
    * representatives: groups of 3 docs share a canonical target; a
    * stylesheet link BEFORE the canonical must be skipped by the rel
    * filter; a decoy SECOND canonical must lose to the first; doc%4=1
    * declares its canonical RELATIVE (resolves via the page URL);
    * doc%6=5 carries an entity-escaped query (`&amp;` must decode and
    * canonical-sort); doc%11=0 has NO canonical link (self-cluster).
    */
  private[graft] def canonicalPages(docs: DataFrame): DataFrame = {
    val repN = col("doc_id") - (col("doc_id") % 3)
    val rep = repN.cast("string")
    // the canonical target is keyed by the REPRESENTATIVE (host and
    // path), so a rep-group's pages genuinely collapse onto one key;
    // the relative branch resolves against the PAGE host instead -- a
    // same-host canonical at a session URL, clustering separately
    val canonHref =
      when(col("doc_id") % 4 === 1, concat(lit("/v/"), rep))
        .when(col("doc_id") % 6 === 5, concat(
          lit("https://c"), (repN % 5).cast("string"),
          lit(".example.com/v/"), rep, lit("?x=1&amp;b=2")))
        .otherwise(concat(
          lit("https://c"), (repN % 5).cast("string"),
          lit(".example.com/v/"), rep))
    docs.select(col("doc_id"),
      concat(lit("https://c"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/v/"), col("doc_id").cast("string"),
        lit("?session="), (col("doc_id") % 7).cast("string"),
        lit("&utm_source=m")).as("url"),
      concat(
        lit("<html><head><link rel=\"stylesheet\" href=\"/css/m.css\">"),
        when(col("doc_id") % 11 === 0, lit("")).otherwise(concat(
          lit("<link rel=\"alternate canonical\" href=\""), canonHref,
          lit("\"><link rel=\"canonical\" href=\"https://decoy.example.com/x\">"))),
        lit("</head><body><p>"), col("text"),
        lit("</p></body></html>")).as("html"))
  }

  private def canonicalPagesDuck: String = {
    val rep = "CAST(doc_id - (doc_id % 3) AS VARCHAR)"
    val repH = "CAST((doc_id - (doc_id % 3)) % 5 AS VARCHAR)"
    val canonHref =
      s"""(CASE
         |  WHEN doc_id % 4 = 1 THEN '/v/' || $rep
         |  WHEN doc_id % 6 = 5 THEN 'https://c' || $repH ||
         |    '.example.com/v/' || $rep || '?x=1&amp;b=2'
         |  ELSE 'https://c' || $repH ||
         |    '.example.com/v/' || $rep END)""".stripMargin
    s"""SELECT doc_id,
       |  'https://c' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/v/' ||
       |    CAST(doc_id AS VARCHAR) || '?session=' || CAST(doc_id % 7 AS VARCHAR) ||
       |    '&utm_source=m' AS url,
       |  '<html><head><link rel="stylesheet" href="/css/m.css">' ||
       |  CASE WHEN doc_id % 11 = 0 THEN '' ELSE
       |    '<link rel="alternate canonical" href="' || $canonHref ||
       |    '"><link rel="canonical" href="https://decoy.example.com/x">' END ||
       |  '</head><body><p>' || text || '</p></body></html>' AS html
       |FROM documents""".stripMargin
  }

  /** [[canonicalTargets]] as oracle CTEs over a `pg`(url, html) CTE:
    * `ctg` holds (page, canonical).
    */
  private def canonicalTargetsDuck: String = {
    val cu = UrlFns.canonicalUrlDuck _
    s"""le0 AS (
       |  SELECT url, ${LinkGraph.effectiveBaseDuck("url", "html")} AS base,
       |    regexp_extract_all(html, ${LinkGraph.qq(linkRe)}, 1) AS arr
       |  FROM pg),
       |le AS (
       |  SELECT url, base, CAST(i AS INTEGER) AS i, arr[i] AS attrs
       |  FROM le0, UNNEST(generate_series(1, len(arr))) AS t(i)),
       |lc AS (
       |  SELECT url, i,
       |    ${LinkGraph.resolveHrefDuck("base",
              LinkGraph.decodeEntitiesDuck(LinkGraph.attrOfDuck("attrs", "href")))} AS r
       |  FROM le
       |  WHERE COALESCE(regexp_matches(${LinkGraph.attrOfDuck("attrs", "rel")},
       |    '$canonicalTokenRe'), FALSE)),
       |lf AS (
       |  SELECT url, r FROM (
       |    SELECT url, r, row_number() OVER (PARTITION BY url ORDER BY i) AS rn
       |    FROM lc WHERE r IS NOT NULL) WHERE rn = 1),
       |ctg AS (
       |  SELECT ${cu("url")} AS page, ${cu("r")} AS canonical FROM lf)""".stripMargin
  }

  // ------------------------------------------------------------- probes

  /** X-LNK7 — publisher-declared dedup: pages cluster on their
    * `rel=canonical` target (session variants of one article land on
    * one cluster key; pages without the link are their own cluster);
    * survivor = min doc_id. The oracle replays element extraction, the
    * rel token filter, first-wins selection, base resolution, entity
    * decode, canonicalization, and the cluster rollup. Output per
    * cluster: size and survivor — the artifact a curation pass
    * consumes BEFORE content dedup ever runs.
    */
  private val lnk7 = Probe(
    "x_lnk7_canonical_cluster",
    s"""WITH pg AS MATERIALIZED ($canonicalPagesDuck),
       |$canonicalTargetsDuck,
       |cl AS (
       |  SELECT p.doc_id,
       |    COALESCE(ctg.canonical, ${UrlFns.canonicalUrlDuck("p.url")}) AS cluster
       |  FROM pg p LEFT JOIN ctg
       |    ON ctg.page = ${UrlFns.canonicalUrlDuck("p.url")})
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_pages,
       |  CAST(MIN(doc_id) AS BIGINT) AS survivor
       |FROM cl GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, dir) =>
    val pages = canonicalPages(Tables(s, dir, "documents"))
    val ct = canonicalTargets(pages)
    pages.select(col("doc_id"),
        UrlFns.canonicalUrl(col("url")).as("page"))
      .join(ct, Seq("page"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("page")).as("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("survivor"))
      .orderBy("cluster")
  }

  /** Meta-refresh fixture: per doc%5 a bare path form (`0; url=/…`),
    * an UNQUOTED-attr uppercase form with a tracking param
    * (canonicalization visible), a SELF-reload (`content="30"` — no
    * edge), a body decoy carrying `url=/fake` OUTSIDE any meta tag,
    * and no meta at all. doc%10=1 pages carry a SECOND refresh that
    * must lose to the first.
    */
  private[graft] def refreshPages(docs: DataFrame): DataFrame = {
    val meta =
      when(col("doc_id") % 5 === 0, concat(
        lit("<meta http-equiv=\"refresh\" content=\"0; url=/moved/"),
        (col("doc_id") % 7).cast("string"), lit("\">")))
      .when(col("doc_id") % 5 === 1, concat(
        lit("<meta http-equiv=REFRESH content='5;URL=https://m"),
        (col("doc_id") % 3).cast("string"), lit(".example.com/t/"),
        (col("doc_id") % 11).cast("string"),
        lit("?utm_source=z&a=1'>")))
      .when(col("doc_id") % 5 === 2,
        lit("<meta http-equiv=\"refresh\" content=\"30\">"))
      .when(col("doc_id") % 5 === 3,
        lit("<p>content=\"0; url=/fake\" http-equiv=refresh</p>"))
      .otherwise(lit(""))
    val second = when(col("doc_id") % 10 === 1,
      lit("<meta http-equiv=\"refresh\" content=\"1; url=https://late.example.com/x\">"))
      .otherwise(lit(""))
    docs.select(col("doc_id"),
      concat(lit("https://r"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/pg/"), col("doc_id").cast("string")).as("url"),
      concat(lit("<html><head>"), meta, second,
        lit("</head><body><p>"), col("text"),
        lit("</p></body></html>")).as("html"))
  }

  private def refreshPagesDuck: String =
    s"""SELECT doc_id,
       |  'https://r' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/pg/' ||
       |    CAST(doc_id AS VARCHAR) AS url,
       |  '<html><head>' ||
       |  (CASE doc_id % 5
       |    WHEN 0 THEN '<meta http-equiv="refresh" content="0; url=/moved/' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '">'
       |    WHEN 1 THEN '<meta http-equiv=REFRESH content=''5;URL=https://m' ||
       |      CAST(doc_id % 3 AS VARCHAR) || '.example.com/t/' ||
       |      CAST(doc_id % 11 AS VARCHAR) || '?utm_source=z&a=1''>'
       |    WHEN 2 THEN '<meta http-equiv="refresh" content="30">'
       |    WHEN 3 THEN '<p>content="0; url=/fake" http-equiv=refresh</p>'
       |    ELSE '' END) ||
       |  (CASE WHEN doc_id % 10 = 1
       |    THEN '<meta http-equiv="refresh" content="1; url=https://late.example.com/x">'
       |    ELSE '' END) ||
       |  '</head><body><p>' || text || '</p></body></html>' AS html
       |FROM documents""".stripMargin

  /** X-URL14 — meta-refresh redirects: the in-HTML redirect form a
    * header-only crawler misses. Per target host: distinct edges and
    * the minimum declared delay; self-reloads and body decoys mint
    * nothing; the first refresh element shadows later ones. The oracle
    * replays element extraction, the http-equiv token filter, content
    * parsing (delay + optionally-quoted url), first-wins, resolution,
    * and canonicalization.
    */
  private val url14 = Probe(
    "x_url14_meta_refresh",
    {
      val cu = UrlFns.canonicalUrlDuck _
      val content = LinkGraph.attrOfDuck("attrs", "content")
      val rawUrl = s"regexp_extract($content, '(?is);\\s*url\\s*=\\s*(.*)$$', 1)"
      val unq = s"regexp_replace(regexp_replace(trim($rawUrl), '^[''\"]', ''), '[''\"]$$', '')"
      s"""WITH pg AS MATERIALIZED ($refreshPagesDuck),
         |me0 AS (
         |  SELECT url, ${LinkGraph.effectiveBaseDuck("url", "html")} AS base,
         |    regexp_extract_all(html, ${LinkGraph.qq(metaRe)}, 1) AS arr
         |  FROM pg),
         |me AS (
         |  SELECT url, base, CAST(i AS INTEGER) AS i, arr[i] AS attrs
         |  FROM me0, UNNEST(generate_series(1, len(arr))) AS t(i)),
         |mr AS (
         |  SELECT url, base, i,
         |    regexp_extract($content, '^\\s*([0-9]+)', 1) AS delay,
         |    $unq AS target
         |  FROM me
         |  WHERE COALESCE(regexp_matches(${LinkGraph.attrOfDuck("attrs", "http-equiv")},
         |    '$refreshRe'), FALSE)),
         |mf AS (
         |  SELECT url, base, delay, target FROM (
         |    SELECT url, base, delay, target,
         |      row_number() OVER (PARTITION BY url ORDER BY i) AS rn
         |    FROM mr WHERE delay <> '') WHERE rn = 1),
         |ed AS (
         |  SELECT ${cu("url")} AS src, ${cu("r")} AS dst,
         |    CAST(delay AS BIGINT) AS delay_s
         |  FROM (
         |    SELECT url, delay,
         |      ${LinkGraph.resolveHrefDuck("base", LinkGraph.decodeEntitiesDuck("target"))} AS r
         |    FROM mf WHERE target <> '')
         |  WHERE r IS NOT NULL)
         |SELECT ${UrlFns.hostDuck("dst")} AS dst_host,
         |  CAST(COUNT(DISTINCT (src, dst)) AS BIGINT) AS n_edges,
         |  CAST(MIN(delay_s) AS BIGINT) AS min_delay_s
         |FROM ed GROUP BY 1 ORDER BY dst_host""".stripMargin
    }) { (s, dir) =>
    metaRefreshEdges(refreshPages(Tables(s, dir, "documents")))
      .groupBy("dst_host")
      .agg(count_distinct(col("src"), col("dst")).as("n_edges"),
        min(col("delay_s")).as("min_delay_s"))
      .orderBy("dst_host")
  }

  val all: Seq[Probe] = Seq(lnk7, url14)
}

package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CRAWL-PLANNING side composed end to end (round-11 verdict #4):
  * sitemap discovery → frontier canonicalization → robots wildcard
  * gate → per-host fetch cap → crawl-delay politeness schedule. The
  * ingest side got its flagship compositions (x_warc2/5, x_pipe6/8/9);
  * until x_pipe10 the planning tiers were only INDIVIDUALLY green
  * (x_url4/6/7/8) — this pins the stage interactions: gated-out URLs
  * never reach the schedule, and the schedule prices the CAPPED fetch
  * count, not the raw discovery count.
  *
  * Shape at scale: discovery scans split XML; canonicalization is one
  * distinct (exchange on canon); the gate joins rules host-keyed with
  * per-URL winners from a bounded window (≤ rules-per-host matches);
  * the cap is the salted two-level top-K ([[PipelineOps13.hostCap]]'s
  * discipline — a mega-host never becomes one task); the schedule is
  * one host-keyed aggregation joined to the tiny parsed-delays table.
  */
object Frontier {

  /** Per-host fetch PLAN from a discovered frontier: canonical pages
    * gated through the parsed robots rules, capped at `cap` fetches per
    * host (deterministic canon-ascending rank via salted two-level
    * top-K — exact, because a host's true top-`cap` are each top-`cap`
    * within their own salt bucket), priced by the parsed Crawl-delay
    * (scheduler `defaultDelayMs` where absent). One row per discovered
    * host: (host, n_discovered, n_allowed, n_fetch, delay_ms,
    * fetch_sec).
    */
  def frontierPlan(locs: DataFrame, robots: DataFrame, cap: Int = 8,
      agent: String = RobotsTxt.DefaultAgent, defaultDelayMs: Long = 1000L,
      salts: Int = 16, stageDir: String = null): DataFrame = {
    val s = locs.sparkSession
    // staged writes (the x_pipe8 discipline): the robots PARSE feeds two
    // consumers (rules for the gate, delays for the schedule) and the
    // GATE feeds two (the rollup and the cap) — materializing each once
    // keeps the plan from executing the parse chain and the gate's
    // window tree twice per run.
    // A long-lived driver calling this planning API repeatedly should
    // pass a fixed `stageDir`: the stage writes are mode("overwrite"),
    // so successive plans reuse the same two paths instead of
    // accumulating frontier-sized copies under /tmp until JVM exit
    // (the default TempDirs.scratch is the probe-path fallback, whose
    // sweeps are bounded and cleaned by the exit hook).
    // CONTRACT: with a reused stageDir, calling frontierPlan again
    // INVALIDATES every DataFrame a previous call returned — the
    // returned plan reads the staged parquet lazily, and the next
    // call's overwrite deletes those files under it (stale handles
    // read the NEW frontier or fail mid-overwrite). Materialize
    // (collect/write) each plan before replanning.
    val stage = if (stageDir != null) stageDir
      else graft.util.TempDirs.scratch("graft_frontier_plan")
    RobotsTxt.selectedLines(robots, agent)
      .write.mode("overwrite").parquet(s"$stage/sel")
    val sel = s.read.parquet(s"$stage/sel")
    val frontier = locs
      .select(graft.clean.UrlFns.canonicalUrl(col("loc")).as("canon"))
      .distinct()
    // the gate keys rows by its `doc_id` column — the canon string IS
    // the frontier's identity here
    RobotsTxt.robotsGateWild(
        frontier.select(col("canon").as("doc_id"), col("canon").as("url")),
        RobotsTxt.rulesFromLines(sel))
      .write.mode("overwrite").parquet(s"$stage/gated")
    val gated = s.read.parquet(s"$stage/gated")
    val allowed = gated.filter(col("allowed") === 1)
      .select(col("host"), col("doc_id").as("canon"))
    val fetch = allowed
      .withColumn("__salt", pmod(hash(col("canon")), lit(salts)))
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col("host"), col("__salt")).orderBy(col("canon").asc)))
      .filter(col("__lr") <= cap)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("host")).orderBy(col("canon").asc)))
      .filter(col("__rk") <= cap)
    gated.groupBy("host")
      .agg(count(lit(1)).as("n_discovered"), sum(col("allowed")).as("n_allowed"))
      .join(fetch.groupBy("host").agg(count(lit(1)).as("n_fetch")), Seq("host"), "left")
      .join(RobotsTxt.delaysFromLines(sel), Seq("host"), "left")
      .select(col("host"), col("n_discovered"),
        col("n_allowed").cast("long").as("n_allowed"),
        coalesce(col("n_fetch"), lit(0L)).as("n_fetch"),
        coalesce(col("delay_ms"), lit(defaultDelayMs)).as("delay_ms"))
      .withColumn("fetch_sec", expr("n_fetch * delay_ms DIV 1000"))
  }

  /** Robots fixture for the plan: a graftbot group (allow carve-out,
    * prefix block, wildcard block, 2 s delay) plus a `*` group whose
    * `/ok` block and 0.5 s delay MUST be ignored on these hosts —
    * if group selection slipped, every mode-4 page would vanish from
    * the plan and the schedule would price 500 ms.
    */
  private[graft] val robotsPlanSelf =
    "User-agent: GraftBot\nAllow: /private/ok\nDisallow: /private\n" +
      "Disallow: /*/data$\nCrawl-delay: 2\n\n" +
      "User-agent: *\nDisallow: /ok\nCrawl-delay: 0.5\n"

  /** The fallback-host fixture: selection lands on `*` (blocks /pub,
    * 1.5 s); the otherbot group's block-all must not apply.
    */
  private[graft] val robotsPlanStar =
    "User-agent: otherbot\nDisallow: /\nCrawl-delay: 9\n\n" +
      "User-agent: *\nDisallow: /pub\nCrawl-delay: 1.5\n"

  /** X-PIPE10 — the composed crawl plan: documents render as ONE
    * sitemap.xml (entity-escaped tracking params, five path shapes per
    * host), written train-once and re-read through the SPLITTABLE
    * element reader; the steady pipeline canonicalizes (tracking params
    * drop, duplicates collapse), gates through parsed robots (even
    * hosts serve a graftbot group — the star-wildcard `data$` rule and prefix
    * `/private` block, the `/private/ok` carve-out and the ignored `*`
    * group's `/ok` block prove selection; odd hosts fall back to `*`
    * which blocks `/pub`), caps fetches at 8 per host (binding exactly
    * on the hosts whose mode-4 page variety exceeds it), and prices the
    * schedule with the SELECTED group's Crawl-delay. The oracle
    * recomputes every stage relationally — discovery construction,
    * canonicalization, the full robots parse + wildcard match, the flat
    * per-host rank the salted cap must equal, and the schedule
    * arithmetic — in one nested query.
    */
  private val pipe10 = Probe(
    "x_pipe10_crawl_plan",
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % 7 AS h,
       |    'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
       |    (CASE doc_id % 5
       |       WHEN 0 THEN '/x/data'
       |       WHEN 1 THEN '/private/data'
       |       WHEN 2 THEN '/private/ok/page'
       |       WHEN 3 THEN '/pub/x'
       |       ELSE '/ok/p' || CAST(doc_id % (2 + 5 * (doc_id % 7)) AS VARCHAR) END) ||
       |    '?utm_source=feed&utm_id=' || CAST(doc_id % 3 AS VARCHAR) AS loc
       |  FROM documents),
       |hosts AS (SELECT DISTINCT h FROM d),
       |rb AS (
       |  SELECT 'www.example' || CAST(h AS VARCHAR) || '.com' AS host,
       |    CASE WHEN h % 2 = 0
       |      THEN ${graft.clean.EncodingFns.sqlLit(robotsPlanSelf)}
       |      ELSE ${graft.clean.EncodingFns.sqlLit(robotsPlanStar)} END AS txt
       |  FROM hosts),
       |${RobotsTxt.parseRobotsDuck()},
       |${RobotsTxt.crawlDelaysDuck},
       |c AS (
       |  SELECT DISTINCT ${graft.clean.UrlFns.canonicalUrlDuck("loc")} AS canon FROM d),
       |p AS (
       |  SELECT canon,
       |    regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    regexp_replace(canon, '^[a-z0-9+.-]+://[^/?#]*', '', 'g') AS path
       |  FROM c),
       |m AS (
       |  SELECT p.canon, p.host, r.pattern, r.allow,
       |    (r.pattern IS NOT NULL AND regexp_matches(
       |      ${RobotsTxt.pctDecodeUnreservedDuck("p.path")},
       |      ${RobotsTxt.patternRegexDuck("r.pattern")})) AS hit
       |  FROM p LEFT JOIN rules r ON r.host = p.host),
       |w AS (
       |  SELECT canon, host, hit, allow,
       |    row_number() OVER (PARTITION BY canon
       |      ORDER BY hit DESC, length(pattern) DESC, allow DESC, pattern ASC) AS rn
       |  FROM m),
       |g AS (
       |  SELECT canon, host,
       |    CAST(CASE WHEN hit THEN allow ELSE 1 END AS BIGINT) AS allowed
       |  FROM w WHERE rn = 1),
       |f AS (
       |  SELECT host, canon,
       |    row_number() OVER (PARTITION BY host ORDER BY canon ASC) AS rk
       |  FROM g WHERE allowed = 1),
       |agg AS (
       |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_discovered,
       |    CAST(SUM(allowed) AS BIGINT) AS n_allowed
       |  FROM g GROUP BY host),
       |nf AS (
       |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fetch FROM f
       |  WHERE rk <= 8 GROUP BY host)
       |SELECT agg.host, agg.n_discovered, agg.n_allowed,
       |  COALESCE(nf.n_fetch, 0) AS n_fetch,
       |  CAST(COALESCE(delays.delay_ms, 1000) AS BIGINT) AS delay_ms,
       |  CAST(COALESCE(nf.n_fetch, 0) * COALESCE(delays.delay_ms, 1000) // 1000 AS BIGINT)
       |    AS fetch_sec
       |FROM agg
       |LEFT JOIN nf ON nf.host = agg.host
       |LEFT JOIN delays ON delays.host = agg.host
       |ORDER BY agg.host""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"frontier_sitemap:$dir") {
      val p = graft.util.TempDirs.scratch("graft_frontier")
      // the loc is entity-ESCAPED in the file (& → &amp;, as a
      // conformant sitemap writer emits); the reader decodes it back
      val entry = concat(
        lit("<url><loc>https://www.example"), (col("doc_id") % 7).cast("string"),
        lit(".com"),
        when(col("doc_id") % 5 === 0, lit("/x/data"))
          .when(col("doc_id") % 5 === 1, lit("/private/data"))
          .when(col("doc_id") % 5 === 2, lit("/private/ok/page"))
          .when(col("doc_id") % 5 === 3, lit("/pub/x"))
          .otherwise(concat(lit("/ok/p"),
            (col("doc_id") % (lit(2) + lit(5) * (col("doc_id") % 7))).cast("string"))),
        lit("?utm_source=feed&amp;utm_id="), (col("doc_id") % 3).cast("string"),
        lit("</loc></url>"))
      Tables(s, dir, "documents")
        .select(col("doc_id").as("ord"), entry.as("value"))
        .unionAll(s.range(1).select(lit(-1L).as("ord"),
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">").as("value")))
        .unionAll(s.range(1).select(lit(Long.MaxValue).as("ord"),
          lit("</urlset>").as("value")))
        .repartition(1).sortWithinPartitions("ord")
        .select("value")
        .write.mode("overwrite").text(p)
      p
    }
    val robots = Tables(s, dir, "documents")
      .select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("www.example"), col("h").cast("string"), lit(".com")).as("host"),
        when(col("h") % 2 === 0, lit(robotsPlanSelf))
          .otherwise(lit(robotsPlanStar)).as("robots_txt"))
    frontierPlan(
      graft.sources.Sitemap.readUrlEntries(s, out).select("loc"),
      robots).orderBy("host")
  }

  /** Robots fixtures for the ranked plan (x_pipe12), keyed to the link
    * fixture's path shapes: even hosts serve a GraftBot group (mirror
    * section `/s/` blocked with an `/s/1` carve-out, a `*b$` wildcard
    * that catches exactly `/hub`, 2 s delay) whose `*` group blocks
    * EVERYTHING — if selection slipped, even hosts would vanish from
    * the plan; odd hosts fall back to `*` (partner section `/p/`
    * blocked, 0.5 s delay), with an otherbot block-all that must not
    * apply.
    */
  private[graft] val robotsLinkSelf =
    "User-agent: GraftBot\nDisallow: /s/\nAllow: /s/1\nDisallow: /*b$\n" +
      "Crawl-delay: 2\n\nUser-agent: *\nDisallow: /\n"
  private[graft] val robotsLinkStar =
    "User-agent: otherbot\nDisallow: /\nCrawl-delay: 9\n\n" +
      "User-agent: *\nDisallow: /p/\nCrawl-delay: 0.5\n"

  /** X-PIPE12 — the RANK-PRIORITIZED crawl plan: today's pages yield
    * tomorrow's frontier. One linked-page corpus drives BOTH sides —
    * (a) anchor extraction → host graph → 5-iteration exact-integer
    * PageRank, and (b) the extracted target URLs as the discovered
    * frontier → robots wildcard gate → per-host cap → politeness
    * schedule — and the plan orders hosts by the rank the graph side
    * computed (fetch priority = centrality, the public crawl-scheduling
    * design CommonCrawl's host-rank tables exist for). The oracle
    * recomputes EVERY stage in one nested query: the href regex,
    * resolution, canonical dedup, the host rollup, all five PR
    * iterations, the robots parse + group selection + wildcard match,
    * the flat rank the salted cap must equal, the delay pricing, and
    * the final priority window. The extracted links are staged once
    * (the x_pipe8 staged-write discipline) because two consumers — the
    * graph and the frontier — would otherwise re-run extraction.
    */
  private val pipe11 = Probe(
    "x_pipe12_ranked_crawl_plan",
    s"""WITH ${LinkGraph.linkCtesDuck},
       |${LinkGraph.pageRankCtesDuck(5)},
       |rbh AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
       |rb AS (
       |  SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       |    CASE WHEN h % 2 = 0
       |      THEN ${graft.clean.EncodingFns.sqlLit(robotsLinkSelf)}
       |      ELSE ${graft.clean.EncodingFns.sqlLit(robotsLinkStar)} END AS txt
       |  FROM rbh),
       |${RobotsTxt.parseRobotsDuck()},
       |${RobotsTxt.crawlDelaysDuck},
       |c AS (
       |  SELECT DISTINCT ${graft.clean.UrlFns.canonicalUrlDuck("dst")} AS canon FROM pp),
       |p AS (
       |  SELECT canon,
       |    regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    regexp_replace(canon, '^[a-z0-9+.-]+://[^/?#]*', '', 'g') AS path
       |  FROM c),
       |m AS (
       |  SELECT p.canon, p.host, r.pattern, r.allow,
       |    (r.pattern IS NOT NULL AND regexp_matches(
       |      ${RobotsTxt.pctDecodeUnreservedDuck("p.path")},
       |      ${RobotsTxt.patternRegexDuck("r.pattern")})) AS hit
       |  FROM p LEFT JOIN rules r ON r.host = p.host),
       |w AS (
       |  SELECT canon, host, hit, allow,
       |    row_number() OVER (PARTITION BY canon
       |      ORDER BY hit DESC, length(pattern) DESC, allow DESC, pattern ASC) AS rn
       |  FROM m),
       |g AS (
       |  SELECT canon, host,
       |    CAST(CASE WHEN hit THEN allow ELSE 1 END AS BIGINT) AS allowed
       |  FROM w WHERE rn = 1),
       |f AS (
       |  SELECT host, canon,
       |    row_number() OVER (PARTITION BY host ORDER BY canon ASC) AS rk
       |  FROM g WHERE allowed = 1),
       |agg AS (
       |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_discovered,
       |    CAST(SUM(allowed) AS BIGINT) AS n_allowed
       |  FROM g GROUP BY host),
       |nf AS (
       |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fetch FROM f
       |  WHERE rk <= 8 GROUP BY host),
       |plan AS (
       |  SELECT agg.host, agg.n_discovered, agg.n_allowed,
       |    COALESCE(nf.n_fetch, 0) AS n_fetch,
       |    CAST(COALESCE(delays.delay_ms, 1000) AS BIGINT) AS delay_ms,
       |    CAST(COALESCE(nf.n_fetch, 0) * COALESCE(delays.delay_ms, 1000) // 1000 AS BIGINT)
       |      AS fetch_sec
       |  FROM agg
       |  LEFT JOIN nf ON nf.host = agg.host
       |  LEFT JOIN delays ON delays.host = agg.host),
       |pr AS (SELECT host, CAST(rank_ppb AS BIGINT) AS rank_ppb FROM pr5)
       |SELECT
       |  CAST(row_number() OVER (
       |    ORDER BY COALESCE(pr.rank_ppb, 0) DESC, plan.host ASC) AS BIGINT) AS priority,
       |  plan.host, COALESCE(pr.rank_ppb, 0) AS rank_ppb,
       |  plan.n_discovered, plan.n_allowed, plan.n_fetch, plan.delay_ms, plan.fetch_sec
       |FROM plan LEFT JOIN pr ON pr.host = plan.host
       |ORDER BY priority""".stripMargin) { (s, dir) =>
    val docs = Tables.spread(s, dir, "documents")
    val stage = graft.util.TempDirs.scratch("graft_pipe11")
    LinkGraph.extractLinks(LinkGraph.linkedPages(docs))
      .write.mode("overwrite").parquet(s"$stage/links")
    val links = s.read.parquet(s"$stage/links")
    val rank = LinkGraph.pageRankHosts(LinkGraph.hostGraph(links), iters = 5)
    val robots = docs.select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("h"), col("h").cast("string"), lit(".example.com")).as("host"),
        when(col("h") % 2 === 0, lit(robotsLinkSelf))
          .otherwise(lit(robotsLinkStar)).as("robots_txt"))
    val plan = frontierPlan(links.select(col("dst").as("loc")), robots,
      cap = 8, stageDir = s"$stage/fp")
    // the priority window is GLOBAL but host-table sized (metadata, not
    // corpus) — the same bounded-window reasoning as the schedule rollup
    plan.join(rank.select(col("host"), col("rank_ppb").cast("long").as("rank_ppb")),
        Seq("host"), "left")
      .withColumn("rank_ppb", coalesce(col("rank_ppb"), lit(0L)))
      .withColumn("priority", row_number().over(
        Window.orderBy(col("rank_ppb").desc, col("host").asc)).cast("long"))
      .select("priority", "host", "rank_ppb", "n_discovered", "n_allowed",
        "n_fetch", "delay_ms", "fetch_sec")
      .orderBy("priority")
  }

  /** Redirect EDGES from fetched HTTP responses: 3xx statuses with a
    * Location header, resolved against the request URL (the
    * [[LinkGraph.resolveHref]] rule chain — Location is routinely
    * relative in the wild) and canonicalized. One narrow projection;
    * header-section-bounded extraction, so a body echoing "Location:"
    * can't mint an edge.
    */
  def redirectEdges(responses: DataFrame, urlCol: String = "url",
      payloadCol: String = "payload"): DataFrame = {
    val w = graft.sources.Warc
    responses
      .select(col(urlCol).as("src"),
        w.httpStatus(col(payloadCol)).as("__st"),
        w.httpLocation(col(payloadCol)).as("__loc"))
      .filter(col("__st").isin(301, 302, 303, 307, 308) && col("__loc").isNotNull)
      .select(col("src"),
        LinkGraph.resolveHref(col("src"), col("__loc")).as("__r"))
      .filter(col("__r").isNotNull)
      .select(col("src"), graft.clean.UrlFns.canonicalUrl(col("__r")).as("dst"))
      .withColumn("dst_host",
        regexp_extract(col("dst"), "^[a-z0-9+.-]+://([^/:?#]+)", 1))
  }

  /** Collapse redirect CHAINS to their terminals, bounded at `maxHops`
    * (round-14 verdict "what's missing" #4): a 301 → 302 → page chain
    * must credit rank to the DESTINATION, not the intermediary. The
    * next-hop function is made deterministic first (MIN dst per src —
    * a refetched URL with divergent recorded Locations cannot fork),
    * then every chain start walks ≤ `maxHops` steps; a start whose
    * walk is still on a redirect source after the bound — a loop, a
    * self-redirect, or a deeper-than-bound chain — comes back
    * `resolved = false` and the caller drops it LOUDLY (surface the
    * count; silent drops hide crawl-trap farms).
    *
    * Output: one row per distinct redirect source —
    * (src, dst = the walk's end, hops walked, resolved).
    *
    * Scale shape: the hop table is redirect-sized (a sliver of the
    * fetch log), persisted once; each of the `maxHops` steps is one
    * key-locality join against it. Chains in the wild are 1–3 hops
    * (browsers cap near 20), so the fixed bound is generous; a
    * pointer-halving walk would halve the join count but double the
    * state width — at redirect scale the simple walk wins.
    */
  def collapseRedirects(edges: DataFrame, maxHops: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val f = edges.groupBy(col("src")).agg(min(col("dst")).as("nxt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // no separate materialization job: the walk's first evaluation below
    // populates the cache (out.count), and every later hop join reads it —
    // one fewer driver action per collapse (r17, guide §1.2 on job count)
    var state = f.select(col("src").as("start"), col("nxt").as("cur"),
      lit(1).as("hops"))
    var k = 1
    while (k < maxHops) {
      k += 1
      state = state
        .join(f.select(col("src").as("cur"), col("nxt").as("__n")), Seq("cur"), "left")
        .select(col("start"),
          coalesce(col("__n"), col("cur")).as("cur"),
          when(col("__n").isNotNull, col("hops") + 1).otherwise(col("hops")).as("hops"))
    }
    val out = state
      .join(f.select(col("src").as("cur"), lit(1).as("__isSrc")), Seq("cur"), "left")
      .select(col("start").as("src"), col("cur").as("dst"),
        col("hops").cast("long").as("hops"), col("__isSrc").isNull.as("resolved"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the pageRankHosts persist discipline: materialize the (redirect-
    // sized) result, release the hop table, return the one documented
    // survivor — a long-lived driver must not accumulate f's
    out.count()
    f.unpersist()
    out
  }

  /** [[collapseRedirects]] as oracle CTEs over `<edges>` (src, dst):
    * `${px}f` the deterministic hop table, `${px}col` the collapsed
    * rows (src, dst, hops, resolved). The walk is a recursive CTE —
    * the enclosing query must say WITH RECURSIVE.
    */
  private[ext] def collapseCtesDuck(edges: String, px: String,
      maxHops: Int = 5): String =
    s"""${px}f AS MATERIALIZED (
       |  SELECT src, MIN(dst) AS nxt FROM $edges GROUP BY src),
       |${px}walk AS (
       |  SELECT src AS start, nxt AS cur, 1 AS hops FROM ${px}f
       |  UNION ALL
       |  SELECT w.start, f.nxt, w.hops + 1
       |  FROM ${px}walk w JOIN ${px}f f ON f.src = w.cur
       |  WHERE w.hops < $maxHops),
       |${px}col AS MATERIALIZED (
       |  SELECT start AS src, cur AS dst, CAST(hops AS BIGINT) AS hops,
       |    (cur NOT IN (SELECT src FROM ${px}f)) AS resolved
       |  FROM (
       |    SELECT start, cur, hops,
       |      row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
       |    FROM ${px}walk)
       |  WHERE rn = 1)""".stripMargin

  /** New frontier entries from redirect EDGES: distinct targets that
    * are NOT already fetched (left anti against the fetched canon set —
    * the crawl loop's feedback edge: today's 301s are tomorrow's
    * fetches).
    */
  def frontierFromRedirects(edges: DataFrame, fetched: DataFrame): DataFrame =
    edges.select("dst", "dst_host").distinct()
      .join(fetched.select(col("canon").as("dst")), Seq("dst"), "left_anti")

  /** X-URL11 — the redirect feedback loop: per doc (host r{h}), mode
    * doc%5 plants a 301 (absolute cross-host Location with a tracking
    * param — canonicalization visible), a 302 (RELATIVE Location with a
    * `..` traversal — the wild norm, resolved via the §5.2.4 merge),
    * a 307 (scheme-relative), a 200 whose BODY contains a decoy
    * "Location: /fake" line (header bounding pinned in the hash — a
    * body-scanning extractor would mint /fake edges), and a 404. The
    * fetched set = every fixture URL plus the 302 targets of docs with
    * doc%10=2 (already crawled — the anti-join must drop exactly
    * those). Output: per target host, distinct redirect edges and the
    * NEW frontier targets. The oracle recomputes status/Location
    * extraction, resolution, canonicalization, the fetched-set algebra,
    * and both rollups.
    */
  private val url11 = Probe(
    "x_url11_redirect_frontier",
    {
      val w = graft.sources.Warc
      val lit_ = graft.clean.EncodingFns.sqlLit _
      val url = "'https://r' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR)"
      val p301 = s"${lit_("HTTP/1.1 301 Moved Permanently\r\nLocation: https://r")} || CAST((doc_id % 7 + 3) % 7 AS VARCHAR) || ${lit_(".example.com/t/")} || CAST(doc_id % 13 AS VARCHAR) || ${lit_("?utm_source=x&b=")} || CAST(doc_id % 3 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val p302 = s"${lit_("HTTP/1.1 302 Found\r\nLocation: ../moved/")} || CAST(doc_id % 6 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val p307 = s"${lit_("HTTP/1.1 307 Temporary Redirect\r\nLocation: //r")} || CAST((doc_id % 7 + 1) % 7 AS VARCHAR) || ${lit_(".example.com/s/")} || CAST(doc_id % 4 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val p200 = lit_("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>Location: /fake</p></html>")
      val p404 = lit_("HTTP/1.1 404 Not Found\r\n\r\ngone")
      val cu = graft.clean.UrlFns.canonicalUrlDuck _
      s"""WITH d AS (
         |  SELECT doc_id, $url AS url,
         |    CASE doc_id % 5
         |      WHEN 1 THEN $p301
         |      WHEN 2 THEN $p302
         |      WHEN 3 THEN $p307
         |      WHEN 4 THEN $p200
         |      ELSE $p404 END AS payload
         |  FROM documents),
         |e0 AS (
         |  SELECT url AS src, ${w.httpStatusDuck("payload")} AS st,
         |    ${w.httpLocationDuck("payload")} AS loc
         |  FROM d),
         |e1 AS (
         |  SELECT src, ${LinkGraph.resolveHrefDuck("src", "loc")} AS r
         |  FROM e0 WHERE st IN (301, 302, 303, 307, 308) AND loc IS NOT NULL),
         |ed AS (
         |  SELECT src, ${cu("r")} AS dst,
         |    regexp_extract(${cu("r")}, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS dst_host
         |  FROM e1 WHERE r IS NOT NULL),
         |fetched AS (
         |  SELECT ${cu("url")} AS canon FROM d
         |  UNION
         |  SELECT ${cu(s"('https://r' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/moved/' || CAST(doc_id % 6 AS VARCHAR))")}
         |  FROM d WHERE doc_id % 10 = 2),
         |nf AS (
         |  SELECT dst, dst_host FROM (SELECT DISTINCT dst, dst_host FROM ed) x
         |  WHERE dst NOT IN (SELECT canon FROM fetched)),
         |agg AS (
         |  SELECT dst_host,
         |    CAST(COUNT(DISTINCT (src, dst)) AS BIGINT) AS n_edges
         |  FROM ed GROUP BY dst_host),
         |na AS (
         |  SELECT dst_host, CAST(COUNT(*) AS BIGINT) AS n_new FROM nf GROUP BY dst_host)
         |SELECT agg.dst_host, agg.n_edges, COALESCE(na.n_new, 0) AS n_new
         |FROM agg LEFT JOIN na ON na.dst_host = agg.dst_host
         |ORDER BY agg.dst_host""".stripMargin
    }) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val url = concat(lit("https://r"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"))
    val payload =
      when(col("doc_id") % 5 === 1, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://r"),
        ((col("doc_id") % 7 + 3) % 7).cast("string"),
        lit(".example.com/t/"), (col("doc_id") % 13).cast("string"),
        lit("?utm_source=x&b="), (col("doc_id") % 3).cast("string"),
        lit("\r\n\r\nredirect")))
      .when(col("doc_id") % 5 === 2, concat(
        lit("HTTP/1.1 302 Found\r\nLocation: ../moved/"),
        (col("doc_id") % 6).cast("string"), lit("\r\n\r\nredirect")))
      .when(col("doc_id") % 5 === 3, concat(
        lit("HTTP/1.1 307 Temporary Redirect\r\nLocation: //r"),
        ((col("doc_id") % 7 + 1) % 7).cast("string"),
        lit(".example.com/s/"), (col("doc_id") % 4).cast("string"),
        lit("\r\n\r\nredirect")))
      .when(col("doc_id") % 5 === 4,
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>Location: /fake</p></html>"))
      .otherwise(lit("HTTP/1.1 404 Not Found\r\n\r\ngone"))
    val responses = docs.select(col("doc_id"), url.as("url"), payload.as("payload"))
    val fetched = responses.select(
        graft.clean.UrlFns.canonicalUrl(col("url")).as("canon"))
      .unionByName(docs.filter(col("doc_id") % 10 === 2)
        .select(graft.clean.UrlFns.canonicalUrl(concat(
          lit("https://r"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/moved/"), (col("doc_id") % 6).cast("string"))).as("canon")))
      .distinct()
    // stage the edges ONCE (two consumers): beyond the recompute, the
    // inlined accessor→resolve→canonicalize tree made the OPTIMIZER the
    // bottleneck — ~10 s of driver-side planning with executors idle
    val stage = graft.util.TempDirs.scratch("graft_url11")
    redirectEdges(responses).write.mode("overwrite").parquet(s"$stage/edges")
    val edges = s.read.parquet(s"$stage/edges")
    val agg = edges.groupBy("dst_host")
      .agg(count_distinct(col("src"), col("dst")).as("n_edges"))
    val nf = frontierFromRedirects(edges, fetched)
      .groupBy("dst_host").agg(count(lit(1)).as("n_new"))
    agg.join(nf, Seq("dst_host"), "left")
      .select(col("dst_host"), col("n_edges"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .orderBy("dst_host")
  }

  /** X-PIPE13 — the crawl loop CLOSES: redirect edges re-rank the host
    * graph (round-13 verdict #9's composition — relative-Location
    * resolution AND weighted centrality in ONE nested oracle). The
    * linked corpus yields the base host graph; the same pages' fetch
    * responses plant per doc%4 a 404, a 301 (absolute cross-host with a
    * tracking param — its n_pairs weight must ADD to the link edge's),
    * a 302 (RELATIVE `../m2/…` Location — resolves via the §5.2.4 merge
    * to a same-host target, so it surfaces in the per-host self-redirect
    * count and its min resolved dst, not the graph), and a 200 whose
    * body carries a decoy "Location: /fake". ON TOP (round-14 verdict
    * #4): every doc%8=1 doc's 301 TARGET itself 301s to a z-host page —
    * a 2-hop CHAIN the bounded [[collapseRedirects]] walk must credit
    * to the z TERMINAL, not the h-host intermediary — and two planted
    * lp-host responses redirect to EACH OTHER (a loop, surfaced as
    * n_loop and minting NO edge). Output per host: self-redirect stats,
    * loop count, weighted PageRank BEFORE vs AFTER merging the
    * COLLAPSED redirect edges. The oracle replays extraction, both edge
    * sets, the recursive chain walk, and BOTH full weighted+dangling
    * rank chains.
    */
  private val pipe13 = Probe(
    "x_pipe13_redirect_rerank",
    {
      val w = graft.sources.Warc
      val lit_ = graft.clean.EncodingFns.sqlLit _
      val cu = graft.clean.UrlFns.canonicalUrlDuck _
      val p301 = s"${lit_("HTTP/1.1 301 Moved Permanently\r\nLocation: https://h")} || CAST((doc_id % 7 + 3) % 7 AS VARCHAR) || ${lit_(".example.com/t/")} || CAST(doc_id % 13 AS VARCHAR) || ${lit_("?utm_source=x&b=")} || CAST(doc_id % 3 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val p302 = s"${lit_("HTTP/1.1 302 Found\r\nLocation: ../m2/")} || CAST(doc_id % 5 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val p200 = lit_("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>Location: /fake</p></html>")
      val p404 = lit_("HTTP/1.1 404 Not Found\r\n\r\ngone")
      // the chain hop: the CANONICAL form of the doc%8=1 301 target,
      // responding 301 to a z-host page keyed by the same doc moduli
      val tUrl = s"'https://h' || CAST((doc_id % 7 + 3) % 7 AS VARCHAR) || '.example.com/t/' || CAST(doc_id % 13 AS VARCHAR) || '?b=' || CAST(doc_id % 3 AS VARCHAR)"
      val pChain = s"${lit_("HTTP/1.1 301 Moved Permanently\r\nLocation: https://z")} || CAST((doc_id % 13) % 3 AS VARCHAR) || ${lit_(".example.com/fin/")} || CAST(doc_id % 13 AS VARCHAR) || ${lit_("\r\n\r\nredirect")}"
      val pLoopA = lit_("HTTP/1.1 301 Moved Permanently\r\nLocation: https://lp2.example.com/b\r\n\r\nredirect")
      val pLoopB = lit_("HTTP/1.1 301 Moved Permanently\r\nLocation: https://lp1.example.com/a\r\n\r\nredirect")
      s"""WITH RECURSIVE ${LinkGraph.linkCtesDuck},
         |rd AS MATERIALIZED (
         |  SELECT doc_id, ${LinkGraph.pageUrlDuck} AS url,
         |    CASE doc_id % 4
         |      WHEN 1 THEN $p301
         |      WHEN 2 THEN $p302
         |      WHEN 3 THEN $p200
         |      ELSE $p404 END AS payload
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, $tUrl AS url, $pChain AS payload
         |  FROM documents WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT doc_id, 'https://lp1.example.com/a' AS url, $pLoopA AS payload
         |  FROM documents WHERE doc_id % 20 = 7
         |  UNION ALL
         |  SELECT doc_id, 'https://lp2.example.com/b' AS url, $pLoopB AS payload
         |  FROM documents WHERE doc_id % 20 = 12),
         |re0 AS (
         |  SELECT url AS src, ${w.httpStatusDuck("payload")} AS st,
         |    ${w.httpLocationDuck("payload")} AS loc
         |  FROM rd),
         |re1 AS (
         |  SELECT src, ${LinkGraph.resolveHrefDuck("src", "loc")} AS r
         |  FROM re0 WHERE st IN (301, 302, 303, 307, 308) AND loc IS NOT NULL),
         |red AS MATERIALIZED (
         |  SELECT DISTINCT src, ${cu("r")} AS dst,
         |    regexp_extract(src, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS src_host,
         |    regexp_extract(${cu("r")}, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS dst_host
         |  FROM re1 WHERE r IS NOT NULL),
         |selfr AS MATERIALIZED (
         |  SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS n_self,
         |    MIN(dst) AS min_self_dst
         |  FROM red WHERE src_host = dst_host GROUP BY 1),
         |${collapseCtesDuck("red", "cc")},
         |ccx AS MATERIALIZED (
         |  SELECT src, dst, hops, resolved,
         |    regexp_extract(src, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS src_host,
         |    regexp_extract(dst, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS dst_host
         |  FROM cccol),
         |loopagg AS MATERIALIZED (
         |  SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS n_loop
         |  FROM ccx WHERE NOT resolved GROUP BY 1),
         |rh AS (
         |  SELECT src_host AS src, dst_host AS dst, COUNT(*) AS n_pairs
         |  FROM ccx WHERE resolved AND src_host <> dst_host GROUP BY 1, 2),
         |merged AS MATERIALIZED (
         |  SELECT src, dst, SUM(n_pairs) AS n_pairs FROM (
         |    SELECT * FROM hedges UNION ALL SELECT * FROM rh)
         |  GROUP BY 1, 2),
         |${LinkGraph.pageRankCtesDuck(5, "hedges", "b")},
         |${LinkGraph.pageRankCtesDuck(5, "merged", "m")},
         |allh AS (SELECT DISTINCT host FROM (
         |  SELECT host FROM mpr5 UNION ALL SELECT host FROM loopagg))
         |SELECT h.host,
         |  COALESCE(s.n_self, 0) AS n_self, s.min_self_dst,
         |  COALESCE(l.n_loop, 0) AS n_loop,
         |  CAST(COALESCE(b.rank_ppb, 0) AS BIGINT) AS base_ppb,
         |  CAST(COALESCE(m.rank_ppb, 0) AS BIGINT) AS redir_ppb,
         |  CAST(COALESCE(m.rank_ppb, 0) - COALESCE(b.rank_ppb, 0) AS BIGINT) AS delta_ppb
         |FROM allh h
         |LEFT JOIN mpr5 m ON m.host = h.host
         |LEFT JOIN bpr5 b ON b.host = h.host
         |LEFT JOIN selfr s ON s.host = h.host
         |LEFT JOIN loopagg l ON l.host = h.host
         |ORDER BY h.host""".stripMargin
    }) { (s, dir) =>
    val docs = Tables.spread(s, dir, "documents")
    val hostRe = "^[a-z0-9+.-]+://([^/:?#]+)"
    // stage the extracted links once (two consumers: base graph + rank)
    val stage = graft.util.TempDirs.scratch("graft_pipe13")
    LinkGraph.extractLinks(LinkGraph.linkedPages(docs))
      .write.mode("overwrite").parquet(s"$stage/links")
    val base = LinkGraph.hostGraph(s.read.parquet(s"$stage/links"))
    val url = concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/d/"), col("doc_id").cast("string"))
    val payload =
      when(col("doc_id") % 4 === 1, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://h"),
        ((col("doc_id") % 7 + 3) % 7).cast("string"),
        lit(".example.com/t/"), (col("doc_id") % 13).cast("string"),
        lit("?utm_source=x&b="), (col("doc_id") % 3).cast("string"),
        lit("\r\n\r\nredirect")))
      .when(col("doc_id") % 4 === 2, concat(
        lit("HTTP/1.1 302 Found\r\nLocation: ../m2/"),
        (col("doc_id") % 5).cast("string"), lit("\r\n\r\nredirect")))
      .when(col("doc_id") % 4 === 3,
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>Location: /fake</p></html>"))
      .otherwise(lit("HTTP/1.1 404 Not Found\r\n\r\ngone"))
    val chainResp = docs.filter(col("doc_id") % 8 === 1).select(
      concat(lit("https://h"), ((col("doc_id") % 7 + 3) % 7).cast("string"),
        lit(".example.com/t/"), (col("doc_id") % 13).cast("string"),
        lit("?b="), (col("doc_id") % 3).cast("string")).as("url"),
      concat(lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://z"),
        ((col("doc_id") % 13) % 3).cast("string"),
        lit(".example.com/fin/"), (col("doc_id") % 13).cast("string"),
        lit("\r\n\r\nredirect")).as("payload"))
    val loopResp = docs.filter(col("doc_id") % 20 === 7).select(
        lit("https://lp1.example.com/a").as("url"),
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://lp2.example.com/b\r\n\r\nredirect").as("payload"))
      .unionByName(docs.filter(col("doc_id") % 20 === 12).select(
        lit("https://lp2.example.com/b").as("url"),
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://lp1.example.com/a\r\n\r\nredirect").as("payload")))
    val responses = docs.select(url.as("url"), payload.as("payload"))
      .unionByName(chainResp).unionByName(loopResp)
    redirectEdges(responses)
      .select(col("src"), col("dst"),
        regexp_extract(col("src"), hostRe, 1).as("src_host"), col("dst_host"))
      .distinct()
      .write.mode("overwrite").parquet(s"$stage/redges")
    val red = s.read.parquet(s"$stage/redges")
    val selfr = red.filter(col("src_host") === col("dst_host"))
      .groupBy(col("src_host").as("host"))
      .agg(count(lit(1)).as("n_self"), min(col("dst")).as("min_self_dst"))
    // the bounded chain walk: rank credit lands on TERMINALS; loops
    // surface as n_loop and mint nothing
    val ccx = collapseRedirects(red.select("src", "dst"))
      .withColumn("src_host", regexp_extract(col("src"), hostRe, 1))
      .withColumn("dst_host", regexp_extract(col("dst"), hostRe, 1))
    val loopagg = ccx.filter(!col("resolved"))
      .groupBy(col("src_host").as("host")).agg(count(lit(1)).as("n_loop"))
    val rh = ccx.filter(col("resolved") && col("src_host") =!= col("dst_host"))
      .groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
      .agg(count(lit(1)).as("n_pairs"))
    val merged = base.unionByName(rh)
      .groupBy("src", "dst").agg(sum(col("n_pairs")).as("n_pairs"))
    val bRank = LinkGraph.pageRankHosts(base, iters = 5)
      .select(col("host"), col("rank_ppb").cast("long").as("base_ppb"))
    val mRank = LinkGraph.pageRankHosts(merged, iters = 5)
      .select(col("host"), col("rank_ppb").cast("long").as("redir_ppb"))
    val allh = mRank.select("host")
      .unionByName(loopagg.select("host")).distinct()
    allh.join(mRank, Seq("host"), "left").join(bRank, Seq("host"), "left")
      .join(selfr, Seq("host"), "left").join(loopagg, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("n_self"), lit(0L)).as("n_self"), col("min_self_dst"),
        coalesce(col("n_loop"), lit(0L)).as("n_loop"),
        coalesce(col("base_ppb"), lit(0L)).as("base_ppb"),
        coalesce(col("redir_ppb"), lit(0L)).as("redir_ppb"),
        (coalesce(col("redir_ppb"), lit(0L)) - coalesce(col("base_ppb"), lit(0L)))
          .as("delta_ppb"))
      .orderBy("host")
  }

  val all: Seq[Probe] = Seq(pipe10, pipe11, url11, pipe13)
}

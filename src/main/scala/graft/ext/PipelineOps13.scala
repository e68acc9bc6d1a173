package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions (eighth wave): WITHIN-document repetition signals
  * (the Gopher repetition-filter family, Rae et al. 2021 Table A1 —
  * public) and perplexity-bucketed curriculum (the CCNet head/middle/
  * tail convention, Wenzek et al. 2020 — public). The x_ded10/x_txt13
  * families measure CROSS-document duplication; these score each
  * document against ITSELF — the "same paragraph pasted fifty times"
  * page that is unique corpus-wide and sails through near-dedup.
  */
object PipelineOps13 {

  // -------------------------------------------- within-doc repetition

  /** Per-document repetition signals, all exact-integer ppm:
    *
    *   - `dup_seg_ppm`: occurrences beyond the first of each repeated
    *     segment / total segments — the Gopher duplicate-LINE fraction.
    *     Segments are REAL LINES when the text carries newline structure
    *     (block-preserving HTML extraction emits one line per block
    *     element), and the 16-word proxy on newline-free text
    *     ([[PipelineOps8.segmentsAuto]], round-9 verdict #3).
    *   - `top{2,3,4}_ppm`: the most frequent n-gram's character mass
    *     (count × gram length, single-space joined) / the total n-gram
    *     position character mass — Gopher's "fraction of characters in
    *     the most frequent n-gram", denominated in position mass so the
    *     ratio is exact. Ties break by gram digest
    *     DESCENDING (deterministic; the max-struct aggregation's
    *     natural order, mirrored by the oracle's window).
    *   - `dup5_ppm`: character mass of occurrences beyond the first of
    *     each duplicated 5-gram / total 5-gram position mass —
    *     Gopher's duplicated-n-gram character fraction, with the
    *     beyond-first convention making the measure exact and
    *     overlap-unambiguous.
    *   - `keep`: the Gopher verdict at the published thresholds
    *     (dup lines 30%, top 2/3/4-gram 20/18/16%, dup 5-gram 15%).
    *
    * Shape: every aggregation is keyed (doc_id, …) — corpus-proportional
    * keys, map-side combined, fully parallel; the top-gram window
    * partitions by (doc_id, n). Gram payloads never shuffle as strings:
    * the map side digests each gram to 16 hex and carries its length
    * (the x_ded10 fixed-width-shuffle-key lesson — four n-gram orders
    * make this the widest stream in the operator). Nothing joins the
    * corpus against itself. Docs too short for an n-gram order
    * contribute 0 for that signal (nothing is repeated in them).
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
    val base = tok.select(col("doc_id"))
    val segStats = PipelineOps8.segmentsAuto(docs)
      .groupBy(col("doc_id"), col("seg")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_segs"), sum(col("c") - 1).as("n_seg_dup"))
      .select(col("doc_id"), col("n_segs").cast("long").as("n_segs"),
        expr("n_seg_dup * 1000000 DIV n_segs").as("dup_seg_ppm"))
    val grams = tok.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """flatten(transform(filter(array(2, 3, 4, 5), n -> size(ws) >= n),
          |  n -> transform(sequence(1, size(ws) - n + 1),
          |    i -> named_struct('n', n, 'g', concat_ws(' ', slice(ws, i, n))))))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.n").as("n"), col("p.g").as("g"))
    val gc = grams
      .select(col("doc_id"), col("n"),
        substring(md5(col("g")), 1, 16).as("hg"),
        length(col("g")).cast("long").as("len"))
      .groupBy("doc_id", "n", "hg")
      .agg(count(lit(1)).as("c"), min(col("len")).as("len"))
    // ONE aggregation over the gram-type frame yields every per-(doc, n)
    // statistic: mass, the top gram via max(struct(c, hg, len)) — max
    // count, digest-DESC tie-break, its len riding along (hg is unique
    // per group, so len is never compared) — and the duplicated mass.
    // The previous window + join-back form instantiated the gram explode
    // three times (tots, top, dup5 each re-derived gc).
    val per = gc.groupBy("doc_id", "n").agg(
      sum(col("c") * col("len")).as("mass"),
      max(struct(col("c"), col("hg"), col("len"))).as("top"),
      sum(when(col("c") >= 2, (col("c") - 1) * col("len")).otherwise(lit(0L))).as("dup_mass"))
    def topN(n: Int) = coalesce(max(when(col("n") === n,
      expr("top.c * top.len * 1000000 DIV mass"))), lit(0L))
    val sig = per.groupBy("doc_id").agg(
      topN(2).as("top2_ppm"), topN(3).as("top3_ppm"), topN(4).as("top4_ppm"),
      coalesce(max(when(col("n") === 5,
        expr("dup_mass * 1000000 DIV mass"))), lit(0L)).as("dup5_ppm"))
    base
      .join(segStats, Seq("doc_id"), "left")
      .join(sig, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("dup_seg_ppm"), lit(0L)).as("dup_seg_ppm"),
        coalesce(col("top2_ppm"), lit(0L)).as("top2_ppm"),
        coalesce(col("top3_ppm"), lit(0L)).as("top3_ppm"),
        coalesce(col("top4_ppm"), lit(0L)).as("top4_ppm"),
        coalesce(col("dup5_ppm"), lit(0L)).as("dup5_ppm"))
      .withColumn("keep",
        (col("dup_seg_ppm") <= 300000L && col("top2_ppm") <= 200000L &&
          col("top3_ppm") <= 180000L && col("top4_ppm") <= 160000L &&
          col("dup5_ppm") <= 150000L).cast("int"))
  }

  /** X-TXT23 — the Gopher repetition family, oracle-checked end to end
    * (segment duplication, top-2/3/4-gram shares, duplicated-5-gram
    * mass, the combined verdict).
    */
  private lazy val repetitionOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |seg0 AS (
       |  SELECT doc_id, ${PipelineOps8.segsAutoDuck} AS segs FROM t),
       |segc AS (
       |  SELECT doc_id, seg, COUNT(*) AS c
       |  FROM seg0, UNNEST(segs) AS u(seg) GROUP BY doc_id, seg),
       |segs AS (
       |  SELECT doc_id, SUM(c) AS n_segs,
       |         SUM(c - 1) * 1000000 // SUM(c) AS dup_seg_ppm
       |  FROM segc GROUP BY doc_id),
       |g AS (
       |  SELECT doc_id, n, array_to_string(ws[i:i+n-1], ' ') AS g
       |  FROM t, UNNEST([2, 3, 4, 5]) AS tn(n),
       |       UNNEST(generate_series(1, len(ws) - n + 1)) AS ti(i)
       |  WHERE len(ws) >= n),
       |gc AS (
       |  SELECT doc_id, n, substr(md5(g), 1, 16) AS hg, COUNT(*) AS c,
       |         MIN(length(g)) AS len
       |  FROM g GROUP BY doc_id, n, substr(md5(g), 1, 16)),
       |tots AS (SELECT doc_id, n, SUM(c * len) AS mass FROM gc GROUP BY doc_id, n),
       |top AS (
       |  SELECT gc.doc_id, gc.n, gc.c * gc.len * 1000000 // tots.mass AS ppm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |                                     ORDER BY c DESC, hg DESC) AS rk FROM gc) gc
       |  JOIN tots ON tots.doc_id = gc.doc_id AND tots.n = gc.n
       |  WHERE gc.rk = 1 AND gc.n <= 4),
       |topp AS (
       |  SELECT doc_id,
       |    COALESCE(MAX(CASE WHEN n = 2 THEN ppm END), 0) AS top2_ppm,
       |    COALESCE(MAX(CASE WHEN n = 3 THEN ppm END), 0) AS top3_ppm,
       |    COALESCE(MAX(CASE WHEN n = 4 THEN ppm END), 0) AS top4_ppm
       |  FROM top GROUP BY doc_id),
       |d5 AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN c >= 2 THEN (c - 1) * len ELSE 0 END) * 1000000 // SUM(c * len) AS dup5_ppm
       |  FROM gc WHERE n = 5 GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(COALESCE(segs.n_segs, 0) AS BIGINT) AS n_segs,
       |  CAST(COALESCE(segs.dup_seg_ppm, 0) AS BIGINT) AS dup_seg_ppm,
       |  CAST(COALESCE(topp.top2_ppm, 0) AS BIGINT) AS top2_ppm,
       |  CAST(COALESCE(topp.top3_ppm, 0) AS BIGINT) AS top3_ppm,
       |  CAST(COALESCE(topp.top4_ppm, 0) AS BIGINT) AS top4_ppm,
       |  CAST(COALESCE(d5.dup5_ppm, 0) AS BIGINT) AS dup5_ppm,
       |  CAST(CASE WHEN COALESCE(segs.dup_seg_ppm, 0) <= 300000
       |             AND COALESCE(topp.top2_ppm, 0) <= 200000
       |             AND COALESCE(topp.top3_ppm, 0) <= 180000
       |             AND COALESCE(topp.top4_ppm, 0) <= 160000
       |             AND COALESCE(d5.dup5_ppm, 0) <= 150000
       |            THEN 1 ELSE 0 END AS INT) AS keep
       |FROM t
       |LEFT JOIN segs ON segs.doc_id = t.doc_id
       |LEFT JOIN topp ON topp.doc_id = t.doc_id
       |LEFT JOIN d5 ON d5.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  private val txt23 = Probe(
    "x_txt23_gopher_repetition", repetitionOracleSql) { (s, dir) =>
    repetitionSignals(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  /** The NARROW per-row form of [[repetitionSignals]] — one JVM pass via
    * the native `repetition_signals` expression, zero exchanges: the
    * stream-door Gopher gate (`DocStreams.repetitionScored` runs exactly
    * this). Identical output (x_txt23b shares x_txt23's oracle;
    * RepetitionSignalsSpec pins native ≡ declarative ≡ interpreted).
    */
  def repetitionSignalsNative(docs: DataFrame): DataFrame = {
    docs
      .withColumn("__r", graft.functions.RepetitionSignals.repetition_signals(col("text")))
      .select(col("doc_id"), col("__r.n_segs").as("n_segs"),
        col("__r.dup_seg_ppm").as("dup_seg_ppm"),
        col("__r.top2_ppm").as("top2_ppm"), col("__r.top3_ppm").as("top3_ppm"),
        col("__r.top4_ppm").as("top4_ppm"), col("__r.dup5_ppm").as("dup5_ppm"),
        col("__r.keep").as("keep"))
  }

  /** X-TXT23B — the native one-pass repetition gate against x_txt23's
    * identical relational oracle: the stateless stream-door form is
    * hash-pinned to the declarative five-table algebra.
    */
  private val txt23b = Probe(
    "x_txt23b_repetition_native", repetitionOracleSql) { (s, dir) =>
    repetitionSignalsNative(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  // ------------------------------------ perplexity-bucketed curriculum

  /** X-CUR5 — CCNet-style perplexity buckets: every document labeled
    * head / middle / tail by its language's terciles of the self-scored
    * LM NLL (x_txt18's signal; lower NLL = more fluent = head). The
    * curriculum/selection convention of the public CCNet pipeline —
    * absolute NLL cuts don't transfer across languages, per-language
    * quantiles do (the x_txt12/x_txt20 discipline). Cuts compare at 6 dp
    * on both engines, so bucket boundaries are deterministic.
    */
  private val cur5 = Probe(
    "x_cur5_ccnet_buckets",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |u AS (
       |  SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM t) GROUP BY w),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |bg AS (${PipelineOps10.bigramsDuck("t")}),
       |bc AS (SELECT substr(md5(b), 1, 16) AS hb, COUNT(*) AS c2 FROM bg GROUP BY hb),
       |sc AS (
       |  SELECT bg.doc_id,
       |    round(-SUM(ln((bc.c2 + 1) / (u.c1 + v.v))) / COUNT(*), 6) AS nll_avg
       |  FROM bg
       |  JOIN bc ON bc.hb = substr(md5(bg.b), 1, 16)
       |  JOIN u ON u.w = bg.w1, v
       |  GROUP BY bg.doc_id),
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(percentile_cont(0.33) WITHIN GROUP (ORDER BY nll_avg), 6) AS p33,
       |    round(percentile_cont(0.67) WITHIN GROUP (ORDER BY nll_avg), 6) AS p67
       |  FROM lg GROUP BY lang)
       |SELECT lg.doc_id, lg.lang, lg.nll_avg,
       |  CASE WHEN lg.nll_avg <= cuts.p33 THEN 'head'
       |       WHEN lg.nll_avg <= cuts.p67 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM lg JOIN cuts ON cuts.lang = lg.lang
       |ORDER BY lg.doc_id""".stripMargin) { (s, dir) =>
    ppxBuckets(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** (doc_id, lang, nll_avg, bucket) — shared by the probe, the Corpus
    * route, and the spec's planted-corpus pin. One lang-partitioned
    * window over the scored frame (docs-per-lang rows, never wider).
    */
  def ppxBuckets(docs: DataFrame): DataFrame = {
    val tok = PipelineOps10.docTokens(docs)
    PipelineOps10.lmSelfScoreTok(tok)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("p33", round(
        expr("percentile(nll_avg, 0.33)").over(Window.partitionBy(col("lang"))), 6))
      .withColumn("p67", round(
        expr("percentile(nll_avg, 0.67)").over(Window.partitionBy(col("lang"))), 6))
      .select(col("doc_id"), col("lang"), col("nll_avg"),
        when(col("nll_avg") <= col("p33"), lit("head"))
          .when(col("nll_avg") <= col("p67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** X-CUR6 — curriculum SCHEDULE: the x_cur5 buckets annealed across
    * training epochs — epoch 0 admits head only, epoch 1 head+middle,
    * epoch 2 everything (the easy-first curriculum schedule, built from
    * the same deterministic pieces a loader consumes). Output is the
    * per-(epoch, bucket) volume table a training plan is reviewed
    * against. One cheap cross join of the bucketed frame with the
    * 3-row epoch table; all selection algebra inherited from x_cur5.
    */
  private val cur6 = Probe(
    "x_cur6_curriculum_schedule",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |u AS (
       |  SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM t) GROUP BY w),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |bg AS (${PipelineOps10.bigramsDuck("t")}),
       |bc AS (SELECT substr(md5(b), 1, 16) AS hb, COUNT(*) AS c2 FROM bg GROUP BY hb),
       |sc AS (
       |  SELECT bg.doc_id,
       |    round(-SUM(ln((bc.c2 + 1) / (u.c1 + v.v))) / COUNT(*), 6) AS nll_avg
       |  FROM bg
       |  JOIN bc ON bc.hb = substr(md5(bg.b), 1, 16)
       |  JOIN u ON u.w = bg.w1, v
       |  GROUP BY bg.doc_id),
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg, len(t.ws) AS n_tok
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
       |  JOIN t ON t.doc_id = sc.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(percentile_cont(0.33) WITHIN GROUP (ORDER BY nll_avg), 6) AS p33,
       |    round(percentile_cont(0.67) WITHIN GROUP (ORDER BY nll_avg), 6) AS p67
       |  FROM lg GROUP BY lang),
       |bk AS (
       |  SELECT lg.doc_id, lg.lang, lg.n_tok,
       |    CASE WHEN lg.nll_avg <= cuts.p33 THEN 0
       |         WHEN lg.nll_avg <= cuts.p67 THEN 1 ELSE 2 END AS tier
       |  FROM lg JOIN cuts ON cuts.lang = lg.lang)
       |SELECT CAST(e.epoch AS BIGINT) AS epoch, CAST(bk.tier AS BIGINT) AS tier,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(bk.n_tok) AS BIGINT) AS n_tokens
       |FROM bk, UNNEST([0, 1, 2]) AS e(epoch)
       |WHERE bk.tier <= e.epoch
       |GROUP BY e.epoch, bk.tier ORDER BY e.epoch, tier""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val tiered = ppxBuckets(docs)
      .withColumn("tier",
        when(col("bucket") === "head", lit(0))
          .when(col("bucket") === "middle", lit(1)).otherwise(lit(2)))
      .join(docs.select(col("doc_id"),
        size(CleanFns.tokens(col("text"))).cast("long").as("n_tok")), "doc_id")
    tiered
      .crossJoin(broadcast(
        s.range(3).select(col("id").cast("int").as("epoch"))))
      .filter(col("tier") <= col("epoch"))
      .groupBy("epoch", "tier")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
      .select(col("epoch").cast("long").as("epoch"), col("tier").cast("long").as("tier"),
        col("n_docs"), col("n_tokens"))
      .orderBy("epoch", "tier")
  }

  // --------------------------------------------- URL canonicalization

  /** X-URL1 — URL canonicalization over synthetic crawl URLs built
    * deterministically from doc_id INSIDE the query (the x_html1
    * convention: both engines canonicalize byte-identical inputs).
    * Mixed-case scheme/host, default and non-default ports, tracking
    * params, unsorted queries, and fragments all collapse through the
    * [[graft.clean.UrlFns]] rule chain; the surfaced distinct-canonical
    * count is the frontier-dedup number the raw strings would overstate.
    */
  private val url1 = Probe(
    "x_url1_canonicalize",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) ||
       |    '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
       |    (CASE WHEN doc_id % 3 = 0
       |          THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/Path/To/Item' ||
       |    (CASE doc_id % 3 WHEN 0 THEN '/a%7eb' WHEN 1 THEN '/a%7Eb' ELSE '/a~b' END) ||
       |    '/v%41r%330' ||
       |    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&Z=1' ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw&a=2&q=x%2Fy' ELSE '&q=x%2fy' END) ||
       |    '#sec' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents)
       |SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("url")} AS canon
       |FROM u ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(col("doc_id") % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Path/To/Item"),
      when(col("doc_id") % 3 === 0, lit("/a%7eb"))
        .when(col("doc_id") % 3 === 1, lit("/a%7Eb")).otherwise(lit("/a~b")),
      lit("/v%41r%330"),
      lit("?id="), (col("doc_id") % 5).cast("string"), lit("&utm_source=feed&Z=1"),
      when(col("doc_id") % 2 === 0, lit("&ref=tw&a=2&q=x%2Fy"))
        .otherwise(lit("&q=x%2fy")),
      lit("#sec"), col("doc_id").cast("string"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.clean.UrlFns.canonicalUrl(url).as("canon"))
      .orderBy("doc_id")
  }

  /** X-URL2 — frontier dedup COMPOSED: the synthetic crawl frontier
    * (same template as x_url1, whose id/host moduli make distinct raw
    * URLs collide after canonicalization) → canonical key → survivor =
    * min doc_id per key → per-host rollup of raw vs canonical counts —
    * the fetch-scheduler's number ("how much of this host's frontier is
    * variant noise"). One exchange on the canonical key, one on host.
    */
  private val url2 = Probe(
    "x_url2_frontier_dedup",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) ||
       |    '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
       |    (CASE WHEN doc_id % 3 = 0
       |          THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/Path/To/Item' ||
       |    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&Z=1' ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw&a=2' ELSE '' END) ||
       |    '#sec' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |s AS (
       |  SELECT canon, MIN(doc_id) AS survivor_id, COUNT(*) AS n_raw
       |  FROM c GROUP BY canon)
       |SELECT regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |  CAST(SUM(n_raw) AS BIGINT) AS n_raw,
       |  CAST(COUNT(*) AS BIGINT) AS n_canonical,
       |  CAST(MIN(survivor_id) AS BIGINT) AS first_survivor
       |FROM s GROUP BY 1 ORDER BY host""".stripMargin) { (s, dir) =>
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(col("doc_id") % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Path/To/Item"),
      lit("?id="), (col("doc_id") % 5).cast("string"), lit("&utm_source=feed&Z=1"),
      when(col("doc_id") % 2 === 0, lit("&ref=tw&a=2")).otherwise(lit("")),
      lit("#sec"), col("doc_id").cast("string"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.clean.UrlFns.canonicalUrl(url).as("canon"))
      .groupBy("canon")
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_raw"))
      .groupBy(regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
      .agg(sum(col("n_raw")).cast("long").as("n_raw"),
        count(lit(1)).as("n_canonical"),
        min(col("survivor_id")).as("first_survivor"))
      .orderBy("host")
  }

  // ------------------------------------------ frontier politeness report

  /** Per-host frontier politeness report over canonical URL keys — the
    * fetch-scheduler's planning table: for the top-`k` hosts by
    * CANONICAL page count, how many raw frontier entries they hold, how
    * many distinct pages that really is, and the variant-noise ppm
    * (raw entries that canonicalization collapses — re-fetch waste).
    *
    * Shape: one exchange on the canonical key, one on host; the top-k
    * selection is EXACT by default — the per-host aggregate (already
    * computed for the stats) feeds a distributed take-ordered by
    * (n_canonical DESC, host ASC), so correctness never depends on a
    * buffer size. A crawl-scale frontier has millions of hosts and the
    * take-ordered keeps k rows per partition, never the host table.
    * Expects a (…, url) frame; exposed on the corpus as
    * [[graft.api.Corpus.frontierReport]].
    *
    * `approxBuffer`: opt-in single-pass approximate ranking through the
    * bounded [[graft.functions.TopKByCount]] aggregator (map-side
    * partials, capped buffer) — exact only while the buffer exceeds the
    * DISTINCT HOST count; beyond it rarest partials evict and the top-k
    * is approximate. Useful when the ranking pass must avoid the second
    * exchange; the DEFAULT is the exact path precisely because a
    * defaults-trusting caller must not get a silently-approximate
    * politeness report (round-10 ADVICE).
    */
  def frontierReport(urls: DataFrame, k: Int = 5,
      approxBuffer: Option[Int] = None): DataFrame = {
    val s = urls.sparkSession
    import s.implicits._
    val canon = urls
      .select(graft.clean.UrlFns.canonicalUrl(col("url")).as("canon"))
      .groupBy("canon").agg(count(lit(1)).as("n_raw"))
      .withColumn("host", regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1))
    val perHost = canon.groupBy("host")
      .agg(sum(col("n_raw")).cast("long").as("n_raw"),
        count(lit(1)).cast("long").as("n_canonical"))
      .withColumn("variant_noise_ppm",
        expr("(n_raw - n_canonical) * 1000000 DIV n_raw"))
    val ranked = approxBuffer match {
      case Some(maxBuffer) =>
        // hosts have no ':' (the extractor's class excludes it), so the
        // aggregator's "value:count" rendering splits back unambiguously
        canon.select(col("host")).as[String]
          .select(new graft.functions.TopKByCount(k, maxBuffer).toColumn)
          .toDF("top")
          .select(posexplode(col("top")).as(Seq("rk", "hc")))
          .select((col("rk") + 1).cast("long").as("rank"),
            expr("substring_index(hc, ':', 1)").as("host"))
      case None =>
        // TakeOrderedAndProject: k rows per partition then k at the
        // driver-side merge — exact at any host cardinality. The k-row
        // local window only ranks the already-taken rows.
        perHost.select(col("host"), col("n_canonical"))
          .orderBy(col("n_canonical").desc, col("host").asc)
          .limit(k)
          .select(row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n_canonical").desc, col("host").asc)).cast("long").as("rank"),
            col("host"))
    }
    perHost.join(broadcast(ranked), "host")
      .select(col("rank"), col("host"), col("n_raw"), col("n_canonical"),
        col("variant_noise_ppm"))
      .orderBy("rank")
  }

  // --------------------------------------------------- robots exclusion

  /** Robots-exclusion gate (RFC 9309 semantics, public): given a rules
    * table (host, prefix, allow) parsed from each host's robots.txt,
    * mark every URL allowed/blocked — the politeness gate in front of
    * the fetcher. The MOST SPECIFIC (longest-prefix) matching rule
    * wins; on a length tie the allow rule wins; no matching rule means
    * allowed. Empty prefixes must not be in the table (an empty
    * Disallow means allow-all in robots.txt — drop it at parse time).
    *
    * Shape: each host's rule set is tiny, but a crawl-wide rules table
    * spans EVERY host — small for one site's robots, potentially 10⁸
    * rows across the frontier — so the join is left UNHINTED: Spark
    * broadcasts it under the threshold and shuffles on host beyond it
    * (both sides key on host; no corpus×rules blowup either way). The
    * per-URL winner is a row_number over the ≤ rules-per-host matches,
    * partitioned by doc_id (bounded partitions, never host-wide).
    */
  def robotsGate(urls: DataFrame, rules: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = urls
      .select(col("doc_id"), graft.clean.UrlFns.canonicalUrl(col("url")).as("canon"))
      .withColumn("host", regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1))
      .withColumn("path", regexp_replace(col("canon"), "^[a-z0-9+.-]+://[^/?#]*", ""))
    val wBest = Window.partitionBy(col("doc_id")).orderBy(
      col("__hit").desc, length(col("prefix")).desc, col("allow").desc, col("prefix").asc)
    u.join(rules, Seq("host"), "left")
      .withColumn("__hit",
        col("prefix").isNotNull && expr("startswith(path, prefix)"))
      .withColumn("__rn", row_number().over(wBest))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("host"), col("path"),
        when(col("__hit"), col("allow").cast("long")).otherwise(lit(1L)).as("allowed"))
  }

  /** X-URL5 — the robots gate over a synthetic frontier with four path
    * shapes per host and a 3-rule robots table (Disallow /private,
    * Allow /private/ok, Allow /pub): exercises the longest-prefix win
    * (an /private/ok/... URL is allowed THROUGH the broader /private
    * disallow), the plain disallow, and the no-matching-rule default.
    * Oracle recomputes the canonicalization, the prefix matching, and
    * the specificity ordering relationally.
    */
  private val url5 = Probe(
    "x_url5_robots_gate",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
       |    (CASE WHEN doc_id % 4 = 0 THEN '/Path/To/Item'
       |          WHEN doc_id % 4 = 1 THEN '/private/data'
       |          WHEN doc_id % 4 = 2 THEN '/private/ok/page'
       |          ELSE '/pub/x' END) AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |p AS (
       |  SELECT doc_id,
       |    regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    regexp_replace(canon, '^[a-z0-9+.-]+://[^/?#]*', '', 'g') AS path
       |  FROM c),
       |r AS (
       |  SELECT h.host, t.prefix, t.allow
       |  FROM (SELECT DISTINCT host FROM p) h,
       |       (VALUES ('/private', 0), ('/private/ok', 1), ('/pub', 1)) AS t(prefix, allow)),
       |m AS (
       |  SELECT p.doc_id, p.host, p.path, r.prefix, r.allow,
       |         (r.prefix IS NOT NULL AND starts_with(p.path, r.prefix)) AS hit
       |  FROM p LEFT JOIN r ON r.host = p.host),
       |w AS (
       |  SELECT doc_id, host, path, hit, allow,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY hit DESC, length(prefix) DESC, allow DESC, prefix ASC) AS rn
       |  FROM m)
       |SELECT doc_id, host, path,
       |  CAST(CASE WHEN hit THEN allow ELSE 1 END AS BIGINT) AS allowed
       |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val urls = Tables(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"), lit(".com"),
        when(col("doc_id") % 4 === 0, lit("/Path/To/Item"))
          .when(col("doc_id") % 4 === 1, lit("/private/data"))
          .when(col("doc_id") % 4 === 2, lit("/private/ok/page"))
          .otherwise(lit("/pub/x"))).as("url"))
    val hosts = urls
      .select(graft.clean.UrlFns.canonicalUrl(col("url")).as("canon"))
      .select(regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
      .distinct()
    val rules = hosts.crossJoin(
      Seq(("/private", 0), ("/private/ok", 1), ("/pub", 1)).toDF("prefix", "allow"))
    robotsGate(urls, rules).orderBy("doc_id")
  }

  // --------------------------------------------------- per-host doc cap

  /** RefinedWeb-style per-domain cap: keep at most `cap` documents per
    * canonical HOST, ranked by quality (keep DESC, n_words DESC, doc_id
    * ASC — the x_ded17 survivor ordering), so no single domain dominates
    * the corpus. Returns the SURVIVORS (doc_id, host, host_rank).
    *
    * Scale shape: a single `row_number() OVER (PARTITION BY host)` makes
    * a mega-host (10⁸ pages of one domain at 100 TB) one task — the
    * classic window skew. Instead: two-level top-K. Level 1 ranks
    * within (host, doc_id % 64) salt buckets and keeps `cap` per bucket
    * (bounded partitions, fully parallel); level 2 re-ranks the ≤ 64·cap
    * per-host survivors. A host's true top-`cap` docs are each top-`cap`
    * within their own salt bucket, so the two-level result is exact —
    * the property the x_url4 oracle (a flat window) hash-checks.
    */
  def hostCap(docs: DataFrame, urlCol: org.apache.spark.sql.Column,
      cap: Int = 3, salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = PipelineOps3.addQualityRuleSignals(docs)
      .select(col("doc_id"),
        regexp_extract(graft.clean.UrlFns.canonicalUrl(urlCol),
          "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"),
        col("keep"), col("n_words"))
    val ord = Seq(col("keep").desc, col("n_words").desc, col("doc_id").asc)
    val local = q
      .withColumn("__salt", col("doc_id") % salts)
      .withColumn("__lr",
        row_number().over(Window.partitionBy(col("host"), col("__salt")).orderBy(ord: _*)))
      .filter(col("__lr") <= cap)
    local
      .withColumn("host_rank",
        row_number().over(Window.partitionBy(col("host")).orderBy(ord: _*)).cast("long"))
      .filter(col("host_rank") <= cap)
      .select(col("doc_id"), col("host"), col("host_rank"))
  }

  /** X-URL4 — per-host document cap over the synthetic frontier (x_url1's
    * template; its doc_id % 7 hosts give every host many docs, so the cap
    * genuinely cuts): survivors of the two-level top-3-per-host, ranked
    * by the quality ordering. The oracle ranks with ONE flat window —
    * hash-matching pins the salted two-level rewrite exact.
    */
  private val url4 = Probe(
    "x_url4_host_cap",
    s"""WITH u AS (
       |  SELECT doc_id, text,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) ||
       |    '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
       |    (CASE WHEN doc_id % 3 = 0
       |          THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/Path/To/Item' ||
       |    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&Z=1' ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw&a=2' ELSE '' END) ||
       |    '#sec' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    regexp_extract(${graft.clean.UrlFns.canonicalUrlDuck("url")}, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    text
       |  FROM u),
       |tq AS (
       |  SELECT doc_id, host, list_filter(string_split_regex(lower(text), '\\s+'), tkn -> tkn <> '') AS w FROM c),
       |m AS (
       |  SELECT doc_id, host,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
       |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
       |  FROM tq),
       |k AS (
       |  SELECT doc_id, host, n_words,
       |    CAST(CASE WHEN n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
       |              AND alpha_ppm >= 600000 AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM m),
       |r AS (
       |  SELECT doc_id, host,
       |    row_number() OVER (PARTITION BY host ORDER BY keep DESC, n_words DESC, doc_id ASC) AS host_rank
       |  FROM k)
       |SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank
       |FROM r WHERE host_rank <= 3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(col("doc_id") % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Path/To/Item"),
      lit("?id="), (col("doc_id") % 5).cast("string"), lit("&utm_source=feed&Z=1"),
      when(col("doc_id") % 2 === 0, lit("&ref=tw&a=2")).otherwise(lit("")),
      lit("#sec"), col("doc_id").cast("string"))
    hostCap(Tables(s, dir, "documents"), url).orderBy("doc_id")
  }

  /** X-URL3 — the politeness report over the synthetic frontier (x_url1's
    * template): top-5 hosts by canonical count with raw/canonical/noise
    * stats, the TopKByCount (count desc, host asc) ranking recomputed by
    * the oracle as a window.
    */
  private val url3 = Probe(
    "x_url3_frontier_report",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) ||
       |    '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
       |    (CASE WHEN doc_id % 3 = 0
       |          THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
       |    '/Path/To/Item' ||
       |    '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&Z=1' ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw&a=2' ELSE '' END) ||
       |    '#sec' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |sv AS (SELECT canon, COUNT(*) AS n_raw FROM c GROUP BY canon),
       |h AS (
       |  SELECT regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |         SUM(n_raw) AS n_raw, COUNT(*) AS n_canonical
       |  FROM sv GROUP BY 1),
       |r AS (
       |  SELECT host, n_raw, n_canonical,
       |         (n_raw - n_canonical) * 1000000 // n_raw AS variant_noise_ppm,
       |         row_number() OVER (ORDER BY n_canonical DESC, host) AS rank
       |  FROM h)
       |SELECT CAST(rank AS BIGINT) AS rank, host,
       |  CAST(n_raw AS BIGINT) AS n_raw,
       |  CAST(n_canonical AS BIGINT) AS n_canonical,
       |  CAST(variant_noise_ppm AS BIGINT) AS variant_noise_ppm
       |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin) { (s, dir) =>
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(col("doc_id") % 3 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Path/To/Item"),
      lit("?id="), (col("doc_id") % 5).cast("string"), lit("&utm_source=feed&Z=1"),
      when(col("doc_id") % 2 === 0, lit("&ref=tw&a=2")).otherwise(lit("")),
      lit("#sec"), col("doc_id").cast("string"))
    frontierReport(Tables(s, dir, "documents").select(url.as("url")))
  }

  /** X-URL13 — IDN host normalization (the bounded table-driven subset
    * [[graft.clean.UrlFns.idnPairs]] documents): Unicode, punycode, and
    * UPPERCASE-Unicode spellings of the same host must land on ONE
    * canonical frontier key (lowercase runs first in the rule chain, so
    * `MÜNCHEN` reaches the table as `münchen` — both engines' Unicode
    * lower() pinned against each other by the hash). Per collapsed
    * host: raw count, canonical count, first survivor.
    */
  private val url13 = Probe(
    "x_url13_idn_hosts",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' ||
       |    (CASE doc_id % 3 WHEN 0 THEN 'münchen' WHEN 1 THEN 'xn--mnchen-3ya'
       |      ELSE 'MÜNCHEN' END) ||
       |    '.example' || CAST(doc_id % 2 AS VARCHAR) || '.com/p/' ||
       |    CAST(doc_id % 5 AS VARCHAR) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=f&a=1' ELSE '' END) AS url
       |  FROM documents),
       |c AS (SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("url")} AS canon FROM u),
       |s AS (
       |  SELECT canon, MIN(doc_id) AS survivor_id, COUNT(*) AS n_raw
       |  FROM c GROUP BY canon)
       |SELECT regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |  CAST(SUM(n_raw) AS BIGINT) AS n_raw,
       |  CAST(COUNT(*) AS BIGINT) AS n_canonical,
       |  CAST(MIN(survivor_id) AS BIGINT) AS first_survivor
       |FROM s GROUP BY 1 ORDER BY host""".stripMargin) { (s, dir) =>
    val url = concat(lit("https://"),
      when(col("doc_id") % 3 === 0, lit("münchen"))
        .when(col("doc_id") % 3 === 1, lit("xn--mnchen-3ya"))
        .otherwise(lit("MÜNCHEN")),
      lit(".example"), (col("doc_id") % 2).cast("string"), lit(".com/p/"),
      (col("doc_id") % 5).cast("string"),
      when(col("doc_id") % 4 === 0, lit("?utm_source=f&a=1")).otherwise(lit("")))
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.clean.UrlFns.canonicalUrl(url).as("canon"))
      .groupBy("canon")
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_raw"))
      .groupBy(regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
      .agg(sum(col("n_raw")).cast("long").as("n_raw"),
        count(lit(1)).as("n_canonical"),
        min(col("survivor_id")).cast("long").as("first_survivor"))
      .orderBy("host")
  }

  val all: Seq[Probe] = Seq(txt23, txt23b, cur5, cur6, url1, url2, url3, url4,
    url5, url13)
}

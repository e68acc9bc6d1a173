package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The crawl → training-batches pipeline (x_pipe6). */
object PipelineOps14 {

  /** X-PIPE6 — CRAWL → TRAINING BATCHES, end to end: synthetic crawl
    * pages → [[graft.api.Corpus.fromHtml]] extraction → Gopher
    * repetition gate (x_txt23) → CCNet perplexity selection over the
    * GATED corpus (terciles of its own LM — the gate changes the
    * statistics the selector cuts on, exactly like x_pipe5's
    * gate-then-DSIR interaction), dropping the tail bucket → sequential
    * context packing of the survivors (x_pack6) → per-(lang, bucket)
    * release rollup with the packing-quality number (docs split across
    * bin boundaries). The whole pipeline a crawl actually runs, one
    * nested oracle pinning every stage interaction.
    */
  private val pipe6 = Probe(
    "x_pipe6_crawl_to_batches",
    s"""WITH h AS (
       |  SELECT doc_id, lang, ${PipelineOps12.crawlHtmlDuck} AS html FROM documents),
       |x AS (SELECT doc_id, lang,
       |             ${graft.clean.HtmlFns.htmlToTextDuck("html")} AS text FROM h),
       |t AS (SELECT doc_id, lang, text, ${CleanFns.tokensDuck("text")} AS ws FROM x),
       |seg0 AS (
       |  SELECT doc_id, ${PipelineOps8.segsAutoDuck} AS segs FROM t),
       |segc AS (
       |  SELECT doc_id, seg, COUNT(*) AS c
       |  FROM seg0, UNNEST(segs) AS u(seg) GROUP BY doc_id, seg),
       |segs AS (
       |  SELECT doc_id, SUM(c - 1) * 1000000 // SUM(c) AS dup_seg_ppm
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
       |  FROM gc WHERE n = 5 GROUP BY doc_id),
       |keepers AS (
       |  SELECT t.doc_id FROM t
       |  LEFT JOIN segs ON segs.doc_id = t.doc_id
       |  LEFT JOIN topp ON topp.doc_id = t.doc_id
       |  LEFT JOIN d5 ON d5.doc_id = t.doc_id
       |  WHERE COALESCE(segs.dup_seg_ppm, 0) <= 300000
       |    AND COALESCE(topp.top2_ppm, 0) <= 200000
       |    AND COALESCE(topp.top3_ppm, 0) <= 180000
       |    AND COALESCE(topp.top4_ppm, 0) <= 160000
       |    AND COALESCE(d5.dup5_ppm, 0) <= 150000),
       |tk AS (SELECT t.* FROM t JOIN keepers USING (doc_id)),
       |u AS (
       |  SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM tk) GROUP BY w),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |bg AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS b
       |  FROM (SELECT doc_id, ws FROM tk WHERE len(ws) >= 2),
       |       UNNEST(generate_series(1, len(ws) - 1)) AS gg(i)),
       |bc AS (SELECT substr(md5(b), 1, 16) AS hb, COUNT(*) AS c2 FROM bg GROUP BY hb),
       |sc AS (
       |  SELECT bg.doc_id,
       |    round(-SUM(ln((bc.c2 + 1) / (u.c1 + v.v))) / COUNT(*), 6) AS nll_avg
       |  FROM bg
       |  JOIN bc ON bc.hb = substr(md5(bg.b), 1, 16)
       |  JOIN u ON u.w = bg.w1, v
       |  GROUP BY bg.doc_id),
       |lg AS (
       |  SELECT sc.doc_id, tk.lang, sc.nll_avg, len(tk.ws) AS n_tok
       |  FROM sc JOIN tk ON tk.doc_id = sc.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(percentile_cont(0.33) WITHIN GROUP (ORDER BY nll_avg), 6) AS p33,
       |    round(percentile_cont(0.67) WITHIN GROUP (ORDER BY nll_avg), 6) AS p67
       |  FROM lg GROUP BY lang),
       |sel AS (
       |  SELECT lg.doc_id, lg.lang, lg.n_tok,
       |    CASE WHEN lg.nll_avg <= cuts.p33 THEN 'head'
       |         WHEN lg.nll_avg <= cuts.p67 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM lg JOIN cuts ON cuts.lang = lg.lang),
       |kept AS (SELECT * FROM sel WHERE bucket <> 'tail' AND n_tok > 0),
       |p AS (
       |  SELECT doc_id, lang, bucket, n_tok,
       |         SUM(n_tok) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM kept)
       |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN (cum - 1) // 256 > (cum - n_tok) // 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_split
       |FROM p GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
    // stage boundaries between phases (the x_pipe5 lesson): extraction
    // is a 17-step regex chain and each downstream phase consumes its
    // output from MULTIPLE subtrees — unmaterialized, Catalyst
    // re-extracts the whole crawl once per consumer (measured: 8.4 s
    // composed vs ~5 s staged at sf0.1)
    val stage = graft.util.TempDirs.scratch("graft_pipe6")
    def materialize(d: DataFrame, name: String): DataFrame =
      graft.util.TempDirs.staged(d, s"$stage/$name")
    val pages = PipelineOps12.crawlPages(Tables.spread(s, dir, "documents"))
    val extracted = materialize(graft.api.Corpus.fromHtml(pages).df
      .select(col("doc_id"), col("lang"), col("text")), "extracted")
    val gated = materialize(extracted.join(
      PipelineOps13.repetitionSignalsNative(extracted)  // x_txt23b-pinned
        .filter(col("keep") === 1).select("doc_id"),
      Seq("doc_id"), "left_semi"), "gated")
    val sel = materialize(gated.join(
      PipelineOps13.ppxBuckets(gated)
        .filter(col("bucket") =!= "tail").select(col("doc_id"), col("bucket")),
      "doc_id"), "sel")
    val placed = TokenLayout.packPlacements(sel)
    sel.select(col("doc_id"), col("lang"), col("bucket"))
      .join(placed.select(col("doc_id"), col("n_tok"), col("is_split")), "doc_id")
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        sum(col("is_split")).cast("long").as("n_split"))
      .orderBy("lang", "bucket")
  }

  val all: Seq[Probe] = Seq(pipe6)
}

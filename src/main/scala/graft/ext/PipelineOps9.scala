package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-span extraction (x_ded20), the release data card (x_rep2)
  * and the composed segment-dedup → decontamination → quality pipeline
  * (x_pipe4).
  */
object PipelineOps9 {

  // ------------------------------------------------------ duplicate spans

  private val spanN = 8

  /** X-DED20 — duplicated-SPAN extraction: per document, the longest run
    * of CONSECUTIVE 8-grams that also occur in at least one other document
    * (plus the total duplicated-position count). x_ded10 measures how MUCH
    * of a doc is duplicated; this measures how LONG the shared spans are —
    * the signal that separates "quotes a common phrase" (short spans) from
    * "embeds a whole boilerplate paragraph" (long spans), which is what
    * span-based dedup policies cut on.
    *
    * Shape: grams travel as fixed-width 16-hex digests (the x_ded10
    * lesson); the shared set is one digest-keyed aggregation; runs are the
    * classic islands construction (pos - row_number) inside a doc-keyed
    * window — no self-join, nothing quadratic. A run of R grams covers
    * R + 7 words.
    */
  private val ded20 = Probe(
    "x_ded20_dup_spans",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS toks FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) >= $spanN),
       |p AS (
       |  SELECT doc_id, i, substr(md5(array_to_string(toks[i:i+${spanN - 1}], ' ')), 1, 16) AS h
       |  FROM t, UNNEST(generate_series(1, len(toks) - ${spanN - 1})) AS u(i)),
       |s AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM p) GROUP BY h HAVING COUNT(*) >= 2),
       |d AS (SELECT p.doc_id, p.i FROM p JOIN s ON p.h = s.h),
       |r AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM d),
       |runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM r GROUP BY doc_id, grp)
       |SELECT doc_id, CAST(MAX(run) AS BIGINT) AS max_run_grams,
       |       CAST(MAX(run) + ${spanN - 1} AS BIGINT) AS span_words,
       |       CAST(SUM(run) AS BIGINT) AS n_dup_positions
       |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    dupSpans(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  /** (doc_id, max_run_grams, span_words, n_dup_positions) for every doc
    * with at least one cross-document duplicated `n`-gram.
    */
  def dupSpans(docs: DataFrame, n: Int = spanN): DataFrame = {
    val p = docs
      .select(col("doc_id"), CleanFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> substr(md5(concat_ws(' ', slice(toks, i, $n))), 1, 16))"))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("i"), col("h"))
    val shared = p.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val d = p.join(shared, Seq("h"), "left_semi")
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    d.withColumn("grp", col("i") - row_number().over(wRun))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("max_run_grams"),
        (max(col("run")) + (n - 1)).as("span_words"),
        sum(col("run")).as("n_dup_positions"))
  }

  // -------------------------------------------------------------- datacard

  /** X-REP2 — the release data card: ROLLUP over (lang, source) of doc
    * count, token mass, and quality keep rate (the x_txt11 rule family) —
    * the per-slice + per-language + whole-corpus summary a dataset release
    * ships. One pass: the rollup is a single Expand-based aggregation over
    * the narrow quality projection; keep rate as exact integer ppm.
    */
  private val rep2 = Probe(
    "x_rep2_datacard",
    """WITH t AS (
      |  SELECT lang, source, list_filter(string_split_regex(lower(text), '\s+'), tkn -> tkn <> '') AS w
      |  FROM documents),
      |m AS (
      |  SELECT lang, source,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CASE WHEN CAST(len(w) AS BIGINT) BETWEEN 10 AND 100000
      |          AND CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) BETWEEN 200 AND 1000
      |          AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) >= 600000
      |          AND len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) >= 2
      |         THEN 1 ELSE 0 END AS keep
      |  FROM t)
      |SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
      |  CAST(GROUPING(lang) AS INT) AS g_lang, CAST(GROUPING(source) AS INT) AS g_source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
      |  CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
      |FROM m GROUP BY ROLLUP(lang, source)
      |ORDER BY g_lang, g_source, lang, source""".stripMargin) { (s, dir) =>
    graft.ext.PipelineOps3.addQualityRuleSignals(Tables(s, dir, "documents"))
      .rollup(col("lang"), col("source"))
      .agg(
        grouping(col("lang")).cast("int").as("g_lang"),
        grouping(col("source")).cast("int").as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_tokens"),
        expr("CAST(SUM(keep) * 1000000 DIV COUNT(*) AS BIGINT)").as("keep_ppm"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("g_lang"), col("g_source"), col("n_docs"), col("n_tokens"), col("keep_ppm"))
      .orderBy("g_lang", "g_source", "lang", "source")
  }

  // ---------------------------------------------------- composed pipeline

  /** X-PIPE4 — the round-7 stages composed END-TO-END: segment dedup over
    * the whole corpus → fuzzy decontamination of the non-eval half against
    * the raw eval set → quality-rule gate over the CLEANED, SEGMENT-DEDUPED
    * text. Oracle-checking the composition (not just each stage) pins the
    * interactions: the quality signals are computed on the reassembled
    * text (so segment drops legitimately change n_words/stop_hits), and
    * the fuzzy verify compares deduped corpus text against untouched eval
    * text — the real deployment shape, where the eval set is external and
    * never preprocessed.
    *
    * Oracle units posture (shared with x_dec5): the engine's fuzzy sim is
    * defined on BYTES (lev_bytes / octet_length). DuckDB has no byte-level
    * levenshtein, so the oracle's numerator is codepoint edits over a
    * byte (strlen) denominator — identical to the engine on the ASCII
    * testdata (1 codepoint = 1 byte). The non-ASCII byte contract is
    * pinned by data in PipelineOps8Spec ("byte-unit fuzzy sim…"), where
    * char-math and byte-math yield OPPOSITE keep verdicts.
    */
  private val pipe4 = Probe(
    "x_pipe4_segment_decon_quality",
    s"""WITH w0 AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) > 0),
       |s0 AS (
       |  SELECT doc_id, list_transform(generate_series(1, CAST(ceil(len(ws) / 16.0) AS BIGINT)),
       |                                k -> array_to_string(ws[((k - 1) * 16 + 1):(k * 16)], ' ')) AS segs
       |  FROM w0),
       |seg AS (
       |  SELECT doc_id, k AS seg_idx, segs[k] AS seg
       |  FROM s0, UNNEST(generate_series(1, len(segs))) AS t(k)),
       |first AS (
       |  SELECT doc_id, seg_idx, seg FROM (
       |    SELECT doc_id, seg_idx, seg,
       |           row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
       |    FROM seg)
       |  WHERE rn = 1),
       |kept AS (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
       |  FROM first GROUP BY doc_id),
       |corp AS (SELECT doc_id, text FROM kept WHERE doc_id % 25 <> 0),
       |shc AS (
       |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM corp
       |        WHERE len(${CleanFns.tokensDuck("text")}) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
       |she AS (
       |  SELECT DISTINCT doc_id AS eval_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |        WHERE doc_id % 25 = 0 AND len(${CleanFns.tokensDuck("text")}) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
       |cand AS (SELECT DISTINCT c.doc_id, e.eval_id FROM shc c JOIN she e ON c.s = e.s),
       |hit AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM cand c JOIN corp d ON d.doc_id = c.doc_id
       |       JOIN documents e ON e.doc_id = c.eval_id
       |  WHERE 1 - CAST(levenshtein(d.text, e.text) AS DOUBLE) /
       |            GREATEST(strlen(d.text), strlen(e.text)) >= 0.30),
       |clean AS (SELECT * FROM corp WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
       |t AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), tkn -> tkn <> '') AS w FROM clean),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
       |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
       |  FROM t)
       |SELECT doc_id, n_words, mean_len_c, alpha_ppm, stop_hits
       |FROM m
       |WHERE n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
       |  AND alpha_ppm >= 600000 AND stop_hits >= 2
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val deduped = PipelineOps8.segmentDedup(docs)
      .select(col("doc_id"), col("text_kept").as("text"))
    val corp = deduped.filter(col("doc_id") % 25 =!= 0)
    val ev = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"))
    val cleaned = graft.api.Corpus(corp).decontaminateFuzzy(ev, minSim = 0.30).df
    graft.ext.PipelineOps3.addQualityRuleSignals(cleaned)
      .filter(col("keep") === 1L)
      .select(col("doc_id"), col("n_words"), col("mean_len_c"),
        col("alpha_ppm"), col("stop_hits"))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(ded20, rep2, pipe4)
}

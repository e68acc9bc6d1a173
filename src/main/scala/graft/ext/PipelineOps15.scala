package graft.ext

import graft.{Probe, Tables}
import graft.clean.EncodingFns
import org.apache.spark.sql.functions._

/** Round-10 additions (tenth wave): encoding repair — the ftfy-lite
  * mojibake/BOM/C1 stage ([[graft.clean.EncodingFns]]) that runs before
  * any text statistic, pinned cross-engine on planted fixtures built
  * deterministically INSIDE the query (the x_html1 discipline: both
  * engines repair byte-identical text).
  */
object PipelineOps15 {

  /** The planted damage prefix: a scattered BOM, cp1252-rendered curly
    * quotes / em dash, single- and double-mojibake accents (nbsp and
    * soft-hyphen continuations included), guillemets, and a C1 control —
    * one sample per rule family of the repair chain.
    */
  private[graft] val planted =
    "\ufeffCafÃ© â€œnaÃ¯veâ€\u009d â€” dÃ©jÃ\u00a0 vu ÃƒÂ© Â«xÂ»\u0085 end: "

  /** X-ENC1 — encoding repair over planted-damage documents: BOM strip,
    * the ordered mojibake common table (incl. the one-level-per-pass
    * double-encoding behavior: "ÃƒÂ©" → "Ã©" after ONE pass), C1 drop —
    * byte-exact against the DuckDB twin of the same chain, with the
    * repaired length beside it (the n_chars every downstream gate sees).
    */
  private val enc1 = Probe(
    "x_enc1_repair_encoding",
    s"""WITH d AS (
       |  SELECT doc_id, ${EncodingFns.sqlLit(planted)} || text AS text FROM documents),
       |r AS (SELECT doc_id, ${EncodingFns.repairEncodingDuck("text")} AS text FROM d)
       |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
       |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val damaged = Tables(s, dir, "documents")
      .select(col("doc_id"), concat(lit(planted), col("text")).as("text"))
    graft.api.Corpus(damaged).repairEncoding().df
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- funnel report

  /** Pipeline FUNNEL report — the datacard table every release writes:
    * how many documents entered, and how many each curation stage let
    * through, with the per-stage drop rate. Stages here are the standard
    * chain: quality rule gate (x_txt11) → exact content dedup (x_ded1,
    * min-doc_id survivor) → eval-set decontamination (x_dec1's shingle
    * semantics, eval = doc_id % 25 = 0 held out and excluded from the
    * corpus side up front).
    *
    * Shape: each stage's survivor set is a DataFrame; the report is
    * three 1-row aggregations unioned — the corpus is scanned once per
    * stage boundary (a production run would persist the chain instead;
    * the report's VALUE is the counts, which need the stages computed
    * regardless). Nothing here collects beyond the 3-row report.
    */
  def funnelReport(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    val q = PipelineOps3.addQualityRuleSignals(corpus)
      .filter(col("keep") === 1).select(col("doc_id"), col("text"))
    val dd = q.groupBy(md5(col("text")).as("__h")).agg(min(col("doc_id")).as("doc_id"))
      .join(q, "doc_id").select(col("doc_id"), col("text"))
    val dec = graft.api.Corpus(dd).decontaminate(docs.filter(col("doc_id") % 25 === 0)).df
    def cnt(d: org.apache.spark.sql.DataFrame) = d.agg(count(lit(1)).cast("long").as("n"))
    val rows = Seq(
      ("1_quality_gate", cnt(corpus), cnt(q)),
      ("2_exact_dedup", cnt(q), cnt(dd)),
      ("3_decontamination", cnt(dd), cnt(dec)))
    rows.map { case (name, in, out) =>
      in.select(col("n").as("n_in"))
        .join(out.select(col("n").as("n_out")))
        .select(lit(name).as("stage"), col("n_in"), col("n_out"),
          expr("(n_in - n_out) * 1000000 DIV n_in").as("drop_ppm"))
    }.reduce(_.unionAll(_))
  }

  /** X-PIPE7 — the funnel over the documents table, every stage count
    * and drop rate oracle-checked (the oracle recomputes the quality
    * algebra, the min-doc_id dedup, and the shingle decon relationally,
    * then the same three-row rollup).
    */
  private val pipe7 = Probe(
    "x_pipe7_funnel_report",
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0),
       |t AS (
       |  SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\\s+'), tkn -> tkn <> '') AS w
       |  FROM corp),
       |m AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
       |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text FROM m
       |  WHERE n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
       |    AND alpha_ppm >= 600000 AND stop_hits >= 2),
       |dd AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM q) WHERE rn = 1),
       |shc AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '') AS ws FROM dd
       |        WHERE len(list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '')) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS tt(i)),
       |she AS (
       |  SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '') AS ws FROM documents
       |        WHERE doc_id % 25 = 0
       |          AND len(list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '')) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS tt(i)),
       |cont AS (SELECT DISTINCT shc.doc_id FROM shc JOIN she ON shc.s = she.s),
       |dec AS (SELECT doc_id FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |cn AS (
       |  SELECT (SELECT COUNT(*) FROM corp) AS n0,
       |         (SELECT COUNT(*) FROM q) AS n1,
       |         (SELECT COUNT(*) FROM dd) AS n2,
       |         (SELECT COUNT(*) FROM dec) AS n3)
       |SELECT stage, CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
       |  CAST((n_in - n_out) * 1000000 // n_in AS BIGINT) AS drop_ppm
       |FROM (
       |  SELECT '1_quality_gate' AS stage, n0 AS n_in, n1 AS n_out FROM cn
       |  UNION ALL SELECT '2_exact_dedup', n1, n2 FROM cn
       |  UNION ALL SELECT '3_decontamination', n2, n3 FROM cn)
       |ORDER BY stage""".stripMargin) { (s, dir) =>
    funnelReport(Tables(s, dir, "documents")).orderBy("stage")
  }

  val all: Seq[Probe] = Seq(enc1, pipe7)
}

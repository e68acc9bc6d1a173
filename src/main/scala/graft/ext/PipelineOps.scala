package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._

/** Corpus-pipeline operators beyond dedup/similarity: stratified
  * downsampling and the composed end-to-end pipeline. Stratified sampling
  * is a pure narrow filter (hash-bucket arithmetic per row), exactly like
  * `p_sample_deterministic` but with per-stratum rates.
  */
object PipelineOps {

  /** X-SMP2 — deterministic stratified downsampling: per-language keep
    * rates (the dominant language is downsampled, the tail kept), decided
    * by a content-independent md5 bucket of the document id — reproducible
    * across engines, partitionings, and cluster sizes, and NO shuffle (a
    * pure filter; the ORDER BY is presentation only).
    *
    * Rates: 'en' keeps 2/16 of docs, every other language 8/16 — the
    * rebalancing move every multilingual corpus build performs.
    */
  private val smp2 = Probe(
    "x_smp2_stratified",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE CASE WHEN lang = 'en'
      |        THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
      |        ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    Tables(s, dir, "documents")
      .filter(when(col("lang") === "en", bucket.isin("0", "1"))
        .otherwise(bucket < "8"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** X-PIPE1 — the composed corpus pipeline END-TO-END through the fluent
    * `api.Corpus` API: quality signals → word-count gate → exact dedup
    * (deterministic survivor) → stratified downsample. Oracle-checking the
    * composition (not just each stage) pins that the stages do not
    * interfere — e.g. dedup's window does not reorder rows under the
    * sampling filter, and the quality ppm math survives the chain intact.
    * (The gate corpus has no duplicate texts, so the dedup stage's
    * survivor choice is additionally pinned on planted dupes in DedupSpec
    * and CorpusSpec.)
    */
  private val pipe1 = Probe(
    "x_pipe1_corpus_end_to_end",
    """WITH q AS (
      |  SELECT doc_id, text,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) AS BIGINT) AS n_words,
      |    (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) * 1000000)
      |      // nullif(length(text), 0) AS letter_ppm,
      |    (CAST(len(list_filter(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> ''),
      |                          w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) * 1000000)
      |      // nullif(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')), 0) AS stop_ppm
      |  FROM documents),
      |f AS (SELECT * FROM q WHERE n_words BETWEEN 5 AND 2000),
      |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
      |SELECT doc_id, n_words, letter_ppm, stop_ppm
      |FROM d
      |WHERE rn = 1 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Corpus(s, dir)
      .withQualitySignals()
      .filterQuality(5, 2000)
      .dedupExact()
      .df
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
      .select(col("doc_id"), col("n_words"), col("letter_ppm"), col("stop_ppm"))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(smp2, pipe1)
}

package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._

/** Corpus composition report, per-language adaptive quality threshold,
  * survivor-policy dedup, curriculum deciles, and the composed
  * chunk → pack pipeline (x_pipe2).
  *
  * Scale design notes (100 TB):
  * - The composition report aggregates the full corpus down to a
  *   (source × lang)-sized table FIRST (partial-combine hash agg), then
  *   computes corpus shares with a window over that tiny aggregate — the
  *   unpartitioned window never sees more rows than distinct
  *   source×lang pairs, so the single-reducer stage is bounded by
  *   metadata cardinality, not data size.
  */
object PipelineOps4 {

  /** X-REP1 — corpus composition report: per (source, lang) document
    * counts, token/char volumes, and the corpus share in ppm — the
    * mixture table a training run starts from (and the input a
    * `mixBySourceWeights` call is tuned against).
    */
  private val rep1 = Probe(
    "x_rep1_composition",
    """WITH a AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> ''))) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source, lang)
      |SELECT source, lang, n_docs, n_tokens, sum_chars,
      |  CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens,
      |  CAST(n_docs * 1000000 // sum(n_docs) OVER () AS BIGINT) AS share_ppm
      |FROM a ORDER BY source, lang""".stripMargin) { (s, dir) =>
    compositionReport(Tables(s, dir, "documents")).orderBy("source", "lang")
  }

  def compositionReport(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    docs
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.clean.CleanFns.tokens(col("text")))).cast("long").as("n_tokens"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("total_docs", sum(col("n_docs")).over(w))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("sum_chars"),
        expr("CAST(n_tokens DIV n_docs AS BIGINT)").as("mean_tokens"),
        expr("CAST(n_docs * 1000000 DIV total_docs AS BIGINT)").as("share_ppm"))
  }

  /** X-TXT12 — per-language adaptive quality threshold (the CCNet-style
    * per-lang cutoff): keep documents at or above their OWN language's
    * median word count, so no single language's length distribution sets
    * a global bar. Thresholds come from a lang-count-sized aggregate
    * (exact interpolated median = `percentile(…, 0.5)`, same definition
    * as DuckDB `median`), which re-joins the corpus as a broadcast — the
    * corpus itself is scanned, never shuffled; the agg is partial-combine.
    */
  private val txt12 = Probe(
    "x_txt12_adaptive_quality",
    """WITH wc AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) AS BIGINT) AS n_words
      |  FROM documents),
      |m AS (
      |  SELECT lang, median(n_words) AS lang_median FROM wc GROUP BY lang)
      |SELECT wc.doc_id, wc.lang, wc.n_words, m.lang_median
      |FROM wc JOIN m USING (lang)
      |WHERE wc.n_words >= m.lang_median
      |ORDER BY wc.doc_id""".stripMargin) { (s, dir) =>
    filterByLangMedian(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  def filterByLangMedian(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wc = docs.select(col("doc_id"), col("lang"),
      size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_words"))
    // lang-count-sized (bounded by metadata cardinality, NOT corpus size,
    // unlike x_txt8's vocabulary) — AQE picks the broadcast side
    val med = wc.groupBy("lang")
      .agg(expr("percentile(n_words, 0.5)").as("lang_median"))
    wc.join(med, Seq("lang"))
      .filter(col("n_words") >= col("lang_median"))
      .select("doc_id", "lang", "n_words", "lang_median")
  }

  /** X-PIPE2 — composed chunk → pack: context-window chunking (x_chunk1's
    * exact expansion) feeding sequence packing (x_pack1's cumsum-bin
    * rule) — chunks pack into 64-token bins per 1000-doc shard. The
    * oracle recomputes the COMPOSITION end-to-end, pinning that the two
    * operators fuse without an intermediate materialization changing
    * results. Window partitions stay bounded: each (shard) holds at most
    * 1000 docs' worth of chunks regardless of corpus size.
    */
  private val pipe2 = Probe(
    "x_pipe2_chunk_pack",
    s"""${TokenLayout.chunkStartsDuck},
      |ch AS (
      |  SELECT doc_id, CAST((s - 1) // 12 AS BIGINT) AS chunk_idx,
      |    CAST(len(toks[s:s+15]) AS BIGINT) AS n_tokens,
      |    doc_id // 1000 AS shard
      |  FROM c),
      |p AS (
      |  SELECT shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM ch)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST((cum - n_tokens) // 64 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
      |FROM p GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin) { (s, dir) =>
    val chunks = TokenLayout.chunkTokenWindows(Tables(s, dir, "documents"), 16, 12)
      .withColumn("shard", expr("doc_id DIV 1000"))
    TokenLayout.runningOffset(chunks, Seq("shard"), Seq("doc_id", "chunk_idx"), "n_tokens")
      .withColumn("bin", TokenLayout.bin("cum - n_tokens", "64"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("bin_tokens"))
      .select(col("shard").cast("long").as("shard"), col("bin"),
        col("n_chunks"), col("bin_tokens"))
      .orderBy("shard", "bin")
  }

  /** X-DED11 — survivor-policy dedup: canonical-form groups (x_ded6's
    * normalize) keeping the LONGEST original text, tie-broken by smallest
    * id — "prefer the most complete copy" rather than first-seen, the
    * policy real pipelines want when near-identical docs differ by
    * truncation. One keyed window per canonical group; group sizes are
    * duplicate-cluster sizes, bounded regardless of corpus scale.
    */
  private val ded11 = Probe(
    "x_ded11_survivor_longest",
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    md5(lower(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ckey
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_chars, ckey,
      |    row_number() OVER (PARTITION BY ckey ORDER BY n_chars DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY ckey) AS n_docs
      |  FROM t)
      |SELECT ckey, doc_id AS survivor_id,
      |  CAST(n_chars AS BIGINT) AS survivor_chars,
      |  CAST(n_docs AS BIGINT) AS n_docs
      |FROM r WHERE rn = 1 ORDER BY ckey""".stripMargin) { (s, dir) =>
    val ckey = md5(lower(regexp_replace(
      regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ckey").orderBy(col("n_chars").desc, col("doc_id"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("ckey")
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), ckey.as("ckey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("ckey"), col("doc_id").as("survivor_id"),
        col("n_chars").cast("long").as("survivor_chars"),
        col("n_docs").cast("long").as("n_docs"))
      .orderBy("ckey")
  }

  /** X-CUR1 — curriculum deciles: label every document with its corpus
    * quality decile (here: n_chars as the quality proxy), the bucketing a
    * curriculum schedule samples from. Scale shape: the nine exact decile
    * cutoffs come from one corpus-wide `percentile` aggregate (a single
    * 9-double row), which re-joins as a broadcast nested loop (1-row build
    * side); the decile assignment itself is a narrow array count — the
    * corpus is never shuffled, sorted, or windowed. The naive form —
    * `ntile(10) OVER (ORDER BY …)` — would funnel the corpus through one
    * reducer; this is its distributed replacement.
    */
  private val cur1 = Probe(
    "x_cur1_quality_deciles",
    """WITH c AS (
      |  SELECT quantile_cont(n_chars,
      |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
      |  FROM documents)
      |SELECT doc_id, n_chars,
      |  CAST(1 + len(list_filter(c.cuts, x -> CAST(n_chars AS DOUBLE) >= x)) AS BIGINT) AS decile
      |FROM documents, c
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityDeciles(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  def qualityDeciles(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cuts = broadcast(docs.agg(expr(
      "percentile(n_chars, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))")
      .as("cuts")))
    docs.select(col("doc_id"), col("n_chars"))
      .crossJoin(cuts) // 1-row build side -> broadcast nested loop
      .select(col("doc_id"), col("n_chars"),
        expr("CAST(1 + size(filter(cuts, x -> CAST(n_chars AS DOUBLE) >= x)) AS BIGINT)")
          .as("decile"))
  }

  val all: Seq[Probe] = Seq(rep1, txt12, pipe2, ded11, cur1)
}

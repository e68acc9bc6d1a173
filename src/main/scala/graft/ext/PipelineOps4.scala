package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._

/** Fourth batch of corpus-pipeline operators: context-window chunking and
  * the corpus composition report.
  *
  * Scale design notes (100 TB):
  * - Chunking is explode-only (one narrow pass, no shuffle): every doc
  *   emits its window starts via `sequence`, each chunk is a bounded
  *   `slice` of the token array. Output size is corpus_tokens / stride ×
  *   window — linear, and each task holds only its own documents. The
  *   chunk digest (16-hex of md5) keeps the shuffled payload fixed-width
  *   when downstream ops group by chunk.
  * - The composition report aggregates the full corpus down to a
  *   (source × lang)-sized table FIRST (partial-combine hash agg), then
  *   computes corpus shares with a window over that tiny aggregate — the
  *   unpartitioned window never sees more rows than distinct
  *   source×lang pairs, so the single-reducer stage is bounded by
  *   metadata cardinality, not data size.
  */
object PipelineOps4 {

  /** X-CHUNK1 — context-window chunking: split each document's tokens
    * into windows of 16 with stride 12 (4-token overlap), the standard
    * pretraining pre-tokenization chunking step. Trailing windows keep
    * their natural (shorter) length; every token lands in ≥1 chunk.
    * Chunks surface as (doc_id, chunk_idx, n_tokens, chunk_hash).
    */
  private val chunk1 = Probe(
    "x_chunk1_token_windows",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS toks FROM documents),
      |c AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 12)) AS s FROM t)
      |SELECT doc_id,
      |  CAST((s - 1) // 12 AS BIGINT) AS chunk_idx,
      |  CAST(len(toks[s:s+15]) AS BIGINT) AS n_tokens,
      |  substr(md5(array_to_string(toks[s:s+15], ' ')), 1, 16) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    chunkTokenWindows(Tables(s, dir, "documents"), 16, 12)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Shared implementation (also the `api.Corpus.chunkTokens` backend):
    * narrow explode of window starts, bounded slices, no shuffle.
    */
  def chunkTokenWindows(docs: org.apache.spark.sql.DataFrame,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride")
    docs
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks), $stride)")).as("s"))
      .select(col("doc_id"),
        expr(s"CAST((s - 1) DIV $stride AS BIGINT)").as("chunk_idx"),
        expr(s"CAST(size(slice(toks, s, $window)) AS BIGINT)").as("n_tokens"),
        expr(s"substr(md5(concat_ws(' ', slice(toks, s, $window))), 1, 16)")
          .as("chunk_hash"))
  }

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

  /** X-SMP5 — exact-N deterministic sample: the smallest N documents by a
    * content-independent hash order — "give me exactly 100 reproducible
    * docs" at any corpus size. Plans as TakeOrderedAndProject (per-partition
    * top-k, then a k-sized merge): no global sort, no full shuffle — the
    * cluster moves N rows, not the corpus.
    */
  private val smp5 = Probe(
    "x_smp5_exact_n",
    """SELECT doc_id, lang, source FROM documents
      |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy("h", "doc_id").limit(100)
      .drop("h")
  }

  /** X-MIX2 — temperature-scaled mixture weights (T = 2): per-source
    * upsampling factors `(n_max / n_source)^(1/2)` in ppm — the standard
    * multilingual/multi-source rebalancing rule (sampling ∝ share^(1/T)
    * flattens the source distribution; T=2 here because `sqrt` is
    * IEEE-correctly-rounded, so the oracle is bit-exact where a general
    * `pow` would not be). Computed entirely on the sources-sized
    * aggregate; the corpus contributes one partial-combine count. The
    * output IS the weights table `Corpus.mixBySourceWeights`-style
    * expansion consumes (see `Corpus.mixByTemperature`).
    */
  private val mix2 = Probe(
    "x_mix2_temperature_weights",
    """WITH a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs,
      |  CAST(floor(sqrt(CAST(max(n_docs) OVER () AS DOUBLE) / CAST(n_docs AS DOUBLE))
      |             * 1000000) AS BIGINT) AS weight_ppm
      |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    temperatureWeights(Tables(s, dir, "documents"), 0.5).orderBy("source")
  }

  /** Per-source upsampling weights `(n_max / n_source)^invTemp` in ppm.
    * invTemp = 1/T; 0.5 (T=2) is the oracle-checked case. Runs on the
    * sources-sized aggregate — the unpartitioned max sees one row per
    * source, never documents.
    */
  def temperatureWeights(docs: org.apache.spark.sql.DataFrame, invTemp: Double)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    // sqrt is IEEE-correctly-rounded, pow is not — route the T=2 case
    // through sqrt so the cross-engine oracle stays bit-exact
    val scaled =
      if (invTemp == 0.5) "sqrt(CAST(max_docs AS DOUBLE) / CAST(n_docs AS DOUBLE))"
      else s"power(CAST(max_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), $invTemp)"
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("max_docs", max(col("n_docs")).over(w))
      .select(col("source"), col("n_docs"),
        expr(s"CAST(floor($scaled * 1000000) AS BIGINT)").as("weight_ppm"))
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
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS toks FROM documents),
      |c AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 12)) AS s FROM t),
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
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id", "chunk_idx")
      .rowsBetween(Long.MinValue, 0)
    chunkTokenWindows(Tables(s, dir, "documents"), 16, 12)
      .withColumn("shard", expr("doc_id DIV 1000"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", expr("(cum - n_tokens) DIV 64"))
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

  val all: Seq[Probe] = Seq(chunk1, rep1, txt12, smp5, mix2, pipe2, ded11, cur1)
}

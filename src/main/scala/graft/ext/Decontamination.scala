package graft.ext

import graft.{Probe, Tables}
import graft.api.Corpus
import graft.clean.CleanFns
import graft.functions.BloomHits.bloom_hits
import graft.functions.LevBytes.lev_bytes
import graft.functions.NgramMd5.ngram_md5
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: the one definition of the 4-word shingle,
  * of the eval set's Bloom sketch and of the fuzzy edit-distance verify.
  * `Corpus.decontaminate` / `decontaminateFuzzy` / `scoreContamination`,
  * their `DocStreams` stream twins, novelty scoring and the x_dec1–x_dec5
  * probes all call into it, so the batch, streaming and oracle-checked
  * paths cannot drift.
  *
  * Scale design: the eval side is broadcast — raw shingles, or a sketch
  * whose size does not grow with the eval set — so the corpus is never
  * shuffled on its shingles; every wide stage sees only matched rows,
  * which are proportional to contamination, not corpus size.
  */
object Decontamination {

  /** The 4-word shingle array of the token-array column `ws`. Callers keep
    * rows with `size(ws) >= 4` only: on shorter arrays `sequence` counts
    * down and yields nonsense windows.
    */
  private def shingleArray(ws: String = "ws"): Column = expr(
    s"""transform(sequence(1, size($ws) - 3),
       |  i -> concat_ws(' ', element_at($ws, i), element_at($ws, i + 1),
       |                 element_at($ws, i + 2), element_at($ws, i + 3)))""".stripMargin)

  /** (doc_id, `carry`…, s): one row per 4-word shingle position of every
    * document with at least 4 tokens — the decontamination unit.
    */
  def shingles(docs: DataFrame, carry: Column*): DataFrame = {
    val kept = col("doc_id") +: carry
    docs.select(kept :+ CleanFns.tokens(col("text")).as("ws"): _*)
      .filter(size(col("ws")) >= 4)
      .select(kept :+ explode(shingleArray()).as("s"): _*)
  }

  /** `docs` minus every document sharing a 4-word shingle with `evalDocs`,
    * in the eval-size regime `mode` names (see [[Corpus.decontaminate]]).
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, mode: Corpus.EvalMode): DataFrame =
    mode match {
      case Corpus.EvalBloom =>
        // null text or < 4 tokens has no digest to hit: the document stays
        withBloomHits(docs, evalDocs)
          .filter(coalesce(col("__n_bloom"), lit(0L)) === 0L)
          .drop("__n_bloom")
      case exact =>
        val evSh = shingles(evalDocs).select(col("s")).distinct()
        val evSide = if (exact == Corpus.EvalBroadcast) broadcast(evSh) else evSh.hint("merge")
        val contaminated = shingles(docs).join(evSide, Seq("s"), "left_semi")
        docs.join(contaminated.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    }

  private val bloomHex = 3
  private val bloomK = 3

  /** `docs` plus `__n_bloom`: how many of each document's distinct
    * shingles are positive in the Bloom sketch of `evalDocs` (NULL on
    * NULL text). The sketch is `PipelineOps7.gramBloom` at k = 3 slot
    * functions of 4096 slots — disjoint 3-hex windows of one md5 digest —
    * so the broadcast is 192 longs at ANY eval size, at the price of
    * deterministic false positives. The corpus side stays narrow: native
    * digests plus O(1) bit probes against the 1-row sketch.
    */
  private def withBloomHits(docs: DataFrame, evalDocs: DataFrame): DataFrame =
    docs.crossJoin(broadcast(PipelineOps7.gramBloom(evalDocs, bloomHex, bloomK)))
      .withColumn("__n_bloom",
        bloom_hits(ngram_md5(col("text"), 4), col("__bloom"), bloomHex, bloomK))
      .drop("__bloom")

  /** `docs` plus `contam_ppm`: the ppm of each document's distinct
    * shingles found in `evalDocs` (0 under 4 tokens) — the number a
    * drop/flag threshold policy consumes. The per-doc denominator is
    * computed in the token-array domain (narrow); eval shingles broadcast;
    * the hit table (∝ contamination) re-joins via AQE broadcast.
    */
  def withContaminationPpm(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val withSh = docs
      .withColumn("_ws", CleanFns.tokens(col("text")))
      .withColumn("_sh",
        when(size(col("_ws")) >= 4, array_distinct(shingleArray("_ws"))).otherwise(array()))
    val evSh = broadcast(shingles(evalDocs).select(col("s").as("ev_s")).distinct())
    val hits = withSh.select(col("doc_id"), explode(col("_sh")).as("s"))
      .join(evSh, col("s") === col("ev_s"))
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("_n_hit"))
    withSh
      .withColumn("_n_sh", size(col("_sh")).cast("long"))
      .join(hits, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("_n_hit"))
      .withColumn("contam_ppm",
        expr("CASE WHEN _n_sh = 0 THEN 0L ELSE CAST(_n_hit * 1000000 DIV _n_sh AS BIGINT) END"))
      .drop("_ws", "_sh", "_n_sh", "_n_hit")
  }

  /** FUZZY matches (doc_id, eval_id, lev, sim): every (document, eval
    * document) pair that shares a 4-word shingle and whose byte edit
    * similarity `sim = 1 - lev / max(octet_length)` reaches `minSim`.
    * The exact shingle hit generates the candidates, so the O(len²)
    * verify only ever touches the candidate slice, never corpus × eval.
    *
    * The candidate set is tiny in BYTES but each row's verify is O(len²) —
    * the regime where AQE's size-based coalesce is wrong: it folded the
    * whole verify stage into one task (13 s single-threaded at sf0.1,
    * PERF.md round 7). Two fixes, both general patterns for
    * expensive-scalar stages over small-byte row sets:
    *  - `lev_bytes`, a native primitive-int byte DP (1.6x the built-in's
    *    per-pair speed, and codegen-friendly);
    *  - an explicitly-NUMBERED repartition on a key subset DIFFERENT from
    *    the distinct's grouping keys. Same-keys-same-N would be removed as
    *    a no-op (leaving only the aggregate's ENSURE_REQUIREMENTS exchange,
    *    which AQE coalesces to 1); a REPARTITION_BY_NUM exchange on doc_id
    *    survives both the optimizer and AQE.
    */
  def fuzzyMatches(docs: DataFrame, evalDocs: DataFrame, minSim: Double): DataFrame = {
    val verifyParallelism =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val cand = shingles(docs).join(evalShingles(evalDocs), Seq("s"))
      .select(col("doc_id"), col("eval_id"))
      .distinct()
      .repartition(verifyParallelism, col("doc_id"))
    verified(cand.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")), evalDocs, minSim)
  }

  /** The broadcast, deduplicated (eval_id, s) shingles of `evalDocs`. */
  private[graft] def evalShingles(evalDocs: DataFrame): DataFrame =
    broadcast(shingles(evalDocs).select(col("doc_id").as("eval_id"), col("s")).distinct())

  /** The verify of [[fuzzyMatches]] over candidate rows carrying
    * (doc_id, eval_id, text): a narrow map against the broadcast eval
    * texts, so a stream can run it too. Numerator and denominator are
    * both in BYTES (`lev_bytes`, `octet_length`): a char denominator
    * deflates sim on multi-byte text and misses paraphrased contamination
    * in non-ASCII corpora. DuckDB's `strlen` is the byte twin.
    */
  private[graft] def verified(cand: DataFrame, evalDocs: DataFrame, minSim: Double): DataFrame =
    cand
      .join(broadcast(evalDocs.select(col("doc_id").as("eval_id"), col("text").as("ev_text"))),
        Seq("eval_id"))
      .withColumn("lev", lev_bytes(col("text"), col("ev_text")))
      .withColumn("sim", lit(1.0) - col("lev").cast("double") /
        greatest(octet_length(col("text")), octet_length(col("ev_text"))))
      .filter(col("sim") >= minSim)
      .select(col("doc_id"), col("eval_id"), col("lev"), col("sim"))

  // ------------------------------------------------------------ probes
  // The held-out eval set of every probe is doc_id % 25 == 0 (see x_dec1).

  private def corpusOf(docs: DataFrame) = docs.filter(col("doc_id") % 25 =!= 0)
  private def evalOf(docs: DataFrame) = docs.filter(col("doc_id") % 25 === 0)

  /** Per contaminated doc of x_dec1/x_dec2: how many distinct shingles are
    * compromised and how many eval docs it overlaps; `evalSide` picks the
    * join strategy. No corpus-side distinct: the final count(DISTINCT …)
    * already dedupes, and a distinct here would shuffle every corpus
    * shingle. Only the eval side is deduplicated.
    */
  private def shingleHits(s: SparkSession, dir: String)(evalSide: DataFrame => DataFrame) = {
    val sh = shingles(Tables(s, dir, "documents"))
    val ev = evalSide(evalOf(sh).select(col("doc_id").as("eval_id"), col("s").as("ev_s")).distinct())
    corpusOf(sh)
      .join(ev, col("s") === col("ev_s"))
      .groupBy("doc_id")
      .agg(count_distinct(col("s")).as("n_shingles_hit"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  private val hitsSql =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents
      |        WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 25 = 0),
      |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 25 <> 0)
      |SELECT corp.doc_id,
      |  CAST(COUNT(DISTINCT corp.s) AS BIGINT) AS n_shingles_hit,
      |  CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
      |FROM corp JOIN ev ON corp.s = ev.s
      |GROUP BY corp.doc_id
      |ORDER BY corp.doc_id""".stripMargin

  /** X-DEC1 — benchmark decontamination: find corpus documents sharing any
    * 4-word shingle with the held-out eval set (here: doc_id % 25 == 0, a
    * deterministic stand-in for "the benchmark suite"; 4 keeps the check
    * non-vacuous on the synthetic corpus — 27 contaminated docs at sf0.01).
    *
    * Per contaminated doc: how many distinct shingles are compromised and
    * how many eval docs it overlaps. The eval side is `broadcast()` — eval
    * benchmarks are KBs-to-MBs against a 100 TB corpus, so the corpus-side
    * scan joins map-side with zero shuffle; only matched (doc, shingle,
    * eval_doc) rows reach the rollup.
    */
  private val dec1 = Probe("x_dec1_contamination", hitsSql) { (s, dir) =>
    shingleHits(s, dir)(broadcast(_))
  }

  /** X-DEC2 — decontamination, SHUFFLE path: identical semantics and output
    * to x_dec1, but the join is forced to shuffle (MERGE hint) instead of
    * broadcasting the eval side. This is the regime where the "eval" side
    * is NOT tiny — decontaminating against another corpus shard, a
    * multi-GB blocklist, or all previously-released training data — and a
    * broadcast would OOM the driver (the exact failure mode VERDICT r3
    * flagged for x_txt8's forced vocabulary broadcast). Both sides shuffle
    * once on the shingle key; everything after the join is proportional to
    * contamination. PlanAuditSpec pins the strategy split: x_dec1 plans a
    * BroadcastHashJoin with zero corpus-side exchange, x_dec2 a
    * SortMergeJoin.
    */
  private val dec2 = Probe("x_dec2_contamination_shuffle", hitsSql) { (s, dir) =>
    shingleHits(s, dir)(_.hint("merge")) // the eval side is too big to broadcast here
  }

  /** X-DEC3 — Bloom-filter decontamination: the FIXED-MEMORY variant of
    * x_dec1/x_dec2. Eval shingles are folded into the Bloom sketch of
    * [[withBloomHits]] (k = 3 slot functions of 4096 slots, the disjoint
    * 3-hex-digit windows 1-3, 4-6, 7-9 of ONE md5 per shingle): a 1.5 KB
    * broadcast NO MATTER HOW LARGE the eval side grows. This is the regime
    * between dec1 (eval tiny → broadcast raw shingles) and dec2 (eval huge
    * → shuffle both sides), at the price of deterministic false positives,
    * which a candidate-verify stage (x_dec1's exact join on the
    * bloom-positive slice only) would then clear.
    *
    * Counts per corpus doc the distinct shingles whose k slots are ALL
    * occupied (bloom-positive candidates, false positives included — the
    * oracle reproduces the same slots, so FP behavior itself is checked).
    * A narrow filter: no shingle row and no doc-keyed rollup exists.
    */
  private val dec3 = Probe(
    "x_dec3_bloom_contamination",
    """WITH sh AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents
      |        WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
      |bloom AS (
      |  SELECT DISTINCT CAST(i AS VARCHAR) || ':' ||
      |         substr(md5(s), 1 + 3 * i, 3) AS p
      |  FROM ev, UNNEST([0, 1, 2]) AS u(i)),
      |corp AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 25 <> 0)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
      |FROM corp
      |WHERE '0:' || substr(md5(s), 1, 3) IN (SELECT p FROM bloom)
      |  AND '1:' || substr(md5(s), 4, 3) IN (SELECT p FROM bloom)
      |  AND '2:' || substr(md5(s), 7, 3) IN (SELECT p FROM bloom)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    withBloomHits(corpusOf(docs), evalOf(docs))
      .select(col("doc_id"), col("__n_bloom").as("n_candidates"))
      .filter(col("n_candidates") > 0)
      .orderBy("doc_id")
  }

  /** X-DEC4 — contamination SCORING (the policy-grade companion to
    * x_dec1's detection): for EVERY corpus document, the fraction (ppm) of
    * its distinct 4-word shingles that appear in the held-out eval set —
    * the number a threshold policy ("drop above 200000 ppm, flag above 0")
    * consumes. Scale shape: the per-doc distinct-shingle count is computed
    * IN the token-array domain (`array_distinct`, narrow — the corpus
    * never shuffles for its own denominator); only eval-MATCHED shingles
    * reach the keyed rollup, and the hit table re-joins doc stats as an
    * AQE broadcast (hits ∝ contamination, not corpus size).
    */
  private val dec4 = Probe(
    "x_dec4_contamination_score",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
      |                   for i in range(1, len(ws) - 2)]) AS sh
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents
      |        WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 4)),
      |ev AS (
      |  SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % 25 = 0),
      |hits AS (
      |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM t WHERE doc_id % 25 <> 0) c
      |  JOIN ev ON c.s = ev.s GROUP BY c.doc_id)
      |SELECT t.doc_id,
      |  CAST(len(t.sh) AS BIGINT) AS n_shingles,
      |  coalesce(hits.n_hit, 0) AS n_hit,
      |  CAST(coalesce(hits.n_hit, 0) * 1000000 // len(t.sh) AS BIGINT) AS contam_ppm
      |FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
      |WHERE t.doc_id % 25 <> 0
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    // persist: the shingle frame feeds THREE consumers (eval broadcast,
    // hit scan, per-doc denominators) and Catalyst does not share common
    // subtrees across joins — without it the corpus is re-shingled 3×
    // (measured 9.1 s -> the persist collapses it to one build)
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"), array_distinct(shingleArray()).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ev = broadcast(evalOf(t).select(explode(col("sh")).as("ev_s")).distinct())
    val hits = corpusOf(t)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(ev, col("s") === col("ev_s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpusOf(t)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left_outer") // hit table ∝ contamination -> AQE broadcast
      .na.fill(0L, Seq("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit").cast("long").as("n_hit"),
        expr("CAST(n_hit * 1000000 DIV n_shingles AS BIGINT)").as("contam_ppm"))
      .orderBy("doc_id")
  }

  /** X-DEC5 — FUZZY decontamination: eval overlap that survives light
    * paraphrase. Candidates come from the exact 4-word-shingle hit (the
    * x_dec1 broadcast join — corpus never shuffles, matches are
    * proportional to contamination), then each candidate (corpus doc, eval
    * doc) pair is verified with FULL edit distance and kept at normalized
    * similarity >= 0.30 (sim = 1 - lev / max(len)). Exact-match
    * decontamination misses "the benchmark answer with two words changed";
    * this is the standard candidates-then-verify fix, with the expensive
    * O(len^2) levenshtein confined to the candidate slice — never the
    * corpus cross eval product.
    */
  private val dec5 = Probe(
    "x_dec5_fuzzy_decontamination",
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents
      |        WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 25 = 0),
      |cand AS (
      |  SELECT DISTINCT corp.doc_id, ev.eval_id
      |  FROM sh corp JOIN ev ON corp.s = ev.s
      |  WHERE corp.doc_id % 25 <> 0),
      |scored AS (
      |  SELECT c.doc_id, c.eval_id,
      |         levenshtein(d.text, e.text) AS lev,
      |         1 - CAST(levenshtein(d.text, e.text) AS DOUBLE) /
      |             GREATEST(strlen(d.text), strlen(e.text)) AS sim
      |  FROM cand c
      |  JOIN documents d ON d.doc_id = c.doc_id
      |  JOIN documents e ON e.doc_id = c.eval_id)
      |SELECT doc_id, eval_id, CAST(lev AS BIGINT) AS lev, round(sim, 6) AS sim
      |FROM scored WHERE sim >= 0.30
      |ORDER BY doc_id, eval_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    fuzzyMatches(corpusOf(docs), evalOf(docs), 0.30)
      .select(col("doc_id"), col("eval_id"), col("lev"), round(col("sim"), 6).as("sim"))
      .orderBy("doc_id", "eval_id")
  }

  val all: Seq[Probe] = Seq(dec1, dec2, dec3, dec4, dec5)
}

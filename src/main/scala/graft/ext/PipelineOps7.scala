package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Probe, Tables}
import graft.functions.BloomHits.bloom_hits
import graft.functions.NgramMd5.ngram_md5
import graft.functions.SortedCountIn.sorted_count_in

/** Curation operators: corpus-level novelty scoring, information-density
  * (token-entropy) scoring and corpus version diffs, plus the composed
  * split → budget → batch chain (x_pipe3).
  */
object PipelineOps7 {

  /** Per-document 4-gram novelty: the fraction (exact ppm) of a document's
    * DISTINCT word 4-grams whose earliest corpus occurrence (minimum
    * doc_id) is this document. Mirror-heavy or boilerplate-derivative
    * documents — the ones near-dedup keeps because they are not similar
    * to any SINGLE earlier document but are stitched from many — score
    * low; original content scores high. The standard curation signal for
    * "derivative but not duplicate" content.
    *
    * Scale shape: grams travel as fixed-width md5 digests, never raw
    * strings, so every shuffle is O(32 bytes x grams). Three keyed
    * exchanges — (doc, gram) distinct, gram-keyed first-occurrence
    * window, doc-keyed rollup — each with map-side combine; nothing is
    * quadratic and no task ever holds more than one gram bucket.
    */
  def noveltyScores(docs: DataFrame): DataFrame = {
    val grams = Decontamination.shingles(docs)
      .select(col("doc_id"), md5(col("s")).as("g"))
      .distinct()
    val firstDoc = grams
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy("g")))
    firstDoc.groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        expr("novel * 1000000 DIV n_grams").as("novelty_ppm"))
  }

  /** The released corpus' distinct 4-gram digest set as ONE sorted-array
    * row — the STATIC side of the streaming novelty scorer
    * (`streaming.DocStreams.noveltyScored`), built batch-side with one
    * digest-keyed shuffle. Broadcast-regime: viable while the released
    * index fits a broadcast (every gram digest of the corpus — MBs to
    * low GBs for snapshot-sized reference sets). Beyond that the
    * incremental-novelty regimes are the batch [[noveltyScores]] join or
    * a Bloom sketch of this set (the x_dec3 bounded-bitmap pattern, at
    * the cost of a small seen-side false-positive rate).
    */
  def gramSet(docs: DataFrame): DataFrame = {
    // native ngram_md5 dedupes per-doc BEFORE the explode, so the
    // distinct's shuffle carries each doc's digest set, not every gram
    // position
    docs.select(explode(ngram_md5(col("text"), 4)).as("g")).distinct()
      .agg(sort_array(collect_list(col("g"))).as("__grams"))
  }

  /** Score `docs` against a pre-built released-corpus gram set: novelty =
    * ppm of each document's DISTINCT 4-grams absent from the set. A
    * stateless narrow transform (gram digests + native binary-search
    * count against the broadcast array) — stream-capable, zero doc
    * shuffles, zero state; the incremental-crawl regime of [[noveltyScores]]
    * ("how much of this new document is new content").
    */
  def scoreNoveltyAgainst(docs: DataFrame, gramSet: DataFrame): DataFrame = {
    // per-ROW distinct-gram digest array (no explode + per-doc aggregation:
    // an agg would make the stage stateful under streaming; this keeps it a
    // pure projection). Native `ngram_md5` — one tight JVM pass per row
    // instead of an interpreted HOF lambda per gram position; NgramMd5Spec
    // pins it ≡ the declarative sort(distinct(transform(md5))) form. Docs
    // under 4 tokens yield an empty array and are dropped, exactly the
    // declarative size(ws) >= 4 filter.
    docs
      .withColumn("__g", ngram_md5(col("text"), 4))
      .filter(size(col("__g")) > 0)
      .crossJoin(broadcast(gramSet)) // 1-row build side -> broadcast nested loop
      .withColumn("n_grams", size(col("__g")).cast("long"))
      .withColumn("n_seen", sorted_count_in(col("__g"), col("__grams")).cast("bigint"))
      .withColumn("novelty_ppm", expr("(n_grams - n_seen) * 1000000 DIV n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"), col("novelty_ppm"))
  }

  /** X-TXT14 — novelty over the documents table; exact integer ppm so the
    * result is bit-identical under any partitioning. The oracle recomputes
    * the same distinct-gram / min-doc_id / truncating-division algebra.
    */
  private val txt14 = Probe(
    "x_txt14_novelty",
    s"""WITH gr AS (
      |  SELECT DISTINCT doc_id,
      |         md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS g
      |  FROM (SELECT doc_id, ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents
      |        WHERE len(${graft.clean.CleanFns.tokensDuck("text")}) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |f AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY g)
      |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) * 1000000
      |            // count(*) AS BIGINT) AS novelty_ppm
      |FROM gr JOIN f USING (g)
      |GROUP BY gr.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    noveltyScores(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** Per-document Shannon entropy (nats) of the token distribution — the
    * information-density signal: low entropy flags repetitive/templated
    * text that per-token quality rules miss. H = ln(n) - sum(c ln c)/n
    * computed from per-token counts, so the whole thing is two hash
    * aggregations with map-side combine: (doc, token)-keyed term counts,
    * then a doc-keyed rollup. No window, no sort, no token list ever
    * materialized per row.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(graft.clean.CleanFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    tf.groupBy("doc_id").agg(
        sum(col("c")).as("n"),
        sum(col("c") * log(col("c"))).as("clnc"))
      .select(col("doc_id"), col("n").cast("long").as("n_tok"),
        round(log(col("n")) - col("clnc") / col("n"), 6).as("entropy"))
  }

  /** X-TXT15 — token entropy over the documents table. Surfaced rounded to
    * 6 decimals (§8.4 double rule): the sum-of-c·ln(c) reduction is
    * order-dependent at the 1e-13 relative level under double arithmetic,
    * and rounding makes the result partitioning-independent.
    */
  private val txt15 = Probe(
    "x_txt15_token_entropy",
    s"""WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(${graft.clean.CleanFns.tokensDuck("text")}) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
      |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    tokenEntropy(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** X-TXT16 — the incremental-novelty regime oracle-checked: documents
    * with odd doc_ids scored against the even-doc_id half as the released
    * corpus. The Spark side is the stream-capable broadcast +
    * `sorted_count_in` binary-search path ([[scoreNoveltyAgainst]] — the
    * exact code `DocStreams.noveltyScored` runs); the oracle computes the
    * same membership with a plain relational anti-join, so the native
    * expression's binary-search semantics are hash-checked against
    * first-principles SQL.
    */
  private val txt16 = Probe(
    "x_txt16_incremental_novelty",
    s"""WITH rel AS (
      |  SELECT DISTINCT md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS g
      |  FROM (SELECT ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents
      |        WHERE doc_id % 2 = 0 AND len(${graft.clean.CleanFns.tokensDuck("text")}) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |nd AS (
      |  SELECT DISTINCT doc_id,
      |         md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS g
      |  FROM (SELECT doc_id, ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents
      |        WHERE doc_id % 2 = 1 AND len(${graft.clean.CleanFns.tokensDuck("text")}) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i))
      |SELECT nd.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(count(rel.g) AS BIGINT) AS n_seen,
      |       CAST((count(*) - count(rel.g)) * 1000000 // count(*) AS BIGINT) AS novelty_ppm
      |FROM nd LEFT JOIN rel ON nd.g = rel.g
      |GROUP BY nd.doc_id ORDER BY nd.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    scoreNoveltyAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        gramSet(docs.filter(col("doc_id") % 2 === 0)))
      .orderBy("doc_id")
  }

  /** X-PIPE3 — the round-6 assembly chain composed end to end through the
    * Corpus API and oracle-checked as a WHOLE: leakage-safe 80/10/10
    * source split → train split only → ~3000-token greedy budget per
    * language → length-bucketed batch layout. Each stage is individually
    * oracle-green (x_smp6 / x_mix3 / x_pack3); this pins that their
    * COMPOSITION is too — deterministic hash algebra survives chaining,
    * which is the property that lets a recipe be re-run to the same
    * shards on a re-crawl. Exchanges: the per-lang budget window and the
    * bucket window; the split is narrow.
    */
  private val pipe3 = Probe(
    "x_pipe3_split_budget_batch",
    s"""WITH b AS (
      |  SELECT doc_id, lang, text,
      |         ('0x' || substr(md5(source), 1, 4))::BIGINT % 100 AS sb
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, lang, len(${graft.clean.CleanFns.tokensDuck("text")}) AS n_tok
      |  FROM b WHERE sb < 80),
      |c AS (
      |  SELECT doc_id, n_tok,
      |         sum(n_tok) OVER (PARTITION BY lang
      |                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS cum_tok
      |  FROM d),
      |k AS (SELECT doc_id, n_tok FROM c WHERE cum_tok <= 3000),
      |${TokenLayout.lengthBatchesDuck("k", "bb")}""".stripMargin) { (s, dir) =>
    val train = graft.api.Corpus(s, dir).splitByGroup()
    graft.api.Corpus(train.df.filter(col("split") === "train"))
      .takeTokenBudget(3000L)
      .lengthBatches()
      .orderBy("bucket", "batch")
  }

  /** The released corpus' gram membership as a BOUNDED Bloom bitmap —
    * the beyond-broadcast regime of [[gramSet]]. Slot function `i` is the
    * disjoint `hexChars`-wide hex window of each gram's md5 digest
    * (k-from-one-hash, the x_dec3 construction), tagged by `i`; the
    * bitmap is k * 16^hexChars BITS — at the default (4, 3): 24 KiB —
    * NO MATTER how many grams the released corpus holds, at the price of
    * a deterministic false-positive rate on the seen side (novelty is
    * never overstated; a "novel" verdict can only be stolen by an FP).
    *
    * Build shape: the gram stream shuffles ONCE, keyed on the 64-bit word
    * index with map-side-combined bit_or (idempotent, so no distinct
    * pass), then one tiny (≤ k*16^hexChars/64 row) collapse into the
    * single bitmap row — nothing in the build is proportional to corpus
    * size except that one exchange, which every membership build pays.
    */
  def gramBloom(docs: DataFrame, hexChars: Int = 4, k: Int = 3): DataFrame = {
    require(hexChars >= 1 && hexChars <= 7, s"hexChars must be in [1, 7]; got $hexChars")
    require(k >= 1 && k * hexChars <= 32, s"need 1 <= k and k*hexChars <= 32; got k=$k")
    val slotsPerFn = 1L << (4 * hexChars)
    val nWords = (k * slotsPerFn + 63) / 64
    def pos(i: Int) =
      expr(s"$i * ${slotsPerFn}L + conv(substr(g, ${1 + hexChars * i}, $hexChars), 16, 10)")
    // bit_or is idempotent -> no distinct: ONE map-side-combined exchange
    // keyed on the word index, not two (slot-distinct + word)
    docs.select(explode(ngram_md5(col("text"), 4)).as("g"))
      .select(explode(array((0 until k).map(pos): _*)).as("p"))
      .groupBy(expr("p DIV 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").as("bits"))
      .agg(expr("map_from_arrays(collect_list(w), collect_list(bits))").as("m"))
      .select(expr(
        s"transform(sequence(0L, ${nWords - 1}L), w -> coalesce(element_at(m, w), 0L))")
        .as("__bloom"))
  }

  /** Score `docs` against a released-corpus Bloom bitmap: `n_seen_bloom` =
    * the document's distinct grams that are bloom-POSITIVE (true members
    * plus deterministic false positives — the oracle reproduces the same
    * slots, so FP behavior itself is hash-checked), novelty as exact ppm.
    * Stateless narrow transform: per-row native `ngram_md5` digests +
    * native O(1)-per-window `bloom_hits` bit probes against the broadcast
    * bitmap row — stream-capable with a memory bound INDEPENDENT of the
    * released corpus size, which is exactly what [[gramSet]]'s broadcast
    * array cannot promise.
    */
  def scoreNoveltyBloom(docs: DataFrame, bloom: DataFrame,
      hexChars: Int = 4, k: Int = 3): DataFrame = {
    docs
      .withColumn("__g", ngram_md5(col("text"), 4))
      .filter(size(col("__g")) > 0)
      .crossJoin(broadcast(bloom)) // 1-row bitmap build side -> broadcast NLJ
      .withColumn("n_grams", size(col("__g")).cast("long"))
      .withColumn("n_seen_bloom", bloom_hits(col("__g"), col("__bloom"), hexChars, k))
      .withColumn("novelty_ppm", expr("(n_grams - n_seen_bloom) * 1000000 DIV n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_seen_bloom"), col("novelty_ppm"))
  }

  /** X-TXT17 — the beyond-broadcast incremental-novelty regime
    * oracle-checked: odd doc_ids scored against a 24 KiB Bloom bitmap of
    * the even-doc_id half's grams. The oracle rebuilds the identical slot
    * algebra relationally (window substrings of the same md5 digests as
    * tagged strings, membership via IN), so the bitmap packing, the
    * k-from-one-hash window split, AND the deterministic false positives
    * all hash-check against first-principles SQL. StreamingSpec pins that
    * `DocStreams.noveltyScoredBloom` (the same code over a stream) agrees
    * row-for-row.
    */
  private val txt17 = Probe(
    "x_txt17_novelty_bloom",
    s"""WITH rel AS (
      |  SELECT DISTINCT md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS g
      |  FROM (SELECT ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents
      |        WHERE doc_id % 2 = 0 AND len(${graft.clean.CleanFns.tokensDuck("text")}) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
      |bloom AS (
      |  SELECT DISTINCT CAST(i AS VARCHAR) || ':' || substr(g, 1 + 4 * i, 4) AS p
      |  FROM rel, UNNEST([0, 1, 2]) AS u(i)),
      |nd AS (
      |  SELECT DISTINCT doc_id,
      |         md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS g
      |  FROM (SELECT doc_id, ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents
      |        WHERE doc_id % 2 = 1 AND len(${graft.clean.CleanFns.tokensDuck("text")}) >= 4),
      |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(count(CASE WHEN '0:' || substr(g, 1, 4) IN (SELECT p FROM bloom)
      |                        AND '1:' || substr(g, 5, 4) IN (SELECT p FROM bloom)
      |                        AND '2:' || substr(g, 9, 4) IN (SELECT p FROM bloom)
      |                  THEN 1 END) AS BIGINT) AS n_seen_bloom,
      |       CAST((count(*) - count(CASE WHEN '0:' || substr(g, 1, 4) IN (SELECT p FROM bloom)
      |                        AND '1:' || substr(g, 5, 4) IN (SELECT p FROM bloom)
      |                        AND '2:' || substr(g, 9, 4) IN (SELECT p FROM bloom)
      |                  THEN 1 END)) * 1000000 // count(*) AS BIGINT) AS novelty_ppm
      |FROM nd GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    scoreNoveltyBloom(
        docs.filter(col("doc_id") % 2 === 1),
        gramBloom(docs.filter(col("doc_id") % 2 === 0)))
      .orderBy("doc_id")
  }

  /** Corpus version diff: per-document status between two snapshots of a
    * corpus (crawl N vs N+1) — `added` (new only), `removed` (old only),
    * `changed` (both, content hash differs), `unchanged`. The audit step
    * every corpus iteration runs before re-training decisions ("how much
    * actually moved?"), and the input feed for incremental pipelines
    * (only `added`+`changed` need re-scoring/re-dedup).
    *
    * Scale shape: one full-outer equi-join on doc_id (both sides shuffle
    * once on the key — or zero exchanges if both snapshots are bucketed
    * by doc_id), comparing md5 fingerprints, never text; the status is
    * narrow arithmetic on the join result.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("__old_fp"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("__new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__old_fp").isNull, "added")
          .when(col("__new_fp").isNull, "removed")
          .when(col("__old_fp") === col("__new_fp"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
  }

  /** X-CUR3 — corpus diff over a synthetic two-snapshot fixture: old =
    * doc_id % 3 ≠ 0, new = doc_id % 5 ≠ 0 with every doc_id % 7 = 0
    * rewritten — so all four statuses occur. The oracle recomputes the
    * identical full-outer fingerprint algebra.
    */
  private val cur3 = Probe(
    "x_cur3_corpus_diff",
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0),
      |n AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.fp IS NULL THEN 'added'
      |            WHEN n.fp IS NULL THEN 'removed'
      |            WHEN o.fp = n.fp THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    corpusDiff(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(txt14, txt15, txt16, txt17, pipe3, cur3)
}

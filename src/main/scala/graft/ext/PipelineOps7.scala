package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Probe, Tables}
import graft.functions.BloomHits.bloom_hits
import graft.functions.BpeCount.bpe_count
import graft.functions.NgramMd5.ngram_md5
import graft.functions.SortedCountIn.sorted_count_in

/** Round-6 curation operators: corpus-level novelty scoring, information-
  * density (token-entropy) scoring, length-bucketed batch assembly, and
  * per-epoch sharded data ordering — the remaining curation/assembly steps
  * between a deduplicated corpus and a training run.
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

  /** Length-bucketed batch assembly: documents are ranged into token-count
    * buckets of width `bucketWidth`, ordered (n_tok, doc_id) inside each
    * bucket, and grouped into batches of `batchSize`; per batch the
    * padding waste (docs x max_len - sum_len) is reported. This is the
    * dynamic-batching layout step of an inference/training pipeline: the
    * bucket bound caps padding waste at (bucketWidth - 1) per sequence by
    * CONSTRUCTION, so the expensive exact global sort is unnecessary.
    *
    * Scale shape: the only exchange is the bucket-keyed window shuffle,
    * and buckets are numerous and balanced (length distribution over
    * width-16 ranges), so the per-bucket ordered scan parallelizes across
    * the cluster — this is precisely why the operator buckets FIRST
    * instead of running one global row_number, which would funnel the
    * corpus through a single task.
    */
  def lengthBatches(docs: DataFrame, bucketWidth: Int = 16, batchSize: Int = 8): DataFrame = {
    // token-DENOMINATED operators default to the honest subword count
    // when the corpus carries one (Corpus.withBpeTokenCount /
    // DocStreams.bpeCounted add `n_tok_bpe`): whitespace words
    // undercount code/CJK by multiples, so padding-waste accounting in
    // word units misplans real batches. Routing pinned by
    // x_pack5_bpe_denominated (substituted denominator, oracle-checked)
    // and PipelineOps7Spec (real bpe counts).
    val nTok =
      if (docs.columns.contains("n_tok_bpe")) col("n_tok_bpe").cast("long")
      else size(graft.clean.CleanFns.tokens(col("text"))).cast("long")
    val d = docs.select(col("doc_id"), nTok.as("n_tok"))
      .withColumn("bucket", expr(s"n_tok DIV $bucketWidth"))
    d.withColumn("batch", expr(s"(row_number() OVER (PARTITION BY bucket ORDER BY n_tok, doc_id) - 1) DIV $batchSize"))
      .groupBy("bucket", "batch").agg(
        count(lit(1)).as("n_docs"),
        max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .select(col("bucket"), col("batch"), col("n_docs").cast("long").as("n_docs"),
        col("max_tok"), col("sum_tok"),
        (col("n_docs") * col("max_tok") - col("sum_tok")).as("pad_waste"))
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

  /** X-PACK3 — length-bucketed batches of the documents table (width-16
    * buckets, batches of 8). The oracle runs the identical bucket /
    * row_number / batch arithmetic.
    */
  private val pack3 = Probe(
    "x_pack3_length_batching",
    s"""WITH d AS (
      |  SELECT doc_id, len(${graft.clean.CleanFns.tokensDuck("text")}) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_tok, n_tok // 16 AS bucket,
      |         (row_number() OVER (PARTITION BY n_tok // 16 ORDER BY n_tok, doc_id) - 1) // 8 AS batch
      |  FROM d)
      |SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(n_tok) AS BIGINT) AS max_tok,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
      |       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
      |FROM b GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin) { (s, dir) =>
    lengthBatches(Tables(s, dir, "documents")).orderBy("bucket", "batch")
  }

  /** Per-epoch sharded data order: each training epoch gets its own
    * deterministic permutation by hashing (epoch, doc_id) into `shards`
    * md5 buckets and ordering within each (epoch, shard) by the same
    * digest — the multi-epoch form of the x_smp4 sharded shuffle. Epochs
    * see genuinely different orders (the digest mixes the epoch into
    * every decision) yet the whole schedule is reproducible algebra: no
    * RNG state, no global sort — shard count bounds the window width, so
    * ordering parallelizes across epochs x shards.
    */
  def epochOrder(docs: DataFrame, epochs: Int, shards: Int): DataFrame = {
    // sequence(0, epochs - 1) with epochs <= 0 would emit a DESCENDING
    // range (implicit -1 step) — bogus negative epochs — instead of erroring
    require(epochs >= 1, s"epochs must be >= 1; got $epochs")
    require(shards >= 1, s"shards must be >= 1; got $shards")
    val d = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("key", md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("key"), 1, 4), 16, 10).cast("long") % shards)
    d.withColumn("rk",
        row_number().over(Window.partitionBy("epoch", "shard").orderBy(col("key"), col("doc_id"))))
      .select(col("epoch").cast("long").as("epoch"), col("shard"),
        col("doc_id"), col("rk").cast("long").as("rk"))
  }

  /** X-SMP7 — 3-epoch, 8-shard order over the documents table; the oracle
    * recomputes the identical digest/bucket/rank algebra.
    */
  private val smp7 = Probe(
    "x_smp7_epoch_order",
    """WITH e AS (
      |  SELECT doc_id, epoch,
      |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS key
      |  FROM documents, UNNEST(generate_series(0, 2)) AS t(epoch)),
      |s AS (
      |  SELECT doc_id, epoch, key,
      |         ('0x' || substr(key, 1, 4))::BIGINT % 8 AS shard
      |  FROM e)
      |SELECT CAST(epoch AS BIGINT) AS epoch, shard, doc_id,
      |       CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id) AS BIGINT) AS rk
      |FROM s ORDER BY epoch, shard, rk""".stripMargin) { (s, dir) =>
    epochOrder(Tables(s, dir, "documents").select("doc_id"), epochs = 3, shards = 8)
      .orderBy("epoch", "shard", "rk")
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
      |bb AS (
      |  SELECT doc_id, n_tok, n_tok // 16 AS bucket,
      |         (row_number() OVER (PARTITION BY n_tok // 16 ORDER BY n_tok, doc_id) - 1) // 8 AS batch
      |  FROM k)
      |SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(n_tok) AS BIGINT) AS max_tok,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
      |       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
      |FROM bb GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin) { (s, dir) =>
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

  /** The 89 checked-in merges as a DuckDB struct-literal list, symbols
    * as lowercase hex of the latin-1 byte strings: `k` is the delimited
    * adjacent-pair key, `p` its merged replacement (each symbol wrapped
    * `_hex_`, so `replace(s, k, p)` merges every left-to-right
    * non-overlapping occurrence — exactly [[graft.functions.Bpe]]
    * .encodeWord's inner pass).
    */
  private def bpeMergeLits: String = {
    def hx(sym: String) = sym.map(c => f"${c.toInt}%02x").mkString
    // inlined at each use site DELIBERATELY: hoisting the list into a
    // one-row CTE cross-joined into the recursive term trips DuckDB
    // 1.0's binder ("cannot extract field from expression" on the
    // CTE-carried list); measured cost of the inline form is 0.4 s at
    // the gate's sf0.01 — acceptable for the correctness oracle
    graft.functions.Bpe.defaultMerges.zipWithIndex.map { case ((a, b), i) =>
      s"{'r': $i, 'k': '_${hx(a)}__${hx(b)}_', 'p': '_${hx(a)}${hx(b)}_'}"
    }.mkString(", ")
  }

  /** X-TOK1 — honest subword token accounting (round 7 stretch):
    * per-document whitespace word count vs byte-level BPE subword count
    * under the checked-in vocabulary (`graft.BpeTrain` recipe; Sennrich
    * et al. 2016 greedy merges). ORACLE-CHECKED since round 11 — the
    * registry's last `unchecked` entry falls: the oracle replays greedy
    * lowest-rank-first merging as a RECURSIVE CTE over per-word symbol
    * strings (UTF-8 bytes as delimited lowercase hex; one recursion
    * level = one merge round — pick the minimum applicable rank, then
    * `replace()` merges every left-to-right occurrence with both
    * engines' identical non-overlap semantics; a word's terminal state
    * is the one where no rank applies). Distinct words recurse once and
    * join back to the token stream, mirroring bpe_count's memo. BpeSpec
    * still pins encode round-trips, count bounds, determinism, and
    * interpreted ≡ codegen on top. The column exists to re-denominate
    * the token-budget/packing operators (`Corpus.withBpeTokenCount`
    * feeds `takeTokenBudget*` / `lengthBatches`), where whitespace
    * counts undercount code/CJK by multiples.
    */
  private val tok1 = Probe(
    "x_tok1_bpe_token_counts",
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents),
       |wrd AS (SELECT DISTINCT w FROM (SELECT UNNEST(ws) AS w FROM t)),
       |st AS (
       |  SELECT w,
       |    array_to_string(list_transform(
       |      regexp_extract_all(lower(hex(encode(w))), '[0-9a-f][0-9a-f]'),
       |      g -> '_' || g || '_'), '') AS s
       |  FROM wrd
       |  UNION ALL
       |  SELECT w, replace(s, ([$bpeMergeLits])[b + 1].k, ([$bpeMergeLits])[b + 1].p)
       |  FROM (
       |    SELECT w, s,
       |      list_min(list_filter(list_transform([$bpeMergeLits],
       |        m -> CASE WHEN contains(s, m.k) THEN m.r END), x -> x IS NOT NULL)) AS b
       |    FROM st) WHERE b IS NOT NULL),
       |fin AS (
       |  SELECT w, CAST((length(s) - length(replace(s, '_', ''))) // 2 AS BIGINT) AS n_sym
       |  FROM st
       |  WHERE list_min(list_filter(list_transform([$bpeMergeLits],
       |    m -> CASE WHEN contains(s, m.k) THEN m.r END), x -> x IS NOT NULL)) IS NULL),
       |tok AS (SELECT doc_id, UNNEST(ws) AS w FROM t),
       |cnt AS (
       |  SELECT tok.doc_id, SUM(fin.n_sym) AS n_bpe
       |  FROM tok JOIN fin ON fin.w = tok.w GROUP BY tok.doc_id)
       |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_words,
       |  CAST(COALESCE(cnt.n_bpe, 0) AS BIGINT) AS n_tok_bpe
       |FROM t LEFT JOIN cnt ON cnt.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_words"),
        bpe_count(col("text")).cast("bigint").as("n_tok_bpe"))
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

  val all: Seq[Probe] = Seq(txt14, txt15, txt16, txt17, pack3, smp7, pipe3, tok1, cur3)
}

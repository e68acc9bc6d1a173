package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import graft.functions.BpeCount.bpe_count
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token accounting: how many tokens a document has ([[tokenCount]]) and
  * where they land once documents are concatenated, chunked, batched,
  * packed into context windows or cut into token-budget shards. Every
  * running sum is partitioned — by a shard, a (group, block) pair or a
  * length bucket — so no window partition holds a whole language.
  */
object TokenLayout {

  /** The token denominator of every operator here: `n_tok_bpe` when the
    * frame carries it ([[withBpeTokenCount]]), else whitespace words
    * (which undercount code and CJK by multiples).
    */
  def tokenCount(docs: DataFrame): Column =
    if (docs.columns.contains("n_tok_bpe")) col("n_tok_bpe").cast("long")
    else size(CleanFns.tokens(col("text"))).cast("long")

  /** `docs` plus `n_tok_bpe`: the native BPE count of `text`. */
  def withBpeTokenCount(docs: DataFrame): DataFrame =
    docs.withColumn("n_tok_bpe", bpe_count(col("text")).cast("bigint"))

  /** `df` plus `out`: the running sum of `tok` over `order` within `part`
    * — where each row's tokens END in its partition's token stream.
    */
  def runningOffset(df: DataFrame, part: Seq[String], order: Seq[String],
      tok: String, out: String = "cum"): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, sum(col(tok)).over(w))
  }

  /** The `ctx`-token bin of token offset `off` (both SQL text). */
  def bin(off: String, ctx: String): Column = expr(s"($off) DIV $ctx")

  /** The two-level prefix sum: `df` plus `out`, the running total of
    * `tok` within `group` in (`block`, `order`…) order that one window per
    * `group` would give, without funnelling a group through one task:
    *
    *   out(row) = exclusive_cumsum(block totals within group) + cumsum_within(group, block)
    *
    * `block` must cut each group into contiguous ranges of that order. The
    * totals join back null-safe on `group`, as the single window groups
    * NULLs. With `maxOffset`, blocks already past it (`__off`) are pruned
    * before the row-level window.
    */
  private def twoLevelRunningTotal(df: DataFrame, group: String, block: String,
      order: Seq[String], tok: String, out: String,
      maxOffset: Option[Long] = None): DataFrame = {
    val wOff = Window.partitionBy("__o_g").orderBy("__o_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = df.groupBy(col(group).as("__o_g"), col(block).as("__o_b"))
      .agg(sum(col(tok)).as("__o_tok"))
      .withColumn("__off", coalesce(sum(col("__o_tok")).over(wOff), lit(0L)))
      .drop("__o_tok")
    // no broadcast() hint (the x_txt8 lesson): AQE broadcasts the totals
    // table while it is small and shuffles it when it is not
    val joined = df.join(offsets,
      df(group) <=> offsets("__o_g") && df(block) === offsets("__o_b"))
    val kept = maxOffset.fold(joined)(m => joined.filter(col("__off") <= m))
    runningOffset(kept, Seq(group, block), order, tok, out)
      .withColumn(out, col("__off") + col(out))
      .drop("__o_g", "__o_b", "__off")
  }

  /** X-PACK1 — sequence packing: concatenate each (lang, shard) stratum's
    * token stream in doc_id order and chunk it into fixed 256-token bins
    * (the GPT-style "concat and chunk" packing step); a document belongs to
    * the bin where its first token lands. Reports per-bin document count
    * and token mass — the fill-efficiency signal a packing stage is tuned
    * on. Shard = doc_id DIV 10000 bounds every window partition to at most
    * 10k rows regardless of corpus size.
    */
  private val pack1 = Probe(
    "x_pack1_sequence_packing",
    """WITH t AS (
      |  SELECT doc_id, lang, doc_id // 10000 AS shard,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, shard, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT lang, CAST(shard AS BIGINT) AS shard,
      |  CAST((cum - n_tok) // 256 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    runningOffset(
        docs.select(col("doc_id"), col("lang"),
          expr("doc_id DIV 10000").as("shard"), tokenCount(docs).as("n_tok")),
        Seq("lang", "shard"), Seq("doc_id"), "n_tok")
      .withColumn("bin", bin("cum - n_tok", "256"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"))
      .orderBy("lang", "shard", "bin")
  }

  /** X-PACK2 — GLOBAL shard assignment by token budget: each doc's token
    * offset within its language decides its 4096-token output shard, via
    * the two-level prefix sum over grp = doc_id DIV 1000 blocks (≤ 1000
    * rows per window partition). The oracle computes the SAME offsets
    * with the naive whole-language window — pinning that the two-level
    * decomposition is exact, not approximate.
    */
  private val pack2 = Probe(
    "x_pack2_token_sharding",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum_end
      |  FROM t)
      |SELECT lang, CAST((cum_end - n_tok) // 4096 AS BIGINT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens
      |FROM c GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val t = docs.select(col("doc_id"), col("lang"),
      expr("doc_id DIV 1000").as("grp"), tokenCount(docs).as("n_tok"))
    twoLevelRunningTotal(t, "lang", "grp", Seq("doc_id"), "n_tok", "cum")
      .withColumn("shard", bin("cum - n_tok", "4096"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("shard_tokens"))
      .orderBy("lang", "shard")
  }

  /** `d` plus `n_tok` and `shard`: the `budgetTokens`-token shard each
    * document starts in within its `lang`, by x_pack2's two-level sum.
    */
  def shardByTokenBudget(d: DataFrame, budgetTokens: Long, grpSize: Long): DataFrame =
    twoLevelRunningTotal(
        d.withColumn("__grp", expr(s"doc_id DIV $grpSize")).withColumn("n_tok", tokenCount(d)),
        "lang", "__grp", Seq("doc_id"), "n_tok", "__cum")
      .withColumn("shard", bin("__cum - n_tok", budgetTokens.toString))
      .drop("__grp", "__cum")

  /** Non-empty documents with `n_tok`, `shard` (doc_id mod `shards`) and
    * `cum`, concatenated in doc_id order within their shard.
    */
  private def shardPlaced(docs: DataFrame, shards: Int): DataFrame =
    runningOffset(
      docs.select(col("doc_id"), tokenCount(docs).as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong))),
      Seq("shard"), Seq("doc_id"), "n_tok")

  /** Per-document placement under sequential context-window packing —
    * the concat-then-split layout pretraining loaders actually use:
    * within each of `shards` deterministic shards, documents concatenate
    * in doc_id order and split into `ctx`-token windows. Emits each
    * document's shard, token offset, start/end bin, and whether the bin
    * boundary SPLITS it (the packing-quality number: split docs lose
    * attention locality; the fraction is what you tune ctx/shard counts
    * against). ONE window per shard — a worker packs its shard
    * independently, no global funnel. Empty docs occupy no window space.
    */
  def packPlacements(docs: DataFrame, ctx: Int = 256, shards: Int = 16): DataFrame = {
    require(ctx >= 1 && shards >= 1, s"ctx/shards must be >= 1; got $ctx/$shards")
    shardPlaced(docs, shards)
      .select(col("doc_id"), col("shard"), col("n_tok"),
        (col("cum") - col("n_tok")).as("start_off"),
        bin("cum - n_tok", ctx.toString).as("start_bin"),
        bin("cum - 1", ctx.toString).as("end_bin"))
      .withColumn("is_split", (col("end_bin") > col("start_bin")).cast("int"))
  }

  /** [[packPlacements]]' offsets in DuckDB: CTE `c(doc_id, shard, n_tok, cum)`. */
  private val placedCtes =
    s"""WITH d AS (
       |  SELECT doc_id, len(${CleanFns.tokensDuck("text")}) AS n_tok
       |  FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) > 0),
       |c AS (
       |  SELECT doc_id, doc_id % 16 AS shard, n_tok,
       |         SUM(n_tok) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM d)""".stripMargin

  /** X-PACK6 — sequential packing placements (ctx = 256, 16 shards),
    * every document's offset/bin assignment plus the split flag,
    * oracle-checked by the identical per-shard running sum.
    */
  private val pack6 = Probe(
    "x_pack6_seq_packing",
    s"""$placedCtes
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(n_tok AS BIGINT) AS n_tok,
       |  CAST(cum - n_tok AS BIGINT) AS start_off,
       |  CAST((cum - n_tok) // 256 AS BIGINT) AS start_bin,
       |  CAST((cum - 1) // 256 AS BIGINT) AS end_bin,
       |  CAST(CASE WHEN (cum - 1) // 256 > (cum - n_tok) // 256 THEN 1 ELSE 0 END AS INT) AS is_split
       |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    packPlacements(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** Context-length ADVISOR: for each candidate window size, the packing
    * quality a sequential loader would see on this corpus — docs split
    * across bin boundaries (attention-locality loss), bins used, and
    * tail waste — plus the documented decision: the SMALLEST ctx whose
    * split fraction meets `splitBudgetPpm` (attention is quadratic in
    * ctx, so you take the shortest window the split budget allows; if
    * none qualifies, the largest candidate). The x_skt6
    * [[Sketches.adviseJoin]] pattern: the advice itself is a checked
    * output, not a comment.
    *
    * Shape: the per-shard running offsets of [[packPlacements]] are
    * computed ONCE (they don't depend on ctx); each candidate then costs
    * only narrow arithmetic and a 4-row rollup — one window pass + one
    * aggregation regardless of how many candidates are screened.
    */
  def ctxAdvisor(docs: DataFrame, ctxs: Seq[Int] = Seq(256, 512, 1024, 2048),
      shards: Int = 16, splitBudgetPpm: Long = 250000L): DataFrame = {
    require(ctxs.nonEmpty && ctxs.forall(_ >= 1), s"bad ctx candidates: $ctxs")
    val placed = shardPlaced(docs, shards)
    val candidates = explode(array(ctxs.map(c => lit(c.toLong)): _*)).as("ctx")
    val perCtx = placed
      .select(col("n_tok"), col("cum"), candidates)
      .groupBy("ctx")
      .agg(count(lit(1)).as("n_docs"),
        sum((bin("cum - 1", "ctx") > bin("cum - n_tok", "ctx")).cast("int")).as("n_split"))
    val bins = placed
      .groupBy("shard").agg(max(col("cum")).as("tot"))
      .select(col("tot"), candidates)
      .groupBy("ctx")
      .agg(sum(bin("tot - 1", "ctx") + 1).as("n_bins"), sum(col("tot")).as("total_tok"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // ppm intermediates in DECIMAL(38,0): at the 10^13-token corpora the
    // docstring targets, n_split·1e6 and n_bins·ctx·1e6 exceed Long and
    // non-ANSI Spark would wrap silently while the oracle stays exact —
    // the mixturePlan discipline (round-9 verdict #3) applied here
    val wide = "CAST(%s AS DECIMAL(38,0))"
    perCtx.join(bins, "ctx")
      .withColumn("split_ppm", expr(
        s"CAST(${wide.format("n_split")} * 1000000 DIV ${wide.format("n_docs")} AS BIGINT)"))
      .withColumn("waste_ppm", expr(
        s"CAST((${wide.format("n_bins")} * ctx - total_tok) * 1000000" +
          s" DIV (${wide.format("n_bins")} * ctx) AS BIGINT)"))
      .withColumn("__ok_min",
        min(when(col("split_ppm") <= splitBudgetPpm, col("ctx"))).over(wAll))
      .withColumn("__max", max(col("ctx")).over(wAll))
      .withColumn("chosen",
        when(col("__ok_min").isNotNull, (col("ctx") === col("__ok_min")).cast("long"))
          .otherwise((col("ctx") === col("__max")).cast("long")))
      .select(col("ctx"), col("n_docs"), col("n_split"), col("split_ppm"),
        col("n_bins"), col("total_tok"), col("waste_ppm"), col("chosen"))
  }

  /** X-PACK7 — the advisor over the standard candidates, every number
    * and the choice itself oracle-checked (the oracle re-derives
    * offsets, per-ctx splits, bins, waste, and the smallest-qualifying
    * rule relationally).
    */
  private val pack7 = Probe(
    "x_pack7_ctx_advisor",
    s"""$placedCtes,
       |pc AS (
       |  SELECT ctx, COUNT(*) AS n_docs,
       |         SUM(CASE WHEN (cum - 1) // ctx > (cum - n_tok) // ctx THEN 1 ELSE 0 END) AS n_split
       |  FROM c, UNNEST([256, 512, 1024, 2048]) AS t(ctx) GROUP BY ctx),
       |st AS (SELECT shard, MAX(cum) AS tot FROM c GROUP BY shard),
       |bn AS (
       |  SELECT ctx, SUM((tot - 1) // ctx + 1) AS n_bins, SUM(tot) AS total_tok
       |  FROM st, UNNEST([256, 512, 1024, 2048]) AS t(ctx) GROUP BY ctx),
       |j AS (
       |  SELECT pc.ctx, n_docs, n_split,
       |         n_split * 1000000 // n_docs AS split_ppm,
       |         n_bins, total_tok,
       |         (n_bins * pc.ctx - total_tok) * 1000000 // (n_bins * pc.ctx) AS waste_ppm
       |  FROM pc JOIN bn ON bn.ctx = pc.ctx),
       |ch AS (
       |  SELECT *,
       |    MIN(CASE WHEN split_ppm <= 250000 THEN ctx END) OVER () AS ok_min,
       |    MAX(ctx) OVER () AS mx
       |  FROM j)
       |SELECT CAST(ctx AS BIGINT) AS ctx, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_split AS BIGINT) AS n_split, CAST(split_ppm AS BIGINT) AS split_ppm,
       |  CAST(n_bins AS BIGINT) AS n_bins, CAST(total_tok AS BIGINT) AS total_tok,
       |  CAST(waste_ppm AS BIGINT) AS waste_ppm,
       |  CAST(CASE WHEN ok_min IS NOT NULL THEN (ctx = ok_min)::INT
       |            ELSE (ctx = mx)::INT END AS BIGINT) AS chosen
       |FROM ch ORDER BY ctx""".stripMargin) { (s, dir) =>
    ctxAdvisor(Tables(s, dir, "documents")).orderBy("ctx")
  }

  /** Context-window chunking: each document's tokens in windows of
    * `window` with stride `stride`; trailing windows keep their natural
    * length, so every token lands in a chunk. Returns (doc_id, chunk_idx,
    * n_tokens, chunk_hash). Narrow explode of window starts, bounded
    * slices, no shuffle; the 16-hex chunk digest keeps the payload
    * fixed-width when downstream ops group by chunk.
    */
  def chunkTokenWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride")
    docs
      .select(col("doc_id"), CleanFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks), $stride)")).as("s"))
      .select(col("doc_id"),
        expr(s"CAST((s - 1) DIV $stride AS BIGINT)").as("chunk_idx"),
        expr(s"CAST(size(slice(toks, s, $window)) AS BIGINT)").as("n_tokens"),
        expr(s"substr(md5(concat_ws(' ', slice(toks, s, $window))), 1, 16)")
          .as("chunk_hash"))
  }

  /** x_chunk1's window starts in DuckDB: CTE `c(doc_id, toks, s)`. */
  val chunkStartsDuck: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS toks FROM documents),
      |c AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 12)) AS s FROM t)""".stripMargin

  /** X-CHUNK1 — [[chunkTokenWindows]] at window 16, stride 12 (4-token
    * overlap), the standard pretraining pre-tokenization chunking step.
    */
  private val chunk1 = Probe(
    "x_chunk1_token_windows",
    s"""$chunkStartsDuck
      |SELECT doc_id,
      |  CAST((s - 1) // 12 AS BIGINT) AS chunk_idx,
      |  CAST(len(toks[s:s+15]) AS BIGINT) AS n_tokens,
      |  substr(md5(array_to_string(toks[s:s+15], ' ')), 1, 16) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    chunkTokenWindows(Tables(s, dir, "documents"), 16, 12)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Length-bucketed batch assembly: documents are ranged into token-count
    * buckets of width `bucketWidth`, ordered (n_tok, doc_id) inside each
    * bucket, and grouped into batches of `batchSize`; per batch the
    * padding waste (docs x max_len - sum_len) is reported. This is the
    * dynamic-batching layout step of an inference/training pipeline: the
    * bucket bound caps padding waste at (bucketWidth - 1) per sequence by
    * CONSTRUCTION, so no global sort (or global row_number funnelling the
    * corpus through one task) is needed: the only exchange is the
    * bucket-keyed window shuffle, over numerous, balanced buckets.
    */
  def lengthBatches(docs: DataFrame, bucketWidth: Int = 16, batchSize: Int = 8): DataFrame = {
    val d = docs.select(col("doc_id"), tokenCount(docs).as("n_tok"))
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

  /** [[lengthBatches]] (width 16, batches of 8) in DuckDB: CTE `name` over
    * `rows(doc_id, n_tok)`, then the per-batch rollup that ends the query.
    */
  def lengthBatchesDuck(rows: String, name: String): String =
    s"""$name AS (
       |  SELECT doc_id, n_tok, n_tok // 16 AS bucket,
       |         (row_number() OVER (PARTITION BY n_tok // 16 ORDER BY n_tok, doc_id) - 1) // 8 AS batch
       |  FROM $rows)
       |SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(n_tok) AS BIGINT) AS max_tok,
       |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       |       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
       |FROM $name GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin

  /** X-PACK3 — length-bucketed batches of the documents table (width-16
    * buckets, batches of 8). The oracle runs the identical bucket /
    * row_number / batch arithmetic.
    */
  private val pack3 = Probe(
    "x_pack3_length_batching",
    s"""WITH d AS (
      |  SELECT doc_id, len(${CleanFns.tokensDuck("text")}) AS n_tok
      |  FROM documents),
      |${lengthBatchesDuck("d", "b")}""".stripMargin) { (s, dir) =>
    lengthBatches(Tables(s, dir, "documents")).orderBy("bucket", "batch")
  }

  /** X-PACK5 — length batching under a SUBSTITUTED token denominator:
    * `n_tok_bpe` is planted as strlen(text) DIV 4 and the oracle batches
    * by the same expression, so a hash match proves [[lengthBatches]]
    * routes through [[tokenCount]] (x_tok1 pins the real BPE count).
    */
  private val pack5 = Probe(
    "x_pack5_bpe_denominated",
    s"""WITH d AS (
      |  SELECT doc_id, CAST(strlen(text) // 4 AS BIGINT) AS n_tok FROM documents),
      |${lengthBatchesDuck("d", "b")}""".stripMargin) { (s, dir) =>
    lengthBatches(
      Tables(s, dir, "documents")
        .withColumn("n_tok_bpe", expr("CAST(octet_length(text) DIV 4 AS BIGINT)")))
      .orderBy("bucket", "batch")
  }

  /** Greedy token-budget fill per group: order documents inside each group
    * by a deterministic md5 permutation, accumulate token counts, and keep
    * documents while the running total stays within `budget` — "take ~N
    * tokens of each language/source", the mixing primitive that data
    * recipes express in tokens, not documents.
    *
    * Scale shape: one shuffle (the per-group window). The running sum is a
    * per-group ordered prefix sum, so a mega-group funnels through one
    * task — same caveat as any ordered window. This form is the
    * oracle-parity reference; the production route for real recipes
    * ("take 5T tokens of English" IS a mega-group) is
    * [[takeTokenBudgetSharded]], which computes the identical result as a
    * two-level prefix sum.
    */
  def takeTokenBudget(df: DataFrame, group: Column, tokens: Column,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(group)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokens)
      .withColumn("cum_tok", sum(col("__tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .drop("__tok")
  }

  /** [[takeTokenBudget]] without the mega-group funnel: the identical
    * greedy fill as the two-level prefix sum, blocked by the first
    * `shardChars` hex characters of md5(doc_id). The per-group order IS
    * `(md5(doc_id), doc_id)`, so those shards are CONTIGUOUS ranges of it
    * and the decomposition is exact. No within-window partition holds more
    * than ~1/16^shardChars of a group (md5 prefixes are uniform), the
    * totals table is |groups| * 16^shardChars rows, and shards already
    * past the budget are pruned before the row-level window, so its work
    * scales with the budget boundary, not the corpus.
    *
    * Requires `tokens` non-negative (token counts are). Same output
    * contract as [[takeTokenBudget]]: input columns + `cum_tok`;
    * TokenBudgetShardedSpec and the x_mix3b oracle pin sharded ≡ single
    * window.
    */
  def takeTokenBudgetSharded(df: DataFrame, group: Column, tokens: Column,
      budget: Long, shardChars: Int = 2): DataFrame = {
    require(shardChars >= 1 && shardChars <= 8,
      s"shardChars must be in [1, 8]; got $shardChars")
    val outCols = df.columns
    val base = df
      .withColumn("__g", group)
      .withColumn("__tok", tokens)
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .withColumn("__shard", substring(col("__h"), 1, shardChars))
    twoLevelRunningTotal(base, "__g", "__shard", Seq("__h", "doc_id"), "__tok", "cum_tok",
        maxOffset = Some(budget))
      .filter(col("cum_tok") <= budget)
      .select(outCols.map(col) :+ col("cum_tok"): _*)
  }

  /** The single-window greedy fill in DuckDB: CTE `c` adds `cum_tok` per
    * lang in md5(doc_id) order to the `(doc_id, lang, n_tok)` of `select`.
    */
  private def budgetCtes(select: String): String =
    s"WITH d AS (\n  $select),\n" +
      """c AS (
        |  SELECT doc_id, lang, n_tok,
        |         sum(n_tok) OVER (PARTITION BY lang
        |                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum_tok
        |  FROM d)
        |""".stripMargin

  /** ~2000 tokens of every language by `fill`, checked against the single window. */
  private def budgetProbe(name: String,
      fill: (DataFrame, Column, Column, Long) => DataFrame): Probe = Probe(name,
    budgetCtes(s"""SELECT doc_id, lang,
      |         len(${CleanFns.tokensDuck("text")}) AS n_tok
      |  FROM documents""".stripMargin) +
      """SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM c WHERE cum_tok <= 2000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    fill(docs.select(col("doc_id"), col("lang"), tokenCount(docs).as("n_tok")),
        col("lang"), col("n_tok"), 2000L)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("cum_tok"))
      .orderBy("doc_id")
  }

  /** X-MIX3 — ~2000 tokens of every language: the greedy budget fill over
    * the documents table. The oracle runs the identical window algebra in
    * DuckDB (same md5 permutation, same running sum, same cutoff).
    */
  private val mix3 = budgetProbe("x_mix3_token_budget", takeTokenBudget)

  /** X-MIX3B — the SAME greedy budget fill as x_mix3, computed by the
    * scalable two-level sharded prefix sum, checked against the naive
    * single-window oracle — pinning that the shard decomposition is exact.
    * TokenBudgetShardedSpec additionally pins the plan (every window
    * partitions by (group, shard); no single-task funnel for a planted
    * mega-group).
    */
  private val mix3b = budgetProbe("x_mix3b_token_budget_sharded", takeTokenBudgetSharded(_, _, _, _))

  /** X-MIX4 — the greedy token budget under the same substituted subword
    * denominator: `Corpus.takeTokenBudget` must fill against
    * `n_tok_bpe`, not whitespace words, when the column is present. The
    * oracle is x_mix3's single-window algebra with the substituted count
    * (sharded ≡ single window is already pinned by x_mix3b).
    */
  private val mix4 = Probe(
    "x_mix4_budget_bpe_denominated",
    budgetCtes("SELECT doc_id, lang, CAST(strlen(text) // 4 AS BIGINT) AS n_tok FROM documents") +
      "SELECT doc_id, lang, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok\n" +
      "FROM c WHERE cum_tok <= 2000 ORDER BY doc_id") { (s, dir) =>
    graft.api.Corpus(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("n_tok_bpe", expr("CAST(octet_length(text) DIV 4 AS BIGINT)")))
      .takeTokenBudget(budget = 2000L)
      .df
      .select(col("doc_id"), col("lang"), col("n_tok_bpe").as("n_tok"), col("cum_tok"))
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

  /** X-TOK1 — honest subword token accounting: per-document whitespace
    * word count vs byte-level BPE subword count under the checked-in
    * vocabulary (`graft.BpeTrain` recipe; Sennrich et al. 2016 greedy
    * merges). The oracle replays greedy lowest-rank-first merging as a
    * RECURSIVE CTE over per-word symbol strings (UTF-8 bytes as
    * delimited lowercase hex; one recursion level = one merge round —
    * pick the minimum applicable rank, then `replace()` merges every
    * left-to-right occurrence with both engines' identical non-overlap
    * semantics; a word's terminal state is the one where no rank
    * applies). Distinct words recurse once and join back to the token
    * stream, mirroring bpe_count's memo. BpeSpec still pins encode
    * round-trips, count bounds, determinism, and interpreted ≡ codegen
    * on top. The column re-denominates every operator here through
    * [[tokenCount]], where whitespace counts undercount code/CJK by
    * multiples.
    */
  private val tok1 = Probe(
    "x_tok1_bpe_token_counts",
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
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
    withBpeTokenCount(Tables(s, dir, "documents"))
      .select(col("doc_id"),
        size(CleanFns.tokens(col("text"))).cast("long").as("n_words"), col("n_tok_bpe"))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(pack1, pack2, pack3, pack5, pack6, pack7, chunk1,
    mix3, mix3b, mix4, tok1)
}

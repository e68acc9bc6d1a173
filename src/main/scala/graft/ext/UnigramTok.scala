package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import graft.functions.{MinSeg, MinSegCost, MinSegPieces}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The UNIGRAM-vocabulary tokenizer tier — the subword family's second
  * member next to BPE (x_tok1): induce a piece vocabulary by corpus
  * substring frequency, then segment with a shortest-path DP (the
  * exact-integer counterpart of SentencePiece/unigram-LM Viterbi —
  * Kudo 2018 — under a unit cost model, because float log-prob costs
  * can never hash-match across engines; piece-count minimization is
  * itself the classic "optimal segmentation" objective).
  *
  * Scale shape: induction explodes substrings of the DISTINCT-word
  * table (orders of magnitude smaller than the token stream), rolls up
  * on piece (one exchange), and takes the top-V via sort+limit —
  * Spark plans that as TakeOrderedAndProject (per-partition top-V, a
  * V-row merge on the driver; no global sort). Segmentation computes
  * the DP once per distinct word against the broadcast vocab (the
  * x_txt13 1-row-commons shape, zero doc shuffles before the per-doc
  * rollup), then joins costs back to the token stream.
  */
object UnigramTok {

  /** Default vocabulary size — bounded, broadcastable. */
  val V = 200

  /** (word, cnt): corpus word frequencies (tokens are whitespace-split,
    * case-preserved — [[CleanFns.tokens]]).
    */
  def corpusWords(docs: DataFrame): DataFrame =
    docs.select(explode(CleanFns.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Induce the top-`v` pieces: every substring of length 2..MaxLen of
    * every word, weighted by the word's corpus frequency, ranked by
    * (count desc, piece asc) — a total order, so the V boundary is
    * deterministic in both engines.
    */
  def induceVocab(docs: DataFrame, v: Int = V): DataFrame =
    corpusWords(docs)
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      // guard BEFORE the length explode: Spark's sequence(2, 1) counts
      // DOWN (DuckDB's generate_series is empty) — an unguarded explode
      // would mint phantom 1-char pieces in one engine only
      .filter(length(col("word")) - col("i") + 1 >= 2)
      .select(explode(sequence(lit(2),
        least(lit(MinSeg.MaxLen), length(col("word")) - col("i") + 1))).as("L"),
        col("word"), col("i"), col("cnt"))
      .select(expr("substring(word, i, L)").as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("piece").asc).limit(v)

  /** Annotate `df` with the minimal-piece count of `textCol`'s words
    * under `vocab`, as `outCol` — the per-ROW HOF form (every word pays
    * its own DP; no distinct-word join, no exchange): the shared core
    * of [[graft.streaming.DocStreams.minSegTokens]] and
    * [[graft.api.Corpus.withUnigramTokenCount]], kept in ONE place so
    * the hand-assembled lambda cannot drift between them.
    */
  def withMinSegCount(df: DataFrame, vocab: DataFrame, outCol: String,
      textCol: String = "text"): DataFrame = {
    val vrow = vocab.agg(sort_array(collect_list(col("piece"))).as("__pieces"))
    df.crossJoin(broadcast(vrow)) // 1-row build side → broadcast nested loop
      .withColumn(outCol, aggregate(CleanFns.tokens(col(textCol)), lit(0).cast("bigint"),
        (acc, w) => acc + MinSeg.min_seg_count(w, col("__pieces"))))
      .drop("__pieces")
  }

  /** Per-doc token accounting under the induced vocabulary: n_words
    * (whitespace tokens) and n_pieces (the minimal subword count, DP'd
    * once per DISTINCT word against the broadcast piece array).
    * Documents with ZERO tokens (empty/whitespace/null text) produce no
    * row — the explode/join form's natural contract, which the
    * streaming HOF form matches explicitly.
    */
  def minTokenCounts(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vrow = vocab.agg(sort_array(collect_list(col("piece"))).as("__pieces"))
    val words = docs.select(col("doc_id"),
      explode(CleanFns.tokens(col("text"))).as("word"))
    val costs = words.select("word").distinct()
      .crossJoin(broadcast(vrow)) // 1-row build side → broadcast nested loop
      .select(col("word"), MinSeg.min_seg_count(col("word"), col("__pieces")).as("__c"))
    words.join(costs, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("__c")).as("n_pieces"))
  }

  /** Per-doc FREQUENCY-WEIGHTED segmentation cost under the induced
    * vocabulary — the unigram-LM cost model x_tok3's unit-cost DP
    * stood in for (round-13 verdict #8): piece cost = scaled −log₂
    * p(piece) in exact integer BITS,
    *
    *   cost(piece) = 1 + bits(Σn) − bits(n(piece)),   bits(x) = ⌊log₂x⌋+1
    *   unk         = 4 + bits(Σn)
    *
    * computed via binary-string length (`conv(x,10,2)` / printf('%b'))
    * so both engines take exact integer logs — float log2 at a power of
    * two could round differently and shift a segmentation. Frequent
    * pieces are cheap, so the DP prefers probable splits over few
    * splits (the greedy trap MinSegSpec pins). Output per doc:
    * (n_words, bit_cost = Σ min-cost over word occurrences).
    *
    * Same scale shape as [[minTokenCounts]]: DP once per DISTINCT word
    * against the broadcast (pieces, costs) arrays, one join back.
    */
  /** The 1-row broadcastable (pieces, costs, unk) frame the weighted DP
    * consumes: bit costs derived from the vocab counts via binary-
    * string-length integer logs ([[minCostCounts]] documents the model).
    */
  private def pricedVocabRow(vocab: DataFrame): DataFrame = {
    def bits(c: org.apache.spark.sql.Column) =
      length(conv(c.cast("string"), 10, 2)).cast("long")
    val tot = vocab.agg(coalesce(sum(col("n")), lit(1L)).as("__tot"))
    val priced = vocab.crossJoin(broadcast(tot)) // 1-row build side
      .select(col("piece"),
        (lit(1L) + bits(col("__tot")) - bits(col("n"))).as("cost"),
        (lit(4L) + bits(col("__tot"))).as("__unk"))
    // ONE sorted struct list → two positionally-aligned arrays (the
    // MinSegCost contract: costs(i) prices sortedPieces(i))
    priced.agg(
        sort_array(collect_list(struct(col("piece"), col("cost")))).as("__pc"),
        coalesce(max(col("__unk")), lit(5L)).as("__unk"))
      .select(expr("transform(__pc, x -> x.piece)").as("__pieces"),
        expr("transform(__pc, x -> x.cost)").as("__costs"), col("__unk"))
  }

  /** `word`'s min-cost segmentation against [[pricedVocabRow]]'s columns. */
  private def minSegCost(word: org.apache.spark.sql.Column) =
    MinSegCost.min_seg_cost(word, col("__pieces"), col("__costs"), col("__unk"))

  /** Annotate `df` with the weighted (bit-cost) segmentation total of
    * `textCol`'s words, as `outCol` — the per-ROW HOF form (every word
    * pays its own DP; no distinct-word join, no exchange): the shared
    * core of [[graft.streaming.DocStreams.bitCostTokens]], mirroring
    * [[withMinSegCount]] so the stream and batch forms cannot drift.
    */
  def withMinSegBitCost(df: DataFrame, vocab: DataFrame, outCol: String,
      textCol: String = "text"): DataFrame = {
    df.crossJoin(broadcast(pricedVocabRow(vocab))) // 1-row build side
      .withColumn(outCol, aggregate(CleanFns.tokens(col(textCol)), lit(0).cast("bigint"),
        (acc, w) => acc + minSegCost(w)))
      .drop("__pieces", "__costs", "__unk")
  }

  /** One hard-EM (Viterbi) re-estimation round over the corpus
    * (round-14 verdict "what's missing" #5): segment every distinct
    * word under `vocab`'s bit-cost prices (the argmin path via the
    * native `min_seg_pieces` — deterministic tie-breaks, so both
    * engines walk the same path), count pieces under that segmentation
    * weighted by corpus word frequency, and return the RE-ESTIMATED
    * vocabulary (piece, n). Pieces never chosen prune away — Kudo
    * 2018's E-step with the max instead of the expectation, and the
    * prune at its deterministic extreme. Feed the result back into
    * [[minCostCounts]]/[[withMinSegBitCost]] for iteration-1 costs.
    *
    * Scale shape: one DP per DISTINCT word against the broadcast priced
    * vocab, then one piece-keyed rollup (vocabulary-sized output) — the
    * corpus token stream is never reshuffled.
    */
  def emVocab(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vrow = pricedVocabRow(vocab)
    corpusWords(docs)
      .crossJoin(broadcast(vrow)) // 1-row build side → broadcast nested loop
      .select(col("cnt"),
        explode(MinSegPieces.min_seg_pieces(
          col("word"), col("__pieces"), col("__costs"), col("__unk"))).as("piece"))
      // UNK steps come back as single characters; vocabulary pieces are
      // length >= 2 by contract, so the filter is exact
      .filter(length(col("piece")) >= 2)
      .groupBy("piece").agg(sum(col("cnt")).as("n"))
  }

  def minCostCounts(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vrow = pricedVocabRow(vocab)
    val words = docs.select(col("doc_id"),
      explode(CleanFns.tokens(col("text"))).as("word"))
    val costs = words.select("word").distinct()
      .crossJoin(broadcast(vrow)) // 1-row build side → broadcast nested loop
      .select(col("word"),
        minSegCost(col("word")).as("__c"))
    words.join(costs, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("__c")).as("bit_cost"))
  }

  // ------------------------------------------------------------ oracles

  /** Induction CTEs: `vc` (piece, n) and `topv` (top-V pieces). */
  private def vocabCtesDuck(v: Int): String =
    s"""w0 AS (
       |  SELECT doc_id, unnest(${CleanFns.tokensDuck("text")}) AS word
       |  FROM documents),
       |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w0 GROUP BY word),
       |sub AS (
       |  SELECT substr(word, CAST(i AS INTEGER), CAST(L AS INTEGER)) AS piece, cnt
       |  FROM wc,
       |    UNNEST(generate_series(1, length(word))) AS t(i),
       |    UNNEST(generate_series(2, least(${MinSeg.MaxLen}, length(word) - i + 1))) AS u(L)
       |  WHERE length(word) - i + 1 >= 2),
       |vc AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM sub GROUP BY piece),
       |topv AS (SELECT piece, n FROM vc ORDER BY n DESC, piece ASC LIMIT $v)""".stripMargin

  // ------------------------------------------------------------- probes

  /** X-TOK2 — the vocabulary induction itself: top-V substrings by
    * frequency-weighted count, the deterministic (n desc, piece asc)
    * boundary pinned by hash.
    */
  private val tok2 = Probe(
    "x_tok2_unigram_vocab",
    s"""WITH ${vocabCtesDuck(V)}
       |SELECT piece, n FROM topv ORDER BY n DESC, piece ASC""".stripMargin) { (s, dir) =>
    induceVocab(Tables(s, dir, "documents"))
      .orderBy(col("n").desc, col("piece").asc)
  }

  /** X-TOK3 — minimal-piece segmentation over the induced vocab: the
    * oracle replays the DP as a recursive CTE over (word, pos, cost)
    * STATES (not paths — recursive UNION dedups states, so the search
    * is quadratic per word, never exponential), with the single-char
    * UNK step as a pseudo-piece. Spark runs the native [[MinSeg]]
    * expression once per distinct word. Both engines induce the vocab
    * from scratch — a one-piece disagreement at the V boundary would
    * shift costs and break the hash.
    */
  private val tok3 = Probe(
    "x_tok3_unigram_tokens",
    s"""WITH RECURSIVE ${vocabCtesDuck(V)},
       |dw AS (SELECT DISTINCT word FROM w0),
       |mv AS (
       |  SELECT piece, CAST(length(piece) AS INTEGER) AS len FROM topv
       |  UNION ALL SELECT '', 1),
       |st AS (
       |  SELECT word, 0 AS pos, 0 AS cost FROM dw
       |  UNION
       |  SELECT s.word, s.pos + m.len, s.cost + 1
       |  FROM st s JOIN mv m ON s.pos + m.len <= length(s.word)
       |    AND (m.piece = '' OR substr(s.word, s.pos + 1, m.len) = m.piece)),
       |best AS (
       |  SELECT word, MIN(cost) AS c FROM st
       |  WHERE pos = length(word) GROUP BY word)
       |SELECT w0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b.c) AS BIGINT) AS n_pieces
       |FROM w0 JOIN best b ON b.word = w0.word
       |GROUP BY w0.doc_id ORDER BY w0.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val vocabPath = graft.util.TrainOnce(s"unigram_vocab:$dir") {
      val p = graft.util.TempDirs.scratch("graft_unigram_vocab")
      induceVocab(docs).write.mode("overwrite").parquet(p)
      p
    }
    minTokenCounts(docs, s.read.parquet(vocabPath))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("n_pieces").cast("long").as("n_pieces"))
      .orderBy("doc_id")
  }

  /** X-TOK4 — frequency-weighted (unigram-LM bit-cost) segmentation:
    * the oracle derives the SAME integer bit costs from the recomputed
    * vocabulary (binary-string-length logs) and replays the weighted DP
    * as the recursive (word, pos, cost) state search, UNK as a priced
    * pseudo-piece. A one-bit cost disagreement anywhere — induction
    * boundary, log rounding, DP tie — shifts a word's minimum and
    * breaks the hash.
    */
  private val tok4 = Probe(
    "x_tok4_unigram_bitcost",
    s"""WITH RECURSIVE ${vocabCtesDuck(V)},
       |tot AS MATERIALIZED (
       |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 1) AS t FROM topv),
       |pcost AS MATERIALIZED (
       |  SELECT piece, CAST(length(piece) AS INTEGER) AS len,
       |    CAST(1 + length(printf('%b', (SELECT t FROM tot)))
       |      - length(printf('%b', n)) AS BIGINT) AS cost
       |  FROM topv
       |  UNION ALL
       |  SELECT '', 1, CAST(4 + length(printf('%b', (SELECT t FROM tot))) AS BIGINT)),
       |dw AS (SELECT DISTINCT word FROM w0),
       |st AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM dw
       |  UNION
       |  SELECT s.word, s.pos + m.len, s.cost + m.cost
       |  FROM st s JOIN pcost m ON s.pos + m.len <= length(s.word)
       |    AND (m.piece = '' OR substr(s.word, s.pos + 1, m.len) = m.piece)),
       |best AS (
       |  SELECT word, MIN(cost) AS c FROM st
       |  WHERE pos = length(word) GROUP BY word)
       |SELECT w0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b.c) AS BIGINT) AS bit_cost
       |FROM w0 JOIN best b ON b.word = w0.word
       |GROUP BY w0.doc_id ORDER BY w0.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val vocabPath = graft.util.TrainOnce(s"unigram_vocab:$dir") {
      val p = graft.util.TempDirs.scratch("graft_unigram_vocab")
      induceVocab(docs).write.mode("overwrite").parquet(p)
      p
    }
    minCostCounts(docs, s.read.parquet(vocabPath))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("bit_cost").cast("long").as("bit_cost"))
      .orderBy("doc_id")
  }

  /** X-TOK5 — one hard-EM round of the unigram tokenizer: iteration-0
    * prices segment the corpus, the ARGMIN paths re-count the pieces
    * (frequency-weighted; never-chosen pieces prune), the re-priced
    * vocabulary re-segments — per doc (n_words, bit_cost0, bit_cost1).
    * The oracle replays EVERYTHING relationally: induction, pricing,
    * the forward DP, a BACKWARD suffix DP, the deterministic
    * reconstruction (tot asc, len desc, piece asc — exactly the native
    * expression's tie-break), the recursive path walk, the E-step
    * counts, the re-pricing, and the second DP. A one-step tie broken
    * differently anywhere shifts a count, a price, and the hash.
    */
  private val tok5 = Probe(
    "x_tok5_unigram_em1",
    s"""WITH RECURSIVE ${vocabCtesDuck(V)},
       |tot AS MATERIALIZED (
       |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 1) AS t FROM topv),
       |pcost AS MATERIALIZED (
       |  SELECT piece, CAST(length(piece) AS INTEGER) AS len,
       |    CAST(1 + length(printf('%b', (SELECT t FROM tot)))
       |      - length(printf('%b', n)) AS BIGINT) AS cost
       |  FROM topv
       |  UNION ALL
       |  SELECT '', 1, CAST(4 + length(printf('%b', (SELECT t FROM tot))) AS BIGINT)),
       |dw AS (SELECT DISTINCT word FROM w0),
       |st AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM dw
       |  UNION
       |  SELECT s.word, s.pos + m.len, s.cost + m.cost
       |  FROM st s JOIN pcost m ON s.pos + m.len <= length(s.word)
       |    AND (m.piece = '' OR substr(s.word, s.pos + 1, m.len) = m.piece)),
       |best0 AS MATERIALIZED (
       |  SELECT word, MIN(cost) AS c FROM st
       |  WHERE pos = length(word) GROUP BY word),
       |bst AS (
       |  SELECT word, CAST(length(word) AS INTEGER) AS pos,
       |    CAST(0 AS BIGINT) AS cost FROM dw
       |  UNION
       |  SELECT b.word, b.pos - m.len, b.cost + m.cost
       |  FROM bst b JOIN pcost m ON b.pos - m.len >= 0
       |    AND (m.piece = '' OR substr(b.word, b.pos - m.len + 1, m.len) = m.piece)),
       |bmin AS MATERIALIZED (
       |  SELECT word, pos, MIN(cost) AS b FROM bst GROUP BY 1, 2),
       |cand AS (
       |  SELECT p.word, p.pos, m.piece, m.len, m.cost + b.b AS tt
       |  FROM (SELECT word, CAST(i AS INTEGER) AS pos FROM dw,
       |        UNNEST(generate_series(0, length(word) - 1)) AS g(i)) p
       |  JOIN pcost m ON p.pos + m.len <= length(p.word)
       |    AND (m.piece = '' OR substr(p.word, p.pos + 1, m.len) = m.piece)
       |  JOIN bmin b ON b.word = p.word AND b.pos = p.pos + m.len),
       |chosen AS MATERIALIZED (
       |  SELECT word, pos, piece, len FROM (
       |    SELECT word, pos, piece, len,
       |      row_number() OVER (PARTITION BY word, pos
       |        ORDER BY tt ASC, len DESC, piece ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |walkp AS (
       |  SELECT word, 0 AS pos FROM dw
       |  UNION ALL
       |  SELECT w.word, w.pos + c.len
       |  FROM walkp w JOIN chosen c ON c.word = w.word AND c.pos = w.pos
       |  WHERE w.pos < length(w.word)),
       |used AS (
       |  SELECT w.word, c.piece
       |  FROM walkp w JOIN chosen c ON c.word = w.word AND c.pos = w.pos
       |  WHERE c.piece <> ''),
       |n1 AS MATERIALIZED (
       |  SELECT u.piece, CAST(SUM(wc.cnt) AS BIGINT) AS n
       |  FROM used u JOIN wc ON wc.word = u.word GROUP BY 1),
       |tot1 AS MATERIALIZED (
       |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 1) AS t FROM n1),
       |pcost1 AS MATERIALIZED (
       |  SELECT piece, CAST(length(piece) AS INTEGER) AS len,
       |    CAST(1 + length(printf('%b', (SELECT t FROM tot1)))
       |      - length(printf('%b', n)) AS BIGINT) AS cost
       |  FROM n1
       |  UNION ALL
       |  SELECT '', 1, CAST(4 + length(printf('%b', (SELECT t FROM tot1))) AS BIGINT)),
       |st1 AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM dw
       |  UNION
       |  SELECT s.word, s.pos + m.len, s.cost + m.cost
       |  FROM st1 s JOIN pcost1 m ON s.pos + m.len <= length(s.word)
       |    AND (m.piece = '' OR substr(s.word, s.pos + 1, m.len) = m.piece)),
       |best1 AS MATERIALIZED (
       |  SELECT word, MIN(cost) AS c FROM st1
       |  WHERE pos = length(word) GROUP BY word)
       |SELECT w0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b0.c) AS BIGINT) AS bit_cost0,
       |  CAST(SUM(b1.c) AS BIGINT) AS bit_cost1
       |FROM w0
       |JOIN best0 b0 ON b0.word = w0.word
       |JOIN best1 b1 ON b1.word = w0.word
       |GROUP BY w0.doc_id ORDER BY w0.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val vocabPath = graft.util.TrainOnce(s"unigram_vocab:$dir") {
      val p = graft.util.TempDirs.scratch("graft_unigram_vocab")
      induceVocab(docs).write.mode("overwrite").parquet(p)
      p
    }
    val v0 = s.read.parquet(vocabPath)
    // the EM round is train-once too: the re-estimated vocab is a model
    // artifact, rebuilt only when the corpus changes
    val em1Path = graft.util.TrainOnce(s"unigram_em1:$dir") {
      val p = graft.util.TempDirs.scratch("graft_unigram_em1")
      emVocab(docs, v0).write.mode("overwrite").parquet(p)
      p
    }
    val v1 = s.read.parquet(em1Path)
    val c0 = minCostCounts(docs, v0)
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("bit_cost").cast("long").as("bit_cost0"))
    val c1 = minCostCounts(docs, v1)
      .select(col("doc_id"), col("bit_cost").cast("long").as("bit_cost1"))
    c0.join(c1, Seq("doc_id")).orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(tok2, tok3, tok4, tok5)
}

package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import graft.functions.{KnIndex, KnNll, LmIndex, LmNll}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The statistical language models: the add-one bigram LM (x_txt18,
  * x_txt18b/c/d, the adaptive gate x_txt20) and the trigram interpolated
  * Kneser-Ney LM (x_txt22, x_txt22b–e), each in three regimes:
  *
  *   - JOIN: the n-gram stream joined against lazy count tables
  *     ([[lmScoreWith]], [[knScoreWithTok]]) — the beyond-broadcast scale
  *     path, fixed-width 16-hex digest keys on every shuffled join.
  *   - NATIVE: the tables collected into an index ([[lmIndex]],
  *     [[knIndex]]) baked into the per-row `lm_nll` / `kn_nll`
  *     expressions — narrow, zero-exchange, the stream-door form.
  *   - STORED: the tables written once as parquet ([[buildLm]],
  *     [[buildKn]], the incremental KN type store) and read back into
  *     either of the other two regimes.
  *
  * Each shared decision has one owner here: the tokenizer and n-gram
  * streams ([[docTokens]], [[bigramPairsTok]], [[bigramDigestsTok]],
  * [[bigramsDuck]]), the unigram table ([[unigrams]]), the index ceiling
  * and its bounded collect ([[indexMaxEntries]], [[collectIndex]]) and
  * the DuckDB self-score prefix the LM-gated oracles extend
  * ([[lmSelfScoreDuck]]). BM25, DSIR, PMI and the composed pipelines
  * import the first two from here.
  */
object LanguageModels {

  // ------------------------------------------------ tokens and n-grams

  /** (doc_id, ws): the shared whitespace tokenization (one tokenizer
    * everywhere — the round-5 lesson).
    */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))

  /** (doc_id, w1, w2, b) from an already-tokenized (doc_id, ws) frame:
    * every adjacent token pair, `b` the joined bigram string. Hot-path
    * joins digest `b` to 16 hex (fixed-width shuffle payload, the x_ded10
    * lesson). Composed pipelines pass one materialized tokenization to
    * every stage (see x_pipe5).
    */
  private[ext] def bigramPairsTok(tok: DataFrame): DataFrame = tok
    .select(col("doc_id"), col("ws"))
    .filter(size(col("ws")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
        "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1), " +
        "'b', concat_ws(' ', element_at(ws, i), element_at(ws, i + 1))))")).as("p"))
    .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.b").as("b"))

  /** (doc_id, w1, hb): the DIGESTED bigram stream — the stage a composed
    * pipeline materializes ONCE so every downstream consumer reads
    * columnar digests instead of re-running explode+md5 over the corpus
    * (x_pipe5 has three such consumers: the LM gate and both DSIR
    * scans). The DSIR bucket is a prefix function of hb
    * (conv(substr(hb,1,3))), so the digest column serves both signals.
    */
  private[ext] def bigramDigestsTok(tok: DataFrame): DataFrame =
    bigramPairsTok(tok).select(col("doc_id"), col("w1"), h16(col("b")).as("hb"))

  /** DuckDB CTE fragment producing the same (doc_id, w1, w2, b) stream
    * from a CTE `src(doc_id, ws)`.
    */
  private[ext] def bigramsDuck(src: String): String =
    s"""SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i] || ' ' || ws[i+1] AS b
       |  FROM (SELECT doc_id, ws FROM $src WHERE len(ws) >= 2),
       |       UNNEST(generate_series(1, len(ws) - 1)) AS g(i)""".stripMargin

  /** (doc_id, a, b, c): every adjacent token triple — the trigram
    * occurrence stream (one explode; digests are computed at use sites
    * so the stream itself stays string-typed for `c`'s unigram lookup).
    */
  private def trigramsTok(tok: DataFrame): DataFrame = tok
    .select(col("doc_id"), col("ws"))
    .filter(size(col("ws")) >= 3)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ws) - 2), i -> named_struct(" +
        "'a', element_at(ws, i), 'b', element_at(ws, i + 1), 'c', element_at(ws, i + 2)))")).as("p"))
    .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"), col("p.c").as("c"))

  /** DuckDB twin of [[trigramsTok]] from a CTE `src(doc_id, ws)`. */
  private[ext] def trigramsDuck(src: String): String =
    s"""SELECT doc_id, ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
       |  FROM (SELECT doc_id, ws FROM $src WHERE len(ws) >= 3),
       |       UNNEST(generate_series(1, len(ws) - 2)) AS g(i)""".stripMargin

  private def h16(c: Column): Column = substring(md5(c), 1, 16)

  /** (w, c1): token occurrence counts of a tokenized frame — the one
    * unigram table behind the bigram LM's tables, its self-score, the
    * adaptive gate, PMI, x_pipe5 and the BPE trainer's word counts.
    * Vocabulary-bounded, so its consumers broadcast it.
    */
  private[graft] def unigrams(tok: DataFrame): DataFrame =
    tok.select(explode(col("ws")).as("w")).groupBy("w").agg(count(lit(1)).as("c1"))

  // ------------------------------------------------------- the index collect

  /** Hard ceiling on the entries a native-regime index collects (every
    * keyed count table, summed). The native/broadcast regime is only
    * correct while the tables genuinely fit in the plan; a web-scale
    * corpus has billions of bigram and trigram TYPES, and silently
    * collecting them is a driver OOM that surfaces as a dead executor
    * hours in. Builds fail loudly instead, naming the join form that
    * scales — the same loud-gate discipline as the round-5 candidate caps.
    */
  val indexMaxEntries: Long = 2000000L

  /** The one bounded index collect. `tables` are count tables keyed by
    * their first (string) column, all of one arity; the last `scalars` of
    * them are one-row frames outside the ceiling. They are tagged by
    * position and taken in ONE action ordered by (tag, key): a TakeOrdered
    * plan, so each task returns at most `maxEntries + 1 + scalars` rows
    * and the driver merges them down to that many even when the gate
    * trips, and the engine's string order is UTF8String binary order —
    * exactly what the native binary searches require. Returns each
    * table's rows (tag, key, values…) in that order. A ceiling past the
    * JVM array bound collects up to that bound.
    */
  private def collectIndex(tables: Seq[DataFrame], scalars: Int, maxEntries: Long,
      joinForm: String): IndexedSeq[Array[Row]] = {
    val tagged = tables.zipWithIndex
      .map { case (t, i) => t.select(lit(i).as("tg"), col("*")) }
      .reduce(_ unionAll _)
    val limit = (math.min(math.max(maxEntries, 0L), Int.MaxValue.toLong - 1 - scalars) +
      1 + scalars).toInt
    val rows = tagged.orderBy(col("tg"), col(tagged.columns(1))).limit(limit).collect()
    require(rows.length < limit,
      s"index tables exceed $maxEntries entries: too large for the broadcast/native " +
        s"regime — score with the join form instead ($joinForm)")
    val byTag = rows.groupBy(_.getInt(0))
    tables.indices.map(byTag.getOrElse(_, Array.empty[Row]))
  }

  // ------------------------------------------------------------ bigram LM

  /** Per-document negative log-likelihood under an add-one-smoothed bigram
    * LM estimated from `train` — the CCNet-style statistical quality
    * signal: fluent prose scores low, gibberish / shuffled / boilerplate
    * text scores high, and (unlike the x_txt11 rule family) the judgment
    * adapts to whatever the reference corpus actually looks like.
    *
    * p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V); score = -Σ ln p / n_bigrams.
    * Unseen bigrams and unseen contexts degrade smoothly to the 1/(c+V)
    * floor, so the same operator scores NEW shards against a RELEASED
    * corpus LM (x_txt18b) — the incremental regime.
    *
    * Shape: the bigram count join is keyed on a 16-hex md5 digest of the
    * pair (fixed-width shuffle payload at any token length); the unigram
    * table and the vocabulary size are vocabulary-bounded → broadcast.
    * Double discipline (SURVEY §8.4): every ln argument is a ratio of
    * exact integers, per-doc sums are rounded to 6 before surfacing.
    */
  def lmScore(train: DataFrame, score: DataFrame): DataFrame = {
    val (uni, bgc) = lmTables(train)
    lmScoreWith(score, uni, bgc)
  }

  /** The LM count tables as DataFrames: (unigrams (w, c1), bigram digests
    * (hb, c2)) — the artifact [[buildLm]] persists and [[lmIndex]]
    * collects; V is derived from the unigram table at use time.
    */
  def lmTables(train: DataFrame): (DataFrame, DataFrame) = {
    val tok = docTokens(train)
    val bgc = bigramPairsTok(tok)
      .select(h16(col("b")).as("hb"))
      .groupBy("hb").agg(count(lit(1)).as("c2"))
    (unigrams(tok), bgc)
  }

  /** Score `score` against prebuilt count tables — the JOIN regime (the
    * beyond-broadcast scale path: the bigram join shuffles fixed-width
    * digests; at broadcast scale, [[lmScoreNative]] is the narrow twin).
    */
  def lmScoreWith(score: DataFrame, uni: DataFrame, bgc: DataFrame): DataFrame =
    lmScoreWithTok(docTokens(score), uni, bgc)

  /** [[lmScoreWith]] from a pre-tokenized (doc_id, ws) score frame. */
  def lmScoreWithTok(tokScore: DataFrame, uni: DataFrame, bgc: DataFrame): DataFrame = {
    val vocab = uni.agg(count(lit(1)).as("v"))
    bigramPairsTok(tokScore)
      .select(col("doc_id"), col("w1"), h16(col("b")).as("hb"))
      .join(bgc, Seq("hb"), "left")
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"), "left")
      .join(broadcast(vocab))
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + 1) / (coalesce(col("c1"), lit(0L)) + col("v")))
          .as("lnp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(-sum(col("lnp")) / count(lit(1)), 6).as("nll_avg"))
  }

  /** Self-scored LM (train = score) without a separate count-table build:
    * when the corpus scores itself, the train-side bigram count c2 is just
    * the occurrence count of the digest IN THE SAME STREAM — one window
    * over hb replaces the bgc aggregation + digest join (one fewer full
    * bigram-stream scan; the hb exchange is the same one the join paid,
    * skew included). Identical algebra to [[lmScoreWithTok]] on itself
    * (every scored bigram is in train, so COALESCE never fires) — pinned
    * by the oracles that extend [[lmSelfScoreDuck]] (x_txt20, x_pipe5,
    * x_cur5, x_cur6).
    */
  def lmSelfScoreTok(tok: DataFrame): DataFrame =
    lmSelfScoreTokWith(tok, unigrams(tok))

  /** [[lmSelfScoreTok]] against a PREBUILT unigram table — the composed-
    * pipeline entry point (x_pipe5): the unigram subtree feeds two
    * broadcast exchanges here (counts + vocab size), so an unmaterialized
    * `uni` is executed twice per invocation; a pipeline that has already
    * materialized the tokenized stage materializes `uni` beside it and
    * both exchanges become one columnar scan each.
    */
  def lmSelfScoreTokWith(tok: DataFrame, uni: DataFrame): DataFrame =
    lmSelfScoreBg(bigramDigestsTok(tok), uni)

  /** [[lmSelfScoreTokWith]] from a pre-digested (doc_id, w1, hb) stream
    * (see [[bigramDigestsTok]]) — same algebra, zero md5 work.
    */
  private def lmSelfScoreBg(bg: DataFrame, uni: DataFrame): DataFrame = {
    // vocabulary size rides ON the unigram broadcast (a whole-frame
    // window over the vocab-bounded table) instead of a second 1-row
    // broadcast exchange; self-scoring guarantees every w1 is in uni, so
    // the left join always delivers v. A caller-supplied uni that does
    // NOT cover every w1 would leave lnp NULL — sum() drops it while
    // count() keeps the row, silently diluting nll_avg — so the
    // coverage invariant is enforced loudly (narrow, zero-exchange)
    // instead of assumed: an uncovered word raises, pointing at
    // lmScoreWithTok (whose scalar vocab broadcast smooths unseen words).
    val uniV = uni.withColumn("v", count(lit(1)).over(Window.partitionBy()))
    val vChecked = when(col("v").isNotNull, col("v")).otherwise(raise_error(concat(
      lit("lmSelfScoreBg: unigram table does not cover word '"), col("w1"),
      lit("' — self-score requires full coverage; score against a partial LM via lmScoreWithTok"))))
    bg
      // broadcast-join the unigram side FIRST and reduce it to the long
      // denominator, so the hb window's shuffle carries (doc_id, hb, den)
      // — fixed-width payloads only, never the raw w1 token strings
      .join(broadcast(uniV.withColumnRenamed("w", "w1")), Seq("w1"), "left")
      .select(col("doc_id"), col("hb"),
        (coalesce(col("c1"), lit(0L)) + vChecked).as("den"))
      .withColumn("c2", count(lit(1)).over(Window.partitionBy(col("hb"))))
      .select(col("doc_id"),
        log((col("c2") + 1) / col("den")).as("lnp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(-sum(col("lnp")) / count(lit(1)), 6).as("nll_avg"))
  }

  /** The native scorer's index of `train`'s LM tables (see
    * [[collectIndex]]): the train-once / score-many artifact of the
    * incremental LM regime.
    */
  def lmIndex(train: DataFrame, maxEntries: Long = indexMaxEntries): LmIndex =
    lmIndexOf(lmTables(train), maxEntries)

  private def lmIndexOf(tables: (DataFrame, DataFrame), maxEntries: Long): LmIndex = {
    val (uniDf, bgDf) = tables
    val Seq(uni, bg) = collectIndex(
      Seq(uniDf.select("w", "c1"), bgDf.select("hb", "c2")), 0, maxEntries,
      "LanguageModels.lmScoreWith over lmTables or loadLmTables")
    LmIndex(
      bg.map(_.getString(1)).toSeq, bg.map(_.getLong(2)).toSeq,
      uni.map(_.getString(1)).toSeq, uni.map(_.getLong(2)).toSeq,
      uni.length.toLong)
  }

  /** Per-row LM scoring against a prebuilt index — the NARROW, stateless,
    * stream-capable form of [[lmScore]] (identical output, zero
    * exchanges; the novelty-scoring pattern applied to LM scoring).
    */
  def lmScoreNative(score: DataFrame, idx: LmIndex): DataFrame = {
    score
      .withColumn("__lm", LmNll.lm_nll(col("text"), idx))
      .filter(col("__lm").isNotNull)
      .select(col("doc_id"), col("__lm.n_bigrams").as("n_bigrams"),
        col("__lm.nll_avg").as("nll_avg"))
  }

  /** Write the LM count tables of `train` under `path` (uni/ + bg/) — the
    * persisted regime (the [[Sketches]] store / [[BandIndex]] pattern):
    * the released corpus is scanned ONCE; every later shard or stream is
    * scored against the store without re-reading released text.
    */
  def buildLm(train: DataFrame, path: String): Unit = {
    val (uni, bgc) = lmTables(train)
    uni.write.mode("overwrite").parquet(s"$path/uni")
    bgc.write.mode("overwrite").parquet(s"$path/bg")
  }

  /** The stored tables, for the join-regime scorer. */
  def loadLmTables(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/uni"), spark.read.parquet(s"$path/bg"))

  /** The stored tables collected into the native scorer's index (the
    * narrow path `DocStreams.lmScored` runs at the stream door).
    */
  def loadLmIndex(spark: SparkSession, path: String,
      maxEntries: Long = indexMaxEntries): LmIndex =
    lmIndexOf(loadLmTables(spark, path), maxEntries)

  // ------------------------------------------------- adaptive LM gate

  /** Per-language adaptive LM gate: keep documents whose self-scored NLL
    * sits at or below the language's 75th percentile — the x_txt12
    * adaptive-threshold discipline applied to the statistical LM signal
    * (absolute NLL thresholds don't transfer across languages; quantiles
    * do). Thresholds are languages-sized → broadcast.
    */
  def adaptiveLmKeep(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"), CleanFns.tokens(col("text")).as("ws"))
    adaptiveLmKeepBg(bigramDigestsTok(tok), tok.select(col("doc_id"), col("lang")),
      unigrams(tok))
  }

  /** [[adaptiveLmKeep]] from a pre-digested bigram stream, a (doc_id,
    * lang) frame and a prebuilt unigram table (see [[lmSelfScoreTokWith]])
    * — the x_pipe5 entry point.
    */
  private[ext] def adaptiveLmKeepBg(bg: DataFrame, langs: DataFrame,
      uni: DataFrame): DataFrame = {
    // threshold via a lang-partitioned window (whole-partition frame), not
    // groupBy + join-back: the join form instantiates the LM-score subtree
    // twice and at sf0.1 pays the full count-table build both times
    // (measured at sf0.1: x_pipe5 6.1 s -> 4.3 s with the single-pass window)
    lmSelfScoreBg(bg, uni)
      .join(langs, "doc_id")
      .withColumn("p75", round(
        expr("percentile(nll_avg, 0.75)")
          .over(Window.partitionBy(col("lang"))), 6))
      .filter(col("nll_avg") <= col("p75"))
      .select(col("doc_id"), col("lang"), col("nll_avg"), col("p75"))
  }

  // ------------------------------------------------------ bigram oracles

  /** First-principles DuckDB twin of train-on-`trainWhere` /
    * score-on-`scoreWhere` bigram LM scoring, in the generic join form.
    */
  private def lmOracle(trainWhere: String, scoreWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |u AS (
       |  SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM t $trainWhere) GROUP BY w),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |bgt AS (${bigramsDuck(s"(SELECT * FROM t $trainWhere)")}),
       |bc AS (SELECT substr(md5(b), 1, 16) AS hb, COUNT(*) AS c2 FROM bgt GROUP BY hb),
       |bgs AS (${bigramsDuck(s"(SELECT * FROM t $scoreWhere)")})
       |SELECT bgs.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  round(-SUM(ln((COALESCE(bc.c2, 0) + 1) / (COALESCE(u.c1, 0) + v.v))) / COUNT(*), 6) AS nll_avg
       |FROM bgs
       |LEFT JOIN bc ON bc.hb = substr(md5(bgs.b), 1, 16)
       |LEFT JOIN u ON u.w = bgs.w1, v
       |GROUP BY bgs.doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB CTEs `t, u, v, bg, bc, sc` over `documents`: the corpus
    * self-scored bigram LM, `sc(doc_id, nll_avg)`. Self-scoring covers
    * every bigram and word, so the joins are inner. The prefix the
    * x_txt20, x_pipe5, x_cur5 and x_cur6 oracles extend (after `WITH`).
    */
  private[ext] def lmSelfScoreDuck: String =
    s"""t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |u AS (
       |  SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM t) GROUP BY w),
       |v AS (SELECT COUNT(*) AS v FROM u),
       |bg AS (${bigramsDuck("t")}),
       |bc AS (SELECT substr(md5(b), 1, 16) AS hb, COUNT(*) AS c2 FROM bg GROUP BY hb),
       |sc AS (
       |  SELECT bg.doc_id,
       |    round(-SUM(ln((bc.c2 + 1) / (u.c1 + v.v))) / COUNT(*), 6) AS nll_avg
       |  FROM bg
       |  JOIN bc ON bc.hb = substr(md5(bg.b), 1, 16)
       |  JOIN u ON u.w = bg.w1, v
       |  GROUP BY bg.doc_id)""".stripMargin

  // ------------------------------------------------------- bigram probes

  /** X-TXT18 — corpus self-scored LM: every document's NLL under the LM of
    * the corpus it belongs to. The outlier detector: documents far from
    * the corpus's own statistics (machine gibberish, wrong-language
    * slips, encoding damage) surface at the top.
    */
  private val txt18 = Probe(
    "x_txt18_lm_score",
    lmOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    lmScore(docs, docs).orderBy("doc_id")
  }

  /** X-TXT18B — held-out LM scoring: the LM is estimated on 90% of the
    * corpus and scores the held-out 10% it has never seen, exercising the
    * add-one fallback for unseen bigrams AND unseen contexts — the
    * incremental regime (new crawl scored against the released-corpus LM;
    * the count tables persist like BandIndex and the scan side is one
    * narrow pass + broadcast joins).
    */
  private val txt18b = Probe(
    "x_txt18b_lm_heldout",
    lmOracle("WHERE doc_id % 10 <> 0", "WHERE doc_id % 10 = 0")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    lmScore(docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  /** X-TXT18C — the native per-row LM scorer against the same
    * first-principles relational oracle as x_txt18: the one-pass JVM
    * tokenize/digest/binary-search/sum is hash-pinned to the declarative
    * explode-join-aggregate algebra (and LmNllSpec pins interpreted ≡
    * codegen ≡ declarative on top).
    *
    * The index is a train-once artifact ([[graft.util.TrainOnce]]) —
    * built once per corpus dir per JVM, exactly how production builds it
    * once per released corpus (like BandIndex) and amortizes it over
    * every shard/stream scored; benched steady-state times the narrow
    * zero-exchange scoring projection alone.
    */
  private val txt18c = Probe(
    "x_txt18c_lm_native",
    lmOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val idx = graft.util.TrainOnce(s"lm_index:$dir")(lmIndex(docs))
    lmScoreNative(docs, idx).orderBy("doc_id")
  }

  /** X-TXT18D — the LM probe through the PERSISTED store: count tables
    * built once, written as parquet, read back, and joined — and must
    * produce x_txt18's identical table (shared oracle SQL), pinning the
    * full round trip (schema, types, counts) rather than just the
    * in-memory algebra. This is the daily-increment deployment shape:
    * the store amortizes the train scan that x_txt18c rebuilds per run.
    */
  private val txt18d = Probe(
    "x_txt18d_lm_stored", lmOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // train-once per corpus dir (round-9 verdict #1): steady bench cost
    // is the load + join scoring pass, the amortized production shape
    val path = graft.util.TrainOnce(s"lm_store:$dir") {
      val p = graft.util.TempDirs.scratch("graft_lm_store")
      buildLm(docs, p)
      p
    }
    val (uni, bgc) = loadLmTables(s, path)
    lmScoreWith(docs, uni, bgc).orderBy("doc_id")
  }

  /** X-TXT20 — the adaptive LM gate over the documents table, oracle =
    * the full LM algebra + percentile_cont thresholds + the gate.
    */
  private val txt20 = Probe(
    "x_txt20_adaptive_lm",
    s"""WITH $lmSelfScoreDuck,
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |th AS (
       |  SELECT lang, round(percentile_cont(0.75) WITHIN GROUP (ORDER BY nll_avg), 6) AS p75
       |  FROM lg GROUP BY lang)
       |SELECT lg.doc_id, lg.lang, lg.nll_avg, th.p75
       |FROM lg JOIN th ON th.lang = lg.lang
       |WHERE lg.nll_avg <= th.p75
       |ORDER BY lg.doc_id""".stripMargin) { (s, dir) =>
    adaptiveLmKeep(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  // ------------------------------------------------------- Kneser-Ney LM
  //
  // Trigram interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman
  // 1999) — the CCNet-grade quality signal, one order up from the bigram
  // LM. D = 0.75 is exactly representable in binary, so every discount is
  // the same IEEE value in Spark, DuckDB, and the JVM path:
  //
  //   p1(c)     = (cont2(c) + 1) / (B + V)
  //   p2(c|b)   = (max(cont3(b,c) − D, 0) + D·n2f(b)·p1(c)) / mid(b)
  //               when b is a known middle, else p1(c)
  //   p3(c|a,b) = (max(c3(a,b,c) − D, 0) + D·n3f(a,b)·p2) / ctx2(a,b)
  //               when context (a,b) is known, else p2
  //
  // where, with trigram OCCURRENCES tr and distinct trigram TYPES ty and
  // distinct adjacent-bigram TYPES bty (all from the one shared
  // tokenizer):
  //
  //   c3(a,b,c)  = count of tr grouped by trigram digest
  //   ctx2(a,b)  = count of tr grouped by context digest
  //   n3f(a,b)   = distinct c per context digest (types following (a,b))
  //   cont3(b,c) = distinct a per (b,c) digest over ty   [N₁₊(·bc)]
  //   mid(b)     = count of ty per middle digest          [N₁₊(·b·)]
  //   n2f(b)     = distinct c per middle digest           [N₁₊(b·)]
  //   cont2(c)   = distinct predecessors of c over bty    [N₁₊(·c)]
  //   B          = |bty|, V = vocabulary size
  //
  // All counts are exact integers; the continuation counts are the KN
  // insight (a word after an unseen context should be scored by how many
  // distinct contexts it follows, not how often it occurs). The +1/(B+V)
  // unigram floor keeps OOV finite, mirroring the bigram add-one floor.

  /** The five KN count tables plus the (bt, v) scalar frame — all lazy
    * DataFrames, so the join regime never collects anything.
    */
  final case class KnTables(
      t3: DataFrame,   // (h3, c3)
      ctx: DataFrame,  // (hab, ctx2, n3f)
      bc: DataFrame,   // (hbc, cont3)
      mid: DataFrame,  // (hb, mid, n2f)
      u2: DataFrame,   // (c, cont2)
      sc: DataFrame)   // 1 row: (bt, v)

  /** The KN tables of `train`.
    *
    * Shuffle shape: the trigram STREAM is exchanged exactly ONCE, keyed
    * on the fixed-width trigram digest h3 (map-side combined); every
    * type-level table (contexts, continuation counts, middle-token
    * stats) then derives from that trigram-TYPE frame — each h3 group's
    * hbc/hab/hb/c are identical within the group (they are functions of
    * the same trigram), so MIN carries them deterministically on both
    * engines. The bigram stream likewise shuffles once on its digest.
    * A naive build (distinct over raw (a,b,c) + per-context stream aggs)
    * would shuffle raw token payloads twice more — the plan pin in
    * PlanAuditSpec forbids any raw-token-keyed exchange here.
    */
  def knTables(train: DataFrame): KnTables = {
    val tok = docTokens(train)
    knTablesFrom(trigramTypes(tok), bigramTypes(tok), tok)
  }

  /** The trigram-TYPE frame (h3, c3, hab, hbc, hb, c): the single
    * digest-keyed pass over the trigram stream from which every KN table
    * derives.
    */
  private def trigramTypes(tok: DataFrame): DataFrame =
    trigramsTok(tok)
      // digests per TYPE, not per occurrence (guide §1.2 per-task work):
      // the corpus carries ~9.6 occurrences per trigram type (measured,
      // sf0.1), so grouping raw words first cuts the md5 count ~9.6×
      // (4/occurrence → 4/type) and the partial agg shrinks the exchange
      // the same way. The second, digest-keyed grouping reproduces the
      // original h3-grouped algebra exactly (sum of sub-counts, min of
      // sub-mins — associative), md5-collision behavior included.
      .groupBy("a", "b", "c")
      .agg(count(lit(1)).as("cnt"))
      .select(
        h16(concat_ws(" ", col("a"), col("b"), col("c"))).as("h3"),
        h16(concat_ws(" ", col("a"), col("b"))).as("hab"),
        h16(concat_ws(" ", col("b"), col("c"))).as("hbc"),
        h16(col("b")).as("hb"),
        col("c"), col("cnt"))
      .groupBy("h3")
      .agg(sum(col("cnt")).as("c3"),
        min(col("hab")).as("hab"), min(col("hbc")).as("hbc"),
        min(col("hb")).as("hb"), min(col("c")).as("c"))

  /** The bigram-TYPE frame (h2, c): one digest-keyed exchange, types
    * carry their continuation token.
    */
  private def bigramTypes(tok: DataFrame): DataFrame =
    bigramPairsTok(tok)
      // same per-type digest discipline as [[trigramTypes]]: group the raw
      // bigram first (partial-agg shrink), digest once per type, then the
      // digest-keyed grouping reproduces the original algebra exactly
      .groupBy("b").agg(min(col("w2")).as("w2"))
      .select(h16(col("b")).as("h2"), col("w2"))
      .groupBy("h2").agg(min(col("w2")).as("c"))

  private def knTablesFrom(t3f: DataFrame, b2t: DataFrame,
      tok: DataFrame): KnTables =
    knTablesFromTypes(t3f, b2t,
      tok.select(explode(col("ws")).as("w")).agg(count_distinct(col("w")).as("v")))

  /** The five scoring tables derived from the TYPE frames alone — the
    * shared endpoint of the full-retrain and incremental-merge paths
    * (`vRow` is a 1-row (v) vocabulary-size frame).
    */
  private def knTablesFromTypes(t3f: DataFrame, b2t: DataFrame,
      vRow: DataFrame): KnTables = {
    val t3 = t3f.select("h3", "c3")
    val ctx = t3f.groupBy("hab")
      .agg(sum(col("c3")).as("ctx2"), count_distinct(col("c")).as("n3f"))
    val bc = t3f.groupBy("hbc").agg(count(lit(1)).as("cont3"))
    val mid = t3f.groupBy("hb")
      .agg(count(lit(1)).as("mid"), count_distinct(col("c")).as("n2f"))
    val u2 = b2t.groupBy("c").agg(count(lit(1)).as("cont2"))
    val sc = b2t.agg(count(lit(1)).as("bt")).join(vRow)
    KnTables(t3, ctx, bc, mid, u2, sc)
  }

  /** Train on `train`, score `score` — the self/held-out entry point.
    *
    * Deliberately LAZY (no persist, no staging): the five scoring tables
    * are six consumers of the same streams, but their independent
    * subtrees overlap on the cluster, each is scan+map only, and the
    * per-type digest discipline above halves their map cost. Measured
    * alternatives (r17, isolated sf0.1): persisting tok+t3f+b2t
    * sequentialized the build into cache barriers AND billed the
    * clearCache drain to the next bench repeat (3.75 → 5.4 s); staging
    * the type frames to scratch parquet re-tokenized per write job
    * (5.6 s). The train-once/store regime (buildKnTypes + loadKnTypes,
    * x_txt22d/e) remains the scale path — a 100 TB corpus builds its
    * type store once and scores shards from it, never through this
    * self-contained form.
    */
  def knScore(train: DataFrame, score: DataFrame): DataFrame =
    knScoreWithTok(docTokens(score), knTables(train))

  /** Score a pre-tokenized (doc_id, ws) frame against prebuilt tables —
    * the JOIN regime. Shape: the trigram stream carries four 16-hex
    * digests + the raw continuation token; the three trigram-bounded
    * tables join on their digests (shuffle, fixed-width keys), the two
    * vocabulary-bounded tables and the scalar broadcast. Every
    * arithmetic step mirrors [[graft.functions.KnNll]].compute operation
    * for operation (same IEEE754 sequence), so native ≡ declarative.
    */
  def knScoreWithTok(tokScore: DataFrame, t: KnTables): DataFrame =
    trigramsTok(tokScore)
      // aggregate BEFORE the joins (guide §2.3): every occurrence of the
      // same trigram within a doc has the same p3 (a function of the
      // trigram alone), so the five-table join runs over per-doc TYPES,
      // not occurrences — map-side combined, every downstream exchange
      // carries the smaller frame, and the four md5 digests are computed
      // once per type instead of once per occurrence. The per-doc NLL
      // reassembles as Σ cnt·ln p3 (oracle-verified: the 6-decimal round
      // absorbs the cnt-grouped summation).
      .groupBy(col("doc_id"), col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"),
        h16(concat_ws(" ", col("a"), col("b"), col("c"))).as("h3"),
        h16(concat_ws(" ", col("a"), col("b"))).as("hab"),
        h16(concat_ws(" ", col("b"), col("c"))).as("hbc"),
        h16(col("b")).as("hb"),
        col("c"), col("cnt"))
      .join(t.t3, Seq("h3"), "left")
      .join(t.ctx, Seq("hab"), "left")
      .join(t.bc, Seq("hbc"), "left")
      .join(broadcast(t.mid), Seq("hb"), "left")
      .join(broadcast(t.u2), Seq("c"), "left")
      .join(broadcast(t.sc))
      .withColumn("p1",
        (coalesce(col("cont2"), lit(0L)) + 1).cast("double") /
          (col("bt") + col("v")).cast("double"))
      .withColumn("p2", when(col("mid").isNotNull,
        (greatest(coalesce(col("cont3"), lit(0L)) - lit(0.75), lit(0.0)) +
          lit(0.75) * col("n2f") * col("p1")) / col("mid"))
        .otherwise(col("p1")))
      .withColumn("p3", when(col("ctx2").isNotNull,
        (greatest(coalesce(col("c3"), lit(0L)) - lit(0.75), lit(0.0)) +
          lit(0.75) * col("n3f") * col("p2")) / col("ctx2"))
        .otherwise(col("p2")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).cast("long").as("n_trigrams"),
        round(-sum(col("cnt") * log(col("p3"))) / sum(col("cnt")), 6).as("kn_avg"))

  /** The native KN scorer's index of `train`'s tables (see
    * [[collectIndex]]).
    */
  def knIndex(train: DataFrame, maxEntries: Long = indexMaxEntries): KnIndex =
    knIndexOf(knTables(train), maxEntries)

  private def knIndexOf(t: KnTables, maxEntries: Long): KnIndex = {
    val Seq(t3, cx, bc, md, u2, sc) = collectIndex(Seq(
      t.t3.select(col("h3"), col("c3"), lit(0L)),
      t.ctx.select("hab", "ctx2", "n3f"),
      t.bc.select(col("hbc"), col("cont3"), lit(0L)),
      t.mid.select("hb", "mid", "n2f"),
      t.u2.select(col("c"), col("cont2"), lit(0L)),
      t.sc.select(lit(""), col("bt"), col("v"))), 1, maxEntries,
      "LanguageModels.knScoreWithTok over knTables or loadKnTables")
    KnIndex(
      t3.map(_.getString(1)).toSeq, t3.map(_.getLong(2)).toSeq,
      cx.map(_.getString(1)).toSeq, cx.map(_.getLong(2)).toSeq, cx.map(_.getLong(3)).toSeq,
      bc.map(_.getString(1)).toSeq, bc.map(_.getLong(2)).toSeq,
      md.map(_.getString(1)).toSeq, md.map(_.getLong(2)).toSeq, md.map(_.getLong(3)).toSeq,
      u2.map(_.getString(1)).toSeq, u2.map(_.getLong(2)).toSeq,
      sc(0).getLong(2), sc(0).getLong(3))
  }

  /** Per-row KN scoring against a prebuilt index — the narrow,
    * stateless, stream-capable twin of [[knScoreWithTok]] (identical
    * output, zero exchanges).
    */
  def knScoreNative(score: DataFrame, idx: KnIndex): DataFrame = {
    score
      .withColumn("__kn", KnNll.kn_nll(col("text"), idx))
      .filter(col("__kn").isNotNull)
      .select(col("doc_id"), col("__kn.n_trigrams").as("n_trigrams"),
        col("__kn.kn_avg").as("kn_avg"))
  }

  /** Write the KN count tables of `train` under `path` — the released
    * artifact of the train-once / score-many regime. The type frames are
    * PERSISTED for the duration: each of the 6 writes instantiates the
    * type-frame subtree; cached, the trigram/bigram streams are
    * aggregated exactly once.
    */
  def buildKn(train: DataFrame, path: String): Unit = {
    val tok = docTokens(train)
    val t3f = trigramTypes(tok).persist(StorageLevel.MEMORY_AND_DISK)
    val b2t = bigramTypes(tok).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val t = knTablesFrom(t3f, b2t, tok)
      t.t3.write.mode("overwrite").parquet(s"$path/t3")
      t.ctx.write.mode("overwrite").parquet(s"$path/ctx")
      t.bc.write.mode("overwrite").parquet(s"$path/bc")
      t.mid.write.mode("overwrite").parquet(s"$path/mid")
      t.u2.write.mode("overwrite").parquet(s"$path/u2")
      t.sc.write.mode("overwrite").parquet(s"$path/sc")
    } finally { t3f.unpersist(); b2t.unpersist(): Unit }
  }

  /** The stored tables, for the join-regime scorer. */
  def loadKnTables(spark: SparkSession, path: String): KnTables = KnTables(
    spark.read.parquet(s"$path/t3"),
    spark.read.parquet(s"$path/ctx"),
    spark.read.parquet(s"$path/bc"),
    spark.read.parquet(s"$path/mid"),
    spark.read.parquet(s"$path/u2"),
    spark.read.parquet(s"$path/sc"))

  /** The stored tables collected into the native scorer's index. */
  def loadKnIndex(spark: SparkSession, path: String,
      maxEntries: Long = indexMaxEntries): KnIndex =
    knIndexOf(loadKnTables(spark, path), maxEntries)

  /** Write the INCREMENTAL KN store of `train` under `path`: the trigram
    * TYPE frame, the bigram TYPE frame, and the distinct-vocabulary
    * table — the sufficient statistics from which every scoring table
    * derives ([[knTablesFromTypes]]). Unlike [[buildKn]]'s derived
    * tables, these merge with a new shard WITHOUT a full retrain
    * (x_txt22e): occurrence counts add; the distinct-count tables
    * (n3f/cont3/mid/n2f/cont2/B) are recomputed from the merged type
    * frames — work bounded by TYPE cardinality, never corpus size (the
    * BandIndex/SegIndex daily-increment shape applied to the LM tier).
    */
  def buildKnTypes(train: DataFrame, path: String): Unit = {
    val tok = docTokens(train).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      trigramTypes(tok).write.mode("overwrite").parquet(s"$path/t3f")
      bigramTypes(tok).write.mode("overwrite").parquet(s"$path/b2t")
      vocab(tok).write.mode("overwrite").parquet(s"$path/vocab")
    } finally tok.unpersist(): Unit
  }

  /** Merge a NEW SHARD's statistics into the type store at `basePath`,
    * writing the merged store to `outPath` — no rescan of the base
    * corpus. c3 sums across sides; the carried per-type fields and the
    * bigram continuation token merge by MIN (associative, so
    * merge(base, shard) ≡ a full retrain's single-pass MIN, digest
    * collisions included); vocabulary unions distinct.
    */
  def mergeKnTypes(spark: SparkSession, basePath: String, shard: DataFrame,
      outPath: String): Unit = {
    val tokS = docTokens(shard).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      spark.read.parquet(s"$basePath/t3f").unionAll(trigramTypes(tokS))
        .groupBy("h3")
        .agg(sum(col("c3")).as("c3"),
          min(col("hab")).as("hab"), min(col("hbc")).as("hbc"),
          min(col("hb")).as("hb"), min(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$outPath/t3f")
      spark.read.parquet(s"$basePath/b2t").unionAll(bigramTypes(tokS))
        .groupBy("h2").agg(min(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$outPath/b2t")
      spark.read.parquet(s"$basePath/vocab").unionAll(vocab(tokS)).distinct()
        .write.mode("overwrite").parquet(s"$outPath/vocab")
    } finally tokS.unpersist(): Unit
  }

  /** (w): the distinct tokens of a tokenized frame — the type store's
    * vocabulary.
    */
  private def vocab(tok: DataFrame): DataFrame =
    tok.select(explode(col("ws")).as("w")).distinct()

  /** Scoring tables from a type store ([[buildKnTypes]]/[[mergeKnTypes]]). */
  def loadKnTypes(spark: SparkSession, path: String): KnTables =
    knTablesFromTypes(
      spark.read.parquet(s"$path/t3f"),
      spark.read.parquet(s"$path/b2t"),
      spark.read.parquet(s"$path/vocab").agg(count(lit(1)).as("v")))

  /** First-principles DuckDB twin of train-on-`trainWhere` /
    * score-on-`scoreWhere` KN scoring — the whole count-table algebra
    * and the three-level interpolation rebuilt relationally. D appears
    * only as CAST(0.75 AS DOUBLE) so DuckDB's DECIMAL literals never
    * enter the arithmetic.
    */
  private def knOracle(trainWhere: String, scoreWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |tr AS (${trigramsDuck(s"(SELECT * FROM t $trainWhere)")}),
       |t3f AS (
       |  SELECT h3, COUNT(*) AS c3, MIN(hab) AS hab, MIN(hbc) AS hbc,
       |         MIN(hb) AS hb, MIN(c) AS c
       |  FROM (SELECT substr(md5(a || ' ' || b || ' ' || c), 1, 16) AS h3,
       |               substr(md5(a || ' ' || b), 1, 16) AS hab,
       |               substr(md5(b || ' ' || c), 1, 16) AS hbc,
       |               substr(md5(b), 1, 16) AS hb, c
       |        FROM tr)
       |  GROUP BY h3),
       |t3 AS (SELECT h3, c3 FROM t3f),
       |cx AS (
       |  SELECT hab, SUM(c3) AS ctx2, COUNT(DISTINCT c) AS n3f
       |  FROM t3f GROUP BY hab),
       |bc AS (SELECT hbc, COUNT(*) AS cont3 FROM t3f GROUP BY hbc),
       |md AS (
       |  SELECT hb, COUNT(*) AS mid, COUNT(DISTINCT c) AS n2f
       |  FROM t3f GROUP BY hb),
       |bg AS (${bigramsDuck(s"(SELECT * FROM t $trainWhere)")}),
       |b2t AS (
       |  SELECT substr(md5(b), 1, 16) AS h2, MIN(w2) AS c
       |  FROM bg GROUP BY 1),
       |u2 AS (SELECT c, COUNT(*) AS cont2 FROM b2t GROUP BY 1),
       |sc0 AS (
       |  SELECT (SELECT COUNT(*) FROM b2t) AS bt,
       |         (SELECT COUNT(DISTINCT w)
       |          FROM (SELECT UNNEST(ws) AS w FROM t $trainWhere)) AS v),
       |trs AS (${trigramsDuck(s"(SELECT * FROM t $scoreWhere)")}),
       |j1 AS (
       |  SELECT trs.doc_id,
       |    t3.c3, cx.ctx2, cx.n3f, bc.cont3, md.mid, md.n2f,
       |    (COALESCE(u2.cont2, 0) + 1) / CAST(sc0.bt + sc0.v AS DOUBLE) AS p1
       |  FROM trs
       |  LEFT JOIN t3 ON t3.h3 = substr(md5(trs.a || ' ' || trs.b || ' ' || trs.c), 1, 16)
       |  LEFT JOIN cx ON cx.hab = substr(md5(trs.a || ' ' || trs.b), 1, 16)
       |  LEFT JOIN bc ON bc.hbc = substr(md5(trs.b || ' ' || trs.c), 1, 16)
       |  LEFT JOIN md ON md.hb = substr(md5(trs.b), 1, 16)
       |  LEFT JOIN u2 ON u2.c = trs.c, sc0),
       |j2 AS (
       |  SELECT doc_id, c3, ctx2, n3f,
       |    CASE WHEN mid IS NOT NULL
       |         THEN (greatest(COALESCE(cont3, 0) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) +
       |               CAST(0.75 AS DOUBLE) * n2f * p1) / mid
       |         ELSE p1 END AS p2
       |  FROM j1),
       |j3 AS (
       |  SELECT doc_id,
       |    CASE WHEN ctx2 IS NOT NULL
       |         THEN (greatest(COALESCE(c3, 0) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) +
       |               CAST(0.75 AS DOUBLE) * n3f * p2) / ctx2
       |         ELSE p2 END AS p3
       |  FROM j2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |  round(-SUM(ln(p3)) / COUNT(*), 6) AS kn_avg
       |FROM j3 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- KN probes

  /** X-TXT22 — corpus self-scored trigram Kneser-Ney: every document's
    * NLL under the KN model of its own corpus (join regime). One order
    * above x_txt18's bigram LM: repetitive template text that fools a
    * bigram model (locally fluent pairs) scores high here when its
    * trigram continuations are unseen.
    */
  private val txt22 = Probe(
    "x_txt22_kn_score",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    knScore(docs, docs).orderBy("doc_id")
  }

  /** X-TXT22B — held-out KN scoring: model on 90%, scoring the unseen
    * 10% — exercises ALL THREE backoff branches (unseen trigram with
    * seen context, unseen context with seen middle, fully-unseen words
    * hitting the continuation-unigram floor).
    */
  private val txt22b = Probe(
    "x_txt22b_kn_heldout",
    knOracle("WHERE doc_id % 10 <> 0", "WHERE doc_id % 10 = 0")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    knScore(docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  /** X-TXT22C — the native per-row KN scorer ([[graft.functions.KnNll]])
    * against the same first-principles oracle as x_txt22: the one-pass
    * JVM tokenize/digest/binary-search/interpolate is hash-pinned to
    * the declarative five-table join algebra (KnLmSpec pins
    * interpreted ≡ codegen ≡ declarative on top). The index is a
    * train-once artifact ([[graft.util.TrainOnce]]): built on first use
    * per corpus dir, so benched steady-state times SCORING — the
    * per-shard production cost — while the first repeat carries the
    * one-time build (round-9 verdict #1).
    */
  private val txt22c = Probe(
    "x_txt22c_kn_native",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val idx = graft.util.TrainOnce(s"kn_index:$dir")(knIndex(docs))
    knScoreNative(docs, idx).orderBy("doc_id")
  }

  /** X-TXT22D — the KN probe through the PERSISTED store: tables built
    * once, written as parquet, read back, and joined — x_txt22's
    * identical table (shared oracle), pinning the full round trip. The
    * store is train-once per corpus dir (like the index above); the
    * probe's steady cost is the load + five-table join scoring pass.
    */
  private val txt22d = Probe(
    "x_txt22d_kn_stored",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val path = graft.util.TrainOnce(s"kn_store:$dir") {
      val p = graft.util.TempDirs.scratch("graft_kn_store")
      buildKn(docs, p)
      p
    }
    knScoreWithTok(docTokens(docs), loadKnTables(s, path))
      .orderBy("doc_id")
  }

  /** X-TXT22E — INCREMENTAL store ≡ full retrain: the type store is
    * built on 90% of the corpus, the remaining 10% merges in WITHOUT
    * rescanning the base ([[mergeKnTypes]]), and scoring through the
    * merged store must hash-match the same first-principles full-corpus
    * oracle as x_txt22 — pinning that additive occurrence counts +
    * type-bounded recomputation of the distinct-count tables reproduce
    * the retrained model exactly.
    */
  private val txt22e = Probe(
    "x_txt22e_kn_incremental",
    knOracle("", "")) { (s, dir) =>
    val docs = Tables.spread(s, dir, "documents")
    val path = graft.util.TrainOnce(s"kn_types:$dir") {
      val p = graft.util.TempDirs.scratch("graft_kn_inc")
      buildKnTypes(docs.filter(col("doc_id") % 10 =!= 0), s"$p/base")
      mergeKnTypes(s, s"$p/base", docs.filter(col("doc_id") % 10 === 0), s"$p/merged")
      s"$p/merged"
    }
    knScoreWithTok(docTokens(docs), loadKnTypes(s, path))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(
    txt18, txt18b, txt18c, txt18d, txt20,
    txt22, txt22b, txt22c, txt22d, txt22e)
}

package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LanguageModels.{adaptiveLmKeepBg, bigramDigestsTok, bigramPairsTok, bigramsDuck,
  docTokens, lmSelfScoreDuck, unigrams}

/** BM25 retrieval and hard negatives, DSIR-style importance weighting, PMI
  * collocations, event-rate anomalies, corpus gram overlap, embedding
  * centroid drift and the composed LM + DSIR pipeline (x_pipe5) — the
  * model-based selection and monitoring layer of a training-data
  * pipeline: these score documents against LEARNED corpus statistics,
  * all still exact, deterministic, and oracle-checkable. The tokenizer,
  * the bigram stream, the unigram table and the LM gate they share live
  * in [[LanguageModels]].
  */
object PipelineOps10 {

  // --------------------------------------------------------- BM25 retrieval

  /** BM25 top-k retrieval (k1 = 1.2, b = 0.75): score every corpus document
    * against each query's term set, keep the top `k` per query — the
    * classic sparse retrieval operator (RAG indexing, query-based corpus
    * audits, "find documents like this eval item").
    *
    * idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)   [BM25+, always positive]
    * s(q,d) = Σ_{t ∈ q ∩ d} idf(t) · tf·2.2 / (tf + 1.2·(0.25 + 0.75·dl/avgdl))
    *
    * Shape: the tf table is one doc-keyed aggregation; df and the query
    * term sets are vocabulary-/query-bounded → broadcast; dl joins tf on
    * its own key (co-partitioned); ranking is a per-query window over the
    * candidates a term match admitted — never all docs. Ranking compares
    * ROUNDED scores (6 dp) with doc_id tiebreak, so order is stable
    * cross-engine.
    */
  /** Every (q_id, doc_id, score, n_terms) BM25 candidate pair (self
    * excluded; candidates bounded by term matches) — shared by top-k
    * retrieval and hard-negative mining.
    */
  def bm25Scores(docs: DataFrame, queries: DataFrame): DataFrame = {
    val tf = docTokens(docs)
      .select(col("doc_id"), explode(col("ws")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val qt = docTokens(queries)
      .select(col("doc_id").as("q_id"), explode(col("ws")).as("t")).distinct()
    // Only query terms' df values are ever used, so semi-join the
    // document-frequency table down to the (queries-bounded) term set
    // BEFORE broadcasting: the full dft is one row per distinct corpus
    // token — at web scale an unbounded broadcast, the exact hazard
    // lmIndex gates at 2M entries (round-7 ADVICE).
    val dft = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .join(broadcast(qt.select("t").distinct()), Seq("t"), "left_semi")
    tf
      .join(broadcast(qt), "t")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(dft), "t")
      .join(dl, "doc_id")
      .join(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        (log(((col("n_docs") - col("df")) + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / (col("tot").cast("double") / col("n_docs"))))))
          .as("s"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("s")), 6).as("score"), count(lit(1)).cast("long").as("n_terms"))
  }

  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    bm25Scores(docs, queries).withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score"), col("n_terms"))
  }

  /** X-RET1 — BM25 over the documents table, queries = documents 0–4
    * (self excluded). The oracle recomputes tf/df/idf/length
    * normalization from first principles.
    */
  private val ret1 = Probe(
    "x_ret1_bm25",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(ws) AS w FROM t) GROUP BY doc_id, w),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
       |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |qt AS (
       |  SELECT DISTINCT doc_id AS q_id, w
       |  FROM (SELECT doc_id, UNNEST(ws) AS w FROM t WHERE doc_id < 5)),
       |sc AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
       |        (tf.tf * 2.2) /
       |        (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(st.tot AS DOUBLE) / st.n_docs))))) AS s,
       |    COUNT(*) AS n_terms
       |  FROM tf
       |  JOIN qt ON qt.w = tf.w AND tf.doc_id <> qt.q_id
       |  JOIN dfq ON dfq.w = tf.w
       |  JOIN dl ON dl.doc_id = tf.doc_id, st
       |  GROUP BY qt.q_id, tf.doc_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score, CAST(n_terms AS BIGINT) AS n_terms
       |FROM (
       |  SELECT q_id, doc_id, round(s, 6) AS score, n_terms,
       |         row_number() OVER (PARTITION BY q_id ORDER BY round(s, 6) DESC, doc_id) AS rank
       |  FROM sc)
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    bm25TopK(docs, docs.filter(col("doc_id") < 5), k = 5)
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------- DSIR importance weighting

  private val dsirBuckets = 4096

  /** DSIR-style importance weights (Xie et al. 2023, public): documents
    * are scored by how much more likely their hashed-bigram features are
    * under a TARGET distribution (the domain you want more of) than under
    * the RAW distribution (the crawl you're selecting from):
    *
    *   w(d) = (1/n) Σ_{f ∈ d} [ ln p_T(f) − ln p_R(f) ]
    *
    * with add-one smoothing over the B = 4096 hashed buckets. Positive ⇒
    * the document looks more target-like than crawl-like.
    *
    * Shape: both feature distributions are FIXED-SIZE (≤ 4096 rows — the
    * hashing trick's point) → broadcast; scoring is one narrow pass over
    * the raw side plus a doc-keyed rollup. At 100 TB the target table is
    * KBs and the raw distribution is one map-side-combined aggregation.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame =
    dsirWeightsTok(docTokens(raw), docTokens(target))

  /** [[dsirWeights]] from pre-tokenized (doc_id, ws) frames. */
  def dsirWeightsTok(rawTok: DataFrame, targetTok: DataFrame): DataFrame =
    dsirWeightsBg(bigramDigestsTok(rawTok), bigramDigestsTok(targetTok))

  /** [[dsirWeightsTok]] from pre-digested bigram streams: the hashed
    * feature bucket is conv of hb's first 3 hex chars — the identical
    * value md5(b) would give, with zero digest work.
    */
  private[ext] def dsirWeightsBg(rawBg: DataFrame, targetBg: DataFrame): DataFrame = {
    def feats(bg: DataFrame) = bg.select(col("doc_id"),
      expr("conv(substr(hb, 1, 3), 16, 10)").cast("long").as("bkt"))
    val tb = feats(targetBg).groupBy("bkt").agg(count(lit(1)).as("ct"))
    val rb = feats(rawBg).groupBy("bkt").agg(count(lit(1)).as("cr"))
    // ONE bucket table carrying both distributions AND their totals: tb,
    // rb, tn, rn were four separate broadcast exchanges; at 265k-row
    // bench scale each build is pure fixed cost, and at any scale the
    // merged frame is still <= 2·4096 rows (whole-frame window totals
    // over the merged buckets, never the feature stream). Every raw
    // bucket exists on the rb side by construction, so the scoring join
    // stays inner; identical log-ratio values, bucket-for-bucket.
    val w = Window.partitionBy()
    val dist = tb.join(rb, Seq("bkt"), "full_outer")
      .select(col("bkt"), coalesce(col("ct"), lit(0L)).as("ct"), col("cr"))
      .withColumn("nt", sum(col("ct")).over(w))
      .withColumn("nr", sum(coalesce(col("cr"), lit(0L))).over(w))
    feats(rawBg)
      .join(broadcast(dist), Seq("bkt"))
      .select(col("doc_id"),
        (log((col("ct") + 1) / (col("nt") + dsirBuckets)) -
          log((col("cr") + 1) / (col("nr") + dsirBuckets))).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_feats"),
        round(sum(col("lr")) / count(lit(1)), 6).as("dsir_avg"))
      .withColumn("keep", col("dsir_avg") > 0)
  }

  /** X-CUR4 — DSIR selection over the documents table: target = the
    * doc_id % 25 = 0 slice (the held-out-domain convention x_pipe4 uses),
    * raw = the rest; every raw document gets its importance weight and
    * the keep verdict. The oracle rebuilds both hashed distributions and
    * the per-occurrence log-ratio sum relationally.
    */
  private val cur4 = Probe(
    "x_cur4_dsir_weights",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |bg AS (${bigramsDuck("t")}),
       |f AS (SELECT doc_id, CAST('0x' || substr(md5(b), 1, 3) AS BIGINT) AS bkt FROM bg),
       |tb AS (SELECT bkt, COUNT(*) AS ct FROM f WHERE doc_id % 25 = 0 GROUP BY bkt),
       |rb AS (SELECT bkt, COUNT(*) AS cr FROM f WHERE doc_id % 25 <> 0 GROUP BY bkt),
       |tn AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tb),
       |rn AS (SELECT COALESCE(SUM(cr), 0) AS nr FROM rb),
       |sc AS (
       |  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    round(SUM(ln((COALESCE(tb.ct, 0) + 1) / (tn.nt + $dsirBuckets)) -
       |              ln((rb.cr + 1) / (rn.nr + $dsirBuckets))) / COUNT(*), 6) AS dsir_avg
       |  FROM f
       |  LEFT JOIN tb ON tb.bkt = f.bkt
       |  JOIN rb ON rb.bkt = f.bkt, tn, rn
       |  WHERE f.doc_id % 25 <> 0
       |  GROUP BY f.doc_id)
       |SELECT doc_id, n_feats, dsir_avg, (dsir_avg > 0) AS keep
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    dsirWeights(docs.filter(col("doc_id") % 25 =!= 0), docs.filter(col("doc_id") % 25 === 0))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ PMI collocations

  private val pmiMinCount = 5

  /** X-TXT19 — top-20 collocations by pointwise mutual information:
    * PMI(w1, w2) = ln(c(w1 w2) · N_bigrams / (c(w1) · c(w2))), bigrams
    * occurring ≥ 5 times. The corpus-statistics view of "what multi-word
    * units does this corpus contain" — tokenizer vocabulary audits,
    * template detection, phrase mining. One bigram aggregation + two
    * broadcast unigram joins + TakeOrdered 20; every PMI argument is a
    * ratio of exact integer products.
    */
  private val txt19 = Probe(
    "x_txt19_pmi_collocations",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |bg AS (${bigramsDuck("t")}),
       |nb AS (SELECT COUNT(*) AS n FROM bg),
       |bc AS (
       |  SELECT w1, w2, b, COUNT(*) AS c2 FROM bg GROUP BY w1, w2, b
       |  HAVING COUNT(*) >= $pmiMinCount),
       |u AS (SELECT w, COUNT(*) AS c1 FROM (SELECT UNNEST(ws) AS w FROM t) GROUP BY w)
       |SELECT b, CAST(c2 AS BIGINT) AS c2, pmi FROM (
       |  SELECT bc.b, bc.c2,
       |    round(ln((bc.c2 * nb.n) / (u1.c1 * u2.c1)), 6) AS pmi
       |  FROM bc JOIN u u1 ON u1.w = bc.w1 JOIN u u2 ON u2.w = bc.w2, nb)
       |ORDER BY pmi DESC, b LIMIT 20""".stripMargin) { (s, dir) =>
    pmiCollocations(Tables(s, dir, "documents"), pmiMinCount, 20)
  }

  /** Top-`topK` collocations by PMI among bigrams occurring ≥ `minCount`
    * times — shared by the probe and the spec's planted-pair pin.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int, topK: Int): DataFrame = {
    val bg = bigramPairsTok(docTokens(docs))
    val nb = bg.agg(count(lit(1)).as("n"))
    val bc = bg.groupBy("w1", "w2", "b").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val u = unigrams(docTokens(docs))
    bc
      .join(broadcast(u.select(col("w").as("w1"), col("c1").as("ca"))), "w1")
      .join(broadcast(u.select(col("w").as("w2"), col("c1").as("cb"))), "w2")
      .join(broadcast(nb))
      .select(col("b"), col("c2").cast("long").as("c2"),
        round(log((col("c2") * col("n")) / (col("ca") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("b")).limit(topK)
  }

  // ------------------------------------------------- event-rate anomalies

  /** P-EVT7 — event-rate anomaly detection: hourly counts per event type,
    * z-scored against the TRAILING 24 buckets (ROWS frame, so late/sparse
    * hours don't shift the baseline window); buckets with fewer than 12
    * history rows or zero variance surface NULL. The monitoring query
    * every ingest pipeline runs; z compares ROUNDED (4 dp) so the flag is
    * identical cross-engine.
    */
  private val evt7 = Probe(
    "p_evt7_rate_anomaly",
    """WITH hrly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |w AS (
      |  SELECT event_type, h, n,
      |    AVG(n) OVER tw AS mu, stddev_samp(n) OVER tw AS sd, COUNT(*) OVER tw AS n_prev
      |  FROM hrly
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY h
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(epoch_us(h) AS BIGINT) AS hour_us, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n_prev >= 12 AND sd > 0 THEN round((n - mu) / sd, 4) END AS z,
      |  COALESCE(CASE WHEN n_prev >= 12 AND sd > 0 THEN round((n - mu) / sd, 4) END >= 2
      |           OR CASE WHEN n_prev >= 12 AND sd > 0 THEN round((n - mu) / sd, 4) END <= -2,
      |           FALSE) AS is_anomaly
      |FROM w ORDER BY event_type, hour_us""".stripMargin) { (s, dir) =>
    rateAnomalies(Tables(s, dir, "events")).orderBy("event_type", "hour_us")
  }

  /** Hourly event-rate z-scores vs the trailing-24-bucket baseline —
    * shared by the probe and the spec's planted-spike pin.
    */
  def rateAnomalies(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy(col("event_type")).orderBy(col("h")).rowsBetween(-24, -1)
    hourly
      .withColumn("mu", avg(col("n")).over(tw))
      .withColumn("sd", stddev_samp(col("n")).over(tw))
      .withColumn("n_prev", count(lit(1)).over(tw))
      .select(col("event_type"), unix_micros(col("h")).as("hour_us"), col("n").cast("long").as("n"),
        when(col("n_prev") >= 12 && col("sd") > 0,
          round((col("n") - col("mu")) / col("sd"), 4)).as("z"))
      .withColumn("is_anomaly", coalesce(col("z") >= 2 || col("z") <= -2, lit(false)))
  }

  /** Per-type rate baseline over a history window: (event_type, mu, sd,
    * nb) from hourly counts — the released artifact the streaming twin
    * scores against (types-sized → broadcast).
    */
  def rateBaseline(events: DataFrame): DataFrame = events
    .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    .agg(count(lit(1)).as("n"))
    .groupBy("event_type")
    .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"),
      count(lit(1)).as("nb"))

  /** Hourly counts of `events` z-scored against a STATIC baseline — the
    * stream-door regime (x_evt7's trailing window needs history state;
    * this needs none: baseline broadcasts, scoring is one keyed count).
    * Types absent from the baseline surface NULL z, never a drop.
    */
  def rateAnomaliesAgainst(events: DataFrame, baseline: DataFrame): DataFrame = events
    .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    .agg(count(lit(1)).as("n"))
    .select(col("event_type"), unix_micros(col("h")).as("hour_us"), col("n").cast("long").as("n"))
    .join(broadcast(baseline), Seq("event_type"), "left")
    .withColumn("z", when(col("nb") >= 12 && col("sd") > 0,
      round((col("n") - col("mu")) / col("sd"), 4)))
    .withColumn("is_anomaly", coalesce(col("z") >= 2 || col("z") <= -2, lit(false)))
    .select(col("event_type"), col("hour_us"), col("n"), col("z"), col("is_anomaly"))

  /** P-EVT7B — the static-baseline regime of p_evt7: per-type mean/std
    * learned on the FIRST HALF of the history (split at the midpoint
    * hour, integer epoch arithmetic so both engines cut identically),
    * scoring the second half — the train-once/score-many shape whose
    * streaming twin is `EventStreams.rateAnomalies` (parity-pinned).
    */
  private val evt7b = Probe(
    "p_evt7b_anomaly_static",
    """WITH hrly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |mid AS (
      |  SELECT (CAST(MIN(epoch_us(h)) AS BIGINT) + CAST(MAX(epoch_us(h)) AS BIGINT)) // 2 AS m
      |  FROM hrly),
      |bl AS (
      |  SELECT event_type, AVG(n) AS mu, stddev_samp(n) AS sd, COUNT(*) AS nb
      |  FROM hrly, mid WHERE epoch_us(h) < mid.m GROUP BY event_type),
      |sc AS (
      |  SELECT hrly.event_type, CAST(epoch_us(h) AS BIGINT) AS hour_us, CAST(n AS BIGINT) AS n
      |  FROM hrly, mid WHERE epoch_us(h) >= mid.m)
      |SELECT sc.event_type, sc.hour_us, sc.n,
      |  CASE WHEN bl.nb >= 12 AND bl.sd > 0 THEN round((sc.n - bl.mu) / bl.sd, 4) END AS z,
      |  COALESCE(CASE WHEN bl.nb >= 12 AND bl.sd > 0 THEN round((sc.n - bl.mu) / bl.sd, 4) END >= 2
      |           OR CASE WHEN bl.nb >= 12 AND bl.sd > 0 THEN round((sc.n - bl.mu) / bl.sd, 4) END <= -2,
      |           FALSE) AS is_anomaly
      |FROM sc LEFT JOIN bl ON bl.event_type = sc.event_type
      |ORDER BY sc.event_type, sc.hour_us""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "events")
    val hourly = e.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("h"), unix_micros(col("h")).as("hus"), col("n"))
    val mid = hourly.agg(((min(col("hus")) + max(col("hus"))) / 2).cast("long").as("m"))
    val baseline = rateBaseline(
      e.join(broadcast(mid)).filter(unix_micros(date_trunc("hour", col("ts"))) < col("m"))
        .drop("m"))
    rateAnomaliesAgainst(
      e.join(broadcast(mid)).filter(unix_micros(date_trunc("hour", col("ts"))) >= col("m"))
        .drop("m"),
      baseline)
      .orderBy("event_type", "hour_us")
  }

  // --------------------------------------------------- composed pipeline

  /** X-PIPE5 — the fourth wave COMPOSED end to end: adaptive LM gate →
    * DSIR selection of the gated non-eval docs against the UNGATED eval
    * slice (the eval set is external and never preprocessed — the x_pipe4
    * discipline), keeping each language's most-target-like half (median
    * threshold — the absolute sign cut keeps nothing on a corpus with no
    * genuinely target-like docs, so the recipe form is relative) →
    * per-language release rollup. Oracle-checking the composition pins
    * the interactions: the DSIR raw distribution is computed over the LM
    * SURVIVORS (the gate changes the crawl statistics the selector
    * normalizes by), while the target distribution sees raw text.
    */
  private val pipe5 = Probe(
    "x_pipe5_lm_dsir_rollup",
    s"""WITH $lmSelfScoreDuck,
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |th AS (
       |  SELECT lang, round(percentile_cont(0.75) WITHIN GROUP (ORDER BY nll_avg), 6) AS p75
       |  FROM lg GROUP BY lang),
       |gated AS (
       |  SELECT lg.doc_id FROM lg JOIN th ON th.lang = lg.lang
       |  WHERE lg.nll_avg <= th.p75),
       |f AS (SELECT doc_id, CAST('0x' || substr(md5(b), 1, 3) AS BIGINT) AS bkt FROM bg),
       |tb AS (SELECT bkt, COUNT(*) AS ct FROM f WHERE doc_id % 25 = 0 GROUP BY bkt),
       |tn AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tb),
       |fr AS (
       |  SELECT f.doc_id, f.bkt FROM f JOIN gated g ON g.doc_id = f.doc_id
       |  WHERE f.doc_id % 25 <> 0),
       |rb AS (SELECT bkt, COUNT(*) AS cr FROM fr GROUP BY bkt),
       |rn AS (SELECT COALESCE(SUM(cr), 0) AS nr FROM rb),
       |dw AS (
       |  SELECT fr.doc_id,
       |    round(SUM(ln((COALESCE(tb.ct, 0) + 1) / (tn.nt + $dsirBuckets)) -
       |              ln((rb.cr + 1) / (rn.nr + $dsirBuckets))) / COUNT(*), 6) AS dsir_avg
       |  FROM fr
       |  LEFT JOIN tb ON tb.bkt = fr.bkt
       |  JOIN rb ON rb.bkt = fr.bkt, tn, rn
       |  GROUP BY fr.doc_id),
       |dwl AS (
       |  SELECT dw.doc_id, d.lang, dw.dsir_avg
       |  FROM dw JOIN documents d ON d.doc_id = dw.doc_id),
       |md AS (
       |  SELECT lang, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dsir_avg), 6) AS p50
       |  FROM dwl GROUP BY lang),
       |sel AS (
       |  SELECT dwl.doc_id FROM dwl JOIN md ON md.lang = dwl.lang
       |  WHERE dwl.dsir_avg >= md.p50)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(t.ws)) AS BIGINT) AS n_tokens
       |FROM sel JOIN documents d ON d.doc_id = sel.doc_id
       |JOIN t ON t.doc_id = sel.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
    val docs = Tables.spread(s, dir, "documents")
    // ONE tokenization pass, materialized as a parquet stage boundary
    // (the Sketches store/x_ded21 artifact pattern): pre-round-8 this probe
    // re-ran the regex tokenizer over the corpus FOUR times (LM count
    // tables, LM scoring, DSIR features, final rollup). Every stage now
    // reads the tokenized columnar stage; at 100 TB this is the
    // `Corpus.materialize()` boundary between pipeline phases.
    val stage = graft.util.TempDirs.scratch("graft_pipe5")
    def materialize(d: DataFrame, name: String): DataFrame =
      graft.util.TempDirs.staged(d, s"$stage/$name")
    // repartition the RAW docs before tokenizing: the source is a
    // single parquet file at bench SF, so without this every downstream
    // narrow pass (tokenizer regex here, explode+md5 in the bg stage)
    // runs single-task — and letting AQE size it coalesces the tiny
    // shuffle back to ONE partition (it optimizes for IO, not map CPU).
    // Staging width = a quarter of cluster parallelism: enough tasks to
    // spread the map work, few enough files that per-file commit/list
    // overhead doesn't dominate a stage (measured at sf0.1: 32 files
    // 2.9 s, 1 file 2.9 s, 8 files 2.4 s for the whole probe).
    val stageWidth = math.max(1, s.sparkContext.defaultParallelism / 4)
    val tok = materialize(
      docs.repartition(stageWidth, col("doc_id"))
        .select(col("doc_id"), col("lang"), CleanFns.tokens(col("text")).as("ws")),
      "tok")
    // the unigram table has ONE consumer (vocab size rides on its
    // broadcast inside the LM gate), so it stays an unmaterialized
    // aggregation over the tok stage
    val uni = unigrams(tok)
    // the DIGESTED bigram stream is scanned by THREE consumers (the LM
    // gate, the DSIR raw distribution, the DSIR scoring pass) —
    // materialized once, each consumer reads columnar digests instead of
    // re-running explode+md5 over the corpus; the DSIR bucket derives
    // from hb's prefix, so one digest column serves both signals
    val bg = materialize(bigramDigestsTok(tok), "bg")
    // the gate verdict and the per-doc DSIR weights are each consumed by
    // MULTIPLE downstream subtrees (DSIR scans raw features twice; dwl
    // feeds the median AND the selection) — unmaterialized, Catalyst
    // instantiates the whole upstream chain once per consumer
    val gatedIds = materialize(
      adaptiveLmKeepBg(bg, tok.select(col("doc_id"), col("lang")), uni)
        .select(col("doc_id")), "gated")
    val dwl = materialize(
      dsirWeightsBg(
        bg.filter(col("doc_id") % 25 =!= 0).join(gatedIds, Seq("doc_id"), "left_semi"),
        bg.filter(col("doc_id") % 25 === 0))
        .join(tok.select(col("doc_id"), col("lang")), "doc_id"),
      "dwl")
    // rollup straight off dwl in ONE scan: the per-language median rides
    // a lang-partitioned window (the adaptiveLmKeepBg pattern) instead
    // of a groupBy + broadcast-back — the following groupBy("lang")
    // reuses the window's exchange, so the whole rollup is one shuffle.
    // Every selected doc passed the LM gate, so it has >= 1 bigram and
    // n_feats (its DSIR bigram-occurrence count) is EXACTLY len(ws) - 1
    // — no third corpus scan for token totals
    dwl
      .withColumn("p50", round(
        expr("percentile(dsir_avg, 0.5)")
          .over(Window.partitionBy(col("lang"))), 6))
      .filter(col("dsir_avg") >= col("p50"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_feats") + 1).cast("long").as("n_tokens"))
      .orderBy("lang")
  }

  // ------------------------------------------------- corpus gram overlap

  /** Distinct 4-gram digest inventory of a corpus half — shared by the
    * probe and the spec.
    */
  def gramInventory(docs: DataFrame, n: Int = 4): DataFrame = docTokens(docs)
    .filter(size(col("ws")) >= n)
    .select(explode(expr(
      s"transform(sequence(1, size(ws) - ${n - 1}), i -> substr(md5(concat_ws(' ', slice(ws, i, $n))), 1, 16))"))
      .as("h"))
    .distinct()

  /** X-REP3 — gram-level corpus overlap: containment and Jaccard between
    * two snapshots' distinct 4-gram inventories (exact integer ppm) —
    * the release-audit number behind "how much of this candidate shard
    * is already in the released corpus" (x_cur3 diffs DOCUMENTS by
    * fingerprint; this measures CONTENT overlap that survives reordering
    * and editing). Grams travel as fixed-width 16-hex digests; two
    * distinct aggregations + one digest-keyed join.
    */
  private val rep3 = Probe(
    "x_rep3_corpus_overlap",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |ga AS (
       |  SELECT DISTINCT substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16) AS h
       |  FROM (SELECT * FROM t WHERE doc_id % 2 = 0 AND len(ws) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS g(i)),
       |gb AS (
       |  SELECT DISTINCT substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16) AS h
       |  FROM (SELECT * FROM t WHERE doc_id % 2 = 1 AND len(ws) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS g(i)),
       |c AS (SELECT COUNT(*) AS n_common FROM ga JOIN gb ON ga.h = gb.h),
       |na AS (SELECT COUNT(*) AS n_a FROM ga),
       |nb AS (SELECT COUNT(*) AS n_b FROM gb)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_common AS BIGINT) AS n_common,
       |  CAST(n_common * 1000000 // nullif(n_b, 0) AS BIGINT) AS containment_ppm,
       |  CAST(n_common * 1000000 // nullif(n_a + n_b - n_common, 0) AS BIGINT) AS jaccard_ppm
       |FROM na, nb, c ORDER BY n_a""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val ga = gramInventory(docs.filter(col("doc_id") % 2 === 0))
    val gb = gramInventory(docs.filter(col("doc_id") % 2 === 1))
    val c = ga.join(gb, "h").agg(count(lit(1)).as("n_common"))
    val na = ga.agg(count(lit(1)).as("n_a"))
    val nb = gb.agg(count(lit(1)).as("n_b"))
    na.join(nb).join(c)
      .select(col("n_a"), col("n_b"), col("n_common"),
        expr("CAST(n_common * 1000000 DIV nullif(n_b, 0) AS BIGINT)").as("containment_ppm"),
        expr("CAST(n_common * 1000000 DIV nullif(n_a + n_b - n_common, 0) AS BIGINT)").as("jaccard_ppm"))
      .orderBy("n_a")
  }

  // ------------------------------------------- retrieval hard negatives

  /** X-RET2 — contrastive hard-negative mining: for each query document,
    * the highest-BM25 candidate that shares NO 8-gram with it — "looks
    * maximally relevant to a lexical scorer but is verifiably not a
    * near-copy", the pair an embedding-model trainer wants (an actual
    * near-dup as a 'negative' would poison the objective; an easy random
    * negative teaches nothing). Composition: BM25 candidate scores →
    * anti-join against the query×candidate shared-8-gram pair set (query
    * grams are queries-bounded → broadcast; grams travel as 16-hex
    * digests) → rank-1 per query on rounded scores.
    */
  private val ret2 = Probe(
    "x_ret2_hard_negatives",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(ws) AS w FROM t) GROUP BY doc_id, w),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
       |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |qt AS (
       |  SELECT DISTINCT doc_id AS q_id, w
       |  FROM (SELECT doc_id, UNNEST(ws) AS w FROM t WHERE doc_id < 5)),
       |sc AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    round(SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
       |        (tf.tf * 2.2) /
       |        (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(st.tot AS DOUBLE) / st.n_docs))))), 6) AS score
       |  FROM tf
       |  JOIN qt ON qt.w = tf.w AND tf.doc_id <> qt.q_id
       |  JOIN dfq ON dfq.w = tf.w
       |  JOIN dl ON dl.doc_id = tf.doc_id, st
       |  GROUP BY qt.q_id, tf.doc_id),
       |g AS (
       |  SELECT DISTINCT doc_id, substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 16) AS h
       |  FROM (SELECT doc_id, ws FROM t WHERE len(ws) >= 8),
       |       UNNEST(generate_series(1, len(ws) - 7)) AS u(i)),
       |shared AS (
       |  SELECT DISTINCT gq.doc_id AS q_id, gc.doc_id
       |  FROM g gq JOIN g gc ON gc.h = gq.h AND gc.doc_id <> gq.doc_id
       |  WHERE gq.doc_id < 5)
       |SELECT q_id, doc_id AS hard_neg_id, score FROM (
       |  SELECT sc.q_id, sc.doc_id, sc.score,
       |    row_number() OVER (PARTITION BY sc.q_id ORDER BY sc.score DESC, sc.doc_id) AS rk
       |  FROM sc ANTI JOIN shared ON shared.q_id = sc.q_id AND shared.doc_id = sc.doc_id)
       |WHERE rk = 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
    val scored = bm25Scores(docs, queries)
    val g = docTokens(docs).filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 7), i -> substr(md5(concat_ws(' ', slice(ws, i, 8))), 1, 16))"))
        .as("h")).distinct()
    val gq = g.join(broadcast(queries.select(col("doc_id").as("q_id"))),
      col("doc_id") === col("q_id")).select(col("q_id"), col("h"))
    val shared = broadcast(gq).join(g, "h")
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id")).distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    scored.join(shared, Seq("q_id", "doc_id"), "left_anti")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("doc_id").as("hard_neg_id"), col("score"))
      .orderBy("q_id")
  }

  // --------------------------------------------- embedding centroid drift

  /** X-REP4 — embedding centroid drift between snapshots: per label, the
    * L2 distance between the even-half and odd-half centroids of the
    * integer-quantized vectors, with both sides' counts — the
    * embedding-space audit between corpus versions ("did re-encoding /
    * re-crawling move the clusters"). Centroid sums are exact integers;
    * the only IEEE steps are the final per-dim mean divisions and one
    * sqrt, identical on both engines. One posexplode + two-level
    * aggregation — dims are bounded (64), so state per label is 64 sums.
    */
  private val rep4 = Probe(
    "x_rep4_centroid_drift",
    """WITH iv AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings),
      |d AS (
      |  SELECT label, vec_id % 2 AS side, i, v[i] AS x
      |  FROM iv, UNNEST(generate_series(1, 64)) AS t(i)),
      |c AS (
      |  SELECT label, side, i, SUM(x) AS s, COUNT(*) AS n
      |  FROM d GROUP BY label, side, i),
      |m AS (
      |  SELECT a.label, a.i,
      |    CAST(a.s AS DOUBLE) / a.n AS ma, CAST(b.s AS DOUBLE) / b.n AS mb,
      |    a.n AS na, b.n AS nb
      |  FROM c a JOIN c b ON b.label = a.label AND b.i = a.i AND a.side = 0 AND b.side = 1)
      |SELECT CAST(label AS BIGINT) AS label,
      |  CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  round(sqrt(SUM((ma - mb) * (ma - mb))), 4) AS drift_l2
      |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    val iv = VectorSearch.quantized(Tables(s, dir, "embeddings"), "label")
    val d = iv.select(col("label"), (col("vec_id") % 2).as("side"),
      posexplode(col("v")).as(Seq("i0", "x")))
    val c = d.groupBy(col("label"), col("side"), col("i0"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val a = c.filter(col("side") === 0)
      .select(col("label"), col("i0"), (col("s").cast("double") / col("n")).as("ma"), col("n").as("na"))
    val b = c.filter(col("side") === 1)
      .select(col("label").as("lb"), col("i0").as("ib"),
        (col("s").cast("double") / col("n")).as("mb"), col("n").as("nb"))
    a.join(b, col("label") === col("lb") && col("i0") === col("ib"))
      .groupBy(col("label"))
      .agg(max(col("na")).cast("long").as("n_a"), max(col("nb")).cast("long").as("n_b"),
        round(sqrt(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))), 4).as("drift_l2"))
      .select(col("label").cast("long").as("label"), col("n_a"), col("n_b"), col("drift_l2"))
      .orderBy("label")
  }

  val all: Seq[Probe] = Seq(
    ret1, ret2, cur4, txt19, evt7, evt7b, pipe5, rep3, rep4)
}

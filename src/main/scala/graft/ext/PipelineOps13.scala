package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions (eighth wave): WITHIN-document repetition signals
  * (the Gopher repetition-filter family, Rae et al. 2021 Table A1 —
  * public) and perplexity-bucketed curriculum (the CCNet head/middle/
  * tail convention, Wenzek et al. 2020 — public). The x_ded10/x_txt13
  * families measure CROSS-document duplication; these score each
  * document against ITSELF — the "same paragraph pasted fifty times"
  * page that is unique corpus-wide and sails through near-dedup.
  */
object PipelineOps13 {

  // -------------------------------------------- within-doc repetition

  /** Per-document repetition signals, all exact-integer ppm:
    *
    *   - `dup_seg_ppm`: occurrences beyond the first of each repeated
    *     segment / total segments — the Gopher duplicate-LINE fraction.
    *     Segments are REAL LINES when the text carries newline structure
    *     (block-preserving HTML extraction emits one line per block
    *     element), and the 16-word proxy on newline-free text
    *     ([[PipelineOps8.segmentsAuto]], round-9 verdict #3).
    *   - `top{2,3,4}_ppm`: the most frequent n-gram's character mass
    *     (count × gram length, single-space joined) / the total n-gram
    *     position character mass — Gopher's "fraction of characters in
    *     the most frequent n-gram", denominated in position mass so the
    *     ratio is exact. Ties break by gram digest
    *     DESCENDING (deterministic; the max-struct aggregation's
    *     natural order, mirrored by the oracle's window).
    *   - `dup5_ppm`: character mass of occurrences beyond the first of
    *     each duplicated 5-gram / total 5-gram position mass —
    *     Gopher's duplicated-n-gram character fraction, with the
    *     beyond-first convention making the measure exact and
    *     overlap-unambiguous.
    *   - `keep`: the Gopher verdict at the published thresholds
    *     (dup lines 30%, top 2/3/4-gram 20/18/16%, dup 5-gram 15%).
    *
    * Shape: every aggregation is keyed (doc_id, …) — corpus-proportional
    * keys, map-side combined, fully parallel; the top-gram window
    * partitions by (doc_id, n). Gram payloads never shuffle as strings:
    * the map side digests each gram to 16 hex and carries its length
    * (the x_ded10 fixed-width-shuffle-key lesson — four n-gram orders
    * make this the widest stream in the operator). Nothing joins the
    * corpus against itself. Docs too short for an n-gram order
    * contribute 0 for that signal (nothing is repeated in them).
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
    val base = tok.select(col("doc_id"))
    val segStats = PipelineOps8.segmentsAuto(docs)
      .groupBy(col("doc_id"), col("seg")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_segs"), sum(col("c") - 1).as("n_seg_dup"))
      .select(col("doc_id"), col("n_segs").cast("long").as("n_segs"),
        expr("n_seg_dup * 1000000 DIV n_segs").as("dup_seg_ppm"))
    val grams = tok.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """flatten(transform(filter(array(2, 3, 4, 5), n -> size(ws) >= n),
          |  n -> transform(sequence(1, size(ws) - n + 1),
          |    i -> named_struct('n', n, 'g', concat_ws(' ', slice(ws, i, n))))))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.n").as("n"), col("p.g").as("g"))
    val gc = grams
      .select(col("doc_id"), col("n"),
        substring(md5(col("g")), 1, 16).as("hg"),
        length(col("g")).cast("long").as("len"))
      .groupBy("doc_id", "n", "hg")
      .agg(count(lit(1)).as("c"), min(col("len")).as("len"))
    // ONE aggregation over the gram-type frame yields every per-(doc, n)
    // statistic: mass, the top gram via max(struct(c, hg, len)) — max
    // count, digest-DESC tie-break, its len riding along (hg is unique
    // per group, so len is never compared) — and the duplicated mass.
    // The previous window + join-back form instantiated the gram explode
    // three times (tots, top, dup5 each re-derived gc).
    val per = gc.groupBy("doc_id", "n").agg(
      sum(col("c") * col("len")).as("mass"),
      max(struct(col("c"), col("hg"), col("len"))).as("top"),
      sum(when(col("c") >= 2, (col("c") - 1) * col("len")).otherwise(lit(0L))).as("dup_mass"))
    def topN(n: Int) = coalesce(max(when(col("n") === n,
      expr("top.c * top.len * 1000000 DIV mass"))), lit(0L))
    val sig = per.groupBy("doc_id").agg(
      topN(2).as("top2_ppm"), topN(3).as("top3_ppm"), topN(4).as("top4_ppm"),
      coalesce(max(when(col("n") === 5,
        expr("dup_mass * 1000000 DIV mass"))), lit(0L)).as("dup5_ppm"))
    base
      .join(segStats, Seq("doc_id"), "left")
      .join(sig, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("dup_seg_ppm"), lit(0L)).as("dup_seg_ppm"),
        coalesce(col("top2_ppm"), lit(0L)).as("top2_ppm"),
        coalesce(col("top3_ppm"), lit(0L)).as("top3_ppm"),
        coalesce(col("top4_ppm"), lit(0L)).as("top4_ppm"),
        coalesce(col("dup5_ppm"), lit(0L)).as("dup5_ppm"))
      .withColumn("keep",
        (col("dup_seg_ppm") <= 300000L && col("top2_ppm") <= 200000L &&
          col("top3_ppm") <= 180000L && col("top4_ppm") <= 160000L &&
          col("dup5_ppm") <= 150000L).cast("int"))
  }

  /** X-TXT23 — the Gopher repetition family, oracle-checked end to end
    * (segment duplication, top-2/3/4-gram shares, duplicated-5-gram
    * mass, the combined verdict).
    */
  private lazy val repetitionOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |seg0 AS (
       |  SELECT doc_id, ${PipelineOps8.segsAutoDuck} AS segs FROM t),
       |segc AS (
       |  SELECT doc_id, seg, COUNT(*) AS c
       |  FROM seg0, UNNEST(segs) AS u(seg) GROUP BY doc_id, seg),
       |segs AS (
       |  SELECT doc_id, SUM(c) AS n_segs,
       |         SUM(c - 1) * 1000000 // SUM(c) AS dup_seg_ppm
       |  FROM segc GROUP BY doc_id),
       |g AS (
       |  SELECT doc_id, n, array_to_string(ws[i:i+n-1], ' ') AS g
       |  FROM t, UNNEST([2, 3, 4, 5]) AS tn(n),
       |       UNNEST(generate_series(1, len(ws) - n + 1)) AS ti(i)
       |  WHERE len(ws) >= n),
       |gc AS (
       |  SELECT doc_id, n, substr(md5(g), 1, 16) AS hg, COUNT(*) AS c,
       |         MIN(length(g)) AS len
       |  FROM g GROUP BY doc_id, n, substr(md5(g), 1, 16)),
       |tots AS (SELECT doc_id, n, SUM(c * len) AS mass FROM gc GROUP BY doc_id, n),
       |top AS (
       |  SELECT gc.doc_id, gc.n, gc.c * gc.len * 1000000 // tots.mass AS ppm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |                                     ORDER BY c DESC, hg DESC) AS rk FROM gc) gc
       |  JOIN tots ON tots.doc_id = gc.doc_id AND tots.n = gc.n
       |  WHERE gc.rk = 1 AND gc.n <= 4),
       |topp AS (
       |  SELECT doc_id,
       |    COALESCE(MAX(CASE WHEN n = 2 THEN ppm END), 0) AS top2_ppm,
       |    COALESCE(MAX(CASE WHEN n = 3 THEN ppm END), 0) AS top3_ppm,
       |    COALESCE(MAX(CASE WHEN n = 4 THEN ppm END), 0) AS top4_ppm
       |  FROM top GROUP BY doc_id),
       |d5 AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN c >= 2 THEN (c - 1) * len ELSE 0 END) * 1000000 // SUM(c * len) AS dup5_ppm
       |  FROM gc WHERE n = 5 GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(COALESCE(segs.n_segs, 0) AS BIGINT) AS n_segs,
       |  CAST(COALESCE(segs.dup_seg_ppm, 0) AS BIGINT) AS dup_seg_ppm,
       |  CAST(COALESCE(topp.top2_ppm, 0) AS BIGINT) AS top2_ppm,
       |  CAST(COALESCE(topp.top3_ppm, 0) AS BIGINT) AS top3_ppm,
       |  CAST(COALESCE(topp.top4_ppm, 0) AS BIGINT) AS top4_ppm,
       |  CAST(COALESCE(d5.dup5_ppm, 0) AS BIGINT) AS dup5_ppm,
       |  CAST(CASE WHEN COALESCE(segs.dup_seg_ppm, 0) <= 300000
       |             AND COALESCE(topp.top2_ppm, 0) <= 200000
       |             AND COALESCE(topp.top3_ppm, 0) <= 180000
       |             AND COALESCE(topp.top4_ppm, 0) <= 160000
       |             AND COALESCE(d5.dup5_ppm, 0) <= 150000
       |            THEN 1 ELSE 0 END AS INT) AS keep
       |FROM t
       |LEFT JOIN segs ON segs.doc_id = t.doc_id
       |LEFT JOIN topp ON topp.doc_id = t.doc_id
       |LEFT JOIN d5 ON d5.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  private val txt23 = Probe(
    "x_txt23_gopher_repetition", repetitionOracleSql) { (s, dir) =>
    repetitionSignals(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  /** The NARROW per-row form of [[repetitionSignals]] — one JVM pass via
    * the native `repetition_signals` expression, zero exchanges: the
    * stream-door Gopher gate (`DocStreams.repetitionScored` runs exactly
    * this). Identical output (x_txt23b shares x_txt23's oracle;
    * RepetitionSignalsSpec pins native ≡ declarative ≡ interpreted).
    */
  def repetitionSignalsNative(docs: DataFrame): DataFrame = {
    docs
      .withColumn("__r", graft.functions.RepetitionSignals.repetition_signals(col("text")))
      .select(col("doc_id"), col("__r.n_segs").as("n_segs"),
        col("__r.dup_seg_ppm").as("dup_seg_ppm"),
        col("__r.top2_ppm").as("top2_ppm"), col("__r.top3_ppm").as("top3_ppm"),
        col("__r.top4_ppm").as("top4_ppm"), col("__r.dup5_ppm").as("dup5_ppm"),
        col("__r.keep").as("keep"))
  }

  /** X-TXT23B — the native one-pass repetition gate against x_txt23's
    * identical relational oracle: the stateless stream-door form is
    * hash-pinned to the declarative five-table algebra.
    */
  private val txt23b = Probe(
    "x_txt23b_repetition_native", repetitionOracleSql) { (s, dir) =>
    repetitionSignalsNative(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  // ------------------------------------ perplexity-bucketed curriculum

  /** X-CUR5 — CCNet-style perplexity buckets: every document labeled
    * head / middle / tail by its language's terciles of the self-scored
    * LM NLL (x_txt18's signal; lower NLL = more fluent = head). The
    * curriculum/selection convention of the public CCNet pipeline —
    * absolute NLL cuts don't transfer across languages, per-language
    * quantiles do (the x_txt12/x_txt20 discipline). Cuts compare at 6 dp
    * on both engines, so bucket boundaries are deterministic.
    */
  private val cur5 = Probe(
    "x_cur5_ccnet_buckets",
    s"""WITH ${LanguageModels.lmSelfScoreDuck},
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(percentile_cont(0.33) WITHIN GROUP (ORDER BY nll_avg), 6) AS p33,
       |    round(percentile_cont(0.67) WITHIN GROUP (ORDER BY nll_avg), 6) AS p67
       |  FROM lg GROUP BY lang)
       |SELECT lg.doc_id, lg.lang, lg.nll_avg,
       |  CASE WHEN lg.nll_avg <= cuts.p33 THEN 'head'
       |       WHEN lg.nll_avg <= cuts.p67 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM lg JOIN cuts ON cuts.lang = lg.lang
       |ORDER BY lg.doc_id""".stripMargin) { (s, dir) =>
    ppxBuckets(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** (doc_id, lang, nll_avg, bucket) — shared by the probe, the Corpus
    * route, and the spec's planted-corpus pin. One lang-partitioned
    * window over the scored frame (docs-per-lang rows, never wider).
    */
  def ppxBuckets(docs: DataFrame): DataFrame = {
    LanguageModels.lmSelfScoreTok(LanguageModels.docTokens(docs))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("p33", round(
        expr("percentile(nll_avg, 0.33)").over(Window.partitionBy(col("lang"))), 6))
      .withColumn("p67", round(
        expr("percentile(nll_avg, 0.67)").over(Window.partitionBy(col("lang"))), 6))
      .select(col("doc_id"), col("lang"), col("nll_avg"),
        when(col("nll_avg") <= col("p33"), lit("head"))
          .when(col("nll_avg") <= col("p67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** X-CUR6 — curriculum SCHEDULE: the x_cur5 buckets annealed across
    * training epochs — epoch 0 admits head only, epoch 1 head+middle,
    * epoch 2 everything (the easy-first curriculum schedule, built from
    * the same deterministic pieces a loader consumes). Output is the
    * per-(epoch, bucket) volume table a training plan is reviewed
    * against. One cheap cross join of the bucketed frame with the
    * 3-row epoch table; all selection algebra inherited from x_cur5.
    */
  private val cur6 = Probe(
    "x_cur6_curriculum_schedule",
    s"""WITH ${LanguageModels.lmSelfScoreDuck},
       |lg AS (
       |  SELECT sc.doc_id, d.lang, sc.nll_avg, len(t.ws) AS n_tok
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
       |  JOIN t ON t.doc_id = sc.doc_id),
       |cuts AS (
       |  SELECT lang,
       |    round(percentile_cont(0.33) WITHIN GROUP (ORDER BY nll_avg), 6) AS p33,
       |    round(percentile_cont(0.67) WITHIN GROUP (ORDER BY nll_avg), 6) AS p67
       |  FROM lg GROUP BY lang),
       |bk AS (
       |  SELECT lg.doc_id, lg.lang, lg.n_tok,
       |    CASE WHEN lg.nll_avg <= cuts.p33 THEN 0
       |         WHEN lg.nll_avg <= cuts.p67 THEN 1 ELSE 2 END AS tier
       |  FROM lg JOIN cuts ON cuts.lang = lg.lang)
       |SELECT CAST(e.epoch AS BIGINT) AS epoch, CAST(bk.tier AS BIGINT) AS tier,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(bk.n_tok) AS BIGINT) AS n_tokens
       |FROM bk, UNNEST([0, 1, 2]) AS e(epoch)
       |WHERE bk.tier <= e.epoch
       |GROUP BY e.epoch, bk.tier ORDER BY e.epoch, tier""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val tiered = ppxBuckets(docs)
      .withColumn("tier",
        when(col("bucket") === "head", lit(0))
          .when(col("bucket") === "middle", lit(1)).otherwise(lit(2)))
      .join(docs.select(col("doc_id"),
        size(CleanFns.tokens(col("text"))).cast("long").as("n_tok")), "doc_id")
    tiered
      .crossJoin(broadcast(
        s.range(3).select(col("id").cast("int").as("epoch"))))
      .filter(col("tier") <= col("epoch"))
      .groupBy("epoch", "tier")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
      .select(col("epoch").cast("long").as("epoch"), col("tier").cast("long").as("tier"),
        col("n_docs"), col("n_tokens"))
      .orderBy("epoch", "tier")
  }

  val all: Seq[Probe] = Seq(txt23, txt23b, cur5, cur6)
}

package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.dot_d

/** Round-7 additions (third wave): KMV distinct-count sketch, duplicated-
  * span extraction, and Johnson-Lindenstrauss random projection — the
  * remaining sketch/measurement tools of a corpus-statistics layer.
  */
object PipelineOps9 {

  // ----------------------------------------------------------------- KMV

  private val kmvK = 64

  /** X-SKT2 — KMV (k-minimum-values) distinct-count sketch: per language,
    * the number of DISTINCT token bigrams estimated from only the k = 64
    * smallest md5 fractions, surfaced next to the exact count so the
    * estimation error is visible in the checked output.
    *
    * The estimator is the classic (k-1)/h_(k) with h the hash mapped to
    * (0,1); when a group has <= k distinct values the sketch IS the exact
    * set. The hash fraction is the first 12 md5 hex digits over 2^48 —
    * integer-exact on both engines, and the division by a power of two is
    * exact in doubles, so even the ESTIMATE hash-matches cross-engine.
    *
    * Scale story: KMV state is k values per group, merge = k-smallest of
    * the union (associative/commutative), so shards sketch independently
    * and combine without re-reading text — the spec pins merge == direct.
    * The declarative form here ranks the distinct stream with a window (its
    * exact-oracle twin); a production aggregate holds a bounded k-heap, but
    * the algebra and the result are identical by the merge property.
    */
  private val skt2 = Probe(
    "x_skt2_kmv_distinct",
    s"""WITH bg AS (
       |  SELECT DISTINCT lang, ws[i] || ' ' || ws[i+1] AS b
       |  FROM (SELECT lang, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |        WHERE len(${CleanFns.tokensDuck("text")}) >= 2),
       |       UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
       |h AS (
       |  SELECT lang, b,
       |         CAST(CAST('0x' || substr(md5(b), 1, 12) AS BIGINT) AS DOUBLE) / 281474976710656 AS f
       |  FROM bg),
       |r AS (
       |  SELECT lang, f, row_number() OVER (PARTITION BY lang ORDER BY f, b) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n_exact
       |  FROM h)
       |SELECT lang, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
       |       CAST(CASE WHEN MAX(n_exact) <= $kmvK THEN MAX(n_exact)
       |                 ELSE CAST(round(($kmvK - 1) / MAX(CASE WHEN rn = $kmvK THEN f END), 0) AS BIGINT)
       |            END AS BIGINT) AS n_est
       |FROM r WHERE rn <= $kmvK
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    kmvDistinctBigrams(Tables(s, dir, "documents")).orderBy("lang")
  }

  /** Distinct bigrams per language with KMV hash fractions — shared by the
    * probe and the spec's merge-property pin.
    */
  def bigramFractions(docs: DataFrame): DataFrame = docs
    .select(col("lang"), CleanFns.tokens(col("text")).as("ws"))
    .filter(size(col("ws")) >= 2)
    .select(col("lang"), explode(expr(
      "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"))
      .as("b"))
    .distinct()
    .withColumn("f",
      expr("CAST(conv(substr(md5(b), 1, 12), 16, 10) AS DOUBLE) / 281474976710656"))

  /** (lang, n_exact, n_est): exact distinct-bigram count next to the KMV
    * k=64 estimate.
    */
  def kmvDistinctBigrams(docs: DataFrame, k: Int = kmvK): DataFrame = {
    val h = bigramFractions(docs)
    val w = Window.partitionBy(col("lang")).orderBy(col("f"), col("b"))
    val wAll = Window.partitionBy(col("lang"))
    h.withColumn("rn", row_number().over(w))
      .withColumn("n_exact", count(lit(1)).over(wAll))
      .filter(col("rn") <= k)
      .groupBy(col("lang"))
      .agg(max(col("n_exact")).cast("long").as("n_exact"),
        max(when(col("rn") === k, col("f"))).as("__fk"))
      .withColumn("n_est",
        when(col("n_exact") <= k, col("n_exact"))
          .otherwise(round(lit(k - 1) / col("__fk"), 0).cast("long")))
      .select(col("lang"), col("n_exact"), col("n_est"))
  }

  // ------------------------------------------------------ duplicate spans

  private val spanN = 8

  /** X-DED20 — duplicated-SPAN extraction: per document, the longest run
    * of CONSECUTIVE 8-grams that also occur in at least one other document
    * (plus the total duplicated-position count). x_ded10 measures how MUCH
    * of a doc is duplicated; this measures how LONG the shared spans are —
    * the signal that separates "quotes a common phrase" (short spans) from
    * "embeds a whole boilerplate paragraph" (long spans), which is what
    * span-based dedup policies cut on.
    *
    * Shape: grams travel as fixed-width 16-hex digests (the x_ded10
    * lesson); the shared set is one digest-keyed aggregation; runs are the
    * classic islands construction (pos - row_number) inside a doc-keyed
    * window — no self-join, nothing quadratic. A run of R grams covers
    * R + 7 words.
    */
  private val ded20 = Probe(
    "x_ded20_dup_spans",
    s"""WITH t AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS toks FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) >= $spanN),
       |p AS (
       |  SELECT doc_id, i, substr(md5(array_to_string(toks[i:i+${spanN - 1}], ' ')), 1, 16) AS h
       |  FROM t, UNNEST(generate_series(1, len(toks) - ${spanN - 1})) AS u(i)),
       |s AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM p) GROUP BY h HAVING COUNT(*) >= 2),
       |d AS (SELECT p.doc_id, p.i FROM p JOIN s ON p.h = s.h),
       |r AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM d),
       |runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM r GROUP BY doc_id, grp)
       |SELECT doc_id, CAST(MAX(run) AS BIGINT) AS max_run_grams,
       |       CAST(MAX(run) + ${spanN - 1} AS BIGINT) AS span_words,
       |       CAST(SUM(run) AS BIGINT) AS n_dup_positions
       |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    dupSpans(Tables.spread(s, dir, "documents")).orderBy("doc_id")
  }

  /** (doc_id, max_run_grams, span_words, n_dup_positions) for every doc
    * with at least one cross-document duplicated `n`-gram.
    */
  def dupSpans(docs: DataFrame, n: Int = spanN): DataFrame = {
    val p = docs
      .select(col("doc_id"), CleanFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> substr(md5(concat_ws(' ', slice(toks, i, $n))), 1, 16))"))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("i"), col("h"))
    val shared = p.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val d = p.join(shared, Seq("h"), "left_semi")
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    d.withColumn("grp", col("i") - row_number().over(wRun))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("max_run_grams"),
        (max(col("run")) + (n - 1)).as("span_words"),
        sum(col("run")).as("n_dup_positions"))
  }

  // ------------------------------------------------- JL random projection

  private val jlDims = 64
  private val jlPlanes = 16

  /** X-SIM6 — Johnson-Lindenstrauss random projection: 64-dim quantized
    * vectors compressed to 16 signed-projection coordinates (the
    * EmbedDedup md5 hyperplane matrix — shared sign rule, so the
    * "random" directions are deterministic and engine-portable), with the
    * ORIGINAL cosine surfaced next to the PROJECTED cosine for every
    * (query, candidate) pair so the distance distortion is visible and
    * checked.
    *
    * This is the ANN prefilter regime between x_sim5 (int8: same dims,
    * narrower values) and x_ded13 (1-bit signs): 4x fewer dims with real
    * magnitudes. The projection is a narrow per-row fold against literal
    * sign rows — zero exchanges, stream-compatible.
    *
    * Numeric portability: each coordinate is an exact-integer dot over
    * floor-quantized values divided by 64 (a power of two — exact in
    * doubles), so products and partial sums in BOTH the projected and
    * original cosine stay exactly representable; the final divide/sqrt is
    * one IEEE op on identical inputs.
    */
  private val sim6 = Probe(
    "x_sim6_jl_projection",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings WHERE vec_id < 50),
       |d AS (
       |  SELECT vec_id, bb,
       |    SUM(CASE WHEN substr(md5(bb || '_' || i), 1 + ((i * 7 + bb * 13) % 32), 1)
       |             IN ('8','9','a','b','c','d','e','f') THEN v[i] ELSE -v[i] END) / 64.0 AS c
       |  FROM iv, UNNEST(generate_series(1, $jlPlanes)) AS t1(bb),
       |       UNNEST(generate_series(1, $jlDims)) AS t2(i)
       |  GROUP BY vec_id, bb),
       |pr AS (SELECT vec_id, list(c ORDER BY bb) AS p FROM d GROUP BY vec_id),
       |n AS (
       |  SELECT iv.vec_id, iv.v, pr.p,
       |         list_sum(list_transform(iv.v, x -> x * x)) AS n2,
       |         list_sum(list_transform(pr.p, x -> x * x)) AS n2p
       |  FROM iv JOIN pr ON pr.vec_id = iv.vec_id)
       |SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |       round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) /
       |             sqrt(a.n2 * b.n2), 6) AS cos_orig,
       |       round(list_sum(list_transform(list_zip(a.p, b.p), z -> z[1] * z[2])) /
       |             sqrt(a.n2p * b.n2p), 6) AS cos_proj
       |FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id > a.vec_id
       |ORDER BY q_id, c_id""".stripMargin) { (s, dir) =>
    val cfg = EmbedLsh(dims = jlDims, planes = jlPlanes)
    val iv = Tables(s, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), expr(Similarity.intVec).as("v"))
      .withColumn("p", jlProject(cfg))
      .withColumn("n2", dot_d(col("v"), col("v")))
      .withColumn("n2p", dot_d(col("p"), col("p")))
    val a = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("av"), col("p").as("ap"),
        col("n2").as("an2"), col("n2p").as("an2p"))
    val b = iv.select(col("vec_id").as("c_id"), col("v").as("bv"), col("p").as("bp"),
      col("n2").as("bn2"), col("n2p").as("bn2p"))
    broadcast(a).join(b, col("c_id") > col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(dot_d(col("av"), col("bv")) / sqrt(col("an2") * col("bn2")), 6).as("cos_orig"),
        round(dot_d(col("ap"), col("bp")) / sqrt(col("an2p") * col("bn2p")), 6).as("cos_proj"))
      .orderBy("q_id", "c_id")
  }

  /** The 16-coordinate JL projection of quantized vector column `v` as a
    * narrow per-row expression (literal sign rows, shared with EmbedDedup's
    * hyperplane matrix). Coordinates are divided by 64 = 2^6 (exact in
    * doubles) to keep downstream norms inside the 2^53 exact-integer range.
    */
  def jlProject(cfg: EmbedLsh): Column = {
    // DECIMAL(3,1) 64.0, the type the SQL literal 64.0 parses to
    array((1 to cfg.planes).map(bb =>
      dot_d(col("v"), EmbedDedup.planeLit(cfg, bb)) / lit(new java.math.BigDecimal("64.0"))): _*)
  }

  // -------------------------------------------------- join-size estimation

  /** X-SKT4 — join-cardinality estimation from count-min sketches:
    * |lineitem ⋈ orders on orderkey| estimated as the minimum over sketch
    * rows of the cell-wise inner product Σ_slot a[r][slot]·b[r][slot],
    * surfaced next to the exact join size. The estimate is ONE-SIDED
    * (collisions only add), so est >= exact always — exactly what a
    * planner needs for the broadcast-vs-shuffle decision at 100 TB: two
    * fixed-size mergeable sketches answer "how big is this join" without
    * running it.
    *
    * Width matters: the collision noise is ~N_a·N_b/w, so resolving a
    * join of size J needs w >> N_a·N_b/J. Here 3 rows x 65,536 slots
    * (disjoint 4-hex windows of one md5 — the x_dec3 k-from-one-hash
    * construction, wider windows) puts the noise an order of magnitude
    * below the signal at bench SF; a 256-slot sketch (x_skt1's width,
    * sized for heavy-hitter queries) would be pure noise here. Both the
    * cells and the inner product are exact integer arithmetic, so the
    * estimate itself hash-matches the oracle.
    */
  private val skt4 = Probe(
    "x_skt4_join_size",
    s"""WITH la AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
       |ob AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
       |ca AS (
       |  SELECT r, slot, COUNT(*) AS c FROM (
       |    SELECT 0 AS r, substr(md5(k), 1, 4) AS slot FROM la
       |    UNION ALL SELECT 1, substr(md5(k), 5, 4) FROM la
       |    UNION ALL SELECT 2, substr(md5(k), 9, 4) FROM la)
       |  GROUP BY r, slot),
       |cb AS (
       |  SELECT r, slot, COUNT(*) AS c FROM (
       |    SELECT 0 AS r, substr(md5(k), 1, 4) AS slot FROM ob
       |    UNION ALL SELECT 1, substr(md5(k), 5, 4) FROM ob
       |    UNION ALL SELECT 2, substr(md5(k), 9, 4) FROM ob)
       |  GROUP BY r, slot),
       |ip AS (
       |  SELECT ca.r, SUM(ca.c * cb.c) AS dot
       |  FROM ca JOIN cb ON ca.r = cb.r AND ca.slot = cb.slot
       |  GROUP BY ca.r),
       |exact AS (
       |  SELECT COUNT(*) AS n FROM la JOIN ob ON la.k = ob.k)
       |SELECT CAST(exact.n AS BIGINT) AS n_exact, CAST(MIN(ip.dot) AS BIGINT) AS n_est
       |FROM exact, ip GROUP BY exact.n ORDER BY n_exact""".stripMargin) { (s, dir) =>
    // md5 ONCE per row in a projection below the explode (the generator
    // input is evaluated without subexpression elimination, so the inline
    // form computed the digest three times per row — r17 plan audit)
    def side(df: DataFrame): DataFrame = df
      .select(md5(col("k")).as("m"))
      .select(explode(array((0 until 3).map(r =>
        struct(lit(r).as("r"), substring(col("m"), 1 + 4 * r, 4).as("slot"))): _*))
        .as("rs"))
      .groupBy(col("rs.r").as("r"), col("rs.slot").as("slot"))
      .agg(count(lit(1)).as("c"))
    val la = Tables(s, dir, "lineitem").select(col("l_orderkey").cast("string").as("k"))
    val ob = Tables(s, dir, "orders").select(col("o_orderkey").cast("string").as("k"))
    val ip = side(la).alias("a")
      .join(side(ob).alias("b"),
        col("a.r") === col("b.r") && col("a.slot") === col("b.slot"))
      .groupBy(col("a.r"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    // exact join on the raw LONG keys (cast-to-string is injective, so the
    // count is identical; long hash/compare beats string)
    val exact = Tables(s, dir, "lineitem").select(col("l_orderkey").as("xk"))
      .join(Tables(s, dir, "orders").select(col("o_orderkey").as("yk")),
        col("xk") === col("yk"))
      .agg(count(lit(1)).as("n_exact"))
    exact.join(ip)
      .groupBy(col("n_exact"))
      .agg(min(col("dot")).as("n_est"))
      .select(col("n_exact"), col("n_est"))
      .orderBy("n_exact")
  }

  // ----------------------------------------------------- histogram sketch

  private val histBins = 32
  private val histWidth = 20 // n_chars domain [0, 640); overflow clamps

  /** X-SKT3 — histogram quantile sketch: per-language p50/p90 of document
    * length estimated from a FIXED 32-bin equi-width histogram (bin
    * addition = merge, like the count-min cells), surfaced next to the
    * exact percentiles so the binning error is visible in the checked
    * output.
    *
    * The estimator is standard linear interpolation inside the bin that
    * crosses the target rank: est = lo + width * (q*n - cum_below) / c.
    * The histogram state is 32 longs per group at ANY corpus size, and the
    * bin domain is FIXED (not data-dependent) so the sketch needs no
    * pre-pass and merges across shards/epochs — the property t-digest
    * buys with far more machinery. Exact percentiles need a per-group
    * sort; the sketch answers from kilobytes.
    */
  private val skt3 = Probe(
    "x_skt3_histogram_quantiles",
    s"""WITH h AS (
       |  SELECT lang, LEAST(CAST(n_chars // $histWidth AS INT), ${histBins - 1}) AS bin, COUNT(*) AS c
       |  FROM documents GROUP BY lang, LEAST(CAST(n_chars // $histWidth AS INT), ${histBins - 1})),
       |cum AS (
       |  SELECT lang, bin, c, SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cs,
       |         SUM(c) OVER (PARTITION BY lang) AS n
       |  FROM h),
       |est AS (
       |  SELECT q.q, cum.lang,
       |         bin * $histWidth + $histWidth * (q.q * n - (cs - c)) / c AS e,
       |         row_number() OVER (PARTITION BY q.q, lang ORDER BY bin) AS rn
       |  FROM cum, (SELECT UNNEST([0.5, 0.9]) AS q) q
       |  WHERE cs >= q.q * n),
       |ex AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50x,
       |         percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90x
       |  FROM documents GROUP BY lang)
       |SELECT ex.lang, ex.n_docs,
       |       round(ex.p50x, 4) AS p50_exact, round(MAX(CASE WHEN e50.rn = 1 THEN e50.e END), 4) AS p50_est,
       |       round(ex.p90x, 4) AS p90_exact, round(MAX(CASE WHEN e90.rn = 1 THEN e90.e END), 4) AS p90_est
       |FROM ex
       |JOIN est e50 ON e50.lang = ex.lang AND e50.q = 0.5
       |JOIN est e90 ON e90.lang = ex.lang AND e90.q = 0.9
       |GROUP BY ex.lang, ex.n_docs, ex.p50x, ex.p90x
       |ORDER BY ex.lang""".stripMargin) { (s, dir) =>
    histogramQuantiles(Tables(s, dir, "documents")).orderBy("lang")
  }

  /** The 32-cell per-group histogram (lang, bin, c) — the mergeable sketch
    * state (bin addition), shared by the probe and the spec's merge pin.
    */
  def histCells(docs: DataFrame): DataFrame = docs
    .groupBy(col("lang"),
      least((col("n_chars") / histWidth).cast("int"), lit(histBins - 1)).as("bin"))
    .agg(count(lit(1)).as("c"))

  /** (lang, n_docs, p50_exact, p50_est, p90_exact, p90_est). */
  def histogramQuantiles(docs: DataFrame): DataFrame = {
    val cum = histCells(docs)
      .withColumn("cs", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val qs = docs.sparkSession.range(1)
      .select(explode(array(lit(0.5), lit(0.9))).as("q"))
    val est = cum.join(broadcast(qs))
      .filter(col("cs") >= col("q") * col("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q"), col("lang")).orderBy(col("bin"))))
      .filter(col("rn") === 1)
      .withColumn("e",
        col("bin") * histWidth + lit(histWidth) * (col("q") * col("n") - (col("cs") - col("c"))) / col("c"))
      .select(col("q"), col("lang"), col("e"))
    val ex = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("p50x"),
        expr("percentile(n_chars, 0.9)").as("p90x"))
    ex
      .join(est.filter(col("q") === 0.5).select(col("lang"), col("e").as("e50")), "lang")
      .join(est.filter(col("q") === 0.9).select(col("lang"), col("e").as("e90")), "lang")
      .select(col("lang"), col("n_docs"),
        round(col("p50x"), 4).as("p50_exact"), round(col("e50"), 4).as("p50_est"),
        round(col("p90x"), 4).as("p90_exact"), round(col("e90"), 4).as("p90_est"))
  }

  // -------------------------------------------------------------- datacard

  /** X-REP2 — the release data card: ROLLUP over (lang, source) of doc
    * count, token mass, and quality keep rate (the x_txt11 rule family) —
    * the per-slice + per-language + whole-corpus summary a dataset release
    * ships. One pass: the rollup is a single Expand-based aggregation over
    * the narrow quality projection; keep rate as exact integer ppm.
    */
  private val rep2 = Probe(
    "x_rep2_datacard",
    """WITH t AS (
      |  SELECT lang, source, list_filter(string_split_regex(lower(text), '\s+'), tkn -> tkn <> '') AS w
      |  FROM documents),
      |m AS (
      |  SELECT lang, source,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CASE WHEN CAST(len(w) AS BIGINT) BETWEEN 10 AND 100000
      |          AND CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) BETWEEN 200 AND 1000
      |          AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) >= 600000
      |          AND len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) >= 2
      |         THEN 1 ELSE 0 END AS keep
      |  FROM t)
      |SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
      |  CAST(GROUPING(lang) AS INT) AS g_lang, CAST(GROUPING(source) AS INT) AS g_source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
      |  CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
      |FROM m GROUP BY ROLLUP(lang, source)
      |ORDER BY g_lang, g_source, lang, source""".stripMargin) { (s, dir) =>
    graft.ext.PipelineOps3.addQualityRuleSignals(Tables(s, dir, "documents"))
      .rollup(col("lang"), col("source"))
      .agg(
        grouping(col("lang")).cast("int").as("g_lang"),
        grouping(col("source")).cast("int").as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_tokens"),
        expr("CAST(SUM(keep) * 1000000 DIV COUNT(*) AS BIGINT)").as("keep_ppm"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("g_lang"), col("g_source"), col("n_docs"), col("n_tokens"), col("keep_ppm"))
      .orderBy("g_lang", "g_source", "lang", "source")
  }

  // ---------------------------------------------------- composed pipeline

  /** X-PIPE4 — the round-7 stages composed END-TO-END: segment dedup over
    * the whole corpus → fuzzy decontamination of the non-eval half against
    * the raw eval set → quality-rule gate over the CLEANED, SEGMENT-DEDUPED
    * text. Oracle-checking the composition (not just each stage) pins the
    * interactions: the quality signals are computed on the reassembled
    * text (so segment drops legitimately change n_words/stop_hits), and
    * the fuzzy verify compares deduped corpus text against untouched eval
    * text — the real deployment shape, where the eval set is external and
    * never preprocessed.
    *
    * Oracle units posture (shared with x_dec5): the engine's fuzzy sim is
    * defined on BYTES (lev_bytes / octet_length). DuckDB has no byte-level
    * levenshtein, so the oracle's numerator is codepoint edits over a
    * byte (strlen) denominator — identical to the engine on the ASCII
    * testdata (1 codepoint = 1 byte). The non-ASCII byte contract is
    * pinned by data in PipelineOps8Spec ("byte-unit fuzzy sim…"), where
    * char-math and byte-math yield OPPOSITE keep verdicts.
    */
  private val pipe4 = Probe(
    "x_pipe4_segment_decon_quality",
    s"""WITH w0 AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) > 0),
       |s0 AS (
       |  SELECT doc_id, list_transform(generate_series(1, CAST(ceil(len(ws) / 16.0) AS BIGINT)),
       |                                k -> array_to_string(ws[((k - 1) * 16 + 1):(k * 16)], ' ')) AS segs
       |  FROM w0),
       |seg AS (
       |  SELECT doc_id, k AS seg_idx, segs[k] AS seg
       |  FROM s0, UNNEST(generate_series(1, len(segs))) AS t(k)),
       |first AS (
       |  SELECT doc_id, seg_idx, seg FROM (
       |    SELECT doc_id, seg_idx, seg,
       |           row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
       |    FROM seg)
       |  WHERE rn = 1),
       |kept AS (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
       |  FROM first GROUP BY doc_id),
       |corp AS (SELECT doc_id, text FROM kept WHERE doc_id % 25 <> 0),
       |shc AS (
       |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM corp
       |        WHERE len(${CleanFns.tokensDuck("text")}) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
       |she AS (
       |  SELECT DISTINCT doc_id AS eval_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM (SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |        WHERE doc_id % 25 = 0 AND len(${CleanFns.tokensDuck("text")}) >= 4),
       |       UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
       |cand AS (SELECT DISTINCT c.doc_id, e.eval_id FROM shc c JOIN she e ON c.s = e.s),
       |hit AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM cand c JOIN corp d ON d.doc_id = c.doc_id
       |       JOIN documents e ON e.doc_id = c.eval_id
       |  WHERE 1 - CAST(levenshtein(d.text, e.text) AS DOUBLE) /
       |            GREATEST(strlen(d.text), strlen(e.text)) >= 0.30),
       |clean AS (SELECT * FROM corp WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
       |t AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), tkn -> tkn <> '') AS w FROM clean),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
       |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
       |  FROM t)
       |SELECT doc_id, n_words, mean_len_c, alpha_ppm, stop_hits
       |FROM m
       |WHERE n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
       |  AND alpha_ppm >= 600000 AND stop_hits >= 2
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val deduped = PipelineOps8.segmentDedup(docs)
      .select(col("doc_id"), col("text_kept").as("text"))
    val corp = deduped.filter(col("doc_id") % 25 =!= 0)
    val ev = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"))
    val cleaned = graft.api.Corpus(corp).decontaminateFuzzy(ev, minSim = 0.30).df
    graft.ext.PipelineOps3.addQualityRuleSignals(cleaned)
      .filter(col("keep") === 1L)
      .select(col("doc_id"), col("n_words"), col("mean_len_c"),
        col("alpha_ppm"), col("stop_hits"))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(skt2, skt3, skt4, ded20, sim6, rep2, pipe4)
}

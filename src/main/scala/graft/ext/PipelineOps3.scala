package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._

/** Third batch of corpus-pipeline operators: substring-level duplicate
  * detection, heuristic quality-rule filtering, and three scale-pattern
  * demonstrators (salted skew join, bucketed co-located join, Z-order
  * layout keys) whose oracles pin that the rewrites are result-neutral.
  *
  * Scale design notes (100 TB):
  * - Substring dedup inventories token 8-grams as 64-bit hex digests
  *   (`substr(md5(gram), 1, 16)`), not gram strings — the shuffled
  *   payload per gram is 16 bytes regardless of token width. The gram
  *   table is O(corpus tokens); both aggregations are partial-combine
  *   hash aggs. This is the distributed counterpart of the suffix-array
  *   pass in Lee et al., "Deduplicating Training Data Makes Language
  *   Models Better" (2022) — exact repeated spans, no probabilistic
  *   sketch.
  * - Quality rules are a single narrow projection (higher-order array
  *   functions, no explode) — zero shuffles; at any corpus size the cost
  *   is one scan.
  * - The salted join demonstrates the skew-mitigation rewrite: the dim
  *   side is replicated ×16 and the fact side picks a deterministic salt,
  *   so one hot key spreads over 16 reducers. The oracle runs the PLAIN
  *   join — hash-equality proves salting never changes results.
  * - The bucketed join writes both sides bucketed by the join key
  *   (8 buckets, sorted): a sort-merge join between them needs no
  *   exchange at all (asserted in PlanAuditSpec with broadcast disabled).
  *   At 100 TB this is THE pattern for repeated fact-to-fact joins —
  *   shuffle once at write time, never again.
  */
object PipelineOps3 {

  /** X-DED10 — duplicate-substring detection: for each document, the
    * fraction of its token 8-grams that also occur in some OTHER document.
    * Exact (no sketch): distinct (doc, gram-hash) pairs, grams kept when
    * seen in ≥2 docs, counts rolled back up per doc. Docs shorter than 8
    * tokens have no 8-grams and drop out (same rule in both engines).
    */
  private val ded10 = Probe(
    "x_ded10_substring_dup",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS toks FROM documents
      |  WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 8),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) for i in range(1, len(toks) - 6)]) AS h
      |  FROM t),
      |s AS (
      |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2)
      |SELECT g.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(count(s.h) AS BIGINT) AS n_dup,
      |  CAST(count(s.h) * 1000000 // count(*) AS BIGINT) AS dup_ppm
      |FROM g LEFT JOIN s ON g.h = s.h
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    substringDupStats(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** X-TXT11 — heuristic quality rules (the Gopher/C4 filter family):
    * word count bounds, mean word length, alphabetic-word ratio, stopword
    * presence — each surfaced as an exact-integer signal plus the combined
    * keep/drop verdict. One narrow projection, no shuffle: per-word stats
    * come from higher-order array functions, never an explode.
    */
  /** Per-doc duplicated-8-gram stats (doc_id, n_grams, n_dup, dup_ppm) —
    * shared by the x_ded10 probe and `api.Corpus.withSubstringDupSignals`
    * so the two cannot drift. Docs under `n` tokens produce no rows.
    */
  def substringDupStats(docs: org.apache.spark.sql.DataFrame, n: Int = 8): org.apache.spark.sql.DataFrame = {
    val grams = docs
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("toks"))
      // guard BEFORE sequence(): Spark's sequence(1, m) with m < 1 emits a
      // DESCENDING range rather than an empty one
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> substr(md5(concat_ws(' ', slice(toks, i, $n))), 1, 16))"))
        .as("h"))
      .distinct()
    val shared = grams.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(1).as("dup"))
    grams.join(shared, Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("dup")).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_grams"))
  }

  /** Appends the quality-rule signal columns (n_words, mean_len_c,
    * alpha_ppm, stop_hits, keep) to a documents frame — a pure narrow
    * projection shared by the x_txt11 probe, `api.Corpus`, and the
    * streaming path (`streaming.DocStreams`).
    */
  def addQualityRuleSignals(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs
      .withColumn("__qs",
        graft.functions.QualitySignals.quality_signals(lower(col("text"))))
      .withColumn("n_words", col("__qs.n_words"))
      .withColumn("mean_len_c",
        expr("__qs.sum_len * 100 DIV nullif(__qs.n_words, 0)"))
      .withColumn("alpha_ppm",
        expr("__qs.n_alpha * 1000000L DIV nullif(__qs.n_words, 0)"))
      .withColumn("stop_hits", col("__qs.n_stop"))
      .withColumn("keep", expr(
        """CAST(CASE WHEN n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
          |  AND alpha_ppm >= 600000 AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
      .drop("__qs")
  }

  private val txt11 = Probe(
    "x_txt11_quality_rules",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), tkn -> tkn <> '') AS w FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(w, x -> length(x))) * 100 // nullif(len(w), 0) AS BIGINT) AS mean_len_c,
      |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 // nullif(len(w), 0) AS BIGINT) AS alpha_ppm,
      |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS BIGINT) AS stop_hits
      |  FROM t)
      |SELECT doc_id, n_words, mean_len_c, alpha_ppm, stop_hits,
      |  CAST(CASE WHEN n_words BETWEEN 10 AND 100000 AND mean_len_c BETWEEN 200 AND 1000
      |            AND alpha_ppm >= 600000 AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    addQualityRuleSignals(Tables(s, dir, "documents"))
      .select("doc_id", "n_words", "mean_len_c", "alpha_ppm", "stop_hits", "keep")
      .orderBy("doc_id")
  }

  /** X-SKEW1 — salted skew join: `util.Scale.saltedJoin` (dim replicated
    * ×16, fact side salted), then the same revenue-per-nation aggregate as
    * the plain join. The oracle IS the plain join — hash-match proves the
    * salting rewrite is result-neutral, the property that lets it be
    * applied mechanically to any hot-key join at 100 TB. Which salt a row
    * draws is routing, not result (every salt has a matching dim replica),
    * so the aggregate stays deterministic under the rand-based salt. (AQE
    * skew splitting handles sort-merge joins at runtime; explicit salting
    * is the portable form — SkewJoinSpec covers the AQE-native path.)
    */
  private val skew1 = Probe(
    "x_skew1_salted_join",
    """SELECT s.s_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_nationkey ORDER BY s.s_nationkey""".stripMargin) { (s, dir) =>
    val fact = Tables(s, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val dim = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.util.Scale.saltedJoin(fact, dim, "suppkey", salts = 16)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("revenue")) // surfaced decimal -> DOUBLE (hash-gate repr)
      .orderBy("s_nationkey")
  }

  /** Bucketed-table location — absolute so re-runs from any cwd share it. */
  private val bucketDir: String = {
    val repo = "/root/repo/target/bucketed"
    if (new java.io.File("/root/repo").isDirectory) repo
    else new java.io.File("target/bucketed").getAbsolutePath
  }

  /** X-BKT1 — bucketed co-located join: lineitem and orders written
    * bucketed by the join key (8 buckets, sorted within buckets), then
    * sort-merge joined WITHOUT any exchange — both sides' bucketing
    * satisfies the join's distribution requirement at read time.
    * PlanAuditSpec pins the zero-exchange plan with broadcast disabled;
    * the oracle runs the plain join on the unbucketed parquet, proving
    * the layout is invisible to results. At 100 TB this converts every
    * recurring fact-to-fact join from a 2-sided shuffle into a local
    * merge: shuffle once at ingest, never per query.
    */
  private val bkt1 = Probe(
    "x_bkt1_bucketed_join",
    """SELECT o.o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    joinBucketed(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("qty")) // surfaced decimal -> DOUBLE (hash-gate repr)
      .orderBy("o_orderpriority")
  }

  /** Writes both sides bucketed by the join key (idempotent per (JVM, sf
    * dir)) and returns the bucketed-scan join. Exposed for PlanAuditSpec's
    * zero-exchange assertion.
    */
  def joinBucketed(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    materializeBuckets(s, dir)
    s.table(tableName(dir, "lineitem")).select("l_orderkey", "l_quantity")
      .join(s.table(tableName(dir, "orders")).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
  }

  private def tableName(dir: String, t: String): String = {
    val sf = dir.replaceAll("[^0-9a-zA-Z]", "_")
    s"graft_bkt_${t}_$sf"
  }

  @volatile private var bucketedFor: String = null

  private def materializeBuckets(s: org.apache.spark.sql.SparkSession, dir: String): Unit = synchronized {
    if (bucketedFor == dir) return
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey").foreach { case (t, key) =>
      val name = tableName(dir, t)
      s.sql(s"DROP TABLE IF EXISTS $name")
      Tables(s, dir, t).write.format("parquet")
        .bucketBy(8, key).sortBy(key)
        .option("path", s"$bucketDir/${name}")
        .mode("overwrite")
        .saveAsTable(name)
    }
    bucketedFor = dir
  }

  /** X-LAY1 — Z-order (Morton) layout key: `util.Scale.zValue2` over
    * (l_partkey, l_suppkey), rolled up per curve segment. The oracle
    * recomputes the interleave with independent bit arithmetic — pinning
    * the exact curve, which is what parquet min/max file-skipping depends
    * on once data is written in zv order (ZOrderSpec proves both
    * dimensions cluster; a single-column sort clusters only one). At
    * 100 TB this is the compaction key that turns two-dimensional range
    * scans from full-corpus reads into a handful of files.
    */
  private val lay1 = Probe(
    "x_lay1_zorder",
    """WITH z AS (
      |  SELECT CAST(list_sum([(((l_partkey % 65536) >> i) & 1) * (1 << (2*i))
      |                      + (((l_suppkey % 65536) >> i) & 1) * (1 << (2*i+1))
      |                      for i in range(0, 16)]) AS BIGINT) AS zv
      |  FROM lineitem)
      |SELECT CAST(zv // 16384 AS BIGINT) AS zbucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(zv) AS BIGINT) AS z_min,
      |  CAST(max(zv) AS BIGINT) AS z_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val zv = graft.util.Scale.zValue2(
      pmod(col("l_partkey"), lit(65536L)),
      pmod(col("l_suppkey"), lit(65536L)))
    Tables(s, dir, "lineitem")
      .select(zv.cast("long").as("zv"))
      .groupBy(expr("zv DIV 16384").as("zbucket"))
      .agg(count(lit(1)).as("n"), min("zv").as("z_min"), max("zv").as("z_max"))
      .orderBy("zbucket")
  }

  val all: Seq[Probe] = Seq(ded10, txt11, skew1, bkt1, lay1)
}

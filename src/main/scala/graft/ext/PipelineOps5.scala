package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Probe, Tables}
import graft.functions.SortedCountIn.sorted_count_in

/** Round-5 pipeline operators: per-group document caps (the one salted
  * top-N every per-domain, per-host and per-budget cap runs) and
  * corpus-level boilerplate detection — the two curation steps a crawl
  * pipeline runs between dedup and sampling.
  */
object PipelineOps5 {

  /** Per-group top-N, skew-safe: two-phase rank so no single reducer ever
    * sees a whole group. Phase 1 ranks within (group, salt) shards and
    * keeps N per shard; phase 2 re-ranks the <= N*salts survivors per
    * group. The global top-N always lies within the union of per-shard
    * top-Ns, so the result is identical to a single window — but the
    * phase-2 per-group input is bounded at N*salts rows regardless of
    * group size, where the naive single window funnels a mega-domain's
    * every document through one task. Salt is `pmod(key, salts)`
    * (deterministic, no rand()). `n` is a literal (`lit(15)`: Spark then
    * pre-limits both windows with `WindowGroupLimit`) or a PER-ROW
    * column of `df`, constant within each group (join the per-group
    * budget on before calling). Result keeps `df`'s columns plus `rnk`.
    */
  def cappedPerGroup(df: DataFrame, group: Column, order: Seq[Column],
      key: Column, n: Column, salts: Int = 4): DataFrame = {
    val w1 = Window.partitionBy(group, pmod(key, lit(salts))).orderBy(order: _*)
    val w2 = Window.partitionBy(group).orderBy(order: _*)
    df.withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= n)
      .withColumn("rnk", row_number().over(w2).cast("long")).filter(col("rnk") <= n)
      .drop("rn1")
  }

  /** X-CUR2 — per-domain document cap: keep at most 15 documents per
    * source, preferring longer documents (n_chars DESC, doc_id tiebreak) —
    * the "at most N pages per domain" rule every crawl-derived training
    * set applies so template-heavy domains cannot dominate the mix.
    * The oracle is the naive single window; the Spark side runs the
    * skew-safe two-phase form above, which the shared oracle proves
    * result-identical.
    */
  private val cur2 = Probe(
    "x_cur2_domain_cap",
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id) AS rnk
      |  FROM documents)
      |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
      |       CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 15 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    cappedPerGroup(
        Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        group = col("source"),
        order = Seq(col("n_chars").desc, col("doc_id")),
        key = col("doc_id"), n = lit(15))
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
        col("rnk"))
      .orderBy("doc_id")
  }

  /** Per-document boilerplate score against a corpus-frequent trigram set:
    * (doc_id, n_tri, n_common, bp_ppm) where n_common counts the trigram
    * POSITIONS whose trigram occurs in >= `minDf` distinct documents and
    * bp_ppm = n_common * 1e6 / n_tri (truncating). High scores mark
    * template/boilerplate text (navigation chrome, license footers,
    * parked-domain bodies) that near-dedup misses because each page also
    * carries unique noise.
    *
    * Scale shape: document-frequency aggregation is the only shuffle, and
    * it is gram-keyed with map-side partial counts; the frequent-gram set
    * is the head of the corpus Zipf curve — tiny at any corpus size for a
    * fixed df threshold relative to corpus — so it collapses to ONE array
    * row that re-joins as a broadcast nested loop (the x_cur1 decile
    * pattern). Scoring is then a narrow per-row array filter: the corpus
    * is never shuffled by doc_id, sorted, or windowed.
    */
  def boilerplateScore(docs: DataFrame, minDf: Int): DataFrame =
    withBoilerplate(docs, minDf)
      .select(col("doc_id"), col("n_tri"), col("n_common"), col("bp_ppm"))

  /** [[boilerplateScore]] keeping every input column — the Corpus
    * annotation form. No doc-keyed join anywhere: the score is computed
    * in place on each row against the broadcast commons array, with the
    * membership count as the native `sorted_count_in` binary search —
    * `array_contains` in a per-position lambda is a linear scan whose
    * O(positions x |commons|) cost was measured at 300+ s the moment the
    * common-gram set reached 25k entries (sf0.1); binary search keeps the
    * identical zero-doc-shuffle plan at O(positions x log |commons|).
    */
  def withBoilerplate(docs: DataFrame, minDf: Int): DataFrame =
    scoreAgainstCommons(docs, boilerplateCommons(docs, minDf))

  /** Per-doc trigram-array annotation (`__tris`), shared by commons
    * extraction and scoring. Docs under 3 tokens are dropped.
    */
  private def withTris(docs: DataFrame): DataFrame = docs
    .withColumn("__ws", graft.clean.CleanFns.tokens(col("text")))
    .filter(size(col("__ws")) >= 3)
    .withColumn("__tris", expr(
      "transform(sequence(1, size(__ws) - 2), i -> concat_ws(' ', element_at(__ws, i), element_at(__ws, i + 1), element_at(__ws, i + 2)))"))
    .drop("__ws")

  /** The corpus-frequent trigram set as ONE sorted-array row — built
    * batch-side (one gram-keyed shuffle with partial counts), then
    * reusable as the broadcast side of [[scoreAgainstCommons]], including
    * as the STATIC side of the streaming scorer
    * (`streaming.DocStreams.boilerplateScored`).
    */
  def boilerplateCommons(docs: DataFrame, minDf: Int): DataFrame =
    withTris(docs)
      .select(col("doc_id"), explode(array_distinct(col("__tris"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .agg(sort_array(collect_list(col("g"))).as("__commons"))

  /** Score `docs` against a pre-built commons row: a stateless narrow
    * transform (trigram expansion + native binary-search count against
    * the broadcast array) — stream-capable, zero doc shuffles.
    */
  def scoreAgainstCommons(docs: DataFrame, commons: DataFrame): DataFrame = {
    withTris(docs)
      .crossJoin(broadcast(commons)) // 1-row build side -> broadcast nested loop
      .withColumn("n_tri", size(col("__tris")).cast("long"))
      .withColumn("n_common", sorted_count_in(col("__tris"), col("__commons")))
      .withColumn("bp_ppm", expr("(n_common * 1000000) DIV n_tri"))
      .drop("__tris", "__commons")
  }

  /** X-TXT13 — boilerplate scoring over the documents table (df >= 5). */
  private val txt13 = Probe(
    "x_txt13_boilerplate",
    s"""WITH d AS (
      |  SELECT doc_id, ${graft.clean.CleanFns.tokensDuck("text")} AS ws FROM documents),
      |t AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(ws) - 1),
      |                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tris
      |  FROM d WHERE len(ws) >= 3),
      |df AS (
      |  SELECT g, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, tris[i] AS g
      |    FROM t, UNNEST(generate_series(1, len(tris))) AS u(i))
      |  GROUP BY g),
      |cg AS (SELECT list_sort(list(g)) AS commons FROM df WHERE df >= 5)
      |SELECT doc_id, CAST(len(tris) AS BIGINT) AS n_tri,
      |       CAST(len(list_filter(tris, g -> list_contains(cg.commons, g))) AS BIGINT) AS n_common,
      |       (len(list_filter(tris, g -> list_contains(cg.commons, g))) * 1000000) // len(tris) AS bp_ppm
      |FROM t, cg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    boilerplateScore(Tables.spread(s, dir, "documents"), minDf = 5).orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(cur2, txt13)
}

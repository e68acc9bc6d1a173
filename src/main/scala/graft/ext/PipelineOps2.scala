package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Prefix dedup, TF-IDF term scoring, and vocabulary statistics.
  *
  * Scale design notes (100 TB):
  * - TF-IDF's document-frequency table is vocabulary-sized (≪ corpus), so
  *   it broadcasts; the corpus-side term stream is shuffled exactly once
  *   (the (doc, term) aggregation, with map-side combine).
  * - Prefix dedup is one shuffle on the prefix hash; vocabulary stats are
  *   a two-level aggregation with partial combine at every step.
  */
object PipelineOps2 {

  /** X-DED8 — prefix dedup: documents sharing their first 8 tokens are
    * near-certain boilerplate/template duplicates (the cheap URL-prefix /
    * header-dedup pass that runs before any MinHash). One shuffle on the
    * prefix; survivor is the minimum doc_id (deterministic at any
    * partitioning). Reports only the duplicate groups.
    */
  private val ded8 = Probe(
    "x_ded8_prefix_dedup",
    """WITH p AS (
      |  SELECT doc_id,
      |    list_aggregate(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')[1:8], 'string_agg', ' ') AS prefix
      |  FROM documents)
      |SELECT CAST(min(doc_id) AS BIGINT) AS survivor_id,
      |  CAST(count(*) AS BIGINT) AS n_dups, prefix
      |FROM p GROUP BY prefix HAVING count(*) > 1
      |ORDER BY survivor_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws(" ", slice(graft.clean.CleanFns.tokens(col("text")), 1, 8)).as("prefix"))
      .groupBy("prefix")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)
      .select(col("survivor_id"), col("n_dups"), col("prefix"))
      .orderBy("survivor_id")
  }

  /** X-TXT8 — TF-IDF top term per document, in exact integer arithmetic
    * (score_ppm = tf * 1e6 DIV df — truncating division on both engines, no
    * float logs to drift in the last ulp). Ties break on the
    * lexicographically smallest term. The per-(doc, term) tf aggregation is
    * persisted because it feeds both the score join AND the df rollup —
    * Catalyst does not share the subtree, and re-tokenizing a 100 TB corpus
    * twice is the cost this avoids (at scale: a parquet checkpoint).
    *
    * The tf⋈df join strategy is deliberately left to AQE: on this corpus df
    * fits the auto-broadcast threshold and resolves to a broadcast join
    * (pinned by PlanAuditSpec), but df is VOCABULARY-sized — a real web
    * corpus has 10⁹+ distinct types, far past any broadcastable bound — so
    * a forced broadcast() hint here would OOM the driver at scale. When df
    * outgrows the threshold AQE falls back to a shuffle join on term, which
    * tf (already keyed by term from its own aggregation) pays one exchange
    * for. A production variant can bound df with a min_df cutoff first.
    */
  private val txt8 = Probe(
    "x_txt8_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, u.term
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents),
      |       UNNEST(ws) AS u(term)),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score_ppm
      |  FROM tf JOIN df USING (term)),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score_ppm DESC, term ASC) AS rn
      |  FROM sc)
      |SELECT doc_id, term, tf, df, score_ppm FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tf = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(graft.clean.CleanFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score_ppm", expr("tf * 1000000 DIV df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score_ppm"))
      .orderBy("doc_id")
  }

  /** X-TXT9 — per-language vocabulary statistics: token mass, distinct
    * types, hapax legomena, and type/token ratio in ppm. Two-level
    * aggregation — (lang, term) counts then a per-lang rollup — so every
    * exchange carries vocabulary-sized data after map-side combine, never
    * raw tokens.
    */
  private val txt9 = Probe(
    "x_txt9_vocab",
    """WITH tok AS (
      |  SELECT lang, u.term
      |  FROM (SELECT lang, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents),
      |       UNNEST(ws) AS u(term)),
      |tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2)
      |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax,
      |  CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_ppm
      |FROM tc GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("lang"), explode(graft.clean.CleanFns.tokens(col("text"))).as("term"))
      .groupBy("lang", "term")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("lang")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 DIV n_tokens"))
      .orderBy("lang")
  }

  val all: Seq[Probe] = Seq(ded8, txt8, txt9)
}

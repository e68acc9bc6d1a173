package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-level dedup with document reconstruction, corpus-wide
  * (x_ded18) and within one document (x_ded22).
  *
  * Scale design notes per operator are on each probe; the shared theme is
  * that candidate generation is bounded by segment digests — nothing here
  * pairs the corpus with itself globally.
  */
object PipelineOps8 {

  private val segWords = 16

  /** Segment a token array into consecutive `segWords`-word chunks,
    * rendered back to strings — the deterministic stand-in for "lines /
    * paragraphs" on a corpus whose synthetic text has no newlines. The
    * plumbing (segment → first-occurrence window → ordered reassembly) is
    * exactly the line-dedup stage of a web-crawl pipeline.
    */
  private def segsSpark: Column = expr(segsSparkSql)

  private[ext] def segsDuck: String =
    s"""list_transform(generate_series(1, CAST(ceil(len(ws) / $segWords.0) AS BIGINT)),
       |  k -> array_to_string(ws[((k - 1) * $segWords + 1):(k * $segWords)], ' '))""".stripMargin

  /** LINE-AWARE segment array (round-9 verdict #3): when the text
    * carries newline structure (block-preserving [[graft.clean.HtmlFns]]
    * extraction), segments are the real non-empty LINES — the unit the
    * Gopher/CCNet duplicate-line statistics are defined on; otherwise
    * the 16-word proxy. Expects `text` AND `ws` in scope; empty-token
    * newline-free docs yield an empty array (callers filter).
    */
  private[ext] def segsAutoSpark: Column = expr(segsAutoSparkSql)

  private[ext] def segsAutoSparkSql: String =
    s"""CASE WHEN contains(text, '\\n')
       |  THEN filter(split(text, '\\n', -1), sg -> length(sg) > 0)
       |  WHEN size(ws) > 0 THEN ${segsSparkSql}
       |  ELSE filter(array(''), sg -> false) END""".stripMargin

  private[ext] def segsSparkSql: String =
    s"""transform(sequence(1, CAST(ceil(size(ws) / $segWords.0) AS INT)),
       |  k -> concat_ws(' ', slice(ws, (k - 1) * $segWords + 1, $segWords)))""".stripMargin

  /** DuckDB twin of [[segsAutoSpark]] (`text`, `ws` in scope). */
  private[ext] def segsAutoDuck: String =
    s"""CASE WHEN contains(text, chr(10))
       |  THEN list_filter(string_split(text, chr(10)), sg -> sg <> '')
       |  WHEN len(ws) > 0 THEN $segsDuck
       |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** (doc_id, n_segs, seg_idx, seg) under the line-aware segmentation —
    * the [[segments]] shape with real lines when present.
    */
  def segmentsAuto(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("text"), CleanFns.tokens(col("text")).as("ws"))
    .select(col("doc_id"), segsAutoSpark.as("segs"))
    .filter(size(col("segs")) > 0)
    .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
      posexplode(col("segs")).as(Seq("seg_idx", "seg")))

  /** X-DED18 — cross-document SEGMENT dedup with document reconstruction
    * (the "remove duplicated lines across the crawl, keep the rest of the
    * page" stage): each document is split into consecutive 16-word
    * segments; a segment survives only at its FIRST corpus occurrence
    * (min (doc_id, seg_idx)); each document is then rebuilt from its
    * surviving segments in original order.
    *
    * Scale shape: two exchanges. (1) the first-occurrence window keyed on
    * `md5(segment)` — a FIXED-WIDTH shuffle key regardless of segment
    * length (the x_ded10 gram-digest lesson), with a per-key payload of
    * (doc_id, seg_idx) only; (2) the group-back by doc_id to reassemble.
    * Both are map-side-combinable aggregations/windows over keys with
    * corpus-proportional cardinality — no self-join, nothing quadratic.
    * Documents whose every segment is a repeat vanish (n_kept would be 0),
    * exactly the line-dedup drop semantics.
    */
  private val ded18 = Probe(
    "x_ded18_segment_dedup",
    s"""WITH w AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) > 0),
       |s0 AS (SELECT doc_id, ${segsDuck} AS segs FROM w),
       |seg AS (
       |  SELECT doc_id, len(segs) AS n_segs, k AS seg_idx, segs[k] AS seg
       |  FROM s0, UNNEST(generate_series(1, len(segs))) AS t(k)),
       |first AS (
       |  SELECT doc_id, n_segs, seg_idx, seg FROM (
       |    SELECT doc_id, n_segs, seg_idx, seg,
       |           row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
       |    FROM seg)
       |  WHERE rn = 1)
       |SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |       string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
       |FROM first GROUP BY doc_id, n_segs ORDER BY doc_id""".stripMargin) { (s, dir) =>
    segmentDedup(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** (doc_id, n_segs, seg_idx, seg): every document's 16-word segments —
    * the shared segmentation stage of x_ded18, the streaming first-seen
    * form, and the persisted [[SegIndex]].
    */
  def segments(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
    .filter(size(col("ws")) > 0)
    .select(col("doc_id"), segsSpark.as("segs"))
    .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
      posexplode(col("segs")).as(Seq("seg_idx", "seg")))

  /** The reusable operator behind x_ded18: (doc_id, n_segs, n_kept,
    * text_kept) for every document with at least one surviving segment.
    */
  def segmentDedup(docs: DataFrame): DataFrame = {
    val seg = segments(docs)
    val firstWin = Window.partitionBy(md5(col("seg"))).orderBy(col("doc_id"), col("seg_idx"))
    seg
      .withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"), col("n_segs"))
      .agg(count(lit(1)).as("n_kept"),
        // ordered reassembly without a sort exchange: collect + in-place
        // array_sort on (seg_idx, seg) structs, the cent1/x_sim4 pattern
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(seg_idx, seg))), p -> p.seg))")
          .as("text_kept"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"), col("text_kept"))
  }

  /** The NARROW intra-document form of segment dedup: drop segments
    * repeated WITHIN the same document (keep each first occurrence),
    * entirely inside one row — an indexed-lambda filter over the segment
    * array, so the operator is zero-exchange and stream-capable by
    * construction (x_ded18 needs a corpus-wide shuffle because its
    * survivor is global; a within-page repeat needs no other row).
    */
  def intraDocSegmentDedup(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
    .filter(size(col("ws")) > 0)
    .select(col("doc_id"), segsSpark.as("segs"))
    .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
      expr("filter(segs, (x, i) -> array_position(segs, x) = i + 1)").as("kept"))
    .select(col("doc_id"), col("n_segs"), size(col("kept")).cast("long").as("n_kept"),
      concat_ws(" ", col("kept")).as("text_kept"))

  /** X-DED22 — intra-document segment dedup: the within-page repeat
    * remover (chat transcripts that quote themselves, scraped pages that
    * render a block twice, template stutter) — the stage that runs BEFORE
    * cross-corpus dedup so repeated-within content can't dominate a
    * document's own signature. The oracle replicates the first-occurrence
    * index algebra relationally.
    */
  private val ded22 = Probe(
    "x_ded22_intradoc_segments",
    s"""WITH w0 AS (
       |  SELECT doc_id, ${CleanFns.tokensDuck("text")} AS ws FROM documents
       |  WHERE len(${CleanFns.tokensDuck("text")}) > 0),
       |s0 AS (SELECT doc_id, $segsDuck AS segs FROM w0),
       |k AS (
       |  SELECT doc_id, len(segs) AS n_segs,
       |         list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
       |  FROM s0)
       |SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs,
       |       CAST(len(kept) AS BIGINT) AS n_kept,
       |       array_to_string(kept, ' ') AS text_kept
       |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
    intraDocSegmentDedup(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(ded18, ded22)
}

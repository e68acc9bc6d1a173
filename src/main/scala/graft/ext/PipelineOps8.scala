package graft.ext

import graft.{Probe, Tables}
import graft.clean.CleanFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.{dot_d, sq_dist}

/** Round-7 additions (second wave): segment-level dedup with document
  * reconstruction, cluster-scoped semantic dedup (SemDeDup shape) and a
  * count-min heavy-hitter sketch.
  *
  * Scale design notes per operator are on each probe; the shared theme is
  * that every candidate-generation stage is bounded (segment digests,
  * IVF cells, fixed-width sketches) — nothing here pairs the
  * corpus with itself globally.
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

  private val semTau = 0.35
  private[graft] val semCap = 16 // per-vector candidate cap (cell heads)

  /** X-DED19 — SemDeDup-shaped semantic dedup: embeddings are assigned to
    * IVF cells (x_sim3's deterministic coarse quantizer — centroids = the
    * first 8 vectors, exact-integer L2), and WITHIN each cell any vector
    * whose cosine to a lower-id CANDIDATE cell-mate reaches tau is
    * dropped. Candidates are the cell's `semCap` lowest-id members (its
    * "heads") — the x_ded13b candidate-cap discipline applied to the
    * clustering-scoped sibling: an uncapped within-cell self-join is
    * quadratic in cell size when one mega-cell forms (template storm,
    * 8 fixed centroids = a skewable key). Ranking candidates by id keeps
    * the capped semantics DETERMINISTIC and oracle-expressible, and makes
    * the storm case exact: identical vectors share a cell whose minimum
    * id is always a head, so every clone still finds its witness.
    *
    * This is the cluster-scoped regime of semantic dedup (SemDeDup,
    * Abbas et al. 2023, public): the LSH chain (x_ded13+) bounds candidates
    * by hash-bucket collisions; this one bounds them by cluster membership
    * AND the head cap, which a pipeline that ALREADY clusters for
    * curriculum/mixing gets for free. Per-cell cost is |cell| x semCap
    * (never |cell|^2); the head table is centroids x semCap rows — a
    * broadcast, so the corpus is shuffled once (by cell, for head
    * election) and the verify pass is a broadcast join. Cell assignment
    * itself is a narrow map against broadcast centroids.
    *
    * Output: every vector with its cell, the (capped — like x_ded13b's
    * collision counts) count of lower-id in-cell near-neighbor candidates,
    * and the keep verdict.
    */
  private val ded19 = Probe(
    "x_ded19_semdedup",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id < 8),
       |ad AS (
       |  SELECT iv.vec_id, cent.c_id,
       |         list_sum(list_transform(list_zip(iv.v, cent.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv, cent),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM ad)
       |  WHERE rn = 1),
       |n AS (SELECT a.vec_id, a.cell, iv.v,
       |             list_sum(list_transform(iv.v, x -> x * x)) AS n2
       |      FROM assign a JOIN iv ON iv.vec_id = a.vec_id),
       |heads AS (
       |  SELECT vec_id AS y_id, cell, v AS yv, n2 AS yn2 FROM (
       |    SELECT vec_id, cell, v, n2,
       |           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS hrn
       |    FROM n)
       |  WHERE hrn <= $semCap),
       |close AS (
       |  SELECT x.vec_id, CAST(COUNT(*) AS BIGINT) AS n_close
       |  FROM n x JOIN heads y ON x.cell = y.cell AND y.y_id < x.vec_id
       |  WHERE y.yn2 > 0 AND x.n2 > 0
       |    AND list_sum(list_transform(list_zip(x.v, y.yv), z -> z[1] * z[2])) /
       |        sqrt(x.n2 * y.yn2) >= $semTau
       |  GROUP BY x.vec_id)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |       COALESCE(c.n_close, 0) AS n_close,
       |       CAST(CASE WHEN c.n_close IS NULL THEN 1 ELSE 0 END AS INT) AS keep
       |FROM assign a LEFT JOIN close c ON c.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
    semDedup(Tables(s, dir, "embeddings"), semTau).orderBy("vec_id")
  }

  /** The reusable operator behind x_ded19: (vec_id, cell, n_close, keep)
    * for every embedding, `keep = 1` iff no lower-id CANDIDATE in the
    * same IVF cell has cosine >= tau. `n_close` counts close candidates.
    *
    * `cap` picks the verdict's recall/scale point:
    *   - cap > 0 (default 16): candidates are the cell's `cap` lowest-id
    *     HEADS — per-vector work <= cap at any cell skew (the broadcast
    *     head table), but a near-dup pair entirely among NON-head members
    *     of a giant cell is missed (the LSH chain x_ded13+ is the recall
    *     path for those).
    *   - cap <= 0: UNCAPPED exact-within-cell semantics — every lower-id
    *     cell-mate is a candidate via a cell-keyed self-join. Cost is
    *     |cell|² on the largest cell: correct at broadcast/moderate
    *     scale, the known quadratic at web scale (round-7 verdict).
    */
  def semDedup(embeddings: DataFrame, tau: Double, cap: Int = semCap): DataFrame = {
    val assign = semAssign(embeddings)
    val close = semCandidates(assign, cap)
      .filter(col("xn2") > 0 && col("yn2") > 0)
      .filter(dot_d(col("xv"), col("yv")) / sqrt(col("xn2") * col("yn2")) >= tau)
      .groupBy("vec_id").agg(count(lit(1)).as("n_close"))
    assign.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        when(col("n_close").isNull, 1).otherwise(0).cast("int").as("keep"))
  }

  /** (vec_id, cell, v, n2) with each vector's nearest of the 8 fixed
    * centroids — narrow map over broadcast centroids.
    */
  private def semAssign(embeddings: DataFrame): DataFrame = {
    val iv = embeddings.select(col("vec_id"), expr(Similarity.intVec).as("v"))
    val cent = iv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_id"))
    iv.crossJoin(broadcast(cent))
      .withColumn("d2", sq_dist(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"), col("v"),
        dot_d(col("v"), col("v")).as("n2"))
  }

  /** The bounded candidate pairs (vec_id, y_id, cell, xv/yv, xn2/yn2):
    * each vector against the lower-id members of its cell's head set.
    * Heads (the `cap` lowest ids per cell) are elected with a TWO-LEVEL
    * sharded top-K — per-(cell, shard) row_number then per-cell over the
    * <= 64*cap survivors (the x_mix3b discipline) — so a mega-cell never
    * funnels its full population through one window task. The head table
    * is centroids x cap rows -> broadcast: the verify pass shuffles
    * nothing, and per-vector work is <= cap regardless of cell skew.
    * Exposed for PipelineOps8Spec's storm fixture (candidates <= cap * n).
    */
  private[graft] def semCandidates(assign: DataFrame, cap: Int): DataFrame = {
    val x = assign
      .select(col("vec_id"), col("cell"), col("v").as("xv"), col("n2").as("xn2"))
    if (cap <= 0) {
      // uncapped exact-within-cell pairs: cell-keyed self-join (shuffle,
      // |cell|^2 on the largest cell) — the recall-exact route
      val y = assign.select(col("vec_id").as("y_id"), col("cell"),
        col("v").as("yv"), col("n2").as("yn2"))
      x.join(y, Seq("cell")).filter(col("y_id") < col("vec_id"))
    } else {
      val shards = 64
      val wS = Window.partitionBy(col("cell"), col("shard")).orderBy(col("vec_id"))
      val wC = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
      val heads = assign
        .withColumn("shard", pmod(col("vec_id"), lit(shards)))
        .withColumn("srn", row_number().over(wS)).filter(col("srn") <= cap)
        .withColumn("hrn", row_number().over(wC)).filter(col("hrn") <= cap)
        .select(col("vec_id").as("y_id"), col("cell"), col("v").as("yv"),
          col("n2").as("yn2"))
      x.join(broadcast(heads), Seq("cell"))
        .filter(col("y_id") < col("vec_id"))
    }
  }

  /** Candidate pairs for a raw embeddings frame — spec entry point. */
  private[graft] def semDedupCandidates(embeddings: DataFrame, cap: Int = semCap): DataFrame =
    semCandidates(semAssign(embeddings), cap)

  // --------------------------------------------------------- count-min

  private val cmsRows = 3 // k hash rows, disjoint 2-hex-digit windows of one md5
  private val cmsSlotHex = 2 // 2 hex digits -> 256 slots per row

  /** Spark-SQL fragment: row r's slot (0-255) for token column `tkn` —
    * hex window r of one md5, the x_dec3 k-from-one-hash construction.
    */
  private[ext] def slotSpark(r: Int): String =
    s"CAST(conv(substr(md5(tkn), ${1 + cmsSlotHex * r}, $cmsSlotHex), 16, 10) AS INT)"

  /** The count-min sketch cells (r, slot, c) of a documents frame — ONE
    * map-side-combined aggregation of the token stream into <= 768 cells.
    * Shared by the x_skt1 probe, the streaming build
    * (`DocStreams.countMinCells`), and the persisted [[SketchStore]].
    */
  def countMinCells(docs: DataFrame): DataFrame =
    countMinCellsOfTokens(docs.select(explode(CleanFns.tokens(col("text"))).as("tkn")))

  /** The same build over an already-tokenized stream (one `tkn` column) —
    * lets any keyed stream (words, shingles, ids) be sketched.
    */
  def countMinCellsOfTokens(tokens: DataFrame): DataFrame = tokens
    .select(explode(array((0 until cmsRows).map(r =>
      struct(lit(r).as("r"), expr(slotSpark(r)).as("slot"))): _*)).as("rs"))
    .groupBy(col("rs.r").as("r"), col("rs.slot").as("slot"))
    .agg(count(lit(1)).as("c"))

  /** The exact top-10 tokens with their per-row sketch slots — the query
    * side of the count-min probes.
    */
  private[ext] def topTokensWithSlots(docs: DataFrame): DataFrame = {
    val tok = docs.select(explode(CleanFns.tokens(col("text"))).as("tkn"))
    tok.groupBy("tkn").agg(count(lit(1)).as("n_exact"))
      // top-k via orderBy+limit -> TakeOrderedAndProject, not a
      // global-window SinglePartition shuffle
      .orderBy(col("n_exact").desc, col("tkn"))
      .limit(10)
      .select(col("tkn"), col("n_exact"),
        explode(array((0 until cmsRows).map(r =>
          struct(lit(r).as("r"), expr(slotSpark(r)).as("slot"))): _*)).as("q"))
  }

  /** x_skt1's oracle SQL — shared verbatim with x_skt1b (the persisted-
    * sketch route must produce the identical table).
    */
  private[ext] lazy val countMinOracleSql: String =
    s"""WITH tok AS (
       |  SELECT tkn FROM (SELECT ${CleanFns.tokensDuck("text")} AS ws FROM documents),
       |       UNNEST(ws) AS u(tkn)),
       |cms AS (
       |  SELECT r, slot, COUNT(*) AS c FROM (
       |    SELECT 0 AS r, ${slotDuck(0)} AS slot, tkn FROM tok
       |    UNION ALL SELECT 1, ${slotDuck(1)}, tkn FROM tok
       |    UNION ALL SELECT 2, ${slotDuck(2)}, tkn FROM tok)
       |  GROUP BY r, slot),
       |exact AS (
       |  SELECT tkn, COUNT(*) AS n_exact FROM tok GROUP BY tkn),
       |top AS (
       |  SELECT tkn, n_exact FROM (
       |    SELECT tkn, n_exact, row_number() OVER (ORDER BY n_exact DESC, tkn) AS rn FROM exact)
       |  WHERE rn <= 10),
       |est AS (
       |  SELECT t.tkn, t.n_exact, MIN(m.c) AS n_est
       |  FROM top t
       |  JOIN cms m ON (m.r = 0 AND m.slot = ${slotDuck(0).replace("md5(tkn)", "md5(t.tkn)")})
       |             OR (m.r = 1 AND m.slot = ${slotDuck(1).replace("md5(tkn)", "md5(t.tkn)")})
       |             OR (m.r = 2 AND m.slot = ${slotDuck(2).replace("md5(tkn)", "md5(t.tkn)")})
       |  GROUP BY t.tkn, t.n_exact)
       |SELECT tkn, CAST(n_exact AS BIGINT) AS n_exact, CAST(n_est AS BIGINT) AS n_est
       |FROM est ORDER BY n_exact DESC, tkn""".stripMargin

  /** DuckDB keeps the slot as the raw hex window (membership/grouping is
    * representation-independent; Spark groups on the integer form).
    */
  private def slotDuck(r: Int): String =
    s"substr(md5(tkn), ${1 + cmsSlotHex * r}, $cmsSlotHex)"

  /** X-SKT1 — count-min sketch heavy hitters: token frequencies estimated
    * from a FIXED-SIZE sketch (3 rows x 256 slots), surfaced next to the
    * exact counts for the exact top-10 tokens so the one-sided sketch error
    * (estimate >= exact, never under) is visible in the checked output.
    *
    * Scale story: the sketch build is ONE map-side-combined aggregation of
    * the token stream into <= 768 cells — the shuffle moves at most 768
    * rows per mapper no matter the corpus size, and sketches merge by cell
    * addition (associative), so a 1000-executor build is the same plan.
    * The exact top-10 here is the oracle-side ground truth; at 100 TB the
    * sketch IS the product (exact per-token counts need a corpus-wide
    * groupBy on a potentially huge vocabulary; the sketch answers point
    * queries from kilobytes). Slot functions are disjoint hex windows of
    * one md5 per token — deterministic and engine-portable, so the
    * estimate column (collisions included) is itself oracle-checked.
    */
  private val skt1 = Probe(
    "x_skt1_countmin_heavy", countMinOracleSql) { (s, dir) =>
    estimateTopTokens(Tables(s, dir, "documents"),
      countMinCells(Tables(s, dir, "documents")))
  }

  /** Estimate the exact top-10 tokens' counts from a cells frame — the
    * query stage shared by x_skt1 (inline build) and x_skt1b (persisted
    * sketch).
    */
  def estimateTopTokens(docs: DataFrame, cms: DataFrame): DataFrame =
    topTokensWithSlots(docs)
      .join(broadcast(cms),
        col("q.r") === col("r") && col("q.slot") === col("slot"))
      .groupBy(col("tkn"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
      .select(col("tkn"), col("n_exact"), col("n_est"))
      .orderBy(col("n_exact").desc, col("tkn"))

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

  val all: Seq[Probe] = Seq(ded18, ded19, ded22, skt1)
}

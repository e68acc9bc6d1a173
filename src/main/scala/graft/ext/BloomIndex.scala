package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted Bloom membership filter over document digests: the tier
  * BELOW [[BandIndex]]/[[SegIndex]] in the incremental-dedup stack.
  *
  * The parquet indexes answer "which released doc collides?" but every
  * probe still touches index partitions. A Bloom filter answers the
  * cheaper question — "is this digest DEFINITELY new?" — from an
  * artifact of `m` bits total (kilobytes to a few MB at any corpus
  * size the caller budgets for), which is the thing you ship to every
  * ingest worker: a 100 TB daily-crawl run drops definite-new docs
  * through with ZERO index I/O and confirm-joins only the Bloom
  * positives against the exact digest index. No false negatives by
  * construction, so prefilter + confirm ≡ exact membership — which is
  * precisely what the x_ded24 oracle hash-checks (it computes plain
  * exact membership; the probe computes bloom-then-confirm).
  *
  * Construction (engine-portable, no JVM-private hashing): per text,
  * `h = md5(text)`; h1/h2 are the first/second 15 hex chars parsed as
  * integers (60-bit, positive); h2 is forced odd. The k probe positions
  * are double hashing g_i = (h1 + i·h2) mod m (Kirsch & Mitzenmacher
  * 2006 — k positions from two hashes loses nothing asymptotically),
  * computed as (h1%m + i·(h2%m)) % m so nothing overflows. Bits pack
  * 32 per BIGINT word (shift ≤ 31 — DuckDB raises on 1<<63, and a
  * 31-bit shift stays positive in both engines): word = g/32,
  * bit = g%32. The stored artifact is the SPARSE set word rows
  * (word, bits) — at most m/32 rows — built with one digest-keyed
  * aggregation (bit_or) and small enough to broadcast at probe time.
  *
  * Relation to [[PipelineOps7.gramBloom]]/`bloom_hits`: that filter is
  * the IN-PLAN form — a dense one-row bitmap over n-GRAM digests,
  * geometry tied to hex-digit boundaries (k·16^hexChars slots),
  * rebuilt per run and probed by a native expression with zero
  * exchanges. This one is the SHIPPED-ARTIFACT form: whole-document
  * digests, m any power of two (sized to the released corpus, not to
  * digit widths), persisted sparse (a young filter's parquet is
  * proportional to SET words, not to m), probed by a broadcast join so
  * an m too big to hold densely in every task still works. Same
  * no-false-negative algebra, different tier.
  */
object BloomIndex {

  /** Default geometry: 2^16 bits / 5 hashes ≈ 1% false positives at
    * ~6.5k distinct digests. Production sizes m ≈ 10·n rounded up to a
    * power of two and k ≈ 7; both are plumbed through every entry
    * point — the defaults only pin the probe/oracle literals.
    */
  val defaultBits = 65536
  val defaultK = 5

  /** The k probe rows of each doc's digest: (doc_id, h, w, bv) — the
    * digest rides along so downstream stages (the confirm join) never
    * rescan or re-digest the shard.
    */
  private def probeRows(docs: DataFrame, m: Int, k: Int): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .select(col("doc_id"), col("h"),
        expr("cast(conv(substr(h, 1, 15), 16, 10) as bigint)").as("h1"),
        expr("cast(conv(substr(h, 16, 15), 16, 10) as bigint) | 1").as("h2"))
      .select(col("doc_id"), col("h"), explode(expr(
        s"transform(sequence(0, ${k - 1}), i -> (h1 % $m + i * (h2 % $m)) % $m)")).as("g"))
      .select(col("doc_id"), col("h"), (col("g") / 32).cast("long").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(g % 32 as int))").as("bv"))

  /** One pass over `docs` (doc_id, text): the sparse Bloom word table
    * (w, bits) written at `dir/bloom`, plus the GEOMETRY row (m, k) at
    * `dir/meta` — a filter probed under a different (m, k) than it was
    * built with silently produces false negatives, so the geometry is
    * part of the artifact and the readers that matter ([[loadMeta]],
    * `Corpus.dedupExactIncremental`, [[mergeBloom]]) take it from disk
    * rather than trusting a caller to repeat it.
    */
  def build(docs: DataFrame, dir: String,
      m: Int = defaultBits, k: Int = defaultK): Unit = {
    probeRows(docs, m, k)
      .groupBy("w").agg(expr("bit_or(bv)").as("bits"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bloom")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((m, k)).toDF("m", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bloom")

  /** The stored geometry (m, k) of the filter at `dir`. */
  def loadMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val r = spark.read.parquet(s"$dir/meta").collect()(0)
    (r.getInt(0), r.getInt(1))
  }

  /** Merge a NEW SHARD's digests into the filter at `basePath`, writing
    * the union filter to `outPath` — Bloom bitmaps of the SAME geometry
    * OR together exactly (bloom(A) | bloom(B) = bloom(A ∪ B), bit for
    * bit), so the shipped artifact stays current without ever rescanning
    * the released corpus: the daily increment costs one pass over the
    * shard plus a bit_or over ≤ m/32 words (the [[LanguageModels.mergeKnTypes]] /
    * BandIndex daily-increment shape at the filter tier). The geometry
    * comes from the BASE artifact's meta — it is a property of the
    * filter, not a per-call choice — and is carried to `outPath`.
    */
  def mergeBloom(spark: SparkSession, basePath: String, shard: DataFrame,
      outPath: String): Unit = {
    val (m, k) = loadMeta(spark, basePath)
    spark.read.parquet(s"$basePath/bloom")
      .unionAll(probeRows(shard, m, k).select(col("w"), col("bv").as("bits")))
      .groupBy("w").agg(expr("bit_or(bits)").as("bits"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outPath/bloom")
    import spark.implicits._
    Seq((m, k)).toDF("m", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/meta")
  }

  /** Per-doc Bloom verdict for `shard` against a built filter:
    * (doc_id, bloom_pos) where bloom_pos = 1 iff ALL k probed bits are
    * set. The filter broadcasts (≤ m/32 rows by construction); the
    * shard side stays narrow — k rows per doc, one broadcast-hash join,
    * one per-doc aggregation.
    */
  def mightContain(shard: DataFrame, bloom: DataFrame,
      m: Int = defaultBits, k: Int = defaultK): DataFrame =
    flaggedWithDigest(shard, bloom, m, k).select("doc_id", "bloom_pos")

  /** [[mightContain]] with the content digest riding along: (doc_id,
    * bloom_pos, h) — one shard scan serves both the verdict and any
    * downstream digest consumer.
    */
  private def flaggedWithDigest(shard: DataFrame, bloom: DataFrame,
      m: Int, k: Int): DataFrame =
    probeRows(shard, m, k)
      .join(broadcast(bloom), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(min(when(coalesce(expr("bits & bv"), lit(0L)) =!= 0L, 1L)
        .otherwise(0L)).as("bloom_pos"),
        max(col("h")).as("h"))

  /** The sparse word table as a dense ONE-ROW bitmap array (length m/32)
    * — the zero-state form: broadcast it with a nested-loop join and
    * test bits per row ([[mightContainDense]]), no aggregation, so the
    * stream door can run it inside a micro-batch projection. Use when m
    * is small enough to hold densely in every task (the
    * [[PipelineOps7.gramBloom]] regime); stay with the sparse join form
    * beyond that.
    */
  def denseRow(bloom: DataFrame, m: Int = defaultBits): DataFrame =
    bloom
      .agg(expr("map_from_arrays(collect_list(w), collect_list(bits))").as("mp"))
      .select(expr(
        s"transform(sequence(0L, ${m / 32 - 1}L), w -> coalesce(element_at(mp, w), 0L))")
        .as("__bloom"))

  /** Per-row Bloom verdict against a [[denseRow]] bitmap: (doc_id,
    * bloom_pos) with identical semantics to [[mightContain]] but ZERO
    * exchanges and zero state — a narrow codegen projection after the
    * 1-row broadcast, the stream-capable twin (`DocStreams.bloomSeen`).
    */
  def mightContainDense(shard: DataFrame, dense: DataFrame,
      m: Int = defaultBits, k: Int = defaultK): DataFrame =
    shard
      .select(col("doc_id"), md5(col("text")).as("h"))
      .crossJoin(broadcast(dense))
      .select(col("doc_id"), expr(
        s"""CAST(size(filter(sequence(0, ${k - 1}), i -> (
           |  element_at(__bloom, CAST(
           |    ((cast(conv(substr(h, 1, 15), 16, 10) as bigint) % $m
           |      + i * ((cast(conv(substr(h, 16, 15), 16, 10) as bigint) | 1) % $m)) % $m) DIV 32 AS INT) + 1)
           |  & shiftleft(cast(1 as bigint), CAST(
           |    ((cast(conv(substr(h, 1, 15), 16, 10) as bigint) % $m
           |      + i * ((cast(conv(substr(h, 16, 15), 16, 10) as bigint) | 1) % $m)) % $m) % 32 AS INT))
           |) <> 0L)) = $k AS BIGINT)""".stripMargin).as("bloom_pos"))

  /** The full prefilter-then-confirm regime: every shard doc marked
    * (bloom_pos, is_dup). Docs the filter rules out are definitely new
    * (is_dup = 0, no index I/O); only Bloom POSITIVES confirm-join
    * `baseDigests` (a (h) frame, e.g. the exact-digest index scan), so
    * the expensive exact probe runs on the collision-density fraction,
    * not the shard. No false negatives ⇒ the result equals exact
    * membership — the property the x_ded24 oracle pins.
    */
  def markDuplicates(shard: DataFrame, bloom: DataFrame,
      baseDigests: DataFrame, m: Int = defaultBits,
      k: Int = defaultK): DataFrame = {
    // ONE shard scan: the digest rides through the verdict aggregation,
    // and the confirm join's compound condition (digest equality AND
    // bloom_pos = 1) lets negatives stream through unmatched — only
    // Bloom positives can probe the base side
    val flagged = flaggedWithDigest(shard, bloom, m, k)
    val base = baseDigests
      .select(col("h").as("__bh"), lit(1L).as("__hit")).distinct()
    flagged
      .join(base, flagged("h") === base("__bh") && flagged("bloom_pos") === 1L,
        "left")
      .select(col("doc_id"), col("bloom_pos"),
        coalesce(col("__hit"), lit(0L)).as("is_dup"))
  }

  /** X-DED24 — Bloom-prefiltered incremental exact dedup: the released
    * corpus (doc_id % 3 ≠ 0) builds the m=65536/k=5 filter once; the new
    * shard (doc_id % 3 = 0) is marked (bloom_pos, is_dup) through
    * prefilter-then-confirm. The oracle rebuilds the ENTIRE bit algebra
    * relationally — double hashing, 32-bit word packing, bit_or, the
    * all-k-bits test — and computes is_dup as PLAIN exact membership, so
    * the hash match pins both the cross-engine bit layout and the
    * no-false-negative property (bloom-then-confirm ≡ exact).
    */
  private val ded24 = Probe(
    "x_ded24_bloom_prefilter",
    s"""WITH d AS (
       |  SELECT doc_id, md5(text) AS h FROM documents),
       |hh AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(h, 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(h, 16, 15) AS BIGINT) | 1 AS h2
       |  FROM d),
       |pr AS (
       |  SELECT doc_id,
       |    ((h1 % $defaultBits + i * (h2 % $defaultBits)) % $defaultBits) // 32 AS w,
       |    (1::BIGINT << CAST((h1 % $defaultBits + i * (h2 % $defaultBits)) % $defaultBits % 32 AS INT)) AS bv
       |  FROM hh, UNNEST(generate_series(0, ${defaultK - 1})) AS t(i)),
       |bloom AS (
       |  SELECT w, bit_or(bv) AS bits FROM pr WHERE doc_id % 3 <> 0 GROUP BY w),
       |pos AS (
       |  SELECT pr.doc_id,
       |    MIN(CASE WHEN COALESCE(bloom.bits & pr.bv, 0) <> 0 THEN 1 ELSE 0 END) AS bloom_pos
       |  FROM pr LEFT JOIN bloom ON bloom.w = pr.w
       |  WHERE pr.doc_id % 3 = 0 GROUP BY pr.doc_id),
       |base AS (SELECT DISTINCT h FROM d WHERE doc_id % 3 <> 0)
       |SELECT pos.doc_id, CAST(pos.bloom_pos AS BIGINT) AS bloom_pos,
       |  CAST(CASE WHEN base.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM pos JOIN d ON d.doc_id = pos.doc_id
       |LEFT JOIN base ON base.h = d.h
       |ORDER BY pos.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    // filter built train-once per corpus dir (the shipped artifact);
    // steady-state times prefilter + confirm — the per-shard cost
    val idxDir = graft.util.TrainOnce(s"bloom_index:$dir") {
      val p = graft.util.TempDirs.scratch("graft_bloom_idx")
      build(base, p)
      p
    }
    markDuplicates(docs.filter(col("doc_id") % 3 === 0), load(s, idxDir),
      base.select(md5(col("text")).as("h")))
      .orderBy("doc_id")
  }

  val all: Seq[Probe] = Seq(ded24)
}

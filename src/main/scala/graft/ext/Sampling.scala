package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and mixing: every keep, split, order and
  * replication decision is an md5 coin of an id, never rand(), so a recipe
  * reruns to the same rows at any cluster size and the DuckDB oracles
  * recompute the same digests. The coins are per-row expressions: only
  * the shard-keyed order windows and sources-sized aggregates are wide.
  */
object Sampling {

  /** md5 hex digest of `c` read as a string: the coin. */
  private def digest(c: Column): Column = md5(c.cast("string"))

  /** The first 4 hex digits of an md5 hex `digest` as a number < 65536. */
  private def hex4(digest: Column): Column =
    conv(substring(digest, 1, 4), 16, 10).cast("long")

  /** Stratified downsampling to (doc_id, lang, source): 'en' keeps 2/16,
    * other languages 8/16, by the first hex digit of md5(doc_id).
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val bucket = substring(digest(col("doc_id")), 1, 1)
    docs.filter(when(col("lang") === "en", bucket.isin("0", "1"))
        .otherwise(bucket < "8"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** X-SMP2 — [[stratifiedSample]] over the documents table: the dominant
    * language downsampled, the tail kept, with NO shuffle (the ORDER BY is
    * presentation only).
    */
  private val smp2 = Probe(
    "x_smp2_stratified",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE CASE WHEN lang = 'en'
      |        THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
      |        ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    stratifiedSample(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  /** The `n` rows with the smallest (md5(doc_id), doc_id): a per-partition
    * top-k plus an n-row merge (TakeOrderedAndProject), no global sort.
    */
  def sampleExactN(docs: DataFrame, n: Int): DataFrame =
    docs.orderBy(digest(col("doc_id")), col("doc_id")).limit(n)

  /** X-SMP5 — [[sampleExactN]]: "give me exactly 100 reproducible docs"
    * at any corpus size; the cluster moves N rows, not the corpus.
    */
  private val smp5 = Probe(
    "x_smp5_exact_n",
    """SELECT doc_id, lang, source FROM documents
      |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin) { (s, dir) =>
    sampleExactN(
      Tables(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")), 100)
  }

  /** Deterministic GROUP-keyed split assignment: every document whose
    * `group` hashes into the same bucket lands in the same split, so
    * near-duplicates that share a group (pages of one domain, shards of
    * one source crawl) can never straddle train and test — the
    * train/test-leakage failure mode of row-wise random splits.
    * Content-independent (md5 of the group key, not the text): re-running
    * on a re-crawled corpus keeps every group in its old split.
    *
    * Scale shape: a narrow per-row hash against literal thresholds — no
    * shuffle, no coordination, embarrassingly parallel at any corpus size.
    * `cuts` are cumulative percentage cut-points, e.g. Seq(80, 90) =
    * 80/10/10 train/val/test.
    */
  def splitByGroup(df: DataFrame, group: Column, names: Seq[String],
      cuts: Seq[Int]): DataFrame = {
    require(names.size == cuts.size + 1, "need one more name than cut-point")
    // the foldRight when-chain below is only correct for ascending in-range
    // cut-points; a recipe like Seq(90, 80) must fail loudly, not mislabel
    require(cuts == cuts.sorted && cuts.forall(c => c > 0 && c < 100),
      s"cuts must be strictly ascending percentages in (0, 100); got $cuts")
    require(cuts.distinct == cuts, s"cuts must be distinct; got $cuts")
    val bucket = hex4(digest(group)) % 100
    val split = cuts.zip(names).foldRight(lit(names.last): Column) {
      case ((cut, name), rest) => when(bucket < cut, name).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** X-SMP6 — leakage-safe 80/10/10 split of the documents table keyed on
    * `source`: all pages of a source share a split. The oracle recomputes
    * the identical md5-bucket arithmetic, proving the assignment is pure
    * deterministic algebra, not RNG state.
    */
  private val smp6 = Probe(
    "x_smp6_group_split",
    """WITH b AS (
      |  SELECT doc_id, source,
      |         ('0x' || substr(md5(source), 1, 4))::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, source,
      |       CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    splitByGroup(
        Tables(s, dir, "documents").select(col("doc_id"), col("source")),
        group = col("source"),
        names = Seq("train", "val", "test"), cuts = Seq(80, 90))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy("doc_id")
  }

  /** X-SMP4 — deterministic distributed shuffle: the final corpus
    * permutation before packing, as a two-level (shard, position) order
    * instead of one global sort. shard = first md5 byte (256 shards),
    * position = row_number within the shard by the md5 tail — every
    * window partition holds ~corpus/256 rows, so no task ever sees a
    * global order, yet (shard, pos) is a total, content-independent,
    * reproducible permutation at any cluster size.
    */
  private val smp4 = Probe(
    "x_smp4_shuffle",
    """WITH t AS (
      |  SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 3, 16) AS ord
      |  FROM documents)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
      |FROM t ORDER BY shard, pos""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        substring(digest(col("doc_id")), 1, 2).as("shard"),
        substring(digest(col("doc_id")), 3, 16).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Per-epoch sharded data order: each training epoch gets its own
    * deterministic permutation by hashing (epoch, doc_id) into `shards`
    * md5 buckets and ordering within each (epoch, shard) by the same
    * digest — the multi-epoch form of the x_smp4 sharded shuffle. No RNG
    * state, no global sort: ordering parallelizes across epochs x shards.
    */
  def epochOrder(docs: DataFrame, epochs: Int, shards: Int): DataFrame = {
    // sequence(0, epochs - 1) with epochs <= 0 would emit a DESCENDING
    // range (implicit -1 step) — bogus negative epochs — instead of erroring
    require(epochs >= 1, s"epochs must be >= 1; got $epochs")
    require(shards >= 1, s"shards must be >= 1; got $shards")
    val d = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("key", md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", hex4(col("key")) % shards)
    d.withColumn("rk",
        row_number().over(Window.partitionBy("epoch", "shard").orderBy(col("key"), col("doc_id"))))
      .select(col("epoch").cast("long").as("epoch"), col("shard"),
        col("doc_id"), col("rk").cast("long").as("rk"))
  }

  /** X-SMP7 — 3-epoch, 8-shard order over the documents table; the oracle
    * recomputes the identical digest/bucket/rank algebra.
    */
  private val smp7 = Probe(
    "x_smp7_epoch_order",
    """WITH e AS (
      |  SELECT doc_id, epoch,
      |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS key
      |  FROM documents, UNNEST(generate_series(0, 2)) AS t(epoch)),
      |s AS (
      |  SELECT doc_id, epoch, key,
      |         ('0x' || substr(key, 1, 4))::BIGINT % 8 AS shard
      |  FROM e)
      |SELECT CAST(epoch AS BIGINT) AS epoch, shard, doc_id,
      |       CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id) AS BIGINT) AS rk
      |FROM s ORDER BY epoch, shard, rk""".stripMargin) { (s, dir) =>
    epochOrder(Tables(s, dir, "documents").select("doc_id"), epochs = 3, shards = 8)
      .orderBy("epoch", "shard", "rk")
  }

  /** Deterministic weighted replication, adding `epoch`: a row of weight
    * w ppm (2_500_000 = 2.5 epochs) appears in epochs 0 … ⌊w⌋ − 1, and in
    * epoch ⌊w⌋ iff the first 4 hex digits of md5("doc_id:epoch") fall
    * under the fraction's hex threshold ('0000' for none). A NULL weight
    * keeps the row once; weight 0 drops it. Narrow: explode + filter.
    */
  def mixExpand(d: DataFrame, weightPpm: Column): DataFrame =
    d.withColumn("__w", coalesce(weightPpm.cast("long"), lit(1000000L)))
      .withColumn("__full_ep", expr("CAST(__w DIV 1000000 AS INT)"))
      .withColumn("__thr", expr("lower(lpad(hex(__w % 1000000 * 65536 DIV 1000000), 4, '0'))"))
      .withColumn("epoch", explode(expr("sequence(0, __full_ep)")))
      .filter(expr(
        "epoch < __full_ep OR substr(md5(concat(CAST(doc_id AS STRING), ':', CAST(epoch AS STRING))), 1, 4) < __thr"))
      .drop("__w", "__full_ep", "__thr")

  /** [[mixExpand]] by a sources-sized (source, weight_ppm) table, joined
    * as a broadcast; sources absent from it keep weight 1.0.
    */
  private def mixBySource(d: DataFrame, weightsPpm: DataFrame): DataFrame =
    mixExpand(
      d.join(weightsPpm.select(col("source"), col("weight_ppm").as("__w")),
        Seq("source"), "left_outer"),
      col("__w"))

  /** Source-weighted mixing with weights given per source in ppm. */
  def mixBySourceWeights(d: DataFrame, weightsPpm: Map[String, Long]): DataFrame = {
    weightsPpm.foreach { case (src, ppm) => require(ppm >= 0, s"negative weight for $src") }
    val s = d.sparkSession
    import s.implicits._
    mixBySource(d, weightsPpm.toSeq.toDF("source", "weight_ppm"))
  }

  /** [[mixExpand]] by the [[temperatureWeights]] of `d`'s own sources. */
  def mixByTemperature(d: DataFrame, invTemp: Double): DataFrame =
    mixBySource(d, temperatureWeights(d, invTemp).select("source", "weight_ppm"))

  /** X-SMP3 — source-weighted mixing (curated sources ×2.5, raw crawl
    * ×0.25) through [[mixExpand]], the weight a CASE on the source id so
    * the probe stays narrow; the oracle spells out the integer epochs and
    * hex thresholds ('8000' = 0.5, '4000' = 0.25) by hand.
    */
  private val smp3 = Probe(
    "x_smp3_weighted_mix",
    """WITH t AS (
      |  SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS sid FROM documents),
      |w AS (
      |  SELECT doc_id, source,
      |    CASE WHEN sid < 5 THEN 2 WHEN sid < 10 THEN 1 ELSE 0 END AS full_ep,
      |    CASE WHEN sid < 5 THEN '8000' WHEN sid < 10 THEN '' ELSE '4000' END AS thr
      |  FROM t),
      |e AS (
      |  SELECT doc_id, source, full_ep, thr, unnest(range(0, full_ep + 1)) AS epoch FROM w)
      |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, source
      |FROM e
      |WHERE epoch < full_ep
      |   OR substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(epoch AS VARCHAR))), 1, 4) < thr
      |ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
    val sid = expr("CAST(substr(source, 4) AS INT)")
    mixExpand(Tables(s, dir, "documents"),
        when(sid < 5, lit(2500000L)).when(sid < 10, lit(1000000L)).otherwise(lit(250000L)))
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"), col("source"))
      .orderBy("doc_id", "epoch")
  }

  /** Per-source upsampling weights `(n_max / n_source)^invTemp` in ppm.
    * invTemp = 1/T; 0.5 (T=2) is the oracle-checked case. Runs on the
    * sources-sized aggregate — the unpartitioned max sees one row per
    * source, never documents.
    */
  def temperatureWeights(docs: DataFrame, invTemp: Double): DataFrame = {
    val w = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    // sqrt is IEEE-correctly-rounded, pow is not — route the T=2 case
    // through sqrt so the cross-engine oracle stays bit-exact
    val scaled =
      if (invTemp == 0.5) "sqrt(CAST(max_docs AS DOUBLE) / CAST(n_docs AS DOUBLE))"
      else s"power(CAST(max_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), $invTemp)"
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("max_docs", max(col("n_docs")).over(w))
      .select(col("source"), col("n_docs"),
        expr(s"CAST(floor($scaled * 1000000) AS BIGINT)").as("weight_ppm"))
  }

  /** X-MIX2 — temperature-scaled mixture weights (T = 2): per-source
    * upsampling factors `(n_max / n_source)^(1/2)` in ppm — the standard
    * multilingual rebalancing rule (sampling ∝ share^(1/T)); T=2 because
    * `sqrt` is IEEE-correctly-rounded, so the oracle is bit-exact. The
    * output IS the weights table [[mixByTemperature]] expands by.
    */
  private val mix2 = Probe(
    "x_mix2_temperature_weights",
    """WITH a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs,
      |  CAST(floor(sqrt(CAST(max(n_docs) OVER () AS DOUBLE) / CAST(n_docs AS DOUBLE))
      |             * 1000000) AS BIGINT) AS weight_ppm
      |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    temperatureWeights(Tables(s, dir, "documents"), 0.5).orderBy("source")
  }

  /** Per-source mixture plan: given a (source, target_ppm) table
    * (Σ target = 1e6), the replication weight that makes each source's
    * token share hit its target, plus the honestly-rounded ACHIEVED
    * share:
    *
    *   weight_ppm   = target_ppm · T DIV n_tokens_s      (T = Σ tokens)
    *   achieved_ppm = n_tokens_s · weight_ppm · 1e6 DIV Σ_j (n_tokens_j · weight_ppm_j)
    *
    * Tokens are counted by [[TokenLayout.tokenCount]]. All exact integer
    * algebra (truncating DIV on both engines), so the plan AND its
    * rounding error are oracle-checkable; the output `weight_ppm` column
    * is exactly the map [[mixBySourceWeights]] consumes. Shape: one
    * source-keyed aggregation over the corpus; the plan table is
    * sources-sized (broadcast everywhere downstream).
    *
    * Intermediates (`target_ppm·T`, `n_tokens·weight_ppm·1e6`) are
    * computed in DECIMAL(38,0) — the DuckDB oracle already computes them
    * in 128-bit, and at the ~10^13-tokens-per-source corpus this
    * docstring targets, Long arithmetic wraps silently in non-ANSI
    * Spark (round-9 verdict #3). A degenerate source whose weight
    * itself exceeds BIGINT (a handful of tokens asked to carry a large
    * share of a 10^13-token corpus) raises loudly instead of wrapping.
    */
  def mixturePlan(docs: DataFrame, targets: DataFrame): DataFrame =
    mixturePlanFromCounts(
      docs
        .select(col("source"), TokenLayout.tokenCount(docs).as("n"))
        .groupBy("source").agg(sum(col("n")).as("n_tokens")),
      targets)

  /** [[mixturePlan]] from a prebuilt (source, n_tokens) count table —
    * the entry point when token counts are already aggregated. All
    * arithmetic DECIMAL(38,0).
    */
  def mixturePlanFromCounts(tokS: DataFrame, targets: DataFrame): DataFrame = {
    val tot = tokS.agg(sum(col("n_tokens")).cast("decimal(38,0)").as("t"))
    val w = tokS
      .join(broadcast(targets), Seq("source"))
      .join(broadcast(tot))
      .withColumn("share_ppm",
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV t AS BIGINT)"))
      // floor == truncating DIV here (all operands non-negative)
      .withColumn("__w_dec", expr(
        "CAST(floor(CAST(target_ppm AS DECIMAL(38,0)) * t / nullif(CAST(n_tokens AS DECIMAL(38,0)), 0)) AS DECIMAL(38,0))"))
      .withColumn("weight_ppm", expr(
        """CASE WHEN __w_dec > CAST(9223372036854775807 AS DECIMAL(38,0))
          |THEN CAST(raise_error(concat('mixturePlan: weight_ppm overflows BIGINT for source ',
          |     source, ' — rescale targets to per-mille or exclude degenerate sources')) AS BIGINT)
          |ELSE CAST(__w_dec AS BIGINT) END""".stripMargin))
    val denom = w.agg(
      sum(expr("CAST(n_tokens AS DECIMAL(38,0)) * weight_ppm")).cast("decimal(38,0)").as("d"))
    w.join(broadcast(denom))
      .select(col("source"), col("n_tokens"), col("share_ppm"),
        col("target_ppm").cast("long").as("target_ppm"), col("weight_ppm"),
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * weight_ppm * 1000000 DIV nullif(d, 0) AS BIGINT)")
          .as("achieved_ppm"))
  }

  /** [[mixturePlan]]'s weights as a map (0 for sources without a target). */
  def planMixture(docs: DataFrame, targetsPpm: Map[String, Long]): Map[String, Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    mixturePlan(docs, targetsPpm.toSeq.toDF("source", "target_ppm"))
      .select("source", "weight_ppm")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
  }

  /** X-MIX5 — the mixture plan over the documents table with a
    * deterministic skewed target (source index mod 4 → 20/40/60/80k ppm,
    * summing to exactly 1e6 over the 20 sources). The oracle recomputes
    * the whole plan algebra; `achieved_ppm` beside `target_ppm` makes
    * the integer-rounding error part of the checked output.
    */
  private val mix5 = Probe(
    "x_mix5_weight_plan",
    s"""WITH tk AS (
       |  SELECT source, SUM(len(${graft.clean.CleanFns.tokensDuck("text")})) AS n_tokens
       |  FROM documents GROUP BY source),
       |tg AS (
       |  SELECT source, (1 + CAST(substr(source, 4) AS INT) % 4) * 20000 AS target_ppm
       |  FROM tk),
       |tt AS (SELECT SUM(n_tokens) AS t FROM tk),
       |w AS (
       |  SELECT tk.source, tk.n_tokens,
       |         tk.n_tokens * 1000000 // tt.t AS share_ppm,
       |         tg.target_ppm,
       |         tg.target_ppm * tt.t // nullif(tk.n_tokens, 0) AS weight_ppm
       |  FROM tk JOIN tg USING (source), tt),
       |d AS (SELECT SUM(n_tokens * weight_ppm) AS d FROM w)
       |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(share_ppm AS BIGINT) AS share_ppm,
       |  CAST(target_ppm AS BIGINT) AS target_ppm,
       |  CAST(weight_ppm AS BIGINT) AS weight_ppm,
       |  CAST(n_tokens * weight_ppm * 1000000 // nullif(d.d, 0) AS BIGINT) AS achieved_ppm
       |FROM w, d ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val targets = docs.select(col("source")).distinct()
      .withColumn("target_ppm",
        (lit(1) + expr("CAST(substring(source, 4, 10) AS INT)") % 4) * 20000)
    mixturePlan(docs, targets).orderBy("source")
  }

  val all: Seq[Probe] = Seq(smp2, smp3, smp4, smp5, smp6, smp7, mix2, mix5)
}

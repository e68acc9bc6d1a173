package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Probe, Tables}
import graft.functions.DotProduct.dot_d

/** LSH geometry for embedding near-dup detection: `dims`-dimensional
  * vectors, `planes` hyperplane sign bits, grouped into `bands` bands of
  * `bandBits` bits. Real encoders emit anywhere from 64 to 1536 dims; the
  * hyperplane matrix is data-independent md5 algebra at ANY width, so the
  * same operator covers all of them (x_ded15/x_ded16 oracle-check a second
  * dimensionality end to end).
  */
final case class EmbedLsh(dims: Int = 64, planes: Int = 16,
    bands: Int = 4, bandBits: Int = 4) {
  require(bands * bandBits == planes,
    s"bands ($bands) x bandBits ($bandBits) must equal planes ($planes)")
  require(dims >= 1 && planes >= 1, "dims and planes must be positive")
}

/** Embedding near-duplicate detection at scale: banded sign-random-
  * projection LSH for candidate generation, exact integer-quantized cosine
  * for verification.
  *
  * x_ded5 (the declared exact baseline) joins all same-label pairs —
  * quadratic in corpus size. This operator is its scale path, the
  * vector-space sibling of the MinHash chain (x_ded2 → dedupNearVerified):
  *
  *  1. `planes` hyperplane sign bits per vector. The hyperplane matrix is
  *     data-independent and derived from md5(plane, dim) — deterministic,
  *     engine-portable, and tiny (planes×dims ±1 entries), so it rides into
  *     the signature expression as a broadcast literal and the signature is
  *     a NARROW per-row fold: zero exchanges, no row explosion (the
  *     x_sim2 probe form), stream-compatible.
  *  2. `bands` bands × `bandBits` bits: vectors sharing any band value
  *     become candidates (one band-keyed shuffle — the only exchange in
  *     candidate generation, same shape as the MinHash band join).
  *  3. Per-vector candidate cap (default K=64): on a degenerate corpus
  *     (all-zero vectors from a broken encoder, template-storm embeddings)
  *     every vector lands in ONE (band, bval) bucket and the candidate
  *     join goes quadratic in the storm size. The cap ranks each vector's
  *     candidates by band-collision strength (then id) and keeps K —
  *     verification work is ≤ K pairs per vector by construction, the
  *     text chain's round-5 `dedupNearVerified` guard applied to the
  *     vector path. Transitive connected components still merge a storm
  *     into one cluster through chained pairs.
  *  4. Exact verification: cosine over the shared floor(x*1e6) integer
  *     quantization (VectorSearch.quantized), pairs kept at >= tau.
  *
  * Recall is the standard banded-LSH curve (P[candidate] =
  * 1-(1-p^bandBits)^bands with p = 1 - theta/pi); raise bands or lower band
  * width for higher recall — the oracle replicates whatever the parameters
  * are, cap included.
  */
object EmbedDedup {

  val default: EmbedLsh = EmbedLsh()
  val defaultCap = 64

  // kept as stable names for callers/specs pinned to the default geometry
  def planes: Int = default.planes
  def dims: Int = default.dims

  /** The ±1 hyperplane matrix for `cfg`, row-major (plane-major): entry for
    * plane bb (1-based) and dim i (1-based) sits at index
    * (bb-1)*dims + (i-1). Sign rule shared with x_sim2's oracle: +1 iff hex
    * digit 1 + ((i*7 + bb*13) mod 32) of md5("bb_i") is >= '8'. Computed
    * once driver-side (java MD5 == Spark md5 == DuckDB md5 on the same
    * ASCII input) and shipped as a literal array.
    */
  def signsFor(cfg: EmbedLsh): Seq[Double] = signsCache.synchronized {
    signsCache.getOrElseUpdate((cfg.planes, cfg.dims), {
      val md = java.security.MessageDigest.getInstance("MD5")
      for (bb <- 1 to cfg.planes; i <- 1 to cfg.dims) yield {
        val hex = md.digest(s"${bb}_$i".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        md.reset()
        if (hex.charAt((i * 7 + bb * 13) % 32) >= '8') 1.0 else -1.0
      }
    })
  }
  private val signsCache =
    scala.collection.mutable.Map.empty[(Int, Int), Seq[Double]]

  lazy val signs: Seq[Double] = signsFor(default)

  /** Plane bb's sign row as a SQL array literal — `dims` ±1.0 doubles, the
    * broadcast-literal form the native dot product consumes.
    */
  private[ext] def planeLit(cfg: EmbedLsh, bb: Int): Column =
    array(signsFor(cfg).slice((bb - 1) * cfg.dims, bb * cfg.dims)
      .map(s => lit(if (s > 0) 1.0 else -1.0)): _*)

  /** One native-codegen dot product of the quantized vector against plane
    * bb's literal sign row. This is the load-bearing formulation: the
    * earlier HOF version (aggregate over sequence(1, dims) indexing a
    * planes×dims-double literal) was correct but catastrophically slow —
    * each downstream reference to `bits` re-inlined the whole interpreted
    * fold under CollapseProject, and the band derivation referenced it
    * planes×, compounding to a multi-million-node expression tree (x_ded13:
    * 527 s at sf0.1). Per-plane dot_d calls against dims-element literals
    * keep the tree small and every cycle inside whole-stage codegen: same
    * algebra, same oracle, 200x faster.
    */
  private def planeDot(cfg: EmbedLsh, bb: Int): Column =
    dot_d(col("v"), planeLit(cfg, bb))

  /** (vec_id, v, n2, bits): quantized vector, self-dot, and the sign bits
    * as an int array — one narrow projection, zero exchanges.
    */
  def signatures(embeddings: DataFrame, cfg: EmbedLsh = default): DataFrame = {
    VectorSearch.quantized(embeddings)
      .withColumn("bits", array((1 to cfg.planes).map(bb =>
        when(planeDot(cfg, bb) > 0, 1).otherwise(0)): _*))
  }

  /** (vec_id, v, n2, bands): the band-value signature projection — still
    * narrow/lazy. Band values come straight from the plane dots (bit j of
    * band k is plane (k-1)*bandBits + j), skipping the bits array so no
    * expression is ever re-inlined planes×; `bands` ints per row, all
    * codegen.
    */
  def bandSignatures(embeddings: DataFrame, cfg: EmbedLsh = default): DataFrame = {
    val bandCols = (1 to cfg.bands).map { k =>
      (1 to cfg.bandBits).map { j =>
        when(planeDot(cfg, (k - 1) * cfg.bandBits + j) > 0,
          lit(1L << (j - 1))).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    VectorSearch.quantized(embeddings)
      .select(col("vec_id"), col("v"), col("n2"), array(bandCols: _*).as("bands"))
  }

  /** Capped candidate pairs (a_id, b_id) from a signature frame: the band
    * self-join aggregated to per-pair collision strength, then (if
    * `cap` > 0) each a_id's candidates ranked by (strength desc, b_id) and
    * truncated at `cap`. The aggregation is the same shuffle the plain
    * pair-distinct paid — the cap rides it for free.
    */
  def cappedCandidates(sig: DataFrame, cap: Int): DataFrame = {
    val banded = sig.select(col("vec_id"), posexplode(col("bands")).as(Seq("band", "bval")))
    val rawCand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .agg(count(lit(1)).as("__nb"))
    val capped =
      if (cap > 0) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("a_id")).orderBy(col("__nb").desc, col("b_id"))
        rawCand.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= cap)
      } else rawCand
    capped.select(col("a_id"), col("b_id"))
  }

  /** Diagnostic/lazy form of the candidate stage (no caching) — what the
    * adversarial-fixture spec counts to pin candidates ≤ cap·n on hostile
    * inputs.
    */
  def candidatePairs(embeddings: DataFrame, cfg: EmbedLsh = default,
      cap: Int = defaultCap): DataFrame =
    cappedCandidates(bandSignatures(embeddings, cfg), cap)

  /** Near-duplicate pairs (a_id, b_id, cos): banded LSH candidates, capped
    * per vector, exact-cosine verified at `tau`.
    *
    * FULLY LAZY — no persist, no materialization barrier, so one caller
    * action runs the whole chain as one pipelined job and NOTHING can
    * leak into the block manager (the round-6 ADVICE leak is impossible
    * by construction; EmbedDedupSpec pins zero cached RDDs). The
    * signature projection appears three times in the plan (both
    * self-join sides + the verification vector lookups), but the band
    * self-join's two identical shuffle subtrees collapse to one
    * ReusedExchange, and the narrow va/vb recompute (a scan plus `planes`
    * codegen dot products) is cheaper than the persist-count-unpersist
    * barrier cycle it would replace — measured at sf0.1 the eager
    * variant cost 4x (PERF.md round 7). Consumers that iterate the pair
    * set (connectedComponents) materialize their OWN edge cache first,
    * so laziness never multiplies the chain.
    */
  def nearDupPairs(embeddings: DataFrame, tau: Double,
      cfg: EmbedLsh = default, maxCandidatesPerVec: Int = defaultCap): DataFrame = {
    val sig = bandSignatures(embeddings, cfg)
    val cand = cappedCandidates(sig, maxCandidatesPerVec)
    val va = sig.select(col("vec_id").as("a_id"), col("v").as("av"), col("n2").as("an2"))
    val vb = sig.select(col("vec_id").as("b_id"), col("v").as("bv"), col("n2").as("bn2"))
    cand.join(va, "a_id").join(vb, "b_id")
      // zero-norm vectors (broken encoder) have no cosine: drop BEFORE the
      // division — ANSI mode throws on /0 where the oracle's NaN comparison
      // would merely evaluate false
      .filter(col("an2") > 0 && col("bn2") > 0)
      .withColumn("cos", VectorSearch.cosine("av", "an2", "bv", "bn2"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** Back-compat form of the pre-lazy API: the pair frame plus a release
    * handle. With the lazy rewrite there is nothing to release — the
    * handle is a no-op kept so staged callers read naturally.
    */
  def nearDupPairsReleasable(embeddings: DataFrame, tau: Double,
      cfg: EmbedLsh = default, maxCandidatesPerVec: Int = defaultCap)
      : (DataFrame, () => Unit) =
    (nearDupPairs(embeddings, tau, cfg, maxCandidatesPerVec), () => ())

  /** Near-dup RESOLUTION for vectors: LSH-verified pairs clustered into
    * connected components (transitive closure — A≈B, B≈C groups all
    * three), each vector labeled with its component (min vec_id) and
    * cluster size; the survivor policy is then "keep comp_id". Reuses the
    * text chain's `Dedup.connectedComponents` — contraction + bounded
    * local finish, so the endgame is one task, not six distributed rounds.
    * The verified-pair cache is dropped as soon as components has
    * materialized its own edge list.
    */
  def dedupClusters(embeddings: DataFrame, tau: Double,
      cfg: EmbedLsh = default, maxCandidatesPerVec: Int = defaultCap): DataFrame = {
    val (pairs, release) =
      nearDupPairsReleasable(embeddings, tau, cfg, maxCandidatesPerVec)
    val cc = graft.ext.Dedup.connectedComponents(
        pairs.select(col("a_id").as("a"), col("b_id").as("b")))
      .select(col("doc_id").as("vec_id"), col("comp_id"), col("n_reach"))
    release() // no-op since the lazy rewrite; components cached its own edges
    cc
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTE chain replicating the full banded-LSH candidate algebra for
    * `cfg` over a derived embedding expression — shared by every embed
    * probe so Spark parameters and oracle parameters cannot drift.
    * Produces CTEs: iv (quantized), n (self-dot), d (plane dots), bands,
    * cand (collision counts), capped (per-a_id top-`cap`, or pass-through).
    */
  private def oracleCtes(cfg: EmbedLsh, cap: Int, vExpr: String): String = {
    val capped =
      if (cap > 0)
        s"""capped AS (
           |  SELECT a_id, b_id FROM (
           |    SELECT a_id, b_id,
           |           row_number() OVER (PARTITION BY a_id ORDER BY nb DESC, b_id) AS rk
           |    FROM cand)
           |  WHERE rk <= $cap)""".stripMargin
      else "capped AS (SELECT a_id, b_id FROM cand)"
    s"""iv AS (
       |  SELECT vec_id, list_transform($vExpr, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM iv),
       |d AS (
       |  SELECT vec_id, bb,
       |    SUM(CASE WHEN substr(md5(bb || '_' || i), 1 + ((i * 7 + bb * 13) % 32), 1)
       |             IN ('8','9','a','b','c','d','e','f') THEN v[i] ELSE -v[i] END) AS dot
       |  FROM iv, UNNEST(generate_series(1, ${cfg.planes})) AS t1(bb),
       |       UNNEST(generate_series(1, ${cfg.dims})) AS t2(i)
       |  GROUP BY vec_id, bb),
       |bands AS (
       |  SELECT vec_id, (bb - 1) // ${cfg.bandBits} AS band,
       |         SUM(CASE WHEN dot > 0 THEN CAST(power(2, (bb - 1) % ${cfg.bandBits}) AS BIGINT) ELSE 0 END) AS bval
       |  FROM d GROUP BY vec_id, (bb - 1) // ${cfg.bandBits}),
       |cand AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, count(*) AS nb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
       |  GROUP BY a.vec_id, b.vec_id),
       |$capped""".stripMargin
  }

  /** Verified-pairs oracle SQL for `cfg`/`cap`/`tau` (x_ded13 family). */
  private def pairsOracle(cfg: EmbedLsh, cap: Int, tau: Double, vExpr: String): String =
    s"""WITH ${oracleCtes(cfg, cap, vExpr)}
       |SELECT c.a_id, c.b_id,
       |       round(list_sum(list_transform(list_zip(na.v, nb.v), z -> z[1] * z[2])) /
       |             sqrt(na.n2 * nb.n2), 6) AS cos
       |FROM capped c JOIN n na ON na.vec_id = c.a_id JOIN n nb ON nb.vec_id = c.b_id
       |WHERE list_sum(list_transform(list_zip(na.v, nb.v), z -> z[1] * z[2])) /
       |      sqrt(na.n2 * nb.n2) >= $tau
       |ORDER BY a_id, b_id""".stripMargin

  /** Cluster-resolution oracle SQL (x_ded14 family): the identical pair
    * algebra closed transitively with WITH RECURSIVE.
    */
  private def clustersOracle(cfg: EmbedLsh, cap: Int, tau: Double, vExpr: String): String =
    s"""WITH RECURSIVE ${oracleCtes(cfg, cap, vExpr)},
       |pr AS (
       |  SELECT c.a_id AS a, c.b_id AS b
       |  FROM capped c JOIN n na ON na.vec_id = c.a_id JOIN n nb ON nb.vec_id = c.b_id
       |  WHERE list_sum(list_transform(list_zip(na.v, nb.v), z -> z[1] * z[2])) /
       |        sqrt(na.n2 * nb.n2) >= $tau),
       |ed AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM ed
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a)
       |SELECT a AS vec_id, MIN(b) AS comp_id, CAST(COUNT(*) AS BIGINT) AS n_reach
       |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin

  /** The 128-dim derived embedding (x_ded15/x_ded16): the raw vector
    * concatenated with its elementwise square — a deterministic width-
    * doubling both engines compute identically, standing in for the
    * 768–1536-dim vectors real encoders emit. (A plain self-concat would
    * be cosine-invariant; the squares genuinely change the geometry.)
    */
  private val derive128Spark = "concat(embedding, transform(embedding, x -> x * x))"
  private val derive128Duck = "list_concat(embedding, list_transform(embedding, x -> x * x))"
  private val cfg128 = EmbedLsh(dims = 128)

  /** X-DED13 — the banded chain over the embeddings table at tau = 0.35
    * (x_ded5's threshold: every surviving pair is also an x_ded5 pair; the
    * delta is the declared LSH recall, which the oracle replicates
    * band-for-band). UNCAPPED — the declared oracle-of-record twin of the
    * capped production form (x_ded13b), same pairing as x_ded4 vs the
    * verified chain.
    */
  private val ded13 = Probe(
    "x_ded13_embed_lsh",
    pairsOracle(default, cap = 0, tau = 0.35, vExpr = "embedding")) { (s, dir) =>
    nearDupPairs(Tables(s, dir, "embeddings"), tau = 0.35, maxCandidatesPerVec = 0)
      .orderBy("a_id", "b_id")
  }

  /** X-DED13B — the production form: per-vector candidate cap K=8 (small
    * enough to BITE on this data — the oracle proves the exact ranked
    * truncation semantics, not just the happy path where the cap is
    * inactive).
    */
  private val ded13b = Probe(
    "x_ded13b_embed_lsh_capped",
    pairsOracle(default, cap = 8, tau = 0.35, vExpr = "embedding")) { (s, dir) =>
    nearDupPairs(Tables(s, dir, "embeddings"), tau = 0.35, maxCandidatesPerVec = 8)
      .orderBy("a_id", "b_id")
  }

  /** X-DED14 — embedding dedup resolved end to end: capped verified pairs
    * (production K=64) → components → (vec_id, comp_id, n_reach),
    * hash-matched against the DuckDB WITH RECURSIVE closure over the
    * identical capped pair SQL. The vector-space completion of x_ded7.
    */
  private val ded14 = Probe(
    "x_ded14_embed_clusters",
    clustersOracle(default, cap = defaultCap, tau = 0.35, vExpr = "embedding")) { (s, dir) =>
    dedupClusters(Tables(s, dir, "embeddings"), tau = 0.35).orderBy("vec_id")
  }

  /** X-DED15 — the capped chain at a SECOND dimensionality (128 dims, 16
    * planes): pins that the hyperplane-literal design survives encoder-
    * scale widths with the identical md5 algebra on both engines.
    */
  private val ded15 = Probe(
    "x_ded15_embed_lsh_d128",
    pairsOracle(cfg128, cap = defaultCap, tau = 0.35, vExpr = derive128Duck)) { (s, dir) =>
    nearDupPairs(
        Tables(s, dir, "embeddings")
          .withColumn("embedding", expr(derive128Spark)),
        tau = 0.35, cfg = cfg128)
      .orderBy("a_id", "b_id")
  }

  /** X-DED16 — cluster resolution at 128 dims: the full capped chain plus
    * transitive closure at the second dimensionality.
    */
  private val ded16 = Probe(
    "x_ded16_embed_clusters_d128",
    clustersOracle(cfg128, cap = defaultCap, tau = 0.35, vExpr = derive128Duck)) { (s, dir) =>
    dedupClusters(
        Tables(s, dir, "embeddings")
          .withColumn("embedding", expr(derive128Spark)),
        tau = 0.35, cfg = cfg128)
      .orderBy("vec_id")
  }

  val all: Seq[Probe] = Seq(ded13, ded13b, ded14, ded15, ded16)
}

package graft.ext

import graft.{Probe, Tables}
import graft.functions.DotProduct.{dot_d, sq_dist}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (`embedding: Array[Float]`,
  * 64-dim): brute force (x_sim1), 1-bit LSH buckets (x_sim2), IVF cells
  * (x_sim3/x_sim4 and the persisted, appendable index behind x_sim9), int8
  * scalar quantization (x_sim5), JL projection (x_sim6), PQ (x_sim7) and
  * IVF+PQ (x_sim8), and cluster-scoped semantic dedup (x_ded19).
  *
  * Every operator is built from one search core: one quantizer
  * ([[quantized]]), one nearest-centroid ranking ([[nearest]]), one Lloyd
  * step ([[lloydStep]]), one PQ codebook ([[pq]]) and one cosine top-k
  * ([[cosineTopK]]).
  *
  * Numeric portability: raw float dot products are NOT bit-portable across
  * engines (summation order), so vectors are quantized to exact integers
  * (floor(x * 1e6), lossless in doubles up to 2^53). Integer dot products,
  * norms and L2 distances are then order-independent and exact, centroids
  * are per-dimension floor-means, ties break on the lower id, and the
  * final cosine is a single IEEE divide/sqrt on identical inputs — so
  * training, encoding and ranking all hash-match the DuckDB oracles.
  */
object VectorSearch {

  // ------------------------------------------------------------ the core

  /** (vec_id, carry…, v, n2): each vector quantized to exact integers
    * (elements cast to DOUBLE: Spark floor() yields BIGINT, and dot_d reads
    * doubles) with its self-dot — one narrow projection.
    */
  def quantized(embeddings: DataFrame, carry: String*): DataFrame =
    embeddings
      .select(col("vec_id") +: carry.map(col) :+ expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS DOUBLE))").as("v"): _*)
      .withColumn("n2", dot_d(col("v"), col("v")))

  /** The cosine of two quantized vectors, from their self-dots. */
  private[ext] def cosine(a: String, an2: String, b: String, bn2: String): Column =
    dot_d(col(a), col(b)) / sqrt(col(an2) * col(bn2))

  /** Centroids (by…, c_id, cv) from the vectors (vec_id, by…, v) a seed
    * rule picked.
    */
  private def centroidsOf(seeds: DataFrame, by: Seq[String] = Nil): DataFrame =
    seeds.select(by.map(col) ++ Seq(col("vec_id").as("c_id"), col("v").as("cv")): _*)

  /** The seed rule of x_sim3/x_sim4/x_sim7/x_sim8/x_ded19, as their
    * oracles write it: the vectors with vec_id < k.
    */
  private def seedsBelow(vectors: DataFrame, k: Int, by: Seq[String] = Nil): DataFrame =
    centroidsOf(vectors.filter(col("vec_id") < k), by)

  /** Each row of `vectors` (vec_id, by…, v, …) once per each of its `n`
    * nearest `centroids` (by…, c_id, cv), by exact integer L2 with ties to
    * the lower c_id: (vectors' columns…, c_id). The centroid table is tiny
    * and broadcast, so the assignment is a narrow map plus one
    * vector-keyed window.
    */
  private def nearest(vectors: DataFrame, centroids: DataFrame, n: Int,
      by: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("vec_id") +: by.map(col): _*).orderBy(col("d2"), col("c_id"))
    val pairs =
      if (by.isEmpty) vectors.crossJoin(broadcast(centroids))
      else vectors.join(broadcast(centroids), by)
    pairs.withColumn("d2", sq_dist(col("v"), col("cv"))).drop("cv")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
      .drop("d2", "rn")
  }

  /** One exact Lloyd step over a [[nearest]] assignment (n = 1): each
    * cell's new centroid (by…, c_id, cv) is the per-dimension floor-mean of
    * its members' vectors, so even the learned quantizer is deterministic.
    */
  private def lloydStep(assigned: DataFrame, by: Seq[String] = Nil): DataFrame = {
    val cell = by.map(col) :+ col("c_id")
    assigned.select(cell :+ posexplode(col("v")): _*)
      .groupBy(cell :+ col("pos"): _*)
      .agg(expr("CAST(CAST(SUM(col) AS BIGINT) DIV COUNT(*) AS DOUBLE)").as("m"))
      .groupBy(cell: _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").as("cv"))
  }

  /** The one cosine top-k: `pairs` of a query (q_id, qv, qn2) and a
    * candidate (vec_id, v, n2), the query itself excluded, ranked per query
    * by (cos desc, c_id): (q_id, rnk, c_id, score = cos rounded to 6
    * places, extra…), `extra` read from the ranked pairs.
    */
  private def cosineTopK(pairs: DataFrame, k: Int, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    pairs.withColumnRenamed("vec_id", "c_id").filter(col("c_id") =!= col("q_id"))
      .withColumn("cos", cosine("qv", "qn2", "v", "n2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(Seq(col("q_id"), col("rnk"), col("c_id"), round(col("cos"), 6).as("score")) ++ extra: _*)
  }

  /** Query ids of every probe family: vec_id < 5. */
  private val nQueries = 5

  // --------------------------------------------------------- the IVF index

  /** centroids: (c_id, cv); assignments: (vec_id, cell, v, n2). */
  final case class Handle(centroids: DataFrame, assignments: DataFrame)

  /** Cells probed per query. */
  private val nProbes = 2

  /** `lloydSteps` refinements of the `seeds` centroids over the quantized
    * vectors `iv`, then every vector assigned to its nearest cell.
    */
  private def trained(iv: DataFrame, seeds: DataFrame, lloydSteps: Int): Handle = {
    val cent = (1 to lloydSteps).foldLeft(seeds)((c, _) => lloydStep(nearest(iv, c, 1)))
    Handle(cent, cells(iv, cent))
  }

  /** (vec_id, cell, v, n2): each quantized vector in its nearest cell. */
  private def cells(iv: DataFrame, centroids: DataFrame): DataFrame =
    nearest(iv, centroids, 1).select(col("vec_id"), col("c_id").as("cell"), col("v"), col("n2"))

  /** x_sim3's coarse quantizer: the 8 seed vectors, `lloydSteps` refined. */
  private def ivf(iv: DataFrame, lloydSteps: Int): Handle =
    trained(iv, seedsBelow(iv, 8), lloydSteps)

  /** The persisted IVF index, the train-once / query-many ANN pattern: at
    * 100 TB the coarse quantizer is not re-trained per query — centroids
    * and cell assignments are parquet tables built in one pass and reused
    * by every later query job. Seeds are the 8 smallest vec_ids PRESENT (a
    * plain `vec_id < 8` filter degenerates to an empty index on tables
    * whose ids don't start densely at 0), refined by one Lloyd step.
    */
  def train(embeddings: DataFrame): Handle = {
    val iv = quantized(embeddings)
    trained(iv, centroidsOf(iv.orderBy(col("vec_id")).limit(8)), lloydSteps = 1)
  }

  /** Persist both tables; assignments partitioned BY CELL so a query that
    * probes 2 of N cells reads 2/N of the corpus (partition pruning at the
    * scan — the on-disk layout is the index).
    */
  def save(h: Handle, dir: String): Unit = {
    h.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    h.assignments.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
  }

  def load(spark: SparkSession, dir: String): Handle =
    Handle(spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/assignments"))

  /** Assign a NEW shard's vectors against the STORED centroids and append
    * them to the on-disk assignments — the incremental regime at the ANN
    * tier: the released corpus's vectors are never re-read, the coarse
    * quantizer is not retrained (it drifts only on scheduled retrains),
    * and the appended cell files land inside the existing partition
    * layout, so query pruning is unchanged.
    */
  def append(spark: SparkSession, dir: String, newEmbeddings: DataFrame): Unit =
    cells(quantized(newEmbeddings), spark.read.parquet(s"$dir/centroids"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")

  /** Query × candidate pairs (q_id, qv, qn2, cell, vec_id, v, n2): each
    * quantized query against the members of its 2 nearest cells — a
    * broadcast of the queries against a cell-pruned corpus scan.
    */
  private def probed(h: Handle, queries: DataFrame): DataFrame = {
    val probes = nearest(queries, h.centroids, nProbes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        col("c_id").as("cell"))
    h.assignments.join(broadcast(probes), Seq("cell"))
  }

  /** Top-k cosine neighbors (q_id, rnk, c_id, score) of `queries`
    * (vec_id, embedding) in their 2 nearest cells, self-matches excluded.
    */
  def query(h: Handle, queries: DataFrame, k: Int): DataFrame =
    cosineTopK(probed(h, quantized(queries)), k)

  // ------------------------------------------------------------------- PQ

  private val pqM = 4 // subvectors
  private val pqSubDim = 16 // dims per subvector (pqM * pqSubDim = 64)
  private val pqK = 8 // centroids per subspace (seeds = vec_id < pqK)

  /** A PQ codebook over `sub` (vec_id, s, v), the vectors' `pqM`
    * subvectors: `codebook` (s, c_id, cv) holds each subspace's seeds
    * refined by one Lloyd step.
    */
  private final case class Pq(sub: DataFrame, codebook: DataFrame) {
    /** (vec_id, s, code): each subvector's nearest codebook entry. */
    def codes: DataFrame =
      nearest(sub, codebook, 1, Seq("s")).select(col("vec_id"), col("s"), col("c_id").as("code"))

    /** The ADC lookup table (q_id, s, code, pd2): every query subvector's
      * partial distance to every entry of its subspace — 5 × pqM × pqK rows.
      */
    def lut: DataFrame =
      sub.filter(col("vec_id") < nQueries).join(broadcast(codebook), "s")
        .select(col("vec_id").as("q_id"), col("s"), col("c_id").as("code"),
          sq_dist(col("v"), col("cv")).as("pd2"))
  }

  private def pq(iv: DataFrame): Pq = {
    val sub = iv.select(col("vec_id"), explode(expr(
        s"transform(sequence(1, $pqM), s -> struct(s AS s, slice(v, (s-1)*$pqSubDim+1, $pqSubDim) AS v))"))
        .as("t"))
      .select(col("vec_id"), col("t.s").as("s"), col("t.v").as("v"))
    val by = Seq("s")
    Pq(sub, lloydStep(nearest(sub, seedsBelow(sub, pqK, by), 1, by), by))
  }

  /** Top-5 per query of the coded candidate pairs `coded` (q_id, vec_id, s,
    * code) by the asymmetric distance — the query's LUT partials summed
    * over the candidate's codes, ties to the lower c_id — with the exact
    * L2 beside it: (q_id, rnk, c_id, adc_d2, d2_exact).
    */
  private def adcTopK(iv: DataFrame, p: Pq, coded: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    val queries = iv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    coded.join(broadcast(p.lut), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("pd2")).as("adc_d2"))
      .join(broadcast(queries), "q_id")
      .join(iv.select(col("vec_id").as("c_id"), col("v")), "c_id")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"), col("adc_d2").cast("long").as("adc_d2"),
        sq_dist(col("qv"), col("v")).cast("long").as("d2_exact"))
  }

  /** The PQ + ADC operator behind x_sim7: every vector's codes scored
    * against every query's lookup table.
    */
  def pqTopK(embeddings: DataFrame): DataFrame = {
    val iv = quantized(embeddings)
    val p = pq(iv)
    val qids = iv.filter(col("vec_id") < nQueries).select(col("vec_id").as("q_id"))
    adcTopK(iv, p, broadcast(qids).crossJoin(p.codes).filter(col("vec_id") =!= col("q_id")))
  }

  /** The IVF+PQ operator behind x_sim8: only the members of each query's 2
    * nearest coarse cells (x_sim3's quantizer) are ADC-scored.
    */
  def ivfPqTopK(embeddings: DataFrame): DataFrame = {
    val iv = quantized(embeddings)
    val p = pq(iv)
    val cand = probed(ivf(iv, lloydSteps = 0), iv.filter(col("vec_id") < nQueries))
      .filter(col("vec_id") =!= col("q_id")).select(col("q_id"), col("vec_id"))
    adcTopK(iv, p, cand.join(p.codes, "vec_id"))
  }

  // ---------------------------------------------------------- projections

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

  // ------------------------------------------------------------ semdedup

  private val semTau = 0.35
  private[graft] val semCap = 16 // per-vector candidate cap (cell heads)

  /** The reusable operator behind x_ded19: (vec_id, cell, n_close, keep)
    * for every embedding, `keep = 1` iff no lower-id CANDIDATE in the
    * same IVF cell (x_sim3's quantizer) has cosine >= tau. `n_close`
    * counts close candidates.
    *
    * `cap` picks the verdict's recall/scale point:
    *   - cap > 0 (default 16): candidates are the cell's `cap` lowest-id
    *     HEADS — per-vector work <= cap at any cell skew (the broadcast
    *     head table), but a near-dup pair entirely among NON-head members
    *     of a giant cell is missed (the LSH chain x_ded13+ is the recall
    *     path for those).
    *   - cap <= 0: UNCAPPED exact-within-cell semantics — every lower-id
    *     cell-mate is a candidate via a cell-keyed self-join. Cost is
    *     |cell|² on the largest cell.
    */
  def semDedup(embeddings: DataFrame, tau: Double, cap: Int = semCap): DataFrame = {
    val assign = semAssign(embeddings)
    val close = semCandidates(assign, cap)
      .filter(col("xn2") > 0 && col("yn2") > 0)
      .filter(cosine("xv", "xn2", "yv", "yn2") >= tau)
      .groupBy("vec_id").agg(count(lit(1)).as("n_close"))
    assign.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        when(col("n_close").isNull, 1).otherwise(0).cast("int").as("keep"))
  }

  /** (vec_id, cell, v, n2): each vector in its nearest of the 8 fixed
    * centroids.
    */
  private def semAssign(embeddings: DataFrame): DataFrame =
    ivf(quantized(embeddings), lloydSteps = 0).assignments

  /** The bounded candidate pairs (vec_id, y_id, cell, xv/yv, xn2/yn2):
    * each vector against the lower-id members of its cell's head set.
    * Heads (the `cap` lowest ids per cell) are elected with a TWO-LEVEL
    * sharded top-K — per-(cell, shard) row_number then per-cell over the
    * <= 64*cap survivors (the x_mix3b discipline) — so a mega-cell never
    * funnels its full population through one window task. The head table
    * is centroids x cap rows -> broadcast: the verify pass shuffles
    * nothing, and per-vector work is <= cap regardless of cell skew.
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

  // ----------------------------------------------------------- the oracle

  // DuckDB CTE fragments: each is byte-identical in every probe that
  // shares it, so composing an oracle from them leaves its hash unchanged.

  private val ivDuck =
    """iv AS (
      |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings)""".stripMargin

  private val ivDoubleDuck =
    """iv AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  private def seedsDuck(name: String): String =
    s"$name AS (SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id < 8)"

  private[ext] def adDuck(name: String, cent: String, where: String = ""): String =
    s"""$name AS (
       |  SELECT iv.vec_id, $cent.c_id,
       |         list_sum(list_transform(list_zip(iv.v, $cent.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv, $cent$where)""".stripMargin

  private[ext] def assignDuck(name: String, ad: String): String =
    s"""$name AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM $ad)
       |  WHERE rn = 1)""".stripMargin

  private def probesDuck(ad: String): String =
    s"""probes AS (
       |  SELECT vec_id AS q_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
       |    FROM $ad WHERE vec_id < 5)
       |  WHERE rn <= 2)""".stripMargin

  private def candDuck(assign: String): String =
    s"""cand AS (
       |  SELECT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN $assign a ON a.cell = p.cell AND a.vec_id <> p.q_id)""".stripMargin

  /** x_sim3's coarse quantizer (x_sim8, x_ded19): iv, cent, ad, assign. */
  private val coarseDuck =
    s"""$ivDuck,
       |${seedsDuck("cent")},
       |${adDuck("ad", "cent")},
       |${assignDuck("assign", "ad")}""".stripMargin

  /** The IVF cosine top-5 over the probed cells of `assign`. */
  private def ivfTopKDuck(assign: String): String =
    s"""n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM iv),
       |${candDuck(assign)},
       |scored AS (
       |  SELECT c.q_id, c.c_id,
       |         list_sum(list_transform(list_zip(q.v, x.v), z -> z[1]*z[2])) / sqrt(q.n2 * x.n2) AS cos
       |  FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n x ON x.vec_id = c.c_id),
       |r AS (SELECT q_id, c_id, cos,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       |      FROM scored)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(cos, 6) AS score
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** One Lloyd step over the seed assignment `assign0`: dims, cent1. */
  private[ext] val lloydDuck =
    """dims AS (
      |  SELECT a.cell, t.i, CAST(CAST(SUM(iv.v[t.i]) AS BIGINT) // COUNT(*) AS DOUBLE) AS m
      |  FROM assign0 a JOIN iv ON iv.vec_id = a.vec_id,
      |       UNNEST(generate_series(1, 64)) AS t(i)
      |  GROUP BY a.cell, t.i),
      |cent1 AS (SELECT cell AS c_id, list(m ORDER BY i) AS cv FROM dims GROUP BY cell)""".stripMargin

  /** x_sim4/x_sim9 after the seed assignment `assign0`: one Lloyd step,
    * the re-assignment, and the IVF top-5.
    */
  private val trainedTopKDuck =
    s"""$lloydDuck,
       |${adDuck("ad1", "cent1")},
       |${assignDuck("assign1", "ad1")},
       |${probesDuck("ad1")},
       |${ivfTopKDuck("assign1")}""".stripMargin

  /** x_sim7/x_sim8's codebooks and codes: sub … code. */
  private val pqCodesDuck =
    s"""sub AS (
       |  SELECT vec_id, s, v[((s-1)*$pqSubDim+1):(s*$pqSubDim)] AS sv
       |  FROM iv, UNNEST(generate_series(1, $pqM)) AS t(s)),
       |cent0 AS (SELECT s, vec_id AS c_id, sv AS cv FROM sub WHERE vec_id < $pqK),
       |ad0 AS (
       |  SELECT sub.vec_id, sub.s, cent0.c_id,
       |         list_sum(list_transform(list_zip(sub.sv, cent0.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM sub JOIN cent0 ON cent0.s = sub.s),
       |assign0 AS (
       |  SELECT vec_id, s, c_id AS cell FROM (
       |    SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn
       |    FROM ad0)
       |  WHERE rn = 1),
       |dims AS (
       |  SELECT a.s, a.cell, t.i, CAST(CAST(SUM(sub.sv[t.i]) AS BIGINT) // COUNT(*) AS DOUBLE) AS mv
       |  FROM assign0 a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s,
       |       UNNEST(generate_series(1, $pqSubDim)) AS t(i)
       |  GROUP BY a.s, a.cell, t.i),
       |cent1 AS (SELECT s, cell AS c_id, list(mv ORDER BY i) AS cv FROM dims GROUP BY s, cell),
       |ad1 AS (
       |  SELECT sub.vec_id, sub.s, cent1.c_id,
       |         list_sum(list_transform(list_zip(sub.sv, cent1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM sub JOIN cent1 ON cent1.s = sub.s),
       |code AS (
       |  SELECT vec_id, s, c_id AS code FROM (
       |    SELECT vec_id, s, c_id, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn
       |    FROM ad1)
       |  WHERE rn = 1)""".stripMargin

  private val pqLutDuck =
    """lut AS (
      |  SELECT q.vec_id AS q_id, cent1.s, cent1.c_id,
      |         list_sum(list_transform(list_zip(q.sv, cent1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS pd2
      |  FROM sub q JOIN cent1 ON cent1.s = q.s
      |  WHERE q.vec_id < 5)""".stripMargin

  /** The ADC top-5 of `adc` with the exact L2 beside it. */
  private val adcTopKDuck =
    """exact AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
      |         list_sum(list_transform(list_zip(a.v, b.v), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
      |  FROM iv a JOIN iv b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
      |r AS (
      |  SELECT adc.q_id, adc.c_id, adc.adc_d2, exact.d2,
      |         row_number() OVER (PARTITION BY adc.q_id ORDER BY adc.adc_d2, adc.c_id) AS rnk
      |  FROM adc JOIN exact ON exact.q_id = adc.q_id AND exact.c_id = adc.c_id)
      |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
      |       CAST(adc_d2 AS BIGINT) AS adc_d2, CAST(d2 AS BIGINT) AS d2_exact
      |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  // -------------------------------------------------------------- probes

  /** X-SIM1 — brute-force cosine top-10 for query vectors (vec_id < 5):
    * queries broadcast against the corpus, a linear scan with no shuffle
    * of the corpus — the correctness baseline of the family.
    */
  private val sim1 = Probe(
    "x_sim1_cosine_topk",
    s"""WITH $ivDuck,
       |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM iv),
       |p AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         list_sum(list_transform(list_zip(q.v, c.v), z -> z[1] * z[2])) /
       |           sqrt(q.n2 * c.n2) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |r AS (SELECT q_id, c_id, cos,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       |      FROM p)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(cos, 6) AS score
       |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    val iv = quantized(Tables(s, dir, "embeddings"))
    val queries = iv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    cosineTopK(broadcast(queries).crossJoin(iv), 10).orderBy("q_id", "rnk")
  }

  /** X-SIM2 — LSH buckets: an 8-bit sign-random-projection bucket per
    * vector (EmbedDedup's md5 hyperplane rows — deterministic and
    * engine-portable), counted per bucket: the bounded candidate
    * generation of a bucketed similarity join. The bucket is one narrow
    * projection of 8 native dot products against literal sign rows.
    */
  private val sim2 = Probe(
    "x_sim2_lsh_buckets",
    s"""WITH $ivDuck,
       |-- sign bit b (1..8): sign of sum over dims i of v[i] * s(b, i), where
       |-- s(b,i) = +1 if hex digit ((i*7 + b*13) mod 32)+1 of md5(b||'_'||i) >= '8'
       |b AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot > 0 THEN power(2, bb - 1) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT vec_id, bb,
       |      SUM(CASE WHEN substr(md5(bb || '_' || i), 1 + ((i * 7 + bb * 13) % 32), 1)
       |               IN ('8','9','a','b','c','d','e','f') THEN v[i] ELSE -v[i] END) AS dot
       |    FROM iv, UNNEST(generate_series(1, 8)) AS t1(bb), UNNEST(generate_series(1, 64)) AS t2(i)
       |    GROUP BY vec_id, bb)
       |  GROUP BY vec_id)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    // one band of 8 bits: band value = sum of 2^(bb-1) over positive planes
    val oneBand = EmbedLsh(planes = 8, bands = 1, bandBits = 8)
    EmbedDedup.bandSignatures(Tables(s, dir, "embeddings"), oneBand)
      .groupBy(col("bands")(0).as("bucket")).agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")
  }

  /** X-SIM3 — IVF-style ANN: a deterministic coarse quantizer (centroids =
    * the first 8 vectors) partitions the corpus into cells by exact integer
    * L2 distance; queries probe only their 2 nearest cells and rank by
    * cosine within them — the IVF index with no Lloyd step.
    */
  private val sim3 = Probe(
    "x_sim3_ivf_topk",
    s"""WITH $ivDuck,
       |${seedsDuck("cent")},
       |-- exact integer L2 distance to every centroid
       |${adDuck("ad", "cent")},
       |${assignDuck("assign", "ad")},
       |${probesDuck("ad")},
       |${ivfTopKDuck("assign")}""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    query(ivf(quantized(emb), lloydSteps = 0), emb.filter(col("vec_id") < nQueries), 5)
      .orderBy("q_id", "rnk")
  }

  /** X-SIM4 — IVF with a TRAINED coarse quantizer: x_sim3's seeds refined
    * by one exact floor-mean Lloyd step, then the same 2-cell probe search.
    * IvfIndexSpec pins `query(train(embeddings))` to these rows.
    */
  private val sim4 = Probe(
    "x_sim4_ivf_trained",
    s"""WITH $ivDoubleDuck,
       |${seedsDuck("cent0")},
       |${adDuck("ad0", "cent0")},
       |${assignDuck("assign0", "ad0")},
       |-- one Lloyd step: per-dimension floor-mean of each cell's members
       |$trainedTopKDuck""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    query(ivf(quantized(emb), lloydSteps = 1), emb.filter(col("vec_id") < nQueries), 5)
      .orderBy("q_id", "rnk")
  }

  /** X-SIM5 — int8 SCALAR-QUANTIZED cosine top-k: each vector compressed
    * 8× (per-vector int8 codes), ranked by the quantized cosine with the
    * EXACT cosine surfaced next to it, so the compression error is checked
    * output. Cosine is scale-invariant, so only the int8 codes take part
    * in scoring — the memory-bound ANN regime.
    *
    * Quantization is exact-integer end to end: q = (v*127 + m*128) div m
    * − 128 with m = max|v| ≥ 1, numerator always positive, so floor (the
    * DuckDB `//`) and truncating (Spark DIV) division agree.
    */
  private val sim5 = Probe(
    "x_sim5_quantized_topk",
    s"""WITH $ivDuck,
       |mq AS (
       |  SELECT vec_id, v, GREATEST(list_max(list_transform(v, x -> abs(x))), 1) AS m
       |  FROM iv),
       |q8 AS (
       |  SELECT vec_id, v,
       |         list_transform(v, x -> CAST((CAST(x AS BIGINT) * 127 + CAST(m AS BIGINT) * 128)
       |                                     // CAST(m AS BIGINT) - 128 AS DOUBLE)) AS q
       |  FROM mq),
       |n AS (SELECT vec_id, v, q,
       |             list_sum(list_transform(v, x -> x * x)) AS n2,
       |             list_sum(list_transform(q, x -> x * x)) AS n2q
       |      FROM q8),
       |p AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |         list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) /
       |           sqrt(a.n2q * b.n2q) AS cosq,
       |         list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) /
       |           sqrt(a.n2 * b.n2) AS cosx
       |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |r AS (SELECT q_id, c_id, cosq, cosx,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cosq DESC, c_id) AS rnk
       |      FROM p)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
       |       round(cosq, 6) AS score_q8, round(cosx, 6) AS score_exact
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    val iv = quantized(Tables(s, dir, "embeddings"))
      .withColumn("m", greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1.0d)))
      .withColumn("q", expr(
        """transform(v, x -> CAST((CAST(x AS BIGINT) * 127 + CAST(m AS BIGINT) * 128)
          |                       DIV CAST(m AS BIGINT) - 128 AS DOUBLE))""".stripMargin))
    // ranked on the int8 codes; the exact vectors ride along as x/xn2
    val q8 = iv.select(col("vec_id"), col("q").as("v"), dot_d(col("q"), col("q")).as("n2"),
      col("v").as("x"), col("n2").as("xn2"))
    val queries = q8.filter(col("vec_id") < nQueries).select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("n2").as("qn2"), col("x").as("qx"), col("xn2").as("qxn2"))
    cosineTopK(broadcast(queries).crossJoin(q8), 5,
        round(cosine("qx", "qxn2", "x", "xn2"), 6).as("score_exact"))
      .withColumnRenamed("score", "score_q8")
      .orderBy("q_id", "rnk")
  }

  private val jlDims = 64
  private val jlPlanes = 16

  /** X-SIM6 — Johnson-Lindenstrauss random projection: 64-dim quantized
    * vectors compressed to 16 signed-projection coordinates
    * ([[jlProject]]), with the ORIGINAL cosine next to the PROJECTED cosine
    * for every (query, candidate) pair so the distortion is checked. The
    * projection is a narrow per-row fold — zero exchanges.
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
    val iv = quantized(Tables(s, dir, "embeddings").filter(col("vec_id") < 50))
      .withColumn("p", jlProject(EmbedLsh(dims = jlDims, planes = jlPlanes)))
      .withColumn("n2p", dot_d(col("p"), col("p")))
    val a = iv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("av"), col("p").as("ap"),
        col("n2").as("an2"), col("n2p").as("an2p"))
    val b = iv.select(col("vec_id").as("c_id"), col("v").as("bv"), col("p").as("bp"),
      col("n2").as("bn2"), col("n2p").as("bn2p"))
    broadcast(a).join(b, col("c_id") > col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine("av", "an2", "bv", "bn2"), 6).as("cos_orig"),
        round(cosine("ap", "an2p", "bp", "bn2p"), 6).as("cos_proj"))
      .orderBy("q_id", "c_id")
  }

  /** X-SIM7 — PQ + ADC top-5: each vector becomes M=4 single-byte codes
    * (64× compression) against per-subspace codebooks (seeds = the first 8
    * vectors, one floor-mean Lloyd step), and candidates are ranked by the
    * ASYMMETRIC distance (uncompressed query vs. code lookup), with the
    * exact L2 beside it. Codebooks are m*k tiny rows (broadcast), encoding
    * is a narrow nearest-centroid map, and ADC scores come from a (query,
    * subspace-code) lookup-table join, never from raw candidate vectors.
    */
  private val sim7 = Probe(
    "x_sim7_pq_adc",
    s"""WITH $ivDuck,
       |$pqCodesDuck,
       |-- ADC lookup table: per (query, subspace, centroid) partial distance
       |$pqLutDuck,
       |adc AS (
       |  SELECT lut.q_id, code.vec_id AS c_id, SUM(lut.pd2) AS adc_d2
       |  FROM code JOIN lut ON lut.s = code.s AND lut.c_id = code.code
       |  WHERE code.vec_id <> lut.q_id
       |  GROUP BY lut.q_id, code.vec_id),
       |$adcTopKDuck""".stripMargin) { (s, dir) =>
    pqTopK(Tables(s, dir, "embeddings")).orderBy("q_id", "rnk")
  }

  /** X-SIM8 — IVF+PQ, the FAISS IVFPQ shape: x_sim3's coarse quantizer
    * restricts each query to its 2 nearest cells' members, and x_sim7's
    * PQ/ADC ranks ONLY those. Work per query = |probed cells| × M code
    * lookups; the store holds one cell id + M byte codes per vector.
    */
  private val sim8 = Probe(
    "x_sim8_ivfpq",
    s"""WITH $coarseDuck,
       |${probesDuck("ad")},
       |$pqCodesDuck,
       |$pqLutDuck,
       |${candDuck("assign")},
       |adc AS (
       |  SELECT cand.q_id, cand.c_id, SUM(lut.pd2) AS adc_d2
       |  FROM cand JOIN code ON code.vec_id = cand.c_id
       |       JOIN lut ON lut.q_id = cand.q_id AND lut.s = code.s AND lut.c_id = code.code
       |  GROUP BY cand.q_id, cand.c_id),
       |$adcTopKDuck""".stripMargin) { (s, dir) =>
    ivfPqTopK(Tables(s, dir, "embeddings")).orderBy("q_id", "rnk")
  }

  /** X-SIM9 — INCREMENTAL IVF: the index trains on the even half (seeds =
    * its 8 smallest vec_ids, one Lloyd step), the odd half APPENDS against
    * the stored centroids without a retrain or base rescan, and the top-5
    * query over the combined index must hash-match the oracle's
    * recomputation — base-trained quantizer, union assigned against it,
    * x_sim4's candidate/score/rank algebra.
    */
  private val sim9 = Probe(
    "x_sim9_ivf_incremental",
    s"""WITH $ivDoubleDuck,
       |cent0 AS (
       |  SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id % 2 = 0
       |  ORDER BY vec_id LIMIT 8),
       |${adDuck("ad0", "cent0", " WHERE iv.vec_id % 2 = 0")},
       |${assignDuck("assign0", "ad0")},
       |$trainedTopKDuck""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    // train + append are the once-per-release/once-per-shard artifact
    // path (TrainOnce); steady-state times the QUERY through the
    // appended index — the per-job production cost
    val idxDir = graft.util.TrainOnce(s"ivf_inc:$dir") {
      val p = graft.util.TempDirs.scratch("graft_ivf_inc")
      save(train(emb.filter(col("vec_id") % 2 === 0)), p)
      append(s, p, emb.filter(col("vec_id") % 2 =!= 0))
      p
    }
    query(load(s, idxDir), emb.filter(col("vec_id") < nQueries), k = 5)
      .orderBy("q_id", "rnk")
  }

  /** X-DED19 — SemDeDup-shaped semantic dedup ([[semDedup]]): embeddings
    * are assigned to x_sim3's IVF cells, and WITHIN each cell any vector
    * whose cosine to a lower-id CANDIDATE cell-mate reaches tau is dropped.
    * Candidates are the cell's `semCap` lowest-id members (its "heads"): an
    * uncapped within-cell self-join is quadratic in cell size when one
    * mega-cell forms (8 fixed centroids = a skewable key). Ranking heads
    * by id keeps the capped verdict deterministic and oracle-expressible,
    * and identical vectors share a cell whose minimum id is always a head,
    * so every clone of a storm still finds its witness. Per-cell cost is
    * |cell| × semCap; the head table is a broadcast.
    *
    * Output: every vector with its cell, the (capped) count of lower-id
    * in-cell near-neighbor candidates, and the keep verdict.
    */
  private val ded19 = Probe(
    "x_ded19_semdedup",
    s"""WITH $coarseDuck,
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

  val all: Seq[Probe] = Seq(sim1, sim2, sim3, sim4, sim5, sim6, sim7, sim8, sim9, ded19)
}

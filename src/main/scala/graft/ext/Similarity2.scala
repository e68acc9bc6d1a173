package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.sq_dist

/** Product quantization — the remaining tier of the similarity family:
  * brute force (x_sim1) → JL projection (x_sim6) → int8 scalar quantization
  * (x_sim5) → PQ (here) → IVF cells (x_sim3/4) → 1-bit LSH (x_ded13).
  *
  * PQ splits each vector into M subvectors and replaces each with the id of
  * its nearest subspace centroid: a 64-dim vector becomes M=4 single-byte
  * codes (64x compression), and distances are computed ASYMMETRICALLY
  * (uncompressed query vs per-subspace centroid lookup) so queries lose no
  * precision of their own. Everything here is exact integer arithmetic —
  * floor-mean Lloyd training per subspace (the x_sim4 discipline), integer
  * L2 — so training, encoding, and the ADC scores all hash-match DuckDB.
  */
object Similarity2 {

  private val m = 4 // subvectors
  private val subDim = 16 // dims per subvector (m * subDim = 64)
  private val k = 8 // centroids per subspace (seed = first k vectors)

  /** X-SIM7 — PQ + ADC top-5: per query (vec_id < 5), candidates ranked by
    * the asymmetric PQ distance, with the EXACT full-precision L2 surfaced
    * next to the quantized one so the compression error is visible in the
    * checked output (the x_sim5 presentation discipline).
    *
    * Scale shape: codebooks are m*k tiny rows (broadcast); encoding is a
    * narrow per-row nearest-centroid fold; the candidate store holds M
    * byte-codes per vector (64x smaller resident set — the difference
    * between an in-memory ANN store and a spilling one at 100 TB); ADC
    * scores come from a (query, subspace-code) lookup-table join, never
    * from touching raw candidate vectors.
    */
  private val sim7 = Probe(
    "x_sim7_pq_adc",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, s, v[((s-1)*$subDim+1):(s*$subDim)] AS sv
       |  FROM iv, UNNEST(generate_series(1, $m)) AS t(s)),
       |cent0 AS (SELECT s, vec_id AS c_id, sv AS cv FROM sub WHERE vec_id < $k),
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
       |       UNNEST(generate_series(1, $subDim)) AS t(i)
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
       |  WHERE rn = 1),
       |-- ADC lookup table: per (query, subspace, centroid) partial distance
       |lut AS (
       |  SELECT q.vec_id AS q_id, cent1.s, cent1.c_id,
       |         list_sum(list_transform(list_zip(q.sv, cent1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS pd2
       |  FROM sub q JOIN cent1 ON cent1.s = q.s
       |  WHERE q.vec_id < 5),
       |adc AS (
       |  SELECT lut.q_id, code.vec_id AS c_id, SUM(lut.pd2) AS adc_d2
       |  FROM code JOIN lut ON lut.s = code.s AND lut.c_id = code.code
       |  WHERE code.vec_id <> lut.q_id
       |  GROUP BY lut.q_id, code.vec_id),
       |exact AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |         list_sum(list_transform(list_zip(a.v, b.v), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv a JOIN iv b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |r AS (
       |  SELECT adc.q_id, adc.c_id, adc.adc_d2, exact.d2,
       |         row_number() OVER (PARTITION BY adc.q_id ORDER BY adc.adc_d2, adc.c_id) AS rnk
       |  FROM adc JOIN exact ON exact.q_id = adc.q_id AND exact.c_id = adc.c_id)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
       |       CAST(adc_d2 AS BIGINT) AS adc_d2, CAST(d2 AS BIGINT) AS d2_exact
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    pqTopK(Tables(s, dir, "embeddings")).orderBy("q_id", "rnk")
  }

  /** The PQ + ADC operator behind x_sim7. */
  def pqTopK(embeddings: DataFrame): DataFrame = {
    val iv = embeddings.select(col("vec_id"), expr(Similarity.intVec).as("v"))
    val sub = iv.select(col("vec_id"), explode(expr(
        s"transform(sequence(1, $m), s -> struct(s AS s, slice(v, (s-1)*$subDim+1, $subDim) AS sv))"))
        .as("t"))
      .select(col("vec_id"), col("t.s").as("s"), col("t.sv").as("sv"))

    val wA = Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d2"), col("c_id"))

    val cent0 = sub.filter(col("vec_id") < k)
      .select(col("s").as("cs"), col("vec_id").as("c_id"), col("sv").as("cv"))
    val assign0 = sub.join(broadcast(cent0), col("s") === col("cs"))
      .withColumn("d2", sq_dist(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("c_id").as("cell"))

    // one Lloyd step per subspace: exact floor-means per dimension
    val cent1 = assign0.join(sub, Seq("vec_id", "s"))
      .select(col("s"), col("cell"), posexplode(col("sv")))
      .groupBy(col("s"), col("cell"), col("pos"))
      .agg(expr("CAST(CAST(SUM(col) AS BIGINT) DIV COUNT(*) AS DOUBLE)").as("mv"))
      .groupBy(col("s"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)").as("cv"))
      .select(col("s").as("cs"), col("cell").as("c_id"), col("cv"))

    val code = sub.join(broadcast(cent1), col("s") === col("cs"))
      .withColumn("d2", sq_dist(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("c_id").as("code"))

    // ADC lookup table: 5 queries x m subspaces x k centroids = 160 rows
    val lut = broadcast(
      sub.filter(col("vec_id") < 5)
        .join(broadcast(cent1), col("s") === col("cs"))
        .withColumn("pd2", sq_dist(col("sv"), col("cv")))
        .select(col("vec_id").as("q_id"), col("s").as("ls"),
          col("c_id").as("lc"), col("pd2")))
    val adc = code
      .join(lut, col("s") === col("ls") && col("code") === col("lc") &&
        col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("pd2")).as("adc_d2"))

    val q = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = iv.select(col("vec_id").as("c_id"), col("v").as("cv2"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    adc
      .join(broadcast(q), "q_id")
      .join(exact, "c_id")
      .withColumn("d2_exact", sq_dist(col("qv"), col("cv2")))
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"),
        col("adc_d2").cast("long").as("adc_d2"), col("d2_exact").cast("long").as("d2_exact"))
  }

  /** X-SIM8 — IVF+PQ, the production ANN composition (the FAISS IVFPQ
    * shape): a coarse quantizer (x_sim3's — centroids = first 8 vectors,
    * exact integer L2) restricts each query to its 2 nearest cells'
    * members, and PQ/ADC (x_sim7's codebooks + lookup table) ranks ONLY
    * those candidates. Work per query = |probed cells| × M code lookups;
    * the store holds one cell id + M byte codes per vector. Exact L2
    * surfaced beside ADC as everywhere in this family.
    */
  private val sim8 = Probe(
    "x_sim8_ivfpq",
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
       |probes AS (
       |  SELECT vec_id AS q_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
       |    FROM ad WHERE vec_id < 5)
       |  WHERE rn <= 2),
       |sub AS (
       |  SELECT vec_id, s, v[((s-1)*$subDim+1):(s*$subDim)] AS sv
       |  FROM iv, UNNEST(generate_series(1, $m)) AS t(s)),
       |cent0 AS (SELECT s, vec_id AS c_id, sv AS cv FROM sub WHERE vec_id < $k),
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
       |       UNNEST(generate_series(1, $subDim)) AS t(i)
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
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS q_id, cent1.s, cent1.c_id,
       |         list_sum(list_transform(list_zip(q.sv, cent1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS pd2
       |  FROM sub q JOIN cent1 ON cent1.s = q.s
       |  WHERE q.vec_id < 5),
       |cand AS (
       |  SELECT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |adc AS (
       |  SELECT cand.q_id, cand.c_id, SUM(lut.pd2) AS adc_d2
       |  FROM cand JOIN code ON code.vec_id = cand.c_id
       |       JOIN lut ON lut.q_id = cand.q_id AND lut.s = code.s AND lut.c_id = code.code
       |  GROUP BY cand.q_id, cand.c_id),
       |exact AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |         list_sum(list_transform(list_zip(a.v, b.v), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv a JOIN iv b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |r AS (
       |  SELECT adc.q_id, adc.c_id, adc.adc_d2, exact.d2,
       |         row_number() OVER (PARTITION BY adc.q_id ORDER BY adc.adc_d2, adc.c_id) AS rnk
       |  FROM adc JOIN exact ON exact.q_id = adc.q_id AND exact.c_id = adc.c_id)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id,
       |       CAST(adc_d2 AS BIGINT) AS adc_d2, CAST(d2 AS BIGINT) AS d2_exact
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    ivfPqTopK(Tables(s, dir, "embeddings")).orderBy("q_id", "rnk")
  }

  /** The IVF+PQ operator behind x_sim8. */
  def ivfPqTopK(embeddings: DataFrame): DataFrame = {
    val iv = embeddings.select(col("vec_id"), expr(Similarity.intVec).as("v"))

    // coarse quantizer: x_sim3's assignment + 2-cell probes
    val cent = iv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cc_id"), col("v").as("ccv"))
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("d2c"), col("cc_id"))
    val ad = iv.crossJoin(broadcast(cent))
      .withColumn("d2c", sq_dist(col("v"), col("ccv")))
    val assign = ad.withColumn("rn", row_number().over(wCell)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cc_id").as("cell"))
    val probes = ad.filter(col("vec_id") < 5)
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("cc_id").as("cell"))

    // PQ codebooks + codes + query lookup table: x_sim7's machinery
    val sub = iv.select(col("vec_id"), explode(expr(
        s"transform(sequence(1, $m), s -> struct(s AS s, slice(v, (s-1)*$subDim+1, $subDim) AS sv))"))
        .as("t"))
      .select(col("vec_id"), col("t.s").as("s"), col("t.sv").as("sv"))
    val wA = Window.partitionBy(col("vec_id"), col("s")).orderBy(col("d2"), col("c_id"))
    val cent0 = sub.filter(col("vec_id") < k)
      .select(col("s").as("cs"), col("vec_id").as("c_id"), col("sv").as("cv"))
    val assign0 = sub.join(broadcast(cent0), col("s") === col("cs"))
      .withColumn("d2", sq_dist(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("c_id").as("pcell"))
    val cent1 = assign0.join(sub, Seq("vec_id", "s"))
      .select(col("s"), col("pcell"), posexplode(col("sv")))
      .groupBy(col("s"), col("pcell"), col("pos"))
      .agg(expr("CAST(CAST(SUM(col) AS BIGINT) DIV COUNT(*) AS DOUBLE)").as("mv"))
      .groupBy(col("s"), col("pcell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)").as("cv"))
      .select(col("s").as("cs"), col("pcell").as("c_id"), col("cv"))
    val code = sub.join(broadcast(cent1), col("s") === col("cs"))
      .withColumn("d2", sq_dist(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("c_id").as("code"))
    val lut = broadcast(
      sub.filter(col("vec_id") < 5)
        .join(broadcast(cent1), col("s") === col("cs"))
        .withColumn("pd2", sq_dist(col("sv"), col("cv")))
        .select(col("vec_id").as("lq_id"), col("s").as("ls"),
          col("c_id").as("lc"), col("pd2")))

    // candidates bounded by probed cells; ADC only on those
    val cand = probes.join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"))
    val adc = cand
      .join(code, col("c_id") === code("vec_id"))
      .join(lut, col("lq_id") === col("q_id") &&
        col("ls") === col("s") && col("lc") === col("code"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("pd2")).as("adc_d2"))

    val q = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = iv.select(col("vec_id").as("c_id"), col("v").as("cv2"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    adc
      .join(broadcast(q), "q_id")
      .join(exact, "c_id")
      .withColumn("d2_exact", sq_dist(col("qv"), col("cv2")))
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"),
        col("adc_d2").cast("long").as("adc_d2"), col("d2_exact").cast("long").as("d2_exact"))
  }

  val all: Seq[Probe] = Seq(sim7, sim8)
}

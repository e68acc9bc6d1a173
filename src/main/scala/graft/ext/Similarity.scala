package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.{dot_d, sq_dist}

/** Approximate-nearest-neighbor / similarity search over the embeddings
  * table (`embedding: Array[Float]`, 64-dim).
  *
  * Numeric portability: raw float dot products are NOT bit-portable across
  * engines (summation order), so vectors are quantized to exact integers
  * (floor(x * 1e6), lossless in doubles up to 2^53). Integer dot products
  * and norms are then order-independent and exact; the final cosine is a
  * single IEEE divide/sqrt on identical inputs → identical bits everywhere.
  *
  * Scale path: brute-force is the correctness baseline (queries broadcast
  * against the corpus — linear scan, no shuffle of the corpus). The
  * LSH-bucketed variant (x_sim2) hashes vectors into sign-random-projection
  * buckets and only scores within a bucket — the 100 TB shape where the
  * corpus never pairs with itself globally.
  */
object Similarity {

  // elements CAST to DOUBLE: Spark floor() yields BIGINT, and dot_d reads
  // ArrayData as doubles (values stay exact integers <= 2^53 either way)
  /** Shared exact-integer quantizer for all vector operators. */
  val intVec: String =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS DOUBLE))"

  /** X-SIM1 — brute-force cosine top-10 for query vectors (vec_id < 5). */
  private val sim1 = Probe(
    "x_sim1_cosine_topk",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
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
    import org.apache.spark.sql.expressions.Window
    val iv = Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(intVec).as("v"))
      .withColumn("n2", dot_d(col("v"), col("v")))
    val q = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val c = iv.select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", dot_d(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("c_id"), round(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** X-SIM2 — LSH-bucketed similarity join: 8-bit sign-random-projection
    * bucket per vector (projection directions derived from md5 of the
    * dimension index — deterministic and engine-portable), then cosine only
    * WITHIN a bucket. Returns per-bucket pair counts + strong-match count,
    * demonstrating the bounded-shuffle candidate generation.
    */
  private val sim2 = Probe(
    "x_sim2_lsh_buckets",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
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
    val iv = Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(intVec).as("v"))
    val dots = iv
      .select(col("vec_id"), col("v"), explode(expr("sequence(1, 8)")).as("bb"))
      .select(col("vec_id"), col("bb"), col("v"), explode(expr("sequence(1, 64)")).as("i"))
      .withColumn("sgn", expr(
        """CASE WHEN substr(md5(concat(cast(bb AS STRING), '_', cast(i AS STRING))),
          |               cast(1 + (i * 7 + bb * 13) % 32 AS INT), 1)
          |          IN ('8','9','a','b','c','d','e','f')
          |     THEN element_at(v, cast(i AS INT))
          |     ELSE -element_at(v, cast(i AS INT)) END""".stripMargin))
      .groupBy("vec_id", "bb").agg(sum(col("sgn")).as("dot"))
    dots
      .groupBy("vec_id")
      .agg(sum(when(col("dot") > 0, pow(lit(2), col("bb") - 1)).otherwise(0))
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")
  }

  /** X-SIM3 — IVF-style ANN: a deterministic coarse quantizer (centroids =
    * the first 8 vectors) partitions the corpus into cells by exact integer
    * L2 distance; queries probe only their 2 nearest cells and rank by
    * cosine within them. This is the inverted-file scale shape: candidate
    * scoring is bounded by cell size, and cell assignment is a narrow
    * per-row computation against broadcast centroids.
    */
  private val sim3 = Probe(
    "x_sim3_ivf_topk",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id < 8),
       |-- exact integer L2 distance to every centroid
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
       |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM iv),
       |cand AS (
       |  SELECT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |scored AS (
       |  SELECT c.q_id, c.c_id,
       |         list_sum(list_transform(list_zip(q.v, x.v), z -> z[1]*z[2])) / sqrt(q.n2 * x.n2) AS cos
       |  FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n x ON x.vec_id = c.c_id),
       |r AS (SELECT q_id, c_id, cos,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       |      FROM scored)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(cos, 6) AS score
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val iv = Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(intVec).as("v"))
    val cent = iv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val ad = iv.crossJoin(broadcast(cent))
      .withColumn("d2", sq_dist(col("v"), col("cv")))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_id"))
    val assign = ad
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val probes = ad.filter(col("vec_id") < 5)
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val n = iv.withColumn("n2", dot_d(col("v"), col("v")))
    val cand = probes.join(assign, Seq("cell")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val q = n.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val x = n.select(col("vec_id").as("cand_id"), col("v").as("xv"), col("n2").as("xn2"))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    cand.join(broadcast(q), "q_id").join(x, "cand_id")
      .withColumn("cos", dot_d(col("qv"), col("xv")) / sqrt(col("qn2") * col("xn2")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id").as("c_id"), round(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** X-SIM4 — IVF with a TRAINED coarse quantizer: one exact-integer Lloyd
    * iteration (seed centroids = first 8 vectors; updated centroid = per-
    * dimension floor-mean of the assigned vectors), then the same 2-cell
    * probe search as x_sim3. Floor-means keep the training deterministic
    * and bit-portable, so even the learned quantizer is oracle-checkable.
    */
  private val sim4 = Probe(
    "x_sim4_ivf_trained",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id < 8),
       |ad0 AS (
       |  SELECT iv.vec_id, cent0.c_id,
       |         list_sum(list_transform(list_zip(iv.v, cent0.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv, cent0),
       |assign0 AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM ad0)
       |  WHERE rn = 1),
       |-- one Lloyd step: per-dimension floor-mean of each cell's members
       |dims AS (
       |  SELECT a.cell, t.i, CAST(CAST(SUM(iv.v[t.i]) AS BIGINT) // COUNT(*) AS DOUBLE) AS m
       |  FROM assign0 a JOIN iv ON iv.vec_id = a.vec_id,
       |       UNNEST(generate_series(1, 64)) AS t(i)
       |  GROUP BY a.cell, t.i),
       |cent1 AS (SELECT cell AS c_id, list(m ORDER BY i) AS cv FROM dims GROUP BY cell),
       |ad1 AS (
       |  SELECT iv.vec_id, cent1.c_id,
       |         list_sum(list_transform(list_zip(iv.v, cent1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv, cent1),
       |assign1 AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM ad1)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
       |    FROM ad1 WHERE vec_id < 5)
       |  WHERE rn <= 2),
       |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS n2 FROM iv),
       |cand AS (
       |  SELECT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assign1 a ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |scored AS (
       |  SELECT c.q_id, c.c_id,
       |         list_sum(list_transform(list_zip(q.v, x.v), z -> z[1]*z[2])) / sqrt(q.n2 * x.n2) AS cos
       |  FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n x ON x.vec_id = c.c_id),
       |r AS (SELECT q_id, c_id, cos,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
       |      FROM scored)
       |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, round(cos, 6) AS score
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val iv = Tables(s, dir, "embeddings").select(col("vec_id"), expr(intVec).as("v"))
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_id"))

    def assignTo(cent: org.apache.spark.sql.DataFrame) = iv
      .crossJoin(broadcast(cent))
      .withColumn("d2",
        sq_dist(col("v"), col("cv")))

    val cent0 = iv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val assign0 = assignTo(cent0)
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))

    // one Lloyd step, exact floor-means per dimension
    val cent1 = assign0.join(iv, "vec_id")
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("CAST(CAST(SUM(col) AS BIGINT) DIV COUNT(*) AS DOUBLE)").as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("cv"))
      .select(col("cell").as("c_id"), col("cv"))

    val ad1 = assignTo(cent1)
    val assign1 = ad1.withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val probes = ad1.filter(col("vec_id") < 5)
      .withColumn("rn", row_number().over(wA)).filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))

    val n = iv.withColumn("n2", dot_d(col("v"), col("v")))
    val cand = probes.join(assign1, Seq("cell")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val q = n.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val x = n.select(col("vec_id").as("cand_id"), col("v").as("xv"), col("n2").as("xn2"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    cand.join(broadcast(q), "q_id").join(x, "cand_id")
      .withColumn("cos", dot_d(col("qv"), col("xv")) / sqrt(col("qn2") * col("xn2")))
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("cand_id").as("c_id"), round(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** X-SIM5 — int8 SCALAR-QUANTIZED cosine top-k: each vector compressed
    * 8× (64 × double→int8 per-vector quantization), then the same
    * brute-force top-k over the quantized vectors, surfacing the quantized
    * score NEXT TO the exact score so the compression error is visible in
    * the checked output. Cosine is scale-invariant, so the per-vector
    * scale factor cancels and only the int8 codes participate in scoring —
    * this is the memory-bound ANN regime (a 100 TB embedding store drops
    * to 12.5 TB resident, usually the difference between spilling and not).
    *
    * Quantization is exact-integer end to end: q = (v*127 + m*128) div m
    * − 128 with m = max|v| ≥ 1, numerator always positive, so floor (the
    * DuckDB `//`) and truncating (Spark DIV) division agree — the
    * quantizer itself is oracle-checked, not just the scores.
    */
  private val sim5 = Probe(
    "x_sim5_quantized_topk",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS v
       |  FROM embeddings),
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
    import org.apache.spark.sql.expressions.Window
    val iv = Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr(intVec).as("v"))
      .withColumn("m", greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1.0d)))
      .withColumn("q", expr(
        """transform(v, x -> CAST((CAST(x AS BIGINT) * 127 + CAST(m AS BIGINT) * 128)
          |                       DIV CAST(m AS BIGINT) - 128 AS DOUBLE))""".stripMargin))
      .withColumn("n2", dot_d(col("v"), col("v")))
      .withColumn("n2q", dot_d(col("q"), col("q")))
    val q = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("q").as("qq"),
        col("n2").as("qn2"), col("n2q").as("qn2q"))
    val c = iv.select(col("vec_id").as("c_id"), col("v").as("cv"), col("q").as("cq"),
      col("n2").as("cn2"), col("n2q").as("cn2q"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosq").desc, col("c_id"))
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("cosq", dot_d(col("qq"), col("cq")) / sqrt(col("qn2q") * col("cn2q")))
      .withColumn("cosx", dot_d(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"),
        round(col("cosq"), 6).as("score_q8"), round(col("cosx"), 6).as("score_exact"))
      .orderBy("q_id", "rnk")
  }

  val all: Seq[Probe] = Seq(sim1, sim2, sim3, sim4, sim5)
}

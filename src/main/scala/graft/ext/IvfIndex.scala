package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.{dot_d, sq_dist}

/** Persisted IVF index: the train-once / query-many ANN pattern.
  *
  * At 100 TB you cannot re-train the coarse quantizer per query — the
  * index IS data: centroids and cell assignments are parquet tables built
  * in one pass and reused by every subsequent query job. Queries probe
  * `nProbes` nearest cells, so each query scores |corpus| * nProbes / nCells
  * candidates instead of the full corpus, and the candidate join is a
  * broadcast (queries) against a cell-pruned corpus scan.
  *
  * Same exact-integer arithmetic as x_sim3/x_sim4 (Similarity.intVec
  * quantization, dot_d fused products, floor-mean Lloyd step,
  * (d2, c_id) tiebreaks) — IvfIndexSpec pins query(trained index) equal to
  * the oracle-checked x_sim4_ivf_trained rows.
  */
object IvfIndex {

  /** centroids: (c_id, cv); assignments: (vec_id, cell, v, n2). */
  final case class Handle(centroids: DataFrame, assignments: DataFrame)

  private def withD2(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("d2", sq_dist(col("v"), col("cv")))

  private val byD2 = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_id"))

  /** One pass over `embeddings` (vec_id, embedding): deterministic seed
    * centroids (vec_id < nCentroids), `lloydSteps` exact floor-mean
    * refinements, final cell assignment + cached norms.
    */
  def train(embeddings: DataFrame, nCentroids: Int = 8, lloydSteps: Int = 1): Handle = {
    val iv = embeddings.select(col("vec_id"), expr(Similarity.intVec).as("v"))

    // deterministic seeds = the nCentroids smallest vec_ids PRESENT (a
    // plain `vec_id < n` filter degenerates to an empty index on tables
    // whose ids don't start densely at 0)
    var cent = iv.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    var step = 0
    while (step < lloydSteps) {
      val assign = withD2(iv, cent)
        .withColumn("rn", row_number().over(byD2)).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id").as("cell"))
      cent = assign.join(iv, "vec_id")
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(expr("CAST(CAST(SUM(col) AS BIGINT) DIV COUNT(*) AS DOUBLE)").as("m"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("cv"))
        .select(col("cell").as("c_id"), col("cv"))
      step += 1
    }
    val assignments = withD2(iv, cent)
      .withColumn("rn", row_number().over(byD2)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"), col("v"),
        dot_d(col("v"), col("v")).as("n2"))
    Handle(cent, assignments)
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

  def load(spark: SparkSession, dir: String): Handle = {
    Handle(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments"))
  }

  /** Assign a NEW shard's vectors against the STORED centroids and
    * append them to the on-disk assignments — the incremental regime at
    * the ANN tier (the BandIndex/SegIndex/BloomIndex/KN-LM daily-increment
    * shape): the released corpus's vectors are never re-read, the coarse
    * quantizer is not retrained (IVF's standard production posture — the
    * quantizer drifts only on scheduled retrains), and the appended cell
    * files land inside the existing partition layout so query pruning is
    * unchanged. Appended index ≡ (base centroids, union assigned against
    * them) — which is exactly what the x_sim9 oracle recomputes.
    */
  def append(spark: SparkSession, dir: String, newEmbeddings: DataFrame): Unit = {
    val cent = spark.read.parquet(s"$dir/centroids")
    val iv = newEmbeddings.select(col("vec_id"), expr(Similarity.intVec).as("v"))
    withD2(iv, cent)
      .withColumn("rn", row_number().over(byD2)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"), col("v"),
        dot_d(col("v"), col("v")).as("n2"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** Top-k cosine neighbors for `queries` (vec_id, embedding), probing the
    * `nProbes` nearest cells per query. Self-matches (same vec_id) are
    * excluded.
    */
  def query(h: Handle, queries: DataFrame, k: Int, nProbes: Int = 2): DataFrame = {
    val q0 = queries.select(col("vec_id"), expr(Similarity.intVec).as("v"))
    val probes = withD2(q0, h.centroids)
      .withColumn("rn", row_number().over(byD2)).filter(col("rn") <= nProbes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        dot_d(col("v"), col("v")).as("qn2"), col("c_id").as("cell"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    h.assignments
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumnRenamed("vec_id", "cand_id")
      .withColumn("cos", dot_d(col("qv"), col("v")) / sqrt(col("qn2") * col("n2")))
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("cand_id").as("c_id"),
        round(col("cos"), 6).as("score"))
  }

  /** X-SIM9 — INCREMENTAL IVF: the index trains on the even half (seed
    * centroids = its 8 smallest vec_ids, one exact floor-mean Lloyd
    * step), the odd half APPENDS against the stored centroids without a
    * retrain or base rescan, and the top-5 query over the combined index
    * must hash-match the oracle's recomputation — base-trained
    * quantizer, union assigned against it, x_sim4's candidate/score/rank
    * algebra. Pins that the append path and a from-scratch assignment of
    * the union are the same index.
    */
  private val sim9 = Probe(
    "x_sim9_ivf_incremental",
    s"""WITH iv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS c_id, v AS cv FROM iv WHERE vec_id % 2 = 0
       |  ORDER BY vec_id LIMIT 8),
       |ad0 AS (
       |  SELECT iv.vec_id, cent0.c_id,
       |         list_sum(list_transform(list_zip(iv.v, cent0.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |  FROM iv, cent0 WHERE iv.vec_id % 2 = 0),
       |assign0 AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM ad0)
       |  WHERE rn = 1),
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
    query(load(s, idxDir), emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("q_id", "rnk")
  }

  val all: Seq[Probe] = Seq(sim9)
}

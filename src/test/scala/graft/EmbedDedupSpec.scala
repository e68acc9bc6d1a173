package graft

import org.apache.spark.sql.functions._
import graft.ext.{EmbedDedup, VectorSearch}

/** Banded sign-LSH embedding dedup: precision is absolute (every returned
  * pair is exact-cosine verified), recall is the declared LSH subset of the
  * brute-force pair set, and the literal sign matrix must agree with the
  * engines' md5.
  */
class EmbedDedupSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables(spark, dir, "embeddings")

  test("driver-side sign matrix matches Spark's md5 derivation") {
    // The matrix is computed with java MessageDigest; the oracle recomputes
    // it with DuckDB md5 and x_sim2 established Spark md5 == DuckDB md5.
    // Pin driver == Spark so all three derivations are the same function.
    val viaSpark = spark.sql(
      s"""SELECT bb, i,
         |  CASE WHEN substr(md5(concat(cast(bb AS STRING), '_', cast(i AS STRING))),
         |                   cast(1 + (i * 7 + bb * 13) % 32 AS INT), 1)
         |            IN ('8','9','a','b','c','d','e','f')
         |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
         |FROM (SELECT explode(sequence(1, ${EmbedDedup.planes})) AS bb)
         |LATERAL VIEW explode(sequence(1, ${EmbedDedup.dims})) AS i""".stripMargin)
      .collect().map(r => ((r.getInt(0) - 1) * EmbedDedup.dims + r.getInt(1) - 1, r.getDouble(2)))
      .sortBy(_._1).map(_._2).toSeq
    assert(viaSpark == EmbedDedup.signs)
  }

  test("every returned pair is exact-verified at tau") {
    val tau = 0.35
    val pairs = EmbedDedup.nearDupPairs(emb, tau).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= tau))
  }

  test("pairs are a subset of the brute-force pair set; recall is substantial") {
    graft.GraftExtensions.register(spark)
    val tau = 0.35
    val n = VectorSearch.quantized(emb)
    val a = n.select(col("vec_id").as("a_id"), col("v").as("av"), col("n2").as("an2"))
    val b = n.select(col("vec_id").as("b_id"), col("v").as("bv"), col("n2").as("bn2"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", expr("dot_d(av, bv)") / sqrt(col("an2") * col("bn2")))
      .filter(col("cos") >= tau)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = EmbedDedup.nearDupPairs(emb, tau).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"LSH produced non-pairs: ${lsh -- brute}")
    // 16-bit/4-band recall at tau=0.35 is ~0.4+ in theory; these synthetic
    // clusters sit well above tau so observed recall is far higher. The
    // floor just guards against a silent band-algebra break (recall ~0).
    assert(lsh.size >= brute.size / 4, s"recall collapsed: ${lsh.size}/${brute.size}")
  }

  test("dedupClusters: component labels are transitive and minimal") {
    val clusters = EmbedDedup.dedupClusters(emb, tau = 0.35).collect()
    assert(clusters.nonEmpty)
    val byComp = clusters.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      // the label IS the minimum member id, and every member agrees on size
      assert(members.map(_.getLong(0)).min == comp)
      assert(members.forall(_.getLong(2) == members.length.toLong))
    }
    // resolution is consistent with the pair set: every paired vector is
    // labeled, and both ends of every pair share a component
    val pairs = EmbedDedup.nearDupPairs(emb, 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val label = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) => assert(label(a) == label(b)) }
  }

  test("signature stage is narrow: zero exchanges") {
    val plan = EmbedDedup.signatures(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sign matrix parameterizes: 128-dim matrix matches Spark's md5 derivation") {
    val cfg = graft.ext.EmbedLsh(dims = 128)
    val viaSpark = spark.sql(
      s"""SELECT bb, i,
         |  CASE WHEN substr(md5(concat(cast(bb AS STRING), '_', cast(i AS STRING))),
         |                   cast(1 + (i * 7 + bb * 13) % 32 AS INT), 1)
         |            IN ('8','9','a','b','c','d','e','f')
         |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
         |FROM (SELECT explode(sequence(1, ${cfg.planes})) AS bb)
         |LATERAL VIEW explode(sequence(1, ${cfg.dims})) AS i""".stripMargin)
      .collect().map(r => ((r.getInt(0) - 1) * cfg.dims + r.getInt(1) - 1, r.getDouble(2)))
      .sortBy(_._1).map(_._2).toSeq
    assert(viaSpark == EmbedDedup.signsFor(cfg))
    // geometry validation fires on inconsistent parameters
    intercept[IllegalArgumentException] { graft.ext.EmbedLsh(planes = 16, bands = 3) }
  }

  // ---- adversarial fixtures: the degenerate corpora a real ANN-dedup user
  // hits first (broken-encoder all-zero vectors, template-storm embeddings).
  // Every vector of a storm lands in ONE (band, bval) bucket in every band,
  // so the uncapped candidate join is quadratic in the storm size; the cap
  // must bound it at K·n without disconnecting the storm's cluster.

  private def storm(n: Int, base: Int => Float): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0L until n.toLong).map { k =>
      (k, Array.tabulate(64)(i => base(i) * (k + 1))) // scaled copies: cos = 1
    }.toDF("vec_id", "embedding")
  }

  test("candidate cap bounds a template storm at K*n; uncapped is quadratic") {
    val n = 200
    val df = storm(n, i => math.sin(i + 1).toFloat)
    val k = 8
    val capped = EmbedDedup.candidatePairs(df, cap = k).count()
    val uncapped = EmbedDedup.candidatePairs(df, cap = 0).count()
    assert(uncapped == n.toLong * (n - 1) / 2, s"storm not degenerate: $uncapped")
    assert(capped <= k.toLong * n, s"cap did not bound candidates: $capped")
    assert(capped >= n - k, s"cap overshot — storm chain broken: $capped")
  }

  test("all-zero vectors (broken encoder): capped candidates, no verified pairs") {
    val n = 100
    val df = storm(n, _ => 0.0f)
    val k = 8
    assert(EmbedDedup.candidatePairs(df, cap = 0).count() == n.toLong * (n - 1) / 2)
    assert(EmbedDedup.candidatePairs(df, cap = k).count() <= k.toLong * n)
    // n2 = 0 → cos is null → exact verification drops every pair
    assert(EmbedDedup.nearDupPairs(df, tau = 0.35, maxCandidatesPerVec = k).count() == 0)
  }

  test("capped clusters still merge a storm into ONE component via chained pairs") {
    val n = 60
    val df = storm(n, i => math.cos(i * 3 + 1).toFloat)
    val out = EmbedDedup.dedupClusters(df, tau = 0.35, maxCandidatesPerVec = 4)
      .collect()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L), "not one component")
    assert(out.forall(_.getLong(2) == n.toLong))
  }

  test("cache contract: the pair chain is lazy and caches NOTHING; release is a no-op") {
    spark.catalog.clearCache()
    val (pairs, release) = EmbedDedup.nearDupPairsReleasable(emb, tau = 0.35)
    assert(pairs.count() > 0)
    // fully lazy: no block-manager footprint at all (the round-6 leak is
    // impossible by construction)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).toList.toString)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // the end-to-end cluster chain leaves only connectedComponents'
    // documented final-round cache behind, never the signature fan-out
    spark.catalog.clearCache()
    EmbedDedup.dedupClusters(emb, tau = 0.35).count()
    assert(spark.sparkContext.getPersistentRDDs.size <= 2,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).toList.toString)
    spark.catalog.clearCache()
  }
}

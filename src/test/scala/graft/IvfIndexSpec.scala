package graft

import graft.ext.VectorSearch
import org.apache.spark.sql.functions._

/** Persisted IVF index: train/query must reproduce the oracle-checked
  * x_sim4_ivf_trained rows; save/load must be lossless; the partitioned
  * layout must prune the corpus scan to the probed cells.
  */
class IvfIndexSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("query(trained index) == x_sim4_ivf_trained (oracle-checked) rows") {
    val emb = Tables(spark, dir, "embeddings")
    val h = VectorSearch.train(emb)
    val got = VectorSearch.query(h, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val want = Registry.all.find(_.name == "x_sim4_ivf_trained").get
      .run(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("appended index == union assigned from scratch against base centroids") {
    val emb = Tables(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val shard = emb.filter(col("vec_id") % 2 =!= 0)
    val out = graft.util.TempDirs.scratch("ivf_inc_spec")
    VectorSearch.save(VectorSearch.train(base), out)
    VectorSearch.append(spark, out, shard)
    val appended = VectorSearch.load(spark, out)
    // every vector present exactly once after the append
    val ids = appended.assignments
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == emb.select("vec_id").collect().map(_.getLong(0)).toSet)
    // and query through the appended index matches the oracle-checked probe
    val got = VectorSearch.query(appended, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val want = Registry.all.find(_.name == "x_sim9_ivf_incremental").get
      .run(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("save/load round trip is lossless and cell-pruned at the scan") {
    val emb = Tables(spark, dir, "embeddings")
    val h = VectorSearch.train(emb)
    val out = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    VectorSearch.save(h, out)
    val loaded = VectorSearch.load(spark, out)

    val direct = VectorSearch.query(h, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val viaDisk = VectorSearch.query(loaded, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    assert(viaDisk == direct)

    // the on-disk layout IS the index: filtering one cell shows
    // PartitionFilters pruning at the parquet scan
    val pruned = loaded.assignments.filter(col("cell") === 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"), plan)
  }
}

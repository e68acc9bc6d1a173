package graft

import org.apache.spark.sql.functions._
import graft.ext.{Sampling, TokenLayout}

/** Split and token-budget operators: group coherence, budget maximality,
  * and determinism.
  */
class PipelineOps6Spec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")

  test("splitByGroup: every group lands wholly in one split") {
    val out = Sampling.splitByGroup(docs, col("source"),
      Seq("train", "val", "test"), Seq(80, 90))
    val perGroup = out.groupBy("source")
      .agg(countDistinct(col("split")).as("n")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
  }

  test("splitByGroup: all three splits populated, deterministic across runs") {
    // key on doc_id (500 groups) for the population check: the 20-source
    // fixture legitimately leaves a 10% bucket empty at this group count
    val run1 = Sampling.splitByGroup(docs, col("doc_id"),
      Seq("train", "val", "test"), Seq(80, 90))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val run2 = Sampling.splitByGroup(docs, col("doc_id"),
      Seq("train", "val", "test"), Seq(80, 90))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(run1 == run2)
    assert(run1.values.toSet == Set("train", "val", "test"))
    // ~80/10/10: doc-keyed buckets over 500 ids land near the cuts
    val n = run1.size.toDouble
    assert(run1.values.count(_ == "train") / n > 0.7)
  }

  test("Corpus API forms equal the probe outputs") {
    import graft.api.Corpus
    val viaApi = Corpus(spark, dir).splitByGroup().df
      .select("doc_id", "source", "split").orderBy("doc_id").collect().toSeq
    val viaProbe = SparkEntry.queries("x_smp6_group_split")(spark, dir).collect().toSeq
    assert(viaApi == viaProbe)
    val mixApi = Corpus(spark, dir).takeTokenBudget(2000L).df
      .select("doc_id", "lang", "cum_tok").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val mixProbe = SparkEntry.queries("x_mix3_token_budget")(spark, dir)
      .select("doc_id", "lang", "cum_tok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(mixApi == mixProbe)
  }

  test("splitByGroup: malformed cut-points fail loudly, not mislabel") {
    val d = docs.select(col("doc_id"), col("source"))
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, col("source"), Seq("a", "b", "c"), Seq(90, 80))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, col("source"), Seq("a", "b"), Seq(0))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, col("source"), Seq("a", "b"), Seq(100))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(d, col("source"), Seq("a", "b", "c"), Seq(80, 80))
    }
  }

  test("takeTokenBudget: per-group total within budget, greedy-maximal") {
    val budget = 800L
    val withTok = docs.select(col("doc_id"), col("lang"),
      size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_tok"))
    val kept = TokenLayout.takeTokenBudget(withTok, col("lang"), col("n_tok"), budget)
    val sums = kept.groupBy("lang").agg(sum("n_tok").as("s"), max("cum_tok").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sums.nonEmpty)
    sums.foreach { case (lang, s, m) =>
      assert(s <= budget, s"$lang over budget: $s")
      assert(s == m, s"$lang: running sum drifted from total")
    }
    // maximality: for each lang, the FIRST dropped doc in the md5 order
    // would have pushed the total past the budget.
    val ordered = withTok
      .withColumn("__ord", md5(col("doc_id").cast("string")))
      .collect().map(r => (r.getString(1), r.getString(3), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    ordered.foreach { case (lang, rows) =>
      var cum = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, _, id, tok) =>
        cum += tok
        if (cum <= budget) assert(keptIds.contains(id), s"$lang: $id wrongly dropped")
        else assert(!keptIds.contains(id), s"$lang: $id wrongly kept (cum $cum)")
      }
    }
  }
}

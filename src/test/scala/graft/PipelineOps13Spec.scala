package graft

import org.apache.spark.sql.functions._
import graft.ext.PipelineOps13

/** Gopher repetition signals: hand-computed fixtures per signal, edge
  * docs, the verdict; CCNet perplexity buckets: tercile ordering
  * invariants and the Corpus routes.
  */
class PipelineOps13Spec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("repetition signals: hand-computed top-n-gram shares on 'x y x y x y'") {
    // 2-grams: "x y"×3, "y x"×2 (len 3 each): top2 = 9/15
    // 3-grams: "x y x"×2, "y x y"×2 (len 5): tie → "x y x" wins: 10/20
    // 4-grams: "x y x y"×2, "y x y x"×1 (len 7): 14/21
    // 5-grams: two singletons → dup5 = 0
    val d = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val r = PipelineOps13.repetitionSignals(d).collect()(0)
    assert(r.getAs[Long]("n_segs") == 1L && r.getAs[Long]("dup_seg_ppm") == 0L)
    assert(r.getAs[Long]("top2_ppm") == 600000L)
    assert(r.getAs[Long]("top3_ppm") == 500000L)
    assert(r.getAs[Long]("top4_ppm") == 666666L)
    assert(r.getAs[Long]("dup5_ppm") == 0L)
    assert(r.getAs[Int]("keep") == 0)
  }

  test("repetition signals: pasted segments trip the dup-segment rule") {
    val seg = (1 to 16).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, s"$seg $seg $seg")).toDF("doc_id", "text")
    val r = PipelineOps13.repetitionSignals(d).collect()(0)
    assert(r.getAs[Long]("n_segs") == 3L)
    assert(r.getAs[Long]("dup_seg_ppm") == 666666L) // 2 beyond-first / 3
    assert(r.getAs[Int]("keep") == 0)
    // the signal near-dedup can't see: this page is unique corpus-wide
  }

  test("repetition signals: long distinct prose keeps; short/empty docs keep") {
    val prose = (1 to 80).map(i => s"word$i").mkString(" ")
    val d = Seq((1L, prose), (2L, "hi"), (3L, "")).toDF("doc_id", "text")
    val out = PipelineOps13.repetitionSignals(d)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("keep") == 1)
    assert(out(1L).getAs[Long]("dup5_ppm") == 0L)
    // 1 token: one segment, no n-grams, nothing repeated
    assert(out(2L).getAs[Int]("keep") == 1 && out(2L).getAs[Long]("n_segs") == 1L)
    // empty text: zero everything, keep
    assert(out(3L).getAs[Int]("keep") == 1 && out(3L).getAs[Long]("n_segs") == 0L)
    assert(out.size == 3)
  }

  test("ppxBuckets: tercile ordering invariant and full coverage per language") {
    val docs = Tables(spark, dir, "documents")
    val out = PipelineOps13.ppxBuckets(docs)
    val byLang = out.collect().groupBy(_.getString(1))
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rows) =>
      val by = rows.groupBy(_.getString(3)).view.mapValues(_.map(_.getDouble(2))).toMap
      assert(Set("head", "middle", "tail").subsetOf(by.keySet), s"$lang: ${by.keySet}")
      assert(by("head").max <= by("middle").min, s"$lang head/middle overlap")
      assert(by("middle").max <= by("tail").min, s"$lang middle/tail overlap")
    }
    // scored docs only (>= 2 tokens); none dropped silently otherwise
    val scoreable = docs
      .filter(size(graft.clean.CleanFns.tokens(col("text"))) >= 2).count()
    assert(out.count() == scoreable)
  }

  test("Corpus routes: repetition filter and ppx bucket match the operators") {
    val docs = Tables(spark, dir, "documents").limit(120)
    val keepIds = PipelineOps13.repetitionSignals(docs)
      .filter(col("keep") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val filtered = graft.api.Corpus(docs).filterByRepetition().df
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(filtered == keepIds && filtered.nonEmpty)
    val bucketed = graft.api.Corpus(docs).withPpxBucket().df
    assert(bucketed.count() == docs.count())
    assert(bucketed.columns.contains("bucket"))
  }
}
